package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.text.TextOps

/** Specs for winnowing fingerprint selection (q246), the dynamic-gap
  * session semantics q247's oracle replays, and the contracts of the shared
  * gap-session and state-run builders in [[graft.ops.Sessionize]].
  */
class WinnowSessionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("winnowing guarantee: documents sharing a long token run share a selected hash") {
    // shared run of 10 tokens >> n + w = 3 + 4 → must yield a shared
    // SELECTED fingerprint despite different surrounding text
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"one two three $shared four five six"),
      (2L, s"seven eight $shared nine ten eleven twelve thirteen")
    ).toDF("doc_id", "text")
    val sel = TextOps.winnowedFingerprints(docs, "doc_id", "text")
      .select("doc_id", "sh").collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    assert((sel(1L) & sel(2L)).nonEmpty, "shared run must produce a shared selection")
  }

  test("winnowing density: one selection per window position, ~2/(w+1) of hashes") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val stats = TextOps.winnowedFingerprints(docs, "doc_id", "text")
      .groupBy("doc_id", "n_shingles").agg(count(lit(1)).as("n_sel"))
      .select("n_shingles", "n_sel").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // selections are bounded by full-window count and are at least the
    // theoretical winnowing floor (one selection per disjoint window)
    stats.foreach { case (nsh, nsel) =>
      val windows = nsh - 3
      assert(nsel <= windows, s"more selections than windows: $nsel > $windows")
      assert(nsel >= (windows + 3) / 4, s"below winnowing floor: $nsel of $windows")
    }
    val density = stats.map(_._2).sum.toDouble / stats.map(t => t._1 - 3).sum
    assert(density > 0.25 && density < 0.55, s"density $density vs expected ~0.4")
  }

  test("dynamic-gap sessions: a short-gap event inside a long window must not split") {
    // view at t=0 holds the session open 30 min; a click at t=5 min has a
    // 10-min gap ending t=15; another view at t=20 min is INSIDE the first
    // view's window — lag-based breaks (vs the previous event's end only)
    // would split at t=20 (click end 15 < 20); running-max merge must not
    val base = 1700000000000000L // µs
    val min = 60000000L
    val rows = Seq(
      (1L, base, "view", 1L),
      (1L, base + 5 * min, "click", 2L),
      (1L, base + 20 * min, "view", 3L))
      .toDF("user_id", "ts_us", "event_type", "event_id")
      .withColumn("event_time", timestamp_micros(col("ts_us")))
    val sessions = rows.groupBy(col("user_id"),
        session_window(col("event_time"),
          when(col("event_type") === "click", "10 minutes")
            .otherwise("30 minutes")).as("sw"))
      .agg(count(lit(1)).as("n"))
      .collect()
    assert(sessions.length == 1 && sessions.head.getLong(2) == 3,
      s"one merged session of 3 events expected: ${sessions.mkString}")
  }

  private val gapUs = 1800000000L
  private val t0Us = 1700000000000000L

  test("gap sessions: a gap of exactly 30 min stays in the session, 1 µs more splits it") {
    // raw events carry ts in ns; session_window merges windows
    // [ts, ts + gap) that overlap OR touch, so only a longer gap splits
    val ev = Seq(
      (1L, t0Us, 1.0), (1L, t0Us + gapUs + 1, 2.0),
      (2L, t0Us, 1.0), (2L, t0Us + gapUs, 2.0))
      .toDF("user_id", "ts_us", "value")
      .select(col("user_id"), (col("ts_us") * 1000).as("ts"), col("value"))
    val n = graft.ops.Sessionize.gapSessions(ev).groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(n === Map(1L -> 2L, 2L -> 1L))
  }

  test("gap sessions: end_us is the last event + gap, with counts and sums") {
    val last = t0Us + 25 * 60000000L
    val ev = Seq((7L, t0Us, 1.5), (7L, t0Us + 60000000L, 2.0), (7L, last, 0.25))
      .toDF("user_id", "ts_us", "value")
      .select(col("user_id"), (col("ts_us") * 1000).as("ts"), col("value"))
    val rows = graft.ops.Sessionize.gapSessions(ev)
      .select("user_id", "start_us", "end_us", "n_events", "sum_v_micro")
      .collect().map(_.toSeq)
    assert(rows.toSeq === Seq(Seq(7L, t0Us, last + gapUs, 3L, 3750000L)))
  }

  test("state runs: equal clocks are ordered by event_id") {
    // by (ts, event_id) the types read click, view, view: two runs; in
    // row order (view, click, view) they would be three
    val ev = Seq((1L, 2L, "view", 100L), (1L, 1L, "click", 100L),
        (1L, 3L, "view", 100L))
      .toDF("user_id", "event_id", "event_type", "ts")
    val runIds = graft.ops.Sessionize.stateRuns(ev, "ts")
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("run_id"))
      .toMap
    assert(runIds === Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
  }

  test("state versions: valid_to is the next version's start, NULL for each user's last") {
    val ev = Seq(
        (1L, 1L, "view", 10L), (1L, 2L, "view", 20L), (1L, 3L, "cart", 30L),
        (1L, 4L, "view", 40L), (2L, 5L, "purchase", 15L))
      .toDF("user_id", "event_id", "event_type", "ts_us")
      .select(col("user_id"), col("event_id"), col("event_type"),
        (col("ts_us") * 1000).as("ts"))
    val v = graft.ops.Sessionize.stateVersions(ev)
      .select("user_id", "run_id", "event_type", "valid_from", "valid_to")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long])))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(v === Seq(
      (1L, 1L, "view", 10L, Some(30L)), (1L, 2L, "cart", 30L, Some(40L)),
      (1L, 3L, "view", 40L, None), (2L, 1L, "purchase", 15L, None)))
  }
}
