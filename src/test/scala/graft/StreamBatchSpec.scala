package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Micro-batch decomposition proofs for the split-file sources: the
  * cross-batch contracts (q55/q56/q109 state merge, q137 late drop) are
  * only exercised if the file source really delivers one batch per split
  * file — a silent single-batch combine would void them all while every
  * decomposition-invariant oracle still passed. Asserted here via the
  * data-carrying batch count of the drained query.
  */
class StreamBatchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val d = "/root/testdata/sf0.001"
  private def tmp(tag: String) =
    s"/tmp/graft_test_split_${tag}_${System.nanoTime()}"

  test("median split drives exactly 2 data batches; nothing is late-dropped") {
    val out = StreamAgg.eventsWindowedMultiBatch(spark, d, windowSec = 300L,
      splitDir = tmp("median"), queryName = s"t_mb_${System.nanoTime()}")
    val n = out.count()
    assert(StreamSupport.lastDataBatches === 2,
      "each split file must arrive as its own micro-batch")
    // complete mode + no drops ⇒ row-identical to the single-batch run
    val single = StreamAgg.eventsWindowed(spark, d, windowSec = 300L,
      queryName = s"t_sb_${System.nanoTime()}")
    assert(n === single.count())
  }

  test("streaming HLL registers: 2 batches, final state equals the batch sketch") {
    import org.apache.spark.sql.functions._
    val reg = StreamAgg.eventsHllRegisters(spark, d, splitDir = tmp("hll"),
      queryName = s"t_hll_${System.nanoTime()}")
    assert(StreamSupport.lastDataBatches === 2,
      "register state must merge across two real micro-batches")
    val batch = graft.ops.Sketch.hllRegisters(
      graft.sources.Events.tsToLongNs(
        spark.read.parquet(s"$d/events.parquet"))
        .withColumn("h", expr("(user_id * 48271) % 2147483647")),
      Seq("event_type"), "h")
    val got = reg.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val want = batch.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("streaming DDSketch buckets: 2 batches, merged state equals the " +
      "batch sketch (mergeability is the streamability)") {
    import org.apache.spark.sql.functions._
    val out = StreamAgg.eventsDdsketchBuckets(spark, d,
      splitDir = tmp("dds"), queryName = s"t_dds_${System.nanoTime()}")
    assert(StreamSupport.lastDataBatches === 2,
      "bucket counts must merge across two real micro-batches")
    val batch = graft.sources.Events.tsToLongNs(
        spark.read.parquet(s"$d/events.parquet"))
      .select(col("event_type"),
        expr("cast(floor(value * 1e6 + 0.5) as bigint)").as("v"))
      .where(col("v") > 0)
      .withColumn("b", expr("length(bin(v))"))
      .withColumn("lb", expr(
        """(v div shiftleft(1L, cast(greatest(b - 4, 0) as int)))
          | * shiftleft(1L, cast(greatest(b - 4, 0) as int))"""
          .stripMargin))
      .groupBy("event_type", "b", "lb").agg(count(lit(1)).as("cnt"))
    val got = out.collect().map(r =>
      (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val want = batch.collect().map(r =>
      (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("complete-mode top-k: 2 parity batches, final sink equals the batch answer") {
    import org.apache.spark.sql.functions._
    val out = StreamAgg.eventsTopTypesComplete(spark, d,
      splitDir = tmp("complete"), queryName = s"t_cm_${System.nanoTime()}")
    assert(StreamSupport.lastDataBatches === 2,
      "parity split must arrive as two micro-batches")
    val batch = graft.sources.Events.tsToLongNs(
        spark.read.parquet(s"$d/events.parquet"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * lit(1e6))).as("sum_value_micro"))
      .orderBy(col("n_events").desc, col("event_type")).limit(3)
    // complete mode replaces the sink per batch — the final table must be
    // exactly the batch leaderboard, row-for-row
    assert(out.collect().toSeq == batch.collect().toSeq,
      "final complete-mode emission must equal the batch top-3")
  }

  test("late-replay split drives 3 data batches and rows ARE dropped") {
    import org.apache.spark.sql.functions._
    val out = StreamAgg.eventsWindowedLateDrop(spark, d, windowSec = 300L,
      splitDir = tmp("late"), splitUs = 1705363200000000L,
      queryName = s"t_late_${System.nanoTime()}")
    val late = out.agg(sum("n_events")).first().getLong(0)
    assert(StreamSupport.lastDataBatches === 3)
    // the late replay (odd ids at/below the split) must NOT all survive:
    // fewer events aggregated than the no-drop total
    val ev = graft.sources.Events.tsToLongNs(spark.read
      .parquet(s"$d/events.parquet"))
    val total = ev.count()
    val batch3 = ev
      .where(col("event_id") % 2 === 1 &&
        expr("ts div 1000") <= 1705363200000000L).count()
    assert(late < total, "append output must exclude dropped late rows")
    assert(late <= total - batch3 + 1,
      s"essentially all of the $batch3 late-replay rows must be dropped")
  }

  test("transformWithState: 2 batches, per-key emissions are cumulative and monotone") {
    import org.apache.spark.sql.functions._
    val out = StatefulOps.eventsRunningStatsTws(spark, d,
      splitDir = tmp("tws"), queryName = s"t_tws_${System.nanoTime()}")
    assert(StreamSupport.lastDataBatches === 2)
    val ev = spark.read.parquet(s"$d/events.parquet")
    val bothParities = ev.groupBy("event_type")
      .agg(countDistinct(expr("event_id % 2")).as("p")).where(col("p") === 2)
      .count()
    // a key hit by both batches emits twice; counts strictly grow and the
    // final emission equals the batch-engine total for that key
    val perKey = out.groupBy("event_type")
      .agg(count(lit(1)).as("emissions"), max("n_events").as("final_n"),
        min("n_events").as("first_n"))
    assert(perKey.where(col("emissions") === 2).count() === bothParities)
    assert(perKey.where(col("emissions") === 2 &&
      col("first_n") >= col("final_n")).count() === 0)
    val totals = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
    assert(perKey.join(totals, "event_type")
      .where(col("final_n") =!= col("n")).count() === 0,
      "last emission must carry the full cumulative count")
  }

  test("streaming Granger: 2 batches, final emissions equal the batch " +
      "sums→decide pipeline on the full panel") {
    import org.apache.spark.sql.functions._
    val out = graft.SparkEntry.queries("q344_stream_granger")(spark, d)
      .localCheckpoint(true)
    assert(StreamSupport.lastDataBatches === 2,
      "the time split must arrive as two micro-batches")
    assert(out.count() === 24, "12 pairs x 2 batch emissions")
    // the n=399 (full-prefix) emissions must be row-identical to the
    // batch engine run on the same generated panel — stream ≡ batch
    val gen = spark.read.parquet(
      s"${graft.SparkEntry.genDir}/q344_gen")
    val panel = (1 to 4).map(i =>
      gen.select(lit(s"X$i").as("series"), col("t").as("day"),
        floor(col(s"X$i") * 1000).cast("long").as("v")))
      .reduce(_ unionByName _)
    val batch = graft.metrics.Causal.grangerDecide(
      graft.metrics.Causal.grangerSums(panel), 422L)
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select("cause", "effect", "n", "cyy", "rss_r", "rss_u",
        "f_gain", "granger")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.toSeq.drop(2))
      .toMap
    assert(keyed(out.where(col("n") === 399)) === keyed(batch),
      "final streaming state must reproduce the batch decisions exactly")
  }

  test("stream-stream interval join: 2 batches, sink equals the batch " +
      "interval join, caller's shuffle partitions untouched") {
    import org.apache.spark.sql.functions._
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    assert(before != StreamSupport.streamShufflePartitions.toString,
      "the caller's count must differ from the stream session's")
    val out = StreamJoin.clickPurchaseAttribution(spark, d, tmp("join"),
      queryName = s"t_join_${System.nanoTime()}")
    assert(StreamSupport.lastDataBatches === 2,
      "the time split must arrive as two micro-batches")
    val ev = graft.sources.Events.tsToLongNs(
        spark.read.parquet(s"$d/events.parquet"))
      .select(col("event_type"), col("user_id"), col("event_id"),
        expr("ts div 1000").as("ts_us"))
    val c = ev.where(col("event_type") === "click")
    val p = ev.where(col("event_type") === "purchase")
    val batch = c.as("c").join(p.as("p"),
        col("c.user_id") === col("p.user_id") &&
          col("p.ts_us") >= col("c.ts_us") &&
          col("p.ts_us") <= col("c.ts_us") + 600000000L)
      .select(col("c.user_id"), col("c.event_id"), col("p.event_id"),
        col("c.ts_us"), col("p.ts_us"), col("p.ts_us") - col("c.ts_us"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val got = rows(out)
    assert(got.nonEmpty && got === rows(batch),
      "drained sink must equal the batch interval join")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
  }

  test("stream-static enrichment: sink equals the batch join, caller's " +
      "session conf untouched") {
    import org.apache.spark.sql.functions._
    val caller = spark.newSession()
    caller.conf.set("spark.sql.streaming.schemaInference", "true")
    val keys = Seq("spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.streaming.schemaInference")
    val before = keys.map(caller.conf.getOption)
    val out = StreamEnrich.enrichEvents(caller, d,
      queryName = s"t_enrich_${System.nanoTime()}")
    assert(keys.map(caller.conf.getOption) === before,
      "a stream must not set conf on the caller's session")
    val ev = spark.read.parquet(s"$d/events.parquet")
    val static = ev.groupBy("user_id")
      .agg(sum((col("event_type") === "purchase").cast("long"))
        .as("n_purchases"))
      .withColumn("is_buyer", col("n_purchases") > 0)
    val batch = ev.select("event_id", "user_id", "event_type")
      .join(static, Seq("user_id"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val got = rows(out)
    assert(got.nonEmpty && got === rows(batch),
      "drained sink must equal the batch enrichment join")
  }

  test("concurrent callers on sibling sessions: SCD2 and event enrichment " +
      "each drain to their batch twin, neither caller's conf changes") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    import graft.ops.Sessionize
    val keys = Seq("spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.shuffle.partitions", "spark.sql.streaming.schemaInference")
    val scd2Caller = spark.newSession()
    val enrichCaller = spark.newSession()
    def confOf(s: SparkSession) = keys.map(s.conf.getOption)
    val before = Seq(confOf(scd2Caller), confOf(enrichCaller))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val scd2 = Future(rows(StreamEnrich.enrichPurchasesScd2(scd2Caller, d,
      tmp("scd2"), queryName = s"t_scd2_c_${System.nanoTime()}")))
    val enriched = Future(rows(StreamEnrich.enrichEvents(enrichCaller, d,
      queryName = s"t_enrich_c_${System.nanoTime()}")))
    val (gotScd2, gotEnriched) =
      Await.result(scd2.zip(enriched), 10.minutes)
    assert(Seq(confOf(scd2Caller), confOf(enrichCaller)) === before,
      "a stream must not set conf on the caller's session")
    val ev = graft.sources.Events.tsToLongNs(
      spark.read.parquet(s"$d/events.parquet"))
    assert(gotScd2.nonEmpty &&
      gotScd2 === rows(Sessionize.stateBefore(ev, Sessionize.stateVersions(ev))),
      "drained SCD2 sink must equal the batch purchase/version join")
    val static = ev.groupBy("user_id")
      .agg(sum((col("event_type") === "purchase").cast("long"))
        .as("n_purchases"))
      .withColumn("is_buyer", col("n_purchases") > 0)
    val batch = ev.select("event_id", "user_id", "event_type")
      .join(static, Seq("user_id"))
    assert(gotEnriched.nonEmpty && gotEnriched === rows(batch),
      "drained enrichment sink must equal the batch enrichment join")
  }
}
