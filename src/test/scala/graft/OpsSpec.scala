package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{AsOf, Lagged, Sessionize}
import graft.text.{Dedup, TextOps}
import graft.sim.Similarity

class OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def dfOf[A <: Product : org.apache.spark.sql.Encoder](rows: Seq[A]): DataFrame = {
    spark.createDataset(rows)(implicitly).toDF()
  }

  test("laggedView matches hand-rolled shift semantics") {
    import spark.implicits._
    val df = Seq((1L, 1L, 10.0), (1L, 2L, 20.0), (1L, 3L, 30.0), (1L, 4L, 40.0),
                 (2L, 1L, 5.0), (2L, 2L, 6.0))
      .toDF("g", "t", "v")
    val out = Lagged.laggedView(df, Seq("g"), "t", Seq("v"), 2)
      .orderBy("g", "t").collect()
    // only rows with a full 2-lag frame survive
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 3L), (1L, 4L)))
    val r3 = out(0)
    assert(r3.getDouble(2) == 30.0 && r3.getDouble(3) == 20.0 && r3.getDouble(4) == 10.0)
  }

  test("nearestLagIndexView matches the reference argmin over past " +
      "timestamps (a2.py:162-167), incl. first-index ties and early rows") {
    import spark.implicits._
    val n = 300
    val rnd = new scala.util.Random(7)
    var acc = 0.0
    val times = Array.fill(n) { acc += 0.1 + rnd.nextDouble(); acc }
    val md = (times(n - 1) - times(0)) / (n - 1)
    // the reference's literal semantics: argmin |past - target|, first hit
    def expected(i: Int): Long = {
      val target = times(i) - md
      var best = 0; var bestD = Double.MaxValue
      var j = 0
      while (j < i) {
        val dd = math.abs(times(j) - target)
        if (dd < bestD) { best = j; bestD = dd }
        j += 1
      }
      best.toLong
    }
    val spine = times.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
      .toSeq.toDF("t", "time")
    val got = Lagged.nearestLagIndexView(spine, "t", "time")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n - 1 && !got.contains(0L))
    (1 until n).foreach { i =>
      assert(got(i.toLong) == expected(i), s"row $i")
    }
  }

  test("nearestLagIndexView on a spine with REPEATED timestamps still " +
      "takes np.argmin's first hit (smallest index wins every tie)") {
    import spark.implicits._
    // duplicate-heavy clock: each value repeats 2-4 times, so nearly
    // every backward carry lands inside an equal-timestamp group and
    // many probes sit at an exact backward/forward distance tie
    val rnd = new scala.util.Random(11)
    val times = {
      val b = Array.newBuilder[Double]
      var v = 0.0
      while (b.knownSize < 120) {
        v += 1.0
        (0 until (1 + rnd.nextInt(3))).foreach(_ => b += v)
      }
      b.result().take(120)
    }
    val n = times.length
    val md = (times(n - 1) - times(0)) / (n - 1)
    def expected(i: Int): Long = {
      val target = times(i) - md
      var best = 0; var bestD = Double.MaxValue
      var j = 0
      while (j < i) {
        val dd = math.abs(times(j) - target)
        if (dd < bestD) { best = j; bestD = dd }
        j += 1
      }
      best.toLong
    }
    val spine = times.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
      .toSeq.toDF("t", "time")
    val got = Lagged.nearestLagIndexView(spine, "t", "time")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1 until n).foreach { i =>
      assert(got(i.toLong) == expected(i), s"row $i (ts=${times(i)})")
    }
  }

  test("nearestLagIndicesView: the fused multi-lag pass equals the per-" +
      "lag single calls bitwise (irregular clock, partitioned spine)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = for {
      p <- Seq("a", "b")
      (ts, i) <- {
        var acc = rnd.nextDouble()
        Array.fill(200) { acc += 0.05 + rnd.nextDouble(); acc }.zipWithIndex
      }
    } yield (p, i.toLong, ts)
    val spine = rows.toDF("s", "t", "time")
    val lags = Seq(1, 2, 3, 4)
    val fused = Lagged.nearestLagIndicesView(spine, "t", "time",
        Seq("s"), lags)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    lags.foreach { k =>
      val single = Lagged.nearestLagIndexView(spine, "t", "time",
          Seq("s"), k)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(single.size == 2 * 199)
      single.foreach { case ((s, t), idx) =>
        assert(fused((s, t, k)) == idx, s"($s, $t, lag $k)")
      }
    }
  }

  test("nearestLagPairs: each ordered pair reads the effect at t and both " +
      "series at t's nearest-lag index (brute force, repeated timestamp)") {
    import spark.implicits._
    val times = Seq(0.0, 0.7, 1.1, 2.4, 2.4, 3.0, 4.6, 5.1, 6.9, 7.2, 8.8,
      9.5)
    val n = times.size
    val md = (times(n - 1) - times(0)) / (n - 1)
    // the reference argmin nearestLagIndexView is pinned to above
    def lagIdx(i: Int): Int =
      (0 until i).minBy(j => math.abs(times(j) - (times(i) - md)))
    val series = Seq("X1", "X2", "X3")
    def v(s: Int, t: Int): Long = (s + 1) * 1000L + (t * 37 + s * 11) % 101
    val spine = times.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
      .toDF("t", "time")
    val pan = (for (s <- series.indices; t <- 0 until n)
      yield (series(s), t.toLong, v(s, t))).toDF("series", "t", "v")
    val got = graft.metrics.Causal.nearestLagPairs(
        Lagged.nearestLagIndexView(spine, "t", "time"), pan)
      .as[(String, String, Long, Long, Long)].collect().toSeq.sorted
    val expected = (for {
      i <- 1 until n; e <- series.indices; c <- series.indices if c != e
    } yield (series(c), series(e), v(e, i), v(e, lagIdx(i)),
      v(c, lagIdx(i)))).sorted
    assert(got == expected)
  }

  test("nearestLagIndexView is partition-local with partitionCols") {
    import spark.implicits._
    // two series with different clocks: indices must resolve per-series
    val a = Seq(0.0, 1.0, 2.0, 3.0).zipWithIndex.map { case (ts, i) =>
      ("a", i.toLong, ts) }
    val b = Seq(0.0, 10.0, 20.0, 30.0).zipWithIndex.map { case (ts, i) =>
      ("b", i.toLong, ts) }
    val out = Lagged.nearestLagIndexView((a ++ b).toDF("s", "t", "time"),
        "t", "time", partitionCols = Seq("s"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // both series have meanDiff == one step → lag index is i-1 everywhere
    Seq("a", "b").foreach { s =>
      (1 to 3).foreach(i => assert(out((s, i.toLong)) == i - 1L))
    }
  }

  test("Metrics.scoreAll == confusion + shdXor + shdStructural on random " +
      "distinct edge sets (single-pass panel scorer equivalence)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val names = Vector("X1", "X2", "X3", "X4")
    def randomEdges(gid: Long): Seq[(Long, String, String, Int)] =
      (for {
        s <- names; t <- names; l <- 0 to 2
        if rnd.nextDouble() < 0.25
      } yield (gid, s, t, l)).distinct
    val graphs = (0L until 40L)
    val truth = graphs.flatMap(randomEdges)
      .toDF("graphId", "source", "target", "lag")
    val pred = graphs.flatMap(randomEdges)
      .toDF("graphId", "source", "target", "lag")
    val totals = graphs.map(g => (g, 48L)).toDF("graphId", "total")
    import graft.metrics.Metrics
    val one = Metrics.scoreAll(truth, pred)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5),
          r.getLong(4))).toMap
    val conf = Metrics.confusion(truth, pred, totals)
      .collect().map(r => r.getAs[Long]("graphId") ->
        (r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn")))
      .toMap
    val xor = Metrics.shdXor(truth, pred)
      .collect().map(r => r.getAs[Long]("graphId") ->
        r.getAs[Long]("shd")).toMap
    val struct = Metrics.shdStructural(truth, pred)
      .collect().map(r => r.getAs[Long]("graphId") ->
        r.getAs[Long]("shd_structural")).toMap
    // scoreAll only emits graphs with at least one edge on either side;
    // every such graph must agree with the three reference operators
    assert(one.nonEmpty)
    one.foreach { case (g, (tp, fp, fn, sx, ss)) =>
      val (ctp, cfp, cfn) = conf(g)
      assert((tp, fp, fn) == (ctp, cfp, cfn), s"confusion mismatch g=$g")
      assert(sx == xor(g), s"xor-shd mismatch g=$g")
      assert(ss == struct(g), s"structural-shd mismatch g=$g")
    }
  }

  test("asofBackward matches brute-force nearest-past join") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val left = (1 to 200).map(i => (i % 5L, i.toLong, rnd.nextInt(1000).toLong))
    val right = (1 to 300).map(i => (i % 5L, 1000L + i, rnd.nextInt(1000).toLong, rnd.nextDouble()))
    val l = left.toDF("k", "lid", "ts")
    val r = right.toDF("k", "rid", "ts", "rv")
    val got = AsOf.asofBackward(l, r, Seq("k"), "ts", Seq("rid", "rv"))
      .select("k", "lid", "asof_rid").as[(Long, Long, Option[Long])].collect().toSet
    val expected = left.map { case (k, lid, ts) =>
      val cands = right.filter(rr => rr._1 == k && rr._3 <= ts)
      val best = if (cands.isEmpty) None
        else Some(cands.maxBy(rr => (rr._3, rr._2))._2)
      (k, lid, best)
    }.toSet
    assert(got == expected)
  }

  test("asofBackwardTolerance nulls matches beyond the staleness bound, boundary inclusive") {
    import spark.implicits._
    // left at ts 100: match at 90 (age 10 = tol → kept), left at 200:
    // nearest right is 90 (age 110 > tol → nulled), left at 95: exact-age-0
    val l = Seq((1L, 10L, 100L), (1L, 11L, 200L), (1L, 12L, 95L))
      .toDF("k", "lid", "ts")
    val r = Seq((1L, 77L, 90L), (1L, 78L, 95L)).toDF("k", "rid", "ts")
    val out = AsOf.asofBackwardTolerance(l, r, Seq("k"), "ts", Seq("rid"), 10L)
      .select("lid", "asof_rid").as[(Long, Option[Long])].collect().toMap
    assert(out(10L) === Some(78L)) // ts 95, age 5 ≤ 10
    assert(out(11L) === None)      // nearest is 95, age 105 > 10
    assert(out(12L) === Some(78L)) // exact timestamp, age 0
  }

  test("asofBackward carries the matched right ROW whole (no chimera from null value cols)") {
    import spark.implicits._
    val l = Seq((1L, 10L, 100L)).toDF("k", "lid", "ts")
    val r = Seq((1L, 1L, 90L, Option(1.0)), (1L, 2L, 95L, Option.empty[Double]))
      .toDF("k", "rid", "ts", "rv")
    val out = AsOf.asofBackward(l, r, Seq("k"), "ts", Seq("rid", "rv")).collect()(0)
    assert(out.getAs[Long]("asof_rid") == 2L) // the ts=95 row matches...
    assert(out.isNullAt(out.fieldIndex("asof_rv")),
      "matched row's null value must NOT be backfilled from an earlier right row")
  }

  test("asofForward matches brute-force nearest-future join (>= semantics)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val left = (1 to 200).map(i => (i % 5L, i.toLong, rnd.nextInt(1000).toLong))
    val right = (1 to 300).map(i => (i % 5L, 1000L + i, rnd.nextInt(1000).toLong, rnd.nextDouble()))
    val l = left.toDF("k", "lid", "ts")
    val r = right.toDF("k", "rid", "ts", "rv")
    val got = AsOf.asofForward(l, r, Seq("k"), "ts", Seq("rid", "rv"))
      .select("k", "lid", "asof_rid").as[(Long, Long, Option[Long])].collect().toSet
    val expected = left.map { case (k, lid, ts) =>
      val cands = right.filter(rr => rr._1 == k && rr._3 >= ts)
      val best = if (cands.isEmpty) None
        else Some(cands.minBy(rr => (rr._3, rr._2))._2)
      (k, lid, best)
    }.toSet
    assert(got == expected)
  }

  test("asofNearest picks the closer of past/future (reference §2.4-5 semantics)") {
    import spark.implicits._
    val l = Seq((1L, 10L, 100L)).toDF("k", "lid", "ts")
    val r = Seq((1L, 1L, 90L, 1.0), (1L, 2L, 104L, 2.0)).toDF("k", "rid", "ts", "rv")
    val out = AsOf.asofNearest(l, r, Seq("k"), "ts", Seq("rv")).collect()(0)
    assert(out.getAs[Double]("asof_rv") == 2.0) // 104 is closer to 100 than 90
  }

  test("exact dedup finds synthetic duplicate groups") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y"), (4L, "a b c"), (5L, "x y"))
      .toDF("doc_id", "text")
    val groups = Dedup.exactDuplicateGroups(docs, "doc_id", "text")
      .orderBy("canonical_id").collect()
    assert(groups.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 3L), (3L, 2L)))
    assert(Dedup.exactDedup(docs, "doc_id", "text").count() == 2)
    // the two-phase scale variant returns the identical group set
    val scalable = Dedup.exactDuplicateGroupsScalable(docs, "doc_id", "text")
      .orderBy("canonical_id").collect()
    assert(scalable.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 3L), (3L, 2L)))
  }

  test("ngram jaccard: identical docs score 1.0, disjoint docs absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words here entirely now")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.1).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 1L && pairs(0).getLong(1) == 2L)
    assert(pairs(0).getDouble(2) == 1.0)
  }

  test("minhash est_jaccard tracks true jaccard on near-duplicates") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 7) "changed" else s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, numHashes = 16, bands = 4, minEstJaccard = 0.3).collect()
    val p12 = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(p12.isDefined, "near-dup pair must surface through LSH")
    assert(p12.get.getDouble(2) > 0.5)
    assert(!pairs.exists(r => r.getLong(1) == 3L || r.getLong(0) == 3L))
  }

  test("simhash: near-identical docs within small hamming distance") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = base + " extra"
    val docs = Seq((1L, base), (2L, near),
      (3L, (100 to 160).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val sh = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(2L)) <= 3)
    assert(hamming(sh(1L), sh(3L)) > 6)
  }

  test("cosineTopK: exact ranking on constructed vectors") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(vecs, vecs.where(col("vec_id") === 0), "vec_id", "embedding", 2)
      .orderBy("rank").collect()
    assert(top.map(_.getLong(1)).toSeq == Seq(1L, 2L))
  }

  test("lsh ANN recall: top-1 matches brute force on clustered data") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val dim = 16
    // 20 clusters of 10 points each — the near-duplicate regime LSH targets
    val centers = Array.fill(20, dim)(rnd.nextGaussian())
    val vecs = (0L until 200L).map { i =>
      val c = centers((i % 20).toInt)
      (i, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id") < 20)
    val exact = Similarity.cosineTopK(df, queries, "vec_id", "embedding", 1)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toMap
    val approx = Similarity.lshCosineTopK(df, queries, "vec_id", "embedding", dim, 1, nBits = 10)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toMap
    val agree = exact.count { case (q, c) => approx.get(q).contains(c) }
    assert(agree >= 16, s"LSH top-1 recall too low on clustered data: $agree/20")
  }

  test("IVF ANN recall: top-1 matches brute force on clustered data") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val dim = 16
    val centers = Array.fill(16, dim)(rnd.nextGaussian())
    val vecs = (0L until 160L).map { i =>
      val c = centers((i % 16).toInt)
      (i, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id") < 16)
    val exact = Similarity.cosineTopK(df, queries, "vec_id", "embedding", 1)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toMap
    val ivf = Similarity.ivfCosineTopK(df, queries, "vec_id", "embedding", 1,
      nCells = 16, nProbe = 4)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toMap
    val agree = exact.count { case (q, c) => ivf.get(q).contains(c) }
    assert(agree >= 13, s"IVF top-1 recall too low: $agree/16")
  }

  test("sessionize works on frames without an event_id column (custom tie-break)") {
    import spark.implicits._
    val ev = Seq((1L, "a", 0L), (1L, "b", 500L), (1L, "c", 5000000L))
      .toDF("uid", "tag", "ts_us")
    val out = Sessionize.sessionStats(ev, "uid", "ts_us", gapUs = 1000000L,
      tieBreakCol = "tag").orderBy("session_id").collect()
    assert(out.length == 2 && out(0).getAs[Long]("n_events") == 2)
  }

  test("writeParquet partitions by available pruning columns (long view too)") {
    import graft.generate.Generate
    val cfg = graft.core.Grid.forFamily("A1").head.copy(nPoints = 30)
    val rows = Generate.series(spark, Seq(cfg))
    val dir = java.nio.file.Files.createTempDirectory("wp").toString
    Generate.writeParquet(Generate.wide(rows), s"$dir/wide")   // family/nVars/maxLag dirs
    Generate.writeParquet(Generate.long(rows), s"$dir/long")   // family only
    assert(new java.io.File(s"$dir/wide/family=A1").isDirectory)
    assert(new java.io.File(s"$dir/long/family=A1").isDirectory)
    assert(spark.read.parquet(s"$dir/long").count() == 30 * 4)
  }

  test("typed OLS aggregator equals regr_slope") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val pts = (1 to 2000).map { _ =>
      val x = rnd.nextGaussian(); (x, 0.7 * x + 0.1 * rnd.nextGaussian())
    }
    val ds = pts.toDS()
    val typed = ds.select(graft.ops.OlsAggregator.slope.toColumn).collect()(0)
    val sql = ds.toDF("x", "y").agg(expr("regr_slope(y, x)")).collect()(0).getDouble(0)
    assert(math.abs(typed - sql) < 1e-9)
    assert(math.abs(typed - 0.7) < 0.02)
    // grouped usage
    val grouped = pts.zipWithIndex.map { case ((x, y), i) => (i % 2L, x, y) }.toDS()
    val byKey = grouped.groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(graft.ops.OlsAggregator.slope.toColumn)
      .collect().toMap
    assert(byKey.values.forall(s => math.abs(s - 0.7) < 0.05))
  }

  test("confusion counts keep graphs with empty truth and prediction") {
    import spark.implicits._
    val truth = Seq(("g1", "X1", "X2", 0)).toDF("graphId", "source", "target", "lag")
    val pred = Seq(("g1", "X1", "X2", 0)).toDF("graphId", "source", "target", "lag")
    val totals = Seq(("g1", 12), ("g2", 12)).toDF("graphId", "total")
    val conf = graft.metrics.Metrics.confusion(truth, pred, totals)
      .collect().map(r => r.getAs[String]("graphId") ->
        (r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn"), r.getAs[Long]("tn"))).toMap
    assert(conf("g1") == (1L, 0L, 0L, 11L))
    assert(conf("g2") == (0L, 0L, 0L, 12L)) // empty graph must not vanish
  }

  test("salted join equals plain join under synthetic skew") {
    import spark.implicits._
    // hot key 1L carries 10k rows; dim has 5 keys
    val large = ((1 to 10000).map(i => (1L, i.toLong)) ++
      (1 to 500).map(i => ((i % 5 + 1).toLong, i.toLong))).toDF("k", "v")
    val small = (1L to 5L).map(k => (k, s"dim$k")).toDF("k", "name")
    val plain = large.join(small, Seq("k")).groupBy("k", "name")
      .agg(count(lit(1)).as("n"), sum("v").as("s")).collect().toSet
    val salted = graft.ops.Salted.saltedJoin(large, small, "k", saltFactor = 8)
      .groupBy("k", "name").agg(count(lit(1)).as("n"), sum("v").as("s")).collect().toSet
    assert(salted == plain)
  }

  test("quantiles: approx_percentile tracks exact percentile (the 100 TB pairing)") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val r = li.agg(
      expr("percentile(l_extendedprice, 0.95)").as("exact"),
      expr("approx_percentile(l_extendedprice, 0.95, 10000)").as("approx"))
      .collect()(0)
    val exact = r.getDouble(0); val approx = r.getDouble(1)
    assert(math.abs(approx - exact) / exact < 0.01,
      s"approx_percentile drifted: exact=$exact approx=$approx")
  }

  test("salted join and bucketed distinct count equal their plain formulations") {
    import spark.implicits._
    import graft.ops.Salted
    val rnd = new scala.util.Random(23)
    // heavily skewed: 80% of rows on key 1
    val large = (1 to 2000).map(i =>
      (if (rnd.nextDouble() < 0.8) 1L else rnd.nextInt(50).toLong, rnd.nextInt(300).toLong))
      .toDF("k", "v")
    val small = (0L until 50L).map(k => (k, k * 10)).toDF("k", "attr")
    val plainJoin = large.join(small, Seq("k")).groupBy("k")
      .agg(count(lit(1)).as("n"), sum("attr").as("s"))
      .as[(Long, Long, Long)].collect().toSet
    val salted = Salted.saltedJoin(large, small, "k", 8).groupBy("k")
      .agg(count(lit(1)).as("n"), sum("attr").as("s"))
      .as[(Long, Long, Long)].collect().toSet
    assert(salted == plainJoin)
    val plainDistinct = large.groupBy("k").agg(countDistinct("v").as("n_distinct"))
      .as[(Long, Long)].collect().toSet
    val bucketed = Salted.bucketedDistinctCount(large, Seq("k"), "v", 8)
      .as[(Long, Long)].collect().toSet
    assert(bucketed == plainDistinct)
  }

  test("two-phase scalable exact dedup equals direct text-groupBy dedup") {
    import spark.implicits._
    val docs = ((1 to 50).map(i => (i.toLong, s"unique doc $i")) ++
      Seq((100L, "dup a"), (101L, "dup a"), (102L, "dup a"), (200L, "dup b"), (201L, "dup b")))
      .toDF("doc_id", "text")
    val direct = graft.text.Dedup.exactDuplicateGroups(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    val scalable = graft.text.Dedup.exactDuplicateGroupsScalable(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(scalable == direct && direct == Set((100L, 3L), (200L, 2L)))
  }

  test("sessionize: gap splits sessions, durations in integer us") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, 0L), (1L, 2L, 1000L), (1L, 3L, 5000000L),
      (2L, 4L, 0L)).toDF("user_id", "event_id", "ts_us")
    val out = Sessionize.sessionStats(ev, "user_id", "ts_us", gapUs = 1000000L)
      .orderBy("user_id", "session_id").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("n_events") == 2 && out(0).getAs[Long]("duration_us") == 1000L)
    assert(out(1).getAs[Long]("n_events") == 1)
  }

  test("stateful streaming sessionization matches batch sessionize on closed sessions") {
    import spark.implicits._
    val streamed = graft.streaming.StreamSession.sessionizeEvents(
      spark, "/root/testdata/sf0.001", gapUs = 1800L * 1000000L,
      queryName = s"ops_sess_${System.nanoTime()}")
      .collect().map(s => (s.user_id, s.start_us, s.end_us, s.n_events)).toSet
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = Sessionize.sessionStats(
      graft.sources.Events.tsToLongNs(
          spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
        .withColumn("ts_us", expr("ts div 1000")).select("user_id", "event_id", "ts_us"),
      "user_id", "ts_us", gapUs = 1800L * 1000000L)
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect()
      .map(t => (t._1, t._2, t._3, t._4.toInt)).toSet
    // finality: the streamed set must EQUAL the batch sessions the final
    // watermark (max event time − 1h) sealed — nothing more, nothing less
    val maxTs = graft.sources.Events.tsToLongNs(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .agg(max(expr("ts div 1000"))).collect()(0).getLong(0)
    val wmUs = (maxTs / 1000 - 3600000L) * 1000L
    val sealedSet = batch.filter(t => t._3 + 1800L * 1000000L < wmUs)
    assert(streamed.nonEmpty)
    assert(streamed == sealedSet,
      s"streamed != sealed batch sessions; extra=${streamed.diff(sealedSet).take(3)} " +
        s"missing=${sealedSet.diff(streamed).take(3)}")
  }

  test("streaming session update: finality — runs held until the watermark seals them") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    import graft.streaming.StreamSession.{Ev, OpenSession, OpenSessions, update}
    val gap = 1000000L
    def ev(ts: Long) = Ev(1L, ts, 1.0, new java.sql.Timestamp(ts / 1000))
    def st(s: Option[OpenSessions], wmMs: Long = 0L) =
      TestGroupState.create[OpenSessions](
        s.map(Optional.of[OpenSessions]).getOrElse(Optional.empty[OpenSessions]()),
        GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(wmMs), false)
    // batch 1: one event opens a session; nothing is final at watermark 0
    val s1 = st(None)
    val out1 = update(gap)(1L, Iterator(ev(10000000L)), s1).toSeq
    assert(out1.isEmpty &&
      s1.get == OpenSessions(List(OpenSession(10000000L, 10000000L, 1, 1000000L))))
    // batch 2: stragglers far before the open session form their OWN run and
    // are HELD, not emitted — the r2 advisory race: a later within-watermark
    // event in the gap after them could still have to merge (batch semantics)
    val s2 = st(Some(s1.get))
    val out2 = update(gap)(1L, Iterator(ev(1000L), ev(2000L)), s2).toSeq
    assert(out2.isEmpty, s"straggler run must be held for the watermark, got $out2")
    assert(s2.get == OpenSessions(List(OpenSession(1000L, 2000L, 2, 2000000L),
      OpenSession(10000000L, 10000000L, 1, 1000000L))))
    // batch 3: a bridge event brings the straggler run within gap of the open
    // session — interval merge collapses ALL into one state session
    val s3 = st(Some(OpenSessions(List(OpenSession(8950000L, 8950000L, 1, 1000000L),
      OpenSession(10000000L, 10000000L, 1, 1000000L)))))
    val out3 = update(gap)(1L, Iterator(ev(9500000L)), s3).toSeq
    assert(out3.isEmpty, s"bridged runs must stay open, got $out3")
    assert(s3.get == OpenSessions(List(OpenSession(8950000L, 10000000L, 3, 3000000L))),
      s"state must merge straggler+bridge+open, got ${s3.get}")
    // batch 4 (timeout-style invocation): the watermark passed the early
    // run's end+gap — exactly it emits; the later session stays open
    val s4 = st(Some(OpenSessions(List(OpenSession(1000L, 2000L, 2, 2000000L),
      OpenSession(10000000L, 10000000L, 1, 1000000L)))), wmMs = 2000L)
    val out4 = update(gap)(1L, Iterator.empty, s4).toSeq
    assert(out4.map(o => (o.start_us, o.end_us, o.n_events, o.sum_value_micro)) ==
      Seq((1000L, 2000L, 2, 2000000L)), s"sealed run must emit, got $out4")
    assert(s4.get == OpenSessions(List(OpenSession(10000000L, 10000000L, 1, 1000000L))))
  }

  test("parquet-sink streaming (production path): windowed agg + sessions read back from sink") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sink").toString
    // windowed agg: append mode emits only watermark-closed windows — they
    // must all be batch rows, and all windows closing >10min before max must appear
    val sink = graft.streaming.StreamAgg.eventsWindowedToParquet(
      spark, "/root/testdata/sf0.001", 300L, s"$base/agg")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = graft.sources.Events.tsToLongNs(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .withColumn("ts_us", expr("ts div 1000"))
    val batch = ev
      .groupBy((col("ts_us") - pmod(col("ts_us"), lit(300000000L))).as("window_start_us"),
               col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(floor(col("value") * lit(1e6))).as("sum_value_micro"))
    assert(sink.count() > 0)
    assert(sink.exceptAll(batch).count() == 0)
    val maxTs = ev.agg(max("ts_us")).as[Long].collect()(0)
    val mustClose = batch.where(col("window_start_us") + 300000000L <= maxTs - 600000000L)
    assert(mustClose.exceptAll(sink).count() == 0,
      "all windows past the watermark must be in the file sink")
    // sessions: closed sessions land in the sink and are valid batch sessions
    val sess = graft.streaming.StreamSession.sessionizeEventsToParquet(
      spark, "/root/testdata/sf0.001", gapUs = 1800L * 1000000L, s"$base/sess")
      .collect().map(s => (s.user_id, s.start_us, s.end_us, s.n_events)).toSet
    val batchSess = Sessionize.sessionStats(
      ev.select("user_id", "event_id", "ts_us"),
      "user_id", "ts_us", gapUs = 1800L * 1000000L)
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect()
      .map(t => (t._1, t._2, t._3, t._4.toInt)).toSet
    assert(sess.nonEmpty && sess.subsetOf(batchSess))
  }

  test("streaming dedup keeps one row per distinct text (matches batch distinct)") {
    val streamed = graft.streaming.StreamDedup.dedupDocuments(
      spark, "/root/testdata/sf0.001", s"ops_dedup_${System.nanoTime()}")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val distinctTexts = docs.select("text").distinct().count()
    assert(streamed.count() == distinctTexts)
    // survivors' hashes are exactly the distinct content hashes
    val got = streamed.select("h").distinct().count()
    assert(got == distinctTexts)
  }

  test("stream-static enrichment equals the batch join") {
    val streamed = graft.streaming.StreamEnrich.enrichEvents(
      spark, "/root/testdata/sf0.001", s"ops_enrich_${System.nanoTime()}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val static = ev.groupBy("user_id")
      .agg(sum((col("event_type") === "purchase").cast("long")).as("n_purchases"))
      .withColumn("is_buyer", col("n_purchases") > 0)
    val batch = ev.select("event_id", "user_id", "event_type").join(static, Seq("user_id"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("watermark-bounded streaming dedup keeps one row per event_id") {
    val streamed = graft.streaming.StreamDedup.dedupEventsWithinWatermark(
      spark, "/root/testdata/sf0.001", s"ops_wmdedup_${System.nanoTime()}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    // event_ids are unique in the corpus, so every event must survive; the
    // value of the variant is the bounded state, not a different result
    assert(streamed.count() == events.select("event_id").distinct().count())
  }

  test("streaming windowed agg equals batch aggregation") {
    val streamed = graft.streaming.StreamAgg.eventsWindowed(spark, "/root/testdata/sf0.001",
      windowSec = 300L, queryName = s"ops_stream_${System.nanoTime()}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = graft.sources.Events.tsToLongNs(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .withColumn("ts_us", expr("ts div 1000"))
      .groupBy((col("ts_us") - pmod(col("ts_us"), lit(300000000L))).as("window_start_us"),
               col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(floor(col("value") * lit(1e6))).as("sum_value_micro"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }
}
