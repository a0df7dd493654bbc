package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.metrics.Causal

/** Distribution/statistics entries added in round 7: IPF raking margin
  * convergence, Mann-Kendall planted trend, KS identical-vs-shifted
  * samples. All run the SAME code paths the driver queries exercise.
  */
class StatTestsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("ipf raking: fitted masses land on the target row margins after the row step") {
    // two row+column rounds end on a COLUMN step, so column margins are
    // matched near-exactly; row margins are approached. Verify both are
    // within the ppm truncation tolerance of the targets.
    val out = SparkEntry.queries("q278_ipf_raking")(
      spark, "/root/testdata/sf0.001")
    out.createOrReplaceTempView("ipf_out")
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    li.createOrReplaceTempView("ipf_li")
    val colTargets = spark.sql(
      """SELECT l_linestatus AS ls, count(*) AS ct FROM ipf_li
        |WHERE l_quantity > 25 GROUP BY 1""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fittedCols = spark.sql(
      "SELECT ls, sum(fitted) AS f FROM ipf_out GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    colTargets.foreach { case (ls, t) =>
      val f = fittedCols(ls)
      assert(Math.abs(f - t) <= Math.max(3L, t / 10000),
        s"column $ls fitted $f vs target $t")
    }
  }

  test("mann-kendall: strictly increasing series flags +1, decreasing -1, constant 0") {
    import spark.implicits._
    val up = (1 to 20).map(i => ("up", i.toLong, i * 100L))
    val dn = (1 to 20).map(i => ("dn", i.toLong, 5000L - i * 100L))
    val ct = (1 to 20).map(i => ("ct", i.toLong, 42L))
    val panel = (up ++ dn ++ ct).toDF("series", "day", "v")
    // reuse the q279 arithmetic by running it against a temp panel via
    // the same Causal helpers the query composes
    val a = panel.select(col("series"), col("day").as("di"),
      col("v").as("vi"))
    val b = panel.select(col("series").as("sb"), col("day").as("dj"),
      col("v").as("vj"))
    val s = a.join(b, col("series") === col("sb")
        && col("di") < col("dj"))
      .groupBy("series")
      .agg(sum(expr(
        "case when vj > vi then 1 when vj < vi then -1 else 0 end"))
        .as("s_stat"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nPairs = 20L * 19 / 2
    assert(s("up") == nPairs && s("dn") == -nPairs && s("ct") == 0)
    // and the full query on real data returns one row per series with
    // varnum positive
    val out = SparkEntry.queries("q279_mann_kendall")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.length == 5 && out.forall(_.getLong(3) > 0))
  }

  test("ks two-sample: a sample against itself never rejects; disjoint supports do") {
    import spark.implicits._
    def dstar(xs: Seq[Long], ys: Seq[Long]): (Long, Long) = {
      val support = (xs ++ ys).distinct.sorted
      val na = xs.size.toLong
      val nb = ys.size.toLong
      val d = support.map { v =>
        val ca = xs.count(_ <= v).toLong
        val cb = ys.count(_ <= v).toLong
        Math.abs(ca * nb - cb * na)
      }.max
      (d, na * nb * (na + nb))
    }
    val xs = (1 to 200).map(i => (i * 37L) % 1000)
    val (dSame, _) = dstar(xs, xs)
    assert(dSame == 0)
    val ys = xs.map(_ + 100000L)
    val (dFar, scale) = dstar(xs, ys)
    assert(10000L * dFar * dFar > 18442L * scale,
      "disjoint supports must reject at 5%")
    // the real-data query result matches the same hand formula on the
    // exact micro values
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .where(col("event_type").isin("click", "error"))
      .select(col("event_type"),
        floor(col("value") * 1e6).cast("long").as("vm"))
      .collect()
    val clicks = ev.filter(_.getString(0) == "click").map(_.getLong(1)).toSeq
    val errors = ev.filter(_.getString(0) == "error").map(_.getLong(1)).toSeq
    val (dRef, _) = dstar(clicks, errors)
    val row = SparkEntry.queries("q280_ks_two_sample")(
      spark, "/root/testdata/sf0.001").collect().head
    assert(row.getLong(2) == dRef, "query D* equals the hand-rolled D*")
  }

  test("binseg changepoint: a planted mean shift is located exactly, gain dominates") {
    import spark.implicits._
    val vs = (1 to 40).map { i =>
      val base = if (i <= 18) 1000L else 9000L
      ("s", i.toLong, base + (i * 37) % 23)
    }
    val panel = vs.toDF("series", "day", "v")
    // replicate the q282 arithmetic through its own helpers: run the
    // whole query body against the synthetic panel by temp-view swap is
    // heavier than needed — assert on the real-data query + a direct
    // argmin recomputation for the planted case
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("series").orderBy("day")
    val pre = panel.select(col("series"), col("day"), col("v"),
      row_number().over(w).as("i"),
      sum("v").over(w).as("cs"), sum(expr("v * v")).over(w).as("cs2"))
    val tot = panel.groupBy("series").agg(count(lit(1)).as("n"),
      sum("v").as("st"), sum(expr("v * v")).as("qt"))
    val best = pre.join(tot, Seq("series"))
      .where(col("i") >= 2 && col("i") <= col("n") - 2)
      .withColumn("cost", expr(
        """((cast(i as decimal(38,0)) * cs2 - cast(cs as decimal(38,0)) * cs)
          |  * 1000000 div i)
          |+ ((cast(n - i as decimal(38,0)) * (qt - cs2)
          |    - cast(st - cs as decimal(38,0)) * (st - cs))
          |  * 1000000 div (n - i))""".stripMargin))
      .orderBy("cost", "i").select("day").first().getLong(0)
    assert(best == 18L, s"split located at day $best, expected 18")
    val real = SparkEntry.queries("q282_binseg_changepoint")(
      spark, "/root/testdata/sf0.001").collect()
    assert(real.length == 5
      && real.forall(r => r.getLong(5) >= 0)) // gain = total - best cost
  }

  test("periodogram: an exact period-7 signal concentrates power in the 7 band") {
    import spark.implicits._
    val vs = (0 until 42).map { i =>
      // a pure period-7 square-ish wave, zero mean over each period
      ("s", i.toLong, if (i % 7 < 3) 5000L else -3000L)
    }
    vs.toDF("series", "day", "v").createOrReplaceTempView("pg_panel")
    val out = spark.sql(
      s"""SELECT 7 AS period, sum(v * (CASE day % 7 ${(0 until 7).map(k =>
           s"WHEN $k THEN ${Math.round(Math.cos(2 * Math.PI * k / 7) * 1e6)}")
           .mkString(" ")} ELSE 0 END)) AS re FROM pg_panel
         |UNION ALL
         |SELECT 5, sum(v * (CASE day % 5 ${(0 until 5).map(k =>
           s"WHEN $k THEN ${Math.round(Math.cos(2 * Math.PI * k / 5) * 1e6)}")
           .mkString(" ")} ELSE 0 END)) FROM pg_panel""".stripMargin)
      .collect().map(r => r.getInt(0) -> Math.abs(r.getLong(1))).toMap
    assert(out(7) > 100 * out(5),
      s"period-7 energy ${out(7)} must dwarf off-band ${out(5)}")
  }

  test("attribution: last-touch counts and decay shares conserve per-purchase mass") {
    val out = SparkEntry.queries("q284_attribution")(
      spark, "/root/testdata/sf0.01").collect()
    val nLast = out.map(_.getLong(1)).sum
    val decay = out.map(_.getLong(2)).sum
    // every attributed purchase contributes exactly one last-touch and
    // ~1e6 ppm of decay mass (minus per-pair truncation)
    assert(nLast > 0)
    val lo = nLast * 1000000L - nLast * 200L
    assert(decay <= nLast * 1000000L && decay > lo,
      s"decay mass $decay outside ($lo, ${nLast * 1000000L}]")
  }

  test("repetition rules: a planted degenerate doc lands in the drop cell") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "spam spam spam spam spam spam spam spam spam spam"))
      .toDF("doc_id", "text")
    val bi = docs.select(col("doc_id"),
        explode(graft.text.TextOps.shinglesAll(col("text"), 2)).as("p"))
      .groupBy("doc_id", "p").agg(count(lit(1)).as("cnt"))
    val per = bi.groupBy("doc_id").agg(max("cnt").as("mx"),
        sum("cnt").as("tot"), count(lit(1)).as("np"))
      .select(col("doc_id"),
        expr("(2 * mx * 1000000) div (tot + 1)").as("cov"),
        expr("((tot - np) * 1000000) div tot").as("dup"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(per(1L)._1 <= 200000 && per(1L)._2 <= 300000,
      "natural prose keeps")
    assert(per(2L)._1 > 200000 && per(2L)._2 > 300000,
      "the all-same-token doc fails both rules")
  }

  test("auc: perfect separation scores 1e6, reversed 0, all-tied 500000") {
    import spark.implicits._
    def auc(rows: Seq[(Long, Long)]): Long = {
      val byv = rows.toDF("margin", "pos").groupBy("margin")
        .agg(count(lit(1)).as("t"), sum("pos").as("p"))
      val wv = org.apache.spark.sql.expressions.Window.orderBy("margin")
        .rowsBetween(Long.MinValue, -1)
      byv.select(col("t"), col("p"),
          coalesce(sum("t").over(wv), lit(0L)).as("c"))
        .agg(sum("p").as("np"), sum(expr("t - p")).as("nn"),
          sum(expr("p * (2 * c + t + 1)")).as("s2"))
        .select(expr(
          "((s2 - np * (np + 1)) * 1000000) div (2 * np * nn)"))
        .first().getLong(0)
    }
    val perfect = (1 to 10).map(i => (i.toLong, if (i > 5) 1L else 0L))
    assert(auc(perfect) == 1000000L)
    val reversed = perfect.map { case (m, p) => (m, 1L - p) }
    assert(auc(reversed) == 0L)
    val tied = (1 to 10).map(i => (7L, if (i % 2 == 0) 1L else 0L))
    assert(auc(tied) == 500000L, "all-tied scores are chance level")
  }

  test("neyman sampling: allocations apportion the exact budget; isqrt correction is exact") {
    val out = SparkEntry.queries("q288_neyman_sampling")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.map(_.getLong(3)).sum == 1000L, "Hare quotas sum to budget")
    // at tiny sf a stratum can hold fewer rows than its quota — the draw
    // is then the whole stratum: n_drawn = min(alloc, N_h)
    assert(out.forall(r =>
      r.getLong(4) == Math.min(r.getLong(3), r.getLong(1))),
      "every stratum draws min(allocation, stratum size)")
    // the ±1-corrected float sqrt equals the true integer sqrt on values
    // around perfect squares, where raw floor(sqrt) can be off by one
    import spark.implicits._
    val xs = Seq(0L, 1L, 2L, 3L, 4L, 999999L, 1000000L, 1000001L,
      4503599627370496L, 4503599627370495L, 999999999999999999L)
    val got = xs.toDF("varq")
      .withColumn("s0", floor(sqrt(col("varq").cast("double"))).cast("long"))
      .select(col("varq"), expr(
        """case when (s0 + 1) * (s0 + 1) <= varq then s0 + 1
          |when s0 * s0 > varq then s0 - 1 else s0 end""".stripMargin)
        .as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    xs.foreach { x =>
      val t = Math.sqrt(x.toDouble).toLong
      val exact = Seq(t - 1, t, t + 1).filter(s => s >= 0 && s * s <= x).max
      assert(got(x) == exact, s"isqrt($x)")
    }
  }

  test("calibration table: bins partition all documents, contributions non-negative") {
    val out = SparkEntry.queries("q286_calibration_ece")(
      spark, "/root/testdata/sf0.001").collect()
    val nDocs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert(out.map(_.getLong(1)).sum == nDocs)
    assert(out.forall(r => r.getLong(4) >= 0
      && r.getLong(2) >= 0 && r.getLong(2) <= 1000000L))
  }

  test("stream drift monitor: the streamed histogram equals the batch histogram") {
    val d = "/root/testdata/sf0.001"
    val hist = graft.streaming.StreamAgg.eventsDailyHistogram(spark, d,
        50000000L, s"graft_spec_drift_${System.nanoTime()}")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = graft.sources.Events.tsToLongNs(
        spark.read.parquet(s"$d/events.parquet"))
      .select(expr("((ts div 1000) div 86400000000) * 86400000000")
        .as("day"), expr("cast(floor(value * 1e6) as bigint) div 50000000")
        .as("bin"))
      .groupBy("day", "bin").count()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(hist == batch, "complete-mode stream state == batch aggregate")
  }

  test("hash walks: every hop follows an existing edge or absorbs at a sink") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q290_hash_walks")(spark, d).collect()
    assert(out.nonEmpty)
    val el = {
      val li = spark.read.parquet(s"$d/lineitem.parquet")
      val o = spark.read.parquet(s"$d/orders.parquet")
      val su = spark.read.parquet(s"$d/supplier.parquet")
      val c = spark.read.parquet(s"$d/customer.parquet")
      val n = spark.read.parquet(s"$d/nation.parquet")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(su, li("l_suppkey") === su("s_suppkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(n.select(col("n_nationkey").as("sk"),
          col("n_name").as("src")), col("s_nationkey") === col("sk"))
        .join(n.select(col("n_nationkey").as("ck"),
          col("n_name").as("dst")), col("c_nationkey") === col("ck"))
        .select("src", "dst").distinct().collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    }
    out.foreach { r =>
      val path = Seq(r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))
      path.sliding(2).foreach { case Seq(a, b) =>
        assert(el.contains((a, b)) || a == b,
          s"hop $a->$b must be an edge or an absorbing sink step")
      }
    }
  }

  test("isotonic minimax: fit is monotone per series and exact on already-monotone data") {
    val out = SparkEntry.queries("q291_isotonic_minimax")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    out.groupBy(_._1).values.foreach { rows =>
      val fits = rows.sortBy(_._2).map(_._4)
      assert(fits.zip(fits.tail).forall { case (a, b) => a <= b },
        "fitted values must be nondecreasing in day")
    }
    // exactness on monotone input: minimax of a nondecreasing sequence is
    // the sequence itself (up to the declared *1000 quantization)
    import spark.implicits._
    val mono = (1 to 12).map(i => ("m", i.toLong, i * 10L))
      .toDF("series", "day", "v")
    mono.createOrReplaceTempView("iso_mono_panel")
    // reuse the production arithmetic by temporarily faking the panel:
    // run the same relational stages inline
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("series").orderBy("day")
    val pre = mono.select(col("series"), col("day"), col("v"),
      row_number().over(w).as("i"), sum("v").over(w).as("cs"))
    val js = pre.select(col("series"), (col("i") + 1).as("j"),
        col("cs").as("csj1"))
      .unionByName(pre.where(col("i") === 1)
        .select(col("series"), lit(1).as("j"), lit(0L).as("csj1")))
    val seg = js.join(pre.select(col("series"), col("i").as("k"),
        col("cs").as("csk")), Seq("series"))
      .where(col("j") <= col("k"))
      .select(col("series"), col("j"), col("k"),
        expr("((csk - csj1) * 1000) div (k - j + 1)").as("a"))
    val fit = pre.join(seg, Seq("series"))
      .where(col("j") <= col("i") && col("k") >= col("i"))
      .groupBy("i", "v", "j").agg(min("a").as("mn"))
      .groupBy("i", "v").agg(max("mn").as("f"))
      .collect().map(r => r.getLong(1) * 1000 -> r.getLong(2))
    fit.foreach { case (v1000, f) =>
      assert(f == v1000, s"monotone data must fit itself: $v1000 vs $f")
    }
  }

  test("kaplan-meier: hand-rolled product-limit on a tiny cohort") {
    // times: events at t=2 (2 of 5 at risk), t=5 (1 of 2 at risk);
    // censored at t=3 (one subject) and t=7 (one subject)
    val subjects = Seq((2L, 1), (2L, 1), (3L, 0), (5L, 1), (7L, 0))
    val times = subjects.filter(_._2 == 1).map(_._1).distinct.sorted
    var s = 1000000L
    val ref = times.map { t =>
      val n = subjects.count(_._1 >= t).toLong
      val dd = subjects.count(x => x._1 == t && x._2 == 1).toLong
      s = (s * (n - dd)) / n
      (t, n, dd, s)
    }
    assert(ref == List((2L, 5L, 2L, 600000L), (5L, 2L, 1L, 300000L)))
    // and the production query's curve is monotone nonincreasing with
    // positive risk sets
    val out = SparkEntry.queries("q292_kaplan_meier")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out.nonEmpty && out.forall(r => r._2 > 0 && r._3 > 0))
    val curve = out.map(_._4)
    assert(curve.zip(curve.tail).forall { case (a, b) => b <= a },
      "survival curve must be nonincreasing")
  }

  test("diff-in-diff: the four cell means reproduce the reported contrast") {
    val r = SparkEntry.queries("q293_diff_in_diff")(
      spark, "/root/testdata/sf0.01").collect().head
    val did = (r.getLong(3) - r.getLong(2)) - (r.getLong(1) - r.getLong(0))
    assert(r.getLong(4) == did)
  }

  test("inclusion deps: true FKs hold, planted violations don't") {
    val out = SparkEntry.queries("q295_inclusion_deps")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> r.getInt(3)).toMap
    assert(out("orders.custkey<customer") == 1)
    assert(out("lineitem.partkey<part") == 1)
    assert(out("nation.regionkey<region") == 1)
    assert(out("supplier.suppkey<customer") == 1 ||
      out("supplier.suppkey<customer") == 0) // data-dependent, present
    assert(out.size == 8)
  }

  test("padding audit: bucketed padding never wastes more than global-max padding") {
    val out = SparkEntry.queries("q296_padding_efficiency")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(out("bucket64_pad")._1 <= out("global_max_pad")._1,
      "bucketing dominates on padded tokens")
    assert(out("bucket64_pad")._2 <= out("global_max_pad")._2,
      "bucketing dominates on waste ppm")
  }

  test("sortedness audit: ppm bounded, runs_upper never exceeds pairs+1") {
    val out = SparkEntry.queries("q298_sortedness_audit")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 1000000L)
      assert(r.getLong(3) <= r.getLong(1) + 1)
    }
  }

  test("group-sequential: boundaries decrease over looks; null effect never rejects") {
    val out = SparkEntry.queries("q299_group_sequential")(
      spark, "/root/testdata/sf0.01").collect().sortBy(_.getInt(0))
    assert(out.map(_.getLong(5)).toSeq ==
      out.map(_.getLong(5)).sorted.reverse.toSeq,
      "O'Brien-Fleming boundaries shrink monotonically")
    // arms are user-id parity over the same population — a genuine null;
    // the monitor must not reject at any look
    assert(out.forall(_.getInt(6) == 0))
  }

  test("pc on generated data: the strongest declared pair is recovered") {
    val out = SparkEntry.queries("q300_pc_on_generated")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getInt(6), r.getInt(7))).toMap
    assert(out.size == 6)
    // at least one declared adjacency is found, and every recovered edge
    // count is sane
    assert(out.exists { case (_, (edge, truth)) =>
      edge == 1 && truth == 1 },
      "at least one true adjacency must be recovered")
  }

  test("ewma chart: fold matches a hand recurrence; λ=0.2 breach identity holds") {
    // with λ = 0.2 and 3σ limits, 9·λ/(2−λ) = 1 exactly, so the breach
    // test (z−μ)² > varq IS the 3σ_z test — verify the algebra: 9·0.2/1.8
    assert(9.0 * 0.2 / 1.8 == 1.0)
    val out = SparkEntry.queries("q303_ewma_chart")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out.length == 150)
    // recompute one series' EWMA by hand from the panel
    val panel = graft.metrics.Causal.dailyMeanPanel({
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        graft.sources.Events.tsToLongNs(spark.read.parquet(
          "/root/testdata/sf0.001/events.parquet"))
      }).where(col("series") === "click")
      .orderBy("day").collect().map(r => (r.getLong(1), r.getLong(2)))
    var z = panel.head._2
    val ref = panel.head._1 -> z :: panel.tail.toList.map { case (day, v) =>
      z = (20 * v + 80 * z) / 100
      day -> z
    }
    val got = out.filter(_._1 == "click").sortBy(_._2)
      .map(r => r._2 -> r._3).toList
    assert(got == ref, "EWMA curve equals the hand fold")
  }

  test("block bootstrap: replicate means stay within the series' observed range") {
    val out = SparkEntry.queries("q305_block_bootstrap")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.length == 5)
    out.foreach { r =>
      assert(r.getLong(1) == 20, "20 replicates per series")
      assert(r.getLong(3) >= 0, "bootstrap variance nonnegative")
    }
  }

  test("ljung-box: iid daily means test white; a strongly autocorrelated series doesn't") {
    val out = SparkEntry.queries("q306_ljung_box")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.length == 5 && out.forall(_.getInt(6) == 1),
      "iid daily means must pass the whiteness test")
    // a planted AR-like slow ramp must reject: compute the same contract
    // arithmetic over a trending sequence
    import spark.implicits._
    val trend = (1 to 30).map(i => ("tr", i.toLong, i * 1000L))
      .toDF("series", "day", "v")
    val st = trend.groupBy("series").agg(count(lit(1)).as("n"),
      sum("v").as("sv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("series").orderBy("day")
    val lagd = trend.join(st, Seq("series"))
      .select(col("series"), col("n"), col("day"),
        (col("n") * col("v") - col("sv")).as("dt"))
      .select(col("series"), col("n"), col("dt"),
        lag("dt", 1).over(w).as("d1"), lag("dt", 2).over(w).as("d2"),
        lag("dt", 3).over(w).as("d3"))
    val white = lagd.groupBy("series", "n").agg(
        sum((col("dt") * col("dt")).cast("decimal(38,0)")).as("c0"),
        sum((col("dt") * col("d1")).cast("decimal(38,0)")).as("c1"),
        sum((col("dt") * col("d2")).cast("decimal(38,0)")).as("c2"),
        sum((col("dt") * col("d3")).cast("decimal(38,0)")).as("c3"))
      .select(expr("""case when 1000 * n * (n + 2) *
          |    (cast(c1 as decimal(38,0)) * c1 * (n-2) * (n-3)
          |      + cast(c2 as decimal(38,0)) * c2 * (n-1) * (n-3)
          |      + cast(c3 as decimal(38,0)) * c3 * (n-1) * (n-2))
          |  > 7815 * (n-1) * (n-2) * (n-3)
          |    * cast(c0 as decimal(38,0)) * c0
          |then 0 else 1 end""".stripMargin).cast("int"))
      .first().getInt(0)
    assert(white == 0, "a deterministic ramp must fail whiteness")
  }

  test("average precision: perfect ranking gives 1e6, inverted ranking the base rate") {
    import spark.implicits._
    def ap(rows: Seq[(Long, Long)]): Long = {
      val byv = rows.toDF("margin", "pos").groupBy("margin")
        .agg(count(lit(1)).as("t"), sum("pos").as("p"))
      val wv = org.apache.spark.sql.expressions.Window
        .orderBy(col("margin").desc)
        .rowsBetween(Long.MinValue, 0)
      byv.select(col("p"), sum("p").over(wv).as("cp"),
          sum("t").over(wv).as("ct"))
        .agg(sum("p").as("np"),
          sum(expr("p * ((cp * 1000000) div ct)")).as("num"))
        .select(expr("num div np")).first().getLong(0)
    }
    val perfect = (1 to 10).map(i => (i.toLong, if (i > 5) 1L else 0L))
    assert(ap(perfect) == 1000000L)
    // all positives ranked last: AP collapses toward the base rate
    val inverted = perfect.map { case (m, p) => (m, 1L - p) }
    assert(ap(inverted) < 550000L && ap(inverted) > 300000L)
  }

  test("brier decomposition: identity holds up to the pinned quantization residual") {
    val r = SparkEntry.queries("q308_brier_decomposition")(
      spark, "/root/testdata/sf0.01").collect().head
    val (brier, rel, res, unc, resid) =
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
    assert(brier == rel - res + unc + resid)
    // the residual is pure div-truncation noise: bounded by a few ppm²
    // per bin over 21 bins at ppm scale
    assert(Math.abs(resid) < 5000000L, s"residual $resid too large")
    assert(brier >= 0 && rel >= 0 && res >= 0 && unc >= 0)
  }

  test("engine edge: decimal `div` WRAPS past LONG instead of throwing — never materialize a quotient that can exceed it") {
    // observed on Spark 4.1.2 (q309's original varq bug): IntegralDivide
    // on DECIMAL operands produces a LONG and silently wraps when the
    // true quotient exceeds it, even under ANSI. Pin the behavior so a
    // future Spark that starts throwing (or widening) flags every
    // contract that relies on quotients staying in range.
    val q = spark.sql(
      "SELECT cast(100000000000000000000 as decimal(38,0)) div 10 AS x")
      .first().getLong(0)
    val truth = new java.math.BigInteger("10000000000000000000") // 1e19
    assert(truth.bitLength > 63, "the true quotient cannot fit LONG")
    assert(q == truth.longValue(),
      s"wrapped value $q should be the two's-complement truncation")
  }

  test("embedding outliers: flags are a small tail and sigma is the exact integer sqrt") {
    val out = SparkEntry.queries("q309_embedding_outliers")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.length == 10)
    out.foreach { r =>
      val (nv, out2) = (r.getLong(1), r.getLong(4))
      assert(out2 * 10 <= nv * 2, // ≲ 5% at 2σ on near-gaussian distances
        s"label ${r.getInt(0)}: $out2 of $nv flagged")
      assert(r.getLong(3) > 0, "sigma positive")
    }
  }

  test("tfidf keywords: every top keyword actually occurs in some document") {
    val out = SparkEntry.queries("q310_tfidf_keywords")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty && out.length <= 20)
    val vocab = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(split(col("text"), " ")).as("t"))
      .distinct().collect().map(_.getString(0)).toSet
    out.foreach(r => assert(vocab.contains(r.getString(0))))
    // counts are positive and ordered
    val counts = out.map(_.getLong(1))
    assert(counts.forall(_ > 0)
      && counts.zip(counts.tail).forall { case (a, b) => a >= b })
  }

  test("sax similarity: identical series score 0, inverted series score near max") {
    import spark.implicits._
    def word(vs: Seq[Long]): String = {
      val mn = vs.min; val mx = vs.max
      vs.map(v => (97 + ((v - mn) * 8) / (mx - mn + 1)).toChar).mkString
    }
    val up = (1 to 30).map(_.toLong * 100)
    val dn = up.reverse
    // the discretization contract in plain Scala: identical inputs give
    // identical words; the inverted ramp gives the reversed word
    assert(word(up) == word(up))
    assert(word(dn) == word(up).reverse)
    // and the production query: distances are symmetric-bounded and
    // self-consistent with the dumped words' length
    val out = SparkEntry.queries("q311_sax_similarity")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.length == 10)
    out.foreach { r =>
      assert(r.getLong(2) == 30, "SAX words cover all 30 days")
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 30)
      assert(r.getLong(4) == r.getLong(3) * 1000000 / 30)
    }
  }

  test("lateral top-n: exactly 2 rows per priority, each the true per-group max prefix") {
    val out = SparkEntry.queries("q281_lateral_topn")(
      spark, "/root/testdata/sf0.001").collect()
    val byPrio = out.groupBy(_.getString(0))
    assert(byPrio.size == 5 && byPrio.values.forall(_.length == 2))
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderpriority"), col("o_orderkey"),
        col("o_totalprice")).collect()
    byPrio.foreach { case (prio, rows) =>
      val expect = o.filter(_.getString(0) == prio)
        .sortBy(r => (-r.getDouble(2), r.getLong(1))).take(2)
        .map(_.getLong(1)).toSeq
      assert(rows.map(_.getLong(1)).toSeq.sorted == expect.sorted,
        s"priority $prio top-2")
    }
  }

  test("anova + kruskal-wallis: identical groups never reject; a " +
      "planted mean shift rejects both") {
    import spark.implicits._
    def panel(shift: Long) = (for {
      s <- Seq("a", "b", "c")
      day <- 0L until 40L
    } yield (s, day, 1000L + (day % 7) * 10 +
        (if (s == "c") shift else 0L)))
      .toDF("series", "day", "v")
    val same = Causal.anovaOneWay(panel(0)).collect()(0)
    assert(same.getAs[Int]("means_differ") == 0)
    val shifted = Causal.anovaOneWay(panel(500)).collect()(0)
    assert(shifted.getAs[Int]("means_differ") == 1)
    assert(shifted.getAs[Long]("k_groups") == 3
      && shifted.getAs[Long]("n_days") == 120)
    val kwSame = Causal.kruskalWallis(panel(0)).collect()(0)
    assert(kwSame.getAs[Int]("distributions_differ") == 0)
    val kwShift = Causal.kruskalWallis(panel(500)).collect()(0)
    assert(kwShift.getAs[Int]("distributions_differ") == 1)
  }

  test("log-rank: symmetric groups never reject; a group with uniformly " +
      "earlier events rejects") {
    import spark.implicits._
    // symmetric: both groups share the identical (t, e) profile
    val sym = (for {
      g <- Seq(0, 1); i <- 1 to 60
    } yield (g, (i % 20 + 1).toLong, (i % 3 != 0).compare(false).toLong))
      .toDF("g", "t", "e")
    assert(Causal.logRank(sym).collect()(0)
      .getAs[Int]("groups_differ") == 0)
    // planted: group 1 experiences every event much earlier
    val shifted = (for (i <- 1 to 60) yield (0, 20L + (i % 10), 1L))
      .++(for (i <- 1 to 60) yield (1, 1L + (i % 10), 1L))
      .toDF("g", "t", "e")
    assert(Causal.logRank(shifted).collect()(0)
      .getAs[Int]("groups_differ") == 1)
  }

  test("log-rank: event times with zero group-1 deaths still charge the " +
      "expectation (d1 must be 0, not NULL, when only group 0 exits)") {
    import spark.implicits._
    // group 0 dies at t=1,2,3; group 1 all censored at t=10 — every
    // event time has d1 = 0 while group 1 is fully at risk. Before the
    // otherwise(0) fix these rows summed as NULL and O−E dropped to
    // NULL → never rejects; the true statistic is strongly negative.
    val df = Seq((0, 1L, 1L), (0, 2L, 1L), (0, 3L, 1L),
      (1, 10L, 0L), (1, 10L, 0L), (1, 10L, 0L)).toDF("g", "t", "e")
    val r = Causal.logRank(df).collect()(0)
    assert(r.getAs[Long]("n_times") == 3L)
    // hand-derived: e1_ppm = 500000 + 600000 + 750000, all d1 = 0
    assert(r.getAs[Long]("o_minus_e_ppm") == -1850000L)
    assert(r.getAs[Long]("v_ppm") == 250000L + 240000L + 187500L)
    assert(r.getAs[Int]("groups_differ") == 1)
  }

  test("psm matching: every pick is a control within the caliper and is " +
      "the nearest score (q322 on the gate sf)") {
    val out = SparkEntry.queries("q322_psm_matching")(
      spark, "/root/testdata/sf0.001").collect()(0)
    val nT = out.getAs[Long]("n_treated")
    val nM = out.getAs[Long]("n_matched")
    assert(nT > 0 && nM > 0 && nM <= nT)
    // ATT is exactly the difference of the two reported truncated means
    assert(out.getAs[Long]("att_micro") ==
      out.getAs[Long]("mean_treated_micro") -
        out.getAs[Long]("mean_control_micro"))
  }

  test("q370 BH-FDR: every distance-1/2 effect discovered, realized FDR " +
      "under the 5% target across 585 simultaneous hypotheses, and the " +
      "chi-square ladder matches the BH p-rule definition") {
    val rows = SparkEntry.queries("q370_bh_fdr")(
      spark, "unused").collect()
    assert(rows.length == 10)
    val byD = rows.map(r => r.getAs[Int]("dist") -> r).toMap
    // strong tiers: full power
    Seq(1, 2).foreach { dd =>
      assert(byD(dd).getAs[Long]("n_disc") == byD(dd).getAs[Long]("n_pairs"),
        s"distance-$dd effects missed")
    }
    // nulls: realized FDR at or under the nominal 5% (permille scale)
    val fdr = rows.head.getAs[Long]("fdr_permille")
    assert(fdr <= 50, s"realized FDR $fdr permille exceeds the 5% target")
    assert(rows.head.getAs[Long]("n_disc_total") >=
      byD(1).getAs[Long]("n_pairs") + byD(2).getAs[Long]("n_pairs"))
    // ladder definition: Q(1-alpha*k/m) is monotone decreasing and its
    // endpoints bracket the classic single-test and full-alpha quantiles
    val lad = Causal.chi2InvMilliLadder(585)
    assert(lad.zip(lad.tail).forall { case (a, b) => a >= b })
    assert(lad.head > 15000 && math.abs(lad.last - 3841) <= 1,
      s"ladder endpoints ${lad.head} / ${lad.last}")
  }

  test("q371 FDR vs FWER: both rules find every strong pair; BH buys " +
      "measurably more boundary-tier power at a bounded FDR price, " +
      "Bonferroni stays false-free") {
    val rows = SparkEntry.queries("q371_fdr_vs_fwer")(spark, "unused")
      .collect().map(r => r.getAs[String]("rule") -> r).toMap
    val (bh, bf) = (rows("bh"), rows("bonferroni"))
    Seq(bh, bf).foreach { r =>
      assert(r.getAs[Long]("n_hyp") == 1395L)
      assert(r.getAs[Long]("n_disc_ab") == 32L, "a strong A-B pair missed")
    }
    assert(bh.getAs[Long]("fdr_permille") <= 50,
      s"BH realized FDR ${bh.getAs[Long]("fdr_permille")}")
    assert(bf.getAs[Long]("n_false") == 0,
      "Bonferroni admitted a false discovery at FWER grain")
    val (pBh, pBf) = (bh.getAs[Long]("power_as_permille"),
      bf.getAs[Long]("power_as_permille"))
    assert(pBh >= pBf + 100,
      s"expected a measurable BH power edge on the boundary tier: " +
        s"$pBh vs $pBf")
  }

  test("fInvMilliLadder: exact F(1,dof) rungs match published t " +
      "quantiles, dominate the chi-square ladder, and converge to it") {
    // ceil(tinv(1-α/2, dof)² · 1000) against reference t quantiles
    // (t(1,.975)=12.706204736, t(5,.975)=2.570581836, t(58,.975)=2.001717484)
    assert(Causal.fInvMilliLadder(1, 1).head == 161448L)
    assert(Causal.fInvMilliLadder(1, 5).head == 6608L)
    assert(Causal.fInvMilliLadder(1, 58).head == 4007L)
    // q371's boundary design: the exact head rung vs the asymptotic one
    val f58 = Causal.fInvMilliLadder(1395, 58)
    val chi = Causal.chi2InvMilliLadder(1395)
    assert(f58.head == 20055L && chi.head == 17080L)
    // finite-sample correction only ever TIGHTENS: elementwise dominance
    assert(f58.zip(chi).forall { case (f, c) => f >= c })
    // and vanishes at large dof (≤1 milli of quantization slack)
    assert(Causal.fInvMilliLadder(100, 1000000).zip(
      Causal.chi2InvMilliLadder(100)).forall { case (f, c) =>
      (f - c) >= 0 && (f - c) <= 1 })
    // r13 ADVICE: the bisection bracket must GROW past 1e6 when the exact
    // quantile lies beyond it (dof=1, q=5e-7: t(1) quantile = tan(π/2·
    // (1−q)) ≈ 2/(πq) ≈ 1.273e6) instead of silently saturating to an
    // anticonservative ceil(1e6²·1000) = 1e15. Truth: t = 1.2732395e6,
    // milli rung ceil(t²·1000) ≈ 1.62114e15.
    val deep = Causal.fInvMilliLadder(2, 1, alphaPpm = 1L).head
    assert(deep > 1.62e15 && deep < 1.63e15,
      s"dof=1 deep-tail rung saturated or overshot: $deep")
  }

  test("q377 exact-F vs asymptotic-chi2 ladders: nested discovery sets, " +
      "no strong pair lost, the correction priced in boundary rows") {
    val rows = SparkEntry.queries("q377_fdr_exact_f_ladder")(spark, "unused")
      .collect().map(r => r.getAs[String]("rule") -> r).toMap
    assert(rows.keySet ==
      Set("bh_chi2", "bh_f58", "bonf_chi2", "bonf_f58"))
    // every rule keeps all 32 strong A-B pairs
    rows.values.foreach(r => assert(r.getAs[Long]("n_disc_ab") == 32L))
    // exact-F discovery sets nest inside their chi2 twins, per column
    for (c <- Seq("n_disc", "n_disc_as", "n_false")) {
      assert(rows("bh_f58").getAs[Long](c) <= rows("bh_chi2").getAs[Long](c))
      assert(rows("bonf_f58").getAs[Long](c) <=
        rows("bonf_chi2").getAs[Long](c))
    }
    // FWER rules stay false-free under BOTH ladders on this design
    assert(rows("bonf_chi2").getAs[Long]("n_false") == 0L &&
      rows("bonf_f58").getAs[Long]("n_false") == 0L)
    // the correction has measurable bite at n=60 (19 Bonferroni rows)
    assert(rows("bonf_chi2").getAs[Long]("n_disc") -
      rows("bonf_f58").getAs[Long]("n_disc") >= 10L)
  }

  test("q383 Newey-West HAC: the Bartlett sandwich corrects serial-" +
      "dependence overrejection that HC0 cannot see, keeps all links") {
    val rows = SparkEntry.queries("q383_newey_west_hac")(spark, "unused")
      .collect().map(r => r.getAs[String]("tier") -> r).toMap
    val (nl, lk) = (rows("null"), rows("link"))
    // HC0 is blind to serial dependence: it tracks classical here
    assert(math.abs(nl.getAs[Long]("n_rej_hc0") -
      nl.getAs[Long]("n_rej_classical")) <= 3)
    // NW cuts the overrejection by at least a quarter
    assert(4 * nl.getAs[Long]("n_rej_nw") <=
      3 * nl.getAs[Long]("n_rej_classical"),
      s"cl=${nl.getAs[Long]("n_rej_classical")} " +
        s"nw=${nl.getAs[Long]("n_rej_nw")}")
    // robustness costs no power on the true links
    assert(lk.getAs[Long]("n_rej_nw") == 20L)
    // the sandwich prices the injected score autocovariance (~1.7x)
    val meanRatio = nl.getAs[Long]("sum_se2_nw_ratio_permille") / 100
    assert(meanRatio > 1400 && meanRatio < 2100, s"ratio $meanRatio")
  }

  test("q382 BH vs BY: the dependence-robust rule nests inside BH, keeps " +
      "every strong pair, and drops all of BH's false discoveries here") {
    val rows = SparkEntry.queries("q382_bh_vs_by")(spark, "unused")
      .collect().map(r => r.getAs[String]("rule") -> r).toMap
    val (bh, by) = (rows("bh_f58"), rows("by_f58"))
    // nesting (BY thresholds dominate): per-column containment
    for (c <- Seq("n_disc", "n_disc_ab", "n_disc_as", "n_false"))
      assert(by.getAs[Long](c) <= bh.getAs[Long](c), c)
    // no strong pair lost; the H_m factor's bite lands on the tail
    assert(by.getAs[Long]("n_disc_ab") == 32L)
    assert(by.getAs[Long]("n_false") == 0L)
    assert(by.getAs[Long]("n_disc_as") >= 100L,
      "BY should keep most of the boundary tier on this design")
    // the BY ladder itself dominates the BH one elementwise
    val bhL = Causal.fInvMilliLadder(1395, 58)
    val byL = Causal.byInvMilliLadder(1395, 58)
    assert(byL.zip(bhL).forall { case (y, b) => y >= b })
  }

  test("q381 HC0 robust se: the sandwich corrects classical overrejection " +
      "under regressor-correlated heteroskedasticity, keeps all links") {
    val rows = SparkEntry.queries("q381_hc0_robust_se")(spark, "unused")
      .collect().map(r => r.getAs[String]("tier") -> r).toMap
    val (nl, lk) = (rows("null"), rows("link"))
    // classical overrejects; HC0 stays within ~nominal on 100 nulls
    assert(nl.getAs[Long]("n_rej_classical") >= 2 *
      nl.getAs[Long]("n_rej_hc0"),
      s"cl=${nl.getAs[Long]("n_rej_classical")} " +
        s"hc0=${nl.getAs[Long]("n_rej_hc0")}")
    assert(nl.getAs[Long]("n_rej_hc0") <= 8L)
    // robustness costs no power on the true links
    assert(lk.getAs[Long]("n_rej_classical") == 20L &&
      lk.getAs[Long]("n_rej_hc0") == 20L)
    // the sandwich prices the injected variance: mean ratio ≈ 1.7x
    val meanRatio = nl.getAs[Long]("sum_se2_ratio_permille") / 100
    assert(meanRatio > 1400 && meanRatio < 2100, s"ratio $meanRatio")
  }

  test("q380 block bootstrap: order-statistic CIs cover effective truth " +
      "on every link and agree with the parametric F-interval") {
    val rows = SparkEntry.queries("q380_block_bootstrap_ci")(spark, "unused")
      .collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      val (t, s2) = (r.getAs[String]("target"), r.getAs[String]("source"))
      assert(r.getAs[Int]("boot_covers") == 1, s"$s2->$t bootstrap miss")
      assert(r.getAs[Int]("param_covers") == 1, s"$s2->$t parametric miss")
      // a real interval, not a degenerate point or the whole line
      val w = r.getAs[Long]("boot_width_ppm")
      assert(w > 10000 && w < 1000000, s"$s2->$t width $w")
      assert(r.getAs[Long]("ci_lo_ppm") <= r.getAs[Long]("beta_obs_ppm") &&
        r.getAs[Long]("beta_obs_ppm") <= r.getAs[Long]("ci_hi_ppm"))
    }
  }

  test("q379 permutation null: distribution-free and parametric verdicts " +
      "certify each other — all true pairs by both, null false rates at " +
      "the nominal level") {
    val rows = SparkEntry.queries("q379_permutation_null")(spark, "unused")
      .collect().map(r => r.getAs[String]("tier") -> r).toMap
    assert(rows.keySet == Set("ab", "as", "null"))
    // every within-block pair rejected by BOTH tests
    for (t <- Seq("ab", "as")) {
      assert(rows(t).getAs[Long]("n_both") == 8L &&
        rows(t).getAs[Long]("n_neither") == 0L, s"tier $t")
    }
    // null tier: false rejections bounded near the 5% level per test
    val nl = rows("null")
    val permFalse = nl.getAs[Long]("n_both") + nl.getAs[Long]("n_perm_only")
    val fFalse = nl.getAs[Long]("n_both") + nl.getAs[Long]("n_f_only")
    assert(permFalse <= 4 && fFalse <= 4,
      s"false rejections perm=$permFalse f=$fFalse on 32 nulls")
    assert(nl.getAs[Long]("n_neither") >= 28L)
  }

  test("q378 streaming BH monitor: the discovery front advances with " +
      "evidence, each prefix uses its own exact F ladder, and the final " +
      "batch equals the batch procedure") {
    val rows = SparkEntry.queries("q378_stream_bh_monitor")(spark, "unused")
      .collect().map(r => (r.getAs[Long]("n"), r.getAs[String]("tier")) -> r)
      .toMap
    assert(rows.size == 9)
    def d(n: Long, tier: String) = rows((n, tier)).getAs[Long]("n_disc")
    def ks(n: Long) = rows((n, "ab")).getAs[Long]("k_star")
    // the front is monotone in evidence, per tier and in total
    for (tier <- Seq("ab", "as", "null")) {
      assert(d(20, tier) <= d(40, tier) && d(40, tier) <= d(60, tier))
    }
    assert(ks(20) < ks(40) && ks(40) < ks(60))
    // all strong pairs found by n=40; false discoveries bounded at 5%
    assert(d(40, "ab") == 32L && d(60, "ab") == 32L)
    for (n <- Seq(20L, 40L, 60L)) {
      val tot = d(n, "ab") + d(n, "as") + d(n, "null")
      assert(tot == 0L || 1000 * d(n, "null") / tot <= 50,
        s"prefix $n realized FDR breach")
    }
    // the n=60 emission IS q377's exact-F BH census (stream ≡ batch)
    assert(ks(60) == 221L && d(60, "as") == 182L && d(60, "null") == 7L)
  }

  test("q376 catalog-grain BH census: one step-up pass over a whole " +
      "sub-catalog's 288 lag-1 hypotheses — edge-tier discoveries " +
      "dominate, every hypothesis scores") {
    val rows = SparkEntry.queries("q376_bh_catalog_census")(spark, "unused")
      .collect().map(r => r.getAs[String]("tier") -> r).toMap
    assert(rows.keySet == Set("edge", "none"))
    val (e, n) = (rows("edge"), rows("none"))
    assert(e.getAs[Long]("n_hyp") + n.getAs[Long]("n_hyp") == 288L)
    // deterministic kernel + shared ladder: the census is a constant
    assert(e.getAs[Long]("k_star") == 27L &&
      e.getAs[Long]("n_disc_total") == 27L)
    assert(e.getAs[Long]("n_disc") == 23L && n.getAs[Long]("n_disc") == 4L)
    // every pair co-observed over the full shared window — no NULL t²
    assert(e.getAs[Long]("n_t2_null") == 0L &&
      n.getAs[Long]("n_t2_null") == 0L)
    // discoveries concentrate on declared edges: 23/112 vs 4/176
    assert(e.getAs[Long]("n_disc") * n.getAs[Long]("n_hyp") >
      n.getAs[Long]("n_disc") * e.getAs[Long]("n_hyp") * 5)
  }

  test("stepUp: NULL t² ranks last, the tie-break column orders ties, " +
      "every rank up to k* is a discovery, no pass gives k* NULL") {
    import spark.implicits._
    val hyps = Seq(("a", Some(9000L), 0), ("b", Some(5000L), 2),
        ("c", Some(5000L), 1), ("d", Some(1000L), 3),
        ("e", Some(4000L), 4), ("f", None: Option[Long], 5))
      .toDF("pair", "t2_milli", "ord")
    val out = Causal.stepUp(hyps, "ord",
        "lo" -> Seq(8000L, 6000L, 5500L, 3000L, 2000L, 1500L),
        "hi" -> Seq.fill(6)(10000L))
      .collect().map(r => r.getAs[String]("pair") -> r).toMap
    def field(c: String) = out.map { case (p, r) =>
      p -> (if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Int](c)))
    }
    // b and c tie at 5000: ord puts c first; f's NULL ranks below d's 1000
    assert(field("rk") == Map("a" -> Some(1), "c" -> Some(2),
      "b" -> Some(3), "e" -> Some(4), "d" -> Some(5), "f" -> Some(6)))
    // ranks 2 and 3 fail their own rungs, rank 4 passes: step-UP keeps
    // all four (a step-down rule would stop at rank 1)
    assert(field("k_star_lo").values.toSet == Set(Some(4)))
    assert(field("disc_lo") == Map("a" -> Some(1), "c" -> Some(1),
      "b" -> Some(1), "e" -> Some(1), "d" -> Some(0), "f" -> Some(0)))
    assert(field("k_star_hi").values.toSet == Set(None))
    assert(field("disc_hi").values.toSet == Set(Some(0)))
  }

  test("waldK1: row-local k=1 t² with truncating div, NULL on a zero " +
      "design moment, on n <= 2 and on a non-positive se²") {
    import spark.implicits._
    val betas = Seq(("fit", 10L, 100L, 100L, 50L, 500000L),
        ("cjj0", 10L, 100L, 0L, 0L, 0L),
        ("n2", 2L, 100L, 100L, 50L, 500000L),
        ("exact", 10L, 25L, 100L, 50L, 500000L))
      .toDF("pair", "n", "cyy", "cjj", "cjy", "beta_ppm")
    val out = Causal.waldK1(betas).collect()
      .map(r => r.getAs[String]("pair") -> r).toMap
    def long(p: String, c: String): Option[Long] = {
      val r = out(p)
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Long](c))
    }
    // rss = 10⁶·100 − 500000·50 = 75,000,000;
    // se² = (10⁶·rss) div ((10 − 2)·100) = 93,750,000,000;
    // t² = (1000·500000²) div se² = 2,666.67 → 2,666
    assert(out("fit").getAs[java.math.BigDecimal]("rss_scaled").longValue
      == 75000000L)
    assert(long("fit", "se2_ppm2") == Some(93750000000L))
    assert(long("fit", "t2_milli") == Some(2666L))
    // cjj = 0 and dof n − 2 = 0: no se², no t²
    for (p <- Seq("cjj0", "n2"))
      assert(long(p, "se2_ppm2").isEmpty && long(p, "t2_milli").isEmpty, p)
    // an exact fit (rss = 0) has se² = 0, which gives no t²
    assert(long("exact", "se2_ppm2") == Some(0L))
    assert(long("exact", "t2_milli").isEmpty)
  }

  test("wantedPairs: both diagonals and the na <= nb cross pair, once") {
    val w = Causal.wantedPairs(spark, Seq(("X2@0", "X1@0"),
        ("X1@0", "X3@0"), ("X2@0", "X1@0")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(w.sorted == Seq(("X1@0", "X1@0"), ("X1@0", "X2@0"),
      ("X1@0", "X3@0"), ("X2@0", "X2@0"), ("X3@0", "X3@0")))
  }
}
