package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.generate.{Generate, Sinks}
import graft.ops.Lagged
import graft.metrics.Metrics

/** The SURVEY §8.2 minimum end-to-end slice, as one test: config → kernel →
  * CSV persist → scan → lagged view → OLS coefficient recovery → truth-vs-
  * truth metrics F1 = 1 — exercising every module of the spine.
  */
class E2ESpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("A1 4-var lag-2: generate → persist → scan → analyze → score") {
    val cfg = Grid.forFamily("A1").find(c =>
      c.nPoints == 5000 && c.nVars == 4 && c.maxLag == 2 && c.noiseType == "gaussian").get

    // generate + persist CSV corpus
    val rows = Generate.series(spark, Seq(cfg))
    val dir = Files.createTempDirectory("e2e").toString
    Sinks.writeCsvCorpus(rows, Seq(cfg), dir, missing = false)
    val csv = s"$dir/${Sinks.relPath(cfg, missing = false)}"
    assert(new java.io.File(csv).isFile)

    // scan back (S6) and build the lagged view (R1)
    val df = Sinks.readWideCsv(spark, csv).withColumn("ds", lit(1))
    val lagged = Lagged.laggedView(df, Seq("ds"), "time", Seq("X1", "X2", "X3", "X4"), 2)
    assert(lagged.count() == 4998)

    // OLS: X1 = 0.4 * X2[t] (a1.py:28); X4 = 0.25 * X1[t-2]
    val coefs = lagged.agg(
      expr("regr_slope(X1_0, X2_0)").as("b1"),
      expr("regr_slope(X4_0, X1_2)").as("b2")).collect()(0)
    assert(math.abs(coefs.getDouble(0) - 0.4) < 0.05, s"b1=${coefs.getDouble(0)}")
    assert(math.abs(coefs.getDouble(1) - 0.25) < 0.05, s"b2=${coefs.getDouble(1)}")

    // truth-vs-truth through the metrics path: F1 = 1, SHD = 0
    import spark.implicits._
    val links = spark.createDataset(Parser.truthLinks("A1", 4, 2))
      .withColumn("graphId", lit("g")).select("graphId", "source", "target", "lag")
    val totals = Seq(("g", 4 * 4 * 3)).toDF("graphId", "total")
    val scored = Metrics.f1(Metrics.tprFdr(Metrics.confusion(links, links, totals))).collect()(0)
    assert(scored.getAs[Double]("f1") == 1.0 && scored.getAs[Double]("tpr") == 1.0)
    assert(Metrics.shdXor(links, links).collect()(0).getAs[Long]("shd") == 0L)

    // structure + tensor sinks render without error
    Sinks.writeStructureText("A1", 4, 2, s"$dir/structure.txt")
    val (vals, graph, p) = Sinks.truthTensors("A1", 4, 2)
    Sinks.writeNpy(s"$dir/val_matrix.npy", Seq(p, p, 3), vals)
    Sinks.writeNpyBool(s"$dir/graph_matrix.npy", Seq(p, p, 3), graph)
    assert(new java.io.File(s"$dir/val_matrix.npy").length() > 128)
  }

  test("shipped-artifact loop (q325): the structure-file edge X3->X2 is " +
      "recovered from the shipped masked CSV, and truth flags come only " +
      "from the parsed file") {
    System.setProperty("graft.gen.dir", Files.createTempDirectory("e2e_q325").toString)
    val rows = SparkEntry.queries("q325_granger_on_shipped")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 12) // 4 series, ordered pairs
    val byPair = rows.map(r => (r.getAs[String]("cause"),
      r.getAs[String]("effect")) ->
      (r.getAs[Int]("granger"), r.getAs[Int]("truth_lag1"))).toMap
    // the shipped D3 structure txt declares exactly one lag-1 edge
    assert(byPair.count(_._2._2 == 1) == 1)
    assert(byPair(("X3", "X2")) == (1, 1),
      "the declared lag-1 edge must be both flagged and true")
  }

  test("shipped-tree census (q312): only the four grammars' funcs appear, " +
      "lags are non-negative, and the census is non-trivial") {
    val rows = SparkEntry.queries("q312_structure_parse_census")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val allowedFuncs = Set("linear", "cos", "sin", "confounder") ++
      (2 to 3).map(p => s"power$p")
    rows.foreach { r =>
      assert(allowedFuncs.contains(r.getAs[String]("func")),
        s"unexpected func ${r.getAs[String]("func")}")
      assert(r.getAs[Long]("lag") >= 0)
      assert(r.getAs[Long]("n_links") > 0)
    }
    // the shipped tree carries thousands of link lines
    assert(rows.map(_.getAs[Long]("n_links")).sum > 5000)
  }

  test("determinism end-to-end: same config twice gives identical rows") {
    val cfg = Grid.forFamily("D3C").head.copy(nPoints = 500)
    import spark.implicits._
    val a = Generate.series(spark, Seq(cfg)).collect().sortBy(_.t)
    val b = Generate.series(spark, Seq(cfg)).collect().sortBy(_.t)
    assert(a.toSeq == b.toSeq)
  }

  test("LSH near-dup scale path finds planted near-duplicates") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 32
    val base = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val vecs = (0L until 100L).map { i =>
      if (i < 2) (i, base.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
      else (i, Array.fill(dim)(rnd.nextGaussian().toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val pairs = graft.sim.Similarity.embeddingNearDupsLsh(df, "vec_id", "embedding", dim, 0.95)
      .collect()
    assert(pairs.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L),
      "planted near-dup pair (0,1) must be found")
  }

  test("plot sinks: all five reference figure families render to real PNGs") {
    import graft.generate.{PlotReady, PlotSink}
    val dir = Files.createTempDirectory("plots").toString
    val vars4 = (1 to 4).map(i => s"X$i")

    // series + trend from a C1 config (c1.py:390-411, a1.py:286-295)
    val cfgC1 = Grid.forFamily("C1").find(c =>
      c.nPoints == 1000 && c.nVars == 4 && c.maxLag == 2).get
    val wide = Generate.wideFast(spark, Seq(cfgC1))
    val sRows = PlotReady.seriesSample(wide, vars4, 10).collect()
      .map(r => (r.getString(0), r.getDouble(2), r.getDouble(3))).toSeq
    PlotSink.series(sRows, "C1 n1000 vars4 lag2", s"$dir/series.png")
    val fits = PlotReady.trendFitExact(wide, vars4).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    PlotSink.trend(sRows, fits, "C1 trend decomposition", s"$dir/trend.png")

    // causal graph from the truth links (a1.py:272-282)
    val links = Parser.truthLinks("A1", 4, 2).map(l => (l.source, l.lag, l.target))
    PlotSink.causalGraph(vars4, links, "A1 causal graph", s"$dir/graph.png")

    // missing-pattern heatmap + sampling histogram from D3C (d3c.py:487-510)
    val cfgD = Grid.forFamily("D3C").find(c =>
      c.nPoints == 3000 && c.nVars == 6 && c.maxLag == 2).get
    val wideD = Generate.wideFast(spark, Seq(cfgD))
    val cells = PlotReady.missingPatternCounts(
        Generate.missingView(wideD), (1 to 6).map(i => s"X$i"), 50).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    PlotSink.missingPattern(cells, "D3C missing pattern", s"$dir/missing.png")
    val bars = PlotReady.samplingIntervalHist(wideD, 0.002).collect()
      .map(r => (r.getDouble(1), r.getLong(2))).toSeq
    PlotSink.histogram(bars, 0.002, "D3C sampling intervals", s"$dir/hist.png")

    // every artifact must be a real decodable PNG with actual ink on it
    for (f <- Seq("series", "trend", "graph", "missing", "hist")) {
      val bytes = Files.readAllBytes(java.nio.file.Paths.get(s"$dir/$f.png"))
      assert(bytes.length > 2000, s"$f.png is ${bytes.length} bytes")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img.getWidth == 800 && img.getHeight == 600, s"$f.png dims")
      val nonWhite = (for {
        y <- 0 until img.getHeight by 4; x <- 0 until img.getWidth by 4
      } yield img.getRGB(x, y)).count(_ != 0xFFFFFFFF)
      assert(nonWhite > 200, s"$f.png looks blank ($nonWhite inked samples)")
    }

    // ---- structural golden checks: the ink must sit WHERE the oracled
    // aggregates say, per figure family — decoded-raster parity with the
    // data, not matplotlib byte parity (SURVEY §3.1 keeps pixels out of
    // engine scope; geometry is still pinned). The affine transform is
    // replicated from PlotSink's fixed 800×600 canvas contract.
    val (mL, mR, mT, mB) = (60, 20, 34, 46)
    def span(lo: Double, hi: Double) = math.max(1e-12, hi - lo)
    def sx(x: Double, x0: Double, x1: Double) =
      mL + ((x - x0) / span(x0, x1) * (800 - mL - mR)).toInt
    def sy(y: Double, y0: Double, y1: Double) =
      600 - mB - ((y - y0) / span(y0, y1) * (600 - mT - mB)).toInt
    def raster(f: String) =
      javax.imageio.ImageIO.read(new java.io.File(s"$dir/$f.png"))
    def inkNear(img: java.awt.image.BufferedImage, x: Int, y: Int,
        r: Int): Boolean =
      (for { dy <- -r to r; dx <- -r to r } yield (x + dx, y + dy)).exists {
        case (px, py) => px >= 0 && px < 800 && py >= 0 && py < 600 &&
          img.getRGB(px, py) != 0xFFFFFFFF
      }

    // 1. series: every sampled (time, value) lies on its variable's
    // polyline — ink within 2px of each projected sample point
    locally {
      val img = raster("series")
      val (x0, x1) = (sRows.map(_._2).min, sRows.map(_._2).max)
      val (y0, y1) = (sRows.map(_._3).min, sRows.map(_._3).max)
      val missed = sRows.filterNot { case (_, x, y) =>
        inkNear(img, sx(x, x0, x1), sy(y, y0, y1), 2) }
      assert(missed.isEmpty,
        s"series.png: ${missed.size}/${sRows.size} sample points un-inked")
    }

    // 2. trend: the scatter dots AND the fitted line both land where the
    // exact-integer fit says
    locally {
      val img = raster("trend")
      val (x0, x1) = (sRows.map(_._2).min, sRows.map(_._2).max)
      val (y0, y1) = (sRows.map(_._3).min, sRows.map(_._3).max)
      val missedDots = sRows.filterNot { case (_, x, y) =>
        inkNear(img, sx(x, x0, x1), sy(y, y0, y1), 2) }
      assert(missedDots.isEmpty, s"trend.png: ${missedDots.size} dots missing")
      for ((v, (sm, im)) <- fits) {
        val (sl, ic) = (sm / 1000.0, im / 1000.0)
        val probes = (0 to 10).map(i => x0 + (x1 - x0) * i / 10.0)
          .filter(x => { val y = sl * x + ic; y >= y0 && y <= y1 })
        val missedLine = probes.filterNot(x =>
          inkNear(img, sx(x, x0, x1), sy(sl * x + ic, y0, y1), 3))
        assert(missedLine.isEmpty,
          s"trend.png: $v fit line missing at x=$missedLine")
      }
    }

    // 3. graph: every node disc sits at its circular-layout position (exact
    // fill color above the label glyphs), every edge has ink at its midpoint
    locally {
      val img = raster("graph")
      val (cx, cy, r) = (400.0, 300.0, math.min(800, 600) / 2.0 - 80)
      val pos = vars4.zipWithIndex.map { case (n, i) =>
        val a = 2 * math.Pi * i / vars4.size
        n -> ((cx + r * math.cos(a), cy + r * math.sin(a)))
      }.toMap
      for ((n, (x, y)) <- pos)
        assert(img.getRGB(x.toInt, y.toInt - 12) ==
          new java.awt.Color(173, 216, 230).getRGB,
          s"graph.png: node $n disc not at circular-layout position")
      for ((src, _, tgt) <- links if src != tgt;
           (xa, ya) = pos(src); (xb, yb) = pos(tgt))
        assert(inkNear(img, ((xa + xb) / 2).toInt, ((ya + yb) / 2).toInt, 3),
          s"graph.png: edge $src->$tgt has no ink at its midpoint")
    }

    // 4. missing heatmap: each (variable, bucket) cell center carries the
    // EXACT white→red ramp color its missing fraction implies
    locally {
      val img = raster("missing")
      val vars = cells.map(_._1).distinct.sorted
      val buckets = cells.map(_._2).distinct.sorted
      val cw = (800 - mL - mR).toDouble / buckets.size
      val ch = (600 - mT - mB).toDouble / vars.size
      val bIdx = buckets.zipWithIndex.toMap
      val vIdx = vars.zipWithIndex.toMap
      val bad = cells.filter { case (v, b, nMiss, nTot) =>
        val frac = if (nTot == 0) 0.0 else nMiss.toDouble / nTot
        val want = new java.awt.Color(255,
          (255 * (1 - frac) * 0.85 + 38).toInt.min(255),
          (255 * (1 - frac) * 0.85 + 40).toInt.min(255)).getRGB
        val px = (mL + (bIdx(b) + 0.5) * cw).toInt
        val py = (mT + (vIdx(v) + 0.5) * ch).toInt
        img.getRGB(px, py) != want
      }
      assert(bad.isEmpty,
        s"missing.png: ${bad.size}/${cells.size} cells off-ramp: ${bad.take(3)}")
    }

    // 5. histogram: every non-empty bar is solid palette blue just above
    // the baseline, and white just above its own top edge
    locally {
      val img = raster("hist")
      val bw = 0.002
      val x0 = bars.map(_._1).min; val x1 = bars.map(_._1).max + bw
      val yMax = bars.map(_._2).max.toDouble
      val blue = new java.awt.Color(31, 119, 180).getRGB
      for ((lo, n) <- bars if n > 0) {
        val xa = sx(lo, x0, x1)
        val yt = sy(n.toDouble, 0, yMax)
        assert(img.getRGB(xa + 1, 600 - mB - 2) == blue,
          s"hist.png: bar at $lo not filled above the baseline")
        if (yt > mT + 6)
          assert(img.getRGB(xa + 1, yt - 4) == 0xFFFFFFFF,
            s"hist.png: bar at $lo overshoots its count height")
      }
    }
  }

  test("every driver query has an oracle, and the oracle map builds " +
      "without the shipped corpus") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }
}
