package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.generate.{Generate, Panels}
import graft.metrics.Causal

/** Structural edge-weight recovery (Causal.laggedCrossMoments +
  * structuralBetas, q351-q353): pinned here —
  *  - the integer Cramer pipeline equals a driver-side double OLS on a
  *    planted two-regressor model (k=1 and k=2 branches);
  *  - the common-window contract (every moment pair shares one n);
  *  - recovery on REAL generated data: the A1 6-var cell's live
  *    coefficients within 5% of scale, the §2.4-2 dead contemporaneous
  *    link measured at ≈0 against a declared 0.85;
  *  - the strict-kernel contrast (q353): strict mode restores the dead
  *    link's declared weight and leaves every other beta bit-identical;
  *  - Parser.effectiveLinks' dead-link census per A-family cell.
  */
class StructuralBetasSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def betasFor(panel: DataFrame, links: Seq[(String, String, Option[String])],
      windowLo: Int, windowHi: Int,
      specs: Seq[(String, Int)]): Map[(String, String), Long] = {
    import spark.implicits._
    val linksDf = links.toDF("target", "x", "sib")
      .withColumn("y", concat(col("target"), lit("@0")))
    val mom = Causal.laggedCrossMoments(panel, specs,
      col("t").between(windowLo, windowHi))
    Causal.structuralBetas(mom, linksDf)
      .select("target", "x", "beta_ppm").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
  }

  test("integer Cramer betas equal a driver-side double OLS on a planted " +
      "two-regressor model (k=1 and k=2 branches)") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    val n = 400
    val x1 = Array.fill(n)(rnd.nextGaussian() * 100)
    val x2 = Array.fill(n)(rnd.nextGaussian() * 100)
    val y = Array.tabulate(n)(t =>
      if (t < 2) rnd.nextGaussian() * 10
      else 0.5 * x1(t - 1) - 0.25 * x2(t - 2) + rnd.nextGaussian() * 10)
    val z = Array.tabulate(n)(t =>
      if (t < 1) rnd.nextGaussian() * 10
      else 0.7 * x1(t - 1) + rnd.nextGaussian() * 10)
    def q(v: Double): Long = math.floor(v * 10).toLong
    val rows =
      (0 until n).flatMap(t => Seq(
        ("x1", t.toLong, q(x1(t))), ("x2", t.toLong, q(x2(t))),
        ("y", t.toLong, q(y(t))), ("z", t.toLong, q(z(t)))))
    val panel = rows.toDF("series", "day", "v")
    val specs = Seq(("y", 0), ("z", 0), ("x1", 1), ("x2", 2))
    val got = betasFor(panel,
      Seq(("y", "x1@1", Some("x2@2")), ("y", "x2@2", Some("x1@1")),
        ("z", "x1@1", None)),
      windowLo = 2, windowHi = n - 1, specs = specs)

    // driver-side double OLS on the SAME quantized window
    val w = (2 until n).toArray
    def series(name: String, lag: Int): Array[Double] = name match {
      case "x1" => w.map(t => q(x1(t - lag)).toDouble)
      case "x2" => w.map(t => q(x2(t - lag)).toDouble)
      case "y"  => w.map(t => q(y(t)).toDouble)
      case "z"  => w.map(t => q(z(t)).toDouble)
    }
    def c(a: Array[Double], b: Array[Double]): Double = {
      val m = a.length.toDouble
      m * a.zip(b).map(p => p._1 * p._2).sum - a.sum * b.sum
    }
    val (ya, za, x1a, x2a) =
      (series("y", 0), series("z", 0), series("x1", 1), series("x2", 2))
    val det = c(x1a, x1a) * c(x2a, x2a) - c(x1a, x2a) * c(x1a, x2a)
    val b1 = (c(x2a, x2a) * c(x1a, ya) - c(x1a, x2a) * c(x2a, ya)) / det
    val b2 = (c(x1a, x1a) * c(x2a, ya) - c(x1a, x2a) * c(x1a, ya)) / det
    val bz = c(x1a, za) / c(x1a, x1a)
    val unusedYa = ya // ya documents the regressand; moments read it via specs
    assert(unusedYa.length == n - 2)
    assert(math.abs(got(("y", "x1@1")) / 1e6 - b1) < 1e-3, s"b1 vs $b1")
    assert(math.abs(got(("y", "x2@2")) / 1e6 - b2) < 1e-3, s"b2 vs $b2")
    assert(math.abs(got(("z", "x1@1")) / 1e6 - bz) < 1e-3, s"bz vs $bz")
    assert(math.abs(got(("y", "x1@1")) / 1e6 - 0.5) < 0.05)
    assert(math.abs(got(("y", "x2@2")) / 1e6 + 0.25) < 0.05)
    assert(math.abs(got(("z", "x1@1")) / 1e6 - 0.7) < 0.05)
  }

  test("structuralBetas lookups: a k=1 link reads C_xx and C_yy for its " +
      "x–sib and sib–y moments, a link without moment rows gets NULLs, " +
      "and extra link columns pass through in order") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val panel = (0 until 120).flatMap(t => Seq(
        ("a", t.toLong, rnd.nextInt(1000).toLong),
        ("b", t.toLong, rnd.nextInt(1000).toLong)))
      .toDF("series", "day", "v")
    val mom = Causal.laggedCrossMoments(panel, Seq(("a", 0), ("b", 1)),
      col("t").between(1, 119))
    val c = mom.collect().map(r =>
      (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val linksDf = Seq(
        ("p1", 7, "a@0", "b@1", None: Option[String], 1.5),
        ("p2", 8, "a@0", "zz@1", None: Option[String], 2.5))
      .toDF("pair", "tier", "y", "x", "sib", "w")
    val out = Causal.structuralBetas(mom, linksDf)
    assert(out.columns.toSeq == linksDf.columns.toSeq ++
      Seq("n", "cyy", "cjj", "cjy", "css", "cjs", "csy", "beta_ppm"))
    val got = out.collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("p1", "p2"))
    val k1 = got("p1")
    assert(k1.getInt(1) == 7 && k1.getDouble(5) == 1.5)
    val (n, cyy) = c(("a@0", "a@0"))
    val cjj = c(("b@1", "b@1"))._2
    val cjy = c(("a@0", "b@1"))._2
    assert(k1.getAs[Long]("n") == n && k1.getAs[Long]("cyy") == cyy)
    assert(k1.getAs[Long]("cjj") == cjj && k1.getAs[Long]("cjy") == cjy)
    assert(k1.isNullAt(k1.fieldIndex("css")))
    assert(k1.getAs[Long]("cjs") == cjj, "x–sib of a NULL sib reads C_xx")
    assert(k1.getAs[Long]("csy") == cyy, "sib–y of a NULL sib reads C_yy")
    assert(k1.getAs[Long]("beta_ppm") ==
      (BigInt(1000000) * cjy / cjj).toLong)
    // zz@1 is no virtual series: every lookup through x misses
    val miss = got("p2")
    assert(miss.getAs[Long]("cyy") == cyy)
    Seq("cjj", "cjy", "css", "cjs", "beta_ppm").foreach { f =>
      assert(miss.isNullAt(miss.fieldIndex(f)), s"$f of a missing pair")
    }
    assert(miss.getAs[Long]("csy") == cyy)
  }

  test("laggedCrossMoments common window: every pair carries the same n") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val panel = (0 until 300).flatMap(t => Seq(
        ("a", t.toLong, rnd.nextInt(1000).toLong),
        ("b", t.toLong, rnd.nextInt(1000).toLong),
        ("c", t.toLong, rnd.nextInt(1000).toLong)))
      .toDF("series", "day", "v")
    val mom = Causal.laggedCrossMoments(panel,
      Seq(("a", 0), ("b", 1), ("c", 3), ("a", 2)),
      col("t").between(3, 299))
    val ns = mom.select("n").distinct().collect().map(_.getLong(0))
    assert(ns.toSeq == Seq(297L), s"inconsistent pair windows: ${ns.toSeq}")
    // 4 virtual series -> 10 unordered pairs incl. diagonals
    assert(mom.count() == 10)
  }

  test("A1 6-var cell: live coefficients recover within 5% of scale; the " +
      "dead contemporaneous X5->X6 link (declared 0.85) measures ~0") {
    val cfg = Grid.forFamily("A1").find(c =>
      c.nPoints == 5000 && c.nVars == 6 && c.maxLag == 2
        && c.noiseType == "gaussian").get
    val rows = checkCell(cfg, strict = false)
    rows.foreach { case (src, lag, tgt, eff, beta) =>
      assert(math.abs(beta - eff) < 50000,
        s"$src@$lag->$tgt: beta $beta vs effective $eff")
    }
    val dead = rows.find(r => r._1 == "X5" && r._2 == 0 && r._3 == "X6").get
    assert(dead._4 == 0L && math.abs(dead._5) < 60000)
  }

  test("strict kernel restores the dead link's declared weight and leaves " +
      "every other beta bit-identical (q353 contrast)") {
    val cfg = Grid.forFamily("A1").find(c =>
      c.nPoints == 5000 && c.nVars == 6 && c.maxLag == 2
        && c.noiseType == "gaussian").get
    val dflt = checkCell(cfg, strict = false)
      .map(r => (r._1, r._2, r._3) -> r._5).toMap
    val strict = checkCell(cfg, strict = true)
      .map(r => (r._1, r._2, r._3) -> r._5).toMap
    assert(math.abs(strict(("X5", 0, "X6")) - 850000L) < 50000)
    dflt.keys.filterNot(_ == ("X5", 0, "X6")).foreach { k =>
      assert(dflt(k) == strict(k), s"$k moved across kernels")
    }
  }

  test("integer Wald inference equals driver-side double OLS standard " +
      "errors and t² on the planted model (k=1 and k=2 branches)") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    val n = 400
    val x1 = Array.fill(n)(rnd.nextGaussian() * 100)
    val x2 = Array.fill(n)(rnd.nextGaussian() * 100)
    val y = Array.tabulate(n)(t =>
      if (t < 2) rnd.nextGaussian() * 10
      else 0.5 * x1(t - 1) - 0.25 * x2(t - 2) + rnd.nextGaussian() * 10)
    val z = Array.tabulate(n)(t =>
      if (t < 1) rnd.nextGaussian() * 10
      else 0.7 * x1(t - 1) + rnd.nextGaussian() * 10)
    def q(v: Double): Long = math.floor(v * 10).toLong
    val panel = (0 until n).flatMap(t => Seq(
        ("x1", t.toLong, q(x1(t))), ("x2", t.toLong, q(x2(t))),
        ("y", t.toLong, q(y(t))), ("z", t.toLong, q(z(t)))))
      .toDF("series", "day", "v")
    val linksDf = Seq(
        ("y", "x1@1", Some("x2@2")), ("y", "x2@2", Some("x1@1")),
        ("z", "x1@1", None))
      .toDF("target", "x", "sib")
      .withColumn("y", concat(col("target"), lit("@0")))
    val mom = Causal.laggedCrossMoments(panel,
      Seq(("y", 0), ("z", 0), ("x1", 1), ("x2", 2)),
      col("t").between(2, n - 1))
    val got = Causal.structuralInference(
        Causal.structuralBetas(mom, linksDf))
      .select("target", "x", "k_parents", "se2_ppm2", "t2_milli")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap

    // double-precision OLS inference on the SAME quantized window
    val w = (2 until n).toArray
    val m = w.length.toDouble
    def series(name: String, lag: Int): Array[Double] = name match {
      case "x1" => w.map(t => q(x1(t - lag)).toDouble)
      case "x2" => w.map(t => q(x2(t - lag)).toDouble)
      case "y"  => w.map(t => q(y(t)).toDouble)
      case "z"  => w.map(t => q(z(t)).toDouble)
    }
    def s(a: Array[Double], b: Array[Double]): Double = {
      val mu = (a.sum / a.length, b.sum / b.length)
      a.zip(b).map(p => (p._1 - mu._1) * (p._2 - mu._2)).sum
    }
    val (ya, za, x1a, x2a) =
      (series("y", 0), series("z", 0), series("x1", 1), series("x2", 2))
    val detS = s(x1a, x1a) * s(x2a, x2a) - s(x1a, x2a) * s(x1a, x2a)
    val b1 = (s(x2a, x2a) * s(x1a, ya) - s(x1a, x2a) * s(x2a, ya)) / detS
    val b2 = (s(x1a, x1a) * s(x2a, ya) - s(x1a, x2a) * s(x1a, ya)) / detS
    val bz = s(x1a, za) / s(x1a, x1a)
    def check(key: (String, String), varBeta: Double, beta: Double,
        k: Long): Unit = {
      val (kGot, se2, t2) = got(key)
      assert(kGot == k, s"$key k_parents $kGot vs $k")
      assert(math.abs(se2 - 1e12 * varBeta) < 0.01 * 1e12 * varBeta + 2,
        s"$key se2_ppm2 $se2 vs ${1e12 * varBeta}")
      val t2d = 1000.0 * beta * beta / varBeta
      assert(math.abs(t2 - t2d) < 0.02 * t2d + 2, s"$key t2 $t2 vs $t2d")
    }
    val rssY = s(ya, ya) - b1 * s(x1a, ya) - b2 * s(x2a, ya)
    val sig2Y = rssY / (m - 3)
    check(("y", "x1@1"), sig2Y * s(x2a, x2a) / detS, b1, 2L)
    check(("y", "x2@2"), sig2Y * s(x1a, x1a) / detS, b2, 2L)
    val rssZ = s(za, za) - bz * s(x1a, za)
    check(("z", "x1@1"), (rssZ / (m - 2)) / s(x1a, x1a), bz, 1L)
  }

  test("q363: every live A1 link tests significant at 5% Wald; the dead " +
      "X5->X6 link does not — orders-of-magnitude t² separation") {
    val rows = SparkEntry.queries("q363_beta_ttest")(spark, "unused")
      .collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      val (eff, t2, sig) = (r.getAs[Long]("effective_ppm"),
        r.getAs[Long]("t2_milli"), r.getAs[Int]("significant"))
      assert(r.getAs[Long]("se2_ppm2") > 0)
      if (eff != 0) {
        assert(sig == 1 && t2 > 100000L,
          s"live ${r.getAs[String]("source")}->${r.getAs[String]("target")}" +
            s" t2_milli $t2")
      } else {
        assert(sig == 0 && t2 <= 3841L,
          s"dead link t2_milli $t2 reads significant")
      }
    }
  }

  test("q365: block-missing D2/D2C complete-case recovery — every link " +
      "within 4 se of effective truth (the n-collapse cells included), " +
      "well-populated cells within 10% of scale") {
    val rows = SparkEntry
      .queries("q365_block_missing_recovery")(spark, "unused").collect()
    assert(rows.length == 18)
    rows.foreach { r =>
      val (n, t2, err) = (r.getAs[Long]("complete_n"),
        r.getAs[Long]("max_diff_t2_milli"),
        r.getAs[Long]("mean_abs_err_ppm"))
      assert(n >= 400, s"complete_n $n collapsed below the statistical floor")
      // 4σ in milli-t² units: the calibration claim that survives the
      // block-aliasing n collapse (measured max 10.8 at 3.3σ)
      assert(t2 <= 16000, s"a beta sits ${t2 / 1000.0} t² from truth")
      if (n >= 5000) assert(err <= 100000,
        s"well-populated cell (n=$n) mean err $err ppm")
    }
  }

  test("q366: every live link's lag is identified exactly by the RSS " +
      "sweep with a decisive gap; the dead link's profile is flat") {
    val rows = SparkEntry
      .queries("q366_lag_identification")(spark, "unused").collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      val (eff, ident, gap) = (r.getAs[Long]("effective_ppm"),
        r.getAs[Int]("identified"), r.getAs[Long]("gap_permille"))
      if (eff != 0) {
        assert(ident == 1,
          s"${r.getAs[String]("source")}->${r.getAs[String]("target")} " +
            s"best_lag ${r.getAs[Int]("best_lag")} vs " +
            s"true ${r.getAs[Int]("true_lag")}")
        assert(gap >= 50, s"indecisive identification: gap $gap permille")
      } else {
        assert(gap <= 5, s"dead link shows an RSS structure: gap $gap")
      }
    }
  }

  test("q367: one-step-ahead 95% prediction intervals calibrate out of " +
      "sample on every target (X6's noise-floor model included)") {
    val rows = SparkEntry
      .queries("q367_forecast_calibration")(spark, "unused").collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      val cp = r.getAs[Long]("cover_permille")
      assert(cp >= 930 && cp <= 970,
        s"${r.getAs[String]("target")}: coverage $cp permille off nominal")
      assert(r.getAs[Long]("n_test") == 2500L)
    }
  }

  test("q368 stream ≡ batch: final inference emissions equal the " +
      "windowed structuralInference bitwise; verdicts sharpen with n") {
    val rows = SparkEntry
      .queries("q368_stream_inference")(spark, "unused").collect()
    assert(rows.length == 21)
    // the dead link never tests significant at any prefix
    rows.filter(_.getAs[Long]("effective_ppm") == 0L).foreach { r =>
      assert(r.getAs[Int]("significant") == 0,
        s"dead link significant at n=${r.getAs[Long]("n")}")
    }
    val fin = rows.filter(_.getAs[Long]("n") == 398L)
    assert(fin.length == 7)
    fin.filter(_.getAs[Long]("effective_ppm") != 0L).foreach { r =>
      assert(r.getAs[Int]("significant") == 1)
    }
    // the weakest link (X1@2 -> X4) FLIPS: not significant on the
    // 48-row prefix, significant on the full window
    val weak = rows.filter(r => r.getAs[String]("target") == "X4" &&
      r.getAs[String]("source") == "X1")
    assert(weak.find(_.getAs[Long]("n") == 48L)
      .get.getAs[Int]("significant") == 0)
    assert(weak.find(_.getAs[Long]("n") == 398L)
      .get.getAs[Int]("significant") == 1)
    // bitwise parity with the WINDOWED inference operator at full n
    val gen = spark.read.parquet(SparkEntry.genDir + "/q368_gen")
    val panel = (1 to 6).map(i =>
      gen.select(lit(s"X$i").as("series"), col("t").as("day"),
        floor(col(s"X$i") * 1000).cast("long").as("v")))
      .reduce(_ unionByName _)
    val links = SparkEntry.weightLinks("", "A1", 6, 2)
    val batch = Causal.structuralInference(Causal.structuralBetas(
        Causal.laggedCrossMoments(panel, SparkEntry.weightSpecs(links),
          col("t").between(2, 399)),
        SparkEntry.weightLinksDf(spark, links)))
      .select("target", "x", "se2_ppm2", "t2_milli").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val xOf = links.map(l => (l.target, l.source) -> l.x).toMap
    fin.foreach { r =>
      val key = (r.getAs[String]("target"),
        xOf((r.getAs[String]("target"), r.getAs[String]("source"))))
      assert(batch(key) ==
        (r.getAs[Long]("se2_ppm2"), r.getAs[Long]("t2_milli")),
        s"stream/batch inference mismatch at $key")
    }
  }

  test("q369: the maximal D3/D3C composition recovers every func-link " +
      "weight within 4 se of effective truth; complete-case n stays " +
      "above the statistical floor on all 24 graphs") {
    val rows = SparkEntry
      .queries("q369_maximal_recovery")(spark, "unused").collect()
    assert(rows.length == 24)
    rows.foreach { r =>
      val (n, t2, err) = (r.getAs[Long]("complete_n"),
        r.getAs[Long]("max_diff_t2_milli"),
        r.getAs[Long]("mean_abs_err_ppm"))
      assert(n >= 40, s"complete_n $n below the floor")
      assert(t2 <= 16000, s"a beta sits ${t2 / 1000.0} t² from truth")
      if (n >= 150) assert(err <= 25000,
        s"well-populated cell (n=$n) mean err $err ppm")
    }
  }

  test("q372: blind harmonic estimation recovers trend + all four " +
      "seasonal coefficients on every in-model series; power-term " +
      "targets absorb transmitted polynomial trend (the model-class " +
      "boundary as data)") {
    val rows = SparkEntry
      .queries("q372_harmonic_estimation")(spark, "unused").collect()
    assert(rows.length == 30)
    rows.foreach { r =>
      val (comp, ok, err, truth) = (r.getAs[String]("component"),
        r.getAs[Int]("in_model"), r.getAs[Long]("abs_err_ppm"),
        r.getAs[Long]("truth_ppm"))
      if (ok == 1) {
        if (comp == "trend")
          assert(err <= math.abs(truth) / 20,
            s"${r.getAs[String]("series")} trend err $err vs $truth")
        else assert(err <= 60000,
          s"${r.getAs[String]("series")} $comp err $err")
      } else if (comp == "trend") {
        // X1/X3 carry X2³/X4² — polynomial trend outside the basis;
        // the linear slope must visibly absorb it
        assert(err > math.abs(truth),
          s"expected trend absorption on a power-term target, err $err")
      }
    }
    assert(rows.count(_.getAs[Int]("in_model") == 0) == 10)
  }

  test("q373: the blind estimate->adjust->recover pipeline tracks the " +
      "known-detrending twin on in-model targets and collapses on the " +
      "power-term targets — adjustment error priced per link") {
    val rows = SparkEntry
      .queries("q373_blind_adjusted_recovery")(spark, "unused").collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      val (ok, drift) = (r.getAs[Int]("in_model"),
        r.getAs[Long]("blind_vs_known_ppm"))
      if (ok == 1) assert(drift <= 60000,
        s"${r.getAs[String]("source")}->${r.getAs[String]("target")} " +
          s"blind drift $drift ppm")
      else assert(drift >= 200000,
        s"expected the power-term collapse, drift $drift")
    }
    // the known twin itself recovers effective truth (q361's contract)
    rows.filter(_.getAs[Int]("in_model") == 1).foreach { r =>
      assert(math.abs(r.getAs[Long]("beta_known_ppm") -
        r.getAs[Long]("effective_ppm")) < 20000)
    }
  }

  test("q375: the blind pipeline survives the irregular clock (C2) — " +
      "continuous-τ basis + nearest-lag regressors; in-model drift " +
      "bounded, power-term collapse preserved, dead link stays dead") {
    val rows = SparkEntry
      .queries("q375_blind_harmonic_irregular")(spark, "unused").collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      val (ok, drift) = (r.getAs[Int]("in_model"),
        r.getAs[Long]("blind_vs_known_ppm"))
      if (ok == 1) assert(drift <= 60000,
        s"${r.getAs[String]("source")}->${r.getAs[String]("target")} " +
          s"blind drift $drift ppm")
      else assert(drift >= 200000,
        s"expected the power-term collapse, drift $drift")
    }
    // the known twin recovers EFFECTIVE truth through the nearest-lag
    // alignment (q356's contract) — including the dead X5->X6 at 0
    rows.filter(_.getAs[Int]("in_model") == 1).foreach { r =>
      assert(math.abs(r.getAs[Long]("beta_known_ppm") -
        r.getAs[Long]("effective_ppm")) < 20000)
    }
  }

  test("effectiveLinks dead-contemporaneous census per A-family cell") {
    def deadCount(family: String, nVars: Int, maxLag: Int): Int =
      Parser.effectiveLinks(family, nVars, maxLag)
        .count(l => l.coef == 0.0 && l.source != "U")
    assert(deadCount("A1", 4, 2) == 0)
    assert(deadCount("A1", 6, 2) == 1) // X5->X6@0
    assert(deadCount("A1", 8, 2) == 2) // X7->X8@0, X5->X6@0
    assert(deadCount("A1C", 6, 2) == 0) // ToposortRetry resolves
    // declared coefs untouched elsewhere
    val eff = Parser.effectiveLinks("A1", 6, 2)
      .map(l => (l.source, l.lag, l.target) -> l.coef).toMap
    assert(eff(("X5", 0, "X6")) == 0.0)
    assert(eff(("X4", 0, "X3")) == 0.35)
  }

  test("q354: residual variance recovers the generator's σ=0.1 " +
      "(σ²_v = 10⁴ milli²) within 3% on every target; the dead-link " +
      "target X6 reads r²≈0 with a full noise floor") {
    val rows = SparkEntry.queries("q354_noise_recovery")(spark, "unused")
      .collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      val s2 = r.getAs[Long]("sigma2_v")
      assert(math.abs(s2 - 10000L) < 300,
        s"${r.getAs[String]("target")}: sigma2_v $s2")
    }
    val x6 = rows.find(_.getAs[String]("target") == "X6").get
    assert(x6.getAs[Long]("r2_permille") <= 1)
  }

  test("q355: quadratic coefficients recover under BOTH kernels; the " +
      "§2.4-1 dropped cubic reads ≈0 default and ≈declared (negative) " +
      "strict") {
    val rows = SparkEntry
      .queries("q355_power_recovery_contrast")(spark, "unused").collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      val (pow, dec, bd, bs) = (r.getAs[Int]("pow"),
        r.getAs[Long]("declared_ppm"),
        r.getAs[Long]("beta_default_ppm"), r.getAs[Long]("beta_strict_ppm"))
      if (pow == 2) {
        assert(math.abs(bd - dec) < 50000, s"default beta2 $bd vs $dec")
        assert(math.abs(bs - dec) < 50000, s"strict beta2 $bs vs $dec")
      } else {
        assert(dec < 0, "cubic terms declare negative coefficients")
        assert(math.abs(bd) < 50000, s"default must drop the cubic: $bd")
        assert(math.abs(bs - dec) < 50000, s"strict beta3 $bs vs $dec")
      }
    }
  }

  test("q356: irregular A2 recovery via the generator's nearest-lag " +
      "alignment lands every declared coefficient within 5% of scale") {
    val rows = SparkEntry
      .queries("q356_weight_recovery_irregular")(spark, "unused").collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      val err = r.getAs[Long]("abs_err_ppm")
      assert(err < 50000, s"${r.getAs[String]("target")}: err $err")
    }
    // the A2 4-var cell has no dead links: LinkPrePass contemporaneous
    // deps here all read higher-indexed (already-computed) targets
    assert(Parser.effectiveLinks("A2", 4, 2) ==
      Parser.truthLinks("A2", 4, 2))
  }

  test("q357: train-half betas generalize — test/train residual-variance " +
      "ratio within ±10% of 1000 permille, both halves on the 1e4 floor") {
    val rows = SparkEntry
      .queries("q357_weight_recovery_holdout")(spark, "unused").collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      val ratio = r.getAs[Long]("ratio_permille")
      assert(ratio > 900 && ratio < 1100,
        s"${r.getAs[String]("target")}: ratio $ratio")
      assert(math.abs(r.getAs[Long]("sigma2_test_v") - 10000L) < 500)
    }
  }

  test("q358 stream ≡ batch: the final emission's betas equal the batch " +
      "moment+Cramer pipeline bitwise") {
    val stream = SparkEntry
      .queries("q358_stream_weight_recovery")(spark, "unused").collect()
    assert(stream.length == 14)
    val fin = stream.filter(_.getAs[Long]("n") == 398L)
      .map(r => (r.getAs[String]("target"), r.getAs[String]("source"),
        r.getAs[Int]("lag")) -> r.getAs[Long]("beta_ppm")).toMap
    assert(fin.size == 7)
    // the batch twin over the SAME dumped rows and window
    val gen = spark.read.parquet(SparkEntry.genDir + "/q358_gen")
    val panel = (1 to 6).map(i =>
      gen.select(lit(s"X$i").as("series"), col("t").as("day"),
        floor(col(s"X$i") * 1000).cast("long").as("v")))
      .reduce(_ unionByName _)
    val links = SparkEntry.weightLinks("", "A1", 6, 2)
    val batch = Causal.structuralBetas(
        Causal.laggedCrossMoments(panel, SparkEntry.weightSpecs(links),
          col("t").between(2, 399)),
        SparkEntry.weightLinksDf(spark, links))
      .select("target", "source", "lag", "beta_ppm").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) ->
        r.getLong(3)).toMap
    assert(fin == batch, s"stream $fin vs batch $batch")
  }

  test("sparse pair-restricted moments equal the dense Gram restricted " +
      "to the wanted pairs (q359's path, shared widePanel input)") {
    import spark.implicits._
    val virt = Panels.widePanel(spark, 8, 150)
      .select(concat(col("series"), lit("@0")).as("vs"),
        col("day").as("t"), col("v"))
    def nm(i: Int) = f"X$i%02d"
    val wanted = (1 until 8).flatMap { i =>
      Seq((s"${nm(i)}@0", s"${nm(i)}@0"),
        (s"${nm(i - 1)}@0", s"${nm(i - 1)}@0"),
        (s"${nm(i - 1)}@0", s"${nm(i)}@0"))
    }.distinct
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val sparse = toMap(Causal.virtualCrossMomentsSparse(virt,
      wanted.toDF("na", "nb"), col("t").between(0, 149)))
    val denseAll = toMap(Causal.virtualCrossMoments(virt,
      col("t").between(0, 149)))
    assert(sparse.keySet == wanted.toSet)
    sparse.foreach { case (k, v) =>
      assert(denseAll(k) == v, s"pair $k: sparse $v vs dense ${denseAll(k)}")
    }
  }

  test("effectiveLinks empirical audit: every link it flags DEAD shows " +
      "~zero sample correlation in generated data; live contemporaneous " +
      "A-family links show strong correlation (dead links are lag-0 by " +
      "construction, so no alignment is needed even for irregular " +
      "families)") {
    // C/D3 (trend/season) excluded: their shared deterministic trend
    // correlates ALL series, so plain corr cannot falsify deadness there
    val cells = for {
      fam <- Seq("A1", "A1C", "A2", "A2C", "B1", "B1C", "B2", "B2C",
        "D1", "D1C")
      v <- Seq(4, 6, 8)
    } yield (fam, v, 2)
    cells.foreach { case (fam, v, lag) =>
      val cfg = Grid.forFamily(fam).find(c =>
        c.nPoints == 3000 && c.nVars == v && c.maxLag == lag &&
          c.noiseType != "student_t").get
      val eff = Parser.effectiveLinks(fam, v, lag)
        .filter(l => l.source != "U" && l.lag == 0)
      if (eff.nonEmpty) {
        val series = Kernel.generate(cfg)
        def colv(name: String): Array[Double] = {
          val i = name.drop(1).toInt - 1
          series.x.map(_(i))
        }
        def corr(a: Array[Double], b: Array[Double]): Double = {
          val n = a.length
          val (ma, mb) = (a.sum / n, b.sum / n)
          val cov = a.zip(b).map(p => (p._1 - ma) * (p._2 - mb)).sum
          val va = a.map(x => (x - ma) * (x - ma)).sum
          val vb = b.map(x => (x - mb) * (x - mb)).sum
          if (va == 0 || vb == 0) 0.0 else cov / math.sqrt(va * vb)
        }
        eff.foreach { l =>
          val r = corr(colv(l.source), colv(l.target))
          if (l.coef == 0.0)
            assert(math.abs(r) < 0.12,
              s"$fam/$v/$lag ${l.source}->${l.target}: flagged dead but " +
                s"|corr| = $r")
          else if (fam.startsWith("A") && l.func == "linear")
            assert(math.abs(r) > 0.2,
              s"$fam/$v/$lag ${l.source}->${l.target}: flagged live " +
                s"(coef ${l.coef}) but |corr| = $r")
        }
      }
    }
  }

  test("q360: folded irregular census — A2 4-var cells recover declared " +
      "coefficients; EVERY A2C link reads dead (the all-noise quirk) " +
      "with betas at noise grain") {
    val rows = SparkEntry
      .queries("q360_irregular_recovery_census")(spark, "unused").collect()
    assert(rows.length == 12)
    rows.foreach { r =>
      assert(r.getAs[Long]("mean_abs_err_ppm") < 50000,
        s"${r.getAs[String]("family")}/${r.getAs[Int]("n_vars")}: " +
          s"mean err ${r.getAs[Long]("mean_abs_err_ppm")}")
      if (r.getAs[String]("family") == "A2C")
        assert(r.getAs[Long]("n_dead") == r.getAs[Long]("n_links"),
          "A2C generates pure noise — every declared link must be dead")
      else
        assert(r.getAs[Long]("n_dead") == 0L)
    }
  }

  test("q361: detrended C1 recovery lands every cos/sin/x²/x³ " +
      "coefficient within 2% and reads the ListOrder-dead X5->X6 link " +
      "at ~0; the naive (raw-target) twin is visibly biased") {
    val rows = SparkEntry
      .queries("q361_seasonal_recovery_contrast")(spark, "unused")
      .collect()
    assert(rows.length == 7)
    var naiveBias = 0L
    rows.foreach { r =>
      val (eff, bd, bn) = (r.getAs[Long]("effective_ppm"),
        r.getAs[Long]("beta_detrended_ppm"),
        r.getAs[Long]("beta_naive_ppm"))
      assert(math.abs(bd - eff) < 20000,
        s"${r.getAs[String]("target")}<-${r.getAs[String]("source")}" +
          s"(${r.getAs[String]("func")}): detrended $bd vs effective $eff")
      naiveBias = math.max(naiveBias, math.abs(bn - eff))
    }
    val dead = rows.find(_.getAs[String]("target") == "X6").get
    assert(dead.getAs[Long]("declared_ppm") == 850000L &&
      dead.getAs[Long]("effective_ppm") == 0L)
    // skipping the deterministic-component adjustment costs >10x the
    // detrended error on at least one link (measured ~1.4M ppm here)
    assert(naiveBias > 200000, s"naive max bias only $naiveBias")
  }

  test("q362: D1's shadow quirk through the estimator — every link dead, " +
      "max |beta| EXACTLY 0 per MCAR rate, pairwise n reading the " +
      "missingness") {
    val rows = SparkEntry.queries("q362_shadow_census")(spark, "unused")
      .collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_dead") == r.getAs[Long]("n_links"))
      assert(r.getAs[Long]("max_abs_beta_ppm") == 0L,
        s"mcar ${r.getAs[Long]("mcar_permille")}: " +
          s"beta ${r.getAs[Long]("max_abs_beta_ppm")}")
      // pair n tracks the per-rate survival of 4996 window rows
      val (p, lo) = (r.getAs[Long]("mcar_permille"),
        r.getAs[Long]("min_pair_n"))
      val expect = (4996L * (1000 - p)) / 1000
      assert(math.abs(lo - expect) < 150, s"mcar $p: min n $lo vs $expect")
    }
  }

  /** Generate the cell (optionally strict), run the full moment+Cramer
    * pipeline, return (source, lag, target, effective_ppm, beta_ppm).
    */
  private def checkCell(cfg: GenConfig,
      strict: Boolean): Seq[(String, Int, String, Long, Long)] = {
    import spark.implicits._
    val gen = Generate.wideFast(spark, Seq(cfg), strict = strict)
      .select(col("t") +: (1 to 6).map(i => col(s"X$i")): _*)
      .localCheckpoint()
    val panel = (1 to 6).map(i =>
      gen.select(lit(s"X$i").as("series"), col("t").as("day"),
        floor(col(s"X$i") * 1000).cast("long").as("v")))
      .reduce(_ unionByName _)
    val declared = Parser.truthLinks("A1", 6, 2).filter(_.source != "U")
    val effective = Parser.effectiveLinks("A1", 6, 2)
      .map(l => ((l.source, l.lag, l.target), l.coef)).toMap
    val byTarget = declared.groupBy(_.target)
    val links = declared.map { l =>
      val sib = byTarget(l.target)
        .filterNot(o => o.source == l.source && o.lag == l.lag)
        .headOption.map(o => s"${o.source}@${o.lag}")
      (l.target, l.source, l.lag, s"${l.target}@0",
        s"${l.source}@${l.lag}", sib,
        math.round(effective((l.source, l.lag, l.target)) * 1e6))
    }
    val specs = links.flatMap(l => Seq((l._1, 0), (l._2, l._3))).distinct
    val linksDf = links.toDF("target", "source", "lag", "y", "x", "sib",
      "effective_ppm")
    val mom = Causal.laggedCrossMoments(panel, specs,
      col("t").between(2, cfg.nPoints - 1))
    Causal.structuralBetas(mom, linksDf)
      .select("source", "lag", "target", "effective_ppm", "beta_ppm")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
  }
}
