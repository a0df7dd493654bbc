package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core._
import graft.generate.{Generate, Panels}
import graft.ops.{AsOf, ExactStats, Lagged}
import graft.text.{Dedup, TextOps}
import graft.sim.Similarity

/** Driver contract: one `queries` entry per implemented operator (SURVEY §3),
  * each with an equivalent DuckDB oracle in `oracleSql`. Column names are
  * aligned on both sides; double outputs are rounded identically.
  */
object SparkEntry
  extends QueriesRelational with QueriesTextSim with QueriesGenStats with QueriesGeneration with QueriesPipeline with QueriesCausal
  with OraclesRelational with OraclesTextSim with OraclesGenStats with OraclesGeneration with OraclesPipeline with OraclesCausal {

  private[graft] def t(sfDir: String, name: String) = s"$sfDir/$name.parquet"

  /** Where generated-data queries (q28/q29/q30/q38) persist their kernel
    * output so the DuckDB oracle aggregates the EXACT same rows — the kernel
    * itself is not SQL-expressible, but its materialization is. Verify sets
    * -Dgraft.gen.dir under its outDir and substitutes the absolute path for
    * `__GEN_DIR__` in oracle_sql.json.
    */
  def genDir: String =
    new java.io.File(sys.props.getOrElse("graft.gen.dir", "target/gen_cache")).getAbsolutePath

  /** Materialize a generated DataFrame to parquet and read it back, so the
    * downstream aggregation (Spark) and the oracle (DuckDB) share one input.
    */
  private[graft] def dumpGen(s: SparkSession, name: String, df: DataFrame): DataFrame = {
    val path = s"$genDir/$name"
    df.write.mode("overwrite").parquet(path)
    s.read.parquet(path)
  }

  /** Full-grid generation digest shared by q177 and the `_gen` artifact
    * row: every one of the 2,592 sweep configs pinned individually.
    */
  private[graft] def sweepDigest(s: SparkSession, dumpName: String): DataFrame = {
    val sweep = Generate.wideFast(s, Grid.all())
      .select(col("configId"), col("family"), col("X1"), col("time"),
        col("maskBits"))
    dumpGen(s, dumpName, sweep)
      .groupBy("configId", "family")
      .agg(count(lit(1)).as("n_rows"),
        // clamp to ±1e6 BEFORE quantizing: a handful of D2/D2C grid cells
        // diverge to ±Inf (faithful to the reference recurrences), and
        // floor(Inf·1e6) has no integer. least/greatest treat Inf (and
        // NaN, which sorts above Inf) identically on both engines, so the
        // clamped sum stays a bitwise cross-engine integer
        ExactStats.sumMicro(greatest(least(col("X1"), lit(1e6)), lit(-1e6)))
          .as("sum_x1c_micro"),
        sum(when(abs(col("X1")) > 1e6, 1L).otherwise(0L)).as("n_clipped"),
        ExactStats.sumMicro(col("time")).as("sum_time_micro"),
        sum("maskBits").as("mask_sum"))
      .withColumnRenamed("configId", "config_id")
  }

  /** Writes `df` as the 8-bucket parquet table `name`, bucketed and sorted
    * by `key` (q59, q218). A fresh session's in-memory catalog forgets the
    * table while its warehouse directory survives, so both are dropped
    * before the overwrite. Assumes a local-filesystem warehouse; an
    * object-store warehouse would pass an explicit .option("path", ...).
    */
  private[graft] def freshBucketed(s: SparkSession, df: DataFrame,
      name: String, key: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    val wh = java.net.URI.create(s.conf.get("spark.sql.warehouse.dir")).getPath
    val dir = new java.io.File(wh, name)
    if (dir.exists)
      require(scala.reflect.io.Directory(dir).deleteRecursively(),
        s"cannot clear stale table location $dir")
    df.write.mode("overwrite").format("parquet")
      .bucketBy(8, key).sortBy(key).saveAsTable(name)
  }

  private[graft] def lineitem(s: SparkSession, d: String) = s.read.parquet(t(d, "lineitem"))
  private[graft] def orders(s: SparkSession, d: String) = s.read.parquet(t(d, "orders"))
  private[graft] def customer(s: SparkSession, d: String) = s.read.parquet(t(d, "customer"))
  private[graft] def nation(s: SparkSession, d: String) = s.read.parquet(t(d, "nation"))
  private[graft] def region(s: SparkSession, d: String) = s.read.parquet(t(d, "region"))
  private[graft] def events(s: SparkSession, d: String) = {
    // events.ts has shipped as parquet TIMESTAMP(NANOS) (which Spark 4 only
    // reads as a raw long ns under the legacy flag) and, since the round-6
    // testdata regen, as plain TIMESTAMP_NTZ(us). Both arrivals normalize
    // here to the same long-ns contract every consumer assumes
    // (ts div 1000 == DuckDB epoch_us). timestampdiff is timezone-free, so
    // the NTZ path cannot drift with the session zone
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.sources.Events.tsToLongNs(s.read.parquet(t(d, "events")))
  }
  private[graft] def part(s: SparkSession, d: String) = s.read.parquet(t(d, "part"))
  private[graft] def supplier(s: SparkSession, d: String) = s.read.parquet(t(d, "supplier"))
  private[graft] def documents(s: SparkSession, d: String) = s.read.parquet(t(d, "documents"))
  private[graft] def embeddings(s: SparkSession, d: String) = s.read.parquet(t(d, "embeddings"))

  /** floor(x·100 + 0.5) as LONG — the exact integer image of a 2-decimal
    * source double (cents / basis points). The shared quantization every
    * money contract uses; change it here and the DuckDB mirrors in lockstep.
    */
  private[graft] def cents(c: Column): Column = floor(c * 100 + lit(0.5))

  /** Revenue as exact LONG 1e-4-dollar units:
    * cents · (100 − bp) ≡ price·(1−disc)·10000 of the former DECIMAL form —
    * same integers, but primitive-long per-row codegen with no Decimal
    * allocation.
    */
  private[graft] def revenueUnits: Column =
    cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))

  /** Σ revenueUnits rendered in dollars — the shared money contract. The
    * aggregation buffer is DECIMAL(38,0): units reach ~3.6e8/row, so a
    * low-cardinality group over ~1e12 rows would overflow a LONG sum (ANSI
    * error at best); only the SUM widens — per-row work stays long.
    * DuckDB's mirror sums into HUGEINT, identically exact.
    */
  private[graft] def revenueDollars: Column =
    sum(revenueUnits.cast("decimal(38,0)")).cast("double") / lit(10000.0)

  /** Overflow-safe Σ cents in dollars (same reasoning as revenueDollars). */
  private[graft] def sumCentsDollars(c: Column): Column =
    sum(cents(c).cast("decimal(38,0)")).cast("double") / lit(100.0)

  /** The DuckDB mirror of `revenueDollars`. */
  private[graft] val RevenueSql =
    "sum((floor(l_extendedprice * 100 + 0.5) * " +
      "(100 - floor(l_discount * 100 + 0.5)))::BIGINT)::DOUBLE / 10000.0"

  /** The same expression in Spark SQL syntax (q27/q52 run through spark.sql);
    * Spark's FLOOR(double) is already BIGINT, so the per-row product stays
    * in LONG — only the sum widens to DECIMAL(38,0) (see revenueDollars).
    */
  private[graft] val SparkRevenueSql =
    """(CAST(sum(CAST(FLOOR(l_extendedprice * 100 + 0.5) *
      |              (100 - FLOOR(l_discount * 100 + 0.5)) AS DECIMAL(38,0)))
      |      AS DOUBLE) / 10000.0)""".stripMargin

  // -- DuckDB mirrors of graft.ops.ExactStats: identical formula text over
  //    HUGEINT sums of the same micro-quantized integers, so both engines
  //    divide the same two exact integers regardless of partition order --

  /** Σ floor(x·1e6) as BIGINT (mirror of ExactStats.sumMicro). */
  private[graft] def sumMicroSql(x: String): String =
    s"sum(floor($x * 1e6)::BIGINT)::BIGINT"

  private[graft] def olsPartsSql(y: String, x: String): (String, String, String) = {
    val both = s"($y IS NOT NULL AND $x IS NOT NULL)"
    val xm = s"(CASE WHEN $both THEN floor($x * 1e6)::HUGEINT END)"
    val ym = s"(CASE WHEN $both THEN floor($y * 1e6)::HUGEINT END)"
    val n = s"sum(CASE WHEN $both THEN 1 ELSE 0 END)::HUGEINT"
    (n, xm, ym)
  }

  /** Mirror of ExactStats.slopeMilli. */
  private[graft] def slopeMilliSql(y: String, x: String): String = {
    val (n, xm, ym) = olsPartsSql(y, x)
    s"floor(($n * sum($xm * $ym) - sum($xm) * sum($ym))::DOUBLE / " +
      s"($n * sum($xm * $xm) - sum($xm) * sum($xm))::DOUBLE * 1000.0 + 0.5)::BIGINT"
  }

  /** Mirror of ExactStats.interceptMilli. */
  private[graft] def interceptMilliSql(y: String, x: String): String = {
    val (n, xm, ym) = olsPartsSql(y, x)
    s"floor((sum($ym) * sum($xm * $xm) - sum($xm) * sum($xm * $ym))::DOUBLE / " +
      s"($n * sum($xm * $xm) - sum($xm) * sum($xm))::DOUBLE / 1000.0 + 0.5)::BIGINT"
  }

  /** Flagship: generation kernel fan-out → per-family summary (driver smoke). */
  def entry(spark: SparkSession): DataFrame = {
    val cfgs = Catalog.families.flatMap(f => Grid.forFamily(f).take(2))
    Generate.wide(Generate.series(spark, cfgs))
      .groupBy("family")
      .agg(count(lit(1)).as("rows"), avg("X1").as("mean_x1"))
  }

  // ---------------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queriesRelational ++ queriesTextSim ++ queriesGenStats ++ queriesGeneration ++ queriesPipeline ++ queriesCausal


  /** O'Brien-Fleming z² boundaries in basis points ×1e4: c²·K/k with
    * c = 2.004, K = 3 looks — one Scala constant in both engines.
    */
  private[graft] val ObfBoundBp: IndexedSeq[Long] =
    (1 to 3).map(k => Math.round(2.004 * 2.004 * 3.0 / k * 1e4))

  /** One X-parent link row for the structural-OLS queries (q351-q353):
    * `g` is the fold prefix ("" single-graph, configId for q352's
    * corpus fold), `y`/`x`/`sib` the virtual lagged-series names
    * Causal.structuralBetas joins on (sib = the target's OTHER X parent,
    * None for single-parent targets), and the two ppm truths — declared
    * (CausalLink.coef) and effective (Parser.effectiveLinks, §2.4-2 dead
    * contemporaneous links zeroed). ONE driver-side list feeds BOTH the
    * Spark frame (weightLinksDf) and the oracle's VALUES rendering
    * (weightLinksValuesSql), so the two engines share the spec by
    * construction.
    */
  private[graft] final case class WeightLink(g: String, family: String,
      nVars: Int, maxLag: Int, target: String, source: String, lag: Int,
      y: String, x: String, sib: Option[String],
      declaredPpm: Long, effectivePpm: Long)

  private[graft] def weightLinks(g: String, family: String, nVars: Int,
      maxLag: Int): Seq[WeightLink] = {
    val declared = graft.core.Parser.truthLinks(family, nVars, maxLag)
      .filter(_.source != "U")
    val effective = graft.core.Parser.effectiveLinks(family, nVars, maxLag)
      .filter(_.source != "U")
      .map(l => ((l.source, l.lag, l.target), l.coef)).toMap
    val pre = if (g.isEmpty) "" else s"$g|"
    val byTarget = declared.groupBy(_.target)
    declared.map { l =>
      val sibs = byTarget(l.target)
        .filterNot(o => o.source == l.source && o.lag == l.lag)
      require(sibs.size <= 1,
        s"structuralBetas is Cramer k<=2: ${l.target} has " +
          s"${sibs.size + 1} X parents in $family/$nVars/$maxLag")
      WeightLink(g, family, nVars, maxLag, l.target, l.source, l.lag,
        s"$pre${l.target}@0", s"$pre${l.source}@${l.lag}",
        sibs.headOption.map(o => s"$pre${o.source}@${o.lag}"),
        math.round(l.coef * 1e6),
        math.round(effective((l.source, l.lag, l.target)) * 1e6))
    }
  }

  /** B1 power-term link rows (q355): one row per STRICT equation term of
    * the B1 4-var lag-2 cell — regressors are POWER-TRANSFORMED virtual
    * series ("X1p2@2" = X1² lagged 2), so the same k=2 Cramer machinery
    * estimates nonlinear-term weights. declared = the strict coefficient
    * (cubic terms NEGATIVE — b1 equations are c·x² − c'·x³ + e);
    * effective = what the COMPAT kernel actually applies (§2.4-1: the
    * '+'-split extractor keeps only the quadratic, so pow-3 terms carry
    * effective 0). Columns mirror weightLinksDf plus `pow`.
    */
  private[graft] def b1PowerLinks(): Seq[(String, String, Int, Int, String,
      String, String, Long, Long)] = {
    val strict = graft.core.Parser.strictLinks("B1", 4, 2)
    val compat = graft.core.Parser.truthLinks("B1", 4, 2)
      .map(l => ((l.source, l.lag, l.target), l.coef)).toMap
    val byTarget = strict.groupBy(_.target)
    def vn(o: graft.core.Parser.StrictLink) =
      s"${o.source}p${o.power}@${o.lag}"
    strict.map { sl =>
      val sibs = byTarget(sl.target).filterNot(_ == sl)
      require(sibs.size == 1,
        s"b1PowerLinks expects 2 terms per target, got ${sibs.size + 1}")
      (sl.target, sl.source, sl.lag, sl.power, s"${sl.target}@0",
        vn(sl), vn(sibs.head), math.round(sl.coef * 1e6),
        if (sl.power == 2)
          math.round(compat((sl.source, sl.lag, sl.target)) * 1e6)
        else 0L)
    }
  }

  private[graft] def b1PowerLinksDf(s: SparkSession): DataFrame = {
    import s.implicits._
    b1PowerLinks().toDF("target", "source", "lag", "pow", "y", "x", "sib",
      "declared_ppm", "effective_ppm")
  }

  private[graft] def b1PowerLinksValuesSql(): String =
    "(VALUES " + b1PowerLinks().map { case (t, src, lag, pow, y, x, sib,
        dp, ep) =>
      s"('$t','$src',$lag,$pow,'$y','$x','$sib',$dp,$ep)"
    }.mkString(",\n    ") +
      ") AS l(target, source, lag, pow, y, x, sib, declared_ppm," +
      " effective_ppm)"

  /** Specs + panel columns for q355: targets linear at lag 0, regressors
    * as power-transformed series at their link lags.
    */
  private[graft] def b1PowerSpecs(): Seq[(String, Int)] =
    b1PowerLinks().flatMap { l =>
      Seq((l._1, 0), (l._6.split("@")(0), l._3))
    }.distinct

  /** The channel prefix of a func-transformed regressor: cos → c, sin → s,
    * power2 → p2, power3 → p3, so "cX1" names cos(X1·π/2) and "p2X4"
    * names X4². [[c1Links]] and [[d3Links]] name their regressors with
    * it, and `QueriesCausal.funcChannel` builds the matching column.
    */
  private[graft] def funcPrefix(func: String): String = func match {
    case "cos" => "c"
    case "sin" => "s"
    case "power2" => "p2"
    case "power3" => "p3"
    case other => throw new IllegalStateException(s"func $other")
  }

  /** q361's C1 link rows: one per X link of the 6-var lag-2 cell, with
    * FUNC-TRANSFORMED regressor virtual names ("cX1@2" = cos(X1·π/2)
    * lagged 2; prefixes c/s/p2/p3 for cos/sin/x²/x³) and BOTH target
    * variants — detrended ("X4~@0", the kernel's deterministic trend +
    * season subtracted at dump time) and naive raw ("X4@0"). One list
    * feeds the Spark frames and the oracle VALUES twin.
    */
  // family parameter: C2's 6-var lag-2 catalog IS the C1 dynamics
  // (c2.py:19-58 reuses the C1 equations); q375 reads the links under
  // family "C2" so the effective coefficients stay family-honest
  private[graft] def c1Links(family: String = "C1"): Seq[(String, String, Int, String, String, String,
      Option[String], Long, Long)] = {
    val declared = graft.core.Parser.truthLinks(family, 6, 2)
      .filter(_.source != "U")
    val effective = graft.core.Parser.effectiveLinks(family, 6, 2)
      .filter(_.source != "U")
      .map(l => ((l.source, l.lag, l.target), l.coef)).toMap
    val byTarget = declared.groupBy(_.target)
    declared.map { l =>
      val sibs = byTarget(l.target)
        .filterNot(o => o.source == l.source && o.lag == l.lag)
      require(sibs.size <= 1, s"C1 k>2 at ${l.target}")
      (l.target, l.source, l.lag, l.func,
        s"${funcPrefix(l.func)}${l.source}@${l.lag}",
        s"${l.target}~@0",
        sibs.headOption.map(o =>
          s"${funcPrefix(o.func)}${o.source}@${o.lag}"),
        math.round(l.coef * 1e6),
        math.round(effective((l.source, l.lag, l.target)) * 1e6))
    }
  }

  /** q369's D3/D3C link rows: one per X link of a folded 4-var cell,
    * with FUNC-TRANSFORMED regressor virtual names (q361's c/s/p2/p3
    * prefix scheme) and the DETRENDED target ("g|X4~@0"). One list
    * feeds the Spark frame and the oracle VALUES twin.
    */
  private[graft] def d3Links(cfgs: Seq[graft.core.GenConfig]): Seq[(String,
      String, Int, Long, Long, String, String, Int, String, String,
      String, Option[String], Long, Long)] = cfgs.flatMap { c =>
    val declared = graft.core.Parser.truthLinks(c.family, 4, c.maxLag)
      .filter(_.source != "U")
    val effective = graft.core.Parser.effectiveLinks(c.family, 4,
        c.maxLag).filter(_.source != "U")
      .map(l => ((l.source, l.lag, l.target), l.coef)).toMap
    val g = c.configId.toString
    val byT = declared.groupBy(_.target)
    declared.map { l =>
      val sibs = byT(l.target)
        .filterNot(o => o.source == l.source && o.lag == l.lag)
      require(sibs.size <= 1, s"D3 k>2 at ${l.target}")
      (g, c.family, c.maxLag, math.round(c.mcarProb * 1000),
        math.round(c.blockProb * 1000), l.target, l.source, l.lag,
        l.func, s"$g|${l.target}~@0",
        s"$g|${funcPrefix(l.func)}${l.source}@${l.lag}",
        sibs.headOption.map(o =>
          s"$g|${funcPrefix(o.func)}${o.source}@${o.lag}"),
        math.round(l.coef * 1e6),
        math.round(effective((l.source, l.lag, l.target)) * 1e6))
    }
  }

  /** q372's estimation rows: (series, component, y, x, sib, truth_ppm)
    * — one per (series × {trend, s1, c1, s2, c2}), truth from the
    * kernel's season expansion and trend formula (one list feeding the
    * Spark frame and the oracle VALUES twin).
    */
  private[graft] def harmonicLinks(family: String = "C1"): Seq[(String, String, String, String,
      Option[String], Long, Int)] = {
    // a series' own struct term decides whether the linear+harmonic
    // model CONTAINS its truth: cos/sin terms are bounded (in_model=1);
    // power terms of TRENDING parents inject polynomial trend the
    // basis cannot represent (in_model=0 — the mis-specification read)
    val funcOf = graft.core.Parser.truthLinks(family, 6, 2)
      .filter(_.source != "U").map(l => l.target -> l.func).toMap
    (1 to 6).flatMap { i =>
      val phase = 2.0 * math.Pi * (i - 1) / 8.0
      val y = s"X$i@0"
      val ok = if (Set("cos", "sin")(funcOf(s"X$i"))) 1 else 0
      Seq(
        (s"X$i", "trend", y, "tt@0", None: Option[String],
          math.round(1e9 * 0.01 * i * 0.5), ok),
        (s"X$i", "s1", y, "s1@0", Some("tt@0"),
          math.round(1e6 * 0.5 * math.cos(phase)), ok),
        (s"X$i", "c1", y, "c1@0", Some("tt@0"),
          math.round(1e6 * 0.5 * math.sin(phase)), ok),
        (s"X$i", "s2", y, "s2@0", Some("tt@0"),
          math.round(1e6 * -0.25 * math.sin(phase)), ok),
        (s"X$i", "c2", y, "c2@0", Some("tt@0"),
          math.round(1e6 * 0.25 * math.cos(phase)), ok))
    }
  }

  private[graft] def harmonicLinksValuesSql(family: String = "C1"): String =
    "(VALUES " + harmonicLinks(family).map { case (ser, comp, y, x, sib, tp,
        ok) =>
      s"('$ser','$comp','$y','$x'," +
        sib.map(v => s"'$v'").getOrElse("NULL::VARCHAR") + s",$tp,$ok)"
    }.mkString(",\n    ") +
      ") AS l(series, component, y, x, sib, truth_ppm, in_model)"

  /** q358's per-link stream rows: (link key, target, source, lag,
    * has_sib, sib series/lag, effective ppm) — ONE list feeding the
    * Spark design-tuple builder, the broadcast decode join, and the
    * oracle VALUES twin.
    */
  private[graft] def streamWeightLinks(): Seq[(String, String, String, Int, Int,
      String, Int, Long)] =
    weightLinks("", "A1", 6, 2).map { l =>
      val (sibSeries, sibLag) = l.sib match {
        case Some(v) => val p = v.split("@"); (p(0), p(1).toInt)
        case None => ("", 0)
      }
      (s"${l.target}<${l.source}@${l.lag}", l.target, l.source, l.lag,
        if (l.sib.isDefined) 1 else 0, sibSeries, sibLag, l.effectivePpm)
    }

  private[graft] def streamWeightLinksValuesSql(): String =
    "(VALUES " + streamWeightLinks().map { case (k, t, src, lag, hs, _, _,
        ep) =>
      s"('$k','$t','$src',$lag,$hs,$ep)"
    }.mkString(",\n    ") +
      ") AS l(link, target, source, lag, has_sib, effective_ppm)"

  /** The q371/q377/q378/q382 block design over `Panels.widePanel3(32, ·)`:
    * every pair at chain distance 1..9 of its 160 series as
    * (pair "a<b", tier, y = b, x = a) — 1,395 hypotheses. Tier `ab`: the
    * two aggregates of one block; `as`: an aggregate and a source of one
    * block; `null`: everything else (sources are mutually independent,
    * blocks are independent of each other).
    */
  private[graft] lazy val BlockDesign
      : IndexedSeq[(String, String, String, String)] = {
    def snm(i: Int) = s"G${"%02d".format(i / 5)}X${i % 5}"
    for { dd <- 1 to 9; i <- 0 until 160 - dd } yield {
      val tier =
        if (i / 5 != (i + dd) / 5) "null"
        else if (i % 5 >= 3 && (i + dd) % 5 >= 3) "ab"
        else if (i % 5 >= 3 || (i + dd) % 5 >= 3) "as"
        else "null"
      (s"${snm(i)}<${snm(i + dd)}", tier, snm(i + dd), snm(i))
    }
  }

  /** The (series, lag) virtual-series specs a link list needs: every
    * target at lag 0 plus every parent at its link lag, fold-prefixed.
    */
  private[graft] def weightSpecs(links: Seq[WeightLink]): Seq[(String, Int)] =
    links.flatMap { l =>
      val pre = if (l.g.isEmpty) "" else s"${l.g}|"
      Seq((s"$pre${l.target}", 0), (s"$pre${l.source}", l.lag))
    }.distinct

  private[graft] def weightLinksDf(s: SparkSession,
      links: Seq[WeightLink]): DataFrame = {
    import s.implicits._
    links.map(l => (l.g, l.family, l.nVars, l.maxLag, l.target, l.source,
        l.lag, l.y, l.x, l.sib, l.declaredPpm, l.effectivePpm))
      .toDF("g", "family", "n_vars", "max_lag", "target", "source", "lag",
        "y", "x", "sib", "declared_ppm", "effective_ppm")
  }

  /** The same links as a DuckDB VALUES CTE body (alias column names match
    * weightLinksDf exactly — structuralBetasSqlCtes passes l.* through).
    */
  private[graft] def weightLinksValuesSql(links: Seq[WeightLink]): String =
    "(VALUES " + links.map(l =>
      s"('${l.g}','${l.family}',${l.nVars},${l.maxLag},'${l.target}'," +
        s"'${l.source}',${l.lag},'${l.y}','${l.x}'," +
        l.sib.map(x => s"'$x'").getOrElse("NULL::VARCHAR") +
        s",${l.declaredPpm},${l.effectivePpm})").mkString(",\n    ") +
      ") AS l(g, family, n_vars, max_lag, target, source, lag, y, x," +
      " sib, declared_ppm, effective_ppm)"

  private[graft] def weightSpecsValuesSql(links: Seq[WeightLink]): String =
    "(VALUES " + weightSpecs(links).map { case (series, lag) =>
      s"('$series',$lag)" }.mkString(",\n    ") + ") AS s(series, lag)"

  /** A link list's DuckDB CTEs `specs$sfx` (its [[weightSpecs]]) and
    * `links$sfx` (its rows).
    */
  private[graft] def weightLinksSqlCtes(links: Seq[WeightLink],
      sfx: String = ""): String =
    s"specs$sfx AS (SELECT * FROM ${weightSpecsValuesSql(links)}),\n" +
      s"links$sfx AS (SELECT * FROM ${weightLinksValuesSql(links)})"

  /** Declared X-X adjacencies of a (family, nVars, lag-2) cell as a CASE
    * flag over unordered pairs — U-incident links are excluded because
    * the PC capstones observe only the X panel (q329's point: the hidden
    * confounder's footprint shows in `edge` against truth_adj = 0 rows).
    */
  private[graft] def pcTruthCase(family: String, nVars: Int = 4): String = {
    val pairs = graft.core.Parser.truthLinks(family, nVars, 2)
      .filter(l => l.source != "U" && l.target != "U")
      .map(l => if (l.source < l.target) (l.source, l.target)
        else (l.target, l.source))
      .filter(p => p._1 != p._2).distinct
    if (pairs.isEmpty) "0"
    else "CASE " + pairs.map { case (x, y) =>
      s"WHEN a = '$x' AND b = '$y' THEN 1"
    }.mkString(" ") + " ELSE 0 END"
  }

  /** The catalog's A1 4-var lag-2 ANY-lag unordered adjacency as a CASE
    * flag over (a, b) with a < b — shared by q300 and its oracle.
    */
  private[graft] val PcGenTruthCase: String = pcTruthCase("A1")

  /** q336's truth: the A1 6-var lag-2 adjacency (the 6_2 cell carries the
    * X1→X4→X3→X2→X1 cycle plus the X4↔X5 feedback — dense enough that
    * order-1 conditioning leaves chained spurious pairs for the order-2
    * cofactor test to separate).
    */
  private[graft] val PcTruth6Case: String = pcTruthCase("A1", 6)

  /** q332's full-Meek (R1+R2+R3) round count — one Scala constant driving
    * both the Spark loop and the generated DuckDB CTE chain.
    */
  private[graft] val PcMeekRounds = 3
  /** q342's τ² ladder in basis points — the shared
    * [[graft.metrics.Causal.TauSweepBps]] constant (Bench's catalog
    * sweep rung reads the same value, so the benched ladder can never
    * drift from this correctness-gated one).
    */
  private[graft] val PcTauSweepBps = graft.metrics.Causal.TauSweepBps

  /** q337's round count: one more than q332's — the 6-var order-2 graph
    * can chain an orientation across more hops, and rounds are unrolled
    * (each is one fixed CTE block), so the extra round is one cheap
    * panel-grain stage that buys fixpoint headroom.
    */
  private[graft] val PcMeekRounds2 = 4

  /** q347's round count: the PC-STABLE skeleton keeps a SUPERSET of the
    * unrestricted variant's edges (candidate-subset ⇒ edge-superset),
    * so its undirected chains run longer and Meek propagation needs the
    * 4th round on the 32-wide panel (measured: round 4 still orients;
    * PcStableSpec pins round 5 as a no-op). The Spark loop exits at the
    * fixpoint anyway — the constant only sizes the oracle's unrolled
    * CTE chain.
    */
  private[graft] val PcStableMeekRounds = 4

  /** q332's skeleton threshold τ² in basis points (τ = 0.1 — denser than
    * q300's default 0.25 so triples exist to orient).
    */
  private[graft] val PcOrientTauSqBp = 100L

  /** q336's threshold τ² in basis points (τ = 0.03): tight enough that
    * the A1 6-var chained correlations survive orders 0-1 — at τ = 0.1
    * the skeleton is already 3 edges and order 2 has nothing to decide —
    * and the order-2 stage demonstrably separates X4–X6 (the X4↔X5
    * feedback holds every ORDER-1 partial above τ; only a conditioning
    * PAIR breaks the path).
    */
  private[graft] val Pc2TauSqBp = 9L

  /** q332's directed truth: the catalog's declared A1 4-var lag-2 X→X
    * edges (any lag, distinct ordered pairs, self-loops excluded — PC is
    * lag-free and the skeleton never proposes self edges). One Parser
    * call rendered into the Spark literal AND the oracle VALUES.
    */
  private[graft] def pcDirectedTruthFor(nVars: Int): Seq[(String, String)] =
    graft.core.Parser.truthLinks("A1", nVars, 2)
      .filter(l => l.source != "U" && l.target != "U"
        && l.source != l.target)
      .map(l => (l.source, l.target)).distinct
  private[graft] lazy val PcDirectedTruth: Seq[(String, String)] =
    pcDirectedTruthFor(4)
  private[graft] lazy val PcDirectedTruth6: Seq[(String, String)] =
    pcDirectedTruthFor(6)
  /** A truth that may be missing (the shipped q339 one): absent, the
    * relation raises [[ShippedD3Missing]] instead of scoring no edges.
    */
  private[graft] def pcTruthValuesSql(truth: Option[Seq[(String, String)]])
      : String =
    truth.fold(s"(SELECT $ShippedD3Missing::VARCHAR, NULL::VARCHAR) " +
      "t(source, target)")(pcTruthValuesSql)
  private[graft] def pcTruthValuesSql(truth: Seq[(String, String)]): String =
    if (truth.isEmpty)
      // zero-row relation, not "(VALUES )" (a parse error): the scoring
      // tail then charges every predicted edge as a false positive
      "(SELECT NULL::VARCHAR, NULL::VARCHAR WHERE 1 = 0) t(source, target)"
    else truth.map { case (s0, t0) => s"('$s0', '$t0')" }
      .mkString("(VALUES ", ", ", ") t(source, target)")

  /** The orientation-aware scoring tail shared by q332/q337/q339: CPDAG
    * rows from `pc_st$rounds` expanded to directed edges (undirected →
    * both), fwd/rev flags per unordered pair on BOTH sides, reversal
    * charged 1 — the `Metrics.scoreAll` structural-SHD contract — plus
    * edge/direction counts. One generator, three oracles.
    */
  private[graft] def pcScoringSqlTail(rounds: Int, truthValues: String): String =
    s"""pc_pred AS (
       |  SELECT a AS source, b AS target FROM pc_st$rounds
       |  WHERE dir = 1
       |  UNION ALL SELECT b, a FROM pc_st$rounds WHERE dir = 2
       |  UNION ALL SELECT a, b FROM pc_st$rounds WHERE dir = 0
       |  UNION ALL SELECT b, a FROM pc_st$rounds WHERE dir = 0),
       |pc_truth AS (SELECT * FROM $truthValues),
       |pc_ct AS (
       |  SELECT least(source, target) AS u, greatest(source, target) AS v,
       |    max(CASE WHEN source <= target THEN 1 ELSE 0 END) AS t_fwd,
       |    max(CASE WHEN source > target THEN 1 ELSE 0 END) AS t_rev
       |  FROM pc_truth GROUP BY 1, 2),
       |pc_cp AS (
       |  SELECT least(source, target) AS u, greatest(source, target) AS v,
       |    max(CASE WHEN source <= target THEN 1 ELSE 0 END) AS p_fwd,
       |    max(CASE WHEN source > target THEN 1 ELSE 0 END) AS p_rev
       |  FROM pc_pred GROUP BY 1, 2),
       |pc_j AS (
       |  SELECT coalesce(t.t_fwd, 0) AS t_fwd, coalesce(t.t_rev, 0) AS t_rev,
       |    coalesce(p.p_fwd, 0) AS p_fwd, coalesce(p.p_rev, 0) AS p_rev
       |  FROM pc_ct t FULL JOIN pc_cp p ON p.u = t.u AND p.v = t.v),
       |pc_sc AS (
       |  SELECT sum(t_fwd * p_fwd + t_rev * p_rev) AS tp,
       |    sum(p_fwd * (1 - t_fwd) + p_rev * (1 - t_rev)) AS fp,
       |    sum(t_fwd * (1 - p_fwd) + t_rev * (1 - p_rev)) AS fn,
       |    sum(CASE WHEN t_fwd + t_rev = 1 AND p_fwd + p_rev = 1
       |          AND t_fwd <> p_fwd THEN 1
       |        ELSE abs(t_fwd - p_fwd) + abs(t_rev - p_rev) END)
       |      AS shd_structural
       |  FROM pc_j),
       |pc_cnt AS (SELECT count(*) AS n_edges,
       |    coalesce(sum(CASE WHEN dir <> 0 THEN 1 ELSE 0 END), 0)
       |      AS n_directed
       |  FROM pc_st$rounds)
       |SELECT c.n_edges::BIGINT AS n_edges,
       |  c.n_directed::BIGINT AS n_directed,
       |  s.tp::BIGINT AS tp, s.fp::BIGINT AS fp, s.fn::BIGINT AS fn,
       |  s.shd_structural::BIGINT AS shd_structural,
       |  (s.fp + s.fn)::BIGINT AS shd_xor
       |FROM pc_cnt c, pc_sc s""".stripMargin

  /** q338/q339's shared oracle CTE block: the shipped CSV indexed and
    * unpivoted to the 200-cut pairwise-complete `panel(series, day, v)`.
    */
  private[graft] def shippedD3PanelCtes: String =
    s"""csv AS (
       |  SELECT X1, X2, X3, X4,
       |    row_number() OVER (ORDER BY "time") - 1 AS t
       |  FROM read_csv('$ShippedD3Base${"_missing.csv"}', header=true,
       |    columns={'X1': 'DOUBLE', 'X2': 'DOUBLE', 'X3': 'DOUBLE',
       |      'X4': 'DOUBLE', 'time': 'DOUBLE'})),
       |panel AS (
       |  SELECT series, day, v FROM (
       |    SELECT 'X1' AS series, t AS day, floor(X1 * 1000)::BIGINT AS v
       |    FROM csv WHERE X1 IS NOT NULL
       |    UNION ALL SELECT 'X2', t, floor(X2 * 1000)::BIGINT FROM csv
       |    WHERE X2 IS NOT NULL
       |    UNION ALL SELECT 'X3', t, floor(X3 * 1000)::BIGINT FROM csv
       |    WHERE X3 IS NOT NULL
       |    UNION ALL SELECT 'X4', t, floor(X4 * 1000)::BIGINT FROM csv
       |    WHERE X4 IS NOT NULL) u(series, day, v)
       |  WHERE day < 200)""".stripMargin
  private[graft] def pcDirectedTruthValuesSql: String =
    pcTruthValuesSql(PcDirectedTruth)

  private[graft] def GroupByAllSql(table: String): String =
    s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       |  cast(sum(cast(floor(o_totalprice * 100) as bigint)) as bigint)
       |    AS cents
       |FROM $table GROUP BY ALL""".stripMargin

  /** The catalog's declared lag-1 edges for a (family, 4-var, lag-2) grid
    * cell as a CASE flag — built from the SAME Parser.truthLinks the
    * generator uses, rendered identically into the Spark expression and
    * the DuckDB oracle. A1C's confounder edges are lag 0, so its CASE
    * stays X-only — the capstone's point is that Granger flags the
    * U-induced spurious edges the truth column does NOT declare.
    */
  private[graft] def grangerTruthCase(family: String): String =
    causeEffectCase(graft.core.Parser.truthLinks(family, 4, 2)
      .filter(_.lag == 1).map(l => (l.source, l.target)))

  /** A 0/1 flag over (cause, effect) that reads 1 on the distinct
    * `edges`: a CASE, or "0" for no edges.
    */
  private def causeEffectCase(edges: Seq[(String, String)]): String =
    if (edges.isEmpty) "0"
    else "CASE " + edges.distinct.map { case (a, b) =>
      s"WHEN cause = '$a' AND effect = '$b' THEN 1"
    }.mkString(" ") + " ELSE 0 END"
  private[graft] val GrangerGenTruthCase: String = grangerTruthCase("A1")

  /** q330's truth cell: a declared X-edge at ANY lag 1..maxLag — the
    * ground truth an order-L joint test answers for (vs the lag-1-only
    * slice grangerTruthCase takes). One Scala value, both engines.
    */
  private[graft] def grangerTruthCaseAnyLag(family: String, nVars: Int,
      maxLag: Int): String =
    causeEffectCase(graft.core.Parser.truthLinks(family, nVars, maxLag)
      .filter(l => l.lag >= 1 && l.lag <= maxLag)
      .map(l => (l.source, l.target)))

  /** q325's shipped artifact pair and the truth CASE parsed from the
    * SHIPPED structure txt by the S4-inverse parser — the same string
    * renders into the Spark expression and the DuckDB oracle.
    */
  private[graft] val ShippedD3Base: String =
    "/root/reference/Datasets/D3/lag 2/" +
      "nonlinear_ts_n1000_vars4_lag2_noise30_mcar10_block10"
  private[graft] lazy val ShippedD3TruthCase: String =
    shippedD3Links.fold(ShippedD3Missing)(links =>
      causeEffectCase(links.filter(_._2 == 1).map(l => (l._1, l._3))))

  /** The shipped structure txt's parsed links, or None on a host without
    * the shipped corpus. The q325/q338/q339 truths render from
    * it; without it each of those entries fails on its own (the oracle
    * raises [[ShippedD3Missing]], the Spark side on the missing CSV) and
    * every other entry still builds.
    */
  private lazy val shippedD3Links
      : Option[Vector[(String, Int, String, String, Double)]] = {
    val p = java.nio.file.Paths.get(s"$ShippedD3Base" + "_structure.txt")
    if (!java.nio.file.Files.exists(p)) None
    else Some(graft.generate.Sinks.parseStructureLinks(
      java.nio.file.Files.readString(p)))
  }
  /** A DuckDB expression that fails the oracle naming the missing file —
    * never an empty truth that would score as "no edges".
    */
  private val ShippedD3Missing: String =
    s"error('missing shipped structure file: ${ShippedD3Base}_structure.txt')"

  /** q336/q337's panel: the A1 6-var lag-2 gaussian cell cut at 200
    * observations, dumped under `name` — each query writes its own dump
    * (`q336_gen`, `q337_gen`) and its oracle reads that one, so the two
    * entries can run concurrently; `dumpGen` writes the same bytes for
    * either.
    */
  private[graft] def pcOrder2Panel(s: SparkSession, name: String)
      : DataFrame = {
    val cfg = Grid.cell("A1", 500, 6, 2)
    val gen = dumpGen(s, name,
      Generate.wideFast(s, Seq(cfg)).where(col("t") < 200)
        .select(col("t") +: (1 to 6).map(i => col(s"X$i")): _*))
    Panels.single(gen, 6)
  }

  /** The Spark twin of [[pcScoringSqlTail]], shared by q332/q337/q339:
    * CPDAG rows (a, b, dir) expanded to directed edges (undirected →
    * both), scored orientation-aware through `Metrics.scoreAll` against
    * a directed truth list, with edge/direction counts alongside.
    */
  private[graft] def pcScoreOriented(s: SparkSession, st: DataFrame,
      truthEdges: Seq[(String, String)]): DataFrame = {
    val pred = st.where(col("dir") === 1)
        .select(col("a").as("source"), col("b").as("target"))
      .unionByName(st.where(col("dir") === 2)
        .select(col("b").as("source"), col("a").as("target")))
      .unionByName(st.where(col("dir") === 0)
        .select(col("a").as("source"), col("b").as("target")))
      .unionByName(st.where(col("dir") === 0)
        .select(col("b").as("source"), col("a").as("target")))
      .withColumn("graphId", lit(0L)).withColumn("lag", lit(0))
    import s.implicits._
    val truth = truthEdges.toDF("source", "target")
      .withColumn("graphId", lit(0L)).withColumn("lag", lit(0))
    val counts = st.agg(count(lit(1)).as("n_edges"),
      coalesce(sum(when(col("dir") =!= 0, 1).otherwise(0)), lit(0))
        .as("n_directed"))
    graft.metrics.Metrics.scoreAll(truth, pred)
      .crossJoin(broadcast(counts))
      .select(col("n_edges").cast("long").as("n_edges"),
        col("n_directed").cast("long").as("n_directed"),
        col("tp"), col("fp"), col("fn"),
        col("shd_structural"), col("shd_xor"))
  }

  /** q338/q339's shared panel: the q325 shipped D3 missing-data CSV,
    * first 200 time indices (the rank-moment n⁴ budget), per-series
    * null-dropped milli-quantized rows — pairwise-complete by
    * construction.
    */
  private[graft] def shippedD3Panel(s: SparkSession): DataFrame = {
    val idxed = graft.generate.Sinks.readWideCsv(s,
        s"$ShippedD3Base" + "_missing.csv")
      .withColumn("t",
        (row_number().over(Window.orderBy("time")) - 1).cast("long"))
      .where(col("t") < 200)
    (1 to 4).map(i =>
      idxed.where(col(s"X$i").isNotNull)
        .select(lit(s"X$i").as("series"), col("t").as("day"),
          Panels.milli(col(s"X$i")).as("v")))
      .reduce(_ unionByName _)
  }

  /** q339's truth: the shipped structure txt's ANY-lag DIRECTED X-X
    * edges (distinct ordered pairs, self-loops excluded — the q332
    * contract applied to shipped bytes).
    */
  private[graft] lazy val ShippedD3DirectedTruth
      : Option[Seq[(String, String)]] =
    shippedD3Links.map(
      _.filter(l => l._1 != l._3).map(l => (l._1, l._3)).distinct)

  /** q338's truth: the same shipped structure txt as ANY-lag unordered
    * X-X adjacency (PC is lag-free), a CASE over (a, b) with a < b.
    */
  private[graft] lazy val ShippedD3AdjCase: String =
    shippedD3Links.fold(ShippedD3Missing) { links =>
      val pairs = links
        .map(l => if (l._1 < l._3) (l._1, l._3) else (l._3, l._1))
        .filter(p => p._1 != p._2).distinct
      if (pairs.isEmpty) "0"
      else "CASE " + pairs.map { case (x, y) =>
        s"WHEN a = '$x' AND b = '$y' THEN 1"
      }.mkString(" ") + " ELSE 0 END"
    }

  /** q333's whole-tree shipped cell: every D3 (vars=4, lag=2) *_missing.csv
    * (48 files — 12 noise/mcar/block combos × 4 sizes), read by ONE glob in
    * both engines; truth parsed PER CONFIG from each sibling structure txt
    * by the S4-inverse grammar (lag-1 X→X edges, the q325 contract, at
    * corpus grain).
    */
  private[graft] val ShippedD3TreeDir = "/root/reference/Datasets/D3/lag 2"
  private[graft] val ShippedD3TreeGlob =
    s"$ShippedD3TreeDir/nonlinear_ts_*_vars4_lag2_*_missing.csv"
  /** Every structure-txt link of the cell, one parse pass: (cfg, src,
    * lag, tgt) — q333 slices the lag-1 Granger truth and q340 the
    * any-lag directed PC truth from this one vector.
    */
  private[graft] lazy val ShippedD3TreeLinks: Vector[(String, String, Int, String)] = {
    val files = Option(new java.io.File(ShippedD3TreeDir).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.matches("nonlinear_ts_.*_vars4_lag2_.*_missing\\.csv"))
      .sortBy(_.getName)
    files.toVector.flatMap { f =>
      val cfg = f.getName.stripSuffix("_missing.csv")
      val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(
        s"$ShippedD3TreeDir/${cfg}_structure.txt"))
      graft.generate.Sinks.parseStructureLinks(txt)
        .map(l => (cfg, l._1, l._2, l._3))
    }
  }
  private[graft] lazy val ShippedD3TreeTruth: Vector[(String, String, String)] =
    ShippedD3TreeLinks.filter(l => l._3 == 1 && l._2 != l._4)
      .map(l => (l._1, l._2, l._4)).distinct
  /** q340's truth: each config's ANY-lag directed X-X edges (the q339
    * contract at corpus grain — PC is lag-free, reversals charged).
    */
  private[graft] lazy val ShippedD3TreeDirectedTruth: Vector[(String, String, String)] =
    ShippedD3TreeLinks.filter(l => l._2 != l._4)
      .map(l => (l._1, l._2, l._4)).distinct
  private[graft] def shippedD3TreeTruthValuesSql: String =
    shippedD3TreeValuesSql(ShippedD3TreeTruth)
  private[graft] def shippedD3TreeDirectedTruthValuesSql: String =
    shippedD3TreeValuesSql(ShippedD3TreeDirectedTruth)
  /** Without the shipped tree, a relation that fails the oracle by name
    * (an empty `(VALUES )` would be a DuckDB parse error).
    */
  private def shippedD3TreeValuesSql(truth: Seq[(String, String, String)]): String =
    if (!new java.io.File(ShippedD3TreeDir).isDirectory)
      s"(SELECT error('missing shipped D3 tree: $ShippedD3TreeDir')::VARCHAR, " +
        "NULL::VARCHAR, NULL::VARCHAR) t(graphId, source, target)"
    else truth.map { case (g, s0, t0) => s"('$g', '$s0', '$t0')" }
      .mkString("(VALUES ", ", ", ") t(graphId, source, target)")

  /** The shipped-cell glob scan shared by q333/q340: 48 CSVs in one
    * read, config identity from the file name, per-config observation
    * index from the time column — checkpointed so each consumer reads
    * the files once.
    */
  private[graft] def shippedD3TreeIdxed(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType((1 to 4).map(i =>
      StructField(s"X$i", DoubleType, nullable = true)) :+
      StructField("time", DoubleType, nullable = false))
    s.read.option("header", "true").schema(schema)
      .csv(ShippedD3TreeGlob)
      .withColumn("cfg", regexp_extract(input_file_name(),
        "([^/]+)_missing\\.csv$", 1))
      .withColumn("t", (row_number().over(
        Window.partitionBy("cfg").orderBy("time")) - 1).cast("long"))
      .localCheckpoint(false)
  }

  /** q333/q341's shared Granger-per-config pass over the shipped cell:
    * nearest-lag alignment on each config's own irregular spine
    * (partitioned AsOf carries, no per-row probe) + the lag-1 Granger
    * sums→decision contract with the config folded into the
    * cause/effect key, so the shared arithmetic applies untouched.
    * DECI grain, not the milli the single-file q325 uses: the n5000
    * trended configs push milli C-statistics to ~1e20 and their
    * products past the 10^38 budget in BOTH engines; at deci the worst
    * cell is ~2.5e13 and the squared products keep a 1e10 margin
    * (n <= 5000, |v| <= ~1e3). Returns granger_out rows with FOLDED
    * cause/effect.
    */
  private[graft] def shippedD3TreeGrangerOut(s: SparkSession,
      idxed: DataFrame): DataFrame = {
    val lx = graft.ops.Lagged.nearestLagIndexView(
      idxed.select(col("cfg"), col("t"), col("time")), "t", "time",
      Seq("cfg")).localCheckpoint(false)
    val pan = (1 to 4).map(i =>
      idxed.where(col(s"X$i").isNotNull)
        .select(col("cfg"), lit(s"X$i").as("series"), col("t"),
          floor(col(s"X$i") * 10).cast("long").as("v")))
      .reduce(_ unionByName _).localCheckpoint(false)
    val e = pan.select(col("cfg"), col("series").as("effect"),
      col("t"), col("v").as("yv"))
    val ep = pan.select(col("cfg"), col("series").as("effect"),
      col("t").as("lag_idx"), col("v").as("pv"))
    val cp = pan.select(col("cfg"), col("series").as("cause"),
      col("t").as("lag_idx"), col("v").as("qv"))
    val lagged = lx.join(e, Seq("cfg", "t"))
      .join(ep, Seq("cfg", "effect", "lag_idx"))
      .join(cp, Seq("cfg", "lag_idx"))
      .where(col("cause") =!= col("effect"))
      .select(concat(col("cfg"), lit("|"), col("cause")).as("cause"),
        concat(col("cfg"), lit("|"), col("effect")).as("effect"),
        col("yv"), col("pv"), col("qv"))
    graft.metrics.Causal.grangerDecide(
      graft.metrics.Causal.grangerSumsFromLagged(lagged), 422L)
  }

  /** q340/q341's shared cfg-folded pairwise-complete panel (milli
    * grain, 200-obs window for the rank-moment n⁴ budget): the config
    * folds into BOTH the series and day keys, so cross-config series
    * share no observation days, no cross moment ever forms, and one
    * pcSkeleton/pcOrient call carries all 48 disjoint graphs.
    */
  private[graft] def shippedD3TreeFoldedPanel(idxed: DataFrame): DataFrame =
    Panels.folded(idxed.where(col("t") < 200), 4, col("cfg"),
      concat(col("cfg"), lit("|"), lpad(col("t").cast("string"), 3, "0")))
      .localCheckpoint(false)

  /** The shipped-cell glob scan as a CTE (q333/q340/q341 oracles): 48
    * CSVs in one read_csv, config identity from the file name,
    * per-config observation index — the SQL twin of
    * [[shippedD3TreeIdxed]].
    */
  private[graft] def shippedD3TreeCsvCte: String =
    s"""csv AS MATERIALIZED (
       |  SELECT X1, X2, X3, X4, "time",
       |    regexp_extract(filename, '([^/]+)_missing\\.csv$$', 1) AS cfg,
       |    row_number() OVER (
       |      PARTITION BY filename ORDER BY "time") - 1 AS t
       |  FROM read_csv('$ShippedD3TreeGlob', header=true, filename=true,
       |    columns={'X1': 'DOUBLE', 'X2': 'DOUBLE', 'X3': 'DOUBLE',
       |      'X4': 'DOUBLE', 'time': 'DOUBLE'}))""".stripMargin

  /** q333/q341's shared Granger CTE block downstream of
    * [[shippedD3TreeCsvCte]] — the SQL twin of
    * [[shippedD3TreeGrangerOut]]; yields `granger_out` with folded
    * cause/effect (deci grain, the n5000 magnitude budget).
    */
  private[graft] def shippedD3TreeGrangerSqlCtes: String =
    s"""${graft.ops.Lagged.nearestLagIndexSqlCtes("csv", "\"time\"",
        Seq("cfg"), materialized = true)},
       |pan AS MATERIALIZED (
       |  SELECT cfg, 'X1' AS series, t, floor(X1 * 10)::BIGINT AS v
       |  FROM csv WHERE X1 IS NOT NULL
       |  UNION ALL SELECT cfg, 'X2', t, floor(X2 * 10)::BIGINT FROM csv
       |  WHERE X2 IS NOT NULL
       |  UNION ALL SELECT cfg, 'X3', t, floor(X3 * 10)::BIGINT FROM csv
       |  WHERE X3 IS NOT NULL
       |  UNION ALL SELECT cfg, 'X4', t, floor(X4 * 10)::BIGINT FROM csv
       |  WHERE X4 IS NOT NULL),
       |gl AS (
       |  SELECT lx.cfg || '|' || cp.series AS cause,
       |    lx.cfg || '|' || e.series AS effect,
       |    e.v AS yv, ep.v AS pv, cp.v AS qv
       |  FROM lx
       |  JOIN pan e ON e.cfg = lx.cfg AND e.t = lx.t
       |  JOIN pan ep ON ep.cfg = lx.cfg AND ep.series = e.series
       |    AND ep.t = lx.lag_idx
       |  JOIN pan cp ON cp.cfg = lx.cfg AND cp.t = lx.lag_idx
       |  WHERE cp.series <> e.series),
       |${graft.metrics.Causal.grangerDecideSqlCtes("gl", 422L)}"""
      .stripMargin

  /** q340/q341's shared cfg-folded PC panel + skeleton CTE block
    * downstream of [[shippedD3TreeCsvCte]] — the SQL twin of
    * [[shippedD3TreeFoldedPanel]] + `pcSkeletonSqlCtes`; yields
    * `pc_out` on folded keys (milli grain, 200-obs window).
    */
  private[graft] def shippedD3TreePcFoldSqlCtes: String =
    s"""panel AS MATERIALIZED (
       |  SELECT cfg || '|X1' AS series,
       |    cfg || '|' || lpad(t::VARCHAR, 3, '0') AS day,
       |    floor(X1 * 1000)::BIGINT AS v
       |  FROM csv WHERE X1 IS NOT NULL AND t < 200
       |  UNION ALL
       |  SELECT cfg || '|X2', cfg || '|' || lpad(t::VARCHAR, 3, '0'),
       |    floor(X2 * 1000)::BIGINT
       |  FROM csv WHERE X2 IS NOT NULL AND t < 200
       |  UNION ALL
       |  SELECT cfg || '|X3', cfg || '|' || lpad(t::VARCHAR, 3, '0'),
       |    floor(X3 * 1000)::BIGINT
       |  FROM csv WHERE X3 IS NOT NULL AND t < 200
       |  UNION ALL
       |  SELECT cfg || '|X4', cfg || '|' || lpad(t::VARCHAR, 3, '0'),
       |    floor(X4 * 1000)::BIGINT
       |  FROM csv WHERE X4 IS NOT NULL AND t < 200),
       |${graft.metrics.Causal.pcSkeletonSqlCtes("panel")}""".stripMargin

  /** Per-graph orientation-aware scoring CTEs shared by the q333/q340
    * oracles — the `Metrics.scoreAll` contract keyed by graphId: both
    * sides collapse to canonical unordered-pair direction flags, a full
    * join yields per-pair flags, and tp/fp/fn plus the reversal-charging
    * structural SHD reduce per graph. Consumes `$truthCte(graphId,
    * source, target)` and `$predCte(graphId, source, target)`; yields
    * `st_sc(g, tp, fp, fn, shd_structural)`.
    */
  private[graft] def scoreByGraphSqlCtes(truthCte: String = "st_truth",
      predCte: String = "st_pred"): String =
    s"""st_ct AS (
       |  SELECT graphId, least(source, target) AS u,
       |    greatest(source, target) AS v,
       |    max(CASE WHEN source <= target THEN 1 ELSE 0 END) AS t_fwd,
       |    max(CASE WHEN source > target THEN 1 ELSE 0 END) AS t_rev
       |  FROM $truthCte GROUP BY 1, 2, 3),
       |st_cp AS (
       |  SELECT graphId, least(source, target) AS u,
       |    greatest(source, target) AS v,
       |    max(CASE WHEN source <= target THEN 1 ELSE 0 END) AS p_fwd,
       |    max(CASE WHEN source > target THEN 1 ELSE 0 END) AS p_rev
       |  FROM $predCte GROUP BY 1, 2, 3),
       |st_j AS (
       |  SELECT coalesce(t.graphId, p.graphId) AS g,
       |    coalesce(t.t_fwd, 0) AS t_fwd, coalesce(t.t_rev, 0) AS t_rev,
       |    coalesce(p.p_fwd, 0) AS p_fwd, coalesce(p.p_rev, 0) AS p_rev
       |  FROM st_ct t FULL JOIN st_cp p
       |    ON p.graphId = t.graphId AND p.u = t.u AND p.v = t.v),
       |st_sc AS (
       |  SELECT g,
       |    sum(t_fwd * p_fwd + t_rev * p_rev) AS tp,
       |    sum(p_fwd * (1 - t_fwd) + p_rev * (1 - t_rev)) AS fp,
       |    sum(t_fwd * (1 - p_fwd) + t_rev * (1 - p_rev)) AS fn,
       |    sum(CASE WHEN t_fwd + t_rev = 1 AND p_fwd + p_rev = 1
       |          AND t_fwd <> p_fwd THEN 1
       |        ELSE abs(t_fwd - p_fwd) + abs(t_rev - p_rev) END)
       |      AS shd_structural
       |  FROM st_j GROUP BY 1)""".stripMargin

  /** q315's truth edge list (A1 4-var lag-2, enumeration-indexed) and cell
    * count — ONE Scala value rendered into both engines (NdcgDisc pattern).
    */
  private[graft] val ShdPanelEdges: Vector[(Int, String, Int, String)] =
    graft.core.Parser.truthLinks("A1", 4, 2).zipWithIndex
      .map { case (l, i) => (i, l.source, l.lag, l.target) }.toVector
  private[graft] val ShdPanelEdgesSqlValues: String =
    ShdPanelEdges.map { case (i, src, lg, tgt) =>
      s"($i, '$src', $lg, '$tgt')" }.mkString(", ")
  private[graft] val ShdPanelTotalCells: Long = 4L * 4L * (2L + 1L)

  /** Quantized log2 in micro units for q320: exact LUT for 1..7, then
    * octave (bit-length) + 4-bit-mantissa LUT — the q319 bucket key
    * doubling as a logarithm, one Scala constant rendered into both
    * engines (the shift spelling is the only dialect difference).
    */
  private[graft] def qlog2Expr(v: String, isSpark: Boolean): String = {
    def l2(x: Int) = Math.round(Math.log(x.toDouble) / Math.log(2.0) * 1e6)
    val small = (1 to 7).map(i => s"WHEN $v = $i THEN ${l2(i)}")
      .mkString(" ")
    val hi =
      if (isSpark) s"$v div shiftleft(1L, cast(length(bin($v)) - 4 as int))"
      else s"$v // (1::BIGINT << (length(bin($v)) - 4))"
    val lut = (8 to 15).map(h => s"WHEN $h THEN ${l2(h)}").mkString(" ")
    s"(CASE $small ELSE cast(length(bin($v)) - 4 as bigint) * 1000000 + " +
      s"(CASE $hi $lut ELSE 0 END) END)"
  }

  /** q317's power-iteration count — one Scala constant driving both the
    * Spark loop and the generated DuckDB CTE chain.
    */
  private[graft] val PcaIters = 6

  /** The quantized embedding slots both PCA stages aggregate over. */
  private[graft] def pcaQuant: Column =
    transform(col("embedding"), v => floor(v * lit(1e6)))

  /** The sufficient statistics of the q317/q318 pipeline's exact-integer
    * centered covariance, which the `PcaIters` power iterations run on
    * (see the q317 comment for the magnitude budget).
    *
    * The covariance comes from [[graft.ops.CovVec.suffStats]] over the 64
    * quantized array slots: ONE `TypedImperativeAggregate`-backed pass over
    * the fact rows (n + 64 sums + 2,080 upper-triangle products
    * accumulated in a single primitive-array buffer with BigInteger
    * overflow carry — exact at any row count), map-side combined, so the
    * shuffle carries one sufficient-statistics row, never vector rows.
    * This replaces the r9 [[graft.ops.CovMatrix.pairSums]] encoding of the
    * same shape, whose 2,145 DECIMAL(38,0) agg expressions + 2,016-struct
    * explode cost ~20 s of DRIVER analysis/codegen per query regardless of
    * data size; the data-pass shape (one aggregate, single-row shuffle) is
    * unchanged and the iteration arithmetic stays bit-identical to the
    * oracle's HUGEINT formulation.
    */
  private[graft] def pcaSuffStats(s: SparkSession, d: String): DataFrame =
    graft.ops.CovVec.suffStats(embeddings(s, d), pcaQuant, 64)

  /** q331's centered covariance cells (da, db, c) decoded from the one
    * sufficient-statistics row — a 2,080-row broadcast index maps pair
    * positions onto (da, db), the strict-upper pairs mirror, and the cell
    * is the numerator n·Σab − Σa·Σb. Everything after the single
    * `CovVec.suffStats` aggregate touches ≤ 4,096 rows.
    */
  private[graft] def pcaCovCells(s: SparkSession, d: String): DataFrame =
    covCellsFrom(s, pcaSuffStats(s, d).localCheckpoint(false))

  /** The decode half of [[pcaCovCells]], reusable over ANY (pos, v)
    * sufficient-statistics frame (q335 feeds it the combined one-pass
    * aggregate's ss array instead of running a second fact scan).
    */
  private[graft] def covCellsFrom(s: SparkSession, ex: DataFrame): DataFrame = {
    val k = 64
    import s.implicits._
    val idx = (for { i <- 0 until k; j <- i until k }
      yield (1 + k + i * k - i * (i - 1) / 2 + (j - i), i, j))
      .toDF("pos", "da", "db")
    val nRow = ex.where(col("pos") === 0).select(col("v").as("n"))
    val sums = ex.where(col("pos").between(1, k))
      .select((col("pos") - 1).cast("int").as("dim"), col("v").as("sm"))
    val prods = ex.where(col("pos") > k).join(broadcast(idx), "pos")
      .select(col("da"), col("db"), col("v").as("sab"))
    val both = prods.unionByName(prods.where(col("da") =!= col("db"))
      .select(col("db").as("da"), col("da").as("db"), col("sab")))
    both
      .join(broadcast(sums.select(col("dim").as("da"), col("sm").as("sma"))),
        Seq("da"))
      .join(broadcast(sums.select(col("dim").as("db"), col("sm").as("smb"))),
        Seq("db"))
      .crossJoin(broadcast(nRow))
      .select(col("da"), col("db"),
        (col("n") * col("sab") - col("sma") * col("smb")).as("c"), col("n"))
  }

  /** q317/q318 component as ONE row (warr: 64 ppm longs): a single
    * `CovVec.topComponent` job — the covariance assembly and all
    * `PcaIters` power-iteration rounds run in the aggregate's `finish`
    * (O(k²·iters) exact BigInteger arithmetic on the sufficient-statistics
    * buffer), so the r9 pipeline's six 64-row scheduler round-trips
    * (checkpointed cov + iteration snaps) collapse into the one data pass.
    */
  private[graft] def pcaComponentRow(s: SparkSession, d: String): DataFrame =
    graft.ops.CovVec.topComponentArr(embeddings(s, d), pcaQuant, 64, PcaIters)
  private[graft] def pcaIterSqlCtes: String = {
    val sb = new StringBuilder
    sb.append("w0 AS (SELECT dim, 1000000::HUGEINT AS w FROM sums)")
    for (k <- 1 to PcaIters) {
      sb.append(s""",
        |i$k AS (
        |  SELECT c.da AS dim, sum(c.c * w.w) AS cw
        |  FROM cov c JOIN w${k - 1} w ON w.dim = c.db GROUP BY 1),
        |w$k AS (
        |  SELECT dim,
        |    CASE WHEN mx = 0 THEN 0 ELSE (cw * 1000000) // mx END AS w
        |  FROM i$k, (SELECT max(abs(cw)) AS mx FROM i$k))""".stripMargin)
    }
    sb.toString
  }

  /** The full q317 pipeline as CTEs (vm → covariance → `w$PcaIters`),
    * shared verbatim by the q317 and q318 oracles.
    */
  private[graft] lazy val PcaSqlCtes: String =
    s"""vm AS (
      |  SELECT vec_id, u.d AS dim,
      |    floor(embedding[u.d + 1] * 1e6)::BIGINT AS m
      |  FROM embeddings,
      |  LATERAL (SELECT unnest(range(0, 64)) AS d) u),
      |nn AS (SELECT count(DISTINCT vec_id)::HUGEINT AS n FROM vm),
      |sums AS (SELECT dim, sum(m)::HUGEINT AS sm FROM vm GROUP BY 1),
      |prods AS (
      |  SELECT a.dim AS da, b.dim AS db,
      |    sum(a.m::HUGEINT * b.m) AS sab
      |  FROM vm a JOIN vm b USING (vec_id) GROUP BY 1, 2),
      |cov AS (
      |  SELECT p.da, p.db, n.n * p.sab - sa.sm * sb.sm AS c
      |  FROM prods p
      |  JOIN sums sa ON sa.dim = p.da
      |  JOIN sums sb ON sb.dim = p.db, nn n),
      |$pcaIterSqlCtes""".stripMargin

  /** q286's quantized logistic confidence table over the clamped margin
    * bin: round(1e6 / (1 + e^(−bin/2))), bins −10..10 — one Scala
    * constant rendered into both engines.
    */
  private[graft] val SigmoidPpm: Map[Int, Long] =
    (-10 to 10).map(b =>
      b -> Math.round(1e6 / (1.0 + Math.exp(-b / 2.0)))).toMap
  private[graft] val SigmoidPpmCase: String =
    "CASE bin " + (-10 to 10).map(b =>
      s"WHEN $b THEN ${SigmoidPpm(b)}L").mkString(" ") + " ELSE 0L END"
  private[graft] val SigmoidPpmCaseSql: String =
    "CASE bin " + (-10 to 10).map(b =>
      s"WHEN $b THEN ${SigmoidPpm(b)}").mkString(" ") + " ELSE 0 END"

  /** Quantized trig tables for q283: round(cos/sin(2πk/period)·1e6) keyed
    * by day % period — one Scala constant rendered into both engines.
    */
  private[graft] def trigCase(fn: String, period: Int): String = {
    val f: Double => Double =
      if (fn == "cos") Math.cos else Math.sin
    "CASE day % " + period + " " + (0 until period).map { k =>
      s"WHEN $k THEN ${Math.round(f(2 * Math.PI * k / period) * 1e6)}"
    }.mkString(" ") + " ELSE 0 END"
  }

  /** q284's half-life-1-day decay weights, ppm: round(1e6 / 2^age). */
  private[graft] val DecayPpmCase: String =
    "CASE age_d " + (0 to 6).map { k =>
      s"WHEN $k THEN ${Math.round(1e6 / Math.pow(2, k))}L"
    }.mkString(" ") + " ELSE 0L END"
  private[graft] val DecayPpmCaseSql: String =
    "CASE age_d " + (0 to 6).map { k =>
      s"WHEN $k THEN ${Math.round(1e6 / Math.pow(2, k))}"
    }.mkString(" ") + " ELSE 0 END"

  /** q281's one ANSI text, parameterized only by the table name (Spark
    * runs it over a temp view, DuckDB over the parquet view).
    */
  private[graft] def LateralTopnSql(table: String): String =
    s"""SELECT p.prio, t.o_orderkey, t.total_milli
       |FROM (SELECT DISTINCT o_orderpriority AS prio FROM $table) p,
       |LATERAL (
       |  SELECT o_orderkey,
       |    cast(floor(o_totalprice * 1000) as bigint) AS total_milli
       |  FROM $table o
       |  WHERE o.o_orderpriority = p.prio
       |  ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 2) t""".stripMargin

  /** Benford expected first-digit frequencies, ppm: round(log10(1+1/d)·1e6)
    * — one Scala constant rendered into both engines' CASE expressions.
    */
  private[graft] val BenfordPpm: IndexedSeq[Long] =
    (1 to 9).map(dg => Math.round(Math.log10(1.0 + 1.0 / dg) * 1e6))
  private[graft] val BenfordPpmCase: String =
    "CASE digit " + BenfordPpm.zipWithIndex.map { case (v, i) =>
      s"WHEN ${i + 1} THEN cast($v as decimal(38,0))"
    }.mkString(" ") + " END"
  private[graft] val BenfordPpmCaseSql: String =
    "CASE digit " + BenfordPpm.zipWithIndex.map { case (v, i) =>
      s"WHEN ${i + 1} THEN $v::HUGEINT"
    }.mkString(" ") + " END"

  /** The q255 planted templates — embedded in both the Spark injection and
    * the DuckDB oracle. Deliberately OUTSIDE the corpus vocabulary (real
    * boilerplate is navigation/license English, not body prose); the
    * boundary grams (template tail × document head) differ per document,
    * so only the four fully-internal 5-grams of each template clear the
    * document-frequency bar.
    */
  private[graft] val BoilerTemplate =
    "terms of service apply all rights reserved contact"
  private[graft] val BoilerRareTemplate =
    "internal draft do not distribute pending review only"

  /** NDCG@5 integer discount table — 1e6 div bitlen(r+1) per rank and its
    * cumulative ideal prefix — rendered once here and embedded in BOTH the
    * Spark expressions and the DuckDB oracle, the single source of truth
    * for the quantized log.
    */
  private[graft] val NdcgDisc: Seq[Long] =
    (1 to 5).map(r => 1000000L / java.lang.Long.toBinaryString(r + 1L).length)
  private[graft] val NdcgDiscCase: String =
    "CASE rank " + (1 to 5).map(r => s"WHEN $r THEN ${NdcgDisc(r - 1)}L")
      .mkString(" ") + " END"
  private[graft] val NdcgIdealCase: String =
    "CASE nrel " + (1 to 5).map(n =>
      s"WHEN $n THEN ${NdcgDisc.take(n).sum}L").mkString(" ") + " END"

  /** The same two CASE tables without Spark's `L` literal suffix (DuckDB
    * BIGINT literals are bare).
    */
  private[graft] val NdcgDiscCaseSql: String = NdcgDiscCase.replace("L ", " ")
  private[graft] val NdcgIdealCaseSql: String = NdcgIdealCase.replace("L ", " ")

  /** The nation→nation trade graph by key (src_key, dst_key, w; q164):
    * supplier-nation → customer-nation weighted by lineitem count. The ONLY
    * fact-scale stage of the graph family — the orders⋈lineitem shuffle
    * with broadcast dims; everything downstream runs on ≤ |nations|² rows.
    */
  private[graft] def nationTradeKeyEdges(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
    val ord = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val cust = customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val supp = supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("s_nationkey").as("src_key"),
        col("c_nationkey").as("dst_key"))
      .agg(count(lit(1)).as("w"))
  }

  /** [[nationTradeKeyEdges]] by nation name (src, dst, w), shared by q86
    * (PageRank), q254 (HITS), q258 (closeness), q260 (modularity) and
    * q290 (hash walks).
    */
  private[graft] def nationTradeEdges(s: SparkSession, d: String): DataFrame = {
    val srcN = nation(s, d).select(col("n_nationkey").as("src_key"),
      col("n_name").as("src"))
    val dstN = nation(s, d).select(col("n_nationkey").as("dst_key"),
      col("n_name").as("dst"))
    nationTradeKeyEdges(s, d)
      .join(broadcast(srcN), "src_key").join(broadcast(dstN), "dst_key")
      .select(col("src"), col("dst"), col("w"))
  }

  /** [[nationTradeEdges]] as one materialized DuckDB CTE `raw`. */
  private[graft] val NationTradeEdgesCte: String =
    """raw AS MATERIALIZED (
      |  SELECT sn.n_name AS src, cn.n_name AS dst, count(*)::BIGINT AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  GROUP BY 1, 2)""".stripMargin

  /** The q195/q197 dirty-name registry: every customer record plus
    * deterministic mutations — a transposed-prefix duplicate (custkey%3),
    * a dropped-letter duplicate (custkey%5), and a different-entity decoy
    * (custkey%7) — in disjoint id spaces. The mutations only touch the
    * alphabetic prefix, so the digit payload `right(name, 9)` is the
    * blocking key that survives every corruption.
    */
  private[graft] def erRegistry(s: SparkSession, d: String): DataFrame = {
    val base = customer(s, d).select(col("c_custkey").as("id"),
      col("c_name").as("name"))
    def variant(mod: Int, offset: Long, to: String) =
      customer(s, d).where(col("c_custkey") % mod === 0)
        .select((col("c_custkey") + offset).as("id"),
          expr(s"replace(c_name, 'Customer#', '$to')").as("name"))
    base
      .unionByName(variant(3, 10000000L, "Custmoer#"))
      .unionByName(variant(5, 20000000L, "Custmer#"))
      .unionByName(variant(7, 30000000L, "Vendor#"))
      .withColumn("blk", expr("right(name, 9)"))
  }

  /** Blocked candidate pairs over [[erRegistry]] with builtin levenshtein
    * attached; id_a < id_b orders each unordered pair once.
    */
  private[graft] def erCandidates(s: SparkSession, d: String): DataFrame = {
    val reg = erRegistry(s, d)
    reg.as("a").join(reg.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.name").as("name_a"), col("b.name").as("name_b"),
        expr("levenshtein(a.name, b.name)").cast("long").as("lev"))
  }

  /** Exact-integer correlation block shared by q150/q151: over paired
    * series values (x, y), all five sums are DECIMAL(38,0) (order-
    * insensitive), and cov = n·Σxy−Σx·Σy, varx/vary likewise, stay exact
    * integers. The final slope (milli) and r² (ppm) divide those identical
    * integers as doubles — deterministic under any partition topology and
    * bit-equal to the DuckDB mirror (HUGEINT sums, same formula text).
    * r² carries no sign, so cov_sign is emitted alongside; zero-variance
    * groups yield null slope/r² on both sides.
    */
  private[graft] def pairCorr(pairs: DataFrame, keys: Seq[String]): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    pairs.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_pairs"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"))
      .withColumn("cov",
        expr("cast(n_pairs as decimal(38,0)) * sxy - sx * sy"))
      .withColumn("varx",
        expr("cast(n_pairs as decimal(38,0)) * sxx - sx * sx"))
      .withColumn("vary",
        expr("cast(n_pairs as decimal(38,0)) * syy - sy * sy"))
      .select(keys.map(col) ++ Seq(col("n_pairs"),
        expr("cast(case when cov > 0 then 1 when cov < 0 then -1 " +
          "else 0 end as bigint)").as("cov_sign"),
        expr("cast(case when varx = 0 then null else " +
          "floor(cast(cov as double) / cast(varx as double) * 1000 + 0.5) " +
          "end as bigint)").as("slope_milli"),
        expr("cast(case when varx = 0 or vary = 0 then null else " +
          "floor(cast(cov as double) * cast(cov as double) " +
          "/ (cast(varx as double) * cast(vary as double)) * 1e6 + 0.5) " +
          "end as bigint)").as("r2_ppm")): _*)
  }

  /** DuckDB mirror of [[pairCorr]] as a SQL fragment: expects a CTE `p`
    * with columns (groupCols..., x, y); emits the g/c CTEs plus the final
    * SELECT. Shared text so q150/q151's oracles cannot drift from each
    * other.
    */
  private[graft] def pairCorrSql(groupCols: String): String =
    s"""g AS (
       |  SELECT $groupCols, count(*)::HUGEINT AS n,
       |    sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
       |    sum(x::HUGEINT * y)::HUGEINT AS sxy,
       |    sum(x::HUGEINT * x)::HUGEINT AS sxx,
       |    sum(y::HUGEINT * y)::HUGEINT AS syy
       |  FROM p GROUP BY ALL),
       |c AS (
       |  SELECT $groupCols, n, n*sxy - sx*sy AS cov,
       |    n*sxx - sx*sx AS varx, n*syy - sy*sy AS vary FROM g)
       |SELECT $groupCols, n::BIGINT AS n_pairs,
       |  (CASE WHEN cov > 0 THEN 1 WHEN cov < 0 THEN -1 ELSE 0
       |    END)::BIGINT AS cov_sign,
       |  (CASE WHEN varx = 0 THEN NULL ELSE
       |    floor(cov::DOUBLE / varx::DOUBLE * 1000 + 0.5)
       |    END)::BIGINT AS slope_milli,
       |  (CASE WHEN varx = 0 OR vary = 0 THEN NULL ELSE
       |    floor(cov::DOUBLE * cov::DOUBLE
       |      / (varx::DOUBLE * vary::DOUBLE) * 1e6 + 0.5)
       |    END)::BIGINT AS r2_ppm
       |FROM c""".stripMargin

  /** q83's snapshot/update boundary: 2024-01-16T00:00:00Z in epoch µs
    * (events span 2024-01-01 .. 2024-01-30) — shared with the oracle.
    */
  private[graft] val UpsertMidUs: Long = 1705363200000000L

  /** 96 synthetic boilerplate tokens shared by q73's Spark side and oracle —
    * the cross-doc duplicated span. Only the offset-0 chunk (tokens 1-64) is
    * fully boilerplate and therefore cross-doc duplicated; the offset-48
    * window mixes bp48-bp95 with each doc's own first 16 tokens, so boosted
    * docs contribute exactly ONE duplicated chunk each.
    */
  private[graft] val Boilerplate: String = (0 until 96).map(i => s"bp$i").mkString(" ")

  // ---------------------------------------------------------------------------

  private[graft] val stopList = "'the','a','of','and','to','in','is','on','for','with'"

  /** Shared q15/q16 oracle prelude: distinct 3-gram shingles per doc and
    * their 31-poly hashes (the MinHash input universe).
    */
  // CTE list WITHOUT the leading WITH so callers can choose plain WITH vs
  // WITH RECURSIVE (q61 chains a recursive reachability CTE onto these)
  private[graft] lazy val ShingleHashCte =
    s"""sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(0, greatest(len(string_split(text,' ')) - 2, 0)),
      |    i -> array_to_string(list_slice(string_split(text,' '), i + 1, i + 3), ' ')))) AS shingle
      |  FROM documents),
      |h AS (SELECT doc_id, ${fingerprintSql("shingle", "j")} AS h FROM sh)""".stripMargin

  /** The curation predicates q64 (funnel) and q66 (per-doc decisions) share
    * — ONE definition per threshold on each engine side, so the two queries
    * (and their oracles) cannot drift apart when a bound is tuned.
    */
  private[graft] object Curation {
    import org.apache.spark.sql.Column
    private def nTok = size(TextOps.tokensCol(col("text")))
    private def nChars = length(col("text"))
    def langEn: Column = col("lang_pred") === "en"
    // 50+ tokens with mean token length in [3,10]: integer cross-
    // multiplication of (n_chars − n_tokens + 1) / n_tokens
    def lenOk: Column = nTok >= 50 &&
      (nChars - nTok + 1) >= nTok * 3 && (nChars - nTok + 1) <= nTok * 10
    def notRepetitive: Column = {
      // closed-form total + native-expression distinct (shared q57 kernel)
      // instead of materializing the HOF shingle array twice per row
      val sc = TextOps.shingleCounts(col("text"), 3)
      val nSh = sc.getField("n_shingles")
      val nDsh = sc.getField("n_distinct_shingles")
      !((nSh - nDsh) * 5 > nSh)
    }
    // DuckDB fragments over the (n_tokens, n_chars, n_sh, n_dsh) CTE names
    val LenOkSql = "(n_tokens >= 50 AND n_chars - n_tokens + 1 >= 3 * n_tokens" +
      " AND n_chars - n_tokens + 1 <= 10 * n_tokens)"
    val NotRepetitiveSql = "(NOT (5 * (n_sh - n_dsh) > n_sh))"
  }

  /** DuckDB mirror of TextOps.fingerprint over the string expression `x` —
    * THE definition of the rolling-hash contract, shared by every
    * fingerprint-bearing oracle (q12, the shingle/token hashes, q26/q50
    * content hashes, q62/q66 sampling buckets, q68/q69). `iv` renames the
    * lambda index where the surrounding scope already binds `i`.
    */
  private[graft] def fingerprintSql(x: String, iv: String = "i"): String =
    s"list_reduce(list_prepend(0::BIGINT, " +
      s"list_transform(range(1, length($x) + 1), $iv -> ascii(substr($x, $iv::INT, 1))::BIGINT)), " +
      s"(a, b) -> (a * 31 + b) % 2147483647)"

  /** DuckDB mirror of TextOps.langId's argmax-with-tie-break — the CASE
    * prioritizes language codes in order, exactly the greatest-of-structs
    * tie-break on the Spark side. Shared by q11 and q64.
    */
  private[graft] val LangPredCaseSql: String = {
    def score(words: Seq[String]) =
      s"len(list_filter(string_split(text, ' '), t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"
    val de = score(Seq("der", "die", "und", "nicht", "das", "ist", "du", "ich", "ein", "mit"))
    val en = score(Seq("the", "and", "is", "of", "to", "a", "in", "that", "it", "for"))
    val es = score(Seq("el", "la", "que", "de", "no", "los", "una", "por", "con", "para"))
    val fr = score(Seq("le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"))
    val zh = score(Seq("de", "shi", "bu", "wo", "ni", "ta", "zai", "le", "you", "men"))
    s"""CASE
       |    WHEN $de >= $en AND $de >= $es AND $de >= $fr AND $de >= $zh THEN 'de'
       |    WHEN $en >= $es AND $en >= $fr AND $en >= $zh THEN 'en'
       |    WHEN $es >= $fr AND $es >= $zh THEN 'es'
       |    WHEN $fr >= $zh THEN 'fr'
       |    ELSE 'zh' END""".stripMargin
  }

  /** CTE chain (no leading WITH) ending in `pairs(id_a, id_b, est_jaccard)`
    * — the exact q16 LSH candidate-pair set, shared verbatim by q16 and by
    * q61's recursive-closure oracle so both compare against the same pairs.
    */
  private[graft] val MinhashPairsCtes: String = {
    val mins = graft.text.Dedup.MinhashCoefs.zipWithIndex.map { case ((a, b), i) =>
      s"min((h * $a + $b) % 2147483647)::BIGINT AS mh_$i"
    }.mkString(",\n  ")
    val nBands = 4; val rows = 4
    def bucketExpr(b: Int) = (0 until rows).foldLeft("0") { (acc, i) =>
      s"(($acc * 1000003 + mh_${b * rows + i}) % 2147483647)"
    }
    val mhList = (0 until 16).map(i => s"mh_$i").mkString(", ")
    val bandSelects = (0 until nBands).map(b =>
      s"SELECT doc_id, $b AS band, ${bucketExpr(b)} AS bucket, $mhList FROM sig"
    ).mkString("\n  UNION ALL\n  ")
    val matches = (0 until 16).map(i => s"(CASE WHEN a.mh_$i = b.mh_$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""$ShingleHashCte,
       |sig AS (SELECT doc_id, $mins FROM h GROUP BY doc_id),
       |banded AS (
       |  $bandSelects),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    round(($matches)::DOUBLE / 16, 6) AS est_jaccard
       |  FROM banded a
       |  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |  WHERE round(($matches)::DOUBLE / 16, 6) >= 0.25)""".stripMargin
  }

  /** The near-dup component of every document (q61, q93, q100): the q16
    * LSH pairs' connected components, each labelled by its min doc_id,
    * singletons labelling themselves — (doc_id, component).
    */
  private[graft] def minhashComponents(docs: DataFrame): DataFrame = {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, numHashes = 16, bands = 4, minEstJaccard = 0.25)
    graft.ops.ConnectedComponents.componentsOf(
        docs.select(col("doc_id").as("id")), pairs)
      .withColumnRenamed("id", "doc_id")
  }

  /** [[minhashComponents]] as DuckDB CTEs (no leading WITH; the caller
    * writes WITH RECURSIVE): [[MinhashPairsCtes]], then
    * `ConnectedComponents.componentsSqlCtes` over every document; yields
    * `comp(id, component)` with id = doc_id.
    */
  private[graft] val MinhashComponentsCtes: String =
    s"""$MinhashPairsCtes,
       |doc_ids AS (SELECT doc_id AS id FROM documents),
       |${graft.ops.ConnectedComponents.componentsSqlCtes("pairs", "doc_ids")}""".stripMargin

  /** Sliding-window replay both sliding queries share (q103 single-batch,
    * q109 multi-batch — complete output mode makes the final table
    * identical): every event × its 5 slide offsets.
    */
  private[graft] val SlidingWindowOracleSql =
    """WITH ev AS (
      |  SELECT event_type, epoch_us(ts) AS ts_us,
      |    floor(value * 1e6)::BIGINT AS vm
      |  FROM events),
      |w AS (
      |  SELECT event_type, vm,
      |    ((ts_us // 60000000) - i) * 60000000 AS window_start_us
      |  FROM ev, range(0, 5) r(i))
      |SELECT window_start_us, event_type, count(*)::BIGINT AS n_events,
      |  sum(vm)::BIGINT AS sum_value_micro
      |FROM w GROUP BY 1, 2""".stripMargin

  /** The gap-sessionization + watermark-finality emission model both
    * session queries share (q40 single-batch, q55 multi-batch — finality
    * makes the emitted set identical).
    */
  private[graft] val SessionFinalityOracleSql =
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
        |flagged AS (
        |  SELECT user_id, ts_us, value,
        |    CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, value)
        |              > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM ev),
        |sess AS (
        |  SELECT user_id, ts_us, value,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, value
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |agg AS (
        |  SELECT user_id, sid, min(ts_us) AS start_us, max(ts_us) AS end_us,
        |    count(*)::INT AS n_events,
        |    sum(floor(value * 1e6)::BIGINT)::BIGINT AS sum_value_micro
        |  FROM sess GROUP BY user_id, sid),
        |wm AS (SELECT max(ts_us) // 1000 - 3600000 AS wm_ms FROM ev)
        |SELECT a.user_id, a.start_us, a.end_us, a.n_events, a.sum_value_micro
        |FROM agg a, wm
        |WHERE a.end_us + 1800000000 < wm.wm_ms * 1000""".stripMargin

  /** Batch-equal windowed aggregation (q18 single-batch, q56 multi-batch —
    * complete output mode is decomposition-invariant).
    */
  private[graft] val WindowAggOracleSql =
    """SELECT (epoch_us(ts) // 300000000) * 300000000 AS window_start_us, event_type,
      |  count(*) AS n_events,
      |  sum(floor(value * 1e6)::BIGINT)::BIGINT AS sum_value_micro
      |FROM events GROUP BY 1, 2""".stripMargin

  /** q177's per-config digest over a named kernel dump — shared with the
    * `_gen` artifact row, which pins the same contract on its own dump.
    */
  private[graft] def sweepDigestOracleSql(dump: String): String =
    s"""SELECT configId AS config_id, family, count(*) AS n_rows,
      |  sum(floor(greatest(least(X1, 1e6), -1e6) * 1e6)::BIGINT)::BIGINT
      |    AS sum_x1c_micro,
      |  sum(CASE WHEN abs(X1) > 1e6 THEN 1 ELSE 0 END)::BIGINT AS n_clipped,
      |  sum(floor("time" * 1e6)::BIGINT)::BIGINT AS sum_time_micro,
      |  sum(maskBits)::BIGINT AS mask_sum
      |FROM read_parquet('__GEN_DIR__/$dump/*.parquet')
      |GROUP BY 1, 2""".stripMargin

  /** q189's integer BM25 ranking — shared with the q190 hybrid fusion and
    * (with a non-default `maxDfPermille`) the q227 stopword-capped variant.
    * The div chain floors at the same three points on both engines. The
    * Spark side's posting-join salting is score-preserving by construction,
    * so the oracle needs no mirror of it.
    */
  private[graft] def bm25OracleSql(k: Int, maxDfPermille: Int = 1000): String =
    s"""SELECT query_id, cand_id, score_milli, rank FROM (
      |  WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |               FROM documents),
      |  tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
      |  dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY 1),
      |  st AS (SELECT count(*)::BIGINT AS n_docs,
      |           (sum(dl) * 1000) // count(*) AS avg_milli FROM dl),
      |  dfreq AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY 1),
      |  post AS (
      |    SELECT f.doc_id, f.tok,
      |      (length(bin(a.n_docs // d.df))::BIGINT * f.tf * 2200 * 1000) //
      |      (f.tf * 1000 + 300 +
      |       (900 * ((l.dl * 1000000) // a.avg_milli)) // 1000) AS c_milli
      |    FROM tf f JOIN dl l USING (doc_id) JOIN dfreq d USING (tok)
      |    CROSS JOIN st a
      |    WHERE d.df * 1000 <= a.n_docs * $maxDfPermille),
      |  q AS (SELECT DISTINCT doc_id AS query_id, tok FROM tok
      |        WHERE doc_id % 50 = 0),
      |  sc AS (SELECT q.query_id, p.doc_id AS cand_id,
      |           sum(p.c_milli)::BIGINT AS score_milli
      |         FROM q JOIN post p USING (tok) GROUP BY 1, 2)
      |  SELECT query_id, cand_id, score_milli,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score_milli DESC, cand_id) AS rank
      |  FROM sc)
      |WHERE rank <= $k""".stripMargin

  /** q14's exact cosine top-5 oracle — shared with the q147 recall audit
    * and (with the q190 probe set) the hybrid-retrieval fusion.
    */
  private[graft] def cosineTopkOracleSql(k: Int,
      probePred: String = "q.vec_id < 10",
      table: String = "embeddings"): String =
    s"""SELECT query_id, cand_id, cos, rank FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |    round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
      |      (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
      |       sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) AS cos,
      |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |      round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
      |        (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
      |         sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) DESC,
      |      c.vec_id) AS rank
      |  FROM $table q, $table c
      |  WHERE $probePred AND q.vec_id <> c.vec_id)
      |WHERE rank <= $k""".stripMargin

  private[graft] val CosineTopkOracleSql = cosineTopkOracleSql(5)

  /** Raw dot-product (max-inner-product) ranking mirror of
    * [[Similarity.dotTopK]] — shared by the q155 fusion oracle.
    */
  private[graft] def dotTopkOracleSql(k: Int): String =
    s"""SELECT query_id, cand_id, dp, rank FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |    round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS dp,
      |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |      round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
      |      c.vec_id) AS rank
      |  FROM embeddings q, embeddings c
      |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
      |WHERE rank <= $k""".stripMargin

  /** q49's IVF top-5 oracle (cell assignment + probe ranking mirrored
    * exactly) — shared with the q147 recall audit.
    */
  private[graft] val IvfTopkOracleSql = {
    def cdist(v: String, c: String) =
      s"""list_dot_product($v, $c) /
         |      (sqrt(list_dot_product($v, $v)) * sqrt(list_dot_product($c, $c)))""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cents AS (SELECT vec_id AS cell_id, v AS centroid FROM e
       |          ORDER BY vec_id LIMIT 16),
       |corp AS (
       |  SELECT vec_id AS cand_id, v AS cv, cell_id FROM (
       |    SELECT e.vec_id, e.v, c.cell_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cdist("e.v", "c.centroid")} DESC, c.cell_id) AS crank
       |    FROM e CROSS JOIN cents c)
       |  WHERE crank = 1),
       |qs AS (
       |  SELECT vec_id AS query_id, v AS qv, cell_id FROM (
       |    SELECT e.vec_id, e.v, c.cell_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cdist("e.v", "c.centroid")} DESC, c.cell_id) AS crank
       |    FROM e CROSS JOIN cents c WHERE e.vec_id < 10)
       |  WHERE crank <= 4),
       |cand AS (
       |  SELECT q.query_id, c.cand_id,
       |    round(${cdist("q.qv", "c.cv")}, 6) AS cos
       |  FROM qs q JOIN corp c ON q.cell_id = c.cell_id AND q.query_id <> c.cand_id)
       |SELECT query_id, cand_id, cos, rank FROM (
       |  SELECT query_id, cand_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
       |  FROM cand)
       |WHERE rank <= 5""".stripMargin
  }

  /** q235's SQL — ONE ANSI string both engines execute verbatim (the
    * Spark side over temp views, the oracle over DuckDB's parquet views):
    * a depth-bounded recursive walk census, seeded at the smallest nation
    * with outgoing edges (data-derived — nation 0 has no suppliers at
    * small SFs), over the distinct supplier→customer nation edges. `n_walks` counts WALKS (the
    * UNION ALL keeps duplicates), so the recursion semantics — seed,
    * step, bound — are pinned, not just the reachable set.
    */
  private[graft] def RecursiveReachSql(li: String, ord: String, sup: String,
      cust: String): String =
    s"""WITH RECURSIVE edges AS (
       |  SELECT DISTINCT s_nationkey AS u, c_nationkey AS v
       |  FROM $li
       |  JOIN $ord ON l_orderkey = o_orderkey
       |  JOIN $sup ON l_suppkey = s_suppkey
       |  JOIN $cust ON o_custkey = c_custkey
       |  WHERE s_nationkey <> c_nationkey),
       |walk(node, hops) AS (
       |  SELECT CAST(min(u) AS BIGINT) AS node, CAST(0 AS BIGINT) AS hops
       |  FROM edges
       |  UNION ALL
       |  SELECT CAST(e.v AS BIGINT), w.hops + 1
       |  FROM walk w JOIN edges e ON e.u = w.node
       |  WHERE w.hops < 3)
       |SELECT node, min(hops) AS min_hops, count(*) AS n_walks
       |FROM walk GROUP BY node""".stripMargin

  /** Shared CTE chains for the perceptual-fingerprint oracles — ONE
    * definition of each modality's pixel/sample replay, so q239, q242 and
    * the q245 cross-modal capstone cannot drift apart. `ImageAHashCtes`
    * ends in `halves(id, base, lo, hi)`; `audioFpCtes(pred)` ends in
    * `afp(id, base, fp)`. No leading WITH.
    */
  private[graft] val ImageAHashCtes: String =
    """iids AS (
      |  SELECT doc_id AS id, doc_id // 4 AS base, (doc_id % 4) * 7 AS dl
      |  FROM documents),
      |dims AS (
      |  SELECT id, base, dl, 16 + base % 16 AS w, 12 + base % 8 AS h
      |  FROM iids),
      |px AS (
      |  SELECT id, base, j,
      |    least(((base * 2654435761 +
      |        ((((j // 8) * h) // 8) * w + ((j % 8) * w) // 8) * 40503)
      |       % 2147483648) % 256 + dl, 255) AS p
      |  FROM dims, range(64) t(j)),
      |sums AS (SELECT id, sum(p)::BIGINT AS sp FROM px GROUP BY 1),
      |bits AS (
      |  SELECT px.id, px.base, px.j,
      |    CASE WHEN 64 * px.p > s.sp THEN 1::BIGINT ELSE 0::BIGINT END
      |      AS bit
      |  FROM px JOIN sums s ON s.id = px.id),
      |halves AS (
      |  SELECT id, base,
      |    sum(CASE WHEN j < 32 THEN bit << j ELSE 0 END)::BIGINT AS lo,
      |    sum(CASE WHEN j >= 32 THEN bit << (j - 32) ELSE 0 END)::BIGINT
      |      AS hi
      |  FROM bits GROUP BY 1, 2)""".stripMargin

  private[graft] def audioFpCtes(pred: String): String =
    s"""aids AS (
      |  SELECT doc_id AS id, doc_id // 4 AS base, (doc_id % 4) * 5 AS dl
      |  FROM documents WHERE $pred),
      |sm AS (
      |  SELECT id, base, n,
      |    (((base + 7777) * 2654435761 + n * (40503 + 2 * base))
      |      % 2147483648) % 256 % 240 + dl AS s
      |  FROM aids, range(64) t(n)),
      |wc AS (
      |  SELECT sm.id, sm.base, k.k,
      |    sum(CASE WHEN bit_count(k.k & sm.n) % 2 = 0 THEN sm.s
      |             ELSE -sm.s END)::BIGINT AS w
      |  FROM sm, range(1, 33) k(k)
      |  GROUP BY 1, 2, 3),
      |afp AS (
      |  SELECT id, base,
      |    sum(CASE WHEN w > 0 THEN 1::BIGINT << (k - 1)
      |             ELSE 0 END)::BIGINT AS fp
      |  FROM wc GROUP BY 1, 2)""".stripMargin

  /** Winnowing-selection CTE chain over a relation `src(doc_id, text)` —
    * ONE definition shared by q246 and the q248 MOSS detector. Ends in
    * `sel(doc_id, n_shingles, sh, spos)`. No leading WITH.
    */
  private[graft] def winnowSelCtes(src: String): String =
    s"""wt AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM $src
      |  WHERE len(string_split(text, ' ')) >= 3),
      |g0 AS (
      |  SELECT doc_id, unnest(list_transform(range(0, len(t) - 2),
      |    i -> struct_pack(p := i,
      |      g := array_to_string(list_slice(t, i + 1, i + 3), ' '))))
      |    AS u
      |  FROM wt),
      |g AS (SELECT doc_id, u.p AS pos, ${fingerprintSql("u.g")} AS h
      |      FROM g0),
      |ns AS (SELECT doc_id, count(*)::BIGINT AS n_shingles FROM g
      |       GROUP BY 1),
      |wm AS (
      |  SELECT doc_id, pos,
      |    min(h * 4294967296 + (4294967295 - pos)) OVER (
      |      PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
      |  FROM g),
      |sel AS (
      |  SELECT DISTINCT w2.doc_id, ns.n_shingles,
      |    wmin // 4294967296 AS sh,
      |    4294967295 - wmin % 4294967296 AS spos
      |  FROM wm w2 JOIN ns ON ns.doc_id = w2.doc_id
      |  WHERE w2.pos <= ns.n_shingles - 4)""".stripMargin

  /** q241's oracle: the greedy k-center rounds unrolled — each round's
    * min-distance table over the not-yet-chosen points, the (dist DESC,
    * id) 1-row argmax, and the growing chosen set, with the engine's
    * micro-integer distance contract.
    */
  private[graft] def kCenterOracleSql(k: Int): String = {
    def d2(x: String, c: String) =
      s"floor((list_dot_product($x, $x) - 2.0 * list_dot_product($x, $c)" +
        s" + list_dot_product($c, $c)) * 1e6 + 0.5)::BIGINT"
    val rounds = (1 until k).map { i =>
      s"""d$i AS (
         |  SELECT p.vec_id, min(${d2("p.v", "cj.cv")}) AS dmin
         |  FROM e p CROSS JOIN (
         |    SELECT q.v AS cv FROM c${i - 1} ch
         |    JOIN e q ON q.vec_id = ch.id) cj
         |  WHERE p.vec_id NOT IN (SELECT id FROM c${i - 1})
         |  GROUP BY p.vec_id),
         |p$i AS (SELECT vec_id AS id, ${i}::BIGINT AS rnd, dmin AS dm
         |        FROM d$i ORDER BY dmin DESC, vec_id LIMIT 1),
         |c$i AS MATERIALIZED (SELECT id, rnd, dm FROM c${i - 1}
         |        UNION ALL SELECT id, rnd, dm FROM p$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT 0::BIGINT AS id, 0::BIGINT AS rnd, 0::BIGINT AS dm),
       |$rounds
       |SELECT rnd AS sel_round, id AS vec_id, dm AS dist_micro
       |FROM c${k - 1}""".stripMargin
  }

  /** q250's oracle: IVF-PQ with residual quantization replayed — coarse
    * L2 assignment, elementwise residuals, codebooks from the residuals
    * of ids [nCells, nCells+nCent), per-(vector, sub) argmin codes,
    * nProbe probed cells, residual ADC tables, integer ADC sums.
    */
  private[graft] def ivfPqOracleSql(k: Int, nCells: Int = 16, nProbe: Int = 4,
      nSub: Int = 4, subDim: Int = 16, nCent: Int = 16): String = {
    def d2(x: String, c: String) =
      s"floor((list_dot_product($x, $x) - 2.0 * list_dot_product($x, $c)" +
        s" + list_dot_product($c, $c)) * 1e6 + 0.5)::BIGINT"
    def sl(r: String) = s"list_slice($r, cb.sub * $subDim + 1," +
      s" cb.sub * $subDim + $subDim)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cents AS (SELECT vec_id AS cell_id, v AS cellv FROM e
       |          WHERE vec_id < $nCells),
       |resC AS (
       |  SELECT vec_id, cell_id,
       |    list_transform(range(1, ${nSub * subDim + 1}),
       |      i -> v[i] - cellv[i]) AS r
       |  FROM (
       |    SELECT e.vec_id, e.v, c.cell_id, c.cellv,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${d2("e.v", "c.cellv")}, c.cell_id) AS rk
       |    FROM e, cents c) WHERE rk = 1),
       |cb AS (
       |  SELECT s.s AS sub, (rc.vec_id - $nCells)::BIGINT AS cid,
       |    list_slice(rc.r, s.s * $subDim + 1, s.s * $subDim + $subDim)
       |      AS cs
       |  FROM resC rc, (SELECT unnest(range(0, $nSub)) AS s) s
       |  WHERE rc.vec_id >= $nCells AND rc.vec_id < ${nCells + nCent}),
       |codes AS (
       |  SELECT vec_id AS cand_id, cell_id, sub, cid AS code FROM (
       |    SELECT rc.vec_id, rc.cell_id, cb.sub, cb.cid,
       |      row_number() OVER (PARTITION BY rc.vec_id, cb.sub
       |        ORDER BY ${d2(sl("rc.r"), "cb.cs")}, cb.cid) AS rk
       |    FROM resC rc CROSS JOIN cb) WHERE rk = 1),
       |qprobe AS (
       |  SELECT query_id, cell_id, rq FROM (
       |    SELECT e.vec_id AS query_id, c.cell_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${d2("e.v", "c.cellv")}, c.cell_id) AS rk,
       |      list_transform(range(1, ${nSub * subDim + 1}),
       |        i -> e.v[i] - c.cellv[i]) AS rq
       |    FROM e, cents c WHERE e.vec_id < 10) WHERE rk <= $nProbe),
       |qtab AS (
       |  SELECT q.query_id, q.cell_id, cb.sub, cb.cid AS code,
       |    ${d2(sl("q.rq"), "cb.cs")} AS qd
       |  FROM qprobe q CROSS JOIN cb),
       |${adcTopKSql("q.cell_id = cd.cell_id\n    AND " +
         "q.sub = cd.sub AND q.code = cd.code", k)}""".stripMargin
  }

  /** q233's oracle: the q192 neighbor graph, then `rounds` synchronous
    * label-propagation updates unrolled as identical CTE blocks —
    * neighbor votes UNION the self-vote, (count DESC, label ASC) winner —
    * and the community-size census.
    */
  private[graft] def lpaOracleSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      val prev = s"l${i - 1}"
      s"""v$i AS (
         |  SELECT node, lbl, count(*)::BIGINT AS c FROM (
         |    SELECT e.u AS node, l.lbl FROM e JOIN $prev l ON l.node = e.v
         |    UNION ALL SELECT node, lbl FROM $prev)
         |  GROUP BY 1, 2),
         |l$i AS (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl,
         |      row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl)
         |        AS r
         |    FROM v$i) WHERE r = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $GridNeighborPairsSqlCtes,
       |e AS (SELECT a_id AS u, b_id AS v FROM nn
       |      UNION ALL SELECT b_id, a_id FROM nn),
       |l0 AS (SELECT id AS node, id AS lbl FROM c),
       |$roundCtes,
       |comm AS (SELECT lbl, count(*)::BIGINT AS sz FROM l$rounds GROUP BY 1)
       |SELECT sz AS comm_size, count(*)::BIGINT AS n_comms,
       |  sum(lbl::HUGEINT)::BIGINT AS label_sum
       |FROM comm GROUP BY 1""".stripMargin
  }

  /** q234's oracle: product quantization replayed relationally — subspace
    * slices, first-16-by-id codebooks, (micro-distance, centroid) argmin
    * codes, broadcast ADC tables, integer ADC sums, (distance ASC, id)
    * ranking. Identical double arithmetic (xx − 2·xc + cc, half-up micro
    * rounding) on both engines.
    */
  private[graft] def pqAdcOracleSql(k: Int, nSub: Int = 4, subDim: Int = 16,
      nCent: Int = 16): String = {
    def d2(x: String, c: String) =
      s"floor((list_dot_product($x, $x) - 2.0 * list_dot_product($x, $c)" +
        s" + list_dot_product($c, $c)) * 1e6 + 0.5)::BIGINT"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sub AS (SELECT unnest(range(0, $nSub)) AS sub),
       |sl AS (
       |  SELECT e.vec_id, s.sub,
       |    list_slice(e.v, s.sub * $subDim + 1, s.sub * $subDim + $subDim)
       |      AS xs
       |  FROM e, sub s),
       |cents AS (
       |  SELECT vec_id AS cid, sub, xs AS cs FROM sl
       |  WHERE vec_id < $nCent),
       |codes AS (
       |  SELECT vec_id AS cand_id, sub, cid AS code FROM (
       |    SELECT sl.vec_id, sl.sub, c.cid,
       |      row_number() OVER (PARTITION BY sl.vec_id, sl.sub
       |        ORDER BY ${d2("sl.xs", "c.cs")}, c.cid) AS r
       |    FROM sl JOIN cents c ON c.sub = sl.sub) WHERE r = 1),
       |qtab AS (
       |  SELECT sl.vec_id AS query_id, sl.sub, c.cid AS code,
       |    ${d2("sl.xs", "c.cs")} AS qd
       |  FROM sl JOIN cents c ON c.sub = sl.sub
       |  WHERE sl.vec_id < 10),
       |${adcTopKSql("q.sub = cd.sub AND q.code = cd.code", k)}""".stripMargin
  }

  /** The ADC top-k tail of the two PQ oracles: `sc` sums each query's
    * `qtab` distances over a candidate's `codes` joined `on`, then the
    * (distance, id) top `k` per query.
    */
  private def adcTopKSql(on: String, k: Int): String =
    s"""sc AS (
       |  SELECT q.query_id, cd.cand_id, sum(q.qd)::BIGINT AS adc_micro
       |  FROM codes cd JOIN qtab q ON $on
       |  WHERE q.query_id <> cd.cand_id
       |  GROUP BY 1, 2)
       |SELECT query_id, cand_id, adc_micro, rank FROM (
       |  SELECT query_id, cand_id, adc_micro,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_micro, cand_id) AS rank
       |  FROM sc)
       |WHERE rank <= $k""".stripMargin

  def oracleSql: Map[String, String] =
    oracleSqlRelational ++ oracleSqlTextSim ++ oracleSqlGenStats ++ oracleSqlGeneration ++ oracleSqlPipeline ++ oracleSqlCausal


  /** The q231/q286/q287 linear quality margin as CTEs — THE DuckDB mirror
    * of [[graft.text.TextOps.linearQualityMargin]]; yields
    * `qmargin(lang, margin)`.
    */
  private[graft] val QualityMarginCtes: String =
    """qm_f AS (
      |  SELECT lang,
      |    len(string_split(text, ' '))::BIGINT AS n_tokens,
      |    length(text)::BIGINT AS n_chars,
      |    len(list_filter(string_split(text, ' '), t -> t IN
      |      ('the','a','of','and','to','in','is','on','for','with')))
      |      ::BIGINT AS n_stop,
      |    length(regexp_replace(text, '[^a-z]', '', 'g'))::BIGINT
      |      AS n_alpha
      |  FROM documents),
      |qm_g AS (
      |  SELECT lang, n_tokens,
      |    (n_stop * 1000) // n_tokens AS stop_pm,
      |    (n_alpha * 1000) // greatest(n_chars, 1) AS alpha_pm,
      |    ((n_chars - n_tokens + 1) * 1000) // n_tokens AS mtl_milli
      |  FROM qm_f),
      |qmargin AS (
      |  SELECT lang, (4 * n_tokens + 2 * stop_pm + alpha_pm
      |    - abs(mtl_milli - 4500) // 2 - 800)::BIGINT AS margin
      |  FROM qm_g)""".stripMargin

  /** The causal suite's shared daily panel — milli-unit day means per
    * event_type (mirrors [[graft.metrics.Causal.dailyMeanPanel]]): means,
    * not sums, so the integer magnitudes are corpus-scale-invariant.
    */
  private[graft] val CausalPanelCte: String =
    """panel AS (
      |  SELECT event_type AS series, epoch_us(ts) // 86400000000 AS day,
      |    (sum(floor(value * 1e6)::BIGINT) // (count(*) * 1000))::BIGINT
      |      AS v
      |  FROM events GROUP BY 1, 2)""".stripMargin

  private[graft] def lnMicroCaseSql(operand: String): String =
    graft.metrics.Causal.lnMicroCase(operand, 64)

  /** Per-round BPE cross-check over the positional dumps Spark wrote
    * (`Bpe.train` dumpDir): round r's argmax pair is re-derived from dump r
    * by weighted adjacent-pair counting, and the merge APPLICATION is
    * re-derived via candidate-chain parity — a chain of L consecutive
    * candidate positions (only possible when pa = pb) merges ceil(L/2)
    * times under the left-to-right fold — giving an independent
    * n_tokens_after from the same rows.
    */
  private[graft] def bpeOracleSql(rounds: Int): String = {
    val per = (0 until rounds).map { r =>
      s"""b$r AS MATERIALIZED (
         |  SELECT * FROM read_parquet('__GEN_DIR__/q256_bpe/r$r/*.parquet')),
         |p$r AS (SELECT a.sym AS pa, b.sym AS pb, sum(a.cnt)::BIGINT AS cnt
         |  FROM b$r a JOIN b$r b ON a.w = b.w AND b.pos = a.pos + 1
         |  GROUP BY 1, 2),
         |t$r AS (SELECT pa, pb, cnt FROM p$r
         |  ORDER BY cnt DESC, pa, pb LIMIT 1),
         |c$r AS (SELECT a.w, a.cnt, a.pos
         |  FROM b$r a JOIN b$r b ON a.w = b.w AND b.pos = a.pos + 1
         |  JOIN t$r t ON a.sym = t.pa AND b.sym = t.pb),
         |g$r AS (SELECT w, cnt, count(*) AS chain FROM (
         |    SELECT w, cnt, pos,
         |      pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS grp
         |    FROM c$r) GROUP BY w, cnt, grp),
         |m$r AS (SELECT coalesce(sum(cnt * ((chain + 1) // 2)), 0)::BIGINT
         |    AS merges FROM g$r),
         |n$r AS (SELECT sum(cnt)::BIGINT AS total FROM b$r),
         |r$r AS (SELECT $r::BIGINT AS round, t.pa, t.pb, t.cnt,
         |    (n.total - m.merges)::BIGINT AS n_tokens_after
         |  FROM t$r t, n$r n, m$r m)""".stripMargin
    }.mkString(",\n")
    val unions = (0 until rounds).map(r => s"SELECT * FROM r$r")
      .mkString("\nUNION ALL ")
    s"WITH $per\n$unions"
  }

  /** q195/q197's shared SQL fragment — the dirty registry and its blocked
    * candidate pairs, mirroring [[erRegistry]]/[[erCandidates]] literally
    * so the two oracles cannot drift from the Spark side or each other.
    */
  private[graft] val ErCandCtes: String =
    """cust AS (SELECT c_custkey, c_name FROM customer),
      |reg AS (
      |  SELECT c_custkey AS id, c_name AS name FROM cust
      |  UNION ALL
      |  SELECT c_custkey + 10000000,
      |    replace(c_name, 'Customer#', 'Custmoer#')
      |  FROM cust WHERE c_custkey % 3 = 0
      |  UNION ALL
      |  SELECT c_custkey + 20000000,
      |    replace(c_name, 'Customer#', 'Custmer#')
      |  FROM cust WHERE c_custkey % 5 = 0
      |  UNION ALL
      |  SELECT c_custkey + 30000000,
      |    replace(c_name, 'Customer#', 'Vendor#')
      |  FROM cust WHERE c_custkey % 7 = 0),
      |regb AS (SELECT id, name, right(name, 9) AS blk FROM reg),
      |cand AS (
      |  SELECT a.id AS id_a, b.id AS id_b, a.name AS name_a,
      |    b.name AS name_b, levenshtein(a.name, b.name)::BIGINT AS lev
      |  FROM regb a JOIN regb b ON a.blk = b.blk AND a.id < b.id)"""
      .stripMargin
}
