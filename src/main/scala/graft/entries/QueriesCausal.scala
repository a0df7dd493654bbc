package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core._
import graft.generate.{Generate, Panels}
import graft.ops.{AsOf, ExactStats, Lagged}
import graft.text.{Dedup, TextOps}
import graft.sim.Similarity

/** Causal slice of [[SparkEntry.queries]] — mechanical split of the
  * single registry map; entry bodies are verbatim. */
private[graft] trait QueriesCausal { this: SparkEntry.type =>

  /** The [[BlockDesign]] hypotheses' k=1 Wald frame (pair, tier, …,
    * t2_milli) on a 60-observation block panel dumped under `dump`: one
    * pair-restricted sparse moment pass, then `Causal.waldK1`.
    */
  private def blockDesignWald(s: SparkSession, dump: String): DataFrame = {
    import s.implicits._
    val pan = dumpGen(s, dump, Panels.widePanel3(s, 32, 60))
    val cands = BlockDesign.map { case (p, tier, y, x) =>
      (p, tier, s"$y@0", s"$x@0", None: Option[String]) }
    val virt = pan.select(concat(col("series"), lit("@0")).as("vs"),
      col("day").as("t"), col("v"))
    val mom = graft.metrics.Causal.virtualCrossMomentsSparse(virt,
      graft.metrics.Causal.wantedPairs(s, cands.map(c => (c._3, c._4))),
      col("t").between(0, 59))
    graft.metrics.Causal.waldK1(graft.metrics.Causal.structuralBetas(mom,
      cands.toDF("pair", "tier", "y", "x", "sib")))
  }

  /** The A1 6-var lag-2 n=5000 cell (strict kernel when `strict`) dumped
    * under `dump` as (t, X1..X6), and its milli panel.
    */
  private[graft] def a1Panel(s: SparkSession, dump: String,
      strict: Boolean = false): DataFrame =
    Panels.single(dumpGen(s, dump,
      Generate.wideFast(s, Seq(Grid.cell("A1", 5000, 6, 2)), strict = strict)
        .select(col("t") +: (1 to 6).map(i => col(s"X$i")): _*)), 6)

  /** [[a1Panel]] as DuckDB CTEs over the dump: `gen$sfx`, `panel$sfx`. */
  private[graft] def a1PanelSqlCtes(dump: String, sfx: String = ""): String =
    s"""gen$sfx AS (
       |  SELECT * FROM read_parquet('__GEN_DIR__/$dump/*.parquet')),
       |panel$sfx AS (${Panels.singleSqlCte(s"gen$sfx", 6)})""".stripMargin

  /** The structural betas of the A1 weight links over [[a1Panel]], t in
    * 2..4999: one lagged moment pass, then the k≤2 Cramer stage.
    */
  private[graft] def a1Betas(s: SparkSession, dump: String,
      strict: Boolean = false): DataFrame = {
    val links = weightLinks("", "A1", 6, 2)
    graft.metrics.Causal.structuralBetas(
      graft.metrics.Causal.laggedCrossMoments(a1Panel(s, dump, strict),
        weightSpecs(links), col("t").between(2, 4999)),
      weightLinksDf(s, links))
  }

  /** [[a1Betas]] as DuckDB CTEs: [[a1PanelSqlCtes]], the links'
    * `specs$sfx`/`links$sfx`, the moments; yields `sbeta$sfx`.
    */
  private[graft] def a1BetasSqlCtes(dump: String, sfx: String = ""): String =
    s"""${a1PanelSqlCtes(dump, sfx)},
       |${weightLinksSqlCtes(weightLinks("", "A1", 6, 2), sfx)},
       |${graft.metrics.Causal.structuralMomentsSqlCtes(s"panel$sfx",
            s"specs$sfx", "t BETWEEN 2 AND 4999", sfx)},
       |${graft.metrics.Causal.structuralBetasSqlCtes(s"links$sfx", sfx)}"""
      .stripMargin

  /** The 18 A1+A1C gaussian n=5000 configs (3 widths × 3 lags ×
    * {unconfounded, U-confounded}) dumped under `dump`, folded into series
    * and day keys (day = configId·8192 + t), through one lagged moment
    * pass (shuffle join: the fold takes the cluster shape) and one Cramer
    * stage: the structural betas of every config's weight links.
    */
  private[graft] def a1FoldBetas(s: SparkSession, dump: String): DataFrame = {
    val cfgs = a1FoldConfigs
    val gen = dumpGen(s, dump,
      Generate.wideFast(s, cfgs)
        .select(Seq(col("configId"), col("t")) ++
          (1 to 8).map(i => col(s"X$i")): _*))
    val panel = Panels.folded(gen, 8, col("configId"),
      col("configId") * 8192 + col("t"))
    val links = a1FoldLinks
    val mom = graft.metrics.Causal.laggedCrossMoments(
      panel, weightSpecs(links),
      expr("t % 8192 BETWEEN 4 AND 4999"), broadcastB = false)
    graft.metrics.Causal.structuralBetas(mom, weightLinksDf(s, links))
  }

  /** [[a1FoldBetas]] as DuckDB CTEs over the dump; yields `sbeta`. */
  private[graft] def a1FoldBetasSqlCtes(dump: String): String =
    s"""gen AS (
       |  SELECT * FROM read_parquet('__GEN_DIR__/$dump/*.parquet')),
       |panel AS (${Panels.foldedSqlCte("gen", 8, "configId::VARCHAR",
            "configId * 8192 + t")}),
       |${weightLinksSqlCtes(a1FoldLinks)},
       |${graft.metrics.Causal.structuralMomentsSqlCtes(
            "panel", "specs", "t % 8192 BETWEEN 4 AND 4999")},
       |${graft.metrics.Causal.structuralBetasSqlCtes("links")}""".stripMargin

  private def a1FoldConfigs: Seq[GenConfig] = Grid.all().filter(c =>
    (c.family == "A1" || c.family == "A1C") && c.nPoints == 5000
      && c.noiseType == "gaussian")

  private def a1FoldLinks: Seq[WeightLink] = a1FoldConfigs.flatMap(c =>
    weightLinks(c.configId.toString, c.family, c.nVars, c.maxLag))

  /** The recovery census of a structural-betas frame: per (family, n_vars,
    * max_lag), the link count, the dead links (effective truth 0) and the
    * mean/max absolute error against the effective truth.
    */
  private[graft] def recoveryCensus(betas: DataFrame): DataFrame =
    betas.groupBy("family", "n_vars", "max_lag")
      .agg(count(lit(1)).as("n_links"),
        sum(when(col("effective_ppm") === 0, 1L).otherwise(0L))
          .as("n_dead"),
        expr("sum(abs(beta_ppm - effective_ppm)) div count(1)")
          .as("mean_abs_err_ppm"),
        max(abs(col("beta_ppm") - col("effective_ppm")))
          .as("max_abs_err_ppm"))

  /** [[recoveryCensus]] as a DuckDB query over `sbeta`. */
  private[graft] val RecoveryCensusSql: String =
    """SELECT family, n_vars::INT AS n_vars, max_lag::INT AS max_lag,
      |  count(*)::BIGINT AS n_links,
      |  sum(CASE WHEN effective_ppm = 0 THEN 1 ELSE 0 END)::BIGINT
      |    AS n_dead,
      |  (sum(abs(beta_ppm - effective_ppm)) // count(*))::BIGINT
      |    AS mean_abs_err_ppm,
      |  max(abs(beta_ppm - effective_ppm))::BIGINT AS max_abs_err_ppm
      |FROM sbeta GROUP BY 1, 2, 3""".stripMargin

  /** The inference census of a structural-betas frame grouped by `keys`:
    * the link count, the mean/max absolute error against the effective
    * truth, the largest Wald distance of a beta from it
    * (1000·(β − eff)² div se², NULL without a positive se²) and the
    * smallest moment n.
    */
  private[graft] def inferenceCensus(betas: DataFrame, keys: Seq[String])
      : DataFrame = {
    val diffT2 = expr(
      """case when se2_ppm2 is null or se2_ppm2 <= 0 then null
        |else (1000 * cast(beta_ppm - effective_ppm as decimal(38,0))
        |  * (beta_ppm - effective_ppm)) div se2_ppm2 end""".stripMargin)
    graft.metrics.Causal.structuralInference(betas)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_links"),
        expr("sum(abs(beta_ppm - effective_ppm)) div count(1)")
          .as("mean_abs_err_ppm"),
        max(abs(col("beta_ppm") - col("effective_ppm")))
          .as("max_abs_err_ppm"),
        max(diffT2).as("max_diff_t2_milli"),
        min(col("n")).as("complete_n"))
  }

  /** [[inferenceCensus]] as DuckDB SQL over `sbeta`: the inference CTEs,
    * then the census grouped by `keys` (select expressions, in order).
    */
  private[graft] def inferenceCensusSql(keys: Seq[String]): String =
    s"""${graft.metrics.Causal.structuralInferenceSqlCtes()}
       |SELECT ${keys.mkString(", ")},
       |  count(*)::BIGINT AS n_links,
       |  (sum(abs(beta_ppm - effective_ppm)) // count(*))::BIGINT
       |    AS mean_abs_err_ppm,
       |  max(abs(beta_ppm - effective_ppm))::BIGINT AS max_abs_err_ppm,
       |  max(CASE WHEN se2_ppm2 IS NULL OR se2_ppm2 <= 0 THEN NULL
       |    ELSE (1000 * (beta_ppm - effective_ppm)::HUGEINT
       |      * (beta_ppm - effective_ppm)) // se2_ppm2 END)::BIGINT
       |    AS max_diff_t2_milli,
       |  min(n)::BIGINT AS complete_n
       |FROM sttest GROUP BY ${keys.indices.map(_ + 1).mkString(", ")}"""
      .stripMargin

  /** One census row per multiplicity rule over a scored [[BlockDesign]]
    * frame: (rule, n_hyp, n_disc, n_disc_ab, n_disc_as, n_false) for each
    * (rule, 0/1 discovery column), plus the tier sizes (n_ab, n_as) when
    * `tierSizes`.
    */
  private def blockRules(scored: DataFrame, rules: Seq[(String, String)],
      tierSizes: Boolean = false): DataFrame = rules.map { case (rule, c) =>
    def cnt(cond: Column) = sum(when(cond, 1L).otherwise(0L))
    def found(t: String) = cnt(col(c) === 1 && col("tier") === t)
    scored.agg(lit(rule).as("rule"), Seq(count(lit(1)).as("n_hyp"),
      sum(col(c)).as("n_disc"), found("ab").as("n_disc_ab"),
      found("as").as("n_disc_as"), found("null").as("n_false")) ++
      (if (tierSizes) Seq(cnt(col("tier") === "ab").as("n_ab"),
        cnt(col("tier") === "as").as("n_as")) else Nil): _*)
  }.reduce(_ unionByName _)

  /** X<i> minus the kernel's KNOWN C-family trend and season
    * (Kernel.scala's precompute, same JVM Math calls and expression
    * order): trend = 0.01·i·0.5·t on the index; season =
    * 0.5·(sin(2π·τ/12 + φ) + 0.5·cos(4π·τ/12 + φ)), φ = 2π(i−1)/8, τ the
    * `clock` column (`time` for the continuous-season families).
    */
  private def knownDetrended(i: Int, clock: String): Column = {
    val phase = 2.0 * math.Pi * (i - 1) / 8.0
    col(s"X$i") - lit(0.01 * i * 0.5) * col("t") -
      lit(0.5) * (sin(lit(2.0 * math.Pi) * col(clock) / lit(12.0) + lit(phase))
        + lit(0.5) * cos(lit(4.0 * math.Pi) * col(clock) / lit(12.0)
          + lit(phase)))
  }

  /** The period-12 harmonic basis (s1, c1, s2, c2) over the `clock` column. */
  private def harmonicBasis(clock: String): Seq[Column] = Seq(
    sin(lit(2.0 * math.Pi) * col(clock) / lit(12.0)).as("s1"),
    cos(lit(2.0 * math.Pi) * col(clock) / lit(12.0)).as("c1"),
    sin(lit(4.0 * math.Pi) * col(clock) / lit(12.0)).as("s2"),
    cos(lit(4.0 * math.Pi) * col(clock) / lit(12.0)).as("c2"))

  /** The func-transformed regressor `func` of X<i> — cos(X·π/2),
    * sin(X·π/2), X² or X³ — named by [[funcPrefix]] (cX<i>, sX<i>,
    * p2X<i>, p3X<i>), the channel [[c1Links]] and [[d3Links]] name.
    */
  private def funcChannel(func: String, i: Int): Column = {
    val x = col(s"X$i")
    (func match {
      case "cos" => cos(x * lit(math.Pi / 2.0))
      case "sin" => sin(x * lit(math.Pi / 2.0))
      case "power2" => x * x
      case "power3" => x * x * x
    }).as(s"${funcPrefix(func)}X$i")
  }

  /** Every func channel of X1..X6: the regressors [[c1Links]] names. */
  private def c1FuncCols: Seq[Column] = for {
    i <- 1 to 6; f <- Seq("cos", "sin", "power2", "power3")
  } yield funcChannel(f, i)

  /** q373/q375's blind-adjusted recovery on one 6-var lag-2 C-family cell
    * dumped under `dump`: stage 1 estimates each series' trend and four
    * harmonics (q372's 30 regressions, basis over `clock`, window
    * 0..`last`); stage 2 subtracts the ESTIMATES by integer channel
    * arithmetic and recovers the func-link weights for the blind and the
    * known-detrended targets from ONE moment pass (window 2..`last`). The
    * regressors align by index shift, or by the kernel's nearest-lag rule
    * (`Lagged.nearestLagIndicesView`) when `nearestLag`.
    */
  private def blindRecovery(s: SparkSession, cfg: graft.core.GenConfig,
      dump: String, clock: String, nearestLag: Boolean, last: Int)
      : DataFrame = {
    import s.implicits._
    val links = c1Links(cfg.family)
    val gen = dumpGen(s, dump,
      Generate.wideFast(s, Seq(cfg)).select(
        Seq("t", clock).distinct.map(col) ++
          (1 to 6).map(i => col(s"X$i")) ++
          (1 to 6).map(i => knownDetrended(i, clock).as(s"X${i}t")) ++
          harmonicBasis(clock) ++ c1FuncCols: _*))
    def m(c: String): Column = Panels.milli(col(c))
    // ---- stage 1: q372's component estimation on THIS dump ----
    val targets1 = (1 to 6).map(i =>
      gen.select(lit(s"X$i@0").as("vs"), col("t"), m(s"X$i").as("v")))
    val tChan = gen.select(lit("tt@0").as("vs"), col("t"),
      col("t").cast("long").as("v"))
    val basis = Seq("s1", "c1", "s2", "c2").map(b =>
      gen.select(lit(s"$b@0").as("vs"), col("t"), m(b).as("v")))
    val mom1 = graft.metrics.Causal.virtualCrossMoments(
      (targets1 ++ Seq(tChan) ++ basis).reduce(_ unionByName _),
      col("t").between(0, last))
    val hLinksDf = harmonicLinks(cfg.family).toDF("series", "component", "y",
      "x", "sib", "truth_ppm", "in_model")
    val comps = graft.metrics.Causal.structuralBetas(mom1, hLinksDf)
      .groupBy("series")
      .agg(
        max(when(col("component") === "trend", col("beta_ppm"))).as("bt"),
        max(when(col("component") === "s1", col("beta_ppm"))).as("bs1"),
        max(when(col("component") === "c1", col("beta_ppm"))).as("bc1"),
        max(when(col("component") === "s2", col("beta_ppm"))).as("bs2"),
        max(when(col("component") === "c2", col("beta_ppm"))).as("bc2"))
      .localCheckpoint()
    // ---- stage 2: blind + known target channels, func regressors ----
    val blind = (1 to 6).map { i =>
      gen.crossJoin(broadcast(comps.where(col("series") === s"X$i")
          .drop("series")))
        .select(lit(s"X$i^@0").as("vs"), col("t"),
          expr(s"""(1000000 * floor(X$i * 1000)
            |  - bt * t
            |  - bs1 * floor(s1 * 1000) - bc1 * floor(c1 * 1000)
            |  - bs2 * floor(s2 * 1000) - bc2 * floor(c2 * 1000))
            |div 1000000""".stripMargin).cast("long").as("v"))
    }
    val known = (1 to 6).map(i =>
      gen.select(lit(s"X$i~@0").as("vs"), col("t"), m(s"X${i}t").as("v")))
    // ONE union+sort alignment pass for all lag multiples (q365's fix)
    lazy val lx = graft.ops.Lagged.nearestLagIndicesView(
      gen.select(col("t"), col("time")), "t", "time", Nil,
      links.map(_._3).filter(_ > 0).distinct.sorted).localCheckpoint(false)
    val regs = links.map(l => (l._5.split("@")(0), l._5, l._3))
      .distinct.map {
        case (chan, vs, k) if nearestLag && k > 0 =>
          lx.where(col("lag_mult") === k)
            .join(broadcast(gen.select(col("t").as("lag_idx"),
              m(chan).as("v"))), Seq("lag_idx"))
            .select(lit(vs).as("vs"), col("t"), col("v"))
        case (chan, vs, k) =>
          gen.select(lit(vs).as("vs"), (col("t") + k).as("t"), m(chan).as("v"))
      }
    val mom2 = graft.metrics.Causal.virtualCrossMoments(
      (blind ++ known ++ regs).reduce(_ unionByName _),
      col("t").between(2, last))
    val inModel = graft.core.Parser.truthLinks(cfg.family, 6, 2)
      .filter(_.source != "U")
      .map(l => l.target -> (if (Set("cos", "sin")(l.func)) 1 else 0))
      .toMap
    def linksDf(blindY: Boolean): DataFrame = links.map { l =>
      val y = if (blindY) s"${l._1}^@0" else l._6
      (l._1, l._2, l._3, l._4, y, l._5, l._7, l._9, inModel(l._1))
    }.toDF("target", "source", "lag", "func", "y", "x", "sib",
      "effective_ppm", "in_model")
    val kn = graft.metrics.Causal.structuralBetas(mom2, linksDf(false))
      .select(col("target"), col("source"), col("lag"), col("func"),
        col("in_model"), col("effective_ppm"),
        col("beta_ppm").as("beta_known_ppm"))
    val bl = graft.metrics.Causal.structuralBetas(mom2, linksDf(true))
      .select(col("target"), col("source"), col("lag"),
        col("beta_ppm").as("beta_blind_ppm"))
    kn.join(bl, Seq("target", "source", "lag"))
      .withColumn("blind_vs_known_ppm",
        abs(col("beta_blind_ppm") - col("beta_known_ppm")))
  }

  /** q358/q368's streamed design tuples: the A1 6-var lag-2 cell's first
    * 400 rows dumped under `dump`, one (link, yv, xv, sv, t) row per
    * [[streamWeightLinks]] link and t in 2..399 (x at t−lag, the sibling
    * at its own lag, sv = 0 without one); and the links' decode frame
    * (link, target, source, lag, has_sib, effective_ppm).
    */
  private def streamWeightDesign(s: SparkSession, dump: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val cfg = Grid.cell("A1", 500, 6, 2)
    val gen = dumpGen(s, dump,
      Generate.wideFast(s, Seq(cfg)).where(col("t") < 400)
        .select(col("t") +: (1 to 6).map(i => col(s"X$i")): _*))
    def lagged(l: Int) = gen.select(col("t").as(s"t$l") +:
      (1 to 6).map(i => col(s"X$i").as(s"L${l}X$i")): _*)
    val gl = gen
      .join(lagged(1), col("t1") === col("t") - 1)
      .join(lagged(2), col("t2") === col("t") - 2)
      .where(col("t").between(2, 399))
    def q(series: String, lag: Int): Column =
      Panels.milli(if (lag == 0) col(series) else col(s"L$lag$series"))
    val tuples = streamWeightLinks().map { case (k, tgt, src, lag, hs,
        sibSeries, sibLag, _) =>
      gl.select(lit(k).as("link"), q(tgt, 0).as("yv"),
        q(src, lag).as("xv"),
        (if (hs == 1) q(sibSeries, sibLag) else lit(0L)).as("sv"),
        col("t"))
    }.reduce(_ unionByName _)
    val linksDf = streamWeightLinks()
      .map(l => (l._1, l._2, l._3, l._4, l._5, l._8))
      .toDF("link", "target", "source", "lag", "has_sib", "effective_ppm")
    (tuples, linksDf)
  }

  /** The file signature (name:length:mtime per parquet file, by name) of
    * the dump under `dump`, which keys a stream's split cache: dumpGen
    * rewrites the dump every run, so a kernel or grid change invalidates
    * the splits by construction instead of by a hand-bumped version tag.
    */
  private def dumpSignature(dump: String): String =
    Option(new java.io.File(s"$genDir/$dump").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length()}:${f.lastModified()}")
      .mkString(";")

  /** q381/q383's robust-se panel and score rows: `xe` maps the (j, d)
    * grid of 120 pairs × 240 days to (j, d, x, e); pairs
    * j < 20 are links (y = (x·500) div 1000 + e), the rest nulls (y = e).
    * The panel (j, tier, d, x, y) is dumped under `dump`. Returns the
    * classical k=1 inference per pair from the raw sums (j, tier, n, sy,
    * sx, cjj, beta_ppm, se2_ppm2, t2_cl_milli) and each row's exact-integer
    * score (j, d, mm):
    * mm = (n·x − Σx)·((10⁶·(n·y − Σy) − β_ppm·(n·x − Σx)) div 10⁶).
    */
  private def robustSeScores(s: SparkSession, dump: String,
      xe: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val n = 240
    val grid = s.range(0, 120).select(col("id").as("j"))
      .crossJoin(s.range(0, n.toLong).select(col("id").as("d")))
    val pan = dumpGen(s, dump, xe(grid).select(col("j"),
      when(col("j") < 20, lit("link")).otherwise(lit("null")).as("tier"),
      col("d"), col("x"),
      (when(col("j") < 20, expr("(x * 500) div 1000"))
        .otherwise(lit(0L)).cast("long") + col("e")).as("y")))
    val sums = pan.groupBy("j", "tier")
      .agg(count(lit(1)).as("n"), sum("y").as("sy"), sum("x").as("sx"),
        sum(expr("y*y")).as("syy"), sum(expr("x*x")).as("sxx"),
        sum(expr("x*y")).as("sxy"))
      .withColumn("ss", lit(0L)).withColumn("sss", lit(0L))
      .withColumn("ssy", lit(0L)).withColumn("sxs", lit(0L))
      .withColumn("has_sib", lit(0))
    val inf = graft.metrics.Causal.structuralInferenceFromSums(
        graft.metrics.Causal.structuralBetasFromSums(sums))
      .select(col("j"), col("tier"), col("n"), col("sy"), col("sx"),
        col("cjj"), col("beta_ppm"), col("se2_ppm2"),
        col("t2_milli").as("t2_cl_milli"))
      .localCheckpoint()
    val scores = pan.join(broadcast(inf.select(col("j"), col("sy"),
        col("sx"), col("beta_ppm"))), Seq("j"))
      .select(col("j"), col("d"), expr(
        s"""cast(($n * x - sx) as decimal(38,0)) *
          |  ((1000000 * ($n * y - sy)
          |    - cast(beta_ppm as decimal(38,0)) * ($n * x - sx))
          |   div 1000000)""".stripMargin).as("mm"))
      .localCheckpoint()
    (inf, scores)
  }

  /** q292/q328's survival risk table over the events: per user, t = days
    * from the first event to the first purchase (right-censored at the
    * corpus horizon); per event time t with d > 0 purchases, the at-risk
    * count n_risk (users whose t is not below it). Columns (t, d, n_risk).
    */
  private def survivalRisk(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"),
      expr("(ts div 1000) div 86400000000").as("day"),
      col("event_type"))
    val horizon = ev.agg(max("day").as("hz"))
    val users = ev.groupBy("user_id")
      .agg(min("day").as("origin"),
        min(when(col("event_type") === "purchase", col("day")))
          .as("pday"))
      .crossJoin(broadcast(horizon))
      .select(
        coalesce(col("pday") - col("origin"),
          col("hz") - col("origin")).as("t"),
        col("pday").isNotNull.cast("int").as("ev"))
    val times = users.groupBy("t")
      .agg(sum("ev").as("d"), count(lit(1)).as("c"))
    val wt = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = users.agg(count(lit(1)).as("ntot"))
    times.crossJoin(broadcast(tot))
      .select(col("t"), col("d"),
        (col("ntot") - coalesce(sum("c").over(wt), lit(0L))).as("n_risk"))
      .where(col("d") > 0)
  }

  private[graft] def queriesCausal: Map[String, (SparkSession, String) => DataFrame] = Map(

    // PC-algorithm skeleton to conditioning order 1 on Spearman ranks:
    // rank panel (magnitudes bounded by #days at ANY corpus scale, which
    // is what keeps the four-C-product partial-correlation test inside
    // DECIMAL(38,0)/HUGEINT), all-pairs cross-moments once, τ = 0.25
    // (τ² = 625 bp) for both the marginal and order-1 tests
    "q270_pc_skeleton" -> ((s, d) =>
      graft.metrics.Causal.pcSkeleton(
        graft.metrics.Causal.dailyMeanPanel(events(s, d)))),

    // planted-structure recovery capstone: synthesize a 4-series panel
    // with known lag-1 edges s1→s2→s4 (s1 = the 'view' daily means,
    // descendants = lagged parent + small deterministic hash noise, s3 =
    // pure hash noise), run the SAME q269 Granger contract on it, and
    // score the recovered graph with the R7-R9 metrics operators
    // (confusion, TPR/FDR, SHD) against the planted truth — generation,
    // discovery, and scoring composed end-to-end
    "q271_granger_recovery" -> ((s, d) => {
      import s.implicits._
      val panel = graft.metrics.Causal.dailyMeanPanel(events(s, d))
      // 30-row single-partition window: the base series is one panel row
      // per day, deliberately driver-scale
      val w = Window.orderBy("day")
      val bi = panel.where(col("series") === "view")
        .select(col("day"), col("v"), row_number().over(w).as("i"),
          lag("v", 1).over(w).as("bl"), lag("v", 2).over(w).as("bl2"))
        .where(col("i") >= 3)
      val synth = bi.select(lit("s1").as("series"), col("day"), col("v"))
        .unionByName(bi.select(lit("s2").as("series"), col("day"),
          expr("bl + ((bigint(i) * 2654435761) % 1001)").as("v")))
        .unionByName(bi.select(lit("s3").as("series"), col("day"),
          expr("(bigint(i) * 2246822519) % 100000").as("v")))
        .unionByName(bi.select(lit("s4").as("series"), col("day"),
          expr("bl2 + ((bigint(i - 1) * 2654435761) % 1001)" +
            " + ((bigint(i) * 1779033703) % 1001)").as("v")))
      val g = graft.metrics.Causal.grangerLag1(synth)
      val pred = g.where(col("granger") === 1)
        .select(lit("panel").as("graphId"), col("cause").as("source"),
          col("effect").as("target"), lit(1).as("lag"))
      val truth = Seq(("panel", "s1", "s2", 1), ("panel", "s2", "s4", 1))
        .toDF("graphId", "source", "target", "lag")
      val total = Seq(("panel", 12L)).toDF("graphId", "total")
      val conf = graft.metrics.Metrics.tprFdr(
        graft.metrics.Metrics.confusion(truth, pred, total))
      val shd = graft.metrics.Metrics.shdXor(truth, pred)
      conf.join(shd, Seq("graphId"))
        .select(col("graphId").as("graph_id"), col("tp"), col("fp"),
          col("fn"), col("tn"), round(col("tpr"), 6).as("tpr"),
          round(col("fdr"), 6).as("fdr"), col("shd"))
    }),

    // binary-binned lag-1 transfer entropy census: series binned
    // above/below their own integer mean, (y_t, y_{t-1}, x_{t-1}) triple
    // counts, N·TE summed through the shared micro-ln lookup table (the
    // single quantization both engines embed) — the information-theoretic
    // sibling of q269's parametric F-test
    "q272_transfer_entropy" -> ((s, d) =>
      graft.metrics.Causal.transferEntropy(
        graft.metrics.Causal.dailyMeanPanel(events(s, d)))),

    // Benford first-digit audit (data-profiling / fraud-screening
    // primitive): observed first-significant-digit counts of
    // l_extendedprice vs the Benford ppm table (the shared quantized
    // log10(1+1/d) constants), χ² contribution per digit in micro units —
    // (1e6·(obs−e))² div (1e6·e) with e = exp_ppm·N div 1e6 kept as the
    // exact cross-multiplied form. One map-side-combined 9-group
    // aggregation; no shuffle beyond it
    "q273_benford_audit" -> ((s, d) => {
      val obs = lineitem(s, d)
        .select(substring(ExactStats.micro(col("l_extendedprice"))
          .cast("long").cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_obs"))
      val tot = obs.agg(sum("n_obs").as("n"))
      obs.crossJoin(broadcast(tot))
        .withColumn("exp_ppm", expr(BenfordPpmCase))
        .select(col("digit"), col("n_obs"),
          col("exp_ppm").cast("long").as("exp_ppm"),
          expr("""(cast(n_obs as decimal(38,0)) * 1000000 - exp_ppm * n)
                 | * (cast(n_obs as decimal(38,0)) * 1000000 - exp_ppm * n)
                 | div (exp_ppm * n)""".stripMargin).as("chi2_micro"))
    }),

    // PMI collocation census over document bigrams: counts from ONE
    // bigram relation (pair count, left-position count, right-position
    // count, total), the PMI > ln 8 decision cross-multiplied as
    // c_xy·N > 8·c_x·c_y — integers only. The unigram-position tables are
    // vocab-sized and broadcast; the bounded top-50 never sorts the corpus
    "q274_pmi_collocations" -> ((s, d) => {
      val bi = documents(s, d)
        .select(explode(TextOps.shinglesAll(col("text"), 2)).as("pair"))
        .select(expr("split(pair, ' ')[0]").as("x"),
          expr("split(pair, ' ')[1]").as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("cxy"))
        .localCheckpoint(false)
      val left = bi.groupBy("x").agg(sum("cxy").as("cx"))
      val right = bi.groupBy("y").agg(sum("cxy").as("cy"))
      val tot = bi.agg(sum("cxy").as("nbi"))
      // no broadcast HINT on the position tables: they are vocab-sized,
      // and above the auto-broadcast threshold the right plan is a
      // token-keyed shuffle join — let size-based planning degrade
      // (the q189 dfreq lesson); at test sf they broadcast anyway
      bi.where(col("cxy") >= 5)
        .join(left, Seq("x"))
        .join(right, Seq("y"))
        .crossJoin(broadcast(tot))
        .withColumn("pmi8", expr(
          "case when cxy * nbi > 8 * cx * cy then 1 else 0 end"))
        .orderBy(col("cxy").desc, col("x"), col("y")).limit(50)
        .select(col("x"), col("y"), col("cxy"), col("cx"), col("cy"),
          col("nbi"), col("pmi8"))
    }),

    // split-conformal interval calibration: 3-way deterministic split on
    // event_id (train fits per-type means, calibration takes the exact
    // ceil(0.9·(n+1))-th smallest |residual| via a per-type ordered
    // window — the standard exact-order-statistic shape, one shuffle by
    // type — and the held-out third audits empirical coverage in ppm)
    "q275_conformal_interval" -> ((s, d) => {
      val ev = events(s, d).select(col("event_type"), col("event_id"),
        ExactStats.micro(col("value")).cast("long").as("vm"))
      val mu = ev.where(col("event_id") % 3 === 0)
        .groupBy("event_type")
        .agg(expr("sum(vm) div count(1)").as("mu_micro"))
      val calib = ev.where(col("event_id") % 3 === 1)
        .join(broadcast(mu), Seq("event_type"))
        .withColumn("r", abs(col("vm") - col("mu_micro")))
      val wr = Window.partitionBy("event_type")
        .orderBy(col("r"), col("event_id"))
      val qhat = calib
        .select(col("event_type"), col("r"),
          row_number().over(wr).as("rk"),
          count(lit(1)).over(Window.partitionBy("event_type")).as("nc"))
        .where(col("rk") === expr("(9 * nc + 18) div 10"))
        .select(col("event_type"), col("r").as("qhat_micro"),
          col("nc").as("n_calib"))
      ev.where(col("event_id") % 3 === 2)
        .join(broadcast(mu), Seq("event_type"))
        .join(broadcast(qhat), Seq("event_type"))
        .groupBy(col("event_type"), col("mu_micro"), col("qhat_micro"),
          col("n_calib"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(abs(col("vm") - col("mu_micro")) <= col("qhat_micro"),
            1L).otherwise(0L)).as("n_cover"))
        .select(col("event_type"), col("mu_micro"), col("n_calib"),
          col("qhat_micro"), col("n_test"),
          expr("(n_cover * 1000000) div n_test").as("coverage_ppm"))
    }),

    // Holt double-exponential smoothing: integer recurrence folded inside
    // one higher-order `aggregate` per series (recurrences are sequential
    // per series, parallel across series — no driver loop, no per-step
    // Spark job); the oracle replays it as a recursive CTE
    "q276_holt_smoothing" -> ((s, d) =>
      graft.ops.Smoothing.holt(
        graft.metrics.Causal.dailyMeanPanel(events(s, d)))),

    // STL-lite weekly decomposition: trend = full-window centered 7-day
    // mean, seasonal = day-of-week mean of the detrended residual,
    // remainder census per (series, dow) — two window/aggregate stages,
    // all integer div truncation
    "q277_weekly_decompose" -> ((s, d) => {
      val panel = graft.metrics.Causal.dailyMeanPanel(events(s, d))
      val wt = Window.partitionBy("series").orderBy("day")
        .rowsBetween(-3, 3)
      val detr = panel
        .withColumn("wn", count(lit(1)).over(wt))
        .withColumn("trend", sum(col("v")).over(wt))
        .where(col("wn") === 7)
        .select(col("series"), col("day"),
          (col("v") - expr("trend div 7")).as("dt"))
      val seas = detr.groupBy(col("series"), (col("day") % 7).as("dow"))
        .agg(expr("sum(dt) div count(1)").as("seasonal_milli"),
          count(lit(1)).as("n"))
      val dj = detr.select(col("series").as("dseries"),
        (col("day") % 7).as("ddow"), col("dt"))
      dj.join(broadcast(seas),
          dj("dseries") === seas("series") && dj("ddow") === seas("dow"))
        .groupBy(col("series"), col("dow"), col("seasonal_milli"), col("n"))
        .agg(sum(abs(col("dt") - col("seasonal_milli"))).as("sum_abs_rem"))
    }),

    // iterative proportional fitting (survey raking): the 6-cell
    // (returnflag × linestatus) table raked to the heavy-subset
    // (quantity > 25) row/column margins, TWO full row+column rounds
    // unrolled with ppm integer weights — every factor is
    // (target·1e12) div mass then div 1e6, truncating identically in
    // both engines. Fact rows feed two aggregations; the raking loop
    // itself runs on ≤ |flags|·|statuses| rows, all broadcast
    "q278_ipf_raking" -> ((s, d) => {
      val li = lineitem(s, d).select(col("l_returnflag").as("rf"),
        col("l_linestatus").as("ls"), col("l_quantity"))
      val cells = li.groupBy("rf", "ls").agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      val heavy = li.where(col("l_quantity") > 25)
      val rT = heavy.groupBy("rf").agg(count(lit(1)).as("rt"))
      val cT = heavy.groupBy("ls").agg(count(lit(1)).as("ct"))
      var w = cells.withColumn("w", lit(1000000L))
      (1 to 2).foreach { _ =>
        val rm = w.groupBy("rf").agg(sum(expr("c * w")).as("rm"))
        w = w.join(broadcast(rm), Seq("rf")).join(broadcast(rT), Seq("rf"))
          .withColumn("w",
            expr("(w * ((rt * 1000000000000) div rm)) div 1000000"))
          .select(col("rf"), col("ls"), col("c"), col("w"))
        val cm = w.groupBy("ls").agg(sum(expr("c * w")).as("cm"))
        w = w.join(broadcast(cm), Seq("ls")).join(broadcast(cT), Seq("ls"))
          .withColumn("w",
            expr("(w * ((ct * 1000000000000) div cm)) div 1000000"))
          .select(col("rf"), col("ls"), col("c"), col("w"))
      }
      w.select(col("rf"), col("ls"), col("c"), col("w").as("w_ppm"),
        expr("(c * w) div 1000000").as("fitted"))
    }),

    // Mann-Kendall nonparametric trend test per series: S = Σ_{i<j}
    // sign(v_j − v_i) over the panel's ordered day pairs, tie-corrected
    // variance numerator n(n−1)(2n+5) − Σ t(t−1)(2t+5), and the
    // continuity-corrected z test cross-multiplied at 5%
    // (z² = 3.8416): 180000·max(|S|−1,0)² > 38416·varnum. Pairing is
    // panel-sized (≤ days² per series); fact rows only feed the panel
    "q279_mann_kendall" -> ((s, d) => {
      val p = graft.metrics.Causal.dailyMeanPanel(events(s, d))
        .localCheckpoint(false)
      val a = p.select(col("series"), col("day").as("di"),
        col("v").as("vi"))
      val b = p.select(col("series").as("sb"), col("day").as("dj"),
        col("v").as("vj"))
      val sStat = a.join(broadcast(b),
          col("series") === col("sb") && col("di") < col("dj"))
        .groupBy("series")
        .agg(sum(expr(
          "case when vj > vi then 1 when vj < vi then -1 else 0 end"))
          .as("s_stat"))
      val nS = p.groupBy("series").agg(count(lit(1)).as("n"))
      val ties = p.groupBy("series", "v").agg(count(lit(1)).as("t"))
        .groupBy("series")
        .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_term"))
      sStat.join(broadcast(nS), Seq("series"))
        .join(broadcast(ties), Seq("series"))
        .withColumn("varnum",
          expr("n * (n - 1) * (2 * n + 5) - tie_term"))
        .select(col("series"), col("n"), col("s_stat"), col("varnum"),
          expr("""case when 180000 * greatest(abs(s_stat) - 1, 0)
                 |       * greatest(abs(s_stat) - 1, 0)
                 |       > 38416 * varnum
                 |then case when s_stat > 0 then 1 else -1 end
                 |else 0 end""".stripMargin).as("trend"))
    }),

    // exact two-sample Kolmogorov–Smirnov test (click vs error value
    // distributions): D* = max|cumA·nB − cumB·nA| over the distinct-value
    // grid (the value domain is a bounded cent grid, so the cumulative
    // window runs on the ≤49k-row distinct table, not fact rows — at
    // unbounded support this becomes the standard two-level bucketed
    // prefix sum), rejection cross-multiplied at α=0.05
    // (c² = 1.358² → 18442 bp·1e4): 10000·D*² > 18442·nA·nB·(nA+nB)
    "q280_ks_two_sample" -> ((s, d) => {
      val ev = events(s, d)
        .where(col("event_type").isin("click", "error"))
        .select(col("event_type"),
          ExactStats.micro(col("value")).cast("long").as("vm"))
      val byv = ev.groupBy("vm").agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("a_v"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("b_v"))
      val wv = Window.orderBy("vm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = byv.select(col("vm"), sum("a_v").over(wv).as("ca"),
        sum("b_v").over(wv).as("cb"))
      val tot = ev.agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("na"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("nb"))
      cum.crossJoin(broadcast(tot))
        .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
          max(abs(col("ca") * col("nb") - col("cb") * col("na")))
            .as("d_star"))
        .select(col("na"), col("nb"), col("d_star"),
          expr("""case when 10000 * cast(d_star as decimal(38,0)) * d_star
                 |       > 18442 * cast(na as decimal(38,0)) * nb * (na + nb)
                 |then 1 else 0 end""".stripMargin).as("reject"))
    }),

    // LATERAL correlated subquery (SQL-surface parity): top-2 orders per
    // order priority via one ANSI text both engines run — the correlated
    // ORDER BY … LIMIT pushes the per-group bound into the subquery
    // instead of ranking the whole fact table
    "q281_lateral_topn" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders_lat_v")
      s.sql(LateralTopnSql("orders_lat_v"))
    }),

    // binary-segmentation changepoint (one split) per series: candidate
    // costs from prefix sums only — SSE·n = n·Σv² − (Σv)² needs no mean —
    // quantized at one declared div per segment, argmin by (cost, index)
    // via an ordered window over the ≤#days candidate rows. The q89 CUSUM
    // flags drift; this one LOCATES the break with an exact two-segment
    // least-squares criterion
    "q282_binseg_changepoint" -> ((s, d) => {
      val p = graft.metrics.Causal.dailyMeanPanel(events(s, d))
      val w = Window.partitionBy("series").orderBy("day")
      val pre = p.select(col("series"), col("day"), col("v"),
        row_number().over(w).as("i"),
        sum("v").over(w).as("cs"),
        sum(expr("v * v")).over(w).as("cs2"))
      val tot = p.groupBy("series").agg(count(lit(1)).as("n"),
        sum("v").as("st"), sum(expr("v * v")).as("qt"))
      val cand = pre.join(broadcast(tot), Seq("series"))
        .where(col("i") >= 2 && col("i") <= col("n") - 2)
        .withColumn("cost_micro", expr(
          """((cast(i as decimal(38,0)) * cs2 - cast(cs as decimal(38,0)) * cs)
            |   * 1000000 div i)
            | + ((cast(n - i as decimal(38,0)) * (qt - cs2)
            |     - cast(st - cs as decimal(38,0)) * (st - cs))
            |   * 1000000 div (n - i))""".stripMargin))
        .withColumn("total_micro", expr(
          """(cast(n as decimal(38,0)) * qt - cast(st as decimal(38,0)) * st)
            | * 1000000 div n""".stripMargin))
      val wb = Window.partitionBy("series")
        .orderBy(col("cost_micro"), col("i"))
      cand.withColumn("rk", row_number().over(wb))
        .where(col("rk") === 1)
        .select(col("series"), col("n"), col("day").as("split_day"),
          col("cost_micro"), col("total_micro"),
          (col("total_micro") - col("cost_micro")).as("gain_micro"))
    }),

    // single-bin DFT power (Goertzel-style) at the weekly and 5-day
    // periods: re/im are integer dot products of the panel against the
    // shared quantized cos/sin tables (one Scala constant rendered into
    // both engines), power = (re² + im²) div 1e12 — a periodicity
    // detector with zero floating point
    "q283_periodogram" -> ((s, d) => {
      val p = graft.metrics.Causal.dailyMeanPanel(events(s, d))
        .localCheckpoint(false)
      def band(period: Int) = p.groupBy("series")
        .agg(sum(expr(s"v * (${trigCase("cos", period)})")).as("re_u"),
          sum(expr(s"v * (${trigCase("sin", period)})")).as("im_u"))
        .select(col("series"), lit(period).as("period"),
          col("re_u").as("re"), col("im_u").as("im"),
          expr("""(cast(re_u as decimal(38,0)) * re_u
                 | + cast(im_u as decimal(38,0)) * im_u)
                 | div 1000000000000""".stripMargin).as("power"))
      band(7).unionByName(band(5))
    }),

    // multi-touch attribution: every purchase credits the user's
    // non-purchase events of the prior 7 days — last-touch (latest
    // (ts, id) wins) and time-decay (half-life 1 day, the shared
    // 2^-age ppm table, per-purchase shares normalized to 1e6). The
    // purchase×prior pairing is a user-keyed equi-join (co-partitioned at
    // scale), per-purchase normalization a purchase-keyed re-join — never
    // a cross product
    "q284_attribution" -> ((s, d) => {
      val ev = events(s, d)
      val purch = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("pid"),
          col("ts").as("pts"))
      val prior = ev.where(col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_type").as("channel"),
          col("event_id").as("eid"), col("ts").as("ets"))
      val j = purch.join(prior, Seq("user_id"))
        .where(col("ets") < col("pts")
          && col("pts") - col("ets") <= lit(604800000000000L))
        .withColumn("age_d", expr("(pts - ets) div 86400000000000"))
        .withColumn("w", expr(DecayPpmCase))
        .localCheckpoint(false)
      val last = j.groupBy("pid")
        .agg(max(struct(col("ets"), col("eid"), col("channel")))
          .as("top"))
        .groupBy(col("top.channel").as("channel"))
        .agg(count(lit(1)).as("n_last"))
      val mass = j.groupBy("pid").agg(sum("w").as("m"))
      val decay = j.join(mass, Seq("pid"))
        .groupBy("channel")
        .agg(sum(expr("(w * 1000000) div m")).as("decay_ppm"))
      decay.join(broadcast(last), Seq("channel"), "full_outer")
        .select(col("channel"),
          coalesce(col("n_last"), lit(0L)).as("n_last"),
          coalesce(col("decay_ppm"), lit(0L)).as("decay_ppm"))
    }),

    // Gopher-style repetition quality rules: per document the top-bigram
    // coverage (2·max_count/n_tok) and the repeated-bigram-instance rate,
    // thresholded at 20% / 30%, reported as a keep-matrix census. One
    // doc-grain aggregation over the exploded bigrams; docs with < 2
    // tokens are out of scope by construction
    "q285_repetition_rules" -> ((s, d) => {
      val bi = documents(s, d)
        .select(col("doc_id"),
          explode(TextOps.shinglesAll(col("text"), 2)).as("pair"))
        .groupBy("doc_id", "pair").agg(count(lit(1)).as("cnt"))
      val per = bi.groupBy("doc_id").agg(max("cnt").as("mx"),
        sum("cnt").as("tot"), count(lit(1)).as("npairs"))
        .select(col("doc_id"), (col("tot") + 1).as("n_tok"),
          expr("(2 * mx * 1000000) div (tot + 1)").as("cov_ppm"),
          expr("((tot - npairs) * 1000000) div tot").as("dup_ppm"))
      per.groupBy(
          when(col("cov_ppm") <= 200000, 1).otherwise(0).as("keep_cov"),
          when(col("dup_ppm") <= 300000, 1).otherwise(0).as("keep_dup"))
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tok"))
    }),

    // calibration reliability table (ECE ingredients) for the q231 linear
    // quality classifier against the lang='en' label: margins bucketed
    // into 21 clamped bins, confidence from the shared quantized logistic
    // table, accuracy as exact ppm, per-bin |acc − conf|·n contribution.
    // One doc-grain pass then a 21-group aggregate
    "q286_calibration_ece" -> ((s, d) => {
      val m = TextOps.linearQualityMargin(documents(s, d))
        .select(col("margin"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      m.select(expr("greatest(least(margin div 200, 10), -10)").as("bin"),
          col("pos"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_b"), sum("pos").as("npos"))
        .withColumn("conf_ppm", expr(SigmoidPpmCase))
        .select(col("bin"), col("n_b"),
          col("conf_ppm").cast("long").as("conf_ppm"),
          expr("(npos * 1000000) div n_b").as("acc_ppm"),
          expr("abs((npos * 1000000) div n_b - conf_ppm) * n_b")
            .as("ece_contrib"))
    }),

    // exact tie-aware ROC AUC for the same classifier/label: the
    // Mann-Whitney U from average ranks kept integer by working in 2·rank
    // units — tied group spanning ranks (c, c+t] contributes
    // p_g·(2c + t + 1) — then AUC·1e6 = (2U − n_p(n_p+1))·1e6 div
    // (2·n_p·n_n). The cumulative runs on the distinct-margin grid, not
    // doc rows
    "q287_auc_exact" -> ((s, d) => {
      val m = TextOps.linearQualityMargin(documents(s, d))
        .select(col("margin"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val byv = m.groupBy("margin")
        .agg(count(lit(1)).as("t"), sum("pos").as("p"))
      val wv = Window.orderBy("margin")
        .rowsBetween(Window.unboundedPreceding, -1)
      val grp = byv.select(col("t"), col("p"),
        coalesce(sum("t").over(wv), lit(0L)).as("c"))
      grp.agg(sum("p").as("n_pos"), sum(expr("t - p")).as("n_neg"),
          sum(expr("p * (2 * c + t + 1)")).as("two_sum_rp"))
        .select(col("n_pos"), col("n_neg"),
          expr("two_sum_rp - n_pos * (n_pos + 1)").as("two_u"),
          expr("""((two_sum_rp - n_pos * (n_pos + 1)) * 1000000)
                 | div (2 * n_pos * n_neg)""".stripMargin).as("auc_ppm"))
    }),

    // Neyman-allocation stratified sampling: per-stratum σ via exact
    // integer variance + a float-sqrt CORRECTED to the true integer
    // square root (±1 post-fix, so IEEE rounding can never flip the
    // census), budget 1000 apportioned largest-remainder over N_h·σ_h,
    // then the deterministic fingerprint bottom-k draw per stratum. The
    // only fact-scale stages are the variance pass and the hash-ranked
    // draw (one shuffle each)
    "q288_neyman_sampling" -> ((s, d) => {
      val ev = events(s, d).select(col("event_type"), col("event_id"),
        ExactStats.micro(col("value")).cast("long").as("vm"))
      val st = ev.groupBy("event_type")
        .agg(count(lit(1)).as("nh"),
          sum(col("vm").cast("decimal(38,0)")).as("sv"),
          sum((col("vm") * col("vm")).cast("decimal(38,0)")).as("sq"))
        .withColumn("varq",
          expr("(nh * sq - sv * sv) div (cast(nh as decimal(38,0)) * nh)"))
        .withColumn("s0",
          floor(sqrt(col("varq").cast("double"))).cast("long"))
        .withColumn("s_h", expr(
          """case when (s0 + 1) * (s0 + 1) <= varq then s0 + 1
            |when s0 * s0 > varq then s0 - 1 else s0 end""".stripMargin))
        .withColumn("w_h", col("nh") * col("s_h"))
        .localCheckpoint(false)
      val tot = st.agg(sum("w_h").as("w"), count(lit(1)).as("k"))
      val quota = st.crossJoin(broadcast(tot))
        .withColumn("q0", expr("(1000 * w_h) div w"))
        .withColumn("rem", expr("(1000 * w_h) % w"))
      val short = quota.agg((lit(1000L) - sum("q0")).as("left1"))
      val wq = Window.orderBy(col("rem").desc, col("event_type"))
      val alloc = quota.crossJoin(broadcast(short))
        .withColumn("rk", row_number().over(wq))
        .withColumn("alloc",
          col("q0") + when(col("rk") <= col("left1"), 1L).otherwise(0L))
        .select(col("event_type"), col("nh"), col("s_h"), col("w_h"),
          col("alloc"))
      val wd = Window.partitionBy("event_type")
        .orderBy(pmod(TextOps.fingerprint(col("event_id").cast("string")),
          lit(1000000L)), col("event_id"))
      ev.join(broadcast(alloc), Seq("event_type"))
        .withColumn("r", row_number().over(wd))
        .where(col("r") <= col("alloc"))
        .groupBy(col("event_type"), col("nh"), col("s_h"), col("alloc"))
        .agg(count(lit(1)).as("n_drawn"),
          sum("event_id").as("drawn_id_sum"))
    }),

    // streaming drift monitor: a REAL streaming query maintains per-day
    // coarse value histograms (tumbling event-time windows × bins,
    // watermark-bounded state = #days × #bins), then each day's binned
    // CDF is tested against the whole-corpus reference with the q280 KS
    // integer contract — the production "is today's distribution off?"
    // alarm. Reference includes the tested day (the stationary-baseline
    // convention); a trailing split composes the same way
    "q289_stream_drift_monitor" -> ((s, d) => {
      val hist = graft.streaming.StreamAgg.eventsDailyHistogram(s, d,
          50000000L, s"graft_stream_drift_${System.nanoTime()}")
        .localCheckpoint(false)
      val ref = hist.groupBy("bin").agg(sum("n").as("rn"))
      val spine = hist.select("day_start_us").distinct()
        .crossJoin(broadcast(ref))
      val grid = spine.join(hist, Seq("day_start_us", "bin"), "left_outer")
        .na.fill(0L, Seq("n"))
      val wb = Window.partitionBy("day_start_us").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = grid.select(col("day_start_us"),
        sum("n").over(wb).as("cd"), sum("rn").over(wb).as("cr"))
      val nday = hist.groupBy("day_start_us").agg(sum("n").as("nd"))
      val tot = hist.agg(sum("n").as("ntot"))
      cum.join(broadcast(nday), Seq("day_start_us"))
        .crossJoin(broadcast(tot))
        .groupBy(col("day_start_us"), col("nd"), col("ntot"))
        .agg(max(abs(col("cd") * col("ntot") - col("cr") * col("nd")))
          .as("d_star"))
        .select(col("day_start_us"), col("nd"), col("d_star"),
          expr("""case when 10000 * cast(d_star as decimal(38,0)) * d_star
                 |  > 18442 * cast(nd as decimal(38,0)) * ntot * (nd + ntot)
                 |then 1 else 0 end""".stripMargin).as("drift"))
    }),

    // hash-seeded deterministic random walks over the nation trade graph
    // (the DeepWalk/node2vec sampling primitive, derandomized): from
    // every node, 3 steps, next hop = argmin of the shared rolling-hash
    // fingerprint over out-edges, ABSORBING at sinks (a node with no
    // out-edges keeps its position — at sparse sf the supplier side is
    // tiny and every walk would otherwise die). Each step is one
    // frontier ⋈ edge-list join (broadcast here; co-partitioned
    // equi-join at web scale), never a materialized path explosion
    "q290_hash_walks" -> ((s, d) => {
      val edges = nationTradeEdges(s, d)
        .select(col("src"), col("dst")).localCheckpoint(false)
      def step(cur: DataFrame, k: Int): DataFrame = {
        val wk = Window.partitionBy("start").orderBy(col("h"), col("dst"))
        val chosen = cur.join(broadcast(edges),
            cur("cur") === edges("src"))
          .withColumn("h", pmod(TextOps.fingerprint(
            concat_ws("|", lit(k.toString), col("cur"), col("dst"))),
            lit(1000000000L)))
          .withColumn("rk", row_number().over(wk))
          .where(col("rk") === 1)
          .select(col("start"), col("dst").as("nxt"))
        cur.join(chosen, Seq("start"), "left_outer")
          .select(col("start"),
            coalesce(col("nxt"), col("cur")).as("dst"))
      }
      val start = edges.select(col("src").as("start")).distinct()
        .withColumn("cur", col("start"))
      val h1 = step(start, 1).withColumnRenamed("dst", "hop1")
      val h2 = step(h1.select(col("start"), col("hop1").as("cur")), 2)
        .withColumnRenamed("dst", "hop2")
      val h3 = step(
        h1.join(h2, Seq("start")).select(col("start"),
          col("hop2").as("cur")), 3).withColumnRenamed("dst", "hop3")
      h1.join(h2, Seq("start")).join(h3, Seq("start"))
        .select(col("start"), col("hop1"), col("hop2"), col("hop3"))
    }),

    // isotonic regression via the minimax identity — fitted_i =
    // max_{j≤i} min_{k≥i} avg(v[j..k]) — which turns the sequential
    // pool-adjacent-violators algorithm into three relational stages
    // (segment averages from prefix sums, min over k, max over j), all on
    // panel-sized tables (n³/6 segment rows per series). Averages
    // quantized once ((S·1000) div len, micro units); the max-of-min
    // structure keeps the quantized fit monotone by construction
    "q291_isotonic_minimax" -> ((s, d) => {
      val p = graft.metrics.Causal.dailyMeanPanel(events(s, d))
      val w = Window.partitionBy("series").orderBy("day")
      val pre = p.select(col("series"), col("day"), col("v"),
        row_number().over(w).as("i"), sum("v").over(w).as("cs"))
        .localCheckpoint(false)
      val jside = pre.select(col("series"), (col("i") + 1).as("j"),
        col("cs").as("csj1"))
        .unionByName(pre.where(col("i") === 1)
          .select(col("series"), lit(1).as("j"), lit(0L).as("csj1")))
      val seg = jside.join(pre.select(col("series"), col("i").as("k"),
          col("cs").as("csk")), Seq("series"))
        .where(col("j") <= col("k"))
        .select(col("series"), col("j"), col("k"),
          expr("((csk - csj1) * 1000) div (k - j + 1)").as("avg_micro"))
      val spine = pre.select(col("series"), col("i"), col("day"),
        col("v"))
      spine.join(broadcast(seg), Seq("series"))
        .where(col("j") <= col("i") && col("k") >= col("i"))
        .groupBy(col("series"), col("i"), col("day"), col("v"), col("j"))
        .agg(min("avg_micro").as("minv"))
        .groupBy(col("series"), col("day"), col("v"))
        .agg(max("minv").as("fitted_micro"))
    }),

    // Kaplan-Meier survival curve: time from each user's first event to
    // first purchase (right-censored at the corpus horizon), risk sets
    // from one user-grain pass, and the product-limit estimator folded in
    // ppm over the ≤#days distinct event times — the same single-group
    // higher-order fold the Holt entry uses, replayed by the oracle as a
    // recursive CTE. S ← (S·(n_t − d_t)) div n_t at each event time
    "q292_kaplan_meier" -> ((s, d) => {
      survivalRisk(s, d).agg(sort_array(collect_list(struct(col("t"),
          col("n_risk"), col("d")))).as("arr"))
        .select(explode(expr(
          """aggregate(arr,
            |  named_struct('s', cast(1000000 as bigint),
            |    'curve', cast(array() as array<struct<t:bigint,
            |      n_risk:bigint, d:bigint, s_ppm:bigint>>)),
            |  (st, x) -> named_struct(
            |    's', (st.s * (x.n_risk - x.d)) div x.n_risk,
            |    'curve', concat(st.curve, array(named_struct(
            |      't', x.t, 'n_risk', x.n_risk, 'd', x.d,
            |      's_ppm', (st.s * (x.n_risk - x.d)) div x.n_risk)))),
            |  st -> st.curve)""".stripMargin)).as("r"))
        .select(col("r.t").as("t"), col("r.n_risk").as("n_risk"),
          col("r.d").as("d"), col("r.s_ppm").as("s_ppm"))
    }),

    // difference-in-differences: treatment = user parity, post = second
    // half of the observed span (the q259 midpoint convention), outcome =
    // purchase micro value per user-cell mean; DiD =
    // (m_treat_post − m_treat_pre) − (m_ctl_post − m_ctl_pre), all
    // truncating integer means. One fact pass, a 4-cell pivot
    "q293_diff_in_diff" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), col("ts"),
        col("event_type"),
        ExactStats.micro(col("value")).cast("long").as("vm"))
      val piv = ev.agg(min("ts").as("mn"), max("ts").as("mx"))
      val cells = ev.where(col("event_type") === "purchase")
        .crossJoin(broadcast(piv))
        .groupBy((col("user_id") % 2).as("treat"),
          (col("ts") * 2 >= col("mn") + col("mx")).cast("int").as("post"))
        .agg(count(lit(1)).as("n"), sum("vm").as("sv"))
        .select(col("treat"), col("post"), col("n"),
          expr("sv div n").as("mean_micro"))
      cells.groupBy()
        .pivot(concat(col("treat"), lit("_"), col("post")),
          Seq("0_0", "0_1", "1_0", "1_1"))
        .agg(max("mean_micro"))
        .select(col("0_0").as("m_ctl_pre"), col("0_1").as("m_ctl_post"),
          col("1_0").as("m_treat_pre"), col("1_1").as("m_treat_post"),
          expr("(`1_1` - `1_0`) - (`0_1` - `0_0`)").as("did_micro"))
    }),

    // the generation→discovery capstone on the reference's OWN equations:
    // generate the A1 4-var lag-2 gaussian config with the kernel, dump
    // it (so DuckDB replays the identical rows), run the q269 Granger
    // contract over the 12 ordered variable pairs at lag 1, and flag each
    // decision against the catalog's declared lag-1 links — the engine
    // produces its benchmark data AND runs the discovery step the
    // benchmark exists to evaluate
    "q294_granger_on_generated" -> ((s, d) => {
      val cfg = Grid.cell("A1", 5000, 4, 2)
      val gen = dumpGen(s, "q294_gen",
        Generate.wideFast(s, Seq(cfg))
          .select(col("t"), col("X1"), col("X2"), col("X3"), col("X4")))
      val panel = Panels.single(gen, 4)
      graft.metrics.Causal.grangerLag1(panel)
        .withColumn("truth_lag1", expr(GrangerGenTruthCase))
    }),

    // inclusion-dependency discovery (the foreign-key-profiling sibling
    // of the q266 FD audit): for each candidate column pair A ⊆ B?, the
    // distinct-A count and the count of A values absent from B — each
    // candidate is a distinct-reduce then an anti-join on the key, never
    // a row-level comparison. Census over 8 declared candidates, both
    // true FKs and deliberate violations
    "q295_inclusion_deps" -> ((s, d) => {
      def ind(nm: String, a: DataFrame, ca: String, b: DataFrame,
          cb: String): DataFrame = {
        val da = a.select(col(ca).as("v")).distinct()
        val db = b.select(col(cb).as("v")).distinct()
        val miss = da.join(db, Seq("v"), "left_anti")
          .agg(count(lit(1)).as("n_missing"))
        da.agg(count(lit(1)).as("n_distinct"))
          .crossJoin(broadcast(miss))
          .select(lit(nm).as("candidate"), col("n_distinct"),
            col("n_missing"),
            (col("n_missing") === 0).cast("int").as("holds"))
      }
      Seq(
        ind("orders.custkey<customer", orders(s, d), "o_custkey",
          customer(s, d), "c_custkey"),
        ind("customer<orders.custkey", customer(s, d), "c_custkey",
          orders(s, d), "o_custkey"),
        ind("lineitem.partkey<part", lineitem(s, d), "l_partkey",
          part(s, d), "p_partkey"),
        ind("part<lineitem.partkey", part(s, d), "p_partkey",
          lineitem(s, d), "l_partkey"),
        ind("lineitem.suppkey<supplier", lineitem(s, d), "l_suppkey",
          supplier(s, d), "s_suppkey"),
        ind("customer.nationkey<nation", customer(s, d), "c_nationkey",
          nation(s, d), "n_nationkey"),
        ind("nation.regionkey<region", nation(s, d), "n_regionkey",
          region(s, d), "r_regionkey"),
        ind("supplier.suppkey<customer", supplier(s, d), "s_suppkey",
          customer(s, d), "c_custkey")
      ).reduce(_ unionByName _)
    }),

    // sequence-length bucketing padding audit (training-batch
    // efficiency): padding waste when every document pads to the global
    // max vs to its 64-wide length-bucket max — the quantified case for
    // length-bucketed batching. Two aggregate passes over doc token
    // lengths, waste in exact ppm
    "q296_padding_efficiency" -> ((s, d) => {
      val lens = documents(s, d)
        .select(expr("size(split(text, ' '))").cast("long").as("len"))
        .localCheckpoint(false)
      val global = lens.agg(count(lit(1)).as("n_docs"),
          sum("len").as("token_sum"), max("len").as("mx"))
        .select(lit("global_max_pad").as("strategy"), col("n_docs"),
          col("token_sum"),
          (col("n_docs") * col("mx") - col("token_sum"))
            .as("padded_tokens"),
          expr("""((n_docs * mx - token_sum) * 1000000)
                 | div (n_docs * mx)""".stripMargin).as("waste_ppm"))
      val bucketed = lens.groupBy(expr("len div 64").as("b"))
        .agg(count(lit(1)).as("n"), sum("len").as("ts"), max("len").as("mx"))
        .agg(sum("n").as("n_docs"), sum("ts").as("token_sum"),
          sum(expr("n * mx - ts")).as("padded_tokens"),
          sum(expr("n * mx")).as("padded_total"))
        .select(lit("bucket64_pad").as("strategy"), col("n_docs"),
          col("token_sum"), col("padded_tokens"),
          expr("(padded_tokens * 1000000) div padded_total")
            .as("waste_ppm"))
      global.unionByName(bucketed)
    }),

    // GROUP BY ALL (SQL-surface parity): one ANSI text both engines run —
    // the grouping key list is inferred from the non-aggregate select
    // items on each side, pinning that the inference rules agree
    "q297_group_by_all" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders_gba_v")
      s.sql(GroupByAllSql("orders_gba_v"))
    }),

    // physical-layout sortedness / RLE-friendliness audit: for each
    // audited lineitem column, adjacency within the (l_orderkey,
    // l_linenumber) layout order — nondecreasing-pair fraction (sort
    // pushdown / min-max pruning quality) and value-change runs (RLE
    // compressibility). Windows partition by orderkey (never a global
    // sort); cross-order boundaries are out of the contract
    "q298_sortedness_audit" -> ((s, d) => {
      val li = lineitem(s, d).select(col("l_orderkey"),
        col("l_linenumber"),
        ExactStats.micro(col("l_quantity")).cast("long").as("qty"),
        col("l_shipdate").as("ship"), col("l_partkey"))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
      // the layout order needs a total tie-break or the adjacency census
      // is run-dependent; exact-duplicate rows are interchangeable
      val w = Window.partitionBy("l_orderkey")
        .orderBy(col("l_linenumber"), col("l_partkey"), col("qty"),
          col("ship"))
      def audit(nm: String, c: String): DataFrame =
        li.select(col(c).as("v"), lag(c, 1).over(w).as("p"))
          .where(col("p").isNotNull)
          .agg(lit(nm).as("col_name"), count(lit(1)).as("n_pairs"),
            sum(when(col("v") >= col("p"), 1L).otherwise(0L))
              .as("nondec"),
            sum(when(col("v") =!= col("p"), 1L).otherwise(0L))
              .as("changes"))
          .select(col("col_name"), col("n_pairs"),
            expr("(nondec * 1000000) div n_pairs").as("sorted_ppm"),
            (col("changes") + 1).as("runs_upper"))
      audit("l_shipdate", "ship")
        .unionByName(audit("l_quantity", "qty"))
        .unionByName(audit("l_partkey", "l_partkey"))
    }),

    // group-sequential A/B monitoring with O'Brien-Fleming-shaped
    // boundaries: three looks at days 10/20/30 of cumulative purchase
    // value by arm, two-sample z² kept rational —
    // 10000·(S1·n0 − S0·n1)² > bound_bp·(n1+n0)·n1·n0·varq — against the
    // shared boundary table c²·K/k, c = 2.004. The early looks demand
    // ~3× the final evidence, the classic peeking-safe monitor
    "q299_group_sequential" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"),
        expr("(ts div 1000) div 86400000000").as("day"),
        col("event_type"),
        ExactStats.micro(col("value")).cast("long").as("vm"))
        .where(col("event_type") === "purchase")
        .localCheckpoint(false)
      val d0 = ev.agg(min("day").as("d0"))
      val looks = (1 to 3).map { k =>
        ev.crossJoin(broadcast(d0))
          .where(col("day") <= col("d0") + (k * 10 - 1))
          .groupBy()
          .agg(
            sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L))
              .as("n0"),
            sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L))
              .as("n1"),
            sum(when(col("user_id") % 2 === 0, col("vm"))
              .otherwise(0L)).cast("decimal(38,0)").as("s0"),
            sum(when(col("user_id") % 2 === 1, col("vm"))
              .otherwise(0L)).cast("decimal(38,0)").as("s1"),
            count(lit(1)).as("n"),
            sum(col("vm").cast("decimal(38,0)")).as("sv"),
            sum((col("vm") * col("vm")).cast("decimal(38,0)"))
              .as("sq"))
          .select(lit(k).as("look"), col("n0"), col("n1"),
            expr("s1 * n0 - s0 * n1").cast("decimal(38,0)")
              .as("diff_num"),
            expr("(n * sq - sv * sv) div (cast(n as decimal(38,0)) * n)")
              .as("varq"),
            lit(ObfBoundBp(k - 1)).as("bound_bp"))
          .select(col("look"), col("n0"), col("n1"),
            col("diff_num").cast("long").as("diff_num"),
            col("varq").cast("long").as("varq"), col("bound_bp"),
            expr("""case when n0 > 0 and n1 > 0 and varq > 0 and
                   |  10000 * diff_num * diff_num >
                   |  bound_bp * cast(n0 + n1 as decimal(38,0))
                   |    * n0 * n1 * varq
                   |then 1 else 0 end""".stripMargin).as("reject"))
      }
      looks.reduce(_ unionByName _)
    }),

    // PC skeleton on the engine's own generated data (the q294 sibling
    // for UNDIRECTED structure): generate the A1 4-var lag-2 config,
    // keep the first 200 observations (Spearman rank magnitudes must
    // keep the four-C-product partial-correlation test inside
    // HUGEINT/DECIMAL(38) — n⁴-scaled cross-moments cap the window),
    // run the q270 skeleton, flag each unordered pair against the
    // catalog's any-lag adjacency
    "q300_pc_on_generated" -> ((s, d) => {
      val cfg = Grid.cell("A1", 500, 4, 2)
      val gen = dumpGen(s, "q300_gen",
        Generate.wideFast(s, Seq(cfg)).where(col("t") < 200)
          .select(col("t"), col("X1"), col("X2"), col("X3"), col("X4")))
      val panel = Panels.single(gen, 4)
      graft.metrics.Causal.pcSkeleton(panel)
        .withColumn("truth_adj", expr(PcGenTruthCase))
    }),

    // Dickey-Fuller unit-root audit per series (the stationarity
    // precondition every test in the causal suite assumes): regress
    // Δv_t on v_{t-1} via centered cross-moments, reject the unit root
    // when the slope is negative and the cross-multiplied τ² clears the
    // intercept-model 5% critical value 2.96² —
    // 100·(n−2)·Cxy² > 876·(Cxx·Cyy − Cxy²)
    "q301_unit_root" -> ((s, d) => {
      val p = graft.metrics.Causal.dailyMeanPanel(events(s, d))
      val w = Window.partitionBy("series").orderBy("day")
      val dl = p.select(col("series"), col("v"),
          lag("v", 1).over(w).as("pv"))
        .where(col("pv").isNotNull)
        .select(col("series"), col("pv").as("x"),
          (col("v") - col("pv")).as("y"))
      dl.groupBy("series").agg(
          count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum(col("y").cast("decimal(38,0)")).as("sy"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
          sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
          sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
        .withColumn("cxx", expr("n*sxx - sx*sx"))
        .withColumn("cxy", expr("n*sxy - sx*sy"))
        .withColumn("cyy", expr("n*syy - sy*sy"))
        .select(col("series"), col("n").cast("long").as("n"),
          col("cxx").cast("long").as("cxx"),
          col("cxy").cast("long").as("cxy"),
          expr("""case when cxy < 0 and
                 |  100 * (n - 2) * cxy * cxy >
                 |  876 * (cxx * cyy - cxy * cxy)
                 |then 1 else 0 end""".stripMargin).as("stationary"))
    }),

    // lead-lag cross-correlation census (the exploratory sibling of the
    // q269 test): for every ordered pair and displacement L ∈ 0..3,
    // corr²(a_{t−L}, b_t) in basis points from centered cross-moments,
    // with the argmax displacement flagged per pair — "who leads whom,
    // by how many days". Four shifted panel joins, all broadcast
    "q302_lead_lag_ccf" -> ((s, d) => {
      val p = graft.metrics.Causal.dailyMeanPanel(events(s, d))
        .localCheckpoint(false)
      val lagged = (0 to 3).map { l =>
        val a = p.select(col("series").as("cause"),
          (col("day") + l).as("day"), col("v").as("av"))
        val b = p.select(col("series").as("effect"), col("day"),
          col("v").as("bv"))
        b.join(broadcast(a), Seq("day"))
          .where(col("cause") =!= col("effect"))
          .select(col("cause"), col("effect"), lit(l).as("lag_d"),
            col("av"), col("bv"))
      }.reduce(_ unionByName _)
      val sums = lagged.groupBy("cause", "effect", "lag_d").agg(
          count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("av").cast("decimal(38,0)")).as("sa"),
          sum(col("bv").cast("decimal(38,0)")).as("sb"),
          sum((col("av") * col("av")).cast("decimal(38,0)")).as("saa"),
          sum((col("av") * col("bv")).cast("decimal(38,0)")).as("sab"),
          sum((col("bv") * col("bv")).cast("decimal(38,0)")).as("sbb"))
        .withColumn("caa", expr("n*saa - sa*sa"))
        .withColumn("cab", expr("n*sab - sa*sb"))
        .withColumn("cbb", expr("n*sbb - sb*sb"))
        .select(col("cause"), col("effect"), col("lag_d"),
          col("n").cast("long").as("n"),
          expr("""case when caa = 0 or cbb = 0 then 0
                 |else (cab * cab * 10000) div (caa * cbb) end"""
            .stripMargin).as("corr_bp"),
          expr("case when cab < 0 then -1 else 1 end").as("sign"))
      val wb = Window.partitionBy("cause", "effect")
        .orderBy(col("corr_bp").desc, col("lag_d"))
      sums.withColumn("is_best",
        (row_number().over(wb) === 1).cast("int"))
    }),

    // EWMA control chart (λ = 0.2, 3σ limits): z_t = (20·v + 80·z_{t−1})
    // div 100 folded per series with the curve accumulated in-state (the
    // q292 array-fold pattern); with λ = 0.2 the 3σ_z breach test
    // simplifies EXACTLY to (z − μ)² > varq since 9·λ/(2−λ) = 1 — one
    // more division-free decision. Output per (series, day)
    "q303_ewma_chart" -> ((s, d) => {
      val p = graft.metrics.Causal.dailyMeanPanel(events(s, d))
        .localCheckpoint(false)
      val stats = p.groupBy("series").agg(
          count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("v").cast("decimal(38,0)")).as("sv"),
          sum((col("v") * col("v")).cast("decimal(38,0)")).as("sq"))
        .select(col("series"), expr("sv div n").cast("long").as("mu"),
          expr("(n*sq - sv*sv) div (n*n)").cast("long").as("varq"))
      val curve = p.groupBy("series")
        .agg(sort_array(collect_list(struct(col("day"), col("v"))))
          .as("arr"))
        .select(col("series"), explode(expr(
          """aggregate(
            |  slice(arr, 2, size(arr) - 1),
            |  named_struct('z', arr[0].v,
            |    'curve', array(named_struct('day', arr[0].day,
            |      'z', arr[0].v))),
            |  (st, x) -> named_struct(
            |    'z', (20 * x.v + 80 * st.z) div 100,
            |    'curve', concat(st.curve, array(named_struct(
            |      'day', x.day, 'z', (20 * x.v + 80 * st.z) div 100)))),
            |  st -> st.curve)""".stripMargin)).as("r"))
        .select(col("series"), col("r.day").as("day"),
          col("r.z").as("z_milli"))
      curve.join(broadcast(stats), Seq("series"))
        .select(col("series"), col("day"), col("z_milli"),
          expr("""case when (z_milli - mu) * (z_milli - mu) > varq
                 |then 1 else 0 end""".stripMargin).as("breach"))
    }),

    // PNG tEXt metadata extraction over REAL binary media: each document
    // becomes a genuine PNG (JDK codec) with spec-correct tEXt chunks
    // spliced after IHDR (CRC32-stamped); the pipeline walks the chunk
    // stream back (CRC-VERIFYING every chunk), decodes the raster through
    // the same codec (the splice must not break it), and reports a census
    // by extracted source key — which the codec-free oracle re-derives
    // relationally from the documents table alone
    "q304_png_metadata" -> ((s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal
      val rows = documents(s, d)
        .select(col("doc_id").cast("long"), col("source"), col("lang"))
        .as[(Long, String, String)]
        .mapPartitions(_.map { case (id, src, lang) =>
          val w = 16 + (id % 16).toInt
          val h = 12 + (id % 8).toInt
          val png = Multimodal.injectPngText(
            Multimodal.encodePng(w, h, Multimodal.synthRaster(id, w, h)),
            Seq("src" -> src, "lang" -> lang))
          val meta = Multimodal.extractPngText(png).toMap
          val dec = Multimodal.decodeImage(png)
          (meta("src"), meta("lang"), id,
            dec.width.toLong * dec.height)
        })
        .toDF("src", "lang", "doc_id", "n_pixels")
      rows.groupBy("src")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
          sum("n_pixels").as("pixel_sum"),
          count_distinct(col("lang")).as("n_langs"))
    }),

    // moving-block bootstrap (autocorrelation-respecting uncertainty for
    // the mean): 20 hash-seeded replicates × 6 length-5 blocks per
    // series, replicate means in milli, bootstrap variance
    // (R·Σm² − (Σm)²) div R² — the resampling plan is a 120-row spine
    // joined to the panel on index ranges, deterministic end to end
    "q305_block_bootstrap" -> ((s, d) => {
      import s.implicits._
      val p = graft.metrics.Causal.dailyMeanPanel(events(s, d))
      val w = Window.partitionBy("series").orderBy("day")
      val ix = p.select(col("series"), col("v"),
        row_number().over(w).as("i")).localCheckpoint(false)
      val nBlocks = 26 // n - L + 1 with n = 30, L = 5
      val spine = (for { r <- 1 to 20; j <- 0 until 6 } yield
        (r, j, 1 + (((r * 31 + j).toLong * 2654435761L) % nBlocks).toInt))
        .toDF("rep", "slot", "start")
      val picked = ix.join(broadcast(spine),
          ix("i") >= spine("start") && ix("i") <= spine("start") + 4)
        .groupBy("series", "rep")
        .agg(expr("sum(v) div 30").as("m"))
      picked.groupBy("series")
        .agg(count(lit(1)).as("n_reps"),
          sum(col("m").cast("decimal(38,0)")).as("sm"),
          sum((col("m") * col("m")).cast("decimal(38,0)")).as("smm"))
        .select(col("series"), col("n_reps"),
          expr("sm div n_reps").cast("long").as("boot_mean_milli"),
          expr("(n_reps*smm - sm*sm) div (cast(n_reps as decimal(38,0)) * n_reps)")
            .cast("long").as("boot_var"))
    }),

    // exact average precision (PR-AUC companion to q287's ROC AUC) with
    // the pessimistic tie contract: descending margin groups processed
    // atomically, precision evaluated AFTER each whole group —
    // AP·1e6 = Σ_g p_g·(cumP·1e6 div cumT) div n_p. Cumulative on the
    // distinct-margin grid, never doc rows
    "q307_average_precision" -> ((s, d) => {
      val m = TextOps.linearQualityMargin(documents(s, d))
        .select(col("margin"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val byv = m.groupBy("margin")
        .agg(count(lit(1)).as("t"), sum("pos").as("p"))
      val wv = Window.orderBy(col("margin").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byv.select(col("p"),
          sum("p").over(wv).as("cp"), sum("t").over(wv).as("ct"))
        .agg(sum("p").as("n_pos"),
          sum(expr("p * ((cp * 1000000) div ct)")).as("ap_num"))
        .select(col("n_pos"),
          expr("ap_num div n_pos").as("ap_ppm"))
    }),

    // Brier score with the Murphy decomposition over the q286 reliability
    // bins: direct Brier from the 0/1 labels, reliability Σn_b(conf−acc)²,
    // resolution Σn_b(acc−base)², uncertainty base·(1e6−base) — all in
    // ppm² integers with one declared div N each, plus the decomposition
    // residual (pure quantization, pinned)
    "q308_brier_decomposition" -> ((s, d) => {
      val m = TextOps.linearQualityMargin(documents(s, d))
        .select(col("margin"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val bins = m.select(
          expr("greatest(least(margin div 200, 10), -10)").as("bin"),
          col("pos"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_b"), sum("pos").as("p_b"))
        .withColumn("conf", expr(SigmoidPpmCase))
        .withColumn("acc", expr("(p_b * 1000000) div n_b"))
      val tot = bins.agg(sum("n_b").as("n"), sum("p_b").as("np"))
        .select(col("n"), expr("(np * 1000000) div n").as("base"))
      bins.crossJoin(broadcast(tot))
        .agg(max("n").as("n"), max("base").as("base_ppm"),
          sum(expr("""p_b * cast(conf - 1000000 as decimal(38,0))
                     |  * (conf - 1000000)
                     |+ (n_b - p_b) * cast(conf as decimal(38,0)) * conf"""
            .stripMargin)).as("brier_num"),
          sum(expr("n_b * cast(conf - acc as decimal(38,0)) * (conf - acc)"))
            .as("rel_num"),
          sum(expr("n_b * cast(acc - base as decimal(38,0)) * (acc - base)"))
            .as("res_num"))
        .select(col("n"), col("base_ppm"),
          expr("brier_num div n").cast("long").as("brier_pm2"),
          expr("rel_num div n").cast("long").as("rel_pm2"),
          expr("res_num div n").cast("long").as("res_pm2"),
          expr("base_ppm * (1000000 - base_ppm)").as("unc_pm2"),
          expr("""(brier_num div n) - ((rel_num div n)
                 | - (res_num div n) + base_ppm * (1000000 - base_ppm))"""
            .stripMargin).cast("long").as("quant_residual"))
    }),

    // embedding-outlier curation census: distance² of every vector to
    // its label centroid as exact integers — per-dim deviation n·m − S
    // (scaled by n, no truncated mean), normalized once by n² — then a
    // per-label 2σ outlier flag, cross-multiplied. One posexplode pass,
    // 640-row centroid table broadcast; the ANN/dedup stack's "drop the
    // mislabeled tail before training" companion
    "q309_embedding_outliers" -> ((s, d) => {
      val vecs = embeddings(s, d).select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("vec_id"), col("label"), col("dim"),
          floor(col("x") * 1e6).cast("long").as("m"))
      val cent = vecs.groupBy("label", "dim")
        .agg(count(lit(1)).as("n"), sum("m").as("sm"))
      val d2 = vecs.join(broadcast(cent), Seq("label", "dim"))
        .groupBy(col("vec_id"), col("label"), col("n"))
        .agg(sum(expr(
          "cast(n * m - sm as decimal(38,0)) * (n * m - sm)")).as("ss"))
        .select(col("vec_id"), col("label"),
          expr("ss div (cast(n as decimal(38,0)) * n)").as("d2"))
      // the variance of d2 lives in d2² units (~1e21, past BIGINT — and
      // past `div`'s long result, which would silently wrap) — so never
      // materialize it: take σ = isqrt(num)/nv directly, with the ±1
      // correction done against the exact decimal numerator via
      // s² ≤ num div nv² ⟺ s²·nv² ≤ num, then flag with the LINEAR
      // comparison d2 > μ + 2σ
      val stats = d2.groupBy("label").agg(
          count(lit(1)).as("nv"),
          sum(col("d2").cast("decimal(38,0)")).as("sd"),
          sum(expr("cast(d2 as decimal(38,0)) * d2")).as("sdd"))
        .withColumn("num", expr("nv * sdd - sd * sd"))
        .withColumn("s0",
          floor(sqrt(col("num").cast("double")) / col("nv"))
            .cast("long"))
        .select(col("label"), col("nv"),
          expr("sd div nv").cast("long").as("mu_d2"),
          expr("""case when cast(s0 + 1 as decimal(38,0)) * (s0 + 1)
                 |    * nv * nv <= num then s0 + 1
                 |when cast(s0 as decimal(38,0)) * s0 * nv * nv > num
                 |  then s0 - 1
                 |else s0 end""".stripMargin).cast("long").as("sig_d2"))
      d2.join(broadcast(stats), Seq("label"))
        .groupBy(col("label"), col("nv"), col("mu_d2"), col("sig_d2"))
        .agg(sum(expr(
          "case when d2 > mu_d2 + 2 * sig_d2 then 1 else 0 end"))
          .as("n_outliers"))
        .select(col("label"), col("nv"), col("mu_d2"), col("sig_d2"),
          col("n_outliers"))
    }),

    // SAX series similarity (symbolic aggregate approximation, Lin et
    // al.): each series' daily means discretized into 8 per-series
    // min-max symbols, concatenated in day order, and every unordered
    // pair scored with the BUILTIN levenshtein both engines share — the
    // classic symbolic-representation route to cheap whole-series
    // similarity. Panel-sized throughout; the 5-row word table
    // broadcasts to its own 10-pair self-join
    "q311_sax_similarity" -> ((s, d) => {
      val p = graft.metrics.Causal.dailyMeanPanel(events(s, d))
      val mm = p.groupBy("series").agg(min("v").as("mn"),
        max("v").as("mx"))
      val words = p.join(broadcast(mm), Seq("series"))
        .select(col("series"), col("day"),
          expr("char(97 + (((v - mn) * 8) div (mx - mn + 1)))")
            .as("sym"))
        .groupBy("series")
        .agg(expr(
          """array_join(transform(
            |  sort_array(collect_list(struct(day, sym))),
            |  x -> x.sym), '')""".stripMargin).as("word"))
        .localCheckpoint(false)
      val a = words.select(col("series").as("a"), col("word").as("wa"))
      val b = words.select(col("series").as("b"), col("word").as("wb"))
      a.join(broadcast(b), col("a") < col("b"))
        .select(col("a"), col("b"),
          length(col("wa")).cast("long").as("len_a"),
          levenshtein(col("wa"), col("wb")).cast("long").as("dist"),
          expr("(cast(levenshtein(wa, wb) as bigint) * 1000000)"
            + " div greatest(length(wa), length(wb))").as("dist_ppm"))
    }),

    // S4 inverse at corpus scale: parse every shipped structure txt back
    // into normalized causal links with the Sinks line parser (the
    // reference's own downstream consumers read these files back,
    // a1.py:297-306 grammar), then census links by (func, lag) — count,
    // exact coef micro-sum, distinct endpoints. One recursive listing of
    // 1,188 small files, line-parallel parsing, a ~20-row aggregate; the
    // oracle re-parses the same tree in DuckDB with the same anchored
    // grammars
    "q312_structure_parse_census" -> ((s, d) => {
      import s.implicits._
      val lines = s.read
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.txt")
        .text("/root/reference/Datasets")
        .where(!input_file_name().like("%_statistics.txt"))
        .select(col("value")).as[String]
      lines.flatMap(graft.generate.Sinks.parseLinkLine _)
        .toDF("source", "lag", "target", "func", "coef")
        .groupBy(col("func"), col("lag").cast("long").as("lag"))
        .agg(count(lit(1)).as("n_links"),
          sum(floor(col("coef") * 1e6 + 0.5).cast("long"))
            .as("sum_coef_micro"),
          countDistinct("source").as("n_sources"),
          countDistinct("target").as("n_targets"))
    }),

    // confounded generation→discovery capstone: A1C 4-var lag-2 WITH the
    // confounder U observed as a fifth panel series. The q269 Granger
    // contract over the 20 ordered pairs; truth_lag1 declares only the
    // catalog's X lag-1 edges (U's edges are contemporaneous), so the
    // U rows surface exactly the confounder-induced flags the benchmark
    // family exists to create
    "q313_granger_confounded" -> ((s, d) => {
      val cfg = Grid.cell("A1C", 5000, 4, 2)
      val gen = dumpGen(s, "q313_gen",
        Generate.wideFast(s, Seq(cfg))
          .select(col("t"), col("X1"), col("X2"), col("X3"), col("X4"),
            col("U")))
      val panel = Panels.single(gen, 4).unionByName(
        gen.select(lit("U").as("series"), col("t").as("day"),
          Panels.milli(col("U")).as("v")))
      graft.metrics.Causal.grangerLag1(panel)
        .withColumn("truth_lag1", expr(grangerTruthCase("A1C")))
    }),

    // irregular generation→discovery capstone: A2 4-var lag-2, whose
    // kernel samples on an exponential-gap continuous clock. The lag
    // alignment is the reference's own nearest-lag lookup
    // (a2.py:162-167): for row i, the past index nearest to
    // time_i − meanDiff — Lagged.nearestLagIndexView (union + one sort +
    // two carries, the AsOf shape). Both regressors take the nearest-lag
    // index (the generator's semantics); the Granger sums/decision tail
    // is shared verbatim with q294/q269
    "q314_granger_irregular" -> ((s, d) => {
      val cfg = Grid.cell("A2", 5000, 4, 2)
      val gen = dumpGen(s, "q314_gen",
        Generate.wideFast(s, Seq(cfg))
          .select(col("t"), col("time"), col("X1"), col("X2"), col("X3"),
            col("X4")))
      // snap the alignment: without this the union+sort lineage re-runs
      // once per downstream join stage (profiled at 3.8 s vs 0.5 s)
      val lx = graft.ops.Lagged.nearestLagIndexView(
        gen.select(col("t"), col("time")), "t", "time")
        .localCheckpoint(false)
      val pan = Panels.single(gen, 4).withColumnRenamed("day", "t")
        .localCheckpoint(false)
      graft.metrics.Causal.grangerDecide(
          graft.metrics.Causal.grangerSumsFromLagged(
            graft.metrics.Causal.nearestLagPairs(lx, pan)), 422L)
        .withColumn("truth_lag1", expr(grangerTruthCase("A2")))
    }),

    // R7-R10 at PANEL scale: 1,200 deterministically perturbed predicted
    // graphs (drop by (g+3·idx)%5, reverse by (g+idx)%7, spurious
    // self-loop by (g+idx)%11 — pure integer arithmetic both engines run)
    // scored against the A1 4-var lag-2 truth in ONE pair-level join pass
    // via Metrics.scoreAll: tp/fp/fn/tn, XOR-SHD and orientation-aware
    // structural SHD all from a single full-outer join whose sides
    // pre-collapse on the exact join key. The ARCHITECTURE "a million
    // graphs is one shuffle" claim, oracled; PlanSpec pins the shape
    "q315_shd_panel_scale" -> ((s, d) => {
      val (truth, pred) = graft.metrics.Metrics.perturbedGraphs(
        s, 1200L, ShdPanelEdges)
      graft.metrics.Metrics.scoreAll(truth, pred)
        .withColumn("tn",
          lit(ShdPanelTotalCells) - col("tp") - col("fp") - col("fn"))
        .select(col("graphId").as("graph_id"), col("tp"), col("fp"),
          col("fn"), col("tn"), col("shd_xor"), col("shd_structural"))
    }),

    // interpolation-under-mask parity on the MAXIMAL family: a D3C kernel
    // dump (irregular clock + MCAR∪block missing + confounder) regularized
    // onto the 0.5-unit grid with the q71 Resample contract — the X1
    // series interpolates only its UNMASKED observations (missing cells
    // drop out before the as-of brackets), while U (always fully observed,
    // the reference's declared D3C property) interpolates every row.
    // Same two as-of joins, exact integer arithmetic
    "q316_resample_d3c_masked" -> ((s, d) => {
      val cfg = Grid.forFamily("D3C").find(c =>
        c.nPoints == 1000 && c.nVars == 4 && c.maxLag == 2 &&
          c.mixRatio == 0.5 && c.mcarProb == 0.1 && c.blockProb == 0.1).get
      val gen = dumpGen(s, "q316_gen",
        Generate.wideFast(s, Seq(cfg)).select(
          ExactStats.micro(col("time")).cast("long").as("t_us"),
          ExactStats.micro(col("X1")).cast("long").as("x1_micro"),
          ExactStats.micro(col("U")).cast("long").as("u_micro"),
          col("maskBits").bitwiseAND(lit(1)).as("mask1")))
      val samples = gen.where(col("mask1") === 0)
        .select(lit("X1").as("series"), col("t_us"),
          col("x1_micro").as("v_micro"))
        .unionByName(gen.select(lit("U").as("series"), col("t_us"),
          col("u_micro").as("v_micro")))
      val grid = samples.select(col("series")).distinct()
        .select(col("series"),
          explode(expr("sequence(0L, 100000000L, 500000L)")).as("grid_us"))
      graft.ops.Resample.interpolateToGrid(samples, grid,
        Seq("series"), "t_us", "v_micro")
    }),

    // distributed PCA top component over the embedding table, exact
    // integers end-to-end: centered covariance C_ab = n·Σm_a m_b −
    // Σm_a·Σm_b and 6 power iterations with a ppm rescale by max|cw|
    // each round (w stays in [−1e6, 1e6]; BigInteger internally — the
    // same values the oracle's HUGEINT CTEs compute, div truncation
    // included), ALL from ONE CovVec.topComponent typed aggregate: the
    // map-side-combined buffer is the 2,144-slot sufficient-statistics
    // array, the shuffle carries that single row (never vector rows),
    // and the k×k iteration runs in the aggregate's finish — the
    // RowMatrix Gramian pattern, executor-side, one job total
    "q317_pca_power_iteration" -> ((s, d) => {
      pcaComponentRow(s, d)
        .select(posexplode(col("warr")).as(Seq("dim", "w_ppm")))
        .select(col("dim").cast("long").as("dim"), col("w_ppm"))
    }),

    // PCA projection census (the curation use of q317's component:
    // 1-D dimensionality reduction for binning/outlier cuts): every
    // vector's exact integer projection Σ m_d·w_d (micro·ppm units,
    // ≤6.4e13 — well inside LONG), bucketed at 1e11 grain. The component
    // arrives as q317's one-row array (one CovVec.topComponent job),
    // broadcast, and the dot product runs as a per-row `aggregate` lambda
    // over the array column — no explode, no per-vector shuffle; the only
    // exchange left is the tiny bin aggregate
    "q318_pca_projection_census" -> ((s, d) => {
      val warr = pcaComponentRow(s, d)
      embeddings(s, d).crossJoin(broadcast(warr))
        // coalesce per term, NOT on acc: a NULL or missing embedding slot
        // contributes 0 — matching the DuckDB twin's sum() over vm, which
        // skips NULL dims — instead of NULL-poisoning the whole fold. But
        // an ALL-null vector must yield NULL, not 0: SQL sum() over zero
        // non-null terms is NULL, so the fold carries a contributing-term
        // count and the finish lambda nulls p when it is 0
        .select(expr(
          """aggregate(
            |  transform(sequence(0, 63), i ->
            |    floor(element_at(embedding, i + 1) * 1e6) *
            |      element_at(warr, i + 1)),
            |  named_struct('s', 0L, 'c', 0),
            |  (acc, t) -> named_struct(
            |    's', acc.s + coalesce(t, 0L),
            |    'c', acc.c + if(t IS NULL, 0, 1)),
            |  acc -> if(acc.c = 0, cast(NULL AS BIGINT), acc.s))"""
            .stripMargin).as("p"))
        .groupBy(expr("p div 100000000000").as("bin"))
        // per-bin MEAN, not sum: a corpus-scale sum of ~6e13-magnitude
        // projections passes LONG near 100k vectors per bin and Spark's
        // non-ANSI sum would wrap where DuckDB's HUGEINT doesn't —
        // the mean stays ~6e13 at any scale (the daily-means rule)
        .agg(count(lit(1)).as("n_vecs"),
          expr("sum(cast(p as decimal(38,0))) div count(1)")
            .cast("long").as("mean_proj_trunc"),
          min("p").as("min_proj"), max("p").as("max_proj"))
    }),

    // DDSketch-style quantile sketch per order priority: log-bucket keys
    // (bit-length octave + 4-bit mantissa → ≤16 sub-buckets per octave;
    // the lower-bound estimate is within bucket width / value ≤ 1/8
    // RELATIVE error at any magnitude — the skew-proof complement to
    // q102's linear bins, observed ~7% at the gate sf), fully mergeable
    // (the shuffle
    // carries ≤ |groups|·octaves·16 bucket rows no matter the fact
    // count), with the exact value-grain quantile and its error ppm
    // audited inline — the hllWithExact validation pattern
    "q319_ddsketch_quantiles" -> ((s, d) => {
      val ov = orders(s, d).select(col("o_orderpriority").as("pri"),
        cents(col("o_totalprice")).cast("long").as("v"))
      val keyed = ov
        .withColumn("b", expr("length(bin(v))"))
        .withColumn("lb", expr(
          """(v div shiftleft(1L, cast(greatest(b - 4, 0) as int)))
            | * shiftleft(1L, cast(greatest(b - 4, 0) as int))"""
            .stripMargin))
      val sk = keyed.groupBy("pri", "b", "lb")
        .agg(count(lit(1)).as("cnt"))
      val wS = Window.partitionBy("pri").orderBy("b", "lb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wP = Window.partitionBy("pri")
      val est = sk.withColumn("cum", sum("cnt").over(wS))
        .withColumn("total", sum("cnt").over(wP))
        .groupBy("pri")
        .agg(max("total").as("n_rows"),
          count(lit(1)).as("n_buckets"),
          min(when(col("cum") * 100 >= col("total") * 50, col("lb")))
            .as("p50_est"),
          min(when(col("cum") * 100 >= col("total") * 90, col("lb")))
            .as("p90_est"),
          min(when(col("cum") * 100 >= col("total") * 99, col("lb")))
            .as("p99_est"))
      val vg = ov.groupBy("pri", "v").agg(count(lit(1)).as("cnt"))
      val wV = Window.partitionBy("pri").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val exact = vg.withColumn("cum", sum("cnt").over(wV))
        .withColumn("total", sum("cnt").over(wP))
        .groupBy("pri")
        .agg(
          min(when(col("cum") * 100 >= col("total") * 50, col("v")))
            .as("p50_exact"),
          min(when(col("cum") * 100 >= col("total") * 90, col("v")))
            .as("p90_exact"),
          min(when(col("cum") * 100 >= col("total") * 99, col("v")))
            .as("p99_exact"))
      est.join(exact, Seq("pri"))
        .select(col("pri"), col("n_rows"), col("n_buckets"),
          col("p50_est"), col("p50_exact"),
          expr("((p50_exact - p50_est) * 1000000) div p50_exact")
            .as("p50_err_ppm"),
          col("p90_est"), col("p90_exact"),
          expr("((p90_exact - p90_est) * 1000000) div p90_exact")
            .as("p90_err_ppm"),
          col("p99_est"), col("p99_exact"),
          expr("((p99_exact - p99_est) * 1000000) div p99_exact")
            .as("p99_err_ppm"))
    }),

    // Zipf rank-frequency slope audit per source: top-64 tokens (freq
    // desc, token tie-break), x = qlog2(rank), y = qlog2(freq) via the
    // shared quantized-log LUT (q319's octave+mantissa key reused as a
    // logarithm), OLS slope from integer cross-moments — the corpus
    // power-law health check (natural text ≈ −1000 milli; the word-salad
    // synthetic corpus reads shallower). The token count is fact-scale;
    // everything after the top-64 window is 64 rows per source
    "q320_zipf_slope" -> ((s, d) => {
      val tf = documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("f"))
      val w = Window.partitionBy("source")
        .orderBy(col("f").desc, col("tok"))
      val top = tf.withColumn("r", row_number().over(w))
        .where(col("r") <= 64)
        .select(col("source"),
          expr(qlog2Expr("r", isSpark = true)).as("x"),
          expr(qlog2Expr("f", isSpark = true)).as("y"))
      top.groupBy("source").agg(
          count(lit(1)).as("n_top"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum(col("y").cast("decimal(38,0)")).as("sy"),
          sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))
        .select(col("source"), col("n_top"),
          expr("cast(n_top as decimal(38,0)) * sxy - sx * sy")
            .cast("long").as("cxy"),
          expr("cast(n_top as decimal(38,0)) * sxx - sx * sx")
            .cast("long").as("cxx"),
          expr("""((cast(n_top as decimal(38,0)) * sxy - sx * sy) * 1000)
                 | div (cast(n_top as decimal(38,0)) * sxx - sx * sx)"""
            .stripMargin).cast("long").as("slope_milli"))
    }),

    // Theil-Sen robust trend per series (the estimator companion to
    // q279's Mann-Kendall test): every ordered day pair's slope
    // quantized as (Δv·1e6) div Δday, then the exact median of the
    // quantized slopes (lower median — deterministic, no averaging of
    // two middles). Pairing is panel-sized (≤ days² per series, the
    // q279 bound); the median is one row_number window over the pair
    // slopes, never a global sort
    "q321_theil_sen" -> ((s, d) => {
      val p = graft.metrics.Causal.dailyMeanPanel(events(s, d))
        .localCheckpoint(false)
      val a = p.select(col("series"), col("day").as("di"),
        col("v").as("vi"))
      val b = p.select(col("series").as("sb"), col("day").as("dj"),
        col("v").as("vj"))
      val slopes = a.join(broadcast(b),
          col("series") === col("sb") && col("di") < col("dj"))
        .select(col("series"),
          expr("((vj - vi) * 1000000) div (dj - di)").as("sl"))
      val w = Window.partitionBy("series").orderBy("sl")
      slopes
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("series")))
        .where(col("rk") === expr("(n + 1) div 2"))
        .select(col("series"), col("n").as("n_pairs"),
          col("sl").as("median_slope_micro"),
          signum(col("sl")).cast("long").as("trend_sign"))
    }),

    // propensity-score caliper matching (the missing member of the
    // causal-adjustment family beside IPF/Neyman/CUPED/DiD): users
    // collapse to one row (activity score = event count, outcome = mean
    // purchase micro), treatment = user parity; every treated user
    // matches its nearest-score control WITH replacement via the AsOf
    // union-carry (one sort on the score axis, backward/forward struct
    // carries, ties to the lower score then highest uid — all
    // deterministic), caliper 5 drops distant matches; ATT = matched
    // mean difference. User-grain input — fact-scale work is only the
    // first aggregation; at 1e9 users the sort range-partitions on score
    "q322_psm_matching" -> ((s, d) => {
      val users = events(s, d)
        .select(col("user_id"), col("event_type"),
          ExactStats.micro(col("value")).cast("long").as("vm"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("score"),
          coalesce(expr(
            """sum(case when event_type = 'purchase' then vm end)
              | div nullif(sum(case when event_type = 'purchase'
              |   then 1 else 0 end), 0)""".stripMargin), lit(0L))
            .as("out"))
        .select(col("user_id").as("uid"), col("score"), col("out"),
          (col("user_id") % 2).as("treat"))
        .localCheckpoint(false)
      val ctl = users.where(col("treat") === 0)
        .select(col("score").cast("long").as("s"), lit(0).as("kind"),
          col("uid"), col("out"))
      val trt = users.where(col("treat") === 1)
        .select(col("score").cast("long").as("s"), lit(1).as("kind"),
          col("uid"), col("out"))
      val wb = Window.orderBy(col("s"), col("kind"), col("uid"))
        .rowsBetween(Window.unboundedPreceding, 0)
      // reversed growing frame, not unbounded-following (the AsOf O(n²)
      // note): last over the exactly-reversed order picks the same row
      val wf = Window.orderBy(col("s").desc, col("kind").desc,
          col("uid").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val cRow = when(col("kind") === 0,
        struct(col("s").as("cs"), col("uid").as("cuid"),
          col("out").as("cout")))
      val matched = ctl.unionByName(trt)
        .withColumn("_b", last(cRow, ignoreNulls = true).over(wb))
        .withColumn("_f", last(cRow, ignoreNulls = true).over(wf))
        .where(col("kind") === 1)
        .withColumn("pick", when(
          col("_f").isNotNull && (col("_b").isNull ||
            col("_f.cs") - col("s") < col("s") - col("_b.cs")),
          col("_f")).otherwise(col("_b")))
        .where(col("pick").isNotNull &&
          abs(col("pick.cs") - col("s")) <= 5)
      matched.agg(count(lit(1)).as("n_matched"),
          sum("out").as("sum_treated"),
          sum("pick.cout").as("sum_control"))
        .crossJoin(broadcast(
          users.where(col("treat") === 1)
            .agg(count(lit(1)).as("n_treated"))))
        .select(col("n_treated"), col("n_matched"),
          expr("sum_treated div n_matched").as("mean_treated_micro"),
          expr("sum_control div n_matched").as("mean_control_micro"),
          expr("(sum_treated div n_matched) - (sum_control div n_matched)")
            .as("att_micro"))
    }),

    // log-rank test (the two-group comparison beside q292's
    // Kaplan-Meier curve): groups = user parity, time-to-event = first
    // purchase day offset with horizon censoring (the q292 contract).
    // Per event time: at-risk and death counts by group from ONE
    // cumulative window pass, expected deaths and hypergeometric
    // variance in declared ppm quantization (every div truncates
    // identically), χ² decision cross-multiplied at 5% (3.8416):
    // 1e6·(O−E)² > 3841600·V with O−E and V in the same ppm scale
    "q323_log_rank" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"),
        expr("(ts div 1000) div 86400000000").as("day"),
        col("event_type"))
      val horizon = ev.agg(max("day").as("hz"))
      val subjects = ev.groupBy("user_id")
        .agg(min("day").as("origin"),
          min(when(col("event_type") === "purchase", col("day")))
            .as("pday"))
        .crossJoin(broadcast(horizon))
        .select((col("user_id") % 2).as("g"),
          coalesce(col("pday") - col("origin"),
            col("hz") - col("origin")).as("t"),
          col("pday").isNotNull.cast("long").as("e"))
      graft.metrics.Causal.logRank(subjects)
    }),

    // right-to-be-forgotten cascade census (the GDPR-deletion audit a
    // pipeline needs before it mutates anything): a deterministic
    // forget-set (key % 97 = 0) propagated through the FK graph
    // customer→orders→lineitem plus the events user axis — per table
    // the row count, the cascade-delete count and its ppm. Each hop is
    // one semi join on the key (the delete-key set broadcasts at any
    // corpus scale: it is customer-grain, not fact-grain)
    "q324_deletion_cascade" -> ((s, d) => {
      val cust = customer(s, d)
      val ord = orders(s, d)
      val li = lineitem(s, d)
      val ev = events(s, d)
      val fc = cust.where(col("c_custkey") % 97 === 0)
        .select(col("c_custkey")).localCheckpoint(false)
      val fo = ord.join(broadcast(fc),
          col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey")).localCheckpoint(false)
      def row(nm: String, total: DataFrame, del: DataFrame): DataFrame =
        total.agg(count(lit(1)).as("n_total"))
          .crossJoin(broadcast(del.agg(count(lit(1)).as("n_delete"))))
          .select(lit(nm).as("table_name"), col("n_total"),
            col("n_delete"),
            expr("(n_delete * 1000000) div n_total").as("delete_ppm"))
      row("customer", cust, fc)
        .unionByName(row("orders", ord, fo))
        .unionByName(row("lineitem", li,
          li.join(broadcast(fo),
            li("l_orderkey") === fo("o_orderkey"), "left_semi")))
        .unionByName(row("events", ev,
          ev.where(col("user_id") % 97 === 0)))
    }),

    // the full consumer loop on the reference's OWN shipped artifacts:
    // S6-scan the shipped D3 *_missing.csv (irregular clock + masked
    // cells), align with the nearest-lag view on the shared spine
    // (q314's operator), run the Granger census, and flag decisions
    // against the truth links PARSED FROM THE SHIPPED structure txt by
    // the S4-inverse parser — file in, file-derived truth out, nothing
    // generated. Masked cells drop out of the panel before pairing
    "q325_granger_on_shipped" -> ((s, d) => {
      val idxed = graft.generate.Sinks.readWideCsv(s,
          s"$ShippedD3Base" + "_missing.csv")
        .withColumn("t",
          (row_number().over(Window.orderBy("time")) - 1).cast("long"))
        .localCheckpoint(false)
      // snapped for the same reason as q314's alignment
      val lx = graft.ops.Lagged.nearestLagIndexView(
        idxed.select(col("t"), col("time")), "t", "time")
        .localCheckpoint(false)
      val pan = (1 to 4).map(i =>
        idxed.where(col(s"X$i").isNotNull)
          .select(lit(s"X$i").as("series"), col("t"),
            Panels.milli(col(s"X$i")).as("v")))
        .reduce(_ unionByName _).localCheckpoint(false)
      graft.metrics.Causal.grangerDecide(
          graft.metrics.Causal.grangerSumsFromLagged(
            graft.metrics.Causal.nearestLagPairs(lx, pan)), 422L)
        .withColumn("truth_lag1", expr(ShippedD3TruthCase))
    }),

    // PC skeleton on a SHIPPED missing-data artifact (q325 runs the
    // Granger consumer on this file; the reference's constraint-based
    // consumers run on the same corpus CSVs, 25%+ masked): pairwise-
    // complete Spearman — each series ranks over ITS OWN observed rows
    // and each pair's cross-moments carry their own n, so missingness
    // needs no imputation and no alignment stage. First 200 time
    // indices (q300's rank-moment n⁴ budget); truth_adj = ANY-lag
    // unordered adjacency parsed from the shipped structure txt.
    // Recovers the full 4-edge truth with zero false positives; both
    // non-edges separate at order 1
    "q338_pc_on_shipped" -> ((s, d) =>
      graft.metrics.Causal.pcSkeleton(shippedD3Panel(s))
        .withColumn("truth_adj", expr(ShippedD3AdjCase))),

    // the complete constraint-based consumer on the shipped artifact:
    // q338's pairwise-complete skeleton through the q332 orientation
    // machinery (v-structures from the order-≤1 sepsets + 3 full-Meek
    // rounds), the CPDAG scored orientation-aware — reversals charged —
    // against the DIRECTED truth parsed from the shipped structure txt.
    // This is the reference's end-to-end tetrad-consumer shape
    // (corpus CSV → directed graph → metrics) on real shipped bytes
    "q339_pc_oriented_on_shipped" -> ((s, d) =>
      pcScoreOriented(s,
        // pairwise-complete missing-data panel: a pair that never
        // co-observes inside the window has no moment row, legitimately —
        // pin the documented conservative triple-skip instead of the
        // every-pair-row assertion (which would hard-fail on a data
        // refresh even though the DuckDB oracle silently drops the triple)
        graft.metrics.Causal.pcOrient(
          graft.metrics.Causal.pcSkeleton(shippedD3Panel(s)),
          PcMeekRounds, requirePairRows = false),
        ShippedD3DirectedTruth.getOrElse(throw new
          java.io.FileNotFoundException(s"$ShippedD3Base" + "_structure.txt")))),

    // corpus-grain constraint-based discovery capstone: the COMPLETE PC
    // consumer (q338's pairwise-complete Spearman skeleton → q332's
    // v-structures + full-Meek closure) over the whole shipped D3
    // vars4/lag2 cell — 48 configs in ONE glob scan and ONE plan. The
    // config folds into the series AND day keys (q333's fold, extended:
    // cfg-unique days mean cross-config series share no observations,
    // so no cross moment ever forms and one pcSkeleton/pcOrient call
    // carries all 48 disjoint graphs — the pair-row precondition holds
    // per component by construction). First 200 indices per config
    // (q338's rank-moment n⁴ budget — the cell's n5000 members would
    // blow the 10³⁸ product budget unwindowed), milli grain; each
    // config's CPDAG scored orientation-aware against ITS OWN
    // structure-txt truth (any-lag directed X-X edges) via one scoreAll
    // pass. This is the reference's tetrad loop — search per dataset
    // file, metrics per config (py_tetrad_helper.py:51-182,
    // metrics_helper.py:80-138) — as a single distributed job instead
    // of a per-file driver loop: at 100k configs the scan is one
    // parallel read and the panel work stays ≤ p² rows per config
    "q340_pc_corpus_sweep" -> ((s, d) => {
      val pan = shippedD3TreeFoldedPanel(shippedD3TreeIdxed(s))
      // folded pairwise-complete panels pin the conservative triple-skip
      // (q339's rationale, per config): a never-co-observed pair inside
      // some config's 200-obs window is legitimate, not a caller error
      val st = graft.metrics.Causal.pcOrient(
          graft.metrics.Causal.pcSkeleton(pan), PcMeekRounds,
          requirePairRows = false)
        .withColumn("cfg", substring_index(col("a"), "|", 1))
        .localCheckpoint(false)
      def dirEdges(w: Int, src: String, dst: String) =
        st.where(col("dir") === w).select(col("cfg"),
          col(src).as("source"), col(dst).as("target"))
      val pred = dirEdges(1, "a", "b")
        .unionByName(dirEdges(2, "b", "a"))
        .unionByName(dirEdges(0, "a", "b"))
        .unionByName(dirEdges(0, "b", "a"))
        .select(col("cfg").as("graphId"),
          substring_index(col("source"), "|", -1).as("source"),
          substring_index(col("target"), "|", -1).as("target"),
          lit(0).as("lag"))
      import s.implicits._
      val truth = ShippedD3TreeDirectedTruth
        .toDF("graphId", "source", "target").withColumn("lag", lit(0))
      val counts = st.groupBy("cfg")
        .agg(count(lit(1)).as("n_edges"),
          sum(when(col("dir") =!= 0, 1L).otherwise(0L)).as("n_directed"))
      graft.metrics.Metrics.scoreAll(truth, pred)
        .join(broadcast(counts), col("graphId") === col("cfg"),
          "left_outer")
        .select(col("graphId").as("cfg"),
          coalesce(col("n_edges"), lit(0L)).as("n_edges"),
          coalesce(col("n_directed"), lit(0L)).as("n_directed"),
          col("tp"), col("fp"), col("fn"),
          col("shd_structural"), col("shd_xor"),
          expr("case when tp + fn = 0 then 0L " +
            "else (1000 * tp) div (tp + fn) end").as("tpr_permille"),
          expr("case when tp + fp = 0 then 0L " +
            "else (1000 * fp) div (tp + fp) end").as("fdr_permille"))
    }),

    // PC edge SUPPORT via disjoint-block subsampling (q342 asks "is the
    // edge a threshold artifact?"; this asks "is it a sampling
    // artifact?" — together they are the StARS stability pair): the
    // shipped file's FULL 1000 rows split into 5 disjoint 200-obs
    // windows — each inside the rank-moment n⁴ budget that forced
    // q338's single 200-cut — with the block index folded into the
    // series/day keys, so ONE pcSkeleton call decides all 5 windows
    // independently (the q340 fold with time blocks as the graphs).
    // Per unordered pair: in how many of the 5 windows does the edge
    // survive order ≤ 1 — the support count a practitioner reads as
    // edge confidence, with truth_adj alongside
    "q343_pc_edge_support" -> ((s, d) => {
      val idxed = graft.generate.Sinks.readWideCsv(s,
          s"$ShippedD3Base" + "_missing.csv")
        .withColumn("t",
          (row_number().over(Window.orderBy("time")) - 1).cast("long"))
        .withColumn("blk", expr("t div 200"))
        // one CSV read + one global sort for all four series branches
        .localCheckpoint(false)
      val pan = Panels.folded(idxed, 4, col("blk"),
        concat(col("blk"), lit("|"),
          lpad((col("t") % 200).cast("string"), 3, "0")))
      graft.metrics.Causal.pcSkeleton(pan)
        .groupBy(substring_index(col("a"), "|", -1).as("a"),
          substring_index(col("b"), "|", -1).as("b"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(col("edge")).cast("long").as("support"))
        .withColumn("support_permille",
          expr("(1000 * support) div n_blocks"))
        .withColumn("truth_adj", expr(ShippedD3AdjCase))
    }),

    // PC threshold-STABILITY sweep on the shipped artifact (the
    // StARS-style sensitivity analysis a practitioner runs before
    // trusting q338's graph): the rank cross-moments are τ-free, so ONE
    // moment pass feeds the order-≤1 decision stage at six τ² rungs
    // (25..900 bp ⇒ τ = 0.05..0.30). Decisions are monotone in τ
    // (keep0 only drops, separating sets only appear), so the per-τ
    // edge sets are NESTED — an edge that dies at τ = 0.1 is a
    // threshold artifact, one alive at τ = 0.3 is structural; spec pins
    // the nesting. truth_adj rides along so each rung reads as a
    // recovery row. Fact-scale cost is unchanged from q338: the sweep
    // multiplies only the ≤ p²-row decision frames
    "q342_pc_tau_stability" -> ((s, d) =>
      graft.metrics.Causal.pcSkeletonTauSweep(shippedD3Panel(s),
          PcTauSweepBps)
        .withColumn("truth_adj", expr(ShippedD3AdjCase))),

    // cross-METHOD agreement census at corpus grain: the engine's two
    // discovery consumers — predictive (q333's nearest-lag lag-1
    // Granger) and constraint-based (q340's pairwise-complete PC
    // skeleton fold) — over the SAME 48 shipped configs in one plan,
    // each config reporting how far the two UNORDERED adjacency sets
    // agree: n_granger / n_pc / n_both / n_union and Jaccard permille
    // (truncating div, 0 at empty union). The reference's consumer
    // suite runs multiple algorithms over one corpus and compares their
    // metrics; this is that comparison as a first-class query — the
    // low-agreement configs are where a practitioner looks first. One
    // glob scan feeds both pipelines; the agreement join and census are
    // panel-grain (≤ 48·C(4,2) rows)
    "q341_method_agreement" -> ((s, d) => {
      val idxed = shippedD3TreeIdxed(s)
      def unfold(folded: org.apache.spark.sql.Column) =
        substring_index(folded, "|", -1)
      val gp = shippedD3TreeGrangerOut(s, idxed)
        .where(col("granger") === 1)
        .select(substring_index(col("cause"), "|", 1).as("cfg"),
          least(unfold(col("cause")), unfold(col("effect"))).as("u"),
          greatest(unfold(col("cause")), unfold(col("effect"))).as("v"))
        .distinct()
      val pp = graft.metrics.Causal
        .pcSkeleton(shippedD3TreeFoldedPanel(idxed))
        .where(col("edge") === 1)
        // skeleton rows have a < b with a shared cfg prefix, so the
        // unfolded (u, v) pair is already canonical
        .select(substring_index(col("a"), "|", 1).as("cfg"),
          unfold(col("a")).as("u"), unfold(col("b")).as("v"))
      val ag = gp.withColumn("g", lit(1))
        .join(pp.withColumn("p", lit(1)),
          Seq("cfg", "u", "v"), "full_outer")
        .groupBy("cfg")
        .agg(sum(coalesce(col("g"), lit(0))).cast("long").as("n_granger"),
          sum(coalesce(col("p"), lit(0))).cast("long").as("n_pc"),
          sum(when(col("g").isNotNull && col("p").isNotNull, 1L)
            .otherwise(0L)).as("n_both"),
          count(lit(1)).as("n_union"))
      // every config reports, including the (0,0,0,0) all-quiet ones
      idxed.select(col("cfg")).distinct()
        .join(ag, Seq("cfg"), "left_outer")
        .select(col("cfg"),
          coalesce(col("n_granger"), lit(0L)).as("n_granger"),
          coalesce(col("n_pc"), lit(0L)).as("n_pc"),
          coalesce(col("n_both"), lit(0L)).as("n_both"),
          coalesce(col("n_union"), lit(0L)).as("n_union"))
        .withColumn("jaccard_permille",
          expr("case when n_union = 0 then 0L " +
            "else (1000 * n_both) div n_union end"))
    }),

    // STREAMING causal monitoring — Granger edge decisions that update
    // as data arrives: the lagged pair tuples of a generated A1 panel
    // stream in TWO time-ordered micro-batches (days <200, then the
    // rest) through a transformWithState processor whose per-pair state
    // is the 10-sum moment matrix (fixed-size, mergeable — O(pairs)
    // state however long the stream runs); each batch emits each
    // touched pair's PREFIX sums and the decision arithmetic stays in
    // the ONE shared Causal.grangerDecide, so the emission log reads as
    // "the causal graph as of each batch" (n=199 prefix rows, then
    // n=399 full rows — 24 rows, decisions comparable across time).
    // The oracle replays the emission model with the q183 batch-fold
    // (bb <= i, a per-batch touched semijoin pinning update-mode's
    // emit-only-touched-keys rule) and the q333 key fold (batch id
    // inside the pair key), reusing the shared Granger decide CTEs
    // verbatim
    "q344_stream_granger" -> ((s, d) => {
      val cfg = Grid.cell("A1", 500, 4, 2)
      val gen = dumpGen(s, "q344_gen",
        Generate.wideFast(s, Seq(cfg)).where(col("t") < 400)
          .select(col("t") +: (1 to 4).map(i => col(s"X$i")): _*))
      val panel = Panels.single(gen, 4)
      // the EXACT batch alignment, shared: grangerSums = this + sums
      val tuples = graft.metrics.Causal.grangerLagged(panel)
        .where(col("pv").isNotNull)
        .select(concat(col("cause"), lit("|"), col("effect")).as("pair"),
          col("yv"), col("pv"), col("qv"), col("day"))
      // split cache keyed on the DUMP's file identity (the events-path
      // discipline)
      val log = graft.streaming.StatefulOps.grangerSumsTws(s, tuples,
        "day", 200L, s"$genDir/q344_granger_split",
        s"q344:${dumpSignature("q344_gen")}",
        s"graft_stream_granger_${System.nanoTime()}")
      val sums = log.select(
        substring_index(col("pair"), "|", 1).as("cause"),
        substring_index(col("pair"), "|", -1).as("effect"),
        col("n").cast("decimal(38,0)").as("n"),
        col("sy").cast("decimal(38,0)").as("sy"),
        col("sp").cast("decimal(38,0)").as("sp"),
        col("sq").cast("decimal(38,0)").as("sq"),
        col("syy").cast("decimal(38,0)").as("syy"),
        col("spp").cast("decimal(38,0)").as("spp"),
        col("sqq").cast("decimal(38,0)").as("sqq"),
        col("syp").cast("decimal(38,0)").as("syp"),
        col("syq").cast("decimal(38,0)").as("syq"),
        col("spq").cast("decimal(38,0)").as("spq"))
      graft.metrics.Causal.grangerDecide(sums, 422L)
        .withColumn("truth_lag1", expr(GrangerGenTruthCase))
    }),

    // strict-mode kernel digest (SURVEY §2.4's optional "fixed" mode as a
    // first-class oracle entry): q178 pins HOW MANY rows strict changes vs
    // compat, but the strict VALUES themselves had no CORRECTNESS row —
    // the one shipped behavior the DuckDB gate never hashed. Same q30
    // pattern on a strict A1/B2 pair: the strict kernel dump is written
    // once and both engines aggregate it to exact micro sums, covering
    // the three §2.4 corrections at once — B2's retained cubic links
    // (value sums), the strict contemporaneous evaluation order (X6
    // sums), and the min-gap irregular timestamps (time sums)
    "q345_strict_kernel_digest" -> ((s, d) => {
      val cfgs = Seq("A1", "B2").map(f =>
        Grid.forFamily(f).find(c =>
          c.nPoints == 1000 && c.nVars == 6 && c.maxLag == 2).get)
      // ±1e6 clamp before quantizing (the sweepDigest discipline): strict
      // B2 retains the cubic links the compat parser drops, so values can
      // legitimately diverge — least/greatest treat Inf and NaN
      // identically on both engines where floor(Inf·1e6) has no integer
      def cl(c: Column) = greatest(least(c, lit(1e6)), lit(-1e6))
      dumpGen(s, "q345_strict_wide",
          Generate.wideFast(s, cfgs, strict = true))
        .groupBy("family")
        .agg(count(lit(1)).as("n_rows"),
          ExactStats.sumMicro(cl(col("X1"))).as("sum_x1c_micro"),
          ExactStats.sumMicro(cl(col("X4"))).as("sum_x4c_micro"),
          ExactStats.sumMicro(cl(col("X6"))).as("sum_x6c_micro"),
          ExactStats.sumMicro(col("time")).as("sum_time_micro"))
    }),

    // strict mode on the MAXIMAL family (r12 verdict #2): q345 gates the
    // three strict corrections on regular-sampling A1/B2, but they only
    // COMPOSE with irregular continuous timestamps, MCAR∪block masks,
    // mixed noise and U in D3C — that composition had specs
    // (StrictModeSpec) but no CORRECTNESS row. Same q345/q30 pattern:
    // the strict kernel dump is written once, both engines aggregate it
    // to exact micro sums — X sums (strict parser retains the cubic
    // links the compat parser drops), U sums (confounder channel,
    // never masked), time sums (strict honest-min-gap irregular
    // timestamps), and the mask census (bit sum + masked-row count +
    // unmasked-cell X1 sum) pinning that MCAR∪block composes with the
    // strict values unchanged
    "q374_strict_d3c_digest" -> ((s, d) => {
      val cfg = Grid.forFamily("D3C").find(c =>
        c.nPoints == 1000 && c.nVars == 6 && c.maxLag == 2 &&
          c.mixRatio == 0.5 && c.mcarProb == 0.1 &&
          c.blockProb == 0.1).get
      def cl(c: Column) = greatest(least(c, lit(1e6)), lit(-1e6))
      dumpGen(s, "q374_strict_wide",
          Generate.wideFast(s, Seq(cfg), strict = true))
        .groupBy("family")
        .agg(count(lit(1)).as("n_rows"),
          ExactStats.sumMicro(cl(col("X1"))).as("sum_x1c_micro"),
          ExactStats.sumMicro(cl(col("X6"))).as("sum_x6c_micro"),
          ExactStats.sumMicro(col("U")).as("sum_u_micro"),
          ExactStats.sumMicro(col("time")).as("sum_time_micro"),
          sum(col("maskBits").cast("long")).as("mask_sum"),
          sum(when(col("maskBits") =!= 0, 1L).otherwise(0L))
            .as("n_masked_rows"),
          ExactStats.sumMicro(when(
            col("maskBits").bitwiseAND(lit(1)) === 0, cl(col("X1"))))
            .as("sum_x1_obs_micro"))
    }),

    // PC at deployment WIDTH as a correctness row (the pcwide bench
    // rung's bitwise twin): q336/q337 gate the order-2 machinery at 6
    // series; this gates it at 32 — the width where a candidate-
    // enumeration divergence between the Spark moment-driven stage and
    // the SQL twin's series-enumeration stage would actually surface,
    // and where the Meek fixpoint early-exit must still agree with the
    // oracle's fully-unrolled round chain. The deterministic chain-MA
    // panel (Panels.widePanel — pure hash arithmetic, no RNG) is dumped
    // once; both engines run the complete order-2 skeleton + cofactor +
    // v-structure + Meek pipeline on it and the full 496-pair dir
    // census hashes bitwise.
    "q346_pc_wide_oriented" -> ((s, d) => {
      val pan = dumpGen(s, "q346_panel", Panels.widePanel(s, 32, 200))
      graft.metrics.Causal.pcOrient2(
          graft.metrics.Causal.pcSkeleton2(pan, PcOrientTauSqBp),
          PcMeekRounds)
        .select(col("a"), col("b"), col("dir"))
    }),

    // PC-STABLE at deployment width (q346's adjacency-restricted twin,
    // Colombo & Maathuis 2014): conditioning candidates come from the
    // adjacency surviving the previous order instead of every
    // co-observed series — the O(E·d²)-not-O(p⁴) form a 100-TB-wide
    // sensor panel needs, and a genuinely different estimator (a
    // non-neighbor separation the unrestricted variant accepts is NOT
    // a PC-stable separation; its edge set is a superset by
    // construction, pinned by PcStableSpec). Same dumped panel family
    // as q346 (own dump dir — Verify runs queries concurrently), full
    // skeleton + cofactor + v-structure + Meek-to-fixpoint pipeline,
    // 496-pair dir census hashed bitwise against the SQL twin's
    // adjacency-CTE chain
    "q347_pc_stable_wide" -> ((s, d) => {
      val pan = dumpGen(s, "q347_panel", Panels.widePanel(s, 32, 200))
      graft.metrics.Causal.pcOrient2(
          graft.metrics.Causal.pcSkeleton2Stable(pan, PcOrientTauSqBp),
          PcStableMeekRounds)
        .select(col("a"), col("b"), col("dir"))
    }),

    // the conditioning ladder's third rung (q347 + one more order):
    // order-2 survivors tested against every triple {z,w,u} drawn
    // wholly from one endpoint's order-2 neighborhood, via 4×4-minor
    // cofactors over the 5×5 normalized moment matrix — the SAME
    // generated determinant text evaluated by both engines, so parity
    // is by construction, not by parallel re-derivation. The adjacency
    // restriction is what makes a third order affordable at all
    // (unrestricted would be O(p⁵) per graph); the integer budget
    // tightens to n ≤ ~300 obs (Causal.pcSkeleton3Stable scaladoc),
    // which the 200-obs contract respects. Dataset: the BLOCK panel
    // (Panels.widePanel3 — q346/q347's chain panel has NO order-3
    // separations at any τ, probe-verified, so it cannot gate this
    // stage): 8 independent 5-series cells whose A-B pair separates
    // exactly on its source triple — 8 real order-3 removals, 8
    // three-element sepsets flowing into orientation, 40-series width
    "q348_pc_stable_order3_wide" -> ((s, d) => {
      val pan = dumpGen(s, "q348_panel", Panels.widePanel3(s, 8, 200))
      graft.metrics.Causal.pcOrient3(
          graft.metrics.Causal.pcSkeleton3Stable(pan, PcOrientTauSqBp),
          PcStableMeekRounds)
        .select(col("a"), col("b"), col("dir"))
    }),

    // candidate-volume census: the O(E·d^k)-vs-O(p^(k+2)) claim behind
    // the whole PC-stable ladder, pinned as DATA instead of asserted in
    // comments. Per conditioning order: the stable candidate count
    // (the distinct tuples Causal.stableCand enumerates for the ladder,
    // counted over the skeleton's own keep0/edge/edge2 columns) next to the
    // unrestricted twin's closed-form volume (survivors × C(S-2, k)).
    // On the 8-cell block panel the cand3 ratio alone is ~3 orders of
    // magnitude — the census row IS the scale argument, hash-checked
    // bitwise in both engines
    "q349_pc_stage_census" -> ((s, d) => {
      val pan = dumpGen(s, "q349_panel", Panels.widePanel3(s, 8, 200))
      val sk = graft.metrics.Causal.pcSkeleton3Stable(pan, PcOrientTauSqBp)
        .select(col("a"), col("b"), col("keep0"), col("edge"),
          col("edge2"), col("edge3"))
      val k0 = sk.where(col("keep0") === 1).select(col("a"), col("b"))
      val e1 = sk.where(col("edge") === 1).select(col("a"), col("b"))
      val e2 = sk.where(col("edge2") === 1).select(col("a"), col("b"))
      def stable(k: Int) = graft.metrics.Causal.stableCand(sk, k)
      def cnt(name: String, variant: String, f: DataFrame): DataFrame =
        f.agg(count(lit(1)).cast("long").as("n"))
          .select(lit(name).as("stage"), lit(variant).as("variant"),
            col("n"))
      val ser = sk.select(col("a").as("sn"))
        .unionByName(sk.select(col("b").as("sn"))).distinct()
        .agg(count(lit(1)).cast("long").as("sc"))
      def unres(name: String, survivors: DataFrame, k: Int): DataFrame =
        survivors.agg(count(lit(1)).cast("long").as("c")).crossJoin(ser)
          .select(lit(name).as("stage"), lit("unrestricted").as("variant"),
            expr(k match {
              case 1 => "c * (sc - 2)"
              case 2 => "c * ((sc - 2) * (sc - 3) div 2)"
              case 3 => "c * ((sc - 2) * (sc - 3) * (sc - 4) div 6)"
            }).cast("long").as("n"))
      cnt("pairs", "both", sk)
        .unionByName(cnt("keep0", "both", k0))
        .unionByName(cnt("cand1", "stable", stable(1)))
        .unionByName(unres("cand1", k0, 1))
        .unionByName(cnt("edge1", "both", e1))
        .unionByName(cnt("cand2", "stable", stable(2)))
        .unionByName(unres("cand2", e1, 2))
        .unionByName(cnt("edge2", "both", e2))
        .unionByName(cnt("cand3", "stable", stable(3)))
        .unionByName(unres("cand3", e2, 3))
        .unionByName(cnt("edge3", "both",
          sk.where(col("edge3") === 1)))
    }),

    // width-adaptive thresholding (the multiple-testing control the
    // q349 census motivates): a fixed τ under width growth admits
    // spurious order-0 adjacencies as P(|ρ̂|>τ)·C(p,2), so the
    // operator's knob is τ(p,n) = Φ⁻¹(1−α/2m)/√(n−1) — Bonferroni over
    // the m = C(p,2) tests, computed ONCE on the driver
    // (Causal.tauSqBpForWidth, Acklam Φ⁻¹) and shared as one integer
    // by both engines. This query pins BOTH sides of the tradeoff as
    // data on a 160-series/32-cell block panel: per τ the keep0/edge
    // ladder counts — fixed τ=0.1 keeps the spurious-adjacency bulge,
    // adaptive τ≈0.33 collapses it AND prunes the true edges whose
    // partials sit near 0.2-0.3 (the documented power price at n=200)
    "q350_pc_width_adaptive" -> ((s, d) => {
      val pan = dumpGen(s, "q350_panel", Panels.widePanel3(s, 32, 200))
      // the rank/moment head is τ-free: collect it ONCE and hang both
      // census tails off it (the oracle shares its pc_cm CTE the same
      // way) — halves the query's fact-scale work
      val cm = graft.metrics.Causal.pcMoments(pan)
      def census(tau: Long): DataFrame = {
        val sk = graft.metrics.Causal.pcSkeleton3StableFromCm(cm, tau)
          .select(col("keep0"), col("edge"), col("edge2"), col("edge3"))
        def cnt(stage: String, c: Column): DataFrame =
          sk.where(c === 1).agg(count(lit(1)).cast("long").as("n"))
            .select(lit(tau).as("tau_sq_bp"), lit(stage).as("stage"),
              col("n"))
        cnt("keep0", col("keep0"))
          .unionByName(cnt("edge1", col("edge")))
          .unionByName(cnt("edge2", col("edge2")))
          .unionByName(cnt("edge3", col("edge3")))
      }
      census(PcOrientTauSqBp)
        .unionByName(census(
          graft.metrics.Causal.tauSqBpForWidth(160, 200)))
    }),

    // structural edge-WEIGHT recovery (the estimation step after
    // discovery — the q332/q339 consumers stop at edge DECISIONS; the
    // catalog declares coefficients, CausalLink.coef, that no prior
    // query reads back from data): per-link OLS betas by Cramer's rule
    // over centered lagged cross-moments (Causal.laggedCrossMoments +
    // structuralBetas, all integer, bitwise vs the oracle), scored
    // against BOTH the declared ppm truth and the EFFECTIVE one
    // (Parser.effectiveLinks). The A1 6-var cell is chosen because it
    // carries a 2-parent target (X4 ← X1@2 + X5@1 — the k=2 Cramer
    // branch) AND a §2.4-2 dead link (X5→X6@0 declares 0.85 but the
    // EqReverse kernel reads the zero cell): the estimator recovers
    // every live coefficient to ~1% of scale and measures the dead
    // link at ≈0 — quirk detection from generated bytes alone.
    // Fact-scale cost: one lagged self-join + one moment aggregation.
    "q351_struct_betas" -> ((s, d) =>
      a1Betas(s, "q351_gen")
        .withColumn("r2_permille", expr(
          """(1000 * sum(cast(beta_ppm as decimal(38,0)) * cjy)
            |  over (partition by target))
            |div (1000000 * cast(cyy as decimal(38,0)))""".stripMargin)
          .cast("long"))
        .select(col("target"), col("source"), col("lag"), col("beta_ppm"),
          col("declared_ppm"), col("effective_ppm"),
          abs(col("beta_ppm") - col("effective_ppm")).as("abs_err_ppm"),
          col("r2_permille"))),

    // weight-recovery CENSUS at corpus grain (q351's fold, the q340
    // discipline): the full A1+A1C gaussian n=5000 cell — 18 configs,
    // 3 widths × 3 lags × {unconfounded, U-confounded} — generated,
    // folded into series AND day keys, and pushed through ONE
    // laggedCrossMoments pass (shuffle join, broadcastB=false: the
    // megarow fold must take the cluster shape) + ONE Cramer stage.
    // Scored per config vs the EFFECTIVE truth: the dead-contemporaneous
    // cells (A1 widths 6/8) recover their live links and measure their
    // dead ones at ≈0 (n_dead counts them); A1C's U confounder is WHITE
    // and contemporaneous-only, so it inflates residuals without biasing
    // any lagged or toposort-resolved coefficient — mean_abs_err stays
    // at quantization grain across all 18 graphs, and that claim is the
    // hash-checked row, not a comment. At 100k configs nothing here
    // widens: moments stay |specs|² per config, the fold is one scan.
    "q352_weight_recovery_census" -> ((s, d) =>
      recoveryCensus(a1FoldBetas(s, "q352_gen"))),

    // default-vs-STRICT kernel contrast through the estimator (closing
    // the q345 arc: the strict kernel's digest is oracle-gated, but no
    // query showed strict mode CHANGING an inference): the same A1
    // 6-var cell generated both ways, both panels through the same
    // moment+Cramer machinery, one row per link with both betas side by
    // side. The dead X5→X6 link reads β≈0 under the default kernel and
    // β≈850000 ppm under strict — the §2.4-2 quirk and its §2.4 fix,
    // pinned as data. All other links agree across kernels (X6 feeds
    // nothing downstream in this cell, so only its own row moves).
    "q353_strict_recovery_contrast" -> ((s, d) =>
      a1Betas(s, "q353_gen_default")
        .select(col("target"), col("source"), col("lag"),
          col("declared_ppm"), col("effective_ppm"),
          col("beta_ppm").as("beta_default_ppm"))
        .join(a1Betas(s, "q353_gen_strict", strict = true)
            .select(col("target"), col("source"), col("lag"),
              col("beta_ppm").as("beta_strict_ppm")),
          Seq("target", "source", "lag"))),

    // NOISE-SCALE recovery (the third leg of full model recovery:
    // structure — the PC suite; weights — q351; this reads back the
    // generator's declared noise amplitude): per target, the exact
    // integer residual variance σ̂² = (10⁶·C_yy − Σβ_ppm·C_jy) div
    // (10⁶·n²) in milli² units — the grid's gaussian noiseScale 0.1
    // means every target's truth is EXACTLY 10⁴ (population-n²
    // normalization; the k≤2 dof correction is <0.1% at n=4998, inside
    // quantization grain), and the per-target R² alongside gives the
    // full variance decomposition: upstream-signal share vs noise
    // floor. X6's row is the quirk read a third way — its declared
    // 0.85 parent contributes nothing, so r2≈0 while σ̂² still lands
    // on 10⁴ (the dead link leaves pure noise, not excess variance).
    "q354_noise_recovery" -> ((s, d) =>
      a1Betas(s, "q354_gen")
        .groupBy("target")
        .agg(count(lit(1)).as("n_parents"),
          expr("""(1000 * sum(cast(beta_ppm as decimal(38,0)) * cjy))
                 |div (1000000 * max(cast(cyy as decimal(38,0))))"""
            .stripMargin).cast("long").as("r2_permille"),
          expr("""(1000000 * max(cast(cyy as decimal(38,0)))
                 |  - sum(cast(beta_ppm as decimal(38,0)) * cjy))
                 |div (1000000 * max(cast(n as decimal(38,0))) * max(n))"""
            .stripMargin).cast("long").as("sigma2_v"))
        .withColumn("sigma2_truth_v", lit(10000L))
        .withColumn("sigma2_err_v",
          abs(col("sigma2_v") - col("sigma2_truth_v")))),

    // NONLINEAR-term weight recovery (the B-family extension of q351:
    // B1's equations are c·x² − c'·x³ + e, and the §2.4-1 quirk — the
    // '+'-split extractor silently drops the minus-signed cubic — is a
    // COEFFICIENT fact this estimator reads straight off the data): the
    // regressors are power-transformed virtual series (X1² / X1³ at the
    // link lag — same double-then-floor quantization contract both
    // engines share bitwise), so the SAME k=2 Cramer machinery fits the
    // quadratic and cubic terms jointly. x² is even and x³ odd in a
    // near-symmetric series, so the two regressors separate cleanly.
    // One row per strict term with BOTH kernels' betas: default reads
    // β₂ ≈ declared quadratic / β₃ ≈ 0 (the dropped cubic, measured —
    // and the first NEGATIVE-beta surface for the signed-div parity);
    // strict reads β₃ ≈ the declared negative cubic. Dataset is the
    // grid cell SENSITIVITY-BOOSTED (the q348 purpose-built-dataset
    // precedent): at the catalog's σ=0.1 the power terms are
    // statistically invisible (std(x³)≈0.004 → se(β₃)≈0.4 at any grid
    // n — measured, double-OLS agrees with the integer pipeline to
    // 1e-3), so the probe regenerates the SAME equations at σ=0.3 and
    // n=50,000 where se(β₃)≈0.013 — the quirk becomes a 4-15σ read.
    "q355_power_recovery_contrast" -> ((s, d) => {
      val cfg = Grid.forFamily("B1").find(c =>
        c.nPoints == 5000 && c.nVars == 4 && c.maxLag == 2
          && c.noiseType == "gaussian").get
        .copy(nPoints = 50000, noiseScale = 0.3)
      def betasFrom(dump: String, strict: Boolean): DataFrame = {
        val gen = dumpGen(s, dump,
          Generate.wideFast(s, Seq(cfg), strict = strict)
            .select(col("t") +: (1 to 4).map(i => col(s"X$i")): _*))
        val powers = for (i <- 1 to 4; k <- Seq(2, 3)) yield
          gen.select(lit(s"X${i}p$k").as("series"), col("t").as("day"),
            Panels.milli(Seq.fill(k)(col(s"X$i")).reduce(_ * _)).as("v"))
        val panel = (Panels.single(gen, 4) +: powers).reduce(_ unionByName _)
        graft.metrics.Causal.structuralBetas(
          graft.metrics.Causal.laggedCrossMoments(panel, b1PowerSpecs(),
            col("t").between(2, 49999)),
          b1PowerLinksDf(s))
      }
      betasFrom("q355_gen_default", strict = false)
        .select(col("target"), col("source"), col("lag"), col("pow"),
          col("declared_ppm"), col("effective_ppm"),
          col("beta_ppm").as("beta_default_ppm"))
        .join(betasFrom("q355_gen_strict", strict = true)
            .select(col("target"), col("source"), col("lag"), col("pow"),
              col("beta_ppm").as("beta_strict_ppm")),
          Seq("target", "source", "lag", "pow"))
    }),

    // MISSING-DATA recovery census + the D1 shadow quirk as an
    // estimator read (completing effectiveLinks over all six
    // evaluation strategies): D1's two-pass shadowing records each
    // pass-1 equation's last dep SOURCE in var_values, so pass 2 skips
    // the X1/X3 equations — those series are EXACTLY 0 — and the
    // surviving pass-1 targets read only zeroed sources; every link in
    // the 4-var cell is therefore effectively dead, and the integer
    // pipeline proves it the strongest way available: max |beta| = 0
    // EXACTLY per config (zero channels hit the Cjj=0 / Cjy=0 guards,
    // not a tolerance). The fold carries the three MCAR rates in one
    // plan over PAIRWISE-COMPLETE moments — masked cells drop out of
    // the panel before the virtual expansion, so each pair carries its
    // own n, and the published min/max pair n per config reads the
    // 10/20/30% missingness straight off the moment matrix.
    "q362_shadow_census" -> ((s, d) => {
      val cfgs = Grid.all().filter(c =>
        c.family == "D1" && c.nVars == 4 && c.maxLag == 2
          && c.nPoints == 5000 && c.noiseType == "gaussian")
      val gen = dumpGen(s, "q362_gen",
        Generate.wideFast(s, cfgs)
          .select(Seq(col("configId"), col("t")) ++
            (1 to 4).map(i => col(s"X$i")) :+ col("maskBits"): _*))
      val pan = (1 to 4).map(i =>
        gen.where(col("maskBits").bitwiseAND(lit(1 << (i - 1))) === 0)
          .select(concat(col("configId"), lit(s"|X$i")).as("series"),
            (col("configId") * 8192 + col("t")).as("day"),
            Panels.milli(col(s"X$i")).as("v")))
        .reduce(_ unionByName _)
      val wlinks = cfgs.flatMap(c =>
        weightLinks(c.configId.toString, "D1", 4, 2))
      val mcarOf = cfgs.map(c =>
        c.configId.toString -> math.round(c.mcarProb * 1000)).toMap
      import s.implicits._
      val linksDf = wlinks.map(l => (l.g, mcarOf(l.g), l.target, l.source,
          l.lag, l.y, l.x, l.sib, l.declaredPpm, l.effectivePpm))
        .toDF("g", "mcar_permille", "target", "source", "lag", "y", "x",
          "sib", "declared_ppm", "effective_ppm")
      // lower bound 4, not 2: the first max_lag rows are pure noise
      // (SURVEY quirk) and a lag-2 virtual channel at t=2 reads day 0 —
      // two leaked noise rows would turn the exact-zero dead channels
      // into unstable tiny-moment ratios (measured: 1.57M ppm at 10%
      // MCAR with bound 2, exactly 0 at bound 4)
      val mom = graft.metrics.Causal.laggedCrossMoments(
        pan, weightSpecs(wlinks),
        expr("t % 8192 BETWEEN 4 AND 4999"), broadcastB = false)
      graft.metrics.Causal.structuralBetas(mom, linksDf)
        .groupBy("mcar_permille")
        .agg(count(lit(1)).as("n_links"),
          sum(when(col("effective_ppm") === 0, 1L).otherwise(0L))
            .as("n_dead"),
          max(abs(col("beta_ppm"))).as("max_abs_beta_ppm"),
          min(col("n")).as("min_pair_n"), max(col("n")).as("max_pair_n"))
    }),

    // LARGE-SCALE MULTIPLE TESTING with Benjamini-Hochberg FDR control
    // (the operation a 100-TB deployment actually runs: thousands of
    // simultaneous edge hypotheses, not seven): 585 candidate pairs of
    // the deterministic 64-series chain panel — distance-1/2/3 pairs
    // are REAL effects of graded strength (the 4-ancestor MA window
    // makes ρ ≈ 0.56 / 0.24 / 0.024 and exactly 0 beyond distance 3),
    // distance-4..10 pairs are 399 EXACT nulls — each tested by the
    // k=1 Wald t² from pair-restricted sparse moments, then the BH
    // step-up executed entirely on the t² scale: rank by t² desc and
    // compare against the driver-shared χ²₁ quantile ladder
    // Q(1−α·k/m) (Causal.chi2InvMilliLadder — no p-value column ever
    // materializes), k* = max passing rank, discoveries = ranks ≤ k*.
    // The census publishes per-distance discovery counts plus the
    // REALIZED false-discovery rate (false = distance ≥ 4) and k* —
    // multiplicity control as hash-checked rows. The inference here is
    // row-local k=1 (each pair its own regression), so the windowed
    // structuralInference is deliberately NOT used — its per-target
    // window would pool unrelated hypotheses sharing a series.
    "q370_bh_fdr" -> ((s, d) => {
      val pan = dumpGen(s, "q370_panel", Panels.widePanel(s, 64, 20000))
      import s.implicits._
      def nm(i: Int) = f"X$i%02d"
      val cands = for { dd <- 1 to 10; i <- 0 until 64 - dd }
        yield (nm(i), nm(i + dd), dd)
      val linksDf = cands.map { case (a, b, dist) =>
        (s"$a<$b", dist, s"$b@0", s"$a@0", None: Option[String]) }
        .toDF("pair", "dist", "y", "x", "sib")
      val wanted = graft.metrics.Causal.wantedPairs(s,
        cands.map { case (a, b, _) => (s"$b@0", s"$a@0") })
      val virt = pan.select(concat(col("series"), lit("@0")).as("vs"),
        col("day").as("t"), col("v"))
      val mom = graft.metrics.Causal.virtualCrossMomentsSparse(virt,
        wanted, col("t").between(0, 19999))
      val inf = graft.metrics.Causal.waldK1(
        graft.metrics.Causal.structuralBetas(mom, linksDf))
      val ranked = graft.metrics.Causal.stepUp(inf, "pair",
        "bh" -> graft.metrics.Causal.chi2InvMilliLadder(cands.size))
      val summary = ranked.agg(
        max(col("k_star_bh")).cast("long").as("k_star"),
        sum(col("disc_bh")).as("n_disc_total"),
        sum(when(col("disc_bh") === 1 && col("dist") >= 4, 1L)
          .otherwise(0L)).as("n_false_disc"))
        .withColumn("fdr_permille", expr(
          """case when n_disc_total = 0 then 0
            |else (1000 * n_false_disc) div n_disc_total end"""
            .stripMargin))
      ranked.groupBy("dist")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("disc_bh")).as("n_disc"),
          min(col("t2_milli")).as("min_t2_milli"),
          max(col("t2_milli")).as("max_t2_milli"))
        .crossJoin(broadcast(summary))
    }),

    // BLIND deterministic-component estimation (q361/q369 SUBTRACT the
    // kernel's KNOWN trend/season; this ESTIMATES them from data — the
    // step a real deployment cannot skip): per series, the trend slope
    // by k=1 OLS on the index and each of the four period-12 harmonic
    // coefficients by k=2 OLS (harmonic + index — the index is the one
    // real confounder; the harmonics are mutually orthogonal over the
    // 41 whole periods the window keeps, so each can be read alone).
    // Truth is driver-computable from the kernel's season expansion:
    // seasonalStrength·(sin(ωt+φ) + 0.5·cos(2ωt+φ)) decomposes onto
    // the sin/cos basis as a_s1 = 0.5cosφ, a_c1 = 0.5sinφ,
    // a_s2 = −0.25sinφ, a_c2 = 0.25cosφ (φ_i = 2πi/8), and the trend
    // as 10⁹·0.005·(i+1) in milli-per-index ppm. The in_model flag is
    // the MODEL-CLASS read: series whose own struct term is cos/sin
    // (bounded, chirp-like from trending parents — nearly orthogonal
    // to period-12) estimate every component within ~4% of declared
    // truth; series whose struct term is a POWER of a trending parent
    // (X1 = 0.4·X2³, X3 = 0.35·X4²) carry polynomial trend the
    // linear+harmonic basis cannot represent, and the trend read
    // absorbs it (X1's slope estimate lands 19× truth) — blind
    // adjustment honest about where its model class ends, as data.
    // The basis columns are dumped once (kernel expression order) and
    // both engines read shared bytes.
    "q372_harmonic_estimation" -> ((s, d) => {
      val cfg = Grid.forFamily("C1").find(c =>
        c.nPoints == 500 && c.nVars == 6 && c.maxLag == 2).get
      val gen = dumpGen(s, "q372_gen",
        Generate.wideFast(s, Seq(cfg)).select(
          Seq(col("t")) ++ (1 to 6).map(i => col(s"X$i")) ++ Seq(
            sin(lit(2.0 * math.Pi) * col("t") / lit(12.0)).as("s1"),
            cos(lit(2.0 * math.Pi) * col("t") / lit(12.0)).as("c1"),
            sin(lit(4.0 * math.Pi) * col("t") / lit(12.0)).as("s2"),
            cos(lit(4.0 * math.Pi) * col("t") / lit(12.0)).as("c2")): _*))
      val targets = (1 to 6).map(i =>
        gen.select(lit(s"X$i@0").as("vs"), col("t"),
          Panels.milli(col(s"X$i")).as("v")))
      val tChan = gen.select(lit("tt@0").as("vs"), col("t"),
        col("t").cast("long").as("v"))
      val basis = Seq("s1", "c1", "s2", "c2").map(b =>
        gen.select(lit(s"$b@0").as("vs"), col("t"),
          Panels.milli(col(b)).as("v")))
      val virt = (targets ++ Seq(tChan) ++ basis).reduce(_ unionByName _)
      val mom = graft.metrics.Causal.virtualCrossMoments(virt,
        col("t").between(0, 491))
      val links = harmonicLinks()
      import s.implicits._
      val linksDf = links.toDF("series", "component", "y", "x", "sib",
        "truth_ppm", "in_model")
      graft.metrics.Causal.structuralBetas(mom, linksDf)
        .select(col("series"), col("component"), col("in_model"),
          col("beta_ppm").as("est_ppm"), col("truth_ppm"),
          abs(col("beta_ppm") - col("truth_ppm")).as("abs_err_ppm"))
    }),

    // BLIND-ADJUSTED recovery — the q372 arc closed end-to-end:
    // estimate the deterministic components (q372's 30 regressions),
    // subtract the ESTIMATES (integer channel arithmetic from the
    // stage-1 betas — no known-truth constant enters the blind path),
    // then recover the func-link weights on the blindly adjusted
    // targets, side by side with the KNOWN-detrending twin from the
    // SAME moment pass. Measured: the in-model targets' blind betas
    // track the known ones with a drift that mirrors their stage-1
    // trend misestimate — X2's link to 0.9%, X4/X5's links to 10-17%
    // (q372 put their slope reads 2-4% off; the residual trend left in
    // the blind channel attenuates the func betas) — while the two
    // power-term targets (X1, X3) inherit the absorbed polynomial
    // trend and collapse by ≥ 300k ppm. The full pipeline (estimate →
    // adjust → recover) works without being told anything, and the
    // known-twin column prices each adjustment error per link.
    "q373_blind_adjusted_recovery" -> ((s, d) => blindRecovery(s,
      Grid.forFamily("C1").find(c =>
        c.nPoints == 500 && c.nVars == 6 && c.maxLag == 2).get,
      "q373_gen", clock = "t", nearestLag = false, last = 491)),

    // the q372/q373 arc under IRREGULAR sampling (r12 verdict #3): C2 —
    // the deployment case where the season basis must be evaluated at
    // CONTINUOUS timestamps (c2.py:102-108) while the trend stays on the
    // integer index (quirk §2.4-8), and the func regressors must be
    // aligned by the kernel's own nearest-lag rule (a2.py:162-167, the
    // q356/q365 machinery) instead of exact index shift. Two structural
    // degradations are measured, not assumed: (a) over an irregular
    // clock the harmonic basis loses its whole-period orthogonality
    // (100/12 ≈ 8.33 periods, samples non-uniform), so stage-1 reads
    // carry cross-harmonic bias q372's regular grid never saw; (b) the
    // blind channels inherit that bias before the lag-aligned recovery.
    // Same contract as q373: estimate trend+harmonics blind, subtract
    // the ESTIMATES via integer channel arithmetic, recover func-link
    // weights side by side with the known-detrending twin from the SAME
    // moment pass. Measured (sf-invariant, generated input): the
    // in-model targets' blind betas track their known twins within
    // 1.2-6.4% of the declared weight — X2←X3 drifts 3.5k ppm, X5←X4
    // 4.9k, X4←X1 15.9k (the widest is the lag-2 link, where the
    // nearest-lag channel compounds with the basis bias) — and the
    // DEAD contemporaneous X5→X6 link (quirk §2.4-2, effective 0)
    // stays dead on both paths (3.4k known / 4.5k blind ppm); the
    // power-term targets absorb polynomial trend the linear+harmonic
    // basis cannot represent and collapse by 319k (X1 cubic) and 328k
    // (X3 quadratic) ppm — q373's disposition, reproduced under the
    // irregular clock
    "q375_blind_harmonic_irregular" -> ((s, d) => blindRecovery(s,
      Grid.cell("C2", 500, 6, 2), "q375_gen", clock = "time",
      nearestLag = true, last = 499)),

    // FDR vs FWER — the two multiplicity regimes measured head-to-head
    // on block-structured truth (q370 proved BH controls its rate;
    // this measures what that control COSTS relative to Bonferroni,
    // which is exactly the width-adaptive PC rule's regime): the
    // 32-block panel (160 series; within a block the two aggregates
    // correlate with each source at ρ = 0.5 and with each other at
    // 0.75, sources mutually null, everything cross-block null) at
    // n = 60 — chosen so the 192 aggregate-source pairs sit on the
    // DETECTION BOUNDARY (t² ≈ 19 vs thresholds ≈ 15) while the 32
    // A-B pairs are far above it. 1,395 windowed pair hypotheses, one
    // Wald t² frame, BOTH rules read from the same χ²₁ ladder — BH as
    // the step-up against Q(1−α·k/m), Bonferroni as the fixed rank-1
    // cut Q(1−α/m). The census rows are the tradeoff as data: per
    // rule, discoveries split by tier (ab / as / null), realized FDR,
    // and boundary-tier power — BH buys its extra power on the
    // borderline tier at a bounded, published false-discovery price.
    // Small-n caveat (chi2InvMilliLadder scaladoc): at this panel's
    // n=60 the χ²₁ ladder understates the exact F(1,58) far-tail cut
    // (~17.2 vs ~22 milli at the Bonferroni head), so both rules here
    // run slightly looser than nominal — the measured n_false=0 is a
    // property of this design's separation, not proof of FWER control.
    "q371_fdr_vs_fwer" -> ((s, d) => {
      val wald = blockDesignWald(s, "q371_panel")
      val lad = graft.metrics.Causal.chi2InvMilliLadder(BlockDesign.size)
      val scored = graft.metrics.Causal.stepUp(wald, "pair", "bh" -> lad)
        .withColumn("disc_bonf",
          (col("t2_milli") >= lit(lad.head)).cast("int"))
        .localCheckpoint()
      blockRules(scored, Seq("bh" -> "disc_bh", "bonferroni" -> "disc_bonf"),
          tierSizes = true)
        .withColumn("fdr_permille", expr(
          """case when n_disc = 0 then 0
            |else (1000 * n_false) div n_disc end""".stripMargin))
        .withColumn("power_as_permille",
          expr("(1000 * n_disc_as) div n_as"))
    }),

    // NEWEY-WEST (HAC) standard errors under SERIAL dependence (the
    // fourth calibration leg, completing the robust-se family with
    // q381: HC0 fixes heteroskedasticity but still assumes
    // UNCORRELATED errors; when both regressor and noise are serially
    // correlated — every time series' normal condition — the score
    // m_t = x̃_t·ê_t autocorrelates positively and classical AND HC0
    // variances are biased low together): a deterministic 120-pair
    // panel whose x and e are MA(3) smoothings of hash noise (score
    // autocorrelation ≈ 0.5 at lag 1), 20 links + 100 nulls over 240
    // days. The Bartlett-kernel sandwich in exact integers: S_l =
    // Σ_t m_t·m_{t−l} from ONE self-join of the q381 score rows,
    // with Bartlett weights at L=5 folded UNDIVIDED into the se²
    // denominator (w_sum reaches ~10²⁸; an intermediate `div (L+1)`
    // would pass through Spark's IntegralDivide and wrap at LONG —
    // found by this query's own big-integer cross-check), se²_nw =
    // (K·w_sum) div ((L+1)·c_xx²). Measured at the exact F(1,238) 5%
    // cut: classical rejects 19/100 nulls and HC0 20/100 (both ~4×
    // nominal — HC0 is blind to serial dependence by construction);
    // Newey-West rejects 13 with a 1.71× mean se² correction, and all
    // 20 links reject under all three. The residual excess over
    // nominal is HAC's documented finite-sample downward bias at
    // moderate n (raising L to 8 or 12 does not move it — measured —
    // which is why prewhitening/fixed-b refinements exist); the rung
    // prices both what the Bartlett sandwich buys and what it honestly
    // cannot
    "q383_newey_west_hac" -> ((s, d) => {
      val n = 240
      val L = 5
      def h(salt: String, off: Int) =
        pmod(xxhash64(lit(salt), col("j"), col("d") + lit(off)),
          lit(2001L)) - lit(1000L)
      def ma3(salt: String) = h(salt, 0) + h(salt, 1) + h(salt, 2)
      val (inf, scores) = robustSeScores(s, "q383_panel", _.select(
        col("j"), col("d"), ma3("q383x").as("x"), ma3("q383e").as("e")))
      // lagged self-join: S_l for l = 0..L in ONE equi-join pass —
      // lags exploded onto the probe side, joined on (j, d − l)
      val lagged = scores
        .withColumn("l", explode(lit((0 to L).toArray)))
        .withColumn("d2", col("d") - col("l"))
        .join(scores.select(col("j"), col("d").as("d2"),
          col("mm").as("mm2")), Seq("j", "d2"))
      // the Bartlett numerator stays an UNDIVIDED decimal (w_sum can
      // reach ~10²⁸ — a `div (L+1)` here would pass through Spark's
      // IntegralDivide and silently wrap at LONG range); the (L+1)
      // denominator folds into the se² divisor instead, identically on
      // both engines
      val meat = lagged
        .select(col("j"), col("l"),
          expr("cast(mm as decimal(38,0)) * mm2").as("p"))
        .groupBy("j")
        .agg(sum(expr(
          s"""case when l = 0 then ($L + 1) * p
            |else 2 * ($L + 1 - l) * p end""".stripMargin))
          .as("wsum_nw"))
      // HC0 twin from the SAME scores (l = 0 only), for the 3-way read
      val meat0 = scores.groupBy("j")
        .agg(sum(expr("cast(mm as decimal(38,0)) * mm")).as("meat_hc0"))
      val k = 1000000000000L / (n.toLong * n)
      val fCut = graft.metrics.Causal.fInvMilliLadder(1, n - 2).head
      def se2(meatCol: String, denomScale: Int): String =
        s"""case when cjj = 0 or $meatCol <= 0 then null else
          |  (cast($k as decimal(38,0)) * $meatCol)
          |    div ($denomScale * cast(cjj as decimal(38,0)) * cjj) end"""
          .stripMargin
      def t2(se2Col: String): String =
        s"""case when $se2Col is null or $se2Col <= 0 then null else
          |  (1000 * cast(beta_ppm as decimal(38,0)) * beta_ppm)
          |    div $se2Col end""".stripMargin
      val scored = inf.join(meat, Seq("j")).join(meat0, Seq("j"))
        .withColumn("se2_nw_ppm2",
          expr(se2("wsum_nw", L + 1)).cast("long"))
        .withColumn("se2_hc0_ppm2", expr(se2("meat_hc0", 1)).cast("long"))
        .withColumn("t2_nw_milli", expr(t2("se2_nw_ppm2")).cast("long"))
        .withColumn("t2_hc0_milli",
          expr(t2("se2_hc0_ppm2")).cast("long"))
      scored.groupBy("tier")
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("t2_cl_milli") >= lit(fCut)).cast("long"))
            .as("n_rej_classical"),
          sum((col("t2_hc0_milli") >= lit(fCut)).cast("long"))
            .as("n_rej_hc0"),
          sum((col("t2_nw_milli") >= lit(fCut)).cast("long"))
            .as("n_rej_nw"),
          sum(expr("(1000 * se2_nw_ppm2) div se2_ppm2"))
            .as("sum_se2_nw_ratio_permille"))
    }),

    // BH vs BENJAMINI-YEKUTIELI under dependence (the multiplicity
    // suite's dependence-robustness rung: BH's FDR guarantee needs
    // independent or PRDS statistics — but a catalog census computes
    // every hypothesis from ONE shared panel, exactly where arbitrary
    // dependence lives; BY 2001 divides the step-up thresholds by
    // H_m = Σ1/i ≈ ln m + γ, buying a guarantee that holds under ANY
    // dependence). Same q371/q377 block design, both EXACT-F ladders
    // from one ranking pass — BY's rungs dominate BH's elementwise
    // (H_1395 ≈ 7.87), so its discovery set nests inside. Measured:
    // BY keeps all 32 strong pairs and 155 of BH's 182 boundary-tier
    // discoveries while dropping ALL 7 of BH's false discoveries —
    // the H_m factor prices out exactly the tail where the false
    // discoveries lived, at a 15% boundary-power cost
    "q382_bh_vs_by" -> ((s, d) => {
      val wald = blockDesignWald(s, "q382_panel")
      val scored = graft.metrics.Causal.stepUp(wald, "pair",
          "bh" -> graft.metrics.Causal.fInvMilliLadder(BlockDesign.size, 58),
          "by" -> graft.metrics.Causal.byInvMilliLadder(BlockDesign.size, 58))
        .localCheckpoint()
      blockRules(scored, Seq("bh_f58" -> "disc_bh", "by_f58" -> "disc_by"))
    }),

    // HETEROSKEDASTICITY-ROBUST (HC0 sandwich) standard errors vs the
    // classical ones (the third calibration leg after q379's
    // permutation null and q380's bootstrap: classical OLS se assumes
    // CONSTANT error variance; when the variance co-moves with the
    // regressor's spread the classical se is biased low and the Wald
    // test overrejects — White 1980): a deterministic 120-pair panel
    // where BOTH regressor and noise amplitudes grow (5+d)/20 over a
    // 240-day window (variance ×~150 end-to-end, correlated with x̃² —
    // the worst case for classical se), 20 true links (β=0.5) and 100
    // nulls. Exact integers end-to-end: per-row scaled residual r =
    // 10⁶·cy − β_ppm·cx over n-scaled centered values, HC0 meat
    // M = Σ(cx·(r div 10⁶))², se²_hc0 = (K·M) div c_xx² with
    // K = 10¹² div n² a shared driver constant (the one documented
    // truncation: exact to 0.1‰ at n=240, identical on both engines).
    // Measured at the exact F(1,238) 5% cut: the classical test
    // rejects 11 of the 100 null pairs (2.2× nominal — White's
    // overrejection) while HC0 rejects 4 (at nominal); all 20 true
    // links reject under both; the mean se²_hc0/se²_cl ratio is 1.71×
    // — the sandwich pricing exactly the variance the amplitude
    // profile injects (E[a⁴]/E[a²]² of the (5+d)/20 ramp ≈ 1.7)
    "q381_hc0_robust_se" -> ((s, d) => {
      val n = 240
      def h(salt: String) =
        pmod(xxhash64(lit(salt), col("j"), col("d")), lit(2001L)) -
          lit(1000L)
      // amplitude (20+d)/40: both x and e variances grow 4x across the
      // window, and grow TOGETHER — het correlated with x̃²; integral div
      // keeps every value an exact long
      val (inf, scores) = robustSeScores(s, "q381_panel", _.select(
          col("j"), col("d"),
          (h("q381x") * (lit(5L) + col("d"))).as("xr"),
          (h("q381e") * (lit(5L) + col("d"))).as("er"))
        .select(col("j"), col("d"),
          expr("xr div 20").as("x"), expr("er div 20").as("e")))
      val k = 1000000000000L / (n.toLong * n) // 10^12 div n², shared
      val meat = scores.groupBy("j")
        .agg(sum(expr("cast(mm as decimal(38,0)) * mm")).as("meat"))
      val fCut = graft.metrics.Causal.fInvMilliLadder(1, n - 2).head
      val scored = inf.join(meat, Seq("j"))
        .withColumn("se2_hc0_ppm2", expr(
          s"""case when cjj = 0 then null else
            |  (cast($k as decimal(38,0)) * meat)
            |    div (cast(cjj as decimal(38,0)) * cjj) end"""
            .stripMargin).cast("long"))
        .withColumn("t2_hc0_milli", expr(
          """case when se2_hc0_ppm2 is null or se2_hc0_ppm2 <= 0
            |then null else
            |  (1000 * cast(beta_ppm as decimal(38,0)) * beta_ppm)
            |    div se2_hc0_ppm2 end""".stripMargin).cast("long"))
      scored.groupBy("tier")
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("t2_cl_milli") >= lit(fCut)).cast("long"))
            .as("n_rej_classical"),
          sum((col("t2_hc0_milli") >= lit(fCut)).cast("long"))
            .as("n_rej_hc0"),
          sum(expr("(1000 * se2_hc0_ppm2) div se2_ppm2"))
            .as("sum_se2_ratio_permille"))
    }),

    // MOVING-BLOCK BOOTSTRAP confidence intervals (the resampling leg
    // of the inference suite, closing the assumption-free pair with
    // q379: the permutation test calibrates the NULL; the block
    // bootstrap quantifies uncertainty AROUND the estimate without the
    // OLS error model, and blocks — not iid rows — because the data is
    // a time series): per link, 471 overlapping 10-day block partial
    // sums are precomputed ONCE, each of 199 replicates draws 48
    // blocks by shared integer arithmetic ((k·2654435761 + slot·40503)
    // mod 2³¹−1 mod 471 — identical expression on both engines, no
    // hash to re-derive, no RNG), and each replicate's beta comes from
    // the SAME from-sums Cramer the streaming monitor uses — block
    // sums make the whole resample a sum of 48 precomputed rows, so
    // 199 regressions cost one tiny join + groupBy, the shape that
    // bootstraps 100k links on 100 TB without re-touching fact data.
    // CI = exact order statistics (5th/195th of 199). Measured: all
    // four A1 links' bootstrap CIs cover their effective truth and
    // the parametric F-interval agrees 4/4 — including the noisy
    // lag-2 link whose point estimate lands 59k ppm below truth
    // (190,953 vs 250,000) and is rescued by both intervals; bootstrap
    // widths run 157k-379k ppm vs parametric ~2·sqrt(F·se²) ≈
    // 155k-185k, wider exactly on the contemporaneous links whose
    // residuals the serial blocks refuse to treat as iid — the
    // error-model-free interval certifies the model-based one and
    // prices its extra caution
    "q380_block_bootstrap_ci" -> ((s, d) => {
      val cfg = Grid.cell("A1", 500, 4, 2)
      val gen = dumpGen(s, "q380_gen",
        Generate.wideFast(s, Seq(cfg))
          .select(col("t") +: (1 to 4).map(i => col(s"X$i")): _*))
      val links = weightLinks("", "A1", 4, 2)
      def lk(l: WeightLink) = s"${l.target}~${l.source}@${l.lag}"
      val gl = gen
        .join(gen.select(col("t").as("t1") +:
            (1 to 4).map(i => col(s"X$i").as(s"L1X$i")): _*),
          col("t1") === col("t") - 1)
        .join(gen.select(col("t").as("t2") +:
            (1 to 4).map(i => col(s"X$i").as(s"L2X$i")): _*),
          col("t2") === col("t") - 2)
        .where(col("t").between(2, 481))
      def q(series: String, lag: Int): Column =
        Panels.milli(
          if (lag == 0) col(series) else col(s"L$lag$series"))
      val tuples = links.map { l =>
        gl.select(lit(lk(l)).as("link"), col("t").as("day"),
          q(l.target, 0).as("yv"), q(l.source, l.lag).as("xv"))
      }.reduce(_ unionByName _).localCheckpoint()
      // 471 overlapping 10-day blocks over the 480-row window
      val blockDays = s.range(2, 473).select(col("id").as("b"))
        .crossJoin(s.range(0, 10).select(col("id").as("off")))
        .select(col("b"), (col("b") + col("off")).as("day"))
      val blockSums = tuples.join(blockDays, Seq("day"))
        .groupBy("link", "b")
        .agg(count(lit(1)).as("bn"), sum("yv").as("bsy"),
          sum("xv").as("bsx"), sum(expr("yv*yv")).as("bsyy"),
          sum(expr("xv*xv")).as("bsxx"), sum(expr("xv*yv")).as("bsxy"))
      val choices = s.range(1, 200).select(col("id").as("k"))
        .crossJoin(s.range(0, 48).select(col("id").as("slot")))
        .select(col("k"),
          (expr("(k * 2654435761 + slot * 40503) % 2147483647")
            % 471 + 2).as("b"))
      def padSums(df: DataFrame): DataFrame = df
        .withColumn("ss", lit(0L)).withColumn("sss", lit(0L))
        .withColumn("ssy", lit(0L)).withColumn("sxs", lit(0L))
        .withColumn("has_sib", lit(0))
      val repSums = padSums(choices.join(blockSums, Seq("b"))
        .groupBy("link", "k")
        .agg(sum("bn").as("n"), sum("bsy").as("sy"),
          sum("bsx").as("sx"), sum("bsyy").as("syy"),
          sum("bsxx").as("sxx"), sum("bsxy").as("sxy")))
      val ranked = graft.metrics.Causal.structuralBetasFromSums(repSums)
        .select(col("link"), col("k"), col("beta_ppm"))
        .withColumn("rk", expr(
          "row_number() over (partition by link order by beta_ppm, k)"))
      val ci = ranked.groupBy("link").agg(
        max(when(col("rk") === 5, col("beta_ppm"))).as("ci_lo_ppm"),
        max(when(col("rk") === 195, col("beta_ppm"))).as("ci_hi_ppm"))
      val obsSums = padSums(tuples.groupBy("link")
        .agg(count(lit(1)).as("n"), sum("yv").as("sy"),
          sum("xv").as("sx"), sum(expr("yv*yv")).as("syy"),
          sum(expr("xv*xv")).as("sxx"), sum(expr("xv*yv")).as("sxy")))
      val obs = graft.metrics.Causal.structuralInferenceFromSums(
          graft.metrics.Causal.structuralBetasFromSums(obsSums))
        .select(col("link"), col("beta_ppm").as("beta_obs_ppm"),
          col("se2_ppm2"))
      import s.implicits._
      val meta = links.map(l => (lk(l), l.target, l.source, l.lag,
        l.effectivePpm))
        .toDF("link", "target", "source", "lag", "effective_ppm")
      val fCut = graft.metrics.Causal.fInvMilliLadder(1, 478).head
      meta.join(obs, Seq("link")).join(ci, Seq("link"))
        .select(col("target"), col("source"), col("lag"),
          col("effective_ppm"), col("beta_obs_ppm"),
          col("ci_lo_ppm"), col("ci_hi_ppm"),
          (col("ci_hi_ppm") - col("ci_lo_ppm")).as("boot_width_ppm"),
          col("se2_ppm2"),
          (col("ci_lo_ppm") <= col("effective_ppm") &&
            col("effective_ppm") <= col("ci_hi_ppm")).cast("int")
            .as("boot_covers"),
          expr(s"""case when se2_ppm2 is null then null else
            |  (cast(1000 as decimal(38,0))
            |     * (beta_obs_ppm - effective_ppm)
            |     * (beta_obs_ppm - effective_ppm)
            |   <= $fCut * cast(se2_ppm2 as decimal(38,0)))
            |end""".stripMargin).cast("int").as("param_covers"))
    }),

    // PERMUTATION-NULL CALIBRATION (the assumption-free leg of the
    // inference suite: q363-q377 all test against PARAMETRIC nulls —
    // χ²₁ or exact F — which assume the OLS error model; this builds
    // the EMPIRICAL null by permutation, the classical
    // distribution-free alternative, and measures where the two
    // verdicts agree): 199 deterministic day-permutations π_k (ranks
    // of xxhash64(k, day) — no RNG, bit-reproducible) are applied to
    // the x side of every hypothesis while y keeps the true clock, so
    // each pair gets 199 broken-dependence replicas of its own Wald
    // t²; the permutation p-value is the exact integer rank of the
    // observed t² among them (reject at 5% iff ≤ 9 of 199 replicas
    // reach it). One sparse moment pass carries all (pair × 200
    // channel) cells; the permuted channel frame is dumped once so
    // DuckDB never re-derives a hash. Measured against the exact
    // F(1,58) cut at the same α: the two verdicts agree on 46 of 48
    // pairs — all 16 within-block pairs ('ab' + 'as') rejected by
    // BOTH tests, and on the 32 cross-block nulls each test makes
    // exactly ONE (different) false rejection, i.e. both run at their
    // nominal 5% level (expected false count 1.6) — the parametric
    // tail assumption and the empirical null certify each other on
    // this design
    "q379_permutation_null" -> ((s, d) => {
      val K = 199
      val pan = Panels.widePanel3(s, 8, 60) // 40 series, 8 cells
      import s.implicits._
      def bnm(k: Int, r: Int) = s"G${"%02d".format(k)}X$r"
      // pairs: every within-block (A,B) aggregate pair ('ab'), one
      // within-block source→aggregate ('as') per block, plus the
      // cross-block shifted pairs ('null' truth)
      val cands =
        (0 until 8).map(k => (s"${bnm(k, 3)}<${bnm(k, 4)}", "ab",
          bnm(k, 4), bnm(k, 3))) ++
        (0 until 8).map(k => (s"${bnm(k, 0)}<${bnm(k, 3)}", "as",
          bnm(k, 3), bnm(k, 0))) ++
        (for { k <- 0 until 8; r <- 0 until 5; if r < 4 } yield
          (s"${bnm(k, r)}<${bnm((k + 1) % 8, r)}", "null",
            bnm((k + 1) % 8, r), bnm(k, r)))
      // π_k: day -> rank of xxhash64(k, day); k = 0 is the identity
      // (the observed alignment). Shared across series within a perm —
      // y keeps the true clock, so dependence still breaks.
      val perms = s.range(0, K + 1).select(col("id").cast("int").as("k"))
        .crossJoin(s.range(0, 60).select(col("id").as("day")))
        .withColumn("pday", when(col("k") === 0, col("day")).otherwise(
          expr("""row_number() over (partition by k
                 |  order by xxhash64('q379', k, day), day)""".stripMargin)
            .cast("long") - 1))
      val xSeries = cands.map(_._4).distinct
      val xperm = pan.where(col("series").isin(xSeries: _*))
        .withColumnRenamed("day", "pday")
        .join(perms, Seq("pday"))
        .select(concat(col("series"), lit("~"), col("k")).as("vs"),
          col("day").as("t"), col("v"))
      val yv = pan.where(col("series").isin(cands.map(_._3).distinct: _*))
        .select(concat(col("series"), lit("@0")).as("vs"),
          col("day").as("t"), col("v"))
      val virt = dumpGen(s, "q379_virt", xperm.unionByName(yv))
      val links = cands.flatMap { case (p, tier, ys, xs) =>
        (0 to K).map(k => (s"$p~$k", p, tier, k, s"$ys@0", s"$xs~$k",
          None: Option[String]))
      }
      val linksDf = links.toDF("hyp", "pair", "tier", "k", "y", "x", "sib")
      val wanted = graft.metrics.Causal.wantedPairs(s,
        links.map(l => (l._5, l._6)))
      val scored = graft.metrics.Causal.waldK1(
          graft.metrics.Causal.structuralBetas(
            graft.metrics.Causal.virtualCrossMomentsSparse(virt, wanted,
              col("t").between(0, 59)), linksDf))
        .localCheckpoint()
      val obs = scored.where(col("k") === 0)
        .select(col("pair"), col("tier"),
          col("t2_milli").as("t2_obs_milli"))
      // exact integer permutation rank; F twin at the same 5% level
      val fCut = graft.metrics.Causal.fInvMilliLadder(1, 58).head
      val permRank = scored.where(col("k") >= 1)
        .select(col("pair"), col("t2_milli"))
        .join(broadcast(obs.select(col("pair"), col("t2_obs_milli"))),
          Seq("pair"))
        .groupBy("pair")
        .agg(sum(when(coalesce(col("t2_milli"), lit(-1L)) >=
            coalesce(col("t2_obs_milli"), lit(-1L)), 1L)
          .otherwise(0L)).as("n_perm_ge"))
      obs.join(permRank, Seq("pair"))
        .select(col("pair"), col("tier"), col("t2_obs_milli"),
          col("n_perm_ge"),
          (col("n_perm_ge") <= 9).cast("int").as("perm_sig"),
          (col("t2_obs_milli") >= lit(fCut)).cast("int").as("f_sig"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n_pairs"),
          sum(expr("perm_sig * f_sig")).as("n_both"),
          sum(expr("perm_sig * (1 - f_sig)")).as("n_perm_only"),
          sum(expr("(1 - perm_sig) * f_sig")).as("n_f_only"),
          sum(expr("(1 - perm_sig) * (1 - f_sig)")).as("n_neither"))
    }),

    // STREAMING MULTIPLICITY MONITOR — the q368 inference monitor and
    // the q370/q377 BH machinery composed: 1,395 simultaneous pair
    // hypotheses stream through ONE transformWithState pass (per-link
    // state = the 11 mergeable sums, O(hypotheses) state however long
    // the stream runs) in three time-ordered micro-batches, and EACH
    // batch's emission log gets a full BH step-up pass — with the
    // EXACT F(1, n−2) ladder matched to that prefix's length (dof
    // 18/38/58 — the small-n regime where q377 showed the asymptotic
    // ladder overclaims, and exactly where a monitor reading early
    // batches lives). The emission log is "the BH discovery front as
    // of each batch". Measured: the front advances k* = 61 → 179 →
    // 221 as n grows 20 → 40 → 60 — 26 of the 32 strong 'ab' pairs
    // are already discovered at n=20 and all 32 by n=40, boundary 'as'
    // power arrives with evidence (34 → 143 → 182), and false
    // discoveries stay at 1/4/7 (realized FDR ≤ 32‰ at every prefix).
    // The n=60 row reproduces q377's bh_f58 census EXACTLY (221/32/
    // 182/7) — the streaming monitor and the batch procedure are the
    // same arithmetic, pinned. Oracle replays the three prefixes
    // through the shared from-sums + ladder CTEs (stream ≡ batch, the
    // q344/q368 contract).
    "q378_stream_bh_monitor" -> ((s, d) => {
      val pan = dumpGen(s, "q378_panel", Panels.widePanel3(s, 32, 60))
      import s.implicits._
      val candsDf = BlockDesign.toDF("link", "tier", "ys", "xs")
      val pv = pan.select(col("series"), col("day"), col("v"))
      // tuple build is join-shaped, not a 1,395-way union: links ⋈ the
      // 9,600-row panel twice on (series, day)
      val tuples = candsDf
        .join(pv.select(col("series").as("ys"), col("day"),
          col("v").as("yv")), Seq("ys"))
        .join(pv.select(col("series").as("xs"), col("day"),
          col("v").as("xv")), Seq("xs", "day"))
        .select(col("link"), col("yv"), col("xv"), lit(0L).as("sv"),
          col("day"))
      val log = graft.streaming.StatefulOps.weightSums2Tws(s, tuples,
        "day", Seq(20L, 40L), s"$genDir/q378_bh_split",
        s"q378:${dumpSignature("q378_panel")}",
        s"graft_stream_bh_${System.nanoTime()}")
      val linkMeta = BlockDesign.map { case (p, tier, _, _) => (p, tier, 0) }
        .toDF("link", "tier", "has_sib")
      val scored = graft.metrics.Causal.structuralInferenceFromSums(
          graft.metrics.Causal.structuralBetasFromSums(
            log.join(broadcast(linkMeta), Seq("link"))))
      // one step-up per prefix: the monitor's n is 20/40/60, each with
      // the EXACT F(1, n−2) ladder of its own length
      Seq(20, 40, 60).map { n =>
        graft.metrics.Causal.stepUp(scored.where(col("n") === n), "link",
            "bh" -> graft.metrics.Causal.fInvMilliLadder(BlockDesign.size,
              n - 2))
          .groupBy("n", "tier")
          .agg(count(lit(1)).as("n_hyp"), sum(col("disc_bh")).as("n_disc"),
            max(col("k_star_bh")).cast("long").as("k_star"))
      }.reduce(_ unionByName _)
    }),

    // EXACT finite-sample multiplicity thresholds (the r12 ADVICE
    // small-n finding, closed as a measured rung instead of a
    // docstring): under the finite-sample null the integer Wald t² is
    // F(1, n−2), not χ²₁ — at this panel's n=60 the asymptotic ladder
    // is anticonservative (head rung 17.080 vs the exact 20.055). This
    // reruns q371's block-structured design with BOTH ladders from the
    // SAME ranking pass: because the F rungs dominate the χ² rungs
    // elementwise and BH's step-up reads the same t² order, each F
    // discovery set is NESTED inside its χ² twin — the census prices
    // the correction as rows. Measured: BH 225 → 221 (the exact rule
    // drops 2 boundary-tier 'as' pairs AND 2 of the asymptotic rule's
    // 9 false discoveries — power the χ² ladder was claiming without
    // finite-sample license); Bonferroni 150 → 131 (19 boundary 'as'
    // pairs sit between the 17.080 asymptotic and 20.055 exact FWER
    // cuts; n_false stays 0 under both, so on THIS design the FWER
    // anticonservativity never materialized as a false positive —
    // exactly the distinction the r12 ADVICE drew)
    "q377_fdr_exact_f_ladder" -> ((s, d) => {
      val wald = blockDesignWald(s, "q377_panel")
      // n=60 rows, k=1 → the exact null is F(1, 58)
      val chiLad = graft.metrics.Causal.chi2InvMilliLadder(BlockDesign.size)
      val fLad = graft.metrics.Causal.fInvMilliLadder(BlockDesign.size, 58)
      val scored = graft.metrics.Causal.stepUp(wald, "pair",
          "chi" -> chiLad, "f" -> fLad)
        .withColumn("disc_bonf_chi",
          (col("t2_milli") >= lit(chiLad.head)).cast("int"))
        .withColumn("disc_bonf_f",
          (col("t2_milli") >= lit(fLad.head)).cast("int"))
        .localCheckpoint()
      blockRules(scored, Seq("bh_chi2" -> "disc_chi", "bh_f58" -> "disc_f",
        "bonf_chi2" -> "disc_bonf_chi", "bonf_f58" -> "disc_bonf_f"))
    }),

    // catalog-grain multiplicity (r12 verdict #6, the
    // bhfdr_catalog_85k_hypotheses bench rung's oracle twin at a
    // reduced grid): ONE BH step-up pass over a whole sub-catalog's
    // lag-1 cross-predictive Wald census — all 24 A1 4-var configs ×
    // 12 ordered pairs = 288 simultaneous k=1 hypotheses (y = Xj,
    // x = Xi@1, q370's marginal-Wald contract — waldK1's RSS/SE
    // arithmetic is k=1-only; the AR-controlled decision lives in
    // grangerDecide), the configId-folded virtual-channel panel, ONE
    // pair-restricted sparse moment pass, the waldK1 t² and the
    // 288-rung χ²₁ ladder. Hypotheses are tiered by the declared graph
    // (direct edge at any lag vs none — A1's 4-var chain makes every
    // pair an ancestor, so "none" discoveries are indirect paths, not
    // procedure failures). Measured: k* = 27 of 288 pass — 23 of the
    // 112 edge-tier hypotheses (the marginal lag-1 read fires on links
    // whose declared lag manifests at lag 1; the chain's lag-2/3/4
    // links mostly stay below the ladder at n=199, max t² 44.2 vs the
    // 13.3 none-tier peak) plus 4 indirect-path correlations
    "q376_bh_catalog_census" -> ((s, d) => {
      val cfgs = Grid.forFamily("A1").filter(_.nVars == 4)
      val gen = dumpGen(s, "q376_gen",
        Generate.wideFast(s, cfgs).where(col("t") < 200)
          .select(col("configId"), col("t"),
            col("X1"), col("X2"), col("X3"), col("X4")))
      val virt = Panels.clampedLag1(gen, 4)
      val hyps = cfgs.flatMap { c =>
        val direct = graft.core.Parser.truthLinks("A1", 4, c.maxLag)
          .map(l => (l.source, l.target)).toSet
        for { i <- 1 to 4; j <- 1 to 4 if i != j } yield {
          val g = c.configId
          val tier = if (direct((s"X$i", s"X$j"))) "edge" else "none"
          (s"$g|X$i>X$j", tier, s"$g|X$j@0", s"$g|X$i@1",
            None: Option[String])
        }
      }
      import s.implicits._
      val linksDf = hyps.toDF("pair", "tier", "y", "x", "sib")
      val wanted = graft.metrics.Causal.wantedPairs(s,
        hyps.map(h => (h._3, h._4)))
      val ranked = graft.metrics.Causal.stepUp(
        graft.metrics.Causal.waldK1(
          graft.metrics.Causal.structuralBetas(
            graft.metrics.Causal.virtualCrossMomentsSparse(virt, wanted,
              (col("t") % 65536).between(1, 199)), linksDf)),
        "pair", "bh" -> graft.metrics.Causal.chi2InvMilliLadder(hyps.size))
      val summary = ranked.agg(
        max(col("k_star_bh")).cast("long").as("k_star"),
        sum(col("disc_bh")).as("n_disc_total"))
      ranked.groupBy("tier")
        .agg(count(lit(1)).as("n_hyp"),
          sum(col("disc_bh")).as("n_disc"),
          max(col("t2_milli")).as("max_t2_milli"),
          sum(when(col("t2_milli").isNull, 1L).otherwise(0L))
            .as("n_t2_null"))
        .crossJoin(broadcast(summary))
    }),

    // MAXIMAL-FAMILY recovery census — D3/D3C, every generative
    // mechanism the catalog owns COMPOSED in one estimator pass:
    // func-transformed links (cos/sin/x²/x³) × trend + CONTINUOUS-time
    // season (evaluated at the irregular timestamps, not the index —
    // the C2 rule) × nearest-lag alignment × MCAR∪block masking ×
    // mixed gaussian/t(3) noise. The kernel's KNOWN deterministic
    // parts are subtracted at dump time with the same JVM Math calls
    // and expression order the kernel uses, func regressors are dumped
    // alongside (both engines read shared bytes — no transcendental is
    // ever recomputed cross-engine), masked cells drop before the
    // fused 4-lag alignment, and the estimator is COMPLETE-CASE with a
    // PER-CONFIG expected-channel count (8 for lag-2 cells, 9 for
    // lag-3/4 — unlike q365's uniform 10). At n=500 with 20-50%
    // per-variable missingness the surviving complete_n runs 48-259,
    // so the census publishes the q365 calibration pair: raw error
    // AND the worst per-link Wald distance from effective truth —
    // thin-n cells are honest about their width instead of claiming
    // tight recovery. 24 graphs (3 lags × 2 MCAR × 2 block rates ×
    // {D3, D3C}) in ONE moment pass.
    "q369_maximal_recovery" -> ((s, d) => {
      val cfgs = Grid.all().filter(c =>
        (c.family == "D3" || c.family == "D3C") && c.nVars == 4
          && c.nPoints == 500 && c.mixRatio == 0.5)
      // the kernel's known trend and season, τ = TIME (continuousSeason);
      // all 24 cells carry trend 0.01 / seasonal 0.5 (grid-pinned)
      val gen = dumpGen(s, "q369_gen",
        Generate.wideFast(s, cfgs).select(
          Seq(col("configId"), col("t"), col("time"), col("maskBits")) ++
            (1 to 4).map(i => knownDetrended(i, "time").as(s"X${i}t")) ++
            Seq("cos" -> 1, "cos" -> 2, "sin" -> 3, "power2" -> 4,
              "power3" -> 2).map { case (f, i) => funcChannel(f, i) }: _*))
      val spine = gen.select(col("configId"), col("t"), col("time"))
      val lx = graft.ops.Lagged.nearestLagIndicesView(spine, "t", "time",
        Seq("configId"), Seq(1, 2, 3, 4)).localCheckpoint(false)
      def idsAt(lags: Int*): Seq[Long] =
        cfgs.filter(c => lags.contains(c.maxLag)).map(_.configId)
      def chan(vsName: String, valueCol: String, maskVar: Int, lag: Int,
          cfgIds: Seq[Long]): DataFrame = {
        val base = gen
          .where(col("maskBits").bitwiseAND(lit(1 << (maskVar - 1))) === 0)
          .where(if (cfgIds == null) lit(true)
            else col("configId").isin(cfgIds: _*))
        if (lag == 0)
          base.select(
            concat(col("configId"), lit(s"|$vsName@0")).as("vs"),
            (col("configId") * 8192 + col("t")).as("t"),
            Panels.milli(col(valueCol)).as("v"))
        else lx.where(col("lag_mult") === lag).drop("lag_mult")
          .join(base.select(col("configId"), col("t").as("lag_idx"),
            col(valueCol)), Seq("configId", "lag_idx"))
          .select(
            concat(col("configId"), lit(s"|$vsName@$lag")).as("vs"),
            (col("configId") * 8192 + col("t")).as("t"),
            Panels.milli(col(valueCol)).as("v"))
      }
      val virtAll = ((1 to 4).map(i =>
          chan(s"X$i~", s"X${i}t", i, 0, null)) ++ Seq(
          chan("p2X4", "p2X4", 4, 0, null),
          chan("p3X2", "p3X2", 2, 0, null),
          chan("sX3", "sX3", 3, 1, null),
          chan("cX1", "cX1", 1, 2, idsAt(2, 3)),
          chan("cX2", "cX2", 2, 3, idsAt(3, 4)),
          chan("cX1", "cX1", 1, 4, idsAt(4))))
        .reduce(_ unionByName _).localCheckpoint(false)
      import s.implicits._
      val expDf = cfgs.map(c =>
        (c.configId, if (c.maxLag == 2) 8L else 9L)).toDF("cfgid", "exp")
      val completeT = virtAll.groupBy("t")
        .agg(count(lit(1)).as("nch"))
        .join(broadcast(expDf), expr("t div 8192") === col("cfgid"))
        .where(col("nch") === col("exp"))
        .select("t")
      val virt = virtAll.join(completeT, Seq("t"))
      val links = d3Links(cfgs)
      val linksDf = links.toDF("g", "family", "max_lag", "mcar_permille",
        "block_permille", "target", "source", "lag", "func", "y", "x",
        "sib", "declared_ppm", "effective_ppm")
      val mom = graft.metrics.Causal.virtualCrossMoments(virt,
        expr("t % 8192 BETWEEN 4 AND 499"), broadcastB = false)
      inferenceCensus(graft.metrics.Causal.structuralBetas(mom, linksDf),
        Seq("family", "max_lag", "mcar_permille", "block_permille"))
    }),

    // BLOCK-MISSING irregular NONLINEAR recovery census (the LIVE-link
    // missing-data counterpart of q362's all-dead D1 shadow: D2's
    // 4-var cells keep every declared coefficient effective, so this
    // is the census that RECOVERS weights under missingness rather
    // than proving them dead — and D2 is the full composition: block
    // masking × irregular clock × B-family quadratic equations with
    // the §2.4-1 dropped cubic). Regressors are SQUARED nearest-lag
    // channels (the compat kernel applies coef·x² only — d2.py's
    // '+'-split extractor keeps the leading quadratic and silently
    // drops the minus-signed cubic, the same quirk q355 measures on
    // B1); masked cells drop out of BOTH channel kinds BEFORE the
    // per-config alignment, while the alignment spine keeps every t —
    // the generator computes on the full irregular clock and masks at
    // OUTPUT, so lag resolution must read the unmasked grid. The
    // estimator is COMPLETE-CASE: only folded t's where all 10
    // channels co-observe enter the moments, because the Cramer
    // ratios are only n-free when every moment shares ONE window —
    // naive pairwise-complete moments mix n_jy ≈ (1−p)²N with n_jj ≈
    // (1−p)N and attenuate β by ≈(1−p) (measured before the fix:
    // 13-22% mean error GROWING with block rate; complete-case
    // restores it to sampling noise). The published complete_n per
    // config is the honest cost of that choice, and it exposes a real
    // phenomenon: the irregular nearest-lag offset is heavy-tailed
    // (median ~10 indices at this density), so a lag read often lands
    // in the ADJACENT block — whether that block is masked is
    // per-config phase luck (measured: P(source masked at lag idx |
    // row complete) = 86% for one block-0.2 cell vs 5% for its
    // block-0.1 neighbor), collapsing some cells' complete_n from
    // ~19k to ~500. The census therefore publishes BOTH the raw error
    // and max_diff_t2_milli — the worst per-link Wald distance from
    // effective truth under q363's integer inference — pinning that
    // the error is exactly the size the surviving n predicts, not
    // bias. Cells are the 18 D2+D2C gaussian grid cells SENSITIVITY-
    // BOOSTED per the q355 precedent (same equations at n=50,000,
    // σ=0.3: at the catalog's σ=0.1 the x² signal is ~2.5% of the
    // noise sd and statistically invisible). Only squared channels
    // the link set names are emitted, so the moment fan stays ~10
    // channels per config, not 4·(1+lags).
    "q365_block_missing_recovery" -> ((s, d) => {
      val cfgs = Grid.all().filter(c =>
        (c.family == "D2" || c.family == "D2C") && c.nVars == 4
          && c.nPoints == 5000 && c.noiseType == "gaussian")
        .map(_.copy(nPoints = 50000, noiseScale = 0.3))
      val gen = dumpGen(s, "q365_gen",
        Generate.wideFast(s, cfgs)
          .select(Seq(col("configId"), col("t"), col("time")) ++
            (1 to 4).map(i => col(s"X$i")) :+ col("maskBits"): _*))
      def pan(sq: Boolean): DataFrame = (1 to 4).map { i =>
        val v = if (sq) col(s"X$i") * col(s"X$i") else col(s"X$i")
        gen.where(col("maskBits").bitwiseAND(lit(1 << (i - 1))) === 0)
          .select(col("configId"),
            lit(s"X$i" + (if (sq) "p2" else "")).as("series"), col("t"),
            Panels.milli(v).as("v"))
      }.reduce(_ unionByName _)
      val panLin = pan(sq = false)
      val panSq = pan(sq = true).localCheckpoint(false)
      val spine = gen.select(col("configId"), col("t"), col("time"))
      val links = cfgs.flatMap(c =>
        weightLinks(c.configId.toString, c.family, 4, c.maxLag))
      val blockOf = cfgs.map(c =>
        c.configId.toString -> math.round(c.blockProb * 1000)).toMap
      def p2(v: String): String = v.replace("@", "p2@")
      import s.implicits._
      val linksDf = links.map(l => (l.g, l.family, l.maxLag,
          blockOf(l.g), l.target, l.source, l.lag, l.y, p2(l.x),
          l.sib.map(p2), l.declaredPpm, l.effectivePpm))
        .toDF("g", "family", "max_lag", "block_permille", "target",
          "source", "lag", "y", "x", "sib", "declared_ppm",
          "effective_ppm")
      // squared channels only where a link reads them: lag -> sources
      val srcByLag = links.map(l => (l.lag, s"${l.source}p2")).distinct
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      val virtT = panLin.select(
        concat(col("configId"), lit("|"), col("series"), lit("@0"))
          .as("vs"),
        (col("configId") * 65536L + col("t")).as("t"), col("v"))
      val virtSq0 = panSq
        .where(col("series").isin(srcByLag.getOrElse(0, Nil): _*))
        .select(concat(col("configId"), lit("|"), col("series"),
            lit("@0")).as("vs"),
          (col("configId") * 65536L + col("t")).as("t"), col("v"))
      val lagsK = srcByLag.keys.filter(_ > 0).toSeq.sorted
      // ONE fused alignment pass for all four lags (the per-lag calls
      // each re-sorted the same 900k-row spine)
      val lx = graft.ops.Lagged.nearestLagIndicesView(spine, "t", "time",
        Seq("configId"), lagsK).localCheckpoint(false)
      val virtL = lagsK.map { k =>
        lx.where(col("lag_mult") === k).drop("lag_mult")
          .join(panSq
            .where(col("series").isin(srcByLag(k): _*))
            .select(col("configId"), col("series"),
              col("t").as("lag_idx"), col("v")), Seq("configId", "lag_idx"))
          .select(concat(col("configId"), lit("|"), col("series"),
              lit(s"@$k")).as("vs"),
            (col("configId") * 65536L + col("t")).as("t"), col("v"))
      }
      // checkpoint the union ONCE: both the completeness cut and the
      // moment pass read it, and recomputing it means re-running the
      // alignment joins twice
      val virtAll = (Seq(virtT, virtSq0) ++ virtL).reduce(_ unionByName _)
        .localCheckpoint(false)
      // complete-case cut: the folded t key encodes the config, so one
      // groupBy finds the t's where the full 10-channel frame co-observes
      val completeT = virtAll.groupBy("t")
        .agg(count(lit(1)).as("nch")).where(col("nch") === 10)
        .select("t")
      val virt = virtAll.join(completeT, Seq("t"))
      val mom = graft.metrics.Causal.virtualCrossMoments(virt,
        expr("t % 65536 BETWEEN 4 AND 49999"), broadcastB = false)
      inferenceCensus(graft.metrics.Causal.structuralBetas(mom, linksDf),
        Seq("family", "max_lag", "block_permille"))
    }),

    // STREAMING INFERENCE (q358's weight monitor upgraded to a
    // significance monitor: the 10th running sum — syy — closes C_yy,
    // hence RSS, σ̂², se² and the Wald verdict, ALL per link per
    // micro-batch from one fixed-size state row; the monitor's
    // emission log is "which edges are statistically real as of each
    // batch"): the A1 n=500 design tuples stream in THREE time-ordered
    // batches (prefix n = 48 / 198 / 398) and the verdicts SHARPEN as
    // evidence arrives — at n=48 only the two strongest links (t² ≈
    // 7.7-10.7) clear the bar, the weakest (X1@2→X4, β = 0.25) flips
    // to significant only at the full n=398, and the §2.4-2 dead
    // X5→X6 link stays non-significant at EVERY prefix while its se²
    // column shrinks ∝1/n — evidence accumulation as hash-checked
    // rows. The
    // oracle replays the batch prefixes and the same from-sums
    // arithmetic (Causal.structuralInferenceFromSums, the streaming
    // twin of q363's operator; stream ≡ batch pinned by spec).
    "q368_stream_inference" -> ((s, d) => {
      val (tuples, linksDf) = streamWeightDesign(s, "q368_gen")
      val log = graft.streaming.StatefulOps.weightSums2Tws(s, tuples,
        "t", Seq(50L, 200L), s"$genDir/q368_weight_split",
        s"q368:${dumpSignature("q368_gen")}",
        s"graft_stream_inference_${System.nanoTime()}")
      graft.metrics.Causal.structuralInferenceFromSums(
          graft.metrics.Causal.structuralBetasFromSums(
            log.join(broadcast(linksDf), Seq("link"))))
        .select(col("target"), col("source"), col("lag"), col("n"),
          col("beta_ppm"), col("se2_ppm2"), col("t2_milli"),
          (col("t2_milli") > lit(3841L)).cast("int").as("significant"),
          col("effective_ppm"))
    }),

    // OUT-OF-SAMPLE FORECAST CALIBRATION (the prediction leg of model
    // recovery — every prior query measures the FIT; this measures
    // whether the fitted model's uncertainty is honest out of sample):
    // betas, intercept (via train channel means) and σ̂² are estimated
    // on the FIRST half of the A1 6-var cell, then every second-half
    // row gets a one-step-ahead prediction ŷ = ȳ + Σβ(x−x̄) from REAL
    // lagged values and a 95% interval verdict — all exact integers:
    // D = 10⁶·n·(y−ŷ) and the sqrt-free coverage test
    // 10⁴·D²·(n−k−1) ≤ 38416·10⁶·n·rss keeps every product inside
    // DECIMAL(38,0)/HUGEINT with NO division at all. Per target, 2,500
    // test decisions → cover_permille ≈ 950 on every row INCLUDING the
    // dead-link target X6 (its fitted model is a tiny spurious beta +
    // intercept, and the interval still calibrates because σ̂ absorbed
    // the full noise floor). q357 checks aggregate holdout variance;
    // this is row-level interval calibration with a train-frozen
    // intercept — genuinely out of sample.
    "q367_forecast_calibration" -> ((s, d) => {
      val panel = a1Panel(s, "q367_gen")
      val links = weightLinks("", "A1", 6, 2)
      val specs = weightSpecs(links)
      val virt = specs.map { case (series, k) =>
        panel.where(col("series") === series)
          .select(lit(s"$series@$k").as("vs"),
            (col("day") + k).as("t"), col("v"))
      }.reduce(_ unionByName _)
      val momTr = graft.metrics.Causal.virtualCrossMoments(virt,
        col("t").between(2, 2499))
      val binf = graft.metrics.Causal.structuralInference(
        graft.metrics.Causal.structuralBetas(momTr,
          weightLinksDf(s, links)))
      val stats = virt.where(col("t").between(2, 2499))
        .groupBy("vs").agg(count(lit(1)).as("cn"),
          sum(col("v")).as("cs"))
      val test = virt.where(col("t").between(2500, 4999))
      val contrib = binf
        .select(col("target"), col("y"), col("x"), col("beta_ppm"),
          col("k_parents"), col("rss_scaled"), col("n").as("ntr"))
        .join(broadcast(stats.select(col("vs").as("x"),
          col("cn").as("nx"), col("cs").as("sx"))), Seq("x"))
        .join(test.select(col("vs").as("x"), col("t"),
          col("v").as("xv")), Seq("x"))
        .withColumn("dx", expr(
          "cast(beta_ppm as decimal(38,0)) * (nx * xv - sx)"))
        .groupBy("target", "y", "t")
        .agg(sum(col("dx")).as("sdx"), max(col("k_parents")).as("kp"),
          max(col("rss_scaled")).as("rss"), max(col("ntr")).as("ntr"))
      contrib
        .join(broadcast(stats.select(col("vs").as("y"),
          col("cn").as("ny"), col("cs").as("sy"))), Seq("y"))
        .join(test.select(col("vs").as("y"), col("t"),
          col("v").as("yv")), Seq("y", "t"))
        .withColumn("dnum", expr(
          "1000000 * (cast(ny as decimal(38,0)) * yv - sy) - sdx"))
        .withColumn("cover", expr(
          """case when 10000 * dnum * dnum * (ntr - kp - 1)
            |  <= 38416000000 * cast(ntr as decimal(38,0)) * rss
            |then 1L else 0L end""".stripMargin))
        .groupBy("target")
        .agg(max(col("kp")).as("n_parents"),
          count(lit(1)).as("n_test"), sum(col("cover")).as("n_cover"))
        .withColumn("cover_permille",
          expr("(1000 * n_cover) div n_test"))
    }),

    // LAG IDENTIFICATION by integer RSS sweep (model selection on the
    // lag axis — the one structural coordinate no previous query
    // recovers from data: PC finds the skeleton, q351 the weights at
    // the DECLARED lag; this reads the lag itself): for every A1
    // 6-var link, the regressor lag is swept over candidates 0..4
    // with the sibling pinned at its true lag, each variant fit by
    // the same k≤2 Cramer stage, and the variant RSS (10⁶·C_yy −
    // Σβ·C_jy, exact integers) ranked — argmin is the identified lag,
    // ties to the smaller candidate. Every LIVE link identifies its
    // true lag exactly, with the published gap_permille (RSS rise of
    // the runner-up) measuring HOW decisively — 75-207‰ here; the
    // §2.4-2 dead X5→X6 link is the negative control: its RSS profile
    // is flat (gap_permille = 0 — its best_lag is just the tie-break
    // landing on the smallest candidate), so "no identifiable lag" is
    // itself a data read, the deadness surfaced a FIFTH way.
    "q366_lag_identification" -> ((s, d) => {
      val panel = a1Panel(s, "q366_gen")
      val links = weightLinks("", "A1", 6, 2)
      val cands = 0 to 4
      val specs = (links.map(l => (l.target, 0)) ++
        links.flatMap(l => cands.map(c => (l.source, c)))).distinct
      import s.implicits._
      val rows = links.flatMap { l =>
        cands.flatMap { c =>
          val vk = s"${l.target}<${l.source}|$c"
          val swept = (vk, l.target, l.source, l.lag, c,
            l.effectivePpm, 1, l.y, s"${l.source}@$c", l.sib)
          val sib = l.sib.map(sv => (vk, l.target, l.source, l.lag, c,
            l.effectivePpm, 0, l.y, sv, Some(s"${l.source}@$c")))
          Seq(swept) ++ sib
        }
      }
      val linksDf = rows.toDF("vk", "target", "source", "true_lag",
        "cand", "effective_ppm", "swept", "y", "x", "sib")
      val mom = graft.metrics.Causal.laggedCrossMoments(
        panel, specs, col("t").between(4, 4999))
      val betas = graft.metrics.Causal.structuralBetas(mom, linksDf)
        .withColumn("rss_scaled", expr(
          """1000000 * cast(cyy as decimal(38,0))
            |  - sum(cast(beta_ppm as decimal(38,0)) * cjy)
            |      over (partition by vk)""".stripMargin))
        .where(col("swept") === 1)
      betas
        .withColumn("rk", expr(
          """row_number() over (partition by target, source
            |  order by rss_scaled, cand)""".stripMargin))
        .withColumn("next_rss", expr(
          """lead(rss_scaled, 1) over (partition by target, source
            |  order by rss_scaled, cand)""".stripMargin))
        .where(col("rk") === 1)
        .select(col("target"), col("source"), col("true_lag"),
          col("effective_ppm"), col("cand").as("best_lag"),
          (col("cand") === col("true_lag")).cast("int").as("identified"),
          expr("((next_rss - rss_scaled) * 1000 div rss_scaled)")
            .cast("long").as("gap_permille"))
    }),

    // COEFFICIENT-LEVEL INFERENCE (the fourth leg of model recovery:
    // structure — the PC suite; weights — q351; noise scale — q354;
    // this adds the Wald test that says which recovered weights are
    // STATISTICALLY real): exact-integer standard errors and t² per
    // link from the SAME six centered moments — no second data pass,
    // every division the shared truncating div, so both engines agree
    // bitwise (Causal.structuralInference / structuralInferenceSqlCtes).
    // On the A1 6-var cell the live links separate from the §2.4-2 dead
    // X5→X6 link (declared 0.85, never applied) by orders of magnitude
    // in t², and the published `significant` flag is the 5% Wald verdict
    // (t² > 3.841) — the quirk surfaced a fourth way: as a hypothesis-
    // test decision, not just a small beta.
    "q363_beta_ttest" -> ((s, d) =>
      graft.metrics.Causal.structuralInference(a1Betas(s, "q363_gen"))
        .select(col("target"), col("source"), col("lag"), col("beta_ppm"),
          col("effective_ppm"), col("k_parents"), col("se2_ppm2"),
          col("t2_milli"),
          (col("t2_milli") > lit(3841L)).cast("int").as("significant"))),

    // inference census at CORPUS grain (q352's 18-graph fold through the
    // Wald readout): the full A1+A1C gaussian n=5000 cell in ONE moment
    // pass, each link's t² thresholded at the 5% critical value and
    // scored per config against the EFFECTIVE truth as a STRUCTURE
    // decision — live links should test significant, §2.4-2-dead ones
    // should not. Measured: 18/18 configs classify every link correctly
    // (n_sig_live = n_live, n_sig_dead = 0; min live t² ≥ 42× the
    // critical value, max dead t² below it), U-confounded A1C cells
    // included (U is white and contemporaneous-only: it widens se²
    // without manufacturing dead-link significance). n_cover is the
    // companion CALIBRATION read — the sqrt-free 95% Wald interval
    // covers the effective truth on 154/163 links ≈ 94.5%, right at
    // nominal. Structure recovery by hypothesis testing alone, as
    // hash-checked rows.
    "q364_inference_census" -> ((s, d) => {
      val live = col("effective_ppm") =!= 0
      val sig = col("t2_milli") > lit(3841L)
      // CI calibration read the sqrt-free way: the 95% Wald interval
      // covers the effective truth iff the diff's own Wald statistic
      // (1000·(β−eff)² div se²) stays at or under the same critical
      // value — integer arithmetic only, shared by both engines
      val cover = col("se2_ppm2").isNotNull && col("se2_ppm2") > 0 &&
        expr("""(1000 * cast(beta_ppm - effective_ppm as decimal(38,0))
               |  * (beta_ppm - effective_ppm)) div se2_ppm2"""
          .stripMargin) <= lit(3841L)
      graft.metrics.Causal.structuralInference(a1FoldBetas(s, "q364_gen"))
        .groupBy("family", "n_vars", "max_lag")
        .agg(count(lit(1)).as("n_links"),
          sum(when(live, 1L).otherwise(0L)).as("n_live"),
          sum(when(live && sig, 1L).otherwise(0L)).as("n_sig_live"),
          sum(when(!live && sig, 1L).otherwise(0L)).as("n_sig_dead"),
          sum(when(cover, 1L).otherwise(0L)).as("n_cover"),
          min(when(live, col("t2_milli"))).as("min_live_t2_milli"),
          max(when(!live, col("t2_milli"))).as("max_dead_t2_milli"))
    }),

    // SEASONAL/NONLINEAR weight recovery with deterministic-component
    // adjustment (the C-family member — trend + season + cos/sin/power
    // links, the full generative vocabulary through one estimator):
    // the kernel's KNOWN deterministic parts (trend_i = 0.01·(i+1)·
    // 0.5·t; season_i = 0.5·(sin(2πt/12+φ_i)+0.5·cos(4πt/12+φ_i)),
    // φ_i = 2πi/8 — same JVM Math calls as the kernel) are subtracted
    // AT DUMP TIME alongside the func-transformed regressors, so the
    // oracle reads shared bytes and never recomputes a transcendental.
    // One moment pass carries BOTH target variants: the detrended
    // betas recover every live coefficient (cos/sin/x²/x³ alike) and
    // read the ListOrder-dead X5→X6 link (declared 0.85, its sin term
    // evaluated before X5 exists) at ≈0 — the one dead-rule the corr
    // audit cannot pin (the shared trend correlates all C series);
    // the NAIVE twin regressed on raw targets shows what skipping the
    // adjustment costs, per link, as data. n=500 cell: the trending
    // power channels (X4² ≈ 256 max here) keep every moment inside
    // the LONG/decimal budget that n=5000's t²-grown values would blow.
    "q361_seasonal_recovery_contrast" -> ((s, d) => {
      val cfg = Grid.forFamily("C1").find(c =>
        c.nPoints == 500 && c.nVars == 6 && c.maxLag == 2).get
      val links = c1Links()
      val gen = dumpGen(s, "q361_gen",
        Generate.wideFast(s, Seq(cfg)).select(
          Seq(col("t")) ++
            (1 to 6).map(i => col(s"X$i")) ++
            (1 to 6).map(i => knownDetrended(i, "t").as(s"X${i}t")) ++
            c1FuncCols: _*))
      // virtual channels: detrended + naive targets at lag 0, transformed
      // regressors at their link lags — one moment pass for both variants
      def ch(colName: String, vs: String, lag: Int): DataFrame =
        gen.select(lit(vs).as("vs"), (col("t") + lag).as("t"),
          Panels.milli(col(colName)).as("v"))
      val targets = (1 to 6).flatMap(i => Seq(
        ch(s"X${i}t", s"X$i~@0", 0), ch(s"X$i", s"X$i@0", 0)))
      val regs = links.map(l => (l._5.split("@")(0), l._5, l._3))
        .distinct.map { case (series, vs, lag) => ch(series, vs, lag) }
      val virt = (targets ++ regs).reduce(_ unionByName _)
      val mom = graft.metrics.Causal.virtualCrossMoments(virt,
        col("t").between(2, 499))
      import s.implicits._
      def linksDf(naive: Boolean): DataFrame = links.map { l =>
        val y = if (naive) s"${l._1}@0" else l._6
        (l._1, l._2, l._3, l._4, y, l._5, l._7, l._8, l._9)
      }.toDF("target", "source", "lag", "func", "y", "x", "sib",
        "declared_ppm", "effective_ppm")
      val det = graft.metrics.Causal.structuralBetas(mom, linksDf(false))
        .select(col("target"), col("source"), col("lag"), col("func"),
          col("declared_ppm"), col("effective_ppm"),
          col("beta_ppm").as("beta_detrended_ppm"))
      val nai = graft.metrics.Causal.structuralBetas(mom, linksDf(true))
        .select(col("target"), col("source"), col("lag"),
          col("beta_ppm").as("beta_naive_ppm"))
      det.join(nai, Seq("target", "source", "lag"))
    }),

    // IRREGULAR weight recovery at CORPUS grain (q356's fold, q352's
    // discipline, per-config nearest-lag alignment): A2's 4-var
    // gaussian cells (3 lags) plus ALL NINE A2C gaussian cells — the
    // reference's most extreme quirk read through the estimator: A2C's
    // extractor drops every link ('e' in rhs, a2c.py:226-251), so the
    // family generates PURE NOISE while its truth dict declares edges;
    // Parser.effectiveLinks' compiled-dep presence rule zeroes them
    // all, and the census shows n_dead = n_links with betas at noise
    // grain for every A2C config. The alignment is per config:
    // nearestLagIndexView(partitionCols = configId, lagMult = k) for
    // every link lag, each config's own meanDiff — then ONE folded
    // moment pass (shuffle path) + ONE Cramer stage. A2 6/8-var cells
    // are deliberately excluded: their value-≠0 rule CASCADES the dead
    // X5→X6 link into constant-zero X6/X7 series whose lagged reads
    // leak only the first max_lag noise rows — a ratio-of-tiny-moments
    // regime documented here rather than published as a stable census.
    "q360_irregular_recovery_census" -> ((s, d) => {
      val cfgs = Grid.all().filter(c =>
        ((c.family == "A2" && c.nVars == 4) || c.family == "A2C")
          && c.nPoints == 5000 && c.noiseType == "gaussian")
      val gen = dumpGen(s, "q360_gen",
        Generate.wideFast(s, cfgs)
          .select(Seq(col("configId"), col("t"), col("time")) ++
            (1 to 8).map(i => col(s"X$i")): _*))
      val pan = (1 to 8).map(i =>
        gen.where(col(s"X$i").isNotNull)
          .select(col("configId"), lit(s"X$i").as("series"), col("t"),
            Panels.milli(col(s"X$i")).as("v")))
        .reduce(_ unionByName _).localCheckpoint(false)
      val spine = gen.select(col("configId"), col("t"), col("time"))
      val links = cfgs.flatMap(c =>
        weightLinks(c.configId.toString, c.family, c.nVars, c.maxLag))
      val lagsNeeded = links.map(_.lag).filter(_ > 0).distinct.sorted
      val virtT = pan.select(
        concat(col("configId"), lit("|"), col("series"), lit("@0"))
          .as("vs"),
        (col("configId") * 8192 + col("t")).as("t"), col("v"))
      // ONE fused alignment pass for all lags (the per-lag calls each
      // re-sorted the same spine — the q365 lesson applied here too)
      val lxAll = graft.ops.Lagged.nearestLagIndicesView(spine, "t",
        "time", Seq("configId"), lagsNeeded).localCheckpoint(false)
      val virtL = lagsNeeded.map { k =>
        lxAll.where(col("lag_mult") === k).drop("lag_mult")
          .join(pan.select(col("configId"), col("series"),
            col("t").as("lag_idx"), col("v")), Seq("configId", "lag_idx"))
          .select(concat(col("configId"), lit("|"), col("series"),
              lit(s"@$k")).as("vs"),
            (col("configId") * 8192 + col("t")).as("t"), col("v"))
      }
      val virt = (virtT +: virtL).reduce(_ unionByName _)
      val mom = graft.metrics.Causal.virtualCrossMoments(virt,
        expr("t % 8192 BETWEEN 4 AND 4999"), broadcastB = false)
      recoveryCensus(
        graft.metrics.Causal.structuralBetas(mom, weightLinksDf(s, links)))
    }),

    // weight recovery at deployment WIDTH through the PAIR-RESTRICTED
    // moment path (the O(links)-not-O(p²) form): 63 chain links over
    // the 64-series wide panel (q346's dataset family), where the
    // dense Gram would fan every t out 64² ways to feed a k=1 Cramer
    // stage that reads 127 pairs — virtualCrossMomentsSparse routes
    // the wanted-pair frame into the join BEFORE aggregation, and the
    // weightwide bench pair measures the dense-vs-sparse gap at
    // p=256. Output is the full 63-link contemporaneous beta census,
    // bitwise against the oracle's identical sparse CTE chain; the
    // spec pins sparse ≡ dense-restricted on shared inputs.
    "q359_weight_recovery_wide" -> ((s, d) => {
      val pan = dumpGen(s, "q359_panel", Panels.widePanel(s, 64, 10000))
      import s.implicits._
      def nm(i: Int) = f"X$i%02d"
      val links = (1 until 64).map(i => (nm(i), nm(i - 1), 0,
        s"${nm(i)}@0", s"${nm(i - 1)}@0", None: Option[String]))
      val linksDf = links
        .toDF("target", "source", "lag", "y", "x", "sib")
      val virt = pan.select(concat(col("series"), lit("@0")).as("vs"),
        col("day").as("t"), col("v"))
      val wanted = graft.metrics.Causal.wantedPairs(s,
        links.map(l => (l._4, l._5)))
      graft.metrics.Causal.structuralBetas(
          graft.metrics.Causal.virtualCrossMomentsSparse(virt, wanted,
            col("t").between(0, 9999)),
          linksDf)
        .select(col("target"), col("source"), col("beta_ppm"))
    }),

    // STREAMING weight recovery (the estimation sibling of q344's
    // streaming Granger monitor: edge WEIGHTS that update as data
    // arrives): the A1 6-var cell's design tuples — per link (y at t,
    // x at t−lag, sibling at its own lag, 0 when none) — stream in 2
    // time-ordered micro-batches through transformWithState whose
    // per-link state is the 9 mergeable design sums; each batch emits
    // prefix sums and the beta stays in the ONE shared
    // Causal.structuralBetasFromSums, so the emission log is "the edge
    // weights as of each batch" (n=198 prefix rows, then n=398 full
    // rows — 14 rows, estimates visibly tightening toward the
    // effective truth as evidence accumulates). Oracle replays the
    // emission model with q344's batch-prefix fold and the same shared
    // beta CTE; spec pins stream ≡ batch against laggedCrossMoments +
    // structuralBetas on the full window.
    "q358_stream_weight_recovery" -> ((s, d) => {
      val (tuples, linksDf) = streamWeightDesign(s, "q358_gen")
      val log = graft.streaming.StatefulOps.weightSumsTws(s, tuples,
        "t", 200L, s"$genDir/q358_weight_split",
        s"q358:${dumpSignature("q358_gen")}",
        s"graft_stream_weights_${System.nanoTime()}")
      graft.metrics.Causal.structuralBetasFromSums(
          log.join(broadcast(linksDf), Seq("link")))
        .select(col("target"), col("source"), col("lag"), col("n"),
          col("beta_ppm"), col("effective_ppm"))
    }),

    // HOLDOUT-validated weight recovery (the train/test discipline the
    // text pipeline applies to samplers — q93's leakage-safe split —
    // applied to the estimation layer): betas fit on the clock's FIRST
    // half only, then scored on the SECOND half via the exact quadratic
    // form over TEST-window moments — SSE_test = C_yy + Σ_j [β_j²·C_jj
    // + β_j·β_sib·C_j,sib − 2·β_j·C_jy] (each link row contributes its
    // own square and its half of the single cross term, so the k=2 sum
    // closes without a dedicated pair stage) — everything integer with
    // declared truncation points, both engines bitwise. The pinned
    // claim: σ̂²_test/σ̂²_train stays within a few percent of 1000‰ on
    // every target (k ≤ 2 on n=2500 cannot overfit) AND both halves sit
    // on the generator's exact 10⁴ noise floor — the estimator
    // GENERALIZES, it does not memorize its window.
    "q357_weight_recovery_holdout" -> ((s, d) => {
      val panel = a1Panel(s, "q357_gen")
      val links = weightLinks("", "A1", 6, 2)
      val momTr = graft.metrics.Causal.laggedCrossMoments(
        panel, weightSpecs(links), col("t").between(2, 2499))
      val momTe = graft.metrics.Causal.laggedCrossMoments(
        panel, weightSpecs(links), col("t").between(2500, 4999))
      val bt = graft.metrics.Causal.structuralBetas(
          momTr, weightLinksDf(s, links))
        .select(col("target"), col("y"), col("x"), col("sib"),
          col("beta_ppm"), col("n").as("ntr"), col("cyy").as("cyytr"),
          col("cjy").as("cjytr"))
      val bsib = bt.join(
        bt.select(col("target").as("target2"), col("x").as("sib2"),
          col("beta_ppm").as("beta_sib0")),
        col("target2") === col("target") && col("sib2") === col("sib"),
        "left").drop("target2", "sib2")
        .withColumn("beta_sib", coalesce(col("beta_sib0"), lit(0L)))
      def lookTe(df: DataFrame, k1: String, k2: String, out: String,
          withN: Boolean = false): DataFrame = {
        val cols = (if (withN) Seq(col("n").as("nte")) else Nil) :+
          col("c").as(out)
        df.join(broadcast(momTe.select(col("na") +: col("nb") +: cols: _*)),
          least(col(k1), col(k2)) === col("na") &&
            greatest(col(k1), col(k2)) === col("nb"), "left")
          .drop("na", "nb")
      }
      val tj = lookTe(lookTe(lookTe(lookTe(bsib,
        "y", "y", "cyyte", withN = true), "x", "x", "cjjte"),
        "x", "y", "cjyte"), "x", "sib", "cjste")
      tj.groupBy("target")
        .agg(count(lit(1)).as("n_parents"),
          expr("""(1000000 * max(cast(cyytr as decimal(38,0)))
                 |  - sum(cast(beta_ppm as decimal(38,0)) * cjytr))
                 |div (1000000 * max(cast(ntr as decimal(38,0))) * max(ntr))"""
            .stripMargin).cast("long").as("sigma2_train_v"),
          expr("""(max(cast(cyyte as decimal(38,0)))
                 |  + sum(
                 |    (cast(beta_ppm as decimal(38,0)) * beta_ppm * cjjte)
                 |      div 1000000000000
                 |    + (cast(beta_ppm as decimal(38,0)) * beta_sib
                 |        * coalesce(cjste, 0)) div 1000000000000
                 |    - (2 * cast(beta_ppm as decimal(38,0)) * cjyte)
                 |      div 1000000))
                 |div (max(cast(nte as decimal(38,0))) * max(nte))"""
            .stripMargin).cast("long").as("sigma2_test_v"))
        .withColumn("ratio_permille", expr(
          """case when sigma2_train_v = 0 then 0
            |else (1000 * sigma2_test_v) div sigma2_train_v end"""
            .stripMargin).cast("long"))
    }),

    // weight recovery under IRREGULAR sampling (the A2 member of the
    // recovery suite — and a semantic trap made into a test: A2's
    // kernel resolves lags by NEAREST-index-to-(t_now − k·meanDiff)
    // over past rows, a2.py:162-167, NOT by as-of/backward lookup, so
    // an estimator aligned any other way is misspecified by
    // construction). The design matrix is built with the generator's
    // own rule — Lagged.nearestLagIndexView at lagMult 1 and 2, q314's
    // operator — feeding the SAME moment+Cramer machinery through the
    // virtualCrossMoments split (the grangerSumsFromLagged discipline).
    // All four links recover their declared coefficients; the two
    // contemporaneous ones need no alignment at all and pin that the
    // lag-0 path is untouched by the irregular clock.
    "q356_weight_recovery_irregular" -> ((s, d) => {
      val cfg = Grid.cell("A2", 5000, 4, 2)
      val gen = dumpGen(s, "q356_gen",
        Generate.wideFast(s, Seq(cfg))
          .select(col("t") +: col("time") +:
            (1 to 4).map(i => col(s"X$i")): _*))
      val pan = Panels.single(gen, 4).withColumnRenamed("day", "t")
        .localCheckpoint(false)
      val spine = gen.select(col("t"), col("time"))
      val virtTargets = pan.select(
        concat(col("series"), lit("@0")).as("vs"), col("t"), col("v"))
      val virtLags = Seq(1, 2).map { k =>
        // snap the union+sort alignment lineage (q314's rationale)
        val lx = graft.ops.Lagged.nearestLagIndexView(
          spine, "t", "time", lagMult = k).localCheckpoint(false)
        lx.join(broadcast(pan.select(col("series"),
            col("t").as("lag_idx"), col("v"))), Seq("lag_idx"))
          .select(concat(col("series"), lit(s"@$k")).as("vs"), col("t"),
            col("v"))
      }
      val virt = (virtTargets +: virtLags).reduce(_ unionByName _)
      val links = weightLinks("", "A2", 4, 2)
      graft.metrics.Causal.structuralBetas(
          graft.metrics.Causal.virtualCrossMoments(virt,
            col("t").between(2, 4999)),
          weightLinksDf(s, links))
        .select(col("target"), col("source"), col("lag"), col("beta_ppm"),
          col("declared_ppm"), col("effective_ppm"),
          abs(col("beta_ppm") - col("effective_ppm")).as("abs_err_ppm"))
    }),

    // one-way ANOVA across the event-type series (the k-group member of
    // the two-sample test family q280/q156): between/within sums of
    // squares from per-group integer moments — B = Σ_g (S_g·N − S·n_g)²
    // div n_g (N²-scaled SSB) and W = Σ_g (n_g·Q_g − S_g²) div n_g
    // (exact SSW up to the declared per-group div), F decision
    // cross-multiplied at the 5% F(4,∞) value 2.372:
    // 1000·(N−k)·B > 2372·(k−1)·W·N². Panel-grain only — magnitudes are
    // corpus-scale-invariant (the daily-means rule)
    "q326_anova_oneway" -> ((s, d) =>
      graft.metrics.Causal.anovaOneWay(
        graft.metrics.Causal.dailyMeanPanel(events(s, d)))),

    // Kruskal-Wallis rank test (q326's distribution-free sibling, the
    // k-group extension of ranked two-sample comparisons): global panel
    // ranks via one row_number with the (v, series, day) total
    // tie-break, per-group rank sums, H cross-multiplied against χ²₄ at
    // 5% (9.488): 1000·(12·Σ(R_g² div n_g) − 3·(N+1)²·N) >
    // 9488·N·(N+1). Rank magnitudes are bounded by the panel day count
    // — every product is small-LONG at any corpus scale
    "q327_kruskal_wallis" -> ((s, d) =>
      graft.metrics.Causal.kruskalWallis(
        graft.metrics.Causal.dailyMeanPanel(events(s, d)))),

    // Nelson-Aalen cumulative hazard (the estimator dual of q292's
    // Kaplan-Meier survival curve, same cohort contract): per event time
    // the ppm hazard increment (d·1e6) div n_risk, accumulated by one
    // cumulative window — no product fold needed, so unlike KM the curve
    // is a plain running sum. Shares q292's at-risk table (survivalRisk)
    "q328_nelson_aalen" -> ((s, d) => {
      val wc = Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      survivalRisk(s, d).select(col("t"), col("n_risk"), col("d"),
          sum(expr("(d * 1000000) div n_risk")).over(wc)
            .as("cum_hazard_ppm"))
    }),

    // PC skeleton under a HIDDEN confounder (q300's A1C sibling and
    // q313's undirected dual): generate A1C but observe only X1..X4 —
    // U's contemporaneous fan-in leaves extra dependence the skeleton
    // cannot separate, so `edge` flags surface against truth_adj = 0
    // rows built from the catalog's X-X adjacencies alone. Same 200-obs
    // window (the rank-moment n⁴ cap) and shared PC CTEs as q300
    "q329_pc_confounded" -> ((s, d) => {
      val cfg = Grid.cell("A1C", 500, 4, 2)
      val gen = dumpGen(s, "q329_gen",
        Generate.wideFast(s, Seq(cfg)).where(col("t") < 200)
          .select(col("t"), col("X1"), col("X2"), col("X3"), col("X4")))
      val panel = Panels.single(gen, 4)
      graft.metrics.Causal.pcSkeleton(panel)
        .withColumn("truth_adj", expr(pcTruthCase("A1C")))
    }),

    // multi-lag generation→discovery capstone (the r8 verdict's "next
    // rung": q269/q313/q314 test Granger at lag 1 only, while the
    // catalog declares effects at lags up to 4, a1.py:310-313): A1
    // 4-var lag-4 panel, ORDER-4 Granger — y_t on 4 own lags vs + 4
    // cause lags, 8 sequential Frisch-Waugh eliminations over the 9×9
    // centered-moment integer matrix, joint F(4, n−9) decided
    // cross-multiplied. truth_any flags pairs with a declared X-edge at
    // ANY lag 1..4 — the cells a lag-1-only test structurally misses
    "q330_granger_multilag" -> ((s, d) => {
      val cfg = Grid.cell("A1", 5000, 4, 4)
      val gen = dumpGen(s, "q330_gen",
        Generate.wideFast(s, Seq(cfg))
          .select(col("t"), col("X1"), col("X2"), col("X3"), col("X4")))
      val panel = Panels.single(gen, 4)
      graft.metrics.Causal.grangerMulti(panel, 4)
        .withColumn("truth_any",
          expr(grangerTruthCaseAnyLag("A1", 4, 4)))
    }),

    // full 64×64 centered-covariance census of the embedding table — the
    // wide-k dataset variant of q88's 3-column CovMatrix (a 64-dim matrix
    // via q88's per-pair agg expressions would be the 2,145-expression
    // driver explosion q317 retired): ONE CovVec.suffStats typed
    // aggregate (single sufficient-statistics row over the wire), cells
    // decoded through a 2,080-row broadcast index, reported at the
    // scale-stable n²-normalized grain c div n² (micro² units, ≤~1e12 —
    // BIGINT-safe at any corpus size where raw c is not)
    "q331_embedding_covariance" -> ((s, d) => {
      pcaCovCells(s, d)
        .select(col("da").cast("long").as("da"),
          col("db").cast("long").as("db"),
          expr("cast(c div (n * n) as long)").as("cov_n2"))
    }),

    // spectral summary of the embedding covariance (the dimensionality-
    // choice statistic a curation pipeline reads before projecting):
    // top-eigenvalue estimate as the exact-integer Rayleigh quotient
    // λ₁ = (wᵀCw) div (wᵀw) of q317's converged ppm component over
    // q331's n²-normalized cells, the total variance as the trace, and
    // the explained-variance ratio in permille. Normalizing each cell by
    // n² BEFORE the w products keeps every term ≤ ~1e24 and the 4,096-
    // cell sum ≤ ~4e27 at ANY corpus size (the raw-c formulation would
    // pass 10³⁸ near sf1); all panel-grain arithmetic on broadcast
    // frames — the fact passes are the two shared PCA aggregates
    "q335_pca_spectrum" -> ((s, d) => {
      // ONE combined aggregate pass (CovVec.statsAndComponentRow) yields
      // the matrix AND the component — the separate q317/q331 helpers
      // would each scan the fact table, doubling the only fact-scale cost
      val row = graft.ops.CovVec.statsAndComponentRow(
        embeddings(s, d), pcaQuant, 64, PcaIters).localCheckpoint(false)
      val w = row.select(posexplode(col("warr")).as(Seq("dim", "w")))
      val cells = covCellsFrom(s,
          row.select(posexplode(col("ss")).as(Seq("pos", "v")))
            .select(col("pos"), col("v").cast("decimal(38,0)").as("v")))
        .select(col("da"), col("db"), expr("c div (n * n)").as("cn2"))
      val rq = cells
        .join(broadcast(w.select(col("dim").as("da"), col("w").as("wa"))),
          Seq("da"))
        .join(broadcast(w.select(col("dim").as("db"), col("w").as("wb"))),
          Seq("db"))
        // cn2 is LONG (`div` output) — widen BEFORE the two w products
        // (≤1e12·1e6·1e6 = 1e24 > LONG); DuckDB's `//` is already HUGEINT
        .agg(sum(expr("cast(cn2 as decimal(38,0)) * wa * wb")).as("num"))
      val den = w.agg(sum(expr("w * w")).as("den"))
      val tr = cells.where(col("da") === col("db"))
        .agg(sum(col("cn2")).as("trace_n2"))
      rq.crossJoin(broadcast(den)).crossJoin(broadcast(tr))
        .select(col("trace_n2").cast("long").as("trace_n2"),
          expr("num div den").cast("long").as("lambda1_n2"),
          expr("case when trace_n2 = 0 then 0 else " +
            "(1000 * (num div den)) div trace_n2 end").cast("long")
            .as("explained_permille"))
    }),

    // PC with the ORIENTATION phase (q300's skeleton stops at the
    // undirected graph; the reference's consumers emit directed graphs
    // and its structural SHD charges reversals): v-structures from the
    // skeleton's own order-≤1 sepset decisions + 3 full-Meek rounds
    // (rules 1-3 — complete absent background knowledge, Meek 1995;
    // Causal.pcOrient, conflict-cancel pinned), the resulting CPDAG
    // expanded to directed edge rows (undirected → both directions) and
    // scored orientation-aware against the catalog's declared A1 edges
    // through the SAME Metrics.scoreAll one-pass join the 1M-graph panel
    // path uses — fact-scale work is only the skeleton's rank moments
    "q332_pc_orientation_scored" -> ((s, d) => {
      val cfg = Grid.cell("A1", 500, 4, 2)
      // same 200-point cut as q300 (the rank-moment n⁴ cap: the order-1
      // CI test squares products of ~n⁴ C-statistics, so n = 500 would
      // pass the 10³⁸ budget in BOTH engines) but τ = 0.1 instead of
      // q300's 0.25: the denser skeleton admits shared-node triples, so
      // the v-structure + Meek stages decide real orientations here
      val gen = dumpGen(s, "q332_gen",
        Generate.wideFast(s, Seq(cfg)).where(col("t") < 200)
          .select(col("t"), col("X1"), col("X2"), col("X3"), col("X4")))
      val panel = Panels.single(gen, 4)
      pcScoreOriented(s,
        graft.metrics.Causal.pcOrient(
          graft.metrics.Causal.pcSkeleton(panel, PcOrientTauSqBp),
          PcMeekRounds),
        PcDirectedTruth)
    }),

    // PC skeleton to conditioning ORDER 2 (q300/q332 stop at order 1;
    // the reference's PC consumers condition to higher orders, and a
    // 6-var A1 cell — cycle X1→X4→X3→X2→X1 plus X4↔X5 feedback —
    // leaves chained spurious pairs that no SINGLE conditioner
    // separates): Causal.pcSkeleton2's cofactor identity
    // ρ²_ab·{z,w} = cof_ab²/(cof_aa·cof_bb) on n²-normalized rank
    // moments, exact integers end-to-end, every order-2 decision on the
    // driver over the collected moments — the one fact-scale pass is the
    // shared rank cross-moment aggregate
    "q336_pc_order2_scored" -> ((s, d) =>
      graft.metrics.Causal.pcSkeleton2(pcOrder2Panel(s, "q336_gen"),
          Pc2TauSqBp)
        .select(col("a"), col("b"), col("edge"), col("sepset"),
          col("sepset2"), col("edge2"))
        .withColumn("truth_adj", expr(PcTruth6Case))),

    // the COMPLETE constraint-based pipeline at order 2: q336's
    // 6-var order-2 skeleton oriented by the SAME v-structure +
    // full-Meek machinery q332 pins (pcOrient2 folds the order-2
    // sepset pair into the shared ~-membership collider test), the
    // CPDAG scored orientation-aware against the 6-var catalog truth.
    // One fact-scale pass (the rank cross-moments); skeleton, cofactors
    // and orientation on the driver, scoring panel-grain
    "q337_pc_order2_oriented" -> ((s, d) =>
      pcScoreOriented(s,
        graft.metrics.Causal.pcOrient2(
          graft.metrics.Causal.pcSkeleton2(pcOrder2Panel(s, "q337_gen"),
            Pc2TauSqBp),
          PcMeekRounds2),
        PcDirectedTruth6)),

    // whole-tree shipped-artifact scoring capstone (q325 proved ONE
    // shipped D3 file end-to-end; this runs the consumer loop at CORPUS
    // grain): every D3 vars4/lag2 *_missing.csv — 48 files, 4 sizes × 12
    // mask/noise combos — in ONE glob scan with file identity from
    // input_file_name, per-config nearest-lag alignment on the shared
    // irregular spine (partitioned AsOf carries, no per-row probe),
    // Granger census per config (config rides inside the cause/effect
    // key, so the shared sums→decision contract applies untouched), and
    // per-config TPR/FDR + SHD through Metrics.scoreAll against truth
    // parsed from each config's OWN shipped structure txt. At 100 TB this
    // is the real shape of "score a generated corpus": one multi-file
    // columnar scan, per-file keys, a single keyed aggregate per stage
    "q333_shipped_tree_scored" -> ((s, d) => {
      val gout = shippedD3TreeGrangerOut(s, shippedD3TreeIdxed(s))
      val pred = gout.where(col("granger") === 1)
        .select(substring_index(col("cause"), "|", 1).as("graphId"),
          substring_index(col("cause"), "|", -1).as("source"),
          substring_index(col("effect"), "|", -1).as("target"),
          lit(1).as("lag"))
      import s.implicits._
      val truth = ShippedD3TreeTruth.toDF("graphId", "source", "target")
        .withColumn("lag", lit(1))
      graft.metrics.Metrics.scoreAll(truth, pred)
        .select(col("graphId").as("cfg"), col("tp"), col("fp"), col("fn"),
          col("shd_structural"), col("shd_xor"),
          expr("case when tp + fn = 0 then 0L " +
            "else (1000 * tp) div (tp + fn) end").as("tpr_permille"),
          expr("case when tp + fp = 0 then 0L " +
            "else (1000 * fp) div (tp + fp) end").as("fdr_permille"))
    }),

    // order-2 Granger on the IRREGULAR path (q330 runs order-L on the
    // regular A1 clock; q314 runs the irregular path at lag 1 only): a
    // B2 kernel dump — irregular exponential-gap spine, mixed noise —
    // aligned by TWO nearest-lag passes (lagMult 1 and 2 over the
    // spine, the a2.py lookup), then the SAME grangerMulti
    // sufficient-stats + Frisch-Waugh elimination contract as q330 at
    // L=2. B2's cubic-dropped quirk leaves PURE even-power links
    // (X4 = 0.25·X1[t−2]²…), which a linear regressor cannot see at all
    // (corr(X, X²) = 0 for a symmetric series) — so the tested cause
    // lags enter SQUARED (second-moment Granger; own-effect lags stay
    // linear), recovering the declared lag-2 X1→X4 edge the lag-1 test
    // cannot. Centi quantization keeps v² ≤ ~1e4 and every elimination
    // product inside the 10³⁸ budget. F crit 300 centi = F(2,∞) at 5%
    "q334_granger_multilag_irregular" -> ((s, d) => {
      val cfg = Grid.forFamily("B2").find(c =>
        c.nPoints == 5000 && c.nVars == 4 && c.maxLag == 2 &&
          c.mixRatio == 0.5).get
      val gen = dumpGen(s, "q334_gen",
        Generate.wideFast(s, Seq(cfg)).select(
          col("t"), col("time"), col("X1"), col("X2"), col("X3"),
          col("X4")))
      val spine = gen.select(col("t"), col("time"))
      val lx1 = graft.ops.Lagged.nearestLagIndexView(spine, "t", "time",
          Nil, 1).withColumnRenamed("lag_idx", "li1").localCheckpoint(false)
      val lx2 = graft.ops.Lagged.nearestLagIndexView(spine, "t", "time",
          Nil, 2).withColumnRenamed("lag_idx", "li2").localCheckpoint(false)
      val pan = (1 to 4).map(i =>
        gen.select(lit(s"X$i").as("series"), col("t"),
            floor(col(s"X$i") * 100).cast("long").as("v")))
        .reduce(_ unionByName _).localCheckpoint(false)
      val y = pan.select(col("series").as("effect"), col("t"),
        col("v").as("y"))
      val ep1 = pan.select(col("series").as("effect"),
        col("t").as("li1"), col("v").as("p1"))
      val ep2 = pan.select(col("series").as("effect"),
        col("t").as("li2"), col("v").as("p2"))
      val cq1 = pan.select(col("series").as("cause"),
        col("t").as("li1"), (col("v") * col("v")).as("q1"))
      val cq2 = pan.select(col("series").as("cause"),
        col("t").as("li2"), (col("v") * col("v")).as("q2"))
      val lagged = lx1.join(lx2, Seq("t"))
        .join(broadcast(y), Seq("t"))
        .join(broadcast(ep1), Seq("effect", "li1"))
        .join(broadcast(ep2), Seq("effect", "li2"))
        .join(broadcast(cq1), Seq("li1"))
        .join(broadcast(cq2), Seq("cause", "li2"))
        .where(col("cause") =!= col("effect"))
        .select(col("cause"), col("effect"), col("y"),
          col("p1"), col("p2"), col("q1"), col("q2"))
      graft.metrics.Causal.grangerMultiDecide(
          graft.metrics.Causal.grangerMultiSums(lagged, 2), 2, 300L)
        .withColumn("truth_any", expr(grangerTruthCaseAnyLag("B2", 4, 2)))
    }),

    // TF-IDF top-keyword extraction: per-document argmax of
    // tf·idf_bits with the BM25 family's bit-length idf
    // (length(bin(n_docs div df)) — the shared quantized log), argmax
    // tie-broken lexicographically-last via one max(struct) aggregate
    // (no per-doc window sort); census of how often each keyword tops a
    // document, bounded top-20
    "q310_tfidf_keywords" -> ((s, d) => {
      val tok = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val tf = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val nd = documents(s, d).agg(count(lit(1)).as("n_docs"))
      val top = tf.join(df, Seq("tok")).crossJoin(broadcast(nd))
        .withColumn("score",
          expr("tf * length(bin(n_docs div df))"))
        .groupBy("doc_id")
        .agg(max(struct(col("score"), col("tok"))).as("t"))
        .select(col("t.tok").as("keyword"))
      top.groupBy("keyword").agg(count(lit(1)).as("n_docs_top"))
        .orderBy(col("n_docs_top").desc, col("keyword")).limit(20)
    }),

    // Ljung-Box whiteness audit per series (k = 1..3): autocovariances on
    // EXACT scaled deviations d_t = n·v_t − Σv (no truncated mean ever
    // enters), Q compared cross-multiplied against χ²₃ at 5% —
    // 1000·n·(n+2)·Σ_k c_k²·Π_{j≠k}(n−j) > 7815·Π_k(n−k)·c₀² — the
    // residual-diagnostics companion to the q301 stationarity audit
    "q306_ljung_box" -> ((s, d) => {
      val p = graft.metrics.Causal.dailyMeanPanel(events(s, d))
      val w = Window.partitionBy("series").orderBy("day")
      val st = p.groupBy("series").agg(count(lit(1)).as("n"),
        sum("v").as("sv"))
      val dev = p.join(broadcast(st), Seq("series"))
        .select(col("series"), col("n"), col("day"),
          (col("n") * col("v") - col("sv")).as("dt"))
      val lagd = dev.select(col("series"), col("n"), col("dt"),
        lag("dt", 1).over(w).as("d1"), lag("dt", 2).over(w).as("d2"),
        lag("dt", 3).over(w).as("d3"))
      lagd.groupBy("series", "n").agg(
          sum((col("dt") * col("dt")).cast("decimal(38,0)")).as("c0"),
          sum((col("dt") * col("d1")).cast("decimal(38,0)")).as("c1"),
          sum((col("dt") * col("d2")).cast("decimal(38,0)")).as("c2"),
          sum((col("dt") * col("d3")).cast("decimal(38,0)")).as("c3"))
        .select(col("series"), col("n"),
          col("c0").cast("long").as("c0"),
          col("c1").cast("long").as("c1"),
          col("c2").cast("long").as("c2"),
          col("c3").cast("long").as("c3"),
          expr("""case when 1000 * n * (n + 2) *
                 |    (cast(c1 as decimal(38,0)) * c1 * (n-2) * (n-3)
                 |      + cast(c2 as decimal(38,0)) * c2 * (n-1) * (n-3)
                 |      + cast(c3 as decimal(38,0)) * c3 * (n-1) * (n-2))
                 |  > 7815 * (n-1) * (n-2) * (n-3)
                 |    * cast(c0 as decimal(38,0)) * c0
                 |then 0 else 1 end""".stripMargin).as("white"))
    })
  )
}
