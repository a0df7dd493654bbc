package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Causal-discovery ANALYSIS operators over aligned multivariate panels —
  * the consumer-side counterpart of the generator families (the reference
  * produces benchmark corpora FOR causal-discovery tools; these operators
  * run the discovery step itself, Spark-native, so generated data can be
  * scored end-to-end without leaving the engine — cf. the reference's
  * Tetrad/Tigramite/TCDF result converters, metrics_helper.py:7-138,
  * which only INGEST external tool output).
  *
  * Everything is an exact-integer contract: sufficient statistics are
  * integer sums in DECIMAL(38,0) (HUGEINT on the DuckDB side), every
  * division is a truncating `div` at a declared point, and every
  * significance test is a cross-multiplied rational comparison — so the
  * census of decisions hashes bitwise against the oracle.
  *
  * Scale shape: the ONLY fact-scale stage is the (series, day) aggregation
  * — one map-side-combined shuffle at 100 TB. Pairing, lagging, and all
  * test arithmetic run on the #series × #days panel (here 5 × 30; at a
  * 1e5-sensor deployment the pairwise stage is O(S²·D) and callers select
  * the candidate pair set first — the contract takes the panel, not the
  * fact table, precisely so that selection composes upstream).
  */
object Causal {

  /** Milli-unit daily mean per (series, day): sum of micro values div
    * (1000 × count). Means, not sums, so the integer magnitudes are
    * invariant to corpus scale — the downstream C-statistics stay ~1e13
    * and their pairwise products inside DECIMAL(38,0) at any sf.
    * `ev` must carry (event_type, ts long-ns, value double).
    */
  def dailyMeanPanel(ev: DataFrame): DataFrame =
    ev.select(col("event_type").as("series"),
        expr("(ts div 1000) div 86400000000").as("day"),
        graft.ops.ExactStats.micro(col("value")).cast("long").as("vm"))
      .groupBy("series", "day")
      .agg(expr("sum(vm) div (count(1) * 1000)").as("v"))

  /** Pairwise lag-1 Granger census over an aligned panel (series, day,
    * v:long). For every ordered pair (cause, effect): regress y_t on
    * [1, y_{t-1}] (restricted) vs [1, y_{t-1}, x_{t-1}] (unrestricted) via
    * centered cross-moment integers C_ab = n·Σab − Σa·Σb, reduce the
    * 3-parameter fit with one Frisch–Waugh step (partial out y_{t-1}), and
    * decide with the cross-multiplied F test
    * 100·(n−3)·gain > fCritCenti·RSS_u — no division ever touches the
    * decision. RSS values are n²-scaled (both sides equally, F unchanged).
    */
  def grangerLag1(panel: DataFrame, fCritCenti: Long = 422L): DataFrame = {
    val sums = grangerSums(panel)
    grangerDecide(sums, fCritCenti)
  }

  /** The per-ordered-pair sufficient statistics for lag-1 Granger:
    * align on day (inner join — both series observed), lag within the
    * joined pair panel, then one aggregation to 10 integer sums.
    */
  def grangerSums(panel: DataFrame): DataFrame =
    grangerSumsFromLagged(grangerLagged(panel))

  /** The regular-clock lagged pair tuples grangerSums aggregates —
    * split out so the streaming monitor (q344) feeds the EXACT same
    * alignment through its micro-batches: (cause, effect, day, yv,
    * pv = effect's lag-1, qv = cause's lag-1), day-0 rows carrying NULL
    * lags (the sums stage filters them).
    */
  def grangerLagged(panel: DataFrame): DataFrame = {
    val x = panel.select(col("series").as("cause"), col("day"),
      col("v").as("xv"))
    val y = panel.select(col("series").as("effect"), col("day"),
      col("v").as("yv"))
    // panel-sized join: broadcast the cause side (S·D rows, tiny vs fact)
    val j = y.join(broadcast(x), Seq("day"))
      .where(col("cause") =!= col("effect"))
    val w = Window.partitionBy("cause", "effect").orderBy("day")
    j.select(col("cause"), col("effect"), col("day"),
      col("yv"), lag("yv", 1).over(w).as("pv"),
      lag("xv", 1).over(w).as("qv"))
  }

  /** The same 10 sufficient sums over a PREBUILT lagged pair table
    * (cause, effect, yv, pv, qv) — the irregular/nearest-lag path (q314)
    * supplies its own lag alignment instead of the row-shift window.
    */
  def grangerSumsFromLagged(lagged: DataFrame): DataFrame =
    lagged.where(col("pv").isNotNull)
      .groupBy("cause", "effect").agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(col("yv").cast("decimal(38,0)")).as("sy"),
      sum(col("pv").cast("decimal(38,0)")).as("sp"),
      sum(col("qv").cast("decimal(38,0)")).as("sq"),
      sum((col("yv") * col("yv")).cast("decimal(38,0)")).as("syy"),
      sum((col("pv") * col("pv")).cast("decimal(38,0)")).as("spp"),
      sum((col("qv") * col("qv")).cast("decimal(38,0)")).as("sqq"),
      sum((col("yv") * col("pv")).cast("decimal(38,0)")).as("syp"),
      sum((col("yv") * col("qv")).cast("decimal(38,0)")).as("syq"),
      sum((col("pv") * col("qv")).cast("decimal(38,0)")).as("spq"))

  /** Decision arithmetic from the sufficient sums — shared by the events
    * census (q269) and the planted-recovery capstone (q271). Output longs:
    * the C-statistics top out ~1e13 (milli panel) so every post-div value
    * fits BIGINT; only the intermediate products need DECIMAL(38,0).
    */
  def grangerDecide(sums: DataFrame, fCritCenti: Long): DataFrame =
    sums
      .withColumn("cyy", expr("n*syy - sy*sy"))
      .withColumn("cpp", expr("n*spp - sp*sp"))
      .withColumn("cqq", expr("n*sqq - sq*sq"))
      .withColumn("cyp", expr("n*syp - sy*sp"))
      .withColumn("cyq", expr("n*syq - sy*sq"))
      .withColumn("cpq", expr("n*spq - sp*sq"))
      .withColumn("rss_r", expr(
        "cyy - (case when cpp = 0 then 0 else (cyp*cyp) div cpp end)"))
      .withColumn("cyq_p", expr(
        "cyq - (case when cpp = 0 then 0 else (cpq*cyp) div cpp end)"))
      .withColumn("cqq_p", expr(
        "cqq - (case when cpp = 0 then 0 else (cpq*cpq) div cpp end)"))
      .withColumn("gain", expr(
        "case when cqq_p <= 0 then 0 else (cyq_p*cyq_p) div cqq_p end"))
      .withColumn("rss_u", expr("rss_r - gain"))
      .withColumn("granger", expr(
        s"""case when n > 3 and gain > 0
           |  and 100 * (n - 3) * gain > $fCritCenti * rss_u
           |then 1 else 0 end""".stripMargin))
      .select(col("cause"), col("effect"),
        col("n").cast("long").as("n"),
        col("cyy").cast("long").as("cyy"),
        col("rss_r").cast("long").as("rss_r"),
        col("rss_u").cast("long").as("rss_u"),
        col("gain").cast("long").as("f_gain"),
        col("granger").cast("int").as("granger"))

  /** The same Granger contract as ANSI SQL, as a WITH-fragment over a CTE
    * `\$panel(series, day, v)` — embedded verbatim in the q269/q271 DuckDB
    * oracles so Spark and oracle share one arithmetic by construction.
    * Yields a CTE named `granger_out`.
    */
  def grangerSqlCtes(panel: String, fCritCenti: Long = 422L): String =
    s"""gr_j AS (
       |  SELECT x.series AS cause, y.series AS effect, y.day,
       |    y.v AS yv, x.v AS xv
       |  FROM $panel y JOIN $panel x USING (day)
       |  WHERE x.series <> y.series),
       |gr_lag AS (
       |  SELECT cause, effect, yv,
       |    lag(yv) OVER (PARTITION BY cause, effect ORDER BY day) AS pv,
       |    lag(xv) OVER (PARTITION BY cause, effect ORDER BY day) AS qv
       |  FROM gr_j),
       |${grangerDecideSqlCtes("gr_lag", fCritCenti)}""".stripMargin

  /** The sums→decision tail of [[grangerSqlCtes]] over ANY lagged-pair CTE
    * `\$lagCte(cause, effect, yv, pv, qv)` — mirrors
    * [[grangerSumsFromLagged]] + [[grangerDecide]]; the nearest-lag
    * irregular capstone (q314) builds its own alignment CTE and reuses
    * this tail verbatim. Yields a CTE named `granger_out`.
    */
  def grangerDecideSqlCtes(lagCte: String, fCritCenti: Long = 422L): String =
    s"""gr_sums AS (
       |  SELECT cause, effect, count(*)::HUGEINT AS n,
       |    sum(yv)::HUGEINT AS sy, sum(pv)::HUGEINT AS sp,
       |    sum(qv)::HUGEINT AS sq,
       |    sum(yv::HUGEINT * yv) AS syy, sum(pv::HUGEINT * pv) AS spp,
       |    sum(qv::HUGEINT * qv) AS sqq, sum(yv::HUGEINT * pv) AS syp,
       |    sum(yv::HUGEINT * qv) AS syq, sum(pv::HUGEINT * qv) AS spq
       |  FROM $lagCte WHERE pv IS NOT NULL GROUP BY 1, 2),
       |gr_c AS (
       |  SELECT cause, effect, n,
       |    n*syy - sy*sy AS cyy, n*spp - sp*sp AS cpp,
       |    n*sqq - sq*sq AS cqq, n*syp - sy*sp AS cyp,
       |    n*syq - sy*sq AS cyq, n*spq - sp*sq AS cpq
       |  FROM gr_sums),
       |gr_fw AS (
       |  SELECT cause, effect, n, cyy,
       |    cyy - (CASE WHEN cpp = 0 THEN 0 ELSE (cyp*cyp) // cpp END)
       |      AS rss_r,
       |    cyq - (CASE WHEN cpp = 0 THEN 0 ELSE (cpq*cyp) // cpp END)
       |      AS cyq_p,
       |    cqq - (CASE WHEN cpp = 0 THEN 0 ELSE (cpq*cpq) // cpp END)
       |      AS cqq_p
       |  FROM gr_c),
       |gr_g AS (
       |  SELECT cause, effect, n, cyy, rss_r,
       |    CASE WHEN cqq_p <= 0 THEN 0 ELSE (cyq_p*cyq_p) // cqq_p END
       |      AS gain
       |  FROM gr_fw),
       |granger_out AS (
       |  SELECT cause, effect, n::BIGINT AS n, cyy::BIGINT AS cyy,
       |    rss_r::BIGINT AS rss_r, (rss_r - gain)::BIGINT AS rss_u,
       |    gain::BIGINT AS f_gain,
       |    (CASE WHEN n > 3 AND gain > 0
       |       AND 100 * (n - 3) * gain > $fCritCenti * (rss_r - gain)
       |     THEN 1 ELSE 0 END)::INT AS granger
       |  FROM gr_g)""".stripMargin

  // ---------------------------------------------------------------------
  // Multi-lag Granger (order-L VAR F-test)
  // ---------------------------------------------------------------------

  /** Variable order for the order-L test: the regressand `y`, the L
    * restricted regressors `p1..pL` (effect's own lags), then the L
    * tested regressors `q1..qL` (cause's lags). Elimination runs in this
    * order after `y`, so the restricted RSS materializes exactly when the
    * last `p` is partialled out.
    */
  private def mlVars(l: Int): Vector[String] =
    ("y" +: ((1 to l).map(i => s"p$i") ++ (1 to l).map(i => s"q$i"))).toVector

  /** Canonical centered-moment column name for the unordered pair (a,b)
    * at elimination step k: `k{k}_{a}_{b}` with a before b in mlVars
    * order — step-suffixed so no select list ever reuses a live name
    * (lateral alias resolution differs between engines).
    */
  private def mlC(k: Int, a: String, b: String, vars: Vector[String]): String = {
    val (x, y) =
      if (vars.indexOf(a) <= vars.indexOf(b)) (a, b) else (b, a)
    s"k${k}_${x}_$y"
  }

  private def mlPairs(rem: Vector[String], vars: Vector[String]) =
    for { (a, i) <- rem.zipWithIndex; b <- rem.drop(i) } yield (a, b)

  /** The shared arithmetic strings for one Frisch–Waugh elimination step:
    * partial variable z out of every remaining pair,
    *   C'_ab = C_ab − (C_az·C_bz) div C_zz   (0 when C_zz ≤ 0),
    * rendered identically into Spark (`divOp = "div"`) and DuckDB
    * (`divOp = "//"`) — both truncate toward zero, negatives included.
    */
  private def mlStepExprs(k: Int, rem: Vector[String], z: String,
      vars: Vector[String], divOp: String): Seq[String] =
    mlPairs(rem, vars).map { case (a, b) =>
      val cab = mlC(k - 1, a, b, vars); val caz = mlC(k - 1, a, z, vars)
      val cbz = mlC(k - 1, b, z, vars); val czz = mlC(k - 1, z, z, vars)
      s"$cab - (CASE WHEN $czz <= 0 THEN 0 ELSE " +
        s"($caz * $cbz) $divOp $czz END) AS ${mlC(k, a, b, vars)}"
    }

  /** Order-L Granger census over an aligned panel (series, day, v:long):
    * for every ordered pair, regress y_t on [1, y_{t-1..L}] (restricted)
    * vs [1, y_{t-1..L}, x_{t-1..L}] (unrestricted) entirely in centered
    * cross-moment integers — 2L sequential Frisch–Waugh eliminations over
    * the (2L+1)×(2L+1) moment matrix, each a truncating-div rational step
    * mirrored bit-for-bit in the SQL twin — and decide with the
    * cross-multiplied joint F test
    *   100·(n−2L−1)·gain > fCritCenti·L·RSS_u.
    * Every post-elimination statistic is bounded by the step-0 moments
    * (~n²·v² ≈ 2.5e15 at a 5k-row milli panel), products peak ~6e30
    * inside DECIMAL(38,0)/HUGEINT. Default fCritCenti 237 = F(4,∞) at
    * α=0.05. Scale shape: identical to [[grangerLag1]] — the only
    * fact-scale stage is upstream panel construction; everything here is
    * S²-pair arithmetic with one small aggregate.
    */
  def grangerMulti(panel: DataFrame, l: Int,
      fCritCenti: Long = 237L): DataFrame = {
    val x = panel.select(col("series").as("cause"), col("day"),
      col("v").as("xv"))
    val y = panel.select(col("series").as("effect"), col("day"),
      col("v").as("yv"))
    val j = y.join(broadcast(x), Seq("day"))
      .where(col("cause") =!= col("effect"))
    val w = Window.partitionBy("cause", "effect").orderBy("day")
    val lagged = j.select(Seq(col("cause"), col("effect"), col("day"),
      col("yv").as("y")) ++
      (1 to l).map(i => lag("yv", i).over(w).as(s"p$i")) ++
      (1 to l).map(i => lag("xv", i).over(w).as(s"q$i")): _*)
    grangerMultiDecide(grangerMultiSums(lagged, l), l, fCritCenti)
  }

  /** The (2L+1)-variable sufficient sums over a lagged pair table with
    * columns (cause, effect, y, p1..pL, q1..qL): rows where every lag
    * resolved, one aggregation to 1 + (2L+1) + (2L+2)(2L+1)/2 integers.
    */
  def grangerMultiSums(lagged: DataFrame, l: Int): DataFrame = {
    val vars = mlVars(l)
    val aggs =
      Seq(count(lit(1)).cast("decimal(38,0)").as("n")) ++
      vars.map(v => sum(col(v).cast("decimal(38,0)")).as(s"s_$v")) ++
      // widen BEFORE the product (the HUGEINT-before-multiply ordering of
      // the SQL twin): a LONG·LONG product would silently wrap past
      // |v| ≈ 3e9 where DECIMAL(38,0)·DECIMAL(38,0) cannot
      mlPairs(vars, vars).map { case (a, b) =>
        sum(col(a).cast("decimal(38,0)") *
          col(b).cast("decimal(38,0)")).as(s"m_${a}_$b") }
    lagged
      .where(vars.tail.map(col(_).isNotNull).reduce(_ && _))
      .groupBy("cause", "effect").agg(aggs.head, aggs.tail: _*)
  }

  /** Sums → decision for the order-L test; Spark twin of
    * [[grangerMultiDecideSqlCtes]] (same generated strings, `div` token).
    */
  def grangerMultiDecide(sums: DataFrame, l: Int,
      fCritCenti: Long): DataFrame = {
    val vars = mlVars(l)
    val c0 = mlPairs(vars, vars).map { case (a, b) =>
      expr(s"n*m_${a}_$b - s_$a*s_$b").as(mlC(0, a, b, vars)) }
    var df = sums.select(Seq(col("cause"), col("effect"), col("n"),
      expr("n*m_y_y - s_y*s_y").as("cyy")) ++ c0: _*)
    var rem = vars
    val elim = vars.tail
    elim.zipWithIndex.foreach { case (z, i) =>
      val k = i + 1
      rem = rem.filterNot(_ == z)
      val carry = Seq("cause", "effect", "n", "cyy").map(col) ++
        (if (k == l + 1) Seq(col(mlC(l, "y", "y", vars)).as("rss_r"))
         else if (k > l + 1) Seq(col("rss_r")) else Nil)
      df = df.select(carry ++ mlStepExprs(k, rem, z, vars, "div").map(expr): _*)
    }
    val kp = 2 * l + 1 // parameters of the unrestricted fit (incl. mean)
    df
      .withColumn("rss_u", col(mlC(2 * l, "y", "y", vars)))
      .withColumn("gain", expr("rss_r - rss_u"))
      .withColumn("granger", expr(
        s"""case when n > $kp and gain > 0
           |  and 100 * (n - $kp) * gain > $fCritCenti * $l * rss_u
           |then 1 else 0 end""".stripMargin))
      .select(col("cause"), col("effect"),
        col("n").cast("long").as("n"),
        col("cyy").cast("long").as("cyy"),
        col("rss_r").cast("long").as("rss_r"),
        col("rss_u").cast("long").as("rss_u"),
        col("gain").cast("long").as("f_gain"),
        col("granger").cast("int").as("granger"))
  }

  /** The order-L contract as ANSI SQL over a CTE `\$panel(series, day,
    * v)` — pair join + L window lags, then the generated sums/elimination
    * CTE chain. Yields a CTE named `granger_ml_out`.
    */
  def grangerMultiSqlCtes(panel: String, l: Int,
      fCritCenti: Long = 237L): String = {
    val lagSel =
      ((1 to l).map(i => s"lag(yv, $i) OVER w AS p$i") ++
       (1 to l).map(i => s"lag(xv, $i) OVER w AS q$i")).mkString(",\n    ")
    s"""gm_j AS (
       |  SELECT x.series AS cause, y.series AS effect, y.day,
       |    y.v AS yv, x.v AS xv
       |  FROM $panel y JOIN $panel x USING (day)
       |  WHERE x.series <> y.series),
       |gm_lag AS (
       |  SELECT cause, effect, yv AS y,
       |    $lagSel
       |  FROM gm_j
       |  WINDOW w AS (PARTITION BY cause, effect ORDER BY day)),
       |${grangerMultiDecideSqlCtes("gm_lag", l, fCritCenti)}""".stripMargin
  }

  /** Sums → decision as DuckDB CTEs over ANY lagged table `\$lagCte(cause,
    * effect, y, p1..pL, q1..qL)` — the same generated elimination strings
    * as [[grangerMultiDecide]] with the `//` token. Yields
    * `granger_ml_out`.
    */
  def grangerMultiDecideSqlCtes(lagCte: String, l: Int,
      fCritCenti: Long = 237L): String = {
    val vars = mlVars(l)
    val sumSel =
      (vars.map(v => s"sum($v)::HUGEINT AS s_$v") ++
       mlPairs(vars, vars).map { case (a, b) =>
         s"sum($a::HUGEINT * $b) AS m_${a}_$b" }).mkString(",\n    ")
    val notNull = vars.tail.map(v => s"$v IS NOT NULL").mkString(" AND ")
    val c0 = mlPairs(vars, vars).map { case (a, b) =>
      s"n*m_${a}_$b - s_$a*s_$b AS ${mlC(0, a, b, vars)}" }
      .mkString(",\n    ")
    val sb = new StringBuilder
    sb.append(
      s"""gml_sums AS (
         |  SELECT cause, effect, count(*)::HUGEINT AS n,
         |    $sumSel
         |  FROM $lagCte WHERE $notNull GROUP BY 1, 2),
         |gml_st0 AS (
         |  SELECT cause, effect, n, n*m_y_y - s_y*s_y AS cyy,
         |    $c0
         |  FROM gml_sums)""".stripMargin)
    var rem = vars
    val elim = vars.tail
    elim.zipWithIndex.foreach { case (z, i) =>
      val k = i + 1
      rem = rem.filterNot(_ == z)
      val carry = Seq("cause", "effect", "n", "cyy") ++
        (if (k == l + 1) Seq(s"${mlC(l, "y", "y", vars)} AS rss_r")
         else if (k > l + 1) Seq("rss_r") else Nil)
      val sel = (carry ++ mlStepExprs(k, rem, z, vars, "//"))
        .mkString(",\n    ")
      sb.append(
        s""",
           |gml_st$k AS (
           |  SELECT $sel
           |  FROM gml_st${k - 1})""".stripMargin)
    }
    val kp = 2 * l + 1
    val uy = mlC(2 * l, "y", "y", vars)
    sb.append(
      s""",
         |granger_ml_out AS (
         |  SELECT cause, effect, n::BIGINT AS n, cyy::BIGINT AS cyy,
         |    rss_r::BIGINT AS rss_r, $uy::BIGINT AS rss_u,
         |    (rss_r - $uy)::BIGINT AS f_gain,
         |    (CASE WHEN n > $kp AND rss_r - $uy > 0
         |       AND 100 * (n - $kp) * (rss_r - $uy) >
         |         $fCritCenti * $l * $uy
         |     THEN 1 ELSE 0 END)::INT AS granger
         |  FROM gml_st${2 * l})""".stripMargin)
    sb.toString
  }

  /** Spearman rank panel: each series' daily values → ranks 1..n_s
    * (row_number ordered by (v, day) — the day tiebreak makes ranks a
    * deterministic permutation even under ties). Rank magnitudes are
    * bounded by #days regardless of corpus scale, which is what lets the
    * PC partial-correlation test run four-C-product integer arithmetic
    * inside DECIMAL(38,0).
    */
  def rankPanel(panel: DataFrame): DataFrame =
    panel.select(col("series"), col("day"),
      row_number().over(
        Window.partitionBy("series").orderBy("v", "day")).as("r"))

  /** All-ordered-pairs centered rank cross-moments C_ab = n·Σr_a r_b −
    * Σr_a·Σr_b over the days BOTH series observe (pairwise-complete).
    * Includes the diagonal (a = b) — the variances the tests normalize by.
    * Output is S² rows; downstream joins all broadcast.
    *
    * `broadcastB`: a single-graph panel is a few thousand rows, where
    * broadcasting the self-join's build side beats a 32-partition
    * exchange on scheduling overhead alone (the default). A
    * corpus-scale FOLDED panel (thousands of graphs in one frame via
    * q340's key trick) is megarows — pass false and the day join
    * becomes a partitioned shuffle join, the shape a real cluster
    * needs; results are identical either way.
    */
  def rankCrossMoments(ranked: DataFrame,
      broadcastB: Boolean = true): DataFrame = {
    val a = ranked.select(col("series").as("sa"), col("day"),
      col("r").as("ra"))
    val b0 = ranked.select(col("series").as("sb"), col("day"),
      col("r").as("rb"))
    val b = if (broadcastB) broadcast(b0) else b0
    centeredCrossMoments(a.join(b, Seq("day")), "sa", "sb", "ra", "rb")
  }

  /** The fact-scale moment aggregate every cross-moment op ends in: per
    * (k1, k2) group of an already-joined frame, n = count(*) and
    * c = n·Σab − Σa·Σb (output columns k1, k2, n, c).
    *
    * The sums accumulate in LONG, not DECIMAL(38,0): this is the hottest
    * aggregation the engine runs (every pc* and estimation/inference
    * consumer; the dense p=256 rung pushes 650M joined rows through it),
    * and a decimal buffer costs a non-compact Decimal allocation per row
    * while buying no range the output contract allows. Budgets:
    *  - ranks ([[rankCrossMoments]]): r ≤ n, so Σr_a r_b ≤ n³; C must fit
    *    the long it is cast to, i.e. n⁴ ≲ 2⁶³ ⇒ n ≤ ~55k per co-observed
    *    pair, where n³ fits a long sum with 5 decimal orders to spare.
    *  - values ([[virtualCrossMoments]], [[virtualCrossMomentsSparse]]):
    *    Σ|v_a·v_b| < 2⁶³ per pair, i.e. n·max|v|² ≤ 9.2e18 — at the
    *    documented n ≤ 5·10⁴ milli-quantization window that allows
    *    |v| ≤ 1.3e7 (|X| ≤ 13,000 pre-milli), two orders above the ±1e3
    *    clamp every caller applies.
    * `a` is widened to long before the product: row_number ranks are
    * IntegerType, and an int·int product overflows (ANSI error) past
    * n = 46,341, one notch inside the rank budget; on LONG values the
    * cast is a no-op. Only the n·Σab − Σa·Σb combine needs 128-bit
    * width, and it runs once per OUTPUT pair on decimal casts. Values are
    * bitwise identical to DECIMAL(38,0) buffers inside the budget
    * (MomentSumSpec pins both boundaries); outside it ANSI fails loudly.
    */
  private def centeredCrossMoments(joined: DataFrame, k1: String,
      k2: String, a: String, b: String): DataFrame =
    joined.groupBy(k1, k2)
      .agg(count(lit(1)).as("n"),
        sum(col(a)).as("s_a"),
        sum(col(b)).as("s_b"),
        sum(col(a).cast("long") * col(b)).as("s_ab"))
      .select(col(k1), col(k2), col("n"),
        expr("""cast(cast(n as decimal(38,0)) * s_ab
               |  - cast(s_a as decimal(38,0)) * s_b as long)""".stripMargin)
          .as("c"))

  /** PC-algorithm skeleton to conditioning order 1 over the Spearman rank
    * panel. Order 0 drops {a,b} when 10000·C_ab² ≤ tauSqBp·C_aa·C_bb
    * (|ρ| ≤ τ with τ² in basis points); order 1 drops a surviving pair
    * when some z ∉ {a,b} has
    * 10000·(C_ab C_zz − C_az C_bz)² ≤
    *   tauSqBp·(C_aa C_zz − C_az²)(C_bb C_zz − C_bz²)
    * — the partial correlation ρ_ab·z squared, fully rational, cross-
    * multiplied. sepset = lexicographically-least separating z.
    */
  /** Materialize a panel-grain frame AND reset its statistics. Spark 4's
    * `localCheckpoint` copies the pre-checkpoint plan's ESTIMATED
    * `sizeInBytes` into the resulting `LogicalRDD`; in an iterated-join
    * algorithm those estimates compound multiplicatively across rounds
    * (size(join) = Πsize(child) over `defaultSizeInBytes` ≈ 9e18 leaves),
    * and the driver ends up multiplying BigInts with MILLIONS of digits
    * inside `SizeInBytesOnlyStatsPlanVisitor.visitJoin` — measured 160 s
    * of pure stats arithmetic at 4 Meek rounds. Rebuilding the frame from
    * the materialized RDD drops the poisoned estimate back to the
    * default. Only for ≤ p²-row frames: the Row round-trip is O(rows).
    */
  private def pinTiny(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  def pcSkeleton(panel: DataFrame, tauSqBp: Long = 625L,
      broadcastRankJoin: Boolean = true): DataFrame =
    pcSkeletonMoments(pcMoments(panel, broadcastRankJoin), tauSqBp)

  /** The canonical τ² stability ladder in basis points: τ = 0.05, 0.10,
    * 0.15, 0.20, 0.25 ([[pcSkeleton]]'s default), 0.30 — ONE value
    * shared by the q342 query/oracle pair and Bench's catalog sweep
    * rung, so the benched ladder can never silently drift from the
    * correctness-gated one.
    */
  val TauSweepBps: Seq[Long] = Seq(25L, 100L, 225L, 400L, 625L, 900L)

  /** PC-skeleton THRESHOLD-STABILITY sweep (the StARS-style sensitivity
    * analysis): the rank cross-moments are τ-free, so ONE fact-scale
    * pass feeds the order-≤1 decision stage at every τ² in `tauSqBps`.
    * Output: [[pcSkeleton]]'s columns plus `tau_sq_bp`. Both decision
    * stages are monotone in τ (keep0 can only drop as τ grows, a
    * separating z can only appear), so the per-τ edge sets are NESTED —
    * an edge that vanishes early is a threshold artifact, one that
    * survives the whole ladder is structural. Pinned by spec.
    * `broadcastRankJoin` as in [[pcSkeleton]]: pass false for folded
    * megarow panels where broadcasting the rank self-join's build side
    * is the single-node shortcut a cluster plan must not take.
    */
  def pcSkeletonTauSweep(panel: DataFrame, tauSqBps: Seq[Long],
      broadcastRankJoin: Boolean = true): DataFrame = {
    require(tauSqBps.nonEmpty, "tauSqBps must be non-empty")
    val cm = pcMoments(panel, broadcastRankJoin)
    tauSqBps.map(t =>
        pcSkeletonMoments(cm, t).withColumn("tau_sq_bp", lit(t)))
      .reduce(_ unionByName _)
  }

  /** The moments→skeleton stage of [[pcSkeleton]], split out so
    * [[pcSkeleton2]] can reuse one fact-scale cross-moment pass for both
    * the order-≤1 decisions and the order-2 cofactor tests.
    */
  /** Shared order-0 stage: every co-observed pair (a < b) with its
    * cross/diagonal moments and the keep0 decision — the frame both the
    * unrestricted and the PC-stable skeletons build on.
    */
  private def pcPairs0(cm: DataFrame, tauSqBp: Long): DataFrame = {
    def cAs(na: String, nb: String, out: String): DataFrame =
      cm.select(col("sa").as(na), col("sb").as(nb), col("c").as(out))
    cm.where(col("sa") < col("sb"))
      .select(col("sa").as("a"), col("sb").as("b"), col("n"),
        col("c").as("cab"))
      .join(broadcast(cAs("a", "a2", "caa")).where(col("a") === col("a2"))
        .drop("a2"), Seq("a"))
      .join(broadcast(cAs("b", "b2", "cbb")).where(col("b") === col("b2"))
        .drop("b2"), Seq("b"))
      .withColumn("keep0", expr(
        s"""case when 10000 * cast(cab as decimal(38,0)) * cab >
           |  $tauSqBp * cast(caa as decimal(38,0)) * cbb
           |then 1 else 0 end""".stripMargin))
  }

  /** The order-1 partial-correlation separation decision (ρ²_ab·z ≤ τ²,
    * cross-multiplied in DECIMAL(38,0)) over a frame carrying
    * cab/caa/cbb/caz/cbz/czz — shared by both skeleton variants.
    */
  private def sep1Expr(tauSqBp: Long) = expr(
    s"""case when 10000 *
       |    (cast(cab as decimal(38,0))*czz - cast(caz as decimal(38,0))*cbz) *
       |    (cast(cab as decimal(38,0))*czz - cast(caz as decimal(38,0))*cbz)
       |  <= $tauSqBp *
       |    (cast(caa as decimal(38,0))*czz - cast(caz as decimal(38,0))*caz) *
       |    (cast(cbb as decimal(38,0))*czz - cast(cbz as decimal(38,0))*cbz)
       |then 1 else 0 end""".stripMargin)

  private[metrics] def pcSkeletonMoments(cm: DataFrame,
      tauSqBp: Long): DataFrame = {
    def cAs(na: String, nb: String, out: String): DataFrame =
      cm.select(col("sa").as(na), col("sb").as(nb), col("c").as(out))
    val pairs = pcPairs0(cm, tauSqBp)
    val zs = cm.where(col("sa") === col("sb"))
      .select(col("sa").as("z"), col("c").as("czz"))
    // conditioning candidates are ENUMERATED from the moment table, not
    // cross-joined: a usable z must have (a,z) and (b,z) cross-moment
    // rows anyway (the inner joins below demanded them), so starting
    // from the (a,z) rows yields the identical triple set while keeping
    // the fan-out per pair at the z's a actually co-observes. Under the
    // multi-graph fold (q340: many disjoint graphs via key-prefixed
    // series sharing no days) this is what keeps the stage linear in
    // the graph count — a crossJoin against ALL graphs' diagonals would
    // be quadratic across configs
    val trip = pairs.where(col("keep0") === 1)
      .join(broadcast(cAs("a", "z", "caz")), Seq("a"))
      .where(col("z") =!= col("a") && col("z") =!= col("b"))
      .join(broadcast(cAs("b", "z", "cbz")), Seq("b", "z"))
      .join(broadcast(zs), Seq("z"))
      .withColumn("sep", sep1Expr(tauSqBp))
    val sepsets = trip.groupBy("a", "b")
      .agg(min(when(col("sep") === 1, col("z"))).as("sepset"))
    pairs.join(broadcast(sepsets), Seq("a", "b"), "left_outer")
      .select(col("a"), col("b"), col("n"), col("cab"), col("keep0"),
        col("sepset"),
        when(col("keep0") === 1 && col("sepset").isNull, 1).otherwise(0)
          .as("edge"))
  }

  /** The τ-FREE rank/moment head of [[pcSkeletonSqlCtes]]: yields
    * `pc_ranked` and `pc_cm` over `\$panel(series, day, v)`. Split out
    * so a threshold sweep ([[pcSkeletonTauSweep]]'s oracle) can hang
    * several decision tails off ONE moment head.
    */
  def pcMomentSqlCtes(panel: String): String =
    s"""pc_ranked AS (SELECT series, day,
       |    row_number() OVER (PARTITION BY series ORDER BY v, day) AS r
       |  FROM $panel),
       |pc_cm AS (
       |  SELECT a.series AS sa, b.series AS sb, count(*)::BIGINT AS n,
       |    (count(*)::HUGEINT * sum(a.r::HUGEINT * b.r)
       |      - sum(a.r)::HUGEINT * sum(b.r))::BIGINT AS c
       |  FROM pc_ranked a JOIN pc_ranked b USING (day) GROUP BY 1, 2)"""
      .stripMargin

  /** The τ-DEPENDENT order-0/1 decision tail over `pc_cm`; every CTE
    * name carries `sfx` so a sweep can instantiate one tail per τ
    * against a single moment head. Yields
    * `pc_out\$sfx(a, b, n, cab, keep0, sepset, edge)`.
    */
  def pcDecisionSqlCtes(tauSqBp: Long, sfx: String = ""): String =
    s"""pc_pairs$sfx AS (
       |  SELECT p.sa AS a, p.sb AS b, p.n, p.c AS cab,
       |    da.c AS caa, db.c AS cbb,
       |    CASE WHEN 10000 * p.c::HUGEINT * p.c
       |           > $tauSqBp * da.c::HUGEINT * db.c
       |    THEN 1 ELSE 0 END AS keep0
       |  FROM pc_cm p
       |  JOIN pc_cm da ON da.sa = p.sa AND da.sb = p.sa
       |  JOIN pc_cm db ON db.sa = p.sb AND db.sb = p.sb
       |  WHERE p.sa < p.sb),
       |pc_trip$sfx AS (
       |  SELECT pr.a, pr.b, z.sa AS z,
       |    CASE WHEN 10000
       |        * (pr.cab::HUGEINT * z.c - az.c::HUGEINT * bz.c)
       |        * (pr.cab::HUGEINT * z.c - az.c::HUGEINT * bz.c)
       |      <= $tauSqBp
       |        * (pr.caa::HUGEINT * z.c - az.c::HUGEINT * az.c)
       |        * (pr.cbb::HUGEINT * z.c - bz.c::HUGEINT * bz.c)
       |    THEN 1 ELSE 0 END AS sep
       |  FROM pc_pairs$sfx pr
       |  JOIN pc_cm z ON z.sa = z.sb AND z.sa <> pr.a AND z.sa <> pr.b
       |  JOIN pc_cm az ON az.sa = pr.a AND az.sb = z.sa
       |  JOIN pc_cm bz ON bz.sa = pr.b AND bz.sb = z.sa
       |  WHERE pr.keep0 = 1),
       |pc_seps$sfx AS (SELECT a, b, min(CASE WHEN sep = 1 THEN z END)
       |    AS sepset
       |  FROM pc_trip$sfx GROUP BY 1, 2),
       |pc_out$sfx AS (
       |  SELECT p.a, p.b, p.n, p.cab, p.keep0, s.sepset,
       |    (CASE WHEN p.keep0 = 1 AND s.sepset IS NULL
       |     THEN 1 ELSE 0 END)::INT AS edge
       |  FROM pc_pairs$sfx p LEFT JOIN pc_seps$sfx s
       |    ON s.a = p.a AND s.b = p.b)""".stripMargin

  /** The PC-skeleton contract as ANSI CTEs over `\$panel(series, day, v)`
    * — shared by the q270 (events) and q300 (generated-data) oracles;
    * yields `pc_out(a, b, n, cab, keep0, sepset, edge)`.
    */
  def pcSkeletonSqlCtes(panel: String, tauSqBp: Long = 625L): String =
    pcMomentSqlCtes(panel) + ",\n" + pcDecisionSqlCtes(tauSqBp)

  /** PC-algorithm skeleton to conditioning order 2. Orders 0/1 are
    * exactly [[pcSkeleton]]; each surviving pair (a,b) is then tested
    * against every unordered conditioning pair {z,w} ⊄ {a,b} via the
    * cofactor identity ρ²_ab·{z,w} = cof_ab² / (cof_aa·cof_bb) over the
    * 4×4 moment matrix on (a,b,z,w) — separated when
    * 10000·cof_ab² ≤ τ²bp·cof_aa·cof_bb, fully rational.
    *
    * The order-2 stage runs on NORMALIZED moments ĉ = c div n² (exact
    * truncating division, identical in both engines): raw rank moments
    * are O(n⁴) and a squared 3×3 cofactor of those is O(n²⁴) — past any
    * 128-bit budget at n > 26 — while ĉ = O(n²) keeps
    * 10⁴·cof² ≤ ~1.2e35 up to n = 500 observations. The quantization
    * (≤ n² absolute, ~1e-5 relative at n = 200) is far inside a
    * τ = 0.1..0.25 decision margin and is part of the pinned contract.
    *
    * `sepset2` is the minimum over separating pairs of the string
    * `z || '~' || w` (z < w) — the pinned deterministic tie-break (plain
    * string ordering, NOT tuple ordering when series names vary in
    * length). Output: [[pcSkeleton]]'s columns plus (sepset2,
    * edge2 = survived order ≤ 2). Fact-scale work is the single rank
    * cross-moment pass; every order-2 structure is panel-grain
    * (≤ p²·C(p,2) rows) on broadcast frames.
    */
  def pcSkeleton2(panel: DataFrame, tauSqBp: Long = 625L): DataFrame = {
    val cm = pcMoments(panel)
    val sk1 = pinTiny(pcSkeletonMoments(cm, tauSqBp))
    val nc = normalizedMoments(cm)
    // conditioning pairs {z,w} enumerated from a's co-observed series
    // (the (a,z)/(a,w) moment rows the joins below demand anyway), not
    // cross-joined against the global diagonal — identical candidate
    // set, and under the q340-style multi-graph fold the fan-out stays
    // per-graph instead of quadratic across graphs
    val adjz = broadcast(nc.where(col("sa") =!= col("sb"))
      .select(col("sa").as("a"), col("sb").as("z")))
    val cand = sk1.where(col("edge") === 1).select(col("a"), col("b"))
      .join(adjz, Seq("a"))
      .join(broadcast(adjz.select(col("a"), col("z").as("w"))), Seq("a"))
      .where(col("z") < col("w") &&
        col("z") =!= col("b") && col("w") =!= col("b"))
    order2Stage(nc, sk1, cand, tauSqBp)
  }

  /** ĉ = c div n², the normalized moments the order-2 and order-3
    * cofactor stages test on (scale contract in [[pcSkeleton2]]).
    */
  private def normalizedMoments(cm: DataFrame): DataFrame =
    cm.select(col("sa"), col("sb"),
      expr("cast(c div (n * n) as decimal(38,0))").as("ch"))

  /** The order-2 stage shared by [[pcSkeleton2]] and [[pcStable2Core]]:
    * the cofactor test of every candidate (a, b, z, w) over the normalized
    * moments `nc`, the pinned `sepset2` tie-break, and `sk1`'s columns
    * plus (sepset2, edge2). Each caller enumerates its own candidates.
    */
  private def order2Stage(nc: DataFrame, sk1: DataFrame, cand: DataFrame,
      tauSqBp: Long): DataFrame = {
    def m(x: String, y: String, out: String): DataFrame =
      broadcast(nc.select(col("sa").as(x), col("sb").as(y),
        col("ch").as(out)))
    def diag(x: String, out: String): DataFrame =
      broadcast(nc.where(col("sa") === col("sb"))
        .select(col("sa").as(x), col("ch").as(out)))
    val mm = cand
      .join(m("a", "b", "mab"), Seq("a", "b"))
      .join(m("a", "z", "maz"), Seq("a", "z"))
      .join(m("a", "w", "maw"), Seq("a", "w"))
      .join(m("b", "z", "mbz"), Seq("b", "z"))
      .join(m("b", "w", "mbw"), Seq("b", "w"))
      .join(m("z", "w", "mzw"), Seq("z", "w"))
      .join(diag("a", "maa"), Seq("a"))
      .join(diag("b", "mbb"), Seq("b"))
      .join(diag("z", "mzz"), Seq("z"))
      .join(diag("w", "mww"), Seq("w"))
    val cof = mm
      .withColumn("dzw", expr("mzz*mww - mzw*mzw"))
      .withColumn("t1", expr("maz*mww - mzw*maw"))
      .withColumn("t2", expr("maz*mzw - mzz*maw"))
      .withColumn("cofab", expr("mab*dzw - mbz*t1 + mbw*t2"))
      .withColumn("cofbb", expr("maa*dzw - maz*t1 + maw*t2"))
      .withColumn("cofaa",
        expr("mbb*dzw - mbz*(mbz*mww - mzw*mbw) + mbw*(mbz*mzw - mzz*mbw)"))
      .withColumn("sep", expr(
        s"case when 10000*cofab*cofab <= $tauSqBp*cofaa*cofbb " +
          "then 1 else 0 end"))
    val seps = cof.groupBy("a", "b")
      .agg(min(when(col("sep") === 1,
        concat(col("z"), lit("~"), col("w")))).as("sepset2"))
    sk1.join(broadcast(seps), Seq("a", "b"), "left_outer")
      .select(col("a"), col("b"), col("n"), col("cab"), col("keep0"),
        col("sepset"), col("edge"), col("sepset2"),
        when(col("edge") === 1 && col("sepset2").isNull, 1).otherwise(0)
          .as("edge2"))
  }

  /** [[pcSkeleton2]] as ANSI CTEs: [[pcSkeletonSqlCtes]] plus the
    * order-2 cofactor stage; yields
    * `pc2_out(a, b, n, cab, keep0, sepset, edge, sepset2, edge2)`.
    */
  def pcSkeleton2SqlCtes(panel: String, tauSqBp: Long = 625L): String =
    pcSkeletonSqlCtes(panel, tauSqBp) + s""",
       |pc_nc AS MATERIALIZED (
       |  SELECT sa, sb, (c // (n * n))::HUGEINT AS ch FROM pc_cm),
       |pc2_ser AS MATERIALIZED (SELECT sa AS s FROM pc_nc WHERE sa = sb),
       |pc2_cand AS MATERIALIZED (
       |  SELECT e.a, e.b, z.s AS z, w.s AS w
       |  FROM pc_out e, pc2_ser z, pc2_ser w
       |  WHERE e.edge = 1 AND z.s < w.s
       |    AND z.s <> e.a AND z.s <> e.b AND w.s <> e.a AND w.s <> e.b),
       |pc2_cof AS MATERIALIZED (
       |  SELECT c.a, c.b, c.z, c.w,
       |    mab.ch*(mzz.ch*mww.ch - mzw.ch*mzw.ch)
       |      - mbz.ch*(maz.ch*mww.ch - mzw.ch*maw.ch)
       |      + mbw.ch*(maz.ch*mzw.ch - mzz.ch*maw.ch) AS cofab,
       |    maa.ch*(mzz.ch*mww.ch - mzw.ch*mzw.ch)
       |      - maz.ch*(maz.ch*mww.ch - mzw.ch*maw.ch)
       |      + maw.ch*(maz.ch*mzw.ch - mzz.ch*maw.ch) AS cofbb,
       |    mbb.ch*(mzz.ch*mww.ch - mzw.ch*mzw.ch)
       |      - mbz.ch*(mbz.ch*mww.ch - mzw.ch*mbw.ch)
       |      + mbw.ch*(mbz.ch*mzw.ch - mzz.ch*mbw.ch) AS cofaa
       |  FROM pc2_cand c
       |  JOIN pc_nc mab ON mab.sa = c.a AND mab.sb = c.b
       |  JOIN pc_nc maz ON maz.sa = c.a AND maz.sb = c.z
       |  JOIN pc_nc maw ON maw.sa = c.a AND maw.sb = c.w
       |  JOIN pc_nc mbz ON mbz.sa = c.b AND mbz.sb = c.z
       |  JOIN pc_nc mbw ON mbw.sa = c.b AND mbw.sb = c.w
       |  JOIN pc_nc mzw ON mzw.sa = c.z AND mzw.sb = c.w
       |  JOIN pc_nc maa ON maa.sa = c.a AND maa.sb = c.a
       |  JOIN pc_nc mbb ON mbb.sa = c.b AND mbb.sb = c.b
       |  JOIN pc_nc mzz ON mzz.sa = c.z AND mzz.sb = c.z
       |  JOIN pc_nc mww ON mww.sa = c.w AND mww.sb = c.w),
       |pc2_sep AS MATERIALIZED (
       |  SELECT a, b, min(CASE WHEN 10000*cofab*cofab
       |                     <= $tauSqBp*cofaa*cofbb
       |                   THEN z || '~' || w END) AS sepset2
       |  FROM pc2_cof GROUP BY 1, 2),
       |pc2_out AS MATERIALIZED (
       |  SELECT o.a, o.b, o.n, o.cab, o.keep0, o.sepset, o.edge,
       |    s.sepset2,
       |    (CASE WHEN o.edge = 1 AND s.sepset2 IS NULL
       |     THEN 1 ELSE 0 END)::INT AS edge2
       |  FROM pc_out o LEFT JOIN pc2_sep s ON s.a = o.a AND s.b = o.b)"""
      .stripMargin

  /** PC-STABLE order-≤2 skeleton: the identical rational partial-
    * correlation tests as [[pcSkeleton2]], but conditioning candidates
    * restricted to the ADJACENCY surviving the previous order — the
    * level-synchronous algorithm of Colombo & Maathuis, "Order-
    * Independent Constraint-Based Causal Structure Learning" (JMLR 15,
    * 2014). Order 1 tests z ∈ adj₀(a)\{b} ∪ adj₀(b)\{a} (adj₀ = pairs
    * surviving order 0); order 2 tests {z,w} ⊆ adj₁(a)\{b} OR
    * {z,w} ⊆ adj₁(b)\{a} — both elements from ONE endpoint's neighbor
    * set, the published definition (a mixed pick is not a subset of
    * either side and is NOT tested).
    *
    * Semantics vs [[pcSkeleton2]]: the unrestricted variant conditions
    * on every co-observed series, so a non-neighbor z can separate a
    * pair by threshold artifact; PC-stable only accepts separations
    * witnessed inside the current adjacency, hence on a fully
    * co-observed panel its candidate set per pair is a SUBSET of the
    * unrestricted one and its surviving edge set a SUPERSET (pinned by
    * spec). Both variants are level-synchronous and therefore
    * order-independent / partitioning-invariant.
    *
    * This is the wide-panel scale form: the unrestricted order-1/2
    * stages are O(p³)/O(p⁴) per graph regardless of sparsity, while the
    * stable stages are O(E·d) and O(E·d²) for max surviving degree d —
    * on a sparse deployment-width graph (p = 32..64, d ≈ 4) that is a
    * 50-100× candidate-volume cut, and the restriction composes with
    * the multi-graph fold unchanged (adjacency rows carry the folded
    * series names, so the fan-out stays per-graph). Every stage below
    * is a broadcast equi-join over panel-grain frames; the single
    * fact-scale pass remains the rank cross-moment aggregation.
    *
    * Output: [[pcSkeleton2]]'s exact column contract (a, b, n, cab,
    * keep0, sepset, edge, sepset2, edge2) with every co-observed pair
    * present — [[pcOrient2]] applies unchanged.
    */
  def pcSkeleton2Stable(panel: DataFrame, tauSqBp: Long = 625L)
      : DataFrame =
    pcStable2Core(pcMoments(panel), tauSqBp)

  /** [[pcSkeleton2Stable]] minus the fact-scale moment pass, so
    * [[pcSkeleton3Stable]] can hang the order-3 tail off the SAME
    * checkpointed cross-moment frame.
    */
  private def pcStable2Core(cm: DataFrame, tauSqBp: Long): DataFrame = {
    def cAs(na: String, nb: String, out: String): DataFrame =
      cm.select(col("sa").as(na), col("sb").as(nb), col("c").as(out))
    val pairs = pinTiny(pcPairs0(cm, tauSqBp))
    val kept0 = pairs.where(col("keep0") === 1).select(col("a"), col("b"))
    val adj0 = kept0.unionByName(
      kept0.select(col("b").as("a"), col("a").as("b")))
      .select(col("a").as("x"), col("b").as("y"))
    // order-1 candidates from the surviving adjacency, both endpoints'
    // neighbor sets (distinct: z ∈ adj(a) ∩ adj(b) appears via both
    // sides). Inner joins against the (a,z)/(b,z) moment rows below
    // keep the conservative-skip semantic for never-co-observed pairs
    val cand1 = kept0
      .join(broadcast(adj0.select(col("x").as("a"), col("y").as("z"))),
        Seq("a"))
      .unionByName(kept0
        .join(broadcast(adj0.select(col("x").as("b"), col("y").as("z"))),
          Seq("b"))
        .select(col("a"), col("b"), col("z")))
      .where(col("z") =!= col("a") && col("z") =!= col("b"))
      .distinct()
    val zs = cm.where(col("sa") === col("sb"))
      .select(col("sa").as("z"), col("c").as("czz"))
    val trip = cand1
      .join(broadcast(pairs.select(col("a"), col("b"), col("cab"),
        col("caa"), col("cbb"))), Seq("a", "b"))
      .join(broadcast(cAs("a", "z", "caz")), Seq("a", "z"))
      .join(broadcast(cAs("b", "z", "cbz")), Seq("b", "z"))
      .join(broadcast(zs), Seq("z"))
      .withColumn("sep", sep1Expr(tauSqBp))
    val sepsets = trip.groupBy("a", "b")
      .agg(min(when(col("sep") === 1, col("z"))).as("sepset"))
    val sk1 = pinTiny(pairs
      .join(broadcast(sepsets), Seq("a", "b"), "left_outer")
      .select(col("a"), col("b"), col("n"), col("cab"), col("keep0"),
        col("sepset"),
        when(col("keep0") === 1 && col("sepset").isNull, 1).otherwise(0)
          .as("edge")))
    val e1 = sk1.where(col("edge") === 1).select(col("a"), col("b"))
    val adj1 = e1.unionByName(
      e1.select(col("b").as("a"), col("a").as("b")))
      .select(col("a").as("x"), col("b").as("y"))
    // {z,w} both from one endpoint's order-1 neighbor set; the UNION of
    // the two sides deduplicates pairs drawn from both
    def side(key: String, other: String): DataFrame = e1
      .join(broadcast(adj1.select(col("x").as(key), col("y").as("z"))),
        Seq(key))
      .join(broadcast(adj1.select(col("x").as(key), col("y").as("w"))),
        Seq(key))
      .where(col("z") < col("w") &&
        col("z") =!= col(other) && col("w") =!= col(other))
      .select(col("a"), col("b"), col("z"), col("w"))
    val cand2 = side("a", "b").unionByName(side("b", "a")).distinct()
    // order 2 on the NORMALIZED moments, exactly pcSkeleton2's contract
    order2Stage(normalizedMoments(cm), sk1, cand2, tauSqBp)
  }

  /** [[pcSkeleton2Stable]] as ANSI CTEs over `\$panel(series, day, v)`:
    * shares [[pcMomentSqlCtes]]'s rank/moment head, then the adjacency-
    * restricted decision chain under `pcs_` names; yields
    * `pcs2_out(a, b, n, cab, keep0, sepset, edge, sepset2, edge2)`.
    * Candidate CTEs enumerate from the symmetrized adjacency of the
    * previous order — the SQL twin of the Spark neighbor joins.
    */
  def pcStable2SqlCtes(panel: String, tauSqBp: Long = 625L): String =
    pcMomentSqlCtes(panel) + s""",
       |pcs_pairs AS MATERIALIZED (
       |  SELECT p.sa AS a, p.sb AS b, p.n, p.c AS cab,
       |    da.c AS caa, db.c AS cbb,
       |    CASE WHEN 10000 * p.c::HUGEINT * p.c
       |           > $tauSqBp * da.c::HUGEINT * db.c
       |    THEN 1 ELSE 0 END AS keep0
       |  FROM pc_cm p
       |  JOIN pc_cm da ON da.sa = p.sa AND da.sb = p.sa
       |  JOIN pc_cm db ON db.sa = p.sb AND db.sb = p.sb
       |  WHERE p.sa < p.sb),
       |pcs_adj0 AS MATERIALIZED (
       |  SELECT a AS x, b AS y FROM pcs_pairs WHERE keep0 = 1
       |  UNION ALL SELECT b, a FROM pcs_pairs WHERE keep0 = 1),
       |pcs_cand1 AS MATERIALIZED (
       |  SELECT DISTINCT pr.a, pr.b, n.y AS z
       |  FROM pcs_pairs pr JOIN pcs_adj0 n ON n.x IN (pr.a, pr.b)
       |  WHERE pr.keep0 = 1 AND n.y <> pr.a AND n.y <> pr.b),
       |pcs_trip AS MATERIALIZED (
       |  SELECT c.a, c.b, c.z,
       |    CASE WHEN 10000
       |        * (pr.cab::HUGEINT * zz.c - az.c::HUGEINT * bz.c)
       |        * (pr.cab::HUGEINT * zz.c - az.c::HUGEINT * bz.c)
       |      <= $tauSqBp
       |        * (pr.caa::HUGEINT * zz.c - az.c::HUGEINT * az.c)
       |        * (pr.cbb::HUGEINT * zz.c - bz.c::HUGEINT * bz.c)
       |    THEN 1 ELSE 0 END AS sep
       |  FROM pcs_cand1 c
       |  JOIN pcs_pairs pr ON pr.a = c.a AND pr.b = c.b
       |  JOIN pc_cm zz ON zz.sa = c.z AND zz.sb = c.z
       |  JOIN pc_cm az ON az.sa = c.a AND az.sb = c.z
       |  JOIN pc_cm bz ON bz.sa = c.b AND bz.sb = c.z),
       |pcs_seps AS MATERIALIZED (
       |  SELECT a, b, min(CASE WHEN sep = 1 THEN z END) AS sepset
       |  FROM pcs_trip GROUP BY 1, 2),
       |pcs_out AS MATERIALIZED (
       |  SELECT p.a, p.b, p.n, p.cab, p.keep0, s.sepset,
       |    (CASE WHEN p.keep0 = 1 AND s.sepset IS NULL
       |     THEN 1 ELSE 0 END)::INT AS edge
       |  FROM pcs_pairs p LEFT JOIN pcs_seps s
       |    ON s.a = p.a AND s.b = p.b),
       |pcs_nc AS MATERIALIZED (
       |  SELECT sa, sb, (c // (n * n))::HUGEINT AS ch FROM pc_cm),
       |pcs_adj1 AS MATERIALIZED (
       |  SELECT a AS x, b AS y FROM pcs_out WHERE edge = 1
       |  UNION ALL SELECT b, a FROM pcs_out WHERE edge = 1),
       |pcs_cand2 AS MATERIALIZED (
       |  SELECT e.a, e.b, n1.y AS z, n2.y AS w
       |  FROM (SELECT a, b FROM pcs_out WHERE edge = 1) e
       |  JOIN pcs_adj1 n1 ON n1.x = e.a
       |  JOIN pcs_adj1 n2 ON n2.x = e.a
       |  WHERE n1.y < n2.y AND n1.y <> e.b AND n2.y <> e.b
       |  UNION
       |  SELECT e.a, e.b, n1.y, n2.y
       |  FROM (SELECT a, b FROM pcs_out WHERE edge = 1) e
       |  JOIN pcs_adj1 n1 ON n1.x = e.b
       |  JOIN pcs_adj1 n2 ON n2.x = e.b
       |  WHERE n1.y < n2.y AND n1.y <> e.a AND n2.y <> e.a),
       |pcs_cof AS MATERIALIZED (
       |  SELECT c.a, c.b, c.z, c.w,
       |    mab.ch*(mzz.ch*mww.ch - mzw.ch*mzw.ch)
       |      - mbz.ch*(maz.ch*mww.ch - mzw.ch*maw.ch)
       |      + mbw.ch*(maz.ch*mzw.ch - mzz.ch*maw.ch) AS cofab,
       |    maa.ch*(mzz.ch*mww.ch - mzw.ch*mzw.ch)
       |      - maz.ch*(maz.ch*mww.ch - mzw.ch*maw.ch)
       |      + maw.ch*(maz.ch*mzw.ch - mzz.ch*maw.ch) AS cofbb,
       |    mbb.ch*(mzz.ch*mww.ch - mzw.ch*mzw.ch)
       |      - mbz.ch*(mbz.ch*mww.ch - mzw.ch*mbw.ch)
       |      + mbw.ch*(mbz.ch*mzw.ch - mzz.ch*mbw.ch) AS cofaa
       |  FROM pcs_cand2 c
       |  JOIN pcs_nc mab ON mab.sa = c.a AND mab.sb = c.b
       |  JOIN pcs_nc maz ON maz.sa = c.a AND maz.sb = c.z
       |  JOIN pcs_nc maw ON maw.sa = c.a AND maw.sb = c.w
       |  JOIN pcs_nc mbz ON mbz.sa = c.b AND mbz.sb = c.z
       |  JOIN pcs_nc mbw ON mbw.sa = c.b AND mbw.sb = c.w
       |  JOIN pcs_nc mzw ON mzw.sa = c.z AND mzw.sb = c.w
       |  JOIN pcs_nc maa ON maa.sa = c.a AND maa.sb = c.a
       |  JOIN pcs_nc mbb ON mbb.sa = c.b AND mbb.sb = c.b
       |  JOIN pcs_nc mzz ON mzz.sa = c.z AND mzz.sb = c.z
       |  JOIN pcs_nc mww ON mww.sa = c.w AND mww.sb = c.w),
       |pcs2_sep AS MATERIALIZED (
       |  SELECT a, b, min(CASE WHEN 10000*cofab*cofab
       |                     <= $tauSqBp*cofaa*cofbb
       |                   THEN z || '~' || w END) AS sepset2
       |  FROM pcs_cof GROUP BY 1, 2),
       |pcs2_out AS MATERIALIZED (
       |  SELECT o.a, o.b, o.n, o.cab, o.keep0, o.sepset, o.edge,
       |    s.sepset2,
       |    (CASE WHEN o.edge = 1 AND s.sepset2 IS NULL
       |     THEN 1 ELSE 0 END)::INT AS edge2
       |  FROM pcs_out o LEFT JOIN pcs2_sep s ON s.a = o.a AND s.b = o.b)"""
      .stripMargin

  /** [[pcOrient2]]'s CTE twin over the PC-STABLE graph: the `pcs2_out`
    * adapter plus [[pcOrientSqlCtes]]; yields `pc_st\$meekRounds`.
    */
  def pcOrientStableSqlCtes(meekRounds: Int = 3): String =
    """pcs2_sk AS MATERIALIZED (
      |  SELECT a, b, coalesce(sepset, sepset2) AS sepset, edge2 AS edge
      |  FROM pcs2_out),
      |""".stripMargin + pcOrientSqlCtes(meekRounds, "pcs2_sk")

  /** The canonical 5-variable label order (a, b, then conditioning
    * z < w < u) and the moment-column name for an unordered label pair —
    * `mab`, `mzw`, `muu`, … — shared by the order-3 determinant
    * generators below so the Spark `expr` and the DuckDB CTE read the
    * SAME identifiers.
    */
  private val PcVarOrder = Vector("a", "b", "z", "w", "u")
  private def mn(x: String, y: String): String =
    if (PcVarOrder.indexOf(x) <= PcVarOrder.indexOf(y)) s"m$x$y"
    else s"m$y$x"

  private def det2s(r: Seq[String], c: Seq[String]): String =
    s"(${mn(r(0), c(0))}*${mn(r(1), c(1))} - " +
      s"${mn(r(0), c(1))}*${mn(r(1), c(0))})"

  private def detNs(r: Seq[String], c: Seq[String]): String =
    if (r.size == 2) det2s(r, c)
    else "(" + c.indices.map { j =>
      val t = s"${mn(r.head, c(j))}*${detNs(r.tail, c.patch(j, Nil, 1))}"
      if (j == 0) t else if (j % 2 == 0) s" + $t" else s" - $t"
    }.mkString + ")"

  /** The order-3 cofactor test rendered ONCE as arithmetic text over the
    * 15 moment columns (maa..muu) and interpolated verbatim into both
    * engines: ρ²_ab·{z,w,u} = cof_ab²/(cof_aa·cof_bb) over the 5×5
    * normalized moment matrix on (a,b,z,w,u) — cof_ab the 4×4 minor
    * deleting row a / column b (sign irrelevant, squared), cof_aa/cof_bb
    * the principal 4×4 minors.
    */
  private val Det3CofAb: String =
    detNs(Seq("b", "z", "w", "u"), Seq("a", "z", "w", "u"))
  private val Det3CofAa: String =
    detNs(Seq("b", "z", "w", "u"), Seq("b", "z", "w", "u"))
  private val Det3CofBb: String =
    detNs(Seq("a", "z", "w", "u"), Seq("a", "z", "w", "u"))

  /** PC-STABLE skeleton to conditioning order 3: [[pcSkeleton2Stable]]
    * plus one more rung of the same ladder — each order-2 survivor (a,b)
    * tested against every unordered triple {z,w,u} drawn wholly from
    * adj₂(a)\{b} or wholly from adj₂(b)\{a}, via the 4×4-minor cofactor
    * identity on the 5×5 normalized moment matrix. Separated when
    * 10000·cof_ab² ≤ τ²bp·cof_aa·cof_bb, fully rational.
    *
    * Integer budget: ĉ = c div n² is O(n²/12), a 4×4 determinant of
    * those is ≤ 4!·(n²/12)⁴ and 10⁴·cof² must fit DECIMAL(38,0)/HUGEINT
    * ≈ 1e38 ⇒ n ≤ ~300 observations — one notch tighter than order-2's
    * n ≤ 500, and why the order-3 rung keeps the 200-obs panel contract.
    * Candidate volume: O(E·d³) for surviving degree d — the adjacency
    * restriction is what makes a third order AFFORDABLE at all (the
    * unrestricted form would be O(p⁵) per graph).
    *
    * Output: [[pcSkeleton2Stable]]'s columns plus (sepset3 = min
    * `z~w~u` over separating triples, edge3 = survived order ≤ 3);
    * every co-observed pair keeps its row.
    */
  def pcSkeleton3Stable(panel: DataFrame, tauSqBp: Long = 625L)
      : DataFrame =
    pcSkeleton3StableFromCm(pcMoments(panel), tauSqBp)

  /** The τ-FREE fact-scale stage of every pcSkeleton* variant — rank,
    * cross-moment, materialize — exposed so a MULTI-τ consumer (q350's
    * dual-τ census) pays the panel scan once and hangs one decision tail
    * per τ off the same checkpointed moment frame (the DataFrame twin of
    * what [[pcMomentSqlCtes]]/[[pcDecisionSqlCtes]] already split on the
    * oracle side). `broadcastRankJoin` as in [[pcSkeleton]].
    */
  def pcMoments(panel: DataFrame, broadcastRankJoin: Boolean = true)
      : DataFrame =
    pinTiny(rankCrossMoments(rankPanel(panel), broadcastRankJoin))

  /** [[pcSkeleton3Stable]] minus the fact-scale moment pass, off a
    * [[pcMoments]] frame — τ-sweep consumers reuse one cm across tails.
    */
  def pcSkeleton3StableFromCm(cm: DataFrame, tauSqBp: Long = 625L)
      : DataFrame = {
    val sk2 = pinTiny(pcStable2Core(cm, tauSqBp))
    val nc = normalizedMoments(cm)
    def m(x: String, y: String): DataFrame =
      broadcast(nc.select(col("sa").as(x), col("sb").as(y),
        col("ch").as(mn(x, y))))
    def diag(x: String): DataFrame =
      broadcast(nc.where(col("sa") === col("sb"))
        .select(col("sa").as(x), col("ch").as(mn(x, x))))
    val e2 = sk2.where(col("edge2") === 1).select(col("a"), col("b"))
    val adj2 = e2.unionByName(
      e2.select(col("b").as("a"), col("a").as("b")))
      .select(col("a").as("x"), col("b").as("y"))
    def side(key: String, other: String): DataFrame = e2
      .join(broadcast(adj2.select(col("x").as(key), col("y").as("z"))),
        Seq(key))
      .join(broadcast(adj2.select(col("x").as(key), col("y").as("w"))),
        Seq(key))
      .join(broadcast(adj2.select(col("x").as(key), col("y").as("u"))),
        Seq(key))
      .where(col("z") < col("w") && col("w") < col("u") &&
        col("z") =!= col(other) && col("w") =!= col(other) &&
        col("u") =!= col(other))
      .select(col("a"), col("b"), col("z"), col("w"), col("u"))
    val cand3 = side("a", "b").unionByName(side("b", "a")).distinct()
    val crossPairs = Seq(("a", "b"), ("a", "z"), ("a", "w"), ("a", "u"),
      ("b", "z"), ("b", "w"), ("b", "u"), ("z", "w"), ("z", "u"),
      ("w", "u"))
    val mm = crossPairs.foldLeft(cand3) { case (df, (x, y)) =>
      df.join(m(x, y), Seq(x, y))
    }
    val mmd = PcVarOrder.foldLeft(mm)((df, x) => df.join(diag(x), Seq(x)))
    val cof = mmd
      .withColumn("cofab", expr(Det3CofAb))
      .withColumn("cofaa", expr(Det3CofAa))
      .withColumn("cofbb", expr(Det3CofBb))
      .withColumn("sep", expr(
        s"case when 10000*cofab*cofab <= $tauSqBp*cofaa*cofbb " +
          "then 1 else 0 end"))
    val seps = cof.groupBy("a", "b")
      .agg(min(when(col("sep") === 1,
        concat(col("z"), lit("~"), col("w"), lit("~"), col("u"))))
        .as("sepset3"))
    sk2.join(broadcast(seps), Seq("a", "b"), "left_outer")
      .select(col("a"), col("b"), col("n"), col("cab"), col("keep0"),
        col("sepset"), col("edge"), col("sepset2"), col("edge2"),
        col("sepset3"),
        when(col("edge2") === 1 && col("sepset3").isNull, 1).otherwise(0)
          .as("edge3"))
  }

  /** [[pcOrient]] over a [[pcSkeleton3Stable]] output: adjacency is
    * `edge3`, blocking set is whichever order separated the pair (the
    * `~`-membership test handles 1-, 2- and 3-element sepsets alike).
    */
  def pcOrient3(skeleton3: DataFrame, meekRounds: Int = 3,
      requirePairRows: Boolean = true): DataFrame =
    pcOrient(skeleton3.select(col("a"), col("b"),
      coalesce(col("sepset"), col("sepset2"), col("sepset3")).as("sepset"),
      col("edge3").as("edge")), meekRounds, requirePairRows)

  /** [[pcSkeleton3Stable]] as ANSI CTEs: [[pcStable2SqlCtes]] plus the
    * adjacency-restricted order-3 tail; yields `pcs3_out` with
    * [[pcSkeleton2Stable]]'s columns + (sepset3, edge3). The cofactor
    * arithmetic is the SAME generated text the Spark side evaluates.
    */
  def pcStable3SqlCtes(panel: String, tauSqBp: Long = 625L): String = {
    val mmJoins = (Seq(("a", "b"), ("a", "z"), ("a", "w"), ("a", "u"),
      ("b", "z"), ("b", "w"), ("b", "u"), ("z", "w"), ("z", "u"),
      ("w", "u")).map { case (x, y) =>
        s"JOIN pcs_nc ${mn(x, y)}j ON ${mn(x, y)}j.sa = c.$x " +
          s"AND ${mn(x, y)}j.sb = c.$y"
      } ++ PcVarOrder.map { x =>
        s"JOIN pcs_nc ${mn(x, x)}j ON ${mn(x, x)}j.sa = c.$x " +
          s"AND ${mn(x, x)}j.sb = c.$x"
      }).mkString("\n  ")
    val mmCols = (Seq(("a", "b"), ("a", "z"), ("a", "w"), ("a", "u"),
      ("b", "z"), ("b", "w"), ("b", "u"), ("z", "w"), ("z", "u"),
      ("w", "u")).map { case (x, y) => s"${mn(x, y)}j.ch AS ${mn(x, y)}" }
      ++ PcVarOrder.map(x => s"${mn(x, x)}j.ch AS ${mn(x, x)}"))
      .mkString(",\n    ")
    pcStable2SqlCtes(panel, tauSqBp) + s""",
       |pcs_adj2 AS MATERIALIZED (
       |  SELECT a AS x, b AS y FROM pcs2_out WHERE edge2 = 1
       |  UNION ALL SELECT b, a FROM pcs2_out WHERE edge2 = 1),
       |pcs_cand3 AS MATERIALIZED (
       |  SELECT e.a, e.b, n1.y AS z, n2.y AS w, n3.y AS u
       |  FROM (SELECT a, b FROM pcs2_out WHERE edge2 = 1) e
       |  JOIN pcs_adj2 n1 ON n1.x = e.a
       |  JOIN pcs_adj2 n2 ON n2.x = e.a
       |  JOIN pcs_adj2 n3 ON n3.x = e.a
       |  WHERE n1.y < n2.y AND n2.y < n3.y
       |    AND n1.y <> e.b AND n2.y <> e.b AND n3.y <> e.b
       |  UNION
       |  SELECT e.a, e.b, n1.y, n2.y, n3.y
       |  FROM (SELECT a, b FROM pcs2_out WHERE edge2 = 1) e
       |  JOIN pcs_adj2 n1 ON n1.x = e.b
       |  JOIN pcs_adj2 n2 ON n2.x = e.b
       |  JOIN pcs_adj2 n3 ON n3.x = e.b
       |  WHERE n1.y < n2.y AND n2.y < n3.y
       |    AND n1.y <> e.a AND n2.y <> e.a AND n3.y <> e.a),
       |pcs_mm3 AS MATERIALIZED (
       |  SELECT c.a, c.b, c.z, c.w, c.u,
       |    $mmCols
       |  FROM pcs_cand3 c
       |  $mmJoins),
       |pcs_cof3 AS MATERIALIZED (
       |  SELECT a, b, z, w, u,
       |    $Det3CofAb AS cofab,
       |    $Det3CofAa AS cofaa,
       |    $Det3CofBb AS cofbb
       |  FROM pcs_mm3),
       |pcs3_sep AS MATERIALIZED (
       |  SELECT a, b, min(CASE WHEN 10000*cofab*cofab
       |                     <= $tauSqBp*cofaa*cofbb
       |                   THEN z || '~' || w || '~' || u END) AS sepset3
       |  FROM pcs_cof3 GROUP BY 1, 2),
       |pcs3_out AS MATERIALIZED (
       |  SELECT o.a, o.b, o.n, o.cab, o.keep0, o.sepset, o.edge,
       |    o.sepset2, o.edge2, s.sepset3,
       |    (CASE WHEN o.edge2 = 1 AND s.sepset3 IS NULL
       |     THEN 1 ELSE 0 END)::INT AS edge3
       |  FROM pcs2_out o LEFT JOIN pcs3_sep s
       |    ON s.a = o.a AND s.b = o.b)""".stripMargin
  }

  /** [[pcOrient3]]'s CTE twin over `pcs3_out`; yields
    * `pc_st\$meekRounds`.
    */
  def pcOrientStable3SqlCtes(meekRounds: Int = 3): String =
    """pcs3_sk AS MATERIALIZED (
      |  SELECT a, b, coalesce(sepset, sepset2, sepset3) AS sepset,
      |    edge3 AS edge
      |  FROM pcs3_out),
      |""".stripMargin + pcOrientSqlCtes(meekRounds, "pcs3_sk")

  /** Φ⁻¹ — the standard normal quantile by Acklam's rational
    * approximation (|relative error| < 1.15e-9; the widely published
    * public-domain algorithm). Driver-side doubles only: callers round
    * the result into ONE integer threshold that both engines then share
    * verbatim, so no floating point ever crosses the oracle boundary.
    */
  private def inverseNormalCdf(p: Double): Double = {
    require(p > 0.0 && p < 1.0, s"quantile out of range: $p")
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01,
      -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val dd = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pl = 0.02425
    if (p < pl) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((dd(0) * q + dd(1)) * q + dd(2)) * q + dd(3)) * q + 1)
    } else if (p <= 1 - pl) {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else {
      val q = math.sqrt(-2 * math.log(1 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((dd(0) * q + dd(1)) * q + dd(2)) * q + dd(3)) * q + 1)
    }
  }

  /** WIDTH-ADAPTIVE skeleton threshold: the τ²bp that Bonferroni-
    * controls the familywise spurious-adjacency rate at `alphaPpm` over
    * the m = C(p,2) order-0 tests a p-series panel runs. A fixed τ is
    * the wrong constant under width growth — spurious order-0 survivors
    * grow as P(|ρ̂| > τ)·C(p,2) (the q349 census makes the volume
    * visible) — so the operator's knob is τ(p, n) =
    * Φ⁻¹(1 − α/(2m))/√(n−1), using the null sd of the Spearman
    * coefficient, sd(ρ_s) ≈ 1/√(n−1). Returned as ceil(τ²·10⁴) — ONE
    * integer, computed once on the driver and shared verbatim by the
    * Spark plan and the DuckDB oracle. Power is the documented price:
    * at n = 200, p = 160 this lands at τ ≈ 0.33, which also prunes
    * true edges whose partials sit near 0.2-0.3 — the q350 census pins
    * both sides of that tradeoff as data.
    */
  def tauSqBpForWidth(p: Int, n: Long, alphaPpm: Long = 50000L): Long = {
    require(p >= 2 && n > 1 && alphaPpm > 0 && alphaPpm < 1000000)
    val m = p.toLong * (p - 1) / 2
    val z = inverseNormalCdf(1.0 - alphaPpm / 1e6 / (2.0 * m))
    math.ceil(z * z / (n - 1).toDouble * 10000.0).toLong
  }

  /** χ²₁ upper-quantile ladder for Benjamini-Hochberg FDR control
    * (q370): Q(1 − α·k/m) in t²-MILLI units for k = 1..m, via
    * Q(1 − x) = Φ⁻¹(1 − x/2)² on the same Acklam Φ⁻¹ the
    * width-adaptive threshold uses. The BH step-up rule on the p scale
    * (reject ranks 1..k*, k* = max{k : p₍ₖ₎ ≤ α·k/m}) is EXACTLY the
    * t² comparison t²₍ₖ₎ ≥ ladder(k) under the Wald χ²₁ null, so the
    * whole procedure needs no p-value column — m driver-side doubles
    * quantized ONCE to milli and shipped to both engines as literals,
    * cross-engine parity by construction.
    *
    * Large-n approximation, stated: the exact finite-sample null of the
    * integer Wald t² from an OLS fit is F(1, n−k−1), not χ²₁ — the χ²₁
    * quantile is its n→∞ limit and is SMALLER in the far tail (at
    * q371's n=60 the extreme Bonferroni cut is ≈17.2 on this ladder vs
    * ≈22 for F(1,58)), so at small n the BH/FWER rules built on it are
    * looser than nominal. Deployment grain is day-panels with n in the
    * thousands, where the gap is negligible; small-n boundary designs
    * (q371) carry the caveat in their census comments. The milli
    * quantization uses ceil, not round: discretization then only ever
    * TIGHTENS the cut (matching tauSqBpForWidth's ceil), so a t² within
    * 1 milli of the exact threshold can only flip toward non-rejection,
    * never toward a rejection the exact p-scale rule would not make.
    */
  def chi2InvMilliLadder(m: Int, alphaPpm: Long = 50000L)
      : IndexedSeq[Long] = {
    require(m >= 1 && alphaPpm > 0 && alphaPpm < 1000000)
    (1 to m).map { k =>
      val x = alphaPpm.toDouble / 1e6 * k / m
      val z = inverseNormalCdf(1.0 - x / 2.0)
      math.ceil(z * z * 1000.0).toLong
    }
  }

  /** Regularized incomplete beta I_x(a, b) by the standard Lentz
    * continued fraction (the classical public algorithm; |rel err|
    * ~1e-14 over the Student-t use range). Driver-side doubles only —
    * same contract as [[inverseNormalCdf]]: results are rounded into
    * integer thresholds both engines share verbatim.
    */
  private def regIncompleteBeta(a: Double, b: Double, x: Double): Double = {
    if (x <= 0.0) return 0.0
    if (x >= 1.0) return 1.0
    def betacf(a: Double, b: Double, x: Double): Double = {
      val eps = 1e-15; val fpmin = 1e-300
      val qab = a + b; val qap = a + 1.0; val qam = a - 1.0
      var c = 1.0
      var d = 1.0 - qab * x / qap
      if (math.abs(d) < fpmin) d = fpmin
      d = 1.0 / d
      var h = d
      var m = 1
      var done = false
      while (m <= 300 && !done) {
        val m2 = 2 * m
        var aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d; if (math.abs(d) < fpmin) d = fpmin
        c = 1.0 + aa / c; if (math.abs(c) < fpmin) c = fpmin
        d = 1.0 / d; h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d; if (math.abs(d) < fpmin) d = fpmin
        c = 1.0 + aa / c; if (math.abs(c) < fpmin) c = fpmin
        d = 1.0 / d
        val del = d * c; h *= del
        if (math.abs(del - 1.0) < eps) done = true
        m += 1
      }
      h
    }
    val lnBeta = lnGamma(a) + lnGamma(b) - lnGamma(a + b)
    val front = math.exp(a * math.log(x) + b * math.log1p(-x) - lnBeta)
    // ln B(a,b) is symmetric in (a,b), so the swapped branch reuses the
    // same front factor — this is the standard 1 − front·cf(b,a,1−x)/b form
    if (x < (a + 1.0) / (a + b + 2.0)) front * betacf(a, b, x) / a
    else 1.0 - front * betacf(b, a, 1.0 - x) / b
  }

  /** ln Γ by the Lanczos series (g=7, the widely published coefficient
    * set; |rel err| < 1e-13 for positive arguments).
    */
  private def lnGamma(x: Double): Double = {
    val g = Array(
      0.99999999999980993, 676.5203681218851, -1259.1392167224028,
      771.32342877765313, -176.61502916214059, 12.507343278686905,
      -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
    if (x < 0.5)
      math.log(math.Pi / math.sin(math.Pi * x)) - lnGamma(1.0 - x)
    else {
      val xx = x - 1.0
      var a = g(0)
      val t = xx + 7.5
      var i = 1
      while (i < 9) { a += g(i) / (xx + i); i += 1 }
      0.5 * math.log(2.0 * math.Pi) + (xx + 0.5) * math.log(t) - t +
        math.log(a)
    }
  }

  /** Two-sided Student-t tail: P(|T_dof| > t) = I_{dof/(dof+t²)}(dof/2, ½). */
  private def tTwoSidedTail(t: Double, dof: Int): Double =
    regIncompleteBeta(dof / 2.0, 0.5, dof / (dof + t * t))

  /** EXACT finite-sample ladder for the BH/FWER procedures on OLS Wald
    * t² (q377, the [[chi2InvMilliLadder]] small-n correction the r12
    * ADVICE flagged): under the finite-sample null the integer Wald t²
    * is F(1, dof) = t(dof)², so the rung is Q_{F(1,dof)}(1 − α·k/m) =
    * tinv(1 − α·k/(2m), dof)², found by monotone bisection on the exact
    * two-sided t tail (60 halvings of [0, 10⁶] → ~1e-10 absolute,
    * far inside the milli grain). ceil-quantized like the χ² ladder so
    * discretization only tightens. At dof → ∞ this converges to the
    * χ² ladder from above — the F rung is ALWAYS ≥ its χ² twin, which
    * is exactly the anticonservativity gap q377 measures (at q371's
    * m=1395, dof=58: head rung 20.055 vs χ²'s 17.080; at the k=m tail,
    * 4.007 vs 3.842).
    */
  def fInvMilliLadder(m: Int, dof: Int, alphaPpm: Long = 50000L)
      : IndexedSeq[Long] = {
    require(m >= 1 && dof >= 1 && alphaPpm > 0 && alphaPpm < 1000000)
    (1 to m).map { k =>
      val q = alphaPpm.toDouble / 1e6 * k / m // two-sided tail target
      fQuantMilli(q, dof)
    }
  }

  /** Q_{F(1,dof)}(1 − q) in t²-milli (ceil), by the same bisection the
    * ladder uses — factored out so the BY ladder can scale q.
    */
  private def fQuantMilli(q: Double, dof: Int): Long = {
    var lo = 0.0; var hi = 1e6
    // the fixed [0, 1e6] bracket silently SATURATED for tiny tails at
    // very small dof (t(1) quantile ≈ 2/(π·q) exceeds 1e6 below
    // q ≈ 6.4e-7) and returned an understated — anticonservative —
    // threshold with no error. Grow hi geometrically until the exact
    // tail at hi is at or below the target, so the quantile is inside
    // the bracket before bisecting; latent for every current caller
    // (dof ≥ 18), guarded for the ones a user writes.
    while (tTwoSidedTail(hi, dof) > q && hi < 1e300) { lo = hi; hi *= 64.0 }
    var i = 0
    while (i < 80) {
      val mid = 0.5 * (lo + hi)
      if (tTwoSidedTail(mid, dof) > q) lo = mid else hi = mid
      i += 1
    }
    val t = 0.5 * (lo + hi)
    math.ceil(t * t * 1000.0).toLong
  }

  /** Benjamini-Yekutieli 2001 ladder (q382): BH's step-up thresholds
    * divided by the harmonic number H_m = Σ_{i≤m} 1/i, which makes the
    * FDR bound hold under ARBITRARY dependence between the test
    * statistics (BH's own guarantee needs independence or PRDS; a
    * catalog census over one shared panel is exactly where arbitrary
    * dependence lives). Rung k = Q_{F(1,dof)}(1 − α·k/(m·H_m)) — the
    * exact finite-sample quantile, ceil-quantized; dominates the BH/F
    * ladder elementwise by construction (H_m > 1 for m > 1).
    */
  def byInvMilliLadder(m: Int, dof: Int, alphaPpm: Long = 50000L)
      : IndexedSeq[Long] = {
    require(m >= 1 && dof >= 1 && alphaPpm > 0 && alphaPpm < 1000000)
    val hm = (1 to m).map(1.0 / _).sum
    (1 to m).map { k =>
      val q = alphaPpm.toDouble / 1e6 * k / (m * hm)
      fQuantMilli(q, dof)
    }
  }

  /** PC orientation phase over a [[pcSkeleton]] output: collider
    * (v-structure) detection from the skeleton's own order-≤1 separation
    * decisions, then `meekRounds` unrolled rounds of the FULL Meek
    * closure — rules 1, 2 and 3 applied simultaneously per round. Meek
    * (1995) proves R1–R3 complete for the CPDAG of a pattern with no
    * background knowledge (R4 fires only when background orientations
    * exist), so a fixpoint of these rounds IS the maximally-oriented
    * CPDAG the PC family is defined to return.
    *
    * Pinned deterministic semantics (mirrored CTE-for-CTE by
    * [[pcOrientSqlCtes]]):
    *  - Unshielded triple x–z–y (x < y canonically, x,y non-adjacent in
    *    the skeleton): orient x→z←y iff z is NOT a MEMBER of the recorded
    *    sepset of (x,y) — sepset is a `~`-delimited series list (one
    *    element from [[pcSkeleton]], `z~w` from [[pcSkeleton2]] via
    *    [[pcOrient2]]; series names must not contain `~`). A pair dropped
    *    at order 0 has sepset NULL (the empty separating set), so every
    *    such triple is a collider, the textbook rule.
    *  - Claims are applied simultaneously per phase; an edge claimed in
    *    BOTH directions (within one phase, or any rule against an
    *    existing v-orientation — existing direction wins) stays/remains
    *    as it was: conservative-PC conflict handling, order-free and
    *    therefore partitioning-invariant.
    *  - up to `meekRounds` rounds (a cap — the loop exits early at the
    *    fixpoint, i.e. the first round that generates no claims; results
    *    are identical because applying an empty claim set is the
    *    identity), each reading the previous round's state only
    *    (PC-stable discipline), claiming per rule:
    *     R1: a→z directed, z–b undirected, a,b non-adjacent ⇒ z→b;
    *     R2: a→c→b directed chain, a–b undirected ⇒ a→b
    *         (the reverse would make the cycle a→c→b→a);
    *     R3: a–b, a–c, a–d undirected, c→b and d→b directed, c,d
    *         non-adjacent ⇒ a→b (b←a would force one of c→b←d's tails
    *         through a into a new v-structure or cycle).
    *
    * Output: one row per skeleton edge (a, b, dir) with a < b and
    * dir ∈ {1: a→b, 2: b→a, 0: undirected}. Everything here is
    * panel-grain (≤ p² rows); the fact-scale work stays upstream in the
    * skeleton's rank cross-moments.
    *
    * PRECONDITION (load-bearing): `skeleton` must carry a row for every
    * unordered pair the triples can touch — in particular the edge=0
    * (separated) rows — exactly [[pcSkeleton]]'s output shape. The
    * collider stage inner-joins each unshielded triple against its (x,y)
    * pair row, so a caller passing only surviving-edge rows would
    * silently lose every collider rather than fail. Enforced up front
    * with an exact assertion over the (tiny, already-checkpointed)
    * frame: every x–z–y triple candidate must find its (x,y) row. (A
    * plain C(p,2) row count would over-reject the multi-graph folding
    * where several disjoint graphs share one frame via key-prefixed
    * series names; the anti-join form asserts precisely the rows the
    * algorithm reads.)
    *
    * One legitimate input also trips it: a pairwise-complete panel
    * where two series NEVER co-observe a day has no cross-moment row
    * and therefore no skeleton row for that pair — not a caller error.
    * For such panels pass `requirePairRows = false`: the triple whose
    * pair was never testable is then dropped by the inner join — no
    * independence record exists, so claiming a collider from it would
    * be evidence-free; the conservative skip is the pinned semantic.
    *
    * Reference anchor: the reference's consumers emit DIRECTED graphs and
    * its structural SHD charges reversals
    * (helper_funcs/metrics_helper.py:80-138) — a skeleton alone
    * under-specifies what [[Metrics.scoreAll]] scores; this supplies the
    * CPDAG the PC family is defined to return.
    */
  /** [[pcOrient]]'s every-pair-row precondition as a standalone check:
    * every unshielded-triple candidate the skeleton's adjacency can form
    * must find its (x,y) skeleton row (edge=0 rows included). Callers
    * that time repeated pcOrient runs over ONE skeleton (Bench's
    * median-of-N loops) verify here once, outside the timed region, then
    * pass `requirePairRows = false` — the check is an eager count job
    * and would otherwise be measured into every repetition.
    */
  def assertPairRows(skeleton: DataFrame): Unit = {
    val sk = pinTiny(
      skeleton.select(col("a"), col("b"), col("edge")))
    val und = sk.where(col("edge") === 1).select(col("a"), col("b"))
    val adj = und.unionByName(und.select(col("b").as("a"), col("a").as("b")))
    val cand = adj.select(col("a").as("x"), col("b").as("z"))
      .join(broadcast(adj.select(col("a").as("z"), col("b").as("y"))),
        Seq("z"))
      .where(col("x") < col("y"))
    assertPairRowsFrom(sk, cand)
  }

  private def assertPairRowsFrom(sk: DataFrame, cand: DataFrame): Unit = {
    val miss = cand
      .join(broadcast(sk.select(col("a").as("x"), col("b").as("y"),
        lit(1).as("hit"))), Seq("x", "y"), "left_outer")
      .where(col("hit").isNull).count()
    require(miss == 0L,
      s"pcOrient requires a skeleton row for every unordered pair its " +
        s"unshielded triples touch (edge=0 rows included): $miss " +
        s"triple candidate(s) found no (x,y) row — either the caller " +
        s"passed only surviving-edge rows (the bug this catches), or " +
        s"a pair never co-observes a day in a pairwise-complete " +
        s"panel (legitimate: pass requirePairRows = false to pin the " +
        s"conservative skip)")
  }

  def pcOrient(skeleton: DataFrame, meekRounds: Int = 3,
      requirePairRows: Boolean = true): DataFrame = {
    val sk = pinTiny(
      skeleton.select(col("a"), col("b"), col("sepset"), col("edge")))
    val und = sk.where(col("edge") === 1).select(col("a"), col("b"))
    val adj = und.unionByName(und.select(col("b").as("a"), col("a").as("b")))
    // the skeleton keeps a row for every pair a triple can form, so the
    // triple's non-adjacency + sepset test is one equi-join against
    // pc_out — candidates built once, precondition-checked, then reused
    val cand = adj.select(col("a").as("x"), col("b").as("z"))
      .join(broadcast(adj.select(col("a").as("z"), col("b").as("y"))),
        Seq("z"))
      .where(col("x") < col("y"))
    // enforce the every-pair-row precondition (see scaladoc): a triple
    // candidate whose (x,y) row is absent would be dropped by the inner
    // join below — a silent collider loss — so fail loudly instead; one
    // tiny count job over checkpointed panel-grain frames. Skippable
    // (requirePairRows = false) for pairwise-complete panels where a
    // pair legitimately never co-observes — there the drop IS the
    // pinned conservative semantic (scaladoc) — and for callers that
    // verified the same skeleton once up front via [[assertPairRows]]
    // (Bench's timed loops: the eager count job would otherwise land
    // inside every measured repetition)
    if (requirePairRows) assertPairRowsFrom(sk, cand)
    val trip = cand
      .join(broadcast(sk.select(col("a").as("x"), col("b").as("y"),
        col("sepset"), col("edge"))), Seq("x", "y"))
      .where(col("edge") === 0 &&
        (col("sepset").isNull ||
          !array_contains(split(col("sepset"), "~"), col("z"))))
      .select(col("x"), col("y"), col("z"))
    val vclaims = trip.select(col("x").as("src"), col("z").as("dst"))
      .unionByName(trip.select(col("y").as("src"), col("z").as("dst")))
      .distinct()
      .localCheckpoint(false)
    // simultaneous application with conflict-cancel: claims must be
    // DISTINCT so the two left joins cannot fan state rows out
    def applyClaims(state: DataFrame, claims: DataFrame): DataFrame =
      state
        .join(broadcast(claims.select(col("src").as("a"), col("dst").as("b"),
          lit(1).as("cf"))), Seq("a", "b"), "left_outer")
        .join(broadcast(claims.select(col("dst").as("a"), col("src").as("b"),
          lit(1).as("cr"))), Seq("a", "b"), "left_outer")
        .select(col("a"), col("b"),
          when(col("dir") =!= 0, col("dir"))
            .when(col("cf").isNotNull && col("cr").isNull, 1)
            .when(col("cr").isNotNull && col("cf").isNull, 2)
            .otherwise(0).as("dir"))
    // EAGER checkpoints on the loop state: a lazy one never truncates the
    // plan between rounds (no action runs inside the loop), so each round
    // re-references the whole previous round's tree ~6 times and Catalyst
    // analysis goes exponential — measured 7.5 s at 3 rounds, 171 s at 4;
    // eager materialization keeps every round's plan constant-size
    var state = pinTiny(applyClaims(und.withColumn("dir", lit(0)), vclaims))
    // meekRounds is a CAP, not a schedule: the loop exits at the fixpoint —
    // a round whose claims frame is empty cannot change state (applyClaims
    // of no claims is the identity), and claims are a pure function of
    // state, so every later round would be empty too. The isEmpty probe
    // costs one job over the already-checkpointed ≤ p²-row claims frame,
    // against the 2 eager checkpoints + ~10 tiny broadcast joins a dead
    // round would pay — at catalog grain (864-config CPDAG closing before
    // round 3) the dead rounds WERE the dominant cost of the whole rung
    var converged = false
    (1 to meekRounds).foreach { _ => if (!converged) {
      // dd/uu stay lazy: they are 1-step selections over the checkpointed
      // state, and a localCheckpoint here would cost one extra Spark job
      // per frame per round (measured: q332 1.2 s → 4.3 s)
      val dd = state.where(col("dir") === 1)
        .select(col("a").as("src"), col("b").as("dst"))
        .unionByName(state.where(col("dir") === 2)
          .select(col("b").as("src"), col("a").as("dst")))
      val uu = state.where(col("dir") === 0)
        .select(col("a").as("z"), col("b").as("w"))
        .unionByName(state.where(col("dir") === 0)
          .select(col("b").as("z"), col("a").as("w")))
      // every join below carries an explicit broadcast hint: these frames
      // are ≤ p² rows, and without the hint Spark plans 32-partition
      // shuffle joins whose exchange overhead dominates (q332 measured
      // seconds of pure tiny-shuffle scheduling)
      val r1 = dd.join(broadcast(uu), dd("dst") === uu("z"))
        .where(col("w") =!= col("src"))
        .join(broadcast(adj.select(col("a").as("src"), col("b").as("w"),
          lit(1).as("isadj"))), Seq("src", "w"), "left_outer")
        .where(col("isadj").isNull)
        .select(col("z").as("src"), col("w").as("dst"))
      // R2: src→mid→dst directed, src–dst undirected ⇒ src→dst. The
      // undirected test is the equi-join against uu (which carries both
      // orientations of every dir=0 edge, so (src,dst) hits either way)
      val r2 = dd.select(col("src"), col("dst").as("mid"))
        .join(broadcast(dd.select(col("src").as("mid"), col("dst"))),
          Seq("mid"))
        .join(broadcast(uu.select(col("z").as("src"), col("w").as("dst"))),
          Seq("src", "dst"))
        .select(col("src"), col("dst"))
      // R3: tail–head undirected with two undirected spokes tail–c,
      // tail–d whose far ends both point at head (c→head, d→head) and
      // c,d non-adjacent ⇒ tail→head. c < d dedups the symmetric pick.
      val r3 = uu.select(col("z").as("tail"), col("w").as("head"))
        .join(broadcast(uu.select(col("z").as("tail"), col("w").as("c"))),
          Seq("tail"))
        .join(broadcast(uu.select(col("z").as("tail"), col("w").as("d"))),
          Seq("tail"))
        .where(col("c") < col("d") &&
          col("c") =!= col("head") && col("d") =!= col("head"))
        .join(broadcast(dd.select(col("src").as("c"),
          col("dst").as("head"))), Seq("c", "head"))
        .join(broadcast(dd.select(col("src").as("d"),
          col("dst").as("head"))), Seq("d", "head"))
        .join(broadcast(adj.select(col("a").as("c"), col("b").as("d"),
          lit(1).as("cdadj"))), Seq("c", "d"), "left_outer")
        .where(col("cdadj").isNull)
        .select(col("tail").as("src"), col("head").as("dst"))
      // checkpoint the round's claims ONCE: applyClaims broadcasts the
      // frame twice, and an un-materialized claims DAG would be fully
      // re-evaluated by each broadcast
      val claims = r1.unionByName(r2).unionByName(r3).distinct()
        .localCheckpoint(false)
      if (claims.isEmpty) converged = true
      else state = pinTiny(applyClaims(state, claims))
    }}
    state
  }

  /** [[pcOrient]] over a [[pcSkeleton2]] output: identical v-structure +
    * full-Meek contract on the ORDER-2 graph — adjacency is `edge2` and
    * the blocking set of a removed pair is whichever stage separated it
    * (the order-1 `sepset` when present, else the order-2 `z~w` pair;
    * both flow through [[pcOrient]]'s `~`-membership test).
    *
    * Inherits [[pcOrient]]'s PRECONDITION: the skeleton2 frame must carry
    * a row for every unordered series pair (edge2=0 rows included) —
    * [[pcSkeleton2]]'s output shape; the same triple-candidate pair-row
    * assertion (and its `requirePairRows` escape for never-co-observed
    * pairs) applies.
    */
  def pcOrient2(skeleton2: DataFrame, meekRounds: Int = 3,
      requirePairRows: Boolean = true): DataFrame =
    pcOrient(skeleton2.select(col("a"), col("b"),
      coalesce(col("sepset"), col("sepset2")).as("sepset"),
      col("edge2").as("edge")), meekRounds, requirePairRows)

  /** [[pcOrient]] as CTEs downstream of `src` (`pc_out` from
    * [[pcSkeletonSqlCtes]] by default; pass an adapter CTE name for the
    * order-2 graph); yields `pc_st$meekRounds(a, b, dir)`.
    */
  def pcOrientSqlCtes(meekRounds: Int = 3,
      src: String = "pc_out"): String = {
    val sb = new StringBuilder
    sb.append(
      s"""pc_und AS MATERIALIZED (SELECT a, b FROM $src WHERE edge = 1),
        |pc_adj AS MATERIALIZED (SELECT a, b FROM pc_und UNION ALL SELECT b, a FROM pc_und),
        |pc_trip2 AS MATERIALIZED (
        |  SELECT e1.a AS x, e1.b AS z, e2.b AS y
        |  FROM pc_adj e1
        |  JOIN pc_adj e2 ON e2.a = e1.b AND e1.a < e2.b
        |  JOIN $src p ON p.a = e1.a AND p.b = e2.b
        |  WHERE p.edge = 0 AND (p.sepset IS NULL
        |    OR NOT list_contains(string_split(p.sepset, '~'), e1.b))),
        |pc_vcl AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT x AS src, z AS dst FROM pc_trip2
        |    UNION ALL SELECT y, z FROM pc_trip2)),
        |pc_st0 AS MATERIALIZED (
        |  SELECT u.a, u.b,
        |    CASE WHEN cf.src IS NOT NULL AND cr.src IS NULL THEN 1
        |         WHEN cr.src IS NOT NULL AND cf.src IS NULL THEN 2
        |         ELSE 0 END AS dir
        |  FROM pc_und u
        |  LEFT JOIN pc_vcl cf ON cf.src = u.a AND cf.dst = u.b
        |  LEFT JOIN pc_vcl cr ON cr.src = u.b AND cr.dst = u.a)"""
        .stripMargin)
    for (k <- 1 to meekRounds) {
      sb.append(s""",
        |pc_d$k AS MATERIALIZED (
        |  SELECT a AS src, b AS dst FROM pc_st${k - 1} WHERE dir = 1
        |  UNION ALL SELECT b, a FROM pc_st${k - 1} WHERE dir = 2),
        |pc_u$k AS MATERIALIZED (
        |  SELECT a AS z, b AS w FROM pc_st${k - 1} WHERE dir = 0
        |  UNION ALL SELECT b, a FROM pc_st${k - 1} WHERE dir = 0),
        |pc_cl$k AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT u.z AS src, u.w AS dst
        |    FROM pc_d$k d JOIN pc_u$k u ON u.z = d.dst AND u.w <> d.src
        |    LEFT JOIN pc_adj n ON n.a = d.src AND n.b = u.w
        |    WHERE n.a IS NULL
        |    UNION ALL
        |    SELECT d1.src, d2.dst
        |    FROM pc_d$k d1 JOIN pc_d$k d2 ON d2.src = d1.dst
        |    JOIN pc_u$k u ON u.z = d1.src AND u.w = d2.dst
        |    UNION ALL
        |    SELECT ub.z, ub.w
        |    FROM pc_u$k ub
        |    JOIN pc_u$k uc ON uc.z = ub.z AND uc.w <> ub.w
        |    JOIN pc_u$k ud ON ud.z = ub.z AND ud.w <> ub.w
        |      AND uc.w < ud.w
        |    JOIN pc_d$k dc ON dc.src = uc.w AND dc.dst = ub.w
        |    JOIN pc_d$k dd ON dd.src = ud.w AND dd.dst = ub.w
        |    LEFT JOIN pc_adj n ON n.a = uc.w AND n.b = ud.w
        |    WHERE n.a IS NULL) cl(src, dst)),
        |pc_st$k AS MATERIALIZED (
        |  SELECT s.a, s.b,
        |    CASE WHEN s.dir <> 0 THEN s.dir
        |         WHEN cf.src IS NOT NULL AND cr.src IS NULL THEN 1
        |         WHEN cr.src IS NOT NULL AND cf.src IS NULL THEN 2
        |         ELSE 0 END AS dir
        |  FROM pc_st${k - 1} s
        |  LEFT JOIN pc_cl$k cf ON cf.src = s.a AND cf.dst = s.b
        |  LEFT JOIN pc_cl$k cr ON cr.src = s.b AND cr.dst = s.a)"""
        .stripMargin)
    }
    sb.toString
  }

  /** [[pcOrient2]] as CTEs downstream of `pc2_out` (the
    * [[pcSkeleton2SqlCtes]] terminal): one adapter CTE folds the order-2
    * columns into the [[pcOrientSqlCtes]] shape, then the shared
    * orientation chain runs off it; yields `pc_st$meekRounds(a, b, dir)`.
    */
  def pcOrient2SqlCtes(meekRounds: Int = 3): String =
    """pc2_sk AS MATERIALIZED (
      |  SELECT a, b, coalesce(sepset, sepset2) AS sepset, edge2 AS edge
      |  FROM pc2_out),
      |""".stripMargin + pcOrientSqlCtes(meekRounds, "pc2_sk")

  /** Quantized natural-log lookup ln(k)·1e6, k = 1..maxN — the single
    * source of truth for the transfer-entropy oracle: rendered as a Spark
    * CASE and a DuckDB CASE from the same table, so both engines share the
    * identical quantization by construction.
    */
  def lnMicroTable(maxN: Int): IndexedSeq[Long] =
    (1 to maxN).map(k => Math.round(Math.log(k.toDouble) * 1e6))

  def lnMicroCase(operand: String, maxN: Int): String =
    s"CASE $operand " + lnMicroTable(maxN).zipWithIndex.map {
      case (v, i) => s"WHEN ${i + 1} THEN $v"
    }.mkString(" ") + " ELSE 0 END"

  /** Binary-binned lag-1 transfer entropy census per ordered pair:
    * series values binned above/below their own integer mean (sum div n),
    * triples (y_t, y_{t-1}, x_{t-1}) counted, and
    * N·TE = Σ_c c·[ln c + ln c(y_{t-1}) − ln c(y_{t-1},x) − ln c(y_t,y_{t-1})]
    * evaluated through the shared micro-ln table. Output integer
    * micro-nats (×N) — quantization may dip a few micro below zero, the
    * census pins whatever the shared table yields.
    */
  def transferEntropy(panel: DataFrame, maxN: Int = 64): DataFrame = {
    val means = panel.groupBy("series")
      .agg(expr("sum(v) div count(1)").as("mean_v"))
    val binned = panel.join(broadcast(means), Seq("series"))
      .select(col("series"), col("day"),
        when(col("v") > col("mean_v"), 1).otherwise(0).as("bit"))
    val x = binned.select(col("series").as("cause"), col("day"),
      col("bit").as("xb"))
    val y = binned.select(col("series").as("effect"), col("day"),
      col("bit").as("yb"))
    val w = Window.partitionBy("cause", "effect").orderBy("day")
    val lagged = y.join(broadcast(x), Seq("day"))
      .where(col("cause") =!= col("effect"))
      .select(col("cause"), col("effect"), col("day"),
        col("yb").as("ynow"), lag("yb", 1).over(w).as("yprev"),
        lag("xb", 1).over(w).as("xprev"))
      .where(col("yprev").isNotNull)
    val trip = lagged.groupBy("cause", "effect", "ynow", "yprev", "xprev")
      .agg(count(lit(1)).as("c3"))
    val cY = lagged.groupBy("cause", "effect", "yprev")
      .agg(count(lit(1)).as("c_y"))
    val cYX = lagged.groupBy("cause", "effect", "yprev", "xprev")
      .agg(count(lit(1)).as("c_yx"))
    val cYY = lagged.groupBy("cause", "effect", "ynow", "yprev")
      .agg(count(lit(1)).as("c_yy"))
    val ln = (c: String) => expr(lnMicroCase(c, maxN))
    trip
      .join(broadcast(cY), Seq("cause", "effect", "yprev"))
      .join(broadcast(cYX), Seq("cause", "effect", "yprev", "xprev"))
      .join(broadcast(cYY), Seq("cause", "effect", "ynow", "yprev"))
      .groupBy("cause", "effect")
      .agg(sum(col("c3")).cast("long").as("n"),
        sum(col("c3") *
          (ln("c3") + ln("c_y") - ln("c_yx") - ln("c_yy")))
          .cast("long").as("te_micro_n"))
  }

  /** One-way ANOVA over a panel (series, day, v): between/within sums of
    * squares from per-group integer moments (B N²-scaled with a declared
    * per-group div, then one N-normalization so the sum stays in LONG),
    * F decision cross-multiplied at the 5% F(k−1, ∞) value `fCritMilli`.
    * q326's engine; panel-grain magnitudes are corpus-scale-invariant.
    */
  def anovaOneWay(panel: DataFrame, fCritMilli: Long = 2372L): DataFrame = {
    val g = panel.groupBy("series").agg(
      count(lit(1)).as("n_g"),
      sum(col("v").cast("decimal(38,0)")).as("s_g"),
      sum((col("v") * col("v")).cast("decimal(38,0)")).as("q_g"))
    val tot = g.agg(sum("n_g").as("n"), sum("s_g").as("s"),
      count(lit(1)).as("k"))
    g.crossJoin(broadcast(tot))
      .select(col("series"), col("n_g"), col("n"), col("k"),
        expr("""((s_g * n - s * n_g) * (s_g * n - s * n_g))
               | div cast(n_g as decimal(38,0))""".stripMargin).as("b_g"),
        expr("(cast(n_g as decimal(38,0)) * q_g - s_g * s_g)"
          + " div cast(n_g as decimal(38,0))").as("w_g"))
      .groupBy()
      .agg(max("n").as("n_days"), max("k").as("k_groups"),
        expr("sum(cast(b_g as decimal(38,0))) div max(n)")
          .cast("long").as("ssb_n"),
        sum(col("w_g").cast("decimal(38,0)")).cast("long").as("ssw"))
      .select(col("n_days"), col("k_groups"), col("ssb_n"), col("ssw"),
        expr(s"""case when ssw > 0 and
               |  1000 * (n_days - k_groups)
               |    * cast(ssb_n as decimal(38,0))
               |  > $fCritMilli * (k_groups - 1)
               |    * cast(ssw as decimal(38,0)) * n_days
               |then 1 else 0 end""".stripMargin).cast("int")
          .as("means_differ"))
  }

  /** Kruskal-Wallis over a panel (series, day, v): global ranks with the
    * (v, series, day) total tie-break, H cross-multiplied against the
    * χ²_{k−1} 5% value `chi2Milli`. q327's engine.
    */
  def kruskalWallis(panel: DataFrame, chi2Milli: Long = 9488L): DataFrame = {
    val ranked = panel.select(col("series"),
      row_number().over(Window.orderBy("v", "series", "day"))
        .cast("long").as("r"))
    val g = ranked.groupBy("series")
      .agg(count(lit(1)).as("n_g"), sum("r").as("r_g"))
    g.agg(sum("n_g").as("n"), count(lit(1)).as("k"),
        sum(expr("(r_g * r_g) div n_g")).as("t_sum"))
      .select(col("n").as("n_days"), col("k").as("k_groups"),
        col("t_sum"),
        expr(s"""case when
               |  1000 * (12 * t_sum - 3 * (n + 1) * (n + 1) * n)
               |  > $chi2Milli * n * (n + 1)
               |then 1 else 0 end""".stripMargin).cast("int")
          .as("distributions_differ"))
  }

  /** Log-rank test over subjects (g ∈ {0,1}, t time-to-event-or-censor,
    * e event flag): per event time the at-risk/death counts by group from
    * one cumulative pass, ppm-quantized expectation + hypergeometric
    * variance, χ²₁ decision cross-multiplied (`z2Ppm` = z²·10⁶ at the
    * chosen level). q323's engine.
    */
  def logRank(subjects: DataFrame, z2Ppm: Long = 3841600L): DataFrame = {
    val times = subjects.groupBy("t")
      .agg(sum(when(col("g") === 1, col("e")).otherwise(lit(0L))).as("d1"),
        sum("e").as("dt"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("c1"),
        count(lit(1)).as("ct"))
    val wt = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = subjects.agg(count(lit(1)).as("ntot"),
      sum(when(col("g") === 1, 1L).otherwise(0L)).as("n1tot"))
    val risk = times.crossJoin(broadcast(tot))
      .select(col("t"), col("d1"), col("dt"),
        (col("ntot") - coalesce(sum("ct").over(wt), lit(0L))).as("nt"),
        (col("n1tot") - coalesce(sum("c1").over(wt), lit(0L))).as("n1t"))
      .where(col("dt") > 0)
      .select(col("t"), col("d1"), col("dt"), col("nt"), col("n1t"),
        expr("(dt * n1t * 1000000) div nt").as("e1_ppm"),
        expr("""case when nt <= 1 then 0 else
               |  (cast(dt * n1t as decimal(38,0)) * (nt - n1t)
               |   * (nt - dt) * 1000000)
               |  div (cast(nt as decimal(38,0)) * nt * (nt - 1))
               |end""".stripMargin).cast("long").as("v_ppm"))
    risk.agg(count(lit(1)).as("n_times"),
        sum(expr("d1 * 1000000 - e1_ppm")).as("o_minus_e_ppm"),
        sum("v_ppm").as("v_ppm"))
      .select(col("n_times"), col("o_minus_e_ppm"), col("v_ppm"),
        expr(s"""case when v_ppm > 0 and
               |  cast(o_minus_e_ppm as decimal(38,0)) * o_minus_e_ppm
               |    > cast($z2Ppm as decimal(38,0)) * v_ppm
               |then 1 else 0 end""".stripMargin).cast("int")
          .as("groups_differ"))
  }

  // ---------------------------------------------------------------------
  // Structural edge-WEIGHT recovery (OLS on a declared/discovered parent
  // set): the estimation step a consumer runs AFTER discovery. The PC /
  // Granger operators above decide WHICH edges exist; these recover HOW
  // STRONG each edge is, exactly — per-link OLS coefficients via Cramer's
  // rule over centered lagged cross-moments, all integer, so the betas
  // hash bitwise against the DuckDB oracle and can be scored against the
  // catalog's declared coefficients (CausalLink.coef) and the kernel's
  // EFFECTIVE ones (Parser.effectiveLinks — §2.4-2 dead links read 0).
  // ---------------------------------------------------------------------

  /** Centered cross-moments between VIRTUAL LAGGED SERIES of an aligned
    * integer panel (series, day, v). `specs` enumerates the virtual
    * series as (series, lag) pairs: each becomes a row stream named
    * `series@lag` positioned at t = day + lag (so its value is the
    * series lagged by `lag` as seen from t). `windowPred` is a predicate
    * over column `t` selecting the COMMON regression window — pass
    * t BETWEEN lMax AND n-1 for a 0-based regular clock (and the
    * mod-K variant for q340-style folded panels) so every pair shares
    * one n and the moment matrix stays Cramer-consistent; lags in specs
    * must not exceed the window's lower bound or pairs lose rows.
    *
    * Output: (na, nb, n, c) with na ≤ nb (binary string order, both
    * engines), c = n·Σab − Σa·Σb exact in LONG (|v| ≤ 1e3, n ≤ 1e5 keeps
    * |c| ≤ ~2·n²·v² ≈ 2e16). One fact-scale equi-join on t — broadcast
    * the build side for single-graph panels (`broadcastB`, default),
    * shuffle for folded megarow panels (pass false: the cluster shape).
    * Mirrored by [[structuralMomentsSqlCtes]].
    */
  def laggedCrossMoments(panel: DataFrame, specs: Seq[(String, Int)],
      windowPred: Column, broadcastB: Boolean = true): DataFrame = {
    require(specs.nonEmpty, "specs must be non-empty")
    val spark = panel.sparkSession
    import spark.implicits._
    val specDf = specs.distinct.toDF("series", "lag")
    val v = panel.join(broadcast(specDf), Seq("series"))
      .select(concat(col("series"), lit("@"), col("lag")).as("vs"),
        (col("day") + col("lag")).as("t"), col("v"))
    virtualCrossMoments(v, windowPred, broadcastB)
  }

  /** The self-join + moment-aggregation core of [[laggedCrossMoments]]
    * over a PREBUILT virtual frame (vs, t, v) — the irregular-clock path
    * (q356) supplies its own nearest-lag alignment (the generator's own
    * rule, Lagged.nearestLagIndexView) instead of the regular-clock
    * index shift, exactly as grangerSumsFromLagged splits from
    * grangerSums. Same output and knobs. Mirrored by
    * [[structuralMomentsFromVirtualSqlCtes]].
    */
  def virtualCrossMoments(virt: DataFrame, windowPred: Column,
      broadcastB: Boolean = true): DataFrame = {
    val v = virt.where(windowPred)
    val a = v.select(col("vs").as("na"), col("t"), col("v").as("va"))
    val b0 = v.select(col("vs").as("nb"), col("t"), col("v").as("vb"))
    val b = if (broadcastB) broadcast(b0) else b0
    centeredCrossMoments(
      a.join(b, Seq("t")).where(col("na") <= col("nb")),
      "na", "nb", "va", "vb")
  }

  /** Per-link OLS coefficients by Cramer's rule (k ≤ 2 regressors) over a
    * [[laggedCrossMoments]] frame. `links` rows carry virtual names:
    * `y` (the target at lag 0), `x` (this link's regressor), `sib` (the
    * target's OTHER regressor, NULL for single-parent targets — the k=1
    * simple-regression branch). Every extra column of `links` passes
    * through. Appended columns: the six centered moments and
    *
    *   beta_ppm = 10⁶ · (C_ss·C_jy − C_js·C_sy) div (C_jj·C_ss − C_js²)
    *   (k=2; the k=1 branch is 10⁶·C_jy div C_jj) — exact truncating
    *   division, identical on both engines for either sign.
    *
    * The moments frame is post-aggregation tiny (|specs|² rows), so all
    * six lookups broadcast. Integer budget: the k=2 numerator is
    * 10⁶·C·C, so |C| ≤ ~5·10¹⁵ — n ≤ ~5·10⁴ observations per graph at
    * milli quantization — keeps every product inside DECIMAL(38,0)/
    * HUGEINT (the weightrec bench rung runs exactly at that boundary).
    * Mirrored by [[structuralBetasSqlCtes]].
    */
  def structuralBetas(moments: DataFrame, links: DataFrame): DataFrame = {
    // Materialize the pair-grain moment frame ONCE before the six lookup
    // broadcasts hang off it. Without this, each broadcast is its own AQE
    // stage that re-runs the moment aggregation's reduce side (the map
    // side dedupes through exchange reuse, the final agg + broadcast build
    // do not — six stages re-read the partial-agg shuffle; unifying the
    // six projections does NOT fix it, column pruning restores the
    // asymmetry — see plans/r15/*_executed.txt). The frame is BOUNDED at
    // one row per requested pair (≤ ~115k at the 85k-hypothesis rung) —
    // never corpus-scale — so the pin is safe at any input size, the same
    // pinTiny discipline the pc path uses. Measured when it landed (commit
    // f65c545, interleaved A/B): bhfdr_catalog 22.3 → 16.0 s,
    // weightwide_p256_dense 6.7 → 5.1 s; outputs bitwise identical
    // (checkpoint is value-neutral).
    val m = pinTiny(moments.select("na", "nb", "n", "c"))
    def look(df: DataFrame, k1: String, k2: String, out: String,
        withN: Boolean = false): DataFrame = {
      val cols = (if (withN) Seq(col("n")) else Nil) :+ col("c").as(out)
      df.join(broadcast(m.select(col("na") +: col("nb") +: cols: _*)),
        least(col(k1), col(k2)) === col("na") &&
          greatest(col(k1), col(k2)) === col("nb"), "left")
        .drop("na", "nb")
    }
    // the y-diagonal lookup also carries the window size n (all pairs
    // share it by the common-window contract) — the noise-variance
    // consumer (q354) normalizes RSS by n² without a second moment read
    val j = look(look(look(look(look(look(links,
      "y", "y", "cyy", withN = true), "x", "x", "cjj"), "x", "y", "cjy"),
      "sib", "sib", "css"), "x", "sib", "cjs"), "sib", "y", "csy")
    j.withColumn("beta_ppm", expr(
      """case when sib is null then
        |  case when cjj = 0 then 0
        |    else (1000000 * cast(cjy as decimal(38,0))) div cjj end
        |else
        |  case when cast(cjj as decimal(38,0))*css
        |      - cast(cjs as decimal(38,0))*cjs = 0 then 0
        |  else (1000000 * (cast(css as decimal(38,0))*cjy
        |      - cast(cjs as decimal(38,0))*csy))
        |    div (cast(cjj as decimal(38,0))*css
        |      - cast(cjs as decimal(38,0))*cjs) end
        |end""".stripMargin).cast("long"))
  }

  /** Per-link OLS INFERENCE appended to a [[structuralBetas]] frame
    * (q363/q364): exact-integer standard errors and Wald t² per
    * coefficient from the SAME six centered moments — no second data
    * pass. With C the centered-moment matrix (c = n·Σ centered
    * products), σ̂² = RSS/(n−k−1) and Var(β̂_j) = σ̂²·n·(C⁻¹)_jj:
    *
    *   rss_scaled = 10⁶·C_yy − Σ_j β_j_ppm·C_jy     (= 10⁶·n·RSS ≥ 0)
    *   d_jj       = C_jj (k=1) | det(C) div C_ss (k=2)
    *   se2_ppm2   = (10⁶·rss_scaled) div ((n−k−1)·d_jj)
    *   t2_milli   = (1000·β_ppm²) div se2_ppm2
    *
    * Every division is the shared truncating div, so both engines agree
    * bitwise; pre-dividing det by C_ss keeps all products inside
    * DECIMAL(38,0)/HUGEINT at the documented n ≤ 5·10⁴ milli budget
    * (10⁶·rss ≤ 10²⁷; 10³·β² ≤ 10¹⁵), and its O(1/d_jj) truncation is
    * far below ppm grain. The regressor count k and the RSS window key
    * on `y` — the fold-prefixed target virtual name — so the frame
    * stays per-graph-correct under multi-graph folds. Degenerate
    * guards (zero design moment, non-positive dof, sub-ppm² variance)
    * yield NULL rather than a fabricated verdict. Mirrored by
    * [[structuralInferenceSqlCtes]].
    */
  def structuralInference(betas: DataFrame): DataFrame =
    betas
      .withColumn("k_parents", expr("count(1) over (partition by y)"))
      .withColumn("rss_scaled", expr(
        """1000000 * cast(cyy as decimal(38,0))
          |  - sum(cast(beta_ppm as decimal(38,0)) * cjy)
          |      over (partition by y)""".stripMargin))
      .withColumn("d_jj", expr(
        """case when sib is null then cast(cjj as decimal(38,0))
          |else (cast(cjj as decimal(38,0))*css
          |  - cast(cjs as decimal(38,0))*cjs) div css end""".stripMargin))
      .withColumn("se2_ppm2", expr(
        """case when d_jj <= 0 or n - k_parents - 1 <= 0 then null
          |else (1000000 * rss_scaled)
          |  div ((n - k_parents - 1) * d_jj) end""".stripMargin)
        .cast("long"))
      .withColumn("t2_milli", expr(
        """case when se2_ppm2 is null or se2_ppm2 <= 0 then null
          |else (1000 * cast(beta_ppm as decimal(38,0)) * beta_ppm)
          |  div se2_ppm2 end""".stripMargin).cast("long"))

  /** Row-local k=1 Wald inference — [[structuralInference]] without the
    * per-target window, for MULTIPLE-TESTING consumers (q370, the
    * bhfdr bench rung) whose link rows are INDEPENDENT hypotheses that
    * may share a target series (a window keyed on `y` would pool them
    * into one fictitious joint model): each row's rss/se²/t² come from
    * its own four moments, k = 1, dof = n−2. Same truncating-div
    * arithmetic and DECIMAL(38,0)/HUGEINT budget as the windowed op.
    */
  def waldK1(betas: DataFrame): DataFrame = betas
    .withColumn("rss_scaled", expr(
      """1000000 * cast(cyy as decimal(38,0))
        |  - cast(beta_ppm as decimal(38,0)) * cjy""".stripMargin))
    .withColumn("se2_ppm2", expr(
      """case when cjj <= 0 or n - 2 <= 0 then null
        |else (1000000 * rss_scaled)
        |  div ((n - 2) * cast(cjj as decimal(38,0))) end""".stripMargin)
      .cast("long"))
    .withColumn("t2_milli", expr(
      """case when se2_ppm2 is null or se2_ppm2 <= 0 then null
        |else (1000 * cast(beta_ppm as decimal(38,0)) * beta_ppm)
        |  div se2_ppm2 end""".stripMargin).cast("long"))

  /** PAIR-RESTRICTED cross-moments for WIDE panels (q359): the dense
    * [[virtualCrossMoments]] computes the full |specs|² Gram — right for
    * narrow estimation and Cramer consumers that read most pairs — but a
    * deployment-width k=1 link set needs only O(links) of the O(p²)
    * pairs, and at p = 256 the dense self-join fans every t out 65k ways
    * to feed a stage that reads ~500. Routing the WANTED pair frame
    * (na ≤ nb, canonicalized like the dense output) into the join
    * BEFORE aggregation turns the per-t fan-out from |specs|² into
    * |wanted|: a ⋈ wanted on na (broadcast — the pair list is
    * link-sized), then ⋈ the virtual frame on (nb, t). Output contract
    * identical to the dense op restricted to `wanted` (spec-pinned).
    * Mirrored by [[sparseMomentsSqlCtes]].
    */
  def virtualCrossMomentsSparse(virt: DataFrame, wanted: DataFrame,
      windowPred: Column): DataFrame = {
    val v = virt.where(windowPred)
    val a = v.select(col("vs").as("na"), col("t"), col("v").as("va"))
    val b = v.select(col("vs").as("nb"), col("t"), col("v").as("vb"))
    // The (nb, t) join builds a hash table of the virtual frame instead of
    // sort-merging: the probe side is the a ⋈ wanted fan-out (|wanted|
    // rows per co-observed t — 23M rows at the 85k-hypothesis rung), and
    // sorting it by a (string, long) key cost more than the whole hash
    // build (guide §3.1; r15 interleaved medians 19.2 → 16.6 s). The
    // build side does NOT spill, and nothing bounds it: AQE splits only
    // skewed partitions, so at a fixed shuffle-partition count each task's
    // hash table grows with corpus size. ROADMAP direction 2 (one fused
    // moment aggregate) removes this join and the hint with it.
    centeredCrossMoments(
      a.join(broadcast(wanted.select("na", "nb")), Seq("na"))
        .join(b.hint("shuffle_hash"), Seq("nb", "t")),
      "na", "nb", "va", "vb")
  }

  /** [[virtualCrossMomentsSparse]] as ANSI SQL over `\$virt(vs, t, v)`
    * and `\$wanted(na, nb)` — yields `smc$sfx`, the same CTE name the
    * beta stages consume.
    */
  def sparseMomentsSqlCtes(virt: String, wanted: String,
      windowPredSql: String, sfx: String = ""): String =
    s"""svw$sfx AS (SELECT * FROM $virt WHERE $windowPredSql),
       |smom$sfx AS (
       |  SELECT w.na, w.nb, count(*)::HUGEINT AS n,
       |    sum(a.v)::HUGEINT AS sa, sum(b.v)::HUGEINT AS sb,
       |    sum(a.v::HUGEINT * b.v) AS sab
       |  FROM svw$sfx a JOIN $wanted w ON w.na = a.vs
       |  JOIN svw$sfx b ON b.vs = w.nb AND b.t = a.t
       |  GROUP BY 1, 2),
       |smc$sfx AS MATERIALIZED (
       |  SELECT na, nb, n::BIGINT AS n, (n*sab - sa*sb)::BIGINT AS c
       |  FROM smom$sfx)""".stripMargin

  /** The Cramer k ≤ 2 beta from RAW design sums — the streaming twin of
    * [[structuralBetas]] (q358): input rows carry the 9 mergeable sums a
    * [[graft.streaming.StatefulOps.WeightSumsProcessor]] emits per link
    * per batch (y = target, x = the link's regressor, s = the sibling,
    * fed as 0 for single-parent links) plus a caller-joined `has_sib`
    * flag (0/1 — the all-zero s channel makes det degenerate, so the
    * k=1 branch cannot be inferred from the sums alone). Centered
    * moments and the beta expression are the SAME arithmetic as
    * [[structuralBetas]]; pinned stream≡batch by spec. Mirrored by
    * [[structuralBetasFromSumsSqlCtes]].
    */
  def structuralBetasFromSums(sums: DataFrame): DataFrame =
    sums
      .withColumn("cjj", expr("n*sxx - sx*sx"))
      .withColumn("css", expr("n*sss - ss*ss"))
      .withColumn("cjs", expr("n*sxs - sx*ss"))
      .withColumn("cjy", expr("n*sxy - sx*sy"))
      .withColumn("csy", expr("n*ssy - ss*sy"))
      .withColumn("beta_ppm", expr(
        """case when has_sib = 0 then
          |  case when cjj = 0 then 0
          |    else (1000000 * cast(cjy as decimal(38,0))) div cjj end
          |else
          |  case when cast(cjj as decimal(38,0))*css
          |      - cast(cjs as decimal(38,0))*cjs = 0 then 0
          |  else (1000000 * (cast(css as decimal(38,0))*cjy
          |      - cast(cjs as decimal(38,0))*csy))
          |    div (cast(cjj as decimal(38,0))*css
          |      - cast(cjs as decimal(38,0))*cjs) end
          |end""".stripMargin).cast("long"))

  /** Wald inference from RAW design sums — [[structuralInference]]'s
    * streaming twin (q368): the 10-sum row (the 9 of
    * [[structuralBetasFromSums]] plus syy) closes everything per link
    * with no window at all — the sibling beta comes from the SAME
    * Cramer system read the other way, so
    *
    *   cyy        = n·syy − sy²
    *   β_s        = 10⁶·(C_jj·C_sy − C_js·C_jy) div det   (0 when the
    *                all-zero sibling channel makes det = 0)
    *   rss_scaled = 10⁶·cyy − β·C_jy − β_s·C_sy
    *   d_jj, se2_ppm2, t2_milli as in [[structuralInference]]
    *
    * k = has_sib + 1. Mirrored by
    * [[structuralInferenceFromSumsSqlCtes]]; the streaming monitor
    * emits one such verdict per link per micro-batch.
    */
  def structuralInferenceFromSums(betas: DataFrame): DataFrame =
    betas
      .withColumn("cyy", expr("n*syy - sy*sy"))
      .withColumn("beta_sib_ppm", expr(
        """case when has_sib = 0 then 0
          |when cast(cjj as decimal(38,0))*css
          |  - cast(cjs as decimal(38,0))*cjs = 0 then 0
          |else (1000000 * (cast(cjj as decimal(38,0))*csy
          |    - cast(cjs as decimal(38,0))*cjy))
          |  div (cast(cjj as decimal(38,0))*css
          |    - cast(cjs as decimal(38,0))*cjs) end""".stripMargin)
        .cast("long"))
      .withColumn("rss_scaled", expr(
        """1000000 * cast(cyy as decimal(38,0))
          |  - cast(beta_ppm as decimal(38,0)) * cjy
          |  - cast(beta_sib_ppm as decimal(38,0)) * csy""".stripMargin))
      .withColumn("d_jj", expr(
        """case when has_sib = 0 then cast(cjj as decimal(38,0))
          |else (cast(cjj as decimal(38,0))*css
          |  - cast(cjs as decimal(38,0))*cjs) div css end""".stripMargin))
      .withColumn("se2_ppm2", expr(
        """case when d_jj <= 0 or n - has_sib - 2 <= 0 then null
          |else (1000000 * rss_scaled)
          |  div ((n - has_sib - 2) * d_jj) end""".stripMargin)
        .cast("long"))
      .withColumn("t2_milli", expr(
        """case when se2_ppm2 is null or se2_ppm2 <= 0 then null
          |else (1000 * cast(beta_ppm as decimal(38,0)) * beta_ppm)
          |  div se2_ppm2 end""".stripMargin).cast("long"))

  /** [[structuralInferenceFromSums]] as ANSI SQL downstream of
    * `sbsum$sfx` (which must carry syy and has_sib) — yields
    * `stsum$sfx` = sbsum.* + cyy + beta_sib_ppm + rss_scaled + d_jj +
    * se2_ppm2 + t2_milli.
    */
  def structuralInferenceFromSumsSqlCtes(sfx: String = ""): String =
    s"""stsa$sfx AS (
       |  SELECT *, n::HUGEINT*syy - sy::HUGEINT*sy AS cyy,
       |    (CASE WHEN has_sib = 0 THEN 0
       |      WHEN cjj*css - cjs*cjs = 0 THEN 0
       |      ELSE (1000000 * (cjj*csy - cjs*cjy)) // (cjj*css - cjs*cjs)
       |      END)::BIGINT AS beta_sib_ppm
       |  FROM sbsum$sfx),
       |stsb$sfx AS (
       |  SELECT *,
       |    1000000 * cyy - beta_ppm::HUGEINT * cjy
       |      - beta_sib_ppm::HUGEINT * csy AS rss_scaled,
       |    (CASE WHEN has_sib = 0 THEN cjj
       |      ELSE (cjj*css - cjs*cjs) // css END) AS d_jj
       |  FROM stsa$sfx),
       |stsc$sfx AS (
       |  SELECT *,
       |    (CASE WHEN d_jj <= 0 OR n - has_sib - 2 <= 0 THEN NULL
       |      ELSE (1000000 * rss_scaled)
       |        // ((n - has_sib - 2) * d_jj) END)::BIGINT AS se2_ppm2
       |  FROM stsb$sfx),
       |stsum$sfx AS (
       |  SELECT *,
       |    (CASE WHEN se2_ppm2 IS NULL OR se2_ppm2 <= 0 THEN NULL
       |      ELSE (1000 * beta_ppm::HUGEINT * beta_ppm) // se2_ppm2
       |      END)::BIGINT AS t2_milli
       |  FROM stsc$sfx)""".stripMargin

  /** [[structuralBetasFromSums]] as ANSI SQL over
    * `\$sums(link, n, sy, sx, ss, sxx, sss, sxy, ssy, sxs, has_sib, ...)`
    * — yields `sbsum$sfx` = sums.* + the centered moments + beta_ppm.
    */
  def structuralBetasFromSumsSqlCtes(sums: String, sfx: String = ""): String =
    s"""sbsc$sfx AS (
       |  SELECT *, n::HUGEINT*sxx - sx::HUGEINT*sx AS cjj,
       |    n::HUGEINT*sss - ss::HUGEINT*ss AS css,
       |    n::HUGEINT*sxs - sx::HUGEINT*ss AS cjs,
       |    n::HUGEINT*sxy - sx::HUGEINT*sy AS cjy,
       |    n::HUGEINT*ssy - ss::HUGEINT*sy AS csy
       |  FROM $sums),
       |sbsum$sfx AS (
       |  SELECT *,
       |    (CASE WHEN has_sib = 0 THEN
       |      CASE WHEN cjj = 0 THEN 0 ELSE (1000000 * cjy) // cjj END
       |    ELSE
       |      CASE WHEN cjj*css - cjs*cjs = 0 THEN 0
       |      ELSE (1000000 * (css*cjy - cjs*csy)) // (cjj*css - cjs*cjs)
       |      END
       |    END)::BIGINT AS beta_ppm
       |  FROM sbsc$sfx)""".stripMargin

  /** [[laggedCrossMoments]] as ANSI SQL: CTEs `sv$sfx`/`smc$sfx` over
    * `\$panel(series, day, v)` and `\$specs(series, lag)`.
    * `windowPredSql` is the same predicate over column `t`.
    */
  def structuralMomentsSqlCtes(panel: String, specs: String,
      windowPredSql: String, sfx: String = ""): String =
    s"""sv$sfx AS (
       |  SELECT p.series || '@' || s.lag::VARCHAR AS vs,
       |    p.day + s.lag AS t, p.v
       |  FROM $panel p JOIN $specs s USING (series)),
       |${structuralMomentsFromVirtualSqlCtes(s"sv$sfx", windowPredSql, sfx)}"""
      .stripMargin

  /** [[virtualCrossMoments]] as ANSI SQL over ANY virtual CTE
    * `\$virt(vs, t, v)` — yields `svw$sfx`/`smom$sfx`/`smc$sfx`.
    */
  def structuralMomentsFromVirtualSqlCtes(virt: String,
      windowPredSql: String, sfx: String = ""): String =
    // smc MATERIALIZED (r14, driver-budget): structuralBetasSqlCtes joins
    // this CTE SIX times, and DuckDB inlines a plain CTE per reference —
    // re-running the fact-scale self-join+aggregation (and everything
    // upstream of it: the virtual union, nearest-lag windows, gen scan)
    // once per moment lookup. q365's oracle measured 221 s of which ~6/6
    // were that recomputation; materializing the ≤|specs|²-row moment
    // frame is evaluation-strategy only — bytes out are identical.
    s"""svw$sfx AS (SELECT * FROM $virt WHERE $windowPredSql),
       |smom$sfx AS (
       |  SELECT a.vs AS na, b.vs AS nb, count(*)::HUGEINT AS n,
       |    sum(a.v)::HUGEINT AS sa, sum(b.v)::HUGEINT AS sb,
       |    sum(a.v::HUGEINT * b.v) AS sab
       |  FROM svw$sfx a JOIN svw$sfx b USING (t) WHERE a.vs <= b.vs
       |  GROUP BY 1, 2),
       |smc$sfx AS MATERIALIZED (
       |  SELECT na, nb, n::BIGINT AS n, (n*sab - sa*sb)::BIGINT AS c
       |  FROM smom$sfx)""".stripMargin

  /** [[structuralBetas]] as ANSI SQL over `\$links(y, x, sib, ...)` and
    * the `smc$sfx` moments CTE. Yields `sbeta$sfx` = links.* + moments +
    * beta_ppm (DuckDB `//` truncates toward zero on integers, matching
    * Spark's `div` — verified for negative operands by q259).
    */
  def structuralBetasSqlCtes(links: String, sfx: String = "",
      momSfx: String = null): String = {
    val m = s"smc${Option(momSfx).getOrElse(sfx)}"
    s"""sbj$sfx AS (
       |  SELECT l.*, myy.n AS n, myy.c AS cyy, mjj.c AS cjj, mjy.c AS cjy,
       |    mss.c AS css, mjs.c AS cjs, msy.c AS csy
       |  FROM $links l
       |  LEFT JOIN $m myy ON myy.na = l.y AND myy.nb = l.y
       |  LEFT JOIN $m mjj ON mjj.na = l.x AND mjj.nb = l.x
       |  LEFT JOIN $m mjy ON mjy.na = least(l.x, l.y)
       |    AND mjy.nb = greatest(l.x, l.y)
       |  LEFT JOIN $m mss ON mss.na = l.sib AND mss.nb = l.sib
       |  LEFT JOIN $m mjs ON mjs.na = least(l.x, l.sib)
       |    AND mjs.nb = greatest(l.x, l.sib)
       |  LEFT JOIN $m msy ON msy.na = least(l.sib, l.y)
       |    AND msy.nb = greatest(l.sib, l.y)),
       |sbeta$sfx AS (
       |  SELECT *,
       |    (CASE WHEN sib IS NULL THEN
       |      CASE WHEN cjj = 0 THEN 0
       |        ELSE (1000000 * cjy::HUGEINT) // cjj END
       |    ELSE
       |      CASE WHEN cjj::HUGEINT*css - cjs::HUGEINT*cjs = 0 THEN 0
       |      ELSE (1000000 * (css::HUGEINT*cjy - cjs::HUGEINT*csy))
       |        // (cjj::HUGEINT*css - cjs::HUGEINT*cjs) END
       |    END)::BIGINT AS beta_ppm
       |  FROM sbj$sfx)""".stripMargin
  }

  /** [[structuralInference]] as ANSI SQL downstream of `sbeta$sfx` —
    * yields `sttest$sfx` = sbeta.* + k_parents + rss_scaled + d_jj +
    * se2_ppm2 + t2_milli, the same truncating-div arithmetic.
    */
  def structuralInferenceSqlCtes(sfx: String = ""): String =
    s"""sinf$sfx AS (
       |  SELECT *, count(*) OVER (PARTITION BY y) AS k_parents,
       |    1000000 * cyy::HUGEINT
       |      - sum(beta_ppm::HUGEINT * cjy) OVER (PARTITION BY y)
       |      AS rss_scaled,
       |    (CASE WHEN sib IS NULL THEN cjj::HUGEINT
       |      ELSE (cjj::HUGEINT*css - cjs::HUGEINT*cjs) // css END)
       |      AS d_jj
       |  FROM sbeta$sfx),
       |sse$sfx AS (
       |  SELECT *,
       |    (CASE WHEN d_jj <= 0 OR n - k_parents - 1 <= 0 THEN NULL
       |      ELSE (1000000 * rss_scaled)
       |        // ((n - k_parents - 1) * d_jj) END)::BIGINT AS se2_ppm2
       |  FROM sinf$sfx),
       |sttest$sfx AS (
       |  SELECT *,
       |    (CASE WHEN se2_ppm2 IS NULL OR se2_ppm2 <= 0 THEN NULL
       |      ELSE (1000 * beta_ppm::HUGEINT * beta_ppm) // se2_ppm2
       |      END)::BIGINT AS t2_milli
       |  FROM sse$sfx)""".stripMargin
}
