package graft

import graft.core._
import graft.generate.Panels

/** Causal slice of [[SparkEntry.oracleSql]] — the DuckDB twins of
  * [[QueriesCausal]], split mechanically from the single map. */
private[graft] trait OraclesCausal { this: SparkEntry.type =>

  /** The [[BlockDesign]] hypotheses' k=1 Wald CTEs over the 60-day block
    * panel dumped under `dump` (`blockDesignWald`'s twin): one sparse
    * moment pass, the betas, then `Causal.waldK1SqlCtes`; yields `wald`.
    */
  private def blockDesignWaldSql(dump: String): String = {
    val yx = BlockDesign.map { case (_, _, y, x) => (s"$y@0", s"$x@0") }
    val linkRows = BlockDesign.map { case (p, tier, y, x) =>
      s"('$p','$tier','$y@0','$x@0',NULL::VARCHAR)" }.mkString(",\n    ")
    s"""panel AS (
       |  SELECT series, day, v
       |  FROM read_parquet('__GEN_DIR__/$dump/*.parquet')),
       |virt AS (SELECT series || '@0' AS vs, day AS t, v FROM panel),
       |wanted AS (SELECT * FROM
       |  ${graft.metrics.Causal.wantedPairsValuesSql(yx)}),
       |links AS (SELECT * FROM (VALUES $linkRows)
       |  AS l(pair, tier, y, x, sib)),
       |${graft.metrics.Causal.sparseMomentsSqlCtes(
            "virt", "wanted", "t BETWEEN 0 AND 59")},
       |${graft.metrics.Causal.structuralBetasSqlCtes("links")},
       |${graft.metrics.Causal.waldK1SqlCtes}""".stripMargin
  }

  /** `blockRules`' twin: one census row per (rule, 0/1 discovery column)
    * of `src`, UNION ALL'd.
    */
  private def blockRulesSql(src: String, rules: Seq[(String, String)],
      tierSizes: Boolean = false): String = rules.map { case (rule, disc) =>
    def cnt(cond: String) = s"sum(CASE WHEN $cond THEN 1 ELSE 0 END)::BIGINT"
    def found(t: String) = cnt(s"$disc = 1 AND tier = '$t'")
    s"""SELECT '$rule' AS rule, count(*)::BIGINT AS n_hyp,
       |  sum($disc)::BIGINT AS n_disc, ${found("ab")} AS n_disc_ab,
       |  ${found("as")} AS n_disc_as,
       |  ${found("null")} AS n_false""".stripMargin +
      (if (tierSizes) s",\n  ${cnt("tier = 'ab'")} AS n_ab, " +
        s"${cnt("tier = 'as'")} AS n_as" else "") + s"\nFROM $src"
  }.mkString("\nUNION ALL\n")

  /** `blindRecovery`'s twin over the dump `dump` of one 6-var lag-2
    * `family` cell: the stage-1 harmonic betas `pb`, the blind, known and
    * regressor channels (index shift, or `Lagged.nearestLagIndexSqlCtes`
    * per lag when `nearestLag`), and both stage-2 beta sets.
    */
  private def blindRecoverySql(family: String, dump: String,
      nearestLag: Boolean, last: Int): String = {
    val links = c1Links(family)
    val inModel = graft.core.Parser.truthLinks(family, 6, 2)
      .filter(_.source != "U")
      .map(l => l.target -> (if (Set("cos", "sin")(l.func)) 1 else 0))
      .toMap
    def vals(blindY: Boolean): String =
      "(VALUES " + links.map { l =>
        val y = if (blindY) s"${l._1}^@0" else l._6
        s"('${l._1}','${l._2}',${l._3},'${l._4}','$y','${l._5}'," +
          l._7.map(x => s"'$x'").getOrElse("NULL::VARCHAR") +
          s",${l._9},${inModel(l._1)})"
      }.mkString(",\n    ") +
        ") AS l(target, source, lag, func, y, x, sib, effective_ppm," +
        " in_model)"
    val basisRows = Seq("s1", "c1", "s2", "c2").map(b =>
      s"  UNION ALL SELECT '$b@0', t, floor($b * 1000)::BIGINT FROM gen")
      .mkString("\n")
    val blindRows = (1 to 6).map(i =>
      s"""  SELECT 'X$i^@0' AS vs, g.t,
        |    ((1000000 * floor(g.X$i * 1000)::BIGINT
        |      - p.bt * g.t
        |      - p.bs1 * floor(g.s1 * 1000)::BIGINT
        |      - p.bc1 * floor(g.c1 * 1000)::BIGINT
        |      - p.bs2 * floor(g.s2 * 1000)::BIGINT
        |      - p.bc2 * floor(g.c2 * 1000)::BIGINT) // 1000000)
        |      ::BIGINT AS v
        |  FROM gen g JOIN pb p ON p.series = 'X$i'""".stripMargin)
      .mkString("\n  UNION ALL\n")
    val knownRows = (1 to 6).map(i =>
      s"  UNION ALL SELECT 'X$i~@0', t, floor(X${i}t * 1000)::BIGINT " +
        s"FROM gen").mkString("\n")
    val lags = links.map(_._3).filter(_ > 0).distinct.sorted
    val lxBlocks = if (!nearestLag) "" else
      "spine AS (SELECT t, \"time\" FROM gen),\n" + lags.map(k =>
        graft.ops.Lagged.nearestLagIndexSqlCtes("spine", "\"time\"",
          Nil, lagMult = k, sfx = s"$k")).mkString("", ",\n", ",\n")
    val regRows = links.map(l => (l._5.split("@")(0), l._5, l._3))
      .distinct.map {
        case (chan, vs, k) if nearestLag && k > 0 =>
          s"  UNION ALL SELECT '$vs', l.t, floor(g.$chan * 1000)::BIGINT " +
            s"FROM lx$k l JOIN gen g ON g.t = l.lag_idx"
        case (chan, vs, k) =>
          s"  UNION ALL SELECT '$vs', t + $k, " +
            s"floor($chan * 1000)::BIGINT FROM gen"
      }.mkString("\n")
    s"""WITH gen AS (
      |  SELECT * FROM read_parquet('__GEN_DIR__/$dump/*.parquet')),
      |${lxBlocks}virt1 AS (
      |  SELECT 'X1@0' AS vs, t, floor(X1 * 1000)::BIGINT AS v FROM gen
      |${(2 to 6).map(i =>
           s"  UNION ALL SELECT 'X$i@0', t, floor(X$i * 1000)::BIGINT " +
             s"FROM gen").mkString("\n")}
      |  UNION ALL SELECT 'tt@0', t, t::BIGINT FROM gen
      |$basisRows),
      |hlinks AS (SELECT * FROM ${harmonicLinksValuesSql(family)}),
      |${graft.metrics.Causal.structuralMomentsFromVirtualSqlCtes(
           "virt1", s"t BETWEEN 0 AND $last", "h")},
      |${graft.metrics.Causal.structuralBetasSqlCtes("hlinks", "h")},
      |pb AS (
      |  SELECT series,
      |    max(CASE WHEN component = 'trend' THEN beta_ppm END) AS bt,
      |    max(CASE WHEN component = 's1' THEN beta_ppm END) AS bs1,
      |    max(CASE WHEN component = 'c1' THEN beta_ppm END) AS bc1,
      |    max(CASE WHEN component = 's2' THEN beta_ppm END) AS bs2,
      |    max(CASE WHEN component = 'c2' THEN beta_ppm END) AS bc2
      |  FROM sbetah GROUP BY 1),
      |virt AS (
      |$blindRows
      |$knownRows
      |$regRows),
      |linksk AS (SELECT * FROM ${vals(blindY = false)}),
      |linksb AS (SELECT * FROM ${vals(blindY = true)}),
      |${graft.metrics.Causal.structuralMomentsFromVirtualSqlCtes(
           "virt", s"t BETWEEN 2 AND $last")},
      |${graft.metrics.Causal.structuralBetasSqlCtes("linksk", "k",
           momSfx = "")},
      |${graft.metrics.Causal.structuralBetasSqlCtes("linksb", "b",
           momSfx = "")}
      |SELECT k.target, k.source, k.lag::INT AS lag, k.func,
      |  k.in_model::INT AS in_model,
      |  k.effective_ppm::BIGINT AS effective_ppm,
      |  k.beta_ppm AS beta_known_ppm, b.beta_ppm AS beta_blind_ppm,
      |  abs(b.beta_ppm - k.beta_ppm)::BIGINT AS blind_vs_known_ppm
      |FROM sbetak k JOIN sbetab b ON b.target = k.target
      |  AND b.source = k.source AND b.lag = k.lag""".stripMargin
  }

  /** q358/q368's batch replay of the streamed design tuples
    * (`streamWeightDesign`'s twin): per [[streamWeightLinks]] link, the 10
    * design sums over every prefix t < cut and over the whole dump
    * `dump`, joined to the link rows; yields `wf`.
    */
  private def streamWeightSumsSql(dump: String, cuts: Seq[Int]): String = {
    def qc(series: String, l: Int): String =
      if (l == 0) s"floor($series * 1000)::BIGINT"
      else s"floor(L$l$series * 1000)::BIGINT"
    val tupSelects = streamWeightLinks().map { case (k, tgt, src, lag,
        hs, sibSeries, sibLag, _) =>
      val sv = if (hs == 1) qc(sibSeries, sibLag) else "0::BIGINT"
      s"  SELECT '$k' AS link, ${qc(tgt, 0)} AS yv, " +
        s"${qc(src, lag)} AS xv, $sv AS sv, t FROM gl"
    }.mkString("\n  UNION ALL\n")
    def prefixSums(pred: String): String =
      s"""  SELECT link, count(*)::BIGINT AS n, sum(yv)::BIGINT AS sy,
        |    sum(xv)::BIGINT AS sx, sum(sv)::BIGINT AS ss,
        |    sum(yv * yv)::BIGINT AS syy,
        |    sum(xv * xv)::BIGINT AS sxx, sum(sv * sv)::BIGINT AS sss,
        |    sum(xv * yv)::BIGINT AS sxy, sum(sv * yv)::BIGINT AS ssy,
        |    sum(xv * sv)::BIGINT AS sxs
        |  FROM tup$pred GROUP BY 1""".stripMargin
    s"""gen AS (
      |  SELECT * FROM read_parquet('__GEN_DIR__/$dump/*.parquet')),
      |gl AS (
      |  SELECT a.*,
      |${(1 to 6).map(i => s"    b.X$i AS L1X$i,").mkString("\n")}
      |${(1 to 6).map(i => s"    c.X$i AS L2X$i").mkString(",\n")}
      |  FROM gen a
      |  JOIN gen b ON b.t = a.t - 1
      |  JOIN gen c ON c.t = a.t - 2
      |  WHERE a.t BETWEEN 2 AND 399),
      |tup AS (
      |$tupSelects),
      |links AS (SELECT * FROM ${streamWeightLinksValuesSql()}),
      |sums AS (
      |${(cuts.map(c => s" WHERE t < $c") :+ "").map(prefixSums)
           .mkString("\n  UNION ALL\n")}),
      |wf AS (
      |  SELECT s.*, l.target, l.source, l.lag, l.has_sib,
      |    l.effective_ppm
      |  FROM sums s JOIN links l USING (link))""".stripMargin
  }

  /** `robustSeScores`' twin over the panel dumped under `dump`: the raw
    * sums, the classical inference `stsum` and the per-row scores
    * `scores(j, d, mm)`.
    */
  private def robustSeScoresSql(dump: String): String = {
    val n = 240
    s"""gen AS (
      |  SELECT * FROM read_parquet('__GEN_DIR__/$dump/*.parquet')),
      |sums AS (
      |  SELECT j, tier, count(*)::BIGINT AS n, sum(y)::BIGINT AS sy,
      |    sum(x)::BIGINT AS sx, 0::BIGINT AS ss,
      |    sum(y*y)::BIGINT AS syy, sum(x*x)::BIGINT AS sxx,
      |    0::BIGINT AS sss, sum(x*y)::BIGINT AS sxy,
      |    0::BIGINT AS ssy, 0::BIGINT AS sxs, 0::INT AS has_sib
      |  FROM gen GROUP BY 1, 2),
      |${graft.metrics.Causal.structuralBetasFromSumsSqlCtes("sums")},
      |${graft.metrics.Causal.structuralInferenceFromSumsSqlCtes("")},
      |scores AS (
      |  SELECT g.j, g.d,
      |    ($n * g.x - i.sx)::HUGEINT *
      |      ((1000000 * ($n * g.y - i.sy)
      |        - i.beta_ppm::HUGEINT * ($n * g.x - i.sx))
      |       // 1000000) AS mm
      |  FROM gen g JOIN stsum i USING (j))""".stripMargin
  }

  /** `survivalRisk`'s twin over `events`: yields `risk(t, d, n_risk)`. */
  private def survivalRiskSql: String =
    """ev AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, event_type
      |  FROM events),
      |hz AS (SELECT max(day) AS hz FROM ev),
      |us AS (
      |  SELECT user_id, min(day) AS origin,
      |    min(CASE WHEN event_type = 'purchase' THEN day END) AS pday
      |  FROM ev GROUP BY 1),
      |uu AS (
      |  SELECT coalesce(pday - origin, h.hz - origin) AS t,
      |    (pday IS NOT NULL)::INT AS e
      |  FROM us, hz h),
      |tm AS (SELECT t, sum(e)::BIGINT AS d, count(*)::BIGINT AS c
      |  FROM uu GROUP BY 1),
      |tt AS (SELECT count(*)::BIGINT AS ntot FROM uu),
      |risk AS (
      |  SELECT t, d, n_risk FROM (
      |    SELECT t, d, ntot - coalesce(sum(c) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS n_risk
      |    FROM tm, tt)
      |  WHERE d > 0)""".stripMargin

  private[graft] def oracleSqlCausal: Map[String, String] = Map(

    "q345_strict_kernel_digest" ->
      s"""SELECT family, count(*) AS n_rows,
        |  ${sumMicroSql("greatest(least(X1, 1e6), -1e6)")} AS sum_x1c_micro,
        |  ${sumMicroSql("greatest(least(X4, 1e6), -1e6)")} AS sum_x4c_micro,
        |  ${sumMicroSql("greatest(least(X6, 1e6), -1e6)")} AS sum_x6c_micro,
        |  ${sumMicroSql("\"time\"")} AS sum_time_micro
        |FROM read_parquet('__GEN_DIR__/q345_strict_wide/*.parquet')
        |GROUP BY family""".stripMargin,

    "q374_strict_d3c_digest" ->
      s"""SELECT family, count(*) AS n_rows,
        |  ${sumMicroSql("greatest(least(X1, 1e6), -1e6)")} AS sum_x1c_micro,
        |  ${sumMicroSql("greatest(least(X6, 1e6), -1e6)")} AS sum_x6c_micro,
        |  ${sumMicroSql("U")} AS sum_u_micro,
        |  ${sumMicroSql("\"time\"")} AS sum_time_micro,
        |  sum(maskBits::BIGINT)::BIGINT AS mask_sum,
        |  sum(CASE WHEN maskBits <> 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_masked_rows,
        |  sum(CASE WHEN (maskBits & 1) = 0 THEN
        |    floor(greatest(least(X1, 1e6), -1e6) * 1e6)::BIGINT
        |    END)::BIGINT AS sum_x1_obs_micro
        |FROM read_parquet('__GEN_DIR__/q374_strict_wide/*.parquet')
        |GROUP BY family""".stripMargin,

    "q346_pc_wide_oriented" ->
      s"""WITH panel AS (
        |  SELECT series, day, v
        |  FROM read_parquet('__GEN_DIR__/q346_panel/*.parquet')),
        |${graft.metrics.Causal.pcSkeleton2SqlCtes("panel", PcOrientTauSqBp)},
        |${graft.metrics.Causal.pcOrient2SqlCtes(PcMeekRounds)}
        |SELECT a, b, dir FROM pc_st$PcMeekRounds""".stripMargin,

    "q347_pc_stable_wide" ->
      s"""WITH panel AS (
        |  SELECT series, day, v
        |  FROM read_parquet('__GEN_DIR__/q347_panel/*.parquet')),
        |${graft.metrics.Causal.pcStable2SqlCtes("panel", PcOrientTauSqBp)},
        |${graft.metrics.Causal.pcOrientStableSqlCtes(PcStableMeekRounds)}
        |SELECT a, b, dir FROM pc_st$PcStableMeekRounds""".stripMargin,

    "q348_pc_stable_order3_wide" ->
      s"""WITH panel AS (
        |  SELECT series, day, v
        |  FROM read_parquet('__GEN_DIR__/q348_panel/*.parquet')),
        |${graft.metrics.Causal.pcStable3SqlCtes("panel", PcOrientTauSqBp)},
        |${graft.metrics.Causal.pcOrientStable3SqlCtes(PcStableMeekRounds)}
        |SELECT a, b, dir FROM pc_st$PcStableMeekRounds""".stripMargin,

    "q350_pc_width_adaptive" -> {
      def arm(tau: Long): String =
        s"""SELECT * FROM (
          |  WITH panel AS (
          |    SELECT series, day, v
          |    FROM read_parquet('__GEN_DIR__/q350_panel/*.parquet')),
          |  ${graft.metrics.Causal.pcStable3SqlCtes("panel", tau)}
          |  SELECT $tau::BIGINT AS tau_sq_bp, 'keep0' AS stage,
          |    count(*)::BIGINT AS n FROM pcs3_out WHERE keep0 = 1
          |  UNION ALL SELECT $tau::BIGINT, 'edge1', count(*)::BIGINT
          |    FROM pcs3_out WHERE edge = 1
          |  UNION ALL SELECT $tau::BIGINT, 'edge2', count(*)::BIGINT
          |    FROM pcs3_out WHERE edge2 = 1
          |  UNION ALL SELECT $tau::BIGINT, 'edge3', count(*)::BIGINT
          |    FROM pcs3_out WHERE edge3 = 1)""".stripMargin
      arm(PcOrientTauSqBp) + "\nUNION ALL\n" +
        arm(graft.metrics.Causal.tauSqBpForWidth(160, 200))
    },

    "q349_pc_stage_census" ->
      s"""WITH panel AS (
        |  SELECT series, day, v
        |  FROM read_parquet('__GEN_DIR__/q349_panel/*.parquet')),
        |${graft.metrics.Causal.pcStable3SqlCtes("panel", PcOrientTauSqBp)},
        |cns_k0 AS (SELECT a, b FROM pcs3_out WHERE keep0 = 1),
        |cns_e1 AS (SELECT a, b FROM pcs3_out WHERE edge = 1),
        |cns_e2 AS (SELECT a, b FROM pcs3_out WHERE edge2 = 1),
        |cns_ser AS (SELECT count(*)::BIGINT AS sc FROM
        |  (SELECT a FROM pcs3_out UNION SELECT b FROM pcs3_out))
        |SELECT 'pairs' AS stage, 'both' AS variant,
        |  count(*)::BIGINT AS n FROM pcs3_out
        |UNION ALL SELECT 'keep0', 'both', count(*)::BIGINT FROM cns_k0
        |UNION ALL SELECT 'cand1', 'stable', count(*)::BIGINT
        |  FROM pcs_cand1
        |UNION ALL SELECT 'cand1', 'unrestricted',
        |  ((SELECT count(*) FROM cns_k0)
        |    * ((SELECT sc FROM cns_ser) - 2))::BIGINT
        |UNION ALL SELECT 'edge1', 'both', count(*)::BIGINT FROM cns_e1
        |UNION ALL SELECT 'cand2', 'stable', count(*)::BIGINT
        |  FROM pcs_cand2
        |UNION ALL SELECT 'cand2', 'unrestricted',
        |  ((SELECT count(*) FROM cns_e1)
        |    * (((SELECT sc FROM cns_ser) - 2)
        |       * ((SELECT sc FROM cns_ser) - 3) // 2))::BIGINT
        |UNION ALL SELECT 'edge2', 'both', count(*)::BIGINT FROM cns_e2
        |UNION ALL SELECT 'cand3', 'stable', count(*)::BIGINT
        |  FROM pcs_cand3
        |UNION ALL SELECT 'cand3', 'unrestricted',
        |  ((SELECT count(*) FROM cns_e2)
        |    * (((SELECT sc FROM cns_ser) - 2)
        |       * ((SELECT sc FROM cns_ser) - 3)
        |       * ((SELECT sc FROM cns_ser) - 4) // 6))::BIGINT
        |UNION ALL SELECT 'edge3', 'both', count(*)::BIGINT
        |  FROM pcs3_out WHERE edge3 = 1""".stripMargin,

    "q351_struct_betas" ->
      s"""WITH ${a1BetasSqlCtes("q351_gen")}
        |SELECT target, source, lag::INT AS lag, beta_ppm,
        |  declared_ppm::BIGINT AS declared_ppm,
        |  effective_ppm::BIGINT AS effective_ppm,
        |  abs(beta_ppm - effective_ppm)::BIGINT AS abs_err_ppm,
        |  ((1000 * sum(beta_ppm::HUGEINT * cjy) OVER (PARTITION BY target))
        |    // (1000000 * cyy::HUGEINT))::BIGINT AS r2_permille
        |FROM sbeta""".stripMargin,

    "q352_weight_recovery_census" ->
      s"""WITH ${a1FoldBetasSqlCtes("q352_gen")}
        |$RecoveryCensusSql""".stripMargin,

    "q353_strict_recovery_contrast" ->
      s"""WITH ${a1BetasSqlCtes("q353_gen_default", "d")},
        |${a1BetasSqlCtes("q353_gen_strict", "s")}
        |SELECT bd.target, bd.source, bd.lag::INT AS lag,
        |  bd.declared_ppm::BIGINT AS declared_ppm,
        |  bd.effective_ppm::BIGINT AS effective_ppm,
        |  bd.beta_ppm AS beta_default_ppm, bs.beta_ppm AS beta_strict_ppm
        |FROM sbetad bd JOIN sbetas bs ON bs.target = bd.target
        |  AND bs.source = bd.source AND bs.lag = bd.lag""".stripMargin,

    "q354_noise_recovery" ->
      s"""WITH ${a1BetasSqlCtes("q354_gen")}
        |SELECT target, count(*)::BIGINT AS n_parents,
        |  ((1000 * sum(beta_ppm::HUGEINT * cjy))
        |    // (1000000 * max(cyy::HUGEINT)))::BIGINT AS r2_permille,
        |  ((1000000 * max(cyy::HUGEINT)
        |      - sum(beta_ppm::HUGEINT * cjy))
        |    // (1000000 * max(n::HUGEINT) * max(n)))::BIGINT AS sigma2_v,
        |  10000::BIGINT AS sigma2_truth_v,
        |  abs(((1000000 * max(cyy::HUGEINT)
        |      - sum(beta_ppm::HUGEINT * cjy))
        |    // (1000000 * max(n::HUGEINT) * max(n))) - 10000)::BIGINT
        |    AS sigma2_err_v
        |FROM sbeta GROUP BY 1""".stripMargin,

    "q373_blind_adjusted_recovery" ->
      blindRecoverySql("C1", "q373_gen", nearestLag = false, last = 491),

    "q375_blind_harmonic_irregular" ->
      blindRecoverySql("C2", "q375_gen", nearestLag = true, last = 499),

    "q372_harmonic_estimation" -> {
      val basisRows = Seq("s1", "c1", "s2", "c2").map(b =>
        s"  UNION ALL SELECT '$b@0', t, floor($b * 1000)::BIGINT FROM gen")
        .mkString("\n")
      s"""WITH gen AS (
        |  SELECT * FROM read_parquet('__GEN_DIR__/q372_gen/*.parquet')),
        |virt AS (
        |  SELECT 'X1@0' AS vs, t, floor(X1 * 1000)::BIGINT AS v FROM gen
        |${(2 to 6).map(i =>
             s"  UNION ALL SELECT 'X$i@0', t, floor(X$i * 1000)::BIGINT " +
               s"FROM gen").mkString("\n")}
        |  UNION ALL SELECT 'tt@0', t, t::BIGINT FROM gen
        |$basisRows),
        |links AS (SELECT * FROM ${harmonicLinksValuesSql()}),
        |${graft.metrics.Causal.structuralMomentsFromVirtualSqlCtes(
             "virt", "t BETWEEN 0 AND 491")},
        |${graft.metrics.Causal.structuralBetasSqlCtes("links")}
        |SELECT series, component, in_model::INT AS in_model,
        |  beta_ppm AS est_ppm,
        |  truth_ppm::BIGINT AS truth_ppm,
        |  abs(beta_ppm - truth_ppm)::BIGINT AS abs_err_ppm
        |FROM sbeta""".stripMargin
    },

    "q371_fdr_vs_fwer" -> {
      val lad = graft.metrics.Causal.chi2InvMilliLadder(BlockDesign.size)
      s"""WITH ${blockDesignWaldSql("q371_panel")},
        |${graft.metrics.Causal.stepUpSqlCtes("wald", "pair", "bh" -> lad)},
        |dsc AS (
        |  SELECT *, (t2_milli >= ${lad.head})::INT AS disc_bonf
        |  FROM wald_su),
        |aggd AS (
        |${blockRulesSql("dsc",
             Seq("bh" -> "disc_bh", "bonferroni" -> "disc_bonf"),
             tierSizes = true)})
        |SELECT *,
        |  (CASE WHEN n_disc = 0 THEN 0
        |    ELSE (1000 * n_false) // n_disc END)::BIGINT AS fdr_permille,
        |  ((1000 * n_disc_as) // n_as)::BIGINT AS power_as_permille
        |FROM aggd""".stripMargin
    },

    "q383_newey_west_hac" -> {
      val n = 240
      val L = 5
      val k = 1000000000000L / (n.toLong * n)
      val fCut = graft.metrics.Causal.fInvMilliLadder(1, n - 2).head
      def se2(meatCol: String, denomScale: Int): String =
        s"""(CASE WHEN cjj = 0 OR $meatCol <= 0 THEN NULL ELSE
          |  ($k::HUGEINT * $meatCol)
          |    // ($denomScale * cjj::HUGEINT * cjj) END)::BIGINT"""
          .stripMargin
      def t2(se2Col: String): String =
        s"""(CASE WHEN $se2Col IS NULL OR $se2Col <= 0 THEN NULL ELSE
          |  (1000 * beta_ppm::HUGEINT * beta_ppm) // $se2Col
          |  END)::BIGINT""".stripMargin
      s"""WITH ${robustSeScoresSql("q383_panel")},
        |lagged AS (
        |  SELECT a.j, r.l, a.mm, b.mm AS mm2
        |  FROM scores a
        |  CROSS JOIN range(0, ${L + 1}) r(l)
        |  JOIN scores b ON b.j = a.j AND b.d = a.d - r.l),
        |meat AS (
        |  SELECT j,
        |    sum(CASE WHEN l = 0 THEN (${L + 1})::HUGEINT * mm * mm2
        |      ELSE 2::HUGEINT * (${L + 1} - l) * mm * mm2 END)
        |      AS wsum_nw,
        |    sum(CASE WHEN l = 0 THEN mm::HUGEINT * mm2 END) AS meat_hc0
        |  FROM lagged GROUP BY 1),
        |scored AS (
        |  SELECT i.*, m.wsum_nw, m.meat_hc0,
        |    ${se2("m.wsum_nw", L + 1)} AS se2_nw_ppm2,
        |    ${se2("m.meat_hc0", 1)} AS se2_hc0_ppm2
        |  FROM stsum i JOIN meat m USING (j)),
        |scored2 AS (
        |  SELECT *, ${t2("se2_nw_ppm2")} AS t2_nw_milli,
        |    ${t2("se2_hc0_ppm2")} AS t2_hc0_milli
        |  FROM scored)
        |SELECT tier, count(*)::BIGINT AS n_pairs,
        |  sum((t2_milli >= $fCut)::INT)::BIGINT AS n_rej_classical,
        |  sum((t2_hc0_milli >= $fCut)::INT)::BIGINT AS n_rej_hc0,
        |  sum((t2_nw_milli >= $fCut)::INT)::BIGINT AS n_rej_nw,
        |  sum((1000 * se2_nw_ppm2) // se2_ppm2)::BIGINT
        |    AS sum_se2_nw_ratio_permille
        |FROM scored2 GROUP BY tier""".stripMargin
    },

    "q382_bh_vs_by" -> {
      val m = BlockDesign.size
      s"""WITH ${blockDesignWaldSql("q382_panel")},
        |${graft.metrics.Causal.stepUpSqlCtes("wald", "pair",
             "bh" -> graft.metrics.Causal.fInvMilliLadder(m, 58),
             "by" -> graft.metrics.Causal.byInvMilliLadder(m, 58))}
        |${blockRulesSql("wald_su",
             Seq("bh_f58" -> "disc_bh", "by_f58" -> "disc_by"))}""".stripMargin
    },

    "q381_hc0_robust_se" -> {
      val n = 240
      val k = 1000000000000L / (n.toLong * n)
      val fCut = graft.metrics.Causal.fInvMilliLadder(1, n - 2).head
      s"""WITH ${robustSeScoresSql("q381_panel")},
        |meat AS (
        |  SELECT j, sum(mm::HUGEINT * mm) AS meat FROM scores GROUP BY 1),
        |scored AS (
        |  SELECT i.*, m.meat,
        |    (CASE WHEN i.cjj = 0 THEN NULL ELSE
        |      ($k::HUGEINT * m.meat) // (i.cjj::HUGEINT * i.cjj)
        |      END)::BIGINT AS se2_hc0_ppm2
        |  FROM stsum i JOIN meat m USING (j)),
        |scored2 AS (
        |  SELECT *,
        |    (CASE WHEN se2_hc0_ppm2 IS NULL OR se2_hc0_ppm2 <= 0
        |      THEN NULL ELSE
        |      (1000 * beta_ppm::HUGEINT * beta_ppm) // se2_hc0_ppm2
        |      END)::BIGINT AS t2_hc0_milli
        |  FROM scored)
        |SELECT tier, count(*)::BIGINT AS n_pairs,
        |  sum((t2_milli >= $fCut)::INT)::BIGINT AS n_rej_classical,
        |  sum((t2_hc0_milli >= $fCut)::INT)::BIGINT AS n_rej_hc0,
        |  sum((1000 * se2_hc0_ppm2) // se2_ppm2)::BIGINT
        |    AS sum_se2_ratio_permille
        |FROM scored2 GROUP BY tier""".stripMargin
    },

    "q380_block_bootstrap_ci" -> {
      val links = weightLinks("", "A1", 4, 2)
      def lk(l: WeightLink) = s"${l.target}~${l.source}@${l.lag}"
      val tupRows = links.map { l =>
        if (l.lag == 0)
          s"""  SELECT '${lk(l)}' AS link, t AS day,
            |    floor(${l.target} * 1000)::BIGINT AS yv,
            |    floor(${l.source} * 1000)::BIGINT AS xv
            |  FROM gen WHERE t BETWEEN 2 AND 481""".stripMargin
        else
          s"""  SELECT '${lk(l)}' AS link, g.t AS day,
            |    floor(g.${l.target} * 1000)::BIGINT AS yv,
            |    floor(p.${l.source} * 1000)::BIGINT AS xv
            |  FROM gen g JOIN gen p ON p.t = g.t - ${l.lag}
            |  WHERE g.t BETWEEN 2 AND 481""".stripMargin
      }.mkString("\n  UNION ALL\n")
      val metaRows = links.map(l =>
        s"('${lk(l)}','${l.target}','${l.source}',${l.lag}," +
          s"${l.effectivePpm})").mkString(",\n    ")
      val fCut = graft.metrics.Causal.fInvMilliLadder(1, 478).head
      s"""WITH gen AS (
        |  SELECT * FROM read_parquet('__GEN_DIR__/q380_gen/*.parquet')),
        |tup AS (
        |$tupRows),
        |blocks AS (
        |  SELECT b, b + off AS day
        |  FROM range(2, 473) t(b), range(0, 10) o(off)),
        |bsum AS (
        |  SELECT link, b, count(*)::BIGINT AS bn,
        |    sum(yv)::BIGINT AS bsy, sum(xv)::BIGINT AS bsx,
        |    sum(yv*yv)::BIGINT AS bsyy, sum(xv*xv)::BIGINT AS bsxx,
        |    sum(xv*yv)::BIGINT AS bsxy
        |  FROM tup JOIN blocks USING (day) GROUP BY 1, 2),
        |choices AS (
        |  SELECT k, (k * 2654435761 + slot * 40503) % 2147483647
        |    % 471 + 2 AS b
        |  FROM range(1, 200) t(k), range(0, 48) s2(slot)),
        |rsum AS (
        |  SELECT link, k, sum(bn)::BIGINT AS n, sum(bsy)::BIGINT AS sy,
        |    sum(bsx)::BIGINT AS sx, 0::BIGINT AS ss,
        |    sum(bsyy)::BIGINT AS syy, sum(bsxx)::BIGINT AS sxx,
        |    0::BIGINT AS sss, sum(bsxy)::BIGINT AS sxy,
        |    0::BIGINT AS ssy, 0::BIGINT AS sxs, 0::INT AS has_sib
        |  FROM choices JOIN bsum USING (b) GROUP BY 1, 2),
        |${graft.metrics.Causal.structuralBetasFromSumsSqlCtes("rsum")},
        |rkd AS (
        |  SELECT link, beta_ppm, row_number() OVER (
        |    PARTITION BY link ORDER BY beta_ppm, k) AS rk
        |  FROM sbsum),
        |ci AS (
        |  SELECT link,
        |    max(CASE WHEN rk = 5 THEN beta_ppm END)::BIGINT
        |      AS ci_lo_ppm,
        |    max(CASE WHEN rk = 195 THEN beta_ppm END)::BIGINT
        |      AS ci_hi_ppm
        |  FROM rkd GROUP BY 1),
        |osum AS (
        |  SELECT link, count(*)::BIGINT AS n, sum(yv)::BIGINT AS sy,
        |    sum(xv)::BIGINT AS sx, 0::BIGINT AS ss,
        |    sum(yv*yv)::BIGINT AS syy, sum(xv*xv)::BIGINT AS sxx,
        |    0::BIGINT AS sss, sum(xv*yv)::BIGINT AS sxy,
        |    0::BIGINT AS ssy, 0::BIGINT AS sxs, 0::INT AS has_sib
        |  FROM tup GROUP BY 1),
        |${graft.metrics.Causal.structuralBetasFromSumsSqlCtes(
             "osum", "o")},
        |${graft.metrics.Causal.structuralInferenceFromSumsSqlCtes("o")},
        |meta AS (SELECT * FROM (VALUES $metaRows)
        |  AS m(link, target, source, lag, effective_ppm))
        |SELECT m.target, m.source, m.lag::INT AS lag,
        |  m.effective_ppm::BIGINT AS effective_ppm,
        |  o.beta_ppm AS beta_obs_ppm, c.ci_lo_ppm, c.ci_hi_ppm,
        |  (c.ci_hi_ppm - c.ci_lo_ppm)::BIGINT AS boot_width_ppm,
        |  o.se2_ppm2,
        |  (c.ci_lo_ppm <= m.effective_ppm
        |    AND m.effective_ppm <= c.ci_hi_ppm)::INT AS boot_covers,
        |  (CASE WHEN o.se2_ppm2 IS NULL THEN NULL ELSE
        |    (1000::HUGEINT * (o.beta_ppm - m.effective_ppm)
        |       * (o.beta_ppm - m.effective_ppm)
        |     <= $fCut * o.se2_ppm2::HUGEINT) END)::INT AS param_covers
        |FROM meta m JOIN stsumo o USING (link) JOIN ci c USING (link)"""
        .stripMargin
    },

    "q379_permutation_null" -> {
      def bnm(k: Int, r: Int) = s"G${"%02d".format(k)}X$r"
      val cands =
        (0 until 8).map(k => (s"${bnm(k, 3)}<${bnm(k, 4)}", "ab",
          bnm(k, 4), bnm(k, 3))) ++
        (0 until 8).map(k => (s"${bnm(k, 0)}<${bnm(k, 3)}", "as",
          bnm(k, 3), bnm(k, 0))) ++
        (for { k <- 0 until 8; r <- 0 until 5; if r < 4 } yield
          (s"${bnm(k, r)}<${bnm((k + 1) % 8, r)}", "null",
            bnm((k + 1) % 8, r), bnm(k, r)))
      val pairRows = cands.map { case (p, tier, ys, xs) =>
        s"('$p','$tier','$ys','$xs')" }.mkString(",\n    ")
      val fCut = graft.metrics.Causal.fInvMilliLadder(1, 58).head
      s"""WITH virt AS (
        |  SELECT vs, t, v
        |  FROM read_parquet('__GEN_DIR__/q379_virt/*.parquet')),
        |pairs AS (SELECT * FROM (VALUES $pairRows)
        |  AS p(pair, tier, ys, xs)),
        |links AS (
        |  SELECT pair || '~' || k::VARCHAR AS hyp, pair, tier, k,
        |    ys || '@0' AS y, xs || '~' || k::VARCHAR AS x,
        |    NULL::VARCHAR AS sib
        |  FROM pairs, range(0, 200) r(k)),
        |wanted AS (
        |  SELECT DISTINCT y AS na, y AS nb FROM links
        |  UNION SELECT DISTINCT x, x FROM links
        |  UNION SELECT DISTINCT least(x, y), greatest(x, y) FROM links),
        |${graft.metrics.Causal.sparseMomentsSqlCtes(
             "virt", "wanted", "t BETWEEN 0 AND 59")},
        |${graft.metrics.Causal.structuralBetasSqlCtes("links")},
        |${graft.metrics.Causal.waldK1SqlCtes},
        |obs AS (SELECT pair, tier, t2_milli AS t2_obs_milli
        |  FROM wald WHERE k = 0),
        |pr AS (
        |  SELECT i.pair,
        |    sum((coalesce(i.t2_milli, -1) >=
        |      coalesce(o.t2_obs_milli, -1))::INT)::BIGINT AS n_perm_ge
        |  FROM wald i JOIN obs o USING (pair)
        |  WHERE i.k >= 1 GROUP BY 1),
        |fin AS (
        |  SELECT o.tier,
        |    (p.n_perm_ge <= 9)::INT AS perm_sig,
        |    (o.t2_obs_milli >= $fCut)::INT AS f_sig
        |  FROM obs o JOIN pr p USING (pair))
        |SELECT tier, count(*)::BIGINT AS n_pairs,
        |  sum(perm_sig * f_sig)::BIGINT AS n_both,
        |  sum(perm_sig * (1 - f_sig))::BIGINT AS n_perm_only,
        |  sum((1 - perm_sig) * f_sig)::BIGINT AS n_f_only,
        |  sum((1 - perm_sig) * (1 - f_sig))::BIGINT AS n_neither
        |FROM fin GROUP BY tier""".stripMargin
    },

    "q378_stream_bh_monitor" -> {
      val linkRows = BlockDesign.map { case (p, tier, ys, xs) =>
        s"('$p','$tier','$ys','$xs')" }.mkString(",\n    ")
      def prefix(p: Int): String =
        s"""sums$p AS (
          |  SELECT link, tier, 0::INT AS has_sib, count(*)::BIGINT AS n,
          |    sum(yv)::BIGINT AS sy, sum(xv)::BIGINT AS sx,
          |    sum(sv)::BIGINT AS ss, sum(yv*yv)::BIGINT AS syy,
          |    sum(xv*xv)::BIGINT AS sxx, sum(sv*sv)::BIGINT AS sss,
          |    sum(xv*yv)::BIGINT AS sxy, sum(sv*yv)::BIGINT AS ssy,
          |    sum(xv*sv)::BIGINT AS sxs
          |  FROM tup WHERE day < $p GROUP BY 1, 2),
          |${graft.metrics.Causal.structuralBetasFromSumsSqlCtes(
               s"sums$p", s"p$p")},
          |${graft.metrics.Causal.structuralInferenceFromSumsSqlCtes(
               s"p$p")},
          |${graft.metrics.Causal.stepUpSqlCtes(s"stsump$p", "link", "bh" ->
               graft.metrics.Causal.fInvMilliLadder(BlockDesign.size, p - 2))},
          |cen$p AS (
          |  SELECT n, tier, count(*)::BIGINT AS n_hyp,
          |    sum(disc_bh)::BIGINT AS n_disc,
          |    max(k_star_bh)::BIGINT AS k_star
          |  FROM stsump${p}_su GROUP BY 1, 2)""".stripMargin
      s"""WITH panel AS (
        |  SELECT series, day, v
        |  FROM read_parquet('__GEN_DIR__/q378_panel/*.parquet')),
        |tl AS (SELECT * FROM (VALUES $linkRows) AS l(link, tier, ys, xs)),
        |tup AS (
        |  SELECT l.link, l.tier, a.day, b.v AS yv, a.v AS xv,
        |    0::BIGINT AS sv
        |  FROM tl l
        |  JOIN panel a ON a.series = l.xs
        |  JOIN panel b ON b.series = l.ys AND b.day = a.day),
        |${prefix(20)},
        |${prefix(40)},
        |${prefix(60)}
        |SELECT * FROM cen20
        |UNION ALL SELECT * FROM cen40
        |UNION ALL SELECT * FROM cen60""".stripMargin
    },

    "q377_fdr_exact_f_ladder" -> {
      val chiLad = graft.metrics.Causal.chi2InvMilliLadder(BlockDesign.size)
      val fLad = graft.metrics.Causal.fInvMilliLadder(BlockDesign.size, 58)
      s"""WITH ${blockDesignWaldSql("q377_panel")},
        |${graft.metrics.Causal.stepUpSqlCtes("wald", "pair",
             "chi" -> chiLad, "f" -> fLad)},
        |dsc AS (
        |  SELECT *,
        |    (t2_milli >= ${chiLad.head})::INT AS disc_bonf_chi,
        |    (t2_milli >= ${fLad.head})::INT AS disc_bonf_f
        |  FROM wald_su)
        |${blockRulesSql("dsc", Seq("bh_chi2" -> "disc_chi",
             "bh_f58" -> "disc_f", "bonf_chi2" -> "disc_bonf_chi",
             "bonf_f58" -> "disc_bonf_f"))}""".stripMargin
    },

    "q376_bh_catalog_census" -> {
      val cfgs = graft.core.Grid.forFamily("A1").filter(_.nVars == 4)
      val hyps = cfgs.flatMap { c =>
        val direct = graft.core.Parser.truthLinks("A1", 4, c.maxLag)
          .map(l => (l.source, l.target)).toSet
        for { i <- 1 to 4; j <- 1 to 4 if i != j } yield {
          val g = c.configId
          val tier = if (direct((s"X$i", s"X$j"))) "edge" else "none"
          (s"$g|X$i>X$j", tier, s"$g|X$j@0", s"$g|X$i@1")
        }
      }
      val linkRows = hyps.map { case (p, tier, y, x) =>
        s"('$p','$tier','$y','$x',NULL::VARCHAR)" }.mkString(",\n    ")
      val lad = graft.metrics.Causal.chi2InvMilliLadder(hyps.size)
      val chanRows = (1 to 4).flatMap { i =>
        val v = s"floor(greatest(least(X$i, 1000), -1000) * 1000)::BIGINT"
        Seq(
          s"  SELECT configId::VARCHAR || '|X$i@0' AS vs, " +
            s"configId * 65536 + t AS t, $v AS v FROM gen",
          s"  SELECT configId::VARCHAR || '|X$i@1', " +
            s"configId * 65536 + t + 1, $v FROM gen")
      }.mkString("\n  UNION ALL\n")
      s"""WITH gen AS (
        |  SELECT * FROM read_parquet('__GEN_DIR__/q376_gen/*.parquet')),
        |virt AS (
        |$chanRows),
        |wanted AS (SELECT * FROM ${graft.metrics.Causal.wantedPairsValuesSql(
             hyps.map(h => (h._3, h._4)))}),
        |links AS (SELECT * FROM (VALUES $linkRows)
        |  AS l(pair, tier, y, x, sib)),
        |${graft.metrics.Causal.sparseMomentsSqlCtes(
             "virt", "wanted", "t % 65536 BETWEEN 1 AND 199")},
        |${graft.metrics.Causal.structuralBetasSqlCtes("links")},
        |${graft.metrics.Causal.waldK1SqlCtes},
        |${graft.metrics.Causal.stepUpSqlCtes("wald", "pair", "bh" -> lad)},
        |sm AS (SELECT max(k_star_bh)::BIGINT AS k_star,
        |  sum(disc_bh)::BIGINT AS n_disc_total FROM wald_su)
        |SELECT d.tier, count(*)::BIGINT AS n_hyp,
        |  sum(d.disc_bh)::BIGINT AS n_disc,
        |  max(d.t2_milli)::BIGINT AS max_t2_milli,
        |  sum(CASE WHEN d.t2_milli IS NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_t2_null,
        |  sm.k_star, sm.n_disc_total
        |FROM wald_su d, sm
        |GROUP BY d.tier, sm.k_star, sm.n_disc_total""".stripMargin
    },

    "q370_bh_fdr" -> {
      def nm(i: Int) = f"X$i%02d"
      val cands = for { dd <- 1 to 10; i <- 0 until 64 - dd }
        yield (nm(i), nm(i + dd), dd)
      val linkRows = cands.map { case (a, b, dist) =>
        s"('$a<$b',$dist,'$b@0','$a@0',NULL::VARCHAR)" }
        .mkString(",\n    ")
      val lad = graft.metrics.Causal.chi2InvMilliLadder(cands.size)
      s"""WITH panel AS (
        |  SELECT series, day, v
        |  FROM read_parquet('__GEN_DIR__/q370_panel/*.parquet')),
        |virt AS (SELECT series || '@0' AS vs, day AS t, v FROM panel),
        |wanted AS (SELECT * FROM ${graft.metrics.Causal.wantedPairsValuesSql(
             cands.map { case (a, b, _) => (s"$b@0", s"$a@0") })}),
        |links AS (SELECT * FROM (VALUES $linkRows)
        |  AS l(pair, dist, y, x, sib)),
        |${graft.metrics.Causal.sparseMomentsSqlCtes(
             "virt", "wanted", "t BETWEEN 0 AND 19999")},
        |${graft.metrics.Causal.structuralBetasSqlCtes("links")},
        |${graft.metrics.Causal.waldK1SqlCtes},
        |${graft.metrics.Causal.stepUpSqlCtes("wald", "pair", "bh" -> lad)},
        |summ AS (
        |  SELECT max(k_star_bh)::BIGINT AS k_star,
        |    sum(disc_bh)::BIGINT AS n_disc_total,
        |    sum(CASE WHEN disc_bh = 1 AND dist >= 4 THEN 1 ELSE 0 END)
        |      ::BIGINT AS n_false_disc
        |  FROM wald_su),
        |summ2 AS (
        |  SELECT *, (CASE WHEN n_disc_total = 0 THEN 0
        |    ELSE (1000 * n_false_disc) // n_disc_total END)::BIGINT
        |    AS fdr_permille
        |  FROM summ)
        |SELECT dist::INT AS dist, count(*)::BIGINT AS n_pairs,
        |  sum(disc_bh)::BIGINT AS n_disc,
        |  min(t2_milli) AS min_t2_milli, max(t2_milli) AS max_t2_milli,
        |  s.k_star, s.n_disc_total, s.n_false_disc, s.fdr_permille
        |FROM wald_su, summ2 s GROUP BY 1, 6, 7, 8, 9""".stripMargin
    },

    "q369_maximal_recovery" -> {
      val cfgs = Grid.all().filter(c =>
        (c.family == "D3" || c.family == "D3C") && c.nVars == 4
          && c.nPoints == 500 && c.mixRatio == 0.5)
      val links = d3Links(cfgs)
      val linkRows = links.map { case (g, fam, ml, mcar, blk, tgt, src,
          lag, func, y, x, sib, dp, ep) =>
        s"('$g','$fam',$ml,$mcar,$blk,'$tgt','$src',$lag,'$func'," +
          s"'$y','$x'," +
          sib.map(v => s"'$v'").getOrElse("NULL::VARCHAR") + s",$dp,$ep)"
      }.mkString(",\n    ")
      def ids(lags: Int*): String = cfgs
        .filter(c => lags.contains(c.maxLag)).map(_.configId)
        .mkString("(", ", ", ")")
      val expRows = cfgs.map(c =>
        s"(${c.configId}, ${if (c.maxLag == 2) 8 else 9})")
        .mkString(",\n    ")
      val lxBlocks = (1 to 4).map(k =>
        graft.ops.Lagged.nearestLagIndexSqlCtes("spine", "\"time\"",
          Seq("configId"), lagMult = k, sfx = s"$k")).mkString(",\n")
      def chan0(vs: String, vc: String, mv: Int): String =
        s"  SELECT configId::VARCHAR || '|$vs@0' AS vs, " +
          s"configId*8192 + t AS t, floor($vc * 1000)::BIGINT AS v " +
          s"FROM gen WHERE (maskBits & ${1 << (mv - 1)}) = 0"
      def chanL(vs: String, vc: String, mv: Int, k: Int,
          idsIn: String): String =
        s"  SELECT p.configId::VARCHAR || '|$vs@$k', " +
          s"p.configId*8192 + l.t, floor(p.$vc * 1000)::BIGINT " +
          s"FROM lx$k l JOIN gen p ON p.configId = l.configId " +
          s"AND p.t = l.lag_idx " +
          s"WHERE (p.maskBits & ${1 << (mv - 1)}) = 0" +
          (if (idsIn == null) "" else s" AND p.configId IN $idsIn")
      val channels = ((1 to 4).map(i => chan0(s"X$i~", s"X${i}t", i)) ++
        Seq(chan0("p2X4", "p2X4", 4), chan0("p3X2", "p3X2", 2),
          chanL("sX3", "sX3", 3, 1, null),
          chanL("cX1", "cX1", 1, 2, ids(2, 3)),
          chanL("cX2", "cX2", 2, 3, ids(3, 4)),
          chanL("cX1", "cX1", 1, 4, ids(4))))
        .mkString("\n  UNION ALL\n")
      s"""WITH gen AS (
        |  SELECT * FROM read_parquet('__GEN_DIR__/q369_gen/*.parquet')),
        |spine AS (SELECT configId, t, "time" FROM gen),
        |$lxBlocks,
        |virtall AS (
        |$channels),
        |expd AS (SELECT * FROM (VALUES $expRows) AS e(cfgid, exp)),
        |ct AS (
        |  SELECT c.t FROM (
        |    SELECT t, count(*) AS nch FROM virtall GROUP BY t) c
        |  JOIN expd e ON e.cfgid = c.t // 8192
        |  WHERE c.nch = e.exp),
        |virt AS (SELECT v.* FROM virtall v JOIN ct USING (t)),
        |links AS (SELECT * FROM (VALUES $linkRows)
        |  AS l(g, family, max_lag, mcar_permille, block_permille,
        |    target, source, lag, func, y, x, sib, declared_ppm,
        |    effective_ppm)),
        |${graft.metrics.Causal.structuralMomentsFromVirtualSqlCtes(
             "virt", "t % 8192 BETWEEN 4 AND 499")},
        |${graft.metrics.Causal.structuralBetasSqlCtes("links")},
        |${inferenceCensusSql(Seq("family", "max_lag::INT AS max_lag",
             "mcar_permille::BIGINT AS mcar_permille",
             "block_permille::BIGINT AS block_permille"))}""".stripMargin
    },

    "q365_block_missing_recovery" -> {
      val cfgs = Grid.all().filter(c =>
        (c.family == "D2" || c.family == "D2C") && c.nVars == 4
          && c.nPoints == 5000 && c.noiseType == "gaussian")
        .map(_.copy(nPoints = 50000, noiseScale = 0.3))
      val links = cfgs.flatMap(c =>
        weightLinks(c.configId.toString, c.family, 4, c.maxLag))
      val blockOf = cfgs.map(c =>
        c.configId.toString -> math.round(c.blockProb * 1000)).toMap
      def p2(v: String): String = v.replace("@", "p2@")
      val linkRows = links.map(l =>
        s"('${l.g}','${l.family}',${l.maxLag},${blockOf(l.g)}," +
          s"'${l.target}','${l.source}',${l.lag},'${l.y}','${p2(l.x)}'," +
          l.sib.map(x => s"'${p2(x)}'").getOrElse("NULL::VARCHAR") +
          s",${l.declaredPpm},${l.effectivePpm})").mkString(",\n    ")
      val srcByLag = links.map(l => (l.lag, s"${l.source}p2")).distinct
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      // empty list → `IN (NULL)`: never-true in these filter contexts,
      // matching the Spark twin's empty .isin() (an `IN ()` would be a
      // DuckDB syntax error if the link set ever stopped naming a lag-0
      // squared source)
      def inList(ss: Seq[String]): String =
        if (ss.isEmpty) "(NULL)"
        else ss.map(x => s"'$x'").mkString("(", ", ", ")")
      val lagsNeeded = srcByLag.keys.filter(_ > 0).toSeq.sorted
      val lxBlocks = lagsNeeded.map(k =>
        graft.ops.Lagged.nearestLagIndexSqlCtes("spine", "\"time\"",
          Seq("configId"), lagMult = k, sfx = s"$k")).mkString(",\n")
      val virtLag = lagsNeeded.map(k =>
        s"  UNION ALL SELECT p.configId::VARCHAR || '|' || p.series || " +
          s"'@$k', p.configId * 65536 + l.t, p.v\n" +
          s"    FROM lx$k l JOIN pan p ON p.configId = l.configId " +
          s"AND p.t = l.lag_idx " +
          s"WHERE p.series IN ${inList(srcByLag(k))}").mkString("\n")
      val sqRows = (1 to 4).map(i =>
        s"  UNION ALL SELECT configId, 'X${i}p2', t, " +
          s"floor(X$i * X$i * 1000)::BIGINT FROM gen " +
          s"WHERE (maskBits & ${1 << (i - 1)}) = 0").mkString("\n")
      s"""WITH gen AS (
        |  SELECT * FROM read_parquet('__GEN_DIR__/q365_gen/*.parquet')),
        |spine AS (SELECT configId, t, "time" FROM gen),
        |$lxBlocks,
        |pan AS (
        |  SELECT configId, 'X1' AS series, t,
        |    floor(X1 * 1000)::BIGINT AS v
        |  FROM gen WHERE (maskBits & 1) = 0
        |${(2 to 4).map(i =>
             s"  UNION ALL SELECT configId, 'X$i', t, " +
               s"floor(X$i * 1000)::BIGINT FROM gen " +
               s"WHERE (maskBits & ${1 << (i - 1)}) = 0")
             .mkString("\n")}
        |$sqRows),
        |virtall AS (
        |  SELECT configId::VARCHAR || '|' || series || '@0' AS vs,
        |    configId * 65536 + t AS t, v
        |  FROM pan
        |  WHERE series NOT LIKE '%p2'
        |    OR series IN ${inList(srcByLag.getOrElse(0, Nil))}
        |$virtLag),
        |ct AS (SELECT t FROM virtall GROUP BY t HAVING count(*) = 10),
        |virt AS (SELECT v.* FROM virtall v JOIN ct USING (t)),
        |links AS (SELECT * FROM (VALUES $linkRows)
        |  AS l(g, family, max_lag, block_permille, target, source, lag,
        |    y, x, sib, declared_ppm, effective_ppm)),
        |${graft.metrics.Causal.structuralMomentsFromVirtualSqlCtes(
             "virt", "t % 65536 BETWEEN 4 AND 49999")},
        |${graft.metrics.Causal.structuralBetasSqlCtes("links")},
        |${inferenceCensusSql(Seq("family", "max_lag::INT AS max_lag",
             "block_permille::BIGINT AS block_permille"))}""".stripMargin
    },

    "q368_stream_inference" ->
      s"""WITH ${streamWeightSumsSql("q368_gen", Seq(50, 200))},
        |${graft.metrics.Causal.structuralBetasFromSumsSqlCtes("wf")},
        |${graft.metrics.Causal.structuralInferenceFromSumsSqlCtes()}
        |SELECT target, source, lag::INT AS lag, n, beta_ppm,
        |  se2_ppm2, t2_milli, (t2_milli > 3841)::INT AS significant,
        |  effective_ppm::BIGINT AS effective_ppm
        |FROM stsum""".stripMargin,

    "q367_forecast_calibration" -> {
      val links = weightLinks("", "A1", 6, 2)
      val virtRows = weightSpecs(links).map { case (series, k) =>
        s"SELECT '$series@$k' AS vs, day + $k AS t, v FROM panel " +
          s"WHERE series = '$series'"
      }.mkString("\n  UNION ALL ")
      s"""WITH ${a1PanelSqlCtes("q367_gen")},
        |virt AS (
        |  $virtRows),
        |links AS (SELECT * FROM ${weightLinksValuesSql(links)}),
        |${graft.metrics.Causal.structuralMomentsFromVirtualSqlCtes(
             "virt", "t BETWEEN 2 AND 2499")},
        |${graft.metrics.Causal.structuralBetasSqlCtes("links")},
        |${graft.metrics.Causal.structuralInferenceSqlCtes()},
        |stats AS (
        |  SELECT vs, count(*)::HUGEINT AS cn, sum(v)::HUGEINT AS cs
        |  FROM virt WHERE t BETWEEN 2 AND 2499 GROUP BY 1),
        |test AS (SELECT vs, t, v FROM virt WHERE t BETWEEN 2500 AND 4999),
        |contrib AS (
        |  SELECT b.target, b.y, xt.t,
        |    sum(b.beta_ppm::HUGEINT * (sx.cn * xt.v - sx.cs)) AS sdx,
        |    max(b.k_parents) AS kp, max(b.rss_scaled) AS rss,
        |    max(b.n) AS ntr
        |  FROM sttest b
        |  JOIN stats sx ON sx.vs = b.x
        |  JOIN test xt ON xt.vs = b.x
        |  GROUP BY 1, 2, 3),
        |prows AS (
        |  SELECT c.target, c.t,
        |    1000000 * (sy.cn * yt.v - sy.cs) - c.sdx AS dnum,
        |    c.kp, c.rss, c.ntr
        |  FROM contrib c
        |  JOIN stats sy ON sy.vs = c.y
        |  JOIN test yt ON yt.vs = c.y AND yt.t = c.t),
        |cov AS (
        |  SELECT target, max(kp)::BIGINT AS n_parents,
        |    count(*)::BIGINT AS n_test,
        |    sum(CASE WHEN 10000 * dnum * dnum * (ntr - kp - 1)
        |      <= 38416000000 * ntr::HUGEINT * rss
        |      THEN 1 ELSE 0 END)::BIGINT AS n_cover
        |  FROM prows GROUP BY 1)
        |SELECT target, n_parents, n_test, n_cover,
        |  ((1000 * n_cover) // n_test)::BIGINT AS cover_permille
        |FROM cov""".stripMargin
    },

    "q366_lag_identification" -> {
      val links = weightLinks("", "A1", 6, 2)
      val cands = 0 to 4
      val specs = (links.map(l => (l.target, 0)) ++
        links.flatMap(l => cands.map(c => (l.source, c)))).distinct
      val specRows = specs.map { case (series, lag) =>
        s"('$series',$lag)" }.mkString(",\n    ")
      val linkRows = links.flatMap { l =>
        cands.flatMap { c =>
          val vk = s"${l.target}<${l.source}|$c"
          val swept = s"('$vk','${l.target}','${l.source}',${l.lag},$c," +
            s"${l.effectivePpm},1,'${l.y}','${l.source}@$c'," +
            l.sib.map(x => s"'$x'").getOrElse("NULL::VARCHAR") + ")"
          val sib = l.sib.map(sv =>
            s"('$vk','${l.target}','${l.source}',${l.lag},$c," +
              s"${l.effectivePpm},0,'${l.y}','$sv','${l.source}@$c')")
          Seq(swept) ++ sib
        }
      }.mkString(",\n    ")
      s"""WITH ${a1PanelSqlCtes("q366_gen")},
        |specs AS (SELECT * FROM (VALUES $specRows) AS s(series, lag)),
        |links AS (SELECT * FROM (VALUES $linkRows)
        |  AS l(vk, target, source, true_lag, cand, effective_ppm, swept,
        |    y, x, sib)),
        |${graft.metrics.Causal.structuralMomentsSqlCtes(
             "panel", "specs", "t BETWEEN 4 AND 4999")},
        |${graft.metrics.Causal.structuralBetasSqlCtes("links")},
        |rss AS (
        |  SELECT *, 1000000 * cyy::HUGEINT
        |      - sum(beta_ppm::HUGEINT * cjy) OVER (PARTITION BY vk)
        |      AS rss_scaled
        |  FROM sbeta),
        |ranked AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY target, source
        |      ORDER BY rss_scaled, cand) AS rk,
        |    lead(rss_scaled, 1) OVER (PARTITION BY target, source
        |      ORDER BY rss_scaled, cand) AS next_rss
        |  FROM rss WHERE swept = 1)
        |SELECT target, source, true_lag::INT AS true_lag,
        |  effective_ppm::BIGINT AS effective_ppm,
        |  cand::INT AS best_lag,
        |  (cand = true_lag)::INT AS identified,
        |  (((next_rss - rss_scaled) * 1000) // rss_scaled)::BIGINT
        |    AS gap_permille
        |FROM ranked WHERE rk = 1""".stripMargin
    },

    "q363_beta_ttest" ->
      s"""WITH ${a1BetasSqlCtes("q363_gen")},
        |${graft.metrics.Causal.structuralInferenceSqlCtes()}
        |SELECT target, source, lag::INT AS lag, beta_ppm,
        |  effective_ppm::BIGINT AS effective_ppm,
        |  k_parents::BIGINT AS k_parents, se2_ppm2, t2_milli,
        |  (t2_milli > 3841)::INT AS significant
        |FROM sttest""".stripMargin,

    "q364_inference_census" ->
      s"""WITH ${a1FoldBetasSqlCtes("q364_gen")},
        |${graft.metrics.Causal.structuralInferenceSqlCtes()}
        |SELECT family, n_vars::INT AS n_vars, max_lag::INT AS max_lag,
        |  count(*)::BIGINT AS n_links,
        |  sum(CASE WHEN effective_ppm <> 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_live,
        |  sum(CASE WHEN effective_ppm <> 0 AND t2_milli > 3841
        |    THEN 1 ELSE 0 END)::BIGINT AS n_sig_live,
        |  sum(CASE WHEN effective_ppm = 0 AND t2_milli > 3841
        |    THEN 1 ELSE 0 END)::BIGINT AS n_sig_dead,
        |  sum(CASE WHEN se2_ppm2 IS NOT NULL AND se2_ppm2 > 0
        |    AND (1000 * (beta_ppm - effective_ppm)::HUGEINT
        |      * (beta_ppm - effective_ppm)) // se2_ppm2 <= 3841
        |    THEN 1 ELSE 0 END)::BIGINT AS n_cover,
        |  min(CASE WHEN effective_ppm <> 0 THEN t2_milli END)
        |    AS min_live_t2_milli,
        |  max(CASE WHEN effective_ppm = 0 THEN t2_milli END)
        |    AS max_dead_t2_milli
        |FROM sttest GROUP BY 1, 2, 3""".stripMargin,

    "q355_power_recovery_contrast" -> {
      def chain(dump: String, sfx: String): String = {
        val powers = for (i <- 1 to 4; k <- Seq(2, 3)) yield
          s"  UNION ALL SELECT 'X${i}p$k', t, " +
            Panels.milliSql(Seq.fill(k)(s"X$i").mkString(" * ")) +
            s" FROM gen$sfx"
        s"""gen$sfx AS (
          |  SELECT * FROM read_parquet('__GEN_DIR__/$dump/*.parquet')),
          |panel$sfx AS (${Panels.singleSqlCte(s"gen$sfx", 4)}
          |${powers.mkString("\n")}),
          |${graft.metrics.Causal.structuralMomentsSqlCtes(
               s"panel$sfx", "specs", "t BETWEEN 2 AND 49999", sfx)},
          |${graft.metrics.Causal.structuralBetasSqlCtes("links", sfx)}"""
          .stripMargin
      }
      s"""WITH specs AS (SELECT * FROM ${
             "(VALUES " + b1PowerSpecs().map { case (series, lag) =>
               s"('$series',$lag)" }.mkString(",\n    ") +
               ") AS s(series, lag)"}),
        |links AS (SELECT * FROM ${b1PowerLinksValuesSql()}),
        |${chain("q355_gen_default", "d")},
        |${chain("q355_gen_strict", "s")}
        |SELECT bd.target, bd.source, bd.lag::INT AS lag,
        |  bd.pow::INT AS pow,
        |  bd.declared_ppm::BIGINT AS declared_ppm,
        |  bd.effective_ppm::BIGINT AS effective_ppm,
        |  bd.beta_ppm AS beta_default_ppm, bs.beta_ppm AS beta_strict_ppm
        |FROM sbetad bd JOIN sbetas bs ON bs.target = bd.target
        |  AND bs.source = bd.source AND bs.lag = bd.lag
        |  AND bs.pow = bd.pow""".stripMargin
    },

    "q356_weight_recovery_irregular" -> {
      val links = weightLinks("", "A2", 4, 2)
      s"""WITH gen AS (
        |  SELECT * FROM read_parquet('__GEN_DIR__/q356_gen/*.parquet')),
        |${graft.ops.Lagged.nearestLagIndexSqlCtes("gen", "\"time\"",
             lagMult = 1, sfx = "1")},
        |${graft.ops.Lagged.nearestLagIndexSqlCtes("gen", "\"time\"",
             lagMult = 2, sfx = "2")},
        |panel AS (${Panels.singleSqlCte("gen", 4)}),
        |pan AS (SELECT series, day AS t, v FROM panel),
        |virt AS (
        |  SELECT series || '@0' AS vs, t, v FROM pan
        |  UNION ALL SELECT p.series || '@1', l.t, p.v
        |    FROM lx1 l JOIN pan p ON p.t = l.lag_idx
        |  UNION ALL SELECT p.series || '@2', l.t, p.v
        |    FROM lx2 l JOIN pan p ON p.t = l.lag_idx),
        |links AS (SELECT * FROM ${weightLinksValuesSql(links)}),
        |${graft.metrics.Causal.structuralMomentsFromVirtualSqlCtes(
             "virt", "t BETWEEN 2 AND 4999")},
        |${graft.metrics.Causal.structuralBetasSqlCtes("links")}
        |SELECT target, source, lag::INT AS lag, beta_ppm,
        |  declared_ppm::BIGINT AS declared_ppm,
        |  effective_ppm::BIGINT AS effective_ppm,
        |  abs(beta_ppm - effective_ppm)::BIGINT AS abs_err_ppm
        |FROM sbeta""".stripMargin
    },

    "q357_weight_recovery_holdout" -> {
      s"""WITH ${a1PanelSqlCtes("q357_gen")},
        |${weightLinksSqlCtes(weightLinks("", "A1", 6, 2))},
        |${graft.metrics.Causal.structuralMomentsSqlCtes(
             "panel", "specs", "t BETWEEN 2 AND 2499", "tr")},
        |${graft.metrics.Causal.structuralBetasSqlCtes("links", "tr")},
        |${graft.metrics.Causal.structuralMomentsSqlCtes(
             "panel", "specs", "t BETWEEN 2500 AND 4999", "te")},
        |bt AS (
        |  SELECT target, y, x, sib, beta_ppm, n AS ntr, cyy AS cyytr,
        |    cjy AS cjytr
        |  FROM sbetatr),
        |bsib AS (
        |  SELECT b1.*, coalesce(b2.beta_ppm, 0) AS beta_sib
        |  FROM bt b1 LEFT JOIN bt b2
        |    ON b2.target = b1.target AND b2.x = b1.sib),
        |tj AS (
        |  SELECT b.*, myy.n AS nte, myy.c AS cyyte, mjj.c AS cjjte,
        |    mjy.c AS cjyte, mjs.c AS cjste
        |  FROM bsib b
        |  LEFT JOIN smcte myy ON myy.na = b.y AND myy.nb = b.y
        |  LEFT JOIN smcte mjj ON mjj.na = b.x AND mjj.nb = b.x
        |  LEFT JOIN smcte mjy ON mjy.na = least(b.x, b.y)
        |    AND mjy.nb = greatest(b.x, b.y)
        |  LEFT JOIN smcte mjs ON mjs.na = least(b.x, b.sib)
        |    AND mjs.nb = greatest(b.x, b.sib)),
        |agg AS (
        |  SELECT target, count(*)::BIGINT AS n_parents,
        |    ((1000000 * max(cyytr::HUGEINT)
        |        - sum(beta_ppm::HUGEINT * cjytr))
        |      // (1000000 * max(ntr::HUGEINT) * max(ntr)))::BIGINT
        |      AS sigma2_train_v,
        |    ((max(cyyte::HUGEINT) + sum(
        |        (beta_ppm::HUGEINT * beta_ppm * cjjte) // 1000000000000
        |        + (beta_ppm::HUGEINT * beta_sib * coalesce(cjste, 0))
        |          // 1000000000000
        |        - (2 * beta_ppm::HUGEINT * cjyte) // 1000000))
        |      // (max(nte::HUGEINT) * max(nte)))::BIGINT AS sigma2_test_v
        |  FROM tj GROUP BY 1)
        |SELECT target, n_parents, sigma2_train_v, sigma2_test_v,
        |  (CASE WHEN sigma2_train_v = 0 THEN 0
        |    ELSE (1000 * sigma2_test_v) // sigma2_train_v END)::BIGINT
        |    AS ratio_permille
        |FROM agg""".stripMargin
    },

    "q358_stream_weight_recovery" ->
      s"""WITH ${streamWeightSumsSql("q358_gen", Seq(200))},
        |${graft.metrics.Causal.structuralBetasFromSumsSqlCtes("wf")}
        |SELECT target, source, lag::INT AS lag, n, beta_ppm,
        |  effective_ppm::BIGINT AS effective_ppm
        |FROM sbsum""".stripMargin,

    "q362_shadow_census" -> {
      val cfgs = Grid.all().filter(c =>
        c.family == "D1" && c.nVars == 4 && c.maxLag == 2
          && c.nPoints == 5000 && c.noiseType == "gaussian")
      val wlinks = cfgs.flatMap(c =>
        weightLinks(c.configId.toString, "D1", 4, 2))
      val mcarOf = cfgs.map(c =>
        c.configId.toString -> math.round(c.mcarProb * 1000)).toMap
      val linkRows = wlinks.map(l =>
        s"('${l.g}',${mcarOf(l.g)},'${l.target}','${l.source}',${l.lag}," +
          s"'${l.y}','${l.x}'," +
          l.sib.map(x => s"'$x'").getOrElse("NULL::VARCHAR") +
          s",${l.declaredPpm},${l.effectivePpm})").mkString(",\n    ")
      s"""WITH gen AS (
        |  SELECT * FROM read_parquet('__GEN_DIR__/q362_gen/*.parquet')),
        |panel AS (
        |  SELECT configId::VARCHAR || '|X1' AS series,
        |    configId * 8192 + t AS day, floor(X1 * 1000)::BIGINT AS v
        |  FROM gen WHERE (maskBits & 1) = 0
        |${(2 to 4).map(i =>
             s"  UNION ALL SELECT configId::VARCHAR || '|X$i', " +
               s"configId * 8192 + t, floor(X$i * 1000)::BIGINT " +
               s"FROM gen WHERE (maskBits & ${1 << (i - 1)}) = 0")
             .mkString("\n")}),
        |specs AS (SELECT * FROM ${weightSpecsValuesSql(wlinks)}),
        |links AS (SELECT * FROM (VALUES $linkRows)
        |  AS l(g, mcar_permille, target, source, lag, y, x, sib,
        |    declared_ppm, effective_ppm)),
        |${graft.metrics.Causal.structuralMomentsSqlCtes(
             "panel", "specs", "t % 8192 BETWEEN 4 AND 4999")},
        |${graft.metrics.Causal.structuralBetasSqlCtes("links")}
        |SELECT mcar_permille::BIGINT AS mcar_permille,
        |  count(*)::BIGINT AS n_links,
        |  sum(CASE WHEN effective_ppm = 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_dead,
        |  max(abs(beta_ppm))::BIGINT AS max_abs_beta_ppm,
        |  min(n)::BIGINT AS min_pair_n, max(n)::BIGINT AS max_pair_n
        |FROM sbeta GROUP BY 1""".stripMargin
    },

    "q361_seasonal_recovery_contrast" -> {
      val links = c1Links()
      def vals(naive: Boolean): String =
        "(VALUES " + links.map { l =>
          val y = if (naive) s"${l._1}@0" else l._6
          s"('${l._1}','${l._2}',${l._3},'${l._4}','$y','${l._5}'," +
            l._7.map(x => s"'$x'").getOrElse("NULL::VARCHAR") +
            s",${l._8},${l._9})"
        }.mkString(",\n    ") +
          ") AS l(target, source, lag, func, y, x, sib, declared_ppm," +
          " effective_ppm)"
      val targetCh = (1 to 6).flatMap(i => Seq(
        s"  UNION ALL SELECT 'X$i~@0' AS vs, t, " +
          s"floor(X${i}t * 1000)::BIGINT AS v FROM gen",
        s"  UNION ALL SELECT 'X$i@0' AS vs, t, " +
          s"floor(X$i * 1000)::BIGINT AS v FROM gen"))
      val regCh = links.map(l => (l._5.split("@")(0), l._5, l._3))
        .distinct.map { case (series, vs, lag) =>
          s"  UNION ALL SELECT '$vs' AS vs, t + $lag AS t, " +
            s"floor($series * 1000)::BIGINT AS v FROM gen" }
      val channels = (targetCh ++ regCh).mkString("\n")
        .replaceFirst("  UNION ALL ", "  ")
      s"""WITH gen AS (
        |  SELECT * FROM read_parquet('__GEN_DIR__/q361_gen/*.parquet')),
        |virt AS (
        |$channels),
        |linksd AS (SELECT * FROM ${vals(naive = false)}),
        |linksn AS (SELECT * FROM ${vals(naive = true)}),
        |${graft.metrics.Causal.structuralMomentsFromVirtualSqlCtes(
             "virt", "t BETWEEN 2 AND 499")},
        |${graft.metrics.Causal.structuralBetasSqlCtes("linksd", "d",
             momSfx = "")},
        |${graft.metrics.Causal.structuralBetasSqlCtes("linksn", "n",
             momSfx = "")}
        |SELECT d.target, d.source, d.lag::INT AS lag, d.func,
        |  d.declared_ppm::BIGINT AS declared_ppm,
        |  d.effective_ppm::BIGINT AS effective_ppm,
        |  d.beta_ppm AS beta_detrended_ppm,
        |  n.beta_ppm AS beta_naive_ppm
        |FROM sbetad d JOIN sbetan n ON n.target = d.target
        |  AND n.source = d.source AND n.lag = d.lag""".stripMargin
    },

    "q360_irregular_recovery_census" -> {
      val cfgs = Grid.all().filter(c =>
        ((c.family == "A2" && c.nVars == 4) || c.family == "A2C")
          && c.nPoints == 5000 && c.noiseType == "gaussian")
      val links = cfgs.flatMap(c =>
        weightLinks(c.configId.toString, c.family, c.nVars, c.maxLag))
      val lagsNeeded = links.map(_.lag).filter(_ > 0).distinct.sorted
      val lxBlocks = lagsNeeded.map(k =>
        graft.ops.Lagged.nearestLagIndexSqlCtes("spine", "\"time\"",
          Seq("configId"), lagMult = k, sfx = s"$k")).mkString(",\n")
      val virtLag = lagsNeeded.map(k =>
        s"  UNION ALL SELECT p.configId::VARCHAR || '|' || p.series || " +
          s"'@$k', p.configId * 8192 + l.t, p.v\n" +
          s"    FROM lx$k l JOIN pan p ON p.configId = l.configId " +
          s"AND p.t = l.lag_idx").mkString("\n")
      s"""WITH gen AS (
        |  SELECT * FROM read_parquet('__GEN_DIR__/q360_gen/*.parquet')),
        |spine AS (SELECT configId, t, "time" FROM gen),
        |$lxBlocks,
        |pan AS (
        |  SELECT configId, 'X1' AS series, t,
        |    floor(X1 * 1000)::BIGINT AS v
        |  FROM gen WHERE X1 IS NOT NULL
        |${(2 to 8).map(i =>
             s"  UNION ALL SELECT configId, 'X$i', t, " +
               s"floor(X$i * 1000)::BIGINT FROM gen WHERE X$i IS NOT NULL")
             .mkString("\n")}),
        |virt AS (
        |  SELECT configId::VARCHAR || '|' || series || '@0' AS vs,
        |    configId * 8192 + t AS t, v
        |  FROM pan
        |$virtLag),
        |links AS (SELECT * FROM ${weightLinksValuesSql(links)}),
        |${graft.metrics.Causal.structuralMomentsFromVirtualSqlCtes(
             "virt", "t % 8192 BETWEEN 4 AND 4999")},
        |${graft.metrics.Causal.structuralBetasSqlCtes("links")}
        |$RecoveryCensusSql""".stripMargin
    },

    "q359_weight_recovery_wide" -> {
      def nm(i: Int) = f"X$i%02d"
      val links = (1 until 64).map(i => (nm(i), nm(i - 1)))
      val wantedRows = links.flatMap { case (t, src) =>
        Seq(s"('$t@0','$t@0')", s"('$src@0','$src@0')",
          s"('$src@0','$t@0')")
      }.distinct.mkString(",\n    ")
      val linkRows = links.map { case (t, src) =>
        s"('$t','$src',0,'$t@0','$src@0',NULL::VARCHAR)"
      }.mkString(",\n    ")
      s"""WITH panel AS (
        |  SELECT series, day, v
        |  FROM read_parquet('__GEN_DIR__/q359_panel/*.parquet')),
        |virt AS (SELECT series || '@0' AS vs, day AS t, v FROM panel),
        |wanted AS (SELECT * FROM (VALUES $wantedRows) AS w(na, nb)),
        |links AS (SELECT * FROM (VALUES $linkRows)
        |  AS l(target, source, lag, y, x, sib)),
        |${graft.metrics.Causal.sparseMomentsSqlCtes(
             "virt", "wanted", "t BETWEEN 0 AND 9999")},
        |${graft.metrics.Causal.structuralBetasSqlCtes("links")}
        |SELECT target, source, beta_ppm FROM sbeta""".stripMargin
    },

    "q270_pc_skeleton" ->
      s"""WITH $CausalPanelCte,
        |${graft.metrics.Causal.pcSkeletonSqlCtes("panel")}
        |SELECT * FROM pc_out""".stripMargin,

    "q271_granger_recovery" ->
      s"""WITH $CausalPanelCte,
        |b AS (
        |  SELECT day, v, row_number() OVER (ORDER BY day) AS i,
        |    lag(v, 1) OVER (ORDER BY day) AS bl,
        |    lag(v, 2) OVER (ORDER BY day) AS bl2
        |  FROM panel WHERE series = 'view'),
        |bi AS (SELECT * FROM b WHERE i >= 3),
        |synth AS (
        |  SELECT 's1' AS series, day, v FROM bi
        |  UNION ALL SELECT 's2', day,
        |    bl + ((i * 2654435761) % 1001) FROM bi
        |  UNION ALL SELECT 's3', day, (i * 2246822519) % 100000 FROM bi
        |  UNION ALL SELECT 's4', day,
        |    bl2 + (((i - 1) * 2654435761) % 1001)
        |        + ((i * 1779033703) % 1001) FROM bi),
        |${graft.metrics.Causal.grangerSqlCtes("synth")},
        |pred AS (SELECT cause AS source, effect AS target
        |  FROM granger_out WHERE granger = 1),
        |truth(source, target) AS (VALUES ('s1', 's2'), ('s2', 's4')),
        |conf AS (SELECT
        |  (SELECT count(*) FROM truth t JOIN pred p
        |     ON p.source = t.source AND p.target = t.target) AS tp,
        |  (SELECT count(*) FROM pred p LEFT JOIN truth t
        |     ON p.source = t.source AND p.target = t.target
        |   WHERE t.source IS NULL) AS fp,
        |  (SELECT count(*) FROM truth t LEFT JOIN pred p
        |     ON p.source = t.source AND p.target = t.target
        |   WHERE p.source IS NULL) AS fn)
        |SELECT 'panel' AS graph_id, tp::BIGINT AS tp, fp::BIGINT AS fp,
        |  fn::BIGINT AS fn, (12 - tp - fp - fn)::BIGINT AS tn,
        |  round(CASE WHEN tp + fn = 0 THEN 0.0
        |    ELSE tp / (tp + fn)::DOUBLE END, 6) AS tpr,
        |  round(CASE WHEN fp + tp = 0 THEN 0.0
        |    ELSE fp / (fp + tp)::DOUBLE END, 6) AS fdr,
        |  (fp + fn)::BIGINT AS shd
        |FROM conf""".stripMargin,

    "q272_transfer_entropy" ->
      s"""WITH $CausalPanelCte,
        |means AS (SELECT series, sum(v) // count(*) AS mean_v
        |  FROM panel GROUP BY 1),
        |binned AS (SELECT p.series, p.day,
        |    CASE WHEN p.v > m.mean_v THEN 1 ELSE 0 END AS bit
        |  FROM panel p JOIN means m USING (series)),
        |lagged AS (
        |  SELECT x.series AS cause, y.series AS effect, y.day,
        |    y.bit AS ynow,
        |    lag(y.bit) OVER (PARTITION BY x.series, y.series
        |      ORDER BY y.day) AS yprev,
        |    lag(x.bit) OVER (PARTITION BY x.series, y.series
        |      ORDER BY y.day) AS xprev
        |  FROM binned y JOIN binned x USING (day)
        |  WHERE x.series <> y.series),
        |lv AS (SELECT * FROM lagged WHERE yprev IS NOT NULL),
        |trip AS (SELECT cause, effect, ynow, yprev, xprev,
        |    count(*)::BIGINT AS c3
        |  FROM lv GROUP BY 1, 2, 3, 4, 5),
        |cy AS (SELECT cause, effect, yprev, count(*)::BIGINT AS c_y
        |  FROM lv GROUP BY 1, 2, 3),
        |cyx AS (SELECT cause, effect, yprev, xprev,
        |    count(*)::BIGINT AS c_yx
        |  FROM lv GROUP BY 1, 2, 3, 4),
        |cyy AS (SELECT cause, effect, ynow, yprev,
        |    count(*)::BIGINT AS c_yy
        |  FROM lv GROUP BY 1, 2, 3, 4)
        |SELECT cause, effect, sum(c3)::BIGINT AS n,
        |  sum(c3 * ((${lnMicroCaseSql("c3")})
        |    + (${lnMicroCaseSql("c_y")})
        |    - (${lnMicroCaseSql("c_yx")})
        |    - (${lnMicroCaseSql("c_yy")})))::BIGINT AS te_micro_n
        |FROM trip
        |JOIN cy USING (cause, effect, yprev)
        |JOIN cyx USING (cause, effect, yprev, xprev)
        |JOIN cyy USING (cause, effect, ynow, yprev)
        |GROUP BY 1, 2""".stripMargin,

    "q273_benford_audit" ->
      s"""WITH obs AS (
        |  SELECT substr(floor(l_extendedprice * 1e6)::BIGINT::VARCHAR,
        |      1, 1)::INT AS digit, count(*)::BIGINT AS n_obs
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT sum(n_obs)::HUGEINT AS n FROM obs)
        |SELECT digit, n_obs, ($BenfordPpmCaseSql)::BIGINT AS exp_ppm,
        |  ((n_obs::HUGEINT * 1000000 - ($BenfordPpmCaseSql) * n)
        |   * (n_obs::HUGEINT * 1000000 - ($BenfordPpmCaseSql) * n)
        |   // (($BenfordPpmCaseSql) * n))::BIGINT AS chi2_micro
        |FROM obs, tot""".stripMargin,

    "q274_pmi_collocations" ->
      """WITH pr AS (
        |  SELECT unnest(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 1, 0)),
        |    i -> array_to_string(list_slice(string_split(text, ' '),
        |      i + 1, i + 2), ' '))) AS pair
        |  FROM documents),
        |bi AS MATERIALIZED (
        |  SELECT string_split(pair, ' ')[1] AS x,
        |    string_split(pair, ' ')[2] AS y, count(*)::BIGINT AS cxy
        |  FROM pr GROUP BY 1, 2),
        |lft AS (SELECT x, sum(cxy)::BIGINT AS cx FROM bi GROUP BY 1),
        |rgt AS (SELECT y, sum(cxy)::BIGINT AS cy FROM bi GROUP BY 1),
        |tot AS (SELECT sum(cxy)::BIGINT AS nbi FROM bi)
        |SELECT b.x, b.y, b.cxy, l.cx, r.cy, t.nbi,
        |  CASE WHEN b.cxy * t.nbi > 8 * l.cx * r.cy
        |  THEN 1 ELSE 0 END AS pmi8
        |FROM bi b JOIN lft l USING (x) JOIN rgt r USING (y), tot t
        |WHERE b.cxy >= 5
        |ORDER BY b.cxy DESC, b.x, b.y LIMIT 50""".stripMargin,

    "q275_conformal_interval" ->
      """WITH ev AS (
        |  SELECT event_type, event_id,
        |    floor(value * 1e6)::BIGINT AS vm
        |  FROM events),
        |mu AS (SELECT event_type, sum(vm) // count(*) AS mu_micro
        |  FROM ev WHERE event_id % 3 = 0 GROUP BY 1),
        |calib AS (
        |  SELECT e.event_type, abs(e.vm - m.mu_micro) AS r,
        |    row_number() OVER (PARTITION BY e.event_type
        |      ORDER BY abs(e.vm - m.mu_micro), e.event_id) AS rk,
        |    count(*) OVER (PARTITION BY e.event_type) AS nc
        |  FROM ev e JOIN mu m USING (event_type)
        |  WHERE e.event_id % 3 = 1),
        |qh AS (SELECT event_type, r AS qhat_micro, nc AS n_calib
        |  FROM calib WHERE rk = (9 * nc + 18) // 10)
        |SELECT e.event_type, m.mu_micro::BIGINT AS mu_micro, q.n_calib,
        |  q.qhat_micro::BIGINT AS qhat_micro,
        |  count(*)::BIGINT AS n_test,
        |  ((sum(CASE WHEN abs(e.vm - m.mu_micro) <= q.qhat_micro
        |      THEN 1 ELSE 0 END) * 1000000) // count(*))::BIGINT
        |    AS coverage_ppm
        |FROM ev e JOIN mu m USING (event_type)
        |JOIN qh q USING (event_type)
        |WHERE e.event_id % 3 = 2
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    "q276_holt_smoothing" ->
      s"""WITH RECURSIVE $CausalPanelCte,
        |${graft.ops.Smoothing.holtSqlCtes("panel")}
        |SELECT * FROM holt_out""".stripMargin,

    "q277_weekly_decompose" ->
      s"""WITH $CausalPanelCte,
        |tr AS (
        |  SELECT series, day, v,
        |    count(*) OVER w AS wn, sum(v) OVER w AS trend
        |  FROM panel
        |  WINDOW w AS (PARTITION BY series ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |detr AS (
        |  SELECT series, day, v - (trend // 7) AS dt
        |  FROM tr WHERE wn = 7),
        |seas AS (
        |  SELECT series, day % 7 AS dow,
        |    sum(dt) // count(*) AS seasonal_milli,
        |    count(*)::BIGINT AS n
        |  FROM detr GROUP BY 1, 2)
        |SELECT s.series, s.dow, s.seasonal_milli::BIGINT AS seasonal_milli,
        |  s.n,
        |  sum(abs(d.dt - s.seasonal_milli))::BIGINT AS sum_abs_rem
        |FROM detr d JOIN seas s
        |  ON s.series = d.series AND s.dow = d.day % 7
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    "q278_ipf_raking" ->
      """WITH li AS (
        |  SELECT l_returnflag AS rf, l_linestatus AS ls, l_quantity
        |  FROM lineitem),
        |cells AS (SELECT rf, ls, count(*)::BIGINT AS c
        |  FROM li GROUP BY 1, 2),
        |rt AS (SELECT rf, count(*)::BIGINT AS rt FROM li
        |  WHERE l_quantity > 25 GROUP BY 1),
        |ct AS (SELECT ls, count(*)::BIGINT AS ct FROM li
        |  WHERE l_quantity > 25 GROUP BY 1),
        |w0 AS (SELECT rf, ls, c, 1000000::BIGINT AS w FROM cells),
        |m1 AS (SELECT rf, sum(c * w)::BIGINT AS rm FROM w0 GROUP BY 1),
        |w1 AS (SELECT w0.rf, w0.ls, w0.c,
        |    (w0.w * ((rt.rt * 1000000000000) // m1.rm)) // 1000000 AS w
        |  FROM w0 JOIN m1 ON m1.rf = w0.rf JOIN rt ON rt.rf = w0.rf),
        |m2 AS (SELECT ls, sum(c * w)::BIGINT AS cm FROM w1 GROUP BY 1),
        |w2 AS (SELECT w1.rf, w1.ls, w1.c,
        |    (w1.w * ((ct.ct * 1000000000000) // m2.cm)) // 1000000 AS w
        |  FROM w1 JOIN m2 ON m2.ls = w1.ls JOIN ct ON ct.ls = w1.ls),
        |m3 AS (SELECT rf, sum(c * w)::BIGINT AS rm FROM w2 GROUP BY 1),
        |w3 AS (SELECT w2.rf, w2.ls, w2.c,
        |    (w2.w * ((rt.rt * 1000000000000) // m3.rm)) // 1000000 AS w
        |  FROM w2 JOIN m3 ON m3.rf = w2.rf JOIN rt ON rt.rf = w2.rf),
        |m4 AS (SELECT ls, sum(c * w)::BIGINT AS cm FROM w3 GROUP BY 1),
        |w4 AS (SELECT w3.rf, w3.ls, w3.c,
        |    (w3.w * ((ct.ct * 1000000000000) // m4.cm)) // 1000000 AS w
        |  FROM w3 JOIN m4 ON m4.ls = w3.ls JOIN ct ON ct.ls = w3.ls)
        |SELECT rf, ls, c, w AS w_ppm, (c * w) // 1000000 AS fitted
        |FROM w4""".stripMargin,

    "q279_mann_kendall" ->
      s"""WITH $CausalPanelCte,
        |pairs AS (
        |  SELECT a.series,
        |    CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1
        |    ELSE 0 END AS sg
        |  FROM panel a JOIN panel b
        |    ON a.series = b.series AND a.day < b.day),
        |st AS (SELECT series, sum(sg)::BIGINT AS s_stat
        |  FROM pairs GROUP BY 1),
        |ns AS (SELECT series, count(*)::BIGINT AS n
        |  FROM panel GROUP BY 1),
        |ties AS (
        |  SELECT series,
        |    sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie_term
        |  FROM (SELECT series, v, count(*)::BIGINT AS t
        |        FROM panel GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT st.series, ns.n, st.s_stat,
        |  (ns.n * (ns.n - 1) * (2 * ns.n + 5) - ties.tie_term)::BIGINT
        |    AS varnum,
        |  (CASE WHEN 180000 * greatest(abs(st.s_stat) - 1, 0)
        |          * greatest(abs(st.s_stat) - 1, 0)
        |          > 38416 *
        |            (ns.n * (ns.n - 1) * (2 * ns.n + 5) - ties.tie_term)
        |   THEN CASE WHEN st.s_stat > 0 THEN 1 ELSE -1 END
        |   ELSE 0 END)::INT AS trend
        |FROM st JOIN ns ON ns.series = st.series
        |JOIN ties ON ties.series = st.series""".stripMargin,

    "q280_ks_two_sample" ->
      """WITH ev AS (
        |  SELECT event_type, floor(value * 1e6)::BIGINT AS vm
        |  FROM events WHERE event_type IN ('click', 'error')),
        |byv AS (
        |  SELECT vm,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
        |      AS a_v,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
        |      AS b_v
        |  FROM ev GROUP BY 1),
        |cum AS (
        |  SELECT vm,
        |    sum(a_v) OVER (ORDER BY vm ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS ca,
        |    sum(b_v) OVER (ORDER BY vm ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cb
        |  FROM byv),
        |tot AS (
        |  SELECT
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
        |      AS na,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
        |      AS nb
        |  FROM ev),
        |ds AS (
        |  SELECT max(t.na)::BIGINT AS na, max(t.nb)::BIGINT AS nb,
        |    max(abs(c.ca * t.nb - c.cb * t.na))::BIGINT AS d_star
        |  FROM cum c, tot t)
        |SELECT na, nb, d_star,
        |  (CASE WHEN 10000 * d_star::HUGEINT * d_star
        |          > 18442 * na::HUGEINT * nb * (na + nb)
        |   THEN 1 ELSE 0 END)::INT AS reject
        |FROM ds""".stripMargin,

    "q281_lateral_topn" -> LateralTopnSql("orders"),

    "q282_binseg_changepoint" ->
      s"""WITH $CausalPanelCte,
        |pre AS (
        |  SELECT series, day, v,
        |    row_number() OVER w AS i,
        |    sum(v) OVER w AS cs, sum(v * v) OVER w AS cs2
        |  FROM panel
        |  WINDOW w AS (PARTITION BY series ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |tot AS (SELECT series, count(*)::BIGINT AS n,
        |    sum(v)::BIGINT AS st, sum(v * v)::BIGINT AS qt
        |  FROM panel GROUP BY 1),
        |cand AS (
        |  SELECT p.series, t.n, p.day, p.i,
        |    ((p.i::HUGEINT * p.cs2 - p.cs::HUGEINT * p.cs) * 1000000
        |       // p.i)
        |     + (((t.n - p.i)::HUGEINT * (t.qt - p.cs2)
        |         - (t.st - p.cs)::HUGEINT * (t.st - p.cs)) * 1000000
        |       // (t.n - p.i)) AS cost_micro,
        |    ((t.n::HUGEINT * t.qt - t.st::HUGEINT * t.st) * 1000000
        |       // t.n) AS total_micro
        |  FROM pre p JOIN tot t ON t.series = p.series
        |  WHERE p.i >= 2 AND p.i <= t.n - 2),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY series
        |    ORDER BY cost_micro, i) AS r
        |  FROM cand)
        |SELECT series, n, day AS split_day, cost_micro::BIGINT AS cost_micro,
        |  total_micro::BIGINT AS total_micro,
        |  (total_micro - cost_micro)::BIGINT AS gain_micro
        |FROM rk WHERE r = 1""".stripMargin,

    "q283_periodogram" ->
      s"""WITH $CausalPanelCte,
        |b7 AS (
        |  SELECT series, 7 AS period,
        |    sum(v * (${trigCase("cos", 7)}))::BIGINT AS re,
        |    sum(v * (${trigCase("sin", 7)}))::BIGINT AS im
        |  FROM panel GROUP BY 1),
        |b5 AS (
        |  SELECT series, 5 AS period,
        |    sum(v * (${trigCase("cos", 5)}))::BIGINT AS re,
        |    sum(v * (${trigCase("sin", 5)}))::BIGINT AS im
        |  FROM panel GROUP BY 1),
        |u AS (SELECT * FROM b7 UNION ALL SELECT * FROM b5)
        |SELECT series, period, re, im,
        |  ((re::HUGEINT * re + im::HUGEINT * im)
        |    // 1000000000000)::BIGINT AS power
        |FROM u""".stripMargin,

    "q284_attribution" ->
      s"""WITH ev AS (
        |  SELECT event_id, epoch_us(ts) * 1000 AS tsn, user_id,
        |    event_type
        |  FROM events),
        |purch AS (SELECT user_id, event_id AS pid, tsn AS pts
        |  FROM ev WHERE event_type = 'purchase'),
        |prior AS (SELECT user_id, event_type AS channel,
        |    event_id AS eid, tsn AS ets
        |  FROM ev WHERE event_type <> 'purchase'),
        |j AS MATERIALIZED (
        |  SELECT p.pid, r.channel, r.eid, r.ets,
        |    (CASE age_d ${(0 to 6).map(k =>
             s"WHEN $k THEN ${Math.round(1e6 / Math.pow(2, k))}")
             .mkString(" ")} ELSE 0 END)::BIGINT AS w
        |  FROM purch p JOIN prior r ON r.user_id = p.user_id,
        |  LATERAL (SELECT (p.pts - r.ets) // 86400000000000 AS age_d) a
        |  WHERE r.ets < p.pts AND p.pts - r.ets <= 604800000000000),
        |lastt AS (
        |  SELECT channel, count(*)::BIGINT AS n_last FROM (
        |    SELECT pid, channel,
        |      row_number() OVER (PARTITION BY pid
        |        ORDER BY ets DESC, eid DESC) AS r
        |    FROM j) WHERE r = 1 GROUP BY 1),
        |mass AS (SELECT pid, sum(w)::BIGINT AS m FROM j GROUP BY 1),
        |decay AS (
        |  SELECT j.channel,
        |    sum((j.w * 1000000) // s.m)::BIGINT AS decay_ppm
        |  FROM j JOIN mass s ON s.pid = j.pid GROUP BY 1)
        |SELECT coalesce(d.channel, l.channel) AS channel,
        |  coalesce(l.n_last, 0)::BIGINT AS n_last,
        |  coalesce(d.decay_ppm, 0)::BIGINT AS decay_ppm
        |FROM decay d FULL OUTER JOIN lastt l ON l.channel = d.channel"""
        .stripMargin,

    "q285_repetition_rules" ->
      """WITH pr AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 1, 0)),
        |    i -> array_to_string(list_slice(string_split(text, ' '),
        |      i + 1, i + 2), ' '))) AS pair
        |  FROM documents),
        |bi AS (SELECT doc_id, pair, count(*)::BIGINT AS cnt
        |  FROM pr GROUP BY 1, 2),
        |per AS (
        |  SELECT doc_id, sum(cnt) + 1 AS n_tok,
        |    (2 * max(cnt) * 1000000) // (sum(cnt) + 1) AS cov_ppm,
        |    ((sum(cnt) - count(*)) * 1000000) // sum(cnt) AS dup_ppm
        |  FROM bi GROUP BY 1)
        |SELECT CASE WHEN cov_ppm <= 200000 THEN 1 ELSE 0 END AS keep_cov,
        |  CASE WHEN dup_ppm <= 300000 THEN 1 ELSE 0 END AS keep_dup,
        |  count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS sum_tok
        |FROM per GROUP BY 1, 2""".stripMargin,

    "q286_calibration_ece" ->
      s"""WITH $QualityMarginCtes,
        |lb AS (
        |  SELECT greatest(least(margin // 200, 10), -10) AS bin,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM qmargin),
        |bb AS (SELECT bin, count(*)::BIGINT AS n_b,
        |    sum(pos)::BIGINT AS npos
        |  FROM lb GROUP BY 1)
        |SELECT bin, n_b, ($SigmoidPpmCaseSql)::BIGINT AS conf_ppm,
        |  ((npos * 1000000) // n_b)::BIGINT AS acc_ppm,
        |  (abs((npos * 1000000) // n_b - ($SigmoidPpmCaseSql)) * n_b)
        |    ::BIGINT AS ece_contrib
        |FROM bb""".stripMargin,

    "q287_auc_exact" ->
      s"""WITH $QualityMarginCtes,
        |lb AS (SELECT margin,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM qmargin),
        |byv AS (SELECT margin, count(*)::BIGINT AS t,
        |    sum(pos)::BIGINT AS p
        |  FROM lb GROUP BY 1),
        |grp AS (
        |  SELECT t, p,
        |    coalesce(sum(t) OVER (ORDER BY margin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
        |  FROM byv),
        |ag AS (
        |  SELECT sum(p)::BIGINT AS n_pos, sum(t - p)::BIGINT AS n_neg,
        |    sum(p * (2 * c + t + 1))::BIGINT AS two_sum_rp
        |  FROM grp)
        |SELECT n_pos, n_neg,
        |  (two_sum_rp - n_pos * (n_pos + 1))::BIGINT AS two_u,
        |  (((two_sum_rp - n_pos * (n_pos + 1)) * 1000000)
        |    // (2 * n_pos * n_neg))::BIGINT AS auc_ppm
        |FROM ag""".stripMargin,

    "q288_neyman_sampling" ->
      s"""WITH ev AS (
        |  SELECT event_type, event_id, floor(value * 1e6)::BIGINT AS vm
        |  FROM events),
        |st AS (
        |  SELECT event_type, count(*)::BIGINT AS nh,
        |    sum(vm::HUGEINT) AS sv, sum(vm::HUGEINT * vm) AS sq
        |  FROM ev GROUP BY 1),
        |sg AS (
        |  SELECT event_type, nh,
        |    ((nh * sq - sv * sv) // (nh::HUGEINT * nh))::BIGINT AS varq,
        |    floor(sqrt(((nh * sq - sv * sv)
        |      // (nh::HUGEINT * nh))::DOUBLE))::BIGINT AS s0
        |  FROM st),
        |sh AS (
        |  SELECT event_type, nh, varq,
        |    CASE WHEN (s0 + 1) * (s0 + 1) <= varq THEN s0 + 1
        |    WHEN s0 * s0 > varq THEN s0 - 1 ELSE s0 END AS s_h
        |  FROM sg),
        |wh AS (SELECT event_type, nh, s_h, nh * s_h AS w_h FROM sh),
        |tt AS (SELECT sum(w_h)::BIGINT AS w FROM wh),
        |qta AS (
        |  SELECT wh.*, (1000 * w_h) // t.w AS q0, (1000 * w_h) % t.w
        |    AS rem
        |  FROM wh, tt t),
        |shrt AS (SELECT 1000 - sum(q0) AS left1 FROM qta),
        |alc AS (
        |  SELECT event_type, nh, s_h, w_h,
        |    q0 + (CASE WHEN row_number() OVER
        |      (ORDER BY rem DESC, event_type) <= s.left1
        |      THEN 1 ELSE 0 END) AS alloc
        |  FROM qta, shrt s),
        |drawn AS (
        |  SELECT e.event_type, e.event_id, a.nh, a.s_h, a.alloc,
        |    row_number() OVER (PARTITION BY e.event_type
        |      ORDER BY ${fingerprintSql("e.event_id::VARCHAR")} % 1000000,
        |        e.event_id) AS r
        |  FROM ev e JOIN alc a USING (event_type))
        |SELECT event_type, nh, s_h, alloc,
        |  count(*)::BIGINT AS n_drawn,
        |  sum(event_id)::BIGINT AS drawn_id_sum
        |FROM drawn WHERE r <= alloc
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    "q289_stream_drift_monitor" ->
      """WITH hist AS (
        |  SELECT (epoch_us(ts) // 86400000000) * 86400000000
        |      AS day_start_us,
        |    floor(value * 1e6)::BIGINT // 50000000 AS bin,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |ref AS (SELECT bin, sum(n)::BIGINT AS rn FROM hist GROUP BY 1),
        |spine AS (
        |  SELECT d.day_start_us, r.bin, r.rn
        |  FROM (SELECT DISTINCT day_start_us FROM hist) d, ref r),
        |grid AS (
        |  SELECT s.day_start_us, s.bin, s.rn, coalesce(h.n, 0) AS n
        |  FROM spine s LEFT JOIN hist h
        |    ON h.day_start_us = s.day_start_us AND h.bin = s.bin),
        |cum AS (
        |  SELECT day_start_us, sum(n) OVER w AS cd, sum(rn) OVER w AS cr
        |  FROM grid
        |  WINDOW w AS (PARTITION BY day_start_us ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |nd AS (SELECT day_start_us, sum(n)::BIGINT AS nd
        |  FROM hist GROUP BY 1),
        |tt AS (SELECT sum(n)::BIGINT AS ntot FROM hist),
        |ds AS (
        |  SELECT c.day_start_us, d.nd, t.ntot,
        |    max(abs(c.cd * t.ntot - c.cr * d.nd))::BIGINT AS d_star
        |  FROM cum c JOIN nd d USING (day_start_us), tt t
        |  GROUP BY 1, 2, 3)
        |SELECT day_start_us, nd, d_star,
        |  (CASE WHEN 10000 * d_star::HUGEINT * d_star
        |     > 18442 * nd::HUGEINT * ntot * (nd + ntot)
        |   THEN 1 ELSE 0 END)::INT AS drift
        |FROM ds""".stripMargin,

    "q290_hash_walks" ->
      s"""WITH $NationTradeEdgesCte,
        |el AS (SELECT DISTINCT src, dst FROM raw),
        |n0 AS (SELECT DISTINCT src AS start, src AS cur FROM el),
        |s1 AS (SELECT n.start, coalesce(c.nxt, n.cur) AS hop1
        |  FROM n0 n LEFT JOIN (SELECT start, dst AS nxt FROM (
        |    SELECT n.start, e.dst, row_number() OVER (
        |      PARTITION BY n.start
        |      ORDER BY ${fingerprintSql("'1|' || n.cur || '|' || e.dst")}
        |        % 1000000000, e.dst) AS rk
        |    FROM n0 n JOIN el e ON e.src = n.cur) WHERE rk = 1) c
        |  ON c.start = n.start),
        |s2 AS (SELECT n.start, coalesce(c.nxt, n.hop1) AS hop2
        |  FROM s1 n LEFT JOIN (SELECT start, dst AS nxt FROM (
        |    SELECT n.start, e.dst, row_number() OVER (
        |      PARTITION BY n.start
        |      ORDER BY ${fingerprintSql("'2|' || n.hop1 || '|' || e.dst")}
        |        % 1000000000, e.dst) AS rk
        |    FROM s1 n JOIN el e ON e.src = n.hop1) WHERE rk = 1) c
        |  ON c.start = n.start),
        |s3 AS (SELECT n.start, coalesce(c.nxt, n.hop2) AS hop3
        |  FROM s2 n LEFT JOIN (SELECT start, dst AS nxt FROM (
        |    SELECT n.start, e.dst, row_number() OVER (
        |      PARTITION BY n.start
        |      ORDER BY ${fingerprintSql("'3|' || n.hop2 || '|' || e.dst")}
        |        % 1000000000, e.dst) AS rk
        |    FROM s2 n JOIN el e ON e.src = n.hop2) WHERE rk = 1) c
        |  ON c.start = n.start)
        |SELECT start, hop1, hop2, hop3
        |FROM s1 JOIN s2 USING (start) JOIN s3 USING (start)""".stripMargin,

    "q291_isotonic_minimax" ->
      s"""WITH $CausalPanelCte,
        |pre AS (
        |  SELECT series, day, v, row_number() OVER w AS i,
        |    sum(v) OVER w AS cs
        |  FROM panel
        |  WINDOW w AS (PARTITION BY series ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |js AS (
        |  SELECT series, i + 1 AS j, cs AS csj1 FROM pre
        |  UNION ALL
        |  SELECT series, 1, 0 FROM pre WHERE i = 1),
        |seg AS (
        |  SELECT a.series, a.j, b.i AS k,
        |    ((b.cs - a.csj1) * 1000) // (b.i - a.j + 1) AS avg_micro
        |  FROM js a JOIN pre b
        |    ON b.series = a.series AND a.j <= b.i),
        |mm AS (
        |  SELECT p.series, p.day, p.v, s.j, min(s.avg_micro) AS minv
        |  FROM pre p JOIN seg s
        |    ON s.series = p.series AND s.j <= p.i AND s.k >= p.i
        |  GROUP BY 1, 2, 3, 4)
        |SELECT series, day, v, max(minv)::BIGINT AS fitted_micro
        |FROM mm GROUP BY 1, 2, 3""".stripMargin,

    "q292_kaplan_meier" ->
      s"""WITH RECURSIVE $survivalRiskSql,
        |ord AS (SELECT t, d, n_risk,
        |    row_number() OVER (ORDER BY t) AS i
        |  FROM risk),
        |km AS (
        |  SELECT i, t, n_risk, d,
        |    (1000000 * (n_risk - d)) // n_risk AS s_ppm
        |  FROM ord WHERE i = 1
        |  UNION ALL
        |  SELECT o.i, o.t, o.n_risk, o.d,
        |    (k.s_ppm * (o.n_risk - o.d)) // o.n_risk
        |  FROM km k JOIN ord o ON o.i = k.i + 1)
        |SELECT t, n_risk::BIGINT AS n_risk, d, s_ppm::BIGINT AS s_ppm
        |FROM km""".stripMargin,

    "q293_diff_in_diff" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS tu, event_type,
        |    floor(value * 1e6)::BIGINT AS vm
        |  FROM events),
        |piv AS (SELECT min(tu) AS mn, max(tu) AS mx FROM ev),
        |cells AS (
        |  SELECT user_id % 2 AS treat,
        |    (tu * 2 >= mn + mx)::INT AS post,
        |    count(*)::BIGINT AS n, sum(vm)::BIGINT AS sv
        |  FROM ev, piv WHERE event_type = 'purchase' GROUP BY 1, 2),
        |m AS (SELECT treat, post, sv // n AS mean_micro FROM cells)
        |SELECT
        |  max(CASE WHEN treat = 0 AND post = 0 THEN mean_micro END)
        |    ::BIGINT AS m_ctl_pre,
        |  max(CASE WHEN treat = 0 AND post = 1 THEN mean_micro END)
        |    ::BIGINT AS m_ctl_post,
        |  max(CASE WHEN treat = 1 AND post = 0 THEN mean_micro END)
        |    ::BIGINT AS m_treat_pre,
        |  max(CASE WHEN treat = 1 AND post = 1 THEN mean_micro END)
        |    ::BIGINT AS m_treat_post,
        |  ((max(CASE WHEN treat = 1 AND post = 1 THEN mean_micro END)
        |    - max(CASE WHEN treat = 1 AND post = 0 THEN mean_micro END))
        |   - (max(CASE WHEN treat = 0 AND post = 1 THEN mean_micro END)
        |    - max(CASE WHEN treat = 0 AND post = 0 THEN mean_micro END)))
        |    ::BIGINT AS did_micro
        |FROM m""".stripMargin,

    "q294_granger_on_generated" ->
      s"""WITH gen AS (
        |  SELECT * FROM read_parquet('__GEN_DIR__/q294_gen/*.parquet')),
        |panel AS (${Panels.singleSqlCte("gen", 4)}),
        |${graft.metrics.Causal.grangerSqlCtes("panel")}
        |SELECT cause, effect, n, cyy, rss_r, rss_u, f_gain, granger,
        |  ($GrangerGenTruthCase)::INT AS truth_lag1
        |FROM granger_out""".stripMargin,

    "q295_inclusion_deps" -> Seq(
        ("orders.custkey<customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        ("customer<orders.custkey", "customer", "c_custkey",
          "orders", "o_custkey"),
        ("lineitem.partkey<part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        ("part<lineitem.partkey", "part", "p_partkey",
          "lineitem", "l_partkey"),
        ("lineitem.suppkey<supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        ("customer.nationkey<nation", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        ("nation.regionkey<region", "nation", "n_regionkey",
          "region", "r_regionkey"),
        ("supplier.suppkey<customer", "supplier", "s_suppkey",
          "customer", "c_custkey")
      ).map { case (nm, ta, ca, tb, cb) =>
        s"""SELECT '$nm' AS candidate, n_distinct, n_missing,
           |  (n_missing = 0)::INT AS holds FROM (
           |  SELECT (SELECT count(DISTINCT $ca) FROM $ta)::BIGINT
           |      AS n_distinct,
           |    (SELECT count(*) FROM (SELECT DISTINCT $ca AS v FROM $ta
           |      EXCEPT SELECT DISTINCT $cb FROM $tb))::BIGINT
           |      AS n_missing)""".stripMargin
      }.mkString("\nUNION ALL\n"),

    "q296_padding_efficiency" ->
      """WITH lens AS (
        |  SELECT len(string_split(text, ' '))::BIGINT AS len
        |  FROM documents),
        |g AS (SELECT count(*)::BIGINT AS n_docs, sum(len)::BIGINT
        |    AS token_sum, max(len)::BIGINT AS mx FROM lens),
        |b AS (SELECT len // 64 AS b, count(*)::BIGINT AS n,
        |    sum(len)::BIGINT AS ts, max(len)::BIGINT AS mx
        |  FROM lens GROUP BY 1),
        |bb AS (SELECT sum(n)::BIGINT AS n_docs, sum(ts)::BIGINT
        |    AS token_sum, sum(n * mx - ts)::BIGINT AS padded_tokens,
        |    sum(n * mx)::BIGINT AS padded_total FROM b)
        |SELECT 'global_max_pad' AS strategy, n_docs, token_sum,
        |  (n_docs * mx - token_sum)::BIGINT AS padded_tokens,
        |  (((n_docs * mx - token_sum) * 1000000) // (n_docs * mx))
        |    ::BIGINT AS waste_ppm
        |FROM g
        |UNION ALL
        |SELECT 'bucket64_pad', n_docs, token_sum, padded_tokens,
        |  ((padded_tokens * 1000000) // padded_total)::BIGINT
        |FROM bb""".stripMargin,

    "q297_group_by_all" -> GroupByAllSql("orders"),

    "q298_sortedness_audit" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber,
        |    floor(l_quantity * 1e6)::BIGINT AS qty,
        |    l_shipdate AS ship, l_partkey
        |  FROM lineitem),
        |lg AS (
        |  SELECT qty, ship, l_partkey,
        |    lag(qty) OVER w AS pqty, lag(ship) OVER w AS pship,
        |    lag(l_partkey) OVER w AS ppart
        |  FROM li
        |  WINDOW w AS (PARTITION BY l_orderkey
        |    ORDER BY l_linenumber, l_partkey, qty, ship))
        |SELECT 'l_shipdate' AS col_name, count(*)::BIGINT AS n_pairs,
        |  ((sum(CASE WHEN ship >= pship THEN 1 ELSE 0 END) * 1000000)
        |    // count(*))::BIGINT AS sorted_ppm,
        |  (sum(CASE WHEN ship <> pship THEN 1 ELSE 0 END) + 1)::BIGINT
        |    AS runs_upper
        |FROM lg WHERE pship IS NOT NULL
        |UNION ALL
        |SELECT 'l_quantity', count(*)::BIGINT,
        |  ((sum(CASE WHEN qty >= pqty THEN 1 ELSE 0 END) * 1000000)
        |    // count(*))::BIGINT,
        |  (sum(CASE WHEN qty <> pqty THEN 1 ELSE 0 END) + 1)::BIGINT
        |FROM lg WHERE pqty IS NOT NULL
        |UNION ALL
        |SELECT 'l_partkey', count(*)::BIGINT,
        |  ((sum(CASE WHEN l_partkey >= ppart THEN 1 ELSE 0 END)
        |    * 1000000) // count(*))::BIGINT,
        |  (sum(CASE WHEN l_partkey <> ppart THEN 1 ELSE 0 END) + 1)
        |    ::BIGINT
        |FROM lg WHERE ppart IS NOT NULL""".stripMargin,

    "q299_group_sequential" ->
      s"""WITH ev AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    floor(value * 1e6)::BIGINT AS vm
        |  FROM events WHERE event_type = 'purchase'),
        |d0 AS (SELECT min(day) AS d0 FROM ev),
        |lk AS (SELECT unnest([1, 2, 3]) AS k),
        |looks AS (
        |  SELECT l.k AS look,
        |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
        |      AS n0,
        |    sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT
        |      AS n1,
        |    sum(CASE WHEN user_id % 2 = 0 THEN vm ELSE 0 END)::HUGEINT
        |      AS s0,
        |    sum(CASE WHEN user_id % 2 = 1 THEN vm ELSE 0 END)::HUGEINT
        |      AS s1,
        |    count(*)::HUGEINT AS n, sum(vm)::HUGEINT AS sv,
        |    sum(vm::HUGEINT * vm) AS sq
        |  FROM ev e, d0, lk l
        |  WHERE e.day <= d0.d0 + (l.k * 10 - 1) GROUP BY 1),
        |fin AS (
        |  SELECT look, n0, n1,
        |    (s1 * n0 - s0 * n1)::HUGEINT AS dn,
        |    ((n * sq - sv * sv) // (n * n))::HUGEINT AS vq,
        |    (CASE look WHEN 1 THEN ${ObfBoundBp(0)}
        |     WHEN 2 THEN ${ObfBoundBp(1)}
        |     WHEN 3 THEN ${ObfBoundBp(2)} END)::HUGEINT AS bb
        |  FROM looks)
        |SELECT look, n0, n1, dn::BIGINT AS diff_num, vq::BIGINT AS varq,
        |  bb::BIGINT AS bound_bp,
        |  (CASE WHEN n0 > 0 AND n1 > 0 AND vq > 0
        |     AND 10000 * dn * dn > bb * (n0 + n1)::HUGEINT * n0 * n1 * vq
        |   THEN 1 ELSE 0 END)::INT AS reject
        |FROM fin""".stripMargin,

    "q300_pc_on_generated" ->
      s"""WITH gen AS (
        |  SELECT * FROM read_parquet('__GEN_DIR__/q300_gen/*.parquet')),
        |panel AS (${Panels.singleSqlCte("gen", 4)}),
        |${graft.metrics.Causal.pcSkeletonSqlCtes("panel")}
        |SELECT a, b, n, cab, keep0, sepset, edge,
        |  ($PcGenTruthCase)::INT AS truth_adj
        |FROM pc_out""".stripMargin,

    "q301_unit_root" ->
      s"""WITH $CausalPanelCte,
        |dl AS (
        |  SELECT series, pv AS x, v - pv AS y FROM (
        |    SELECT series, v,
        |      lag(v) OVER (PARTITION BY series ORDER BY day) AS pv
        |    FROM panel)
        |  WHERE pv IS NOT NULL),
        |sm AS (
        |  SELECT series, count(*)::HUGEINT AS n,
        |    sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
        |    sum(x::HUGEINT * x) AS sxx, sum(x::HUGEINT * y) AS sxy,
        |    sum(y::HUGEINT * y) AS syy
        |  FROM dl GROUP BY 1),
        |cc AS (
        |  SELECT series, n, n*sxx - sx*sx AS cxx,
        |    n*sxy - sx*sy AS cxy, n*syy - sy*sy AS cyy
        |  FROM sm)
        |SELECT series, n::BIGINT AS n, cxx::BIGINT AS cxx,
        |  cxy::BIGINT AS cxy,
        |  (CASE WHEN cxy < 0 AND
        |     100 * (n - 2) * cxy * cxy > 876 * (cxx * cyy - cxy * cxy)
        |   THEN 1 ELSE 0 END)::INT AS stationary
        |FROM cc""".stripMargin,

    "q302_lead_lag_ccf" ->
      s"""WITH $CausalPanelCte,
        |lk AS (SELECT unnest([0, 1, 2, 3]) AS lag_d),
        |lagged AS (
        |  SELECT a.series AS cause, b.series AS effect, l.lag_d,
        |    a.v AS av, b.v AS bv
        |  FROM panel b
        |  JOIN lk l ON true
        |  JOIN panel a
        |    ON a.day + l.lag_d = b.day AND a.series <> b.series),
        |sums AS (
        |  SELECT cause, effect, lag_d, count(*)::HUGEINT AS n,
        |    sum(av)::HUGEINT AS sa, sum(bv)::HUGEINT AS sb,
        |    sum(av::HUGEINT * av) AS saa, sum(av::HUGEINT * bv) AS sab,
        |    sum(bv::HUGEINT * bv) AS sbb
        |  FROM lagged GROUP BY 1, 2, 3),
        |cc AS (
        |  SELECT cause, effect, lag_d, n::BIGINT AS n,
        |    n*saa - sa*sa AS caa, n*sab - sa*sb AS cab,
        |    n*sbb - sb*sb AS cbb
        |  FROM sums),
        |fin AS (
        |  SELECT cause, effect, lag_d, n,
        |    (CASE WHEN caa = 0 OR cbb = 0 THEN 0
        |     ELSE (cab * cab * 10000) // (caa * cbb) END)::BIGINT
        |      AS corr_bp,
        |    (CASE WHEN cab < 0 THEN -1 ELSE 1 END)::INT AS sign
        |  FROM cc)
        |SELECT cause, effect, lag_d, n, corr_bp, sign,
        |  (row_number() OVER (PARTITION BY cause, effect
        |    ORDER BY corr_bp DESC, lag_d) = 1)::INT AS is_best
        |FROM fin""".stripMargin,

    "q303_ewma_chart" ->
      s"""WITH RECURSIVE $CausalPanelCte,
        |ix AS (SELECT series, day, v,
        |    row_number() OVER (PARTITION BY series ORDER BY day) AS i
        |  FROM panel),
        |ew AS (
        |  SELECT series, i, day, v::BIGINT AS z FROM ix WHERE i = 1
        |  UNION ALL
        |  SELECT x.series, x.i, x.day, (20 * x.v + 80 * e.z) // 100
        |  FROM ew e JOIN ix x ON x.series = e.series AND x.i = e.i + 1),
        |st AS (SELECT series, count(*)::HUGEINT AS n,
        |    sum(v)::HUGEINT AS sv, sum(v::HUGEINT * v) AS sq
        |  FROM panel GROUP BY 1),
        |mu AS (SELECT series, (sv // n)::BIGINT AS mu,
        |    ((n * sq - sv * sv) // (n * n))::BIGINT AS varq
        |  FROM st)
        |SELECT e.series, e.day, e.z AS z_milli,
        |  (CASE WHEN (e.z - m.mu) * (e.z - m.mu) > m.varq
        |   THEN 1 ELSE 0 END)::INT AS breach
        |FROM ew e JOIN mu m ON m.series = e.series""".stripMargin,

    "q304_png_metadata" ->
      """SELECT source AS src, count(*)::BIGINT AS n_docs,
        |  sum(doc_id)::BIGINT AS id_sum,
        |  sum((16 + doc_id % 16) * (12 + doc_id % 8))::BIGINT
        |    AS pixel_sum,
        |  count(DISTINCT lang)::BIGINT AS n_langs
        |FROM documents GROUP BY 1""".stripMargin,

    "q309_embedding_outliers" ->
      """WITH vecs AS (
        |  SELECT vec_id, label, u.d AS dim,
        |    floor(embedding[u.d + 1] * 1e6)::BIGINT AS m
        |  FROM embeddings,
        |  LATERAL (SELECT unnest(range(0, 64)) AS d) u),
        |cent AS (SELECT label, dim, count(*)::BIGINT AS n,
        |    sum(m)::BIGINT AS sm
        |  FROM vecs GROUP BY 1, 2),
        |d2 AS (
        |  SELECT v.vec_id, v.label,
        |    sum((c.n * v.m - c.sm)::HUGEINT * (c.n * v.m - c.sm))
        |      // (max(c.n)::HUGEINT * max(c.n)) AS d2
        |  FROM vecs v JOIN cent c
        |    ON c.label = v.label AND c.dim = v.dim
        |  GROUP BY 1, 2),
        |sv AS (
        |  SELECT label, count(*)::BIGINT AS nv,
        |    (sum(d2) // count(*))::BIGINT AS mu_d2,
        |    (count(*)::HUGEINT * sum(d2::HUGEINT * d2)
        |       - sum(d2)::HUGEINT * sum(d2))
        |     // (count(*)::HUGEINT * count(*)) AS varq
        |  FROM d2 GROUP BY 1),
        |sg AS (
        |  SELECT label, nv, mu_d2, varq,
        |    floor(sqrt(varq::DOUBLE))::BIGINT AS s0
        |  FROM sv),
        |st AS (
        |  SELECT label, nv, mu_d2,
        |    (CASE WHEN (s0 + 1)::HUGEINT * (s0 + 1) <= varq THEN s0 + 1
        |     WHEN s0::HUGEINT * s0 > varq THEN s0 - 1
        |     ELSE s0 END)::BIGINT AS sig_d2
        |  FROM sg)
        |SELECT d.label, s.nv, s.mu_d2, s.sig_d2,
        |  sum(CASE WHEN d.d2 > s.mu_d2 + 2 * s.sig_d2
        |    THEN 1 ELSE 0 END)::BIGINT AS n_outliers
        |FROM d2 d JOIN st s ON s.label = d.label
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    "q311_sax_similarity" ->
      s"""WITH $CausalPanelCte,
        |mm AS (SELECT series, min(v) AS mn, max(v) AS mx
        |  FROM panel GROUP BY 1),
        |sym AS (
        |  SELECT p.series, p.day,
        |    chr((97 + (((p.v - m.mn) * 8) // (m.mx - m.mn + 1)))::INT)
        |      AS sym
        |  FROM panel p JOIN mm m USING (series)),
        |words AS (
        |  SELECT series, string_agg(sym, '' ORDER BY day) AS word
        |  FROM sym GROUP BY 1)
        |SELECT a.series AS a, b.series AS b,
        |  length(a.word)::BIGINT AS len_a,
        |  levenshtein(a.word, b.word)::BIGINT AS dist,
        |  ((levenshtein(a.word, b.word)::BIGINT * 1000000)
        |   // greatest(length(a.word), length(b.word)))::BIGINT
        |    AS dist_ppm
        |FROM words a JOIN words b ON a.series < b.series""".stripMargin,

    "q312_structure_parse_census" ->
      """WITH f AS (
        |  SELECT content
        |  FROM read_text('/root/reference/Datasets/**/*.txt')
        |  WHERE filename NOT LIKE '%_statistics.txt'),
        |ln AS (
        |  SELECT trim(unnest(string_split(content, chr(10)))) AS line
        |  FROM f),
        |ar AS (
        |  SELECT regexp_extract(line,
        |      '^(\S+) --\((\w+), lag=(\d+)\)--> ([^:]+): (-?[0-9.]+)$', 2)
        |      AS func,
        |    regexp_extract(line,
        |      '^(\S+) --\((\w+), lag=(\d+)\)--> ([^:]+): (-?[0-9.]+)$', 3)
        |      ::BIGINT AS lag,
        |    regexp_extract(line,
        |      '^(\S+) --\((\w+), lag=(\d+)\)--> ([^:]+): (-?[0-9.]+)$', 1)
        |      AS src,
        |    trim(regexp_extract(line,
        |      '^(\S+) --\((\w+), lag=(\d+)\)--> ([^:]+): (-?[0-9.]+)$', 4))
        |      AS tgt,
        |    regexp_extract(line,
        |      '^(\S+) --\((\w+), lag=(\d+)\)--> ([^:]+): (-?[0-9.]+)$', 5)
        |      ::DOUBLE AS coef
        |  FROM ln WHERE regexp_matches(line,
        |    '^(\S+) --\((\w+), lag=(\d+)\)--> ([^:]+): (-?[0-9.]+)$')),
        |qt AS (
        |  SELECT 'linear' AS func,
        |    abs(regexp_extract(line,
        |      '^\(''([^'']+)'', (-?\d+), ''([^'']+)''\) => (-?[0-9.]+)$', 2)
        |      ::BIGINT) AS lag,
        |    trim(regexp_extract(line,
        |      '^\(''([^'']+)'', (-?\d+), ''([^'']+)''\) => (-?[0-9.]+)$', 1))
        |      AS src,
        |    trim(regexp_extract(line,
        |      '^\(''([^'']+)'', (-?\d+), ''([^'']+)''\) => (-?[0-9.]+)$', 3))
        |      AS tgt,
        |    regexp_extract(line,
        |      '^\(''([^'']+)'', (-?\d+), ''([^'']+)''\) => (-?[0-9.]+)$', 4)
        |      ::DOUBLE AS coef
        |  FROM ln WHERE regexp_matches(line,
        |    '^\(''([^'']+)'', (-?\d+), ''([^'']+)''\) => (-?[0-9.]+)$')),
        |bc AS (
        |  SELECT 'linear' AS func,
        |    abs(regexp_extract(line,
        |      '^\(([^,]+), (-?\d+), ([^)]+)\) => (-?[0-9.]+) \[base coefficient\]$',
        |      2)::BIGINT) AS lag,
        |    trim(regexp_extract(line,
        |      '^\(([^,]+), (-?\d+), ([^)]+)\) => (-?[0-9.]+) \[base coefficient\]$',
        |      1)) AS src,
        |    trim(regexp_extract(line,
        |      '^\(([^,]+), (-?\d+), ([^)]+)\) => (-?[0-9.]+) \[base coefficient\]$',
        |      3)) AS tgt,
        |    regexp_extract(line,
        |      '^\(([^,]+), (-?\d+), ([^)]+)\) => (-?[0-9.]+) \[base coefficient\]$',
        |      4)::DOUBLE AS coef
        |  FROM ln WHERE regexp_matches(line,
        |    '^\(([^,]+), (-?\d+), ([^)]+)\) => (-?[0-9.]+) \[base coefficient\]$')),
        |pl AS (
        |  SELECT 'linear' AS func,
        |    abs(regexp_extract(line,
        |      '^\(([^,]+), (-?\d+), ([^)]+)\) => (-?[0-9.]+)$', 2)::BIGINT)
        |      AS lag,
        |    trim(regexp_extract(line,
        |      '^\(([^,]+), (-?\d+), ([^)]+)\) => (-?[0-9.]+)$', 1)) AS src,
        |    trim(regexp_extract(line,
        |      '^\(([^,]+), (-?\d+), ([^)]+)\) => (-?[0-9.]+)$', 3)) AS tgt,
        |    regexp_extract(line,
        |      '^\(([^,]+), (-?\d+), ([^)]+)\) => (-?[0-9.]+)$', 4)::DOUBLE
        |      AS coef
        |  FROM ln WHERE regexp_matches(line,
        |      '^\(([^,]+), (-?\d+), ([^)]+)\) => (-?[0-9.]+)$')
        |    AND NOT regexp_matches(line,
        |      '^\(''([^'']+)'', (-?\d+), ''([^'']+)''\) => (-?[0-9.]+)$')),
        |u AS (
        |  SELECT * FROM ar UNION ALL SELECT * FROM qt
        |  UNION ALL SELECT * FROM bc UNION ALL SELECT * FROM pl),
        |norm AS (
        |  SELECT func, lag,
        |    CASE WHEN regexp_matches(src, '^[0-9]+$') THEN 'X' || src
        |      ELSE src END AS src,
        |    CASE WHEN regexp_matches(tgt, '^[0-9]+$') THEN 'X' || tgt
        |      ELSE tgt END AS tgt,
        |    coef
        |  FROM u)
        |SELECT func, lag, count(*)::BIGINT AS n_links,
        |  sum(floor(coef * 1e6 + 0.5)::BIGINT)::BIGINT AS sum_coef_micro,
        |  count(DISTINCT src)::BIGINT AS n_sources,
        |  count(DISTINCT tgt)::BIGINT AS n_targets
        |FROM norm GROUP BY 1, 2""".stripMargin,

    "q315_shd_panel_scale" ->
      s"""WITH gs AS (SELECT unnest(range(0, 1200))::BIGINT AS g),
        |ed AS (SELECT * FROM (VALUES $ShdPanelEdgesSqlValues)
        |  AS t(idx, source, lag, target)),
        |ta AS (SELECT g, source, target, lag FROM gs, ed),
        |keep AS (SELECT g, idx, source, lag, target FROM gs, ed
        |  WHERE (g + 3 * idx) % 5 <> 0),
        |fl AS (
        |  SELECT g,
        |    CASE WHEN (g + idx) % 7 = 1 THEN target ELSE source END
        |      AS source,
        |    CASE WHEN (g + idx) % 7 = 1 THEN source ELSE target END
        |      AS target,
        |    lag
        |  FROM keep),
        |sp AS (
        |  SELECT g, 'X' || ((g + idx) % 4 + 1) AS source,
        |    'X' || ((g + idx) % 4 + 1) AS target, 0 AS lag
        |  FROM gs, ed WHERE (g + idx) % 11 = 2),
        |pred AS (SELECT DISTINCT * FROM (
        |  SELECT g, source, target, lag FROM fl
        |  UNION ALL SELECT g, source, target, lag FROM sp)),
        |tc AS (
        |  SELECT g, least(source, target) AS u, greatest(source, target)
        |      AS v, lag,
        |    max(CASE WHEN source <= target THEN 1 ELSE 0 END) AS t_fwd,
        |    max(CASE WHEN source > target THEN 1 ELSE 0 END) AS t_rev
        |  FROM ta GROUP BY 1, 2, 3, 4),
        |pc AS (
        |  SELECT g, least(source, target) AS u, greatest(source, target)
        |      AS v, lag,
        |    max(CASE WHEN source <= target THEN 1 ELSE 0 END) AS p_fwd,
        |    max(CASE WHEN source > target THEN 1 ELSE 0 END) AS p_rev
        |  FROM pred GROUP BY 1, 2, 3, 4),
        |j AS (
        |  SELECT coalesce(tc.g, pc.g) AS g,
        |    coalesce(t_fwd, 0) AS t_fwd, coalesce(t_rev, 0) AS t_rev,
        |    coalesce(p_fwd, 0) AS p_fwd, coalesce(p_rev, 0) AS p_rev
        |  FROM tc FULL OUTER JOIN pc
        |    ON tc.g = pc.g AND tc.u = pc.u AND tc.v = pc.v
        |      AND tc.lag = pc.lag),
        |sc AS (
        |  SELECT g,
        |    sum(t_fwd * p_fwd + t_rev * p_rev)::BIGINT AS tp,
        |    sum(p_fwd * (1 - t_fwd) + p_rev * (1 - t_rev))::BIGINT AS fp,
        |    sum(t_fwd * (1 - p_fwd) + t_rev * (1 - p_rev))::BIGINT AS fn,
        |    sum(CASE WHEN t_fwd + t_rev = 1 AND p_fwd + p_rev = 1
        |          AND t_fwd <> p_fwd THEN 1
        |        ELSE abs(t_fwd - p_fwd) + abs(t_rev - p_rev) END)::BIGINT
        |      AS shd_structural
        |  FROM j GROUP BY 1)
        |SELECT g AS graph_id, tp, fp, fn,
        |  ($ShdPanelTotalCells - tp - fp - fn)::BIGINT AS tn,
        |  (fp + fn)::BIGINT AS shd_xor, shd_structural
        |FROM sc""".stripMargin,

    "q317_pca_power_iteration" ->
      s"""WITH $PcaSqlCtes
        |SELECT dim::BIGINT AS dim, w::BIGINT AS w_ppm FROM w$PcaIters"""
        .stripMargin,

    "q331_embedding_covariance" ->
      s"""WITH $PcaSqlCtes
        |SELECT c.da::BIGINT AS da, c.db::BIGINT AS db,
        |  (c.c // (n.n * n.n))::BIGINT AS cov_n2
        |FROM cov c, nn n""".stripMargin,

    "q335_pca_spectrum" ->
      s"""WITH $PcaSqlCtes,
        |sp_cells AS (
        |  SELECT c.da, c.db, c.c // (n.n * n.n) AS cn2
        |  FROM cov c, nn n),
        |sp_rq AS (
        |  SELECT sum(cl.cn2 * wa.w * wb.w) AS num
        |  FROM sp_cells cl
        |  JOIN w$PcaIters wa ON wa.dim = cl.da
        |  JOIN w$PcaIters wb ON wb.dim = cl.db),
        |sp_den AS (SELECT sum(w * w) AS den FROM w$PcaIters),
        |sp_tr AS (
        |  SELECT sum(cn2) AS trace_n2 FROM sp_cells WHERE da = db)
        |SELECT t.trace_n2::BIGINT AS trace_n2,
        |  (r.num // d.den)::BIGINT AS lambda1_n2,
        |  (CASE WHEN t.trace_n2 = 0 THEN 0
        |    ELSE (1000 * (r.num // d.den)) // t.trace_n2 END)::BIGINT
        |    AS explained_permille
        |FROM sp_rq r, sp_den d, sp_tr t""".stripMargin,

    "q332_pc_orientation_scored" ->
      s"""WITH gen AS (
        |  SELECT * FROM read_parquet('__GEN_DIR__/q332_gen/*.parquet')),
        |panel AS (${Panels.singleSqlCte("gen", 4)}),
        |${graft.metrics.Causal.pcSkeletonSqlCtes("panel", PcOrientTauSqBp)},
        |${graft.metrics.Causal.pcOrientSqlCtes(PcMeekRounds)},
        |${pcScoringSqlTail(PcMeekRounds, pcDirectedTruthValuesSql)}""".stripMargin,

    "q336_pc_order2_scored" ->
      s"""WITH gen AS (
        |  SELECT * FROM read_parquet('__GEN_DIR__/q336_gen/*.parquet')),
        |panel AS (${Panels.singleSqlCte("gen", 6)}),
        |${graft.metrics.Causal.pcSkeleton2SqlCtes("panel", Pc2TauSqBp)}
        |SELECT a, b, edge::INT AS edge, sepset, sepset2,
        |  edge2::INT AS edge2, ($PcTruth6Case)::INT AS truth_adj
        |FROM pc2_out""".stripMargin,

    "q337_pc_order2_oriented" ->
      s"""WITH gen AS (
        |  SELECT * FROM read_parquet('__GEN_DIR__/q337_gen/*.parquet')),
        |panel AS (${Panels.singleSqlCte("gen", 6)}),
        |${graft.metrics.Causal.pcSkeleton2SqlCtes("panel", Pc2TauSqBp)},
        |${graft.metrics.Causal.pcOrient2SqlCtes(PcMeekRounds2)},
        |${pcScoringSqlTail(PcMeekRounds2, pcTruthValuesSql(PcDirectedTruth6))}""".stripMargin,

    "q333_shipped_tree_scored" ->
      s"""WITH $shippedD3TreeCsvCte,
        |$shippedD3TreeGrangerSqlCtes,
        |st_pred AS (
        |  SELECT split_part(cause, '|', 1) AS graphId,
        |    split_part(cause, '|', 2) AS source,
        |    split_part(effect, '|', 2) AS target
        |  FROM granger_out WHERE granger = 1),
        |st_truth AS (SELECT * FROM $shippedD3TreeTruthValuesSql),
        |${scoreByGraphSqlCtes()}
        |SELECT g AS cfg, tp::BIGINT AS tp, fp::BIGINT AS fp,
        |  fn::BIGINT AS fn, shd_structural::BIGINT AS shd_structural,
        |  (fp + fn)::BIGINT AS shd_xor,
        |  (CASE WHEN tp + fn = 0 THEN 0
        |    ELSE (1000 * tp) // (tp + fn) END)::BIGINT AS tpr_permille,
        |  (CASE WHEN tp + fp = 0 THEN 0
        |    ELSE (1000 * fp) // (tp + fp) END)::BIGINT AS fdr_permille
        |FROM st_sc""".stripMargin,

    "q334_granger_multilag_irregular" ->
      s"""WITH gen AS (
        |  SELECT * FROM read_parquet('__GEN_DIR__/q334_gen/*.parquet')),
        |sp AS (SELECT t, "time" AS ts FROM gen),
        |${graft.ops.Lagged.nearestLagIndexSqlCtes("sp", "ts",
          lagMult = 1, sfx = "1", outCol = "li1", materialized = true)},
        |${graft.ops.Lagged.nearestLagIndexSqlCtes("sp", "ts",
          lagMult = 2, sfx = "2", outCol = "li2", materialized = true)},
        |pan AS MATERIALIZED (
        |  SELECT 'X1' AS series, t, floor(X1 * 100)::BIGINT AS v
        |  FROM gen
        |  UNION ALL SELECT 'X2', t, floor(X2 * 100)::BIGINT FROM gen
        |  UNION ALL SELECT 'X3', t, floor(X3 * 100)::BIGINT FROM gen
        |  UNION ALL SELECT 'X4', t, floor(X4 * 100)::BIGINT FROM gen),
        |gl AS (
        |  SELECT cq1.series AS cause, e.series AS effect, e.v AS y,
        |    ep1.v AS p1, ep2.v AS p2,
        |    cq1.v * cq1.v AS q1, cq2.v * cq2.v AS q2
        |  FROM lx1
        |  JOIN lx2 ON lx2.t = lx1.t
        |  JOIN pan e ON e.t = lx1.t
        |  JOIN pan ep1 ON ep1.series = e.series AND ep1.t = lx1.li1
        |  JOIN pan ep2 ON ep2.series = e.series AND ep2.t = lx2.li2
        |  JOIN pan cq1 ON cq1.t = lx1.li1
        |  JOIN pan cq2 ON cq2.series = cq1.series AND cq2.t = lx2.li2
        |  WHERE cq1.series <> e.series),
        |${graft.metrics.Causal.grangerMultiDecideSqlCtes("gl", 2, 300L)}
        |SELECT cause, effect, n, cyy, rss_r, rss_u, f_gain, granger,
        |  (${grangerTruthCaseAnyLag("B2", 4, 2)})::INT AS truth_any
        |FROM granger_ml_out""".stripMargin,

    "q318_pca_projection_census" ->
      s"""WITH $PcaSqlCtes,
        |proj AS (
        |  SELECT v.vec_id, sum(v.m * w.w::BIGINT)::BIGINT AS p
        |  FROM vm v JOIN w$PcaIters w ON w.dim = v.dim
        |  GROUP BY 1)
        |SELECT p // 100000000000 AS bin, count(*)::BIGINT AS n_vecs,
        |  (sum(p) // count(*))::BIGINT AS mean_proj_trunc,
        |  min(p)::BIGINT AS min_proj, max(p)::BIGINT AS max_proj
        |FROM proj GROUP BY 1""".stripMargin,

    "q321_theil_sen" ->
      s"""WITH $CausalPanelCte,
        |sl AS (
        |  SELECT a.series,
        |    ((b.v - a.v) * 1000000) // (b.day - a.day) AS sl
        |  FROM panel a JOIN panel b
        |    ON b.series = a.series AND a.day < b.day),
        |rk AS (
        |  SELECT series, sl,
        |    row_number() OVER (PARTITION BY series ORDER BY sl) AS rk,
        |    count(*) OVER (PARTITION BY series) AS n
        |  FROM sl)
        |SELECT series, n::BIGINT AS n_pairs,
        |  sl::BIGINT AS median_slope_micro, sign(sl)::BIGINT AS trend_sign
        |FROM rk WHERE rk = (n + 1) // 2""".stripMargin,

    "q329_pc_confounded" ->
      s"""WITH gen AS (
        |  SELECT * FROM read_parquet('__GEN_DIR__/q329_gen/*.parquet')),
        |panel AS (${Panels.singleSqlCte("gen", 4)}),
        |${graft.metrics.Causal.pcSkeletonSqlCtes("panel")}
        |SELECT a, b, n, cab, keep0, sepset, edge,
        |  (${pcTruthCase("A1C")})::INT AS truth_adj
        |FROM pc_out""".stripMargin,

    "q330_granger_multilag" ->
      s"""WITH gen AS (
        |  SELECT * FROM read_parquet('__GEN_DIR__/q330_gen/*.parquet')),
        |panel AS (${Panels.singleSqlCte("gen", 4)}),
        |${graft.metrics.Causal.grangerMultiSqlCtes("panel", 4)}
        |SELECT cause, effect, n, cyy, rss_r, rss_u, f_gain, granger,
        |  (${grangerTruthCaseAnyLag("A1", 4, 4)})::INT AS truth_any
        |FROM granger_ml_out""".stripMargin,

    "q328_nelson_aalen" ->
      s"""WITH $survivalRiskSql
        |SELECT t, n_risk::BIGINT AS n_risk, d,
        |  (sum((d * 1000000) // n_risk) OVER (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |    AS cum_hazard_ppm
        |FROM risk""".stripMargin,

    "q327_kruskal_wallis" ->
      s"""WITH $CausalPanelCte,
        |rk AS (
        |  SELECT series,
        |    row_number() OVER (ORDER BY v, series, day)::BIGINT AS r
        |  FROM panel),
        |g AS (SELECT series, count(*)::BIGINT AS n_g,
        |    sum(r)::BIGINT AS r_g
        |  FROM rk GROUP BY 1),
        |agg AS (
        |  SELECT sum(n_g)::BIGINT AS n, count(*)::BIGINT AS k,
        |    sum((r_g * r_g) // n_g)::BIGINT AS t_sum
        |  FROM g)
        |SELECT n AS n_days, k AS k_groups, t_sum,
        |  (CASE WHEN
        |     1000 * (12 * t_sum - 3 * (n + 1) * (n + 1) * n)
        |     > 9488 * n * (n + 1)
        |   THEN 1 ELSE 0 END)::INT AS distributions_differ
        |FROM agg""".stripMargin,

    "q326_anova_oneway" ->
      s"""WITH $CausalPanelCte,
        |g AS (
        |  SELECT series, count(*)::HUGEINT AS n_g,
        |    sum(v)::HUGEINT AS s_g, sum(v::HUGEINT * v) AS q_g
        |  FROM panel GROUP BY 1),
        |tt AS (SELECT sum(n_g) AS n, sum(s_g) AS s, count(*)::HUGEINT AS k
        |  FROM g),
        |terms AS (
        |  SELECT ((s_g * n - s * n_g) * (s_g * n - s * n_g)) // n_g
        |      AS b_g,
        |    (n_g * q_g - s_g * s_g) // n_g AS w_g,
        |    n, k
        |  FROM g, tt)
        |SELECT max(n)::BIGINT AS n_days, max(k)::BIGINT AS k_groups,
        |  (sum(b_g) // max(n))::BIGINT AS ssb_n,
        |  sum(w_g)::BIGINT AS ssw,
        |  (CASE WHEN sum(w_g) > 0 AND
        |     1000 * (max(n) - max(k)) * (sum(b_g) // max(n))
        |     > 2372 * (max(k) - 1) * sum(w_g) * max(n)
        |   THEN 1 ELSE 0 END)::INT AS means_differ
        |FROM terms""".stripMargin,

    "q325_granger_on_shipped" ->
      s"""WITH csv AS (
        |  SELECT X1, X2, X3, X4, "time",
        |    row_number() OVER (ORDER BY "time") - 1 AS t
        |  FROM read_csv('$ShippedD3Base${"_missing.csv"}', header=true,
        |    columns={'X1': 'DOUBLE', 'X2': 'DOUBLE', 'X3': 'DOUBLE',
        |      'X4': 'DOUBLE', 'time': 'DOUBLE'})),
        |${graft.ops.Lagged.nearestLagIndexSqlCtes("csv", "\"time\"")},
        |pan AS (
        |  SELECT 'X1' AS series, t, floor(X1 * 1000)::BIGINT AS v
        |  FROM csv WHERE X1 IS NOT NULL
        |  UNION ALL SELECT 'X2', t, floor(X2 * 1000)::BIGINT FROM csv
        |  WHERE X2 IS NOT NULL
        |  UNION ALL SELECT 'X3', t, floor(X3 * 1000)::BIGINT FROM csv
        |  WHERE X3 IS NOT NULL
        |  UNION ALL SELECT 'X4', t, floor(X4 * 1000)::BIGINT FROM csv
        |  WHERE X4 IS NOT NULL),
        |${graft.metrics.Causal.NearestLagPairsSqlCte},
        |${graft.metrics.Causal.grangerDecideSqlCtes("gl")}
        |SELECT cause, effect, n, cyy, rss_r, rss_u, f_gain, granger,
        |  ($ShippedD3TruthCase)::INT AS truth_lag1
        |FROM granger_out""".stripMargin,

    "q338_pc_on_shipped" ->
      s"""WITH $shippedD3PanelCtes,
        |${graft.metrics.Causal.pcSkeletonSqlCtes("panel")}
        |SELECT a, b, n, cab, keep0, sepset, edge,
        |  ($ShippedD3AdjCase)::INT AS truth_adj
        |FROM pc_out""".stripMargin,

    "q339_pc_oriented_on_shipped" ->
      s"""WITH $shippedD3PanelCtes,
        |${graft.metrics.Causal.pcSkeletonSqlCtes("panel")},
        |${graft.metrics.Causal.pcOrientSqlCtes(PcMeekRounds)},
        |${pcScoringSqlTail(PcMeekRounds, pcTruthValuesSql(ShippedD3DirectedTruth))}""".stripMargin,

    "q340_pc_corpus_sweep" ->
      s"""WITH $shippedD3TreeCsvCte,
        |$shippedD3TreePcFoldSqlCtes,
        |${graft.metrics.Causal.pcOrientSqlCtes(PcMeekRounds)},
        |st_pred AS (
        |  SELECT split_part(a, '|', 1) AS graphId,
        |    split_part(a, '|', 2) AS source, split_part(b, '|', 2) AS target
        |  FROM pc_st$PcMeekRounds WHERE dir = 1
        |  UNION ALL SELECT split_part(a, '|', 1), split_part(b, '|', 2),
        |    split_part(a, '|', 2) FROM pc_st$PcMeekRounds WHERE dir = 2
        |  UNION ALL SELECT split_part(a, '|', 1), split_part(a, '|', 2),
        |    split_part(b, '|', 2) FROM pc_st$PcMeekRounds WHERE dir = 0
        |  UNION ALL SELECT split_part(a, '|', 1), split_part(b, '|', 2),
        |    split_part(a, '|', 2) FROM pc_st$PcMeekRounds WHERE dir = 0),
        |st_truth AS (SELECT * FROM $shippedD3TreeDirectedTruthValuesSql),
        |st_cnt AS (
        |  SELECT split_part(a, '|', 1) AS g, count(*) AS n_edges,
        |    sum(CASE WHEN dir <> 0 THEN 1 ELSE 0 END) AS n_directed
        |  FROM pc_st$PcMeekRounds GROUP BY 1),
        |${scoreByGraphSqlCtes()}
        |SELECT s.g AS cfg,
        |  coalesce(c.n_edges, 0)::BIGINT AS n_edges,
        |  coalesce(c.n_directed, 0)::BIGINT AS n_directed,
        |  s.tp::BIGINT AS tp, s.fp::BIGINT AS fp, s.fn::BIGINT AS fn,
        |  s.shd_structural::BIGINT AS shd_structural,
        |  (s.fp + s.fn)::BIGINT AS shd_xor,
        |  (CASE WHEN s.tp + s.fn = 0 THEN 0
        |    ELSE (1000 * s.tp) // (s.tp + s.fn) END)::BIGINT AS tpr_permille,
        |  (CASE WHEN s.tp + s.fp = 0 THEN 0
        |    ELSE (1000 * s.fp) // (s.tp + s.fp) END)::BIGINT AS fdr_permille
        |FROM st_sc s LEFT JOIN st_cnt c ON c.g = s.g""".stripMargin,

    "q341_method_agreement" ->
      s"""WITH $shippedD3TreeCsvCte,
        |$shippedD3TreeGrangerSqlCtes,
        |$shippedD3TreePcFoldSqlCtes,
        |gp AS MATERIALIZED (
        |  SELECT DISTINCT split_part(cause, '|', 1) AS cfg,
        |    least(split_part(cause, '|', 2),
        |      split_part(effect, '|', 2)) AS u,
        |    greatest(split_part(cause, '|', 2),
        |      split_part(effect, '|', 2)) AS v
        |  FROM granger_out WHERE granger = 1),
        |pp AS MATERIALIZED (
        |  SELECT split_part(a, '|', 1) AS cfg,
        |    split_part(a, '|', 2) AS u, split_part(b, '|', 2) AS v
        |  FROM pc_out WHERE edge = 1),
        |jj AS (
        |  SELECT coalesce(g.cfg, p.cfg) AS cfg,
        |    CASE WHEN g.cfg IS NOT NULL THEN 1 ELSE 0 END AS gf,
        |    CASE WHEN p.cfg IS NOT NULL THEN 1 ELSE 0 END AS pf
        |  FROM gp g FULL JOIN pp p
        |    ON p.cfg = g.cfg AND p.u = g.u AND p.v = g.v),
        |ag AS (
        |  SELECT cfg, sum(gf) AS n_granger, sum(pf) AS n_pc,
        |    sum(gf * pf) AS n_both, count(*) AS n_union
        |  FROM jj GROUP BY 1)
        |SELECT c.cfg,
        |  coalesce(n_granger, 0)::BIGINT AS n_granger,
        |  coalesce(n_pc, 0)::BIGINT AS n_pc,
        |  coalesce(n_both, 0)::BIGINT AS n_both,
        |  coalesce(n_union, 0)::BIGINT AS n_union,
        |  (CASE WHEN coalesce(n_union, 0) = 0 THEN 0
        |    ELSE (1000 * n_both) // n_union END)::BIGINT AS jaccard_permille
        |FROM (SELECT DISTINCT cfg FROM csv) c
        |LEFT JOIN ag ON ag.cfg = c.cfg""".stripMargin,

    "q343_pc_edge_support" ->
      s"""WITH csvf AS (
        |  SELECT X1, X2, X3, X4,
        |    row_number() OVER (ORDER BY "time") - 1 AS t
        |  FROM read_csv('$ShippedD3Base${"_missing.csv"}', header=true,
        |    columns={'X1': 'DOUBLE', 'X2': 'DOUBLE', 'X3': 'DOUBLE',
        |      'X4': 'DOUBLE', 'time': 'DOUBLE'})),
        |panel AS (
        |  SELECT (t // 200)::VARCHAR || '|X1' AS series,
        |    (t // 200)::VARCHAR || '|' ||
        |      lpad((t % 200)::VARCHAR, 3, '0') AS day,
        |    floor(X1 * 1000)::BIGINT AS v
        |  FROM csvf WHERE X1 IS NOT NULL
        |  UNION ALL
        |  SELECT (t // 200)::VARCHAR || '|X2', (t // 200)::VARCHAR ||
        |    '|' || lpad((t % 200)::VARCHAR, 3, '0'),
        |    floor(X2 * 1000)::BIGINT FROM csvf WHERE X2 IS NOT NULL
        |  UNION ALL
        |  SELECT (t // 200)::VARCHAR || '|X3', (t // 200)::VARCHAR ||
        |    '|' || lpad((t % 200)::VARCHAR, 3, '0'),
        |    floor(X3 * 1000)::BIGINT FROM csvf WHERE X3 IS NOT NULL
        |  UNION ALL
        |  SELECT (t // 200)::VARCHAR || '|X4', (t // 200)::VARCHAR ||
        |    '|' || lpad((t % 200)::VARCHAR, 3, '0'),
        |    floor(X4 * 1000)::BIGINT FROM csvf WHERE X4 IS NOT NULL),
        |${graft.metrics.Causal.pcSkeletonSqlCtes("panel")}
        |SELECT a, b, n_blocks, support, support_permille,
        |  ($ShippedD3AdjCase)::INT AS truth_adj
        |FROM (
        |  SELECT split_part(a, '|', 2) AS a, split_part(b, '|', 2) AS b,
        |    count(*)::BIGINT AS n_blocks, sum(edge)::BIGINT AS support,
        |    ((1000 * sum(edge)) // count(*))::BIGINT AS support_permille
        |  FROM pc_out GROUP BY 1, 2) s""".stripMargin,

    "q344_stream_granger" ->
      s"""WITH gen AS (
        |  SELECT * FROM read_parquet('__GEN_DIR__/q344_gen/*.parquet')),
        |panel AS (${Panels.singleSqlCte("gen", 4)}),
        |gj AS (
        |  SELECT x.series AS cause, y.series AS effect, y.day,
        |    y.v AS yv, x.v AS xv
        |  FROM panel y JOIN panel x USING (day)
        |  WHERE x.series <> y.series),
        |glag AS (
        |  SELECT cause, effect, day, yv,
        |    lag(yv) OVER (PARTITION BY cause, effect ORDER BY day) AS pv,
        |    lag(xv) OVER (PARTITION BY cause, effect ORDER BY day) AS qv
        |  FROM gj),
        |bs AS (SELECT unnest([1, 2]) AS i),
        |tb AS (
        |  SELECT DISTINCT (CASE WHEN day < 200 THEN 1 ELSE 2 END) AS i,
        |    cause, effect
        |  FROM glag WHERE pv IS NOT NULL),
        |gl AS (
        |  SELECT bs.i || '|' || g.cause AS cause,
        |    bs.i || '|' || g.effect AS effect, yv, pv, qv
        |  FROM bs
        |  JOIN glag g
        |    ON (CASE WHEN g.day < 200 THEN 1 ELSE 2 END) <= bs.i
        |  JOIN tb ON tb.i = bs.i AND tb.cause = g.cause
        |    AND tb.effect = g.effect
        |  WHERE pv IS NOT NULL),
        |${graft.metrics.Causal.grangerDecideSqlCtes("gl", 422L)}
        |SELECT cause, effect, n, cyy, rss_r, rss_u, f_gain, granger,
        |  ($GrangerGenTruthCase)::INT AS truth_lag1
        |FROM (
        |  SELECT split_part(cause, '|', 2) AS cause,
        |    split_part(effect, '|', 2) AS effect,
        |    n, cyy, rss_r, rss_u, f_gain, granger
        |  FROM granger_out) u""".stripMargin,

    "q342_pc_tau_stability" ->
      s"""WITH $shippedD3PanelCtes,
        |${graft.metrics.Causal.pcMomentSqlCtes("panel")},
        |${PcTauSweepBps.map(t =>
          graft.metrics.Causal.pcDecisionSqlCtes(t, s"_t$t"))
          .mkString(",\n")}
        |${PcTauSweepBps.map(t =>
          s"SELECT ${t}::BIGINT AS tau_sq_bp, a, b, n, cab, keep0, " +
            s"sepset, edge, ($ShippedD3AdjCase)::INT AS truth_adj " +
            s"FROM pc_out_t$t")
          .mkString("\nUNION ALL\n")}""".stripMargin,

    "q324_deletion_cascade" ->
      """WITH fc AS (SELECT c_custkey FROM customer
        |  WHERE c_custkey % 97 = 0),
        |fo AS (SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM fc))
        |SELECT 'customer' AS table_name,
        |  (SELECT count(*) FROM customer)::BIGINT AS n_total,
        |  (SELECT count(*) FROM fc)::BIGINT AS n_delete,
        |  ((SELECT count(*) FROM fc) * 1000000
        |    // (SELECT count(*) FROM customer))::BIGINT AS delete_ppm
        |UNION ALL
        |SELECT 'orders',
        |  (SELECT count(*) FROM orders)::BIGINT,
        |  (SELECT count(*) FROM fo)::BIGINT,
        |  ((SELECT count(*) FROM fo) * 1000000
        |    // (SELECT count(*) FROM orders))::BIGINT
        |UNION ALL
        |SELECT 'lineitem',
        |  (SELECT count(*) FROM lineitem)::BIGINT,
        |  (SELECT count(*) FROM lineitem
        |     WHERE l_orderkey IN (SELECT o_orderkey FROM fo))::BIGINT,
        |  ((SELECT count(*) FROM lineitem
        |      WHERE l_orderkey IN (SELECT o_orderkey FROM fo)) * 1000000
        |    // (SELECT count(*) FROM lineitem))::BIGINT
        |UNION ALL
        |SELECT 'events',
        |  (SELECT count(*) FROM events)::BIGINT,
        |  (SELECT count(*) FROM events WHERE user_id % 97 = 0)::BIGINT,
        |  ((SELECT count(*) FROM events WHERE user_id % 97 = 0) * 1000000
        |    // (SELECT count(*) FROM events))::BIGINT""".stripMargin,

    "q323_log_rank" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, event_type
        |  FROM events),
        |hz AS (SELECT max(day) AS hz FROM ev),
        |us AS (
        |  SELECT user_id, min(day) AS origin,
        |    min(CASE WHEN event_type = 'purchase' THEN day END) AS pday
        |  FROM ev GROUP BY 1),
        |uu AS (
        |  SELECT user_id % 2 AS g,
        |    coalesce(pday - origin, h.hz - origin) AS t,
        |    (pday IS NOT NULL)::BIGINT AS e
        |  FROM us, hz h),
        |tm AS (
        |  SELECT t, sum(CASE WHEN g = 1 THEN e ELSE 0 END)::BIGINT AS d1,
        |    sum(e)::BIGINT AS dt,
        |    sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS c1,
        |    count(*)::BIGINT AS ct
        |  FROM uu GROUP BY 1),
        |tt AS (SELECT count(*)::BIGINT AS ntot,
        |    sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS n1tot
        |  FROM uu),
        |risk AS (
        |  SELECT t, d1, dt,
        |    (ntot - coalesce(sum(ct) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
        |      ::BIGINT AS nt,
        |    (n1tot - coalesce(sum(c1) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
        |      ::BIGINT AS n1t
        |  FROM tm, tt),
        |rq AS (
        |  SELECT t, d1, dt, nt, n1t,
        |    (dt * n1t * 1000000) // nt AS e1_ppm,
        |    CASE WHEN nt <= 1 THEN 0 ELSE
        |      ((dt * n1t)::HUGEINT * (nt - n1t) * (nt - dt) * 1000000)
        |      // (nt::HUGEINT * nt * (nt - 1)) END AS v_ppm
        |  FROM risk WHERE dt > 0)
        |SELECT count(*)::BIGINT AS n_times,
        |  sum(d1 * 1000000 - e1_ppm)::BIGINT AS o_minus_e_ppm,
        |  sum(v_ppm)::BIGINT AS v_ppm,
        |  (CASE WHEN sum(v_ppm) > 0 AND
        |     sum(d1 * 1000000 - e1_ppm)::HUGEINT
        |       * sum(d1 * 1000000 - e1_ppm)
        |       > 3841600::HUGEINT * sum(v_ppm)
        |   THEN 1 ELSE 0 END)::INT AS groups_differ
        |FROM rq""".stripMargin,

    "q322_psm_matching" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, floor(value * 1e6)::BIGINT AS vm
        |  FROM events),
        |u AS (
        |  SELECT user_id, count(*)::BIGINT AS score,
        |    coalesce(
        |      sum(CASE WHEN event_type = 'purchase' THEN vm END)
        |        // nullif(sum(CASE WHEN event_type = 'purchase'
        |            THEN 1 ELSE 0 END), 0),
        |      0)::BIGINT AS out,
        |    user_id % 2 AS treat
        |  FROM ev GROUP BY user_id),
        |pts AS (
        |  SELECT score AS s, 0 AS kind, user_id AS uid, out
        |  FROM u WHERE treat = 0
        |  UNION ALL
        |  SELECT score, 1, user_id, out FROM u WHERE treat = 1),
        |car AS (
        |  SELECT s, kind, uid, out,
        |    last_value(CASE WHEN kind = 0 THEN s END IGNORE NULLS)
        |      OVER wb AS bs,
        |    last_value(CASE WHEN kind = 0 THEN out END IGNORE NULLS)
        |      OVER wb AS bout,
        |    first_value(CASE WHEN kind = 0 THEN s END IGNORE NULLS)
        |      OVER wf AS fs,
        |    first_value(CASE WHEN kind = 0 THEN out END IGNORE NULLS)
        |      OVER wf AS fout
        |  FROM pts
        |  WINDOW wb AS (ORDER BY s, kind, uid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (ORDER BY s, kind, uid
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |mt AS (
        |  SELECT s, out,
        |    CASE WHEN fs IS NOT NULL AND (bs IS NULL OR fs - s < s - bs)
        |      THEN fs ELSE bs END AS ms,
        |    CASE WHEN fs IS NOT NULL AND (bs IS NULL OR fs - s < s - bs)
        |      THEN fout ELSE bout END AS mout
        |  FROM car WHERE kind = 1),
        |ok AS (SELECT * FROM mt WHERE ms IS NOT NULL
        |  AND abs(ms - s) <= 5),
        |tt AS (SELECT count(*)::BIGINT AS n_treated FROM u
        |  WHERE treat = 1)
        |SELECT t.n_treated, count(*)::BIGINT AS n_matched,
        |  (sum(out) // count(*))::BIGINT AS mean_treated_micro,
        |  (sum(mout) // count(*))::BIGINT AS mean_control_micro,
        |  ((sum(out) // count(*)) - (sum(mout) // count(*)))::BIGINT
        |    AS att_micro
        |FROM ok, tt t GROUP BY t.n_treated""".stripMargin,

    "q320_zipf_slope" ->
      s"""WITH tf AS (
        |  SELECT source, tok, count(*)::BIGINT AS f
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2),
        |top AS (
        |  SELECT source, f, r FROM (
        |    SELECT source, tok, f,
        |      row_number() OVER (PARTITION BY source
        |        ORDER BY f DESC, tok) AS r
        |    FROM tf) WHERE r <= 64),
        |xy AS (
        |  SELECT source,
        |    ${qlog2Expr("r", isSpark = false)} AS x,
        |    ${qlog2Expr("f", isSpark = false)} AS y
        |  FROM top),
        |mo AS (
        |  SELECT source, count(*)::HUGEINT AS n_top,
        |    sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
        |    sum(x::HUGEINT * y) AS sxy, sum(x::HUGEINT * x) AS sxx
        |  FROM xy GROUP BY 1)
        |SELECT source, n_top::BIGINT AS n_top,
        |  (n_top * sxy - sx * sy)::BIGINT AS cxy,
        |  (n_top * sxx - sx * sx)::BIGINT AS cxx,
        |  (((n_top * sxy - sx * sy) * 1000)
        |    // (n_top * sxx - sx * sx))::BIGINT AS slope_milli
        |FROM mo""".stripMargin,

    "q319_ddsketch_quantiles" ->
      """WITH ov AS (
        |  SELECT o_orderpriority AS pri,
        |    floor(o_totalprice * 100 + 0.5)::BIGINT AS v
        |  FROM orders),
        |keyed AS (
        |  SELECT pri, v, length(bin(v)) AS b,
        |    (v // (1::BIGINT << greatest(length(bin(v)) - 4, 0)))
        |      * (1::BIGINT << greatest(length(bin(v)) - 4, 0)) AS lb
        |  FROM ov),
        |sk AS (SELECT pri, b, lb, count(*)::BIGINT AS cnt
        |  FROM keyed GROUP BY 1, 2, 3),
        |cs AS (
        |  SELECT pri, b, lb, cnt,
        |    sum(cnt) OVER (PARTITION BY pri ORDER BY b, lb
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER (PARTITION BY pri) AS total
        |  FROM sk),
        |est AS (
        |  SELECT pri, max(total)::BIGINT AS n_rows,
        |    count(*)::BIGINT AS n_buckets,
        |    min(CASE WHEN cum * 100 >= total * 50 THEN lb END)::BIGINT
        |      AS p50_est,
        |    min(CASE WHEN cum * 100 >= total * 90 THEN lb END)::BIGINT
        |      AS p90_est,
        |    min(CASE WHEN cum * 100 >= total * 99 THEN lb END)::BIGINT
        |      AS p99_est
        |  FROM cs GROUP BY 1),
        |vg AS (SELECT pri, v, count(*)::BIGINT AS cnt
        |  FROM ov GROUP BY 1, 2),
        |cv AS (
        |  SELECT pri, v, cnt,
        |    sum(cnt) OVER (PARTITION BY pri ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER (PARTITION BY pri) AS total
        |  FROM vg),
        |ex AS (
        |  SELECT pri,
        |    min(CASE WHEN cum * 100 >= total * 50 THEN v END)::BIGINT
        |      AS p50_exact,
        |    min(CASE WHEN cum * 100 >= total * 90 THEN v END)::BIGINT
        |      AS p90_exact,
        |    min(CASE WHEN cum * 100 >= total * 99 THEN v END)::BIGINT
        |      AS p99_exact
        |  FROM cv GROUP BY 1)
        |SELECT e.pri, n_rows, n_buckets,
        |  p50_est, p50_exact,
        |  (((p50_exact - p50_est) * 1000000) // p50_exact)::BIGINT
        |    AS p50_err_ppm,
        |  p90_est, p90_exact,
        |  (((p90_exact - p90_est) * 1000000) // p90_exact)::BIGINT
        |    AS p90_err_ppm,
        |  p99_est, p99_exact,
        |  (((p99_exact - p99_est) * 1000000) // p99_exact)::BIGINT
        |    AS p99_err_ppm
        |FROM est e JOIN ex USING (pri)""".stripMargin,

    "q316_resample_d3c_masked" ->
      """WITH gen AS (
        |  SELECT * FROM read_parquet('__GEN_DIR__/q316_gen/*.parquet')),
        |sm AS (
        |  SELECT 'X1' AS series, t_us, x1_micro AS v_micro FROM gen
        |  WHERE mask1 = 0
        |  UNION ALL SELECT 'U', t_us, u_micro FROM gen),
        |s AS (
        |  SELECT series, t_us, v_micro,
        |    lead(t_us) OVER (PARTITION BY series ORDER BY t_us) AS t_next,
        |    lead(v_micro) OVER (PARTITION BY series ORDER BY t_us)
        |      AS v_next
        |  FROM sm),
        |g AS (
        |  SELECT sr.series, grid_us
        |  FROM (SELECT DISTINCT series FROM sm) sr,
        |    (SELECT unnest(range(0, 100000001, 500000))::BIGINT
        |       AS grid_us)),
        |j AS (
        |  SELECT s.series, grid_us, v_micro, t_next,
        |    (v_next - v_micro) * (grid_us - t_us) AS num,
        |    t_next - t_us AS den
        |  FROM g JOIN s ON s.series = g.series AND grid_us >= t_us
        |    AND (t_next IS NULL OR grid_us < t_next))
        |SELECT series, grid_us,
        |  CASE WHEN t_next IS NULL THEN v_micro
        |       ELSE v_micro + (num - ((num % den + den) % den)) // den
        |  END AS v_interp_micro
        |FROM j""".stripMargin,

    "q313_granger_confounded" ->
      s"""WITH gen AS (
        |  SELECT * FROM read_parquet('__GEN_DIR__/q313_gen/*.parquet')),
        |panel AS (${Panels.singleSqlCte("gen", 4)}
        |  UNION ALL SELECT 'U', t, ${Panels.milliSql("U")} FROM gen),
        |${graft.metrics.Causal.grangerSqlCtes("panel")}
        |SELECT cause, effect, n, cyy, rss_r, rss_u, f_gain, granger,
        |  (${grangerTruthCase("A1C")})::INT AS truth_lag1
        |FROM granger_out""".stripMargin,

    "q314_granger_irregular" ->
      s"""WITH gen AS (
        |  SELECT * FROM read_parquet('__GEN_DIR__/q314_gen/*.parquet')),
        |${graft.ops.Lagged.nearestLagIndexSqlCtes("gen", "\"time\"")},
        |panel AS (${Panels.singleSqlCte("gen", 4)}),
        |pan AS (SELECT series, day AS t, v FROM panel),
        |${graft.metrics.Causal.NearestLagPairsSqlCte},
        |${graft.metrics.Causal.grangerDecideSqlCtes("gl")}
        |SELECT cause, effect, n, cyy, rss_r, rss_u, f_gain, granger,
        |  (${grangerTruthCase("A2")})::INT AS truth_lag1
        |FROM granger_out""".stripMargin,

    "q310_tfidf_keywords" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf
        |  FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
        |sc AS (
        |  SELECT t.doc_id, t.tok,
        |    t.tf * length(bin(n.n_docs // d.df)) AS score
        |  FROM tf t JOIN dfq d USING (tok), nd n),
        |top AS (
        |  SELECT doc_id, tok AS keyword FROM (
        |    SELECT doc_id, tok, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, tok DESC) AS r
        |    FROM sc) WHERE r = 1)
        |SELECT keyword, count(*)::BIGINT AS n_docs_top
        |FROM top GROUP BY 1
        |ORDER BY n_docs_top DESC, keyword LIMIT 20""".stripMargin,

    "q307_average_precision" ->
      s"""WITH $QualityMarginCtes,
        |lb AS (SELECT margin,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM qmargin),
        |byv AS (SELECT margin, count(*)::BIGINT AS t,
        |    sum(pos)::BIGINT AS p
        |  FROM lb GROUP BY 1),
        |cum AS (SELECT p, sum(p) OVER w AS cp, sum(t) OVER w AS ct
        |  FROM byv
        |  WINDOW w AS (ORDER BY margin DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT sum(p)::BIGINT AS n_pos,
        |  (sum(p * ((cp * 1000000) // ct)) // sum(p))::BIGINT AS ap_ppm
        |FROM cum""".stripMargin,

    "q308_brier_decomposition" ->
      s"""WITH $QualityMarginCtes,
        |lb AS (SELECT margin,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM qmargin),
        |bb AS (SELECT greatest(least(margin // 200, 10), -10) AS bin,
        |    count(*)::BIGINT AS n_b, sum(pos)::BIGINT AS p_b
        |  FROM lb GROUP BY 1),
        |cf AS (SELECT bin, n_b, p_b,
        |    ($SigmoidPpmCaseSql)::BIGINT AS conf,
        |    (p_b * 1000000) // n_b AS acc
        |  FROM bb),
        |tt AS (SELECT sum(n_b)::BIGINT AS n,
        |    (sum(p_b) * 1000000) // sum(n_b) AS base
        |  FROM cf)
        |SELECT t.n, t.base::BIGINT AS base_ppm,
        |  (sum(p_b * (conf - 1000000)::HUGEINT * (conf - 1000000)
        |     + (n_b - p_b) * conf::HUGEINT * conf) // t.n)::BIGINT
        |    AS brier_pm2,
        |  (sum(n_b * (conf - acc)::HUGEINT * (conf - acc)) // t.n)
        |    ::BIGINT AS rel_pm2,
        |  (sum(n_b * (acc - t.base)::HUGEINT * (acc - t.base)) // t.n)
        |    ::BIGINT AS res_pm2,
        |  (t.base * (1000000 - t.base))::BIGINT AS unc_pm2,
        |  ((sum(p_b * (conf - 1000000)::HUGEINT * (conf - 1000000)
        |      + (n_b - p_b) * conf::HUGEINT * conf) // t.n)
        |   - ((sum(n_b * (conf - acc)::HUGEINT * (conf - acc)) // t.n)
        |      - (sum(n_b * (acc - t.base)::HUGEINT * (acc - t.base))
        |         // t.n)
        |      + t.base * (1000000 - t.base)))::BIGINT AS quant_residual
        |FROM cf, tt t GROUP BY t.n, t.base""".stripMargin,

    "q305_block_bootstrap" ->
      s"""WITH $CausalPanelCte,
        |ix AS (SELECT series, v,
        |    row_number() OVER (PARTITION BY series ORDER BY day) AS i
        |  FROM panel),
        |spine AS (
        |  SELECT r.r AS rep, j.j AS slot,
        |    1 + (((r.r * 31 + j.j) * 2654435761) % 26)::INT AS start
        |  FROM (SELECT unnest(range(1, 21)) AS r) r,
        |       (SELECT unnest(range(0, 6)) AS j) j),
        |picked AS (
        |  SELECT x.series, s.rep, sum(x.v) // 30 AS m
        |  FROM ix x JOIN spine s
        |    ON x.i >= s.start AND x.i <= s.start + 4
        |  GROUP BY 1, 2)
        |SELECT series, count(*)::BIGINT AS n_reps,
        |  (sum(m) // count(*))::BIGINT AS boot_mean_milli,
        |  ((count(*)::HUGEINT * sum(m::HUGEINT * m)
        |     - sum(m)::HUGEINT * sum(m))
        |   // (count(*)::HUGEINT * count(*)))::BIGINT AS boot_var
        |FROM picked GROUP BY 1""".stripMargin,

    "q306_ljung_box" ->
      s"""WITH $CausalPanelCte,
        |st AS (SELECT series, count(*)::BIGINT AS n, sum(v)::BIGINT
        |    AS sv FROM panel GROUP BY 1),
        |dev AS (SELECT p.series, s.n, p.day, s.n * p.v - s.sv AS dt
        |  FROM panel p JOIN st s USING (series)),
        |lagd AS (SELECT series, n, dt,
        |    lag(dt, 1) OVER w AS d1, lag(dt, 2) OVER w AS d2,
        |    lag(dt, 3) OVER w AS d3
        |  FROM dev WINDOW w AS (PARTITION BY series ORDER BY day)),
        |cs AS (SELECT series, n,
        |    sum(dt::HUGEINT * dt)::BIGINT AS c0,
        |    sum(dt::HUGEINT * d1)::BIGINT AS c1,
        |    sum(dt::HUGEINT * d2)::BIGINT AS c2,
        |    sum(dt::HUGEINT * d3)::BIGINT AS c3
        |  FROM lagd GROUP BY 1, 2)
        |SELECT series, n, c0, c1, c2, c3,
        |  (CASE WHEN 1000 * n * (n + 2) *
        |      (c1::HUGEINT * c1 * (n-2) * (n-3)
        |        + c2::HUGEINT * c2 * (n-1) * (n-3)
        |        + c3::HUGEINT * c3 * (n-1) * (n-2))
        |    > 7815 * (n-1) * (n-2) * (n-3) * c0::HUGEINT * c0
        |   THEN 0 ELSE 1 END)::INT AS white
        |FROM cs""".stripMargin
  )
}
