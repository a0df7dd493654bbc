package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Catalog, Grid}
import graft.generate.Generate

/** Per-round benchmark: one JSON line with per-query seconds plus the
  * full-sweep generation metric (the reference's actual workload — BASELINE
  * extrapolates ≈6-10 min single-threaded Python for the 2,268-config corpus;
  * the JVM kernel fan-out runs the complete grid here).
  */
object Bench {

  /** Deterministic p-wide single-graph panel for the wide-PC rung and its
    * plan guard: v_s(d) = n_s(d) + 8·n_{s-1}(d) + 4·n_{s-2}(d) +
    * 2·n_{s-3}(d) over integer hash noise n ∈ [0, 1000) — a 4-ancestor
    * moving average along the series chain, so adjacent pairs correlate
    * strongly (ρ ≈ 0.56), 2-hop pairs weakly (ρ ≈ 0.24), and the
    * order-1/2 conditioning stages get real work at every width. Pure
    * column arithmetic (no RNG, no self-join): benches and specs
    * regenerate it bit-identically.
    */
  def widePanel(spark: SparkSession, p: Int, nObs: Int)
      : org.apache.spark.sql.DataFrame = {
    def noise(s: org.apache.spark.sql.Column,
        d: org.apache.spark.sql.Column) =
      pmod(xxhash64(lit("pcwide"), s, d), lit(1000L))
    // lpad TRUNCATES strings longer than the pad width (SQL semantics),
    // so a fixed width-2 pad silently COLLIDED series 100..999 onto
    // 10..99 at p > 100 — the p=256 weightwide rung measured a
    // 100-series panel with duplicate rows until this width went
    // dynamic. p ≤ 100 callers keep their byte-identical X00..X99
    // names (their oracles hash those bytes).
    val w = if (p > 100) 3 else 2
    spark.range(0, p).select(col("id").as("s"))
      .crossJoin(spark.range(0, nObs).select(col("id").as("d")))
      .select(
        concat(lit("X"), lpad(col("s").cast("string"), w, "0")).as("series"),
        col("d").as("day"),
        (noise(col("s"), col("d"))
          + when(col("s") >= 1, noise(col("s") - 1, col("d")) * 8)
            .otherwise(0L)
          + when(col("s") >= 2, noise(col("s") - 2, col("d")) * 4)
            .otherwise(0L)
          + when(col("s") >= 3, noise(col("s") - 3, col("d")) * 2)
            .otherwise(0L)
        ).cast("long").as("v"))
  }

  /** Deterministic BLOCK panel for the order-3 rungs: `blocks`
    * independent 5-series cells, each three iid hash-noise sources
    * (roles 0-2) plus two aggregates A = S0+S1+S2+eA and
    * B = S0+S1+S2+eB (roles 3-4, own full-per-source-scale noise).
    * Within a cell the A-B pair is dependent given any ≤2 sources and
    * independent given all three — the smallest structure whose PC
    * separation NEEDS conditioning order 3; across cells every pair is
    * independent (distinct hash salts) and dies at order 0. Degree
    * stays ≤ 4 however many blocks, so the adjacency-restricted
    * candidate volume is linear in `blocks` while panel width is
    * 5·blocks — the shape that separates O(E·d³) from O(p⁵).
    */
  def widePanel3(spark: org.apache.spark.sql.SparkSession, blocks: Int,
      nObs: Int): org.apache.spark.sql.DataFrame = {
    require(blocks <= 99, s"widePanel3 block names pad to width 2")
    def noise(tag: String, role: org.apache.spark.sql.Column,
        k: org.apache.spark.sql.Column, d: org.apache.spark.sql.Column) =
      pmod(xxhash64(lit(tag), k, role, d), lit(1000L))
    spark.range(0, blocks.toLong * 5).select(
        (col("id") / 5).cast("long").as("k"),
        (col("id") % 5).cast("int").as("role"))
      .crossJoin(spark.range(0, nObs).select(col("id").as("d")))
      .select(
        concat(lit("G"), lpad(col("k").cast("string"), 2, "0"),
          lit("X"), col("role")).as("series"),
        col("d").as("day"),
        (when(col("role") < 3, noise("pc3src", col("role"), col("k"), col("d")))
          .otherwise(
            noise("pc3src", lit(0), col("k"), col("d")) +
            noise("pc3src", lit(1), col("k"), col("d")) +
            noise("pc3src", lit(2), col("k"), col("d")) +
            noise("pc3own", col("role"), col("k"), col("d"))))
          .cast("long").as("v"))
  }

  def main(args: Array[String]): Unit = {
    val wallT0 = System.nanoTime() // published as wall_s: the r13 bench's
    // true wall (~1,760 s of runs for a published 664 s total) was invisible
    // until reconstructed from the run lists — record it first-class
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: touch every input table + run one small query so JIT/codegen
    // and file-listing costs don't land on the first timed query
    Seq("lineitem", "orders", "customer", "nation", "region", "part",
        "supplier", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count() catch { case _: Throwable => () }
    }
    try SparkEntry.queries("q01_pricing_summary")(spark, sfDir).count()
    catch { case _: Throwable => () }

    // one rule for every entry (BenchPolicy): one timed run, wall and
    // process CPU seconds recorded, a throwing entry listed in `failed`
    val rec = new BenchPolicy.Record
    import rec.measure
    // optional comma-separated substring filter for targeted profiling runs
    // (e.g. SPARK_GRAFT_BENCH_ONLY=q27,q52); full runs leave it unset
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty) // empty/blank env var means unset, not "run nothing"
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(n.contains)) }

    selected.foreach { case (name, fn) =>
      measure(name) {
        try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        catch { case _: Throwable => fn(spark, sfDir).count() }
      }
      // queries are independent: release this query's cached plans,
      // localCheckpoint blocks and broadcasts before the next measurement —
      // ~100 queries of accumulated executor state in one 8g JVM otherwise
      // GC-thrashes the late entries (the r5 gen section measured 13-20x
      // slow purely from heap pressure, with identical generation code)
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }

    // Adversarial-skew dedup guard measurement: the q13 prefix-filtered
    // AllPairs contract twice — over the corpus as-is, and over a corpus
    // with a hot boilerplate sentence planted into 99% of documents (every
    // 3-shingle of the plant lands in ~0.99·N docs). Without the
    // maxDocFreq cap the planted run's candidate join is O((0.99N)²) per
    // hot shingle; with it the hot shingles never become join keys and the
    // planted run must stay within ~2x of the uniform one. This measures
    // the guard PlanSpec only asserts.
    val runSkew = only.forall(_.exists(_.startsWith("dedup")))
    if (runSkew) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").localCheckpoint(true)
      val plant = " the quick brown fox jumps over the lazy dog again and again"
      val planted = docs.select(col("doc_id"),
        when(col("doc_id") % 100 =!= 0, concat(col("text"), lit(plant)))
          .otherwise(col("text")).as("text"))
        .localCheckpoint(true)
      def jac(df: org.apache.spark.sql.DataFrame): Unit =
        graft.text.Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 3,
            minJaccard = 0.8, maxDocFreq = 1000L)
          .write.mode("overwrite").format("noop").save()
      measure("dedup_skew_uniform") { jac(docs) }
      measure("dedup_skew_planted_99pct") { jac(planted) }
      docs.unpersist(); planted.unpersist()
    }

    // Panel-scale graph scoring at the ARCHITECTURE-claimed magnitude:
    // ONE pair-level join pass scoring 1,000,000 deterministically
    // perturbed predicted graphs against the A1 4-var lag-2 truth
    // (q315's exact contract at ~830x its oracle size — ~10M edge rows
    // per side). Measures the "a million graphs is one shuffle" claim
    // instead of asserting it.
    val runShd = only.forall(_.exists(_.startsWith("shd")))
    if (runShd) {
      val edges = graft.core.Parser.truthLinks("A1", 4, 2).zipWithIndex
        .map { case (l, i) => (i, l.source, l.lag, l.target) }
      measure("shd_panel_1m_graphs") {
        val (truth, pred) = graft.metrics.Metrics.perturbedGraphs(
          spark, 1000000L, edges)
        graft.metrics.Metrics.scoreAll(truth, pred)
          .write.mode("overwrite").format("noop").save()
      }
    }

    // Constraint-based discovery at CATALOG scale: q340's multi-graph
    // fold (config-unique series/day keys → ONE pcSkeleton/pcOrient call
    // over disjoint graphs) across EVERY 4-var config of the full
    // 18-family grid (864 configs — 18× q340's shipped cell), generated
    // in-flight, cut at 200 observations (the rank-moment budget).
    // Measures the complete per-dataset discovery loop — ranks, cross
    // moments, order-0/1 CI, v-structures, 3 full-Meek rounds — as a
    // single plan: the moment pass is the only fact-scale stage and the
    // order-1 stage enumerates conditioners from co-observed moments
    // (linear in configs; the old diagonal crossJoin was quadratic).
    // Generation is checkpointed OUT of the measured loop (it has its
    // own gen_* entries).
    val runPcsweep = only.forall(_.exists(_.startsWith("pcsweep")))
    if (runPcsweep) {
      // one fold-builder for both rungs: config into BOTH keys, lpad
      // width 3 in lockstep with the 200-row cut
      def foldPanel(wide: org.apache.spark.sql.DataFrame,
          nVars: Int): org.apache.spark.sql.DataFrame =
        (1 to nVars).map(i =>
          wide.where(col(s"X$i").isNotNull)
            .select(concat(col("configId"), lit(s"|X$i")).as("series"),
              concat(col("configId"), lit("|"),
                lpad(col("t").cast("string"), 3, "0")).as("day"),
              floor(col(s"X$i") * 1000).cast("long").as("v")))
          .reduce(_ unionByName _)
      val cfgs = graft.core.Grid.all().filter(_.nVars == 4)
      val wide = Generate.wideFast(spark, cfgs).where(col("t") < 200)
        .select(col("configId"), col("t"),
          col("X1"), col("X2"), col("X3"), col("X4"))
        .localCheckpoint(true)
      val pan = foldPanel(wide, 4)
      // pair-row precondition verified ONCE outside the timed region
      // (it is an eager count job — inside the loop it would be
      // measured into every repetition); the timed runs then pass
      // requirePairRows = false
      graft.metrics.Causal.assertPairRows(graft.metrics.Causal.pcSkeleton(pan))
      measure("pcsweep_catalog_fold") {
        graft.metrics.Causal.pcOrient(
            graft.metrics.Causal.pcSkeleton(pan), 3,
            requirePairRows = false)
          .groupBy("dir").count()
          .write.mode("overwrite").format("noop").save()
      }
      // the fold composed with q342's τ sweep (the SAME ladder constant
      // the gated query uses): 864 configs × 6 thresholds = 5,184 graph
      // decisions in ONE plan, still a single fact-scale moment pass —
      // only the ≤ p²-row decision frames multiply, so this should cost
      // little over the fold alone. broadcastRankJoin = false: the
      // folded 864-config ranked panel is megarows — the partitioned
      // shuffle path is the cluster-shaped plan, same rationale as the
      // 2592 rung below
      measure("pcsweep_catalog_tau6") {
        graft.metrics.Causal.pcSkeletonTauSweep(pan,
            graft.metrics.Causal.TauSweepBps, broadcastRankJoin = false)
          .groupBy("tau_sq_bp").agg(sum("edge"))
          .write.mode("overwrite").format("noop").save()
      }
      wide.unpersist()
      // the ENTIRE catalog — all 2,592 configs, 4/6/8-var mixed —
      // skeleton + orientation in one plan. At this width the folded
      // panel is megarows, so the rank self-join takes the partitioned
      // shuffle path (broadcastRankJoin = false): broadcasting a
      // multi-MB build side is the single-node shortcut a real cluster
      // must NOT take; this rung measures the cluster-shaped plan
      val wideAll = Generate.wideFast(spark, graft.core.Grid.all())
        .where(col("t") < 200)
        .select(col("configId") +: col("t") +:
          (1 to 8).map(i => col(s"X$i")): _*)
        .localCheckpoint(true)
      val panAll = foldPanel(wideAll, 8)
      // precondition once outside the timed region, as above
      graft.metrics.Causal.assertPairRows(
        graft.metrics.Causal.pcSkeleton(panAll, broadcastRankJoin = false))
      measure("pcsweep_catalog_2592_shuffle") {
        graft.metrics.Causal.pcOrient(
            graft.metrics.Causal.pcSkeleton(panAll,
              broadcastRankJoin = false), 3,
            requirePairRows = false)
          .groupBy("dir").count()
          .write.mode("overwrite").format("noop").save()
      }
      wideAll.unpersist()
    }

    // Wide-panel PC rung (r11 verdict #4a): every corpus graph is ≤ 8
    // series wide, so the fold rungs above never exercise the order-1
    // O(p³) triple stage or the order-2 O(p⁴) cofactor stage at the
    // width a real sensor deployment brings. Synthetic 32- and 64-series
    // × 200-obs graphs (chain MA structure, widePanel) through the FULL
    // order-2 pipeline — skeleton, cofactor tests, v-structures, Meek to
    // fixpoint — at q332's τ² = 100 bp (τ = 0.1: keeps the 2-hop pairs
    // too, so the order-1/2 stages get real conditioning work).
    // PlanSpec pins that the candidate stages stay moment-enumerated
    // equi-joins at this width (no cartesian, no nested-loop).
    val runPcwide = only.forall(_.exists(_.startsWith("pcwide")))
    if (runPcwide) {
      val pan32 = widePanel(spark, 32, 200).localCheckpoint(true)
      // complete panel: the pair-row precondition holds by construction —
      // verified once outside the timed region (as in the pcsweep rungs)
      graft.metrics.Causal.assertPairRows(
        graft.metrics.Causal.pcSkeleton(pan32, 100L))
      val pan64 = widePanel(spark, 64, 200).localCheckpoint(true)
      graft.metrics.Causal.assertPairRows(
        graft.metrics.Causal.pcSkeleton(pan64, 100L))
      // PC-STABLE ladder (q347): conditioning candidates from the
      // surviving adjacency, not every co-observed series — the
      // O(E·d²)-not-O(p⁴) form. On these chain panels the order-2
      // candidate volume drops from 496·C(30,2)≈216k (p=32) /
      // 2016·C(62,2)≈3.8M (p=64) to the few thousand quadruples the
      // actual neighborhoods admit. The UNRESTRICTED p=32/p=64 twins that
      // measured that contrast directly were retired in r14 (net-zero
      // suite-wall policy, ARCHITECTURE.md): the stable p=32/64/128
      // ladder carries the width scaling law, pcblocks_p80_order2_
      // unrestricted keeps the stable-vs-unrestricted contrast at equal
      // width, and the retired rungs' last numbers (2.6/4.4 s) live in
      // the committed r13 BENCHDETAIL history.
      def wideStableOnce(pan: org.apache.spark.sql.DataFrame): Unit =
        graft.metrics.Causal.pcOrient2(
            graft.metrics.Causal.pcSkeleton2Stable(pan, 100L), 4,
            requirePairRows = false)
          .groupBy("dir").count()
          .write.mode("overwrite").format("noop").save()
      measure("pcwide_p32_stable_oriented") { wideStableOnce(pan32) }
      measure("pcwide_p64_stable_oriented") { wideStableOnce(pan64) }
      // p=128 STABLE-only rung (r12 verdict #4: the third point of the
      // width scaling law, fitted in ARCHITECTURE.md): 8128 pairs, but
      // conditioning stays adjacency-restricted — an unrestricted
      // order-2 pass here would enumerate 8128·C(126,2)≈64M quadruples
      // for no additional information — the stable ladder carries the
      // width story (with pcblocks at p=320 above it)
      val pan128 = widePanel(spark, 128, 200).localCheckpoint(true)
      measure("pcwide_p128_stable_oriented") { wideStableOnce(pan128) }
      pan128.unpersist()
      pan32.unpersist(); pan64.unpersist()
    }

    // Order-3 block-panel rungs (q348's dataset shape at bench widths):
    // K independent 5-series cells, degree ≤ 4 regardless of K, every
    // cell's A-B pair separable only at order 3. The stable ladder's
    // whole point in one pair of numbers: candidate volume is linear in
    // BLOCKS (O(E·d³)), not quintic in WIDTH (O(p⁵)) — 16 blocks
    // (80 series) vs 64 blocks (320 series) should scale near-linearly
    // in cells, while an unrestricted order-2 pass at just 80 series
    // already pays C(78,2) ≈ 3k quadruples per surviving edge
    val runPcblocks = only.forall(_.exists(_.startsWith("pcblocks")))
    if (runPcblocks) {
      val blk16 = widePanel3(spark, 16, 200).localCheckpoint(true)
      graft.metrics.Causal.assertPairRows(
        graft.metrics.Causal.pcSkeleton(blk16, 100L))
      val blk64 = widePanel3(spark, 64, 200).localCheckpoint(true)
      def blocksOnce(pan: org.apache.spark.sql.DataFrame): Unit =
        graft.metrics.Causal.pcOrient3(
            graft.metrics.Causal.pcSkeleton3Stable(pan, 100L), 4,
            requirePairRows = false)
          .groupBy("dir").count()
          .write.mode("overwrite").format("noop").save()
      measure("pcblocks_p80_stable3_oriented") { blocksOnce(blk16) }
      measure("pcblocks_p320_stable3_oriented") { blocksOnce(blk64) }
      // the unrestricted twin at 80 series: same panel, q346's
      // order-2 pipeline — the number that shows what the adjacency
      // restriction buys at EQUAL width (its order-2 stage tests
      // every co-observed pair, the stable one only neighborhoods)
      measure("pcblocks_p80_order2_unrestricted") {
        graft.metrics.Causal.pcOrient2(
            graft.metrics.Causal.pcSkeleton2(blk16, 100L), 3,
            requirePairRows = false)
          .groupBy("dir").count()
          .write.mode("overwrite").format("noop").save()
      }
      blk16.unpersist(); blk64.unpersist()
    }

    // Structural weight-recovery rung (q352's corpus fold at 10× the
    // observations): the A1+A1C gaussian cell regenerated at nPoints =
    // 50,000 — 18 folded graphs, ~5.6M panel rows — through ONE
    // laggedCrossMoments pass (virtual-lag expansion + t-keyed shuffle
    // self-join + map-side-combined moment aggregation; broadcastB =
    // false, the cluster shape) and the broadcast Cramer stage. n = 5e4
    // at milli quantization is the documented integer ceiling for the
    // k=2 determinant products (|C| ≤ ~5e15 → 10⁶·C² ≈ 2.5e37 < 10³⁸),
    // so this rung also pins the budget boundary the scaladoc claims.
    val runWeightrec = only.forall(_.exists(_.startsWith("weightrec")))
    if (runWeightrec) {
      val cfgs = graft.core.Grid.all().filter(c =>
        (c.family == "A1" || c.family == "A1C") && c.nPoints == 5000
          && c.noiseType == "gaussian").map(_.copy(nPoints = 50000))
      val wide = Generate.wideFast(spark, cfgs)
        .select(Seq(col("configId"), col("t")) ++
          (1 to 8).map(i => col(s"X$i")): _*)
        .localCheckpoint(true)
      val pan = (1 to 8).map(i =>
        wide.where(col(s"X$i").isNotNull)
          .select(concat(col("configId"), lit(s"|X$i")).as("series"),
            (col("configId") * 65536L + col("t")).as("day"),
            floor(col(s"X$i") * 1000).cast("long").as("v")))
        .reduce(_ unionByName _)
      val links = cfgs.flatMap(c => SparkEntry.weightLinks(
        c.configId.toString, c.family, c.nVars, c.maxLag))
      measure("weightrec_fold18_n50k") {
        graft.metrics.Causal.structuralBetas(
            graft.metrics.Causal.laggedCrossMoments(pan,
              SparkEntry.weightSpecs(links),
              expr("t % 65536 BETWEEN 4 AND 49999"),
              broadcastB = false),
            SparkEntry.weightLinksDf(spark, links))
          .groupBy("family")
          .agg(sum(abs(col("beta_ppm") - col("effective_ppm"))))
          .write.mode("overwrite").format("noop").save()
      }
      wide.unpersist()
    }

    // Deployment-width weight recovery: dense vs PAIR-RESTRICTED moments
    // (q359's operator at 4× its width). A 256-series chain link set is
    // k=1 — the Cramer stage reads 511 of the 32,896 unordered pairs —
    // so the dense Gram's 256²-per-t fan-out is almost entirely wasted
    // work; the sparse path routes the wanted-pair frame into the join
    // first and fans out |wanted| per t instead. The rung pair is the
    // measured evidence for the O(links)-vs-O(p²) claim in the
    // virtualCrossMomentsSparse scaladoc.
    val runWeightwide = only.forall(_.exists(_.startsWith("weightwide")))
    if (runWeightwide) {
      val pan = widePanel(spark, 256, 10000)
      val virt = pan.select(concat(col("series"), lit("@0")).as("vs"),
        col("day").as("t"), col("v")).localCheckpoint(true)
      import spark.implicits._
      // 3-digit names in lockstep with widePanel's dynamic pad at p > 100
      def nm(i: Int) = f"X$i%03d"
      val links = (1 until 256).map(i => (nm(i), nm(i - 1), 0,
        s"${nm(i)}@0", s"${nm(i - 1)}@0", None: Option[String]))
      val linksDf = links
        .toDF("target", "source", "lag", "y", "x", "sib")
      val wanted = links.flatMap { l =>
        val (a, b) = if (l._5 <= l._4) (l._5, l._4) else (l._4, l._5)
        Seq((l._4, l._4), (l._5, l._5), (a, b))
      }.distinct.toDF("na", "nb")
      def betaSum(mom: org.apache.spark.sql.DataFrame): Unit =
        graft.metrics.Causal.structuralBetas(mom, linksDf)
          .agg(sum(abs(col("beta_ppm"))))
          .write.mode("overwrite").format("noop").save()
      measure("weightwide_p256_sparse") {
        betaSum(graft.metrics.Causal.virtualCrossMomentsSparse(
          virt, wanted, col("t").between(0, 9999)))
      }
      measure("weightwide_p256_dense") {
        betaSum(graft.metrics.Causal.virtualCrossMoments(
          virt, col("t").between(0, 9999), broadcastB = false))
      }
      virt.unpersist()
    }

    // Multiple-testing at deployment width (q370's BH-FDR procedure at
    // ~9× the hypothesis count): the 512-series chain panel — 5,065
    // simultaneous pair hypotheses (distance 1..10) in ONE plan. The
    // only fact-scale stage is the pair-restricted sparse moment pass;
    // the Wald t² arithmetic, the 5k-row rank window and the broadcast
    // χ²-ladder join all ride the post-aggregation frame, so the
    // hypothesis count moves the wanted-pair broadcast, never the
    // panel scan — the scale shape that makes "test 100k edges on
    // 100 TB" a one-shuffle statement.
    val runBhfdr = only.forall(_.exists(_.startsWith("bhfdr")))
    if (runBhfdr) {
      val pan = widePanel(spark, 512, 10000).localCheckpoint(true)
      import spark.implicits._
      def bnm(i: Int) = f"X$i%03d"
      val cands = for { dd <- 1 to 10; i <- 0 until 512 - dd }
        yield (bnm(i), bnm(i + dd), dd)
      val linksDf = cands.map { case (a, b, dist) =>
        (s"$a<$b", dist, s"$b@0", s"$a@0", None: Option[String]) }
        .toDF("pair", "dist", "y", "x", "sib")
      val wanted = cands.flatMap { case (a, b, _) =>
        Seq((s"$a@0", s"$a@0"), (s"$b@0", s"$b@0"), (s"$a@0", s"$b@0")) }
        .distinct.toDF("na", "nb")
      val virt = pan.select(concat(col("series"), lit("@0")).as("vs"),
        col("day").as("t"), col("v"))
      val lutDf = graft.metrics.Causal.chi2InvMilliLadder(cands.size)
        .zipWithIndex.map { case (q, i) => (i + 1, q) }
        .toDF("rk", "q_milli")
      measure("bhfdr_p512_5k_hypotheses") {
        graft.metrics.Causal.waldK1(
            graft.metrics.Causal.structuralBetas(
              graft.metrics.Causal.virtualCrossMomentsSparse(virt,
                wanted, col("t").between(0, 9999)), linksDf))
          .withColumn("rk", expr(
            """row_number() over (
              |  order by coalesce(t2_milli, -1) desc, pair)"""
              .stripMargin))
          .join(broadcast(lutDf), Seq("rk"))
          .withColumn("k_star", expr(
            "max(case when t2_milli >= q_milli then rk end) over ()"))
          .where(col("rk") <= coalesce(col("k_star"), lit(0L)))
          .groupBy("dist").count()
          .write.mode("overwrite").format("noop").save()
      }
      pan.unpersist()

      // catalog-grain multiplicity (r12 verdict #6): ONE BH pass over
      // the whole catalog's lag-1 cross-predictive Wald census — every
      // ordered pair of every one of the 2,592 sweep configs,
      // 864·(12+30+56) = 84,672 simultaneous k=1 hypotheses
      // (y = Xj, x = Xi@1 — q370's marginal-Wald contract; waldK1's
      // RSS/SE arithmetic is k=1-only, so the AR-controlled variant
      // lives in grangerDecide, not here) through the SAME waldK1 +
      // ladder machinery (oracle-gated at a reduced grid by q376).
      // Fact scale:
      // one pair-restricted sparse moment pass over the ~6.2M-row
      // folded virtual panel; the 85k hypothesis rows ride
      // post-aggregation frames (driver-built links/ladder broadcasts,
      // one 85k-row rank window), so corpus size moves only the moment
      // pass — "BH over the whole catalog" stays a one-shuffle
      // statement. X values clamp to ±1e3 before milli quantization
      // (the sweepDigest discipline: a handful of D2/D2C cells diverge)
      // to keep every Cramer product inside DECIMAL(38,0).
      val cfgsAll = graft.core.Grid.all()
      val wideC = Generate.wideFast(spark, cfgsAll).where(col("t") < 200)
      val virtC = (1 to 8).map { i =>
        val m = floor(greatest(least(col(s"X$i"), lit(1e3)), lit(-1e3))
          * 1000).cast("long").as("v")
        val base = wideC.where(col(s"X$i").isNotNull)
        base.select(concat(col("configId"), lit(s"|X$i@0")).as("vs"),
            (col("configId") * 65536 + col("t")).as("t"), m)
          .unionByName(base.select(
            concat(col("configId"), lit(s"|X$i@1")).as("vs"),
            (col("configId") * 65536 + col("t") + 1).as("t"), m))
      }.reduce(_ unionByName _).localCheckpoint(true)
      val hypsC = cfgsAll.flatMap { c =>
        for { i <- 1 to c.nVars; j <- 1 to c.nVars if i != j } yield {
          val g = c.configId
          (s"$g|X$i>X$j", c.family, s"$g|X$j@0", s"$g|X$i@1",
            None: Option[String])
        }
      }
      val linksC = hypsC.toDF("pair", "family", "y", "x", "sib")
      def cnp(a: String, b: String) = if (a <= b) (a, b) else (b, a)
      val wantedC = hypsC.flatMap { case (_, _, y, x, _) =>
        Seq((y, y), (x, x), cnp(x, y))
      }.distinct.toDF("na", "nb")
      val lutC = graft.metrics.Causal.chi2InvMilliLadder(hypsC.size)
        .zipWithIndex.map { case (q, i) => (i + 1, q) }
        .toDF("rk", "q_milli")
      measure("bhfdr_catalog_85k_hypotheses") {
        graft.metrics.Causal.waldK1(
            graft.metrics.Causal.structuralBetas(
              graft.metrics.Causal.virtualCrossMomentsSparse(virtC,
                wantedC, (col("t") % 65536).between(1, 199)), linksC))
          .withColumn("rk", expr(
            """row_number() over (
              |  order by coalesce(t2_milli, -1) desc, pair)"""
              .stripMargin))
          .join(broadcast(lutC), Seq("rk"))
          .withColumn("k_star", expr(
            "max(case when t2_milli >= q_milli then rk end) over ()"))
          .where(col("rk") <= coalesce(col("k_star"), lit(0L)))
          .groupBy("family").count()
          .write.mode("overwrite").format("noop").save()
      }
      virtC.unpersist()
    }

    // the gen section also participates in the ONLY filter (e.g. ONLY=gen_
    // matches no query name but selects the generation stages alone — the
    // fresh-JVM profiling shape). Only tokens that themselves start with
    // "gen" select it: the reversed substring match used before meant any
    // token that happened to be a substring of a stage name (ONLY=s) silently
    // enabled the heavy generation stages alongside the selected queries.
    // Query-side scale ladder: the gen section proves GENERATION scales;
    // this proves the ANALYTICS operators do. Build a 100× lineitem
    // (60M rows at sf0.1 — the sf10-equivalent fact table) by key-shifted
    // replication, then measure the q01-shaped scan+filter+aggregate and
    // a broadcast-join+aggregate at 1× and 100×. The 100×/1× wall-clock
    // ratio ≪ 100 (the 1× run is overhead-bound) and ~linear rows/s at
    // 100× is the evidence.
    val runQscale = only.forall(_.exists(_.startsWith("qscale")))
    if (runQscale) {
      System.gc()
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val maxOk = li.agg(max("l_orderkey")).collect()(0).getLong(0) + 1L
      val dir100 = "target/bench_lineitem_100x"
      measure("qscale_lineitem_100x_build") {
        li.withColumn("rep", explode(expr("sequence(0L, 99L)")))
          .withColumn("l_orderkey", col("l_orderkey") + col("rep") * maxOk)
          .drop("rep")
          .write.mode("overwrite").parquet(dir100)
      }
      val li100 = spark.read.parquet(dir100)
      def priceAgg(df: org.apache.spark.sql.DataFrame): Unit =
        df.where(col("l_shipdate") <= lit("1998-09-02"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)), sum("l_quantity"), sum("l_extendedprice"))
          .write.mode("overwrite").format("noop").save()
      // the replicated keys fold back to the original order via mod, so
      // the 1x orders side stays broadcast at EVERY scale — the shape a
      // fact-to-dimension join keeps on a real cluster
      val ords = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderpriority"))
      def revJoin(df: org.apache.spark.sql.DataFrame): Unit =
        df.join(broadcast(ords),
            pmod(df("l_orderkey"), lit(maxOk)) === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(sum(expr("cast(floor(l_extendedprice * 100) as bigint)")))
          .write.mode("overwrite").format("noop").save()
      measure("qscale_agg_1x") { priceAgg(li) }
      measure("qscale_agg_100x") { priceAgg(li100) }
      measure("qscale_join_1x") { revJoin(li) }
      measure("qscale_join_100x") { revJoin(li100) }
      scala.reflect.io.Directory(new java.io.File(dir100)).deleteRecursively()
    }

    // Text-pipeline scale ladder: qscale proves the RELATIONAL operators
    // scale; this proves the text side does. 100× documents (500k docs at
    // sf0.1) by id-shifted replication with the text left VERBATIM, so at
    // 100× every document sits in a 100-way exact-duplicate group — the
    // dup-heavy extreme a crawl-scale dedup actually faces (the two-phase
    // hash-groupBy must absorb 100× group width, not merely 100× rows).
    // Quality scoring is the linear map rung; BM25 is the inverted-index
    // shuffle rung (every df scales 100×, the salting path active) with
    // the PROBE set held fixed at the 1× queries so the measured growth
    // is the posting side alone, not probes × postings.
    val runDscale = only.forall(_.exists(_.startsWith("dscale")))
    if (runDscale) {
      System.gc()
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      val maxDoc = docs.agg(max("doc_id")).collect()(0).getLong(0) + 1L
      val dDir = "target/bench_documents_100x"
      // Zipf-vocabulary corpus for the retrieval ladder (r11 verdict
      // #4b): the replicated documents corpus has a degenerate 31-token
      // vocabulary, so every probe meets ~every posting row and exact
      // BM25 must score the whole corpus — kept below as the honest
      // worst case. These docs instead draw 80 tokens each from a
      // 10k-type vocabulary with log-uniform ranks (rank =
      // ⌊exp(u·ln V)⌋, the inverse-CDF of Zipf s≈1), so posting lists
      // are selective and the zipf rungs measure what a real inverted
      // index pays: posting-side growth, not probes × corpus
      def zipfDocs(n: Long): org.apache.spark.sql.DataFrame =
        spark.range(0, n).select(col("id").as("doc_id"))
          .withColumn("pos", explode(expr("sequence(0, 79)")))
          .select(col("doc_id"), concat(lit("t"),
            floor(exp((pmod(xxhash64(lit("zipf"), col("doc_id"), col("pos")),
                lit(1000000L)).cast("double") / 1e6) *
              log(lit(10000.0)))).cast("long")).as("tok"))
          .groupBy("doc_id")
          .agg(concat_ws(" ", collect_list(col("tok"))).as("text"))
      val z1 = zipfDocs(5000L).localCheckpoint(true)
      val z10 = zipfDocs(50000L).localCheckpoint(true)
      measure("dscale_documents_100x_build") {
        docs.withColumn("rep", explode(expr("sequence(0L, 99L)")))
          .withColumn("doc_id", col("doc_id") + col("rep") * maxDoc)
          .drop("rep")
          .write.mode("overwrite").parquet(dDir)
      }
      val d100 = spark.read.parquet(dDir)
      def dedup(df: org.apache.spark.sql.DataFrame): Unit =
        graft.text.Dedup.exactDuplicateGroupsScalable(df, "doc_id", "text")
          .write.mode("overwrite").format("noop").save()
      def qual(df: org.apache.spark.sql.DataFrame): Unit =
        graft.text.TextOps.qualityScore(df)
          .write.mode("overwrite").format("noop").save()
      val probe = col("doc_id") < maxDoc && col("doc_id") % 50 === 0
      def bm25(df: org.apache.spark.sql.DataFrame): Unit =
        graft.text.Index.bm25TopK(df, "doc_id", "text", probe, k = 5)
          .write.mode("overwrite").format("noop").save()
      measure("dscale_exact_dedup_1x") { dedup(docs) }
      measure("dscale_exact_dedup_100x") { dedup(d100) }
      measure("dscale_quality_1x") { qual(docs) }
      measure("dscale_quality_100x") { qual(d100) }
      // BM25's probe join is O(corpus × probes) on this 31-token head-heavy
      // vocabulary (every posting row meets ~all 100 probes sharing its
      // token): the 100× rung is an honest ~2.5 B-row join but costs
      // ~100 s — the 10× rung (≈250 M joined rows) carries the same
      // linearity evidence at a round-budget-compatible cost
      measure("dscale_bm25_1x") { bm25(docs) }
      measure("dscale_bm25_10x") {
        bm25(d100.where(col("doc_id") < maxDoc * 10L)) }
      // the realistic-vocabulary twins: same probe density (1 per 50 docs
      // of the 1x corpus), fresh text per doc so the 10x rung grows real
      // posting lists instead of replaying 10 copies of each
      val zprobe = col("doc_id") % 50 === 0 && col("doc_id") < 5000L
      def bm25z(df: org.apache.spark.sql.DataFrame): Unit =
        graft.text.Index.bm25TopK(df, "doc_id", "text", zprobe, k = 5)
          .write.mode("overwrite").format("noop").save()
      measure("dscale_bm25_zipf_1x") { bm25z(z1) }
      measure("dscale_bm25_zipf_10x") { bm25z(z10) }
      z1.unpersist(); z10.unpersist()
      scala.reflect.io.Directory(new java.io.File(dDir)).deleteRecursively()
    }

    val runGen = only.forall(_.exists(_.startsWith("gen")))
    val (genStage, taskSkew, genStage10x, taskSkew10x) =
      if (!runGen) (Array.empty[Long], 0.0, Array.empty[Long], 0.0)
      else {
    val corpusDir = "target/bench_corpus_full"
    // give the 25M-row generation stages a settled heap: the measurement
    // should see kernel + write cost, not the query suite's garbage
    System.gc()
    // full-sweep generation: every config of all 18 families (BASELINE headline)
    measure("gen_full_sweep") {
      Generate.series(spark, Grid.all()).toDF()
        .agg(count(lit(1)), sum("x1")).collect()
    }

    // same sweep through the InternalRow fast path (no typed-Encoder layer;
    // bitwise-identical output per GenerateSpec)
    measure("gen_full_sweep_fast") {
      Generate.wideFast(spark, Grid.all())
        .agg(count(lit(1)), sum("X1")).collect()
    }

    // the reference's actual deliverable, wholesale: all 4,320 corpus CSVs
    // (2,592 configs, dual missing/complete for D families) written into the
    // shipped Datasets/ directory grammar in one run — the r5 verdict's top
    // gap (CorpusSpec separately proves the output diffs clean against the
    // shipped tree)
    measure("gen_corpus_4320_csv_write") {
      graft.generate.Sinks.writeFullCorpus(spark, corpusDir)
    }
    scala.reflect.io.Directory(new java.io.File(corpusDir)).deleteRecursively()

    // 100×-scale generation: 512 configs × 50k points = 25.6M rows through the
    // same zero-shuffle kernel fan-out, written as family/nVars/maxLag-
    // partitioned parquet; a listener captures per-task durations of the
    // generation+write stage to prove even load (round-robin config spread).
    // The disk-heavy writes run LAST in the suite.
    val byStage = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.ArrayBuffer[Long]]
    // only count tasks LAUNCHED after this point — the async listener bus can
    // still deliver queued task-ends from earlier bench queries
    val attachMs = System.currentTimeMillis()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null && te.taskInfo.launchTime >= attachMs) byStage.synchronized {
          byStage.getOrElseUpdate(te.stageId, scala.collection.mutable.ArrayBuffer.empty) +=
            te.taskInfo.duration
        }
    }
    val scaleDir = "target/bench_gen_scale"
    val grid = Grid.all()
    val scaleCfgs = (0 until 512).map(i =>
      grid(i % grid.size).copy(configId = 1000000L + i, nPoints = 50000))
    spark.sparkContext.addSparkListener(listener)
    measure("gen_scale_25m_partitioned_write") {
      Generate.writeParquet(Generate.wideFast(spark, scaleCfgs), scaleDir)
    }
    Thread.sleep(1000) // listener bus is async — let it drain
    def stageSnap(): Array[Long] = byStage.synchronized {
      val s = if (byStage.isEmpty) Array.empty[Long]
        else byStage.values.maxBy(_.sum).toArray.sorted
      byStage.clear()
      s
    }
    def skewOf(st: Array[Long]): Double = if (st.length >= 4)
      st.last.toDouble / math.max(1L, st(st.length / 2)) else 0.0
    val genStage = stageSnap()
    val taskSkew = skewOf(genStage)
    scala.reflect.io.Directory(new java.io.File(scaleDir)).deleteRecursively()

    // the 10× rung: 512 configs × 500k points = 256M rows through the same
    // kernel fan-out and partitioned write — the measured slope under the
    // 100-TB story (near-linear rows/s vs the 25.6M rung = the fan-out has
    // no super-linear term; task skew < 2 = the round-robin config spread
    // still balances when per-task work grows 10×)
    val scale10Cfgs = (0 until 512).map(i =>
      grid(i % grid.size).copy(configId = 2000000L + i, nPoints = 500000))
    val scale10Dir = "target/bench_gen_scale10x"
    measure("gen_scale_256m_partitioned_write") {
      Generate.writeParquet(Generate.wideFast(spark, scale10Cfgs), scale10Dir)
    }
    Thread.sleep(1000)
    spark.sparkContext.removeSparkListener(listener)
    val genStage10x = stageSnap()
    val taskSkew10x = skewOf(genStage10x)
    scala.reflect.io.Directory(new java.io.File(scale10Dir)).deleteRecursively()
    (genStage, taskSkew, genStage10x, taskSkew10x)
    }

    def f3(x: Double) = String.format(java.util.Locale.ROOT, "%.3f",
      java.lang.Double.valueOf(x)) // locale-proof: JSON needs '.'
    // a run that SKIPPED the scale generation reports null — gate on the same
    // condition that ran it (a filtered ONLY=gen_ run DOES execute it and
    // must not report a fabricated null)
    def genScaleJson(rows: Long, stage: Array[Long], skew: Double): String =
      if (!runGen) "null"
      else s"""{"rows":$rows,"tasks":${stage.length},""" +
        s""""task_skew_max_over_median":${f3(skew)}}"""
    val line = rec.render((System.nanoTime() - wallT0) / 1e9,
      genScaleJson(512L * 50000L, genStage, taskSkew),
      genScaleJson(512L * 500000L, genStage10x, taskSkew10x), sfDir)
    println(line)
    // the driver's BENCH_r{N}.json artifact has historically kept only the
    // log TAIL, truncating the per-query map and making regression-vs-noise
    // questions unanswerable after the fact — persist the full machine-
    // readable record at the repo root on every run (full runs only: a
    // filtered ONLY= profiling run must not overwrite the round's record).
    // "repo root" is resolved by walking up from the cwd to the nearest
    // build.sbt, so an IDE/CI launcher with a different workdir cannot
    // silently strand the record outside the repo
    if (only.isEmpty) {
      val root = Iterator.iterate(new java.io.File(".").getCanonicalFile)(_.getParentFile)
        .takeWhile(_ != null).take(6)
        .find(d => new java.io.File(d, "build.sbt").isFile)
        .getOrElse(new java.io.File(".").getCanonicalFile)
      java.nio.file.Files.writeString(
        new java.io.File(root, "BENCHDETAIL.json").toPath, line + "\n")
    }
    spark.stop()
  }
}
