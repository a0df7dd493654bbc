package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core._
import graft.generate.Generate
import graft.ops.{AsOf, ExactStats, Lagged, Sessionize}
import graft.text.{Dedup, TextOps}
import graft.sim.Similarity

/** Pipeline slice of [[SparkEntry.queries]] — mechanical split of the
  * single registry map; entry bodies are verbatim. */
private[graft] trait QueriesPipeline { this: SparkEntry.type =>

  // Pipeline twins: each shape two or more entries share, as one Spark
  // builder with its DuckDB CTE builder beside it.

  /** Value-histogram bin width of q102 and q110: 10 units in micro. */
  private[graft] val ValueBinMicro = 10000000L

  /** Per-event-type value histogram with its running count (q102, q110):
    * (event_type, bin, cnt, cum, total) over `ev` (event_type, v_micro);
    * the windows run on the map-side |types|·|bins|-row aggregate.
    */
  private[graft] def valueBinsCum(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.groupBy(col("event_type"),
        expr(s"v_micro div $ValueBinMicro").as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("total", sum("cnt").over(Window.partitionBy("event_type")))
  }

  /** [[valueBinsCum]] as DuckDB CTEs over `events`: `ev(event_type,
    * v_micro)`, `bins`, then `c`.
    */
  private[graft] val ValueBinsCumSqlCtes: String =
    s"""ev AS (
       |  SELECT event_type, floor(value * 1e6)::BIGINT AS v_micro FROM events),
       |bins AS (
       |  SELECT event_type, v_micro // $ValueBinMicro AS bin, count(*) AS cnt
       |  FROM ev GROUP BY 1, 2),
       |c AS (
       |  SELECT event_type, bin, cnt,
       |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(cnt) OVER (PARTITION BY event_type) AS total
       |  FROM bins)""".stripMargin

  /** Each purchase with every view of the same user within ±10 min (q130,
    * q141), v_us NULL when none: (purchase_id, user_id, p_us, v_us). Views
    * replicate to their 3 neighbour buckets (width = tolerance), so the join
    * stays equi-keyed on (user, bucket) with the band filtered inside it.
    */
  private[graft] def purchaseViewBand(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("event_id"),
      col("event_type"), expr("ts div 1000").as("ts_us"))
    val tolUs = 600000000L
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_us").as("p_us"), expr(s"ts_us div $tolUs").as("bucket"))
    val v = ev.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts_us").as("v_us"),
        explode(array((-1 to 1).map(k => expr(s"ts_us div $tolUs + $k")): _*))
          .as("v_bucket"))
    p.join(v, col("user_id") === col("v_user") &&
        col("bucket") === col("v_bucket") &&
        abs(col("v_us") - col("p_us")) <= tolUs, "left")
      .select(col("purchase_id"), col("user_id"), col("p_us"), col("v_us"))
  }

  /** [[purchaseViewBand]] as DuckDB CTEs over `events` (the band predicate
    * directly, no buckets): `ev`, then `band`.
    */
  private[graft] val PurchaseViewBandSqlCtes: String =
    """ev AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
      |  FROM events),
      |band AS (
      |  SELECT p.event_id AS purchase_id, p.user_id, p.ts_us AS p_us,
      |    v.ts_us AS v_us
      |  FROM ev p LEFT JOIN ev v ON v.event_type = 'view'
      |    AND p.user_id = v.user_id AND abs(v.ts_us - p.ts_us) <= 600000000
      |  WHERE p.event_type = 'purchase')""".stripMargin

  /** The Lorenz curve over $1000 order-value bins (q145; q174 integrates
    * it): (bin, n, cum_orders_ppm, cum_revenue_ppm), exact cumulative ppm;
    * cum_v·1e6 widens to DECIMAL(38,0) before the product.
    */
  private[graft] def lorenzCurve(s: SparkSession, d: String): DataFrame = {
    val wC = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wT = Window.partitionBy()
    orders(s, d).select(cents(col("o_totalprice")).as("v"))
      .groupBy(expr("v div 100000").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(38,0)")).cast("long").as("sv"))
      .withColumn("cum_n", sum("n").over(wC))
      .withColumn("cum_v", sum("sv").over(wC))
      .withColumn("tot_n", sum("n").over(wT))
      .withColumn("tot_v", sum("sv").over(wT))
      .select(col("bin"), col("n"),
        expr("(cum_n * 1000000) div tot_n").as("cum_orders_ppm"),
        expr("cast((cast(cum_v as decimal(38,0)) * 1000000) div tot_v " +
          "as bigint)").as("cum_revenue_ppm"))
  }

  /** [[lorenzCurve]] as DuckDB CTEs over `orders`: `bins`, then `lorenz`. */
  private[graft] val LorenzCurveSqlCtes: String =
    """bins AS (
      |  SELECT v // 100000 AS bin, count(*)::BIGINT AS n, sum(v)::BIGINT AS sv
      |  FROM (SELECT floor(o_totalprice * 100 + 0.5)::BIGINT AS v FROM orders)
      |  GROUP BY 1),
      |lorenz AS (
      |  SELECT bin, n,
      |    ((sum(n) OVER wc * 1000000) // sum(n) OVER ())::BIGINT
      |      AS cum_orders_ppm,
      |    ((sum(sv) OVER wc)::HUGEINT * 1000000 // sum(sv) OVER ())::BIGINT
      |      AS cum_revenue_ppm
      |  FROM bins WINDOW wc AS (ORDER BY bin
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))""".stripMargin

  /** Customers as points of the spatial entries (q192, q233, q238): (id, x,
    * y) on a 100000² integer lattice from two multiplicative hashes.
    */
  private[graft] def customerPoints(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(col("c_custkey").as("id"),
      expr("(c_custkey * 48271) % 100000").as("x"),
      expr("(c_custkey * 69621) % 100000").as("y"))

  /** [[customerPoints]] as the DuckDB CTE `p`. */
  private[graft] val CustomerPointsCte: String =
    """p AS (
      |  SELECT c_custkey AS id, (c_custkey * 48271) % 100000 AS x,
      |    (c_custkey * 69621) % 100000 AS y
      |  FROM customer)""".stripMargin

  /** Point pairs within distance 2000, a < b (q192, q233): cell size =
    * radius, so every pair meets in ONE equi-join of a 9-cell neighbourhood
    * explode against the home cell — O(9·N) candidates on a (cx, cy) key,
    * not the O(N²) cross join. Exact squared distances: (a_id, b_id, d2).
    */
  private[graft] def gridNeighborPairs(pts: DataFrame): DataFrame = {
    val cells = pts.withColumn("cx", expr("x div 2000"))
      .withColumn("cy", expr("y div 2000"))
    val offs = for { dx <- Seq(-1, 0, 1); dy <- Seq(-1, 0, 1) }
      yield struct(lit(dx).as("dx"), lit(dy).as("dy"))
    val probe = cells.withColumn("o", explode(array(offs: _*)))
      .select(col("id").as("a_id"), col("x").as("ax"), col("y").as("ay"),
        (col("cx") + col("o.dx")).as("jcx"),
        (col("cy") + col("o.dy")).as("jcy"))
    val home = cells.select(col("id").as("b_id"), col("x").as("bx"),
      col("y").as("b_y"), col("cx").as("jcx"), col("cy").as("jcy"))
    probe.join(home, Seq("jcx", "jcy"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        expr("(ax - bx) * (ax - bx) + (ay - b_y) * (ay - b_y)").as("d2"))
      .where(col("d2") <= lit(4000000L))
  }

  /** [[gridNeighborPairs]] as DuckDB CTEs: [[CustomerPointsCte]], `c` (the
    * points with their cells), then `nn`.
    */
  private[graft] val GridNeighborPairsSqlCtes: String =
    s"""$CustomerPointsCte,
       |c AS (SELECT id, x, y, x // 2000 AS cx, y // 2000 AS cy FROM p),
       |pr AS (
       |  SELECT a.id AS a_id, b.id AS b_id,
       |    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
       |  FROM c a CROSS JOIN range(-1, 2) dx(dx) CROSS JOIN range(-1, 2) dy(dy)
       |  JOIN c b ON b.cx = a.cx + dx.dx AND b.cy = a.cy + dy.dy
       |  WHERE a.id < b.id),
       |nn AS (SELECT * FROM pr WHERE d2 <= 4000000)""".stripMargin

  private[graft] def queriesPipeline: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q44_plot_missing_pattern" -> ((s, d) => {
      val cfg = Grid.forFamily("D3C").find(c =>
        c.nPoints == 3000 && c.nVars == 6 && c.maxLag == 2).get
      val miss = dumpGen(s, "q44_missing",
        Generate.missingView(Generate.wideFast(s, Seq(cfg))))
      graft.generate.PlotReady.missingPatternCounts(miss, (1 to 6).map(i => s"X$i"), 50)
    }),

    "q45_plot_sampling_hist" -> ((s, d) => {
      val cfg = Grid.forFamily("D3C").find(c =>
        c.nPoints == 3000 && c.nVars == 6 && c.maxLag == 2).get
      val wide = dumpGen(s, "q45_wide", Generate.wideFast(s, Seq(cfg)))
      graft.generate.PlotReady.samplingIntervalHist(wide, 0.002)
    }),

    "q46_plot_trend_fit" -> ((s, d) => {
      val cfg = Grid.forFamily("C1").find(c =>
        c.nPoints == 1000 && c.nVars == 4 && c.maxLag == 2).get
      val wide = dumpGen(s, "q46_wide", Generate.wideFast(s, Seq(cfg)))
      graft.generate.PlotReady.trendFitExact(wide, Seq("X1", "X2", "X3", "X4"))
    }),

    // the q30/q38 dump contract extended to the WHOLE grid: every one of
    // the 2,592 sweep configs is pinned individually — row count, exact
    // micro sums of X1 and the time axis, and the mask population, per
    // configId. A kernel/ordering/mask/timestamp regression in ANY
    // family×size×lag×noise cell hash-fails this one query. The dump
    // projects just the digest columns so the verify artifact stays small
    "q177_full_sweep_digest" -> ((s, d) => sweepDigest(s, "q177_sweep")),

    // the driver's raw-generation artifact row, flipped green: `_gen` used
    // to be the scratch dump directory itself (a permanently no-oracle
    // row); the scratch now lives outside the verify outDir and this entry
    // pins the SAME per-config digest contract as q177 over its own
    // independently regenerated dump (queries is an unordered Map — no
    // cross-query read dependency is allowed)
    "_gen" -> ((s, d) => sweepDigest(s, "_gen_sweep")),

    // strict-vs-compat divergence census (SURVEY §2.4 "fixed mode"): one
    // 6-var config per family generated in BOTH modes, dumped, and diffed
    // per family — the quirk-affected families (zero-read contemporaneous,
    // cubic drop, min-gap rescale) must diverge, the untouched ones
    // (A1C/D1/D1C) must not; both engines compute the census from the same
    // two dumps, and StrictModeSpec pins the expected pattern bitwise
    "q178_strict_mode_diff" -> ((s, d) => {
      val cfgs = Catalog.families.map(f =>
        Grid.forFamily(f).find(c => c.nPoints == 1000 && c.nVars == 6 &&
          c.maxLag == 2 &&
          (c.noiseType == "gaussian" || c.noiseType == "mixed")).get)
      val compat = dumpGen(s, "q178_compat", Generate.wideFast(s, cfgs))
      val strict = dumpGen(s, "q178_strict",
        Generate.wideFast(s, cfgs, strict = true))
      val valueDiff = (1 to 6).map(i =>
        !(col(s"c.X$i") <=> col(s"s.X$i"))).reduce(_ || _)
      compat.as("c")
        .join(strict.as("s"),
          // family is a join key: forFamily numbers each family's grid from
          // zero, so configIds alone collide across the 18 families
          col("c.family") === col("s.family") &&
            col("c.configId") === col("s.configId") && col("c.t") === col("s.t"))
        .groupBy(col("c.family").as("family"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(valueDiff, 1L).otherwise(0L)).as("n_value_diff"),
          sum(when(!(col("c.time") <=> col("s.time")), 1L).otherwise(0L))
            .as("n_time_diff"))
    }),

    "q30_generate_families" -> ((s, d) => {
      val cfgs = Catalog.families.map(f =>
        Grid.forFamily(f).find(c => c.nPoints == 1000 && c.nVars == 6 && c.maxLag == 2).get)
      // exact micro sums, not round(avg): avg(double) hash-mismatched in r2
      // when the partition topology changed (driver CPUs vs local)
      dumpGen(s, "q30_wide", Generate.wideFast(s, cfgs))
        .groupBy("family")
        .agg(count(lit(1)).as("n_rows"),
             ExactStats.sumMicro(col("X1")).as("sum_x1_micro"),
             ExactStats.sumMicro(col("X6")).as("sum_x6_micro"))
    }),

    // 10-min resample of the events table per event_type: dense global grid,
    // last-observation-carried-forward, with a staleness column — the
    // metrics-store regularization op. The ffill's sequential dependency is
    // per SERIES (the semantics), so parallelism = series count.
    "q70_resample_ffill" -> ((s, d) =>
      graft.ops.Resample.resampleFfill(
        events(s, d).withColumn("ts_us", expr("ts div 1000")),
        Seq("event_type"), "ts_us", "value", "event_id",
        bucketUs = 600L * 1000000L)),

    // linear interpolation of an IRREGULAR generated series (B2, the
    // prefix-rescaled timestamps of b2.py:87-99) onto a regular 0.5-unit
    // grid — two as-of joins + exact integer arithmetic (InterpShift keeps
    // trunc ≡ floor across engines). Sample rows are dumped so DuckDB
    // interpolates the identical irregular input.
    "q71_interpolate_grid" -> ((s, d) => {
      val cfg = Grid.forFamily("B2").find(c =>
        c.nPoints == 1000 && c.nVars == 4 && c.maxLag == 2 && c.mixRatio == 0.5).get
      val samples = dumpGen(s, "q71_samples",
        Generate.wideFast(s, Seq(cfg)).select(col("configId"),
          ExactStats.micro(col("t")).cast("long").as("t_us"),
          ExactStats.micro(col("X1")).cast("long").as("v_micro")))
      val grid = samples.select(col("configId")).distinct()
        .select(col("configId"),
          explode(expr("sequence(0L, 100000000L, 500000L)")).as("grid_us"))
      graft.ops.Resample.interpolateToGrid(samples, grid,
        Seq("configId"), "t_us", "v_micro")
    }),

    // HyperLogLog distinct-token estimate per source, pure-integer register
    // contract (verifiable in SQL, unlike approx_count_distinct's binary
    // sketch) — the shuffle carries ≤ |sources|·64 register rows no matter
    // the corpus size. n_exact is the validation column.
    "q72_hll_distinct" -> ((s, d) =>
      graft.ops.Sketch.hllWithExact(
        documents(s, d).select(col("source"),
          explode(TextOps.tokensCol(col("text"))).as("tok"))
          .select(col("source"), TextOps.fingerprint(col("tok")).as("h")),
        Seq("source"), "h")),

    // span-level dedup (Lee et al. 2022 detection, fixed 64-token windows):
    // a shared boilerplate prefix is synthesized in-query on doc_id % 5 = 0
    // (the word-salad corpus has no natural cross-doc spans — q68's
    // synthesize-then-detect pattern), then every duplicated chunk is found
    // via one fingerprint groupBy, never a pairwise comparison
    "q73_chunk_dedup" -> ((s, d) => {
      val boosted = documents(s, d).withColumn("text_b",
        when(pmod(col("doc_id"), lit(5L)) === 0,
          concat(lit(Boilerplate + " "), col("text")))
          .otherwise(col("text")))
      graft.text.Packing.chunkDupStats(
        graft.text.Packing.chunkDocs(boosted, "doc_id", "text_b",
          chunkTokens = 64, strideTokens = 48))
    }),

    // stream-stream interval join through ≥2 micro-batches: purchases
    // attributed to same-user clicks ≤10 min earlier; append-mode inner
    // join ⇒ the drained sink equals the batch interval join (the oracle)
    "q74_stream_interval_join" -> ((s, d) =>
      graft.streaming.StreamJoin.clickPurchaseAttribution(s, d,
        splitDir = s"$genDir/events_split", windowSec = 600L,
        queryName = s"graft_stream_join_${System.nanoTime()}")),

    // CUBE over (returnflag, linestatus): all four grains in ONE scan —
    // completes the rollup (q27) / grouping-sets (q52) / cube family
    "q75_revenue_cube" -> ((s, d) => {
      lineitem(s, d).createOrReplaceTempView("q75_lineitem")
      s.sql(
        s"""SELECT l_returnflag, l_linestatus,
          |  $SparkRevenueSql AS revenue,
          |  count(*) AS n_items
          |FROM q75_lineitem
          |GROUP BY l_returnflag, l_linestatus WITH CUBE""".stripMargin)
    }),

    // mergeable equi-width-histogram quantile sketch over price cents
    // ($10 bins): the per-bin counts are the sketch (map-side combined,
    // shuffle ≤ #bins regardless of row count); the estimate is the lower
    // edge of the first bin whose cumulative count crosses q·n — integers
    // end to end, vs q32's exact per-group sort
    "q76_hist_quantiles" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      lineitem(s, d)
        .withColumn("_cents", cents(col("l_extendedprice"))) // the shared contract
        .select(expr("_cents div 1000").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(w))
        .withColumn("total", sum(col("cnt")).over(wAll))
        .agg(max(col("total")).as("n_rows"),
          min(when(col("cum") * 100 >= col("total") * 50, col("bin") * 1000))
            .as("p50_cents"),
          min(when(col("cum") * 100 >= col("total") * 90, col("bin") * 1000))
            .as("p90_cents"),
          min(when(col("cum") * 100 >= col("total") * 99, col("bin") * 1000))
            .as("p99_cents"))
    }),

    // per-type 3σ outliers, pure integer contract ((n·x−S)² > 9(n·Q−S²)) —
    // the uniform value column has NO 3σ tail (max dev ≈ 1.73σ), so spikes
    // are synthesized in-query on event_id % 997 (q68's pattern): the
    // detector's hits are real and the oracle checks the exact flag set
    "q77_anomaly_3sigma" -> ((s, d) => {
      val ev = events(s, d).select(col("event_id"), col("event_type"),
        (ExactStats.micro(col("value")) * // the shared micro quantization
          when(pmod(col("event_id"), lit(997L)) === 0, 10L).otherwise(1L))
          .cast("long").as("v_micro"))
      graft.ops.Anomaly.threeSigmaOutliers(ev, Seq("event_type"), "event_id",
        "v_micro")
    }),

    // count-min heavy hitters: the sketch is ≤ 3×1024 cells from one
    // map-side-combined groupBy at ANY corpus size; the 20 exact top tokens
    // are the probes, so the oracle shows est ≥ exact cell by cell
    "q78_cms_heavy_hitters" -> ((s, d) => {
      val tok = documents(s, d)
        .select(explode(TextOps.tokensCol(col("text"))).as("tok"))
        .select(col("tok"), TextOps.fingerprint(col("tok")).as("h"))
      val exactTop = tok.groupBy("tok", "h").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("tok").asc).limit(20)
      graft.ops.Sketch.cmsEstimate(graft.ops.Sketch.cmsCells(tok, "h"),
        exactTop, "h")
        .select(col("tok"), col("exact_cnt"), col("cms_est"))
    }),

    // the first BPE merge decision: global adjacent-pair counts, top 50 —
    // one groupBy over the native single-pass shingle expression
    "q79_bpe_pair_counts" -> ((s, d) =>
      documents(s, d)
        .select(explode(TextOps.shinglesAll(col("text"), 2)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc).limit(50)),

    // streaming dedup + stream-static enrichment under the driver contract:
    // every event arrives twice (self-union of split streams — the
    // at-least-once retry shape), watermark-bounded dedup state drops the
    // copies, survivors broadcast-join a static per-user profile
    "q80_stream_dedup_enrich" -> ((s, d) =>
      graft.streaming.StreamDedup.dedupEnrichEvents(s, d,
        splitDir = s"$genDir/events_split",
        queryName = s"graft_stream_dedup_${System.nanoTime()}")),

    // Bloom pre-filter: were all a part's shipments "early" (< 1995-03-01)?
    // build = early-shipped partkeys (~half the parts — genuine partial
    // membership; user/partkey sets in this data are otherwise saturated),
    // probe = every partkey. The filter is ≤ 8192 bit rows no matter the
    // build size, broadcast to the probe; the output exposes the one-sided
    // contract (every member passes; false positives sit next to exact
    // membership)
    "q81_bloom_prefilter" -> ((s, d) => {
      val li = lineitem(s, d)
      val early = li.where(col("l_shipdate") < lit("1995-03-01"))
        .select(col("l_partkey"))
      val probe = graft.ops.Bloom.bloomProbe(li.select(col("l_partkey")),
        graft.ops.Bloom.bloomBits(early, "l_partkey"), "l_partkey")
      probe.join(early.distinct().withColumn("true_member", lit(1)),
          Seq("l_partkey"), "left")
        .select(col("l_partkey"), col("bloom_pass"),
          coalesce(col("true_member"), lit(0)).as("true_member"))
    }),

    // class-confusability: pairwise integer dot products of per-label
    // centroid sums — the corpus collapses to |labels|·64 rows in one
    // map-side groupBy; the pairwise stage is a broadcast self-join of that
    // tiny table, never a vector-level cross product
    "q82_label_affinity" -> ((s, d) =>
      graft.sim.Clustering.labelAffinity(embeddings(s, d), "label", "embedding")),

    // MERGE INTO / SCD-1: a first-half-of-month profile snapshot upserted
    // with second-half purchase records — union + ONE max(struct) aggregate
    // (no window sort, no join), updates beating base on order ties
    "q83_profile_upsert" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("ts_us"), col("event_id"),
        ExactStats.micro(col("value")).cast("long").as("v_micro"))
      graft.ops.Upsert.latestWins(
        ev.where(col("ts_us") < UpsertMidUs),
        ev.where(col("ts_us") >= UpsertMidUs && col("event_type") === "purchase"),
        keyCols = Seq("user_id"), ordCols = Seq("ts_us", "event_id"),
        payloadCols = Seq("v_micro"))
    }),

    // z-order layout report: Morton-interleave (partkey, suppkey) low bits,
    // bucket by the top z bits, report each bucket's min/max envelope on
    // BOTH dimensions — the file-skipping statistics a z-sorted 100 TB
    // table would expose. One derived-integer groupBy, no row shuffle
    "q84_zorder_layout" -> ((s, d) =>
      graft.ops.ZOrder.layoutStats(
        lineitem(s, d).select(pmod(col("l_partkey"), lit(1024)).as("px"),
          pmod(col("l_suppkey"), lit(1024)).as("sx")),
        "px", "sx", bits = 10, bucketShift = 12)),

    // deterministic weighted bottom-k sample (hash A-Res): priority =
    // (fp mod 1e6)·1000 div n_tokens — longer docs win proportionally more
    // often, yet the draw is a pure content function; TakeOrderedAndProject
    // moves only k rows per partition
    "q85_weighted_sample" -> ((s, d) =>
      graft.text.Sampling.weightedPrioritySample(documents(s, d), "doc_id",
        "text", size(TextOps.tokensCol(col("text"))), k = 100)),

    // weighted PageRank over the nation→nation supply graph: the heavy
    // stage is the fact-side edge derivation (orders⋈lineitem shuffle, dims
    // broadcast); 3 integer-exact iterations then run on the 25-node
    // contracted graph with broadcast rank state — fact rows never
    // re-shuffle. (customer is broadcast at bench scale; at a real SF it
    // becomes one more shuffle join on the derivation side only.)
    "q86_nation_pagerank" -> ((s, d) =>
      graft.ops.PageRank.rankMicro(nationTradeEdges(s, d), iterations = 3)
        .select(col("node").as("nation"), col("rank_micro"))),

    // mid-frequency inverted-index slice: df-filter FIRST via semi-join, so
    // head terms never enter a collect_list — bounded per-group state at
    // any corpus size
    "q87_inverted_index" -> ((s, d) =>
      graft.text.Index.invertedIndex(documents(s, d), "doc_id", "text",
        minDf = 5, maxDf = 400, postingCap = 20)),

    // full pairwise covariance sufficient statistics in ONE map-side-
    // combinable pass: the corpus is read once, the shuffle carries a single
    // sufficient-statistics row, and all 6 pairs are arithmetic on it
    "q88_cov_matrix" -> ((s, d) =>
      graft.ops.CovMatrix.pairSums(lineitem(s, d), Seq(
        "qty" -> floor(col("l_quantity") + lit(0.5)),
        "price_d" -> expr("floor(l_extendedprice * 100 + 0.5) div 100"),
        "disc_pm" -> floor(col("l_discount") * 1000 + lit(0.5)),
        "tax_pm" -> floor(col("l_tax") * 1000 + lit(0.5))))),

    // CUSUM level-shift profile per user: one scalar aggregate for the
    // global mean, one shuffle by user; prefix sum + peak ranking + all
    // per-key aggregates inside that single window partition
    "q89_cusum_changepoint" -> ((s, d) => {
      // clamp at the query boundary: cusumPeaks' μ = sum div count is exact
      // cross-engine only for v ≥ 0 (div truncates, // floors) — the clamp
      // makes the precondition a contract instead of a data assumption
      val ev = events(s, d).select(col("user_id"),
        expr("ts div 1000").as("ts_us"), col("event_id"),
        greatest(ExactStats.micro(col("value")).cast("long"), lit(0L))
          .as("v_micro"))
      graft.ops.Anomaly.cusumPeaks(ev, "user_id", "ts_us", "event_id", "v_micro")
    }),

    // character-class Gini impurity: a pure-integer quality signal (no
    // entropy ln() whose last ulp differs across libm builds)
    "q90_char_classes" -> ((s, d) =>
      TextOps.charClassProfile(documents(s, d), "doc_id", "text")),

    // Heaps-law vocabulary growth: bucket by id arithmetic (never a global
    // row_number), two map-side-combinable aggregates, cumulative window
    // over exactly `buckets` rows
    "q91_vocab_growth" -> ((s, d) =>
      graft.text.Index.vocabGrowth(documents(s, d), "doc_id", "text",
        buckets = 10)),

    // asymmetric shingle containment (the quote/boilerplate pattern Jaccard
    // cannot see): inverted-index candidates under a df cap — the skew
    // bound, since the Jaccard prefix filter doesn't apply one-sided
    "q92_containment_pairs" -> ((s, d) =>
      graft.text.Dedup.containmentPairs(documents(s, d), "doc_id", "text",
        n = 3, minContainMilli = 800L, maxDocFreq = 100L)),

    // leakage-safe train/test split: near-dup components (the q61 graph)
    // hash to ONE side as a unit, so no duplicate cluster ever straddles
    // the train/eval boundary — the contamination bug a per-doc split has
    "q93_cluster_split" -> ((s, d) =>
      graft.text.Sampling.clusterSafeSplit(minhashComponents(documents(s, d)),
        "component", trainPermille = 900)),

    // greedy per-language token-budget fill: ONE shuffle by stratum; rank,
    // prefix sum and kept/total aggregates all inside that partition
    "q94_token_budget" -> ((s, d) =>
      graft.text.Mixing.tokenBudgetFill(documents(s, d), "lang", "doc_id",
        size(TextOps.tokensCol(col("text"))), budgetTokens = 2000L)),

    // event-sequence conversion (first view → later purchase): window min +
    // per-user fold in a single user-partitioned shuffle, exact micro lag
    "q95_funnel_conversion" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("ts_us"))
      graft.ops.Funnel.conversionStats(ev, "user_id", "event_type", "ts_us",
        fromType = "view", toType = "purchase")
    }),

    // triangle/wedge census of the SAME near-dup pair graph q61 clusters:
    // high closure ⇒ tight duplicate cliques, low ⇒ borderline chains a
    // transitive closure would over-merge
    "q96_pair_triangles" -> ((s, d) =>
      graft.ops.Triangles.census(
        Dedup.minhashLshPairs(documents(s, d), "doc_id", "text",
          n = 3, numHashes = 16, bands = 4, minEstJaccard = 0.25),
        "id_a", "id_b")),

    // keep-BEST dedup (vs q08's keep-first): one survivor per content
    // group by (quality, id) max(struct) — 8-byte fingerprint shuffle key,
    // no window sort, no text movement
    "q97_dedup_keep_best" -> ((s, d) =>
      Dedup.keepBestDedup(documents(s, d), "doc_id", "text",
        size(TextOps.tokensCol(col("text"))))),

    // per-stratum bottom-k: equal representation however skewed the strata
    // — the global bottom-k (q85) would let a dominant language crowd out
    // the rest; rank runs inside the one stratum shuffle
    "q98_stratified_sample_topk" -> ((s, d) =>
      graft.text.Sampling.stratifiedPrioritySample(documents(s, d), "doc_id",
        "text", "lang", size(TextOps.tokensCol(col("text"))), kPerStratum = 20)),

    // robust center/spread per event type: exact integer lower-median + MAD
    // over (group, value) count histograms — the shuffle carries distinct
    // values, never rows; medians re-enter as a |groups|-row broadcast
    "q99_median_mad" -> ((s, d) => {
      val ev = events(s, d).select(col("event_type"),
        ExactStats.micro(col("value")).cast("long").as("v_micro"))
      graft.ops.Robust.medianMadOutliers(ev, "event_type", "v_micro", k = 5)
    }),

    // the capstone: a user's WHOLE curation pipeline in one query —
    // keep-best dedup → language/length/repetition gates → near-dup
    // components → leakage-safe split → per-split corpus accounting. Every
    // stage is the already-oracled operator (q97, q64/q66 gates, q61
    // components, q93 split) composed end-to-end; the only new code is the
    // composition itself
    "q100_curation_pipeline" -> ((s, d) => {
      val docs = documents(s, d)
      val best = Dedup.keepBestDedup(docs, "doc_id", "text",
        size(TextOps.tokensCol(col("text")))).select(col("doc_id"))
      val filtered = TextOps.langId(docs)
        .join(best, Seq("doc_id"), "left_semi")
        .where(Curation.langEn && Curation.lenOk && Curation.notRepetitive)
        .select(col("doc_id"),
          size(TextOps.tokensCol(col("text"))).cast("long").as("n_tokens"))
      val labeled = filtered.join(minhashComponents(docs), Seq("doc_id"))
      graft.text.Sampling.clusterSafeSplit(labeled, "component", 900)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
          countDistinct("component").as("n_components"))
    }),

    // the ranking-function family over one total order (v, id): rank and
    // dense_rank are tie-stable; ntile/percent_rank/cume_dist are made
    // deterministic by the id tie-break and emitted as exact ppm integers
    // instead of their double forms. Top-100 via the rank (not LIMIT) so
    // the output exercises the rank itself
    "q101_rank_suite" -> ((s, d) => {
      val ev = events(s, d).select(col("event_type"), col("event_id"),
        ExactStats.micro(col("value")).cast("long").as("v_micro"))
      val wVal = Window.partitionBy("event_type").orderBy(col("v_micro"))
      val wTotal = Window.partitionBy("event_type")
        .orderBy(col("v_micro"), col("event_id"))
      val wKey = Window.partitionBy("event_type")
      // ranks widened to LONG before the ppm products: (rnk−1)·10⁶ crosses
      // 2^31 already at ~2150 rows per group
      ev.withColumn("rnk", rank().over(wVal).cast("long"))
        .withColumn("drnk", dense_rank().over(wVal).cast("long"))
        .withColumn("tile4", ntile(4).over(wTotal))
        .withColumn("rn", row_number().over(wTotal).cast("long"))
        .withColumn("n", count(lit(1)).over(wKey))
        .where(col("rn") <= 100)
        .select(col("event_type"), col("event_id"), col("v_micro"),
          col("rnk"), col("drnk"), col("tile4"),
          expr("((rnk - 1) * 1000000) div greatest(n - 1, 1L)").as("pr_ppm"),
          expr("(rn * 1000000) div n").as("cd_ppm"))
    }),

    // percent-of-total (ratio-to-report): each nation's share of its
    // region's revenue in exact ppm — ONE aggregate to nation grain, the
    // region total as a window over the 25-row aggregate, never a second
    // scan of lineitem
    "q111_revenue_share" -> ((s, d) => {
      val li = lineitem(s, d).select(col("l_orderkey"), revenueUnits.as("rev"))
      val ord = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val cust = customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val nat = nation(s, d).select(col("n_nationkey"), col("n_name"),
        col("n_regionkey"))
      val reg = region(s, d).select(col("r_regionkey"), col("r_name"))
      val perNation = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        // DECIMAL(38,0) sum (the revenueDollars overflow discipline),
        // narrowed to LONG at this data's magnitudes
        .agg(sum(col("rev").cast("decimal(38,0)")).cast("long").as("rev_units"))
      perNation
        .withColumn("region_units",
          sum("rev_units").over(Window.partitionBy("r_name")))
        // units·1e6 crosses 2^63 — the ppm product must widen BEFORE div
        .withColumn("share_ppm", expr(
          "(cast(rev_units as decimal(38,0)) * 1000000) div region_units"))
        .select("r_name", "n_name", "rev_units", "share_ppm")
    }),

    // period-over-period: monthly revenue with previous-month delta via
    // lag over the aggregated series (window runs on |months| rows)
    "q112_monthly_delta" -> ((s, d) => {
      val li = lineitem(s, d).select(
        substring(col("l_shipdate").cast("string"), 1, 7).as("month"),
        revenueUnits.as("rev"))
      val monthly = li.groupBy("month")
        .agg(sum(col("rev").cast("decimal(38,0)")).cast("long").as("rev_units"))
      val w = Window.orderBy("month")
      monthly
        .withColumn("prev_units", lag("rev_units", 1).over(w))
        .withColumn("delta_units", col("rev_units") - col("prev_units"))
        .select("month", "rev_units", "prev_units", "delta_units")
    }),

    // sliding windows ACROSS micro-batches: windows overlapping the
    // median split accumulate state from both batches; complete mode ⇒
    // identical final table, so the oracle is q103's
    "q109_stream_sliding_multibatch" -> ((s, d) =>
      graft.streaming.StreamAgg.eventsSlidingWindowedMultiBatch(s, d,
        widthSec = 300L, slideSec = 60L,
        splitDir = s"$genDir/events_split",
        queryName = s"graft_stream_sliding_mb_${System.nanoTime()}")),

    // winsorized robust mean per event type: clip values at the histogram
    // p01/p99 bin edges (the q102 contract), then ONE exact integer mean
    // of the clipped micro values — outlier-insensitive without dropping
    // rows; clip bounds re-enter as a |groups|-row broadcast
    "q110_winsorized_mean" -> ((s, d) => {
      val binW = ValueBinMicro
      val ev = events(s, d).select(col("event_type"),
        ExactStats.micro(col("value")).cast("long").as("v_micro"))
      val bounds = valueBinsCum(ev)
        .groupBy("event_type")
        .agg(min(when(col("cum") * 100 >= col("total"), col("bin") * binW))
            .as("lo_micro"),
          min(when(col("cum") * 100 >= col("total") * 99,
            (col("bin") + 1) * binW - 1)).as("hi_micro"))
      ev.join(broadcast(bounds), "event_type")
        .select(col("event_type"),
          greatest(least(col("v_micro"), col("hi_micro")), col("lo_micro"))
            .as("clipped"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("clipped").as("sum_clipped_micro"),
          expr("sum(clipped) div count(1)").as("winsorized_mean_micro"))
    }),

    // referential-integrity audit: orphan counts for every FK edge of the
    // star schema via left-anti joins (never a driver-side count loop);
    // two orphan keys are synthesized in-query so the checks demonstrably
    // detect, not just report zero (the q68/q77 synthesize-then-detect
    // pattern)
    "q107_integrity_audit" -> ((s, d) => {
      import s.implicits._
      def keys(df: DataFrame, c: String) = df.select(col(c).cast("long").as("k"))
      def pkeys(df: DataFrame, c: String) = df.select(col(c).cast("long").as("pk"))
      def check(name: String, child: DataFrame, parent: DataFrame) =
        child.join(parent, col("k") === col("pk"), "left_anti")
          .agg(count(lit(1)).as("n_violations"))
          .select(lit(name).as("check_name"), col("n_violations"))
      val liOrd = keys(lineitem(s, d), "l_orderkey")
        .unionByName(Seq(-1L, -2L).toDF("k")) // planted orphans
      check("lineitem_orders", liOrd, pkeys(orders(s, d), "o_orderkey"))
        .unionByName(check("lineitem_part",
          keys(lineitem(s, d), "l_partkey"), pkeys(part(s, d), "p_partkey")))
        .unionByName(check("lineitem_supplier",
          keys(lineitem(s, d), "l_suppkey"), pkeys(supplier(s, d), "s_suppkey")))
        .unionByName(check("orders_customer",
          keys(orders(s, d), "o_custkey"), pkeys(customer(s, d), "c_custkey")))
        .unionByName(check("customer_nation",
          keys(customer(s, d), "c_nationkey"), pkeys(nation(s, d), "n_nationkey")))
    }),

    // one-pass column profile (the data-quality report a 100 TB ingest
    // emits per batch): row count, null count, exact distinct per column —
    // ONE aggregate over ONE scan, exploded into per-column rows
    "q108_column_profile" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), col("event_type"),
        col("event_id"), ExactStats.micro(col("value")).cast("long").as("v_micro"),
        expr("ts div 1000").as("ts_us"))
      val cols = Seq("user_id", "event_type", "event_id", "v_micro", "ts_us")
      val aggs = count(lit(1)).as("n_rows") +:
        cols.flatMap(c => Seq(count(col(c)).as(s"nn_$c"),
          countDistinct(col(c)).as(s"nd_$c")))
      val row = ev.agg(aggs.head, aggs.tail: _*)
      val recs = cols.map(c => struct(lit(c).as("col_name"),
        col("n_rows").as("n_rows"),
        (col("n_rows") - col(s"nn_$c")).as("n_nulls"),
        col(s"nd_$c").as("n_distinct")))
      row.select(explode(array(recs: _*)).as("r")).select(col("r.*"))
    }),

    // incremental view maintenance: a "materialized" first-half daily
    // rollup merged with a late-arriving delta batch by SUMMING PARTIAL
    // AGGREGATES — the base is never rescanned, and the oracle (one direct
    // full-scan aggregation) proves merged partials ≡ recompute. The
    // pattern a 100 TB daily-ingest rollup lives on
    "q106_incremental_rollup" -> ((s, d) => {
      val ev = events(s, d).select(col("event_type"),
        expr("ts div 1000").as("ts_us"),
        ExactStats.micro(col("value")).cast("long").as("v_micro"))
      def rollup(part: DataFrame) = part
        .groupBy(expr(s"ts_us div ${86400L * 1000000L}").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sum("v_micro").as("sum_micro"))
      val base = rollup(ev.where(col("ts_us") < UpsertMidUs))
      val delta = rollup(ev.where(col("ts_us") >= UpsertMidUs))
      base.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(sum("n").as("n"), sum("sum_micro").as("sum_micro"))
    }),

    // as-of with a staleness bound: attach the latest prior view only if it
    // is at most 10 minutes old — matches beyond the tolerance revert to
    // null. Same single-shuffle union+carry plan as q04; the bound is one
    // comparison on the carried struct
    "q105_asof_tolerance" -> ((s, d) => {
      val ev = events(s, d).withColumn("ts_us", expr("ts div 1000"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_us"))
      val views = ev.where(col("event_type") === "view")
        .groupBy("user_id", "ts_us")
        .agg(min(col("event_id")).as("view_id"))
      AsOf.asofBackwardTolerance(purchases, views, Seq("user_id"), "ts_us",
        Seq("view_id"), toleranceUs = 600000000L)
    }),

    // the BUILT-IN session_window operator in batch mode (gapSessions; the
    // custom flatMapGroupsWithState streaming sessionization is q40/q55)
    "q104_session_window" -> ((s, d) =>
      Sessionize.gapSessions(events(s, d)).select(col("user_id"),
        col("start_us").as("session_start_us"),
        col("end_us").as("session_end_us"), col("n_events"),
        col("sum_v_micro"))),

    // sliding event-time windows (width 300s, slide 60s — every event in 5
    // overlapping windows), as a real streaming query; the oracle replays
    // the assignment as event × offset-range
    "q103_stream_sliding" -> ((s, d) =>
      graft.streaming.StreamAgg.eventsSlidingWindowed(s, d,
        widthSec = 300L, slideSec = 60L,
        queryName = s"graft_stream_sliding_${System.nanoTime()}")),

    // per-group histogram quantiles: the q76 equi-width-bin contract
    // PARTITIONED by event type — bins aggregate map-side (|groups|·|bins|
    // rows of shuffle), the quantile selection is a tiny per-group window
    "q102_group_quantiles" -> ((s, d) => {
      val binW = ValueBinMicro
      val ev = events(s, d).select(col("event_type"),
        ExactStats.micro(col("value")).cast("long").as("v_micro"))
      valueBinsCum(ev)
        .groupBy("event_type")
        .agg(max("total").as("n_rows"),
          min(when(col("cum") * 100 >= col("total") * 50,
            col("bin") * binW)).as("p50_micro"),
          min(when(col("cum") * 100 >= col("total") * 90,
            col("bin") * binW)).as("p90_micro"),
          min(when(col("cum") * 100 >= col("total") * 99,
            col("bin") * binW)).as("p99_micro"))
    }),

    // retention cohorts: customers keyed by first-order month, activity
    // counted by months-since-cohort — ONE window (min over the custkey
    // partition, same shuffle the groupBy would need anyway) then one
    // aggregate to (cohort, offset) grain; month index year·12+month keeps
    // the calendar arithmetic integer on both engines
    "q113_retention_cohorts" -> ((s, d) => {
      val o = orders(s, d).select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("midx"))
      val w = Window.partitionBy("o_custkey")
      o.withColumn("cohort_idx", min("midx").over(w))
        .groupBy(col("cohort_idx"),
          (col("midx") - col("cohort_idx")).as("month_offset"))
        .agg(countDistinct(col("o_custkey")).as("active_customers"),
          count(lit(1)).as("n_orders"))
    }),

    // RFM segmentation without a global-window ntile (a single-partition
    // sort over |customers| rows would serialize at scale): quartile edges
    // come from the q102 cumulative-histogram contract over a MELTED
    // (metric, bin) aggregate — one shuffle for all three metrics — and
    // re-enter as a one-row broadcast; tiles are integer bin comparisons
    "q114_rfm_segments" -> ((s, d) => {
      val perCust = orders(s, d)
        .groupBy(col("o_custkey"))
        // o_orderdate is TIMESTAMP_NTZ; the session zone is pinned UTC, so
        // the cast is the identity mapping and matches DuckDB's epoch_us
        .agg(max(expr(
            "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"))
            .as("last_day"),
          count(lit(1)).as("freq"),
          sum(cents(col("o_totalprice")).cast("decimal(38,0)"))
            .cast("long").as("mon_cents"))
      val anchor = perCust.agg(max("last_day").as("anchor_day"))
      // recency bin width 1 day, frequency width 1, monetary width $1000
      val m = perCust.crossJoin(broadcast(anchor))
        .select(col("o_custkey"), col("freq"), col("mon_cents"),
          (col("anchor_day") - col("last_day")).as("rec_days"))
        .withColumn("r_bin", col("rec_days"))
        .withColumn("f_bin", col("freq"))
        .withColumn("m_bin", expr("mon_cents div 100000"))
      val melted = m.select(explode(array(
        struct(lit("r").as("metric"), col("r_bin").as("bin")),
        struct(lit("f").as("metric"), col("f_bin").as("bin")),
        struct(lit("m").as("metric"), col("m_bin").as("bin")))).as("x"))
        .select(col("x.metric"), col("x.bin"))
      val bins = melted.groupBy("metric", "bin").agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy("metric").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy("metric")
      val edges = bins.withColumn("cum", sum("cnt").over(wCum))
        .withColumn("total", sum("cnt").over(wTot))
        .groupBy("metric")
        .agg(min(when(col("cum") * 4 >= col("total"), col("bin"))).as("e1"),
          min(when(col("cum") * 4 >= col("total") * 2, col("bin"))).as("e2"),
          min(when(col("cum") * 4 >= col("total") * 3, col("bin"))).as("e3"))
      // 3 rows → one broadcast row of 9 edge columns
      val edgeRow = edges.groupBy()
        .agg(min(when(col("metric") === "r", col("e1"))).as("r1"),
          min(when(col("metric") === "r", col("e2"))).as("r2"),
          min(when(col("metric") === "r", col("e3"))).as("r3"),
          min(when(col("metric") === "f", col("e1"))).as("f1"),
          min(when(col("metric") === "f", col("e2"))).as("f2"),
          min(when(col("metric") === "f", col("e3"))).as("f3"),
          min(when(col("metric") === "m", col("e1"))).as("m1"),
          min(when(col("metric") === "m", col("e2"))).as("m2"),
          min(when(col("metric") === "m", col("e3"))).as("m3"))
      def tile(bin: Column, e1: Column, e2: Column, e3: Column): Column =
        lit(1L) + (bin > e1).cast("long") + (bin > e2).cast("long") +
          (bin > e3).cast("long")
      m.crossJoin(broadcast(edgeRow))
        // recency tile 4 = MOST recent (low rec_days) per RFM convention
        .select(col("o_custkey"), col("freq"), col("mon_cents"),
          (lit(5L) - tile(col("r_bin"), col("r1"), col("r2"), col("r3")))
            .as("r_tile"),
          tile(col("f_bin"), col("f1"), col("f2"), col("f3")).as("f_tile"),
          tile(col("m_bin"), col("m1"), col("m2"), col("m3")).as("m_tile"))
        .groupBy("r_tile", "f_tile", "m_tile")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("mon_cents")).as("monetary_cents_total"))
    }),

    // gaps-and-islands: maximal runs of consecutive active months per
    // customer via the classic midx − row_number island key, aggregated to
    // a streak-length census; both window and aggregate shuffle on custkey
    "q115_order_streaks" -> ((s, d) => {
      val om = orders(s, d).select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("midx")).distinct()
      val w = Window.partitionBy("o_custkey").orderBy("midx")
      om.withColumn("island", col("midx") - row_number().over(w).cast("long"))
        .groupBy("o_custkey", "island")
        .agg(count(lit(1)).as("streak_len"))
        .groupBy("streak_len")
        .agg(count(lit(1)).as("n_streaks"),
          countDistinct(col("o_custkey")).as("n_customers"))
    }),

    // first-order Markov chain over per-user event sequences: transition
    // counts from one lead() window (ordered by ts, event_id — ties are
    // pinned), probabilities in exact ppm against the from-state total.
    // cnt·1e6 stays in LONG to ~9e12 transitions per from-state
    "q116_markov_transitions" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), col("event_id"),
        col("event_type"), col("ts"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      ev.withColumn("to_type", lead("event_type", 1).over(w))
        .where(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("total", sum("cnt").over(Window.partitionBy("from_type")))
        .select(col("from_type"), col("to_type"), col("cnt"),
          expr("(cnt * 1000000) div total").as("p_ppm"))
    }),

    // run-length encoding census: maximal runs of the same event type per
    // user (the storage/compression question "how repetitive is this
    // stream?") via the lag-break + prefix-sum run id; both the run
    // aggregate and the census shuffle on small grains only
    "q117_state_runs" -> ((s, d) => {
      Sessionize.stateRuns(events(s, d), "ts")
        .groupBy("user_id", "run_id", "event_type")
        .agg(count(lit(1)).as("run_len"))
        .groupBy("event_type", "run_len")
        .agg(count(lit(1)).as("n_runs"))
    }),

    // time-weighted average: each value holds until the next event, so the
    // mean weights by the holding interval — Σ(v·gap) div Σ(gap) per user.
    // The per-row product v_micro·gap_us crosses 2^63 (1e8·1e14), so it
    // widens to DECIMAL(38,0) BEFORE the multiply (HUGEINT in the mirror);
    // values are non-negative, so floor-div ≡ integer div on both engines
    "q118_time_weighted_avg" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("ts_us"),
        ExactStats.micro(col("value")).cast("long").as("vm"))
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      ev.withColumn("next_us", lead("ts_us", 1).over(w))
        .where(col("next_us").isNotNull)
        .select(col("user_id"), col("vm"),
          (col("next_us") - col("ts_us")).as("gap_us"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_intervals"),
          sum("gap_us").as("span_us"),
          expr("sum(cast(vm as decimal(38,0)) * gap_us) div sum(gap_us)")
            .as("twa_micro"))
        .where(col("span_us") > 0)
    }),

    // similarity self-join with prefix blocking, computed on the DISTINCT
    // NAME GRAIN: the quadratic Levenshtein join runs over unique names
    // (weighted by multiplicity), not rows — row-grain blocks here are
    // ~2500² pairs each (34 s at sf0.1); the distinct grain is ~60² total.
    // Row-pair counts reconstruct exactly: c1·c2 across different names,
    // C(c,2) within an identical name. First-token blocking still shards
    // the distinct-grain join at scale
    "q119_name_edit_pairs" -> ((s, d) => {
      val names = part(s, d).groupBy(col("p_name"))
        .agg(count(lit(1)).as("c"))
        .withColumn("t1", expr("split_part(p_name, ' ', 1)"))
      val a = names.select(col("p_name").as("n1"), col("c").as("c1"), col("t1"))
      val b = names.select(col("p_name").as("n2"), col("c").as("c2"), col("t1"))
      val diff = a.join(b, Seq("t1"))
        .where(col("n1") < col("n2"))
        .select(levenshtein(col("n1"), col("n2")).cast("long").as("dist"),
          (col("c1") * col("c2")).as("npairs"))
      val same = names.select(lit(0L).as("dist"),
        expr("c * (c - 1) div 2").as("npairs"))
      diff.unionByName(same)
        .where(col("dist") <= 8 && col("npairs") > 0)
        .groupBy("dist")
        .agg(sum("npairs").as("n_pairs"))
    }),

    // market-basket co-occurrence: brand pairs appearing in one order, with
    // support in exact ppm of all orders. The per-order brand set is ≤ the
    // line count (≤7), so the self-join blowup is linear in orders, not
    // quadratic in lineitem; part joins by key (a 2-column projection —
    // dimension-sized, but NOT assumed broadcastable at 100 TB)
    "q120_basket_brand_pairs" -> ((s, d) => {
      val li = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
      val pr = part(s, d).select(col("p_partkey"), col("p_brand"))
      val ob = li.join(pr, col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand")).distinct()
      val total = ob.select(countDistinct("l_orderkey").as("total_orders"))
      val pairs = ob.select(col("l_orderkey"), col("p_brand").as("brand_a"))
        .join(ob.select(col("l_orderkey"), col("p_brand").as("brand_b")),
          "l_orderkey")
        .where(col("brand_a") < col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(count(lit(1)).as("n_orders"))
      pairs.crossJoin(broadcast(total))
        .select(col("brand_a"), col("brand_b"), col("n_orders"),
          expr("(n_orders * 1000000) div total_orders").as("support_ppm"))
    }),

    // out-of-vocabulary rate against a corpus-derived top-1000 vocabulary
    // (df DESC, token ASC — the deterministic top-k both engines agree on);
    // the vocab re-enters as a broadcast, per-doc rates quantize to exact
    // ppm, and the output is a decile census per language — constant-size
    // regardless of corpus scale
    "q121_oov_rate" -> ((s, d) => {
      val tok = documents(s, d).select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("token"))
      val dfTok = tok.select("doc_id", "token").distinct()
        .groupBy("token").agg(count(lit(1)).as("df"))
      val vocab = dfTok.orderBy(col("df").desc, col("token")).limit(1000)
        .select(col("token"), lit(1L).as("in_vocab"))
      val perDoc = tok.join(broadcast(vocab), Seq("token"), "left")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      perDoc.groupBy(col("lang"),
          expr("((n_oov * 1000000) div n_tokens) div 100000").as("oov_decile"))
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
    }),

    // recency-weighted rolling feature: a truncated EWMA over each user's
    // last 16 events with exact power-of-two weights (newest 2^15 … oldest
    // 2^0) — Σ(v·w) div Σ(w) on integers, no float decay chain whose
    // rounding would drift between engines. row_number caps per-user work
    // at 16 rows no matter the history length
    "q122_ewma_last16" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("ts_us"),
        ExactStats.micro(col("value")).cast("long").as("vm"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      ev.withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 16)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_used"),
          max(when(col("rn") === 1, col("vm"))).as("last_micro"),
          expr("sum(vm * shiftleft(1L, cast(16 - rn as int))) div " +
            "sum(shiftleft(1L, cast(16 - rn as int)))").as("ewma_micro"))
    }),

    // interval-to-grid explode: 30-minute-gap sessions (the q104
    // session_window contract) unrolled onto the hour grid they overlap via
    // sequence() — the bounded-explode pattern that turns interval overlap
    // into an equi-keyed aggregate; census by hour of day stays 24 rows at
    // any scale
    "q123_session_hour_grid" -> ((s, d) => {
      Sessionize.gapSessions(events(s, d))
        .select(col("user_id"), explode(sequence(
          expr("start_us div 3600000000"),
          expr("(end_us - 1) div 3600000000"))).as("hour_idx"))
        .groupBy(expr("hour_idx % 24").as("hour_of_day"))
        .agg(count(lit(1)).as("n_session_hours"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // weekday × hour seasonality profile: day-of-week from pure epoch-day
    // arithmetic ((days+4) mod 7, 0=Sunday — no engine-specific dow
    // convention), exact integer means; single map-side-combining aggregate
    "q124_weekday_profile" -> ((s, d) => {
      val ev = events(s, d).select(col("event_type"),
        expr("ts div 1000").as("ts_us"),
        ExactStats.micro(col("value")).cast("long").as("vm"))
      ev.groupBy(col("event_type"),
          expr("((ts_us div 86400000000) + 4) % 7").as("dow"),
          expr("(ts_us div 3600000000) % 24").as("hod"))
        .agg(count(lit(1)).as("n"), sum("vm").as("sum_micro"),
          expr("sum(vm) div count(1)").as("mean_micro"))
    }),

    // SCD2 version history + point-in-time lookup: per-user state = the
    // event type, versions = maximal runs of one state (the q117 run id),
    // validity [run start, next run start); the "as of T" state is read
    // with one predicate on the interval — no second scan, no sort beyond
    // the user-partition window the runs already need
    "q125_scd2_versions" -> ((s, d) => {
      val tMid = UpsertMidUs
      Sessionize.stateVersions(events(s, d))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_versions"),
          max(when(col("valid_from") <= tMid &&
            (col("valid_to").isNull || col("valid_to") > tMid),
            col("event_type"))).as("state_at_t"),
          max(when(col("valid_from") <= tMid &&
            (col("valid_to").isNull || col("valid_to") > tMid),
            col("valid_from"))).as("t_version_start_us"))
    }),

    // sequence mining: the top-10 three-step event-type paths across all
    // user histories — two leads over one window, one aggregate, then a
    // deterministic ordered limit (count DESC, path ASC); candidate paths
    // are at most |types|³ so the agg output is tiny at any scale
    "q126_path_trigrams" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), col("event_id"),
        col("event_type"), col("ts"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      ev.withColumn("t2", lead("event_type", 1).over(w))
        .withColumn("t3", lead("event_type", 2).over(w))
        .where(col("t2").isNotNull && col("t3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
          .as("path"))
        .groupBy("path").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("path"))
        .limit(10)
    }),

    // token co-occurrence lift (PMI without the log): for top-100-df token
    // pairs, lift = P(ab)/(P(a)P(b)) = cnt·N/(df_a·df_b) in exact milli
    // units — the vocab bounds the self-join to ≤ C(100,2) pairs per doc
    // partition, and cnt·N·1000 widens to DECIMAL(38,0) before the product
    "q127_token_lift" -> ((s, d) => {
      val docs = documents(s, d)
      val tok = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("token")).distinct()
      val dfTok = tok.groupBy("token").agg(count(lit(1)).as("df"))
      val vocab = dfTok.orderBy(col("df").desc, col("token")).limit(100)
      val tv = tok.join(broadcast(vocab), Seq("token"))
      val n = docs.select(countDistinct("doc_id").as("n_docs"))
      val pairs = tv.select(col("doc_id"), col("token").as("token_a"),
          col("df").as("df_a"))
        .join(tv.select(col("doc_id"), col("token").as("token_b"),
          col("df").as("df_b")), "doc_id")
        .where(col("token_a") < col("token_b"))
        .groupBy("token_a", "df_a", "token_b", "df_b")
        .agg(count(lit(1)).as("cnt"))
      pairs.crossJoin(broadcast(n))
        .select(col("token_a"), col("token_b"), col("cnt"),
          expr("cast((cast(cnt as decimal(38,0)) * n_docs * 1000) div " +
            "(df_a * df_b) as bigint)").as("lift_milli"))
    }),

    // int8 vector quantization with exact reconstruction-error audit: per
    // dimension, min/max in micro units define the 0..255 code range;
    // codes, reconstruction, and |error| are all integer arithmetic on
    // non-negative offsets. Two passes over the exploded elements (bounds,
    // then errors with the 64-row bounds broadcast back) — both map-side
    // combinable, so the 64× explode never shuffles at element grain
    "q128_vector_quantize" -> ((s, d) => {
      val el = embeddings(s, d).select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          ExactStats.micro(col("x").cast("double")).cast("long").as("xm"))
      val bounds = el.groupBy("dim")
        .agg(min("xm").as("minm"), max("xm").as("maxm"))
      el.join(broadcast(bounds), "dim")
        .withColumn("q",
          expr("((xm - minm) * 255) div greatest(maxm - minm, 1L)"))
        .withColumn("recon",
          expr("minm + (q * (maxm - minm)) div 255"))
        .withColumn("err", abs(col("xm") - col("recon")))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"), min("minm").as("min_micro"),
          max("maxm").as("max_micro"),
          sum("err").as("sum_abs_err_micro"),
          max("err").as("max_abs_err_micro"),
          expr("sum(err) div count(1)").as("mean_abs_err_micro"))
    }),

    // compaction planning (the small-files problem at ingest): per
    // ship-month partition, rows → estimated bytes (fixed 120 B/row
    // contract) → file count at a 128 MiB target → rows per file, all in
    // ceil-division integer arithmetic over one aggregate
    "q129_compaction_plan" -> ((s, d) => {
      val target = 134217728L // 128 MiB
      lineitem(s, d)
        .groupBy(substring(col("l_shipdate").cast("string"), 1, 7).as("month"))
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("est_bytes", col("n_rows") * 120L)
        .withColumn("target_files",
          expr(s"(est_bytes + ${target - 1}) div $target"))
        .withColumn("rows_per_file",
          expr("(n_rows + target_files - 1) div target_files"))
    }),

    // band (range) join via bucketing (purchaseViewBand): views within
    // ±10 min of each purchase for the same user, counted per purchase;
    // zero-match purchases survive via the left join
    "q130_band_join_views" -> ((s, d) =>
      purchaseViewBand(s, d)
        .groupBy("purchase_id", "user_id", "p_us")
        .agg(count(col("v_us")).as("n_views_near"))),

    // association/contingency analysis: market segment × order priority
    // with expected counts under independence and exact milli lift
    // obs·T/(r·c) — marginals are windows over the ≤ |seg|·|prio| cell
    // aggregate, never a second fact scan; obs·T·1000 widens to
    // DECIMAL(38,0) before the product
    "q131_segment_priority_lift" -> ((s, d) => {
      val o = orders(s, d).select(col("o_custkey"), col("o_orderpriority"))
      val c = customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      val cells = o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("o_orderpriority"))
        .agg(count(lit(1)).as("obs"))
      cells
        .withColumn("r_tot",
          sum("obs").over(Window.partitionBy("c_mktsegment")))
        .withColumn("c_tot",
          sum("obs").over(Window.partitionBy("o_orderpriority")))
        .withColumn("t_tot", sum("obs").over(Window.partitionBy()))
        .select(col("c_mktsegment"), col("o_orderpriority"), col("obs"),
          expr("cast((cast(r_tot as decimal(38,0)) * c_tot * 1000) div t_tot" +
            " as bigint)").as("expected_milli"),
          expr("cast((cast(obs as decimal(38,0)) * t_tot * 1000) div " +
            "(r_tot * c_tot) as bigint)").as("lift_milli"))
    }),

    // calendar-dimension build + coverage audit: the full day grid between
    // the first and last order (one global min/max, sequence explode —
    // calendar-bounded, never fact-bounded), day-of-week by epoch
    // arithmetic, per-day order counts left-joined so zero-order gap days
    // survive with is_gap = 1
    "q132_calendar_coverage" -> ((s, d) => {
      val o = orders(s, d).select(
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
          .as("day"))
      val span = o.agg(min("day").as("d0"), max("day").as("d1"))
      val grid = span.select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val perDay = o.groupBy("day").agg(count(lit(1)).as("n_orders"))
      grid.join(perDay, Seq("day"), "left")
        .select(col("day"), expr("(day + 4) % 7").as("dow"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          when(col("n_orders").isNull, 1L).otherwise(0L).as("is_gap"))
    }),

    // indexed (rebased) series: monthly revenue as basis points of the
    // first month — first_value over the |months|-row aggregate; the bp
    // product widens to DECIMAL(38,0) (rev_units·1e4 crosses 2^63 at
    // ~100 TB revenue magnitudes)
    "q133_revenue_index" -> ((s, d) => {
      val monthly = lineitem(s, d)
        .groupBy(substring(col("l_shipdate").cast("string"), 1, 7).as("month"))
        .agg(sum(revenueUnits.cast("decimal(38,0)")).cast("long")
          .as("rev_units"))
      val w = Window.orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      monthly
        .withColumn("base_units", first("rev_units").over(w))
        .select(col("month"), col("rev_units"),
          expr("cast((cast(rev_units as decimal(38,0)) * 10000) div " +
            "base_units as bigint)").as("index_bp"))
    }),

    // skyline (Pareto frontier) query: parts where no other part is both
    // bigger and cheaper — the frontier test runs on the |sizes|-row
    // min-price aggregate (a strict-larger cumulative min), and only
    // frontier (size, price) keys re-enter as a broadcast to pick the rows;
    // the fact table is never sorted globally
    "q134_pareto_frontier" -> ((s, d) => {
      val p = part(s, d).select(col("p_partkey"),
        col("p_size").cast("long").as("size"),
        cents(col("p_retailprice")).as("price_cents"))
      val bySize = p.groupBy("size").agg(min("price_cents").as("size_min"))
      val w = Window.orderBy(col("size").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val frontierSizes = bySize
        .withColumn("larger_min", min("size_min").over(w))
        .where(col("larger_min").isNull ||
          col("size_min") < col("larger_min"))
        .select(col("size"), col("size_min"))
      p.join(broadcast(frontierSizes), Seq("size"))
        .where(col("price_cents") === col("size_min"))
        .select(col("p_partkey"), col("size"), col("price_cents"))
    }),

    // dedup against a historical corpus: incoming docs (odd ids) are novel
    // iff their content fingerprint never appears in history (even ids) —
    // a fingerprint left-anti join, then a per-language novelty census in
    // exact ppm. The 8-byte fingerprint is all that shuffles, never text
    "q135_novelty_vs_history" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("lang"),
        TextOps.fingerprint(col("text")).as("fp"))
      val history = docs.where(col("doc_id") % 2 === 0).select("fp").distinct()
      val incoming = docs.where(col("doc_id") % 2 === 1)
      val novel = incoming.join(history, Seq("fp"), "left_anti")
        .groupBy("lang").agg(count(lit(1)).as("n_novel"))
      incoming.groupBy("lang").agg(count(lit(1)).as("n_incoming"))
        .join(novel, Seq("lang"), "left")
        .select(col("lang"), col("n_incoming"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          expr("(coalesce(n_novel, 0L) * 1000000) div n_incoming")
            .as("novelty_ppm"))
    }),

    // market concentration (Herfindahl index): per nation, Σ share_ppm² of
    // supplier revenue, rendered in ppm — shares are exact integer ppm per
    // supplier (window over the supplier-grain aggregate), squares stay in
    // LONG (share ≤ 1e6 ⇒ square ≤ 1e12)
    "q136_supplier_hhi" -> ((s, d) => {
      val li = lineitem(s, d).select(col("l_suppkey"), revenueUnits.as("rev"))
      val sup = supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      val nat = nation(s, d).select(col("n_nationkey"), col("n_name"))
      val perSup = li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("s_suppkey"))
        .agg(sum(col("rev").cast("decimal(38,0)")).cast("long").as("rev_units"))
      perSup
        .withColumn("nation_units",
          sum("rev_units").over(Window.partitionBy("n_name")))
        .withColumn("share_ppm", expr(
          "(cast(rev_units as decimal(38,0)) * 1000000) div nation_units"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_suppliers"),
          expr("sum(share_ppm * share_ppm) div 1000000").as("hhi_ppm"))
    }),

    // watermark late-drop, observable: append-mode tumbling windows over a
    // 3-batch late-replay source — live head (even ids), in-watermark
    // top-up (odd ids after the fixed split), then a late replay of sealed
    // history (odd ids before it) arriving after its windows were evicted.
    // The oracle replays the measured drop rule (drop on arrival iff
    // window end ≤ the watermark set by the prior batch) and the final
    // emission rule as integer watermark arithmetic
    "q137_stream_late_drop" -> ((s, d) =>
      graft.streaming.StreamAgg.eventsWindowedLateDrop(s, d,
        windowSec = 300L, splitDir = s"$genDir/events_late_split",
        splitUs = UpsertMidUs,
        queryName = s"graft_stream_late_${System.nanoTime()}")),

    // WEIGHTED median: the q102 histogram-quantile contract with a weight
    // column (line quantity) — cumulative WEIGHT, not row count, crosses
    // the 50% threshold; shuffle carries (flag, bin) weight sums only
    "q138_weighted_median" -> ((s, d) => {
      val binW = 10000000L
      val li = lineitem(s, d).select(col("l_returnflag"),
        expr("floor(l_quantity + 0.5)").as("wgt"),
        revenueUnits.as("rev"))
      val bins = li.groupBy(col("l_returnflag"),
          expr(s"rev div $binW").as("bin"))
        .agg(sum("wgt").as("w"))
      val wCum = Window.partitionBy("l_returnflag").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy("l_returnflag")
      bins.withColumn("cum", sum("w").over(wCum))
        .withColumn("total", sum("w").over(wTot))
        .groupBy("l_returnflag")
        .agg(max("total").as("total_weight"),
          min(when(col("cum") * 2 >= col("total"), col("bin") * binW))
            .as("wmedian_units_lo"))
    }),

    // session-duration histogram: the q104 session_window sessions bucketed
    // by 5-minute duration bands — one census row per band, composing the
    // built-in session operator with integer bucketing
    "q139_session_duration_hist" -> ((s, d) => {
      val sess = Sessionize.gapSessions(events(s, d)).select(col("n_events"),
        (col("end_us") - col("start_us")).as("dur_us"))
      sess.groupBy(expr("dur_us div 300000000").as("dur_bucket_5m"))
        .agg(count(lit(1)).as("n_sessions"),
          sum("n_events").as("sum_events"),
          max("dur_us").as("max_dur_us"))
    }),

    // Benford first-digit audit (fraud/quality signal on money columns):
    // the leading digit comes from the decimal STRING of the cents value —
    // pure integer+string ops, no log10 whose last ulp differs across
    // libm builds. Expected Benford shares ship as exact ppm literals;
    // observed share in ppm from one aggregate
    "q140_benford_audit" -> ((s, d) => {
      val benford = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
        4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L,
        9 -> 45757L)
      val expected = benford.map { case (dd, ppm) =>
        struct(lit(dd.toLong).as("digit"), lit(ppm).as("benford_ppm"))
      }
      val digits = orders(s, d).select(
        substring(cents(col("o_totalprice")).cast("string"), 1, 1)
          .cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .withColumn("total", sum("n").over(Window.partitionBy()))
        .select(col("digit"), col("n"),
          expr("(n * 1000000) div total").as("observed_ppm"))
      val exp = (s.range(1).select(
        explode(array(expected: _*)).as("e"))).select(col("e.*"))
      digits.join(broadcast(exp), Seq("digit"))
        .select(col("digit"), col("n"), col("observed_ppm"),
          col("benford_ppm"),
          (col("observed_ppm") - col("benford_ppm")).as("deviation_ppm"))
    }),

    // multi-touch attribution: each purchase's 1e6 ppm of credit splits
    // equally across its in-band views (the q130 bucketed band join), and
    // credit rolls up by the VIEW's hour of day — floor division leaves
    // ≤ (n_views−1) ppm unassigned per purchase, a documented remainder
    "q141_attribution_credit" -> ((s, d) => {
      val pairs = purchaseViewBand(s, d).where(col("v_us").isNotNull)
        .select(col("purchase_id"), col("v_us"))
      pairs
        .withColumn("n_views",
          count(lit(1)).over(Window.partitionBy("purchase_id")))
        .select(expr("(v_us div 3600000000) % 24").as("view_hod"),
          expr("1000000 div n_views").as("credit_ppm"))
        .groupBy("view_hod")
        .agg(count(lit(1)).as("n_touches"),
          sum("credit_ppm").as("credit_ppm_total"))
    }),

    // trailing 7-DAY revenue via a RANGE frame on the sparse day series —
    // range frames measure VALUE distance (calendar days), not row
    // distance, so missing days shorten the window (n_days_in_window
    // exposes it); the window runs on the |days|-row aggregate
    "q142_rolling_7day_revenue" -> ((s, d) => {
      val daily = lineitem(s, d)
        .groupBy(expr(
          "unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
          .as("day"))
        .agg(sum(revenueUnits.cast("decimal(38,0)")).cast("long")
          .as("rev_units"))
      val w = Window.orderBy("day").rangeBetween(-6, 0)
      daily
        .withColumn("rev_7d_units", sum("rev_units").over(w))
        .withColumn("n_days_in_window", count(lit(1)).over(w))
    }),

    // hierarchy rollup with an EXACT DISTINCT aggregate: active customers
    // per (region, nation) and the rolled-up totals — distinct-under-
    // rollup is the Expand + two-shuffle stressor plain sums never hit;
    // totals coalesce to 'ALL' markers identically on both engines
    "q143_distinct_rollup" -> ((s, d) => {
      val o = orders(s, d).select(col("o_custkey"))
      val cust = customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val nat = nation(s, d).select(col("n_nationkey"), col("n_name"),
        col("n_regionkey"))
      val reg = region(s, d).select(col("r_regionkey"), col("r_name"))
      o.join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(countDistinct(col("o_custkey")).as("n_active_customers"),
          count(lit(1)).as("n_orders"))
        .select(coalesce(col("r_name"), lit("ALL")).as("region"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("n_active_customers"), col("n_orders"))
    }),

    // fulfillment lag: ship − order date in whole days, histogrammed per
    // priority — a fact-to-fact equi-join on the order key (co-partitioned
    // by the same key both sides shuffle on), then a tiny census
    "q144_fulfillment_lag" -> ((s, d) => {
      val li = lineitem(s, d).select(col("l_orderkey"), expr(
        "unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
        .as("ship_day"))
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
          .as("order_day"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"),
          (col("ship_day") - col("order_day")).as("lag_days"))
        .agg(count(lit(1)).as("n_lines"))
    }),

    // revenue concentration (lorenzCurve) — "the top X% of orders carry
    // Y% of revenue" as exact cumulative ppm per $1000 bin; no global row
    // sort, the curve lives on the |bins|-row aggregate
    "q145_lorenz_curve" -> ((s, d) =>
      lorenzCurve(s, d).select(expr("bin * 100000").as("bin_lo_cents"),
        col("n"), col("cum_orders_ppm"), col("cum_revenue_ppm"))),

    // approximation-quality audit: LSH candidate pairs (q16's banding)
    // scored against the exact high-Jaccard truth set (q13's prefix-
    // filtered pairs) — recall and candidate precision in exact ppm, one
    // row out. The composition reuses both oracled pair generators, so
    // the audit cannot drift from what it audits
    "q146_lsh_recall_audit" -> ((s, d) => {
      val docs = documents(s, d)
      val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
        minJaccard = 0.8, maxDocFreq = 1000L).select("id_a", "id_b")
      val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, numHashes = 16, bands = 4, minEstJaccard = 0.25)
        .select("id_a", "id_b")
      val hit = truth.join(lsh, Seq("id_a", "id_b"), "left_semi")
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(lsh.agg(count(lit(1)).as("n_lsh"))))
        .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
        .select(col("n_truth"), col("n_lsh"), col("n_hit"),
          expr("(n_hit * 1000000) div n_truth").as("recall_ppm"),
          expr("(n_hit * 1000000) div n_lsh").as("candidate_precision_ppm"))
    }),

    // the vector-side twin of q146: IVF ANN top-5 lists (q49's cell-probe
    // path) scored against exact brute-force cosine top-5 (q14) — set
    // recall in exact ppm, one row out, reusing both oracled rankers
    "q147_ann_recall_audit" -> ((s, d) => {
      val emb = embeddings(s, d)
      val qs = emb.where(col("vec_id") < 10)
      val exact = Similarity.cosineTopK(emb, qs, "vec_id", "embedding", 5)
        .select("query_id", "cand_id")
      val approx = Similarity.ivfCosineTopK(emb, qs, "vec_id", "embedding", 5,
        nCells = 16, nProbe = 4).select("query_id", "cand_id")
      val hit = exact.join(approx, Seq("query_id", "cand_id"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(broadcast(approx.agg(count(lit(1)).as("n_approx"))))
        .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
        .select(col("n_exact"), col("n_approx"), col("n_hit"),
          expr("(n_hit * 1000000) div n_exact").as("recall_ppm"))
    }),

    // cohort lifetime-value curve: q113's retention matrix extended with
    // revenue and cumulative revenue per cohort over month offsets, plus
    // retention in exact ppm of the cohort's size (= its offset-0 actives,
    // which every member hits by definition of the cohort month). All
    // windows run on the (cohort, offset) aggregate, never raw orders
    "q148_cohort_ltv" -> ((s, d) => {
      val o = orders(s, d).select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("midx"),
        cents(col("o_totalprice")).as("v"))
      val w = Window.partitionBy("o_custkey")
      val cells = o.withColumn("cohort_idx", min("midx").over(w))
        .groupBy(col("cohort_idx"),
          (col("midx") - col("cohort_idx")).as("month_offset"))
        .agg(countDistinct(col("o_custkey")).as("active_customers"),
          sum(col("v").cast("decimal(38,0)")).cast("long").as("rev_cents"))
      val wCum = Window.partitionBy("cohort_idx").orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wCoh = Window.partitionBy("cohort_idx")
      cells
        .withColumn("cum_rev_cents", sum("rev_cents").over(wCum))
        .withColumn("cohort_size",
          max(when(col("month_offset") === 0, col("active_customers")))
            .over(wCoh))
        .select(col("cohort_idx"), col("month_offset"),
          col("active_customers"),
          expr("(active_customers * 1000000) div cohort_size")
            .as("retention_ppm"),
          col("rev_cents"), col("cum_rev_cents"))
    }),

    // TEMPORAL (point-in-time) join: each purchase with the SCD2 state
    // (q125's versions) valid JUST BEFORE it — "which state do users
    // purchase from" — censused by prior state. Versions per user are
    // run-bounded, so the user_id equi-join's per-key fanout stays small
    "q149_temporal_state_join" -> ((s, d) => {
      val ev = events(s, d)
      Sessionize.stateBefore(ev, Sessionize.stateVersions(ev))
        .groupBy("state_before")
        .agg(count(lit(1)).as("n_purchases"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // classical autocorrelation: the hourly event-count series per type,
    // lagged against itself at k = 1..6 hours. Pairing is an equi-join on
    // (type, hour+k) over the HOURLY AGGREGATE (hours with no events pair
    // as absent, not zero — gap semantics documented in the contract), so
    // raw-event volume never enters the join. The correlation block is the
    // exact-integer pairCorr contract below
    "q150_acf" -> ((s, d) => {
      val ser = events(s, d)
        .groupBy(col("event_type"),
          expr("(ts div 1000) div 3600000000").as("h"))
        .agg(count(lit(1)).as("cnt"))
      val lags = s.range(1, 7).select(col("id").as("lag_h"))
      val a = ser.select(col("event_type"), col("h"), col("cnt").as("x"))
        .crossJoin(broadcast(lags))
      val b = ser.select(col("event_type").as("et2"), col("h").as("h2"),
        col("cnt").as("y"))
      val pairs = a.join(b, col("event_type") === col("et2") &&
        col("h2") === col("h") + col("lag_h"))
      pairCorr(pairs, Seq("event_type", "lag_h"))
    }),

    // cross-correlation lag scan: do purchases track clicks, and at what
    // hourly offset? x = click count at hour h, y = purchase count at
    // h + lag for lag in -6..+6; only hours where both series have mass
    // pair up (inner join on the hour key). The 13-row output is the full
    // scan — the peak-r² row is the discovered lead/lag
    "q151_cross_correlation" -> ((s, d) => {
      val hourly = events(s, d)
        .groupBy(col("event_type"),
          expr("(ts div 1000) div 3600000000").as("h"))
        .agg(count(lit(1)).as("cnt"))
      val clicks = hourly.where(col("event_type") === "click")
        .select(col("h"), col("cnt").as("x"))
      val purch = hourly.where(col("event_type") === "purchase")
        .select(col("h").as("h2"), col("cnt").as("y"))
      val lags = s.range(-6, 7).select(col("id").as("lag_h"))
      val pairs = clicks.crossJoin(broadcast(lags))
        .join(purch, col("h2") === col("h") + col("lag_h"))
      pairCorr(pairs, Seq("lag_h"))
    }),

    // seasonal decomposition of the daily order-count series: trend = the
    // centered 7-day moving average (exact: 7-day window sum ×1000 div 7,
    // edges with a short window dropped), seasonal index per weekday = the
    // mean detrended deviation. The day grid is generated dense (gap days
    // count 0) so the moving window is calendar-true; every window runs on
    // the ~2.4k-row day aggregate, never on raw orders
    "q152_seasonal_decomposition" -> ((s, d) => {
      val days = orders(s, d)
        .groupBy(expr(
          "unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
          .as("d"))
        .agg(count(lit(1)).as("cnt"))
      val grid = days.agg(min("d").as("d0"), max("d").as("d1"))
        .select(explode(expr("sequence(d0, d1)")).as("d"))
      val dense = grid.join(days, Seq("d"), "left")
        .select(col("d"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      val w = Window.orderBy("d").rowsBetween(-3, 3)
      dense
        .withColumn("win_n", count(lit(1)).over(w))
        .withColumn("s7", sum("cnt").over(w))
        .where(col("win_n") === 7)
        .withColumn("trend_milli", expr("(s7 * 1000) div 7"))
        .withColumn("dev_milli", expr("cnt * 1000 - trend_milli"))
        .groupBy(expr("(d + 4) % 7").as("dow"))
        .agg(count(lit(1)).as("n_days"), sum("cnt").as("sum_cnt"),
          sum("dev_milli").as("sum_dev_milli"))
        .select(col("dow"), col("n_days"),
          expr("(sum_cnt * 1000) div n_days").as("mean_cnt_milli"),
          col("sum_dev_milli"),
          expr("cast(floor(cast(sum_dev_milli as double) " +
            "/ cast(n_days as double) + 0.5) as bigint)")
            .as("seasonal_milli"))
    }),

    // Theil–Sen robust trend: per-nation monthly revenue slope as the
    // lower median of ALL pairwise (Δrev/Δmonth) slopes — outlier months
    // move the estimate far less than OLS. The pairwise self-join is
    // quadratic in MONTHS PER NATION (calendar-bounded, ~84 here), not in
    // rows: it grows O(years²) however large the fact table gets. Median =
    // the (n+1) div 2-th order statistic, exact on integer milli slopes
    "q153_theil_sen_trend" -> ((s, d) => {
      val cust = customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val nat = nation(s, d).select(col("n_nationkey"), col("n_name"))
      val monthly = orders(s, d).select(col("o_custkey"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("m"),
          cents(col("o_totalprice")).as("v"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("m"))
        .agg(sum(col("v").cast("decimal(38,0)")).cast("long")
          .as("rev_cents"))
      val bSide = monthly.select(col("n_name").as("nn2"), col("m").as("m2"),
        col("rev_cents").as("rc2"))
      // the b-side is the (nation × month) aggregate — calendar-bounded
      // (~2k rows however big the fact table is), so broadcast beats SMJ
      val pairs = monthly.join(broadcast(bSide),
          col("n_name") === col("nn2") && col("m2") > col("m"))
        .select(col("n_name"),
          expr("cast(floor(1000.0 * cast(rc2 - rev_cents as double) " +
            "/ cast(m2 - m as double) + 0.5) as bigint)").as("slope_milli"))
      val wN = Window.partitionBy("n_name")
      val wO = Window.partitionBy("n_name").orderBy(col("slope_milli"))
      pairs.withColumn("rn", row_number().over(wO))
        .withColumn("n_pairs", count(lit(1)).over(wN))
        .where(col("rn") === expr("(n_pairs + 1) div 2"))
        .select(col("n_name"), col("n_pairs"),
          col("slope_milli").as("ts_slope_milli"))
    }),

    // train/serve distribution drift: events.value histogram of the first
    // half of the time range vs the second, 20 equal-width bins over the
    // global micro range. Shares are exact integer ppm of each half's
    // total; total-variation distance = Σ|Δshare| div 2 rides every row
    // as a constant. One scan builds both halves' counts (conditional
    // sums); the only "global" state is the 4-value bounds broadcast and
    // a ≤20-row window
    "q154_distribution_drift" -> ((s, d) => {
      val ev = events(s, d).select(expr("ts div 1000").as("ts_us"),
        expr("cast(floor(value * 1e6) as long)").as("vm"))
      val bounds = ev.agg(min("ts_us").as("t0"), max("ts_us").as("t1"),
        min("vm").as("v0"), max("vm").as("v1"))
      val binned = ev.crossJoin(broadcast(bounds))
        .select(
          when(col("ts_us") < expr("(t0 + t1) div 2"), lit(1L))
            .otherwise(lit(2L)).as("half"),
          least(lit(19L), expr("((vm - v0) * 20) div (v1 - v0 + 1)"))
            .as("bin"))
      val cells = binned.groupBy("bin")
        .agg(sum(when(col("half") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("half") === 2, 1L).otherwise(0L)).as("n2"))
      val wAll = Window.partitionBy()
      cells
        .withColumn("t1c", sum("n1").over(wAll))
        .withColumn("t2c", sum("n2").over(wAll))
        .withColumn("share1_ppm", expr("(n1 * 1000000) div t1c"))
        .withColumn("share2_ppm", expr("(n2 * 1000000) div t2c"))
        .withColumn("abs_diff_ppm",
          abs(col("share1_ppm") - col("share2_ppm")))
        .withColumn("sum_abs", sum("abs_diff_ppm").over(wAll))
        .select(col("bin"), col("n1"), col("n2"), col("share1_ppm"),
          col("share2_ppm"), col("abs_diff_ppm"),
          expr("sum_abs div 2").as("tvd_ppm"))
    }),

    // reciprocal-rank fusion: the standard way to merge two retrieval
    // rankings without score calibration. Fuses the exact cosine top-20
    // (q14's ranker) with the raw dot-product (max-inner-product) top-20;
    // RRF credit 1e6 div (60 + rank) is pure integer, candidates missing
    // from one list get 0 from it. Top-5 per query by (credit, id) —
    // deterministic end to end
    "q155_rrf_fusion" -> ((s, d) => {
      val emb = embeddings(s, d)
      val qs = emb.where(col("vec_id") < 10)
      val a = Similarity.cosineTopK(emb, qs, "vec_id", "embedding", 20)
        .select(col("query_id"), col("cand_id"), col("rank").as("rank_cos"))
      val b = Similarity.dotTopK(emb, qs, "vec_id", "embedding", 20)
        .select(col("query_id"), col("cand_id"), col("rank").as("rank_dot"))
      val fused = a.join(b, Seq("query_id", "cand_id"), "full_outer")
        .withColumn("rrf_micro",
          expr("coalesce(1000000 div (60 + rank_cos), 0) + " +
            "coalesce(1000000 div (60 + rank_dot), 0)"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("rrf_micro").desc, col("cand_id"))
      fused.withColumn("fused_rank", row_number().over(w))
        .where(col("fused_rank") <= 5)
        .select(col("query_id"), col("cand_id"), col("rank_cos"),
          col("rank_dot"), col("rrf_micro"), col("fused_rank"))
    }),

    // A/B experiment readout: deterministic arm assignment (user_id
    // parity), conversion = user ever purchased. Rates in exact ppm; the
    // 2×2 chi-square statistic N·(ad−bc)²/(row·col margins) is computed
    // from the four exact counts (DECIMAL/HUGEINT cross-products, final
    // ratio in doubles over identical integers — partition-order-proof).
    // One scan → per-user flag → a single 4-counter row
    "q156_ab_test" -> ((s, d) => {
      val users = events(s, d).select(col("user_id"), col("event_type"))
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
      val arms = users.groupBy().agg(
        sum(when(expr("user_id % 2") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(expr("user_id % 2") === 0, col("conv")).otherwise(0L))
          .as("conv_a"),
        sum(when(expr("user_id % 2") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(expr("user_id % 2") === 1, col("conv")).otherwise(0L))
          .as("conv_b"))
      arms
        .withColumn("det", expr(
          "cast(conv_a as decimal(38,0)) * (n_b - conv_b) " +
            "- cast(n_a - conv_a as decimal(38,0)) * conv_b"))
        .withColumn("mrg1", expr("cast(n_a as decimal(38,0)) * n_b"))
        .withColumn("mrg2", expr(
          "cast(conv_a + conv_b as decimal(38,0)) " +
            "* ((n_a - conv_a) + (n_b - conv_b))"))
        .select(col("n_a"), col("conv_a"),
          expr("(conv_a * 1000000) div n_a").as("rate_a_ppm"),
          col("n_b"), col("conv_b"),
          expr("(conv_b * 1000000) div n_b").as("rate_b_ppm"),
          expr("(conv_a * 1000000) div n_a - (conv_b * 1000000) div n_b")
            .as("diff_ppm"),
          expr("cast(case when mrg1 = 0 or mrg2 = 0 then null else " +
            "floor(cast(n_a + n_b as double) * cast(det as double) " +
            "* cast(det as double) " +
            "/ (cast(mrg1 as double) * cast(mrg2 as double)) * 1000 + 0.5) " +
            "end as bigint)").as("chi2_milli"))
    }),

    // tokenizer-sizing curve: what share of all token OCCURRENCES does a
    // top-k vocabulary cover, for k in {100, 300, 1000, 3000}? Rank =
    // (count DESC, token) — fully deterministic. The global sort is a
    // distributed top-3000 (TakeOrderedAndProject), so only 3000 rows ever
    // see the single-partition cumulative window however large the vocab
    "q157_vocab_coverage" -> ((s, d) => {
      import s.implicits._
      val toks = documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val totals = toks.agg(sum("cnt").as("total_cnt"),
        count(lit(1)).as("n_vocab"))
      val top = toks.orderBy(col("cnt").desc, col("tok")).limit(3000)
      val wR = Window.orderBy(col("cnt").desc, col("tok"))
      val ranked = top
        .withColumn("rank", row_number().over(wR).cast("long"))
        .withColumn("cum_cnt", sum("cnt").over(
          wR.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(totals))
      val ks = Seq(100L, 300L, 1000L, 3000L).toDF("k")
      ranked.join(broadcast(ks),
          col("rank") === least(col("k"), col("n_vocab")))
        .select(col("k"), col("rank").as("vocab_size"),
          col("cum_cnt").as("covered_tokens"),
          col("total_cnt").as("total_tokens"),
          expr("(cum_cnt * 1000000) div total_cnt").as("coverage_ppm"))
    }),

    // classifier agreement: Cohen's kappa between the n-gram language-ID
    // prediction (q11's classifier) and the labeled lang column. Kappa is
    // rational in the confusion counts — (agree·N − Σ row_c·col_c) /
    // (N² − Σ row_c·col_c) — so the whole statistic reduces to exact
    // DECIMAL/HUGEINT integers; the corpus collapses to a ≤25-cell
    // confusion matrix in one pass
    "q158_kappa_agreement" -> ((s, d) => {
      val cells = TextOps.langId(documents(s, d))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
      val rows = cells.groupBy(col("lang").as("cls")).agg(sum("n").as("rn"))
      val cols = cells.groupBy(col("lang_pred").as("cls"))
        .agg(sum("n").as("cn"))
      val sAgg = rows.join(cols, Seq("cls"), "full_outer")
        .select(coalesce(col("rn"), lit(0L)).as("rn"),
          coalesce(col("cn"), lit(0L)).as("cn"))
        .agg(sum(expr("cast(rn as decimal(38,0)) * cn")).as("s"))
      val tot = cells.agg(sum("n").as("n_docs"),
        sum(when(col("lang") === col("lang_pred"), col("n")).otherwise(0L))
          .as("n_agree"))
      tot.crossJoin(broadcast(sAgg))
        .withColumn("num", expr(
          "cast(n_agree as decimal(38,0)) * n_docs - s"))
        .withColumn("den", expr(
          "cast(n_docs as decimal(38,0)) * n_docs - s"))
        .select(col("n_docs"), col("n_agree"),
          expr("(n_agree * 1000000) div n_docs").as("po_ppm"),
          expr("cast(floor(cast(s as double) / (cast(n_docs as double) " +
            "* cast(n_docs as double)) * 1e6 + 0.5) as bigint)")
            .as("pe_ppm"),
          expr("cast(case when den = 0 then null else " +
            "floor(cast(num as double) / cast(den as double) * 1000 + 0.5) " +
            "end as bigint)").as("kappa_milli"))
    }),

    // targeting gain curve (cumulative gains): rank users by click count
    // and ask what share of all purchases the top slice captures. The
    // curve lives on the DISTINCT SCORE grain (clicks-per-user is a small
    // integer domain), so the cumulative windows see a handful of rows
    // however many users exist — the scale-safe alternative to a global
    // per-user ntile
    "q159_gain_curve" -> ((s, d) => {
      val perUser = events(s, d).groupBy("user_id").agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("score"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purch"))
      val byScore = perUser.groupBy("score")
        .agg(count(lit(1)).as("n_users"), sum("purch").as("n_purch"))
      val wCum = Window.orderBy(col("score").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      byScore
        .withColumn("cum_users", sum("n_users").over(wCum))
        .withColumn("cum_purch", sum("n_purch").over(wCum))
        .withColumn("tu", sum("n_users").over(wAll))
        .withColumn("tp", sum("n_purch").over(wAll))
        .select(col("score"), col("n_users"), col("n_purch"),
          col("cum_users"), col("cum_purch"),
          expr("(cum_users * 1000000) div tu").as("user_share_ppm"),
          expr("cast(case when tp = 0 then null else " +
            "(cum_purch * 1000000) div tp end as bigint)")
            .as("capture_ppm"))
    }),

    // exact ROC-AUC: does the English-stopword count classify lang='en'?
    // AUC = Mann-Whitney U with tie mid-ranks, which on the DISTINCT-SCORE
    // grain is U·2 = Σ_s n_pos(s)·(2·negatives_below(s) + n_neg(s)) — an
    // exact integer (ties contribute the ½ mid-rank as the un-halved
    // n_neg term). No per-row ranking, no global sort: the curve collapses
    // to the score histogram first
    "q160_exact_auc" -> ((s, d) => {
      val stops = array(Seq("the", "a", "of", "and", "to", "in", "is",
        "on", "for", "with").map(lit): _*)
      val scored = documents(s, d).select(
        (col("lang") === "en").cast("long").as("pos"),
        size(filter(split(col("text"), " "),
          t => array_contains(stops, t))).cast("long").as("score"))
      val cells = scored.groupBy("score").agg(
        sum("pos").as("n_pos"), sum(expr("1 - pos")).as("n_neg"))
      val wBelow = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
      cells
        .withColumn("cum_neg_below",
          coalesce(sum("n_neg").over(wBelow), lit(0L)))
        .agg(sum("n_pos").as("np"), sum("n_neg").as("nn"),
          sum(expr("cast(n_pos as decimal(38,0)) " +
            "* (2 * cast(cum_neg_below as decimal(38,0)) + n_neg)"))
            .as("u2"))
        .select(col("np").as("n_pos"), col("nn").as("n_neg"),
          expr("cast(case when np = 0 or nn = 0 then null else " +
            "floor(cast(u2 as double) " +
            "/ (2.0 * cast(np as double) * cast(nn as double)) " +
            "* 1e6 + 0.5) end as bigint)").as("auc_ppm"))
    }),

    // k-anonymity risk census: quasi-identifier = (nation, market
    // segment, $1000 balance band); for k ∈ {2,5,10}, how many customers
    // sit in groups smaller than k? The audit runs on the GROUP-SIZE
    // HISTOGRAM (a handful of rows), so the k-sweep never rescans the
    // table — the standard re-identification risk readout before a
    // data release
    "q161_k_anonymity" -> ((s, d) => {
      import s.implicits._
      val qi = customer(s, d).select(col("c_nationkey"),
        col("c_mktsegment"),
        expr("cast(floor(c_acctbal / 1000.0) as long)").as("bal_band"))
      val sizes = qi.groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(count(lit(1)).as("gsz"))
      val hist = sizes.groupBy("gsz").agg(count(lit(1)).as("n_groups"))
      val tot = hist.agg(sum(expr("gsz * n_groups")).as("n_rows"),
        sum("n_groups").as("n_groups_tot"))
      val ks = Seq(2L, 5L, 10L).toDF("k")
      ks.crossJoin(broadcast(hist)).crossJoin(broadcast(tot))
        .groupBy("k", "n_groups_tot", "n_rows")
        .agg(sum(when(col("gsz") < col("k"), col("n_groups"))
            .otherwise(0L)).as("small_groups"),
          sum(when(col("gsz") < col("k"), expr("gsz * n_groups"))
            .otherwise(0L)).as("small_rows"))
        .select(col("k"), col("n_groups_tot"), col("n_rows"),
          col("small_groups"), col("small_rows"),
          expr("(small_rows * 1000000) div n_rows").as("risk_ppm"))
    }),

    // Poisson bootstrap: the one-pass resampling estimator used at scales
    // where true resampling is impossible — replicate b includes each
    // order with multiplicity ~ Poisson(1), derived DETERMINISTICALLY
    // from an LCG hash of (orderkey, b) against the fixed cumulative-
    // Poisson thresholds (integer ppm of 10000), so both engines draw the
    // exact same resamples. One scan fans out to B=20 replicate totals
    // with map-side combine; the spread of the 20 means IS the CI
    "q162_poisson_bootstrap" -> ((s, d) => {
      val reps = orders(s, d)
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("v"))
        .crossJoin(broadcast(s.range(1, 21).select(col("id").as("b"))))
        .withColumn("h", expr(
          "((o_orderkey % 2147483647) * 48271 + b * 16807) % 2147483647"))
        .withColumn("u", expr("h % 10000"))
        // cumulative Poisson(1)·10000: P(0)=.3679, P(≤1)=.7358, P(≤2)=.9197,
        // P(≤3)=.9810, P(≤4)=.9963; the 37/10000 tail collapses to m=5
        .withColumn("mult", expr("case when u < 3679 then 0 " +
          "when u < 7358 then 1 when u < 9197 then 2 " +
          "when u < 9810 then 3 when u < 9963 then 4 else 5 end"))
      reps.groupBy("b")
        .agg(sum("mult").as("n_eff"),
          sum(expr("cast(mult as decimal(38,0)) * v")).cast("long")
            .as("total_cents"))
        .select(col("b"), col("n_eff"), col("total_cents"),
          expr("cast(case when n_eff = 0 then null else " +
            "floor(cast(total_cents as double) / cast(n_eff as double) " +
            "* 10.0 + 0.5) end as bigint)").as("mean_milli"))
    }),

    // streaming UPDATE-mode emission log: tumbling counts over the 2-batch
    // id-parity split with no watermark — the memory sink appends each
    // batch's updated groups, so the result IS the emission history:
    // (window, type) touched by batch i carries its cumulative aggregate
    // over batches ≤ i. The oracle replays that rule relationally from
    // the batch-membership predicate (event_id parity)
    "q163_stream_update_mode" -> ((s, d) =>
      graft.streaming.StreamAgg.eventsWindowedUpdateMode(s, d,
        windowSec = 300L, splitDir = s"$genDir/events_parity_split",
        queryName = s"graft_stream_upd_${System.nanoTime()}")),

    // SemDeDup-style semantic dedup: one broadcast k-means assignment step
    // (q65's deterministic id<k seeding) buckets the embedding space, then
    // near-duplicates are pruned WITHIN clusters only — Σ|cluster|² pairs,
    // never N² (the learned-bucket version of the LSH/IVF bound). Priority
    // keeps the vectors least similar to their centroid; the dropped-set
    // id checksum makes membership bitwise-checkable
    "q184_semdedup" -> ((s, d) =>
      graft.sim.Clustering.semDedup(embeddings(s, d), "vec_id", "embedding",
        k = 8, tau = 0.35)),

    // q184's scale-parameterized form: k derived from the corpus count
    // (ceil(n/32) — cluster size, and with it the Σ|cluster|² pair bound,
    // stays fixed as N grows), centroids refined by one Lloyd iterate over
    // the exact integer sums, and the dropper side capped at the 8
    // least-central vectors per cluster (pairs ≤ 8·|cluster|, linear in
    // cluster size). The oracle replays the count→k derivation, the mean
    // update, the re-assignment, and the capped prune verbatim
    "q229_semdedup_auto" -> ((s, d) =>
      graft.sim.Clustering.semDedupAuto(embeddings(s, d), "vec_id",
        "embedding", targetClusterSize = 32L, tau = 0.35,
        maxDroppersPerCluster = 8)),

    // deterministic training reshard: shard + intra-shard position are pure
    // functions of the content fingerprint (no rand(), no global sort — one
    // hash exchange + per-shard sort, with nShards scaling with the corpus).
    // The census pins the full placement: per-shard sizes prove balance,
    // min/max fp the bucketing, and ord_check — Σ pos·(fp mod 1000), an
    // order-weighted checksum — pins the intra-shard ORDER itself, so any
    // reordering regression flips the hash. pos·(fp mod 1000) ≤ 10³·rows
    // per shard keeps the DECIMAL(38,0) sum exact at any corpus size
    "q230_shard_shuffle" -> ((s, d) =>
      graft.text.Shard.shardPlacement(documents(s, d), "doc_id", "text",
          nShards = 8)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          min("fp").as("min_fp"), max("fp").as("max_fp"),
          sum((col("pos") * pmod(col("fp"), lit(1000L)))
            .cast("decimal(38,0)")).cast("long").as("ord_check"))),

    // model-based quality filtering: a fixed integer linear classifier over
    // four corpus-quality features (the fastText-quality-model pattern as
    // one codegen'd projection — sign(margin) is the decision, so no
    // sigmoid/float). Census by (lang, keep) with the margin moments, so
    // the oracle pins every per-document margin through the sums
    "q231_quality_classifier" -> ((s, d) =>
      TextOps.linearQualityMargin(documents(s, d))
        .groupBy("lang", "keep")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("margin").cast("decimal(38,0)")).cast("long")
            .as("sum_margin"),
          min("margin").as("min_margin"), max("margin").as("max_margin"))),

    // KMV corpus-overlap sketch: per-source bottom-k=128 distinct shingle
    // fingerprints (ONE mergeable aggregate — the shuffle carries ≤
    // sources·k longs at any corpus size), then source-pair union /
    // intersection estimates computed entirely ON THE SKETCHES (Beyer et
    // al. 2007): est_union from the union's k-th value, est_inter from
    // shared-hash counts below it. Exact distincts ride alongside as the
    // audit (affordable at test scale; the sketch path is the 100 TB one).
    // Pairs limited to the 4 lexicographically-first sources (6 pairs) to
    // keep the contract readable; every estimate is integer floor-division
    "q232_kmv_overlap" -> ((s, d) => {
      val k = 128
      val srcs = Seq("src0", "src1", "src10", "src11")
      val sh = documents(s, d)
        .where(col("source").isin(srcs.map(x => x: Any): _*))
        .select(col("source"), explode(TextOps.shingles(col("text"), 3))
          .as("g"))
        .select(col("source"), TextOps.fingerprint(col("g")).as("h"))
      // the sketch is referenced by four downstream branches (est, union,
      // and both intersection probes) — localCheckpoint materializes the
      // sources·k rows ONCE, so the corpus scan + aggregate runs once, not
      // once per branch (the difference between 1 and 6 corpus scans at
      // 100 TB; everything after this line is sketch-sized)
      val sk = graft.ops.Sketch.kmvSketch(sh, Seq("source"), "h", k)
        .localCheckpoint()
      val est = graft.ops.Sketch.kmvEstimate(sk, Seq("source"), k)
      // source pairs (a < b) over the tiny sketch: union = distinct hash
      // merge re-truncated to bottom-k, intersection = shared below kth_u
      val pairs = est.as("ea").crossJoin(est.as("eb"))
        .where(col("ea.source") < col("eb.source"))
        .select(col("ea.source").as("sa"), col("eb.source").as("sb"),
          col("ea.kmv_est").as("est_a"), col("eb.kmv_est").as("est_b"))
      val skA = sk.select(col("source"), col("h"))
      val uni = pairs.join(skA, skA("source") === col("sa") ||
          skA("source") === col("sb"))
        .select(col("sa"), col("sb"), col("h")).distinct()
        .withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("sa", "sb")
            .orderBy("h")))
        .where(col("r") <= k)
      val uStats = uni.groupBy("sa", "sb")
        .agg(count(lit(1)).as("n_u"), max("h").as("kth_u"))
        .withColumn("est_union", when(col("n_u") < k, col("n_u"))
          .otherwise(expr(s"(${k - 1}L * ${graft.ops.Sketch.KmvM}) div (kth_u + 1)")))
      val inBoth = uni.join(skA.select(col("source").as("sa"), col("h")),
          Seq("sa", "h"))
        .join(skA.select(col("source").as("sb"), col("h")), Seq("sb", "h"))
        .groupBy("sa", "sb").agg(count(lit(1)).as("n_shared"))
      pairs.join(uStats, Seq("sa", "sb"))
        .join(inBoth, Seq("sa", "sb"), "left")
        .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
        // denominator = the union sketch's actual size: when the union has
        // fewer than k values the sketch IS the exact union and n_shared
        // the exact intersection — dividing by the constant k there would
        // undercount precisely where the sketch could be exact
        .withColumn("est_inter",
          expr(s"(n_shared * est_union) div least($k, n_u)"))
        .select("sa", "sb", "est_a", "est_b", "est_union", "n_shared",
          "est_inter")
    }),

    // synchronous label propagation (community detection) over the q192
    // spatial near-neighbor graph: 3 FIXED rounds, each ONE vote aggregate
    // (neighbor labels counted, winner = max count with min-label
    // tie-break as a partially-aggregable min-of-struct) + one left join
    // back, lineage snapped per round — the Pregel shape at one shuffle
    // per round, no driver-side graph. The census (community size →
    // count, label checksum) pins every final label through the sums
    "q233_label_propagation" -> ((s, d) => {
      val pts = customerPoints(s, d)
      val und = gridNeighborPairs(pts)
      val edges = und.select(col("a_id").as("u"), col("b_id").as("v"))
        .union(und.select(col("b_id").as("u"), col("a_id").as("v")))
      val lbl = graft.ops.LabelProp.propagate(edges,
        pts.select(col("id").as("node"), col("id").as("lbl")), rounds = 3)
      lbl.groupBy("lbl").agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("comm_size"))
        .agg(count(lit(1)).as("n_comms"),
          sum(col("lbl").cast("decimal(38,0)")).cast("long").as("label_sum"))
    }),

    // native WITH RECURSIVE (new in Spark 4): bounded-depth walk census
    // over the nation supply graph, written ONCE in ANSI SQL and executed
    // verbatim by BOTH engines — the Spark side registers the base tables
    // as temp views and runs the very string the oracle runs, so the
    // contract pins Spark's recursive-CTE semantics (seed + UNION ALL
    // step, depth-bounded) against an independent implementation.
    // Complements q164, whose Spark side is the iterative-DataFrame BFS
    "q235_recursive_cte" -> ((s, d) => {
      lineitem(s, d).createOrReplaceTempView("lineitem_r")
      orders(s, d).createOrReplaceTempView("orders_r")
      supplier(s, d).createOrReplaceTempView("supplier_r")
      customer(s, d).createOrReplaceTempView("customer_r")
      s.sql(RecursiveReachSql("lineitem_r", "orders_r", "supplier_r",
        "customer_r"))
    }),

    // SQL scalar UDF (CREATE FUNCTION ... RETURN, new in Spark 4): the
    // catalog-function surface — a price-tier function defined IN SQL,
    // inlined by the analyzer into the plan (stays codegen'd; unlike a
    // Scala UDF it is no black box to the optimizer). The oracle inlines
    // the identical CASE, so the function body is hash-checked
    "q236_sql_udf" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders_u")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_price_tier(
        cents BIGINT) RETURNS STRING RETURN
        CASE WHEN cents < 5000000 THEN 'low'
             WHEN cents < 15000000 THEN 'mid'
             WHEN cents < 30000000 THEN 'high' ELSE 'jumbo' END""")
      s.sql("""SELECT graft_price_tier(
          CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS tier,
        count(*) AS n_orders,
        CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS DECIMAL(38,0)))
          AS BIGINT) AS sum_cents
        FROM orders_u GROUP BY 1""")
    }),

    // deterministic negative sampling for contrastive training: per query
    // vector, 4 pseudo-random negatives drawn by a pairwise hash —
    // label-aware (same-class candidates excluded, the supervised-
    // contrastive rule) and reproducible across re-runs/partitionings
    // (the df.sample() problem again — a training pair list must be
    // replayable). Scale shape: the per-pair hash filter keeps ~5% of
    // candidates before the k-bounded bottom-k aggregate ranks them; the
    // pair stage is a broadcast nested loop over the tiny query set —
    // cheap integer hashing per pair, no dot products, no shuffle of the
    // corpus
    "q237_negative_sampling" -> ((s, d) => {
      val emb = embeddings(s, d)
      val q = broadcast(emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("label").as("ql")))
      val c = emb.select(col("vec_id").as("cand_id"), col("label").as("cl"))
      val scored = c.crossJoin(q)
        .where(col("query_id") =!= col("cand_id") && col("ql") =!= col("cl"))
        .withColumn("h",
          expr("(query_id * 131071 + cand_id * 48271) % 2147483647"))
        .where(col("h") * 20 < lit(2147483647L))
        .withColumn("neg_h", -col("h").cast("double"))
      graft.sim.TopK.rankTopK(scored, "neg_h", 4)
        .select(col("query_id"), col("cand_id").as("neg_id"),
          (-col("neg_h")).cast("long").as("h"), col("rank"))
    }),

    // audio near-dup fingerprinting, completing the multimodal dedup pair
    // with q239: planted gain-shifted WAV variants are REALLY decoded,
    // then fingerprinted by the sign pattern of Walsh-Hadamard
    // coefficients 1..32 over the first 64 samples — the ±1 integer-exact
    // stand-in for a spectral fingerprint, DC term excluded so a uniform
    // gain shift (which moves only W_0) leaves the code (near-)unchanged.
    // Within-group hamming census; every coefficient re-derived codec-
    // free by the oracle
    "q242_audio_fingerprint" -> ((s, d) => {
      import graft.multimodal.Multimodal
      val h = Multimodal.audioWhtFingerprint(
          Multimodal.synthVariantAudioCorpus(
            documents(s, d).where(col("doc_id") < 200))).toDF()
        .withColumn("base", expr("mediaId div 4"))
      val a = h.select(col("base").as("base_a"), col("mediaId").as("id_a"),
        col("fp").as("fp_a"))
      val b = h.select(col("base").as("base_b"), col("mediaId").as("id_b"),
        col("fp").as("fp_b"))
      // ALL-pairs hamming census over a deliberately bounded 200-track
      // subset — the declared exact audit beside the scale path (dedup by
      // fingerprint equality is ONE groupBy, as q245 runs it): n_within
      // proves every planted gain-variant pair sits at hamming 0 (exact
      // invariance — the corpus leaves clamping headroom), while cross-
      // base pairs spread far away
      a.crossJoin(b).where(col("id_a") < col("id_b"))
        .withColumn("hamming",
          bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long"))
        .groupBy("hamming")
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("base_a") === col("base_b")).cast("long")).as("n_within"))
    }),

    // curriculum reshard: the q230 content-keyed layout with a DIFFICULTY
    // dimension — documents are staged easy→hard by token-count band,
    // sharded within each stage, and deterministically ordered within
    // each (stage, shard); a trainer consumes stage 0's shards first.
    // Parallelism is stages×shards (scales with the corpus via nShards),
    // never a global sort; the census order-checksum pins every in-shard
    // position exactly as q230 does
    "q243_curriculum_order" -> ((s, d) => {
      val staged = documents(s, d)
        .withColumn("fp", TextOps.fingerprint(col("text")))
        .withColumn("stage",
          least(expr("size(split(text, ' ')) div 25"), lit(3L)))
        .withColumn("shard", pmod(col("fp"), lit(8L)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("stage", "shard").orderBy(col("fp"), col("doc_id"))
      staged.withColumn("pos", row_number().over(w).cast("long"))
        .groupBy("stage", "shard")
        .agg(count(lit(1)).as("n_docs"),
          sum((col("pos") * pmod(col("fp"), lit(1000L)))
            .cast("decimal(38,0)")).cast("long").as("ord_check"))
    }),

    // largest-remainder (Hare) apportionment of a fixed sample budget
    // across strata — the integer-exact answer to "allocate 100 eval
    // slots proportionally over languages": floor quotas, then the
    // leftover slots go to the largest fractional remainders with a
    // deterministic tie-break. Survey-sampling's standard method, one
    // 5-row aggregate; proportionality and the Σ=budget invariant are
    // pinned by the oracle
    "q244_quota_apportionment" -> ((s, d) => {
      val b = 100L
      val per = documents(s, d).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"))
      val tot = per.agg(sum("n_docs").as("n_total"))
      val q = per.crossJoin(broadcast(tot))
        .withColumn("quota", expr(s"($b * n_docs) div n_total"))
        .withColumn("rem", expr(s"($b * n_docs) % n_total"))
      val short = q.agg((lit(b) - sum("quota")).as("n_extra"))
      q.crossJoin(broadcast(short))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("rem").desc, col("lang"))).cast("long"))
        .withColumn("extra", (col("rk") <= col("n_extra")).cast("long"))
        .select(col("lang"), col("n_docs"), col("quota"), col("extra"),
          (col("quota") + col("extra")).as("alloc"))
    }),

    // winnowing fingerprint selection (Schleimer et al. 2003 — the MOSS
    // algorithm): from each document's positional shingle hashes, keep
    // the minimum of every w=4-length window, rightmost-min tie-break —
    // guaranteeing any shared run of ≥ w+2 tokens yields a shared
    // SELECTED fingerprint while storing only ~2/(w+1) of all hashes.
    // The (h, pos-desc) window min rides ONE encoded integer key
    // (h·2^32 + 2^32−1−pos — full-width position field, exact for any
    // document length), making the selection a plain frame-bounded min
    // both engines evaluate identically. Per-doc
    // density census + a selected-hash checksum pin every selection
    "q246_winnowing" -> ((s, d) =>
      TextOps.winnowedFingerprints(documents(s, d), "doc_id", "text", w = 4)
        .groupBy("doc_id", "n_shingles")
        .agg(count(lit(1)).as("n_selected"),
          sum(expr("(sh * 31 + spos) % 2147483647")).as("sel_checksum"))),

    // canonicalization-gain dedup: exact dedup finds nothing when the
    // same content differs by case/punctuation (the copy-paste-with-
    // house-style duplicate class), so the curation pipeline dedups on a
    // CANONICAL form — lowercase, punctuation stripped, whitespace
    // collapsed (POSIX-safe regexes, identical in Java regex and RE2).
    // Planted variants: odd doc ids < 100 become an uppercased,
    // punctuation-injected copy of their even neighbor. The census
    // measures the gain: canonical groups vs raw groups per language
    "q251_canonical_dedup_gain" -> ((s, d) => {
      val docs = documents(s, d)
      val donor = docs.where(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 1).as("doc_id"),
          concat(upper(col("text")), lit(" !!!")).as("vtext"))
      val mixed = docs.join(donor, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          when(col("doc_id") < 100 && col("vtext").isNotNull, col("vtext"))
            .otherwise(col("text")).as("text"))
      val canon = mixed.withColumn("ctext",
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
          "  +", " ")))
      // GLOBAL census: a variant and its donor usually sit in different
      // language strata, so a per-lang distinct count would hide most of
      // the planted collapses (measured: 12 of ~50)
      canon.agg(count(lit(1)).as("n_docs"),
          count_distinct(col("text")).as("raw_groups"),
          count_distinct(col("ctext")).as("canon_groups"))
        .withColumn("gained", col("raw_groups") - col("canon_groups"))
    }),

    // vocabulary-size sweep: the OOV cost curve a tokenizer designer
    // reads before fixing a vocab budget — 3-gram occurrences covered by
    // the top-{500, 1000, 2000, 4000} frequency vocabulary, as
    // exact ppm, in ONE pass: the ranked vocabulary is a bounded
    // TakeOrdered (4000 rows, broadcast back), and the four thresholds
    // are conditional sums over one token scan
    "q252_vocab_size_sweep" -> ((s, d) => {
      // unit = 3-token grams (the corpus has only 31 distinct word
      // tokens — a WORD vocabulary saturates at any size; the 16k
      // distinct 3-grams give the sweep a real coverage curve)
      val tok = documents(s, d)
        .select(explode(TextOps.shinglesAll(col("text"), 3)).as("tok"))
      val vocab = tok.groupBy("tok").agg(count(lit(1)).as("occ"))
      val ranked = vocab
        .orderBy(col("occ").desc, col("tok")).limit(4000)
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("occ").desc, col("tok"))).cast("long"))
        .select(col("tok"), col("rk"))
      val scored = tok.join(broadcast(ranked), Seq("tok"), "left")
        .withColumn("rk", coalesce(col("rk"), lit(Long.MaxValue)))
      val sizes = Seq(500L, 1000L, 2000L, 4000L)
      val census = scored.agg(count(lit(1)).as("n_occ"),
        sizes.map(sz =>
          sum((col("rk") > sz).cast("long")).as(s"oov_$sz")): _*)
      census.select(explode(array(sizes.map(sz =>
          struct(lit(sz).as("vocab_size"), col("n_occ"),
            col(s"oov_$sz").as("n_oov"))): _*)).as("r"))
        .select(col("r.vocab_size"), col("r.n_occ"), col("r.n_oov"),
          expr("(r.n_oov * 1000000) div r.n_occ").as("oov_ppm"))
    }),

    // MOSS similarity detection — q246's selections put to work: two
    // documents are compared ONLY through their winnowed fingerprints
    // (the guarantee: any shared ≥6-token run surfaces a shared selected
    // hash), candidates meet in one equi-join on the selected hash value
    // — never all-pairs, and the join input is already winnowed to
    // ~2/(w+1) density. Per-pair match score = shared selections relative
    // to the smaller side's selection count (exact permille). Planted
    // overlaps: doc pairs (2i, 2i+1) with doc_id < 80 share a 12-token
    // prefix splice, so detection has known ground truth in the census
    "q248_moss_similarity" -> ((s, d) => {
      // splice a shared prefix into paired docs: both members of a pair
      // carry the SAME first-12-token run taken from the even member
      val docs = documents(s, d).where(col("doc_id") < 80)
      val donor = docs.where(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 1).as("doc_id"),
          expr("concat_ws(' ', slice(split(text, ' '), 1, 12))").as("pfx"))
      val spliced = docs.join(donor, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("pfx").isNotNull, concat_ws(" ", col("pfx"), col("text")))
            .otherwise(col("text")).as("text"))
      // compare on the DISTINCT-hash grain throughout (a hash selected at
      // several positions of one doc is still one fingerprint)
      val sel = TextOps.winnowedFingerprints(spliced, "doc_id", "text", w = 4)
        .select("doc_id", "sh").distinct()
        .localCheckpoint() // feeds counts AND the pair join — one pass
      val cnt = sel.groupBy("doc_id").agg(count(lit(1)).as("n_sel"))
      val a = sel.select(col("doc_id").as("id_a"), col("sh"))
      val b = sel.select(col("doc_id").as("id_b"), col("sh"))
      val shared = a.join(b, Seq("sh"))
        .where(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      shared
        .join(cnt.select(col("doc_id").as("id_a"), col("n_sel").as("na")),
          Seq("id_a"))
        .join(cnt.select(col("doc_id").as("id_b"), col("n_sel").as("nb")),
          Seq("id_b"))
        .withColumn("score_pm",
          expr("(n_shared * 1000) div least(na, nb)"))
        .where(col("n_shared") >= 2)
        .withColumn("planted",
          (col("id_b") - col("id_a") === 1 && col("id_a") % 2 === 0)
            .cast("long"))
        .groupBy("planted")
        .agg(count(lit(1)).as("n_pairs"), sum("n_shared").as("sum_shared"),
          max("score_pm").as("max_score_pm"), min("score_pm").as("min_score_pm"))
    }),

    // trending top-k churn ("what's new on the leaderboard"): monthly
    // top-5 brands by exact-cents revenue, joined month-over-month to
    // score entry churn — new entrants and absolute rank movement among
    // stayers. The per-month rank partitions by month (bounded window),
    // the churn join is an equi-join on (month+1, clerk) over the tiny
    // top-k table — leaderboard-sized, never fact-sized
    "q249_trending_topk" -> ((s, d) => {
      val rev = lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(part(s, d), col("l_partkey") === col("p_partkey"))
        .select(expr("(year(o_orderdate) - 1992) * 12" +
            " + month(o_orderdate) - 1").cast("long").as("midx"),
          col("p_brand"),
          cents(col("l_extendedprice")).cast("long").as("c"))
        .groupBy("midx", "p_brand").agg(sum("c").as("rev_cents"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("midx")
        .orderBy(col("rev_cents").desc, col("p_brand"))
      val top = rev.withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 5)
        .localCheckpoint() // two branches below — rank once
      val prev = top.select((col("midx") + 1).as("midx"),
        col("p_brand"), col("rk").as("prev_rk"))
      top.join(prev, Seq("midx", "p_brand"), "left")
        .groupBy("midx")
        .agg(count(lit(1)).as("n_top"),
          sum(col("prev_rk").isNull.cast("long")).as("n_new"),
          sum(coalesce(abs(col("rk") - col("prev_rk")), lit(0L)))
            .as("sum_abs_delta"),
          sum("rev_cents").as("top_rev_cents"))
    }),

    // DYNAMIC-gap session windows: the built-in session_window operator
    // with a per-event gap EXPRESSION (clicks close after 10 min, other
    // events keep the session alive 30 min) — the Spark surface q104's
    // fixed gap cannot express. Merge semantics are strict-overlap over
    // per-event intervals [t, t+gap(t)), which with heterogeneous gaps
    // needs a RUNNING-MAX end (a short click window can sit wholly
    // inside an earlier view's long window) — exactly how the oracle
    // replays it relationally
    "q247_dynamic_session_gap" -> ((s, d) => {
      val e = events(s, d)
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("event_time", timestamp_micros(col("ts_us")))
      e.groupBy(col("user_id"),
          session_window(col("event_time"),
            when(col("event_type") === "click", "10 minutes")
              .otherwise("30 minutes")).as("sw"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * lit(1e6))).as("sum_value_micro"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("start_us"),
          unix_micros(col("sw.end")).as("end_us"),
          col("n_events"), col("sum_value_micro"))
    }),

    // cross-modal dedup capstone (the q100 composition pattern for media):
    // the same documents carry an image, an audio track, and text; each
    // modality's fingerprint — q239's aHash, q242's WHT code, q12's text
    // hash — elects a min-id survivor per EXACT fingerprint group, and
    // the census over (dropped_by_image, dropped_by_audio, dropped_by_
    // text) cells measures cross-modal agreement, including the cells
    // where clamping split one modality's group but not another's. The
    // oracle is composed from the SAME shared CTE fragments q239/q242
    // use, so the capstone cannot drift from its parts
    "q245_crossmodal_dedup" -> ((s, d) => {
      import graft.multimodal.Multimodal
      val docs = documents(s, d)
      val img = Multimodal.imageAHash(
          Multimodal.synthVariantImageCorpus(docs)).toDF()
        .withColumn("surv", min("mediaId").over(
          org.apache.spark.sql.expressions.Window.partitionBy("lo", "hi")))
        .select(col("mediaId").as("doc_id"),
          (col("mediaId") =!= col("surv")).cast("long").as("d_img"))
      val aud = Multimodal.audioWhtFingerprint(
          Multimodal.synthVariantAudioCorpus(docs)).toDF()
        .withColumn("surv", min("mediaId").over(
          org.apache.spark.sql.expressions.Window.partitionBy("fp")))
        .select(col("mediaId").as("doc_id"),
          (col("mediaId") =!= col("surv")).cast("long").as("d_aud"))
      val txt = TextOps.fingerprints(docs)
        .withColumn("surv", min("doc_id").over(
          org.apache.spark.sql.expressions.Window.partitionBy("fingerprint")))
        .select(col("doc_id"),
          (col("doc_id") =!= col("surv")).cast("long").as("d_txt"))
      img.join(aud, Seq("doc_id")).join(txt, Seq("doc_id"))
        .groupBy("d_img", "d_aud", "d_txt")
        .agg(count(lit(1)).as("n_docs"))
    }),

    // the FULL IVF-PQ pipeline with residual quantization — coarse
    // routing (q49's half), PQ codebooks trained on and encoding the
    // residual x − c(cell) (q234's half, on residuals), nProbe=4 probed
    // cells, per-(cell, subspace) ADC tables over the query's own
    // residual. The billion-vector index architecture end to end, with
    // every distance an order-free integer micro and the probed-cell
    // restriction carried BY the (cell, sub, code) equi-join itself
    "q250_ivfpq_residual" -> ((s, d) => {
      val emb = embeddings(s, d)
      Similarity.ivfPqAdcTopK(emb, emb.where(col("vec_id") < 10), "vec_id",
        "embedding", k = 5)
    }),

    // greedy k-center coreset (farthest-point diversity selection, the
    // data-selection staple for picking a maximally-spread training
    // subset): k−1 rounds of broadcast-chosen-set min-distance + a 1-row
    // argmax, distances in the order-free integer-micro contract. The
    // emitted per-round selection distances are the coreset's covering-
    // radius profile; the oracle unrolls the identical rounds
    "q241_kcenter_coreset" -> ((s, d) =>
      graft.sim.Clustering.kCenterGreedy(embeddings(s, d), "vec_id",
        "embedding", k = 8)),

    // sketch-in-stream: the q72 HLL register contract maintained BY a
    // streaming aggregation across ≥2 micro-batches (median-split source)
    // — running distinct-user counts per event type with groups·64 state
    // rows however long the stream runs; register state merges across
    // batches by the sketch's own max. Complete mode ⇒ final registers
    // equal the batch build, so the relational oracle (registers →
    // fixed-point estimate, exact count alongside) covers the streaming
    // run bit for bit
    "q240_stream_hll" -> ((s, d) => {
      val reg = graft.streaming.StreamAgg.eventsHllRegisters(s, d,
        s"$genDir/events_split_hll", s"graft_stream_hll_${System.nanoTime()}")
      val est = graft.ops.Sketch.hllEstimate(reg, Seq("event_type"))
      val exact = events(s, d).groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("n_exact"))
      est.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_buckets_hit"), col("z_scaled"),
          col("est_milli"), col("n_exact"))
    }),

    // perceptual image dedup: REAL codec path end to end — planted
    // brightness-variant PNGs (4 exposures per base image) are ImageIO-
    // decoded, thumbnailed 8×8 by the real nearest-neighbor resize, and
    // average-hashed (bit j ⟺ 64·p_j > Σp, the division-free aHash rule,
    // packed as two 32-bit halves so XOR/popcount hamming never touches
    // the sign bit). The within-group hamming census proves the exposure
    // variants collapse to (near-)identical codes — the image analogue of
    // the q15-q17 text near-dup family. The oracle re-derives every pixel
    // of every thumbnail codec-free from the raster formula
    "q239_image_phash_dedup" -> ((s, d) => {
      import graft.multimodal.Multimodal
      val h = Multimodal.imageAHash(
          Multimodal.synthVariantImageCorpus(documents(s, d))).toDF()
        .withColumn("base", expr("mediaId div 4"))
      val a = h.select(col("base"), col("mediaId").as("id_a"),
        col("lo").as("lo_a"), col("hi").as("hi_a"))
      val b = h.select(col("base"), col("mediaId").as("id_b"),
        col("lo").as("lo_b"), col("hi").as("hi_b"))
      a.join(b, Seq("base")).where(col("id_a") < col("id_b"))
        .withColumn("hamming",
          (bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) +
            bit_count(col("hi_a").bitwiseXOR(col("hi_b")))).cast("long"))
        .groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
    }),

    // Hilbert-curve clustering keys vs Z-order, judged by the statistics a
    // file-skipping reader actually uses: bucket rows by each curve's
    // index (100 cells per bucket — deliberately NOT a power of 4: at
    // power-of-4 bucket sizes both curves tile into identical aligned
    // quadrants and the comparison is vacuous) and compare the per-bucket
    // bounding-box areas — Hilbert's no-jump property yields ~2.5x tighter
    // envelopes than Morton's quadrant seams, i.e. better pruning for 2-D
    // range predicates. The index is a native O(order) codegen'd
    // expression (the rotation recurrence would blow up 3^order as a flat
    // expression); the oracle unrolls the identical recurrence one CTE per
    // level, so every per-cell index value is pinned through the census
    "q238_hilbert_layout" -> ((s, d) => {
      val pts = customerPoints(s, d)
        .withColumn("gx", expr("(x * 256) div 100000"))
        .withColumn("gy", expr("(y * 256) div 100000"))
      val keyed = pts
        .withColumn("hd", graft.ops.Hilbert.hValue(col("gx"), col("gy"), 8))
        .withColumn("zd", graft.ops.ZOrder.zValue(col("gx"), col("gy"), 8))
      def census(bucket: Column, layout: String) =
        keyed.groupBy(bucket.as("bucket"))
          .agg(count(lit(1)).as("n"), min("gx").as("x0"), max("gx").as("x1"),
            min("gy").as("y0"), max("gy").as("y1"))
          .agg(count(lit(1)).as("n_buckets"), sum("n").as("n_points"),
            sum(expr("(x1 - x0 + 1) * (y1 - y0 + 1)")).as("sum_bbox_area"),
            max(expr("(x1 - x0 + 1) * (y1 - y0 + 1)")).as("max_bbox_area"))
          .select(lit(layout).as("layout"), col("n_buckets"),
            col("n_points"), col("sum_bbox_area"), col("max_bbox_area"))
      census(expr("hd div 100"), "hilbert")
        .unionAll(census(expr("zd div 100"), "zorder"))
    }),

    // product-quantization ANN with asymmetric-distance scoring (the PQ
    // half of the billion-scale IVF-PQ pairing; q49 is the IVF half):
    // codes + broadcast ADC tables + a k-bounded top-k aggregate — no Q×N
    // stage anywhere. Distances are half-up micro-rounded per subspace, so
    // the ADC sum is an order-free integer and bitwise across engines
    "q234_pq_adc_topk" -> ((s, d) => {
      val emb = embeddings(s, d)
      Similarity.pqAdcTopK(emb, emb.where(col("vec_id") < 10), "vec_id",
        "embedding", k = 5)
    }),

    // Unicode-normalized dedup keys: the precomposed (U+00E9) and
    // combining-mark (e + U+0301) encodings of the same visible text are
    // synthesized deterministically by doc parity, then collapsed by a
    // native codegen'd java.text.Normalizer expression (Spark ships no
    // normalize builtin) — NFC for canonical counts, NFD + \p{Mn} strip
    // for the accent-free key. DuckDB's utf8proc (nfc_normalize /
    // strip_accents) must land on byte-identical keys — a cross-library
    // Unicode-conformance check, not just a self-test
    "q185_unicode_dedup_keys" -> ((s, d) => {
      import graft.text.{Fingerprint, NormalizeUnicode}
      val dec = documents(s, d)
        .select(col("doc_id"), substring(col("text"), 1, 120).as("b"))
        .withColumn("decorated",
          when(col("doc_id") % 2 === 0,
              regexp_replace(col("b"), "e", "\u00e9"))   // precomposed
            .otherwise(
              regexp_replace(col("b"), "e", "e\u0301"))) // combining mark
      dec.select(col("doc_id"),
          length(col("decorated")).cast("long").as("n_cp_raw"),
          length(NormalizeUnicode(col("decorated"), "NFC")).cast("long")
            .as("n_cp_nfc"),
          regexp_replace(NormalizeUnicode(col("decorated"), "NFD"),
            "\\p{Mn}", "").as("stripped"))
        .select(col("doc_id"), col("n_cp_raw"), col("n_cp_nfc"),
          length(col("stripped")).cast("long").as("n_cp_stripped"),
          Fingerprint(col("stripped")).as("key_fp"),
          count(lit(1)).over(Window.partitionBy(col("stripped")))
            .as("n_sharing_key"))
    }),

    // l-diversity, the q161 companion: k-anonymity bounds group SIZE but a
    // uniform group still leaks its sensitive value — here each
    // (nationkey, balance-band) QI group is scored by how many DISTINCT
    // market segments it contains, swept over l ∈ {2,3,5} on the l-histogram
    // grain (never the raw rows, same scale shape as q161)
    "q186_l_diversity" -> ((s, d) => {
      import s.implicits._
      val qi = customer(s, d).select(col("c_nationkey"),
        expr("cast(floor(c_acctbal / 1000.0) as long)").as("bal_band"),
        col("c_mktsegment"))
      val groups = qi.groupBy("c_nationkey", "bal_band")
        .agg(count(lit(1)).as("gsz"),
          count_distinct(col("c_mktsegment")).as("l"))
      val hist = groups.groupBy("l")
        .agg(count(lit(1)).as("n_groups"), sum("gsz").as("n_rows_l"))
      val tot = hist.agg(sum("n_rows_l").as("n_rows"),
        sum("n_groups").as("n_groups_tot"))
      Seq(2L, 3L, 5L).toDF("l_req")
        .crossJoin(broadcast(hist)).crossJoin(broadcast(tot))
        .groupBy("l_req", "n_groups_tot", "n_rows")
        .agg(sum(when(col("l") < col("l_req"), col("n_groups"))
            .otherwise(0L)).as("weak_groups"),
          sum(when(col("l") < col("l_req"), col("n_rows_l"))
            .otherwise(0L)).as("weak_rows"))
        .select(col("l_req"), col("n_groups_tot"), col("n_rows"),
          col("weak_groups"), col("weak_rows"),
          expr("(weak_rows * 1000000) div n_rows").as("risk_ppm"))
    }),

    // HLL registers are MERGEABLE — the property that makes sketches worth
    // shipping at 100 TB: per-source registers roll up to the global
    // estimate by a per-bucket max (associative, partial-aggregatable),
    // with no second pass over the data. Output pins the merged estimate
    // against the exact global distinct AND the per-source exact sum,
    // whose gap is the cross-source overlap a naive rollup double-counts
    "q187_hll_rollup" -> ((s, d) => {
      import graft.ops.Sketch
      val toks = documents(s, d).select(col("source"),
          explode(TextOps.tokensCol(col("text"))).as("tok"))
        .select(col("source"), TextOps.fingerprint(col("tok")).as("h"))
      val merged = Sketch.hllEstimate(
        Sketch.hllRegisters(toks, Seq("source"), "h")
          .groupBy("bucket").agg(max("max_rho").as("max_rho")),
        Seq.empty)
      val glob = toks.agg(
        count_distinct(col("h")).as("n_exact_global"),
        count_distinct(col("source")).as("n_sources"))
      val perSrc = toks.groupBy("source")
        .agg(count_distinct(col("h")).as("ne"))
        .agg(sum("ne").as("sum_source_exact"))
      merged.crossJoin(broadcast(glob)).crossJoin(broadcast(perSrc))
        .select(col("n_sources"), col("n_buckets_hit"), col("z_scaled"),
          col("est_milli"), col("n_exact_global"), col("sum_source_exact"))
    }),

    // unigram surprisal scoring with a pure-integer log: surprisal of a
    // token ≈ log2(N/cnt), taken at bit-length granularity (length of the
    // binary representation — exact, engine-independent, no floating log).
    // The quality-filter signal: word-salad docs score high, boilerplate
    // low. One token-count aggregate (vocab-sized) broadcast back over one
    // exploded scan
    "q188_token_surprisal" -> ((s, d) => {
      val toks = documents(s, d).select(col("doc_id"),
        explode(TextOps.tokensCol(col("text"))).as("tok"))
      val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(sum("cnt").as("n_total"))
      toks.join(broadcast(counts), "tok").crossJoin(broadcast(tot))
        .select(col("doc_id"),
          (length(bin(col("n_total"))) - length(bin(col("cnt"))))
            .cast("long").as("sbits"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("sbits").as("surprisal_bits"))
        .select(col("doc_id"), col("n_tokens"), col("surprisal_bits"),
          expr("(surprisal_bits * 1000) div n_tokens")
            .as("mean_surprisal_milli"))
    }),

    // BM25 sparse retrieval (k1=1.2, b=0.75), the lexical baseline of every
    // retrieval/RAG stack, in a pure-integer contract (bit-length idf — the
    // q188 device — and milli-scaled length norm, so the score is exact on
    // both engines). Every 50th doc probes the corpus through ONE token
    // equi-join (the inverted index); ranking is the k-bounded mergeable
    // aggregate, no per-query window sort
    "q189_bm25_topk" -> ((s, d) =>
      graft.text.Index.bm25TopK(documents(s, d), "doc_id", "text",
        probeFilter = col("doc_id") % 50 === 0, k = 5)),

    // q189 under the stopword-cap POLICY: tokens with df > 76% of the
    // corpus are pruned from the posting table before the query join.
    // Their integer idf is 1 bit (bitlen(n div df) for df > n/2), so this
    // trades a near-zero score term for dropping the corpus-sized posting
    // lists from the join entirely — the volume knob for hostile
    // vocabularies, layered on the always-on salting that is the skew
    // guarantee. 760‰ (not 500‰) because the shipped synthetic vocabulary
    // is head-heavy (31 tokens, median df 78%): a N/2 cap would empty the
    // ranking, which tests nothing
    "q227_bm25_stopword_cap" -> ((s, d) =>
      graft.text.Index.bm25TopK(documents(s, d), "doc_id", "text",
        probeFilter = col("doc_id") % 50 === 0, k = 5,
        maxDfPermille = 760)),

    // pushdown-safe ts-range scan: the [2024-01-10, 2024-01-20) window
    // filtered on the RAW ts column via Events.tsRangeNs (inverse-mapped
    // bounds), NOT on the normalized long-ns ts — the predicate lands in
    // the parquet scan's PushedFilters and prunes row groups by min/max
    // stats (PlanSpec-asserted). At 100 TB a month-partitioned events
    // table, this is the difference between scanning 10 days and 100%
    "q228_events_ts_pushdown" -> ((s, d) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      graft.sources.Events.tsRangeNs(s.read.parquet(t(d, "events")),
          loNs = 1704844800000000000L, hiNs = 1705708800000000000L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          // sum OFFSETS from the window start, not raw epoch_us: a raw
          // sum overflows LONG past ~5k rows in this window (it did, at
          // sf0.1); offsets are ≤ 8.64e11 µs each, safe to ~1e7 rows —
          // beyond that, the ExactStats DECIMAL(38,0) pattern applies
          sum(expr("(ts div 1000) - 1704844800000000")).as("sum_off_us"),
          min(expr("ts div 1000")).as("min_ts_us"),
          max(expr("ts div 1000")).as("max_ts_us"),
          sum(floor(col("value") * lit(1e6)).cast("long")).as("sum_v_micro"))
    }),

    // hybrid retrieval, the RAG-stack capstone: the SAME probe set ranked
    // by dense cosine ANN (q14's ranker) AND lexical BM25 (q189), fused
    // with reciprocal-rank fusion (q155's integer contract). Three
    // already-oracled fragments composed exactly as a retrieval service
    // chains them; the full-outer join keeps hits that only one modality
    // surfaces — the reason hybrid beats either alone
    "q190_hybrid_retrieval" -> ((s, d) => {
      val dense = Similarity.cosineTopK(embeddings(s, d),
          embeddings(s, d).where(col("vec_id") % 50 === 0),
          "vec_id", "embedding", 20)
        .select(col("query_id"), col("cand_id"), col("rank").as("rank_dense"))
      val lex = graft.text.Index.bm25TopK(documents(s, d), "doc_id", "text",
          probeFilter = col("doc_id") % 50 === 0, k = 20)
        .select(col("query_id"), col("cand_id"), col("rank").as("rank_lex"))
      val fused = dense.join(lex, Seq("query_id", "cand_id"), "full_outer")
        .withColumn("rrf_micro",
          expr("coalesce(1000000 div (60 + rank_dense), 0) + " +
            "coalesce(1000000 div (60 + rank_lex), 0)"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("rrf_micro").desc, col("cand_id"))
      fused.withColumn("fused_rank", row_number().over(w))
        .where(col("fused_rank") <= 5)
        .select(col("query_id"), col("cand_id"), col("rank_dense"),
          col("rank_lex"), col("rrf_micro"), col("fused_rank"))
    }),

    // Spark 4's transformWithState operator API (successor to
    // flatMapGroupsWithState): per-event-type running (count, sum, max) in
    // an explicit RocksDB-backed ValueState, over the same 2-batch parity
    // split as q163 — the processor emits each touched key's cumulative
    // stats per micro-batch, so the update-mode sink is the emission log
    // and the oracle replays it from the batch-membership predicate
    "q183_transform_with_state" -> ((s, d) =>
      graft.streaming.StatefulOps.eventsRunningStatsTws(s, d,
        splitDir = s"$genDir/events_parity_split",
        queryName = s"graft_stream_tws_${System.nanoTime()}")),

    // iterative BFS (the recursive-CTE workload Spark expresses as a
    // driver loop): shortest hop count over the SPARSE shipment graph
    // (each nation keeps its top-2 outgoing edges by weight, dst
    // tie-break), starting from the nation with the highest total
    // outgoing weight — a data-derived root that exists at every scale
    // (small SFs leave most nations supplier-less). The loop runs on the
    // nation-grain aggregate — ≤|nations| rows per level however big the
    // fact tables are — with per-level localCheckpoint to cut lineage;
    // the oracle is a real WITH RECURSIVE whose min(hop) provably equals
    // BFS first-visit depth
    "q164_bfs_hops" -> ((s, d) => {
      val edges = nationTradeKeyEdges(s, d)
      val top2 = edges.withColumn("rn", row_number().over(
          Window.partitionBy("src_key")
            .orderBy(col("w").desc, col("dst_key"))))
        .where(col("rn") <= 2).select("src_key", "dst_key")
        .localCheckpoint()
      var dist = edges.groupBy("src_key").agg(sum("w").as("tw"))
        .orderBy(col("tw").desc, col("src_key")).limit(1)
        .select(col("src_key").as("node"), lit(0L).as("hop"))
        .localCheckpoint()
      var frontier = dist
      for (h <- 1 to 6) {
        val nxt = frontier
          .join(broadcast(top2), frontier("node") === top2("src_key"))
          .select(col("dst_key").as("node")).distinct()
          .join(dist, Seq("node"), "left_anti")
          .withColumn("hop", lit(h.toLong))
          .localCheckpoint()
        dist = dist.unionByName(nxt).localCheckpoint()
        frontier = nxt
      }
      dist.join(broadcast(nation(s, d)
          .select(col("n_nationkey").as("node"), col("n_name"))), Seq("node"))
        .select(col("node"), col("n_name"), col("hop"))
    }),

    // stream-stream LEFT OUTER interval join: q74's attribution join plus
    // the rows an inner join can never show — clicks that led to nothing.
    // Null-match emission happens at watermark eviction, so the final
    // table = inner matches ∪ never-matched clicks whose click_ts+window
    // lies below the end-of-stream watermark (see
    // StreamJoin.clickPurchaseAttributionOuter for the measured rule)
    "q165_stream_outer_join" -> ((s, d) =>
      graft.streaming.StreamJoin.clickPurchaseAttributionOuter(s, d,
        splitDir = s"$genDir/events_split", windowSec = 600L,
        queryName = s"graft_stream_oj_${System.nanoTime()}"))
,
    // snapshot diff / reconciliation (the "what changed between loads"
    // audit): the restated snapshot is derived deterministically from
    // orders (keys ≡0 mod 97 dropped, ≡3 mod 7 repriced +$5, ≡5 mod 101
    // re-added under offset keys), then FULL OUTER on the key classifies
    // every row added/removed/changed/same in one shuffle join — the
    // scale shape of a data-diff tool; census carries exact cent totals
    // from both sides
    "q166_snapshot_diff" -> ((s, d) => {
      val o = orders(s, d).select(col("o_orderkey"),
        cents(col("o_totalprice")).cast("long").as("v"),
        col("o_orderpriority").as("p"))
      val newSnap = o.where(expr("o_orderkey % 97 != 0"))
        .select(col("o_orderkey"),
          when(expr("o_orderkey % 7 = 3"), col("v") + 500)
            .otherwise(col("v")).as("v"), col("p"))
        .unionByName(o.where(expr("o_orderkey % 101 = 5"))
          .select((col("o_orderkey") + lit(1000000000000000L))
            .as("o_orderkey"), col("v"), col("p")))
      val diff = o.select(col("o_orderkey"), col("v").as("v_old"),
          col("p").as("p_old"))
        .join(newSnap.select(col("o_orderkey"), col("v").as("v_new"),
          col("p").as("p_new")), Seq("o_orderkey"), "full_outer")
      diff.select(
          when(col("v_old").isNull, "added")
            .when(col("v_new").isNull, "removed")
            .when(col("v_old") =!= col("v_new") ||
              col("p_old") =!= col("p_new"), "changed")
            .otherwise("same").as("status"),
          coalesce(col("v_old"), lit(0L)).as("vo"),
          coalesce(col("v_new"), lit(0L)).as("vn"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("vo").cast("decimal(38,0)")).cast("long")
            .as("cents_old"),
          sum(col("vn").cast("decimal(38,0)")).cast("long")
            .as("cents_new"))
    }),

    // the TPC-H Q21 shape (public spec) adapted to this schema: on
    // multi-supplier orders, find the supplier who ALONE shipped late
    // (>90 days after the order date). The correlated EXISTS / NOT EXISTS
    // pair is reformulated as ONE per-order aggregate — distinct
    // suppliers and distinct LATE suppliers — then the blame predicate
    // (nsupp > 1, nlate = 1) rides the late rows; top-20 suppliers by
    // (waits DESC, suppkey). One pass over lineitem, no correlated rescans
    "q167_blame_supplier" -> ((s, d) => {
      val li = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"),
        expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
          .as("ship_d"))
      val ord = orders(s, d).select(col("o_orderkey"),
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
          .as("ord_d"))
      val l = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .withColumn("late", (col("ship_d") > col("ord_d") + 90).cast("int"))
      val perOrder = l.groupBy("l_orderkey")
        .agg(countDistinct(col("l_suppkey")).as("nsupp"),
          countDistinct(when(col("late") === 1, col("l_suppkey")))
            .as("nlate"))
      val blame = l.where(col("late") === 1)
        .join(perOrder.where(col("nsupp") > 1 && col("nlate") === 1),
          Seq("l_orderkey"))
        .select("l_orderkey", "l_suppkey").distinct()
      val supp = supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      val nat = nation(s, d).select(col("n_nationkey"), col("n_name"))
      val waits = blame.groupBy("l_suppkey")
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      waits.withColumn("rnk", row_number().over(
          Window.orderBy(col("numwait").desc, col("l_suppkey"))))
        .where(col("rnk") <= 20)
        .select(col("l_suppkey").as("s_suppkey"), col("n_name"),
          col("numwait"), col("rnk").cast("long").as("rnk"))
    }),

    // streaming SCD2 (point-in-time) enrichment: q149's interval lookup
    // as a stream-static join — purchases stream against the broadcast
    // version table with the ts−1 validity predicate; stateless, append
    // mode, so the sink equals the batch join the oracle computes
    "q169_stream_scd2_enrich" -> ((s, d) =>
      graft.streaming.StreamEnrich.enrichPurchasesScd2(s, d,
        splitDir = s"$genDir/events_split",
        queryName = s"graft_stream_scd2_${System.nanoTime()}")),

    // forecast backtest: the two standard naive baselines — seasonal
    // (value 7 days ago) and last-value (yesterday) — scored against the
    // actual daily order count over the dense calendar grid (gap days
    // = 0, so lags are calendar-true). Exact integer MAE/bias per model
    // ×1000; the winner per the data decides which baseline a real
    // forecaster must beat. All lags on the day-grain aggregate
    "q171_forecast_backtest" -> ((s, d) => {
      val days = orders(s, d)
        .groupBy(expr(
          "unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
          .as("dd"))
        .agg(count(lit(1)).as("cnt"))
      val grid = days.agg(min("dd").as("d0"), max("dd").as("d1"))
        .select(explode(expr("sequence(d0, d1)")).as("dd"))
      val dense = grid.join(days, Seq("dd"), "left")
        .select(col("dd"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      val w = Window.orderBy("dd")
      val scored = dense
        .withColumn("f_seasonal", lag("cnt", 7).over(w))
        .withColumn("f_last", lag("cnt", 1).over(w))
        .where(col("f_seasonal").isNotNull)
      scored.select(lit("seasonal_naive").as("model"),
          abs(col("cnt") - col("f_seasonal")).as("ae"),
          (col("cnt") - col("f_seasonal")).as("err"))
        .unionByName(scored.select(lit("last_value").as("model"),
          abs(col("cnt") - col("f_last")).as("ae"),
          (col("cnt") - col("f_last")).as("err")))
        .groupBy("model")
        .agg(count(lit(1)).as("n_days"),
          sum("ae").as("sum_ae"), sum("err").as("sum_err"))
        .select(col("model"), col("n_days"),
          expr("(sum_ae * 1000) div n_days").as("mae_milli"),
          col("sum_err"))
    }),

    // full-corpus layout manifest (S1+S2 closure): every CSV path the engine
    // writes for the complete 18-family sweep, checked verbatim against the
    // SHIPPED Datasets/ tree — the oracle lists the actual reference
    // deliverable via glob, so a single stem/casing/dual-view drift anywhere
    // in the 4,320-file grammar hash-fails. CorpusSpec proves writeFullCorpus
    // materializes exactly this manifest wholesale
    "q175_corpus_manifest" -> ((s, d) => {
      import s.implicits._
      s.createDataset(graft.generate.Sinks.corpusManifest(Grid.all()).toSeq)
        .toDF("rel_path")
    }),

    // txt-sidecar closure of the corpus manifest: the 1,404 shipped
    // structure/statistics text paths, hash-pinned against the tree itself
    // (CorpusSpec additionally proves the 1,188 structure files byte-equal)
    "q180_txt_manifest" -> ((s, d) => {
      import s.implicits._
      s.createDataset(graft.generate.Sinks.txtManifest(Grid.all()).toSeq)
        .toDF("rel_path")
    }),

    // Gini coefficient, exactly, from q145's Lorenz bins: twice the area
    // between the diagonal and the Lorenz curve via the trapezoid sum
    // Σ dx·(y_i + y_{i−1}) in ppm² — every term an exact integer on the
    // SAME div-truncated cumulative shares q145 publishes, so the two
    // queries can never disagree about the curve they summarize
    "q174_gini" -> ((s, d) => {
      val lor = lorenzCurve(s, d).select(col("bin"),
        col("cum_orders_ppm").as("x"), col("cum_revenue_ppm").as("y"))
      val wL = Window.orderBy("bin")
      lor
        .withColumn("px", lag("x", 1, 0L).over(wL))
        .withColumn("py", lag("y", 1, 0L).over(wL))
        .agg(count(lit(1)).as("n_bins"),
          sum(expr("(x - px) * (y + py)")).as("trapezoid_ppm2"))
        .select(col("n_bins"), col("trapezoid_ppm2"),
          expr("(1000000000000 - trapezoid_ppm2) div 1000000")
            .as("gini_ppm"))
    }),

    // Kendall's τ rank correlation: do nations with more revenue also
    // have more active customers? Concordant/discordant/tied pair counts
    // over the |nations|² aggregate — pure sign comparisons, no products
    // (overflow-free at any magnitude), τ_a = (C−D)/n_pairs from exact
    // integers. The pairwise join is bounded by nation cardinality, never
    // fact rows
    "q173_kendall_tau" -> ((s, d) => {
      val cust = customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val m = orders(s, d).select(col("o_custkey"),
          cents(col("o_totalprice")).as("v"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nk"))
        .agg(sum(col("v").cast("decimal(38,0)")).cast("long").as("rev"),
          countDistinct(col("o_custkey")).as("nc"))
      val b = m.select(col("nk").as("nk2"), col("rev").as("rev2"),
        col("nc").as("nc2"))
      m.join(broadcast(b), col("nk2") > col("nk"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when((col("rev") > col("rev2") && col("nc") > col("nc2")) ||
            (col("rev") < col("rev2") && col("nc") < col("nc2")), 1L)
            .otherwise(0L)).as("n_concordant"),
          sum(when((col("rev") > col("rev2") && col("nc") < col("nc2")) ||
            (col("rev") < col("rev2") && col("nc") > col("nc2")), 1L)
            .otherwise(0L)).as("n_discordant"),
          sum(when(col("rev") === col("rev2"), 1L).otherwise(0L))
            .as("n_tie_x"),
          sum(when(col("nc") === col("nc2"), 1L).otherwise(0L))
            .as("n_tie_y"))
        .select(col("n_pairs"), col("n_concordant"), col("n_discordant"),
          col("n_tie_x"), col("n_tie_y"),
          expr("cast(floor(cast(n_concordant - n_discordant as double) " +
            "/ cast(n_pairs as double) * 1000 + 0.5) as bigint)")
            .as("tau_a_milli"))
    }),

    // integer exponential smoothing (SES, α=1/4): the order-dependent
    // recursion l_t = (v_t + 3·l_{t-1}) div 4 stays EXACT because values
    // are non-negative micro integers — no float decay drift, any engine
    // agrees bit for bit. Spark walks each user's sorted sequence with
    // one aggregate() lambda (the q170 pattern); the oracle replays the
    // identical recursion as a recursive CTE over per-user row numbers.
    // The final level IS the one-step forecast. The fold carries an
    // explicit 'init' flag (not a sign sentinel), and vm clamps at 0 in
    // BOTH engines — div (truncate) vs // (floor) agree only on
    // non-negative operands, so the clamp IS the cross-engine contract,
    // not an assumption about the data
    "q172_ses_smoothing" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"),
        expr("ts div 1000").as("ts_us"), col("event_id"),
        expr("cast(greatest(floor(value * 1e6), 0) as long)").as("vm"))
      val seqs = ev.groupBy("user_id")
        .agg(array_sort(collect_list(struct(col("ts_us"), col("event_id"),
          col("vm")))).as("seq"))
      seqs.select(col("user_id"), size(col("seq")).as("n_events"),
        expr("""
          aggregate(seq, named_struct('init', false, 'lvl', 0L),
            (acc, x) -> named_struct('init', true,
              'lvl', case when acc.init then (x.vm + 3 * acc.lvl) div 4
                          else x.vm end)).lvl
        """).as("level_micro"))
    }),

    // nested types + higher-order functions: each user's event sequence
    // becomes a ts-sorted ARRAY OF STRUCTS (collect_list + array_sort),
    // then ONE codegen'd aggregate() lambda walks it with a struct
    // accumulator computing the longest strictly-increasing value run and
    // the max inter-event gap — no window, no re-shuffle, the sequence
    // never leaves its row. The oracle computes the same two quantities
    // relationally (lag + run-id islands), which is the semantic check
    // that the HOF walk is right. Census by run length caps the output
    "q170_sequence_hof" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"),
        expr("ts div 1000").as("ts_us"),
        expr("cast(floor(value * 1e6) as long)").as("vm"),
        col("event_id"))
      val seqs = ev.groupBy("user_id")
        .agg(array_sort(collect_list(struct(col("ts_us"), col("event_id"),
          col("vm")))).as("seq"))
      // acc = (best_run, cur_run, max_gap, prev_ts, prev_vm); sentinel
      // prev_ts = -1 marks the first element
      val walked = seqs.select(col("user_id"), size(col("seq")).as("n_events"),
        expr("""
          aggregate(
            seq,
            named_struct('best', 1L, 'cur', 1L, 'gap', 0L,
                         'pts', -1L, 'pvm', 0L),
            (acc, x) -> named_struct(
              'best', greatest(acc.best,
                case when acc.pts >= 0 and x.vm > acc.pvm
                     then acc.cur + 1 else 1L end),
              'cur',  case when acc.pts >= 0 and x.vm > acc.pvm
                     then acc.cur + 1 else 1L end,
              'gap',  case when acc.pts >= 0
                     then greatest(acc.gap, x.ts_us - acc.pts)
                     else acc.gap end,
              'pts', x.ts_us,
              'pvm', x.vm),
            acc -> named_struct('best', acc.best, 'gap', acc.gap))
        """).as("r"))
      walked.groupBy(col("r.best").as("run_len"))
        .agg(count(lit(1)).as("n_users"),
          sum("n_events").as("sum_events"),
          max(col("r.gap")).as("max_gap_us"))
    }),

    // UNPIVOT (melt): the inverse of q39's pivot — wide lineitem measures
    // become (measure, value) long form via the stack generator, then a
    // per-(flag, measure) census. The 4x generator blowup never shuffles:
    // partial aggregation collapses each partition to |flags|·4 rows
    // before the exchange. Uniform floor(x·1e6) quantization on both
    // sides (bit-identical IEEE multiply, order-free integer sums)
    "q168_unpivot_measures" -> ((s, d) =>
      lineitem(s, d).select(col("l_returnflag"),
          expr("stack(4, " +
            "'quantity', cast(floor(l_quantity * 1e6) as long), " +
            "'extendedprice', cast(floor(l_extendedprice * 1e6) as long), " +
            "'discount', cast(floor(l_discount * 1e6) as long), " +
            "'tax', cast(floor(l_tax * 1e6) as long)) as (measure, vm)"))
        .groupBy("l_returnflag", "measure")
        .agg(count(lit(1)).as("n"),
          sum(col("vm").cast("decimal(38,0)")).cast("long")
            .as("sum_micro"))),

    // first-order Markov transition matrix over per-user event sequences:
    // consecutive (from → to) pairs via ONE lead() on the per-user window
    // (state bounded by a user's events, never the stream), then a
    // transition census with exact ppm row-normalized probabilities. The
    // clickstream "what happens next" model, entirely on the pair grain
    "q191_markov_transitions" -> ((s, d) => {
      val e = events(s, d).select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("ts_us"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val pairs = e.withColumn("to_type", lead(col("event_type"), 1).over(w))
        .where(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val fromTot = pairs.groupBy("from_type").agg(sum("n").as("n_from"))
      pairs.join(broadcast(fromTot), "from_type")
        .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
          expr("(n * 1000000) div n_from").as("p_ppm"))
    }),

    // grid-bucketed spatial near-neighbor self-join (gridNeighborPairs)
    // over the customer points: pair census plus the cell layout; skew is
    // bounded by cell occupancy
    "q192_spatial_grid_join" -> ((s, d) => {
      val pts = customerPoints(s, d)
      val pairs = gridNeighborPairs(pts)
      val census = pairs.agg(count(lit(1)).as("n_pairs"),
        sum("d2").as("sum_d2"), min("d2").as("min_d2"),
        max("d2").as("max_d2"),
        sum(expr("(a_id * 131071 + b_id) % 2147483647")).as("pair_checksum"))
      val layout = pts.agg(count(lit(1)).as("n_points"),
        count_distinct(expr("(x div 2000) * 200 + (y div 2000)"))
          .as("n_cells"))
      census.crossJoin(broadcast(layout))
        .select(col("n_points"), col("n_cells"), col("n_pairs"),
          col("sum_d2"), col("min_d2"), col("max_d2"), col("pair_checksum"))
    }),

    // sweep-line concurrency at the DAY grain: order intervals become
    // ±1 deltas aggregated to (nation, day) BEFORE any ordered scan, so
    // the running sum's window holds at most the calendar's days per
    // nation — bounded by time, not by rows, which is what lets the same
    // plan sweep a 100 TB fact table. Dates ride as epoch-day integers
    // end-to-end (no engine date-encoding drift)
    "q193_max_concurrency" -> ((s, d) => {
      val o = orders(s, d).select(col("o_custkey"),
          expr("datediff(to_date(o_orderdate), date'1970-01-01')").as("d0"),
          expr("datediff(to_date(o_orderdate), date'1970-01-01') " +
            "+ 1 + o_orderkey % 30").as("d1"))
      val cust = customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val deltas = o.join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), explode(array(
          struct(col("d0").as("day"), lit(1L).as("delta")),
          struct(col("d1").as("day"), lit(-1L).as("delta")))).as("e"))
        .select(col("c_nationkey"), col("e.day").as("day"),
          col("e.delta").as("delta"))
        .groupBy("c_nationkey", "day").agg(sum("delta").as("net"))
      val w = Window.partitionBy("c_nationkey").orderBy("day")
      val cum = deltas.withColumn("conc", sum("net").over(w))
      val mx = cum.groupBy("c_nationkey")
        .agg(max("conc").as("max_conc"), count(lit(1)).as("n_days"))
      cum.join(mx, "c_nationkey").where(col("conc") === col("max_conc"))
        .groupBy("c_nationkey", "max_conc", "n_days")
        .agg(min("day").as("peak_day"))
        .select(col("c_nationkey"), col("max_conc"), col("n_days"),
          col("peak_day"))
    }),

    // bloom-pruned join: the build side's custkeys become a ≤ 8192-row bit
    // set (q81's relational contract) that prunes the FACT rows through two
    // broadcast equi-joins — no per-key aggregate, no shuffle — before the
    // real membership join eliminates the residual false positives. Output
    // exposes both counts per priority, so the pruning's one-sided
    // guarantee (n_member ≤ n_bloom_pass, members never dropped) is itself
    // oracled
    "q194_bloom_semijoin" -> ((s, d) => {
      import graft.ops.Bloom
      val bld = customer(s, d)
        .where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val pruned = Bloom.bloomPrune(orders(s, d), "o_custkey",
        Bloom.bloomBits(bld, "c_custkey"))
      val mem = bld.distinct()
        .select(col("c_custkey").as("o_custkey"), lit(1).as("m"))
      pruned.join(mem, Seq("o_custkey"), "left")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_bloom_pass"),
          sum(coalesce(col("m"), lit(0)).cast("long")).as("n_member"),
          sum(when(col("m") === 1,
              ExactStats.micro(col("o_totalprice")).cast("long"))
            .otherwise(0L)).as("member_rev_micro"))
    }),

    // entity-resolution capstone: a dirty registry (every customer plus
    // deterministic prefix-mutated duplicates and a non-duplicate decoy),
    // blocked on the mutation-stable digit payload so candidate pairs form
    // inside ≤4-record blocks (one equi-join, never N²), matched by edit
    // distance (the decoy fails the threshold — similarity doing real
    // work), clustered by distributed connected components, and reported
    // as a cluster-size census with the candidate/match funnel attached
    "q195_entity_resolution" -> ((s, d) => {
      val cand = erCandidates(s, d)
      val edges = cand.where(col("lev") <= 2)
      val labeled = graft.ops.ConnectedComponents.componentsOf(
        erRegistry(s, d).select(col("id")), edges)
      val hist = labeled.groupBy("component")
        .agg(count(lit(1)).as("csize"))
        .groupBy("csize").agg(count(lit(1)).as("n_clusters"),
          sum("component").as("comp_checksum"))
      val glob = cand.agg(count(lit(1)).as("n_candidates"),
        sum((col("lev") <= 2).cast("long")).as("n_matches"))
      hist.crossJoin(broadcast(glob))
        .select(col("csize"), col("n_clusters"), col("comp_checksum"),
          col("n_candidates"), col("n_matches"))
    }),

    // single-source weighted shortest paths over the nation-grain shipping
    // graph (edge weight = fastest observed order→ship days), as 8 fixed
    // synchronous Bellman–Ford rounds: each round is one join of the
    // 25-row frontier against the ≤625-row edge list — the Pregel shape,
    // every round a bounded shuffle, localCheckpoint snapping the lineage.
    // The oracle replays the SAME 8 unrolled rounds, so the iteration
    // count is part of the pinned contract
    "q196_weighted_sssp" -> ((s, d) => {
      val fact = lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("s_nationkey").cast("long").as("u"),
          col("c_nationkey").cast("long").as("v"),
          greatest(expr("datediff(to_date(l_shipdate), to_date(o_orderdate))"),
            lit(0)).cast("long").as("wd"))
      val edges = fact.groupBy("u", "v").agg(min("wd").as("w")).localCheckpoint()
      var dist = nation(s, d).select(col("n_nationkey").cast("long").as("node"),
        when(col("n_nationkey") === 0, 0L).otherwise(lit(null).cast("long"))
          .as("dist"))
      for (_ <- 1 to 8) {
        val relax = dist.where(col("dist").isNotNull)
          .join(edges, col("node") === col("u"))
          .groupBy(col("v")).agg(min(col("dist") + col("w")).as("cand"))
          .withColumnRenamed("v", "node")
        dist = dist.join(relax, Seq("node"), "left")
          .select(col("node"),
            when(col("dist").isNull, col("cand"))
              .when(col("cand").isNull, col("dist"))
              .otherwise(least(col("dist"), col("cand"))).as("dist"))
          .localCheckpoint()
      }
      dist
    }),

    // the native full Damerau–Levenshtein expression (transposition = ONE
    // edit, the Lowrance–Wagner variant DuckDB also implements) scored
    // against builtin levenshtein over the ER candidate pairs: the
    // transposed-prefix duplicates land at (lev=2, dl=1) — the census IS
    // the evidence transposition-awareness changes match decisions
    "q197_damerau_vs_lev" -> ((s, d) =>
      erCandidates(s, d)
        .select(col("lev"),
          graft.text.DamerauLevenshtein(col("name_a"), col("name_b"))
            .cast("long").as("dl"))
        .groupBy("lev", "dl").agg(count(lit(1)).as("n_pairs"))),

    // weight-of-evidence feature binning (the credit-scoring/feature-
    // engineering staple): per-user click count binned, each bin's good/bad
    // odds scored as WOE at bit-length granularity (q188's integer-log
    // device, +1 Laplace smoothing so empty cells stay finite) plus an
    // exact-integer IV contribution. One user-grain aggregate, then a
    // ≤6-row bin census — nothing user-sized ever re-shuffles
    "q198_woe_binning" -> ((s, d) => {
      val per = events(s, d).groupBy("user_id")
        .agg(sum((col("event_type") === "click").cast("long")).as("clicks"),
          max((col("event_type") === "purchase").cast("long")).as("good"))
        .withColumn("b", least(expr("clicks div 4"), lit(5L)))
      val bins = per.groupBy("b").agg(count(lit(1)).as("n_users"),
        sum("good").as("n_good"), sum(lit(1L) - col("good")).as("n_bad"))
      val tot = bins.agg(sum("n_good").as("tot_good"),
        sum("n_bad").as("tot_bad"), count(lit(1)).as("n_bins"))
      val woe = (length(bin((col("n_good") + 1) * (col("tot_bad") + col("n_bins")))) -
        length(bin((col("n_bad") + 1) * (col("tot_good") + col("n_bins")))))
        .cast("long")
      bins.crossJoin(broadcast(tot))
        .select(col("b"), col("n_users"), col("n_good"), col("n_bad"),
          woe.as("woe_bits"),
          ((expr("((n_good + 1) * 1000) div (tot_good + n_bins)") -
            expr("((n_bad + 1) * 1000) div (tot_bad + n_bins)")) * woe)
            .as("iv_contrib_milli"))
    }),

    // k-core decomposition (k=3) by 5 FIXED peeling rounds over the
    // supplier/part-bucket bipartite graph: each round one degree
    // aggregate + two semi-join filters, localCheckpoint snapping lineage
    // — the iterative-graph-contraction shape at one shuffle per round.
    // The oracle unrolls the SAME 5 peels, so the round count is pinned;
    // the census is coalesce-guarded so an empty core still hash-matches
    "q199_kcore" -> ((s, d) => {
      var edges = lineitem(s, d)
        .select(col("l_suppkey").cast("long").as("u"),
          (lit(1000000L) + col("l_partkey") % 500).as("v"))
        .distinct().localCheckpoint()
      for (_ <- 1 to 5) {
        val keep = edges.select(col("u").as("n"))
          .union(edges.select(col("v").as("n")))
          .groupBy("n").agg(count(lit(1)).as("deg"))
          .where(col("deg") >= 3).select("n")
        edges = edges
          .join(keep.withColumnRenamed("n", "u"), Seq("u"))
          .join(keep.withColumnRenamed("n", "v"), Seq("v"))
          .select("u", "v").localCheckpoint()
      }
      val nodes = edges.select(col("u").as("n"))
        .union(edges.select(col("v").as("n"))).distinct()
      edges.agg(count(lit(1)).as("n_edges"),
          coalesce(sum(expr("u + v")), lit(0L)).as("edge_checksum"))
        .crossJoin(broadcast(nodes.agg(count(lit(1)).as("n_nodes"),
          coalesce(sum("n"), lit(0L)).as("node_checksum"))))
        .select(col("n_nodes"), col("n_edges"), col("node_checksum"),
          col("edge_checksum"))
    }),

    // the hashing trick: tokens mapped to a fixed 64-bucket feature space
    // through the [[graft.text.Fingerprint]] rolling hash (the codegen'd
    // expression whose contract is SQL-expressible, so the oracle hashes
    // identically) — per-bucket load and collision census, the dimension-
    // bounded featurization every large-scale text model feeds on
    "q200_feature_hashing" -> ((s, d) =>
      documents(s, d)
        .select(explode(TextOps.tokensCol(col("text"))).as("tok"))
        .withColumn("bucket", TextOps.fingerprint(col("tok")) % 64)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_occurrences"),
          count_distinct(col("tok")).as("n_distinct_tokens"))),

    // Spark 4 VARIANT round-trip: per-order nested JSON docs (header +
    // linenumber-ordered line array) built with to_json, parsed to the
    // VARIANT type, and shredded back out with typed variant_get paths —
    // the semi-structured ingestion pattern. The oracle never sees the
    // JSON: it recomputes the same census relationally, so a wrong
    // parse/shred (dropped line, misordered array, type coercion)
    // hash-fails against first principles
    "q201_variant_shred" -> ((s, d) => {
      val lines = lineitem(s, d).select(col("l_orderkey"),
          struct(col("l_linenumber").cast("long").as("ln"),
            ExactStats.micro(col("l_quantity")).cast("long").as("q")).as("li"))
        .groupBy("l_orderkey").agg(sort_array(collect_list("li")).as("lis"))
      val v = orders(s, d)
        .join(lines, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority"),
          parse_json(to_json(struct(col("o_custkey").as("cust"),
            col("o_orderpriority").as("prio"), col("lis").as("lines"))))
            .as("v"))
      v.select(col("o_orderpriority"),
          expr("variant_get(v, '$.cust', 'long')").as("cust"),
          expr("variant_get(v, '$.lines[0].q', 'long')").as("first_q"),
          size(expr("variant_get(v, '$.lines', 'array<variant>')"))
            .cast("long").as("n_lines"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), sum("first_q").as("sum_first_q"),
          sum("n_lines").as("sum_n_lines"), sum("cust").as("cust_checksum"))
    }),

    // t-closeness (q161/q186's completer): per-QI-group Earth Mover's
    // Distance of the ordered sensitive attribute (balance band) against
    // the global distribution — for an ordered attribute EMD is the mean
    // |cumulative-share difference|, exact in ppm. Group×band grid is
    // groups × ≤7 bands (broadcast), cumulative windows run on that grid,
    // never on raw rows
    "q202_t_closeness" -> ((s, d) => {
      val bands = customer(s, d).select(col("c_nationkey"),
        col("c_mktsegment"),
        expr("cast(floor(c_acctbal / 2000.0) as long)").as("band"))
      val glob = bands.groupBy("band").agg(count(lit(1)).as("gcnt"))
      val gtot = glob.agg(sum("gcnt").as("n_total"),
        count(lit(1)).as("n_bands"))
      val gcum = glob.crossJoin(broadcast(gtot))
        .withColumn("gcum_ppm", expr(
          "(sum(gcnt) OVER (ORDER BY band) * 1000000) div n_total"))
        .select(col("band"), col("gcum_ppm"), col("n_bands"))
      val groups = bands.groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n_rows"))
      val cells = bands.groupBy("c_nationkey", "c_mktsegment", "band")
        .agg(count(lit(1)).as("cnt"))
      val grid = groups.crossJoin(broadcast(glob.select(col("band"))))
        .join(cells, Seq("c_nationkey", "c_mktsegment", "band"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      val w = Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("band")
      grid.withColumn("cum_ppm",
          expr("(sum(cnt) OVER (PARTITION BY c_nationkey, c_mktsegment " +
            "ORDER BY band) * 1000000) div n_rows"))
        .join(broadcast(gcum), Seq("band"))
        .groupBy("c_nationkey", "c_mktsegment", "n_rows", "n_bands")
        .agg(sum(abs(col("cum_ppm") - col("gcum_ppm"))).as("sum_absdiff"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("n_rows"),
          expr("sum_absdiff div (n_bands - 1)").as("t_ppm"))
    }),

    // NDCG@5 for the dense retriever, in the integer-log contract: the
    // discount 1e6 div bitlen(rank+1) and its cumulative ideal are BOTH
    // generated from one Scala table shared with the oracle SQL, so the
    // quantization cannot drift. Relevance = label agreement (excluding
    // the self-hit); queries with no relevant hit are excluded (idcg=0)
    "q203_ndcg" -> ((s, d) => {
      val emb = embeddings(s, d)
      val topk = Similarity.cosineTopK(emb,
        emb.where(col("vec_id") % 50 === 0), "vec_id", "embedding", 5)
      val lbl = emb.select(col("vec_id"), col("label"))
      val rel = topk
        .join(broadcast(lbl.withColumnRenamed("vec_id", "query_id")
          .withColumnRenamed("label", "lq")), Seq("query_id"))
        .join(broadcast(lbl.withColumnRenamed("vec_id", "cand_id")
          .withColumnRenamed("label", "lc")), Seq("cand_id"))
        .withColumn("rel", (col("lq") === col("lc") &&
          col("cand_id") =!= col("query_id")).cast("long"))
      val per = rel.groupBy("query_id")
        .agg(sum(col("rel") * expr(NdcgDiscCase)).as("dcg"),
          sum("rel").as("nrel"))
        .where(col("nrel") > 0)
        .withColumn("ndcg_ppm",
          expr(s"(dcg * 1000000) div ($NdcgIdealCase)"))
      per.agg(count(lit(1)).as("n_queries"),
        expr("sum(ndcg_ppm) div count(1)").as("mean_ndcg_ppm"),
        min("ndcg_ppm").as("min_ndcg_ppm"),
        sum((col("ndcg_ppm") === 1000000L).cast("long")).as("n_perfect"))
    }),

    // LATERAL correlated subquery (Spark 4 lateral join): per-nation top-2
    // customers by balance expressed as the SQL-standard lateral shape —
    // the optimizer decorrelates it into a ranked join rather than
    // rescanning customers per nation; ties broken on c_custkey
    "q204_lateral_topk" -> ((s, d) => {
      nation(s, d).createOrReplaceTempView("nation_v")
      customer(s, d).createOrReplaceTempView("customer_v")
      s.sql("""SELECT n_nationkey, c_custkey, bal_micro FROM nation_v,
        LATERAL (SELECT c_custkey,
                   cast(floor(c_acctbal * 1e6) as long) AS bal_micro
                 FROM customer_v WHERE c_nationkey = n_nationkey
                 ORDER BY bal_micro DESC, c_custkey LIMIT 2)""")
    }),

    // collation-aware dedup (Spark 4 collations): case-variant duplicates
    // synthesized deterministically, then distinct-counted under binary
    // equality vs the UTF8_LCASE collation — the engine-native form of
    // case-insensitive identity, pinned against the oracle's lower()
    // formulation
    "q205_collation_dedup" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val reg = docs.unionByName(docs.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          upper(col("text")).as("text")))
      reg.agg(count(lit(1)).as("n_docs"),
        count_distinct(col("text")).as("n_distinct_binary"),
        count_distinct(expr("collate(text, 'UTF8_LCASE')"))
          .as("n_distinct_ci"))
    }),

    // hive-partitioned write + partition-pruned read: the storage-layout
    // contract a 100 TB table lives or dies by. Orders land partitioned by
    // priority; the read-back filter must prune to ONE directory (PlanSpec
    // asserts PartitionFilters carries the predicate — the other 4/5 of
    // the data is never opened), and the oracle re-reads the same tree
    // hive-style, so the layout itself is hash-checked
    "q206_partition_pruning" -> ((s, d) => {
      val dir = s"$genDir/q206_orders_by_priority"
      orders(s, d).write.mode("overwrite")
        .partitionBy("o_orderpriority").parquet(dir)
      s.read.parquet(dir)
        .where(col("o_orderpriority") === "1-URGENT")
        .agg(count(lit(1)).as("n_orders"),
          sum(ExactStats.micro(col("o_totalprice")).cast("long"))
            .as("rev_micro"),
          count_distinct(col("o_custkey")).as("n_custs"))
    }),

    // compaction planning (the small-file problem): the 4,320-file corpus
    // manifest with deterministic synthetic sizes, packed into ~64 KiB
    // bins by ordered first-fit — bin id is pure arithmetic on the
    // running sum ((cum − size) div cap), so planning is one window over
    // the per-family file lists, no driver loop. The ops sweep every
    // large table's maintenance job runs nightly
    "q207_compaction_plan" -> ((s, d) => {
      import s.implicits._
      val files = s.createDataset(
          graft.generate.Sinks.corpusManifest(Grid.all()).toSeq)
        .toDF("rel_path")
        .withColumn("family", expr("split_part(rel_path, '/', 1)"))
        .withColumn("bytes",
          (TextOps.fingerprint(col("rel_path")) % 9000 + 1000).cast("long"))
      val w = Window.partitionBy("family").orderBy("rel_path")
      val packed = files.withColumn("cum", sum("bytes").over(w))
        .withColumn("bin", expr("(cum - bytes) div 65536"))
      packed.groupBy("family", "bin")
        .agg(sum("bytes").as("bin_bytes"), count(lit(1)).as("nf"))
        .groupBy("family")
        .agg(sum("nf").as("n_files"), sum("bin_bytes").as("total_bytes"),
          count(lit(1)).as("n_bins"), max("bin_bytes").as("max_bin_bytes"))
    }),

    // hierarchical rollup by pointer doubling: the ancestor closure of the
    // decimal-digit forest (parent = id div 10) built in 3 doubling rounds
    // (A ∪ A∘A, distinct, localCheckpoint) — O(log depth) joins instead of
    // depth sequential passes, the transitive-closure shape that makes
    // deep-hierarchy rollups tractable at scale. Subtree sums for shallow
    // ancestors then drop out of one grouped join; the oracle walks the
    // SAME closure with a recursive CTE
    "q208_hierarchy_rollup" -> ((s, d) => {
      val cust = customer(s, d)
      var anc = cust.where(col("c_custkey") > 0)
        .select(col("c_custkey").as("v"),
          expr("c_custkey div 10").as("a")).localCheckpoint()
      for (_ <- 1 to 3) {
        anc = anc.unionByName(
            anc.as("x").join(anc.as("y"), col("x.a") === col("y.v"))
              .select(col("x.v").as("v"), col("y.a").as("a")))
          .distinct().localCheckpoint()
      }
      val vals = cust.select(col("c_custkey").as("v"),
        cents(col("c_acctbal")).cast("long").as("cts"))
      anc.where(col("a") < 100).join(vals, Seq("v"))
        .groupBy("a").agg(count(lit(1)).as("n_desc"),
          sum("cts").as("subtree_cents"))
    }),

    // COMPLETE output mode (the third streaming mode, after q18-append and
    // q163-update): a running top-3 event-type leaderboard whose memory
    // sink is REPLACED per micro-batch — sort+limit is legal only in this
    // mode. The 2-batch parity split proves the final emission equals the
    // batch answer no matter how the stream was chopped
    "q209_stream_complete_topk" -> ((s, d) =>
      graft.streaming.StreamAgg.eventsTopTypesComplete(s, d,
        splitDir = s"$genDir/events_split_complete",
        queryName = s"graft_complete_${System.nanoTime()}")),

    // equi-DEPTH binning (q198's equal-width complement): exact quintile
    // boundaries as order statistics on the $100-bin histogram grain
    // (boundary_q = min bin with cum ≥ ceil(qN/5) — pure integer), rows
    // assigned by comparison against the 4 broadcast boundaries. The
    // histogram is the only thing the window ever sorts; rows meet the
    // boundaries in a broadcast join, never a global rank
    "q210_equidepth_binning" -> ((s, d) => {
      val binned = orders(s, d)
        .select((cents(col("o_totalprice")).cast("long"))
          .as("v")).withColumn("b", expr("v div 10000"))
      val hist = binned.groupBy("b").agg(count(lit(1)).as("n"))
      val tot = hist.agg(sum("n").as("nt"))
      val cum = hist.crossJoin(broadcast(tot))
        .withColumn("cum", expr("sum(n) OVER (ORDER BY b)"))
      val bounds = cum.agg(
        min(when(col("cum") >= expr("(1 * nt + 4) div 5"), col("b"))).as("b1"),
        min(when(col("cum") >= expr("(2 * nt + 4) div 5"), col("b"))).as("b2"),
        min(when(col("cum") >= expr("(3 * nt + 4) div 5"), col("b"))).as("b3"),
        min(when(col("cum") >= expr("(4 * nt + 4) div 5"), col("b"))).as("b4"))
      binned.crossJoin(broadcast(bounds))
        .withColumn("bucket", lit(1L) + (col("b") > col("b1")).cast("long")
          + (col("b") > col("b2")).cast("long")
          + (col("b") > col("b3")).cast("long")
          + (col("b") > col("b4")).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"), min("b").as("min_bin"),
          max("b").as("max_bin"), sum("v").as("sum_cents"))
    }),

    // per-user behavioral set similarity through array HOFs: the two
    // parity halves' distinct event-type sets meet in collect_set /
    // array_intersect (no per-pair shuffle), censused on the (|A|, |B|,
    // |A∩B|) grain with exact ppm Jaccard. The oracle never builds an
    // array — inclusion-exclusion over relational distinct counts proves
    // the HOF set algebra from first principles
    "q211_set_similarity" -> ((s, d) => {
      val per = events(s, d).groupBy("user_id").agg(
        array_sort(collect_set(when(col("event_id") % 2 === 0,
          col("event_type")))).as("sa"),
        array_sort(collect_set(when(col("event_id") % 2 === 1,
          col("event_type")))).as("sb"))
      per.select(size(col("sa")).cast("long").as("na"),
          size(col("sb")).cast("long").as("nb"),
          size(array_intersect(col("sa"), col("sb"))).cast("long").as("ni"))
        .groupBy("na", "nb", "ni")
        .agg(count(lit(1)).as("n_users"))
        .withColumn("jaccard_ppm",
          expr("(ni * 1000000) div (na + nb - ni)"))
    }),

    // schema evolution: two snapshot generations written with different
    // schemas (v2 adds a column), read back as ONE table via mergeSchema —
    // the long-lived-dataset contract every 100 TB lake depends on. The
    // oracle re-reads both trees union_by_name, so the null-fill of the
    // missing column is itself hash-checked
    "q212_schema_evolution" -> ((s, d) => {
      val o = orders(s, d)
      val v1 = s"$genDir/q212_v1"
      val v2 = s"$genDir/q212_v2"
      o.where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          ExactStats.micro(col("o_totalprice")).cast("long").as("price_micro"))
        .write.mode("overwrite").parquet(v1)
      o.where(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"),
          ExactStats.micro(col("o_totalprice")).cast("long").as("price_micro"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(v2)
      s.read.option("mergeSchema", "true").parquet(v1, v2)
        .groupBy(coalesce(col("o_orderpriority"), lit("<pre-evolution>"))
          .as("priority"))
        .agg(count(lit(1)).as("n_orders"), sum("price_micro").as("rev_micro"),
          count_distinct(col("o_custkey")).as("n_custs"))
    }),

    // top user journeys: per (user, hour) activity window, the ordered
    // event-type path materializes through ONE sorted-struct collect (no
    // window function, no re-shuffle), long sessions capped so path state
    // stays bounded; global top-5 rides TakeOrdered. The sequence-mining
    // census every product-analytics stack starts from
    "q213_path_census" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"),
        expr("ts div 1000").as("ts_us"), col("event_id"), col("event_type"))
        .withColumn("sess", expr("ts_us div 3600000000"))
      val per = ev.groupBy("user_id", "sess")
        .agg(count(lit(1)).as("n"),
          expr("array_join(transform(array_sort(collect_list(" +
            "struct(ts_us, event_id, event_type))), x -> x.event_type), " +
            "'>')").as("path"))
      per.where(col("n") <= 8)
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path")).limit(5)
    }),

    // r×c chi-square independence (q156's 2×2 generalized): nation ×
    // segment observed vs expected under independence, the whole statistic
    // exact — contrib_milli = (O·N − rt·ct)²·1000 div (rt·ct·N) in
    // DECIMAL(38,0)/HUGEINT. Safe bound: (O·N)² must stay under 10^38, so
    // exact arithmetic holds to N ≈ 10^9 rows per grid; beyond that,
    // rescale counts (divide margins by a common factor) before squaring.
    // Dimension margins broadcast back onto the ≤125-cell grid
    "q214_chi2_independence" -> ((s, d) => {
      val cells = customer(s, d)
        .groupBy(col("c_nationkey").as("r"), col("c_mktsegment").as("c"))
        .agg(count(lit(1)).as("o"))
      val rt = cells.groupBy("r").agg(sum("o").as("rt"))
      val ct = cells.groupBy("c").agg(sum("o").as("ct"))
      val n = cells.agg(sum("o").as("n"),
        count_distinct(col("r")).as("nr"), count_distinct(col("c")).as("nc"))
      cells.join(broadcast(rt), "r").join(broadcast(ct), "c")
        .crossJoin(broadcast(n))
        .withColumn("contrib_milli", expr(
          "cast(cast((o * n - rt * ct) as decimal(38,0)) " +
            "* (o * n - rt * ct) * 1000 div (rt * ct * n) as long)"))
        .agg(sum("contrib_milli").as("chi2_milli"),
          count(lit(1)).as("n_cells"),
          max(expr("(nr - 1) * (nc - 1)")).as("dof"),
          max(col("n")).as("n_customers"))
    }),

    // time-decayed engagement scoring (the feature-store freshness
    // weighting) in EXACT integer halving: value halves per week of age
    // (v div 2^age_weeks, shift capped), so the score is bit-stable under
    // any partitioning — no float decay drift. One scan + broadcast
    // max-ts, top-10 rides TakeOrdered
    "q215_time_decay_score" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"),
        expr("ts div 1000").as("ts_us"),
        greatest(floor(col("value") * 1e6), lit(0.0)).cast("long")
          .as("vm"))
      val mx = ev.agg(max("ts_us").as("max_us"))
      ev.crossJoin(broadcast(mx))
        .withColumn("shift", least(
          expr("(max_us - ts_us) div 604800000000"), lit(20L)).cast("int"))
        .withColumn("dec", expr("vm div (cast(1 as bigint) << shift)"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("dec").as("decayed_micro"))
        .orderBy(col("decayed_micro").desc, col("user_id")).limit(10)
    }),

    // sequence-pattern census over the q213 journey paths: how many
    // (user, hour) sessions contain the click→purchase adjacency, a view
    // before any purchase, or an error anywhere — pattern tests are plain
    // substring containment on the materialized path (identical semantics
    // on both engines; no regex-dialect drift), the MATCH_RECOGNIZE-lite
    // every product funnel starts with
    "q216_sequence_pattern" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"),
        expr("ts div 1000").as("ts_us"), col("event_id"), col("event_type"))
        .withColumn("sess", expr("ts_us div 3600000000"))
      val per = ev.groupBy("user_id", "sess")
        .agg(expr("array_join(transform(array_sort(collect_list(" +
          "struct(ts_us, event_id, event_type))), x -> x.event_type), " +
          "'>')").as("path"))
      per.agg(count(lit(1)).as("n_sessions"),
        sum(col("path").contains("click>purchase").cast("long"))
          .as("n_click_then_purchase"),
        sum((instr(col("path"), "view") > 0 &&
          instr(col("path"), "purchase") > instr(col("path"), "view"))
          .cast("long")).as("n_view_before_purchase"),
        sum(col("path").contains("error").cast("long")).as("n_with_error"))
    }),

    // sorted-neighborhood blocking (the classic alternative to q195's key
    // blocking): sort the dirty registry by its stable digit payload INSIDE digit-suffix
    // partitions, pair each record with its next 2 neighbors (two lead()
    // calls — O(w·N) candidates, no self-join), and score recall against
    // q195's full blocked-candidate truth. Cross-partition misses are the
    // documented SNM trade; the recall number IS the output
    "q217_sorted_neighborhood" -> ((s, d) => {
      val reg = erRegistry(s, d)
      // sort key quality IS the method: sorting by the mutation-stable
      // digit payload (blk) puts true duplicates adjacent; sorting by raw
      // name would scatter them and recall collapses to 0
      val w = Window.partitionBy(expr("right(name, 2)"))
        .orderBy(col("blk"), col("name"), col("id"))
      val nbr = reg
        .withColumn("n1", lead(col("name"), 1).over(w))
        .withColumn("i1", lead(col("id"), 1).over(w))
        .withColumn("n2", lead(col("name"), 2).over(w))
        .withColumn("i2", lead(col("id"), 2).over(w))
      val pairs = nbr.where(col("i1").isNotNull)
        .select(col("id").as("ia"), col("name").as("na"),
          col("i1").as("ib"), col("n1").as("nb"))
        .unionByName(nbr.where(col("i2").isNotNull)
          .select(col("id").as("ia"), col("name").as("na"),
            col("i2").as("ib"), col("n2").as("nb")))
        .select(least(col("ia"), col("ib")).as("id_lo"),
          greatest(col("ia"), col("ib")).as("id_hi"),
          expr("levenshtein(na, nb)").cast("long").as("lev"))
        .distinct()
      val truth = erCandidates(s, d).where(col("lev") <= 2)
        .select(least(col("id_a"), col("id_b")).as("id_lo"),
          greatest(col("id_a"), col("id_b")).as("id_hi"))
      val hits = pairs.where(col("lev") <= 2)
        .join(truth, Seq("id_lo", "id_hi"), "inner")
      pairs.agg(count(lit(1)).as("n_pairs_considered"),
          sum((col("lev") <= 2).cast("long")).as("n_matches"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true_matches"))))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hits"))))
        .select(col("n_pairs_considered"), col("n_matches"),
          col("n_true_matches"), col("n_hits"),
          expr("(n_hits * 1000000) div n_true_matches").as("recall_ppm"))
    }),

    // bucket pruning (q59's bucketed layout, read side): a point-lookup
    // filter on the bucketing key scans only the buckets those keys hash
    // to — PlanSpec asserts SelectedBucketsCount < total, the
    // file-skipping complement to q206's directory pruning. At 100 TB the
    // difference is opening 3 files instead of 8·(files per bucket)
    "q218_bucket_pruning" -> ((s, d) => {
      val name = "graft_cust_bucketed"
      freshBucketed(s, customer(s, d).select("c_custkey", "c_nationkey",
        "c_acctbal"), name, "c_custkey")
      // the auto-bucketed-scan heuristic drops the bucketed layout when no
      // join wants its distribution — but that also forfeits bucket
      // PRUNING, which is the point here. Scope the override to a child
      // session (own SQLConf, shared catalog) so the rest of a same-JVM
      // verify/bench run plans with the untouched session conf
      val s2 = s.newSession()
      s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
        "false")
      s2.table(name).where(col("c_custkey").isin(7L, 42L, 100L))
        .select(col("c_custkey"), col("c_nationkey"),
          cents(col("c_acctbal")).cast("long").as("bal_cents"))
    }),

    // query observability: the observe() API attaches metrics to a running
    // query (zero extra scan — the listener collects them as rows flow),
    // the production pattern for row-count/quality monitors on 100 TB
    // pipelines where a second audit pass is unaffordable. The observed
    // metrics ARE the output here, and the oracle recomputes them with a
    // plain aggregate — so the listener path is hash-checked against the
    // data itself
    "q219_query_observability" -> ((s, d) => {
      val obs = org.apache.spark.sql.Observation()
      val li = lineitem(s, d).observe(obs,
        count(lit(1)).as("n_rows"),
        sum(cents(col("l_extendedprice")).cast("long")).as("sum_price_cents"),
        sum(col("l_quantity").isNull.cast("long")).as("n_null_qty"),
        max(cents(col("l_discount")).cast("long")).as("max_disc_cents"))
      li.where(col("l_quantity") > 0).write.mode("overwrite")
        .format("noop").save() // drive the scan; metrics land in obs
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long],
        m("sum_price_cents").asInstanceOf[Long],
        m("n_null_qty").asInstanceOf[Long],
        m("max_disc_cents").asInstanceOf[Long]))
        .toDF("n_rows", "sum_price_cents", "n_null_qty", "max_disc_cents")
    }),

    // ANSI-mode safe casting: try_cast/try_divide turn malformed input
    // into nulls instead of job-killing exceptions — the ingestion-edge
    // contract for dirty 100 TB feeds. Tokens of the documents corpus are
    // probed as numbers; the census pins how many parse, and the sum of
    // those that do, plus a try_divide-by-zero null count
    "q220_try_cast_audit" -> ((s, d) => {
      // the word corpus carries no numeric tokens, so deterministic
      // integer-form tokens (n_chars, -doc_id) are mixed in; dotted
      // decimals are deliberately absent — Spark's try_cast nulls '3.5'
      // where DuckDB rounds it, a real cross-engine semantic edge this
      // contract sidesteps by construction
      val docs = documents(s, d)
      val toks = docs.select(col("doc_id"),
          explode(TextOps.tokensCol(col("text"))).as("tok"))
        .unionByName(docs.select(col("doc_id"),
          col("n_chars").cast("string").as("tok")))
        .unionByName(docs.select(col("doc_id"),
          concat(lit("-"), col("doc_id")).as("tok")))
      toks.select(col("doc_id"), col("tok"),
          expr("try_cast(tok as bigint)").as("num"),
          expr("try_divide(100, length(tok) - 3)").as("risky"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("num").isNotNull.cast("long")).as("n_numeric"),
          sum(coalesce(col("num"), lit(0L))).as("sum_numeric"),
          sum(col("risky").isNull.cast("long")).as("n_div_null"))
    }),

    // REAL image resize (the thumbnail/preprocess stage, completing the
    // multimodal quartet: decode q176 / features / resize / frame-sample
    // q50): genuine PNGs decoded through ImageIO, nearest-neighbor resized
    // to 8×6 in exact floor-division arithmetic, features of the RESIZED
    // raster — the oracle replays the sampling map pixel-by-pixel,
    // codec-free, so a wrong resize kernel hash-fails
    "q221_image_resize" -> ((s, d) => {
      import graft.multimodal.Multimodal
      Multimodal.imageResizeFeatures(
          Multimodal.synthImageCorpus(documents(s, d)), 8, 6)
        .toDF()
        .select(col("mediaId").as("media_id"), col("width"), col("height"),
          col("nPixels").as("n_pixels"), col("sumPix").as("sum_pix"),
          col("momentPix").as("moment_pix"), col("meanMilli").as("mean_milli"))
    }),

    // foreachBatch CDC-apply: the parity-split change stream merged into a
    // versioned per-user serving table batch by batch (latest-wins, merge
    // input collapsed to |keys touched| first) — the lakehouse pattern for
    // sinks with no native MERGE. The invariant under test: the final
    // version equals the one-shot latest-per-user over the whole stream,
    // however the stream was chopped
    "q222_stream_foreachbatch_upsert" -> ((s, d) =>
      graft.streaming.StreamUpsert.eventsIncrementalUpsert(s, d,
        splitDir = s"$genDir/events_split_upsert",
        tableDir = s"$genDir/q222_serving_table",
        queryName = s"graft_febupsert_${System.nanoTime()}")),

    // MapType end-to-end: per-user event-type histograms as REAL map
    // columns (map_from_entries over one sorted collect), consumed with
    // map lookups (element_at), size, and a map_values HOF fold — then
    // censused back to scalars. The semi-structured per-entity-profile
    // shape feature stores serve; the oracle proves the map algebra
    // relationally
    "q223_map_analytics" -> ((s, d) => {
      val m = events(s, d).groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(map_from_entries(sort_array(collect_list(
          struct(col("event_type"), col("n"))))).as("m"))
      m.select(size(col("m")).cast("long").as("n_types"),
          // try_element_at: ANSI element_at throws on a missing map key;
          // a purchase-free user must yield 0, not MAP_KEY_DOES_NOT_EXIST
          coalesce(try_element_at(col("m"), lit("purchase")), lit(0L))
            .as("n_purchase"),
          expr("aggregate(map_values(m), 0L, (a, x) -> a + x)")
            .as("n_total"))
        .groupBy("n_types")
        .agg(count(lit(1)).as("n_users"), sum("n_purchase").as("sum_purchase"),
          sum("n_total").as("sum_events"))
    }),

    // correlated scalar subquery (the fourth correlation shape after
    // EXISTS q167, IN q34, LATERAL q204): per-order max line quantity as
    // an inline scalar — Catalyst decorrelates it into one aggregate +
    // join instead of a per-row rescan, which is the difference between
    // one shuffle and O(orders) scans at 100 TB
    "q224_scalar_subquery" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("ord_v")
      lineitem(s, d).createOrReplaceTempView("li_v")
      s.sql("""SELECT o_orderpriority, count(*) AS n_orders,
          sum((SELECT coalesce(cast(floor(max(l_quantity) * 1e6) as long), 0)
               FROM li_v l WHERE l.l_orderkey = o.o_orderkey))
            AS sum_max_qty_micro
        FROM ord_v o GROUP BY o_orderpriority""")
    }),

    // SQL-native PIVOT clause (the API complement of q39's DataFrame
    // pivot): multi-aggregate pivot over a pinned value list — the value
    // list is explicit, so the output schema is static and plannable (an
    // inferred list would need an extra distinct pass at 100 TB). The
    // oracle is plain conditional aggregation with matching column names
    "q225_sql_pivot" -> ((s, d) => {
      events(s, d).select((col("user_id") % 10).as("cohort"),
          col("event_type"),
          floor(col("value") * lit(1e6)).cast("long").as("vm"))
        .createOrReplaceTempView("ev_pivot_v")
      s.sql("""SELECT * FROM ev_pivot_v
        PIVOT (count(*) AS n, sum(vm) AS s
               FOR event_type IN ('click' AS click, 'view' AS view,
                                  'purchase' AS purchase))""")
    }),

    // explicit null ordering: Spark sorts nulls FIRST ascending by
    // default, DuckDB LAST — an engine-default divergence that silently
    // reorders any ranked output with nullable keys. The contract pins
    // NULLS LAST explicitly on both sides (top-3 per status over a
    // deliberately nulled key), which is the only portable spelling
    "q226_null_ordering" -> ((s, d) => {
      val o = orders(s, d).select(col("o_orderstatus"),
        expr("nullif(o_orderpriority, '1-URGENT')").as("prio_nullable"),
        col("o_orderkey"))
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("prio_nullable").asc_nulls_last, col("o_orderkey"))
      o.withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
        .select(col("o_orderstatus"), col("prio_nullable"),
          col("o_orderkey"), col("rn").cast("long").as("rn"))
    }),

    // DYNAMIC partition pruning — the join-driven counterpart of q206's
    // static directory pruning: the fact side is partitioned on
    // o_orderpriority, the pruning predicate lives on a DIMENSION (tier =
    // 'hot'), so no static filter touches the partition column. Catalyst's
    // PartitionPruning rule derives a runtime IN-subquery from the
    // broadcast side and the scan lists only the two 'hot' directories —
    // the single biggest scan saver on a 100 TB date/tenant-partitioned
    // fact where every query filters through a dimension. PlanSpec pins
    // the dynamicpruning expression in the scan's PartitionFilters
    "q253_dpp_partition_join" -> ((s, d) => {
      val dir = s"$genDir/q253_orders_by_priority"
      orders(s, d).write.mode("overwrite")
        .partitionBy("o_orderpriority").parquet(dir)
      import s.implicits._
      // the dim must be a STORAGE scan, not a literal Seq: Catalyst's
      // ConvertToLocalRelation would eagerly fold a Filter over a
      // LocalRelation, and with no surviving selective predicate on the
      // filtering side the PartitionPruning rule never inserts the DPP
      // subquery (verified: the literal form plans a plain static scan)
      val dimDir = s"$genDir/q253_priority_tier_dim"
      Seq(("1-URGENT", "hot"), ("2-HIGH", "hot"),
        ("3-MEDIUM", "warm"), ("4-NOT SPECIFIED", "cold"), ("5-LOW", "cold"))
        .toDF("pri", "tier").write.mode("overwrite").parquet(dimDir)
      s.read.parquet(dir)
        .join(broadcast(s.read.parquet(dimDir)),
          col("o_orderpriority") === col("pri"))
        .where(col("tier") === "hot")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(ExactStats.micro(col("o_totalprice")).cast("long"))
            .as("rev_micro"),
          count_distinct(col("o_custkey")).as("n_custs"))
    }),

    // HITS hubs & authorities over the q86 supply graph: PageRank scores
    // "importance" on one axis; HITS separates exporter (hub) from
    // importer (authority) roles — a nation can rank high on one and near
    // zero on the other. Same two-tier shape: fact-scale edge derivation
    // (the only stage that touches lineitem), then 3 integer-exact
    // iterations on the 25-node contracted graph with broadcast score
    // state (ops/Hits.scala)
    "q254_nation_hits" -> ((s, d) =>
      graft.ops.Hits.scoresMicro(nationTradeEdges(s, d), iterations = 3)
        .select(col("node").as("nation"), col("auth_micro"),
          col("hub_micro"))),

    // template/boilerplate stripping (text/Boilerplate.scala): 5-grams in
    // ≥10% of documents are template chrome; every covered token position
    // is dropped. Planted ground truth: docs with id%3=0 carry an
    // 8-token injected header (df ≈ 33% → stripped), docs with id%29=0 a
    // rarer one (df ≈ 3% → kept, the negative control). Body grams from
    // the 31-word vocabulary stay far under the 10% document-frequency
    // bar, so the census measures exactly the planted template
    "q255_boilerplate_strip" -> ((s, d) => {
      val mixed = documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(lit(BoilerTemplate + " "), col("text")))
          .when(col("doc_id") % 29 === 0,
            concat(lit(BoilerRareTemplate + " "), col("text")))
          .otherwise(col("text")).as("text"))
      graft.text.Boilerplate.coverage(mixed, "doc_id", "text",
        n = 5, permille = 100)
    }),

    // full iterative BPE tokenizer training (text/Bpe.scala): 6 merge
    // rounds over the corpus word-frequency vocabulary — the corpus is
    // scanned once, every round runs on distinct words. Each round's
    // pre-merge state is dumped positionally so the oracle re-derives the
    // argmax AND the merge application (candidate-chain parity) from the
    // exact rows Spark used — selection and application are both pinned
    "q256_bpe_train" -> ((s, d) =>
      graft.text.Bpe.train(s, documents(s, d), "text", rounds = 6,
        dumpDir = Some(s"$genDir/q256_bpe"))),

    // BPE ENCODING — the trained merges applied back to the corpus: every
    // token occurrence joins its trained segmentation (distinct-word-sized
    // vocab, AQE-broadcast) and the census counts each subword symbol's
    // corpus occurrences and word spread. The oracle derives the same
    // census from the dumped final vocabulary by the weighting identity
    // Σ_corpus 1 = Σ_vocab cnt — an independent derivation path that
    // cross-checks the encode join/explode plumbing against the dump
    "q257_bpe_encode" -> ((s, d) => {
      val docs = documents(s, d)
      val vocab = graft.text.Bpe.trainedVocab(s, docs, "text", rounds = 6,
        dumpDir = Some(s"$genDir/q257_bpe"))
      graft.text.Bpe.encode(docs, "doc_id", "text", vocab)
        .groupBy("sym")
        .agg(count(lit(1)).as("n_occ"),
          count_distinct(col("w")).as("n_words"))
    }),

    // closeness centrality over the top-3-trade-partner digraph: the full
    // supply graph is near-complete (diameter ~1, distances trivial), so
    // each nation keeps only its 3 heaviest-weight partners — a sparse
    // deterministic digraph with real multi-hop structure. Multi-source
    // BFS: 8 rounds of (expand ∪ keep → min), state keyed (src, node),
    // lineage snapped per round; closeness = (reached−1)·1e6 div Σdist,
    // pure integers end to end. Fact rows only feed the edge derivation
    "q258_closeness_centrality" -> ((s, d) => {
      val top3 = nationTradeEdges(s, d)
        .withColumn("rk", row_number().over(Window.partitionBy("src")
          .orderBy(col("w").desc, col("dst"))))
        .where(col("rk") <= 3).select(col("src").as("u"), col("dst").as("v"))
        .localCheckpoint(false)
      val nodes = nation(s, d).select(col("n_name").as("node"))
      var dist = nodes.select(col("node").as("src"), col("node"),
        lit(0L).as("dist"))
      for (_ <- 1 to 8) {
        val nxt = dist.join(top3, dist("node") === top3("u"))
          .select(col("src"), col("v").as("node"),
            (col("dist") + 1L).as("dist"))
        dist = dist.union(nxt).groupBy("src", "node")
          .agg(min("dist").as("dist")).localCheckpoint(false)
      }
      dist.groupBy(col("src").as("nation"))
        .agg(count(lit(1)).as("n_reached"), sum("dist").as("sum_dist"))
        .select(col("nation"), col("n_reached"), col("sum_dist"),
          expr("""case when sum_dist > 0
                  then ((n_reached - 1) * 1000000) div sum_dist
                  else 0L end""").as("closeness_micro"))
    }),

    // CUPED variance-reduced A/B readout (Deng et al. 2013): pre-period
    // purchase value is the covariate, θ = cov(X,Y)/var(X) from pooled
    // exact sufficient statistics (one scalar row, DECIMAL(38,0) sums —
    // Σxy ~ 1e20 overflows LONG at 500 users already), adjusted metric
    // Y − θ(X − X̄) per user, then per-arm means. Every division is
    // `div`/`//` — both engines truncate toward zero, negatives included
    // (verified), so the fixed-point θ and the adjusted means are bitwise
    // cross-engine. The period pivot is the overflow-safe midpoint test
    // 2·ts < min+max (no division, order-preserving under the ns↔us unit
    // change). Scale: two scans of events (per-user rollup, then scalar
    // stats), state is one broadcast row — nothing widens with users
    "q259_cuped_ab_adjust" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), col("ts"),
        col("event_type"),
        ExactStats.micro(col("value")).cast("long").as("vm"))
      val piv = ev.agg(min("ts").as("mn"), max("ts").as("mx"))
      val per = ev.crossJoin(broadcast(piv))
        .groupBy("user_id")
        .agg(
          sum(when(col("event_type") === "purchase"
            && col("ts") * 2 < col("mn") + col("mx"), col("vm"))
            .otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase"
            && col("ts") * 2 >= col("mn") + col("mx"), col("vm"))
            .otherwise(0L)).as("y"))
        .localCheckpoint(false)
      val stats = per.agg(
          count(lit(1)).as("n"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum(col("y").cast("decimal(38,0)")).as("sy"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
          sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"))
        .select(
          expr("""case when n * sxx - sx * sx = 0 then 0L
                  else ((n * sxy - sx * sy) * 1000000)
                       div (n * sxx - sx * sx) end""").as("theta_micro"),
          expr("sx div n").as("xbar_micro"))
      per.crossJoin(broadcast(stats))
        .withColumn("adj", col("y") -
          expr("(theta_micro * (x - xbar_micro)) div 1000000"))
        .groupBy((col("user_id") % 2).as("arm"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("y").cast("decimal(38,0)")).as("sy"),
          sum(col("adj").cast("decimal(38,0)")).as("sadj"),
          max("theta_micro").as("theta_micro"))
        .select(col("arm"), col("n_users"),
          expr("sy div n_users").as("mean_y_micro"),
          expr("sadj div n_users").as("mean_adj_micro"),
          col("theta_micro"))
    }),

    // directed weighted modularity of the REGION partition over the trade
    // graph — "is trade intra-region?" as an exact integer. Per community:
    // Q_c = (m·e_c − a_c·b_c)·1e6 div m² with e_c = intra-community
    // weight, a_c/b_c = out/in strength, m = total weight; all sums in
    // DECIMAL(38,0) (m² ~1e24 at a 1e12-edge-weight corpus), the one
    // division truncating identically on both engines (negatives
    // included). Fact rows only feed the shared edge derivation; the
    // modularity arithmetic runs on ≤ |nations|² rows
    "q260_region_modularity" -> ((s, d) => {
      val regs = nation(s, d)
        .join(broadcast(region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_name").as("nname"), col("r_name").as("reg"))
      val el = nationTradeEdges(s, d)
        .join(broadcast(regs.select(col("nname").as("src"),
          col("reg").as("rsrc"))), "src")
        .join(broadcast(regs.select(col("nname").as("dst"),
          col("reg").as("rdst"))), "dst")
        .localCheckpoint(false)
      val m = el.agg(sum("w").cast("decimal(38,0)").as("m"))
      val intra = el.where(col("rsrc") === col("rdst"))
        .groupBy(col("rsrc").as("reg"))
        .agg(sum("w").as("e_w"))
      val outS = el.groupBy(col("rsrc").as("reg"))
        .agg(sum("w").as("out_w"))
      val inS = el.groupBy(col("rdst").as("reg"))
        .agg(sum("w").as("in_w"))
      region(s, d).select(col("r_name").as("reg"))
        .join(broadcast(intra), Seq("reg"), "left")
        .join(broadcast(outS), Seq("reg"), "left")
        .join(broadcast(inS), Seq("reg"), "left")
        .select(col("reg"),
          coalesce(col("e_w"), lit(0L)).as("e_w"),
          coalesce(col("out_w"), lit(0L)).as("out_w"),
          coalesce(col("in_w"), lit(0L)).as("in_w"))
        .crossJoin(broadcast(m))
        .select(col("reg"), col("e_w"), col("out_w"), col("in_w"),
          expr("""case when m > 0 then
                    ((m * e_w - cast(out_w as decimal(38,0)) * in_w)
                      * 1000000) div (m * m)
                  else 0L end""").as("contrib_micro"))
    }),

    // out-of-fold target encoding — the leakage-free categorical feature
    // every tabular training pipeline ships: a row's encoding averages the
    // target over all OTHER folds, enc(cat, fold) = (S_cat − S_cat,fold)
    // div (N_cat − N_cat,fold). One aggregate at (category, fold) grain,
    // per-category totals via a window over the 25-row grid — the fact
    // table is scanned once and nothing joins at row grain. Folds are
    // deterministic (o_custkey % 5)
    "q261_target_encoding" -> ((s, d) => {
      val o = orders(s, d).select(col("o_orderpriority").as("cat"),
        (col("o_custkey") % 5).as("fold"),
        cents(col("o_totalprice")).cast("long").as("t"))
      val grid = o.groupBy("cat", "fold")
        .agg(count(lit(1)).as("n_cf"),
          sum(col("t").cast("decimal(38,0)")).as("s_cf"))
      val wc = Window.partitionBy("cat")
      grid
        .withColumn("n_cat", sum("n_cf").over(wc))
        .withColumn("s_cat", sum("s_cf").over(wc))
        .select(col("cat"), col("fold"),
          (col("n_cat") - col("n_cf")).as("n_oof"),
          expr("""case when n_cat - n_cf > 0
                  then (s_cat - s_cf) div (n_cat - n_cf)
                  else 0L end""").as("enc_cents"))
    }),

    // DSIR-style importance resampling (Xie et al. 2023, integer-exact
    // skeleton): hashed-bigram features (fingerprint % 256), per-bucket
    // target(lang=en)/raw frequency ratio as an integer log
    // (bitlen((t+1)·1024 div (r+1)) — the q188/q189 device), per-doc
    // score = Σ occurrences · log-ratio, then the deterministic
    // content-keyed priority sampler (Sampling.weightedPrioritySample)
    // draws 100 docs ∝ score. Scale: the feature table is 256 rows
    // (broadcast), scoring is one equi-join + groupBy(doc) — the corpus
    // is scanned twice (count pass, score pass), nothing else grows
    "q262_dsir_resample" -> ((s, d) => {
      val docs = documents(s, d)
      val big = docs.select(col("doc_id"), col("lang"),
          explode(TextOps.shinglesAll(col("text"), 2)).as("g"))
        .withColumn("b", TextOps.fingerprint(col("g")) % 256)
      // raw and target counts in ONE map-side-combinable pass (a separate
      // filtered aggregate would re-explode the corpus)
      val lr = big.groupBy("b")
        .agg(count(lit(1)).as("r_cnt"),
          sum((col("lang") === "en").cast("long")).as("t_cnt"))
        .select(col("b"),
          expr("""cast(length(bin(
                    (t_cnt + 1) * 1024 div (r_cnt + 1)))
                  as bigint)""").as("lr"))
      val scores = big.join(broadcast(lr), "b")
        .groupBy("doc_id").agg(sum("lr").as("score"))
      val scored = docs.join(scores, Seq("doc_id"), "left")
        .select(col("doc_id"), col("text"),
          coalesce(col("score"), lit(0L)).as("score"))
      graft.text.Sampling.weightedPrioritySample(scored, "doc_id", "text",
        col("score"), k = 100)
    }),

    // corpus-wide exact-substring dedup, keep-first (text/Dedup
    // .substringDupCoverage — the Lee et al. 2021 dedup): planted ground
    // truth reuses the q248 splice (doc pairs (2i, 2i+1) with id < 80
    // share the even member's 12-token prefix), so the odd member's three
    // duplicate 10-grams cover exactly its 12 spliced positions while the
    // even member — the lexicographic first occurrence — keeps everything
    "q263_substring_dedup" -> ((s, d) => {
      val docs = documents(s, d)
      val donor = docs.where(col("doc_id") % 2 === 0 && col("doc_id") < 80)
        .select((col("doc_id") + 1).as("doc_id"),
          expr("concat_ws(' ', slice(split(text, ' '), 1, 12))").as("pfx"))
      val mixed = docs.join(donor, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("pfx").isNotNull,
            concat(col("pfx"), lit(" "), col("text")))
            .otherwise(col("text")).as("text"))
      Dedup.substringDupCoverage(mixed, "doc_id", "text", k = 10)
    }),

    // bigram-conditional perplexity filter — the KenLM-shaped quality gate
    // (perplexity against a corpus LM is THE classic LLM-data filter;
    // q188 is the unigram marginal, this is the conditional): surprisal
    // of token b given predecessor a = bitlen(c(a·)) − bitlen(c(ab))
    // (integer log2 ratio of context to bigram count), per-doc mean in
    // milli-bits, keep ⇔ mean ≤ 4500. Scale: the bigram count table is
    // vocab²-bounded (joined back equi-keyed, AQE-broadcast while it
    // fits), the corpus is scanned twice (count pass, score pass), and
    // both aggregates are map-side combinable
    "q264_bigram_perplexity" -> ((s, d) => {
      // pairs as structs straight off the token array — building "a b"
      // shingle STRINGS and re-splitting them doubled the per-row string
      // work (measured 4.1 s → struct form avoids the concat+resplit)
      val big = documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"), explode(expr(
          """case when size(tk) >= 2
            |  then transform(sequence(0, size(tk) - 2),
            |         i -> named_struct('a', tk[i], 'b', tk[i + 1]))
            |  else cast(array() as array<struct<a:string,b:string>>)
            |end""".stripMargin)).as("p"))
        .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
      val cab = big.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      // context count = bigram occurrences whose first token is a (token
      // count minus doc-final positions — consistent with c_ab's support)
      val ca = cab.groupBy("a").agg(sum("c_ab").as("c_a"))
      big.join(broadcast(cab), Seq("a", "b"))
        .join(broadcast(ca), Seq("a"))
        .select(col("doc_id"),
          (length(bin(col("c_a"))) - length(bin(col("c_ab"))))
            .cast("long").as("sbits"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("sbits").as("sum_bits"))
        .select(col("doc_id"), col("n_bigrams"), col("sum_bits"),
          expr("(sum_bits * 1000) div n_bigrams").as("mean_milli"))
        .withColumn("keep",
          (col("mean_milli") <= 4500L).cast("long"))
    }),

    // tokenizer-aware packing manifest — the pretraining composition:
    // q63 packs by WHITESPACE counts, but a training run packs by the
    // TOKENIZER's subword counts, so this trains the q256 BPE, prices
    // every document in encoded tokens (vocab-sized broadcast join —
    // the corpus never re-tokenizes per round), and lays the corpus into
    // 512-token sequences with the q63 content-keyed shard + prefix-sum
    // placement (one window per shard, no global sort). The oracle
    // re-prices docs from the dumped final segmentation and replays the
    // same integer placement arithmetic
    "q265_bpe_pack_manifest" -> ((s, d) => {
      val docs = documents(s, d)
      val vocab = graft.text.Bpe.trainedVocab(s, docs, "text", rounds = 6,
        dumpDir = Some(s"$genDir/q265_bpe"))
      val wlen = vocab.select(col("w"), size(col("syms")).cast("long")
        .as("n_syms"))
      val encLen = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "")
        .join(broadcast(wlen), "w")
        .groupBy("doc_id").agg(sum("n_syms").as("enc_len"))
      val w = Window.partitionBy("shard").orderBy("doc_id")
      encLen.withColumn("shard", pmod(col("doc_id"), lit(8L)))
        .withColumn("tok_end", sum("enc_len").over(w))
        .withColumn("tok_start", col("tok_end") - col("enc_len"))
        .withColumn("first_seq", expr("tok_start div 512"))
        .withColumn("last_seq", expr("(tok_end - 1) div 512"))
        .select(col("doc_id"), col("shard"), col("enc_len"),
          col("tok_start"), col("first_seq"), col("last_seq"),
          (col("last_seq") - col("first_seq") + 1L).as("n_seqs"))
    }),

    // functional-dependency audit (the Hummingbird/Metanome-class data
    // profiling primitive): for each candidate det → dep pair, count
    // determinant groups and groups whose dependent is not single-valued.
    // Each candidate is one column-pruned scan + one (det)-grain aggregate
    // with count_distinct(dep) — map-side combinable, no row-grain joins;
    // candidates union at the 4-row result grain
    "q266_fd_audit" -> ((s, d) => {
      def fd(name: String, det: String, dep: String) =
        orders(s, d).groupBy(col(det))
          .agg(count_distinct(col(dep)).as("ndep"))
          .agg(lit(name).as("fd"), count(lit(1)).as("n_groups"),
            sum((col("ndep") > 1).cast("long")).as("n_violating"))
          .withColumn("holds", (col("n_violating") === 0L).cast("long"))
      fd("orderkey_to_custkey", "o_orderkey", "o_custkey")
        .unionByName(fd("custkey_to_status", "o_custkey", "o_orderstatus"))
        .unionByName(fd("orderkey_to_priority",
          "o_orderkey", "o_orderpriority"))
        .unionByName(fd("orderdate_to_priority",
          "o_orderdate", "o_orderpriority"))
    }),

    // shot-boundary keyframe selection over REAL video (PNG frames in a
    // spec-correct AVI container, planted hard cut per video): per-frame
    // motion from the honest decode path (multimodal/Multimodal
    // .videoFrameMotion), keyframe ⇔ first frame or the frame carries
    // ≥ half the video's total motion — which only the cut does, since
    // within-shot jitter touches ~1/29 of pixels. The oracle re-derives
    // every frame's motion codec-free from the synth formula, so a demux
    // misalignment or pixel-layout bug breaks the hash
    "q267_shot_keyframes" -> ((s, d) => {
      import graft.multimodal.Multimodal
      val fm = Multimodal
        .videoFrameMotion(Multimodal.synthShotVideoCorpus(documents(s, d)))
        .toDF()
      val w = Window.partitionBy("mediaId")
      fm.withColumn("total_motion", sum("motionAbs").over(w))
        .select(col("mediaId").as("media_id"),
          col("frameIdx").cast("long").as("frame_idx"),
          col("sumPix").as("sum_pix"), col("motionAbs").as("motion_abs"),
          ((col("frameIdx") === 0) ||
            (col("motionAbs") * 2 >= col("total_motion")))
            .cast("long").as("is_key"))
    }),

    // matryoshka truncation audit (MRL, Kusupati et al. 2022 — serve the
    // first d′ dims, re-rank with full vectors): exact cosine top-5 under
    // 16-of-64-dim prefixes vs the full-dimension truth, recall in exact
    // ppm. The audit a vector-store operator runs before flipping serving
    // to truncated embeddings; both rankers are the q14 partial top-k
    // aggregate (corpus never shuffles, queries broadcast)
    "q268_matryoshka_recall" -> ((s, d) => {
      val emb = embeddings(s, d)
      val full = Similarity.cosineTopK(emb,
        emb.where(col("vec_id") < 10), "vec_id", "embedding", 5)
      val e16 = emb.select(col("vec_id"),
        expr("slice(embedding, 1, 16)").as("embedding"))
      val trunc = Similarity.cosineTopK(e16,
        e16.where(col("vec_id") < 10), "vec_id", "embedding", 5)
      val nF = full.agg(count(lit(1)).as("n_full"))
      val nT = trunc.agg(count(lit(1)).as("n_trunc"))
      val hit = full.select(col("query_id"), col("cand_id"))
        .join(trunc.select(col("query_id"), col("cand_id")),
          Seq("query_id", "cand_id"))
        .agg(count(lit(1)).as("n_hit"))
      nF.crossJoin(broadcast(nT)).crossJoin(broadcast(hit))
        .select(col("n_full"), col("n_trunc"), col("n_hit"),
          expr("(n_hit * 1000000) div n_full").as("recall_ppm"))
    }),

    // ---- causal-discovery analysis suite (metrics/Causal.scala) ----
    // The reference generates benchmark corpora FOR external causal-
    // discovery tools and only ingests their output (R3-R5 converters);
    // these four run the discovery step itself, engine-native. One
    // fact-scale aggregation feeds a #series × #days panel; every test is
    // an exact-integer cross-multiplied contract (no division touches a
    // decision), so the census hashes bitwise against DuckDB.

    // pairwise lag-1 Granger F-test census over the event-type panel:
    // 20 ordered pairs, centered cross-moment integers, one Frisch-Waugh
    // step instead of a 3x3 solve, F compared at the 5% critical value
    // 4.22 = F(1, ~26) via 100·(n-3)·gain > 422·rss_u
    "q269_granger_census" -> ((s, d) =>
      graft.metrics.Causal.grangerLag1(
        graft.metrics.Causal.dailyMeanPanel(events(s, d))))
  )
}
