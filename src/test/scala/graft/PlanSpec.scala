package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite
import graft.generate.Panels

/** Physical-plan regression guards: the round-1 scale regressions (all-pairs
  * crossJoin benched for q19, shuffle-joined dimensions in q27) must not come
  * back. Plans are asserted on the tiny sf so the suite stays fast — the
  * properties checked (join strategy, pushdown) are data-size-independent
  * given broadcast-sized dimension tables.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val d = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, d).queryExecution.executedPlan.toString

  test("q19 near-dups: bucket equi-join, never a cartesian product") {
    val p = plan("q19_embedding_neardups")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "q19 must not plan an all-pairs join")
  }

  test("q27 rollup: dimension joins broadcast, no shuffle joins") {
    val p = plan("q27_rollup_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "customer/nation/region must broadcast")
    assert(!p.contains("SortMergeJoin"), "no dimension may shuffle-join")
    // the r5 scale rewrite: lineitem must aggregate to ORDER grain BELOW the
    // join (Catalyst won't push an aggregate through a join itself), so the
    // rollup Expand and the orders join both run on ~4× fewer rows and the
    // pre-agg's hash partitioning on l_orderkey is reusable by the join
    assert("HashAggregate\\(keys=\\[l_orderkey".r.findFirstIn(p).isDefined,
      s"lineitem must pre-aggregate by l_orderkey below the join:\n$p")
  }

  test("q01 scan: filter pushed down to parquet") {
    val p = plan("q01_pricing_summary")
    // the filter name must appear INSIDE the brackets — contains() alone
    // matches any scan's empty "PushedFilters: []"
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(p).isDefined,
      s"shipdate filter must reach the scan:\n$p")
  }

  test("q02 revenue: all three dimensions broadcast") {
    val p = plan("q02_revenue_by_nation")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3)
    assert(!p.contains("CartesianProduct"))
  }

  test("q13 jaccard: candidate generation is equi-join only, never all-pairs") {
    val p = plan("q13_ngram_jaccard")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "prefix-filtered AllPairs must stay an equi-join pipeline")
  }

  test("q51 star join: part/supplier/nation broadcast with the type filter pushed down") {
    val p = plan("q51_brand_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3)
    assert(!p.contains("SortMergeJoin"), "dimensions must not shuffle-join")
    assert("PushedFilters: \\[[^\\]]*p_type".r.findFirstIn(p).isDefined,
      s"p_type filter must reach the part scan:\n$p")
  }

  test("q54 forward as-of: union + carry, no join operator at all") {
    // the as-of family is a single keyed shuffle + window carry — any Join
    // node would mean a per-row range probe snuck in
    val p = plan("q54_asof_forward")
    assert(!p.contains("Join"), s"as-of must not plan a join:\n$p")
    assert(p.contains("Window"), "carry-forward window expected")
  }

  test("q59 bucketed join: co-located — the only shuffle is the final groupBy") {
    // with a broadcastable side Catalyst rightly picks BHJ (still zero
    // shuffles on the inputs); forcing SMJ must use the buckets, not an
    // Exchange — the regime the op exists for at fact-fact scale
    val p = plan("q59_bucketed_join")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"bucketed sides must not shuffle before the join:\n$p")
    assert(p.contains("Bucketed: true"), s"scan must be bucket-aware:\n$p")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p2 = plan("q59_bucketed_join")
      assert(p2.contains("SortMergeJoin"), s"forced fact-fact regime:\n$p2")
      assert("Exchange hashpartitioning".r.findAllIn(p2).size <= 1,
        s"SMJ must read co-located buckets, not shuffle:\n$p2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q49 IVF: corpus cell assignment aggregates (no window sort over corpus×cells)") {
    val p = plan("q49_ivf_topk")
    // only two row_number windows may remain — the final per-query top-k
    // and the nProbe query-cell ranking; a third would be the corpus-side
    // assign regressing from the max-of-struct aggregation
    assert("Window \\[row_number".r.findAllIn(p).size <= 2,
      s"corpus assign must not rank with a window:\n$p")
    assert(!p.contains("CartesianProduct"), "centroids must broadcast")
  }

  test("q65 k-means step: centroids broadcast, assignment aggregates (no window rank)") {
    val p = plan("q65_kmeans_step")
    assert(!p.contains("CartesianProduct"),
      s"the N×k product must be broadcast, never a shuffled cartesian:\n$p")
    assert(!"Window \\[row_number".r.findFirstIn(p).isDefined,
      s"per-vector argmax must be a max-of-struct aggregation, not a window:\n$p")
  }

  test("q63 packing: per-shard windows, never a single-partition global window") {
    val p = plan("q63_sequence_packing")
    assert(!p.contains("Exchange SinglePartition"),
      s"the prefix sum must stay sharded:\n$p")
  }

  test("q66 curation decisions: one scan, one shuffle (the dedup window)") {
    val p = plan("q66_curation_decisions")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"flag projection must not add shuffles beyond the text window:\n$p")
    assert(!p.contains("Join"), s"the decision row needs no join:\n$p")
  }

  test("q70 resample: both windows reuse existing exchanges (2 wide shuffles total)") {
    val p = plan("q70_resample_ffill")
    // one hashpartitioning for the (key,bucket) downsample — its in-bucket
    // row_number window and the groupBy share it — and one for the key list,
    // which the ffill window then rides (partitioning preserved through the
    // grid generate + the left join's streamed side). A third exchange means
    // a window stopped reusing and added a full shuffle of the grid.
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"resample must not shuffle beyond (key,bucket) + key:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row bounds must broadcast, never cartesian:\n$p")
  }

  test("q77 anomaly: sufficient statistics broadcast back, no row shuffle") {
    val p = plan("q77_anomaly_3sigma")
    assert(p.contains("BroadcastHashJoin"), s"stats must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"event rows must never shuffle for the stats join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"only the per-group stats aggregate may shuffle:\n$p")
  }

  test("q78 cms: sketch broadcast, top-k via TakeOrdered (no global sort)") {
    val p = plan("q78_cms_heavy_hitters")
    assert(p.contains("TakeOrderedAndProject"),
      s"the exact top-20 must plan as a take-ordered, not a full sort:\n$p")
    assert(p.contains("BroadcastExchange"), s"the 3×1024 cells must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"the probe join must stay broadcast:\n$p")
  }

  test("q84 z-order layout: one derived-integer aggregate, one exchange, no sort") {
    val p = plan("q84_zorder_layout")
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"layout stats must be a single map-side-combinable aggregate:\n$p")
    assert(!p.contains("Sort "), s"bucketing must never sort the rows:\n$p")
  }

  test("q85 weighted sample: bottom-k plans as TakeOrdered, never a global sort") {
    val p = plan("q85_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy+limit must compile to a per-partition top-k:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"no range-partitioned global sort may appear:\n$p")
  }

  test("q86 pagerank: iterations run on checkpointed edges, rank state broadcast") {
    val p = plan("q86_nation_pagerank")
    // the fact-side joins are cut off by the edge localCheckpoint: the final
    // plan must read the contracted edge table from checkpoint, not re-derive
    // it from lineitem per iteration
    assert(!p.contains("lineitem"),
      s"iterations must not replay the fact-side edge derivation:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"rank state must broadcast-join the edges:\n$p")
  }

  test("q88 covariance matrix: one scan, one sufficient-statistics row") {
    val p = plan("q88_cov_matrix")
    assert("Scan parquet".r.findAllIn(p).size === 1,
      s"all pairwise sums must come from ONE pass over lineitem:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"only the single-row stats merge may exchange:\n$p")
  }

  test("q92 containment: candidates via shingle equi-join, never all-pairs") {
    val p = plan("q92_containment_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment must join on the shingle inverted index:\n$p")
  }

  test("q100 capstone: every stage joins on keys, never all-pairs") {
    val p = plan("q100_curation_pipeline")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the composed pipeline must stay equi-join end to end:\n$p")
  }

  test("q110 winsorized mean: clip bounds broadcast back, rows never shuffle-join") {
    val p = plan("q110_winsorized_mean")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-group clip bounds must re-enter as a broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"event rows must not shuffle for the bounds join:\n$p")
  }

  test("q114 rfm: edge rows broadcast back, customer metrics never shuffle-join") {
    val p = plan("q114_rfm_segments")
    // the anchor day and the 9 quartile edges re-enter as 1-row broadcasts
    // (nested-loop on a single broadcast row is the intended cross join);
    // a SortMergeJoin would mean per-customer rows shuffled for a constant
    assert(!p.contains("SortMergeJoin"),
      s"metrics must only cross-join broadcast singleton rows:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"anchor/edges must broadcast:\n$p")
  }

  test("q116 markov: transition counting stays equi-keyed, no all-pairs") {
    val p = plan("q116_markov_transitions")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"lead() + groupBy must not plan any join at all:\n$p")
    // the probability window runs over the (from,to) AGGREGATE, not raw events
    val scanSection = p.split("Scan parquet").last
    assert(!scanSection.split("HashAggregate").head.contains("Window(.*p_ppm"),
      s"the ppm window must consume the aggregate:\n$p")
  }

  test("q130 band join: range predicate rides an equi-keyed join, no all-pairs") {
    val p = plan("q130_band_join_views")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the band join must stay equi-keyed on (user, bucket):\n$p")
  }

  test("q134 skyline: frontier keys broadcast back, facts never globally sorted") {
    val p = plan("q134_pareto_frontier")
    assert(p.contains("BroadcastHashJoin"),
      s"frontier (size, price) keys must re-enter as a broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"part rows must not shuffle for the frontier join:\n$p")
  }

  test("q136 hhi: dimensions broadcast, share window over supplier grain only") {
    val p = plan("q136_supplier_hhi")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"supplier and nation must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no dimension may shuffle-join:\n$p")
    // the share window must consume the (nation, supplier) AGGREGATE
    val scanSection = p.split("Scan parquet").last
    assert(!scanSection.split("HashAggregate").head.contains("Window"),
      s"no window may run below the supplier-grain aggregation:\n$p")
  }

  test("q102 group quantiles: bins pre-aggregate before any window") {
    val p = plan("q102_group_quantiles")
    // the window must consume the |groups|·|bins| aggregate, not raw rows:
    // the first operation over the scan is the bin HashAggregate
    val scanSection = p.split("Scan parquet").last
    assert(!scanSection.split("HashAggregate").head.contains("Window"),
      s"no window may run below the bin aggregation:\n$p")
  }

  test("q153 Theil-Sen: monthly self-join broadcast, never SMJ") {
    val p = plan("q153_theil_sen_trend")
    assert(!p.contains("SortMergeJoin"),
      s"the calendar-bounded pairwise join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q157 vocab coverage: top-3000 plans as TakeOrdered, no global sort") {
    val p = plan("q157_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-k must be a distributed TakeOrdered:\n$p")
  }

  test("q14 exact top-k: partial k-heap aggregation, no per-query window sort") {
    // the round-5 plan ceiling: row_number over partitionBy(query_id) put a
    // whole query's corpus-sized candidate list into one sort. The ranker is
    // now a mergeable bounded aggregate — the plan must show the two-phase
    // (partial → final) ObjectHashAggregate and NO window at all
    val p14 = plan("q14_cosine_topk")
    assert(!p14.contains("Window"), s"q14 must not rank via a window sort:\n$p14")
    assert("ObjectHashAggregate".r.findAllIn(p14).size >= 2,
      s"q14 must rank via partial+final top-k aggregation:\n$p14")
    // q49's only remaining window is the nProbe cell assignment — a sort
    // over nCells=16 rows per query, constant-bounded; the corpus-sized
    // candidate ranking itself must be the aggregate
    val p49 = plan("q49_ivf_topk")
    assert("ObjectHashAggregate".r.findAllIn(p49).size >= 2,
      s"q49 must rank candidates via partial+final top-k aggregation:\n$p49")
  }

  test("q179 skew join: AQE splits the deliberately skewed partition at runtime") {
    // lower the skew thresholds so the 90%-hot key trips OptimizeSkewedJoin
    // on test-sized data — the property demonstrated (runtime split of a hot
    // partition in a merge join) is exactly the 100x-skew behavior at the
    // default thresholds on production-sized partitions
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = SparkEntry.queries("q179_aqe_skew_join")(spark, d)
      df.collect() // AQE finalizes the plan only on execution
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"merge hint must hold:\n$p")
      assert(p.contains("skew=true"),
        s"AQE must mark and split the skewed join partition:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q167 blame supplier: dims broadcast, no correlated rescans") {
    val p = plan("q167_blame_supplier")
    // one lineitem scan feeding the late rows + one feeding the per-order
    // aggregate (Spark materializes both from the same file) is fine; a
    // correlated-subquery plan would show nested-loop or cartesian joins
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"supplier/nation dims must broadcast:\n$p")
  }

  test("q192 spatial grid join: candidates via cell equi-join, never all-pairs") {
    val p = plan("q192_spatial_grid_join")
    assert(!p.contains("CartesianProduct"))
    // the pair stage must be hash-keyed on the grid cell — the d2 radius
    // predicate rides the equi-join, it doesn't become the join itself
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[jcx".r
      .findFirstIn(p).isDefined,
      s"spatial candidates must meet on the (cx, cy) cell key:\n$p")
    // the only nested-loop allowed is the final 1-row census × 1-row layout
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the scalar census cross-join may nested-loop:\n$p")
  }

  test("q194 bloom prune: bit-set joins broadcast, fact rows never pre-aggregate") {
    val p = plan("q194_bloom_semijoin")
    // two broadcast equi-joins against the ≤8192-row bit set prune the
    // fact scan at row grain (the bloomProbe per-key-decision shape would
    // need a distinct + re-join of every fact key instead)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"both bloom bit joins must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q206 partitioned read: the priority filter prunes to one directory") {
    val p = plan("q206_partition_pruning")
    assert("PartitionFilters: \\[[^\\]]*o_orderpriority[^\\]]*1-URGENT".r
      .findFirstIn(p).isDefined,
      s"the priority predicate must land in PartitionFilters (directory " +
        s"pruning), not a post-scan filter:\n$p")
  }

  test("q315 panel SHD: one edge-level shuffle per side, pre-agg shares " +
      "the join partitioning, no cartesian blowup") {
    val p = plan("q315_shd_panel_scale")
    // each side: groupBy (graphId,u,v,lag) → one hashpartitioning Exchange
    // that the full-outer join REUSES (same key); the per-graph reduce
    // re-partitions already-collapsed pair rows. Anything beyond those
    // three means the pre-agg/join partitioning alignment broke.
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      s"panel scoring must be one edge-level shuffle per side plus the " +
        s"per-graph reduce of collapsed rows:\n$p")
    assert(!p.contains("CartesianProduct"))
    // the only nested loops allowed are the graph-spine × 4-row edge
    // literal broadcasts (truth, kept, spurious)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 3,
      s"only the tiny edge-literal cross joins may nested-loop:\n$p")
  }

  test("q321 Theil-Sen: pair join broadcasts the panel, median window " +
      "rides the single exchange") {
    val p = plan("q321_theil_sen")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"the day-pair join must broadcast the panel-sized side:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"the per-series median window must ride one exchange:\n$p")
  }

  test("q319 DDSketch: bounded exchanges, no cartesian — the sketch and " +
      "exact-audit pipelines each pre-aggregate before their windows") {
    val p = plan("q319_ddsketch_quantiles")
    assert(!p.contains("CartesianProduct"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 4,
      s"sketch + exact audit must stay at two exchanges each:\n$p")
  }

  test("q254 HITS: iteration state snapped — plan does not grow with rounds") {
    val p = plan("q254_nation_hits")
    assert("Exchange".r.findAllIn(p).size <= 4,
      s"un-snapped HITS lineage duplicates per reference (was 848 " +
        s"exchanges at 3 iterations); state must localCheckpoint:\n$p")
  }

  test("q253 DPP: the dim filter prunes fact partitions at runtime") {
    val p = plan("q253_dpp_partition_join")
    assert(p.contains("dynamicpruningexpression"),
      s"the tier='hot' dim filter must become a runtime partition filter " +
        s"on the fact scan (dynamic partition pruning):\n$p")
    assert("PartitionFilters: \\[[^\\]]*dynamicpruning".r.findFirstIn(p).isDefined,
      s"the DPP subquery must land in the fact scan's PartitionFilters:\n$p")
  }

  test("q218 bucketed read: the key filter prunes to a subset of buckets") {
    val p = plan("q218_bucket_pruning")
    assert("SelectedBucketsCount: [1-3] out of 8".r.findFirstIn(p)
      .isDefined,
      s"the 3-key point lookup must scan at most 3 of 8 buckets:\n$p")
  }

  test("q189 bm25: posting join is salted, no corpus-sized hot key") {
    val p = plan("q189_bm25_topk")
    // the query-term ⋈ posting join must key on (tok, salt): a df=O(N)
    // token then spreads over df/saltRowsPerShard bounded shuffle keys
    // instead of one corpus-sized partition
    assert("Join \\[(tok#\\d+, salt#\\d+L?|salt#\\d+L?, tok#\\d+)\\]"
      .r.findFirstIn(p).isDefined,
      s"the posting join must include the skew salt in its key:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"bm25 candidates must meet on the token equi-join:\n$p")
    // the only nested-loop allowed is the 1-row corpus-stats attach; the
    // query-term join must be an equi-join
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the scalar stats cross-join may nested-loop:\n$p")
  }

  test("q228 events ts-range: the bound reaches the parquet scan") {
    val p = plan("q228_events_ts_pushdown")
    // the range predicate must sit on the RAW ts column inside
    // PushedFilters — filtering the normalized (cast) column instead would
    // leave the scan unpruned and read the whole table
    assert(("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(ts".r
        .findFirstIn(p).isDefined &&
      "PushedFilters: \\[[^\\]]*LessThan\\(ts".r.findFirstIn(p).isDefined),
      s"the ts-range bounds must land in the parquet PushedFilters:\n$p")
  }

  test("q229 semdedup-auto: cluster-key equi-join, capped dropper side") {
    val p = plan("q229_semdedup_auto")
    // the within-cluster pair stage must meet on the cluster key — never
    // an all-pairs product — and the dropper side arrives through the
    // k-bounded exemplar semi-join, not a window sort
    assert(!p.contains("CartesianProduct"),
      s"within-cluster pairs must equi-join on cluster:\n$p")
    assert(!p.contains("Window"),
      s"exemplar capping must use the k-bounded aggregate, not a window:\n$p")
    assert(p.contains("LeftSemi"),
      s"the dropper side must be the capped exemplar semi-join:\n$p")
  }

  test("q227 capped bm25: the df-permille prune sits on the posting side") {
    val p = plan("q227_bm25_stopword_cap")
    assert("\\(df#\\d+L? \\* 1000\\) <= \\(n_docs#\\d+L? \\* 760\\)".r
      .findFirstIn(p).isDefined,
      s"df·1000 > 760·n_docs tokens must be pruned from postings:\n$p")
  }

  test("q195 entity resolution: blocked candidates, never a name cross join") {
    val p = plan("q195_entity_resolution")
    assert(!p.contains("CartesianProduct"))
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[blk".r
      .findFirstIn(p).isDefined,
      s"ER candidates must meet on the blocking key:\n$p")
    // the only nested-loop allowed is the final 1-row funnel attach
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the scalar funnel cross-join may nested-loop:\n$p")
  }

  test("q230 shard shuffle: one hash exchange on shard, never a global range sort") {
    val p = plan("q230_shard_shuffle")
    assert(!p.contains("rangepartitioning"),
      s"shard placement must not plan a global sort:\n$p")
    assert("Exchange hashpartitioning\\(shard".r.findFirstIn(p).isDefined,
      s"the per-shard window must ride ONE hash exchange on shard:\n$p")
    assert("partial_count".r.findFirstIn(p).isDefined,
      "census must aggregate map-side")
  }

  test("q232 kmv: the corpus aggregate materializes once, branches are sketch-sized") {
    val p = plan("q232_kmv_overlap")
    // the sketch feeds 4 branches; localCheckpoint must cut the lineage so
    // the corpus scan + ObjectHashAggregate never replays per branch
    assert(!p.contains("ObjectHashAggregate"),
      s"corpus-side KMV aggregate must not replay downstream of the checkpoint:\n$p")
    assert(!p.contains("Scan parquet"),
      s"no branch may rescan the documents table:\n$p")
  }

  test("q233 label propagation: hash-keyed aggregates, no window, no cartesian") {
    val p = plan("q233_label_propagation")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      s"LPA census must be pure hash aggregation:\n$p")
    assert("partial_count".r.findFirstIn(p).isDefined)
  }

  test("q234 pq-adc: broadcast equi-joins only, k-bounded partial top-k") {
    val p = plan("q234_pq_adc_topk")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin") && !p.contains("SortMergeJoin"),
      s"PQ must never plan a Q×N or shuffle join:\n$p")
    assert("ObjectHashAggregate\\(keys=\\[query_id.*partial_".r
      .findFirstIn(p.replaceAll("\n", " ")).isDefined ||
      "partial_\\(neg_adc".r.findFirstIn(p).isDefined,
      s"top-k must aggregate map-side:\n$p")
  }

  test("q248 moss: candidates meet on the selected-hash equi-join, never all-pairs") {
    val p = plan("q248_moss_similarity")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation must ride the sh equi-join:\n$p")
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[sh".r
      .findFirstIn(p).isDefined,
      s"the fingerprint value must be the join key:\n$p")
  }

  test("q250 ivf-pq: no cartesian beyond the broadcast centroid products, no SMJ") {
    val p = plan("q250_ivfpq_residual")
    assert(!p.contains("CartesianProduct"),
      s"no unbounded cartesian may appear:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"every join must broadcast (centroids/codebooks/ADC tables are tiny):\n$p")
    // the ADC scoring join must be hash-keyed on (cell, sub, code)
    assert("BroadcastHashJoin \\[cell_id".r.findFirstIn(p).isDefined,
      s"ADC lookup must equi-join on the cell/sub/code key:\n$p")
  }

  test("q237 negative sampling: broadcast probe set, map-side bottom-k") {
    val p = plan("q237_negative_sampling")
    // the 10-query probe set broadcasts (nested-loop by design — the hash
    // filter is per-pair); the corpus must never shuffle-join
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1)
    assert("partial_\\(neg_h".r.findFirstIn(p).isDefined,
      s"bottom-k must aggregate map-side:\n$p")
  }

  test("q269 granger: one fact-scale aggregate, panel stages broadcast") {
    val p = plan("q269_granger_census")
    // the ONLY fact-scale stage is the (series, day) daily aggregation;
    // the pair alignment on day must broadcast the panel-sized side, and
    // nothing may all-pairs the fact table
    assert(!p.contains("CartesianProduct"),
      s"pairing must be the day equi-join:\n$p")
    assert("BroadcastHashJoin".r.findFirstIn(p).isDefined,
      s"the panel self-join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no panel stage may shuffle-join:\n$p")
  }

  test("q274 pmi: unigram-position tables broadcast onto the bigram relation") {
    val p = plan("q274_pmi_collocations")
    assert(!p.contains("SortMergeJoin"),
      s"vocab-sized count tables must broadcast, not shuffle-join:\n$p")
    assert(!p.contains("CartesianProduct"))
    // bounded result: a TakeOrdered caps the output, never a global Sort
    // of the full bigram table feeding an Exchange
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 must be a bounded TakeOrdered:\n$p")
  }

  test("q276 holt: recurrence folds in one shuffle keyed by series") {
    val p = plan("q276_holt_smoothing")
    // two exchanges total: the fact→panel aggregation and the per-series
    // collect — the fold itself adds NO extra shuffle, window, or join
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"the fold must not rank or join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"only panel-agg + series-group exchanges allowed:\n$p")
  }

  test("q275 conformal: per-type means and qhat broadcast back onto the fact rows") {
    val p = plan("q275_conformal_interval")
    assert(!p.contains("SortMergeJoin"),
      s"the 5-row mu/qhat tables must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q291 isotonic: panel-sized segment table broadcasts, no fact-scale product") {
    val p = plan("q291_isotonic_minimax")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"),
      s"segment and spine meet on broadcast joins only:\n$p")
  }

  test("q288 neyman: strata stats and allocations broadcast onto the draw") {
    val p = plan("q288_neyman_sampling")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the 5-row alloc table must broadcast:\n$p")
  }

  test("q284 attribution: user-keyed equi-join, never an unkeyed product") {
    val p = plan("q284_attribution")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      s"purchase x prior pairing must stay on the user_id key:\n$p")
  }

  test("q317 pca: ONE typed sufficient-stats aggregate — single-row " +
      "shuffle, no vec_id exchange, no join, no per-dim explode") {
    // the r8 regression (vec_id self-join of the 64x-exploded matrix) and
    // the r9 one (2,145-expression agg) must both stay dead: the whole
    // covariance + iteration is one ObjectHashAggregate whose only
    // exchange is the SinglePartition gather of the one partial row
    val p = plan("q317_pca_power_iteration")
    assert(p.contains("ObjectHashAggregate"),
      s"the CovVec typed aggregate must drive the plan:\n$p")
    assert(!p.contains("hashpartitioning(vec_id"),
      s"vector rows must never shuffle:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"the only exchange is the SinglePartition gather:\n$p")
    assert(!p.contains("Join"), s"no join may appear:\n$p")
  }

  test("q318 pca census: component broadcast, dot product in-row, only " +
      "the bin aggregate exchanges") {
    val p = plan("q318_pca_projection_census")
    assert(!p.contains("hashpartitioning(vec_id"),
      s"vector rows must never shuffle on vec_id:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the one-row component must broadcast:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"only the 1e11-grain bin aggregate may hash-exchange:\n$p")
  }

  test("q333 shipped-tree scoring: keyed equi-joins end to end, one " +
      "multi-file scan, never all-pairs") {
    val p = plan("q333_shipped_tree_scored")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"per-config alignment and scoring must stay on (cfg, t) keys:\n$p")
  }

  test("q334 irregular multi-lag: alignment and value joins stay keyed, " +
      "no all-pairs") {
    val p = plan("q334_granger_multilag_irregular")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"dual nearest-lag alignment must join on (t, lag_idx) keys:\n$p")
  }

  test("q335 spectrum: ONE combined stats+component aggregate — a single " +
      "embeddings scan feeds both the matrix and the component") {
    // the stats row is checkpointed, so assert on the pre-checkpoint
    // aggregate: exactly one parquet scan of embeddings, one typed agg
    val sp = graft.ops.CovVec.statsAndComponentRow(
        spark.read.parquet(s"$d/embeddings.parquet"),
        org.apache.spark.sql.functions.transform(
          org.apache.spark.sql.functions.col("embedding"),
          v => org.apache.spark.sql.functions.floor(
            v * org.apache.spark.sql.functions.lit(1e6))), 64, 6)
      .queryExecution.executedPlan.toString
    assert(sp.contains("ObjectHashAggregate"),
      s"the combined CovVec aggregate must drive the pass:\n$sp")
    assert("Scan parquet".r.findAllIn(sp).size <= 1,
      s"one embeddings scan only:\n$sp")
    assert(!sp.contains("Join"), s"no join in the stats pass:\n$sp")
  }

  test("q331 covariance census: sufficient-stats row decodes via broadcast " +
      "index only — no vec_id exchange, no shuffle join") {
    // the decode side (downstream of the stats localCheckpoint)
    val p = plan("q331_embedding_covariance")
    assert(!p.contains("hashpartitioning(vec_id"),
      s"vector rows must never shuffle:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the 2,080-row index and 64-row sums must broadcast:\n$p")
    // the stats side (pre-checkpoint, the part the checkpoint hides):
    // one typed aggregate, single-row shuffle, nothing keyed by vec_id
    val sp = SparkEntry.pcaSuffStats(spark, d)
      .queryExecution.executedPlan.toString
    assert(sp.contains("ObjectHashAggregate"),
      s"the CovVec typed aggregate must drive the stats pass:\n$sp")
    assert(!sp.contains("hashpartitioning(vec_id") &&
      "Exchange hashpartitioning".r.findAllIn(sp).isEmpty,
      s"the only exchange is the SinglePartition gather:\n$sp")
    assert(!sp.contains("Join"), s"no join in the stats pass:\n$sp")
  }

  test("pc moments: rank self-join broadcasts by default, takes the " +
      "partitioned shuffle path on demand — same moments either way") {
    import spark.implicits._
    // a 4-graph folded panel (the q340 key shape), values deterministic
    val panel = (for {
      g <- 0 to 3; s <- Seq("X1", "X2"); t <- 0 to 19
    } yield (s"$g|$s", f"$g|$t%03d", ((t * 7 + g * 3) % 13).toLong))
      .toDF("series", "day", "v")
    def cm(b: Boolean) = graft.metrics.Causal
      .rankCrossMoments(graft.metrics.Causal.rankPanel(panel), b)
    // isolate the knob from Spark's size-based auto-broadcast (the test
    // relation is tiny and accurately sized, so Catalyst would convert
    // the unhinted join right back): with auto off, only the FORCED
    // hint broadcasts — which is exactly the contract under test. On a
    // megarow folded panel the same unhinted join stays partitioned by
    // the same stats logic.
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pb = cm(true).queryExecution.executedPlan.toString
      assert(pb.contains("BroadcastHashJoin"),
        s"panel-grain default must broadcast the day self-join:\n$pb")
      val ps = cm(false).queryExecution.executedPlan.toString
      assert(!ps.contains("BroadcastHashJoin"),
        s"broadcastB=false must leave the join strategy to stats (the " +
          s"megarow-fold cluster shape is a partitioned join):\n$ps")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    // the strategy knob must not change a single moment
    def rows(b: Boolean) = cm(b).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(rows(true) == rows(false))
  }

  test("q340 corpus fold: no cartesian or nested-loop join anywhere — " +
      "the conditioning stage enumerates, never cross-joins") {
    val p = plan("q340_pc_corpus_sweep")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the fold must stay equi-join only:\n$p")
  }

  /** A PC decision frame's executed plan: a driver-side local relation,
    * with no exchange and no join.
    */
  private def assertLocalDecisions(p: String, what: String): Unit =
    assert(p.contains("LocalTableScan") && !p.contains("Exchange") &&
      !p.contains("Join"), s"$what must be a local relation:\n$p")

  test("p=32 wide panel: the order-2 decision frames stay driver-side " +
      "local relations — no cartesian, nested-loop, exchange or join at " +
      "real-deployment width") {
    // the bench rung's exact input (checkpointed so the builder's own
    // range×range product is not what the guard reads): the plan under
    // test is the O(p³)/O(p⁴) conditioning fan-out at 32 series, where a
    // diagonal crossJoin would be 496 pairs × 32 z (order 1) and
    // 496 × C(31,2) quadruples (order 2) of NESTED-LOOP work — the shape
    // this guard forbids; the candidates are enumerated on the driver
    // from the collected moments, so the returned frame is a local
    // relation
    val pan32 = Panels.widePanel(spark, 32, 200).localCheckpoint(true)
    try {
      val p = graft.metrics.Causal.pcSkeleton2(pan32, 100L)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"wide-panel order-2 must stay equi-join only:\n$p")
      assertLocalDecisions(p, "wide-panel order-2")
      // the PC-STABLE twin under the same guard: its candidates come from
      // the surviving adjacency — a cartesian or nested-loop here would
      // mean the neighbor restriction silently degenerated to the
      // diagonal cross-product it exists to avoid
      val ps = graft.metrics.Causal.pcSkeleton2Stable(pan32, 100L)
        .queryExecution.executedPlan.toString
      assert(!ps.contains("CartesianProduct") &&
        !ps.contains("BroadcastNestedLoopJoin"),
        s"wide-panel PC-stable must stay equi-join only:\n$ps")
      assertLocalDecisions(ps, "wide-panel PC-stable")
    } finally pan32.unpersist()
  }

  test("q376 catalog-grain BH census: sparse moments + ladder stay " +
      "equi-join only — hypothesis count must never become a cartesian") {
    val p = plan("q376_bh_catalog_census")
    assert(!p.contains("CartesianProduct"),
      s"the catalog census must not plan a cartesian:\n$p")
    // exactly ONE nested-loop join is intended: the 1-row global
    // summary broadcast onto the 2-row tier census (q370's documented
    // crossJoin-of-tiny pattern) — anything more means a moment or
    // ladder stage degenerated
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the tiny summary attach may nested-loop:\n$p")
  }

  test("p=128 wide panel: the PC-stable decision frames are driver-side " +
      "local relations at the scaling-law rung's width") {
    // the pcwide_p128_stable_oriented bench rung's exact input: at 8128
    // pairs an unrestricted order-2 pass would enumerate ~64M quadruples;
    // the adjacency restriction only means anything if the plan still
    // contains zero cartesian/nested-loop nodes at this width
    val pan128 = Panels.widePanel(spark, 128, 200).localCheckpoint(true)
    try {
      val ps = graft.metrics.Causal.pcSkeleton2Stable(pan128, 100L)
        .queryExecution.executedPlan.toString
      assert(!ps.contains("CartesianProduct") &&
        !ps.contains("BroadcastNestedLoopJoin"),
        s"p=128 PC-stable must stay equi-join only:\n$ps")
      assertLocalDecisions(ps, "p=128 PC-stable")
    } finally pan128.unpersist()
    // the order-3 ladder over the pcblocks_p80_stable3_oriented input,
    // and its orientation
    val blk16 = Panels.widePanel3(spark, 16, 200).localCheckpoint(true)
    try {
      val sk3 = graft.metrics.Causal.pcSkeleton3Stable(blk16, 100L)
      val p3 = sk3.queryExecution.executedPlan.toString
      assert(!p3.contains("CartesianProduct") &&
        !p3.contains("BroadcastNestedLoopJoin"),
        s"order-3 PC-stable must stay equi-join only:\n$p3")
      assertLocalDecisions(p3, "order-3 PC-stable")
      assertLocalDecisions(graft.metrics.Causal.pcOrient3(sk3, 4)
        .queryExecution.executedPlan.toString, "order-3 orientation")
    } finally blk16.unpersist()
  }

  test("structural betas: laggedCrossMoments broadcasts the t self-join " +
      "by default and takes the partitioned path on demand — same moments") {
    import spark.implicits._
    // a 3-graph folded panel in the q352 key shape
    val panel = (for {
      g <- 0 to 2; s <- Seq("X1", "X2"); t0 <- 0 to 19
    } yield (s"$g|$s", (g * 64 + t0).toLong, ((t0 * 7 + g * 3) % 13).toLong))
      .toDF("series", "day", "v")
    val specs = (0 to 2).flatMap(g => Seq((s"$g|X1", 0), (s"$g|X2", 1)))
    def mom(b: Boolean) = graft.metrics.Causal.laggedCrossMoments(panel,
      specs, expr("t % 64 BETWEEN 1 AND 19"), b)
    // isolate the knob from size-based auto-broadcast (pc-moments test's
    // rationale: on a megarow fold the same unhinted join stays
    // partitioned by the same stats logic this disables)
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the tiny specs frame broadcasts in BOTH modes (explicit hint) —
      // the knob under test is only the fact-scale t self-join, so the
      // discriminator is the sort-merge node, not broadcast count
      val pb = mom(true).queryExecution.executedPlan.toString
      assert(!pb.contains("SortMergeJoin"),
        s"single-graph default must broadcast the t self-join:\n$pb")
      val ps = mom(false).queryExecution.executedPlan.toString
      assert(ps.contains("SortMergeJoin"),
        s"broadcastB=false must leave the t self-join partitioned:\n$ps")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    def rows(b: Boolean) = mom(b).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(rows(true) == rows(false))
  }

  test("q352 weight-recovery fold: Cramer lookups on the driver; no " +
      "cartesian, nested-loop or shuffle join anywhere") {
    val p = plan("q352_weight_recovery_census")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the folded weight recovery must stay equi-join only:\n$p")
    // structuralBetas reads its six moments from the collected moment
    // frame: the Cramer stage is a local relation, and no lookup may
    // come back as a shuffled join on the moment frame
    assert(p.contains("LocalTableScan") && !p.contains("SortMergeJoin") &&
      !p.contains("ShuffledHashJoin"),
      s"the six moment lookups must stay driver-side:\n$p")
  }
}
