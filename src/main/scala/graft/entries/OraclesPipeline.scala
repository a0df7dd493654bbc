package graft

/** Pipeline slice of [[SparkEntry.oracleSql]] — the DuckDB twins of
  * [[QueriesPipeline]], split mechanically from the single map. */
private[graft] trait OraclesPipeline { this: SparkEntry.type =>

  private[graft] def oracleSqlPipeline: Map[String, String] = Map(

    "q177_full_sweep_digest" -> sweepDigestOracleSql("q177_sweep"),
    "_gen" -> sweepDigestOracleSql("_gen_sweep"),

    // NOTE on the `_gen` artifact row: the full-sweep generation is
    // hash-oracled through q177 (every one of the 2,592 configs pinned
    // individually), and every individual dump is aggregated bitwise by its
    // own oracle (q28/q29/q30/q38/q43-q46/q53/q71/q177/q178). The raw
    // union of ALL dumps deliberately carries no oracle: the dumps have
    // heterogeneous schemas, and a cross-engine union compare diverges on
    // how a STRING column absent from one file stringifies (pandas 'nan'
    // vs DuckDB NULL→'None') — a property of the comparator, not of any
    // query result.

    "q178_strict_mode_diff" ->
      """WITH c AS (SELECT * FROM read_parquet('__GEN_DIR__/q178_compat/*.parquet')),
        |s AS (SELECT * FROM read_parquet('__GEN_DIR__/q178_strict/*.parquet'))
        |SELECT c.family, count(*)::BIGINT AS n_rows,
        |  sum(CASE WHEN c.X1 IS DISTINCT FROM s.X1 OR c.X2 IS DISTINCT FROM s.X2
        |        OR c.X3 IS DISTINCT FROM s.X3 OR c.X4 IS DISTINCT FROM s.X4
        |        OR c.X5 IS DISTINCT FROM s.X5 OR c.X6 IS DISTINCT FROM s.X6
        |      THEN 1 ELSE 0 END)::BIGINT AS n_value_diff,
        |  sum(CASE WHEN c."time" IS DISTINCT FROM s."time" THEN 1 ELSE 0
        |      END)::BIGINT AS n_time_diff
        |FROM c JOIN s ON c.family = s.family AND c.configId = s.configId
        |  AND c.t = s.t
        |GROUP BY 1""".stripMargin,

    "q30_generate_families" ->
      s"""SELECT family, count(*) AS n_rows,
        |  ${sumMicroSql("X1")} AS sum_x1_micro,
        |  ${sumMicroSql("X6")} AS sum_x6_micro
        |FROM read_parquet('__GEN_DIR__/q30_wide/*.parquet')
        |GROUP BY family""".stripMargin,

    "q44_plot_missing_pattern" -> {
      (1 to 6).map(i =>
        s"""SELECT 'X$i' AS var, t // 50 AS t_bucket,
           |  sum(CASE WHEN X$i IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_missing,
           |  count(*) AS n_total
           |FROM read_parquet('__GEN_DIR__/q44_missing/*.parquet') GROUP BY 2""".stripMargin)
        .mkString("\nUNION ALL\n")
    },

    "q45_plot_sampling_hist" ->
      """WITH d AS (
        |  SELECT "time" - lag("time") OVER (PARTITION BY configId ORDER BY t) AS diff
        |  FROM read_parquet('__GEN_DIR__/q45_wide/*.parquet'))
        |SELECT floor(diff / 0.002)::BIGINT AS bin,
        |  floor(diff / 0.002)::BIGINT * 0.002::DOUBLE AS bin_lo, count(*) AS n
        |FROM d WHERE diff IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,

    "q46_plot_trend_fit" -> {
      val arms = (1 to 4).map(i =>
        s"SELECT \"time\", 'X$i' AS var, X$i AS value FROM read_parquet('__GEN_DIR__/q46_wide/*.parquet')")
        .mkString("\n  UNION ALL\n  ")
      s"""SELECT var, ${slopeMilliSql("value", "\"time\"")} AS slope_milli,
         |  ${interceptMilliSql("value", "\"time\"")} AS intercept_milli, count(*) AS n
         |FROM (
         |  $arms)
         |GROUP BY var""".stripMargin
    },

    "q70_resample_ffill" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us, event_id,
        |         floor(value * 1e6)::BIGINT AS v_micro
        |  FROM events),
        |b AS (SELECT event_type,
        |             ts_us - ((ts_us % 600000000 + 600000000) % 600000000) AS bucket_us,
        |             ts_us, event_id, v_micro FROM ev),
        |agg AS (
        |  SELECT event_type, bucket_us, count(*) AS n_events,
        |         max(CASE WHEN rn = 1 THEN v_micro END) AS last_v_micro
        |  FROM (SELECT *, row_number() OVER (
        |          PARTITION BY event_type, bucket_us
        |          ORDER BY ts_us DESC, event_id DESC) AS rn FROM b)
        |  GROUP BY event_type, bucket_us),
        |bounds AS (SELECT min(bucket_us) AS b0, max(bucket_us) AS b1 FROM agg),
        |grid AS (
        |  SELECT t.event_type, g.g AS bucket_us
        |  FROM (SELECT DISTINCT event_type FROM ev) t
        |  CROSS JOIN (SELECT unnest(generate_series(b0, b1, 600000000)) AS g
        |              FROM bounds) g),
        |j AS (
        |  SELECT g.event_type, g.bucket_us,
        |         coalesce(a.n_events, 0)::BIGINT AS n_events, a.last_v_micro
        |  FROM grid g LEFT JOIN agg a USING (event_type, bucket_us)),
        |f AS (
        |  SELECT event_type, bucket_us, n_events,
        |    last_value(last_v_micro IGNORE NULLS) OVER w AS v_ffill_micro,
        |    last_value(CASE WHEN n_events > 0 THEN bucket_us END IGNORE NULLS)
        |      OVER w AS src_bucket
        |  FROM j
        |  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_us
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, bucket_us, n_events, v_ffill_micro,
        |       (bucket_us - src_bucket) // 600000000 AS staleness_buckets
        |FROM f""".stripMargin,

    // interval form of the two as-of joins: g ∈ [t_prev, t_next) picks the
    // identical bracketing samples; the two-step remainder turns DuckDB's
    // trunc // into floor division, matching Spark's (num − pmod) div den
    "q71_interpolate_grid" ->
      s"""WITH s AS (
        |  SELECT configId, t_us, v_micro,
        |         lead(t_us) OVER (PARTITION BY configId ORDER BY t_us) AS t_next,
        |         lead(v_micro) OVER (PARTITION BY configId ORDER BY t_us) AS v_next
        |  FROM read_parquet('__GEN_DIR__/q71_samples/*.parquet')),
        |g AS (SELECT unnest(range(0, 100000001, 500000))::BIGINT AS grid_us),
        |j AS (
        |  SELECT configId, grid_us, v_micro, t_next,
        |         (v_next - v_micro) * (grid_us - t_us) AS num,
        |         t_next - t_us AS den
        |  FROM g JOIN s ON grid_us >= t_us AND (t_next IS NULL OR grid_us < t_next))
        |SELECT configId, grid_us,
        |  CASE WHEN t_next IS NULL THEN v_micro
        |       ELSE v_micro + (num - ((num % den + den) % den)) // den
        |  END AS v_interp_micro
        |FROM j""".stripMargin,

    // every constant interpolated from graft.ops.Sketch so a p/width change
    // moves both engines in lockstep (the q78/q81 shared-literal pattern)
    "q72_hll_distinct" -> {
      import graft.ops.Sketch.{HllM, HllP, HllMaxRho}
      s"""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |h AS (SELECT source, ${fingerprintSql("tok")} AS h FROM tok),
        |r AS (SELECT source, h & ${HllM - 1} AS bucket, h >> $HllP AS w FROM h),
        |reg AS (SELECT source, bucket,
        |          max(CASE WHEN w = 0 THEN $HllMaxRho
        |                   ELSE bit_count((w & (-w)) - 1) + 1 END) AS max_rho
        |        FROM r GROUP BY source, bucket),
        |e AS (SELECT source, count(*) AS n_buckets_hit,
        |        (sum(CAST(1 AS BIGINT) << (30 - max_rho)) +
        |         ($HllM - count(*)) * ${1L << 30})::BIGINT AS z_scaled
        |      FROM reg GROUP BY source),
        |x AS (SELECT source, count(DISTINCT h) AS n_exact FROM h GROUP BY source)
        |SELECT source, n_buckets_hit, z_scaled,
        |  (${709L * HllM * HllM} * CAST(${1L << 30} AS BIGINT)) // z_scaled AS est_milli,
        |  n_exact
        |FROM e JOIN x USING (source)""".stripMargin
    },

    "q73_chunk_dedup" ->
      s"""WITH d2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN '$Boilerplate ' || text ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d2),
        |ex AS (SELECT doc_id, toks, unnest(range(0, len(toks), 48)) AS i FROM t),
        |ch AS (SELECT doc_id,
        |         array_to_string(list_slice(toks, i + 1, least(i + 64, len(toks))), ' ') AS chunk
        |       FROM ex),
        |fp AS (SELECT doc_id, ${fingerprintSql("chunk", "j")} AS chunk_fp FROM ch),
        |pd AS (SELECT chunk_fp, doc_id, count(*) AS n_occ FROM fp GROUP BY 1, 2),
        |fd AS (SELECT chunk_fp, count(*) AS n_docs_with_fp FROM pd GROUP BY 1)
        |SELECT doc_id, sum(n_occ)::BIGINT AS n_chunks,
        |  sum(CASE WHEN n_docs_with_fp > 1 THEN n_occ ELSE 0 END)::BIGINT AS n_dup_chunks,
        |  ((sum(CASE WHEN n_docs_with_fp > 1 THEN n_occ ELSE 0 END) * 1000)
        |    // sum(n_occ))::BIGINT AS dup_permille
        |FROM pd JOIN fd USING (chunk_fp) GROUP BY doc_id""".stripMargin,

    // append-mode inner interval join drains to exactly the batch join
    "q74_stream_interval_join" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |  epoch_us(c.ts) AS click_ts_us, epoch_us(p.ts) AS purchase_ts_us,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS delay_us
        |FROM events c JOIN events p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.user_id = c.user_id
        | AND epoch_us(p.ts) >= epoch_us(c.ts)
        | AND epoch_us(p.ts) <= epoch_us(c.ts) + 600000000""".stripMargin,

    "q75_revenue_cube" ->
      s"""SELECT l_returnflag, l_linestatus,
        |  $RevenueSql AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q77_anomaly_3sigma" ->
      """WITH ev AS (
        |  SELECT event_id, event_type,
        |    floor(value * 1e6)::BIGINT *
        |      (CASE WHEN event_id % 997 = 0 THEN 10 ELSE 1 END) AS v_micro
        |  FROM events),
        |st AS (
        |  SELECT event_type, count(*) AS group_n,
        |    sum(v_micro::HUGEINT) AS s,
        |    sum(v_micro::HUGEINT * v_micro::HUGEINT) AS q
        |  FROM ev GROUP BY event_type)
        |SELECT event_type, event_id, v_micro, group_n
        |FROM ev JOIN st USING (event_type)
        |WHERE (group_n::HUGEINT * v_micro - s) * (group_n::HUGEINT * v_micro - s)
        |      > 9 * (group_n::HUGEINT * q - s * s)""".stripMargin,

    "q78_cms_heavy_hitters" -> {
      val params = graft.ops.Sketch.CmsParams.zipWithIndex
        .map { case ((a, b), i) => s"($i, ${a}::BIGINT, ${b}::BIGINT)" }
        .mkString(", ")
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT tok, ${fingerprintSql("tok")} AS h FROM tok),
        |p AS (SELECT * FROM (VALUES $params) p(i, a, b)),
        |cells AS (
        |  SELECT i, ((h * a + b) % 2147483647) % 1024 AS bucket, count(*) AS c
        |  FROM h CROSS JOIN p GROUP BY 1, 2),
        |top AS (SELECT tok, h, count(*) AS exact_cnt FROM h GROUP BY 1, 2
        |        ORDER BY exact_cnt DESC, tok LIMIT 20),
        |pr AS (SELECT t.tok, t.exact_cnt, p.i,
        |         ((t.h * p.a + p.b) % 2147483647) % 1024 AS bucket
        |       FROM top t CROSS JOIN p)
        |SELECT tok, exact_cnt, min(c)::BIGINT AS cms_est
        |FROM pr JOIN cells USING (i, bucket)
        |GROUP BY tok, exact_cnt""".stripMargin
    },

    // dedup of byte-identical duplicate copies ⇒ survivor set == the
    // original events; enrichment is a deterministic function of user_id
    "q80_stream_dedup_enrich" ->
      """WITH prof AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchases
        |  FROM events GROUP BY user_id)
        |SELECT user_id, event_id, event_type, n_purchases,
        |  (CASE WHEN n_purchases > 0 THEN 1 ELSE 0 END) AS is_buyer
        |FROM events JOIN prof USING (user_id)""".stripMargin,

    "q81_bloom_prefilter" -> {
      val hashes = graft.ops.Bloom.Hashes
        .map { case (a, b) => s"(${a}::BIGINT, ${b}::BIGINT)" }.mkString(", ")
      val m = graft.ops.Bloom.BloomBits
      s"""WITH h AS (SELECT * FROM (VALUES $hashes) h(a, b)),
        |bu AS (SELECT DISTINCT l_partkey FROM lineitem
        |       WHERE l_shipdate < TIMESTAMP '1995-03-01 00:00:00'),
        |bits AS (
        |  SELECT DISTINCT ((l_partkey * a + b) % 2147483647) % $m AS bit
        |  FROM bu CROSS JOIN h),
        |pk AS (SELECT DISTINCT l_partkey FROM lineitem),
        |pr AS (SELECT pk.l_partkey, ((l_partkey * a + b) % 2147483647) % $m AS bit
        |       FROM pk CROSS JOIN h),
        |hits AS (
        |  SELECT l_partkey,
        |    sum(CASE WHEN bits.bit IS NOT NULL THEN 1 ELSE 0 END) AS nh
        |  FROM pr LEFT JOIN bits USING (bit) GROUP BY l_partkey)
        |SELECT hits.l_partkey,
        |  (CASE WHEN nh = 2 THEN 1 ELSE 0 END) AS bloom_pass,
        |  (CASE WHEN bu.l_partkey IS NOT NULL THEN 1 ELSE 0 END) AS true_member
        |FROM hits LEFT JOIN bu ON hits.l_partkey = bu.l_partkey""".stripMargin
    },

    // winner = max (ts_us, event_id, src, v_micro) per user, mirrored as a
    // descending row_number on the same tuple
    "q83_profile_upsert" ->
      s"""WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
        |         floor(value * 1e6)::BIGINT AS v_micro
        |  FROM events),
        |u AS (
        |  SELECT user_id, ts_us, event_id, v_micro, 0 AS src FROM ev
        |  WHERE ts_us < $UpsertMidUs
        |  UNION ALL
        |  SELECT user_id, ts_us, event_id, v_micro, 1 FROM ev
        |  WHERE ts_us >= $UpsertMidUs AND event_type = 'purchase'),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts_us DESC, event_id DESC, src DESC, v_micro DESC) AS rn
        |  FROM u)
        |SELECT user_id, ts_us, event_id, v_micro, src FROM r WHERE rn = 1""".stripMargin,

    "q82_label_affinity" ->
      """WITH ex AS (
        |  SELECT label, i::INT AS dim,
        |    floor(embedding[i + 1]::DOUBLE * 1e6)::BIGINT AS v
        |  FROM embeddings, range(0, 64) r(i)),
        |s AS (SELECT label, dim, count(*) AS n, sum(v)::BIGINT AS s_micro
        |      FROM ex GROUP BY 1, 2)
        |SELECT a.label AS label_a, b.label AS label_b,
        |  max(a.n)::BIGINT AS n_a, max(b.n)::BIGINT AS n_b,
        |  sum(a.s_micro::HUGEINT * b.s_micro)::BIGINT AS dot_micro2
        |FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label
        |GROUP BY 1, 2""".stripMargin,

    "q79_bpe_pair_counts" ->
      """WITH pr AS (
        |  SELECT unnest(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 1, 0)),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 2), ' '))) AS pair
        |  FROM documents)
        |SELECT pair, count(*) AS cnt
        |FROM pr GROUP BY pair ORDER BY cnt DESC, pair LIMIT 50""".stripMargin,

    "q76_hist_quantiles" ->
      """WITH bins AS (
        |  SELECT floor(l_extendedprice * 100 + 0.5)::BIGINT // 1000 AS bin,
        |         count(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |c AS (
        |  SELECT bin, cnt,
        |    sum(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
        |                   AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER () AS total
        |  FROM bins)
        |SELECT max(total)::BIGINT AS n_rows,
        |  min(CASE WHEN cum * 100 >= total * 50 THEN bin * 1000 END)::BIGINT AS p50_cents,
        |  min(CASE WHEN cum * 100 >= total * 90 THEN bin * 1000 END)::BIGINT AS p90_cents,
        |  min(CASE WHEN cum * 100 >= total * 99 THEN bin * 1000 END)::BIGINT AS p99_cents
        |FROM c""".stripMargin,

    // the interleave arithmetic is generated from ZOrder.zSql — ONE shared
    // definition of the bit contract on both engine sides
    "q84_zorder_layout" ->
      s"""WITH m AS (
        |  SELECT l_partkey % 1024 AS px, l_suppkey % 1024 AS sx FROM lineitem),
        |z AS (SELECT (${graft.ops.ZOrder.zSql("px", "sx", 10)}) AS zv, px, sx FROM m)
        |SELECT (zv // 4096)::BIGINT AS z_bucket, count(*)::BIGINT AS cnt,
        |  min(px)::BIGINT AS x_min, max(px)::BIGINT AS x_max,
        |  min(sx)::BIGINT AS y_min, max(sx)::BIGINT AS y_max
        |FROM z GROUP BY 1""".stripMargin,

    "q85_weighted_sample" ->
      s"""WITH w AS (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS weight,
        |    ((${fingerprintSql("text")} % 1000000) * 1000) AS num
        |  FROM documents)
        |SELECT doc_id, weight, (num // greatest(weight, 1))::BIGINT AS priority
        |FROM w ORDER BY priority, doc_id LIMIT 100""".stripMargin,

    // 3 chained integer-exact iterations; UNION (not ALL) mirrors the
    // Spark side's distinct node set
    "q86_nation_pagerank" -> {
      val iters = (1 to 3).map { i =>
        s"""c$i AS (SELECT e.dst, sum((r.rank_micro * e.w) // o.out_w)::BIGINT AS contrib
           |  FROM raw e JOIN outw o ON e.src = o.src JOIN r${i - 1} r ON r.node = e.src
           |  GROUP BY 1),
           |r$i AS (SELECT n.node,
           |  (150000 + (850 * coalesce(c.contrib, 0)) // 1000)::BIGINT AS rank_micro
           |  FROM nodes n LEFT JOIN c$i c ON c.dst = n.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $NationTradeEdgesCte,
        |outw AS (SELECT src, sum(w)::BIGINT AS out_w FROM raw GROUP BY 1),
        |nodes AS (SELECT src AS node FROM raw UNION SELECT dst FROM raw),
        |r0 AS (SELECT node, 1000000::BIGINT AS rank_micro FROM nodes),
        |$iters
        |SELECT node AS nation, rank_micro FROM r3""".stripMargin
    },

    "q87_inverted_index" ->
      """WITH tok AS (
        |  SELECT doc_id::BIGINT AS doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |pd AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
        |t AS (SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS total_tf
        |      FROM pd GROUP BY 1),
        |p AS (SELECT term, array_to_string(list_transform(
        |        list_slice(list_sort(list(doc_id)), 1, 20), v -> v::VARCHAR), ',') AS postings
        |      FROM pd GROUP BY 1)
        |SELECT t.term, t.df, t.total_tf, p.postings
        |FROM t JOIN p USING (term) WHERE t.df BETWEEN 5 AND 400""".stripMargin,

    // pair rows generated from the same (name, pair) enumeration order as
    // CovMatrix.pairSums
    "q88_cov_matrix" -> {
      val cols = Seq("qty", "price_d", "disc_pm", "tax_pm")
      val pairs = for { (a, i) <- cols.zipWithIndex; b <- cols.drop(i + 1) } yield (a, b)
      val sums = cols.map(c => s"sum($c)::BIGINT AS s_$c, sum($c * $c)::BIGINT AS q_$c") ++
        pairs.map { case (a, b) => s"sum($a * $b)::BIGINT AS p_${a}_$b" }
      val rows = pairs.map { case (a, b) =>
        s"SELECT '$a' AS col_a, '$b' AS col_b, n, s_$a AS s_a, s_$b AS s_b, " +
          s"p_${a}_$b AS s_ab, q_$a AS s_aa, q_$b AS s_bb FROM s"
      }.mkString("\nUNION ALL\n")
      s"""WITH m AS (
        |  SELECT floor(l_quantity + 0.5)::BIGINT AS qty,
        |    floor(l_extendedprice * 100 + 0.5)::BIGINT // 100 AS price_d,
        |    floor(l_discount * 1000 + 0.5)::BIGINT AS disc_pm,
        |    floor(l_tax * 1000 + 0.5)::BIGINT AS tax_pm
        |  FROM lineitem),
        |s AS (SELECT count(*)::BIGINT AS n, ${sums.mkString(", ")} FROM m)
        |$rows""".stripMargin
    },

    // operands clamped non-negative where // appears, so truncating division
    // agrees with Spark's div on every row by construction
    "q89_cusum_changepoint" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    greatest(floor(value * 1e6), 0)::BIGINT AS v_micro
        |  FROM events),
        |mu AS (SELECT sum(v_micro)::BIGINT // count(*) AS mu FROM ev),
        |c AS (SELECT user_id, ts_us, event_id,
        |  sum(v_micro - mu) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cusum
        |  FROM ev, mu),
        |r AS (SELECT user_id, ts_us, cusum,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY abs(cusum) DESC, ts_us, event_id) AS rn,
        |  count(*) OVER (PARTITION BY user_id)::BIGINT AS n,
        |  max(cusum) OVER (PARTITION BY user_id) AS cusum_max,
        |  min(cusum) OVER (PARTITION BY user_id) AS cusum_min
        |  FROM c)
        |SELECT user_id, n, cusum_max, cusum_min, ts_us AS peak_ts,
        |  abs(cusum) AS peak_abs
        |FROM r WHERE rn = 1""".stripMargin,

    "q90_char_classes" ->
      """WITH m AS (
        |  SELECT doc_id, length(text)::BIGINT AS n_chars,
        |    (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))::BIGINT AS n_alpha,
        |    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::BIGINT AS n_digit,
        |    (length(text) - length(regexp_replace(text, ' ', '', 'g')))::BIGINT AS n_space
        |  FROM documents WHERE length(text) > 0)
        |SELECT doc_id, n_chars, n_alpha, n_digit, n_space,
        |  (n_chars - n_alpha - n_digit - n_space) AS n_other,
        |  10000 - (10000 * (n_alpha * n_alpha + n_digit * n_digit
        |    + n_space * n_space
        |    + (n_chars - n_alpha - n_digit - n_space)
        |      * (n_chars - n_alpha - n_digit - n_space)))
        |    // (n_chars * n_chars) AS gini_permyriad
        |FROM m""".stripMargin,

    "q91_vocab_growth" ->
      """WITH mx AS (SELECT max(doc_id)::BIGINT AS max_id FROM documents),
        |b AS (SELECT (doc_id::BIGINT * 10) // (max_id + 1) AS bucket, text
        |      FROM documents, mx),
        |toks AS (SELECT bucket, unnest(string_split(text, ' ')) AS term FROM b),
        |pb AS (SELECT bucket, count(*)::BIGINT AS n_docs FROM b GROUP BY 1),
        |tc AS (SELECT bucket, count(*)::BIGINT AS n_tokens FROM toks GROUP BY 1),
        |nt AS (SELECT bucket, count(*)::BIGINT AS new_terms FROM
        |        (SELECT term, min(bucket) AS bucket FROM toks GROUP BY 1)
        |       GROUP BY 1)
        |SELECT p.bucket, p.n_docs,
        |  coalesce(t.n_tokens, 0)::BIGINT AS n_tokens,
        |  coalesce(n.new_terms, 0)::BIGINT AS new_terms,
        |  sum(coalesce(t.n_tokens, 0)) OVER (ORDER BY p.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tokens,
        |  sum(coalesce(n.new_terms, 0)) OVER (ORDER BY p.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_vocab
        |FROM pb p LEFT JOIN tc t USING (bucket) LEFT JOIN nt n USING (bucket)""".stripMargin,

    "q92_containment_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 2, 0)),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 3), ' ')))) AS shingle
        |  FROM documents),
        |keep AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 100),
        |k AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
        |sz AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM k GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter
        |  FROM k a JOIN k b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b, p.inter, s.n_sh AS n_a,
        |  (p.inter * 1000) // s.n_sh AS contain_milli
        |FROM pairs p JOIN sz s ON s.doc_id = p.id_a
        |WHERE (p.inter * 1000) // s.n_sh >= 800""".stripMargin,

    // component closure identical to q61's oracle; the affine bucket
    // ((c mod p)·a + b mod p) mod 1000 mirrors Sampling.clusterSafeSplit
    "q93_cluster_split" ->
      s"""WITH RECURSIVE $MinhashComponentsCtes,
         |bk AS (SELECT id AS doc_id, component,
         |  (((component % 2147483647) * 1373158607 + 239081663) % 2147483647) % 1000
         |    AS split_bucket
         |  FROM comp)
         |SELECT doc_id, component, split_bucket,
         |  (CASE WHEN split_bucket < 900 THEN 'train' ELSE 'test' END) AS split
         |FROM bk""".stripMargin,

    // window frames agree across engines' defaults because (n_tokens desc,
    // doc_id) is a total order — doc_id is unique
    "q94_token_budget" ->
      """WITH toks AS (
        |  SELECT lang AS stratum, doc_id,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT stratum, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY stratum
        |      ORDER BY n_tokens DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
        |  FROM toks)
        |SELECT stratum, count(*)::BIGINT AS n_docs_total,
        |  sum(n_tokens)::BIGINT AS tokens_total,
        |  count(CASE WHEN cum <= 2000 THEN 1 END)::BIGINT AS n_docs_kept,
        |  coalesce(sum(CASE WHEN cum <= 2000 THEN n_tokens ELSE 0 END), 0)::BIGINT
        |    AS tokens_kept
        |FROM c GROUP BY 1""".stripMargin,

    "q95_funnel_conversion" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |f AS (SELECT user_id,
        |        min(CASE WHEN event_type = 'view' THEN ts_us END) AS t_from
        |      FROM ev GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts_us) AS t_conv
        |      FROM ev e JOIN f ON f.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts_us >= f.t_from
        |      GROUP BY 1)
        |SELECT count(*)::BIGINT AS n_users, count(f.t_from)::BIGINT AS n_from,
        |  count(c.t_conv)::BIGINT AS n_converted,
        |  sum(c.t_conv - f.t_from)::BIGINT AS lag_sum_us
        |FROM f LEFT JOIN c USING (user_id)""".stripMargin,

    // census over the exact q16 pair CTEs: a<b<c ordered enumeration counts
    // each triangle once; wedges = Σ d(d−1)/2
    "q96_pair_triangles" ->
      s"""WITH $MinhashPairsCtes,
         |e AS (SELECT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
         |      FROM pairs WHERE id_a <> id_b GROUP BY 1, 2),
         |tri AS (SELECT count(*)::BIGINT AS n_triangles
         |        FROM e e1 JOIN e e2 ON e2.a = e1.b
         |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |deg AS (SELECT v, count(*)::BIGINT AS d FROM
         |         (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
         |w AS (SELECT count(*)::BIGINT AS n_vertices,
         |        sum((d * (d - 1)) // 2)::BIGINT AS n_wedges FROM deg),
         |ec AS (SELECT count(*)::BIGINT AS n_edges FROM e)
         |SELECT w.n_vertices, ec.n_edges, w.n_wedges, tri.n_triangles,
         |  (3000 * tri.n_triangles) // greatest(w.n_wedges, 1) AS closure_permille
         |FROM w, ec, tri""".stripMargin,

    // struct-max = lexicographic (q desc, id desc) — mirrored by the
    // row_number ordering; fingerprint collisions (if any) merge groups
    // identically on both sides
    "q97_dedup_keep_best" ->
      s"""WITH g AS (
        |  SELECT ${fingerprintSql("text")} AS group_fp, doc_id,
        |    len(string_split(text, ' '))::BIGINT AS q
        |  FROM documents),
        |r AS (
        |  SELECT group_fp, doc_id, q,
        |    row_number() OVER (PARTITION BY group_fp
        |      ORDER BY q DESC, doc_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY group_fp)::BIGINT AS group_size
        |  FROM g)
        |SELECT group_fp, doc_id, q AS quality, group_size
        |FROM r WHERE rn = 1""".stripMargin,

    "q98_stratified_sample_topk" ->
      s"""WITH w AS (
        |  SELECT lang AS stratum, doc_id,
        |    len(string_split(text, ' '))::BIGINT AS weight,
        |    ((${fingerprintSql("text")} % 1000000) * 1000) AS num
        |  FROM documents),
        |p AS (
        |  SELECT stratum, doc_id, weight,
        |    (num // greatest(weight, 1))::BIGINT AS priority
        |  FROM w),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY stratum
        |    ORDER BY priority, doc_id) AS rn
        |  FROM p)
        |SELECT stratum, doc_id, weight, priority FROM r WHERE rn <= 20""".stripMargin,

    // lower median = min{v : 2·cum ≥ n} on both sides — no interpolation,
    // no percentile_cont double contract
    "q99_median_mad" ->
      """WITH ev AS (
        |  SELECT event_type, floor(value * 1e6)::BIGINT AS v FROM events),
        |h AS (SELECT event_type, v, count(*)::BIGINT AS c FROM ev GROUP BY 1, 2),
        |m AS (SELECT event_type, v,
        |        sum(c) OVER (PARTITION BY event_type ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(c) OVER (PARTITION BY event_type) AS n
        |      FROM h),
        |med AS (SELECT event_type, min(v) AS median FROM m
        |        WHERE cum * 2 >= n GROUP BY 1),
        |dh AS (SELECT e.event_type, abs(e.v - med.median) AS dv,
        |         count(*)::BIGINT AS c
        |       FROM ev e JOIN med USING (event_type) GROUP BY 1, 2),
        |dm AS (SELECT event_type, dv,
        |         sum(c) OVER (PARTITION BY event_type ORDER BY dv
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(c) OVER (PARTITION BY event_type) AS n
        |       FROM dh),
        |mad AS (SELECT event_type, min(dv) AS mad FROM dm
        |        WHERE cum * 2 >= n GROUP BY 1)
        |SELECT e.event_type, count(*)::BIGINT AS n, max(med.median) AS median,
        |  max(mad.mad) AS mad,
        |  count(CASE WHEN abs(e.v - med.median) > mad.mad * 5 THEN 1 END)::BIGINT
        |    AS n_outliers
        |FROM ev e JOIN med USING (event_type) JOIN mad USING (event_type)
        |GROUP BY 1""".stripMargin,

    // every fragment is the same shared constant its stage-query uses
    // (q97 keep-best, q64/q66 gates, q61 closure, q93 affine split) — the
    // composition cannot drift from the stages it composes
    "q100_curation_pipeline" ->
      s"""WITH RECURSIVE $MinhashComponentsCtes,
         |base AS (
         |  SELECT doc_id, text, $LangPredCaseSql AS lang_pred,
         |    len(string_split(text, ' '))::BIGINT AS n_tokens,
         |    length(text) AS n_chars,
         |    len(shs) AS n_sh, len(list_distinct(shs)) AS n_dsh,
         |    ${fingerprintSql("text")} AS fp
         |  FROM (SELECT doc_id, text, list_transform(
         |      range(0, greatest(len(string_split(text, ' ')) - 2, 0)),
         |      i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 3), ' ')) AS shs
         |    FROM documents)),
         |best AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (PARTITION BY fp
         |      ORDER BY n_tokens DESC, doc_id DESC) AS rn
         |    FROM base) WHERE rn = 1),
         |filt AS (
         |  SELECT b.doc_id, b.n_tokens FROM base b
         |  JOIN best USING (doc_id)
         |  WHERE b.lang_pred = 'en' AND ${Curation.LenOkSql}
         |    AND ${Curation.NotRepetitiveSql}),
         |lab AS (
         |  SELECT f.doc_id, f.n_tokens,
         |    coalesce(c.component, f.doc_id) AS component
         |  FROM filt f LEFT JOIN comp c ON c.id = f.doc_id),
         |spl AS (SELECT *,
         |  (((component % 2147483647) * 1373158607 + 239081663) % 2147483647) % 1000
         |    AS b FROM lab)
         |SELECT (CASE WHEN b < 900 THEN 'train' ELSE 'test' END) AS split,
         |  count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS n_tokens,
         |  count(DISTINCT component)::BIGINT AS n_components
         |FROM spl GROUP BY 1""".stripMargin,

    "q101_rank_suite" ->
      """WITH ev AS (
        |  SELECT event_type, event_id, floor(value * 1e6)::BIGINT AS v_micro
        |  FROM events),
        |r AS (
        |  SELECT event_type, event_id, v_micro,
        |    rank() OVER (PARTITION BY event_type ORDER BY v_micro) AS rnk,
        |    dense_rank() OVER (PARTITION BY event_type ORDER BY v_micro) AS drnk,
        |    ntile(4) OVER (PARTITION BY event_type
        |      ORDER BY v_micro, event_id) AS tile4,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY v_micro, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM ev)
        |SELECT event_type, event_id, v_micro,
        |  rnk::BIGINT AS rnk, drnk::BIGINT AS drnk, tile4::INT AS tile4,
        |  (((rnk - 1) * 1000000) // greatest(n - 1, 1))::BIGINT AS pr_ppm,
        |  ((rn * 1000000) // n)::BIGINT AS cd_ppm
        |FROM r WHERE rn <= 100""".stripMargin,

    // anti-join spelled as NOT EXISTS; keys are non-null by construction
    "q107_integrity_audit" ->
      """WITH lo AS (SELECT l_orderkey::BIGINT AS k FROM lineitem
        |           UNION ALL SELECT -1 UNION ALL SELECT -2)
        |SELECT 'lineitem_orders' AS check_name, count(*)::BIGINT AS n_violations
        |FROM lo WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = lo.k)
        |UNION ALL
        |SELECT 'lineitem_part', count(*)::BIGINT FROM lineitem l
        |WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
        |UNION ALL
        |SELECT 'lineitem_supplier', count(*)::BIGINT FROM lineitem l
        |WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
        |UNION ALL
        |SELECT 'orders_customer', count(*)::BIGINT FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL
        |SELECT 'customer_nation', count(*)::BIGINT FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)""".stripMargin,

    "q108_column_profile" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, event_id,
        |    floor(value * 1e6)::BIGINT AS v_micro, epoch_us(ts) AS ts_us
        |  FROM events),
        |s AS (SELECT count(*)::BIGINT AS n_rows,
        |  count(user_id)::BIGINT AS nn_user_id,
        |  count(DISTINCT user_id)::BIGINT AS nd_user_id,
        |  count(event_type)::BIGINT AS nn_event_type,
        |  count(DISTINCT event_type)::BIGINT AS nd_event_type,
        |  count(event_id)::BIGINT AS nn_event_id,
        |  count(DISTINCT event_id)::BIGINT AS nd_event_id,
        |  count(v_micro)::BIGINT AS nn_v_micro,
        |  count(DISTINCT v_micro)::BIGINT AS nd_v_micro,
        |  count(ts_us)::BIGINT AS nn_ts_us,
        |  count(DISTINCT ts_us)::BIGINT AS nd_ts_us
        |  FROM ev)
        |SELECT 'user_id' AS col_name, n_rows, n_rows - nn_user_id AS n_nulls,
        |  nd_user_id AS n_distinct FROM s
        |UNION ALL SELECT 'event_type', n_rows, n_rows - nn_event_type, nd_event_type FROM s
        |UNION ALL SELECT 'event_id', n_rows, n_rows - nn_event_id, nd_event_id FROM s
        |UNION ALL SELECT 'v_micro', n_rows, n_rows - nn_v_micro, nd_v_micro FROM s
        |UNION ALL SELECT 'ts_us', n_rows, n_rows - nn_ts_us, nd_ts_us FROM s""".stripMargin,

    // ONE direct aggregation over everything: if the Spark-side partial
    // merge drifted from plain recompute, this hash would catch it
    "q106_incremental_rollup" ->
      """SELECT epoch_us(ts) // 86400000000 AS day, event_type,
        |  count(*)::BIGINT AS n,
        |  sum(floor(value * 1e6)::BIGINT)::BIGINT AS sum_micro
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q105_asof_tolerance" ->
      """WITH j AS (
        |  SELECT p.user_id, p.event_id, p.ts_us,
        |    v.view_id AS m_view, v.ts_us AS m_ts
        |  FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |        WHERE event_type = 'purchase') p
        |  ASOF LEFT JOIN (SELECT user_id, epoch_us(ts) AS ts_us,
        |                         min(event_id) AS view_id
        |                  FROM events WHERE event_type = 'view'
        |                  GROUP BY user_id, epoch_us(ts)) v
        |  ON p.user_id = v.user_id AND p.ts_us >= v.ts_us)
        |SELECT user_id, event_id, ts_us,
        |  (CASE WHEN ts_us - m_ts <= 600000000 THEN m_view END) AS asof_view_id,
        |  (CASE WHEN ts_us - m_ts <= 600000000 THEN m_ts END) AS asof_ts
        |FROM j""".stripMargin,

    "q104_session_window" ->
      s"""WITH ${graft.ops.Sessionize.GapSessionsSqlCtes}
        |SELECT user_id, start_us AS session_start_us,
        |  end_us AS session_end_us, n_events, sum_v_micro
        |FROM sess""".stripMargin,

    // every event joins its ceil(width/slide) = 5 slide offsets; the k-th
    // window start is (⌊ts/slide⌋ − k)·slide, and ts < start + width holds
    // for all five because width = 5·slide. Shared by q109 (multibatch —
    // complete mode makes the decomposition invisible)
    "q103_stream_sliding" -> SlidingWindowOracleSql,
    "q109_stream_sliding_multibatch" -> SlidingWindowOracleSql,

    "q111_revenue_share" ->
      """WITH pn AS (
        |  SELECT r_name, n_name,
        |    sum((floor(l_extendedprice * 100 + 0.5) *
        |         (100 - floor(l_discount * 100 + 0.5)))::BIGINT)::BIGINT AS rev_units
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2),
        |t AS (SELECT r_name, n_name, rev_units,
        |        sum(rev_units) OVER (PARTITION BY r_name)::BIGINT AS region_units
        |      FROM pn)
        |SELECT r_name, n_name, rev_units,
        |  ((rev_units::HUGEINT * 1000000) // region_units)::BIGINT AS share_ppm
        |FROM t""".stripMargin,

    // ::VARCHAR month key works for DATE and string shipdates alike
    "q112_monthly_delta" ->
      """WITH m AS (
        |  SELECT substr(l_shipdate::VARCHAR, 1, 7) AS month,
        |    sum((floor(l_extendedprice * 100 + 0.5) *
        |         (100 - floor(l_discount * 100 + 0.5)))::BIGINT)::BIGINT AS rev_units
        |  FROM lineitem GROUP BY 1)
        |SELECT month, rev_units,
        |  lag(rev_units) OVER (ORDER BY month) AS prev_units,
        |  rev_units - lag(rev_units) OVER (ORDER BY month) AS delta_units
        |FROM m""".stripMargin,

    "q110_winsorized_mean" ->
      s"""WITH $ValueBinsCumSqlCtes,
        |b AS (
        |  SELECT event_type,
        |    min(CASE WHEN cum * 100 >= total THEN bin * $ValueBinMicro END)::BIGINT
        |      AS lo,
        |    min(CASE WHEN cum * 100 >= total * 99
        |        THEN (bin + 1) * $ValueBinMicro - 1 END)::BIGINT AS hi
        |  FROM c GROUP BY 1)
        |SELECT e.event_type, count(*)::BIGINT AS n,
        |  sum(greatest(least(e.v_micro, b.hi), b.lo))::BIGINT AS sum_clipped_micro,
        |  (sum(greatest(least(e.v_micro, b.hi), b.lo)) // count(*))::BIGINT
        |    AS winsorized_mean_micro
        |FROM ev e JOIN b USING (event_type) GROUP BY 1""".stripMargin,

    "q102_group_quantiles" ->
      s"""WITH $ValueBinsCumSqlCtes
        |SELECT event_type, max(total)::BIGINT AS n_rows,
        |  min(CASE WHEN cum * 100 >= total * 50 THEN bin * $ValueBinMicro END)::BIGINT
        |    AS p50_micro,
        |  min(CASE WHEN cum * 100 >= total * 90 THEN bin * $ValueBinMicro END)::BIGINT
        |    AS p90_micro,
        |  min(CASE WHEN cum * 100 >= total * 99 THEN bin * $ValueBinMicro END)::BIGINT
        |    AS p99_micro
        |FROM c GROUP BY 1""".stripMargin,

    "q113_retention_cohorts" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |    (year(o_orderdate) * 12 + month(o_orderdate))::BIGINT AS midx
        |  FROM orders),
        |c AS (
        |  SELECT o_custkey, midx,
        |    min(midx) OVER (PARTITION BY o_custkey) AS cohort_idx
        |  FROM o)
        |SELECT cohort_idx, midx - cohort_idx AS month_offset,
        |  count(DISTINCT o_custkey)::BIGINT AS active_customers,
        |  count(*)::BIGINT AS n_orders
        |FROM c GROUP BY 1, 2""".stripMargin,

    "q114_rfm_segments" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |    max(epoch_us(o_orderdate) // 86400000000) AS last_day,
        |    count(*)::BIGINT AS freq,
        |    sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS mon_cents
        |  FROM orders GROUP BY 1),
        |a AS (SELECT max(last_day) AS anchor_day FROM pc),
        |m AS (
        |  SELECT o_custkey, freq, mon_cents,
        |    (a.anchor_day - pc.last_day) AS r_bin, freq AS f_bin,
        |    mon_cents // 100000 AS m_bin
        |  FROM pc CROSS JOIN a),
        |melted AS (
        |  SELECT 'r' AS metric, r_bin AS bin FROM m
        |  UNION ALL SELECT 'f', f_bin FROM m
        |  UNION ALL SELECT 'm', m_bin FROM m),
        |bins AS (SELECT metric, bin, count(*) AS cnt FROM melted GROUP BY 1, 2),
        |c AS (
        |  SELECT metric, bin, cnt,
        |    sum(cnt) OVER (PARTITION BY metric ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER (PARTITION BY metric) AS total
        |  FROM bins),
        |e AS (
        |  SELECT metric,
        |    min(CASE WHEN cum * 4 >= total THEN bin END) AS e1,
        |    min(CASE WHEN cum * 4 >= total * 2 THEN bin END) AS e2,
        |    min(CASE WHEN cum * 4 >= total * 3 THEN bin END) AS e3
        |  FROM c GROUP BY 1),
        |er AS (
        |  SELECT
        |    min(CASE WHEN metric = 'r' THEN e1 END) AS r1,
        |    min(CASE WHEN metric = 'r' THEN e2 END) AS r2,
        |    min(CASE WHEN metric = 'r' THEN e3 END) AS r3,
        |    min(CASE WHEN metric = 'f' THEN e1 END) AS f1,
        |    min(CASE WHEN metric = 'f' THEN e2 END) AS f2,
        |    min(CASE WHEN metric = 'f' THEN e3 END) AS f3,
        |    min(CASE WHEN metric = 'm' THEN e1 END) AS m1,
        |    min(CASE WHEN metric = 'm' THEN e2 END) AS m2,
        |    min(CASE WHEN metric = 'm' THEN e3 END) AS m3
        |  FROM e),
        |t AS (
        |  SELECT o_custkey, mon_cents,
        |    5 - (1 + (r_bin > r1)::BIGINT + (r_bin > r2)::BIGINT
        |           + (r_bin > r3)::BIGINT) AS r_tile,
        |    1 + (f_bin > f1)::BIGINT + (f_bin > f2)::BIGINT
        |      + (f_bin > f3)::BIGINT AS f_tile,
        |    1 + (m_bin > m1)::BIGINT + (m_bin > m2)::BIGINT
        |      + (m_bin > m3)::BIGINT AS m_tile
        |  FROM m CROSS JOIN er)
        |SELECT r_tile::BIGINT AS r_tile, f_tile::BIGINT AS f_tile,
        |  m_tile::BIGINT AS m_tile, count(*)::BIGINT AS n_customers,
        |  sum(mon_cents)::BIGINT AS monetary_cents_total
        |FROM t GROUP BY 1, 2, 3""".stripMargin,

    "q115_order_streaks" ->
      """WITH om AS (
        |  SELECT DISTINCT o_custkey,
        |    (year(o_orderdate) * 12 + month(o_orderdate))::BIGINT AS midx
        |  FROM orders),
        |i AS (
        |  SELECT o_custkey,
        |    midx - row_number() OVER (PARTITION BY o_custkey ORDER BY midx)
        |      AS island
        |  FROM om),
        |st AS (
        |  SELECT o_custkey, island, count(*)::BIGINT AS streak_len
        |  FROM i GROUP BY 1, 2)
        |SELECT streak_len, count(*)::BIGINT AS n_streaks,
        |  count(DISTINCT o_custkey)::BIGINT AS n_customers
        |FROM st GROUP BY 1""".stripMargin,

    "q116_markov_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, ts FROM events),
        |tr AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM e),
        |c AS (
        |  SELECT from_type, to_type, count(*)::BIGINT AS cnt
        |  FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, cnt,
        |  ((cnt * 1000000) // sum(cnt) OVER (PARTITION BY from_type))::BIGINT
        |    AS p_ppm
        |FROM c""".stripMargin,

    "q117_state_runs" ->
      s"""WITH ${graft.ops.Sessionize.stateRunsSqlCtes("events", "ts")},
        |runs AS (
        |  SELECT user_id, run_id, event_type, count(*)::BIGINT AS run_len
        |  FROM run_r GROUP BY 1, 2, 3)
        |SELECT event_type, run_len, count(*)::BIGINT AS n_runs
        |FROM runs GROUP BY 1, 2""".stripMargin,

    "q118_time_weighted_avg" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    floor(value * 1e6)::BIGINT AS vm
        |  FROM events),
        |g AS (
        |  SELECT user_id, vm,
        |    lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |      - ts_us AS gap_us
        |  FROM e)
        |SELECT user_id, count(*)::BIGINT AS n_intervals,
        |  sum(gap_us)::BIGINT AS span_us,
        |  (sum(vm::HUGEINT * gap_us) // sum(gap_us)::HUGEINT)::BIGINT
        |    AS twa_micro
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY 1 HAVING sum(gap_us) > 0""".stripMargin,

    "q119_name_edit_pairs" ->
      """WITH p AS (
        |  SELECT p_partkey, p_name, split_part(p_name, ' ', 1) AS t1
        |  FROM part),
        |pairs AS (
        |  SELECT levenshtein(a.p_name, b.p_name)::BIGINT AS dist
        |  FROM p a JOIN p b
        |    ON a.t1 = b.t1 AND a.p_partkey < b.p_partkey)
        |SELECT dist, count(*)::BIGINT AS n_pairs
        |FROM pairs WHERE dist <= 8 GROUP BY 1""".stripMargin,

    "q120_basket_brand_pairs" ->
      """WITH ob AS (
        |  SELECT DISTINCT l_orderkey, p_brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |tot AS (SELECT count(DISTINCT l_orderkey) AS total_orders FROM ob),
        |pairs AS (
        |  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
        |    count(*)::BIGINT AS n_orders
        |  FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey
        |   AND a.p_brand < b.p_brand
        |  GROUP BY 1, 2)
        |SELECT brand_a, brand_b, n_orders,
        |  ((n_orders * 1000000) // total_orders)::BIGINT AS support_ppm
        |FROM pairs CROSS JOIN tot""".stripMargin,

    "q121_oov_rate" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |dfk AS (
        |  SELECT token, count(*)::BIGINT AS df
        |  FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1),
        |vocab AS (
        |  SELECT token FROM dfk
        |  QUALIFY row_number() OVER (ORDER BY df DESC, token) <= 1000),
        |pd AS (
        |  SELECT t.doc_id, t.lang, count(*)::BIGINT AS n_tokens,
        |    sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
        |  FROM tok t LEFT JOIN vocab v ON t.token = v.token
        |  GROUP BY 1, 2)
        |SELECT lang, ((n_oov * 1000000) // n_tokens) // 100000 AS oov_decile,
        |  count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS total_tokens
        |FROM pd GROUP BY 1, 2""".stripMargin,

    "q122_ewma_last16" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    floor(value * 1e6)::BIGINT AS vm
        |  FROM events),
        |r AS (
        |  SELECT user_id, vm,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM e QUALIFY rn <= 16)
        |SELECT user_id, count(*)::BIGINT AS n_used,
        |  max(CASE WHEN rn = 1 THEN vm END)::BIGINT AS last_micro,
        |  (sum(vm * (1::BIGINT << (16 - rn)::INT)) //
        |   sum(1::BIGINT << (16 - rn)::INT))::BIGINT AS ewma_micro
        |FROM r GROUP BY 1""".stripMargin,

    "q123_session_hour_grid" ->
      s"""WITH ${graft.ops.Sessionize.GapSessionsSqlCtes},
        |hrs AS (
        |  SELECT user_id, unnest(generate_series(start_us // 3600000000,
        |    (end_us - 1) // 3600000000)) AS hour_idx
        |  FROM sess)
        |SELECT hour_idx % 24 AS hour_of_day, count(*)::BIGINT AS n_session_hours,
        |  count(DISTINCT user_id)::BIGINT AS n_users
        |FROM hrs GROUP BY 1""".stripMargin,

    "q124_weekday_profile" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us,
        |    floor(value * 1e6)::BIGINT AS vm
        |  FROM events)
        |SELECT event_type, ((ts_us // 86400000000) + 4) % 7 AS dow,
        |  (ts_us // 3600000000) % 24 AS hod,
        |  count(*)::BIGINT AS n, sum(vm)::BIGINT AS sum_micro,
        |  (sum(vm) // count(*))::BIGINT AS mean_micro
        |FROM e GROUP BY 1, 2, 3""".stripMargin,

    "q125_scd2_versions" ->
      s"""WITH ${graft.ops.Sessionize.StateVersionsSqlCtes}
        |SELECT user_id, count(*)::BIGINT AS n_versions,
        |  max(CASE WHEN valid_from <= 1705363200000000
        |        AND (valid_to IS NULL OR valid_to > 1705363200000000)
        |      THEN event_type END) AS state_at_t,
        |  max(CASE WHEN valid_from <= 1705363200000000
        |        AND (valid_to IS NULL OR valid_to > 1705363200000000)
        |      THEN valid_from END)::BIGINT AS t_version_start_us
        |FROM versions GROUP BY 1""".stripMargin,

    "q126_path_trigrams" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, ts FROM events),
        |p AS (
        |  SELECT event_type AS t1,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (
        |  SELECT t1 || '>' || t2 || '>' || t3 AS path, count(*)::BIGINT AS cnt
        |  FROM p WHERE t2 IS NOT NULL AND t3 IS NOT NULL GROUP BY 1)
        |SELECT path, cnt FROM c
        |QUALIFY row_number() OVER (ORDER BY cnt DESC, path) <= 10""".stripMargin,

    "q127_token_lift" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |dfk AS (SELECT token, count(*)::BIGINT AS df FROM tok GROUP BY 1),
        |vocab AS (
        |  SELECT token, df FROM dfk
        |  QUALIFY row_number() OVER (ORDER BY df DESC, token) <= 100),
        |tv AS (
        |  SELECT t.doc_id, t.token, v.df
        |  FROM tok t JOIN vocab v ON t.token = v.token),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |pairs AS (
        |  SELECT a.token AS token_a, a.df AS df_a,
        |    b.token AS token_b, b.df AS df_b, count(*)::BIGINT AS cnt
        |  FROM tv a JOIN tv b ON a.doc_id = b.doc_id AND a.token < b.token
        |  GROUP BY 1, 2, 3, 4)
        |SELECT token_a, token_b, cnt,
        |  ((cnt::HUGEINT * n_docs * 1000) // (df_a * df_b))::BIGINT
        |    AS lift_milli
        |FROM pairs CROSS JOIN n""".stripMargin,

    // dims are 0-based on the Spark side; embedding[i] is 1-based here
    "q128_vector_quantize" ->
      """WITH el AS (
        |  SELECT vec_id, (i - 1)::BIGINT AS dim,
        |    floor(embedding[i] * 1e6)::BIGINT AS xm
        |  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)),
        |b AS (
        |  SELECT dim, min(xm) AS minm, max(xm) AS maxm FROM el GROUP BY 1),
        |q AS (
        |  SELECT el.dim, el.xm, b.minm, b.maxm,
        |    ((el.xm - b.minm) * 255) // greatest(b.maxm - b.minm, 1) AS code
        |  FROM el JOIN b ON el.dim = b.dim),
        |r AS (
        |  SELECT dim, minm, maxm,
        |    abs(xm - (minm + (code * (maxm - minm)) // 255)) AS err
        |  FROM q)
        |SELECT dim, count(*)::BIGINT AS n, min(minm)::BIGINT AS min_micro,
        |  max(maxm)::BIGINT AS max_micro,
        |  sum(err)::BIGINT AS sum_abs_err_micro,
        |  max(err)::BIGINT AS max_abs_err_micro,
        |  (sum(err) // count(*))::BIGINT AS mean_abs_err_micro
        |FROM r GROUP BY 1""".stripMargin,

    "q129_compaction_plan" ->
      """WITH m AS (
        |  SELECT substr(l_shipdate::VARCHAR, 1, 7) AS month,
        |    count(*)::BIGINT AS n_rows
        |  FROM lineitem GROUP BY 1)
        |SELECT month, n_rows, n_rows * 120 AS est_bytes,
        |  (n_rows * 120 + 134217727) // 134217728 AS target_files,
        |  (n_rows + ((n_rows * 120 + 134217727) // 134217728) - 1)
        |    // ((n_rows * 120 + 134217727) // 134217728) AS rows_per_file
        |FROM m""".stripMargin,

    "q130_band_join_views" ->
      s"""WITH $PurchaseViewBandSqlCtes
        |SELECT purchase_id, user_id, p_us,
        |  count(v_us)::BIGINT AS n_views_near
        |FROM band GROUP BY 1, 2, 3""".stripMargin,

    "q131_segment_priority_lift" ->
      """WITH cells AS (
        |  SELECT c_mktsegment, o_orderpriority, count(*)::BIGINT AS obs
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT c_mktsegment, o_orderpriority, obs,
        |    sum(obs) OVER (PARTITION BY c_mktsegment) AS r_tot,
        |    sum(obs) OVER (PARTITION BY o_orderpriority) AS c_tot,
        |    sum(obs) OVER () AS t_tot
        |  FROM cells)
        |SELECT c_mktsegment, o_orderpriority, obs,
        |  ((r_tot::HUGEINT * c_tot * 1000) // t_tot)::BIGINT AS expected_milli,
        |  ((obs::HUGEINT * t_tot * 1000) // (r_tot * c_tot))::BIGINT
        |    AS lift_milli
        |FROM m""".stripMargin,

    "q132_calendar_coverage" ->
      """WITH o AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day FROM orders),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM o),
        |grid AS (
        |  SELECT unnest(generate_series(d0, d1)) AS day FROM span),
        |pd AS (SELECT day, count(*)::BIGINT AS n_orders FROM o GROUP BY 1)
        |SELECT g.day, (g.day + 4) % 7 AS dow,
        |  coalesce(pd.n_orders, 0)::BIGINT AS n_orders,
        |  (CASE WHEN pd.n_orders IS NULL THEN 1 ELSE 0 END)::BIGINT AS is_gap
        |FROM grid g LEFT JOIN pd ON g.day = pd.day""".stripMargin,

    "q133_revenue_index" ->
      """WITH m AS (
        |  SELECT substr(l_shipdate::VARCHAR, 1, 7) AS month,
        |    sum((floor(l_extendedprice * 100 + 0.5) *
        |         (100 - floor(l_discount * 100 + 0.5)))::BIGINT)::BIGINT
        |      AS rev_units
        |  FROM lineitem GROUP BY 1)
        |SELECT month, rev_units,
        |  ((rev_units::HUGEINT * 10000) //
        |   first_value(rev_units) OVER (ORDER BY month
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |    AS index_bp
        |FROM m""".stripMargin,

    "q134_pareto_frontier" ->
      """WITH p AS (
        |  SELECT p_partkey, p_size::BIGINT AS size,
        |    floor(p_retailprice * 100 + 0.5)::BIGINT AS price_cents
        |  FROM part),
        |bs AS (SELECT size, min(price_cents) AS size_min FROM p GROUP BY 1),
        |f AS (
        |  SELECT size, size_min,
        |    min(size_min) OVER (ORDER BY size DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS larger_min
        |  FROM bs)
        |SELECT p.p_partkey, p.size, p.price_cents
        |FROM p JOIN f ON p.size = f.size AND p.price_cents = f.size_min
        |WHERE f.larger_min IS NULL OR f.size_min < f.larger_min""".stripMargin,

    "q135_novelty_vs_history" ->
      s"""WITH docs AS (
        |  SELECT doc_id, lang, ${fingerprintSql("text")} AS fp
        |  FROM documents),
        |hist AS (SELECT DISTINCT fp FROM docs WHERE doc_id % 2 = 0),
        |inc AS (SELECT lang, fp FROM docs WHERE doc_id % 2 = 1),
        |nv AS (
        |  SELECT lang, count(*)::BIGINT AS n_novel
        |  FROM inc WHERE NOT EXISTS (SELECT 1 FROM hist WHERE hist.fp = inc.fp)
        |  GROUP BY 1),
        |tot AS (SELECT lang, count(*)::BIGINT AS n_incoming FROM inc GROUP BY 1)
        |SELECT t.lang, t.n_incoming,
        |  coalesce(nv.n_novel, 0)::BIGINT AS n_novel,
        |  ((coalesce(nv.n_novel, 0) * 1000000) // t.n_incoming)::BIGINT
        |    AS novelty_ppm
        |FROM tot t LEFT JOIN nv ON t.lang = nv.lang""".stripMargin,

    "q136_supplier_hhi" ->
      """WITH ps AS (
        |  SELECT n_name, s_suppkey,
        |    sum((floor(l_extendedprice * 100 + 0.5) *
        |         (100 - floor(l_discount * 100 + 0.5)))::BIGINT)::BIGINT
        |      AS rev_units
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |sh AS (
        |  SELECT n_name,
        |    ((rev_units::HUGEINT * 1000000) //
        |     sum(rev_units) OVER (PARTITION BY n_name))::BIGINT AS share_ppm
        |  FROM ps)
        |SELECT n_name, count(*)::BIGINT AS n_suppliers,
        |  (sum(share_ppm * share_ppm) // 1000000)::BIGINT AS hhi_ppm
        |FROM sh GROUP BY 1""".stripMargin,

    // watermark replica of the MEASURED Spark 4.1 semantics (probed with
    // the 2- and 3-batch variants): wm = (max event-time ms − 600000)·1000
    // µs, collected over ALL rows of batches so far; a batch-3 late row is
    // dropped on arrival iff its window end ≤ the wm set after batch 2
    // (rows merging into sealed-but-unevicted state still count); the
    // final table emits windows with end ≤ the final wm. Split boundary is
    // the FIXED epoch constant (odd ids ≤/> 2024-01-16), never a float
    // percentile
    "q137_stream_late_drop" ->
      """WITH e AS (
        |  SELECT event_id, event_type, epoch_us(ts) AS ts_us,
        |    floor(value * 1e6)::BIGINT AS vm
        |  FROM events),
        |wm2 AS (
        |  SELECT ((max(ts_us) // 1000) - 600000) * 1000 AS wm
        |  FROM e WHERE event_id % 2 = 0 OR ts_us > 1705363200000000),
        |wmf AS (
        |  SELECT ((max(ts_us) // 1000) - 600000) * 1000 AS wm FROM e),
        |kept AS (
        |  SELECT * FROM e
        |  WHERE event_id % 2 = 0 OR ts_us > 1705363200000000
        |  UNION ALL
        |  SELECT e.* FROM e, wm2
        |  WHERE event_id % 2 = 1 AND ts_us <= 1705363200000000
        |    AND ((ts_us // 300000000) + 1) * 300000000 > wm2.wm),
        |agg AS (
        |  SELECT (ts_us // 300000000) * 300000000 AS window_start_us,
        |    event_type, count(*) AS n_events,
        |    sum(vm)::BIGINT AS sum_value_micro
        |  FROM kept GROUP BY 1, 2)
        |SELECT a.window_start_us, a.event_type, a.n_events, a.sum_value_micro
        |FROM agg a, wmf WHERE a.window_start_us + 300000000 <= wmf.wm""".stripMargin,

    "q138_weighted_median" ->
      """WITH li AS (
        |  SELECT l_returnflag, floor(l_quantity + 0.5)::BIGINT AS wgt,
        |    (floor(l_extendedprice * 100 + 0.5) *
        |     (100 - floor(l_discount * 100 + 0.5)))::BIGINT AS rev
        |  FROM lineitem),
        |bins AS (
        |  SELECT l_returnflag, rev // 10000000 AS bin, sum(wgt) AS w
        |  FROM li GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, bin, w,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS total
        |  FROM bins)
        |SELECT l_returnflag, max(total)::BIGINT AS total_weight,
        |  min(CASE WHEN cum * 2 >= total THEN bin * 10000000 END)::BIGINT
        |    AS wmedian_units_lo
        |FROM c GROUP BY 1""".stripMargin,

    // the q104 islands formulation, reduced to duration bands
    "q139_session_duration_hist" ->
      s"""WITH ${graft.ops.Sessionize.GapSessionsSqlCtes}
        |SELECT (end_us - start_us) // 300000000 AS dur_bucket_5m,
        |  count(*)::BIGINT AS n_sessions, sum(n_events)::BIGINT AS sum_events,
        |  max(end_us - start_us)::BIGINT AS max_dur_us
        |FROM sess GROUP BY 1""".stripMargin,

    "q140_benford_audit" ->
      """WITH d AS (
        |  SELECT substr(floor(o_totalprice * 100 + 0.5)::BIGINT::VARCHAR, 1, 1)
        |    ::BIGINT AS digit
        |  FROM orders),
        |c AS (
        |  SELECT digit, count(*)::BIGINT AS n,
        |    sum(count(*)) OVER () AS total
        |  FROM d GROUP BY 1),
        |e(digit, benford_ppm) AS (VALUES
        |  (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
        |  (6, 66947), (7, 57992), (8, 51153), (9, 45757))
        |SELECT c.digit, c.n, ((c.n * 1000000) // c.total)::BIGINT
        |    AS observed_ppm,
        |  e.benford_ppm::BIGINT AS benford_ppm,
        |  ((c.n * 1000000) // c.total - e.benford_ppm)::BIGINT
        |    AS deviation_ppm
        |FROM c JOIN e ON c.digit = e.digit""".stripMargin,

    "q141_attribution_credit" ->
      s"""WITH $PurchaseViewBandSqlCtes,
        |cr AS (
        |  SELECT (v_us // 3600000000) % 24 AS view_hod,
        |    1000000 // count(*) OVER (PARTITION BY purchase_id)
        |      AS credit_ppm
        |  FROM band WHERE v_us IS NOT NULL)
        |SELECT view_hod, count(*)::BIGINT AS n_touches,
        |  sum(credit_ppm)::BIGINT AS credit_ppm_total
        |FROM cr GROUP BY 1""".stripMargin,

    "q142_rolling_7day_revenue" ->
      """WITH daily AS (
        |  SELECT epoch_us(l_shipdate) // 86400000000 AS day,
        |    sum((floor(l_extendedprice * 100 + 0.5) *
        |         (100 - floor(l_discount * 100 + 0.5)))::BIGINT)::BIGINT
        |      AS rev_units
        |  FROM lineitem GROUP BY 1)
        |SELECT day, rev_units,
        |  sum(rev_units) OVER (ORDER BY day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)::BIGINT
        |    AS rev_7d_units,
        |  count(*) OVER (ORDER BY day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)::BIGINT
        |    AS n_days_in_window
        |FROM daily""".stripMargin,

    "q143_distinct_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS region,
        |  coalesce(n_name, 'ALL') AS nation,
        |  count(DISTINCT o_custkey)::BIGINT AS n_active_customers,
        |  count(*)::BIGINT AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,

    "q144_fulfillment_lag" ->
      """SELECT o_orderpriority,
        |  (epoch_us(l_shipdate) // 86400000000)
        |    - (epoch_us(o_orderdate) // 86400000000) AS lag_days,
        |  count(*)::BIGINT AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin,

    "q145_lorenz_curve" ->
      s"""WITH $LorenzCurveSqlCtes
        |SELECT bin * 100000 AS bin_lo_cents, n, cum_orders_ppm, cum_revenue_ppm
        |FROM lorenz""".stripMargin,

    "q146_lsh_recall_audit" ->
      s"""WITH $MinhashPairsCtes,
        |dfq AS (SELECT shingle FROM sh GROUP BY shingle
        |        HAVING count(*) <= 1000),
        |ex AS (SELECT s.doc_id, s.shingle FROM sh s JOIN dfq USING (shingle)),
        |nn AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id),
        |truth AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  JOIN nn na ON na.doc_id = a.doc_id
        |  JOIN nn nb ON nb.doc_id = b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |  HAVING round(count(*)::DOUBLE /
        |    (any_value(na.n_sh) + any_value(nb.n_sh) - count(*)), 6) >= 0.8),
        |lp AS (SELECT id_a, id_b FROM pairs),
        |m AS (SELECT count(*)::BIGINT AS n_truth FROM truth),
        |l AS (SELECT count(*)::BIGINT AS n_lsh FROM lp),
        |ht AS (SELECT count(*)::BIGINT AS n_hit
        |       FROM truth t JOIN lp USING (id_a, id_b))
        |SELECT m.n_truth, l.n_lsh, ht.n_hit,
        |  ((ht.n_hit * 1000000) // m.n_truth)::BIGINT AS recall_ppm,
        |  ((ht.n_hit * 1000000) // l.n_lsh)::BIGINT AS candidate_precision_ppm
        |FROM m, l, ht""".stripMargin,

    "q147_ann_recall_audit" ->
      s"""WITH exact AS ($CosineTopkOracleSql),
        |approx AS ($IvfTopkOracleSql),
        |m AS (SELECT count(*)::BIGINT AS n_exact FROM exact),
        |l AS (SELECT count(*)::BIGINT AS n_approx FROM approx),
        |ht AS (SELECT count(*)::BIGINT AS n_hit
        |       FROM exact e JOIN approx a
        |         ON e.query_id = a.query_id AND e.cand_id = a.cand_id)
        |SELECT m.n_exact, l.n_approx, ht.n_hit,
        |  ((ht.n_hit * 1000000) // m.n_exact)::BIGINT AS recall_ppm
        |FROM m, l, ht""".stripMargin,

    "q148_cohort_ltv" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |    (year(o_orderdate) * 12 + month(o_orderdate))::BIGINT AS midx,
        |    floor(o_totalprice * 100 + 0.5)::BIGINT AS v
        |  FROM orders),
        |c AS (
        |  SELECT o_custkey, midx, v,
        |    min(midx) OVER (PARTITION BY o_custkey) AS cohort_idx
        |  FROM o),
        |cells AS (
        |  SELECT cohort_idx, midx - cohort_idx AS month_offset,
        |    count(DISTINCT o_custkey)::BIGINT AS active_customers,
        |    sum(v)::BIGINT AS rev_cents
        |  FROM c GROUP BY 1, 2),
        |x AS (
        |  SELECT cohort_idx, month_offset, active_customers, rev_cents,
        |    sum(rev_cents) OVER (PARTITION BY cohort_idx ORDER BY month_offset
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev_cents,
        |    max(CASE WHEN month_offset = 0 THEN active_customers END)
        |      OVER (PARTITION BY cohort_idx) AS cohort_size
        |  FROM cells)
        |SELECT cohort_idx, month_offset, active_customers,
        |  ((active_customers * 1000000) // cohort_size)::BIGINT
        |    AS retention_ppm,
        |  rev_cents, cum_rev_cents::BIGINT AS cum_rev_cents
        |FROM x""".stripMargin,

    "q149_temporal_state_join" ->
      s"""WITH ${graft.ops.Sessionize.StateBeforeSqlCtes}
        |SELECT state_before, count(*)::BIGINT AS n_purchases,
        |  count(DISTINCT user_id)::BIGINT AS n_users
        |FROM before GROUP BY 1""".stripMargin,

    "q150_acf" ->
      s"""WITH s AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |    count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT unnest(generate_series(1, 6))::BIGINT AS lag_h),
        |p AS (
        |  SELECT a.event_type, l.lag_h, a.cnt AS x, b.cnt AS y
        |  FROM s a CROSS JOIN l JOIN s b
        |    ON b.event_type = a.event_type AND b.h = a.h + l.lag_h),
        |${pairCorrSql("event_type, lag_h")}""".stripMargin,

    "q151_cross_correlation" ->
      s"""WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |    count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT unnest(generate_series(-6, 6))::BIGINT AS lag_h),
        |p AS (
        |  SELECT l.lag_h, a.cnt AS x, b.cnt AS y
        |  FROM (SELECT h, cnt FROM hourly WHERE event_type = 'click') a
        |  CROSS JOIN l
        |  JOIN (SELECT h, cnt FROM hourly WHERE event_type = 'purchase') b
        |    ON b.h = a.h + l.lag_h),
        |${pairCorrSql("lag_h")}""".stripMargin,

    "q152_seasonal_decomposition" ->
      """WITH dd AS (
        |  SELECT epoch_us(o_orderdate::TIMESTAMP) // 86400000000 AS d,
        |    count(*)::BIGINT AS cnt
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(d) AS d0, max(d) AS d1 FROM dd),
        |grid AS (SELECT unnest(generate_series(d0, d1)) AS d FROM b),
        |dense AS (
        |  SELECT g.d, coalesce(dd.cnt, 0)::BIGINT AS cnt
        |  FROM grid g LEFT JOIN dd ON dd.d = g.d),
        |tr AS (
        |  SELECT d, cnt, count(*) OVER w AS win_n,
        |    (sum(cnt) OVER w * 1000) // 7 AS trend_milli
        |  FROM dense
        |  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |dev AS (
        |  SELECT d, cnt, cnt * 1000 - trend_milli AS dev_milli
        |  FROM tr WHERE win_n = 7)
        |SELECT (d + 4) % 7 AS dow, count(*)::BIGINT AS n_days,
        |  (sum(cnt) * 1000 // count(*))::BIGINT AS mean_cnt_milli,
        |  sum(dev_milli)::BIGINT AS sum_dev_milli,
        |  floor(sum(dev_milli)::DOUBLE / count(*)::DOUBLE + 0.5)::BIGINT
        |    AS seasonal_milli
        |FROM dev GROUP BY 1""".stripMargin,

    "q153_theil_sen_trend" ->
      """WITH mo AS (
        |  SELECT n_name,
        |    (year(o_orderdate) * 12 + month(o_orderdate))::BIGINT AS m,
        |    sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS rev_cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT a.n_name,
        |    floor(1000.0 * (b.rev_cents - a.rev_cents)::DOUBLE
        |      / (b.m - a.m)::DOUBLE + 0.5)::BIGINT AS slope_milli
        |  FROM mo a JOIN mo b ON b.n_name = a.n_name AND b.m > a.m),
        |r AS (
        |  SELECT n_name, slope_milli,
        |    row_number() OVER (PARTITION BY n_name ORDER BY slope_milli)
        |      AS rn,
        |    count(*) OVER (PARTITION BY n_name) AS n_pairs
        |  FROM p)
        |SELECT n_name, n_pairs::BIGINT AS n_pairs,
        |  slope_milli AS ts_slope_milli
        |FROM r WHERE rn = (n_pairs + 1) // 2""".stripMargin,

    "q154_distribution_drift" ->
      """WITH ev AS (
        |  SELECT epoch_us(ts) AS ts_us, floor(value * 1e6)::BIGINT AS vm
        |  FROM events),
        |b AS (
        |  SELECT min(ts_us) AS t0, max(ts_us) AS t1,
        |    min(vm) AS v0, max(vm) AS v1 FROM ev),
        |binned AS (
        |  SELECT CASE WHEN ts_us < (t0 + t1) // 2 THEN 1 ELSE 2 END AS half,
        |    least(19, ((vm - v0) * 20) // (v1 - v0 + 1)) AS bin
        |  FROM ev CROSS JOIN b),
        |cells AS (
        |  SELECT bin,
        |    sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN half = 2 THEN 1 ELSE 0 END)::BIGINT AS n2
        |  FROM binned GROUP BY 1),
        |sh AS (
        |  SELECT bin, n1, n2,
        |    ((n1 * 1000000) // sum(n1) OVER ())::BIGINT AS share1_ppm,
        |    ((n2 * 1000000) // sum(n2) OVER ())::BIGINT AS share2_ppm
        |  FROM cells)
        |SELECT bin, n1, n2, share1_ppm, share2_ppm,
        |  abs(share1_ppm - share2_ppm) AS abs_diff_ppm,
        |  (sum(abs(share1_ppm - share2_ppm)) OVER () // 2)::BIGINT
        |    AS tvd_ppm
        |FROM sh""".stripMargin,

    "q155_rrf_fusion" ->
      s"""WITH ca AS (
        |  SELECT query_id, cand_id, rank FROM (
        |    ${cosineTopkOracleSql(20)})),
        |db AS (
        |  SELECT query_id, cand_id, rank FROM (
        |    ${dotTopkOracleSql(20)})),
        |f AS (
        |  SELECT query_id, cand_id,
        |    ca.rank AS rank_cos, db.rank AS rank_dot,
        |    coalesce(1000000 // (60 + ca.rank), 0)
        |      + coalesce(1000000 // (60 + db.rank), 0) AS rrf_micro
        |  FROM ca FULL JOIN db USING (query_id, cand_id))
        |SELECT query_id, cand_id, rank_cos, rank_dot, rrf_micro,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY rrf_micro DESC, cand_id) AS fused_rank
        |FROM f
        |QUALIFY fused_rank <= 5""".stripMargin,

    "q156_ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END)::BIGINT AS conv
        |  FROM events GROUP BY 1),
        |a AS (
        |  SELECT
        |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |    sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END)::BIGINT
        |      AS conv_a,
        |    sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
        |    sum(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END)::BIGINT
        |      AS conv_b
        |  FROM u),
        |c AS (
        |  SELECT n_a, conv_a, n_b, conv_b,
        |    conv_a::HUGEINT * (n_b - conv_b)
        |      - (n_a - conv_a)::HUGEINT * conv_b AS det,
        |    n_a::HUGEINT * n_b AS mrg1,
        |    (conv_a + conv_b)::HUGEINT
        |      * ((n_a - conv_a) + (n_b - conv_b)) AS mrg2
        |  FROM a)
        |SELECT n_a, conv_a, (conv_a * 1000000) // n_a AS rate_a_ppm,
        |  n_b, conv_b, (conv_b * 1000000) // n_b AS rate_b_ppm,
        |  (conv_a * 1000000) // n_a - (conv_b * 1000000) // n_b AS diff_ppm,
        |  (CASE WHEN mrg1 = 0 OR mrg2 = 0 THEN NULL ELSE
        |    floor((n_a + n_b)::DOUBLE * det::DOUBLE * det::DOUBLE
        |      / (mrg1::DOUBLE * mrg2::DOUBLE) * 1000 + 0.5)
        |    END)::BIGINT AS chi2_milli
        |FROM c""".stripMargin,

    "q157_vocab_coverage" ->
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |tc AS (SELECT tok, count(*)::BIGINT AS cnt FROM t GROUP BY 1),
        |tot AS (
        |  SELECT sum(cnt)::BIGINT AS total_cnt, count(*)::BIGINT AS n_vocab
        |  FROM tc),
        |top AS (
        |  SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok)
        |    AS rank
        |  FROM tc ORDER BY cnt DESC, tok LIMIT 3000),
        |r AS (
        |  SELECT rank::BIGINT AS rank,
        |    sum(cnt) OVER (ORDER BY rank
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |      AS cum_cnt
        |  FROM top),
        |ks AS (SELECT unnest([100, 300, 1000, 3000])::BIGINT AS k)
        |SELECT k, r.rank AS vocab_size, cum_cnt AS covered_tokens,
        |  total_cnt AS total_tokens,
        |  ((cum_cnt * 1000000) // total_cnt)::BIGINT AS coverage_ppm
        |FROM ks, tot, r WHERE r.rank = least(k, n_vocab)""".stripMargin,

    "q158_kappa_agreement" ->
      s"""WITH pred AS (
        |  SELECT lang, $LangPredCaseSql AS lang_pred FROM documents),
        |cells AS (
        |  SELECT lang, lang_pred, count(*)::BIGINT AS n
        |  FROM pred GROUP BY 1, 2),
        |r AS (SELECT lang AS cls, sum(n)::BIGINT AS rn FROM cells
        |  GROUP BY 1),
        |c AS (SELECT lang_pred AS cls, sum(n)::BIGINT AS cn FROM cells
        |  GROUP BY 1),
        |m AS (
        |  SELECT coalesce(rn, 0) AS rn, coalesce(cn, 0) AS cn
        |  FROM r FULL JOIN c USING (cls)),
        |sv AS (SELECT sum(rn::HUGEINT * cn) AS s FROM m),
        |t AS (
        |  SELECT sum(n)::BIGINT AS n_docs,
        |    sum(CASE WHEN lang = lang_pred THEN n ELSE 0 END)::BIGINT
        |      AS n_agree
        |  FROM cells)
        |SELECT n_docs, n_agree,
        |  (n_agree * 1000000) // n_docs AS po_ppm,
        |  floor(s::DOUBLE / (n_docs::DOUBLE * n_docs::DOUBLE) * 1e6
        |    + 0.5)::BIGINT AS pe_ppm,
        |  (CASE WHEN (n_docs::HUGEINT * n_docs - s) = 0 THEN NULL ELSE
        |    floor((n_agree::HUGEINT * n_docs - s)::DOUBLE
        |      / (n_docs::HUGEINT * n_docs - s)::DOUBLE * 1000 + 0.5)
        |    END)::BIGINT AS kappa_milli
        |FROM t, sv""".stripMargin,

    "q159_gain_curve" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
        |      AS score,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END)::BIGINT AS purch
        |  FROM events GROUP BY 1),
        |bs AS (
        |  SELECT score, count(*)::BIGINT AS n_users,
        |    sum(purch)::BIGINT AS n_purch
        |  FROM pu GROUP BY 1),
        |cm AS (
        |  SELECT score, n_users, n_purch,
        |    sum(n_users) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW)::BIGINT AS cum_users,
        |    sum(n_purch) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW)::BIGINT AS cum_purch,
        |    sum(n_users) OVER ()::BIGINT AS tu,
        |    sum(n_purch) OVER ()::BIGINT AS tp
        |  FROM bs)
        |SELECT score, n_users, n_purch, cum_users, cum_purch,
        |  (cum_users * 1000000) // tu AS user_share_ppm,
        |  (CASE WHEN tp = 0 THEN NULL ELSE (cum_purch * 1000000) // tp
        |    END)::BIGINT AS capture_ppm
        |FROM cm""".stripMargin,

    "q160_exact_auc" ->
      """WITH sc AS (
        |  SELECT (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS pos,
        |    len(list_filter(string_split(text, ' '),
        |      t -> t IN ('the','a','of','and','to','in','is','on','for',
        |        'with')))::BIGINT AS score
        |  FROM documents),
        |cells AS (
        |  SELECT score, sum(pos)::BIGINT AS n_pos,
        |    sum(1 - pos)::BIGINT AS n_neg
        |  FROM sc GROUP BY 1),
        |cb AS (
        |  SELECT score, n_pos, n_neg,
        |    coalesce(sum(n_neg) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_neg_below
        |  FROM cells),
        |u AS (
        |  SELECT sum(n_pos)::BIGINT AS np, sum(n_neg)::BIGINT AS nn,
        |    sum(n_pos::HUGEINT * (2::HUGEINT * cum_neg_below + n_neg)) AS u2
        |  FROM cb)
        |SELECT np AS n_pos, nn AS n_neg,
        |  (CASE WHEN np = 0 OR nn = 0 THEN NULL ELSE
        |    floor(u2::DOUBLE / (2.0 * np::DOUBLE * nn::DOUBLE) * 1e6 + 0.5)
        |    END)::BIGINT AS auc_ppm
        |FROM u""".stripMargin,

    "q161_k_anonymity" ->
      """WITH qi AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    floor(c_acctbal / 1000.0)::BIGINT AS bal_band
        |  FROM customer),
        |sz AS (
        |  SELECT c_nationkey, c_mktsegment, bal_band, count(*)::BIGINT
        |    AS gsz
        |  FROM qi GROUP BY 1, 2, 3),
        |h AS (SELECT gsz, count(*)::BIGINT AS n_groups FROM sz GROUP BY 1),
        |t AS (
        |  SELECT sum(gsz * n_groups)::BIGINT AS n_rows,
        |    sum(n_groups)::BIGINT AS n_groups_tot
        |  FROM h),
        |ks AS (SELECT unnest([2, 5, 10])::BIGINT AS k)
        |SELECT k, n_groups_tot, n_rows,
        |  coalesce(sum(CASE WHEN gsz < k THEN n_groups END), 0)::BIGINT
        |    AS small_groups,
        |  coalesce(sum(CASE WHEN gsz < k THEN gsz * n_groups END),
        |    0)::BIGINT AS small_rows,
        |  ((coalesce(sum(CASE WHEN gsz < k THEN gsz * n_groups END), 0)
        |    * 1000000) // n_rows)::BIGINT AS risk_ppm
        |FROM ks CROSS JOIN h CROSS JOIN t
        |GROUP BY k, n_groups_tot, n_rows""".stripMargin,

    "q162_poisson_bootstrap" ->
      """WITH o AS (
        |  SELECT o_orderkey, floor(o_totalprice * 100 + 0.5)::BIGINT AS v
        |  FROM orders),
        |bs AS (SELECT unnest(generate_series(1, 20))::BIGINT AS b),
        |r AS (
        |  SELECT b,
        |    ((o_orderkey % 2147483647) * 48271 + b * 16807) % 2147483647
        |      AS h, v
        |  FROM o CROSS JOIN bs),
        |m AS (
        |  SELECT b, v,
        |    CASE WHEN h % 10000 < 3679 THEN 0 WHEN h % 10000 < 7358 THEN 1
        |      WHEN h % 10000 < 9197 THEN 2 WHEN h % 10000 < 9810 THEN 3
        |      WHEN h % 10000 < 9963 THEN 4 ELSE 5 END AS mult
        |  FROM r),
        |g AS (
        |  SELECT b, sum(mult)::BIGINT AS n_eff,
        |    sum(mult::HUGEINT * v)::BIGINT AS total_cents
        |  FROM m GROUP BY 1)
        |SELECT b, n_eff, total_cents,
        |  (CASE WHEN n_eff = 0 THEN NULL ELSE
        |    floor(total_cents::DOUBLE / n_eff::DOUBLE * 10.0 + 0.5)
        |    END)::BIGINT AS mean_milli
        |FROM g""".stripMargin,

    "q163_stream_update_mode" ->
      """WITH e AS (
        |  SELECT (CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END) AS bb,
        |    (epoch_us(ts) // 300000000) * 300000000 AS window_start_us,
        |    event_type, floor(value * 1e6)::BIGINT AS vm
        |  FROM events),
        |bs AS (SELECT unnest([1, 2]) AS i),
        |em AS (
        |  SELECT i, window_start_us, event_type,
        |    count(*)::BIGINT AS n_events, sum(vm)::BIGINT AS sum_value_micro
        |  FROM bs JOIN e ON e.bb <= bs.i
        |  GROUP BY 1, 2, 3
        |  HAVING max(CASE WHEN e.bb = bs.i THEN 1 ELSE 0 END) = 1)
        |SELECT window_start_us, event_type, n_events, sum_value_micro
        |FROM em""".stripMargin,

    // same integer BM25 formula term by term; the div chain floors at the
    // same three points on both engines
    "q189_bm25_topk" -> bm25OracleSql(5),
    "q227_bm25_stopword_cap" -> bm25OracleSql(5, maxDfPermille = 760),

    "q228_events_ts_pushdown" ->
      """SELECT event_type, count(*)::BIGINT AS n,
        |  sum(epoch_us(ts) - 1704844800000000)::BIGINT AS sum_off_us,
        |  min(epoch_us(ts))::BIGINT AS min_ts_us,
        |  max(epoch_us(ts))::BIGINT AS max_ts_us,
        |  sum(floor(value * 1e6)::BIGINT)::BIGINT AS sum_v_micro
        |FROM events
        |WHERE epoch_us(ts) >= 1704844800000000
        |  AND epoch_us(ts) < 1705708800000000
        |GROUP BY 1""".stripMargin,

    // q14's cosine fragment on the q189 probe set + the BM25 fragment,
    // fused with q155's integer RRF — all three contracts already pinned
    "q190_hybrid_retrieval" ->
      s"""WITH de AS (
        |  SELECT query_id, cand_id, rank FROM (
        |    ${cosineTopkOracleSql(20, "q.vec_id % 50 = 0")})),
        |lx AS (
        |  SELECT query_id, cand_id, rank FROM (
        |    ${bm25OracleSql(20)})),
        |f AS (
        |  SELECT query_id, cand_id,
        |    de.rank AS rank_dense, lx.rank AS rank_lex,
        |    coalesce(1000000 // (60 + de.rank), 0)
        |      + coalesce(1000000 // (60 + lx.rank), 0) AS rrf_micro
        |  FROM de FULL JOIN lx USING (query_id, cand_id))
        |SELECT query_id, cand_id, rank_dense, rank_lex, rrf_micro,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY rrf_micro DESC, cand_id) AS fused_rank
        |FROM f
        |QUALIFY fused_rank <= 5""".stripMargin,

    "q186_l_diversity" ->
      """WITH qi AS (
        |  SELECT c_nationkey, floor(c_acctbal / 1000.0)::BIGINT AS bal_band,
        |         c_mktsegment
        |  FROM customer),
        |g AS (
        |  SELECT c_nationkey, bal_band, count(*)::BIGINT AS gsz,
        |         count(DISTINCT c_mktsegment)::BIGINT AS l
        |  FROM qi GROUP BY 1, 2),
        |h AS (SELECT l, count(*)::BIGINT AS n_groups,
        |        sum(gsz)::BIGINT AS n_rows_l FROM g GROUP BY 1),
        |t AS (SELECT sum(n_rows_l)::BIGINT AS n_rows,
        |        sum(n_groups)::BIGINT AS n_groups_tot FROM h),
        |ls AS (SELECT unnest([2, 3, 5])::BIGINT AS l_req)
        |SELECT l_req, n_groups_tot, n_rows,
        |  coalesce(sum(CASE WHEN l < l_req THEN n_groups END), 0)::BIGINT
        |    AS weak_groups,
        |  coalesce(sum(CASE WHEN l < l_req THEN n_rows_l END), 0)::BIGINT
        |    AS weak_rows,
        |  ((coalesce(sum(CASE WHEN l < l_req THEN n_rows_l END), 0)
        |    * 1000000) // n_rows)::BIGINT AS risk_ppm
        |FROM ls CROSS JOIN h CROSS JOIN t
        |GROUP BY 1, 2, 3""".stripMargin,

    "q187_hll_rollup" -> {
      import graft.ops.Sketch.{HllM, HllP, HllMaxRho}
      s"""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |h AS (SELECT source, ${fingerprintSql("tok")} AS h FROM tok),
        |r AS (SELECT source, h & ${HllM - 1} AS bucket, h >> $HllP AS w FROM h),
        |reg AS (SELECT source, bucket,
        |          max(CASE WHEN w = 0 THEN $HllMaxRho
        |                   ELSE bit_count((w & (-w)) - 1) + 1 END) AS max_rho
        |        FROM r GROUP BY source, bucket),
        |m AS (SELECT bucket, max(max_rho) AS max_rho FROM reg GROUP BY bucket),
        |e AS (SELECT count(*) AS n_buckets_hit,
        |        (sum(CAST(1 AS BIGINT) << (30 - max_rho)) +
        |         ($HllM - count(*)) * ${1L << 30})::BIGINT AS z_scaled
        |      FROM m),
        |gx AS (SELECT count(DISTINCT h)::BIGINT AS n_exact_global,
        |         count(DISTINCT source)::BIGINT AS n_sources FROM h),
        |sx AS (SELECT sum(ne)::BIGINT AS sum_source_exact FROM (
        |         SELECT source, count(DISTINCT h) AS ne FROM h GROUP BY 1))
        |SELECT n_sources, n_buckets_hit, z_scaled,
        |  (${709L * HllM * HllM} * CAST(${1L << 30} AS BIGINT)) // z_scaled
        |    AS est_milli,
        |  n_exact_global, sum_source_exact
        |FROM e CROSS JOIN gx CROSS JOIN sx""".stripMargin
    },

    "q188_token_surprisal" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |c AS (SELECT tok, count(*)::BIGINT AS cnt FROM tok GROUP BY 1),
        |t AS (SELECT sum(cnt)::BIGINT AS n_total FROM c),
        |sc AS (
        |  SELECT doc_id,
        |    (length(bin(n_total)) - length(bin(cnt)))::BIGINT AS sbits
        |  FROM tok JOIN c USING (tok) CROSS JOIN t)
        |SELECT doc_id, count(*)::BIGINT AS n_tokens,
        |  sum(sbits)::BIGINT AS surprisal_bits,
        |  ((sum(sbits) * 1000) // count(*))::BIGINT AS mean_surprisal_milli
        |FROM sc GROUP BY doc_id""".stripMargin,

    // utf8proc vs java.text.Normalizer, byte-identical or hash-fail: same
    // decorated forms (chr(233) / 'e'||chr(769)), DuckDB's nfc_normalize
    // and strip_accents against Spark's NFC / NFD+mark-strip
    "q185_unicode_dedup_keys" ->
      s"""WITH b AS (SELECT doc_id, substr(text, 1, 120) AS b FROM documents),
        |dec AS (
        |  SELECT doc_id, CASE WHEN doc_id % 2 = 0
        |    THEN replace(b, 'e', chr(233))
        |    ELSE replace(b, 'e', 'e' || chr(769)) END AS decorated
        |  FROM b),
        |n AS (
        |  SELECT doc_id, length(decorated)::BIGINT AS n_cp_raw,
        |    length(nfc_normalize(decorated))::BIGINT AS n_cp_nfc,
        |    strip_accents(decorated) AS stripped
        |  FROM dec)
        |SELECT doc_id, n_cp_raw, n_cp_nfc,
        |  length(stripped)::BIGINT AS n_cp_stripped,
        |  ${fingerprintSql("stripped")} AS key_fp,
        |  count(*) OVER (PARTITION BY stripped)::BIGINT AS n_sharing_key
        |FROM n""".stripMargin,

    // mirror: same id<8 centroids, same argmax assignment (q65's rounded-
    // cosine + cid tie-break), same priority rule, pairs only within cluster
    "q184_semdedup" ->
      """WITH c AS (
        |  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        |  FROM embeddings WHERE vec_id < 8),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        |  SELECT e.vec_id, c.cid, e.v,
        |    round(list_dot_product(e.v, c.cv) /
        |      (sqrt(list_dot_product(e.v, e.v)) *
        |       sqrt(list_dot_product(c.cv, c.cv))), 6) AS cos_r
        |  FROM e, c),
        |assigned AS (
        |  SELECT vec_id, cid AS cluster, cos_r AS ccos, v FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos_r DESC, cid) AS rk FROM scored)
        |  WHERE rk = 1),
        |dropped AS (
        |  SELECT DISTINCT b.cluster, b.vec_id FROM assigned a
        |  JOIN assigned b ON a.cluster = b.cluster
        |   AND (a.ccos < b.ccos OR (a.ccos = b.ccos AND a.vec_id < b.vec_id))
        |  WHERE round(list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) *
        |       sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35),
        |dstats AS (
        |  SELECT cluster, count(*)::BIGINT AS n_dropped,
        |    sum(vec_id)::BIGINT AS dropped_id_sum
        |  FROM dropped GROUP BY 1)
        |SELECT t.cluster, count(*)::BIGINT AS n_docs,
        |  coalesce(max(d.n_dropped), 0)::BIGINT AS n_dropped,
        |  (count(*) - coalesce(max(d.n_dropped), 0))::BIGINT AS n_kept,
        |  coalesce(max(d.dropped_id_sum), 0)::BIGINT AS dropped_id_sum
        |FROM assigned t LEFT JOIN dstats d ON t.cluster = d.cluster
        |GROUP BY t.cluster""".stripMargin,

    // q229: the q184 contract with derived k, one Lloyd mean update
    // (exact integer sums → sum::DOUBLE / n / 1e6, the identical float
    // path both engines take), re-assignment, and the 8-per-cluster
    // dropper cap
    "q229_semdedup_auto" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |k AS (SELECT ((count(*) + 31) // 32)::BIGINT AS k FROM e),
        |seed AS (SELECT vec_id AS cid, v AS cv FROM e
        |         WHERE vec_id < (SELECT k FROM k)),
        |s0 AS (
        |  SELECT e.vec_id, e.v, s.cid,
        |    round(list_dot_product(e.v, s.cv) /
        |      (sqrt(list_dot_product(e.v, e.v)) *
        |       sqrt(list_dot_product(s.cv, s.cv))), 6) AS cos_r
        |  FROM e, seed s),
        |a0 AS (
        |  SELECT vec_id, v, cid AS cluster FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos_r DESC, cid) AS rk FROM s0)
        |  WHERE rk = 1),
        |ux AS (
        |  SELECT cluster, unnest(list_transform(v, (x, i) ->
        |    struct_pack(i := i, fx := floor(x * 1e6)::BIGINT))) AS u
        |  FROM a0),
        |upd AS (
        |  SELECT cluster, (u.i - 1)::BIGINT AS dim,
        |    sum(u.fx)::DOUBLE / count(*) / 1e6 AS cvd
        |  FROM ux GROUP BY 1, 2),
        |cents AS (
        |  SELECT cluster AS cid, list(cvd ORDER BY dim) AS cv
        |  FROM upd GROUP BY 1),
        |s1 AS (
        |  SELECT e.vec_id, e.v, c.cid,
        |    round(list_dot_product(e.v, c.cv) /
        |      (sqrt(list_dot_product(e.v, e.v)) *
        |       sqrt(list_dot_product(c.cv, c.cv))), 6) AS cos_r
        |  FROM e, cents c),
        |asg AS (
        |  SELECT vec_id, v, cid AS cluster, cos_r AS ccos FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos_r DESC, cid) AS rk FROM s1)
        |  WHERE rk = 1),
        |ex AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT vec_id, cluster, row_number() OVER (PARTITION BY cluster
        |      ORDER BY ccos ASC, vec_id ASC) AS rk FROM asg)
        |  WHERE rk <= 8),
        |dropped AS (
        |  SELECT DISTINCT b.cluster, b.vec_id
        |  FROM asg a
        |  JOIN ex x ON a.vec_id = x.vec_id AND a.cluster = x.cluster
        |  JOIN asg b ON a.cluster = b.cluster
        |   AND (a.ccos < b.ccos OR (a.ccos = b.ccos AND a.vec_id < b.vec_id))
        |  WHERE round(list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) *
        |       sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35),
        |dstats AS (
        |  SELECT cluster, count(*)::BIGINT AS n_dropped,
        |    sum(vec_id)::BIGINT AS dropped_id_sum
        |  FROM dropped GROUP BY 1)
        |SELECT t.cluster, count(*)::BIGINT AS n_docs,
        |  coalesce(max(d.n_dropped), 0)::BIGINT AS n_dropped,
        |  (count(*) - coalesce(max(d.n_dropped), 0))::BIGINT AS n_kept,
        |  coalesce(max(d.dropped_id_sum), 0)::BIGINT AS dropped_id_sum
        |FROM asg t LEFT JOIN dstats d ON t.cluster = d.cluster
        |GROUP BY t.cluster""".stripMargin,

    // q230: placement replayed relationally — fp % 8 bucketing, (fp,
    // doc_id) intra-shard order via row_number, HUGEINT order-checksum
    "q230_shard_shuffle" ->
      s"""WITH fp AS (
        |  SELECT doc_id, ${fingerprintSql("text")} AS fp FROM documents),
        |pl AS (
        |  SELECT doc_id, fp, fp % 8 AS shard,
        |    row_number() OVER (PARTITION BY fp % 8 ORDER BY fp, doc_id)
        |      ::BIGINT AS pos
        |  FROM fp)
        |SELECT shard::BIGINT AS shard, count(*)::BIGINT AS n_docs,
        |  min(fp)::BIGINT AS min_fp, max(fp)::BIGINT AS max_fp,
        |  sum((pos * (fp % 1000))::HUGEINT)::BIGINT AS ord_check
        |FROM pl GROUP BY 1""".stripMargin,

    // q231: the fixed linear model replayed feature by feature — identical
    // integer floor divisions, identical stopword list, identical regex
    "q231_quality_classifier" ->
      s"""WITH $QualityMarginCtes
        |SELECT lang, (margin > 0)::BIGINT AS keep,
        |  count(*)::BIGINT AS n_docs,
        |  sum(margin::HUGEINT)::BIGINT AS sum_margin,
        |  min(margin)::BIGINT AS min_margin,
        |  max(margin)::BIGINT AS max_margin
        |FROM qmargin GROUP BY 1, 2""".stripMargin,

    // q232: the KMV algebra replayed relationally — per-source bottom-128
    // distinct shingle hashes, pairwise union re-truncation, shared-below-
    // kth intersection counting, identical floor-division estimators
    "q232_kmv_overlap" ->
      s"""WITH sh0 AS (
        |  SELECT source, unnest(list_distinct(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 2, 0)),
        |    i -> array_to_string(
        |      list_slice(string_split(text, ' '), i + 1, i + 3), ' '))))
        |    AS g
        |  FROM documents
        |  WHERE source IN ('src0', 'src1', 'src10', 'src11')),
        |hs AS (SELECT DISTINCT source, ${fingerprintSql("g")} AS h
        |       FROM sh0),
        |sk AS (SELECT source, h FROM (
        |    SELECT source, h,
        |      row_number() OVER (PARTITION BY source ORDER BY h) AS r
        |    FROM hs) WHERE r <= 128),
        |est AS (
        |  SELECT source, count(*)::BIGINT AS n_kept,
        |    CASE WHEN count(*) < 128 THEN count(*)::BIGINT
        |         ELSE (127::BIGINT * 2147483647) // (max(h) + 1) END
        |      AS kmv_est
        |  FROM sk GROUP BY 1),
        |pairs AS (
        |  SELECT a.source AS sa, b.source AS sb,
        |    a.kmv_est AS est_a, b.kmv_est AS est_b
        |  FROM est a, est b WHERE a.source < b.source),
        |uni0 AS (
        |  SELECT DISTINCT p.sa, p.sb, s.h
        |  FROM pairs p JOIN sk s ON s.source = p.sa OR s.source = p.sb),
        |uni AS (SELECT sa, sb, h FROM (
        |    SELECT sa, sb, h,
        |      row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS r
        |    FROM uni0) WHERE r <= 128),
        |us AS (
        |  SELECT sa, sb, count(*)::BIGINT AS n_u, max(h)::BIGINT AS kth_u
        |  FROM uni GROUP BY 1, 2),
        |shared AS (
        |  SELECT u.sa, u.sb, count(*)::BIGINT AS n_shared
        |  FROM uni u
        |  JOIN sk x ON x.source = u.sa AND x.h = u.h
        |  JOIN sk y ON y.source = u.sb AND y.h = u.h
        |  GROUP BY 1, 2)
        |SELECT sa, sb, est_a, est_b, est_union, n_shared,
        |  (n_shared * est_union) // least(128, n_u) AS est_inter
        |FROM (
        |  SELECT p.sa, p.sb, p.est_a, p.est_b,
        |    CASE WHEN us.n_u < 128 THEN us.n_u
        |         ELSE (127::BIGINT * 2147483647) // (us.kth_u + 1) END
        |      AS est_union,
        |    coalesce(sh2.n_shared, 0)::BIGINT AS n_shared, us.n_u
        |  FROM pairs p
        |  JOIN us ON us.sa = p.sa AND us.sb = p.sb
        |  LEFT JOIN shared sh2 ON sh2.sa = p.sa AND sh2.sb = p.sb)""".stripMargin,

    "q233_label_propagation" -> lpaOracleSql(3),

    "q234_pq_adc_topk" -> pqAdcOracleSql(5),

    "q235_recursive_cte" ->
      RecursiveReachSql("lineitem", "orders", "supplier", "customer"),

    "q241_kcenter_coreset" -> kCenterOracleSql(8),

    "q250_ivfpq_residual" -> ivfPqOracleSql(5),

    // q242: samples from the variant formula, Walsh-Hadamard signs via
    // bit_count parity, 32-bit pack, XOR/popcount hamming — all replayed
    "q242_audio_fingerprint" ->
      s"""WITH ${audioFpCtes("doc_id < 200")}
        |SELECT bit_count(xor(a.fp, b.fp))::BIGINT AS hamming,
        |  count(*)::BIGINT AS n_pairs,
        |  sum((a.base = b.base)::INT)::BIGINT AS n_within
        |FROM afp a JOIN afp b ON a.id < b.id
        |GROUP BY 1""".stripMargin,

    // q243: the staged layout replayed — token-band stage, fp mod 8
    // shard, (fp, doc_id) in-shard order, HUGEINT order checksum
    "q243_curriculum_order" ->
      s"""WITH st AS (
        |  SELECT doc_id, ${fingerprintSql("text")} AS fp,
        |    least(len(string_split(text, ' ')) // 25, 3)::BIGINT AS stage
        |  FROM documents),
        |pl AS (
        |  SELECT doc_id, fp, stage, fp % 8 AS shard,
        |    row_number() OVER (PARTITION BY stage, fp % 8
        |      ORDER BY fp, doc_id)::BIGINT AS pos
        |  FROM st)
        |SELECT stage, shard::BIGINT AS shard, count(*)::BIGINT AS n_docs,
        |  sum((pos * (fp % 1000))::HUGEINT)::BIGINT AS ord_check
        |FROM pl GROUP BY 1, 2""".stripMargin,

    // q244: floor quotas + largest-remainder top-ups with the same
    // (remainder DESC, lang) ranking
    "q244_quota_apportionment" ->
      """WITH per AS (
        |  SELECT lang, count(*)::BIGINT AS n_docs FROM documents
        |  GROUP BY 1),
        |tot AS (SELECT sum(n_docs)::BIGINT AS n_total FROM per),
        |q AS (
        |  SELECT lang, n_docs,
        |    (100 * n_docs) // n_total AS quota,
        |    (100 * n_docs) % n_total AS rem
        |  FROM per, tot),
        |s AS (SELECT (100 - sum(quota))::BIGINT AS n_extra FROM q),
        |r AS (
        |  SELECT q.*, s.n_extra,
        |    row_number() OVER (ORDER BY rem DESC, lang)::BIGINT AS rk
        |  FROM q, s)
        |SELECT lang, n_docs, quota::BIGINT AS quota,
        |  (rk <= n_extra)::BIGINT AS extra,
        |  (quota + (rk <= n_extra)::INT)::BIGINT AS alloc
        |FROM r""".stripMargin,

    // q247: islands via RUNNING-MAX interval end (heterogeneous gaps make
    // plain lag-based breaks wrong), session bounds = min start / max end
    "q247_dynamic_session_gap" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    CASE WHEN event_type = 'click' THEN 600000000
        |         ELSE 1800000000 END AS gap_us,
        |    floor(value * 1e6)::BIGINT AS vm
        |  FROM events),
        |w AS (
        |  SELECT *, ts_us + gap_us AS iend,
        |    max(ts_us + gap_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_max_end
        |  FROM e),
        |f AS (
        |  SELECT *, CASE WHEN prev_max_end IS NULL
        |                   OR ts_us >= prev_max_end THEN 1 ELSE 0 END
        |              AS brk
        |  FROM w),
        |sids AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f)
        |SELECT user_id, min(ts_us)::BIGINT AS start_us,
        |  max(iend)::BIGINT AS end_us, count(*)::BIGINT AS n_events,
        |  sum(vm)::BIGINT AS sum_value_micro
        |FROM sids GROUP BY user_id, sid""".stripMargin,

    // q249: month-index arithmetic, (rev DESC, clerk) top-5 rank, month+1
    // churn self-join, identical null-handling on entrants
    "q249_trending_topk" ->
      """WITH rev AS (
        |  SELECT (year(o_orderdate) - 1992) * 12
        |      + month(o_orderdate) - 1 AS midx,
        |    p_brand,
        |    sum(floor(l_extendedprice * 100 + 0.5)::BIGINT)::BIGINT
        |      AS rev_cents
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |top AS (
        |  SELECT midx::BIGINT AS midx, p_brand, rev_cents, rk FROM (
        |    SELECT *, row_number() OVER (PARTITION BY midx
        |      ORDER BY rev_cents DESC, p_brand)::BIGINT AS rk
        |    FROM rev) WHERE rk <= 5)
        |SELECT t.midx, count(*)::BIGINT AS n_top,
        |  sum(CASE WHEN p.rk IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_new,
        |  sum(coalesce(abs(t.rk - p.rk), 0))::BIGINT AS sum_abs_delta,
        |  sum(t.rev_cents)::BIGINT AS top_rev_cents
        |FROM top t LEFT JOIN top p
        |  ON p.midx + 1 = t.midx AND p.p_brand = t.p_brand
        |GROUP BY 1""".stripMargin,

    // q251: the same donor splice, canonical form via identical
    // POSIX-safe regex chain, distinct-count census per language
    "q251_canonical_dedup_gain" ->
      """WITH donor AS (
        |  SELECT doc_id + 1 AS doc_id, upper(text) || ' !!!' AS vtext
        |  FROM documents WHERE doc_id % 2 = 0),
        |mixed AS (
        |  SELECT d.doc_id, d.lang,
        |    CASE WHEN d.doc_id < 100 AND dn.vtext IS NOT NULL
        |         THEN dn.vtext ELSE d.text END AS text
        |  FROM documents d LEFT JOIN donor dn ON dn.doc_id = d.doc_id),
        |c AS (
        |  SELECT text,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g')) AS ctext
        |  FROM mixed)
        |SELECT count(*)::BIGINT AS n_docs,
        |  count(DISTINCT text)::BIGINT AS raw_groups,
        |  count(DISTINCT ctext)::BIGINT AS canon_groups,
        |  (count(DISTINCT text) - count(DISTINCT ctext))::BIGINT AS gained
        |FROM c""".stripMargin,

    // q252: df-ranked vocabulary (row_number then LIMIT — same top-4000
    // set and ranks as the engine's limit-then-rank), four conditional
    // sums over one token scan
    "q252_vocab_size_sweep" -> {
      val branches = Seq(500L, 1000L, 2000L, 4000L).map { sz =>
        s"""SELECT ${sz}::BIGINT AS vocab_size, n_occ, o$sz AS n_oov,
           |  (o$sz * 1000000) // n_occ AS oov_ppm FROM a""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH tok AS (
        |  SELECT unnest(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 2, 0)),
        |    i -> array_to_string(
        |      list_slice(string_split(text, ' '), i + 1, i + 3), ' ')))
        |    AS tok
        |  FROM documents),
        |vocab AS (SELECT tok, count(*) AS occ FROM tok GROUP BY 1),
        |ranked AS (
        |  SELECT tok, row_number() OVER (ORDER BY occ DESC, tok)::BIGINT
        |    AS rk
        |  FROM vocab ORDER BY occ DESC, tok LIMIT 4000),
        |sc AS (
        |  SELECT coalesce(r.rk, 9223372036854775807) AS rk
        |  FROM tok t LEFT JOIN ranked r ON r.tok = t.tok),
        |a AS (
        |  SELECT count(*)::BIGINT AS n_occ,
        |    sum((rk > 500)::INT)::BIGINT AS o500,
        |    sum((rk > 1000)::INT)::BIGINT AS o1000,
        |    sum((rk > 2000)::INT)::BIGINT AS o2000,
        |    sum((rk > 4000)::INT)::BIGINT AS o4000
        |  FROM sc)
        |$branches""".stripMargin
    },

    // q248: prefix splice, the SAME winnowing chain as q246, distinct-
    // hash pair join, permille score, planted-vs-discovered census
    "q248_moss_similarity" ->
      s"""WITH b0 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 80),
        |donor AS (
        |  SELECT doc_id + 1 AS doc_id,
        |    array_to_string(list_slice(string_split(text, ' '), 1, 12), ' ')
        |      AS pfx
        |  FROM b0 WHERE doc_id % 2 = 0),
        |sp AS (
        |  SELECT b0.doc_id,
        |    CASE WHEN d.pfx IS NOT NULL THEN d.pfx || ' ' || b0.text
        |         ELSE b0.text END AS text
        |  FROM b0 LEFT JOIN donor d ON d.doc_id = b0.doc_id),
        |${winnowSelCtes("sp")},
        |sd AS (SELECT DISTINCT doc_id, sh FROM sel),
        |cnt AS (SELECT doc_id, count(*)::BIGINT AS n_sel FROM sd
        |        GROUP BY 1),
        |shared AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    count(*)::BIGINT AS n_shared
        |  FROM sd a JOIN sd b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT s2.id_a, s2.id_b, s2.n_shared,
        |    (s2.n_shared * 1000) // least(ca.n_sel, cb.n_sel) AS score_pm,
        |    CASE WHEN s2.id_b - s2.id_a = 1 AND s2.id_a % 2 = 0
        |         THEN 1::BIGINT ELSE 0::BIGINT END AS planted
        |  FROM shared s2
        |  JOIN cnt ca ON ca.doc_id = s2.id_a
        |  JOIN cnt cb ON cb.doc_id = s2.id_b
        |  WHERE s2.n_shared >= 2)
        |SELECT planted, count(*)::BIGINT AS n_pairs,
        |  sum(n_shared)::BIGINT AS sum_shared,
        |  max(score_pm)::BIGINT AS max_score_pm,
        |  min(score_pm)::BIGINT AS min_score_pm
        |FROM scored GROUP BY 1""".stripMargin,

    // q246: positional shingles, the encoded (h, pos-desc) window min
    // over the same 4-row frame, full-window filter, distinct selections
    "q246_winnowing" ->
      s"""WITH ${winnowSelCtes("documents")}
        |SELECT doc_id, n_shingles, count(*)::BIGINT AS n_selected,
        |  sum(((sh * 31 + spos) % 2147483647)::HUGEINT)::BIGINT
        |    AS sel_checksum
        |FROM sel GROUP BY 1, 2""".stripMargin,

    // q245: the SAME q239/q242 fragment chains plus the q12 text hash —
    // min-id survivor per exact fingerprint group, cross-modal cell census
    "q245_crossmodal_dedup" ->
      s"""WITH $ImageAHashCtes,
        |${audioFpCtes("TRUE")},
        |tf AS (SELECT doc_id AS id, ${fingerprintSql("text")} AS tfp
        |       FROM documents),
        |im AS (SELECT id,
        |         (id <> min(id) OVER (PARTITION BY lo, hi))::BIGINT
        |           AS d_img FROM halves),
        |au AS (SELECT id,
        |         (id <> min(id) OVER (PARTITION BY fp))::BIGINT
        |           AS d_aud FROM afp),
        |tx AS (SELECT id,
        |         (id <> min(id) OVER (PARTITION BY tfp))::BIGINT
        |           AS d_txt FROM tf)
        |SELECT d_img, d_aud, d_txt, count(*)::BIGINT AS n_docs
        |FROM im JOIN au USING (id) JOIN tx USING (id)
        |GROUP BY 1, 2, 3""".stripMargin,

    // q240: the q72 register/estimate algebra over the per-type user hash
    // — the streaming run must land on these exact registers
    "q240_stream_hll" -> {
      import graft.ops.Sketch.{HllM, HllP, HllMaxRho}
      s"""WITH u AS (
        |  SELECT event_type, (user_id * 48271) % 2147483647 AS h
        |  FROM events),
        |r AS (SELECT event_type, h & ${HllM - 1} AS bucket, h >> $HllP AS w
        |      FROM u),
        |reg AS (SELECT event_type, bucket,
        |          max(CASE WHEN w = 0 THEN $HllMaxRho
        |                   ELSE bit_count((w & (-w)) - 1) + 1 END) AS max_rho
        |        FROM r GROUP BY 1, 2),
        |e AS (SELECT event_type, count(*)::BIGINT AS n_buckets_hit,
        |        (sum(CAST(1 AS BIGINT) << (30 - max_rho)) +
        |         ($HllM - count(*)) * ${1L << 30})::BIGINT AS z_scaled
        |      FROM reg GROUP BY 1),
        |x AS (SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact
        |      FROM events GROUP BY 1)
        |SELECT e.event_type, n_buckets_hit, z_scaled,
        |  (${709L * HllM * HllM} * CAST(${1L << 30} AS BIGINT)) // z_scaled
        |    AS est_milli,
        |  n_exact
        |FROM e JOIN x ON e.event_type = x.event_type""".stripMargin
    },

    // q239: every thumbnail pixel re-derived codec-free — the variant
    // raster formula (base seed, +7·variant clamp-255), the nearest-
    // neighbor index mapping, the 64·p > Σp bit rule, the 32-bit packing,
    // and XOR/popcount hamming, all replayed relationally
    "q239_image_phash_dedup" ->
      s"""WITH $ImageAHashCtes
        |SELECT (bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)))
        |    ::BIGINT AS hamming,
        |  count(*)::BIGINT AS n_pairs
        |FROM halves a JOIN halves b ON a.base = b.base AND a.id < b.id
        |GROUP BY 1""".stripMargin,

    // q238: the Hilbert recurrence unrolled one CTE per level, Morton via
    // the shared zSql bit contract, identical bucket/bbox census
    "q238_hilbert_layout" -> {
      val zExpr = graft.ops.ZOrder.zSql("gx", "gy", 8)
      s"""WITH $CustomerPointsCte,
        |g AS (SELECT id, (x * 256) // 100000 AS gx,
        |             (y * 256) // 100000 AS gy FROM p),
        |${graft.ops.Hilbert.hilbertCtes("g", 8)},
        |keyed AS (
        |  SELECT f.id, f.gx, f.gy, f.d AS hd, $zExpr AS zd FROM hl8 f),
        |hb AS (
        |  SELECT hd // 100 AS bucket, count(*)::BIGINT AS n,
        |    min(gx) AS x0, max(gx) AS x1, min(gy) AS y0, max(gy) AS y1
        |  FROM keyed GROUP BY 1),
        |zb AS (
        |  SELECT zd // 100 AS bucket, count(*)::BIGINT AS n,
        |    min(gx) AS x0, max(gx) AS x1, min(gy) AS y0, max(gy) AS y1
        |  FROM keyed GROUP BY 1)
        |SELECT 'hilbert' AS layout, count(*)::BIGINT AS n_buckets,
        |  sum(n)::BIGINT AS n_points,
        |  sum((x1 - x0 + 1) * (y1 - y0 + 1))::BIGINT AS sum_bbox_area,
        |  max((x1 - x0 + 1) * (y1 - y0 + 1))::BIGINT AS max_bbox_area
        |FROM hb
        |UNION ALL
        |SELECT 'zorder', count(*)::BIGINT, sum(n)::BIGINT,
        |  sum((x1 - x0 + 1) * (y1 - y0 + 1))::BIGINT,
        |  max((x1 - x0 + 1) * (y1 - y0 + 1))::BIGINT
        |FROM zb""".stripMargin
    },

    // q237: the hash draw replayed — same affine pair hash, same 5%
    // acceptance bound, same (h, cand) ranking, same label exclusion
    "q237_negative_sampling" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, label AS ql FROM embeddings
        |  WHERE vec_id < 10),
        |c AS (SELECT vec_id AS cand_id, label AS cl FROM embeddings),
        |f AS (
        |  SELECT query_id, cand_id,
        |    (query_id * 131071 + cand_id * 48271) % 2147483647 AS h
        |  FROM q, c
        |  WHERE query_id <> cand_id AND ql <> cl
        |    AND (query_id * 131071 + cand_id * 48271) % 2147483647 * 20
        |        < 2147483647)
        |SELECT query_id, cand_id AS neg_id, h, rank FROM (
        |  SELECT query_id, cand_id, h,
        |    row_number() OVER (PARTITION BY query_id ORDER BY h, cand_id)
        |      AS rank
        |  FROM f)
        |WHERE rank <= 4""".stripMargin,

    // q236: the SQL-UDF body inlined — same CASE, same cents arithmetic
    "q236_sql_udf" ->
      """WITH c AS (
        |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT CASE WHEN cents < 5000000 THEN 'low'
        |            WHEN cents < 15000000 THEN 'mid'
        |            WHEN cents < 30000000 THEN 'high' ELSE 'jumbo' END
        |    AS tier,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(cents AS HUGEINT)) AS BIGINT) AS sum_cents
        |FROM c GROUP BY 1""".stripMargin,

    // the q163 emission-model oracle on the type grain: batch i's emission
    // for a touched key is the cumulative (count, sum, max) over batches <= i
    "q183_transform_with_state" ->
      """WITH e AS (
        |  SELECT (CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END) AS bb,
        |    event_type, floor(value * 1e6)::BIGINT AS vm
        |  FROM events),
        |bs AS (SELECT unnest([1, 2]) AS i),
        |em AS (
        |  SELECT i, event_type,
        |    count(*)::BIGINT AS n_events, sum(vm)::BIGINT AS sum_value_micro,
        |    max(vm)::BIGINT AS max_value_micro
        |  FROM bs JOIN e ON e.bb <= bs.i
        |  GROUP BY 1, 2
        |  HAVING max(CASE WHEN e.bb = bs.i THEN 1 ELSE 0 END) = 1)
        |SELECT event_type, n_events, sum_value_micro, max_value_micro
        |FROM em""".stripMargin,

    "q164_bfs_hops" ->
      """WITH RECURSIVE edges AS (
        |  SELECT s_nationkey AS src_key, c_nationkey AS dst_key,
        |    count(*)::BIGINT AS w
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |t2 AS (
        |  SELECT src_key, dst_key FROM (
        |    SELECT src_key, dst_key,
        |      row_number() OVER (PARTITION BY src_key
        |        ORDER BY w DESC, dst_key) AS rn
        |    FROM edges)
        |  WHERE rn <= 2),
        |root AS (
        |  SELECT src_key FROM (
        |    SELECT src_key,
        |      row_number() OVER (ORDER BY sum(w) DESC, src_key) AS rn
        |    FROM edges GROUP BY src_key)
        |  WHERE rn = 1),
        |bfs AS (
        |  SELECT src_key::BIGINT AS node, 0::BIGINT AS hop FROM root
        |  UNION ALL
        |  SELECT t2.dst_key, bfs.hop + 1
        |  FROM bfs JOIN t2 ON t2.src_key = bfs.node
        |  WHERE bfs.hop < 6)
        |SELECT node, n_name, min(hop)::BIGINT AS hop
        |FROM bfs JOIN nation ON n_nationkey = node
        |GROUP BY 1, 2""".stripMargin,

    "q165_stream_outer_join" ->
      """WITH c AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_type = 'purchase'),
        |inner_j AS (
        |  SELECT c.user_id, c.event_id AS click_id,
        |    p.event_id AS purchase_id, c.ts_us AS click_ts_us,
        |    p.ts_us AS purchase_ts_us, p.ts_us - c.ts_us AS delay_us
        |  FROM c JOIN p ON p.user_id = c.user_id
        |    AND p.ts_us >= c.ts_us AND p.ts_us <= c.ts_us + 600000000),
        |wm AS (
        |  SELECT least((SELECT (max(ts_us) // 1000) * 1000 FROM c),
        |               (SELECT (max(ts_us) // 1000) * 1000 FROM p))
        |    - 1800000000 AS wm_us),
        |un AS (
        |  SELECT c.user_id, c.event_id AS click_id,
        |    NULL::BIGINT AS purchase_id, c.ts_us AS click_ts_us,
        |    NULL::BIGINT AS purchase_ts_us, NULL::BIGINT AS delay_us
        |  FROM c, wm
        |  WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
        |      AND p.ts_us >= c.ts_us AND p.ts_us <= c.ts_us + 600000000)
        |    AND c.ts_us + 600000000 < wm.wm_us)
        |SELECT * FROM inner_j UNION ALL SELECT * FROM un""".stripMargin,

    "q166_snapshot_diff" ->
      """WITH o AS (
        |  SELECT o_orderkey, floor(o_totalprice * 100 + 0.5)::BIGINT AS v,
        |    o_orderpriority AS p
        |  FROM orders),
        |ns AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 3 THEN v + 500 ELSE v END AS v, p
        |  FROM o WHERE o_orderkey % 97 != 0
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000000000, v, p FROM o
        |  WHERE o_orderkey % 101 = 5),
        |d AS (
        |  SELECT o.v AS v_old, o.p AS p_old, ns.v AS v_new, ns.p AS p_new
        |  FROM o FULL JOIN ns ON o.o_orderkey = ns.o_orderkey)
        |SELECT CASE WHEN v_old IS NULL THEN 'added'
        |    WHEN v_new IS NULL THEN 'removed'
        |    WHEN v_old <> v_new OR p_old <> p_new THEN 'changed'
        |    ELSE 'same' END AS status,
        |  count(*)::BIGINT AS n_rows,
        |  sum(coalesce(v_old, 0))::BIGINT AS cents_old,
        |  sum(coalesce(v_new, 0))::BIGINT AS cents_new
        |FROM d GROUP BY 1""".stripMargin,

    "q167_blame_supplier" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey,
        |    epoch_us(l_shipdate::TIMESTAMP) // 86400000000 AS ship_d
        |  FROM lineitem),
        |o AS (
        |  SELECT o_orderkey,
        |    epoch_us(o_orderdate::TIMESTAMP) // 86400000000 AS ord_d
        |  FROM orders),
        |l AS (
        |  SELECT l_orderkey, l_suppkey,
        |    CASE WHEN ship_d > ord_d + 90 THEN 1 ELSE 0 END AS late
        |  FROM li JOIN o ON l_orderkey = o_orderkey),
        |po AS (
        |  SELECT l_orderkey, count(DISTINCT l_suppkey) AS nsupp,
        |    count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS nlate
        |  FROM l GROUP BY 1),
        |blame AS (
        |  SELECT DISTINCT l.l_orderkey, l.l_suppkey
        |  FROM l JOIN po ON l.l_orderkey = po.l_orderkey
        |  WHERE l.late = 1 AND po.nsupp > 1 AND po.nlate = 1),
        |w AS (
        |  SELECT l_suppkey, count(*)::BIGINT AS numwait FROM blame
        |  GROUP BY 1),
        |r AS (
        |  SELECT l_suppkey AS s_suppkey, n_name, numwait,
        |    row_number() OVER (ORDER BY numwait DESC, l_suppkey) AS rnk
        |  FROM w JOIN supplier ON l_suppkey = supplier.s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey)
        |SELECT s_suppkey, n_name, numwait, rnk::BIGINT AS rnk
        |FROM r WHERE rnk <= 20""".stripMargin,

    // the oracle side of corpus parity is the shipped tree ITSELF: DuckDB
    // lists /root/reference/Datasets (read-only reference content) and the
    // hash compare pins the engine's grammar to those 4,320 paths
    "q175_corpus_manifest" ->
      """SELECT replace(file, '/root/reference/Datasets/', '') AS rel_path
        |FROM glob('/root/reference/Datasets/**/*.csv')""".stripMargin,

    "q180_txt_manifest" ->
      """SELECT replace(file, '/root/reference/Datasets/', '') AS rel_path
        |FROM glob('/root/reference/Datasets/**/*.txt')""".stripMargin,

    "q174_gini" ->
      s"""WITH $LorenzCurveSqlCtes,
        |tz AS (
        |  SELECT cum_orders_ppm AS x, cum_revenue_ppm AS y,
        |    lag(cum_orders_ppm, 1, 0) OVER (ORDER BY bin) AS px,
        |    lag(cum_revenue_ppm, 1, 0) OVER (ORDER BY bin) AS py
        |  FROM lorenz)
        |SELECT count(*)::BIGINT AS n_bins,
        |  sum((x - px) * (y + py))::BIGINT AS trapezoid_ppm2,
        |  ((1000000000000 - sum((x - px) * (y + py))) // 1000000)::BIGINT
        |    AS gini_ppm
        |FROM tz""".stripMargin,

    "q173_kendall_tau" ->
      """WITH m AS (
        |  SELECT c_nationkey AS nk,
        |    sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS rev,
        |    count(DISTINCT o_custkey)::BIGINT AS nc
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1),
        |p AS (
        |  SELECT a.rev AS r1, a.nc AS c1, b.rev AS r2, b.nc AS c2
        |  FROM m a JOIN m b ON b.nk > a.nk)
        |SELECT count(*)::BIGINT AS n_pairs,
        |  sum(CASE WHEN (r1 > r2 AND c1 > c2) OR (r1 < r2 AND c1 < c2)
        |    THEN 1 ELSE 0 END)::BIGINT AS n_concordant,
        |  sum(CASE WHEN (r1 > r2 AND c1 < c2) OR (r1 < r2 AND c1 > c2)
        |    THEN 1 ELSE 0 END)::BIGINT AS n_discordant,
        |  sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END)::BIGINT AS n_tie_x,
        |  sum(CASE WHEN c1 = c2 THEN 1 ELSE 0 END)::BIGINT AS n_tie_y,
        |  floor((sum(CASE WHEN (r1 > r2 AND c1 > c2) OR
        |      (r1 < r2 AND c1 < c2) THEN 1 ELSE 0 END)
        |    - sum(CASE WHEN (r1 > r2 AND c1 < c2) OR
        |      (r1 < r2 AND c1 > c2) THEN 1 ELSE 0 END))::DOUBLE
        |    / count(*)::DOUBLE * 1000 + 0.5)::BIGINT AS tau_a_milli
        |FROM p""".stripMargin,

    "q172_ses_smoothing" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    greatest(floor(value * 1e6), 0)::BIGINT AS vm
        |  FROM events),
        |r AS (
        |  SELECT user_id, vm,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts_us,
        |      event_id) AS rn
        |  FROM e),
        |n AS (SELECT user_id, count(*)::BIGINT AS n_events FROM e
        |  GROUP BY 1),
        |s AS (
        |  SELECT user_id, rn, vm AS lvl FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.user_id, r.rn, (r.vm + 3 * s.lvl) // 4
        |  FROM s JOIN r ON r.user_id = s.user_id AND r.rn = s.rn + 1)
        |SELECT s.user_id, n.n_events, s.lvl::BIGINT AS level_micro
        |FROM s JOIN n ON s.user_id = n.user_id
        |WHERE s.rn = n.n_events""".stripMargin,

    "q171_forecast_backtest" ->
      """WITH dd0 AS (
        |  SELECT epoch_us(o_orderdate::TIMESTAMP) // 86400000000 AS dd,
        |    count(*)::BIGINT AS cnt
        |  FROM orders GROUP BY 1),
        |b AS (SELECT min(dd) AS d0, max(dd) AS d1 FROM dd0),
        |grid AS (SELECT unnest(generate_series(d0, d1)) AS dd FROM b),
        |dense AS (
        |  SELECT g.dd, coalesce(dd0.cnt, 0)::BIGINT AS cnt
        |  FROM grid g LEFT JOIN dd0 ON dd0.dd = g.dd),
        |sc AS (
        |  SELECT dd, cnt,
        |    lag(cnt, 7) OVER (ORDER BY dd) AS f_seasonal,
        |    lag(cnt, 1) OVER (ORDER BY dd) AS f_last
        |  FROM dense QUALIFY f_seasonal IS NOT NULL),
        |m AS (
        |  SELECT 'seasonal_naive' AS model, abs(cnt - f_seasonal) AS ae,
        |    cnt - f_seasonal AS err FROM sc
        |  UNION ALL
        |  SELECT 'last_value', abs(cnt - f_last), cnt - f_last FROM sc)
        |SELECT model, count(*)::BIGINT AS n_days,
        |  ((sum(ae) * 1000) // count(*))::BIGINT AS mae_milli,
        |  sum(err)::BIGINT AS sum_err
        |FROM m GROUP BY 1""".stripMargin,

    "q170_sequence_hof" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |    floor(value * 1e6)::BIGINT AS vm, event_id
        |  FROM events),
        |o AS (
        |  SELECT user_id, ts_us, event_id, vm,
        |    lag(vm) OVER w AS pvm, lag(ts_us) OVER w AS pts
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us,
        |    event_id)),
        |runs AS (
        |  SELECT user_id, ts_us, vm,
        |    sum(CASE WHEN pvm IS NULL OR vm <= pvm THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |  FROM o),
        |per_run AS (
        |  SELECT user_id, run_id, count(*)::BIGINT AS rl
        |  FROM runs GROUP BY 1, 2),
        |per_user AS (
        |  SELECT u.user_id, u.n_events, r.best, g.gap
        |  FROM (SELECT user_id, count(*)::BIGINT AS n_events FROM e
        |        GROUP BY 1) u
        |  JOIN (SELECT user_id, max(rl)::BIGINT AS best FROM per_run
        |        GROUP BY 1) r USING (user_id)
        |  JOIN (SELECT user_id, coalesce(max(ts_us - pts), 0)::BIGINT
        |          AS gap FROM o GROUP BY 1) g USING (user_id))
        |SELECT best AS run_len, count(*)::BIGINT AS n_users,
        |  sum(n_events)::BIGINT AS sum_events, max(gap)::BIGINT
        |    AS max_gap_us
        |FROM per_user GROUP BY 1""".stripMargin,

    "q169_stream_scd2_enrich" ->
      s"""WITH ${graft.ops.Sessionize.StateBeforeSqlCtes}
        |SELECT user_id, purchase_id, ts_us, state_before
        |FROM before""".stripMargin,

    "q168_unpivot_measures" ->
      """WITH m AS (
        |  SELECT l_returnflag, 'quantity' AS measure,
        |    floor(l_quantity * 1e6)::BIGINT AS vm FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'extendedprice',
        |    floor(l_extendedprice * 1e6)::BIGINT FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'discount',
        |    floor(l_discount * 1e6)::BIGINT FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'tax',
        |    floor(l_tax * 1e6)::BIGINT FROM lineitem)
        |SELECT l_returnflag, measure, count(*)::BIGINT AS n,
        |  sum(vm::HUGEINT)::BIGINT AS sum_micro
        |FROM m GROUP BY 1, 2""".stripMargin,

    "q191_markov_transitions" ->
      """WITH p AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, count(*)::BIGINT AS n
        |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  (sum(n) OVER (PARTITION BY from_type))::BIGINT AS n_from,
        |  ((n * 1000000) // (sum(n) OVER (PARTITION BY from_type)))::BIGINT
        |    AS p_ppm
        |FROM c""".stripMargin,

    "q192_spatial_grid_join" ->
      s"""WITH $GridNeighborPairsSqlCtes,
        |layout AS (
        |  SELECT count(*)::BIGINT AS n_points,
        |    count(DISTINCT cx * 200 + cy)::BIGINT AS n_cells FROM c),
        |agg AS (
        |  SELECT count(*)::BIGINT AS n_pairs,
        |    sum(d2::HUGEINT)::BIGINT AS sum_d2,
        |    min(d2)::BIGINT AS min_d2, max(d2)::BIGINT AS max_d2,
        |    sum(((a_id * 131071 + b_id) % 2147483647)::HUGEINT)::BIGINT
        |      AS pair_checksum
        |  FROM nn)
        |SELECT n_points, n_cells, n_pairs, sum_d2, min_d2, max_d2,
        |  pair_checksum
        |FROM layout, agg""".stripMargin,

    "q193_max_concurrency" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |    (o_orderdate::DATE - DATE '1970-01-01')::BIGINT AS d0,
        |    (o_orderdate::DATE - DATE '1970-01-01')::BIGINT
        |      + 1 + o_orderkey % 30 AS d1
        |  FROM orders),
        |ev AS (
        |  SELECT c_nationkey, d0 AS day, 1::BIGINT AS delta
        |  FROM o JOIN customer ON o_custkey = c_custkey
        |  UNION ALL
        |  SELECT c_nationkey, d1, -1::BIGINT
        |  FROM o JOIN customer ON o_custkey = c_custkey),
        |net AS (
        |  SELECT c_nationkey, day, sum(delta)::BIGINT AS net
        |  FROM ev GROUP BY 1, 2),
        |cum AS (
        |  SELECT c_nationkey, day,
        |    (sum(net) OVER (PARTITION BY c_nationkey ORDER BY day))::BIGINT
        |      AS conc
        |  FROM net),
        |mx AS (
        |  SELECT c_nationkey, max(conc)::BIGINT AS max_conc,
        |    count(*)::BIGINT AS n_days
        |  FROM cum GROUP BY 1)
        |SELECT cum.c_nationkey, max_conc, n_days,
        |  min(day)::BIGINT AS peak_day
        |FROM cum JOIN mx ON cum.c_nationkey = mx.c_nationkey
        |  AND cum.conc = mx.max_conc
        |GROUP BY 1, 2, 3""".stripMargin,

    "q194_bloom_semijoin" -> {
      val hashes = graft.ops.Bloom.Hashes
        .map { case (a, b) => s"(${a}::BIGINT, ${b}::BIGINT)" }.mkString(", ")
      val m = graft.ops.Bloom.BloomBits
      s"""WITH h AS (SELECT * FROM (VALUES $hashes) h(a, b)),
        |bu AS (SELECT DISTINCT c_custkey FROM customer
        |       WHERE c_mktsegment = 'BUILDING'),
        |bits AS (
        |  SELECT DISTINCT ((c_custkey * a + b) % 2147483647) % $m AS bit
        |  FROM bu CROSS JOIN h),
        |pass AS (
        |  SELECT o.o_custkey, o.o_orderpriority, o.o_totalprice
        |  FROM orders o
        |  JOIN bits b1 ON ((o.o_custkey * ${graft.ops.Bloom.Hashes(0)._1}
        |      + ${graft.ops.Bloom.Hashes(0)._2}) % 2147483647) % $m = b1.bit
        |  JOIN bits b2 ON ((o.o_custkey * ${graft.ops.Bloom.Hashes(1)._1}
        |      + ${graft.ops.Bloom.Hashes(1)._2}) % 2147483647) % $m = b2.bit)
        |SELECT o_orderpriority, count(*)::BIGINT AS n_bloom_pass,
        |  sum(CASE WHEN bu.c_custkey IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_member,
        |  sum(CASE WHEN bu.c_custkey IS NOT NULL
        |      THEN floor(o_totalprice * 1e6)::BIGINT ELSE 0 END
        |    ::HUGEINT)::BIGINT AS member_rev_micro
        |FROM pass LEFT JOIN bu ON pass.o_custkey = bu.c_custkey
        |GROUP BY 1""".stripMargin
    },

    "q195_entity_resolution" ->
      s"""WITH RECURSIVE $ErCandCtes,
        |matches AS (SELECT id_a, id_b FROM cand WHERE lev <= 2),
        |${graft.ops.ConnectedComponents.componentsSqlCtes("matches", "regb")},
        |sizes AS (SELECT component, count(*)::BIGINT AS csize
        |          FROM comp GROUP BY component),
        |hist AS (SELECT csize, count(*)::BIGINT AS n_clusters,
        |    sum(component::HUGEINT)::BIGINT AS comp_checksum
        |  FROM sizes GROUP BY csize),
        |funnel AS (SELECT count(*)::BIGINT AS n_candidates,
        |    sum(CASE WHEN lev <= 2 THEN 1 ELSE 0 END)::BIGINT AS n_matches
        |  FROM cand)
        |SELECT csize, n_clusters, comp_checksum, n_candidates, n_matches
        |FROM hist, funnel""".stripMargin,

    "q196_weighted_sssp" -> {
      // MATERIALIZED: each d_i is referenced twice by round i+1 and DuckDB
      // re-inlines plain CTEs (2^8 re-evaluations of the fact join without it)
      val rounds = (1 to 8).map { i =>
        s"""d$i AS MATERIALIZED (
           |  SELECT d.node,
           |    CASE WHEN d.dist IS NULL THEN r.cand
           |         WHEN r.cand IS NULL THEN d.dist
           |         ELSE least(d.dist, r.cand) END AS dist
           |  FROM d${i - 1} d LEFT JOIN (
           |    SELECT e.v AS node, min(d.dist + e.w) AS cand
           |    FROM d${i - 1} d JOIN edges e ON e.u = d.node
           |    WHERE d.dist IS NOT NULL GROUP BY e.v) r USING (node))"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH fact AS (
        |  SELECT s_nationkey::BIGINT AS u, c_nationkey::BIGINT AS v,
        |    greatest(l_shipdate::DATE - o_orderdate::DATE, 0)::BIGINT AS wd
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey),
        |edges AS MATERIALIZED (
        |  SELECT u, v, min(wd)::BIGINT AS w FROM fact GROUP BY 1, 2),
        |d0 AS MATERIALIZED (
        |  SELECT n_nationkey::BIGINT AS node,
        |    (CASE WHEN n_nationkey = 0 THEN 0 ELSE NULL END)::BIGINT AS dist
        |  FROM nation),
        |$rounds
        |SELECT node, dist::BIGINT AS dist FROM d8""".stripMargin
    },

    "q197_damerau_vs_lev" ->
      s"""WITH $ErCandCtes
        |SELECT lev, damerau_levenshtein(name_a, name_b)::BIGINT AS dl,
        |  count(*)::BIGINT AS n_pairs
        |FROM cand GROUP BY 1, 2""".stripMargin,

    "q198_woe_binning" ->
      """WITH per AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
        |      AS clicks,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
        |      AS good
        |  FROM events GROUP BY 1),
        |bn AS (
        |  SELECT least(clicks // 4, 5) AS b, count(*)::BIGINT AS n_users,
        |    sum(good)::BIGINT AS n_good, sum(1 - good)::BIGINT AS n_bad
        |  FROM per GROUP BY 1),
        |t AS (
        |  SELECT sum(n_good)::BIGINT AS tot_good,
        |    sum(n_bad)::BIGINT AS tot_bad, count(*)::BIGINT AS n_bins
        |  FROM bn)
        |SELECT b, n_users, n_good, n_bad,
        |  (length(bin((n_good + 1) * (tot_bad + n_bins)))
        |    - length(bin((n_bad + 1) * (tot_good + n_bins))))::BIGINT
        |    AS woe_bits,
        |  (((((n_good + 1) * 1000) // (tot_good + n_bins))
        |      - (((n_bad + 1) * 1000) // (tot_bad + n_bins)))
        |    * (length(bin((n_good + 1) * (tot_bad + n_bins)))
        |      - length(bin((n_bad + 1) * (tot_good + n_bins)))))::BIGINT
        |    AS iv_contrib_milli
        |FROM bn, t""".stripMargin,

    "q199_kcore" -> {
      // MATERIALIZED is load-bearing: each e_i is referenced three times
      // by round i+1, and DuckDB re-inlines plain CTEs, which makes the
      // 5-round unroll ~3^5 re-evaluations of the whole chain
      val rounds = (1 to 5).map { i =>
        s"""k$i AS MATERIALIZED (
           |  SELECT n FROM (
           |    SELECT n, count(*) AS deg FROM (
           |      SELECT u AS n FROM e${i - 1}
           |      UNION ALL SELECT v FROM e${i - 1}) dn
           |    GROUP BY n) dd
           |  WHERE deg >= 3),
           |e$i AS MATERIALIZED (
           |  SELECT e.u, e.v FROM e${i - 1} e
           |  JOIN k$i a ON e.u = a.n JOIN k$i b ON e.v = b.n)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT l_suppkey::BIGINT AS u,
        |    (1000000 + l_partkey % 500)::BIGINT AS v
        |  FROM lineitem),
        |$rounds,
        |nodes AS (SELECT DISTINCT n FROM (
        |  SELECT u AS n FROM e5 UNION ALL SELECT v FROM e5) nn),
        |ea AS (SELECT count(*)::BIGINT AS n_edges,
        |  coalesce(sum((u + v)::HUGEINT), 0)::BIGINT AS edge_checksum
        |  FROM e5),
        |na AS (SELECT count(*)::BIGINT AS n_nodes,
        |  coalesce(sum(n::HUGEINT), 0)::BIGINT AS node_checksum FROM nodes)
        |SELECT n_nodes, n_edges, node_checksum, edge_checksum
        |FROM na, ea""".stripMargin
    },

    "q200_feature_hashing" ->
      s"""WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT tok, (${fingerprintSql("tok")}) % 64 AS bucket
        |      FROM tok)
        |SELECT bucket, count(*)::BIGINT AS n_occurrences,
        |  count(DISTINCT tok)::BIGINT AS n_distinct_tokens
        |FROM h GROUP BY 1""".stripMargin,

    // the oracle recomputes the shredded census relationally — first_q is
    // the q of the lexicographically-first (ln, q) pair, exactly the
    // sort_array(...)[0] the Spark side reads back through VARIANT
    "q201_variant_shred" ->
      """WITH l AS (
        |  SELECT l_orderkey, l_linenumber::BIGINT AS ln,
        |    floor(l_quantity * 1e6)::BIGINT AS q
        |  FROM lineitem),
        |f AS (
        |  SELECT l_orderkey,
        |    first_value(q) OVER (PARTITION BY l_orderkey
        |      ORDER BY ln, q) AS first_q
        |  FROM l),
        |per AS (
        |  SELECT l_orderkey, count(*)::BIGINT AS n_lines,
        |    min(first_q)::BIGINT AS first_q
        |  FROM f GROUP BY 1)
        |SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
        |  sum(per.first_q::HUGEINT)::BIGINT AS sum_first_q,
        |  sum(per.n_lines::HUGEINT)::BIGINT AS sum_n_lines,
        |  sum(o_custkey::HUGEINT)::BIGINT AS cust_checksum
        |FROM orders JOIN per ON o_orderkey = per.l_orderkey
        |GROUP BY 1""".stripMargin,

    "q202_t_closeness" ->
      """WITH b AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    floor(c_acctbal / 2000.0)::BIGINT AS band
        |  FROM customer),
        |gl AS (SELECT band, count(*)::BIGINT AS gcnt FROM b GROUP BY 1),
        |gtot AS (SELECT sum(gcnt)::BIGINT AS n_total,
        |    count(*)::BIGINT AS n_bands FROM gl),
        |gcum AS (
        |  SELECT band,
        |    ((sum(gcnt) OVER (ORDER BY band)) * 1000000 // n_total)::BIGINT
        |      AS gcum_ppm,
        |    n_bands
        |  FROM gl, gtot),
        |groups AS (
        |  SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS n_rows
        |  FROM b GROUP BY 1, 2),
        |cells AS (
        |  SELECT c_nationkey, c_mktsegment, band, count(*)::BIGINT AS cnt
        |  FROM b GROUP BY 1, 2, 3),
        |grid AS (
        |  SELECT g.c_nationkey, g.c_mktsegment, g.n_rows, gb.band,
        |    coalesce(c.cnt, 0) AS cnt
        |  FROM groups g CROSS JOIN (SELECT band FROM gl) gb
        |  LEFT JOIN cells c ON c.c_nationkey = g.c_nationkey
        |    AND c.c_mktsegment = g.c_mktsegment AND c.band = gb.band),
        |cum AS (
        |  SELECT c_nationkey, c_mktsegment, n_rows, band,
        |    ((sum(cnt) OVER (PARTITION BY c_nationkey, c_mktsegment
        |      ORDER BY band)) * 1000000 // n_rows)::BIGINT AS cum_ppm
        |  FROM grid)
        |SELECT cum.c_nationkey, cum.c_mktsegment, cum.n_rows,
        |  (sum(abs(cum_ppm - gcum_ppm)) // (max(gc.n_bands) - 1))::BIGINT
        |    AS t_ppm
        |FROM cum JOIN gcum gc ON cum.band = gc.band
        |GROUP BY 1, 2, 3""".stripMargin,

    "q203_ndcg" ->
      s"""WITH de AS (
        |  SELECT query_id, cand_id, rank FROM (
        |    ${cosineTopkOracleSql(5, "q.vec_id % 50 = 0")})),
        |lbl AS (SELECT vec_id, label FROM embeddings),
        |r AS (
        |  SELECT de.query_id, de.rank,
        |    (CASE WHEN lq.label = lc.label AND de.cand_id <> de.query_id
        |      THEN 1 ELSE 0 END)::BIGINT AS rel
        |  FROM de JOIN lbl lq ON de.query_id = lq.vec_id
        |  JOIN lbl lc ON de.cand_id = lc.vec_id),
        |per AS (
        |  SELECT query_id,
        |    sum(rel * ($NdcgDiscCaseSql))::BIGINT AS dcg,
        |    sum(rel)::BIGINT AS nrel
        |  FROM r GROUP BY 1),
        |scored AS (
        |  SELECT query_id, dcg, nrel,
        |    ((dcg * 1000000) // ($NdcgIdealCaseSql))::BIGINT AS ndcg_ppm
        |  FROM per WHERE nrel > 0)
        |SELECT count(*)::BIGINT AS n_queries,
        |  (sum(ndcg_ppm) // count(*))::BIGINT AS mean_ndcg_ppm,
        |  min(ndcg_ppm)::BIGINT AS min_ndcg_ppm,
        |  sum(CASE WHEN ndcg_ppm = 1000000 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_perfect
        |FROM scored""".stripMargin,

    "q204_lateral_topk" ->
      """SELECT n_nationkey, c_custkey, bal_micro FROM nation,
        |LATERAL (SELECT c_custkey,
        |           floor(c_acctbal * 1e6)::BIGINT AS bal_micro
        |         FROM customer WHERE c_nationkey = n_nationkey
        |         ORDER BY bal_micro DESC, c_custkey LIMIT 2) t""".stripMargin,

    "q205_collation_dedup" ->
      """WITH reg AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, upper(text) FROM documents
        |  WHERE doc_id % 4 = 0)
        |SELECT count(*)::BIGINT AS n_docs,
        |  count(DISTINCT text)::BIGINT AS n_distinct_binary,
        |  count(DISTINCT lower(text))::BIGINT AS n_distinct_ci
        |FROM reg""".stripMargin,

    // the oracle re-reads the hive-partitioned tree Spark wrote, so the
    // directory layout (partition key in the path, not the files) is
    // itself under test
    "q206_partition_pruning" ->
      """SELECT count(*)::BIGINT AS n_orders,
        |  sum(floor(o_totalprice * 1e6)::BIGINT::HUGEINT)::BIGINT
        |    AS rev_micro,
        |  count(DISTINCT o_custkey)::BIGINT AS n_custs
        |FROM read_parquet(
        |  '__GEN_DIR__/q206_orders_by_priority/*/*.parquet',
        |  hive_partitioning = 1)
        |WHERE o_orderpriority = '1-URGENT'""".stripMargin,

    "q207_compaction_plan" ->
      s"""WITH files AS (
        |  SELECT replace(file, '/root/reference/Datasets/', '') AS rel_path
        |  FROM glob('/root/reference/Datasets/**/*.csv')),
        |sized AS (
        |  SELECT rel_path, split_part(rel_path, '/', 1) AS family,
        |    (${fingerprintSql("rel_path")}) % 9000 + 1000 AS bytes
        |  FROM files),
        |packed AS (
        |  SELECT family, bytes,
        |    (sum(bytes) OVER (PARTITION BY family ORDER BY rel_path)
        |      - bytes) // 65536 AS bin
        |  FROM sized),
        |bins AS (
        |  SELECT family, bin, sum(bytes)::BIGINT AS bin_bytes,
        |    count(*)::BIGINT AS nf
        |  FROM packed GROUP BY 1, 2)
        |SELECT family, sum(nf)::BIGINT AS n_files,
        |  sum(bin_bytes)::BIGINT AS total_bytes,
        |  count(*)::BIGINT AS n_bins, max(bin_bytes)::BIGINT AS max_bin_bytes
        |FROM bins GROUP BY 1""".stripMargin,

    "q208_hierarchy_rollup" ->
      """WITH RECURSIVE anc(v, a) AS (
        |  SELECT c_custkey, c_custkey // 10 FROM customer WHERE c_custkey > 0
        |  UNION
        |  SELECT anc.v, anc.a // 10 FROM anc WHERE anc.a > 0),
        |vals AS (
        |  SELECT c_custkey AS v, floor(c_acctbal * 100 + 0.5)::BIGINT AS cts
        |  FROM customer)
        |SELECT a, count(*)::BIGINT AS n_desc,
        |  sum(cts::HUGEINT)::BIGINT AS subtree_cents
        |FROM anc JOIN vals USING (v)
        |WHERE a < 100 GROUP BY 1""".stripMargin,

    "q209_stream_complete_topk" ->
      """SELECT event_type, count(*)::BIGINT AS n_events,
        |  sum(floor(value * 1e6)::BIGINT::HUGEINT)::BIGINT
        |    AS sum_value_micro
        |FROM events GROUP BY 1
        |ORDER BY n_events DESC, event_type LIMIT 3""".stripMargin,

    "q210_equidepth_binning" ->
      """WITH binned AS (
        |  SELECT floor(o_totalprice * 100 + 0.5)::BIGINT AS v,
        |    floor(o_totalprice * 100 + 0.5)::BIGINT // 10000 AS b
        |  FROM orders),
        |hist AS (SELECT b, count(*)::BIGINT AS n FROM binned GROUP BY 1),
        |tot AS (SELECT sum(n)::BIGINT AS nt FROM hist),
        |cum AS (
        |  SELECT b, nt, (sum(n) OVER (ORDER BY b))::BIGINT AS cum
        |  FROM hist, tot),
        |bounds AS (
        |  SELECT
        |    min(CASE WHEN cum >= (1 * nt + 4) // 5 THEN b END) AS b1,
        |    min(CASE WHEN cum >= (2 * nt + 4) // 5 THEN b END) AS b2,
        |    min(CASE WHEN cum >= (3 * nt + 4) // 5 THEN b END) AS b3,
        |    min(CASE WHEN cum >= (4 * nt + 4) // 5 THEN b END) AS b4
        |  FROM cum)
        |SELECT (1 + (b > b1)::INT + (b > b2)::INT + (b > b3)::INT
        |    + (b > b4)::INT)::BIGINT AS bucket,
        |  count(*)::BIGINT AS n_orders, min(b)::BIGINT AS min_bin,
        |  max(b)::BIGINT AS max_bin, sum(v::HUGEINT)::BIGINT AS sum_cents
        |FROM binned, bounds GROUP BY 1""".stripMargin,

    "q211_set_similarity" ->
      """WITH dt AS (
        |  SELECT DISTINCT user_id, event_type, event_id % 2 AS par
        |  FROM events),
        |per AS (
        |  SELECT user_id,
        |    count(DISTINCT CASE WHEN par = 0 THEN event_type END)::BIGINT
        |      AS na,
        |    count(DISTINCT CASE WHEN par = 1 THEN event_type END)::BIGINT
        |      AS nb,
        |    count(DISTINCT event_type)::BIGINT AS nu
        |  FROM dt GROUP BY 1)
        |SELECT na, nb, (na + nb - nu) AS ni, count(*)::BIGINT AS n_users,
        |  (((na + nb - nu) * 1000000) // nu)::BIGINT AS jaccard_ppm
        |FROM per GROUP BY na, nb, nu""".stripMargin,

    "q212_schema_evolution" ->
      """SELECT coalesce(o_orderpriority, '<pre-evolution>') AS priority,
        |  count(*)::BIGINT AS n_orders,
        |  sum(price_micro::HUGEINT)::BIGINT AS rev_micro,
        |  count(DISTINCT o_custkey)::BIGINT AS n_custs
        |FROM read_parquet(
        |  ['__GEN_DIR__/q212_v1/*.parquet', '__GEN_DIR__/q212_v2/*.parquet'],
        |  union_by_name = 1)
        |GROUP BY 1""".stripMargin,

    "q213_path_census" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events),
        |per AS (
        |  SELECT user_id, ts_us // 3600000000 AS sess, count(*) AS n,
        |    string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
        |  FROM ev GROUP BY 1, 2)
        |SELECT path, count(*)::BIGINT AS n_sessions
        |FROM per WHERE n <= 8
        |GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 5""".stripMargin,

    "q214_chi2_independence" ->
      """WITH cells AS (
        |  SELECT c_nationkey AS r, c_mktsegment AS c, count(*)::BIGINT AS o
        |  FROM customer GROUP BY 1, 2),
        |rt AS (SELECT r, sum(o)::BIGINT AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT c, sum(o)::BIGINT AS ct FROM cells GROUP BY 1),
        |t AS (SELECT sum(o)::BIGINT AS n,
        |  count(DISTINCT r)::BIGINT AS nr, count(DISTINCT c)::BIGINT AS nc
        |  FROM cells)
        |SELECT
        |  sum(((o * n - rt.rt * ct.ct)::HUGEINT * (o * n - rt.rt * ct.ct)
        |    * 1000) // (rt.rt * ct.ct * n))::BIGINT AS chi2_milli,
        |  count(*)::BIGINT AS n_cells,
        |  max((nr - 1) * (nc - 1))::BIGINT AS dof,
        |  max(n)::BIGINT AS n_customers
        |FROM cells JOIN rt USING (r) JOIN ct USING (c), t""".stripMargin,

    "q215_time_decay_score" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |    greatest(floor(value * 1e6), 0)::BIGINT AS vm
        |  FROM events),
        |mx AS (SELECT max(ts_us) AS max_us FROM ev),
        |dec AS (
        |  SELECT user_id, vm // (1::BIGINT <<
        |    least((max_us - ts_us) // 604800000000, 20)::INT) AS dec
        |  FROM ev, mx)
        |SELECT user_id, count(*)::BIGINT AS n_events,
        |  sum(dec::HUGEINT)::BIGINT AS decayed_micro
        |FROM dec GROUP BY 1
        |ORDER BY decayed_micro DESC, user_id LIMIT 10""".stripMargin,

    "q216_sequence_pattern" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events),
        |per AS (
        |  SELECT user_id, ts_us // 3600000000 AS sess,
        |    string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
        |  FROM ev GROUP BY 1, 2)
        |SELECT count(*)::BIGINT AS n_sessions,
        |  sum(CASE WHEN contains(path, 'click>purchase') THEN 1 ELSE 0
        |    END)::BIGINT AS n_click_then_purchase,
        |  sum(CASE WHEN instr(path, 'view') > 0
        |      AND instr(path, 'purchase') > instr(path, 'view')
        |    THEN 1 ELSE 0 END)::BIGINT AS n_view_before_purchase,
        |  sum(CASE WHEN contains(path, 'error') THEN 1 ELSE 0 END)::BIGINT
        |    AS n_with_error
        |FROM per""".stripMargin,

    "q217_sorted_neighborhood" ->
      s"""WITH $ErCandCtes,
        |nbr AS (
        |  SELECT id, name,
        |    lead(name, 1) OVER w AS n1, lead(id, 1) OVER w AS i1,
        |    lead(name, 2) OVER w AS n2, lead(id, 2) OVER w AS i2
        |  FROM regb
        |  WINDOW w AS (PARTITION BY right(name, 2)
        |               ORDER BY blk, name, id)),
        |pairs AS (
        |  SELECT DISTINCT least(ia, ib) AS id_lo, greatest(ia, ib) AS id_hi,
        |    levenshtein(na, nb)::BIGINT AS lev
        |  FROM (
        |    SELECT id AS ia, name AS na, i1 AS ib, n1 AS nb FROM nbr
        |    WHERE i1 IS NOT NULL
        |    UNION ALL
        |    SELECT id, name, i2, n2 FROM nbr WHERE i2 IS NOT NULL) u),
        |truth AS (
        |  SELECT id_a AS id_lo, id_b AS id_hi FROM cand WHERE lev <= 2),
        |hits AS (
        |  SELECT count(*)::BIGINT AS n_hits
        |  FROM pairs JOIN truth USING (id_lo, id_hi) WHERE pairs.lev <= 2),
        |agg AS (
        |  SELECT count(*)::BIGINT AS n_pairs_considered,
        |    sum(CASE WHEN lev <= 2 THEN 1 ELSE 0 END)::BIGINT AS n_matches
        |  FROM pairs),
        |tr AS (SELECT count(*)::BIGINT AS n_true_matches FROM truth)
        |SELECT n_pairs_considered, n_matches, n_true_matches, n_hits,
        |  ((n_hits * 1000000) // n_true_matches)::BIGINT AS recall_ppm
        |FROM agg, tr, hits""".stripMargin,

    "q218_bucket_pruning" ->
      """SELECT c_custkey, c_nationkey,
        |  floor(c_acctbal * 100 + 0.5)::BIGINT AS bal_cents
        |FROM customer WHERE c_custkey IN (7, 42, 100)""".stripMargin,

    "q219_query_observability" ->
      """SELECT count(*)::BIGINT AS n_rows,
        |  sum(floor(l_extendedprice * 100 + 0.5)::BIGINT::HUGEINT)::BIGINT
        |    AS sum_price_cents,
        |  sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_null_qty,
        |  max(floor(l_discount * 100 + 0.5))::BIGINT AS max_disc_cents
        |FROM lineitem""".stripMargin,

    "q220_try_cast_audit" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |  UNION ALL SELECT doc_id, n_chars::VARCHAR FROM documents
        |  UNION ALL SELECT doc_id, '-' || doc_id::VARCHAR FROM documents),
        |probed AS (
        |  SELECT try_cast(tok AS BIGINT) AS num,
        |    (CASE WHEN length(tok) = 3 THEN 1 ELSE 0 END) AS div_null
        |  FROM toks)
        |SELECT count(*)::BIGINT AS n_tokens,
        |  sum(CASE WHEN num IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_numeric,
        |  sum(coalesce(num, 0)::HUGEINT)::BIGINT AS sum_numeric,
        |  sum(div_null)::BIGINT AS n_div_null
        |FROM probed""".stripMargin,

    // nearest-neighbor map: resized pixel ip = (y, x) samples source index
    // (y·h div 6)·w + (x·w div 8) of the position-hashed raster — the same
    // floor divisions the Scala kernel runs
    "q221_image_resize" ->
      """WITH dims AS (
        |  SELECT doc_id, (16 + doc_id % 16)::INTEGER AS width,
        |         (12 + doc_id % 8)::INTEGER AS height
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, width, height, unnest(range(48)) AS ip
        |  FROM dims),
        |b AS (
        |  SELECT doc_id, ip,
        |    ((doc_id * 2654435761 + (((ip // 8) * height // 6) * width
        |       + ((ip % 8) * width // 8)) * 40503) % 2147483648) % 256
        |      AS pix
        |  FROM px)
        |SELECT doc_id AS media_id, 8::INTEGER AS width, 6::INTEGER AS height,
        |  count(*)::BIGINT AS n_pixels, sum(pix)::BIGINT AS sum_pix,
        |  sum(ip * pix)::BIGINT AS moment_pix,
        |  ((1000 * sum(pix)) // 48)::BIGINT AS mean_milli
        |FROM b GROUP BY 1""".stripMargin,

    "q222_stream_foreachbatch_upsert" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |    floor(value * 1e6)::BIGINT AS v_micro
        |  FROM events),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, ts_us, event_id, event_type, v_micro
        |FROM r WHERE rn = 1""".stripMargin,

    "q223_map_analytics" ->
      """WITH c AS (
        |  SELECT user_id, event_type, count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |per AS (
        |  SELECT user_id, count(*)::BIGINT AS n_types,
        |    sum(CASE WHEN event_type = 'purchase' THEN n ELSE 0
        |      END)::BIGINT AS n_purchase,
        |    sum(n)::BIGINT AS n_total
        |  FROM c GROUP BY 1)
        |SELECT n_types, count(*)::BIGINT AS n_users,
        |  sum(n_purchase::HUGEINT)::BIGINT AS sum_purchase,
        |  sum(n_total::HUGEINT)::BIGINT AS sum_events
        |FROM per GROUP BY 1""".stripMargin,

    "q224_scalar_subquery" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
        |  sum((SELECT coalesce(floor(max(l_quantity) * 1e6)::BIGINT, 0)
        |       FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
        |    ::HUGEINT)::BIGINT AS sum_max_qty_micro
        |FROM orders o GROUP BY o_orderpriority""".stripMargin,

    "q225_sql_pivot" ->
      """WITH ev AS (
        |  SELECT user_id % 10 AS cohort, event_type,
        |    floor(value * 1e6)::BIGINT AS vm
        |  FROM events)
        |SELECT cohort,
        |  count(CASE WHEN event_type = 'click' THEN 1 END)::BIGINT
        |    AS click_n,
        |  sum(CASE WHEN event_type = 'click' THEN vm END)::BIGINT
        |    AS click_s,
        |  count(CASE WHEN event_type = 'view' THEN 1 END)::BIGINT
        |    AS view_n,
        |  sum(CASE WHEN event_type = 'view' THEN vm END)::BIGINT AS view_s,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END)::BIGINT
        |    AS purchase_n,
        |  sum(CASE WHEN event_type = 'purchase' THEN vm END)::BIGINT
        |    AS purchase_s
        |FROM ev GROUP BY 1""".stripMargin,

    "q226_null_ordering" ->
      """SELECT o_orderstatus,
        |  nullif(o_orderpriority, '1-URGENT') AS prio_nullable,
        |  o_orderkey, rn
        |FROM (
        |  SELECT o_orderstatus, o_orderpriority, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY nullif(o_orderpriority, '1-URGENT') ASC NULLS LAST,
        |        o_orderkey)::BIGINT AS rn
        |  FROM orders) r
        |WHERE rn <= 3""".stripMargin,

    "q253_dpp_partition_join" ->
      """WITH dim(pri, tier) AS (VALUES
        |  ('1-URGENT', 'hot'), ('2-HIGH', 'hot'), ('3-MEDIUM', 'warm'),
        |  ('4-NOT SPECIFIED', 'cold'), ('5-LOW', 'cold'))
        |SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
        |  sum(floor(o_totalprice * 1e6)::BIGINT::HUGEINT)::BIGINT
        |    AS rev_micro,
        |  count(DISTINCT o_custkey)::BIGINT AS n_custs
        |FROM read_parquet(
        |  '__GEN_DIR__/q253_orders_by_priority/*/*.parquet',
        |  hive_partitioning = 1)
        |JOIN dim ON o_orderpriority = pri
        |WHERE tier = 'hot'
        |GROUP BY 1""".stripMargin,

    "q254_nation_hits" -> {
      // two half-steps per iteration, each max-normalized back to micro
      // units — every CTE is pure integer (HUGEINT sums, // floor-div),
      // mirroring ops/Hits.scala bit-for-bit
      val iters = (1 to 3).map { i =>
        s"""ar$i AS (SELECT e.dst, sum(h.hub_micro::HUGEINT * e.w) AS raw
           |  FROM raw e JOIN hb${i - 1} h ON h.node = e.src GROUP BY 1),
           |am$i AS (SELECT greatest(max(raw), 1) AS mx FROM ar$i),
           |au$i AS (SELECT n.node,
           |    coalesce(((r.raw * 1000000) // m.mx)::BIGINT, 0) AS auth_micro
           |  FROM nodes n LEFT JOIN ar$i r ON r.dst = n.node CROSS JOIN am$i m),
           |hr$i AS (SELECT e.src, sum(a.auth_micro::HUGEINT * e.w) AS raw
           |  FROM raw e JOIN au$i a ON a.node = e.dst GROUP BY 1),
           |hm$i AS (SELECT greatest(max(raw), 1) AS mx FROM hr$i),
           |hb$i AS (SELECT n.node,
           |    coalesce(((r.raw * 1000000) // m.mx)::BIGINT, 0) AS hub_micro
           |  FROM nodes n LEFT JOIN hr$i r ON r.src = n.node CROSS JOIN hm$i m)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $NationTradeEdgesCte,
        |nodes AS (SELECT src AS node FROM raw UNION SELECT dst FROM raw),
        |hb0 AS (SELECT node, 1000000::BIGINT AS hub_micro FROM nodes),
        |$iters
        |SELECT a.node AS nation, a.auth_micro, h.hub_micro
        |FROM au3 a JOIN hb3 h ON a.node = h.node""".stripMargin
    },

    "q255_boilerplate_strip" ->
      s"""WITH mixed AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN '$BoilerTemplate ' || text
        |         WHEN doc_id % 29 = 0 THEN '$BoilerRareTemplate ' || text
        |         ELSE text END AS text
        |  FROM documents),
        |tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM mixed),
        |sh AS (SELECT doc_id, list_transform(
        |    range(0, greatest(len(tk) - 4, 0)),
        |    i -> array_to_string(list_slice(tk, i + 1, i + 5), ' ')) AS g
        |  FROM tk),
        |pg AS MATERIALIZED (SELECT doc_id, unnest(range(0, len(g))) AS pos,
        |    unnest(g) AS gram FROM sh),
        |nd AS (SELECT count(*) AS n_docs FROM mixed),
        |boiler AS (
        |  SELECT gram FROM (
        |    SELECT gram, count(DISTINCT doc_id) AS gdf FROM pg GROUP BY 1), nd
        |  WHERE gdf * 1000 >= n_docs * 100),
        |cov AS (SELECT DISTINCT p.doc_id, p.pos + u.o AS tokpos
        |  FROM pg p JOIN boiler b USING (gram), unnest(range(0, 5)) AS u(o)),
        |covcnt AS (SELECT doc_id, count(*)::BIGINT AS n_covered
        |  FROM cov GROUP BY 1)
        |SELECT t.doc_id, len(t.tk)::BIGINT AS n_tokens,
        |  coalesce(c.n_covered, 0)::BIGINT AS n_covered,
        |  (len(t.tk) - coalesce(c.n_covered, 0))::BIGINT AS n_retained
        |FROM tk t LEFT JOIN covcnt c USING (doc_id)""".stripMargin,

    "q256_bpe_train" -> bpeOracleSql(6),

    // the weighting identity: corpus-side occurrence counting ≡ vocab-side
    // cnt-weighted counting over the dumped final segmentation
    "q257_bpe_encode" ->
      """SELECT sym, sum(cnt)::BIGINT AS n_occ,
        |  count(DISTINCT w)::BIGINT AS n_words
        |FROM read_parquet('__GEN_DIR__/q257_bpe/final/*.parquet')
        |GROUP BY sym""".stripMargin,

    "q258_closeness_centrality" -> {
      val iters = (1 to 8).map { i =>
        s"""d$i AS MATERIALIZED (
           |  SELECT src, node, min(dist) AS dist FROM (
           |    SELECT src, node, dist FROM d${i - 1}
           |    UNION ALL
           |    SELECT p.src, e.v AS node, p.dist + 1 AS dist
           |    FROM d${i - 1} p JOIN top3 e ON e.u = p.node)
           |  GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH $NationTradeEdgesCte,
        |top3 AS MATERIALIZED (
        |  SELECT src AS u, dst AS v FROM (
        |    SELECT src, dst,
        |      row_number() OVER (PARTITION BY src
        |        ORDER BY w DESC, dst) AS rk
        |    FROM raw) WHERE rk <= 3),
        |d0 AS (SELECT n_name AS src, n_name AS node, 0::BIGINT AS dist
        |       FROM nation),
        |$iters
        |SELECT src AS nation, count(*)::BIGINT AS n_reached,
        |  sum(dist)::BIGINT AS sum_dist,
        |  CASE WHEN sum(dist) > 0
        |    THEN ((count(*) - 1) * 1000000) // sum(dist)
        |    ELSE 0 END::BIGINT AS closeness_micro
        |FROM d8 GROUP BY 1""".stripMargin
    },

    "q259_cuped_ab_adjust" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS tu, event_type,
        |    floor(value * 1e6)::BIGINT AS vm
        |  FROM events),
        |piv AS (SELECT min(tu) AS mn, max(tu) AS mx FROM ev),
        |per AS MATERIALIZED (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase' AND tu * 2 < mn + mx
        |        THEN vm ELSE 0 END)::BIGINT AS x,
        |    sum(CASE WHEN event_type = 'purchase' AND tu * 2 >= mn + mx
        |        THEN vm ELSE 0 END)::BIGINT AS y
        |  FROM ev, piv GROUP BY 1),
        |st AS (
        |  SELECT count(*)::HUGEINT AS n, sum(x)::HUGEINT AS sx,
        |    sum(y)::HUGEINT AS sy, sum(x::HUGEINT * x) AS sxx,
        |    sum(x::HUGEINT * y) AS sxy
        |  FROM per),
        |th AS (
        |  SELECT CASE WHEN n * sxx - sx * sx = 0 THEN 0
        |    ELSE ((n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx)
        |    END::BIGINT AS theta_micro,
        |    (sx // n)::BIGINT AS xbar_micro
        |  FROM st),
        |adj AS (
        |  SELECT p.user_id, p.y,
        |    p.y - (t.theta_micro::HUGEINT * (p.x - t.xbar_micro)) // 1000000
        |      AS adj,
        |    t.theta_micro
        |  FROM per p, th t)
        |SELECT user_id % 2 AS arm, count(*)::BIGINT AS n_users,
        |  (sum(y::HUGEINT) // count(*))::BIGINT AS mean_y_micro,
        |  (sum(adj::HUGEINT) // count(*))::BIGINT AS mean_adj_micro,
        |  max(theta_micro)::BIGINT AS theta_micro
        |FROM adj GROUP BY 1""".stripMargin,

    "q260_region_modularity" ->
      s"""WITH $NationTradeEdgesCte,
        |regs AS (SELECT n_name AS nname, r_name AS reg
        |  FROM nation JOIN region ON n_regionkey = r_regionkey),
        |el AS MATERIALIZED (
        |  SELECT e.w, rs.reg AS rsrc, rd.reg AS rdst
        |  FROM raw e JOIN regs rs ON rs.nname = e.src
        |  JOIN regs rd ON rd.nname = e.dst),
        |mm AS (SELECT sum(w)::HUGEINT AS m FROM el),
        |intra AS (SELECT rsrc AS reg, sum(w)::BIGINT AS e_w FROM el
        |  WHERE rsrc = rdst GROUP BY 1),
        |outs AS (SELECT rsrc AS reg, sum(w)::BIGINT AS out_w FROM el
        |  GROUP BY 1),
        |ins AS (SELECT rdst AS reg, sum(w)::BIGINT AS in_w FROM el
        |  GROUP BY 1)
        |SELECT r.r_name AS reg,
        |  coalesce(i.e_w, 0)::BIGINT AS e_w,
        |  coalesce(o.out_w, 0)::BIGINT AS out_w,
        |  coalesce(n.in_w, 0)::BIGINT AS in_w,
        |  CASE WHEN mm.m > 0 THEN
        |    ((mm.m * coalesce(i.e_w, 0)
        |      - coalesce(o.out_w, 0)::HUGEINT * coalesce(n.in_w, 0))
        |      * 1000000) // (mm.m * mm.m)
        |  ELSE 0 END::BIGINT AS contrib_micro
        |FROM region r
        |LEFT JOIN intra i ON i.reg = r.r_name
        |LEFT JOIN outs o ON o.reg = r.r_name
        |LEFT JOIN ins n ON n.reg = r.r_name
        |CROSS JOIN mm""".stripMargin,

    "q261_target_encoding" ->
      """WITH grid AS (
        |  SELECT o_orderpriority AS cat, o_custkey % 5 AS fold,
        |    count(*)::BIGINT AS n_cf,
        |    sum(floor(o_totalprice * 100 + 0.5)::BIGINT::HUGEINT) AS s_cf
        |  FROM orders GROUP BY 1, 2),
        |tot AS (SELECT cat, sum(n_cf)::BIGINT AS n_cat,
        |    sum(s_cf) AS s_cat FROM grid GROUP BY 1)
        |SELECT g.cat, g.fold, (t.n_cat - g.n_cf)::BIGINT AS n_oof,
        |  CASE WHEN t.n_cat - g.n_cf > 0
        |    THEN (t.s_cat - g.s_cf) // (t.n_cat - g.n_cf)
        |    ELSE 0 END::BIGINT AS enc_cents
        |FROM grid g JOIN tot t ON t.cat = g.cat""".stripMargin,

    "q262_dsir_resample" ->
      s"""WITH big AS (
        |  SELECT doc_id, lang, unnest(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 1, 0)),
        |    i -> array_to_string(
        |      list_slice(string_split(text, ' '), i + 1, i + 2), ' '))) AS g
        |  FROM documents),
        |hb AS MATERIALIZED (
        |  SELECT doc_id, lang, (${fingerprintSql("g", "fi")}) % 256 AS b
        |  FROM big),
        |raw AS (SELECT b, count(*)::BIGINT AS r_cnt FROM hb GROUP BY 1),
        |tgt AS (SELECT b, count(*)::BIGINT AS t_cnt FROM hb
        |  WHERE lang = 'en' GROUP BY 1),
        |lr AS (SELECT r.b, length(bin(
        |    (coalesce(t.t_cnt, 0) + 1) * 1024 // (r.r_cnt + 1)))::BIGINT
        |    AS lr
        |  FROM raw r LEFT JOIN tgt t ON t.b = r.b),
        |sc AS (SELECT hb.doc_id, sum(lr.lr)::BIGINT AS score
        |  FROM hb JOIN lr ON lr.b = hb.b GROUP BY 1),
        |scored AS (SELECT d.doc_id, d.text,
        |    coalesce(s.score, 0)::BIGINT AS score
        |  FROM documents d LEFT JOIN sc s ON s.doc_id = d.doc_id)
        |SELECT doc_id, score AS weight,
        |  (((${fingerprintSql("text", "fi")}) % 1000000) * 1000)
        |    // greatest(score, 1) AS priority
        |FROM scored
        |ORDER BY priority, doc_id LIMIT 100""".stripMargin,

    "q263_substring_dedup" ->
      s"""WITH donor AS (
        |  SELECT doc_id + 1 AS doc_id,
        |    array_to_string(list_slice(string_split(text, ' '), 1, 12), ' ')
        |      AS pfx
        |  FROM documents WHERE doc_id % 2 = 0 AND doc_id < 80),
        |mixed AS (
        |  SELECT d.doc_id,
        |    CASE WHEN o.pfx IS NOT NULL THEN o.pfx || ' ' || d.text
        |         ELSE d.text END AS text
        |  FROM documents d LEFT JOIN donor o ON o.doc_id = d.doc_id),
        |tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM mixed),
        |sh AS (SELECT doc_id, list_transform(
        |    range(0, greatest(len(tk) - 9, 0)),
        |    i -> array_to_string(list_slice(tk, i + 1, i + 10), ' ')) AS g
        |  FROM tk),
        |pg AS MATERIALIZED (
        |  SELECT doc_id, unnest(range(0, len(g))) AS pos, unnest(
        |    list_transform(g, s -> (${fingerprintSql("s", "fi")}))) AS h
        |  FROM sh),
        |rk AS (SELECT doc_id, pos, h,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
        |    count(*) OVER (PARTITION BY h) AS cnt
        |  FROM pg),
        |dups AS (SELECT doc_id, pos FROM rk WHERE cnt >= 2 AND rn >= 2),
        |cov AS (SELECT DISTINCT d.doc_id, d.pos + u.o AS tp
        |  FROM dups d, unnest(range(0, 10)) AS u(o)),
        |covcnt AS (SELECT doc_id, count(*)::BIGINT AS n_dup FROM cov
        |  GROUP BY 1)
        |SELECT t.doc_id, len(t.tk)::BIGINT AS n_tokens,
        |  coalesce(c.n_dup, 0)::BIGINT AS n_dup,
        |  (len(t.tk) - coalesce(c.n_dup, 0))::BIGINT AS n_kept
        |FROM tk t LEFT JOIN covcnt c USING (doc_id)""".stripMargin,

    "q264_bigram_perplexity" ->
      """WITH big AS MATERIALIZED (
        |  SELECT doc_id,
        |    unnest(list_slice(string_split(text, ' '), 1,
        |      len(string_split(text, ' ')) - 1)) AS a,
        |    unnest(list_slice(string_split(text, ' '), 2,
        |      len(string_split(text, ' ')))) AS b
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |cab AS (SELECT a, b, count(*)::BIGINT AS c_ab FROM big GROUP BY 1, 2),
        |ca AS (SELECT a, sum(c_ab)::BIGINT AS c_a FROM cab GROUP BY 1),
        |sc AS (
        |  SELECT g.doc_id,
        |    (length(bin(ca.c_a)) - length(bin(cab.c_ab)))::BIGINT AS sbits
        |  FROM big g
        |  JOIN cab ON cab.a = g.a AND cab.b = g.b
        |  JOIN ca ON ca.a = g.a)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  sum(sbits)::BIGINT AS sum_bits,
        |  ((sum(sbits) * 1000) // count(*))::BIGINT AS mean_milli,
        |  (CASE WHEN (sum(sbits) * 1000) // count(*) <= 4500
        |    THEN 1 ELSE 0 END)::BIGINT AS keep
        |FROM sc GROUP BY doc_id""".stripMargin,

    "q265_bpe_pack_manifest" ->
      """WITH wlen AS (
        |  SELECT w, count(*)::BIGINT AS n_syms
        |  FROM read_parquet('__GEN_DIR__/q265_bpe/final/*.parquet')
        |  GROUP BY w),
        |enc AS (
        |  SELECT doc_id, sum(n_syms)::BIGINT AS enc_len FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |    FROM documents) t
        |  JOIN wlen USING (w) GROUP BY doc_id),
        |pl AS (
        |  SELECT doc_id, doc_id % 8 AS shard, enc_len,
        |    sum(enc_len) OVER (PARTITION BY doc_id % 8
        |      ORDER BY doc_id) AS tok_end
        |  FROM enc)
        |SELECT doc_id, shard, enc_len,
        |  (tok_end - enc_len)::BIGINT AS tok_start,
        |  ((tok_end - enc_len) // 512)::BIGINT AS first_seq,
        |  ((tok_end - 1) // 512)::BIGINT AS last_seq,
        |  ((tok_end - 1) // 512 - (tok_end - enc_len) // 512 + 1)::BIGINT
        |    AS n_seqs
        |FROM pl""".stripMargin,

    "q266_fd_audit" -> {
      def fd(name: String, det: String, dep: String) =
        s"""SELECT '$name' AS fd, count(*)::BIGINT AS n_groups,
           |  sum(CASE WHEN ndep > 1 THEN 1 ELSE 0 END)::BIGINT
           |    AS n_violating,
           |  (CASE WHEN sum(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) = 0
           |    THEN 1 ELSE 0 END)::BIGINT AS holds
           |FROM (SELECT $det, count(DISTINCT $dep) AS ndep FROM orders
           |      GROUP BY 1)""".stripMargin
      Seq(
        fd("orderkey_to_custkey", "o_orderkey", "o_custkey"),
        fd("custkey_to_status", "o_custkey", "o_orderstatus"),
        fd("orderkey_to_priority", "o_orderkey", "o_orderpriority"),
        fd("orderdate_to_priority", "o_orderdate", "o_orderpriority"))
        .mkString("\nUNION ALL\n")
    },

    // every frame's raster re-derived codec-free from the shot-structured
    // synth formula (base raster of the frame's shot seed + the mod-29
    // jitter), motion via the (doc, pixel, f−1) self-join
    "q267_shot_keyframes" ->
      """WITH dims AS (
        |  SELECT doc_id, (16 + doc_id % 8)::BIGINT AS w,
        |    (12 + doc_id % 4)::BIGINT AS h,
        |    (4 + doc_id % 3)::BIGINT AS n,
        |    (1 + doc_id % (3 + doc_id % 3))::BIGINT AS cut
        |  FROM documents),
        |fx AS (SELECT doc_id, w, h, cut, unnest(range(n)) AS f FROM dims),
        |pxi AS (SELECT doc_id, f, cut, unnest(range(w * h)) AS i FROM fx),
        |px AS MATERIALIZED (
        |  SELECT doc_id, f, i,
        |    CASE WHEN (i + 40503 * f) % 29 = 0
        |      THEN ((((doc_id + CASE WHEN f >= cut THEN 777777 ELSE 0 END)
        |               * 2654435761 + i * 40503) % 2147483648) % 256 + f)
        |           % 256
        |      ELSE (((doc_id + CASE WHEN f >= cut THEN 777777 ELSE 0 END)
        |              * 2654435761 + i * 40503) % 2147483648) % 256
        |    END AS pix
        |  FROM pxi),
        |fr AS (
        |  SELECT a.doc_id, a.f, sum(a.pix)::BIGINT AS sum_pix,
        |    coalesce(sum(abs(a.pix - b.pix)), 0)::BIGINT AS motion_abs
        |  FROM px a LEFT JOIN px b
        |    ON b.doc_id = a.doc_id AND b.i = a.i AND b.f = a.f - 1
        |  GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(motion_abs) AS total FROM fr GROUP BY 1)
        |SELECT f.doc_id AS media_id, f.f::BIGINT AS frame_idx, f.sum_pix,
        |  f.motion_abs,
        |  (CASE WHEN f.f = 0 OR 2 * f.motion_abs >= t.total
        |    THEN 1 ELSE 0 END)::BIGINT AS is_key
        |FROM fr f JOIN tot t USING (doc_id)""".stripMargin,

    "q268_matryoshka_recall" ->
      s"""WITH e16 AS (
        |  SELECT vec_id, embedding[1:16] AS embedding FROM embeddings),
        |ex AS (${cosineTopkOracleSql(5)}),
        |tr AS (${cosineTopkOracleSql(5, table = "e16")}),
        |m AS (SELECT count(*)::BIGINT AS n_full FROM ex),
        |l AS (SELECT count(*)::BIGINT AS n_trunc FROM tr),
        |ht AS (SELECT count(*)::BIGINT AS n_hit
        |       FROM ex e JOIN tr t
        |         ON e.query_id = t.query_id AND e.cand_id = t.cand_id)
        |SELECT m.n_full, l.n_trunc, ht.n_hit,
        |  ((ht.n_hit * 1000000) // m.n_full)::BIGINT AS recall_ppm
        |FROM m, l, ht""".stripMargin,

    "q269_granger_census" ->
      s"""WITH $CausalPanelCte,
        |${graft.metrics.Causal.grangerSqlCtes("panel")}
        |SELECT * FROM granger_out""".stripMargin
  )
}
