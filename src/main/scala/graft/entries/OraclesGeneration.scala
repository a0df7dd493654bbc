package graft

/** Generation slice of [[SparkEntry.oracleSql]] — the DuckDB twins of
  * [[QueriesGeneration]], split mechanically from the single map. */
private[graft] trait OraclesGeneration { this: SparkEntry.type =>

  private[graft] def oracleSqlGeneration: Map[String, String] = Map(

    "q60_salient_terms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tok3 AS (SELECT doc_id, token FROM tok WHERE length(token) >= 3),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok3 GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df
        |       FROM (SELECT DISTINCT doc_id, token FROM tok3) GROUP BY 1)
        |SELECT doc_id, token, tf, df, rk FROM (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |                       ORDER BY tf.tf DESC, df.df ASC, tf.token ASC) AS rk
        |  FROM tf JOIN df ON tf.token = df.token)
        |WHERE rk <= 3""".stripMargin,

    "q57_repetition_filter" ->
      """WITH sh AS (
        |  SELECT doc_id, list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 2, 0)),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 3), ' ')) AS shs
        |  FROM documents)
        |SELECT doc_id, len(shs)::INT AS n_shingles,
        |  len(list_distinct(shs))::INT AS n_distinct_shingles,
        |  CASE WHEN 5 * (len(shs) - len(list_distinct(shs))) > len(shs)
        |       THEN 1 ELSE 0 END AS repetitive
        |FROM sh""".stripMargin,

    "q58_contamination" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 2, 0)),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 3), ' '))) AS shs
        |  FROM documents),
        |probe AS (SELECT DISTINCT unnest(shs) AS shingle FROM t WHERE doc_id % 50 = 0),
        |docsh AS (SELECT doc_id, unnest(shs) AS shingle FROM t WHERE doc_id % 50 <> 0)
        |SELECT d.doc_id, count(*) AS n_contaminated_shingles
        |FROM docsh d JOIN probe p ON d.shingle = p.shingle
        |GROUP BY d.doc_id""".stripMargin,

    "q15_minhash_signatures" -> {
      val mins = graft.text.Dedup.MinhashCoefs.zipWithIndex.map { case ((a, b), i) =>
        s"min((h * $a + $b) % 2147483647)::BIGINT AS mh_$i"
      }.mkString(",\n  ")
      s"""WITH $ShingleHashCte
         |SELECT doc_id,
         |  $mins
         |FROM h GROUP BY doc_id""".stripMargin
    },

    "q16_minhash_pairs" ->
      s"""WITH $MinhashPairsCtes
         |SELECT id_a, id_b, est_jaccard FROM pairs""".stripMargin,

    // transitive closure of the q16 pair set: min reachable doc_id per doc
    "q61_dedup_clusters" ->
      s"""WITH RECURSIVE $MinhashComponentsCtes,
         |sizes AS (SELECT component, count(*) AS csize FROM comp GROUP BY component)
         |SELECT c.id AS doc_id, c.component, s.csize,
         |  (CASE WHEN c.id = c.component THEN 1 ELSE 0 END) AS keep
         |FROM comp c JOIN sizes s USING (component)""".stripMargin,

    // the fingerprint is non-negative, so plain % mirrors Spark's pmod
    "q62_stratified_sample" ->
      s"""WITH fp AS (
        |  SELECT doc_id, lang,
        |    ${fingerprintSql("text")} % 1000 AS sample_bucket
        |  FROM documents)
        |SELECT doc_id, lang, sample_bucket FROM fp
        |WHERE sample_bucket <
        |  (CASE WHEN lang = 'en' THEN 200 WHEN lang = 'zh' THEN 100 ELSE 50 END)""".stripMargin,

    // window frames are equal despite the engines' different defaults
    // (RANGE vs ROWS) because doc_id is unique within a shard
    "q63_sequence_packing" ->
      """WITH toks AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens
        |  FROM documents),
        |pre AS (
        |  SELECT doc_id, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)::BIGINT AS tok_end
        |  FROM toks)
        |SELECT doc_id, shard, n_tokens, tok_end - n_tokens AS tok_start,
        |  (tok_end - n_tokens) // 256 AS first_seq,
        |  (tok_end - 1) // 256 AS last_seq,
        |  ((tok_end - 1) // 256) - ((tok_end - n_tokens) // 256) + 1 AS n_seqs
        |FROM pre""".stripMargin,

    "q64_quality_funnel" ->
      s"""WITH f AS (
         |  SELECT $LangPredCaseSql AS lang_pred,
         |    len(string_split(text, ' ')) AS n_tokens,
         |    length(text) AS n_chars,
         |    len(shs) AS n_sh, len(list_distinct(shs)) AS n_dsh
         |  FROM (SELECT text, list_transform(
         |      range(0, greatest(len(string_split(text, ' ')) - 2, 0)),
         |      i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 3), ' ')) AS shs
         |    FROM documents)),
         |flags AS (
         |  SELECT (lang_pred = 'en') AS f1,
         |    ${Curation.LenOkSql} AS f2,
         |    ${Curation.NotRepetitiveSql} AS f3
         |  FROM f)
         |SELECT 0 AS stage_idx, 'all' AS stage, count(*) AS n_docs FROM flags
         |UNION ALL SELECT 1, 'lang_en', count(*) FILTER (WHERE f1) FROM flags
         |UNION ALL SELECT 2, 'len_ok', count(*) FILTER (WHERE f1 AND f2) FROM flags
         |UNION ALL SELECT 3, 'not_repetitive',
         |  count(*) FILTER (WHERE f1 AND f2 AND f3) FROM flags""".stripMargin,

    // assignment mirrors q14's ranking contract (cosine rounded 6dp,
    // centroid-id tie-break); update sums the same micro-quantized integers
    "q65_kmeans_step" ->
      """WITH c AS (
        |  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        |  FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, c.cid, e.embedding,
        |    round(list_dot_product(e.embedding::DOUBLE[], c.cv) /
        |      (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(c.cv, c.cv))), 6) AS cos_r
        |  FROM embeddings e, c),
        |assigned AS (
        |  SELECT cid AS cluster, embedding FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos_r DESC, cid) AS rk FROM scored)
        |  WHERE rk = 1),
        |ex AS (
        |  SELECT cluster, i::INT AS dim,
        |    floor(embedding[i + 1]::DOUBLE * 1e6)::BIGINT AS v_micro
        |  FROM assigned, range(0, 64) r(i))
        |SELECT cluster, dim, count(*) AS n_members,
        |  sum(v_micro)::BIGINT AS sum_micro
        |FROM ex GROUP BY cluster, dim""".stripMargin,

    "q66_curation_decisions" ->
      s"""WITH f AS (
         |  SELECT doc_id, text, $LangPredCaseSql AS lang_pred,
         |    len(string_split(text, ' ')) AS n_tokens,
         |    length(text) AS n_chars,
         |    len(shs) AS n_sh, len(list_distinct(shs)) AS n_dsh,
         |    ${fingerprintSql("text")} % 1000 AS bucket,
         |    (CASE WHEN row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
         |          THEN 1 ELSE 0 END) AS is_canonical
         |  FROM (SELECT doc_id, text, list_transform(
         |      range(0, greatest(len(string_split(text, ' ')) - 2, 0)),
         |      i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 3), ' ')) AS shs
         |    FROM documents))
         |SELECT doc_id, is_canonical,
         |  (CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END) AS lang_ok,
         |  (CASE WHEN ${Curation.LenOkSql} THEN 1 ELSE 0 END) AS len_ok,
         |  (CASE WHEN ${Curation.NotRepetitiveSql} THEN 1 ELSE 0 END) AS not_repetitive,
         |  (CASE WHEN bucket < 700 THEN 1 ELSE 0 END) AS sampled,
         |  (CASE WHEN is_canonical = 1 AND lang_pred = 'en'
         |             AND ${Curation.LenOkSql}
         |             AND ${Curation.NotRepetitiveSql}
         |             AND bucket < 700
         |        THEN 1 ELSE 0 END) AS keep
         |FROM f""".stripMargin,

    "q67_mixing_targets" ->
      """WITH c AS (
        |  SELECT lang AS stratum, count(*) AS n_docs FROM documents GROUP BY lang),
        |w AS (SELECT stratum, n_docs,
        |  floor(sqrt(n_docs::DOUBLE) * 1e6)::BIGINT AS w_micro FROM c),
        |s AS (SELECT sum(w_micro)::BIGINT AS sum_w, sum(n_docs)::BIGINT AS total FROM w),
        |t AS (SELECT stratum, n_docs, w_micro,
        |        (w_micro * 1000000) // sum_w AS share_ppm,
        |        ((w_micro * 1000000) // sum_w * total) // 1000000 AS target_docs
        |      FROM w, s)
        |SELECT stratum, n_docs, share_ppm, target_docs,
        |  least(1000, (target_docs * 1000) // n_docs) AS sample_permille
        |FROM t""".stripMargin,

    "q68_pii_scrub" ->
      s"""WITH synth AS (
        |  SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 3 = 0
        |          THEN ' contact user' || doc_id::VARCHAR || '@example.com'
        |          ELSE '' END) ||
        |    (CASE WHEN doc_id % 4 = 0
        |          THEN ' call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
        |          ELSE '' END) AS t
        |  FROM documents),
        |red AS (
        |  SELECT doc_id, t,
        |    regexp_replace(t, '[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+', '<EMAIL>', 'g') AS er,
        |    regexp_replace(
        |      regexp_replace(t, '[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+', '<EMAIL>', 'g'),
        |      '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS r
        |  FROM synth)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+')) AS n_emails,
        |  len(regexp_extract_all(er, '[0-9]{3}-[0-9]{4}')) AS n_phones,
        |  length(r) AS n_chars_redacted,
        |  ${fingerprintSql("r")} AS redacted_fp
        |FROM red""".stripMargin,

    "q69_doc_chunks" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |ex AS (SELECT doc_id, toks, unnest(range(0, len(toks), 48)) AS i FROM t),
        |st AS (
        |  SELECT doc_id, (i // 48)::INT AS chunk_idx, i::INT AS start_tok,
        |    array_to_string(list_slice(toks, i + 1, least(i + 64, len(toks))), ' ') AS chunk
        |  FROM ex)
        |SELECT doc_id, chunk_idx, start_tok,
        |  len(string_split(chunk, ' '))::INT AS n_chunk_tokens,
        |  ${fingerprintSql("chunk", "j")} AS chunk_fp
        |FROM st""".stripMargin,

    "q17_simhash" -> {
      // 31 bits: the token hash is mod 2^31-1, so bit 31 can never vote true
      val bits = (0 until graft.text.Dedup.SimhashBits).map { b =>
        s"(CASE WHEN sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" +\n  ")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |h AS (SELECT doc_id, ${fingerprintSql("tok")} AS h FROM tok)
         |SELECT doc_id,
         |  ($bits)::BIGINT AS simhash
         |FROM h GROUP BY doc_id""".stripMargin
    },

    "q18_stream_window" -> WindowAggOracleSql,
    // complete mode ⇒ the final table is batch-equal for ANY decomposition
    "q56_stream_window_multibatch" -> WindowAggOracleSql,

    "q19_embedding_neardups" -> {
      // mirror the seeded hyperplane buckets: same gaussian constants, same
      // left-to-right double dot product (list_dot_product == our aggregate)
      val planes = graft.sim.Similarity.hyperplanes(dim = 64, nBits = 8, seed = 42L)
      val bucketExpr = planes.zipWithIndex.map { case (p, b) =>
        s"(CASE WHEN list_dot_product(v, [${p.mkString(", ")}]) >= 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" +\n  ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |           FROM embeddings WHERE vec_id < 1000),
         |sig AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
         |  ($bucketExpr) AS bucket FROM e)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
         |FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.2""".stripMargin
    },

    "q22_graph_metrics" ->
      s"""WITH links AS (${OracleData.truthLinksSql}),
         |t AS (SELECT DISTINCT n_vars::VARCHAR || '_' || max_lag::VARCHAR AS graph_id,
         |        source, target, lag FROM links WHERE family = 'A1'),
         |p AS (SELECT DISTINCT n_vars::VARCHAR || '_' || max_lag::VARCHAR AS graph_id,
         |        source, target, lag FROM links WHERE family = 'B2'),
         |tot AS (SELECT DISTINCT n_vars::VARCHAR || '_' || max_lag::VARCHAR AS graph_id,
         |        n_vars * n_vars * (max_lag + 1) AS total FROM links WHERE family = 'A1'),
         |conf AS (
         |  SELECT coalesce(t.graph_id, p.graph_id) AS graph_id,
         |    sum(CASE WHEN t.source IS NOT NULL AND p.source IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS tp,
         |    sum(CASE WHEN t.source IS NULL THEN 1 ELSE 0 END)::BIGINT AS fp,
         |    sum(CASE WHEN p.source IS NULL THEN 1 ELSE 0 END)::BIGINT AS fn
         |  FROM t FULL OUTER JOIN p
         |    ON t.graph_id = p.graph_id AND t.source = p.source
         |   AND t.target = p.target AND t.lag = p.lag
         |  GROUP BY 1)
         |SELECT c.graph_id, tp, fp, fn, (total - tp - fp - fn)::BIGINT AS tn,
         |  round(CASE WHEN tp + fn = 0 THEN 0 ELSE tp::DOUBLE / (tp + fn) END, 6) AS tpr,
         |  round(CASE WHEN fp + tp = 0 THEN 0 ELSE fp::DOUBLE / (fp + tp) END, 6) AS fdr,
         |  round(CASE WHEN (CASE WHEN tp + fp = 0 THEN 0 ELSE tp::DOUBLE / (tp + fp) END)
         |           + (CASE WHEN tp + fn = 0 THEN 0 ELSE tp::DOUBLE / (tp + fn) END) = 0 THEN 0
         |        ELSE 2 * (CASE WHEN tp + fp = 0 THEN 0 ELSE tp::DOUBLE / (tp + fp) END)
         |               * (CASE WHEN tp + fn = 0 THEN 0 ELSE tp::DOUBLE / (tp + fn) END)
         |             / ((CASE WHEN tp + fp = 0 THEN 0 ELSE tp::DOUBLE / (tp + fp) END)
         |              + (CASE WHEN tp + fn = 0 THEN 0 ELSE tp::DOUBLE / (tp + fn) END)) END, 6) AS f1
         |FROM conf c JOIN tot ON c.graph_id = tot.graph_id""".stripMargin,

    "q23_graph_shd" ->
      s"""WITH links AS (${OracleData.truthLinksSql}),
         |t AS (SELECT DISTINCT n_vars::VARCHAR || '_' || max_lag::VARCHAR AS graph_id,
         |        source, target, lag FROM links WHERE family = 'A1'),
         |p AS (SELECT DISTINCT n_vars::VARCHAR || '_' || max_lag::VARCHAR AS graph_id,
         |        source, target, lag FROM links WHERE family = 'B2'),
         |x AS (
         |  SELECT coalesce(t.graph_id, p.graph_id) AS graph_id,
         |    sum(CASE WHEN t.source IS NULL OR p.source IS NULL THEN 1 ELSE 0 END)::BIGINT AS shd
         |  FROM t FULL OUTER JOIN p
         |    ON t.graph_id = p.graph_id AND t.source = p.source
         |   AND t.target = p.target AND t.lag = p.lag
         |  GROUP BY 1),
         |tc AS (SELECT graph_id, least(source, target) AS u, greatest(source, target) AS v, lag,
         |        max(CASE WHEN source <= target THEN 1 ELSE 0 END) AS t_fwd,
         |        max(CASE WHEN source > target THEN 1 ELSE 0 END) AS t_rev
         |       FROM t GROUP BY 1, 2, 3, 4),
         |pc AS (SELECT graph_id, least(source, target) AS u, greatest(source, target) AS v, lag,
         |        max(CASE WHEN source <= target THEN 1 ELSE 0 END) AS p_fwd,
         |        max(CASE WHEN source > target THEN 1 ELSE 0 END) AS p_rev
         |       FROM p GROUP BY 1, 2, 3, 4),
         |j AS (SELECT coalesce(tc.graph_id, pc.graph_id) AS graph_id,
         |        coalesce(t_fwd, 0) AS t_fwd, coalesce(t_rev, 0) AS t_rev,
         |        coalesce(p_fwd, 0) AS p_fwd, coalesce(p_rev, 0) AS p_rev
         |      FROM tc FULL OUTER JOIN pc
         |        ON tc.graph_id = pc.graph_id AND tc.u = pc.u AND tc.v = pc.v AND tc.lag = pc.lag),
         |st AS (SELECT graph_id,
         |        sum(CASE WHEN t_fwd + t_rev = 1 AND p_fwd + p_rev = 1 AND t_fwd <> p_fwd THEN 1
         |            ELSE abs(t_fwd - p_fwd) + abs(t_rev - p_rev) END)::BIGINT AS shd_structural
         |       FROM j GROUP BY 1)
         |SELECT x.graph_id, x.shd, st.shd_structural
         |FROM x JOIN st ON x.graph_id = st.graph_id""".stripMargin,

    "q24_graph_tensor" ->
      s"""WITH links AS (${OracleData.truthLinksSql}),
         |base AS (SELECT family, n_vars, max_lag,
         |    CASE WHEN source = 'U' THEN n_vars ELSE substr(source, 2)::INT - 1 END AS i,
         |    CASE WHEN target = 'U' THEN n_vars ELSE substr(target, 2)::INT - 1 END AS j,
         |    lag AS k, coef FROM links WHERE family IN ('A1', 'A1C')),
         |allc AS (
         |  SELECT family, n_vars, max_lag, i, j, k, coef AS value, 1 AS edge FROM base
         |  UNION ALL
         |  SELECT family, n_vars, max_lag, j AS i, i AS j, k, coef AS value, 0 AS edge
         |  FROM base WHERE k = 0)
         |SELECT family, n_vars, max_lag, i, j, k,
         |  round(max(value), 6) AS value, max(edge)::INT AS edge
         |FROM allc GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin,

    "q42_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  sum(json_extract(props, '$.k')::INT)::BIGINT AS sum_k,
        |  round(avg(json_extract(props, '$.k')::INT), 4) AS avg_k,
        |  max(json_extract(props, '$.k')::INT) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,

    "q41_ordered_limit" ->
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 4) AS l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 20""".stripMargin,

    // emission model: session closed by gap (not the user's last) OR by
    // event-time timeout — the post-data no-data microbatch advances the
    // watermark to max(ts)−1h (ms) and fires timeouts where wm > end+gap (ms,
    // matching GroupStateImpl's strict comparison at Spark 4.1 semantics).
    // Ties in ts_us split by value, mirroring update()'s sort — boundaries
    // and sums are order-insensitive, so any consistent tie order works.
    "q40_stream_sessions" -> SessionFinalityOracleSql,
    // finality makes the emitted set batch-decomposition invariant
    "q55_stream_sessions_multibatch" -> SessionFinalityOracleSql,

    "q39_pivot_events" ->
      """SELECT user_id,
        |  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
        |  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error,
        |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
        |  sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
        |  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view
        |FROM events GROUP BY user_id""".stripMargin,

    "q179_aqe_skew_join" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, floor(value * 1e6)::BIGINT AS vm,
        |    CASE WHEN user_id % 100 < 90 THEN 0 ELSE user_id END AS k
        |  FROM events),
        |dim AS (
        |  SELECT user_id AS k, count(*)::BIGINT AS k_weight FROM ev
        |  WHERE user_id % 100 >= 90 GROUP BY 1
        |  UNION ALL SELECT 0, 1)
        |SELECT event_type, count(*)::BIGINT AS n_events,
        |  sum(vm)::BIGINT AS sum_vm, sum(k_weight)::BIGINT AS sum_k_weight
        |FROM ev JOIN dim USING (k)
        |GROUP BY 1""".stripMargin,

    "q38_generate_shapes" ->
      s"""SELECT family, nVars AS n_vars, count(*) AS n_rows,
        |  ${sumMicroSql("X1")} AS sum_x1_micro,
        |  sum(maskBits)::BIGINT AS mask_sum
        |FROM read_parquet('__GEN_DIR__/q38_wide/*.parquet')
        |GROUP BY family, nVars""".stripMargin,

    "q47_skew_distinct" ->
      """SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_distinct
        |FROM events GROUP BY event_type""".stripMargin,

    "q48_salted_join" ->
      """WITH p AS (SELECT user_id, count(*) AS n_purchases FROM events
        |           WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT e.event_type, count(*) AS n_events,
        |  sum(p.n_purchases)::BIGINT AS sum_purch
        |FROM events e JOIN p ON e.user_id = p.user_id
        |GROUP BY e.event_type""".stripMargin,

    "q43_plot_series" -> {
      val arms = (1 to 4).map(i =>
        s"SELECT t, \"time\", 'X$i' AS var, X$i AS value FROM read_parquet('__GEN_DIR__/q43_wide/*.parquet')")
        .mkString("\n  UNION ALL\n  ")
      s"""SELECT var, t, "time", value FROM (
         |  $arms)
         |WHERE t % 10 = 0""".stripMargin
    },

    "q21_grid_configs" -> {
      def grid(fams: Seq[String], noises: Seq[String], ratios: Seq[Double],
               mcars: Seq[Double], blocks: Seq[Double]) = {
        val f = fams.map(x => s"('$x')").mkString(",")
        val no = noises.map(x => s"('$x')").mkString(",")
        val ra = ratios.map(x => s"($x::DOUBLE)").mkString(",")
        val mc = mcars.map(x => s"($x::DOUBLE)").mkString(",")
        val bl = blocks.map(x => s"($x::DOUBLE)").mkString(",")
        s"""SELECT family, n_points, n_vars, max_lag, noise_type, mix_ratio, mcar_prob, block_prob
           |FROM (VALUES $f) f(family)
           |CROSS JOIN (VALUES (500),(1000),(3000),(5000)) s(n_points)
           |CROSS JOIN (VALUES (4),(6),(8)) v(n_vars)
           |CROSS JOIN (VALUES (2),(3),(4)) l(max_lag)
           |CROSS JOIN (VALUES $no) n(noise_type)
           |CROSS JOIN (VALUES $ra) r(mix_ratio)
           |CROSS JOIN (VALUES $mc) m(mcar_prob)
           |CROSS JOIN (VALUES $bl) b(block_prob)""".stripMargin
      }
      Seq(
        grid(Seq("A1", "A1C", "A2", "A2C", "B1", "B1C", "C2", "C2C"),
          Seq("gaussian", "student_t"), Seq(1.0), Seq(0.0), Seq(0.0)),
        grid(Seq("B2", "B2C"), Seq("mixed"), Seq(0.3, 0.5, 0.7), Seq(0.0), Seq(0.0)),
        grid(Seq("C1", "C1C"), Seq("gaussian"), Seq(1.0), Seq(0.0), Seq(0.0)),
        grid(Seq("D1", "D1C"), Seq("gaussian", "student_t"), Seq(1.0), Seq(0.1, 0.2, 0.3), Seq(0.0)),
        grid(Seq("D2", "D2C"), Seq("gaussian", "student_t"), Seq(1.0), Seq(0.0), Seq(0.1, 0.2, 0.3)),
        grid(Seq("D3", "D3C"), Seq("mixed"), Seq(0.3, 0.5, 0.7), Seq(0.05, 0.1), Seq(0.05, 0.1))
      ).mkString("\n UNION ALL \n")
    }
  )
}
