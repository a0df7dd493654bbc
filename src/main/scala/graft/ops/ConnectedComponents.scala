package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list via alternating
  * large-star / small-star contractions (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC '14) — the standard
  * shared-nothing CC algorithm. Each round is two groupBy+join passes over
  * the edge list (shuffles keyed on node id, never all-pairs), and the edge
  * set converges to depth-1 stars rooted at each component's minimum id in
  * O(log n) rounds; cliques — the shape near-dup clusters take — converge
  * in one. No graph state ever lands on the driver: the only collected
  * values are the per-round convergence fingerprint (edge count + hash sum).
  *
  * This is the step the reference pipeline leaves to its consumers: LSH /
  * Jaccard dedup emits candidate PAIRS (ref `helper_funcs` analyses operate
  * pairwise), but choosing one canonical document per duplicate CLUSTER
  * needs the transitive closure of those pairs. At 100 TB the closure must
  * be computed distributed — hence star contractions, not a driver-side
  * union-find.
  */
object ConnectedComponents {

  /** Canonical orientation: (u, v) with u > v, no self-loops, deduped. */
  private def canon(df: DataFrame): DataFrame =
    df.where(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
              least(col("u"), col("v")).as("v"))
      .distinct()

  /** large-star(u): over the bidirectional neighborhood, attach every
    * strictly-larger neighbor to m = min(Γ(u) ∪ {u}).
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbr = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val m = nbr.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    // emitted (v, m) has v > u ≥ m, so the canonical orientation is (v, m)
    canon(nbr.join(m, "u").where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v")))
  }

  /** small-star(u): over the smaller-neighbor orientation (edges already
    * canonical u > v), link every smaller neighbor AND u itself to
    * m = min(Γ⁻(u) ∪ {u}) = min(Γ⁻(u)).
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val m = e.groupBy("u").agg(min("v").as("m")) // m < u by canonical orient.
    canon(e.join(m, "u").select(col("v").as("u"), col("m").as("v"))
      .union(m.select(col("u"), col("m").as("v"))))
  }

  /** (count, Σ xxhash64(u,v)) — an order-insensitive edge-set fingerprint.
    * The iteration is monotone (star-contraction never un-converges), so the
    * only failure a fingerprint collision could cause is an early stop; with
    * a 64-bit hash over both columns that is vanishing, and the count guards
    * the trivial cases.
    */
  private def fingerprint(e: DataFrame): (Long, java.math.BigDecimal) = {
    // DECIMAL(38,0) sum: xxhash64 is full-range 64-bit, a LONG sum overflows
    // (and raises under ANSI mode) after a handful of edges
    val r = e.agg(count(lit(1)),
      coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** Component label (= minimum node id in the component) for every node
    * that appears in `pairs`. Columns: id, component.
    *
    * Each round localCheckpoints the edge set: iterative self-referential
    * plans otherwise grow lineage exponentially, and the checkpoint is
    * executor-local (no driver collect, no HDFS round-trip).
    */
  def components(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    var edges = canon(pairs.select(col(aCol).cast("long").as("u"),
      col(bCol).cast("long").as("v"))).localCheckpoint()
    var prev: (Long, java.math.BigDecimal) = fingerprint(edges)
    var converged = prev._1 == 0L // no edges → nothing to contract
    var it = 0
    while (!converged && it < maxIter) {
      edges = smallStar(largeStar(edges)).localCheckpoint()
      val cur = fingerprint(edges)
      converged = cur == prev
      prev = cur
      it += 1
    }
    require(converged, s"connected components did not converge in $maxIter rounds")
    // at the fixpoint every edge is (member, root); roots label themselves
    edges.select(col("u").as("id"), col("v").as("component"))
      .union(edges.select(col("v").as("id"), col("v").as("component")))
      .groupBy("id").agg(min("component").as("component"))
  }

  /** [[components]] over every `id` of `nodes`, from the undirected pairs
    * (id_a, id_b): a node no pair touches labels itself. Columns: id,
    * component. The Spark twin of [[componentsSqlCtes]].
    */
  def componentsOf(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = components(pairs, "id_a", "id_b")
    nodes.select(col("id")).as("n")
      .join(comp.as("c"), col("n.id") === col("c.id"), "left")
      .select(col("n.id").as("id"),
        coalesce(col("c.component"), col("n.id")).as("component"))
  }

  /** [[components]] as DuckDB CTEs (the caller writes WITH RECURSIVE): the
    * min reachable id per node over the undirected graph of the relation
    * `pairs` (id_a, id_b), starting from every `id` of the relation
    * `nodes`, so isolated nodes label themselves; yields `comp(id,
    * component)`. DuckDB affords the recursive reachability at oracle
    * scale; the Spark side contracts stars in O(log n) distributed rounds.
    */
  def componentsSqlCtes(pairs: String, nodes: String): String =
    s"""edges AS (SELECT id_a AS a, id_b AS b FROM $pairs
       |          UNION SELECT id_b, id_a FROM $pairs),
       |reach(id, r) AS (
       |  SELECT id, id FROM $nodes
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
       |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)""".stripMargin
}
