package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Mergeable cardinality sketch (HyperLogLog, Flajolet et al. 2007) with a
  * PURE INTEGER register contract — every step (bucket split, rank-of-first-
  * set-bit, harmonic sum, the final estimate) is integer arithmetic over the
  * engine's 31-bit rolling-hash values, so the sketch is bit-identical
  * across partition topologies AND expressible in ANSI SQL for the oracle
  * (no engine-private HLL serialization format to compare).
  *
  * Why not `approx_count_distinct`: Spark's HLL++ binary sketch has no
  * DuckDB mirror, so its estimate can never be hash-checked. This sketch
  * trades the bias-correction table for verifiability: raw HLL estimate,
  * α_64 = 0.709, no small-range (linear counting) correction — the
  * registers themselves are also emitted so a consumer can apply any
  * correction downstream.
  *
  * Scale: the register build is ONE groupBy on (group, bucket) with
  * map-side partial `max` — the shuffle carries at most |groups|·m tiny
  * rows regardless of input size, which is the entire point of a sketch at
  * 100 TB. Registers merge associatively (max), so the same code serves
  * partial/merge in a multi-stage rollup.
  *
  * Reference anchor: out of the reference's scope (its corpus is ~5.4M
  * rows); prompt-mandated pipeline surface (corpus-scale distinct stats).
  */
object Sketch {

  /** log2(m): 64 buckets — enough for ~8% relative error, small enough that
    * the numerator of the fixed-point estimate stays in LONG range.
    */
  val HllP: Int = 6
  val HllM: Int = 1 << HllP

  /** Max rank: the hash contributes 31 − p payload bits; an all-zero
    * payload gets rank payloadBits + 1, the standard HLL convention.
    */
  val HllMaxRho: Int = 31 - HllP + 1

  /** Register rows for 31-bit non-negative hashes `h` grouped by
    * `groupCols`: one row per (group, bucket) with the max rank.
    * rho = 1 + (number of trailing zero bits of the payload), computed as
    * bit_count((w & -w) - 1) + 1 — no log2, no doubles.
    */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], hashCol: String): DataFrame = {
    val h = col(hashCol).cast("long")
    val w = shiftright(h, HllP).cast("long")
    val rho = when(w === 0, lit(HllMaxRho))
      .otherwise(bit_count(w.bitwiseAND(-w) - 1).cast("int") + 1)
    df.select(groupCols.map(col) :+ h.bitwiseAND(lit((HllM - 1).toLong)).as("bucket")
        :+ rho.as("rho"): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("rho")).as("max_rho"))
  }

  /** Per-group raw HLL estimate from the registers, fixed-point:
    *
    *   Z_scaled = Σ_hit 2^(30 − max_rho) + (m − n_hit)·2^30   (empty
    *              registers contribute 2^0 = 1, scaled by 2^30)
    *   est_milli = (709·m²·2^30) div Z_scaled    (α_64 = 0.709, ×1000)
    *
    * Output: groupCols..., n_buckets_hit, z_scaled, est_milli.
    */
  def hllEstimate(registers: DataFrame, groupCols: Seq[String]): DataFrame =
    registers.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_buckets_hit"),
        (sum(expr("shiftleft(CAST(1 AS BIGINT), 30 - max_rho)")) +
          (lit(HllM.toLong) - count(lit(1))) * lit(1L << 30)).as("z_scaled"))
      .withColumn("est_milli",
        expr(s"(${709L * HllM * HllM} * CAST(${1L << 30} AS BIGINT)) div z_scaled"))

  /** Sketch + exact distinct side by side (the validation shape the q72
    * oracle checks; at production scale a caller runs the sketch alone).
    */
  def hllWithExact(df: DataFrame, groupCols: Seq[String], hashCol: String): DataFrame = {
    val est = hllEstimate(hllRegisters(df, groupCols, hashCol), groupCols)
    val exact = df.groupBy(groupCols.map(col): _*)
      .agg(count_distinct(col(hashCol)).as("n_exact"))
    est.join(exact, groupCols)
      .select((groupCols.map(col) ++ Seq(col("n_buckets_hit"), col("z_scaled"),
        col("est_milli"), col("n_exact"))): _*)
  }

  // ---- Count-Min sketch (Cormode & Muthukrishnan 2005) ---------------------

  /** Depth × width of the count-min sketch: 3 pairwise-independent affine
    * hash rows over 1024 buckets. Fixed literal parameters (odd multipliers
    * < 2^31) so the DuckDB oracle embeds the identical constants.
    */
  val CmsWidth: Int = 1024
  val CmsParams: Seq[(Long, Long)] =
    Seq((1103515245L, 12345L), (1299709L, 7919L), (900000011L, 577L))

  /** The (row, bucket) struct array for a hash — ONE definition shared by
    * build and probe, so the two sides cannot drift onto different cells.
    */
  private def cmsBuckets(h: Column): Column =
    array(CmsParams.zipWithIndex.map { case ((a, b), i) =>
      struct(lit(i).as("i"),
        ((h.cast("long") * a + b) % 2147483647L % CmsWidth).as("bucket"))
    }: _*)

  /** The sketch itself: per (row, bucket) occurrence counts of the hashed
    * values — ≤ depth·width rows out of ONE map-side-combined groupBy, no
    * matter the input size. bucket_i = ((a_i·h + b_i) mod 2^31−1) mod width;
    * a·h < 2^62 keeps the product in LONG for 31-bit hashes.
    */
  def cmsCells(df: DataFrame, hashCol: String): DataFrame =
    df.select(explode(cmsBuckets(col(hashCol))).as("rb"))
      .groupBy(col("rb.i").as("i"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))

  /** Point-estimate the count of each probe value: min over the depth rows
    * of the probed cell — always ≥ the true count (one-sided error). The
    * cells table is tiny, so the probe join is a broadcast.
    */
  def cmsEstimate(cells: DataFrame, probes: DataFrame, hashCol: String): DataFrame = {
    probes.withColumn("rb", explode(cmsBuckets(col(hashCol))))
      .select(probes.columns.map(col) :+ col("rb.i").as("i")
        :+ col("rb.bucket").as("bucket"): _*)
      .join(broadcast(cells), Seq("i", "bucket"))
      .groupBy(probes.columns.map(col): _*)
      .agg(min(col("c")).as("cms_est"))
  }

  // ----- KMV (k-minimum-values) distinct sketch, Beyer et al. 2007 -----
  //
  // Complements HLL: the same |groups|·k shuffle bound, but the sketch
  // retains actual hash VALUES, so two groups' sketches support SET
  // OPERATIONS — union by merging bottom-k lists, intersection by counting
  // shared hashes below the union's k-th value. That is how corpus-overlap
  // between sources is estimated at 100 TB scale (e.g. "how much of src A's
  // shingle universe also appears in src B") without ever joining the full
  // shingle sets. Hash domain: the engine's 31-bit rolling fingerprint,
  // M = 2^31 − 1 values, so every estimate is integer arithmetic.

  /** Max hash value + 1 of the 31-bit fingerprint domain (h ∈ [0, M−1]). */
  val KmvM: Long = 2147483647L

  final case class KmvBuf(items: Seq[Long])

  /** k smallest DISTINCT hash values as a mergeable aggregate: partial
    * (map-side) aggregation bounds every shuffle row to ≤ k longs per
    * group, and merge (sorted distinct union, re-truncated) is associative
    * and commutative — reduce/merge order cannot change the result because
    * "k smallest distinct" is order-free.
    */
  def kmvBottomK(k: Int): Aggregator[Long, KmvBuf, KmvBuf] =
    new Aggregator[Long, KmvBuf, KmvBuf] {
      override def zero: KmvBuf = KmvBuf(Vector.empty)
      override def reduce(b: KmvBuf, h: Long): KmvBuf =
        // steady-state fast path: a full buffer rejects a too-large hash in
        // O(1); the sort+distinct only runs on candidate inserts
        if (b.items.length >= k && h > b.items.last) b
        else KmvBuf((h +: b.items).distinct.sorted.take(k))
      override def merge(a: KmvBuf, b: KmvBuf): KmvBuf =
        KmvBuf((a.items ++ b.items).distinct.sorted.take(k))
      override def finish(b: KmvBuf): KmvBuf = b
      override def bufferEncoder: Encoder[KmvBuf] = Encoders.product[KmvBuf]
      override def outputEncoder: Encoder[KmvBuf] = Encoders.product[KmvBuf]
    }

  /** Per-group KMV sketch rows (group..., h, r) with r the 1-based rank of
    * h within the group's bottom-k. The input may contain duplicate hashes;
    * the sketch is over the DISTINCT hash set by construction.
    */
  def kmvSketch(df: DataFrame, groupCols: Seq[String], hashCol: String,
      k: Int): DataFrame = {
    val agg = udaf(kmvBottomK(k), Encoders.scalaLong)
    df.groupBy(groupCols.map(col): _*)
      .agg(agg(col(hashCol).cast("long")).as("_kmv"))
      .select(groupCols.map(col) :+ posexplode(col("_kmv.items")): _*)
      .select(groupCols.map(col) :+ col("col").as("h")
        :+ (col("pos") + 1).cast("long").as("r"): _*)
  }

  /** Per-group distinct estimate from sketch rows: exact when the sketch
    * holds fewer than k values (the group had < k distinct hashes),
    * otherwise the KMV estimator (k−1)·M / (h_(k)+1) in floor division
    * (+1 maps the max hash M−1 onto the unit interval's 1.0).
    */
  def kmvEstimate(sketch: DataFrame, groupCols: Seq[String], k: Int): DataFrame =
    sketch.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("kth"))
      .withColumn("kmv_est",
        when(col("n_kept") < k, col("n_kept"))
          .otherwise(expr(s"(${k - 1}L * $KmvM) div (kth + 1)")))
}
