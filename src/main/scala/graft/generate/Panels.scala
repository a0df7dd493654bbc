package graft.generate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The long (series, day, v) panel every causal consumer reads, in one
  * place: the milli quantization, the single-graph and config-folded
  * unpivots of a generated wide frame, the clamped lag-1 virtual panel of
  * the catalog BH census, and the deterministic hash panels of the
  * wide-PC and multiplicity rungs.
  */
object Panels {

  /** floor(c · 1000) as a long — the integer grain every moment, rank
    * and Cramer stage is exact on.
    */
  def milli(c: Column): Column = floor(c * 1000).cast("long")

  /** One generated graph's `X1..XnVars` as (series = "X$i", day = t,
    * v = milli): no null filter, one union branch per channel.
    */
  def single(gen: DataFrame, nVars: Int): DataFrame =
    (1 to nVars).map(i =>
      gen.select(lit(s"X$i").as("series"), col("t").as("day"),
        milli(col(s"X$i")).as("v")))
      .reduce(_ unionByName _)

  /** [[milli]] as DuckDB SQL over the expression `c`. */
  def milliSql(c: String): String = s"floor($c * 1000)::BIGINT"

  /** [[single]] as the body of a DuckDB CTE over the relation `gen`: one
    * `UNION ALL` branch per channel, (series = 'X$i', day = t, v).
    */
  def singleSqlCte(gen: String, nVars: Int): String =
    (1 to nVars).map(i =>
      s"SELECT 'X$i' AS series, t AS day, ${milliSql(s"X$i")} AS v FROM $gen")
      .mkString("\n  UNION ALL ")

  /** Many graphs folded into one panel: series = `key|X$i`, day = `day`
    * (the caller's fold — a config stride, or a key-prefixed padded
    * index), null cells dropped per channel. Keys in both columns keep
    * the graphs disjoint: no cross-graph moment ever forms.
    */
  def folded(wide: DataFrame, nVars: Int, key: Column, day: Column)
      : DataFrame =
    (1 to nVars).map(i =>
      wide.where(col(s"X$i").isNotNull)
        .select(concat(key, lit(s"|X$i")).as("series"), day.as("day"),
          milli(col(s"X$i")).as("v")))
      .reduce(_ unionByName _)

  /** [[folded]] as the body of a DuckDB CTE over the relation `wide`:
    * series = `key || '|X$i'`, day = the SQL expression `day`, null cells
    * dropped per channel.
    */
  def foldedSqlCte(wide: String, nVars: Int, key: String, day: String)
      : String =
    (1 to nVars).map(i =>
      s"SELECT $key || '|X$i' AS series, $day AS day, " +
        s"${milliSql(s"X$i")} AS v FROM $wide WHERE X$i IS NOT NULL")
      .mkString("\n  UNION ALL ")

  /** The configId-folded lag-1 virtual panel (vs, t, v) of the catalog
    * BH census: every present `X$i` as `cfg|X$i@0` at t and `cfg|X$i@1`
    * at t + 1, t folded by a 65536 stride. Values clamp to ±1e3 before
    * the milli grain (a handful of D2/D2C cells diverge) so every Cramer
    * product stays inside DECIMAL(38,0).
    */
  def clampedLag1(wide: DataFrame, nVars: Int): DataFrame =
    (1 to nVars).map { i =>
      val m = milli(greatest(least(col(s"X$i"), lit(1e3)), lit(-1e3)))
        .as("v")
      val base = wide.where(col(s"X$i").isNotNull)
      base.select(concat(col("configId"), lit(s"|X$i@0")).as("vs"),
          (col("configId") * 65536 + col("t")).as("t"), m)
        .unionByName(base.select(
          concat(col("configId"), lit(s"|X$i@1")).as("vs"),
          (col("configId") * 65536 + col("t") + 1).as("t"), m))
    }.reduce(_ unionByName _)

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
}
