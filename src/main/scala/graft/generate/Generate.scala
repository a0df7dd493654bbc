package graft.generate

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Spark fan-out of the generation kernel (SURVEY §4 lifecycle equivalent):
  * Dataset[GenConfig] → flatMap(kernel) → Dataset[SeriesRow] → wide DataFrame.
  *
  * Scale design: the config grid is the parallelism unit. Series are
  * independent, so generation is embarrassingly parallel with ZERO shuffle —
  * `repartition` on the config set only (tiny), then a single narrow flatMap
  * stage. At 100 TB the grid would hold millions of configs; rows never move
  * between executors until a downstream op asks for it. Writers partition
  * output by family so partition pruning serves per-family queries.
  */
object Generate {

  def configDs(spark: SparkSession, cfgs: Seq[GenConfig]): Dataset[GenConfig] = {
    import spark.implicits._
    val parallelism = spark.sparkContext.defaultParallelism
    // spread configs round-robin so the few large (n=5000) series don't skew tasks
    spark.createDataset(cfgs).repartition(math.min(cfgs.size, parallelism * 2))
  }

  /** All rows for the given configs; no shuffle, one task per config batch. */
  def series(spark: SparkSession, cfgs: Seq[GenConfig]): Dataset[SeriesRow] = {
    import spark.implicits._
    configDs(spark, cfgs).flatMap(cfg => Kernel.rows(cfg))
  }

  /** Wide DataFrame with reference column names X1..Xn, U, time. */
  def wide(ds: Dataset[SeriesRow]): DataFrame =
    ds.toDF()
      .withColumnRenamed("x1", "X1").withColumnRenamed("x2", "X2")
      .withColumnRenamed("x3", "X3").withColumnRenamed("x4", "X4")
      .withColumnRenamed("x5", "X5").withColumnRenamed("x6", "X6")
      .withColumnRenamed("x7", "X7").withColumnRenamed("x8", "X8")
      .withColumnRenamed("u", "U")

  /** Schema of the wide view (identical to `wide`'s output). */
  val WideSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(
      Seq(StructField("configId", LongType, nullable = false),
        StructField("family", StringType, nullable = true), // String field: typed encoder marks nullable
        StructField("nVars", IntegerType, nullable = false),
        StructField("maxLag", IntegerType, nullable = false),
        StructField("nPoints", IntegerType, nullable = false),
        StructField("t", LongType, nullable = false),
        StructField("time", DoubleType, nullable = false)) ++
      (1 to 8).map(i => StructField(s"X$i", DoubleType, nullable = true)) ++
      Seq(StructField("U", DoubleType, nullable = true),
        StructField("maskBits", IntegerType, nullable = false)))
  }

  /** High-throughput wide view: the kernel emits catalyst InternalRows
    * directly (via the graftshim bridge), skipping the typed-Encoder layer —
    * same values and schema as `wide(series(...))` (GenerateSpec pins bitwise
    * equality), ~2-3× the emission rate. Use for bulk generation; the typed
    * Dataset[SeriesRow] path remains the API for typed consumers.
    */
  def wideFast(spark: SparkSession, cfgs: Seq[GenConfig],
      strict: Boolean = false): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
    import org.apache.spark.unsafe.types.UTF8String
    val slices = math.max(1, math.min(cfgs.size, spark.sparkContext.defaultParallelism * 2))
    // one residue class (i mod slices) per partition, NOT contiguous count
    // slices: the grid is family-blocked with nPoints ascending inside each
    // block, so contiguous slicing concentrates the expensive configs in a
    // few tasks (r2 driver bench: 34.5s fast sweep vs 2.8s typed; the typed
    // path round-robins via repartition). Striding spreads cost evenly with
    // zero shuffle.
    val groups = (0 until slices).map(s =>
      cfgs.indices.collect { case i if i % slices == s => cfgs(i) })
    val rows = spark.sparkContext.parallelize(groups, slices)
      .mapPartitions { git =>
        // one reused UnsafeRowWriter per partition: fields are written
        // unboxed straight into the row buffer, so the only per-row
        // allocation is the .copy() (one UnsafeRow + one byte[]). The boxed
        // GenericInternalRow this replaces allocated ~19 objects/row, which
        // under a memory-constrained or GC-contended JVM made this "fast"
        // path many times slower than the typed Encoder path (r2/r3 driver
        // bench: ~35s vs ~3s sweep) while looking fine on an idle 128 GiB
        // box.
        val writer = new UnsafeRowWriter(17)
        git.flatten.flatMap { cfg =>
          val s = Kernel.generate(cfg, strict)
          val spec = Kernel.specs(cfg.family)
          val famU8 = UTF8String.fromString(cfg.family)
          (0 until cfg.nPoints).iterator.map { t =>
            writer.reset()
            writer.zeroOutNullBytes()
            writer.write(0, cfg.configId)
            writer.write(1, famU8)
            writer.write(2, cfg.nVars)
            writer.write(3, cfg.maxLag)
            writer.write(4, cfg.nPoints)
            writer.write(5, t.toLong)
            writer.write(6, s.times(t))
            var j = 0
            while (j < 8) {
              if (j < cfg.nVars) writer.write(7 + j, s.x(t)(j))
              else writer.setNullAt(7 + j)
              j += 1
            }
            if (spec.hasU) writer.write(15, s.u(t)) else writer.setNullAt(15)
            writer.write(16, s.mask(t))
            writer.getRow.copy(): org.apache.spark.sql.catalyst.InternalRow
          }
        }
      }
    org.apache.spark.sql.graftshim.RowShim.internalCreateDataFrame(spark, rows, WideSchema)
  }

  /** Canonical long format (SURVEY §1.4): one row per (config, t, var).
    * Unpivot via stack — no shuffle; nulls (absent vars) dropped.
    */
  def long(ds: Dataset[SeriesRow]): DataFrame = {
    val wideDf = wide(ds)
    val varCols = (1 to 8).map(i => s"'X$i', X$i") :+ "'U', U"
    wideDf.select(col("configId"), col("family"), col("t"), col("time"),
        expr(s"stack(${varCols.size}, ${varCols.mkString(", ")}) AS (var, value)"))
      .where(col("value").isNotNull)
  }

  /** The "missing" view: masked X cells → null (D families' *_missing.csv). */
  def missingView(df: DataFrame): DataFrame = {
    (1 to 8).foldLeft(df) { (d, i) =>
      d.withColumn(s"X$i",
        when((shiftright(col("maskBits"), i - 1).bitwiseAND(lit(1))) === 1, lit(null))
          .otherwise(col(s"X$i")))
    }
  }

  /** Truth links for all families as a Dataset (tiny dimension table —
    * single partition so downstream joins don't fan empty tasks).
    */
  def truthLinks(spark: SparkSession): Dataset[CausalLink] = {
    import spark.implicits._
    val all = for {
      fam <- Catalog.families
      v <- Seq(4, 6, 8); lag <- Seq(2, 3, 4)
      link <- Parser.truthLinks(fam, v, lag)
    } yield link
    spark.createDataset(all).coalesce(1)
  }

  /** Partitioned parquet sink: family/nVars/maxLag directories give Catalyst
    * partition pruning on the standard access pattern (per-config reads).
    */
  def writeParquet(df: DataFrame, path: String): Unit = {
    // partition by whichever pruning columns the view carries (the long()
    // view drops nVars/maxLag)
    val parts = Seq("family", "nVars", "maxLag").filter(df.columns.contains)
    df.write.mode("overwrite")
      .partitionBy(parts: _*)
      .parquet(path)
  }

  /** Trend + seasonality components as pure DataFrame ops (G7/G8 Spark
    * mapping, c1.py:126-141): for each var 1..nVars and index 0..n-1,
    *   trend = strength · (var)·0.5 · t
    *   season = s·[sin(2πτ/12 + φ) + 0.5·cos(4πτ/12 + φ)], φ = 2π(var−1)/8
    * (discrete τ = t; the continuous-τ variant substitutes the timestamp).
    */
  def trendSeason(spark: SparkSession, nVars: Int, n: Int,
      trendStrength: Double, seasonalStrength: Double): DataFrame = {
    val period = 12.0
    spark.range(n).toDF("t")
      .crossJoin(spark.range(1, nVars + 1).toDF("var_idx"))
      .withColumn("phase", lit(2.0 * math.Pi) * (col("var_idx") - 1) / 8.0)
      .withColumn("trend", round(lit(trendStrength) * col("var_idx") * 0.5 * col("t"), 6))
      .withColumn("season", round(lit(seasonalStrength) *
        (sin(lit(2.0 * math.Pi) * col("t") / period + col("phase")) +
         lit(0.5) * cos(lit(4.0 * math.Pi) * col("t") / period + col("phase"))), 6))
      .select(col("t"), col("var_idx"), col("trend"), col("season"))
  }

  /** Structural (exact-integer) form of the trend/season precompute, for
    * oracle parity: transcendental doubles are the wrong cross-engine
    * contract (JVM libm vs DuckDB libm differ by 1 ulp on some grid points —
    * r1 q31). With period 12 and phase 2π(var−1)/8, every sin/cos argument is
    * an exact multiple of 2π/24:
    *   sin-arg = 2π(2t + 3(var−1))/24, cos-arg = 2π(4t + 3(var−1))/24
    * and trend = strength·var·0.5·t is rational. This emits those integers
    * (`arg*_24` as 24ths of a turn mod 24, trend in exact micro-units);
    * `GenerateSpec` pins the numeric `trendSeason` to sin/cos of exactly
    * these arguments, closing the loop to the double-valued kernel path.
    */
  def trendSeasonStructural(spark: SparkSession, nVars: Int, n: Int,
      trendMicroPerVarT: Long): DataFrame =
    spark.range(n).toDF("t")
      .crossJoin(spark.range(1, nVars + 1).toDF("var_idx"))
      .withColumn("trend_micro", lit(trendMicroPerVarT) * col("var_idx") * col("t"))
      .withColumn("arg1_24", (lit(2L) * col("t") + lit(3L) * (col("var_idx") - 1)) % 24)
      .withColumn("arg2_24", (lit(4L) * col("t") + lit(3L) * (col("var_idx") - 1)) % 24)
      .select(col("t"), col("var_idx"), col("trend_micro"), col("arg1_24"), col("arg2_24"))

  /** Truth-tensor cells in long form (S3, a1.py:251-266): cell (i,j,k) =
    * "var i at t−k → var j at t"; contemporaneous entries are symmetric in the
    * value tensor but stay directed in the boolean graph tensor; confounded
    * variants place U at index nVars (a1c.py:315).
    */
  def tensorCells(links: DataFrame): DataFrame = {
    val base = links
      .withColumn("i",
        when(col("source") === "U", col("n_vars"))
          .otherwise(substring(col("source"), 2, 2).cast("int") - 1))
      .withColumn("j",
        when(col("target") === "U", col("n_vars"))
          .otherwise(substring(col("target"), 2, 2).cast("int") - 1))
      .withColumn("k", col("lag"))
    val fwd = base.select(col("family"), col("n_vars"), col("max_lag"),
      col("i"), col("j"), col("k"), col("coef").as("value"), lit(1).as("edge"))
    val sym = base.where(col("k") === 0).select(col("family"), col("n_vars"),
      col("max_lag"), col("j").as("i"), col("i").as("j"), col("k"),
      col("coef").as("value"), lit(0).as("edge"))
    fwd.union(sym)
      .groupBy("family", "n_vars", "max_lag", "i", "j", "k")
      .agg(round(max("value"), 6).as("value"), max("edge").as("edge"))
  }

  /** `n` synthetic documents (doc_id, text) with a Zipf vocabulary: each
    * draws 80 tokens "t<rank>" from 10k types with log-uniform ranks
    * (rank = ⌊exp(u·ln V)⌋, the inverse CDF of Zipf s≈1; u from
    * xxhash64("zipf", doc_id, pos)), so posting lists are selective.
    */
  def zipfDocs(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n).select(col("id").as("doc_id"))
      .withColumn("pos", explode(expr("sequence(0, 79)")))
      .select(col("doc_id"), concat(lit("t"),
        floor(exp((pmod(xxhash64(lit("zipf"), col("doc_id"), col("pos")),
            lit(1000000L)).cast("double") / 1e6) *
          log(lit(10000.0)))).cast("long")).as("tok"))
      .groupBy("doc_id")
      .agg(concat_ws(" ", collect_list(col("tok"))).as("text"))
}
