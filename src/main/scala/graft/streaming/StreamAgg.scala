package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface (SURVEY §3.4: reference is batch-only; the
  * engine adds event-time streaming as the natural extension for the events
  * table): file source → event-time tumbling window aggregation → sink.
  *
  * For the synchronous local check the sink is a memory table driven with
  * `processAllAvailable()`; in production the same plan writes to a parquet
  * sink with a watermark bounding state. Complete output mode makes the
  * result equal to the batch aggregation over static input — which is exactly
  * what the DuckDB oracle computes.
  */
object StreamAgg {

  /** The shared streaming pipeline: events file stream (the source requires a
    * directory — glob-filtered to the events file) → watermark → event-time
    * tumbling-window aggregation (sink chosen by caller).
    */
  private def windowedAgg(source: DataFrame, windowSec: Long): DataFrame = {
    source
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "10 minutes")
      .groupBy(
        window(col("event_time"), s"$windowSec seconds").as("w"),
        col("event_type"))
      // exact LONG micro sum: double partial sums are merge-order dependent
      // across micro-batches/partitions (the r2 q30/q38 failure class)
      .agg(count(lit(1)).as("n_events"),
           sum(floor(col("value") * lit(1e6))).as("sum_value_micro"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
              col("event_type"), col("n_events"), col("sum_value_micro"))
  }

  /** Tumbling-window counts/sums by event_type over the events parquet dir,
    * computed as a real streaming query. windowSec buckets on epoch-µs.
    */
  def eventsWindowed(spark: SparkSession, sfDir: String, windowSec: Long = 300L,
      queryName: String = "graft_stream_agg"): DataFrame =
    StreamSupport.runToMemory(
      windowedAgg(StreamSupport.eventsFileStream(spark, sfDir), windowSec),
      queryName, outputMode = "complete")

  /** SLIDING-window variant: width > slide, so every event lands in
    * ceil(width/slide) overlapping windows — the "last 5 minutes, updated
    * every minute" dashboard shape. Same watermarked source, same exact
    * LONG micro-sum contract; state is width/slide × the tumbling volume,
    * still bounded by the watermark horizon. The oracle replays the window
    * assignment relationally (event × slide-offset range).
    */
  private def slidingAgg(source: DataFrame, widthSec: Long,
      slideSec: Long): DataFrame =
    source
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "10 minutes")
      .groupBy(
        window(col("event_time"), s"$widthSec seconds", s"$slideSec seconds").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(floor(col("value") * lit(1e6))).as("sum_value_micro"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
              col("event_type"), col("n_events"), col("sum_value_micro"))

  def eventsSlidingWindowed(spark: SparkSession, sfDir: String,
      widthSec: Long, slideSec: Long,
      queryName: String = "graft_stream_sliding"): DataFrame =
    StreamSupport.runToMemory(
      slidingAgg(StreamSupport.eventsFileStream(spark, sfDir), widthSec, slideSec),
      queryName, outputMode = "complete")

  /** Sliding windows ACROSS micro-batches (time-split source,
    * maxFilesPerTrigger=1): windows overlapping the split accumulate state
    * from both batches; complete mode makes the final table equal the
    * single-batch run, so it shares q103's oracle.
    */
  def eventsSlidingWindowedMultiBatch(spark: SparkSession, sfDir: String,
      widthSec: Long, slideSec: Long, splitDir: String,
      queryName: String): DataFrame =
    StreamSupport.runToMemory(
      slidingAgg(StreamSupport.eventsSplitStream(spark, sfDir, splitDir),
        widthSec, slideSec),
      queryName, outputMode = "complete")

  /** The same aggregation driven through ≥2 micro-batches (time-split source,
    * maxFilesPerTrigger=1): cross-batch state merge for windows straddling
    * the split. Complete output mode makes the final table equal to the
    * batch aggregation regardless of batch decomposition, so q56 shares
    * q18's oracle.
    */
  def eventsWindowedMultiBatch(spark: SparkSession, sfDir: String,
      windowSec: Long, splitDir: String, queryName: String): DataFrame =
    StreamSupport.runToMemory(
      windowedAgg(StreamSupport.eventsSplitStream(spark, sfDir, splitDir), windowSec),
      queryName, outputMode = "complete")

  /** Per-day value-histogram stream for the q289 drift monitor: tumbling
    * 1-day event-time windows × coarse value bins (vm div binMicro),
    * complete mode — the same watermark-bounded shape as the windowed
    * aggregations, state = #days × #bins rows. Downstream the batch side
    * compares each day's binned CDF against the full-corpus reference
    * with the q280 KS integer contract.
    */
  def eventsDailyHistogram(spark: SparkSession, sfDir: String,
      binMicro: Long, queryName: String): DataFrame = {
    val src = StreamSupport.eventsFileStream(spark, sfDir)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "86400 seconds").as("w"),
        expr(s"cast(floor(value * 1e6) as bigint) div $binMicro")
          .as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("day_start_us"),
        col("bin"), col("n"))
    StreamSupport.runToMemory(src, queryName, outputMode = "complete")
  }

  /** The q319 log-bucket quantile-sketch state as a STREAMING aggregation:
    * (event_type, octave, bucket-lower-bound) counts merged across
    * micro-batches in complete mode. The sketch's mergeability is exactly
    * what makes it streamable with bounded state (≤ |types|·octaves·16
    * bucket rows, independent of the event volume); positive-domain
    * contract like the batch entry.
    */
  def eventsDdsketchBuckets(spark: SparkSession, sfDir: String,
      splitDir: String, queryName: String): DataFrame = {
    val keyed = StreamSupport.eventsSplitStream(spark, sfDir, splitDir)
      .select(col("event_type"),
        expr("cast(floor(value * 1e6 + 0.5) as bigint)").as("v"))
      .where(col("v") > 0)
      .withColumn("b", expr("length(bin(v))"))
      .withColumn("lb", expr(
        """(v div shiftleft(1L, cast(greatest(b - 4, 0) as int)))
          | * shiftleft(1L, cast(greatest(b - 4, 0) as int))"""
          .stripMargin))
    StreamSupport.runToMemory(
      keyed.groupBy("event_type", "b", "lb").agg(count(lit(1)).as("cnt")),
      queryName, outputMode = "complete")
  }

  /** HLL distinct-user registers maintained BY THE STREAM: the same
    * integer register contract as the batch build ([[graft.ops.Sketch]])
    * run as a streaming aggregation over a 2-micro-batch split source —
    * per-(event_type, bucket) max-rank state merges across batches by the
    * very `max` the sketch's mergeability guarantees, so running distinct
    * counts on an unbounded stream cost groups·m state rows, ever.
    * Complete mode ⇒ the final registers equal the batch build, and one
    * relational oracle covers both.
    */
  def eventsHllRegisters(spark: SparkSession, sfDir: String, splitDir: String,
      queryName: String): DataFrame = {
    val src = StreamSupport.eventsSplitStream(spark, sfDir, splitDir)
      .withColumn("h", expr("(user_id * 48271) % 2147483647"))
    StreamSupport.runToMemory(
      graft.ops.Sketch.hllRegisters(src, Seq("event_type"), "h"),
      queryName, outputMode = "complete")
  }

  /** Watermark LATE-DROP semantics made observable: the tumbling
    * aggregation in APPEND mode over a 3-batch late-replay source (live
    * head → in-watermark top-up → late replay of sealed history). Measured
    * Spark 4.1 semantics this oracles: a late row is dropped only on
    * arrival with window end ≤ the operator's CURRENT watermark (set by
    * the prior batch); rows merging into sealed-but-not-yet-evicted state
    * still count (the 2-batch variant of this demo showed zero drops for
    * exactly that reason). The final table holds watermark-finalized
    * windows only. Both rules are integer functions of the data
    * (watermark = ms-truncated max event time − delay), which is what the
    * DuckDB oracle replays.
    */
  def eventsWindowedLateDrop(spark: SparkSession, sfDir: String,
      windowSec: Long, splitDir: String, splitUs: Long,
      queryName: String): DataFrame =
    StreamSupport.runToMemory(
      windowedAgg(
        StreamSupport.eventsLateReplayStream(spark, sfDir, splitDir, splitUs),
        windowSec),
      queryName, outputMode = "append")

  /** UPDATE-mode emission semantics: the tumbling aggregation over the
    * 2-batch parity split, NO watermark (so no arrival-order drop rule —
    * state is unbounded, the documented trade-off of watermark-free update
    * mode; production uses watermark+append, q18/q137). The memory sink in
    * update mode appends each batch's UPDATED groups, so the final table is
    * the emission log itself: every (window, type) touched by batch i emits
    * its cumulative aggregate over batches ≤ i — a pure integer function of
    * the data that the DuckDB oracle replays relationally.
    */
  def eventsWindowedUpdateMode(spark: SparkSession, sfDir: String,
      windowSec: Long, splitDir: String, queryName: String): DataFrame = {
    val src = StreamSupport.eventsParityStream(spark, sfDir, splitDir)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .groupBy(
        window(col("event_time"), s"$windowSec seconds").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * lit(1e6))).as("sum_value_micro"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("sum_value_micro"))
    StreamSupport.runToMemory(src, queryName, outputMode = "update")
  }

  /** COMPLETE output mode: a running top-3 event-type leaderboard. Sorting
    * a streaming aggregate is legal only in complete mode (append/update
    * reject it), because the sink is REPLACED with the full re-ranked
    * result each micro-batch. Driven through the 2-batch parity split so
    * the final table provably equals the batch answer regardless of how
    * the stream was chopped; count ties break on event_type so the
    * leaderboard is deterministic.
    */
  def eventsTopTypesComplete(spark: SparkSession, sfDir: String,
      splitDir: String, queryName: String): DataFrame = {
    val src = StreamSupport.eventsParityStream(spark, sfDir, splitDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * lit(1e6))).as("sum_value_micro"))
      .orderBy(col("n_events").desc, col("event_type"))
      .limit(3)
    StreamSupport.runToMemory(src, queryName, outputMode = "complete")
  }

  /** Production sink shape: the same windowed aggregation written APPEND-mode
    * to a parquet file sink with a checkpoint — watermark-closed windows only,
    * no driver-side materialization, restartable from the checkpoint. The
    * memory-sink variant above exists only for the synchronous oracle check.
    */
  def eventsWindowedToParquet(spark: SparkSession, sfDir: String,
      windowSec: Long, outPath: String): DataFrame = {
    val agg = windowedAgg(StreamSupport.eventsFileStream(spark, sfDir), windowSec)
    val q = agg.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$outPath/data")
      .option("checkpointLocation", s"$outPath/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // explicit schema: a run whose watermark closed no windows appends zero
    // files, and a schema-less read of the empty sink dir would throw
    spark.read.schema(agg.schema).parquet(s"$outPath/data")
  }
}
