package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-stream interval join (SURVEY §3.4 streaming surface): attribute
  * each purchase to the clicks by the same user in the preceding
  * `windowSec` — the canonical event-attribution join.
  *
  * Semantics contract: APPEND-mode INNER interval join. Every (click,
  * purchase) pair with `click_ts <= purchase_ts <= click_ts + window` and
  * equal user is emitted exactly once, so after the stream drains the sink
  * table equals the batch interval join over the same input — which is what
  * the DuckDB oracle computes. The time bound plus the watermark lets Spark
  * evict click state older than (watermark − window): bounded state at any
  * stream length, the thing an unbounded-condition stream join cannot do.
  *
  * The source is the time-split two-file stream (maxFilesPerTrigger=1), so
  * the join genuinely exercises CROSS-BATCH state: purchases in batch 2
  * match clicks buffered from batch 1. No late drop is possible under the
  * split contract: a cross-batch match needs click_time > purchase_ts −
  * window > median − window, while batch 1's watermark is median − 30 min,
  * and window (10 min) < 30 min.
  *
  * The join runs four state stores per shuffle partition per micro-batch
  * (left/right × keyToNumValues/keyWithIndexToValue); both sides read
  * through [[StreamSupport.streamSession]], so that count is
  * [[StreamSupport.streamShufflePartitions]], and the caller's session
  * conf is left alone.
  */
object StreamJoin {

  def clickPurchaseAttribution(spark: SparkSession, sfDir: String,
      splitDir: String, windowSec: Long = 600L,
      queryName: String = "graft_stream_join"): DataFrame =
    clickPurchaseAttributionImpl(spark, sfDir, splitDir, windowSec,
      queryName, "inner")

  /** LEFT-OUTER variant: the same interval join, but clicks that never
    * match a purchase ALSO emit (purchase columns null) — once the global
    * watermark passes `click_time + window`, the engine knows no future
    * purchase can match and evicts-with-emission. With AvailableNow the
    * final no-data micro-batch runs that eviction using the end-of-stream
    * watermark, so the sink is a pure function of the data: inner matches
    * ∪ never-matched clicks with click_ts + window below the final
    * watermark (per-side ms-truncated max event time − delay, min across
    * the two sides — the q137-measured watermark arithmetic). Clicks above
    * that line stay in state forever and never surface — real outer-join
    * streaming semantics, which the oracle replays exactly.
    */
  def clickPurchaseAttributionOuter(spark: SparkSession, sfDir: String,
      splitDir: String, windowSec: Long = 600L,
      queryName: String = "graft_stream_join_outer"): DataFrame =
    clickPurchaseAttributionImpl(spark, sfDir, splitDir, windowSec,
      queryName, "leftOuter")

  private def clickPurchaseAttributionImpl(spark: SparkSession, sfDir: String,
      splitDir: String, windowSec: Long,
      queryName: String, joinType: String): DataFrame = {
    def side(tag: String, eventType: String): DataFrame =
      StreamSupport.eventsSplitStream(spark, sfDir, splitDir)
        .where(col("event_type") === eventType)
        .select(col("user_id").as(s"${tag}_user_id"),
          col("event_id").as(s"${tag}_id"),
          expr("ts div 1000").as(s"${tag}_ts_us"))
        .withColumn(s"${tag}_time", timestamp_micros(col(s"${tag}_ts_us")))
        .withWatermark(s"${tag}_time", "30 minutes")
    val clicks = side("click", "click")
    val purchases = side("purchase", "purchase")
    val joined = clicks.join(purchases,
      col("click_user_id") === col("purchase_user_id") &&
        col("purchase_time") >= col("click_time") &&
        col("purchase_time") <= col("click_time") +
          expr(s"INTERVAL $windowSec SECONDS"),
      joinType)
      .select(col("click_user_id").as("user_id"), col("click_id"),
        col("purchase_id"), col("click_ts_us"), col("purchase_ts_us"),
        (col("purchase_ts_us") - col("click_ts_us")).as("delay_us"))
    StreamSupport.runToMemory(joined, queryName, outputMode = "append")
  }
}
