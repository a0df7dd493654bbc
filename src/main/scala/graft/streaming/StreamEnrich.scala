package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-static enrichment: a streaming fact joined against a static (or
  * slowly-changing, re-read per batch) dimension — the fourth core streaming
  * pattern next to windowed agg, sessionization, and dedup. The static side
  * broadcasts per microbatch; no stream state is kept, so the operator is
  * O(1) memory regardless of stream length.
  */
object StreamEnrich {

  /** Enrich each streamed event with a per-user profile from a static
    * snapshot (purchase count and buyer flag): returns one row per event with
    * (user_id, event_id, event_type, n_purchases, is_buyer).
    */
  def enrichEvents(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val static = StreamSupport.streamSession(spark)
      .read.parquet(s"$sfDir/events.parquet")
      .groupBy("user_id")
      .agg(sum((col("event_type") === "purchase").cast("long")).as("n_purchases"))
      .withColumn("is_buyer", col("n_purchases") > 0)
    val stream = StreamSupport.eventsFileStream(spark, sfDir)
      .select("event_id", "user_id", "event_type")
      .join(broadcast(static), Seq("user_id"))
    StreamSupport.runToMemory(stream, queryName)
  }

  /** SCD2 (interval-valid) dimension lookup on a stream — the
    * late-arriving-dimension pattern: each streamed purchase gets the state
    * its user was in just before it (`Sessionize.stateBefore`, q149's
    * point-in-time rule). The non-equi interval predicate is fine on a
    * stream-static join (static side broadcast per batch, zero stream
    * state). Append mode: the final table equals the batch join.
    */
  def enrichPurchasesScd2(spark: SparkSession, sfDir: String,
      splitDir: String, queryName: String): DataFrame = {
    val static = StreamSupport.tsToLongNs(StreamSupport.streamSession(spark)
      .read.parquet(s"$sfDir/events.parquet"))
    StreamSupport.runToMemory(graft.ops.Sessionize.stateBefore(
      StreamSupport.eventsSplitStream(spark, sfDir, splitDir),
      broadcast(graft.ops.Sessionize.stateVersions(static))), queryName)
  }
}
