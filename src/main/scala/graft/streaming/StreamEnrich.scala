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
    * late-arriving-dimension pattern: each streamed purchase joins the
    * static version table on user PLUS the validity interval at ts−1
    * (q149's point-in-time rule), so the enrichment answers "which state
    * was this user in when they purchased". The non-equi interval
    * predicate is fine on a stream-static join (static side broadcast per
    * batch, zero stream state); first-ever-event purchases get 'none'.
    * Append mode: the final table equals the batch join — the oracle.
    */
  def enrichPurchasesScd2(spark: SparkSession, sfDir: String,
      splitDir: String, queryName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = StreamSupport.tsToLongNs(StreamSupport.streamSession(spark)
        .read.parquet(s"$sfDir/events.parquet"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("ts_us"))
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val runs = ev.withColumn("prev", lag("event_type", 1).over(w))
      .withColumn("brk", when(col("prev").isNull ||
        col("prev") =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("run_id", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "run_id", "event_type")
      .agg(min("ts_us").as("valid_from"))
    val versions = runs
      .withColumn("valid_to", lead("valid_from", 1).over(
        Window.partitionBy("user_id").orderBy("run_id")))
      .select(col("user_id").as("v_user"), col("event_type").as("state"),
        col("valid_from"), col("valid_to"))
    val stream = StreamSupport.eventsSplitStream(spark, sfDir, splitDir)
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"))
    val joined = stream.join(broadcast(versions),
        col("user_id") === col("v_user") &&
        col("valid_from") <= col("ts_us") - 1 &&
        (col("valid_to").isNull || col("valid_to") > col("ts_us") - 1),
        "left")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_us"), coalesce(col("state"), lit("none")).as("state_before"))
    StreamSupport.runToMemory(joined, queryName)
  }
}
