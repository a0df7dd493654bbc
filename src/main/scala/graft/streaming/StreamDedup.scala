package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming exact deduplication — the training-pipeline pattern of dropping
  * duplicate documents as they arrive. Dedup state is keyed on the 8-byte
  * content hash (not the text), so per-key state is fixed-width; with an
  * event-time column the bounded variant is `dropDuplicatesWithinWatermark`,
  * which ages state out — the unbounded variant here fits the static-corpus
  * harness (state = one long per distinct doc).
  */
object StreamDedup {

  /** First occurrence (by arrival) of each distinct text in the documents
    * stream; returns (doc_id, h) of survivors.
    */
  def dedupDocuments(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val schema: StructType = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val stream = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .withColumn("h", xxhash64(col("text")))
      .select("doc_id", "h")
      .dropDuplicates("h")
    StreamSupport.runToMemory(stream, queryName)
  }

  /** Bounded-state variant for event-timed streams: dedup state is aged out
    * once the watermark passes an event's time — the production shape when
    * duplicates only arrive within a bounded window (e.g. at-least-once
    * ingestion retries), keeping state O(recent window) instead of O(corpus).
    */
  def dedupEventsWithinWatermark(spark: SparkSession, sfDir: String,
      queryName: String, delay: String = "1 hour"): DataFrame = {
    val stream = StreamSupport.eventsFileStream(spark, sfDir)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", delay)
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id", "user_id", "ts_us")
    StreamSupport.runToMemory(stream, queryName)
  }

  /** Driver-contract composition of streaming dedup + stream-static
    * enrichment (the two streaming ops previously covered only by
    * batch-equality unit tests): every event arrives TWICE (a self-union of
    * two split-stream sources — the at-least-once-retry shape),
    * `dropDuplicatesWithinWatermark` drops the copies (within-batch and
    * cross-batch state), and each survivor is enriched against a static
    * per-user profile via a per-batch broadcast join. Duplicate copies are
    * byte-identical, so the survivor ROW is deterministic no matter which
    * copy wins the state race — the drained sink equals the batch
    * dedup+join, which is the oracle.
    */
  def dedupEnrichEvents(spark: SparkSession, sfDir: String, splitDir: String,
      queryName: String): DataFrame = {
    val static = StreamSupport.streamSession(spark)
      .read.parquet(s"$sfDir/events.parquet")
      .groupBy("user_id")
      .agg(sum((col("event_type") === "purchase").cast("long")).as("n_purchases"))
      .withColumn("is_buyer", (col("n_purchases") > 0).cast("int"))
    def src() = StreamSupport.eventsSplitStream(spark, sfDir, splitDir)
    val stream = src().unionByName(src())
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .select("user_id", "event_id", "event_type")
      .join(broadcast(static), Seq("user_id"))
    StreamSupport.runToMemory(stream, queryName)
  }
}
