package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Shared plumbing for the streaming operators: the events file source (one
  * definition of the nanos conf / schema read / glob-filtered directory
  * stream) and the synchronous memory-sink drain the harness checks use.
  */
private[streaming] object StreamSupport {

  /** events.ts normalized to the long-ns contract — see
    * [[graft.sources.Events.tsToLongNs]].
    */
  def tsToLongNs(df: DataFrame): DataFrame =
    graft.sources.Events.tsToLongNs(df)

  /** State-partition count for the streaming queries. Streaming state
    * cost is per (partition × micro-batch): every micro-batch opens,
    * snapshots and commits one state store per shuffle partition, so
    * partitions should track STATE VOLUME, not core count — these queries
    * carry KB-scale aggregation state per batch, and inheriting the
    * session's core-derived spark.sql.shuffle.partitions (32 on the bench
    * host) made every micro-batch pay 32 store lifecycles for ~KB of state
    * (interleaved medians when it landed in commit f65c545:
    * q137 15.9→3.4 s, q183 11.8→2.3 s, q165 17.0→7.3 s, q18 7.0→2.6 s at
    * 32→8; flat below 8). Results are partition-count-invariant (keyed
    * state, aggregations, joins). Spark pins the count into each query's
    * checkpoint at its first run, so a restart keeps the count it started
    * with.
    */
  private[streaming] val streamShufflePartitions: Int = 8

  /** The session streaming queries run on: a per-(thread, parent) child
    * session whose conf is a copy of the parent's at first use plus the
    * stream overrides above. A CHILD session (not a conf flip on the
    * shared session) because Verify drives queries from 4 concurrent
    * worker threads — mutating the shared session's shuffle partitions
    * around each stream start would race the sibling threads' batch
    * planning. Thread-cached so a thread's successive stream queries
    * share one temp-view catalog (the memory-sink cleanup in
    * [[runToMemory]] drops a thread's previous sink from the same
    * session it was registered on).
    */
  private val childSessions =
    new ThreadLocal[(SparkSession, SparkSession)]

  private[streaming] def streamSession(spark: SparkSession): SparkSession = {
    val cached = childSessions.get()
    if (cached != null && (cached._1 eq spark)) cached._2
    else {
      val s2 = spark.newSession()
      // runtime session conf does not carry over newSession(): copy the
      // parent's view (static/immutable keys throw — skip them), then
      // apply the stream overrides
      spark.conf.getAll.foreach { case (k, v) =>
        try s2.conf.set(k, v) catch { case _: Throwable => () }
      }
      s2.conf.set("spark.sql.shuffle.partitions",
        streamShufflePartitions.toString)
      s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      childSessions.set((spark, s2))
      s2
    }
  }

  /** The events parquet as a file stream (the source requires a directory —
    * glob-filtered to the events file; schema from a batch read).
    */
  def eventsFileStream(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = streamSession(spark)
    val schema: StructType = ss.read.parquet(s"$sfDir/events.parquet").schema
    tsToLongNs(ss.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir))
  }

  /** Time-split copies of the events table as TWO parquet files in one
    * directory, streamed with maxFilesPerTrigger=1 → one micro-batch per
    * file (oldest first via explicit modification times), exercising
    * cross-batch state and mid-stream watermark advancement. Splitting at
    * the median timestamp keeps every batch-2 event above batch 1's
    * watermark (max − 1 h), so nothing is late-dropped and the emitted set
    * equals the single-batch run's under the finality contract.
    *
    * Concurrency contract: split creation is serialized within this JVM (a
    * process-wide lock below), and `splitDir` assumes a SINGLE WRITER across
    * processes — two JVMs splitting into the same directory concurrently
    * could interleave file moves and marker writes. Give each concurrent
    * query its own splitDir.
    */
  private val splitLock = new Object

  /** The source-agnostic core of the split builders: materialize `parts` as
    * split_a, split_b, … in `splitDir` with pinned ascending modification
    * times (split_a streams first), cache-keyed on `cacheKey`, and return
    * the 1-file-per-trigger stream. `parts` is by-name — only evaluated
    * (and executed) when the cached splits are stale. Generic over any
    * source frame; the events builders layer their source identity key and
    * source caching on top, generated-data callers key on their dump
    * identity (regeneration is deterministic).
    */
  private[streaming] def splitFilesStream(spark: SparkSession,
      splitDir: String, cacheKey: String)
      (parts: => Seq[DataFrame]): DataFrame =
    splitLock.synchronized {
    val dir = new java.io.File(splitDir)
    val marker = new java.io.File(dir, "_source_key.txt")
    val fresh = marker.exists() &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath)) == cacheKey
    lazy val ps = parts
    if (!fresh) {
      dir.mkdirs()
      def writeOne(df: DataFrame, target: java.io.File, modMs: Long): Unit = {
        val tmp = new java.io.File(dir, s"_tmp_${target.getName}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
        val part = tmp.listFiles().find(f =>
          f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath, target.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        scala.reflect.io.Directory(tmp).deleteRecursively()
        // the file source orders by (modified time, path): pin both — a
        // silent setLastModified failure would reorder batches, late-drop
        // the wrong rows, and diverge from the emission-model oracle
        require(target.setLastModified(modMs),
          s"cannot pin mtime on $target; split-stream batch order undefined")
      }
      // stale extra splits from a previous (larger-N) layout must not leak
      // into this stream
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("split_")).foreach(_.delete())
      ps.zipWithIndex.foreach { case (df, i) =>
        writeOne(df, new java.io.File(dir, s"split_${('a' + i).toChar}.parquet"),
          (i + 1) * 1000000L)
      }
      java.nio.file.Files.write(marker.toPath, cacheKey.getBytes)
    }
    // schema from the first part frame — construction only, no job; when
    // fresh, read it from the split files themselves to avoid building parts
    val schema =
      if (fresh) spark.read.parquet(splitDir).schema else ps.head.schema
    streamSession(spark).readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(splitDir)
  }

  /** [[splitFilesStream]] over the events table, keyed on its file
    * identity: `parts` maps the cached events frame to the per-batch views.
    */
  private def splitStream(spark: SparkSession, sfDir: String, splitDir: String)
      (parts: DataFrame => Seq[DataFrame]): DataFrame = {
    // cache keyed on the SOURCE file identity — a bare existence check would
    // silently stream stale splits after an sfDir change into the same dir
    val src = new java.io.File(s"$sfDir/events.parquet")
    val key = s"${src.getAbsolutePath}:${src.length()}:${src.lastModified()}"
    // the build makes several passes (split stats + one filtered write per
    // batch) — the by-name block persists the source across them (it only
    // runs when the splits are stale, and the writes happen before
    // splitFilesStream returns), freed here right after
    var cached: Option[DataFrame] = None
    try splitFilesStream(spark, splitDir, key) {
      val ev = tsToLongNs(
        streamSession(spark).read.parquet(s"$sfDir/events.parquet"))
      ev.persist()
      cached = Some(ev)
      parts(ev)
    } finally cached.foreach(_.unpersist())
  }

  /** Time-split: batch A = events at or before the median timestamp, batch
    * B = the rest. Every batch-2 event is above batch 1's watermark, so
    * nothing is late-dropped (see class doc).
    */
  def eventsSplitStream(spark: SparkSession, sfDir: String,
      splitDir: String): DataFrame =
    splitStream(spark, sfDir, splitDir) { ev =>
      import org.apache.spark.sql.functions.{col, expr}
      val mid = ev.agg(expr("percentile(ts, 0.5)")).first().getDouble(0).toLong
      Seq(ev.where(col("ts") <= mid), ev.where(col("ts") > mid))
    }

  /** Parity split, 2 batches over the WHOLE timeline (even ids then odd
    * ids): unlike the median time-split, batch 2 re-touches almost every
    * window batch 1 built, which is exactly the state-merge regime an
    * UPDATE-mode sink exists to expose. Used without a watermark so no
    * arrival-order drop rule applies (see eventsWindowedUpdateMode).
    */
  def eventsParityStream(spark: SparkSession, sfDir: String,
      splitDir: String): DataFrame =
    splitStream(spark, sfDir, splitDir) { ev =>
      import org.apache.spark.sql.functions.col
      Seq(ev.where(col("event_id") % 2 === 0),
        ev.where(col("event_id") % 2 === 1))
    }

  /** Late-replay split, 3 batches: (1) even event ids over the whole
    * timeline — the live head, whose watermark seals history; (2) odd ids
    * ABOVE the split timestamp — in-watermark top-up that triggers the
    * first eviction/emission; (3) odd ids at or below it — the late replay
    * arriving after its windows were already finalized. The median split,
    * by construction, never exercises the drop path; this one makes it
    * observable. `splitUs` is a FIXED epoch-µs boundary (not a computed
    * percentile) compared at µs granularity — the raw ns column floors to
    * µs first, matching the oracle engine's µs timestamps exactly.
    */
  def eventsLateReplayStream(spark: SparkSession, sfDir: String,
      splitDir: String, splitUs: Long): DataFrame =
    splitStream(spark, sfDir, splitDir) { ev =>
      import org.apache.spark.sql.functions.{col, expr}
      val odd = col("event_id") % 2 === 1
      val tsUs = expr("ts div 1000")
      Seq(ev.where(!odd),
        ev.where(odd && tsUs > splitUs),
        ev.where(odd && tsUs <= splitUs))
    }

  // sink tables THIS module created and has not yet dropped — scoping the
  // cleanup to this set (not a name-prefix sweep of the whole catalog) so an
  // unrelated user/test temp view that happens to match a prefix is never
  // unpersisted or dropped out from under its owner. Keyed by creating
  // THREAD: Verify's concurrent workers each run stream queries serially,
  // and r14's first parallel run proved cross-thread cleanup is a race (a
  // worker's `drop previous sinks` fired between a sibling's sink
  // registration and its table read → TABLE_OR_VIEW_NOT_FOUND on 7 stream
  // queries). A thread only ever drops ITS OWN previous sinks; the residue
  // is bounded at one small sink table per worker thread.
  private val createdSinks =
    scala.collection.mutable.LinkedHashMap.empty[String, Long]

  /** Data-carrying micro-batch count of the most recent runToMemory drain
    * (set after processAllAvailable; used by specs to prove split sources
    * really produce one batch per file).
    */
  @volatile var lastDataBatches: Int = -1

  /** Run a streaming DataFrame to a memory sink with AvailableNow, drain it,
    * and return the materialized table (cached — the sink table goes away
    * with the next query of the same name).
    */
  def runToMemory(df: DataFrame, queryName: String,
      outputMode: String = "append"): DataFrame = {
    val spark = df.sparkSession
    // harness queries use unique (nanoTime-suffixed) sink names, so stale
    // sinks are never overwritten by name reuse — drop previous runs' cached
    // sink tables here or a bench loop pins every past result in memory
    val tid = Thread.currentThread().getId
    createdSinks.synchronized {
      createdSinks.toSeq.collect {
        case (name, owner) if owner == tid && name != queryName => name
      }.foreach { name =>
        try {
          spark.table(name).unpersist()
          spark.catalog.dropTempView(name)
        } catch { case _: Throwable => () }
        createdSinks -= name
      }
      createdSinks(queryName) = tid
    }
    val q = df.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    // observability for the multi-batch contracts: how many micro-batches
    // actually carried data (split sources must see one per file — a single
    // combined batch would silently void every cross-batch test)
    lastDataBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    val out = df.sparkSession.table(queryName)
    out.cache(); out.count()
    out
  }
}
