package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{GenConfig, Grid, Kernel, Parser}
import graft.generate.{Generate, Sinks}
import graft.metrics.{Causal, Metrics}

/** What one iteration did: the ops it ran, how many of them threw, and a
  * digest per op that must repeat on every iteration of the run.
  */
final case class Outcome(ops: Int, failed: Int, digests: Map[String, String])

trait Workload {
  /** Builds the inputs, once per run, during set-up. */
  def build(): Unit
  /** Untimed work before each iteration (clearing the previous output). */
  def prepare(): Unit = ()
  def iterate(tr: Tracer): Outcome
  /** Untimed output check after each iteration; returns failure messages. */
  def check(first: Boolean): Seq[String] = Nil
  /** Traced runs only: isolated calls into layers whose work the iteration
    * body does not expose as a separate call.
    */
  def probe(tr: Tracer): Unit = ()
  /** Figures recorded with the result (sizes, byte counts, digests). */
  def facts: Map[String, Any] = Map.empty
}

object Workloads {
  def apply(name: String, spark: SparkSession, seed: Long, work: String,
      data: String): Workload = name match {
    case "corpus_discovery" => new CorpusDiscovery(
      new CorpusWrite(spark, seed, work), new CatalogDiscovery(spark, seed))
    case "query_mix" => new QueryMix(spark, seed, work, data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def sha12(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .take(12).map(b => f"${b & 0xff}%02x").mkString

  /** Order-independent digest of a collected result. */
  def digestRows(rows: Array[Row]): String =
    sha12(rows.map(_.toString).sorted.mkString("\n"))

  def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** In a traced iteration, computes `df` inside the span and keeps it
    * cached, so the later call that builds the same plan reads the cache
    * and the span carries the layer's work. Untraced, it does nothing.
    */
  def force(tr: Tracer, name: String, df: => DataFrame,
      pinned: scala.collection.mutable.Buffer[DataFrame]): Unit =
    if (tr.enabled) tr.span(name) {
      val d = df.persist()
      pinned += d
      d.count()
    }

  def unpin(pinned: scala.collection.mutable.Buffer[DataFrame]): Unit = {
    pinned.foreach(_.unpersist(blocking = true))
    pinned.clear()
  }

  /** Kernel configs' row count, the unit the generation layers work in. */
  def configRows(cfgs: Seq[GenConfig]): Long = cfgs.map(_.nPoints.toLong).sum

  def kernelProbe(tr: Tracer, cfgs: Seq[GenConfig]): Long =
    tr.span("core.kernel") {
      cfgs.map(c => Kernel.generate(c).x.length.toLong).sum
    }
}

import Workloads._

/** The reference's deliverable: every corpus CSV and truth text file of
  * the seeded grid at its shortest series length (all 18 families, widths,
  * lags and noise variants), written under the checkout's work directory.
  */
final class CorpusWrite(spark: SparkSession, seed: Long, work: String)
    extends Workload {
  private val dir = s"$work/corpus"
  private var cfgs: Seq[GenConfig] = Nil
  /** relative path -> (header, line count); text files map to None. */
  private var expected: Map[String, Option[(String, Long)]] = Map.empty
  private var csvBytes = 0L
  private var csvFiles = 0L
  private var contentDigest = ""
  private var kernelRows = 0L

  def build(): Unit = {
    cfgs = Grid.all(seed).filter(_.nPoints == 500)
    expected = cfgs.flatMap { c =>
      val spec = Kernel.specs(c.family)
      val header = ((1 to c.nVars).map(i => s"X$i") ++
        (if (spec.hasU) Seq("U") else Nil) :+ "time").mkString(",")
      val views = if (spec.mcar || spec.block) Seq(false, true) else Seq(false)
      views.map(m => Sinks.relPath(c, m) -> Some((header, c.nPoints + 1L))) ++
        Sinks.txtPaths(c).map(_ -> None)
    }.toMap
    require(expected.keySet ==
      (Sinks.corpusManifest(cfgs) ++ Sinks.txtManifest(cfgs)).toSet)
  }

  override def prepare(): Unit = deleteTree(Paths.get(dir))

  def iterate(tr: Tracer): Outcome = {
    tr.span("generate.corpus") { Sinks.writeFullCorpus(spark, dir, cfgs) }
    Outcome(1, 0, Map("corpus" -> listing()))
  }

  private def files(): Seq[(String, Path)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> p).toVector
      finally s.close()
    }
  }

  /** Names and sizes of every file written: cheap enough for each iteration. */
  private def listing(): String = {
    val fs = files()
    csvFiles = fs.count(_._1.endsWith(".csv"))
    csvBytes = fs.collect { case (r, p) if r.endsWith(".csv") => Files.size(p) }.sum
    sha12(fs.map { case (r, p) => s"$r ${Files.size(p)}" }.sorted.mkString("\n"))
  }

  override def check(first: Boolean): Seq[String] = {
    val fs = files().toMap
    val missing = expected.keySet -- fs.keySet
    val extra = fs.keySet -- expected.keySet
    val setErr =
      if (missing.isEmpty && extra.isEmpty) Nil
      else Seq(s"corpus file set: ${missing.size} missing, ${extra.size} " +
        s"unexpected (e.g. ${(missing ++ extra).take(3).mkString(", ")})")
    // headers, row counts and the content digest: read every byte once
    // per run, on the first iteration
    if (!first || setErr.nonEmpty) setErr
    else {
      val errs = scala.collection.mutable.ArrayBuffer.empty[String]
      val md = MessageDigest.getInstance("SHA-256")
      expected.toSeq.sortBy(_._1).foreach { case (rel, exp) =>
        val bytes = Files.readAllBytes(fs(rel))
        md.update(rel.getBytes(StandardCharsets.UTF_8))
        md.update(bytes)
        exp.foreach { case (header, lines) =>
          val nl = bytes.count(_ == '\n').toLong
          val h = new String(bytes.take(bytes.indexOf('\n'.toByte) max 0),
            StandardCharsets.UTF_8)
          if (h != header || nl != lines)
            errs += s"$rel: header '$h' lines $nl, expected '$header' $lines"
        }
      }
      contentDigest = md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
      errs.take(5).toSeq
    }
  }

  /** The layers under `writeFullCorpus`, each called on its own: the
    * driver-side kernel, the fan-out written to noop, and the two sinks,
    * the CSV sink fed rows generated (and checkpointed) before its span.
    */
  override def probe(tr: Tracer): Unit = {
    kernelRows = kernelProbe(tr, cfgs)
    tr.span("generate.fanout") { noop(Generate.series(spark, cfgs).toDF()) }
    val out = s"$work/probe"
    val rows = Generate.series(spark, cfgs).localCheckpoint()
    val dual = cfgs.filter(c =>
      Kernel.specs(c.family).mcar || Kernel.specs(c.family).block)
    tr.span("generate.csv") {
      Sinks.writeCsvCorpus(rows, cfgs, out, missing = false)
      Sinks.writeCsvCorpus(rows.where(col("configId").isin(dual.map(_.configId): _*)),
        dual, out, missing = true)
    }
    tr.span("generate.truth") { Sinks.writeTxtCorpus(cfgs, out) }
    deleteTree(Paths.get(out))
  }

  override def facts: Map[String, Any] = Map(
    "configs" -> cfgs.size, "config_rows" -> configRows(cfgs),
    "csv_files" -> csvFiles, "csv_bytes" -> csvBytes,
    "files" -> expected.size, "kernel_rows" -> kernelRows,
    "pinned" -> Map("corpus_content" -> contentDigest))

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toVector.reverse.foreach(Files.delete)
      finally s.close()
    }
}

/** Causal discovery scored over many narrow graphs: every third config
  * of the grid's shortest-length, lag-2 slice (all 18 families and widths).
  */
final class CatalogDiscovery(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._
  private val Obs = 200
  private val cfgs = Grid.all(seed)
    .filter(c => c.nPoints == 500 && c.maxLag == 2)
    .zipWithIndex.collect { case (c, i) if i % 3 == 0 => c }
  private var pan: DataFrame = _
  private var virt: DataFrame = _
  private var links: DataFrame = _
  private var wanted: DataFrame = _
  private var lut: DataFrame = _
  private var truth: DataFrame = _
  private var families: DataFrame = _
  private var hypotheses = 0

  def build(): Unit = {
    val wide = Generate.wideFast(spark, cfgs).where(col("t") < Obs)
      .select(col("configId") +: col("t") +: (1 to 8).map(i => col(s"X$i")): _*)
      .localCheckpoint(true)
    val parts = spark.sparkContext.defaultParallelism
    // one series per (config, variable), the day key prefixed by config
    // so the graphs never share a day; one partition per core
    pan = (1 to 8).map(i =>
      wide.where(col(s"X$i").isNotNull)
        .select(concat(col("configId"), lit(s"|X$i")).as("series"),
          concat(col("configId"), lit("|"),
            lpad(col("t").cast("string"), 3, "0")).as("day"),
          floor(col(s"X$i") * 1000).cast("long").as("v")))
      .reduce(_ unionByName _).coalesce(parts).localCheckpoint(true)
    // lag-1 virtual panel: Xi@0 at t, Xi@1 shifted one step, clamped to
    // ±1e3 before milli quantization (the catalog Wald census contract)
    virt = (1 to 8).map { i =>
      val m = floor(greatest(least(col(s"X$i"), lit(1e3)), lit(-1e3))
        * 1000).cast("long").as("v")
      val base = wide.where(col(s"X$i").isNotNull)
      base.select(concat(col("configId"), lit(s"|X$i@0")).as("vs"),
          (col("configId") * 65536 + col("t")).as("t"), m)
        .unionByName(base.select(
          concat(col("configId"), lit(s"|X$i@1")).as("vs"),
          (col("configId") * 65536 + col("t") + 1).as("t"), m))
    }.reduce(_ unionByName _).coalesce(parts).localCheckpoint(true)
    val hyps = cfgs.flatMap { c =>
      for { i <- 1 to c.nVars; j <- 1 to c.nVars if i != j } yield {
        val g = c.configId
        (s"$g|X$i>X$j", c.family, s"$g|X$j@0", s"$g|X$i@1",
          None: Option[String])
      }
    }
    hypotheses = hyps.size
    links = hyps.toDF("pair", "family", "y", "x", "sib")
    def cnp(a: String, b: String) = if (a <= b) (a, b) else (b, a)
    wanted = hyps.flatMap { case (_, _, y, x, _) =>
      Seq((y, y), (x, x), cnp(x, y)) }.distinct.toDF("na", "nb")
    lut = Causal.chi2InvMilliLadder(hyps.size).zipWithIndex
      .map { case (q, i) => (i + 1, q) }.toDF("rk", "q_milli")
    // lag-collapsed X–X truth adjacency per config, the skeleton's grain
    truth = cfgs.flatMap { c =>
      Parser.truthLinks(c.family, c.nVars, c.maxLag)
        .filter(l => l.source.startsWith("X") && l.target.startsWith("X") &&
          l.source != l.target)
        .map(l => (c.configId, l.source, l.target, 0))
    }.distinct.toDF("graphId", "source", "target", "lag")
    families = cfgs.map(c => (c.configId, c.family)).toDF("graphId", "family")
  }

  def iterate(tr: Tracer): Outcome = {
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      // order-0/1 skeleton over every graph in one plan
      force(tr, "causal.rank", Causal.rankPanel(pan), pinned)
      force(tr, "causal.moments",
        Causal.rankCrossMoments(Causal.rankPanel(pan), broadcastB = false), pinned)
      val skeleton = tr.span("causal.decision") {
        val sk = Causal.pcSkeleton(pan, broadcastRankJoin = false)
          .where(col("edge") === 1).select("a", "b")
        if (tr.enabled) tr.span("causal.plan") { sk.queryExecution.executedPlan }
        sk.collect()
      }
      val edges = digestRows(skeleton)

      // lag-1 Wald census over every ordered pair, one BH pass
      def moments = Causal.virtualCrossMomentsSparse(virt, wanted,
        (col("t") % 65536).between(1, Obs - 1))
      force(tr, "causal.moments", moments, pinned)
      val census = tr.span("causal.decision") {
        val q = Causal.waldK1(Causal.structuralBetas(moments, links))
          .withColumn("rk", expr(
            "row_number() over (order by coalesce(t2_milli, -1) desc, pair)"))
          .join(broadcast(lut), Seq("rk"))
          .withColumn("k_star", expr(
            "max(case when t2_milli >= q_milli then rk end) over ()"))
          .groupBy("family").agg(
            sum(when(col("rk") <= coalesce(col("k_star"), lit(0L)), 1)
              .otherwise(0)).as("bh"),
            bit_xor(xxhash64(col("pair"), col("beta_ppm"))).as("beta"))
        if (tr.enabled) tr.span("causal.plan") { q.queryExecution.executedPlan }
        q.collect()
      }

      // score the skeletons (undirected: both directions) against the
      // generator's truth
      val pred = skeleton.toSeq.flatMap { r =>
        val (a, b) = (r.getString(0), r.getString(1))
        val g = a.takeWhile(_ != '|').toLong
        val (va, vb) = (a.dropWhile(_ != '|').drop(1), b.dropWhile(_ != '|').drop(1))
        Seq((g, va, vb, 0), (g, vb, va, 0))
      }.toDF("graphId", "source", "target", "lag")
      val scores = tr.span("metrics.score") {
        Metrics.scoreAll(truth, pred).join(families, "graphId")
          .groupBy("family")
          .agg(sum("tp"), sum("fp"), sum("fn"), sum("shd_structural"))
          .collect()
      }
      Outcome(3, 0, Map("edges" -> edges, "census" -> digestRows(census),
        "scores" -> digestRows(scores)))
    } finally unpin(pinned)
  }

  override def facts: Map[String, Any] = Map(
    "graphs" -> cfgs.size, "observations" -> Obs,
    "panel_rows" -> cfgs.map(_.nVars.toLong * Obs).sum,
    "hypotheses" -> hypotheses)
}

/** The reference's two uses in one loop: regenerate the corpus, then run
  * causal discovery over the catalog and score it.
  */
final class CorpusDiscovery(corpus: CorpusWrite, catalog: CatalogDiscovery)
    extends Workload {
  def build(): Unit = { corpus.build(); catalog.build() }
  override def prepare(): Unit = corpus.prepare()
  def iterate(tr: Tracer): Outcome = {
    val a = corpus.iterate(tr)
    val b = catalog.iterate(tr)
    Outcome(a.ops + b.ops, a.failed + b.failed, a.digests ++ b.digests)
  }
  override def check(first: Boolean): Seq[String] = corpus.check(first)
  // the catalog's configs are a subset of the corpus slice, so one kernel
  // and fan-out probe covers both
  override def probe(tr: Tracer): Unit = corpus.probe(tr)
  override def facts: Map[String, Any] = catalog.facts ++ corpus.facts
}

/** Named driver queries over seeded parquet tables, one pass per iteration
  * in a seed-shuffled order.
  */
final class QueryMix(spark: SparkSession, seed: Long, work: String,
    data: String) extends Workload {
  private val order = new scala.util.Random(seed).shuffle(QueryMix.Queries)
  private var firstPass = true

  def build(): Unit =
    order.foreach(q => require(graft.SparkEntry.queries.contains(q), q))

  def iterate(tr: Tracer): Outcome = {
    var failed = 0
    // the warm-up pass runs in the listed order, so every seed's timed pass
    // starts from the same JIT state
    val digests = (if (firstPass) QueryMix.Queries else order).map { name =>
      val t0 = System.nanoTime()
      val rows = try {
        tr.span(s"query.$name") {
          val df = tr.span("entries.plan") {
            val d = graft.SparkEntry.queries(name)(spark, data)
            if (tr.enabled) d.queryExecution.executedPlan
            d
          }
          val rows = tr.span("entries.exec") { df.collect() }
          // the first pass also keeps each result for the DuckDB oracle
          if (firstPass) spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
            .coalesce(1).write.mode("overwrite").parquet(s"$work/results/$name")
          rows
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          failed += 1
          Array.empty[Row]
      }
      System.err.println(f"[perfbench] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      name -> digestRows(rows)
    }.toMap
    firstPass = false
    Outcome(order.size, failed, digests)
  }

  override def facts: Map[String, Any] = Map(
    "queries" -> order,
    "oracle_sql" -> graft.perfbench.Oracles.sql(order))
}

object QueryMix {
  /** One or more entries per layer group, trimmed to fit the run length:
    * reference operator (q03), relational (q02), text (q189, the bm25 path),
    * similarity (q49) and streaming (q209, an eight-partition stream).
    */
  val Queries = Seq(
    "q03_lagged_projection",
    "q02_revenue_by_nation",
    "q189_bm25_topk",
    "q49_ivf_topk",
    "q209_stream_complete_topk")
}
