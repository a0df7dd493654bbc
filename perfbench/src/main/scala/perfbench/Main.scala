package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set-up (one input build), a warm-up
  * iteration, then one timed iteration; a traced run times an untraced and
  * a traced iteration, one after the other. Writes the raw record to
  * `--out`; run.py turns it into metrics.
  *
  * {{{
  * Main --workload corpus_discovery --seed 42 --trace 0
  *      --work <dir> --out <file> [--data <dir>]
  * }}}
  */
object Main {
  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args.getOrElse("seed", "42").toLong
    val trace = args.getOrElse("trace", "0") == "1"
    val work = args("work")
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    if (workload == "train") {
      // class-loading pass for the build's class-data-sharing archive
      import org.apache.spark.sql.functions._
      spark.range(0, 10000).select((col("id") % 7).as("k"), col("id").as("v"))
        .groupBy("k").agg(sum("v")).join(spark.range(0, 7).toDF("k"), "k")
        .write.mode("overwrite").parquet(s"$work/train")
      spark.read.parquet(s"$work/train").collect()
      spark.stop()
      return
    }
    val wl = Workloads(workload, spark, seed, work, args.getOrElse("data", ""))
    val b0 = System.nanoTime()
    wl.build()
    val buildS = secs(b0, System.nanoTime())

    val checks = ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L

    def runOnce(traced: Boolean, label: String): Map[String, Any] = {
      wl.prepare()
      val tr = new Tracer(traced, spark.sparkContext, label)
      if (traced) listener.tracer = tr
      val c0 = cpuNs(); val t0 = System.nanoTime()
      val out = try wl.iterate(tr) catch {
        case scala.util.control.NonFatal(e) =>
          e.printStackTrace()
          Outcome(1, 1, Map("error" -> e.toString))
      }
      val t1 = System.nanoTime(); val c1 = cpuNs()
      val errs = wl.check(first = firstDigests.isEmpty) ++
        firstDigests.toSeq.flatMap(_.collect {
          case (k, v) if out.digests.get(k) != Some(v) =>
            s"$label: $k digest ${out.digests.getOrElse(k, "-")} != first $v"
        })
      if (firstDigests.isEmpty) firstDigests = Some(out.digests)
      checks ++= errs
      attempted += out.ops
      failed += math.min(out.ops, out.failed + errs.size)
      if (traced) { org.apache.spark.perfbench.Bus.drain(spark.sparkContext); merge(tr) }
      Map("label" -> label, "traced" -> traced, "wall_s" -> secs(t0, t1),
        "cpu_s" -> (c1 - c0) / 1e9, "ops" -> out.ops, "failed" -> out.failed,
        "check_errors" -> errs.size)
    }

    // untraced runs register no listener
    if (trace) spark.sparkContext.addSparkListener(listener)

    val w0 = System.nanoTime()
    val warm = runOnce(traced = false, "warmup")
    val warmS = secs(w0, System.nanoTime())
    val facts0 = wl.facts

    val loop0 = System.nanoTime(); val cpu0 = cpuNs()
    // a traced run times an untraced iteration, then a traced one, so the
    // same run gives both sides of the overhead ratio
    val iterations = Seq(runOnce(traced = false, "it0")) ++
      (if (trace) Seq(runOnce(traced = true, "it1")) else Nil)
    val loopS = secs(loop0, System.nanoTime()); val loopCpu = (cpuNs() - cpu0) / 1e9
    if (trace) {
      val tr = new Tracer(true, spark.sparkContext, "probe")
      listener.tracer = tr
      wl.probe(tr)
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      merge(tr)
    }
    val hwm = vmHwmKb()

    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.shuffle") || k == "spark.master" ||
        k.startsWith("spark.local") || k == "spark.sql.adaptive.enabled" ||
        k.startsWith("spark.driver") || k.startsWith("spark.executor")
    }
    val record = Map(
      "workload" -> workload, "seed" -> seed,
      "trace" -> trace, "cpus" -> cpus,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_conf" -> conf,
      "boot_s" -> bootS, "build_s" -> buildS, "warmup_s" -> warmS,
      "warmup" -> warm, "iterations" -> iterations,
      "loop_s" -> loopS, "loop_cpu_s" -> loopCpu,
      "attempted" -> attempted, "failed" -> failed, "checks" -> checks,
      "digests" -> firstDigests.getOrElse(Map.empty),
      "facts" -> (facts0 ++ wl.facts),
      "peak_rss_kb" -> hwm,
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "run" -> s.runId,
        "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9)),
      "counters" -> counters.map { case (id, c) => id.toString -> Map(
        "tasks" -> c.tasks, "executor_cpu_s" -> c.executorCpuNs / 1e9,
        "gc_s" -> c.gcMs / 1e3, "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spill_bytes" -> c.spillBytes, "kernel_configs" -> c.kernelConfigs,
        "task_ms" -> c.taskMs.toSeq) }.toMap)
    Files.write(Paths.get(args("out")),
      Json.value(record).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private var firstDigests: Option[Map[String, String]] = None
  private val listener = new LayerListener
  /** Spans and counters of every traced iteration, with globally unique ids. */
  private val spans = ArrayBuffer.empty[Span]
  private val counters = scala.collection.mutable.Map.empty[Int, Counters]

  private def merge(tr: Tracer): Unit = {
    val base = spans.size
    tr.spans.foreach(s => spans += s.copy(id = s.id + base,
      parent = if (s.parent < 0) -1 else s.parent + base))
    tr.counters.forEach((id, c) => counters(id + base) = c)
    listener.tracer = null
  }
}
