package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Spark task counters summed over the jobs one span started. */
final class Counters {
  var tasks = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** Configs read by tasks that ran the generator's kernel `flatMap`. */
  var kernelConfigs = 0L
  val taskMs = ArrayBuffer.empty[Long]
}

final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder around the benchmark's calls into each layer.
  * Disabled, `span` only evaluates its body: no job group, no listener, no
  * forced layer boundary. Enabled, every span sets a job group named after
  * its id, and the [[LayerListener]] sums task counters into it.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext, val runId: String) {
  val spans = ArrayBuffer.empty[Span]
  val counters = new ConcurrentHashMap[Int, Counters]()
  @volatile private var stack: List[Int] = Nil
  private var nextId = 0

  def current: Int = stack.headOption.getOrElse(-1)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = current
      stack = id :: stack
      sc.setJobGroup(s"pb-$id", name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        if (parent >= 0) sc.setJobGroup(s"pb-$parent", "", interruptOnCancel = false)
        else sc.clearJobGroup()
        spans += Span(id, name, parent, runId, t0, t1)
      }
    }
}

/** Attributes each job's tasks to the span that started it: by the job
  * group the span set, or, for jobs started on other threads (stream
  * executions set their own group), by the span active at job start.
  */
final class LayerListener extends SparkListener {
  /** The traced iteration's tracer; null between traced iterations. */
  @volatile var tracer: Tracer = null
  private val stageSpan = new ConcurrentHashMap[Int, (Tracer, Int)]()
  /** Stages with a typed `flatMap`/`mapPartitions` (`Generate.series` runs
    * the kernel in one).
    */
  private val mapStages = ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tracer = this.tracer
    if (tracer != null) {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .collect { case g if g.startsWith("pb-") => g.drop(3).toInt }
      val id = group.getOrElse(tracer.current)
      if (id >= 0) e.stageIds.foreach(s => stageSpan.put(s, (tracer, id)))
      e.stageInfos.filter(Bus.scopeNames(_).contains("MapPartitions"))
        .foreach(s => mapStages.add(s.stageId))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageSpan.get(e.stageId)).filter(_ => m != null).foreach { case (tracer, id) =>
      val c = tracer.counters.computeIfAbsent(id, _ => new Counters)
      c.synchronized {
        c.tasks += 1
        c.executorCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        // the kernel reads its configs through `configDs`'s shuffle; a task
        // that reads the generated rows from a cache reads no shuffle
        // records and generated nothing
        if (mapStages.contains(e.stageId))
          c.kernelConfigs += m.shuffleReadMetrics.recordsRead
        c.taskMs += e.taskInfo.duration
      }
    }
  }
}

/** Minimal JSON writer for the result file run.py reads. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
