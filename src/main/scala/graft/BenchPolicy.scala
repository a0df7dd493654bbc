package graft

import java.lang.management.ManagementFactory

import scala.collection.mutable

/** Bench's one measurement rule, and the BENCHDETAIL.json reader Verify
  * orders its dumps by. Kept apart from the bench rungs so the rule is
  * unit-testable (BenchPolicySpec).
  *
  * The rule: every entry runs ONCE. Its wall seconds and the process
  * CPU-seconds delta over the same interval are both published, and
  * nothing is re-run. On a shared host, load from other processes
  * stretches wall time far more than the CPU seconds this JVM spends on
  * its own work, so a wall jump with a flat `cpu_s` points at the host
  * and a jump in both points at the code. (4 busy loops on a 4-core host
  * doubled a filtered run's summed wall time; its summed `cpu_s` moved
  * 1%, single entries up to ±30%.)
  */
object BenchPolicy {

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds used so far by every thread of this JVM (driver and the
    * local executors alike).
    */
  private def processCpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** One bench round's record: per-entry wall and CPU seconds, in
    * measurement order, plus the entries whose body threw. `only` is the
    * entry filter (`SPARK_GRAFT_BENCH_ONLY`'s tokens): an entry is
    * selected when its name contains one of them; `None` selects every
    * entry.
    */
  final class Record(only: Option[Seq[String]] = None) {
    val wall = mutable.LinkedHashMap.empty[String, Double]
    val cpu = mutable.LinkedHashMap.empty[String, Double]
    val failed = mutable.LinkedHashSet.empty[String]

    def selects(name: String): Boolean = only.forall(_.exists(name.contains))

    /** Runs `body` once and records it under `name`; an entry the filter
      * does not select is skipped and records nothing. A throwing body is
      * listed in `failed` (its time up to the throw is still recorded) and
      * the round carries on, so one broken entry cannot cost the round its
      * whole record.
      */
    def measure(name: String)(body: => Unit): Unit = if (selects(name)) {
      val c0 = processCpuSeconds()
      val t0 = System.nanoTime()
      try body
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      wall(name) = (System.nanoTime() - t0) / 1e9
      cpu(name) = math.max(0.0, processCpuSeconds() - c0)
    }

    /** The one-line JSON record; `value` is the sum of every entry's wall
      * seconds. `genScale`/`genScale10x` are pre-rendered JSON values
      * (`null` when the gen section did not run).
      */
    def render(wallS: Double, genScale: String, genScale10x: String,
        sfDir: String): String = {
      def obj(m: mutable.LinkedHashMap[String, Double]) =
        m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val fl = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      val w = String.format(java.util.Locale.ROOT, "%.1f",
        java.lang.Double.valueOf(wallS)) // locale-proof: JSON needs '.'
      s"""{"metric":"total","value":${wall.values.sum},"unit":"sec",""" +
        s""""wall_s":$w,"queries":${obj(wall)},"cpu_s":${obj(cpu)},""" +
        s""""failed":$fl,"gen_scale":$genScale,""" +
        s""""gen_scale_10x":$genScale10x,"sf":"$sfDir"}"""
    }
  }

  /** Extract the per-entry seconds from a BENCHDETAIL.json line.
    * The file is machine-written by Bench itself with a fixed flat shape
    * (`"queries":{"name":num,...}`), so a targeted scan beats dragging a
    * JSON dependency in: find the queries object, split its balanced
    * braces' content on the `"name":number` pattern.
    */
  def parsePrevMedians(json: String): Map[String, Double] = {
    val key = "\"queries\":{"
    val start = json.indexOf(key)
    if (start < 0) Map.empty
    else {
      val body = json.substring(start + key.length)
      val end = body.indexOf('}') // flat object: first '}' closes it
      if (end < 0) Map.empty
      else {
        val entry = "\"([^\"]+)\":(-?[0-9.]+(?:[eE][+-]?[0-9]+)?)".r
        entry.findAllMatchIn(body.substring(0, end))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
  }

  /** Read the committed BENCHDETAIL.json from the repo root (nearest
    * ancestor of `cwd` holding build.sbt — same walk Bench uses when
    * writing it). Empty map when absent/unreadable.
    */
  def loadPrevMedians(): Map[String, Double] =
    try {
      val root = Iterator.iterate(new java.io.File(".").getCanonicalFile)(
          _.getParentFile)
        .takeWhile(_ != null).take(6)
        .find(d => new java.io.File(d, "build.sbt").isFile)
      root.map(d => new java.io.File(d, "BENCHDETAIL.json"))
        .filter(_.isFile)
        .map(f => parsePrevMedians(
          new String(java.nio.file.Files.readAllBytes(f.toPath),
            java.nio.charset.StandardCharsets.UTF_8)))
        .getOrElse(Map.empty)
    } catch { case _: Throwable => Map.empty }
}
