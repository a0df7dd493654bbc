package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's one measurement rule (one timed run per entry, wall and
  * process CPU seconds, a throwing entry listed and skipped) and the
  * BENCHDETAIL parser Verify orders its dumps by.
  */
class BenchPolicySpec extends AnyFunSuite {

  test("measure: a filtered record runs only the names a token is a " +
      "substring of, and records nothing for the rest") {
    val rec = new BenchPolicy.Record(Some(Seq("p320", "corpus")))
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    Seq("pcblocks_p80_stable3_oriented", "pcblocks_p320_stable3_oriented",
        "gen_corpus_4320_csv_write", "gen_scale_256m_partitioned_write")
      .foreach(n => rec.measure(n) { ran += n })
    assert(ran.toSeq == Seq("pcblocks_p320_stable3_oriented",
      "gen_corpus_4320_csv_write"))
    assert(rec.wall.keySet == ran.toSet && rec.cpu.keySet == ran.toSet)
    assert(!rec.selects("gen_scale_256m_partitioned_write"))
    assert(new BenchPolicy.Record().selects("anything"))
  }

  test("measure: a throwing entry is listed in failed and the next is still timed") {
    val rec = new BenchPolicy.Record
    rec.measure("throws") { throw new IllegalStateException("boom") }
    var ran = false
    rec.measure("works") {
      var i = 0L; var acc = 0L
      while (i < 1000000L) { acc += i * i; i += 1 }
      ran = acc > 0
    }
    assert(rec.failed.toSeq == Seq("throws"))
    assert(ran)
    assert(rec.wall.keySet == Set("throws", "works"))
    assert(rec.wall("works") > 0.0)
    assert(rec.cpu.keySet == Set("throws", "works"))
    assert(rec.cpu.values.forall(_ >= 0.0))
    val line = rec.render(1.0, "null", "null", "sf0.01")
    assert(line.contains("\"failed\":[\"throws\"]"))
    assert(line.contains("\"cpu_s\":{"))
    val m = BenchPolicy.parsePrevMedians(line)
    assert(m.keySet == Set("throws", "works"))
    assert(m("works") == rec.wall("works"))
  }

  test("parsePrevMedians reads a BENCHDETAIL-shaped line") {
    val line = """{"metric":"total","value":664.1,"unit":"sec","wall_s":812.3,""" +
      """"queries":{"q01_pricing_summary":0.357,"dscale_bm25_10x":14.17,""" +
      """"gen_full_sweep_fast":1.6e0},"remeasured":{"q51":[13.3,0.9,1.0]},""" +
      """"failed":[],"sf":"/root/testdata/sf0.1"}"""
    val m = BenchPolicy.parsePrevMedians(line)
    assert(m.size == 3)
    assert(m("q01_pricing_summary") == 0.357)
    assert(m("dscale_bm25_10x") == 14.17)
    assert(m("gen_full_sweep_fast") == 1.6)
    // the remeasured map must NOT leak in (flat-object scan stops at '}')
    assert(!m.contains("q51"))
    assert(BenchPolicy.parsePrevMedians("not json").isEmpty)
    assert(BenchPolicy.parsePrevMedians("""{"queries":{}}""").isEmpty)
  }

  test("parsePrevMedians round-trips the committed repo BENCHDETAIL.json") {
    val f = new java.io.File("BENCHDETAIL.json")
    assume(f.isFile)
    val m = BenchPolicy.parsePrevMedians(
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    assert(m.size > 300, s"expected the full entry map, got ${m.size}")
    assert(m.contains("q01_pricing_summary"))
    assert(m.values.forall(v => v >= 0 && v < 3600))
  }
}
