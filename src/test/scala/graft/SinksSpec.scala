package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.generate.Sinks

/** Structure-text link lines must match the shipped reference corpus byte-for-
  * byte for every family that ships structure files.
  */
class SinksSpec extends AnyFunSuite {

  private def linkLines(text: String): Vector[String] =
    text.linesIterator.filter(l =>
      !l.startsWith("Format:") &&
        ((l.contains("=>") && l.contains("(")) || l.contains("--("))).toVector

  private def shipped(path: String): Vector[String] =
    linkLines(Files.readString(Paths.get(path)))

  test("D3C structure links match shipped file (6 vars, lag 2)") {
    val ref = shipped("/root/reference/Datasets/D3C/lag 2/" +
      "nonlinear_ts_n1000_vars6_lag2_noise30_mcar10_block5_structure.txt")
    val got = linkLines(Sinks.structureText("D3C", 6, 2))
    assert(got == ref)
  }

  test("C2C structure links match shipped file (6 vars, lag 3)") {
    val ref = shipped("/root/reference/Datasets/C2C/Gaussian/" +
      "nonlinear_ts_n3000_vars6_lag3_gaussian_structure.txt")
    val got = linkLines(Sinks.structureText("C2C", 6, 3))
    assert(got == ref)
  }

  test("B2 structure links match shipped file (4 vars, lag 4, quoted tuples)") {
    val ref = shipped("/root/reference/Datasets/B2/gaussian_70_laplace_30/" +
      "mixed_ts_n500_vars4_lag4_structure.txt")
    val got = linkLines(Sinks.structureText("B2", 4, 4))
    assert(got == ref)
  }

  test("D2C structure links match shipped file (8 vars, lag 2, base-coefficient suffix)") {
    val ref = shipped("/root/reference/Datasets/D2C/lag 2/" +
      "nonlinear_ts_n3000_vars8_lag2_gaussian_block10_causal_structure.txt")
    val got = linkLines(Sinks.structureText("D2C", 8, 2))
    assert(got == ref)
  }

  test("D3 structure links match shipped file (4 vars, lag 2)") {
    val ref = shipped("/root/reference/Datasets/D3/lag 2/" +
      "nonlinear_ts_n5000_vars4_lag2_noise30_mcar5_block5_structure.txt")
    val got = linkLines(Sinks.structureText("D3", 4, 2))
    assert(got == ref)
  }

  test("structure parser round-trips parse(write(x)) == truthLinks over " +
      "every (family, nVars, maxLag) the grid generates") {
    val combos = Grid.all().map(c => (c.family, c.nVars, c.maxLag)).distinct
    assert(combos.size >= 150) // the 153-set catalog, via the grid
    combos.foreach { case (f, v, l) =>
      val parsed = Sinks.parseStructureText(Sinks.structureText(f, v, l), f, v, l)
      val truth = Parser.truthLinks(f, v, l)
      assert(parsed == truth, s"round-trip mismatch for ($f, $v, $l)")
    }
  }

  test("structure parser reads the SHIPPED per-family grammars back to " +
      "truthLinks (B2 quoted, C2C/D3/D3C arrows, D2C base-coefficient)") {
    Grid.all().filter(c => Sinks.txtPaths(c).nonEmpty).foreach { c =>
      val links = Sinks.parseStructureLinks(Sinks.structureTxt(c))
      val truth = Parser.truthLinks(c.family, c.nVars, c.maxLag)
        .map(t => (t.source, t.lag, t.target, t.func, t.coef))
      assert(links == truth,
        s"shipped-grammar parse mismatch for ${c.family}/${c.nVars}/${c.maxLag}")
    }
  }

  test("structure parser: headers, equations, noise/mask and statistics " +
      "lines parse to no links; a real shipped file parses to its truth") {
    assert(Sinks.parseLinkLine("Format: (source, lag, target) => coefficient").isEmpty)
    assert(Sinks.parseLinkLine("X1[t] = 0.4*X2[t] + e1[t]").isEmpty)
    assert(Sinks.parseLinkLine("Noise: 30% Gaussian, 70% Laplace").isEmpty)
    assert(Sinks.parseLinkLine("Missing percentage: 25.90%").isEmpty)
    assert(Sinks.parseLinkLine("").isEmpty)
    val shippedTxt = Files.readString(Paths.get(
      "/root/reference/Datasets/D3C/lag 2/" +
        "nonlinear_ts_n1000_vars6_lag2_noise30_mcar10_block5_structure.txt"))
    val truth = Parser.truthLinks("D3C", 6, 2)
      .map(t => (t.source, t.lag, t.target, t.func, t.coef))
    assert(Sinks.parseStructureLinks(shippedTxt) == truth)
  }

  test("CSV corpus writer: a task failing mid-config aborts its temp — " +
      "completed configs stay published, no torn or orphan file remains") {
    import org.apache.spark.sql.SparkSession
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val cfgs = graft.core.Grid.forFamily("A1").filter(c =>
      c.nPoints == 500 && c.maxLag == 2 && c.noiseType == "gaussian")
      .take(2)
    assert(cfgs.size == 2)
    val rows = graft.generate.Generate.series(spark, cfgs)
    val dir = Files.createTempDirectory("sink_abort").toString
    // pass only ONE config's metadata: the other config's first row hits
    // the meta lookup INSIDE the row loop and throws — the exact
    // torn-file scenario the rename-on-success contract guards (a task
    // dying between a config switch and its close())
    val boom = intercept[Exception] {
      graft.generate.Sinks.writeCsvCorpus(rows, cfgs.take(1), dir,
        missing = false)
    }
    assert(boom != null)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) Seq(f)
      else Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
    val files = walk(new java.io.File(dir))
    // no temp may survive the abort, published or orphaned
    assert(!files.exists(_.getName.contains(".tmp-")),
      s"orphan/torn temp left behind: $files")
    // any file that DID publish is a byte-complete config (header +
    // every row): re-run the writer cleanly and compare
    val clean = Files.createTempDirectory("sink_clean").toString
    graft.generate.Sinks.writeCsvCorpus(
      graft.generate.Generate.series(spark, cfgs), cfgs, clean,
      missing = false)
    files.filter(_.getName.endsWith(".csv")).foreach { f =>
      val rel = f.getAbsolutePath.stripPrefix(dir).stripPrefix("/")
      val ref = new java.io.File(clean, rel)
      assert(ref.isFile &&
        java.util.Arrays.equals(Files.readAllBytes(f.toPath),
          Files.readAllBytes(ref.toPath)),
        s"published file $rel is not byte-complete")
    }
  }

  test("writeFullCorpus: one config per D family plus A1 — the manifest's " +
      "files, and each _missing file is its _complete twin with exactly " +
      "the kernel's masked cells emptied") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    // from Grid.all(): config ids are unique across families only there
    val cfgs = Seq("A1", "D1", "D1C", "D2", "D2C", "D3", "D3C")
      .map(f => Grid.all().find(c => c.family == f && c.nPoints == 500).get)
    val dir = Files.createTempDirectory("full_corpus")
    Sinks.writeFullCorpus(spark, dir.toString, cfgs)
    val written = {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString).toSet
      finally s.close()
    }
    assert(written == (Sinks.corpusManifest(cfgs) ++ Sinks.txtManifest(cfgs)).toSet)
    def lines(rel: String) = Files.readAllLines(dir.resolve(rel)).asScala.toVector
    val dual = cfgs.filter(c => Sinks.dualView(c.family))
    assert(dual.map(_.family) == Seq("D1", "D1C", "D2", "D2C", "D3", "D3C"))
    dual.foreach { c =>
      val complete = lines(Sinks.relPath(c, missing = false))
      val missing = lines(Sinks.relPath(c, missing = true))
      assert(complete.head == missing.head, s"${c.family} header")
      assert(complete.size == c.nPoints + 1 && missing.size == complete.size)
      val mask = Kernel.generate(c).mask
      var nMasked = 0
      complete.tail.zip(missing.tail).zipWithIndex.foreach { case ((a, b), t) =>
        val ca = a.split(",", -1); val cb = b.split(",", -1)
        assert(ca.last == cb.last, s"${c.family} time at t=$t")
        assert(ca.length == cb.length && ca.forall(_.nonEmpty))
        (0 until c.nVars).foreach { j =>
          if ((mask(t) >> j & 1) == 1) { assert(cb(j).isEmpty); nMasked += 1 }
          else assert(cb(j) == ca(j), s"${c.family} X${j + 1} at t=$t")
        }
        // U (when present) and time are never masked
        assert(ca.drop(c.nVars).sameElements(cb.drop(c.nVars)))
      }
      assert(nMasked > 0, s"${c.family}: no masked cell to check")
    }
  }

  private def walkFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isFile) Seq(f)
    else Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walkFiles)

  test("CSV corpus writer: configIds that collide across forFamily calls " +
      "throw before any file or directory is written") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    // Grid.forFamily numbers every family's configs from 0
    val cfgs = Seq("A1", "C1").map(f => Grid.forFamily(f).find(_.nPoints == 500).get)
    assert(cfgs.map(_.configId).distinct.size == 1)
    val dir = Files.createTempDirectory("sink_dup_ids")
    val err = intercept[IllegalArgumentException] {
      Sinks.writeCsvCorpus(graft.generate.Generate.series(spark, cfgs), cfgs,
        dir.toString, missing = false)
    }
    assert(err.getMessage.contains("distinct configIds"))
    val left = Files.list(dir)
    try assert(left.count() == 0, "the writer created files before its check")
    finally left.close()
  }

  test("CSV corpus writer: rows of a config split across partitions fail " +
      "the job by config, leaving no temp and no short CSV") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    val cfgs = Grid.forFamily("A1").filter(c =>
      c.nPoints == 500 && c.maxLag == 2 && c.noiseType == "gaussian").take(3)
    assert(cfgs.size == 3)
    val dir = Files.createTempDirectory("sink_split")
    // a round-robin repartition deals each config's rows to every partition
    val rows = graft.generate.Generate.series(spark, cfgs).repartition(3)
    val err = intercept[org.apache.spark.SparkException] {
      Sinks.writeCsvCorpus(rows, cfgs, dir.toString, missing = false)
    }
    assert(cfgs.exists(c => err.getMessage.contains(s"config ${c.configId} (")),
      s"the failure names no config: ${err.getMessage}")
    // the job fails on the first failing task: wait out any task still
    // running its abort before looking at the directory
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (tracker.getExecutorInfos.map(_.numRunningTasks).sum > 0 &&
      System.nanoTime() < deadline) Thread.sleep(20)
    val files = walkFiles(dir.toFile)
    assert(!files.exists(_.getName.contains(".tmp-")), s"temp left behind: $files")
    files.filter(_.getName.endsWith(".csv")).foreach { f =>
      assert(Files.readAllLines(f.toPath).size == 501, s"short CSV $f")
    }
  }

  test("file-name grammar matches shipped corpus layout") {
    def cfg(family: String, n: Int, v: Int, l: Int, noise: String = "gaussian",
        ratio: Double = 0.5, mcar: Double = 0.0, block: Double = 0.0) =
      GenConfig(0, family, v, l, n, noise, 0.1, ratio, mcar, block, 0.0, 0.0, 42)
    assert(Sinks.fileStem(cfg("A1", 1000, 6, 2)) == "linear_ts_n1000_vars6_lag2")
    assert(Sinks.fileStem(cfg("A2", 500, 6, 2, "student_t")) ==
      "multivariate_ts_n500_vars6_lag2_t")
    assert(Sinks.fileStem(cfg("B2", 500, 4, 4)) == "mixed_ts_n500_vars4_lag4")
    assert(Sinks.fileStem(cfg("D1", 5000, 4, 3, "gaussian", mcar = 0.1)) ==
      "linear_ts_n5000_vars4_lag3_gaussian_mcar10")
    assert(Sinks.fileStem(cfg("D3C", 1000, 6, 2, "mixed", 0.3, 0.1, 0.05)) ==
      "nonlinear_ts_n1000_vars6_lag2_noise30_mcar10_block5")
  }

  test("npy writer emits parseable v1 headers") {
    val dir = Files.createTempDirectory("npy")
    val p = dir.resolve("t.npy").toString
    Sinks.writeNpy(p, Seq(2, 2, 1), Array(1.0, 2.0, 3.0, 4.0))
    val bytes = Files.readAllBytes(Paths.get(p))
    assert(bytes(0) == 0x93.toByte && new String(bytes.slice(1, 6)) == "NUMPY")
    val headerLen = (bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8)
    val header = new String(bytes.slice(10, 10 + headerLen))
    assert(header.contains("'descr': '<f8'") && header.contains("(2, 2, 1)"))
    assert((10 + headerLen) % 64 == 0, "header must pad to 64-byte alignment")
    assert(bytes.length == 10 + headerLen + 4 * 8)
  }

  test("wide CSV scan reads a shipped reference CSV with nulls for NaN cells") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    val df = Sinks.readWideCsv(spark,
      "/root/reference/Datasets/D1/Lag 3/linear_ts_n5000_vars4_lag3_gaussian_mcar10_missing.csv")
    assert(df.columns.toSeq == Seq("X1", "X2", "X3", "X4", "time"))
    assert(df.count() == 5000)
    val nNull = df.where(org.apache.spark.sql.functions.col("X2").isNull).count()
    assert(nNull > 300 && nNull < 700) // mcar 10%
  }

  test("pretty-print tensor edges (R11)") {
    val t = Array.fill(2, 2, 2)(false)
    t(0)(1)(0) = true; t(1)(0)(1) = true
    val lines = graft.metrics.Converters.prettyPrintTensor(t, Seq("X1", "X2"))
    assert(lines == Seq("X1_t -> X2_t    (contemporaneous)", "X2_{t-1} -> X1_t  (lag 1)"))
    assert(graft.metrics.Converters.prettyPrintTensor(Array.fill(1, 1, 1)(false), Seq("X1"))
      == Seq("No directed edges found under current interpretation."))
  }

  test("generated series round-trips through JSON and ORC sinks") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    import graft.generate.Generate
    val cfg = Grid.forFamily("C1C").head.copy(nPoints = 40)
    val wide = Generate.wide(Generate.series(spark, Seq(cfg)))
    val dir = Files.createTempDirectory("fmt").toString
    wide.write.mode("overwrite").json(s"$dir/json")
    wide.write.mode("overwrite").orc(s"$dir/orc")
    val fromJson = spark.read.json(s"$dir/json")
    val fromOrc = spark.read.orc(s"$dir/orc")
    assert(fromJson.count() == 40 && fromOrc.count() == 40)
    // ORC preserves names/types (nullability flags widen on read)
    assert(fromOrc.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      wide.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val sumU = wide.agg(org.apache.spark.sql.functions.sum("U")).collect()(0).getDouble(0)
    val sumUOrc = fromOrc.agg(org.apache.spark.sql.functions.sum("U")).collect()(0).getDouble(0)
    assert(sumU == sumUOrc)
  }

  test("truth tensors: symmetric val, directed graph, U at index p") {
    val (vals, graph, p) = Sinks.truthTensors("A1C", 4, 2)
    assert(p == 5) // U appended
    val l1 = 3
    def at(i: Int, j: Int, k: Int) = (i * p + j) * l1 + k
    // (X2, 0, X1) => 0.4: val symmetric, graph directed
    assert(vals(at(1, 0, 0)) == 0.4 && vals(at(0, 1, 0)) == 0.4)
    assert(graph(at(1, 0, 0)) && !graph(at(0, 1, 0)))
    // U -> X1 at lag 0 coef 0.5, U index 4
    assert(vals(at(4, 0, 0)) == 0.5 && graph(at(4, 0, 0)))
  }
}
