package graft.generate

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.core._

/** Reference-parity sinks (S2-S4):
  *  - wide CSV corpus with the reference's file-name grammar (FIXTURES.md §1),
  *    header `X1..Xn[,U],time`, missing cells empty, dual missing/complete
  *    files for D families (d1.py:267-271)
  *  - structure text files (a1.py:297-306 "(src, lag, tgt) => coef" format;
  *    d3c.py:512-522 "src --(func, lag=k)--> tgt: coef" format)
  *  - .npy tensor sink (a1.py:268-270) via a minimal NPY v1 writer
  *
  * Scale note: CSV corpus write is one partitionBy(configId) job (no driver
  * loop over data); only the final file renames run on the driver.
  */
object Sinks {

  /** File-name stem per the SHIPPED corpus grammar (FIXTURES.md §1). The
    * generator scripts append a noise suffix for A1/A1C (a1.py:242), but the
    * shipped tree renames those away — the noise lives in the directory
    * instead (`Datasets/A1C/Gaussian/...{stem}.csv`); the shipped tree is the
    * parity target, so the stems here match it, not the script.
    */
  def fileStem(c: GenConfig): String = {
    val n = c.nPoints; val v = c.nVars; val l = c.maxLag
    val noise = c.noiseType
    c.family match {
      case "A1" => s"linear_ts_n${n}_vars${v}_lag$l"
      case "A1C" => s"linear_ts_with_confounder_n${n}_vars${v}_lag$l"
      case "A2" => s"multivariate_ts_n${n}_vars${v}_lag${l}_" +
        (if (noise == "student_t") "t" else noise)
      case "A2C" => s"multivariate_ts_n${n}_vars${v}_lag${l}_" +
        (if (noise == "student_t") "t" else noise) + "_with_confounder"
      // shipped B1 keeps the historical t_dist stem only under the Students-t
      // directory; the gaussian half shares C1's plain stem
      case "B1" if noise == "student_t" => s"nonlinear_ts_t_dist_n${n}_vars${v}_lag$l"
      case "B1" => s"nonlinear_ts_n${n}_vars${v}_lag$l"
      case "B1C" => s"nonlinear_confounded_n${n}_vars${v}_lag${l}_" +
        (if (noise == "student_t") "t" else noise)
      case "B2" => s"mixed_ts_n${n}_vars${v}_lag$l"
      case "B2C" => s"mixed_confounded_ts_n${n}_vars${v}_lag$l"
      case "C1" => s"nonlinear_ts_n${n}_vars${v}_lag$l"
      case "C1C" => s"nonlinear_ts_with_confounder_n${n}_vars${v}_lag$l"
      case "C2" | "C2C" => s"nonlinear_ts_n${n}_vars${v}_lag${l}_$noise"
      case "D1" | "D1C" => s"linear_ts_n${n}_vars${v}_lag${l}_${noise}_mcar${(c.mcarProb * 100).toInt}"
      case "D2" | "D2C" => s"nonlinear_ts_n${n}_vars${v}_lag${l}_${noise}_block${(c.blockProb * 100).toInt}"
      case "D3" | "D3C" =>
        s"nonlinear_ts_n${n}_vars${v}_lag${l}_noise${(c.mixRatio * 100).toInt}" +
          s"_mcar${(c.mcarProb * 100).toInt}_block${(c.blockProb * 100).toInt}"
      case other => throw new IllegalArgumentException(other)
    }
  }

  /** Relative directory per the SHIPPED `Datasets/` tree. The tree was
    * arranged by hand (the scripts write flat `output*` dirs — a1.py:308,
    * b2.py:226), so its casing is inconsistent; those quirks are preserved
    * verbatim because the tree IS the deliverable a reference user consumes:
    * 4-variable dirs capitalize "Lag", 6/8-variable don't; C1C capitalizes
    * "Variable" but not "lag"; C2 pairs "Gaussian error" with plain
    * "Students t"; D2C/D3/D3C alone use lowercase "lag" at top level.
    */
  def relDir(c: GenConfig): String = {
    val v = c.nVars; val l = c.maxLag
    val lagDir = (if (v == 4) "Lag " else "lag ") + l
    val noiseName = if (c.noiseType == "student_t") "Students t" else "Gaussian"
    c.family match {
      case "A1" | "A1C" => s"${c.family}/$noiseName/$v variable/$lagDir"
      case "A2" | "A2C" | "B1" | "B1C" =>
        s"${c.family}/$noiseName error/$v variable/$lagDir"
      case "B2" | "B2C" =>
        val g = (c.mixRatio * 100).toInt
        s"${c.family}/gaussian_${g}_laplace_${100 - g}"
      case "C1" => s"C1/$v variable/$lagDir"
      case "C1C" => s"C1C/$v Variable/lag $l"
      case "C2" =>
        val nd = if (c.noiseType == "student_t") "Students t" else "Gaussian error"
        s"C2/$nd/Lag $l"
      case "C2C" => s"C2C/$noiseName"
      case "D1" | "D1C" | "D2" => s"${c.family}/Lag $l"
      case "D2C" | "D3" | "D3C" => s"${c.family}/lag $l"
      case other => throw new IllegalArgumentException(other)
    }
  }

  /** `_missing`/`_complete` suffix for the dual-output D families, empty
    * otherwise (d1.py:267-271, d3c.py:418-420).
    */
  def fileSuffix(c: GenConfig, missing: Boolean): String =
    if (Kernel.specs(c.family).mcar || Kernel.specs(c.family).block)
      (if (missing) "_missing" else "_complete")
    else ""

  /** Full relative path of one corpus CSV inside the `Datasets/` tree. */
  def relPath(c: GenConfig, missing: Boolean): String =
    s"${relDir(c)}/${fileStem(c)}${fileSuffix(c, missing)}.csv"

  /** Every CSV the engine writes for `cfgs` — D-family configs contribute a
    * missing/complete pair, everything else a single file. This is the
    * manifest the parity sweep hashes against the shipped tree's listing.
    */
  def corpusManifest(cfgs: Seq[GenConfig]): Seq[String] =
    cfgs.flatMap { c =>
      val dual = Kernel.specs(c.family).mcar || Kernel.specs(c.family).block
      if (dual) Seq(relPath(c, missing = false), relPath(c, missing = true))
      else Seq(relPath(c, missing = false))
    }

  // ---------------------------------------------------------------------------
  // Structure / statistics text corpus (the 1,404 shipped .txt artifacts)
  // ---------------------------------------------------------------------------

  /** Relative paths of the txt files the shipped tree carries for `c` —
    * empty for the 13 families that ship none. Quirks preserved verbatim:
    * B2's structure files exist ONLY under gaussian_70_laplace_30 (one copy,
    * hand-curated), C2C ships per noise dir, D2C ships a causal_structure +
    * statistics pair, D3/D3C one structure per config.
    */
  def txtPaths(c: GenConfig): Seq[String] = c.family match {
    case "B2" if (c.mixRatio * 100).toInt == 70 =>
      Seq(s"${relDir(c)}/${fileStem(c)}_structure.txt")
    case "C2C" => Seq(s"${relDir(c)}/${fileStem(c)}_structure.txt")
    case "D2C" => Seq(s"${relDir(c)}/${fileStem(c)}_causal_structure.txt",
      s"${relDir(c)}/${fileStem(c)}_statistics.txt")
    case "D3" | "D3C" => Seq(s"${relDir(c)}/${fileStem(c)}_structure.txt")
    case _ => Seq.empty
  }

  def txtManifest(cfgs: Seq[GenConfig]): Seq[String] = cfgs.flatMap(txtPaths)

  /** The shipped structure-file content for `c`, BYTE-identical to the
    * reference tree (headers, blank-line placement, link-line grammar and
    * Python float rendering are all pure functions of the catalog).
    */
  def structureTxt(c: GenConfig): String = {
    val eqs = Catalog.equations((c.family, c.nVars, c.maxLag))
    val raw = Parser.truthLinksRaw(c.family, c.nVars, c.maxLag)
    def nm(s: String) = if (s.forall(_.isDigit)) s"X$s" else s
    def arrows: String = raw.map { rl =>
      val Vector(src, lag, tgt, func) = rl.parts
      s"${nm(src)} --($func, lag=$lag)--> ${nm(tgt)}: ${fmt(rl.coef)}"
    }.mkString("\n")
    def noiseLine =
      s"Noise: ${(c.mixRatio * 100).toInt}% Gaussian, ${100 - (c.mixRatio * 100).toInt}% Laplace"
    def maskLine =
      s"MCAR: ${(c.mcarProb * 100).toInt}%, Block: ${(c.blockProb * 100).toInt}%"
    c.family match {
      case "B2" =>
        val g = (c.mixRatio * 100).toInt
        s"True Nonlinear Causal Structure (Gaussian: $g%, Laplace: ${100 - g}%):\n" +
          "Format: (source, lag, target) => weight\n" +
          raw.map { rl =>
            val Vector(src, lag, tgt) = rl.parts
            s"('$src', $lag, '$tgt') => ${fmt(rl.coef)}"
          }.mkString("\n") + "\n"
      case "C2C" =>
        "Nonlinear Causal Structure with Confounder:\n\nEquations:\n" +
          eqs.mkString("\n") + "\n\nCausal Links:\n" + arrows + "\n"
      case "D2C" =>
        "True Nonlinear Causal Structure with Confounder:\n" +
          "Format: (source, lag, target) => coefficient\n\nEquations:\n" +
          eqs.mkString("\n") + "\n\nNonlinear Causal Links:\n" +
          raw.map { rl =>
            val Vector(src, lag, tgt) = rl.parts
            s"($src, $lag, $tgt) => ${fmt(rl.coef)} [base coefficient]"
          }.mkString("\n") + "\n"
      case "D3" =>
        s"Nonlinear Causal Structure:\n$noiseLine\n$maskLine\n\nEquations:\n" +
          eqs.mkString("\n") + "\n\nCausal Links:\n" + arrows + "\n"
      case "D3C" =>
        "Nonlinear Causal Structure with Mixed Errors, Irregular Sampling, " +
          s"Mixed Missing Data, and Confounder:\n\n$noiseLine\n$maskLine\n\nEquations:\n" +
          eqs.mkString("\n") + "\n\nCausal Links:\n" + arrows + "\n"
      case other => throw new IllegalArgumentException(s"no structure txt for $other")
    }
  }

  /** D2C's statistics sidecar: the shipped line grammar with THIS kernel's
    * mask statistics (the values are RNG-dependent — statistical, not byte,
    * parity; CorpusSpec pins the grammar line-by-line).
    */
  def statisticsTxt(c: GenConfig, mask: Array[Int]): String = {
    val v = c.nVars
    val total = mask.length * v
    val perVar = Array.tabulate(v)(j => mask.count(m => (m & (1 << j)) != 0))
    val missing = perVar.sum
    def pct(num: Long, den: Long): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(100.0 * num / den))
    s"Missing Data Statistics:\nTotal points: $total\nMissing points: $missing\n" +
      s"Missing percentage: ${pct(missing, total)}%\n\n" +
      "Missing percentage by variable:\n" +
      (1 to v).map(i => s"X$i: ${pct(perVar(i - 1), mask.length)}%").mkString("\n") +
      "\n\nNote: Confounder U is always fully observed\n"
  }

  /** Write every txt artifact for `cfgs` (driver-side: 1,404 small files,
    * content pure catalog functions except the D2C statistics which reruns
    * the config's mask RNG).
    */
  def writeTxtCorpus(cfgs: Seq[GenConfig], outDir: String): Unit =
    cfgs.foreach { c =>
      txtPaths(c).foreach { rel =>
        val target = Paths.get(s"$outDir/$rel")
        Files.createDirectories(target.getParent)
        val content =
          if (rel.endsWith("_statistics.txt"))
            statisticsTxt(c, Kernel.generate(c).mask)
          else structureTxt(c)
        Files.write(target, content.getBytes(StandardCharsets.UTF_8))
      }
    }

  /** Structure text (S4). Format A ("(src, lag, tgt) => coef") for A/B/D1/D2
    * families, format C ("src --(func, lag=k)--> tgt: coef") for C/D3 families
    * — link lines exactly as the reference writes them (raw extractor keys).
    */
  def structureText(family: String, nVars: Int, maxLag: Int): String = {
    val eqs = Catalog.equations((family, nVars, maxLag))
    val raw = Parser.truthLinksRaw(family, nVars, maxLag)
    val sb = new StringBuilder
    sb.append(s"Causal structure for family $family (vars=$nVars, max_lag=$maxLag)\n")
    sb.append("\nEquations:\n")
    eqs.foreach(e => sb.append(e).append('\n'))
    sb.append("\nCausal Links:\n")
    def nm(s: String) = if (s.forall(_.isDigit)) s"X$s" else s
    // per-family link-line formats as written by each save function:
    // tuple-repr (a2.py:293, b2.py:287), "[base coefficient]" (d2.py:309),
    // plain (a1.py:305), arrow (d3c.py:519-521)
    val quoted = Set("A2", "A2C", "B1", "B1C", "B2", "B2C")
    val baseCoefSuffix = Set("D2", "D2C")
    raw.foreach { rl =>
      rl.parts match {
        case Vector(src, lag, tgt) if quoted.contains(family) =>
          sb.append(s"('$src', $lag, '$tgt') => ${fmt(rl.coef)}\n")
        case Vector(src, lag, tgt) if baseCoefSuffix.contains(family) =>
          sb.append(s"($src, $lag, $tgt) => ${fmt(rl.coef)} [base coefficient]\n")
        case Vector(src, lag, tgt) =>
          sb.append(s"($src, $lag, $tgt) => ${fmt(rl.coef)}\n")
        case Vector(src, lag, tgt, func) =>
          sb.append(s"${nm(src)} --($func, lag=$lag)--> ${nm(tgt)}: ${fmt(rl.coef)}\n")
        case other => throw new IllegalStateException(other.toString)
      }
    }
    sb.toString
  }

  // ---------------------------------------------------------------------------
  // Structure text parser (S4 inverse): the reference's downstream consumers
  // parse these files back (a1.py:297-306 writes the grammar; readers split
  // on " => " / the arrow). One matcher per link-line grammar, all anchored —
  // header, equation, noise and statistics lines match none of them.
  // ---------------------------------------------------------------------------
  private val ArrowLine =
    """^(\S+) --\((\w+), lag=(\d+)\)--> ([^:]+): (-?[0-9.]+)$""".r
  private val QuotedTupleLine =
    """^\('([^']+)', (-?\d+), '([^']+)'\) => (-?[0-9.]+)$""".r
  private val BaseCoefLine =
    """^\(([^,]+), (-?\d+), ([^)]+)\) => (-?[0-9.]+) \[base coefficient\]$""".r
  private val PlainTupleLine =
    """^\(([^,]+), (-?\d+), ([^)]+)\) => (-?[0-9.]+)$""".r

  /** Parse one structure-file line into a normalized link
    * (source, lag≥0, target, func, coef) — names digit-normalized to the
    * `X<i>` form and lags stored non-negative exactly like
    * `Parser.truthLinks`; `None` for non-link lines.
    */
  def parseLinkLine(line: String): Option[(String, Int, String, String, Double)] = {
    def nm(s: String) = {
      val t = s.trim
      if (t.nonEmpty && t.forall(_.isDigit)) s"X$t" else t
    }
    line.trim match {
      case ArrowLine(src, func, lag, tgt, coef) =>
        Some((nm(src), lag.toInt, nm(tgt), func, coef.toDouble))
      case QuotedTupleLine(src, lag, tgt, coef) =>
        Some((nm(src), math.abs(lag.toInt), nm(tgt), "linear", coef.toDouble))
      case BaseCoefLine(src, lag, tgt, coef) =>
        Some((nm(src), math.abs(lag.toInt), nm(tgt), "linear", coef.toDouble))
      case PlainTupleLine(src, lag, tgt, coef) =>
        Some((nm(src), math.abs(lag.toInt), nm(tgt), "linear", coef.toDouble))
      case _ => None
    }
  }

  /** All links in a structure file, document order. */
  def parseStructureLinks(content: String):
      Vector[(String, Int, String, String, Double)] =
    content.split('\n').iterator.flatMap(parseLinkLine).toVector

  /** Round-trip to `CausalLink` rows; the grid coordinates come from the
    * generic header or the file's location in the corpus tree.
    */
  def parseStructureText(content: String, family: String, nVars: Int,
      maxLag: Int): Vector[graft.core.CausalLink] =
    parseStructureLinks(content).map { case (src, lag, tgt, func, coef) =>
      graft.core.CausalLink(family, nVars, maxLag, src, lag, tgt, func, coef)
    }

  /** CSV scan (S6): read a reference-layout wide CSV back with an explicit
    * schema (X1..Xn [,U], time) — the consumption path of py_tetrad_helper.
    */
  def readWideCsv(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val headerFile =
      if (new java.io.File(path).isFile) new java.io.File(path)
      else {
        val csvs = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".csv")).sortBy(_.getName)
        require(csvs.nonEmpty, s"readWideCsv: no .csv files under $path")
        csvs.head // sorted: deterministic header choice when several exist
      }
    val header = scala.io.Source.fromFile(headerFile)
    val cols = try header.getLines().next().split(",").toSeq finally header.close()
    val fields = cols.map {
      case "time" => StructField("time", DoubleType, nullable = false)
      case c => StructField(c, DoubleType, nullable = true)
    }
    spark.read
      .option("header", "true")
      .schema(StructType(fields))
      .csv(path)
  }

  /** Python-str float rendering for the short decimals in the catalogs. */
  private def fmt(d: Double): String =
    if (d == d.toLong.toDouble) s"${d.toLong}.0" else d.toString

  def writeStructureText(family: String, nVars: Int, maxLag: Int, path: String): Unit =
    Files.write(Paths.get(path), structureText(family, nVars, maxLag).getBytes(StandardCharsets.UTF_8))

  /** Minimal NPY v1.0 writer for float64 / bool tensors (S3, a1.py:268-270). */
  def writeNpy(path: String, shape: Seq[Int], doubles: Array[Double]): Unit =
    writeNpyRaw(path, shape, "<f8", doubles.length * 8) { buf =>
      doubles.foreach(buf.putDouble)
    }

  def writeNpyBool(path: String, shape: Seq[Int], bools: Array[Boolean]): Unit =
    writeNpyRaw(path, shape, "|b1", bools.length) { buf =>
      bools.foreach(b => buf.put(if (b) 1.toByte else 0.toByte))
    }

  private def writeNpyRaw(path: String, shape: Seq[Int], dtype: String, dataLen: Int)
      (fill: ByteBuffer => Unit): Unit = {
    val headerDict = s"{'descr': '$dtype', 'fortran_order': False, 'shape': (${shape.mkString(", ")}), }"
    val headerLen = headerDict.length + 1 // newline
    val pad = (64 - ((10 + headerLen) % 64)) % 64
    val header = headerDict + " " * pad + "\n"
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    try {
      out.write(Array[Byte](0x93.toByte, 'N', 'U', 'M', 'P', 'Y', 1, 0))
      out.write(Array[Byte]((header.length & 0xff).toByte, ((header.length >> 8) & 0xff).toByte))
      out.write(header.getBytes(StandardCharsets.US_ASCII))
      val buf = ByteBuffer.allocate(dataLen).order(ByteOrder.LITTLE_ENDIAN)
      fill(buf)
      out.write(buf.array())
    } finally out.close()
  }

  /** Truth tensors for one (family, nVars, maxLag) as dense arrays (val, graph)
    * with U appended at index nVars for confounded variants (a1c.py:315).
    */
  def truthTensors(family: String, nVars: Int, maxLag: Int): (Array[Double], Array[Boolean], Int) = {
    val links = Parser.truthLinks(family, nVars, maxLag)
    val hasU = links.exists(l => l.source == "U" || l.target == "U")
    val p = if (hasU) nVars + 1 else nVars
    val l1 = maxLag + 1
    val vals = new Array[Double](p * p * l1)
    val graph = new Array[Boolean](p * p * l1)
    def idx(i: Int, j: Int, k: Int) = (i * p + j) * l1 + k
    def vi(name: String) = if (name == "U") nVars else name.drop(1).toInt - 1
    links.foreach { ln =>
      val i = vi(ln.source); val j = vi(ln.target); val k = ln.lag
      vals(idx(i, j, k)) = ln.coef
      graph(idx(i, j, k)) = true
      if (k == 0) vals(idx(j, i, 0)) = ln.coef // symmetric val, directed graph (a1.py:264-266)
    }
    (vals, graph, p)
  }

  /** CSV corpus write (S2): ONE job for the whole pass — repartition on
    * configId, sort (configId, t) within partitions, and let each task
    * stream its configs straight into the FINAL grammar-named files
    * (header + rows rendered in-task). No partitionBy temp tree, no
    * commit-protocol rename of 4,320 part files, no per-config driver
    * loop — the r8 profile showed the old 6-job partitionBy writer spent
    * its ~26 s almost entirely in write/commit/rename machinery, not
    * generation. Formatting is byte-compatible with the previous Spark
    * CSV output: doubles via `Double.toString` (what UnivocityGenerator
    * emits), nulls as empty cells, regular families' time as the integer
    * string, one `\n` after every line. CorpusSpec re-verifies layout,
    * headers, row counts and the empty-cell encoding wholesale.
    * `missing=true` writes the masked view (D families' *_missing.csv).
    */
  def writeCsvCorpus(rows: Dataset[SeriesRow], cfgs: Seq[GenConfig], outDir: String,
      missing: Boolean): Unit = {
    val wide0 = Generate.wide(rows)
    val view = if (missing) Generate.missingView(wide0) else wide0
    Files.createDirectories(Paths.get(outDir))
    // (relPath, nVars, hasU, regular-time) per config, broadcast to tasks
    val meta: Map[Long, (String, Int, Boolean, Boolean)] = cfgs.map { c =>
      val spec = Kernel.specs(c.family)
      // the row loop below reads X values positionally from the fixed
      // X1..X8,U,time select — widen that select before admitting a
      // config with more variables, else U/time would silently
      // serialize as X columns
      require(c.nVars <= 8,
        s"writeCsvCorpus supports nVars <= 8, got ${c.nVars}")
      c.configId -> (relPath(c, missing), c.nVars, spec.hasU, !spec.irregular)
    }.toMap
    // pre-create every target directory driver-side so tasks never race
    meta.values.map(m => Paths.get(s"$outDir/${m._1}").getParent)
      .toSet.foreach((p: java.nio.file.Path) => Files.createDirectories(p))
    val spark = view.sparkSession
    val metaB = spark.sparkContext.broadcast(meta)
    val root = new java.io.File(outDir).getAbsolutePath
    val cols = Seq(col("configId"), col("t")) ++
      (1 to 8).map(i => col(s"X$i")) ++ Seq(col("U"), col("time"))
    view.select(cols: _*)
      .repartition(col("configId"))
      .sortWithinPartitions("configId", "t")
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val m = metaB.value
        // write to a task-attempt-unique temp name and rename into
        // place on close: a speculative or retried attempt can then
        // never interleave with (or truncate under) a concurrent
        // attempt's writer — last atomic rename wins. The rename runs
        // ONLY on the success paths (config switch after its last row, or
        // clean end of partition): a task that throws or is killed
        // mid-config aborts — the in-progress temp is closed and deleted,
        // never renamed — so a torn file can never shadow a complete one
        val tc = org.apache.spark.TaskContext.get()
        val sfx = s".tmp-${tc.stageId}-${tc.taskAttemptId}"
        var curId = Long.MinValue
        var w: java.io.Writer = null
        var curFinal: java.nio.file.Path = null
        // the temp path tracked SEPARATELY from the writer: if close()'s
        // rename itself fails (ENOSPC, FS error) after nulling w, abort()
        // can still delete the stranded temp by path
        var curTmp: java.nio.file.Path = null
        var nVars = 0; var hasU = false; var regular = false
        def close(): Unit = if (w != null) {
          w.close(); w = null
          Files.move(curTmp, curFinal,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          curTmp = null
        }
        def abort(): Unit = {
          // never let cleanup failures shadow the task's root exception
          if (w != null) {
            try w.close()
            catch { case scala.util.control.NonFatal(_) => () }
            w = null
          }
          if (curTmp != null) {
            try Files.deleteIfExists(curTmp)
            catch { case scala.util.control.NonFatal(_) => () }
            curTmp = null
          }
        }
        var ok = false
        try {
          val sb = new java.lang.StringBuilder(256)
          it.foreach { r =>
            val id = r.getLong(0)
            if (id != curId) {
              close()
              curId = id
              val (rel, v, u, reg) = m(id)
              nVars = v; hasU = u; regular = reg
              curFinal = Paths.get(s"$root/$rel")
              curTmp = Paths.get(s"$root/$rel$sfx")
              w = new java.io.BufferedWriter(new java.io.FileWriter(
                curTmp.toFile), 1 << 16)
              sb.setLength(0)
              var i = 1
              while (i <= nVars) { sb.append('X').append(i).append(','); i += 1 }
              if (hasU) sb.append("U,")
              sb.append("time\n")
              w.write(sb.toString)
            }
            sb.setLength(0)
            var i = 0
            while (i < nVars) {
              if (!r.isNullAt(2 + i)) sb.append(r.getDouble(2 + i))
              sb.append(',')
              i += 1
            }
            if (hasU) {
              if (!r.isNullAt(10)) sb.append(r.getDouble(10))
              sb.append(',')
            }
            val time = r.getDouble(11)
            if (regular) sb.append(time.toLong) else sb.append(time)
            sb.append('\n')
            w.write(sb.toString)
          }
          ok = true
        } finally { if (ok) close() else abort() }
      }
  }

  /** The reference's actual deliverable, wholesale: every CSV of the full
    * 18-family sweep (2,592 configs → 4,320 files — D families write dual
    * missing/complete views) into the shipped `Datasets/` directory grammar
    * under `outDir`. The two corpus passes each call [[Generate.series]],
    * so every D-family config (the dual-view ones) is generated twice
    * (perfbench's `generate.rows_generated_per_row_written` reads 5/3).
    * The complete and missing views still agree cell for cell outside the
    * mask because the kernel is deterministic.
    */
  def writeFullCorpus(spark: org.apache.spark.sql.SparkSession, outDir: String,
      cfgs: Seq[GenConfig] = Grid.all()): Unit = {
    val rows = Generate.series(spark, cfgs)
    writeCsvCorpus(rows, cfgs, outDir, missing = false)
    val dual = cfgs.filter(c =>
      Kernel.specs(c.family).mcar || Kernel.specs(c.family).block)
    if (dual.nonEmpty) {
      val dRows = Generate.series(spark, dual)
      writeCsvCorpus(dRows, dual, outDir, missing = true)
    }
    writeTxtCorpus(cfgs, outDir)
  }
}
