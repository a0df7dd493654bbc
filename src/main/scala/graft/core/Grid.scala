package graft.core

/** Reference sweep-grid enumeration (S1): one GenConfig per grid cell, with
  * stable configIds (order-of-enumeration). Grids per family from the
  * generators' __main__ sweeps (a1.py:310-313, b2.py:330-333, c1.py:425-429,
  * d1.py:382-386, d2.py:457-461, d3.py:389-396, d3c.py:524-531).
  */
object Grid {
  private val Sizes = Vector(500, 1000, 3000, 5000)
  private val VarsList = Vector(4, 6, 8)
  private val Lags = Vector(2, 3, 4)
  private val GaussT = Vector("gaussian", "student_t")
  private val MixRatios = Vector(0.3, 0.5, 0.7)
  val DefaultSeed = 42L

  /** Per-family extra dims: (noiseTypes, mixRatios, mcarProbs, blockProbs). */
  private def dims(family: String): (Vector[String], Vector[Double], Vector[Double], Vector[Double]) =
    family match {
      case "A1" | "A1C" | "A2" | "A2C" | "B1" | "B1C" | "C2" | "C2C" =>
        (GaussT, Vector(1.0), Vector(0.0), Vector(0.0))
      case "B2" | "B2C" =>
        (Vector("mixed"), MixRatios, Vector(0.0), Vector(0.0))
      case "C1" | "C1C" =>
        (Vector("gaussian"), Vector(1.0), Vector(0.0), Vector(0.0))
      case "D1" | "D1C" =>
        (GaussT, Vector(1.0), Vector(0.1, 0.2, 0.3), Vector(0.0))
      case "D2" | "D2C" =>
        (GaussT, Vector(1.0), Vector(0.0), Vector(0.1, 0.2, 0.3))
      case "D3" | "D3C" =>
        (Vector("mixed"), MixRatios, Vector(0.05, 0.1), Vector(0.05, 0.1))
      case other => throw new IllegalArgumentException(s"unknown family $other")
    }

  /** Full sweep for one family, in the reference's enumeration order. */
  def forFamily(family: String, seed: Long = DefaultSeed, idOffset: Long = 0L): Vector[GenConfig] = {
    val (noises, ratios, mcars, blocks) = dims(family)
    val trendSeason = Kernel.specs(family).trendSeason
    val out = for {
      n <- Sizes; v <- VarsList; lag <- Lags
      noise <- noises; ratio <- ratios; mcar <- mcars; block <- blocks
    } yield GenConfig(0L, family, v, lag, n, noise, 0.1, ratio, mcar, block,
      if (trendSeason) 0.01 else 0.0, if (trendSeason) 0.5 else 0.0, seed)
    out.zipWithIndex.map { case (c, i) => c.copy(configId = idOffset + i) }
  }

  /** The family's gaussian cell at (nPoints, nVars, maxLag), with its
    * family-local configId — the one generated graph a single-config
    * query reads.
    */
  def cell(family: String, nPoints: Int, nVars: Int, maxLag: Int): GenConfig =
    forFamily(family).find(c =>
      c.nPoints == nPoints && c.nVars == nVars && c.maxLag == maxLag
        && c.noiseType == "gaussian").get

  /** The complete 18-family sweep with globally unique configIds. */
  def all(seed: Long = DefaultSeed): Vector[GenConfig] = {
    var offset = 0L
    Catalog.families.flatMap { fam =>
      val cfgs = forFamily(fam, seed, offset)
      offset += cfgs.length
      cfgs
    }
  }
}
