package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.generate.Panels
import graft.metrics.Causal

/** PC-STABLE order-≤2 skeleton (Causal.pcSkeleton2Stable): the
  * adjacency-restricted conditioning variant of Colombo & Maathuis
  * (JMLR 15, 2014). Pinned here: exact agreement with an independent
  * BigInt evaluator of the stable candidate policy, partitioning
  * invariance, the candidate-subset ⇒ edge-superset relation against
  * the unrestricted pcSkeleton2, and Meek-fixpoint adequacy of the
  * pinned round count on the q347 wide-panel graph.
  */
class PcStableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("pc-stable order 2 equals an independent BigInt evaluator of the " +
      "adjacency-restricted candidate policy and is partitioning " +
      "invariant (random panels)") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    for (trial <- 1 to 3) {
      val names = (0 until 5).map(i => s"s$i")
      val nDays = 60
      val fac = (1 to nDays).map(_ => Math.round(rnd.nextGaussian() * 300))
      val rows = for {
        (s, si) <- names.zipWithIndex; d <- 1 to nDays
      } yield (s, d.toLong,
        (if (si % 2 == 0) fac(d - 1) else -fac(d - 1) / 2) +
          Math.round(rnd.nextGaussian() * 200) / 10 * 10)
      val byS = rows.groupBy(_._1).map { case (s, rs) =>
        val sorted = rs.sortBy(r => (r._3, r._2)).zipWithIndex
          .map { case (r, i) => r._2 -> (i + 1L) }.toMap
        s -> (1 to nDays).map(d => sorted(d.toLong))
      }
      val n = BigInt(nDays)
      def c(x: String, y: String): BigInt = {
        val (rx, ry) = (byS(x), byS(y))
        n * rx.zip(ry).map { case (u, v) => BigInt(u) * v }.sum -
          rx.map(BigInt(_)).sum * ry.map(BigInt(_)).sum
      }
      val tau = BigInt(625)
      def sq(x: BigInt) = x * x
      // level 0 everywhere first (PC-stable is level-synchronous: the
      // adjacency each level reads is FROZEN at the previous level)
      val keep0 = (for {
        i <- names.indices; j <- (i + 1) until names.size
        a = names(i); b = names(j)
      } yield (a, b) ->
        (10000 * sq(c(a, b)) > tau * c(a, a) * c(b, b))).toMap
      def n0(x: String): Set[String] = names.filter(y => y != x &&
        keep0(if (x < y) (x, y) else (y, x))).toSet
      def sep1ok(a: String, b: String, z: String): Boolean =
        10000 * sq(c(a, b) * c(z, z) - c(a, z) * c(b, z)) <=
          tau * (c(a, a) * c(z, z) - sq(c(a, z))) *
            (c(b, b) * c(z, z) - sq(c(b, z)))
      val lvl1 = keep0.map { case ((a, b), k0) =>
        val cand = ((n0(a) ++ n0(b)) - a - b).toSeq.sorted
        val sep = if (k0) cand.filter(z => sep1ok(a, b, z)).headOption
          else None
        (a, b) -> (k0, sep, k0 && sep.isEmpty)
      }
      def n1(x: String): Set[String] = names.filter(y => y != x && {
        val key = if (x < y) (x, y) else (y, x); lvl1(key)._3
      }).toSet
      val ch = scala.collection.mutable.Map.empty[(String, String), BigInt]
      def m(x: String, y: String) = ch.getOrElseUpdate((x, y),
        c(x, y) / (n * n))
      def sep2ok(a: String, b: String, z: String, w: String): Boolean = {
        val dzw = m(z, z) * m(w, w) - sq(m(z, w))
        val t1 = m(a, z) * m(w, w) - m(z, w) * m(a, w)
        val t2 = m(a, z) * m(z, w) - m(z, z) * m(a, w)
        val cofab = m(a, b) * dzw - m(b, z) * t1 + m(b, w) * t2
        val cofbb = m(a, a) * dzw - m(a, z) * t1 + m(a, w) * t2
        val cofaa = m(b, b) * dzw -
          m(b, z) * (m(b, z) * m(w, w) - m(z, w) * m(b, w)) +
          m(b, w) * (m(b, z) * m(z, w) - m(z, z) * m(b, w))
        10000 * sq(cofab) <= tau * cofaa * cofbb
      }
      val expected = lvl1.map { case ((a, b), (k0, sep, edge)) =>
        // {z,w} both from ONE endpoint's level-1 neighbor set
        val sideA = (n1(a) - b).toSeq.sorted
        val sideB = (n1(b) - a).toSeq.sorted
        val cand2 = (for {
          side <- Seq(sideA, sideB)
          zi <- side.indices; wi <- (zi + 1) until side.size
        } yield (side(zi), side(wi))).distinct.sortBy(p => s"${p._1}~${p._2}")
        val sep2 = if (edge)
          cand2.collectFirst { case (z, w) if sep2ok(a, b, z, w) => s"$z~$w" }
          else None
        (a, b) -> (if (k0) 1 else 0, sep, if (edge) 1 else 0, sep2,
          if (edge && sep2.isEmpty) 1 else 0)
      }
      val base = rows.toDF("series", "day", "v")
      Seq(base, base.repartition(7)).foreach { panel =>
        val got = Causal.pcSkeleton2Stable(panel)
          .collect().map(r => (r.getString(0), r.getString(1)) ->
            (r.getInt(4), Option(r.getString(5)), r.getInt(6),
              Option(r.getString(7)), r.getInt(8))).toMap
        assert(got == expected, s"trial $trial: got $got want $expected")
      }
    }
  }

  test("order 3 separates exactly the pair whose dependence needs all " +
      "three conditioners: a planted a←{z,w,u}→b structure survives " +
      "order ≤2 and dies at order 3 on the {z,w,u} triple") {
    import spark.implicits._
    // three INDEPENDENT sources z, w, u; a and b each sum all three
    // plus full-per-source-scale own noise. Conditioning on any ≤2
    // sources leaves the third in both residuals (Gaussian-limit
    // ρ_ab·{two} = 1/(1+σ²) = 0.5); the full triple reduces a-b to its
    // independent noises (ρ → 0). τ = 0.1 (the wide-panel queries' own
    // threshold): coarse enough that rank-vs-linear leakage at order 3
    // stays under it, fine enough that the direct a-z partial given the
    // aggregate b (an unfaithfulness-shaped ≈ 0.22) stays above it.
    // Source pairs separate at order 0 (independent), so order 3's
    // adjacency is the 6 true edges + the still-alive a-b
    val rnd = new scala.util.Random(101)
    def g(): Long = Math.round(rnd.nextGaussian() * 1000)
    val rows = (1 to 200).flatMap { day =>
      val zv = g(); val wv = g(); val uv = g()
      val av = zv + wv + uv + g()
      val bv = zv + wv + uv + g()
      Seq(("a", day.toLong, av), ("z", day.toLong, zv),
        ("w", day.toLong, wv), ("u", day.toLong, uv),
        ("b", day.toLong, bv))
    }
    val out = Causal.pcSkeleton3Stable(rows.toDF("series", "day", "v"),
        100L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getInt(8), Option(r.getString(9)), r.getInt(10))).toMap
    val (abE2, abSep3, abE3) = out(("a", "b"))
    assert(abE2 == 1, s"a-b must survive order<=2: $out")
    assert(abE3 == 0 && abSep3.contains("u~w~z"),
      s"a-b must separate on exactly the full mediator triple: $out")
    for (s <- Seq("z", "w", "u")) {
      assert(out(if ("a" < s) ("a", s) else (s, "a"))._3 == 1,
        s"true edge a-$s survives order 3: $out")
      assert(out(if ("b" < s) ("b", s) else (s, "b"))._3 == 1,
        s"true edge b-$s survives order 3: $out")
    }
    assert(out(("w", "z"))._1 == 0 && out(("u", "w"))._1 == 0,
      s"mediator pairs separate at order 1 on their common cause: $out")
  }

  test("pc-stable order 3 equals an independent BigInt evaluator " +
      "(random 7-series panels, real triple candidates)") {
    import spark.implicits._
    val rnd = new scala.util.Random(83)
    for (trial <- 1 to 2) {
      val names = (0 until 7).map(i => s"s$i")
      val nDays = 60
      val fac = (1 to nDays).map(_ => Math.round(rnd.nextGaussian() * 300))
      val rows = for {
        (s, si) <- names.zipWithIndex; d <- 1 to nDays
      } yield (s, d.toLong,
        (if (si % 2 == 0) fac(d - 1) else -fac(d - 1) / 2) +
          Math.round(rnd.nextGaussian() * 200) / 10 * 10)
      val byS = rows.groupBy(_._1).map { case (s, rs) =>
        val sorted = rs.sortBy(r => (r._3, r._2)).zipWithIndex
          .map { case (r, i) => r._2 -> (i + 1L) }.toMap
        s -> (1 to nDays).map(d => sorted(d.toLong))
      }
      val n = BigInt(nDays)
      def c(x: String, y: String): BigInt = {
        val (rx, ry) = (byS(x), byS(y))
        n * rx.zip(ry).map { case (u, v) => BigInt(u) * v }.sum -
          rx.map(BigInt(_)).sum * ry.map(BigInt(_)).sum
      }
      val tau = BigInt(625)
      def sq(x: BigInt) = x * x
      val keep0 = (for {
        i <- names.indices; j <- (i + 1) until names.size
        a = names(i); b = names(j)
      } yield (a, b) ->
        (10000 * sq(c(a, b)) > tau * c(a, a) * c(b, b))).toMap
      def nbr(alive: ((String, String)) => Boolean)(x: String) =
        names.filter(y => y != x &&
          alive(if (x < y) (x, y) else (y, x))).toSet
      val n0 = nbr(keep0)(_)
      def sep1ok(a: String, b: String, z: String): Boolean =
        10000 * sq(c(a, b) * c(z, z) - c(a, z) * c(b, z)) <=
          tau * (c(a, a) * c(z, z) - sq(c(a, z))) *
            (c(b, b) * c(z, z) - sq(c(b, z)))
      val lvl1 = keep0.map { case ((a, b), k0) =>
        val cand = ((n0(a) ++ n0(b)) - a - b).toSeq.sorted
        (a, b) -> (k0 && !cand.exists(z => sep1ok(a, b, z)))
      }
      val n1 = nbr(lvl1)(_)
      val ch = scala.collection.mutable.Map.empty[(String, String), BigInt]
      def m(x: String, y: String) = ch.getOrElseUpdate(
        (if (x <= y) (x, y) else (y, x)), c(x, y) / (n * n))
      // generic minor determinant over the normalized moments —
      // recursive cofactor expansion, the evaluator's own arithmetic
      def det(r: Seq[String], cc: Seq[String]): BigInt =
        if (r.size == 1) m(r.head, cc.head)
        else cc.indices.map { j =>
          val s = m(r.head, cc(j)) * det(r.tail, cc.patch(j, Nil, 1))
          if (j % 2 == 0) s else -s
        }.sum
      def sep2ok(a: String, b: String, z: String, w: String): Boolean = {
        val cofab = det(Seq(b, z, w), Seq(a, z, w))
        val cofaa = det(Seq(b, z, w), Seq(b, z, w))
        val cofbb = det(Seq(a, z, w), Seq(a, z, w))
        10000 * sq(cofab) <= tau * cofaa * cofbb
      }
      val lvl2 = lvl1.map { case ((a, b), e1) =>
        val cand2 = (for {
          side <- Seq((n1(a) - b).toSeq.sorted, (n1(b) - a).toSeq.sorted)
          zi <- side.indices; wi <- (zi + 1) until side.size
        } yield (side(zi), side(wi))).distinct
        (a, b) -> (e1 && !cand2.exists {
          case (z, w) => sep2ok(a, b, z, w) })
      }
      val n2 = nbr(lvl2)(_)
      def sep3ok(a: String, b: String, z: String, w: String, u: String)
          : Boolean = {
        val cofab = det(Seq(b, z, w, u), Seq(a, z, w, u))
        val cofaa = det(Seq(b, z, w, u), Seq(b, z, w, u))
        val cofbb = det(Seq(a, z, w, u), Seq(a, z, w, u))
        10000 * sq(cofab) <= tau * cofaa * cofbb
      }
      val expected = lvl2.map { case ((a, b), e2) =>
        val cand3 = (for {
          side <- Seq((n2(a) - b).toSeq.sorted, (n2(b) - a).toSeq.sorted)
          zi <- side.indices; wi <- (zi + 1) until side.size
          ui <- (wi + 1) until side.size
        } yield (side(zi), side(wi), side(ui))).distinct
          .sortBy(t => s"${t._1}~${t._2}~${t._3}")
        val sep3 = if (e2) cand3.collectFirst {
          case (z, w, u) if sep3ok(a, b, z, w, u) => s"$z~$w~$u"
        } else None
        (a, b) -> (if (e2) 1 else 0, sep3,
          if (e2 && sep3.isEmpty) 1 else 0)
      }
      val base = rows.toDF("series", "day", "v")
      Seq(base, base.repartition(5)).foreach { panel =>
        val got = Causal.pcSkeleton3Stable(panel)
          .collect().map(r => (r.getString(0), r.getString(1)) ->
            (r.getInt(8), Option(r.getString(9)), r.getInt(10))).toMap
        assert(got == expected, s"trial $trial: got $got want $expected")
      }
    }
  }

  test("q348's block panel: every planted A-B pair separates at order 3 " +
      "on exactly its own source triple, and the pinned 4 Meek rounds " +
      "reach the fixpoint (round 5 is a no-op)") {
    val pan = Panels.widePanel3(spark, 8, 200).localCheckpoint(true)
    try {
      val sk3 = Causal.pcSkeleton3Stable(pan, 100L).localCheckpoint(true)
      val rows = sk3.select(col("a"), col("b"), col("edge2"),
        col("edge3"), col("sepset3")).collect()
      for (k <- 0 until 8) {
        val g = f"G$k%02d"
        val ab = rows.find(r => r.getString(0) == s"${g}X3" &&
          r.getString(1) == s"${g}X4").get
        assert(ab.getInt(2) == 1 && ab.getInt(3) == 0,
          s"block $g: A-B must survive order <=2 and die at order 3")
        assert(ab.getString(4) == s"${g}X0~${g}X1~${g}X2",
          s"block $g: the separating triple is the block's OWN sources, " +
            s"got ${ab.getString(4)}")
      }
      def dirs(r: Int) = Causal.pcOrient3(sk3, r, requirePairRows = false)
        .collect().map(x => (x.getString(0), x.getString(1)) -> x.getInt(2))
        .toMap
      val at4 = dirs(4)
      assert(dirs(5) == at4,
        "round 5 changed the CPDAG — q348's pinned 4 rounds truncate")
      assert(at4.values.count(_ != 0) > 0, "the block graph orients edges")
    } finally pan.unpersist()
  }

  test("width-adaptive threshold: Acklam quantile hits the textbook " +
      "two-sided 5% value, tau grows with width and shrinks with " +
      "sample size, and the q350 constant is the pinned 1071 bp") {
    // p = 2 ⇒ m = 1 test ⇒ τ = Φ⁻¹(0.975)/√(n−1); z² = 3.8415 ⇒
    // ceil(3.8415/99·1e4) = 389 bp at n = 100 — the textbook 1.96
    val t2 = Causal.tauSqBpForWidth(2, 100)
    assert(t2 == 389L, s"two-series 5% threshold: got $t2")
    assert(Causal.tauSqBpForWidth(160, 200) == 1071L,
      "q350's interpolated constant must not drift")
    val widths = Seq(2, 8, 32, 128, 512).map(Causal.tauSqBpForWidth(_, 200))
    assert(widths == widths.sorted && widths.distinct == widths,
      s"tau² strictly grows with width: $widths")
    val ns = Seq(50L, 100L, 200L, 400L).map(Causal.tauSqBpForWidth(32, _))
    assert(ns == ns.sorted.reverse && ns.distinct == ns,
      s"tau² strictly shrinks with n: $ns")
  }

  test("restricting candidates to the adjacency can only KEEP edges: " +
      "stable edge and edge2 sets are supersets of the unrestricted " +
      "variant's on fully co-observed panels") {
    val pan = Panels.widePanel(spark, 12, 120).localCheckpoint(true)
    try {
      def sets(df: DataFrame): (Set[(String, String)], Set[(String, String)]) = {
        val rows = df.select("a", "b", "edge", "edge2").collect()
        (rows.filter(_.getInt(2) == 1)
           .map(r => (r.getString(0), r.getString(1))).toSet,
         rows.filter(_.getInt(3) == 1)
           .map(r => (r.getString(0), r.getString(1))).toSet)
      }
      val (e1u, e2u) = sets(Causal.pcSkeleton2(pan, 100L))
      val (e1s, e2s) = sets(Causal.pcSkeleton2Stable(pan, 100L))
      assert(e1u.subsetOf(e1s),
        s"order-1: unrestricted kept ${e1u -- e1s} that stable dropped — " +
          "impossible, stable tests a candidate subset")
      assert(e2u.subsetOf(e2s),
        s"order-2: unrestricted kept ${e2u -- e2s} that stable dropped")
      assert(e2s.nonEmpty, "the chain panel keeps edges at order 2")
    } finally pan.unpersist()
  }

  test("the stable ladder composes with the multi-graph fold: two " +
      "disjoint panels folded into one frame (prefixed series, shifted " +
      "days) yield exactly the union of their per-panel order-3 " +
      "results") {
    import org.apache.spark.sql.DataFrame
    // two structurally different graphs: a 3-block order-3 panel and a
    // 12-series chain panel — if any candidate stage leaked across
    // graphs (a crossJoin against the global diagonal would), the
    // folded decisions would diverge from the per-panel ones
    val pA = Panels.widePanel3(spark, 3, 120).localCheckpoint(true)
    val pB = Panels.widePanel(spark, 12, 120).localCheckpoint(true)
    try {
      def fold(tag: String, shift: Long)(p: DataFrame): DataFrame =
        p.select(concat(lit(tag), col("series")).as("series"),
          (col("day") + shift).as("day"), col("v"))
      val folded = fold("L_", 0)(pA).unionByName(fold("R_", 100000L)(pB))
      def census(df: DataFrame, strip: String => Boolean)
          : Map[(String, String), (Int, Int, Int)] =
        Causal.pcSkeleton3Stable(df, 100L).collect()
          .map(r => (r.getString(0), r.getString(1)) ->
            (r.getInt(6), r.getInt(8), r.getInt(10)))
          .filter { case ((a, _), _) => strip(a) }.toMap
      val got = census(folded, _ => true)
      // no cross-graph pair may even have a row: disjoint days ⇒ no
      // co-observed cross-moment ⇒ no pair row
      assert(got.keys.forall { case (a, b) =>
        a.take(2) == b.take(2) }, s"cross-graph pair rows exist: " +
        s"${got.keys.filter { case (a, b) => a.take(2) != b.take(2) }}")
      val wantA = census(pA, _ => true).map { case ((a, b), v) =>
        (s"L_$a", s"L_$b") -> v }
      val wantB = census(pB, _ => true).map { case ((a, b), v) =>
        (s"R_$a", s"R_$b") -> v }
      assert(got == wantA ++ wantB,
        "folded stable decisions must equal the per-panel union")
    } finally { pA.unpersist(); pB.unpersist() }
  }

  test("q347's pinned 4 Meek rounds reach the fixpoint on its actual " +
      "32-wide stable graph (round 5 is a no-op) and every pair row is " +
      "present for the orientation precondition") {
    val pan = Panels.widePanel(spark, 32, 200).localCheckpoint(true)
    try {
      val sk = Causal.pcSkeleton2Stable(pan, 100L).localCheckpoint(true)
      // complete panel ⇒ the every-pair-row precondition must hold
      Causal.assertPairRows(sk.select(col("a"), col("b"),
        col("edge2").as("edge")))
      def dirs(r: Int) = Causal.pcOrient2(sk, r, requirePairRows = false)
        .collect().map(x => (x.getString(0), x.getString(1)) -> x.getInt(2))
        .toMap
      // the stable skeleton keeps MORE edges than the unrestricted one
      // (candidate-subset ⇒ edge-superset), so its undirected chains are
      // longer and Meek propagation genuinely needs a 4th round here
      // (round 4 orients X00-X02/X01-X02 on this graph; q346's
      // unrestricted twin closes in 3)
      val at4 = dirs(4)
      assert(dirs(5) == at4,
        "round 5 changed the CPDAG — q347's pinned 4 rounds truncate")
      assert(at4.values.count(_ != 0) > 0, "the wide graph orients edges")
    } finally pan.unpersist()
  }
}
