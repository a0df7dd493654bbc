package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.metrics.Causal

/** Causal-discovery analysis operators (metrics/Causal.scala): Granger
  * lag-1 census, PC skeleton on Spearman ranks, binned transfer entropy.
  * Planted-structure detection, invariances of the integer contracts, and
  * the ln LUT parity with the JVM source of truth.
  */
class CausalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A deterministic pseudo-noise stream, small relative to the signal. */
  private def noise(i: Int, salt: Long): Long = (i * salt) % 97

  /** 40-day, 3-series panel: x is a large-swing hash-white series (a
    * multiplicative sequence like (i·7919) mod p would be linearly
    * predictable at EVERY lag — the census correctly flags its own past,
    * so the driver must be serially unpredictable), y_t = x_{t-1} + small
    * noise (planted x→y), z = pure noise.
    */
  private def plantedPanel(): DataFrame = {
    import spark.implicits._
    val days = 1 to 40
    val x = days.map(i => ("x", i.toLong,
      Math.abs(scala.util.hashing.byteswap64(i.toLong)) % 10007 + 5000))
    val xv = x.map(_._3)
    val y = days.map(i => ("y", i.toLong,
      (if (i > 1) xv(i - 2) else 0L) + noise(i, 2654435761L)))
    val z = days.map(i => ("z", i.toLong, noise(i, 2246822519L) * 103))
    (x ++ y ++ z).toDF("series", "day", "v")
  }

  test("granger census: planted lag-1 link detected, reverse and noise rejected") {
    val g = Causal.grangerLag1(plantedPanel()).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(7)).toMap
    assert(g(("x", "y")) == 1, "planted x->y must be significant")
    assert(g(("y", "x")) == 0, "reverse direction must not be")
    assert(g(("z", "x")) == 0 && g(("z", "y")) == 0,
      "pure noise must cause nothing")
    assert(g.size == 6)
  }

  /** 80-day panel with a LAG-3 planted link: y_t = x_{t-3} + small
    * noise — invisible to the lag-1 census, the order-4 test's reason
    * to exist. y starts at day 4 so the relation holds on EVERY emitted
    * row (a zero-filled spin-up would be a level shift the reverse
    * regression can spuriously exploit).
    */
  private def plantedLag3Panel(): DataFrame = {
    import spark.implicits._
    val days = 1 to 80
    val xv = days.map(i =>
      Math.abs(scala.util.hashing.byteswap64(i.toLong)) % 10007 + 5000)
    val x = days.map(i => ("x", i.toLong, xv(i - 1)))
    val y = days.drop(3).map(i => ("y", i.toLong,
      xv(i - 4) + noise(i, 2654435761L)))
    (x ++ y).toDF("series", "day", "v")
  }

  test("order-4 granger finds the planted lag-3 link that lag-1 misses") {
    val ml = Causal.grangerMulti(plantedLag3Panel(), 4).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(7)).toMap
    assert(ml(("x", "y")) == 1, "order-4 must flag the lag-3 link")
    assert(ml(("y", "x")) == 0, "reverse must not flag")
    val l1 = Causal.grangerLag1(plantedLag3Panel()).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(7)).toMap
    assert(l1(("x", "y")) == 0,
      "the lag-1 census is structurally blind to a lag-3 effect")
  }

  test("order-4 granger invariants: n drops L spin-up days, rss_u <= rss_r, gain >= 0") {
    Causal.grangerMulti(plantedPanel(), 4).collect().foreach { r =>
      assert(r.getLong(2) == 36) // n = 40 days - 4 lags
      assert(r.getLong(5) <= r.getLong(4))
      assert(r.getLong(6) >= 0)
    }
    // order-1 multi must agree with the dedicated lag-1 path's decisions
    // (same moments; the dedicated path's guards differ only on the
    // degenerate cpp=0 cell, absent here)
    val a = Causal.grangerMulti(plantedPanel(), 1, fCritCenti = 422L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(7))
      .toMap
    val b = Causal.grangerLag1(plantedPanel()).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(7)).toMap
    assert(a == b)
  }

  test("granger sums: rss_u <= rss_r and gain >= 0 on every pair; n excludes the first day") {
    val rows = Causal.grangerLag1(plantedPanel()).collect()
    rows.foreach { r =>
      assert(r.getLong(2) == 39) // n = 40 days - 1 lag
      assert(r.getLong(5) <= r.getLong(4)) // rss_u <= rss_r
      assert(r.getLong(6) >= 0) // f_gain
    }
  }

  test("granger census is shift-invariant (centered moments) and row-order-invariant") {
    val base = plantedPanel()
    val out = Causal.grangerLag1(base).orderBy("cause", "effect").collect()
    val shifted = Causal.grangerLag1(
      base.withColumn("v", col("v") + 1000000L))
      .orderBy("cause", "effect").collect()
    // shifting a series moves sums but not the centered C statistics
    assert(out.map(_.toSeq).toSeq == shifted.map(_.toSeq).toSeq)
    val reshuffled = Causal.grangerLag1(base.orderBy(rand(7)))
      .orderBy("cause", "effect").collect()
    assert(out.map(_.toSeq).toSeq == reshuffled.map(_.toSeq).toSeq)
  }

  test("pc skeleton: monotone-linked pair kept, common-driver pair separated by the driver") {
    import spark.implicits._
    // c drives both a and b: Spearman(a,b) is high marginally but the
    // partial given c collapses; the direct (a,c)/(b,c) edges survive.
    val days = 1 to 40
    val c = days.map(i => ("c", i.toLong,
      Math.abs(scala.util.hashing.byteswap64(i.toLong)) % 10007))
    val cv = c.map(_._3)
    // a and b carry EQUAL independent moderate noise around c (ρ(a,c) ≈
    // ρ(b,c) ≈ 0.95): a near-noiseless copy would be a second c and
    // correctly separate EVERY other pair — the partials ρ(a,c|b) and
    // ρ(b,c|a) only survive when neither child is a perfect proxy
    val a = days.map(i => ("a", i.toLong, cv(i - 1) * 10 + noise(i, 2654435761L) * 300))
    val b = days.map(i => ("b", i.toLong, cv(i - 1) * 10 + noise(i, 1779033703L) * 300))
    val panel = (a ++ b ++ c).toDF("series", "day", "v")
    val out = Causal.pcSkeleton(panel).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getInt(4), Option(r.getString(5)), r.getInt(6))).toMap
    assert(out(("a", "c"))._3 == 1 && out(("b", "c"))._3 == 1,
      "direct driver edges survive")
    assert(out(("a", "b"))._1 == 1, "a-b marginally dependent")
    assert(out(("a", "b"))._2.contains("c"), "c separates a-b at order 1")
    assert(out(("a", "b"))._3 == 0, "a-b edge removed")
  }

  test("pc skeleton is invariant to strictly monotone rescaling (rank contract)") {
    val base = plantedPanel()
    val out = Causal.pcSkeleton(base).orderBy("a", "b").collect()
    val rescaled = Causal.pcSkeleton(
      base.withColumn("v", col("v") * 7L + 3L)).orderBy("a", "b").collect()
    assert(out.map(_.toSeq).toSeq == rescaled.map(_.toSeq).toSeq)
  }

  test("transfer entropy: planted copy direction dominates the reverse") {
    val te = Causal.transferEntropy(plantedPanel()).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(te(("x", "y")) > te(("y", "x")),
      s"TE(x->y)=${te(("x", "y"))} must exceed TE(y->x)=${te(("y", "x"))}")
    assert(te(("x", "y")) > te(("z", "y")),
      "the planted parent must beat an unrelated series")
  }

  test("generated-data capstone: the declared A1 lag-1 edge is detected with dominant gain") {
    val out = SparkEntry.queries("q294_granger_on_generated")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getInt(7), r.getInt(8), r.getLong(6))).toMap
    assert(out.size == 12)
    val truthEdges = out.filter(_._2._2 == 1)
    assert(truthEdges.nonEmpty, "catalog must declare a lag-1 edge")
    truthEdges.foreach { case ((c, e), (g, _, gain)) =>
      assert(g == 1, s"declared lag-1 edge $c->$e must be detected")
      // the declared edge's F-gain dwarfs every non-edge's
      val maxNull = out.filter(_._2._2 == 0).map(_._2._3).max
      assert(gain > 4 * maxNull,
        s"$c->$e gain $gain vs best null $maxNull")
    }
  }

  test("unit root: iid daily means are stationary; a random walk is not") {
    import spark.implicits._
    // the production query on real data: iid-ish daily means must reject
    // the unit root for every series
    val out = SparkEntry.queries("q301_unit_root")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.length == 5 && out.forall(_.getInt(4) == 1),
      "iid daily means must test stationary")
    // a planted random walk must NOT reject: its Δv is uncorrelated with
    // its level, so Cxy ≈ 0 and the τ² bound cannot clear
    val walk = (1 to 40).scanLeft(0L) { (acc, i) =>
      acc + (Math.abs(scala.util.hashing.byteswap64(i.toLong)) % 2001) - 1000
    }.zipWithIndex.map { case (v, i) => ("rw", i.toLong, v + 100000L) }
    val wdf = walk.toDF("series", "day", "v")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("series").orderBy("day")
    val dl = wdf.select(col("series"), col("v"),
        lag("v", 1).over(w).as("pv"))
      .where(col("pv").isNotNull)
      .select(col("pv").as("x"), (col("v") - col("pv")).as("y"))
    val r = dl.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
      .select(expr(
        """case when (n*sxy - sx*sy) < 0 and
          |  100 * (n - 2) * (n*sxy - sx*sy) * (n*sxy - sx*sy) >
          |  876 * ((n*sxx - sx*sx) * (n*syy - sy*sy)
          |    - (n*sxy - sx*sy) * (n*sxy - sx*sy))
          |then 1 else 0 end""".stripMargin).cast("int"))
      .first().getInt(0)
    assert(r == 0, "a pure random walk must keep the unit root")
  }

  test("lead-lag ccf: a planted 2-day lead is flagged as the best displacement") {
    import spark.implicits._
    val days = 1 to 40
    val xv = days.map(i =>
      Math.abs(scala.util.hashing.byteswap64(i.toLong)) % 10007)
    val x = days.map(i => ("x", i.toLong, xv(i - 1)))
    val y = days.map(i => ("y", i.toLong,
      (if (i > 2) xv(i - 3) else 0L) + (i * 2654435761L) % 97))
    val panel = (x ++ y).toDF("series", "day", "v")
    // replicate the q302 stages on the synthetic panel
    val lagged = (0 to 3).map { l =>
      val a = panel.select(col("series").as("cause"),
        (col("day") + l).as("day"), col("v").as("av"))
      val b = panel.select(col("series").as("effect"), col("day"),
        col("v").as("bv"))
      b.join(a, Seq("day")).where(col("cause") =!= col("effect"))
        .select(col("cause"), col("effect"), lit(l).as("lag_d"),
          col("av"), col("bv"))
    }.reduce(_ unionByName _)
    val best = lagged.groupBy("cause", "effect", "lag_d").agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("av").cast("decimal(38,0)")).as("sa"),
        sum(col("bv").cast("decimal(38,0)")).as("sb"),
        sum((col("av") * col("av")).cast("decimal(38,0)")).as("saa"),
        sum((col("av") * col("bv")).cast("decimal(38,0)")).as("sab"),
        sum((col("bv") * col("bv")).cast("decimal(38,0)")).as("sbb"))
      .select(col("cause"), col("effect"), col("lag_d"),
        expr("""case when (n*saa - sa*sa) = 0 or (n*sbb - sb*sb) = 0
               |then 0 else ((n*sab - sa*sb) * (n*sab - sa*sb) * 10000)
               |  div ((n*saa - sa*sa) * (n*sbb - sb*sb)) end"""
          .stripMargin).as("bp"))
      .collect()
      .filter(r => r.getString(0) == "x" && r.getString(1) == "y")
      .map(r => r.getInt(2) -> r.getLong(3)).toMap
    assert(best(2) > 9000, s"the planted 2-day lead must be near-perfect: $best")
    assert((0 to 3).filter(_ != 2).forall(l => best(l) < best(2)),
      s"displacement 2 must dominate: $best")
  }

  /** Hand-built skeleton rows (a, b, sepset, edge) → pcOrient dirs. */
  private def orient(rows: Seq[(String, String, Option[String], Int)],
      rounds: Int = 3): Map[(String, String), Int] = {
    import spark.implicits._
    Causal.pcOrient(rows.toDF("a", "b", "sepset", "edge"), rounds)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2))
      .toMap
  }

  test("pc orient: unshielded collider orients both edges into z") {
    // a–c, b–c; (a,b) dropped at order 0 (sepset empty) → a→c←b
    val dirs = orient(Seq(
      ("a", "b", None, 0), ("a", "c", None, 1), ("b", "c", None, 1)))
    assert(dirs === Map(("a", "c") -> 1, ("b", "c") -> 1))
  }

  test("pc orient: surviving-edge-only skeleton fails the pair-row " +
      "precondition loudly instead of silently losing colliders") {
    // same graph as the collider test but WITHOUT the (a,b) edge=0 row:
    // the a–c–b triple candidate has no (x,y) row to test against
    val ex = intercept[IllegalArgumentException] {
      orient(Seq(("a", "c", None, 1), ("b", "c", None, 1)))
    }
    assert(ex.getMessage.contains("every unordered pair"),
      s"unexpected message: ${ex.getMessage}")
  }

  test("pc orient: requirePairRows=false pins the conservative skip for " +
      "never-co-observed pairs — no throw, no evidence-free collider") {
    import spark.implicits._
    // same missing-(a,b)-row graph as the loud-failure test: with the
    // escape hatch the untestable triple is dropped (no independence
    // record for (a,b) exists), both edges stay undirected
    val sk = Seq(("a", "c", None: Option[String], 1),
      ("b", "c", None: Option[String], 1)).toDF("a", "b", "sepset", "edge")
    val dirs = Causal.pcOrient(sk, 3, requirePairRows = false)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2))
      .toMap
    assert(dirs === Map(("a", "c") -> 0, ("b", "c") -> 0))
  }

  test("pc orient: z in the recorded sepset blocks the collider") {
    val dirs = orient(Seq(
      ("a", "b", Some("c"), 0), ("a", "c", None, 1), ("b", "c", None, 1)))
    assert(dirs === Map(("a", "c") -> 0, ("b", "c") -> 0))
  }

  test("pc orient: Meek rule 1 propagates along the chain round by round") {
    // a→c←b collider, then c–d and d–e orient away over two rounds
    // ((a,d)/(c,e) sepsets block the spurious colliders on the chain)
    val sk = Seq(
      ("a", "b", None, 0),
      ("a", "c", None, 1), ("b", "c", None, 1),
      ("c", "d", None, 1), ("d", "e", None, 1),
      ("a", "d", Some("c"), 0), ("b", "d", Some("c"), 0),
      ("c", "e", Some("d"), 0), ("a", "e", None, 0), ("b", "e", None, 0))
    val dirs = orient(sk)
    assert(dirs(("a", "c")) == 1 && dirs(("b", "c")) == 1, "collider")
    assert(dirs(("c", "d")) == 1, "Meek round 1: a→c, c–d, a,d non-adjacent")
    assert(dirs(("d", "e")) == 1, "Meek round 2: c→d, d–e, c,e non-adjacent")
    // one round only: the second hop must NOT yet be oriented
    val one = orient(sk, rounds = 1)
    assert(one(("c", "d")) == 1 && one(("d", "e")) == 0)
  }

  test("pc orient: Meek rule 2 closes the a→c→b chain's a–b shortcut") {
    // collider a→c←e (sepset of (a,e) empty); R1 round 1 orients c→b
    // (e→c, c–b, (e,b) non-adjacent); round 2's ONLY claim is R2's
    // a→b from the directed chain a→c→b over the undirected a–b (R1 at
    // b is blocked: the sole directed-in source c is adjacent to a)
    val dirs = orient(Seq(
      ("a", "b", None, 1), ("a", "c", None, 1), ("b", "c", None, 1),
      ("c", "e", None, 1),
      ("a", "e", None, 0), ("b", "e", Some("c"), 0)))
    assert(dirs(("a", "c")) == 1 && dirs(("c", "e")) == 2, "collider at c")
    assert(dirs(("b", "c")) == 2, "R1: e→c, c–b, e,b non-adjacent")
    assert(dirs(("a", "b")) == 1, "R2: a→c→b chain orients a–b as a→b")
  }

  test("pc orient: Meek rule 3 orients the double-spoke tail into the head") {
    // collider c→h←d (sepset of (c,d) = t blocks the collider at t but
    // not at h); t keeps undirected spokes t–c, t–d and the t–h edge;
    // R1/R2 claim nothing (c,t and d,t adjacent; no directed chain), so
    // t→h is R3's claim alone
    val dirs = orient(Seq(
      ("c", "h", None, 1), ("d", "h", None, 1), ("h", "t", None, 1),
      ("c", "t", None, 1), ("d", "t", None, 1),
      ("c", "d", Some("t"), 0)))
    assert(dirs(("c", "h")) == 1 && dirs(("d", "h")) == 1, "collider at h")
    assert(dirs(("c", "t")) == 0 && dirs(("d", "t")) == 0, "spokes stay")
    assert(dirs(("h", "t")) == 2, "R3: c→h←d with t–c, t–d ⇒ t→h")
  }

  test("pc orient 2: an order-2 sepset pair blocks colliders on BOTH " +
      "members and a third common neighbour still colliders") {
    import spark.implicits._
    // x–y removed at order 2 by {m,n}; x,y each keep edges to m, n, p.
    // The pairs among {m,n,p} are removed with sepset pair {x,y} so no
    // spurious collider forms at x or y through them. Expected CPDAG:
    // x→p←y only — m and n are sepset members (no collider), p is not
    val rows = Seq(
      ("m", "x", None, None, 1, 1), ("m", "y", None, None, 1, 1),
      ("n", "x", None, None, 1, 1), ("n", "y", None, None, 1, 1),
      ("p", "x", None, None, 1, 1), ("p", "y", None, None, 1, 1),
      ("x", "y", Option.empty[String], Some("m~n"), 1, 0),
      ("m", "n", None, Some("x~y"), 1, 0),
      ("m", "p", None, Some("x~y"), 1, 0),
      ("n", "p", None, Some("x~y"), 1, 0))
      .toDF("a", "b", "sepset", "sepset2", "edge", "edge2")
    val dirs = Causal.pcOrient2(rows, 3).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    assert(dirs(("p", "x")) == 2 && dirs(("p", "y")) == 2,
      s"x and y collider into p (dir 2 on the canonical (p,*) rows): $dirs")
    assert(dirs.filterNot(k => Set(("p", "x"), ("p", "y"))(k._1))
      .values.forall(_ == 0),
      s"sepset members m,n must not collider; spokes stay undirected: $dirs")
    assert(dirs.size == 6, s"only edge2 = 1 rows survive as edges: $dirs")
  }

  test("pc orient: opposing collider claims cancel, the edge stays undirected") {
    // a→c←d and c→d←f claim c–d both ways → conservative undirected
    val dirs = orient(Seq(
      ("a", "c", None, 1), ("c", "d", None, 1), ("d", "f", None, 1),
      ("a", "d", None, 0), ("c", "f", None, 0), ("a", "f", None, 0)))
    assert(dirs(("a", "c")) == 1, "a→c survives (claimed one way only)")
    assert(dirs(("d", "f")) == 2, "f→d survives (claimed one way only)")
    assert(dirs(("c", "d")) == 0, "conflicting claims cancel")
  }

  test("pc skeleton order 2: the double-path pair separates only on {z,w}") {
    // a exogenous; z = a + e1, w = a + e2, b = z + w + e3: a–b stays
    // correlated given ANY single conditioner (the other path leaks) but
    // is separated by the PAIR {z,w} — the motif order-1 PC cannot crack
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def g() = Math.round(rnd.nextGaussian() * 500)
    val rows = (1 to 120).flatMap { day =>
      // e3 at FULL signal scale: with a small e3, conditioning on b ≈ 2a
      // screens a from z (ρ_az·b ≈ 0.07 in the Gaussian limit) and the
      // true parent edges die at order 1; σ3 = σa keeps every true-edge
      // partial ≥ ~0.37 while ρ_ab·{z,w} is exactly 0 (e3 ⊥ a)
      val av = g(); val zv = av + g() / 2; val wv = av + g() / 2
      val bv = zv + wv + g()
      Seq(("a", day.toLong, av), ("z", day.toLong, zv),
        ("w", day.toLong, wv), ("b", day.toLong, bv))
    }
    val out = Causal.pcSkeleton2(rows.toDF("series", "day", "v"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getInt(6), Option(r.getString(5)), Option(r.getString(7)),
          r.getInt(8))).toMap
    val (abEdge, _, abSep2, abEdge2) = out(("a", "b"))
    assert(abEdge == 1, s"a-b must survive order<=1: $out")
    assert(abEdge2 == 0 && abSep2.contains("w~z"),
      s"a-b must separate on the pair {w,z}: $out")
    assert(out(("a", "z"))._4 == 1 && out(("a", "w"))._4 == 1,
      s"true parent edges survive order 2: $out")
    assert(out(("b", "z"))._4 == 1 && out(("b", "w"))._4 == 1,
      s"true component edges survive order 2: $out")
    assert(out(("w", "z"))._1 == 0 && out(("w", "z"))._2.contains("a"),
      s"z-w is separated at order 1 by its common cause a: $out")
  }

  test("pc skeleton order 2 equals an independent BigInt evaluator and is " +
      "partitioning invariant (random panels)") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val names = (0 until 5).map(i => s"s$i")
      val nDays = 60
      // mixed structure: shared factor + idiosyncratic noise, some ties
      val fac = (1 to nDays).map(_ => Math.round(rnd.nextGaussian() * 300))
      val rows = for {
        (s, si) <- names.zipWithIndex; d <- 1 to nDays
      } yield (s, d.toLong,
        (if (si % 2 == 0) fac(d - 1) else -fac(d - 1) / 2) +
          Math.round(rnd.nextGaussian() * 200) / 10 * 10)
      // independent evaluator: ranks by (v, day), LONG moments, BigInt
      // cofactors, identical truncating div — no Spark involved
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
      val expected = (for {
        i <- names.indices; j <- (i + 1) until names.size
        a = names(i); b = names(j)
      } yield {
        val keep0 = 10000 * sq(c(a, b)) > tau * c(a, a) * c(b, b)
        val others = names.filterNot(s => s == a || s == b)
        val sep1 = others.filter { z =>
          10000 * sq(c(a, b) * c(z, z) - c(a, z) * c(b, z)) <=
            tau * (c(a, a) * c(z, z) - sq(c(a, z))) *
              (c(b, b) * c(z, z) - sq(c(b, z)))
        }.sorted.headOption.filter(_ => keep0)
        val edge = keep0 && sep1.isEmpty
        val ch = scala.collection.mutable.Map.empty[(String, String), BigInt]
        def m(x: String, y: String) = ch.getOrElseUpdate((x, y),
          c(x, y) / (n * n)) // BigInt / truncates toward zero, like div
        val sep2 = (for {
          zi <- others.indices; wi <- (zi + 1) until others.size
          z = others(zi); w = others(wi)
          dzw = m(z, z) * m(w, w) - sq(m(z, w))
          t1 = m(a, z) * m(w, w) - m(z, w) * m(a, w)
          t2 = m(a, z) * m(z, w) - m(z, z) * m(a, w)
          cofab = m(a, b) * dzw - m(b, z) * t1 + m(b, w) * t2
          cofbb = m(a, a) * dzw - m(a, z) * t1 + m(a, w) * t2
          cofaa = m(b, b) * dzw -
            m(b, z) * (m(b, z) * m(w, w) - m(z, w) * m(b, w)) +
            m(b, w) * (m(b, z) * m(z, w) - m(z, z) * m(b, w))
          if 10000 * sq(cofab) <= tau * cofaa * cofbb
        } yield s"$z~$w").sorted.headOption.filter(_ => edge)
        (a, b) -> (if (edge) 1 else 0, sep2,
          if (edge && sep2.isEmpty) 1 else 0)
      }).toMap
      val base = rows.toDF("series", "day", "v")
      Seq(base, base.repartition(7)).foreach { panel =>
        val got = Causal.pcSkeleton2(panel)
          .collect().map(r => (r.getString(0), r.getString(1)) ->
            (r.getInt(6), Option(r.getString(7)), r.getInt(8))).toMap
        assert(got == expected, s"trial $trial: got $got want $expected")
      }
    }
  }

  test("pc skeleton over a 3-graph folded panel equals an independent " +
      "BigInt evaluator, least separating z included") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val nDays = 60
    // per graph: a driver X1, two noisy copies X2/X3 (common driver), a
    // near-copy X4 of the driver (a second separator of X2–X3) and a
    // noise X5; graph 3 has no X5, graph 2 drops a few cells
    val rows = for {
      g <- 1 to 3; t <- 0 until nDays
    } yield {
      val d = rnd.nextGaussian()
      val xs = Seq(d, d + 0.5 * rnd.nextGaussian(), d + 0.5 * rnd.nextGaussian(),
        d + 0.1 * rnd.nextGaussian(), rnd.nextGaussian())
        .zipWithIndex.map { case (x, i) =>
          if ((g == 3 && i == 4) || (g == 2 && (t + i) % 17 == 0)) None
          else Some(x)
        }
      (g.toLong, t.toLong, xs(0), xs(1), xs(2), xs(3), xs(4))
    }
    val wide = rows.toDF("configId", "t", "X1", "X2", "X3", "X4", "X5")
    val panel = graft.generate.Panels.folded(wide, 5, col("configId"),
      concat(col("configId"), lit("|"), lpad(col("t").cast("string"), 3, "0")))

    // independent evaluator: per series, ranks over its observed days by
    // (v, day); per pair, moments over the days both observe; BigInt rule
    val obs: Map[String, Map[String, Long]] = rows.flatMap { r =>
      val (g, t) = (r._1, r._2)
      Seq(r._3, r._4, r._5, r._6, r._7).zipWithIndex.collect {
        case (Some(x), i) => (s"$g|X${i + 1}", f"$g|$t%03d",
          math.floor(x * 1000).toLong)
      }
    }.groupBy(_._1).map { case (s, rs) =>
      s -> rs.sortBy(r => (r._3, r._2)).zipWithIndex
        .map { case (r, i) => r._2 -> (i + 1L) }.toMap
    }
    def mom(x: String, y: String): Option[(Long, BigInt)] = {
      val days = obs(x).keySet.intersect(obs(y).keySet).toSeq
      if (days.isEmpty) None
      else {
        val n = BigInt(days.size)
        val (rx, ry) = (days.map(obs(x)(_)), days.map(obs(y)(_)))
        Some((days.size.toLong, n * rx.zip(ry).map { case (u, v) => BigInt(u) * v }.sum -
          rx.map(BigInt(_)).sum * ry.map(BigInt(_)).sum))
      }
    }
    def c(x: String, y: String): BigInt = mom(x, y).get._2
    def sq(x: BigInt) = x * x
    val tau = BigInt(625)
    val names = obs.keySet.toSeq.sorted
    val seps = scala.collection.mutable.Map.empty[(String, String), Int]
    val expected = (for {
      a <- names; b <- names if a < b
      (n, cab) <- mom(a, b)
    } yield {
      val keep0 = 10000 * sq(cab) > tau * c(a, a) * c(b, b)
      val sep1 = names.filter(z => z != a && z != b &&
          mom(a, z).isDefined && mom(b, z).isDefined)
        .filter { z =>
          10000 * sq(cab * c(z, z) - c(a, z) * c(b, z)) <=
            tau * (c(a, a) * c(z, z) - sq(c(a, z))) *
              (c(b, b) * c(z, z) - sq(c(b, z)))
        }
      if (keep0) seps((a, b)) = sep1.size
      val sepset = sep1.headOption.filter(_ => keep0)
      (a, b) -> (n, cab.toLong, if (keep0) 1 else 0, sepset,
        if (keep0 && sepset.isEmpty) 1 else 0)
    }).toMap
    assert(expected.keys.map(_._1.takeWhile(_ != '|')).toSet.size == 3)
    assert(seps.values.exists(_ >= 2), s"no pair has two separators: $seps")
    val got = Causal.pcSkeleton(panel).collect().map(r =>
      (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3),
        r.getInt(4), Option(r.getString(5)), r.getInt(6))).toMap
    assert(got == expected)
  }

  test("pc orient 2: q337's pinned 4 rounds reach the Meek fixpoint on " +
      "its actual generated graph (round 5 is a no-op)") {
    import graft.core.Grid
    val cfg = Grid.forFamily("A1").find(c =>
      c.nPoints == 500 && c.nVars == 6 && c.maxLag == 2
        && c.noiseType == "gaussian").get
    val gen = graft.generate.Generate.wideFast(spark, Seq(cfg))
      .where(col("t") < 200)
      .select(col("t") +: (1 to 6).map(i => col(s"X$i")): _*)
      .localCheckpoint(true)
    val panel = (1 to 6).map(i =>
      gen.select(lit(s"X$i").as("series"), col("t").as("day"),
        floor(col(s"X$i") * 1000).cast("long").as("v")))
      .reduce(_ unionByName _)
    val sk2 = Causal.pcSkeleton2(panel, 9L).localCheckpoint(true)
    def dirs(rounds: Int) = Causal.pcOrient2(sk2, rounds).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    val at4 = dirs(4)
    assert(dirs(5) == at4, "an extra round past PcMeekRounds2 changes " +
      "nothing — the published CPDAG is the closure, not a truncation")
    assert(at4.values.count(_ != 0) > 0, "the graph orients something")
  }

  test("pc orient: q332's and q339's pinned 3 rounds reach the Meek " +
      "fixpoint on their actual graphs (round 4 is a no-op)") {
    import graft.core.Grid
    def fixpoint(skeleton: org.apache.spark.sql.DataFrame,
        rounds: Int, tag: String): Unit = {
      val sk = skeleton.localCheckpoint(true)
      def dirs(r: Int) = Causal.pcOrient(sk, r).collect()
        .map(r0 => (r0.getString(0), r0.getString(1)) -> r0.getInt(2)).toMap
      assert(dirs(rounds + 1) == dirs(rounds),
        s"$tag: round ${rounds + 1} changed the CPDAG — the pinned " +
          s"$rounds rounds truncate the closure")
    }
    // q332's graph: A1 4-var lag-2 gaussian, 200-obs cut, tau^2 = 100 bp
    val cfg = Grid.forFamily("A1").find(c =>
      c.nPoints == 500 && c.nVars == 4 && c.maxLag == 2
        && c.noiseType == "gaussian").get
    val gen = graft.generate.Generate.wideFast(spark, Seq(cfg))
      .where(col("t") < 200)
      .select(col("t") +: (1 to 4).map(i => col(s"X$i")): _*)
      .localCheckpoint(true)
    val panel332 = (1 to 4).map(i =>
      gen.select(lit(s"X$i").as("series"), col("t").as("day"),
        floor(col(s"X$i") * 1000).cast("long").as("v")))
      .reduce(_ unionByName _)
    fixpoint(Causal.pcSkeleton(panel332, 100L), 3, "q332")
    // q339's graph: the shipped D3 missing-data CSV, default tau
    val idxed = graft.generate.Sinks.readWideCsv(spark,
        "/root/reference/Datasets/D3/lag 2/" +
          "nonlinear_ts_n1000_vars4_lag2_noise30_mcar10_block10" +
          "_missing.csv")
      .withColumn("t", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("time")) - 1)
        .cast("long"))
      .where(col("t") < 200)
    val panel339 = (1 to 4).map(i =>
      idxed.where(col(s"X$i").isNotNull)
        .select(lit(s"X$i").as("series"), col("t").as("day"),
          floor(col(s"X$i") * 1000).cast("long").as("v")))
      .reduce(_ unionByName _)
    fixpoint(Causal.pcSkeleton(panel339), 3, "q339")
  }

  test("q340's corpus fold is exactly the single-graph path: all 48 " +
      "configs present and the q339 config's row equals q339's scores") {
    // the fold's correctness claim: cfg-unique day keys mean one
    // pcSkeleton/pcOrient call over 48 graphs decides each graph
    // EXACTLY as the single-graph path would — proven here on real
    // shipped bytes by comparing the shared member config
    val sweep = SparkEntry.queries("q340_pc_corpus_sweep")(spark, "unused")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(sweep.size == 48, s"expected 48 configs, got ${sweep.size}")
    val single = SparkEntry.queries("q339_pc_oriented_on_shipped")(
      spark, "unused").collect()
    assert(single.length == 1)
    val s1 = single.head
    val row = sweep("nonlinear_ts_n1000_vars4_lag2_noise30_mcar10_block10")
    // q339 columns: n_edges, n_directed, tp, fp, fn, shd_structural,
    // shd_xor — q340 carries the same seven shifted one right of cfg
    (0 until 7).foreach { i =>
      assert(row.getLong(i + 1) == s1.getLong(i),
        s"column ${s1.schema.fieldNames(i)} differs between the corpus " +
          s"fold (${row.getLong(i + 1)}) and q339 (${s1.getLong(i)})")
    }
  }

  test("q342 tau sweep: six rungs over every pair, edge and keep0 sets " +
      "nested as tau grows") {
    val rows = SparkEntry.queries("q342_pc_tau_stability")(spark, "unused")
      .collect()
    val taus = rows.map(_.getAs[Long]("tau_sq_bp")).distinct.sorted
    assert(taus.length == 6, s"expected 6 rungs, got ${taus.toSeq}")
    assert(rows.length == taus.length * 6,
      s"expected 6 pairs per rung, got ${rows.length} rows")
    def setOf(t: Long, flag: String) = rows
      .filter(r => r.getAs[Long]("tau_sq_bp") == t &&
        r.getAs[Int](flag) == 1)
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSet
    taus.sliding(2).foreach { w =>
      val (lo, hi) = (w(0), w(1))
      assert(setOf(hi, "edge").subsetOf(setOf(lo, "edge")),
        s"edge set at tau²=$hi must nest inside tau²=$lo")
      assert(setOf(hi, "keep0").subsetOf(setOf(lo, "keep0")),
        s"keep0 set at tau²=$hi must nest inside tau²=$lo")
    }
  }

  test("q343 edge support: 5 disjoint windows per pair, support bounded, " +
      "the two strong shipped edges at full support") {
    val rows = SparkEntry.queries("q343_pc_edge_support")(spark, "unused")
      .collect()
    assert(rows.length == 6, s"expected C(4,2) pairs, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_blocks") == 5L, s"window count: $r")
      val sup = r.getAs[Long]("support")
      assert(sup >= 0L && sup <= 5L, s"support out of range: $r")
    }
    def sup(a: String, b: String) = rows.find(r =>
      r.getAs[String]("a") == a && r.getAs[String]("b") == b).get
      .getAs[Long]("support")
    assert(sup("X1", "X2") == 5L && sup("X3", "X4") == 5L,
      "the two strong shipped edges must survive every window")
  }

  test("ln LUT: CASE expression reproduces Math.round(ln(k)*1e6) for all k") {
    import spark.implicits._
    val ks = (1 to 64).toDF("k")
    val got = ks.select(col("k"),
        expr(Causal.lnMicroCase("k", 64)).cast("long").as("ln"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    (1 to 64).foreach { k =>
      assert(got(k) == Math.round(Math.log(k.toDouble) * 1e6))
    }
  }
}
