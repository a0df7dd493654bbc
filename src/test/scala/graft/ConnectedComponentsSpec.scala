package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.ConnectedComponents

/** ConnectedComponents (large-star/small-star) vs a local union-find: the
  * distributed contraction must produce exactly the min-id labeling for any
  * graph shape — cliques (dedup clusters), chains (worst-case diameter),
  * forests, singleton-free edge lists, and seeded random graphs.
  */
class ConnectedComponentsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
        parent(hi) = lo }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def run(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents.components(pairs.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("clique labels every member with the minimum id") {
    val clique = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    assert(run(clique) == (1L to 5L).map(_ -> 1L).toMap)
  }

  test("chain (worst-case diameter) converges to the chain minimum") {
    val chain = (1L until 40L).map(i => (i, i + 1))
    assert(run(chain) == (1L to 40L).map(_ -> 1L).toMap)
  }

  test("disjoint components keep distinct minima; reversed/duplicated edges collapse") {
    val pairs = Seq((7L, 3L), (3L, 7L), (7L, 3L), (9L, 8L), (20L, 15L), (15L, 11L))
    assert(run(pairs) == Map(3L -> 3L, 7L -> 3L, 8L -> 8L, 9L -> 8L,
      11L -> 11L, 15L -> 11L, 20L -> 11L))
  }

  test("empty edge list yields an empty labeling") {
    assert(run(Seq.empty) == Map.empty)
  }

  test("componentsOf labels every node: an isolated node is its own " +
      "component, a chain takes its minimum id") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 9L).toDF("id")
    val pairs = Seq((4L, 3L), (3L, 2L)).toDF("id_a", "id_b")
    val got = ConnectedComponents.componentsOf(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 9L -> 9L))
  }

  test("seeded random graphs match union-find exactly") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 30 + trial * 20
      val pairs = Seq.fill(n)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter(p => p._1 != p._2)
      assert(run(pairs) == unionFind(pairs), s"trial $trial")
    }
  }
}
