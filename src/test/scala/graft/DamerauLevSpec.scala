package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.text.{DamerauLevUtil, DamerauLevenshtein}
import org.apache.spark.unsafe.types.UTF8String

/** Full Damerau–Levenshtein: goldens frozen from DuckDB's
  * `damerau_levenshtein` (the oracle engine — q197 depends on bit-parity
  * with it), metric invariants, and codegen/interpreted agreement.
  */
class DamerauLevSpec extends AnyFunSuite with BeforeAndAfterAll {

  private def dl(a: String, b: String): Int =
    DamerauLevUtil.distance(UTF8String.fromString(a), UTF8String.fromString(b))

  // (a, b, duckdb damerau_levenshtein(a, b)) — generated with DuckDB and
  // cross-checked against an independent Lowrance–Wagner replica
  private val goldens = Seq(
    ("CA", "ABC", 2), // the full-DL witness: OSA would say 3
    ("ab", "ba", 1),
    ("", "abc", 3),
    ("abc", "", 3),
    ("same", "same", 0),
    ("Customer#000000123", "Custmoer#000000123", 1),
    ("Customer#000000123", "Custmer#000000123", 1),
    ("Custmoer#000000123", "Custmer#000000123", 1),
    ("Customer#000000123", "Vendor#000000123", 6),
    ("a cat", "an abct", 3),
    ("teh quick", "the quick", 1),
    ("eebc", "deaeadcebb", 7),
    ("eeddbbbe", "aabeaca", 8),
    ("deddd", "dbcaabdbcd", 7),
    ("dedec", "edebcaceb", 6),
    ("eeeabe", "caadd", 5),
    ("ca", "bacddaa", 5),
    ("eadececeba", "aaaee", 7),
    ("b", "cecbacc", 6),
    ("bddded", "eaeecdbcdc", 8))

  test("matches the DuckDB oracle on frozen goldens") {
    goldens.foreach { case (a, b, exp) =>
      assert(dl(a, b) == exp, s"dl('$a','$b')")
    }
  }

  test("metric invariants on a deterministic corpus") {
    val rng = new scala.util.Random(11)
    val words = Seq.fill(60)(
      (0 until rng.nextInt(9)).map(_ => ('a' + rng.nextInt(4)).toChar).mkString)
    for (a <- words.take(20); b <- words.take(20)) {
      val d = dl(a, b)
      assert(d == dl(b, a), "symmetric")
      assert(d >= math.abs(a.length - b.length), "length lower bound")
      assert(d <= math.max(a.length, b.length), "substitution upper bound")
      assert((d == 0) == (a == b), "identity of indiscernibles")
      // never worse than plain Levenshtein (transposition only adds moves)
      assert(d <= org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .levenshteinDistance(UTF8String.fromString(b)), "dl <= lev")
    }
  }

  test("codegen path (DataFrame) agrees with interpreted eval") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val df = goldens.map { case (a, b, _) => (a, b) }.toDF("a", "b")
    val got = df.select(DamerauLevenshtein(col("a"), col("b")))
      .collect().map(_.getInt(0)).toSeq
    assert(got == goldens.map(_._3), "whole-stage codegen result")
    // interpreted (no codegen) — direct expression eval
    goldens.foreach { case (a, b, exp) =>
      val e = text.DamerauLevenshtein(
        org.apache.spark.sql.catalyst.expressions.Literal(
          UTF8String.fromString(a)),
        org.apache.spark.sql.catalyst.expressions.Literal(
          UTF8String.fromString(b)))
      assert(e.eval(null) == exp, s"interpreted dl('$a','$b')")
    }
  }
}
