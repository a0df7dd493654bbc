package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.generate.Panels
import graft.metrics.Causal

/** Executable integer budgets: an exact-integer contract fed past its
  * documented input range fails with an error that names the budget it
  * left — never an engine overflow, never a wrapped or truncated answer.
  */
class BudgetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("the PC-stable ladder past its observation budget raises the " +
      "named DECIMAL(38,0) error, not an engine overflow") {
    // one q348 block (5 series, the A-B pair needs order 3) at 2,000
    // observations: rank moments are O(n⁴) and the normalized ones
    // O(n²), so the cofactor products leave 10³⁸ far below this n (the
    // ladder's documented budget is ~300 observations)
    val pan = Panels.widePanel3(spark, 1, 2000).localCheckpoint(true)
    try {
      val ex = intercept[ArithmeticException] {
        Causal.pcSkeleton3Stable(pan, 100L).collect()
      }
      assert(!ex.isInstanceOf[SparkThrowable],
        s"an engine error instead of the named budget: $ex")
      assert(ex.getMessage.matches(
        "PC order-[0-3] test: .*DECIMAL\\(38,0\\) budget.*"),
        s"the error must name the PC order and the budget: ${ex.getMessage}")
    } finally pan.unpersist()
  }
}
