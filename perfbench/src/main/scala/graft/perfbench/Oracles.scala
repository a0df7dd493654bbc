package graft.perfbench

import graft.SparkEntry

/** DuckDB oracle SQL for the query_mix entries. Built from the relational,
  * text/similarity and pipeline slices only: assembling the full
  * `SparkEntry.oracleSql` also renders the causal slice, whose shipped-corpus
  * entries read reference files a benchmark checkout does not carry.
  */
object Oracles {
  def sql(names: Seq[String]): Map[String, String] = {
    val slices = SparkEntry.oracleSqlRelational ++ SparkEntry.oracleSqlTextSim ++
      SparkEntry.oracleSqlPipeline
    names.map(n => n -> slices(n)).toMap
  }
}
