package graft

import org.apache.spark.sql.SparkSession

/** Read-only view of the shared-table memo the graph and near-dup queries
  * fill, for the benchmark's `core.memo_*` metrics. */
object MemoProbe {
  def entries(s: SparkSession): Int = QueriesExt.memoEntries(s)
  def bytes(s: SparkSession): Long = QueriesExt.memoBytes(s)
}
