package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.SQLExecution

/** Row count and order-insensitive content hash of a query's full result.
  *
  * One job drains the executed plan's output rows, so every output column
  * is computed (a `count()` would let Catalyst prune them). Each row is
  * hashed over its UnsafeRow bytes and the per-row hashes are summed, so
  * the hash does not depend on partitioning or arrival order. The query
  * runs exactly once: the count and the hash come from the same pass.
  */
final case class FullResult(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

object FullResult {
  def of(df: DataFrame): FullResult = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        it.foreach { r =>
          val u = r match {
            case u: UnsafeRow => u
            case other        => proj(other)
          }
          n += 1
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
            u.getSizeInBytes, 42L)
        }
        Iterator((n, h))
      }.collect()
    }
    FullResult(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
