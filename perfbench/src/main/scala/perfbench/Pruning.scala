package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.{Caches, SparkEntry}

/** Which heavy operators `count()` lets Catalyst drop: for each row, the
  * Join, Aggregate, Window and Generate nodes of the optimized plan of the
  * full result against those of the same frame under `groupBy().count()`
  * (whose own top Aggregate is not counted).
  */
object Pruning {
  val Kinds = Seq("Join", "Aggregate", "Window", "Generate")

  private def kinds(p: LogicalPlan): Map[String, Int] =
    p.collectWithSubqueries { case n => n.nodeName }
      .filter(Kinds.contains).groupBy(identity).map { case (k, v) =>
        k -> v.size }

  def record(spark: SparkSession, rows: Seq[String], dir: String)
      : Seq[Map[String, Any]] = rows.distinct.sorted.map { name =>
    try Caches.scope(spark) {
      val df = SparkEntry.queries(name)(spark, dir)
      val full = kinds(df.queryExecution.optimizedPlan)
      val counted = kinds(df.groupBy().count().queryExecution.optimizedPlan)
        .map { case (k, n) => k -> (if (k == "Aggregate") n - 1 else n) }
        .filter(_._2 > 0)
      val dropped = Kinds.map(k =>
        k -> (full.getOrElse(k, 0) - counted.getOrElse(k, 0)).max(0))
        .filter(_._2 > 0).toMap
      Map("row" -> name, "full" -> full, "count" -> counted,
        "dropped" -> dropped)
    } catch {
      case e: Throwable => Map("row" -> name, "error" -> e.toString.take(300))
    } finally spark.catalog.clearCache()
  }
}
