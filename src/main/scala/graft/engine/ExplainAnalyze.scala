package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** EXPLAIN ANALYZE surface (reference: operator/ExplainAnalyzeOperator.java +
  * the per-operator runtime stats it renders). Spark already collects SQL
  * metrics on every physical node; this utility executes the plan and folds
  * those metrics into a readable report — the library-API equivalent of the
  * reference's EXPLAIN ANALYZE output. */
object ExplainAnalyze {

  final case class NodeMetrics(node: String, metrics: Map[String, Long])

  /** Execute the query (full pipeline, no driver collect — a write would
    * execute a *clone* of the plan, leaving this plan's metrics untouched)
    * and return per-node metric values from the executed plan. */
  def analyze(df: DataFrame): Seq[NodeMetrics] = {
    val qe = df.queryExecution
    qe.executedPlan.execute().count()
    collectMetrics(qe.executedPlan)
  }

  private def collectMetrics(plan: SparkPlan): Seq[NodeMetrics] = {
    // A multiply-consumed cached intermediate is scanned by several
    // InMemoryTableScan nodes; its cache-fill subtree executed once, so
    // report it once (else a reader summing scan rows sees N× the real fill
    // work). Key on the cache entry's builder, not the relation: re-planning
    // can give two scans distinct InMemoryRelation instances of one entry.
    val seenCaches = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def walk(p: SparkPlan): Seq[NodeMetrics] = {
      val self = NodeMetrics(
        p.nodeName,
        p.metrics.map { case (k, m) => k -> m.value }.toMap)
      // AQE wraps the physical plan: descend into the materialized plans.
      // Cached intermediates (operators.materialized) likewise
      // hide their compute plan inside InMemoryRelation — report it too, as
      // the reference's EXPLAIN ANALYZE reports through its materialization
      // boundaries (metrics reflect the cache-fill execution if it ran here,
      // zeros if the cache was already warm).
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          if (seenCaches.add(s.relation.cacheBuilder)) Seq(s.relation.cacheBuilder.cachedPlan)
          else Seq.empty
        case other => other.children
      }
      self +: (kids.flatMap(walk) ++ p.subqueries.flatMap(walk))
    }
    walk(plan)
  }

  /** Render as the reference renders EXPLAIN ANALYZE: one line per node with
    * its non-zero metrics. */
  def report(df: DataFrame): String =
    analyze(df).map { nm =>
      val ms = nm.metrics.filter(_._2 != 0).toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString(", ")
      s"${nm.node}: $ms"
    }.mkString("\n")
}
