package graft.catalog

import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, NamedReference, NullOrdering, SortDirection, SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate._

/** Aggregate pushdown translation shared by the SQL-speaking connectors
  * (PostgreSQL, ClickHouse, and any future dialect client). Reference:
  * core/trino-main/src/main/java/io/trino/sql/planner/iterative/rule/
  * PushAggregationIntoTableScan.java:65 — the reference rewrites
  * `Aggregation(TableScan)` into a connector-applied aggregation when the
  * connector's metadata accepts it; Spark's DSv2 equivalent is
  * `SupportsPushDownAggregates`, which this module services.
  *
  * Scale rationale: a federated `count/sum/min/max … GROUP BY` without this
  * drags EVERY remote row across the wire so Spark can aggregate locally —
  * at 100 TB federation scale that is the whole query cost. With it, each
  * split ships `SELECT groups, aggs FROM t WHERE split-range GROUP BY
  * groups` to the remote engine and only |groups| rows cross per split;
  * Spark then merges the per-split partials (or, single-split, nothing at
  * all — complete pushdown removes the Spark aggregate entirely).
  *
  * Only min/max/count/sum/avg over plain columns translate; anything else
  * (distinct flags, expressions, UDAFs) returns None and stays in Spark. */
object AggPushdown {

  /** A translated aggregation: `selectList` = rendered group columns then
    * rendered aggregate calls (the scan's output order Spark expects);
    * `groupBy` = rendered GROUP BY list. */
  final case class Pushed(selectList: Seq[String], groupBy: Seq[String]) {
    def groupByClause: String =
      if (groupBy.isEmpty) "" else groupBy.mkString(" GROUP BY ", ", ", "")
  }

  private def columnOf(e: V2Expression, fields: Set[String]): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames.length == 1 &&
        fields(nr.fieldNames()(0)) => Some(nr.fieldNames()(0))
      case _ => None
    }

  /** Translate, or None when any piece cannot run remotely. `quote` is the
    * dialect's identifier renderer. */
  def translate(agg: Aggregation, fields: Set[String],
      quote: String => String): Option[Pushed] = {
    val groups = agg.groupByExpressions.toSeq.map(columnOf(_, fields))
    if (groups.exists(_.isEmpty)) return None
    val aggs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some("COUNT(*)")
      case c: Count if !c.isDistinct =>
        columnOf(c.column, fields).map(q => s"COUNT(${quote(q)})")
      case m: Min => columnOf(m.column, fields).map(q => s"MIN(${quote(q)})")
      case m: Max => columnOf(m.column, fields).map(q => s"MAX(${quote(q)})")
      case s: Sum if !s.isDistinct =>
        columnOf(s.column, fields).map(q => s"SUM(${quote(q)})")
      // AVG is only ever pushed COMPLETE (Spark does not attempt partial
      // avg pushdown, AggregatePushDownUtils.supportPartialAggPushDown)
      case a: Avg if !a.isDistinct =>
        columnOf(a.column, fields).map(q => s"AVG(${quote(q)})")
      case _ => None
    }
    // group-only (pushed DISTINCT) is valid; empty-everything is not
    if (aggs.exists(_.isEmpty) || (aggs.isEmpty && groups.isEmpty)) None
    else Some(Pushed(groups.flatten.map(quote) ++ aggs.flatten,
      groups.flatten.map(quote)))
  }

  /** TopN pushdown (reference PushTopNIntoTableScan.java:42; Spark DSv2
    * SupportsPushDownTopN): render the sort keys as remote ORDER BY items,
    * or None when any key is not a plain pushable column. Each split then
    * ships `ORDER BY … LIMIT n` — only n rows cross the wire per split,
    * and a single-split scan removes Spark's sort entirely. */
  def orderBySql(orders: Seq[SortOrder], fields: Set[String],
      quote: String => String): Option[Seq[String]] = {
    if (orders.isEmpty) return None
    val rendered = orders.map { o =>
      columnOf(o.expression(), fields).map { c =>
        val dir =
          if (o.direction() == SortDirection.ASCENDING) "ASC" else "DESC"
        val nulls =
          if (o.nullOrdering() == NullOrdering.NULLS_FIRST) "NULLS FIRST"
          else "NULLS LAST"
        s"${quote(c)} $dir $nulls"
      }
    }
    if (rendered.exists(_.isEmpty)) None else Some(rendered.flatten)
  }
}
