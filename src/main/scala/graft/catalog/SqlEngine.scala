package graft.catalog

import org.apache.spark.sql.connector.expressions.SortOrder
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.PgWire

/** The SQL stack the four SQL-speaking wire connectors share (reference
  * plugin/trino-base-jdbc: BaseJdbcClient is subclassed per engine, each
  * subclass a transport plus a few capabilities). Pushed filters,
  * projection and LIMIT render to remote SQL through the `Quoted` dialect
  * (double-quoted, case-preserved identifiers, which all four engines
  * accept). A `query` option ships raw SQL as written (the reference
  * `query` table function): one split, schema from a LIMIT-0 probe, and no
  * pushed predicates.
  *
  * `rangeSplits` engines (PostgreSQL, ClickHouse) cut a `partitionColumn`
  * into MIN/MAX range splits and push OFFSET, TopN and aggregates. Broker
  * engines (Druid, Pinot) fan a query out across their own segments, so
  * they take one split per query: more Spark splits would only repeat the
  * broker's work.
  *
  * Scale shape: the driver runs only bounded metadata SQL (the LIMIT-0
  * probe, one MIN/MAX row); each executor task ships its split's SQL, so
  * filtering happens in the remote engine, not in Spark. */
abstract class SqlEngine(val prefix: String, val scanName: String,
    val rangeSplits: Boolean) extends WireConnector with Serializable {

  /** The LIMIT sent when Spark pushed none. */
  def defaultLimit: Option[Int] = None

  /** Columns and decoded rows of one bounded metadata query. */
  def query(host: String, port: Int, sql: String): (Seq[PgWire.Column], Vector[Seq[Any]])

  /** One split's decoded rows, streamed, and the call that releases them. */
  def stream(host: String, port: Int, sql: String): (Iterator[Seq[Any]], () => Unit)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val probe = Option(options.get("query")) match {
      case Some(q) => s"SELECT * FROM ($q) probe LIMIT 0"
      case None => s"SELECT * FROM ${SqlEngine.dialect.tableName(options.get("table"))} LIMIT 0"
    }
    val (cols, _) = query(options.get("host"), options.get("port").toInt, probe)
    StructType(cols.map(c => StructField(c.name, SqlEngine.sparkType(c.oid))))
  }

  override def relation(schema: StructType, options: CaseInsensitiveStringMap): WireRelation = {
    val rawQuery = Option(options.get("query"))
    val (partitionColumn, numPartitions) =
      if (!rangeSplits) (None, 1)
      else (Option(options.get("partitionColumn")).filter(_ => rawQuery.isEmpty),
        Option(options.get("numPartitions")).map(_.toInt).getOrElse(4))
    SqlRelation(this, schema, options.get("host"), options.get("port").toInt,
      Option(options.get("table")), rawQuery, partitionColumn, numPartitions)
  }
}

object SqlEngine {

  private[catalog] val dialect: JdbcSqlDialect = JdbcSqlDialect.Quoted

  private[catalog] def sparkType(oid: Int): DataType = oid match {
    case PgWire.OidBool => BooleanType
    case PgWire.OidInt2 => ShortType
    case PgWire.OidInt4 => IntegerType
    case PgWire.OidInt8 => LongType
    case PgWire.OidFloat4 => FloatType
    case PgWire.OidFloat8 => DoubleType
    case PgWire.OidText | PgWire.OidVarchar => StringType
    case other => throw new IllegalArgumentException(s"pg: unmapped type oid $other")
  }

  /** Text-format rows (PostgreSQL, ClickHouse) decoded by column type. */
  private[catalog] def decode(cols: Seq[PgWire.Column], texts: Seq[String]): Seq[Any] =
    texts.indices.map(i => PgWire.decode(texts(i), cols(i).oid))

  /** Literal → remote SQL text; None = not pushable. */
  private[catalog] def sqlLit(v: Any): Option[String] = v match {
    case null => None
    case s: String => Some("'" + s.replace("'", "''") + "'")
    case s: UTF8String => sqlLit(s.toString)
    case b: Boolean => Some(if (b) "TRUE" else "FALSE")
    case n @ (_: Long | _: Int | _: Short | _: Byte) => Some(n.toString)
    // NaN/Infinity have no SQL literal — keep the filter in Spark, where it
    // evaluates fine, instead of shipping invalid remote SQL
    case d: Double => if (java.lang.Double.isFinite(d)) Some(d.toString) else None
    case f: Float => if (java.lang.Float.isFinite(f)) Some(f.toString) else None
    case _ => None // decimals/dates/timestamps: evaluate in Spark
  }

  /** One pushed Filter → one remote WHERE clause (reference BaseJdbcClient
    * `toPredicate` shapes), rendered through the dialect. */
  private[catalog] def clause(f: Filter, fields: Set[String]): Option[String] = {
    def col(c: String): Option[String] = if (fields(c)) Some(dialect.quote(c)) else None
    f match {
      case EqualTo(c, v) => for { q <- col(c); l <- sqlLit(v) } yield s"$q = $l"
      case GreaterThan(c, v) => for { q <- col(c); l <- sqlLit(v) } yield s"$q > $l"
      case GreaterThanOrEqual(c, v) => for { q <- col(c); l <- sqlLit(v) } yield s"$q >= $l"
      case LessThan(c, v) => for { q <- col(c); l <- sqlLit(v) } yield s"$q < $l"
      case LessThanOrEqual(c, v) => for { q <- col(c); l <- sqlLit(v) } yield s"$q <= $l"
      case In(c, vs) if vs.nonEmpty =>
        val ls = vs.toSeq.map(sqlLit)
        if (col(c).isEmpty || ls.exists(_.isEmpty)) None
        else Some(s"${dialect.quote(c)} IN (${ls.flatten.mkString(", ")})")
      case IsNull(c) => col(c).map(q => s"$q IS NULL")
      case IsNotNull(c) => col(c).map(q => s"$q IS NOT NULL")
      case And(l, r) => for { a <- clause(l, fields); b <- clause(r, fields) }
        yield s"($a AND $b)"
      case Or(l, r) => for { a <- clause(l, fields); b <- clause(r, fields) }
        yield s"($a OR $b)"
      case Not(inner) => clause(inner, fields).map(a => s"NOT ($a)")
      case _ => None
    }
  }
}

/** One remote table (or raw query) of a [[SqlEngine]]. A split is an
  * optional `[lo, hi)` range of `partitionColumn`; the last range closes
  * at `hi`, flagged by the third field. */
final case class SqlRelation(engine: SqlEngine, schema: StructType, host: String,
    port: Int, table: Option[String], rawQuery: Option[String],
    partitionColumn: Option[String], numPartitions: Int) extends WireRelation {
  import SqlEngine.{clause, dialect}

  type Split = Option[(Long, Long, Boolean)]

  private def fields: Set[String] = schema.fieldNames.toSet
  /** OFFSET, TopN and aggregates push on the tables of range-split engines. */
  private def fullPushdown: Boolean = engine.rangeSplits && rawQuery.isEmpty

  override def name: String = s"${engine.prefix}:${table.getOrElse("(query)")}"

  override def pushable(f: Filter): Boolean =
    rawQuery.isEmpty && clause(f, fields).isDefined

  /** OFFSET pushdown (reference PushOffsetIntoTableScan rule family): a
    * global row skip is only meaningful when ONE split serves the whole
    * ordered result — a per-split OFFSET would skip rows from every split. */
  override def pushOffset: Boolean = fullPushdown && partitionColumn.isEmpty

  /** TopN pushdown (reference PushTopNIntoTableScan.java:42): each split
    * ships ORDER BY + LIMIT remotely; a single-split scan is FULLY pushed
    * (Spark's sort disappears), range splits are partial (per-split top-n,
    * Spark merges). */
  override def topN(orders: Array[SortOrder]): Option[Seq[String]] =
    if (fullPushdown) AggPushdown.orderBySql(orders.toSeq, fields, dialect.quote)
    else None
  override def partial: Boolean = partitionColumn.isDefined

  /** Single-split scans push COMPLETE: the remote GROUP BY is the global
    * answer and Spark's aggregate vanishes. Range-split scans push PARTIAL:
    * each split aggregates its range remotely, Spark merges |groups|-sized
    * partials (see [[AggPushdown]]). */
  override def completeAggregate(a: Aggregation): Boolean =
    fullPushdown && partitionColumn.isEmpty &&
      AggPushdown.translate(a, fields, dialect.quote).isDefined

  override def aggregate(a: Aggregation): Option[(AggPushdown.Pushed, StructType)] =
    if (!fullPushdown) None
    else AggPushdown.translate(a, fields, dialect.quote).flatMap { p =>
      // one bounded LIMIT-0 probe for the remote result types (the same
      // trick the schema probe uses; Spark casts as needed)
      try {
        val (cols, _) = engine.query(host, port,
          s"SELECT ${p.selectList.mkString(", ")} FROM " +
            s"${dialect.tableName(table.get)}${p.groupByClause} LIMIT 0")
        Some((p, StructType(cols.zipWithIndex.map { case (c, i) =>
          StructField(s"_pushed_$i", SqlEngine.sparkType(c.oid))
        })))
      } catch { case _: Exception => None }
    }

  override def readSchema(p: Pushdown): StructType =
    if (rawQuery.isDefined) schema else p.columns

  /** The remote SQL for one split — the observable pushdown artifact. With
    * an aggregate pushed, each split ships its own GROUP BY (restricted to
    * its range) and only |groups| rows come back per split. */
  private[catalog] def sql(p: Pushdown, range: Split): String = rawQuery.getOrElse {
    val selectList = p.agg.map(_.selectList.mkString(", ")).getOrElse {
      if (p.columns.isEmpty) "1" else p.columns.fieldNames.map(dialect.quote).mkString(", ")
    }
    val conds = p.filters.flatMap(clause(_, fields)) ++ range.map { case (lo, hi, last) =>
      val c = dialect.quote(partitionColumn.get)
      if (last) s"($c >= $lo AND $c <= $hi)" else s"($c >= $lo AND $c < $hi)"
    }
    val where = if (conds.isEmpty) "" else conds.mkString(" WHERE ", " AND ", "")
    val groupBy = p.agg.map(_.groupByClause).getOrElse("")
    val order = if (p.orderBy.isEmpty) "" else p.orderBy.mkString(" ORDER BY ", ", ", "")
    // Spark pushes the PRE-OFFSET cap as the limit (limit' = limit +
    // offset); SQL's LIMIT applies after OFFSET, so the remote clause is
    // LIMIT (limit' − offset) OFFSET offset
    val lim = p.limit.orElse(engine.defaultLimit).map(l =>
      s" LIMIT ${math.max(0, l - p.offset.getOrElse(0))}").getOrElse("")
    val off = p.offset.map(o => s" OFFSET $o").getOrElse("")
    s"SELECT $selectList FROM ${dialect.tableName(table.get)}$where$groupBy$order$lim$off"
  }

  override def describe(p: Pushdown): String = s"${engine.scanName}(${sql(p, None)})"

  override def splits(p: Pushdown): Seq[Split] = partitionColumn match {
    case Some(pc) =>
      // one bounded MIN/MAX metadata row on the driver → N range splits
      val (_, rows) = engine.query(host, port, dialect.boundsQuery(table.get, pc))
      val (minV, maxV) = (rows.head.head, rows.head(1))
      if (minV == null || maxV == null) Seq(None)
      else {
        val (lo, hi) = (minV.toString.toDouble.toLong, maxV.toString.toDouble.toLong)
        val n = math.max(1, numPartitions)
        val step = math.max(1L, (hi - lo + n) / n)
        // split i = [lo+i*step, lo+(i+1)*step); the final split closes
        // inclusively at hi so the union covers [lo, hi] exactly once
        (0 until n).flatMap { i =>
          val a = lo + i * step
          if (a > hi) None
          else {
            val last = i == n - 1 || a + step > hi
            Some(Some((a, if (last) hi else a + step, last)))
          }
        }
      }
    case None => Seq(None)
  }

  override def rows(p: Pushdown, range: Split): WireRows = {
    val (it, release) = engine.stream(host, port, sql(p, range))
    val width = readSchema(p).length
    new WireRows(it.map(r => WireRows.row(r.take(width))), release)
  }
}
