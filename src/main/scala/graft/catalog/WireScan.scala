package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The DSv2 read skeleton under every wire connector (PostgreSQL,
  * ClickHouse, Druid, Pinot, Elasticsearch, MongoDB, Cassandra). It is the
  * reference's split of the read side: a split manager plus a page source
  * (`ConnectorSplitManager` + `ConnectorPageSource`), with one shared base
  * for SQL-speaking engines (plugin/trino-base-jdbc, here [[SqlEngine]]).
  *
  * The classes below own every DSv2 role — TableProvider, Table,
  * ScanBuilder, Scan/Batch, reader factory, PartitionReader. A connector
  * supplies only what the skeleton cannot know:
  *  - schema inference ([[WireConnector.inferSchema]]);
  *  - a pushdown renderer: which filters its query language can carry and
  *    how the [[Pushdown]] becomes its SQL, CQL, query DSL or BSON;
  *  - a split enumerator ([[WireRelation.splits]], driver side, bounded);
  *  - a row iterator per split ([[WireRelation.rows]], executor side,
  *    streamed off the split's own connection). */
trait WireConnector {
  /** Bounded driver-side metadata probe for the table the options name. */
  def inferSchema(options: CaseInsensitiveStringMap): StructType

  /** The table the options name, bound to its schema. */
  def relation(schema: StructType, options: CaseInsensitiveStringMap): WireRelation
}

/** What a scan pushed into the remote engine. Filters are the ones the
  * relation accepted; `columns` is the scan's output (the required
  * columns, or an aggregate's result columns). Offset, TopN keys and the
  * aggregate are only ever set by relations that accept them. */
final case class Pushdown(columns: StructType, filters: Seq[Filter],
    limit: Option[Int], offset: Option[Int], orderBy: Seq[String],
    agg: Option[AggPushdown.Pushed])

/** One connector table: its name and schema, the pushdown it accepts, and
  * the split enumerator and row iterator of a built scan. Serialized to
  * executors with the scan, so it holds connection coordinates, not
  * connections. */
trait WireRelation extends Serializable {
  /** The connector's per-split coordinate (a key range, a shard, …). */
  type Split

  /** Spark's table name, connector-prefixed (`pg:items`, `es:docs`). */
  def name: String
  def schema: StructType

  /** Whether the remote engine can evaluate this filter exactly. */
  def pushable(f: Filter): Boolean

  /** OFFSET, TopN and aggregate pushdown: refused unless overridden. */
  def pushOffset: Boolean = false
  def topN(orders: Array[SortOrder]): Option[Seq[String]] = None
  /** Whether a pushed TopN still needs Spark's merge (several splits). */
  def partial: Boolean = true
  def completeAggregate(a: Aggregation): Boolean = false
  /** The rendered aggregate and its remote result schema, or None. */
  def aggregate(a: Aggregation): Option[(AggPushdown.Pushed, StructType)] = None

  /** The scan's schema for this pushdown (a passthrough query keeps its
    * own columns). */
  def readSchema(p: Pushdown): StructType = p.columns
  /** The scan's plan text: the remote query it ships. */
  def describe(p: Pushdown): String
  def splits(p: Pushdown): Seq[Split]
  def rows(p: Pushdown, split: Split): WireRows
}

/** A split's rows as the connector streams them. `close` releases the
  * remote cursor or connection, also when a LIMIT stops reading early. */
final class WireRows(it: Iterator[InternalRow], release: () => Unit = () => ())
    extends Iterator[InternalRow] with AutoCloseable {
  override def hasNext: Boolean = it.hasNext
  override def next(): InternalRow = it.next()
  override def close(): Unit = release()
}

object WireRows {
  /** Driver-decoded JVM values → a Spark row (strings become UTF8). */
  def row(values: Seq[Any]): InternalRow = InternalRow.fromSeq(values.map {
    case s: String => UTF8String.fromString(s)
    case other => other
  })
}

/** The TableProvider of every wire connector; each connector's format
  * class (`PgSource`, `EsSource`, …) only names its [[WireConnector]]. */
abstract class WireSource(connector: WireConnector) extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    connector.inferSchema(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WireTable(connector.relation(schema, new CaseInsensitiveStringMap(properties)))
}

final class WireTable(relation: WireRelation) extends Table with SupportsRead {
  override def name(): String = relation.name
  override def schema(): StructType = relation.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WireScanBuilder(relation)
}

/** Pushes filters, columns and limit for every connector, and OFFSET, TopN
  * and aggregates where the relation accepts them. The limit is recorded
  * but reported as not pushed: Spark keeps its own LIMIT on top. */
final class WireScanBuilder(relation: WireRelation) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownOffset
    with SupportsPushDownTopN with SupportsPushDownAggregates {
  private var pushed = Pushdown(relation.schema, Nil, None, None, Nil, None)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, rest) = filters.partition(relation.pushable)
    pushed = pushed.copy(filters = ok.toSeq)
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed.filters.toArray

  override def pruneColumns(requiredSchema: StructType): Unit =
    // with an aggregate pushed, the scan output IS the aggregate schema
    if (pushed.agg.isEmpty) pushed = pushed.copy(columns = requiredSchema)

  override def pushLimit(l: Int): Boolean = {
    pushed = pushed.copy(limit = Some(l)); false
  }

  override def pushOffset(o: Int): Boolean =
    relation.pushOffset && { pushed = pushed.copy(offset = Some(o)); true }

  override def pushTopN(orders: Array[SortOrder], l: Int): Boolean =
    pushed.agg.isEmpty && (relation.topN(orders) match {
      case Some(os) => pushed = pushed.copy(orderBy = os, limit = Some(l)); true
      case None => false
    })
  override def isPartiallyPushed(): Boolean = relation.partial

  override def supportCompletePushDown(a: Aggregation): Boolean =
    relation.completeAggregate(a)
  override def pushAggregation(a: Aggregation): Boolean =
    relation.aggregate(a) match {
      case Some((agg, schema)) =>
        pushed = pushed.copy(agg = Some(agg), columns = schema); true
      case None => false
    }

  override def build(): Scan = new WireScan(relation, pushed)
}

final class WireScan(relation: WireRelation, pushed: Pushdown) extends Scan with Batch {
  override def readSchema(): StructType = relation.readSchema(pushed)
  override def toBatch: Batch = this
  override def description(): String = relation.describe(pushed)
  override def planInputPartitions(): Array[InputPartition] =
    relation.splits(pushed).map(s => WirePartition(s): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new WireReaderFactory(relation, pushed)
}

final case class WirePartition(split: Any) extends InputPartition

final class WireReaderFactory(relation: WireRelation, pushed: Pushdown)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new WireReader(relation.rows(pushed,
      partition.asInstanceOf[WirePartition].split.asInstanceOf[relation.Split]))
}

final class WireReader(rows: WireRows) extends PartitionReader[InternalRow] {
  private var current: InternalRow = _
  override def next(): Boolean =
    rows.hasNext && { current = rows.next(); true }
  override def get(): InternalRow = current
  override def close(): Unit = rows.close()
}
