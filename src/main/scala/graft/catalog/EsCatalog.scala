package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.sources.EsWire

/** Elasticsearch connector over the REST wire protocol (reference:
  * plugin/trino-elasticsearch — ElasticsearchMetadata maps the index
  * mapping to columns plus the builtin `_id`
  * (`BuiltinColumns.java`), ElasticsearchSplitManager emits ONE SPLIT PER
  * SHARD from `_search_shards`, ScanQueryPageSource drives a per-shard
  * scroll, and ElasticsearchQueryBuilder lowers the pushed TupleDomain
  * onto the query DSL).
  *
  * Schema comes from `_mapping` at plan time (driver-side, bounded); the
  * splits are the shard list; each split's rows are one shard's scroll on
  * an executor. Pushdown:
  *  - filters → bool/term/terms/range/exists query DSL, evaluated
  *    SERVER-side; untranslatable filters stay in the Spark plan,
  *  - column pruning → `_source` includes,
  *  - LIMIT → page size cap + early scroll stop.
  * At 1000 shards that is 1000 independent scrolls, no driver fan-in. */
object EsCatalog extends WireConnector {

  val format: String = classOf[EsSource].getName

  def read(spark: SparkSession, host: String, port: Int, index: String): DataFrame =
    spark.read.format(format)
      .option("host", host).option("port", port.toString).option("index", index)
      .load()

  private[catalog] def sparkType(es: String): DataType = es match {
    case "keyword" | "text" => StringType
    case "long" => LongType
    case "integer" => IntegerType
    case "short" => ShortType
    case "byte" => ByteType
    case "double" => DoubleType
    case "float" => FloatType
    case "boolean" => BooleanType
    case other => throw new IllegalArgumentException(s"es: unmapped type '$other'")
  }

  /** Literal → query-DSL JSON; None = not pushable (stays in Spark). */
  private[catalog] def jsonLit(v: Any): Option[String] = v match {
    case null => None
    case s: String => Some(JsonMethods.compact(JString(s)))
    case s: UTF8String => Some(JsonMethods.compact(JString(s.toString)))
    case b: Boolean => Some(b.toString)
    case n @ (_: Long | _: Int | _: Short | _: Byte) => Some(n.toString)
    // NaN/Infinity are not valid JSON — evaluate in Spark instead
    case d: Double => if (java.lang.Double.isFinite(d)) Some(d.toString) else None
    case f: Float => if (java.lang.Float.isFinite(f)) Some(f.toString) else None
    case _ => None // decimals, dates, binaries: evaluate in Spark
  }

  /** One pushed Filter → one query-DSL clause (reference
    * ElasticsearchQueryBuilder shapes). None = cannot push. */
  private[catalog] def clause(f: Filter, fields: Set[String]): Option[String] = {
    def col(c: String): Option[String] = if (fields(c)) Some(c) else None
    f match {
      case EqualTo(c, v) => for { _ <- col(c); j <- jsonLit(v) }
        yield s"""{"term":{"$c":$j}}"""
      case In(c, vs) if vs.nonEmpty =>
        val js = vs.toSeq.map(jsonLit)
        if (col(c).isEmpty || js.exists(_.isEmpty)) None
        else Some(s"""{"terms":{"$c":[${js.flatten.mkString(",")}]}}""")
      case GreaterThan(c, v) => for { _ <- col(c); j <- jsonLit(v) }
        yield s"""{"range":{"$c":{"gt":$j}}}"""
      case GreaterThanOrEqual(c, v) => for { _ <- col(c); j <- jsonLit(v) }
        yield s"""{"range":{"$c":{"gte":$j}}}"""
      case LessThan(c, v) => for { _ <- col(c); j <- jsonLit(v) }
        yield s"""{"range":{"$c":{"lt":$j}}}"""
      case LessThanOrEqual(c, v) => for { _ <- col(c); j <- jsonLit(v) }
        yield s"""{"range":{"$c":{"lte":$j}}}"""
      case IsNotNull(c) => col(c).map(c => s"""{"exists":{"field":"$c"}}""")
      case IsNull(c) => col(c).map(c =>
        s"""{"bool":{"must_not":[{"exists":{"field":"$c"}}]}}""")
      case And(l, r) => for { a <- clause(l, fields); b <- clause(r, fields) }
        yield s"""{"bool":{"filter":[$a,$b]}}"""
      case Or(l, r) => for { a <- clause(l, fields); b <- clause(r, fields) }
        yield s"""{"bool":{"should":[$a,$b]}}"""
      case Not(inner) => clause(inner, fields).map(a =>
        s"""{"bool":{"must_not":[$a]}}""")
      case _ => None
    }
  }

  private[catalog] def queryJson(clauses: Seq[String]): String =
    if (clauses.isEmpty) """{"match_all":{}}"""
    else s"""{"bool":{"filter":[${clauses.mkString(",")}]}}"""

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val client = new EsWire.Client(options.get("host"), options.get("port").toInt)
    val mapped = client.mapping(options.get("index")).map { case (f, t) =>
      // `text` fields are ANALYZED: a server-side term/terms/range query on
      // them matches tokens, not the stored value, silently dropping rows —
      // so they are tagged here and NEVER pushed (the reference restricts
      // predicate pushdown to keyword/raw types the same way,
      // plugin/trino-elasticsearch ElasticsearchMetadata supportsPredicates)
      val meta = new MetadataBuilder().putBoolean("es.analyzed", t == "text").build()
      StructField(f, sparkType(t), nullable = true, metadata = meta)
    }
    StructType(StructField("_id", StringType, nullable = false) +: mapped)
  }

  override def relation(schema: StructType, options: CaseInsensitiveStringMap): WireRelation =
    EsRelation(schema, options.get("host"), options.get("port").toInt,
      options.get("index"), Option(options.get("query")))
}

class EsSource extends WireSource(EsCatalog)

/** One index. `rawQuery` is the reference's `raw_query` table function: a
  * literal query-DSL document ANDed with whatever Spark pushes down. A
  * split is one shard. */
final case class EsRelation(schema: StructType, host: String, port: Int,
    index: String, rawQuery: Option[String]) extends WireRelation {

  type Split = Int

  // pushable = mapped, non-analyzed fields; analyzed (`text`) fields stay
  // as residual Spark filters so exact semantics are preserved
  private def fields: Set[String] = schema.fields
    .filterNot(_.name == "_id")
    .filterNot(f => f.metadata.contains("es.analyzed") &&
      f.metadata.getBoolean("es.analyzed"))
    .map(_.name).toSet

  private def queryJson(p: Pushdown): String =
    EsCatalog.queryJson(p.filters.flatMap(EsCatalog.clause(_, fields)) ++ rawQuery.toSeq)

  override def name: String = s"es:$index"

  override def pushable(f: Filter): Boolean = EsCatalog.clause(f, fields).isDefined

  override def describe(p: Pushdown): String =
    s"EsScan($index, query=${queryJson(p)}, columns=${p.columns.fieldNames.mkString(",")})"

  override def splits(p: Pushdown): Seq[Int] = new EsWire.Client(host, port).searchShards(index)

  /** One shard's scroll: O(page) memory, early stop on a pushed LIMIT, and
    * the scroll is cleared on close. */
  override def rows(p: Pushdown, shard: Int): WireRows = {
    val client = new EsWire.Client(host, port)
    val pageSize = p.limit.map(l => math.max(1, math.min(l, 1000))).getOrElse(1000)
    val first = client.openScroll(index, shard, queryJson(p),
      Some(p.columns.fieldNames.filterNot(_ == "_id").toSeq), pageSize)
    val hits = first.hits.iterator ++ first.scrollId.iterator.flatMap(sid =>
      Iterator.continually(client.nextPage(sid).hits).takeWhile(_.nonEmpty).flatten)
    new WireRows(p.limit.fold(hits)(l => hits.take(l)).map { case (id, src) =>
      decode(p.columns, id, src)
    }, () => first.scrollId.foreach { sid =>
      try client.clearScroll(sid) catch { case _: Throwable => () }
    })
  }

  private def decode(schema: StructType, id: String, src: JValue): InternalRow = {
    val values = schema.fields.map { f =>
      if (f.name == "_id") UTF8String.fromString(id)
      else (src \ f.name) match {
        case JNothing | JNull => null
        case v => f.dataType match {
          case StringType => v match {
            case JString(s) => UTF8String.fromString(s)
            case other => UTF8String.fromString(JsonMethods.compact(other))
          }
          case LongType => v match {
            case JInt(n) => n.toLong
            case JDouble(d) => d.toLong
            case _ => null
          }
          case IntegerType => v match {
            case JInt(n) => n.toInt
            case JDouble(d) => d.toInt
            case _ => null
          }
          case ShortType => v match { case JInt(n) => n.toShort; case _ => null }
          case ByteType => v match { case JInt(n) => n.toByte; case _ => null }
          case DoubleType => v match {
            case JDouble(d) => d
            case JInt(n) => n.toDouble
            case JDecimal(d) => d.toDouble
            case _ => null
          }
          case FloatType => v match {
            case JDouble(d) => d.toFloat
            case JInt(n) => n.toFloat
            case _ => null
          }
          case BooleanType => v match { case JBool(b) => b; case _ => null }
          case other => throw new IllegalArgumentException(
            s"es: cannot decode ${f.name}: $other")
        }
      }
    }
    InternalRow.fromSeq(values.toSeq)
  }
}
