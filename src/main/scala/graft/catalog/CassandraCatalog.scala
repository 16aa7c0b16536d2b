package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.CassandraWire

/** Cassandra connector over the CQL native protocol (reference:
  * plugin/trino-cassandra — CassandraSplitManager cuts the
  * Murmur3Partitioner TOKEN RING into ranges, one split per range, each
  * split's CQL carrying `token(pk) > lo AND token(pk) <= hi`;
  * CassandraMetadata reads system_schema.columns for the table layout;
  * pushed predicates render into the CQL with ALLOW FILTERING where the
  * engine demands it).
  *
  * Scale shape: the DRIVER runs one system_schema query; each EXECUTOR
  * task owns one token range and drives its own paged QUERY — ring
  * coverage is exact (first range closes at the minimum token, every
  * other range is half-open), so each row lands in exactly one split
  * regardless of data. */
object CassandraCatalog extends WireConnector {

  val format: String = classOf[CassandraSource].getName

  def read(spark: SparkSession, host: String, port: Int, keyspace: String,
      table: String, splits: Int = 4): DataFrame =
    spark.read.format(format)
      .option("host", host).option("port", port.toString)
      .option("keyspace", keyspace).option("table", table)
      .option("splits", splits.toString)
      .load()

  private[catalog] def sparkType(cqlTypeName: String): DataType = cqlTypeName match {
    case "bigint" => LongType
    case "int" => IntegerType
    case "double" => DoubleType
    case "boolean" => BooleanType
    case "varchar" | "text" => StringType
    case other => throw new IllegalArgumentException(s"cassandra: unmapped '$other'")
  }

  private[catalog] def cqlLit(v: Any): Option[String] = v match {
    case null => None
    case s: UTF8String => cqlLit(s.toString)
    case s: String => Some("'" + s.replace("'", "''") + "'")
    case b: Boolean => Some(if (b) "TRUE" else "FALSE")
    case n @ (_: Long | _: Int | _: Short | _: Byte) => Some(n.toString)
    // NaN/Infinity have no CQL literal — evaluate in Spark instead
    case d: Double => if (java.lang.Double.isFinite(d)) Some(d.toString) else None
    case f: Float =>
      if (java.lang.Float.isFinite(f)) Some(f.toDouble.toString) else None
    case _ => None
  }

  /** One pushed Filter → one CQL relation. CQL has no OR/NOT — only
    * conjunctions push (the reference's TupleDomain is conjunctive too). */
  private[catalog] def clause(f: Filter, fields: Set[String]): Option[String] = {
    def col(c: String): Option[String] = if (fields(c)) Some("\"" + c + "\"") else None
    f match {
      case EqualTo(c, v) => for { q <- col(c); l <- cqlLit(v) } yield s"$q = $l"
      case GreaterThan(c, v) => for { q <- col(c); l <- cqlLit(v) } yield s"$q > $l"
      case GreaterThanOrEqual(c, v) => for { q <- col(c); l <- cqlLit(v) } yield s"$q >= $l"
      case LessThan(c, v) => for { q <- col(c); l <- cqlLit(v) } yield s"$q < $l"
      case LessThanOrEqual(c, v) => for { q <- col(c); l <- cqlLit(v) } yield s"$q <= $l"
      case In(c, vs) if vs.nonEmpty =>
        val ls = vs.toSeq.map(cqlLit)
        if (col(c).isEmpty || ls.exists(_.isEmpty)) None
        else Some(s""""$c" IN (${ls.flatten.mkString(", ")})""")
      case And(l, r) => for { a <- clause(l, fields); b <- clause(r, fields) }
        yield s"$a AND $b"
      case _ => None
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val c = new CassandraWire.Client(options.get("host"), options.get("port").toInt)
    try {
      // schema discovery over the wire, like a driver. system_schema.columns
      // clusters rows BY COLUMN NAME, so key membership must come from the
      // `kind` column, never from row order (reference CassandraMetadata
      // reads kind/position the same way); fields are presented key-first
      // (partition key by position, clustering by position, then regular
      // alphabetically), the canonical CQL layout.
      val (_, rows) = c.queryAll(
        s"""SELECT column_name, type, kind, position FROM system_schema.columns
            WHERE keyspace_name = '${options.get("keyspace")}'
            AND table_name = '${options.get("table")}' ALLOW FILTERING""")
      val cols = rows.toVector.map { r =>
        (r(0).asInstanceOf[String], r(1).asInstanceOf[String],
          r(2).asInstanceOf[String], r(3).asInstanceOf[Long])
      }
      require(cols.nonEmpty,
        s"cassandra: no such table ${options.get("keyspace")}.${options.get("table")}")
      def field(name: String, tpe: String, kind: String, pos: Long) =
        StructField(name, sparkType(tpe), nullable = true,
          metadata = new MetadataBuilder()
            .putString("cassandra.kind", kind)
            .putLong("cassandra.position", pos).build())
      val pk = cols.filter(_._3 == "partition_key").sortBy(_._4)
      val clustering = cols.filter(_._3 == "clustering").sortBy(_._4)
      val regular = cols.filterNot(c3 =>
        c3._3 == "partition_key" || c3._3 == "clustering").sortBy(_._1)
      StructType((pk ++ clustering ++ regular).map((field _).tupled))
    } finally c.close()
  }

  override def relation(schema: StructType, options: CaseInsensitiveStringMap): WireRelation =
    CassandraRelation(schema, options.get("host"), options.get("port").toInt,
      options.get("keyspace"), options.get("table"),
      Option(options.get("splits")).map(_.toInt).getOrElse(4))
}

class CassandraSource extends WireSource(CassandraCatalog)

/** One table; a split is one token range `(lo, hi, first)`: the first
  * range closes at the minimum token, every other is half-open. */
final case class CassandraRelation(schema: StructType, host: String, port: Int,
    keyspace: String, table: String, tokenRanges: Int) extends WireRelation {

  type Split = (Long, Long, Boolean)

  private def fields: Set[String] = schema.fieldNames.toSet

  /** token() target = the partition key columns by kind/position metadata
    * (composite keys render token("a", "b")); a schema with no kind
    * metadata (hand-declared) falls back to the first field. */
  private def tokenArgs: String = {
    val pk = schema.fields
      .filter(f => f.metadata.contains("cassandra.kind") &&
        f.metadata.getString("cassandra.kind") == "partition_key")
      .sortBy(_.metadata.getLong("cassandra.position"))
      .map(_.name).toSeq
    (if (pk.nonEmpty) pk else Seq(schema.fieldNames.head))
      .map(n => "\"" + n + "\"").mkString(", ")
  }

  private def clauses(p: Pushdown): Seq[String] =
    p.filters.flatMap(CassandraCatalog.clause(_, fields))

  override def name: String = s"cassandra:$keyspace.$table"

  override def pushable(f: Filter): Boolean = CassandraCatalog.clause(f, fields).isDefined

  /** One token range's CQL — the reference's split query shape. */
  private[catalog] def cql(p: Pushdown, range: Split): String = {
    val (lo, hi, first) = range
    val t = tokenArgs
    val tokenCond =
      if (first) s"token($t) >= $lo AND token($t) <= $hi"
      else s"token($t) > $lo AND token($t) <= $hi"
    val selectList =
      if (p.columns.isEmpty) t
      else p.columns.fieldNames.map(f => "\"" + f + "\"").mkString(", ")
    val lim = p.limit.map(l => s" LIMIT $l").getOrElse("")
    s"SELECT $selectList FROM $keyspace.$table WHERE ${(tokenCond +: clauses(p)).mkString(" AND ")}$lim ALLOW FILTERING"
  }

  override def describe(p: Pushdown): String =
    s"CassandraScan($keyspace.$table, where=${clauses(p).mkString(" AND ")}, splits=$tokenRanges)"

  override def splits(p: Pushdown): Seq[Split] = {
    // the full Murmur3 ring divided into `tokenRanges` contiguous ranges
    val n = math.max(1, tokenRanges)
    val span = java.math.BigInteger.valueOf(Long.MaxValue)
      .subtract(java.math.BigInteger.valueOf(Long.MinValue))
    val step = span.divide(java.math.BigInteger.valueOf(n.toLong))
    (0 until n).map { i =>
      val lo = java.math.BigInteger.valueOf(Long.MinValue)
        .add(step.multiply(java.math.BigInteger.valueOf(i.toLong)))
      val hi = if (i == n - 1) java.math.BigInteger.valueOf(Long.MaxValue)
        else lo.add(step)
      (lo.longValueExact(), hi.longValueExact(), i == 0)
    }
  }

  /** One token range's paged query, streamed on the executor. */
  override def rows(p: Pushdown, range: Split): WireRows = {
    val client = new CassandraWire.Client(host, port)
    val (_, it) = client.queryAll(cql(p, range), pageSize = 1000)
    val width = p.columns.length
    new WireRows(it.map(r => WireRows.row(r.take(width))), () => client.close())
  }
}
