package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.MongoWire

/** MongoDB connector over the OP_MSG wire protocol (reference:
  * plugin/trino-mongodb — MongoMetadata maps collection fields to columns,
  * MongoSession.execute builds the `find` filter document from the pushed
  * TupleDomain and a projection document from the column handles,
  * MongoPageSource drains the cursor; MongoSplitManager emits one split).
  *
  * Schema comes from the `schema` option (DDL string) or, like the
  * reference's collection sampling, from the first document. Pushdown:
  *  - filters (SupportsPushDownFilters) → `$eq/$gt/$gte/$lt/$lte/$in/
  *    $exists` under `$and`/`$or`, evaluated SERVER-side,
  *  - column pruning → the projection document,
  *  - LIMIT → the find limit.
  * The cursor streams batches — executor memory is O(batch), and rows
  * decode straight off the wire iterator. */
object MongoCatalog extends WireConnector {

  val format: String = classOf[MongoSource].getName

  def read(spark: SparkSession, host: String, port: Int, db: String,
      coll: String, schemaDdl: Option[String] = None): DataFrame = {
    val r = spark.read.format(format)
      .option("host", host).option("port", port.toString)
      .option("db", db).option("collection", coll)
    schemaDdl.map(s => r.option("schema", s)).getOrElse(r).load()
  }

  private[catalog] def bsonLit(v: Any): Option[Any] = v match {
    case null => None
    case s: UTF8String => Some(s.toString)
    case s: String => Some(s)
    case b: Boolean => Some(b)
    case i: Int => Some(i)
    case l: Long => Some(l)
    case s: Short => Some(s.toInt)
    case b: Byte => Some(b.toInt)
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case _ => None // decimals/dates: evaluate in Spark
  }

  /** One pushed Filter → one filter sub-document (reference MongoSession
    * buildQuery shapes). */
  private[catalog] def clause(f: Filter, fields: Set[String]): Option[MongoWire.Doc] = {
    def col(c: String): Option[String] = if (fields(c)) Some(c) else None
    f match {
      case EqualTo(c, v) => for { k <- col(c); l <- bsonLit(v) }
        yield Seq(k -> Seq("$eq" -> l))
      case GreaterThan(c, v) => for { k <- col(c); l <- bsonLit(v) }
        yield Seq(k -> Seq("$gt" -> l))
      case GreaterThanOrEqual(c, v) => for { k <- col(c); l <- bsonLit(v) }
        yield Seq(k -> Seq("$gte" -> l))
      case LessThan(c, v) => for { k <- col(c); l <- bsonLit(v) }
        yield Seq(k -> Seq("$lt" -> l))
      case LessThanOrEqual(c, v) => for { k <- col(c); l <- bsonLit(v) }
        yield Seq(k -> Seq("$lte" -> l))
      case In(c, vs) if vs.nonEmpty =>
        val ls = vs.toSeq.map(bsonLit)
        if (col(c).isEmpty || ls.exists(_.isEmpty)) None
        else Some(Seq(c -> Seq("$in" -> ls.flatten)))
      case IsNull(c) => col(c).map(k => Seq(k -> Seq("$eq" -> null)))
      case IsNotNull(c) => col(c).map(k => Seq(k -> Seq("$ne" -> null)))
      case And(l, r) => for { a <- clause(l, fields); b <- clause(r, fields) }
        yield Seq("$and" -> Seq(a, b))
      case Or(l, r) => for { a <- clause(l, fields); b <- clause(r, fields) }
        yield Seq("$or" -> Seq(a, b))
      case _ => None
    }
  }

  private[catalog] def inferType(v: Any): Option[DataType] = v match {
    case _: String => Some(StringType)
    case _: Boolean => Some(BooleanType)
    case _: Int => Some(IntegerType)
    case _: Long => Some(LongType)
    case _: Double => Some(DoubleType)
    case _ => None
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Option(options.get("schema")) match {
      case Some(ddl) => StructType.fromDDL(ddl)
      case None =>
        // reference-style sampling: first document decides the columns
        val c = new MongoWire.Client(options.get("host"), options.get("port").toInt)
        try {
          val first = c.find(options.get("db"), options.get("collection"),
            limit = Some(1)).toSeq.headOption.getOrElse(
            throw new IllegalArgumentException(
              "mongo: empty collection and no `schema` option — cannot infer"))
          StructType(first.flatMap { case (k, v) =>
            inferType(v).map(t => StructField(k, t))
          })
        } finally c.close()
    }

  override def relation(schema: StructType, options: CaseInsensitiveStringMap): WireRelation =
    MongoRelation(schema, options.get("host"), options.get("port").toInt,
      options.get("db"), options.get("collection"))
}

class MongoSource extends WireSource(MongoCatalog)

/** One collection; the single split (reference MongoSplitManager) is one
  * streaming cursor. */
final case class MongoRelation(schema: StructType, host: String, port: Int,
    db: String, coll: String) extends WireRelation {

  type Split = Unit

  private def fields: Set[String] = schema.fieldNames.toSet

  private def filterDoc(p: Pushdown): MongoWire.Doc = {
    val clauses = p.filters.flatMap(MongoCatalog.clause(_, fields))
    if (clauses.isEmpty) Nil else Seq("$and" -> clauses)
  }

  override def name: String = s"mongodb:$db.$coll"

  override def pushable(f: Filter): Boolean = MongoCatalog.clause(f, fields).isDefined

  override def describe(p: Pushdown): String =
    s"MongoScan($db.$coll, filter=${filterDoc(p)}, columns=${p.columns.fieldNames.mkString(",")})"

  override def splits(p: Pushdown): Seq[Unit] = Seq(())

  override def rows(p: Pushdown, split: Unit): WireRows = {
    val client = new MongoWire.Client(host, port)
    val projection: Option[MongoWire.Doc] =
      if (p.columns.isEmpty) None
      else Some(p.columns.fieldNames.toSeq.map(f => f -> (1: Any)))
    val docs = client.find(db, coll, filterDoc(p), projection, p.limit)
    new WireRows(docs.map { d =>
      InternalRow.fromSeq(p.columns.fields.toSeq.map { f =>
        MongoWire.get(d, f.name).orNull match {
          case null => null
          case v => (f.dataType, v) match {
            case (StringType, s: String) => UTF8String.fromString(s)
            case (LongType, l: Long) => l
            case (LongType, i: Int) => i.toLong
            case (IntegerType, i: Int) => i
            case (IntegerType, l: Long) => l.toInt
            case (DoubleType, d0: Double) => d0
            case (DoubleType, i: Int) => i.toDouble
            case (DoubleType, l: Long) => l.toDouble
            case (BooleanType, b: Boolean) => b
            case (t, x) => throw new IllegalArgumentException(
              s"mongo: cannot decode ${f.name}=$x as $t")
          }
        }
      })
    }, () => client.close())
  }
}
