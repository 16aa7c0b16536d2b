package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}

/** User table-function registry (SURVEY.md §2.9; reference:
  * core/trino-spi/src/main/java/io/trino/spi/function/table/ConnectorTableFunction.java
  * and the built-in sequence TVF operator/table/SequenceFunction.java:58).
  *
  * A TVF takes (session, fixture dir, literal args) and returns a DataFrame;
  * users register their own beside the built-ins. The SQL front door
  * (graft.sqlx.SqlFrontend) resolves `FROM TABLE(name(args...))` against
  * this registry, so registered functions are reachable from SQL text as well
  * as from the Scala API.
  */
object TableFunctions {
  type TVF = (SparkSession, String, Seq[String]) => DataFrame

  private val registry = scala.collection.concurrent.TrieMap.empty[String, TVF]

  def register(name: String, fn: TVF): Unit = registry.put(name.toLowerCase, fn)
  def registered: Set[String] = registry.keySet.toSet

  def invoke(spark: SparkSession, dir: String, name: String, args: Seq[String]): DataFrame =
    registry.getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(
        s"unknown table function '$name' (registered: ${registered.toSeq.sorted.mkString(", ")})"))
      .apply(spark, dir, args)

  /** queryPeriod over a lake TVF (SqlBase.g4 composes FOR VERSION|TIMESTAMP
    * AS OF with table functions; the reference resolves the snapshot in the
    * connector). Only the lake readers have versioned state to travel to. */
  def invokeAsOf(spark: SparkSession, name: String, args: Seq[String],
      kind: String, raw: String): DataFrame = {
    require(args.length == 1, s"$name('<path>') FOR $kind AS OF <literal>")
    val path = unquote(args.head)
    require(kind == "VERSION" || kind == "TIMESTAMP",
      s"FOR $kind AS OF: VERSION | TIMESTAMP")
    def tsMillis: Long =
      java.sql.Timestamp.valueOf(unquote(raw).trim.replace("T", " ")).getTime
    def version: Long = unquote(raw).trim.toLong
    name.toLowerCase match {
      case "delta_table" =>
        if (kind == "VERSION")
          graft.catalog.DeltaRead.readTable(spark, path, Some(version), None)
        else graft.catalog.DeltaRead.readTable(spark, path, None, Some(tsMillis))
      case "iceberg_table" =>
        if (kind == "VERSION") // VERSION AS OF = snapshot id (Trino semantics)
          graft.catalog.IcebergRead.readTable(spark, path, snapshotId = Some(version))
        else graft.catalog.IcebergRead.readTable(spark, path,
          asOfTimestampMs = Some(tsMillis))
      case "hudi_table" =>
        require(kind == "TIMESTAMP",
          "hudi_table supports FOR TIMESTAMP AS OF (instant time) only")
        // Hudi instants are yyyyMMddHHmmssSSS in table-local time; accept
        // either a raw instant string or an ISO timestamp
        val instant = unquote(raw).trim
        val asOf = if (instant.forall(_.isDigit)) instant
          else new java.text.SimpleDateFormat("yyyyMMddHHmmssSSS")
            .format(new java.util.Date(tsMillis))
        graft.catalog.HudiRead.readTableSnapshot(spark, path, Some(asOf))
      case "lakehouse_table" =>
        import graft.catalog.LakehouseCatalog._
        detect(path) match {
          case Delta | Iceberg => invokeAsOf(spark,
            if (detect(path) == Delta) "delta_table" else "iceberg_table",
            args, kind, raw)
          case Hudi => invokeAsOf(spark, "hudi_table", args, kind, raw)
          case Hive => throw new IllegalArgumentException(
            "FOR VERSION/TIMESTAMP AS OF: Hive-layout tables are unversioned")
        }
      case other => throw new IllegalArgumentException(
        s"FOR $kind AS OF is not supported on table function '$other'")
    }
  }

  // built-ins
  register("sequence", (s, _, args) => {
    require(args.length == 2 || args.length == 3, "sequence(start, stop [, step])")
    val step = if (args.length == 3) args(2).trim.toLong else 1L
    // stop is inclusive in the reference's sequence TVF
    s.range(args(0).trim.toLong, args(1).trim.toLong + (if (step > 0) 1 else -1), step)
      .toDF("sequential_number")
  })

  register("raw_query", (s, dir, args) => {
    require(args.length == 1, "raw_query('<remote sql>')")
    graft.catalog.DerbyCatalog.query(s, dir, unquote(args.head))
  })

  // training-pipeline TVFs: the chunking/scrubbing stages reachable from
  // SQL text (`FROM TABLE(chunk_documents(32, 24))`), same kernels as the
  // batch operators and the streaming twins
  register("chunk_documents", (s, dir, args) => {
    require(args.length <= 2, "chunk_documents([size [, stride]])")
    val size = args.headOption.map(_.trim.toInt).getOrElse(32)
    val stride = args.lift(1).map(_.trim.toInt).getOrElse(24)
    require(size > 0 && stride > 0 && stride <= size,
      "chunk_documents: need 0 < stride <= size")
    graft.streaming.DocStreams.chunk(
      graft.sources.Tables.load(s, dir, "documents"), size, stride)
  })

  register("scrub_documents", (s, dir, args) => {
    require(args.isEmpty, "scrub_documents()")
    import org.apache.spark.sql.functions.col
    graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), graft.operators.TextPipeline.scrub(col("text")).as("scrubbed"))
  })

  // lake-format readers as TVFs: open-format tables reachable from SQL
  // text without a catalog registration (the reference exposes the same
  // capability through per-connector catalogs)
  register("delta_table", (s, _, args) => {
    require(args.length == 1, "delta_table('<path>')")
    graft.catalog.DeltaRead.readTable(s, unquote(args.head))
  })
  register("iceberg_table", (s, _, args) => {
    require(args.length == 1 || args.length == 2,
      "iceberg_table('<path>' [, snapshot_id])")
    graft.catalog.IcebergRead.readTable(s, unquote(args.head),
      snapshotId = args.lift(1).map(_.trim.toLong))
  })
  register("hudi_table", (s, _, args) => {
    require(args.length == 1 || args.length == 2,
      "hudi_table('<path>' [, '<as-of instant>'])")
    graft.catalog.HudiRead.readTable(s, unquote(args.head),
      asOf = args.lift(1).map(unquote))
  })
  register("lakehouse_table", (s, _, args) => {
    require(args.length == 1, "lakehouse_table('<path>')")
    graft.catalog.LakehouseCatalog.read(s, unquote(args.head))
  })

  // wire-protocol connectors as TVFs: a Kafka topic and a thrift-metastore
  // hive table reachable from SQL text (reference: trino-kafka topics and
  // trino-hive tables surface through catalogs; the TVF spelling makes the
  // wire clients first-class in this front door too)
  register("kafka_topic", (s, _, args) => {
    require(args.length == 3, "kafka_topic('<host>', <port>, '<topic>')")
    graft.sources.KafkaWire.read(s, unquote(args(0)), args(1).trim.toInt,
      unquote(args(2)))
  })
  register("redis_scan", (s, _, args) => {
    require(args.length == 2 || args.length == 3,
      "redis_scan('<host>', <port>[, '<match>'])")
    graft.sources.RedisWire.read(s, Seq((unquote(args(0)), args(1).trim.toInt)),
      if (args.length == 3) Some(unquote(args(2))) else None)
  })
  register("es_search", (s, _, args) => {
    // reference trino-elasticsearch raw_query ptf: the optional 4th arg is
    // a literal query-DSL document ANDed with any pushed-down filters
    require(args.length == 3 || args.length == 4,
      "es_search('<host>', <port>, '<index>'[, '<query dsl json>'])")
    val r = s.read.format(graft.catalog.EsCatalog.format)
      .option("host", unquote(args(0))).option("port", args(1).trim.toInt.toString)
      .option("index", unquote(args(2)))
    (if (args.length == 4) r.option("query", unquote(args(3))) else r).load()
  })
  register("pg_table", (s, _, args) => {
    require(args.length == 3 || args.length == 4,
      "pg_table('<host>', <port>, '<table>'[, '<partition column>'])")
    graft.catalog.PgCatalog.read(s, unquote(args(0)), args(1).trim.toInt,
      unquote(args(2)), args.lift(3).map(unquote))
  })
  register("pg_query", (s, _, args) => {
    // reference trino-postgresql `query` ptf: raw SQL shipped as written
    require(args.length == 3, "pg_query('<host>', <port>, '<sql>')")
    graft.catalog.PgCatalog.readQuery(s, unquote(args(0)), args(1).trim.toInt,
      unquote(args(2)))
  })
  register("prom_query_range", (s, _, args) => {
    require(args.length == 6 || args.length == 7,
      "prom_query_range('<host>', <port>, '<selector>', <start>, <end>, <step>[, <chunks>])")
    graft.sources.PromWire.read(s, unquote(args(0)), args(1).trim.toInt,
      unquote(args(2)), args(3).trim.toLong, args(4).trim.toLong,
      args(5).trim.toLong,
      args.lift(6).map(_.trim.toInt).getOrElse(8))
  })
  register("mongo_collection", (s, _, args) => {
    require(args.length == 4 || args.length == 5,
      "mongo_collection('<host>', <port>, '<db>', '<collection>'[, '<schema ddl>'])")
    graft.catalog.MongoCatalog.read(s, unquote(args(0)), args(1).trim.toInt,
      unquote(args(2)), unquote(args(3)), args.lift(4).map(unquote))
  })
  register("ch_table", (s, _, args) => {
    require(args.length == 3 || args.length == 4,
      "ch_table('<host>', <port>, '<table>'[, '<partition column>'])")
    graft.catalog.ChCatalog.read(s, unquote(args(0)), args(1).trim.toInt,
      unquote(args(2)), args.lift(3).map(unquote))
  })
  register("ch_query", (s, _, args) => {
    require(args.length == 3, "ch_query('<host>', <port>, '<sql>')")
    graft.catalog.ChCatalog.readQuery(s, unquote(args(0)), args(1).trim.toInt,
      unquote(args(2)))
  })
  register("cassandra_table", (s, _, args) => {
    require(args.length == 4 || args.length == 5,
      "cassandra_table('<host>', <port>, '<keyspace>', '<table>'[, <splits>])")
    graft.catalog.CassandraCatalog.read(s, unquote(args(0)), args(1).trim.toInt,
      unquote(args(2)), unquote(args(3)),
      args.lift(4).map(_.trim.toInt).getOrElse(4))
  })
  register("pinot_table", (s, _, args) => {
    require(args.length == 3, "pinot_table('<host>', <port>, '<table>')")
    graft.catalog.PinotCatalog.read(s, unquote(args(0)), args(1).trim.toInt,
      unquote(args(2)))
  })
  register("pinot_query", (s, _, args) => {
    require(args.length == 3, "pinot_query('<host>', <port>, '<sql>')")
    graft.catalog.PinotCatalog.readQuery(s, unquote(args(0)), args(1).trim.toInt,
      unquote(args(2)))
  })
  register("loki_query_range", (s, _, args) => {
    require(args.length == 5 || args.length == 6,
      "loki_query_range('<host>', <port>, '<logql>', <startNs>, <endNs>[, <chunks>])")
    graft.sources.LokiWire.read(s, unquote(args(0)), args(1).trim.toInt,
      unquote(args(2)), args(3).trim.toLong, args(4).trim.toLong,
      args.lift(5).map(_.trim.toInt).getOrElse(8))
  })
  register("druid_table", (s, _, args) => {
    require(args.length == 3, "druid_table('<host>', <port>, '<table>')")
    graft.catalog.DruidCatalog.read(s, unquote(args(0)), args(1).trim.toInt,
      unquote(args(2)))
  })
  register("druid_query", (s, _, args) => {
    require(args.length == 3, "druid_query('<host>', <port>, '<sql>')")
    graft.catalog.DruidCatalog.readQuery(s, unquote(args(0)), args(1).trim.toInt,
      unquote(args(2)))
  })
  register("thrift_table", (s, _, args) => {
    require(args.length == 4,
      "thrift_table('<host>', <port>, '<schema>', '<table>')")
    graft.sources.ThriftConnector.read(s, unquote(args(0)), args(1).trim.toInt,
      unquote(args(2)), unquote(args(3)))
  })
  register("hive_thrift_table", (s, _, args) => {
    require(args.length == 4,
      "hive_thrift_table('<host>', <port>, '<db>', '<table>')")
    graft.catalog.ThriftHiveMetastore.readTable(s, unquote(args(0)),
      args(1).trim.toInt, unquote(args(2)), unquote(args(3)))
  })

  private def unquote(s: String): String = {
    val t = s.trim
    if (t.startsWith("'") && t.endsWith("'")) t.substring(1, t.length - 1) else t
  }
}
