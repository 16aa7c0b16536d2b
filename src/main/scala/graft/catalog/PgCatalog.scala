package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.PgWire

/** PostgreSQL connector over WIRE PROTOCOL v3 (reference:
  * plugin/trino-postgresql — PostgreSqlClient extends BaseJdbcClient:
  * filters/projection/LIMIT become remote SQL, splits come from MIN/MAX
  * bounds on a partition column, the `query` passthrough table function
  * ships raw SQL). Transport here is graft.sources.PgWire (the public v3
  * frontend/backend protocol); SQL generation and splits are the shared
  * [[SqlEngine]] stack. Each executor task STREAMS its split's rows off
  * its own socket (PgWire.queryStream, O(row) memory). */
object PgCatalog extends SqlEngine("pg", "PgScan", rangeSplits = true) {

  val format: String = classOf[PgSource].getName

  def read(spark: SparkSession, host: String, port: Int, table: String,
      partitionColumn: Option[String] = None, numPartitions: Int = 4): DataFrame = {
    val r = spark.read.format(format)
      .option("host", host).option("port", port.toString).option("table", table)
      .option("numPartitions", numPartitions.toString)
    partitionColumn.map(c => r.option("partitionColumn", c)).getOrElse(r).load()
  }

  /** Raw-SQL passthrough (reference `query` table function): executes on
    * ONE split, schema from a remote LIMIT-0 probe. */
  def readQuery(spark: SparkSession, host: String, port: Int, sql: String): DataFrame =
    spark.read.format(format)
      .option("host", host).option("port", port.toString).option("query", sql)
      .load()

  override def query(host: String, port: Int, sql: String)
      : (Seq[PgWire.Column], Vector[Seq[Any]]) = {
    val client = new PgWire.Client(host, port)
    try {
      val (cols, rows) = client.query(sql)
      (cols, rows.map(SqlEngine.decode(cols, _)))
    } finally client.close()
  }

  override def stream(host: String, port: Int, sql: String)
      : (Iterator[Seq[Any]], () => Unit) = {
    val client = new PgWire.Client(host, port)
    val (cols, rows) = client.queryStream(sql)
    (rows.map(SqlEngine.decode(cols, _)), () => client.close())
  }
}

class PgSource extends WireSource(PgCatalog)
