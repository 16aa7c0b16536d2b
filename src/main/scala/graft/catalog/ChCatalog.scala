package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{ClickHouseWire, PgWire}

/** ClickHouse connector over the HTTP interface (reference:
  * plugin/trino-clickhouse — ClickHouseClient is another BaseJdbcClient
  * subclass: pushed filters/projection/LIMIT render to remote SQL, the
  * HTTP interface streams TSV back). SQL generation, range splits and
  * OFFSET/TopN/aggregate pushdown are the [[SqlEngine]] stack the
  * PostgreSQL connector uses (ClickHouse accepts ANSI double-quoted
  * identifiers); only the transport differs. Each executor split streams
  * its own HTTP response line by line (O(row) memory). */
object ChCatalog extends SqlEngine("clickhouse", "ChScan", rangeSplits = true) {

  val format: String = classOf[ChSource].getName

  def read(spark: SparkSession, host: String, port: Int, table: String,
      partitionColumn: Option[String] = None, numPartitions: Int = 4): DataFrame = {
    val r = spark.read.format(format)
      .option("host", host).option("port", port.toString).option("table", table)
      .option("numPartitions", numPartitions.toString)
    partitionColumn.map(c => r.option("partitionColumn", c)).getOrElse(r).load()
  }

  /** Raw-SQL passthrough (reference `query` table function family):
    * executes on ONE split, schema from a remote LIMIT-0 probe. */
  def readQuery(spark: SparkSession, host: String, port: Int, sql: String): DataFrame =
    spark.read.format(format)
      .option("host", host).option("port", port.toString).option("query", sql)
      .load()

  override def query(host: String, port: Int, sql: String)
      : (Seq[PgWire.Column], Vector[Seq[Any]]) = {
    val (cols, rows) = new ClickHouseWire.Client(host, port).query(sql)
    (cols, rows.map(SqlEngine.decode(cols, _)))
  }

  override def stream(host: String, port: Int, sql: String)
      : (Iterator[Seq[Any]], () => Unit) = {
    val client = new ClickHouseWire.Client(host, port)
    val (cols, rows) = client.queryStream(sql)
    // close releases the streaming HTTP body even on early termination (LIMIT)
    (rows.map(SqlEngine.decode(cols, _)), () => client.close())
  }
}

class ChSource extends WireSource(ChCatalog)
