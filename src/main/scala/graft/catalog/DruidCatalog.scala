package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{DruidWire, PgWire}

/** Druid connector over the SQL HTTP API (reference: plugin/trino-druid
  * — a BaseJdbcClient subclass whose whole contract is the SQL it pushes
  * to Druid; here the same generated SQL POSTs to the public
  * /druid/v2/sql endpoint). Pushed filters/projection/LIMIT render
  * through the shared [[SqlEngine]] stack; the broker fans the query out
  * across its own historicals, so the split shape is one split per
  * query, like the Pinot broker path. */
object DruidCatalog extends SqlEngine("druid", "DruidScan", rangeSplits = false) {

  val format: String = classOf[DruidSource].getName

  def read(spark: SparkSession, host: String, port: Int, table: String): DataFrame =
    spark.read.format(format)
      .option("host", host).option("port", port.toString).option("table", table)
      .load()

  def readQuery(spark: SparkSession, host: String, port: Int, sql: String): DataFrame =
    spark.read.format(format)
      .option("host", host).option("port", port.toString).option("query", sql)
      .load()

  override def query(host: String, port: Int, sql: String)
      : (Seq[PgWire.Column], Vector[Seq[Any]]) =
    new DruidWire.Client(host, port).query(sql)

  override def stream(host: String, port: Int, sql: String)
      : (Iterator[Seq[Any]], () => Unit) =
    (query(host, port, sql)._2.iterator, () => ())
}

class DruidSource extends WireSource(DruidCatalog)
