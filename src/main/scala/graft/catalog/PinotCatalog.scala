package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{PgWire, PinotWire}

/** Pinot connector over the broker API (reference: plugin/trino-pinot —
  * broker queries carry the pushed-down SQL, the broker fans out across
  * its own segments and returns one resultTable; the connector's work is
  * SQL generation + decode, with passthrough "dynamic tables" for raw
  * broker SQL). Pushed filters/projection/LIMIT render through the shared
  * [[SqlEngine]] stack.
  *
  * Split shape follows the reference's broker path: ONE split per query —
  * the scale-out lives inside Pinot (its servers scan segments in
  * parallel), so more Spark splits would only duplicate the broker work. */
object PinotCatalog extends SqlEngine("pinot", "PinotScan", rangeSplits = false) {

  val format: String = classOf[PinotSource].getName

  def read(spark: SparkSession, host: String, port: Int, table: String): DataFrame =
    spark.read.format(format)
      .option("host", host).option("port", port.toString).option("table", table)
      .load()

  /** Raw broker SQL passthrough (reference dynamic tables /
    * `query` semantics). */
  def readQuery(spark: SparkSession, host: String, port: Int, sql: String): DataFrame =
    spark.read.format(format)
      .option("host", host).option("port", port.toString).option("query", sql)
      .load()

  /** Pinot defaults to 10 rows without a LIMIT — always send one. */
  override def defaultLimit: Option[Int] = Some(Int.MaxValue)

  override def query(host: String, port: Int, sql: String)
      : (Seq[PgWire.Column], Vector[Seq[Any]]) =
    new PinotWire.Client(host, port).query(sql)

  override def stream(host: String, port: Int, sql: String)
      : (Iterator[Seq[Any]], () => Unit) =
    (query(host, port, sql)._2.iterator, () => ())
}

class PinotSource extends WireSource(PinotCatalog)
