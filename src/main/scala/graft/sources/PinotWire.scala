package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.HttpExchange
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Pinot BROKER API — server and client for the realtime-OLAP connector
  * (reference: plugin/trino-pinot — PinotClient.submitBrokerQuery POSTs
  * `{"sql": …}` to the broker's `/query/sql` and reads
  * `brokerResponse.resultTable.{dataSchema:{columnNames,columnDataTypes},
  * rows}`; `PinotClient.java:119,609-622`). The broker executes the
  * pushed-down SQL across its segments — the connector's job is SQL
  * generation plus result decode, which is exactly what this module
  * exercises. The loopback broker evaluates the same SELECT subset the
  * generated SQL uses (PgWire.MiniSql) and answers with Pinot column
  * data types (LONG/INT/DOUBLE/STRING/BOOLEAN). */
object PinotWire {

  import PgWire.{Column, TableDef, MiniSql, OidBool, OidInt4, OidInt8,
    OidFloat8, OidVarchar}

  private implicit val fmts: Formats = DefaultFormats

  private[sources] def pinotType(oid: Int): String = oid match {
    case OidBool => "BOOLEAN"
    case OidInt4 => "INT"
    case OidInt8 => "LONG"
    case OidFloat8 => "DOUBLE"
    case _ => "STRING"
  }

  private[sources] def oidOf(t: String): Int = t match {
    case "BOOLEAN" => OidBool
    case "INT" => OidInt4
    case "LONG" => OidInt8
    case "DOUBLE" | "FLOAT" => OidFloat8
    case _ => OidVarchar
  }

  // ---------------------------------------------------------------- server

  final class Server(port0: Int = 0) extends AutoCloseable {
    private val tables =
      new java.util.concurrent.ConcurrentHashMap[String, TableDef]()

    def createTable(name: String, columns: Seq[Column],
        rows: Vector[Array[Any]]): Unit =
      tables.put(name.toLowerCase, TableDef(columns, rows))

    private val server = graft.server.LoopbackHttp.create(port0)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-pinot-server"); t.setDaemon(true); t
    }))
    server.createContext("/query/sql", (ex: HttpExchange) => handle(ex))
    locally {
      val starter = new Thread(() => server.start(), "graft-pinot-start")
      starter.setDaemon(true); starter.start(); starter.join()
    }
    def port: Int = server.getAddress.getPort
    override def close(): Unit = server.stop(0)

    private def jstr(s: String): String = JsonMethods.compact(JString(s))

    private def handle(ex: HttpExchange): Unit = {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val (code, text) = try {
        val JString(sql) = (JsonMethods.parse(body) \ "sql"): @unchecked
        val (cols, rows) = MiniSql.execute(sql, n => Option(tables.get(n)))
        val names = cols.map(c => jstr(c.name)).mkString(",")
        val types = cols.map(c => jstr(pinotType(c.oid))).mkString(",")
        val rowJson = rows.map(r => r.map {
          case null => "null"
          case s: String => jstr(s)
          case b: Boolean => b.toString
          case v => String.valueOf(v)
        }.mkString("[", ",", "]")).mkString(",")
        (200,
          s"""{"resultTable":{"dataSchema":{"columnNames":[$names],""" +
            s""""columnDataTypes":[$types]},"rows":[$rowJson]},""" +
            s""""exceptions":[],"numDocsScanned":${rows.size}}""")
      } catch {
        case e: Throwable => (200, // pinot reports errors in-band
          s"""{"exceptions":[{"errorCode":150,"message":${jstr(String.valueOf(e.getMessage))}}]}""")
      }
      val bytes = text.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
  }

  // ---------------------------------------------------------------- client

  private lazy val http = HttpClient.newBuilder()
    .executor(java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-pinot-client"); t.setDaemon(true); t
    }))
    .build()

  final class Client(host: String, port: Int) extends Serializable {
    def query(sql: String): (Seq[Column], Vector[Seq[Any]]) = {
      val payload = JsonMethods.compact(JObject("sql" -> JString(sql)))
      val resp = http.send(
        HttpRequest.newBuilder(URI.create(s"http://$host:$port/query/sql"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(payload)).build(),
        HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200,
        s"pinot: broker returned ${resp.statusCode()}")
      val parsed = JsonMethods.parse(resp.body())
      (parsed \ "exceptions") match {
        case JArray(e :: _) =>
          val JString(msg) = (e \ "message"): @unchecked
          throw new IllegalStateException(s"pinot error: $msg")
        case _ => ()
      }
      val names = (parsed \ "resultTable" \ "dataSchema" \ "columnNames") match {
        case JArray(ns) => ns.collect { case JString(s) => s }
        case _ => Nil
      }
      val types = (parsed \ "resultTable" \ "dataSchema" \ "columnDataTypes") match {
        case JArray(ts) => ts.collect { case JString(s) => s }
        case _ => Nil
      }
      val cols = names.zip(types).map { case (n, t) => Column(n, oidOf(t)) }
      val rows = (parsed \ "resultTable" \ "rows") match {
        case JArray(rs) => rs.map {
          case JArray(vs) => vs.zip(cols).map { case (v, c) =>
            (v, c.oid) match {
              case (JNull, _) => null
              case (JInt(n), OidInt8) => n.toLong
              case (JInt(n), OidInt4) => n.toInt
              case (JInt(n), OidFloat8) => n.toDouble
              case (JDouble(d), OidFloat8) => d
              case (JDouble(d), OidInt8) => d.toLong
              case (JBool(b), _) => b
              case (JString(s), _) => s
              case (other, _) => JsonMethods.compact(other)
            }
          }
          case other => throw new IllegalStateException(s"pinot: bad row $other")
        }.toVector
        case _ => Vector.empty
      }
      (cols, rows)
    }
  }
}
