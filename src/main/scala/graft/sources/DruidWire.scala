package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.HttpExchange
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Druid SQL HTTP API — server and client for the timeseries-OLAP
  * connector (reference: plugin/trino-druid rides Druid's public SQL
  * surface via JDBC/Avatica; this module speaks the same engine's
  * native SQL endpoint directly — `POST /druid/v2/sql/` with
  * `{"query":…, "resultFormat":"array", "header":true,
  * "typesHeader":true}`, answered as a JSON array whose first element is
  * the column-name header, second the Druid type header
  * (LONG/DOUBLE/STRING/BOOLEAN…), then one value array per row — the
  * published Druid SQL API). The pushed-down SQL is the whole connector
  * contract; the broker fans out across its own historicals. */
object DruidWire {

  import PgWire.{Column, TableDef, MiniSql, OidBool, OidInt8, OidFloat8, OidVarchar}

  private implicit val fmts: Formats = DefaultFormats

  private[sources] def druidType(oid: Int): String = oid match {
    case OidBool => "BOOLEAN"
    case OidInt8 | PgWire.OidInt4 | PgWire.OidInt2 => "LONG"
    case OidFloat8 | PgWire.OidFloat4 => "DOUBLE"
    case _ => "STRING"
  }

  private[sources] def oidOf(t: String): Int = t match {
    case "BOOLEAN" => OidBool
    case "LONG" => OidInt8
    case "FLOAT" | "DOUBLE" => OidFloat8
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
      val t = new Thread(r, "graft-druid-server"); t.setDaemon(true); t
    }))
    server.createContext("/druid/v2/sql", (ex: HttpExchange) => handle(ex))
    locally {
      val starter = new Thread(() => server.start(), "graft-druid-start")
      starter.setDaemon(true); starter.start(); starter.join()
    }
    def port: Int = server.getAddress.getPort
    override def close(): Unit = server.stop(0)

    private def jstr(s: String): String = JsonMethods.compact(JString(s))

    private def handle(ex: HttpExchange): Unit = {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val (code, text) = try {
        val JString(sql) = (JsonMethods.parse(body) \ "query"): @unchecked
        val (cols, rows) = MiniSql.execute(sql, n => Option(tables.get(n)))
        val header = cols.map(c => jstr(c.name)).mkString("[", ",", "]")
        val types = cols.map(c => jstr(druidType(c.oid))).mkString("[", ",", "]")
        val data = rows.map(_.map {
          case null => "null"
          case s: String => jstr(s)
          case b: Boolean => b.toString
          case v => String.valueOf(v)
        }.mkString("[", ",", "]"))
        (200, (header +: types +: data).mkString("[", ",", "]"))
      } catch {
        case e: Throwable => (400,
          s"""{"error":"druidException","errorMessage":${jstr(String.valueOf(e.getMessage))}}""")
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
      val t = new Thread(r, "graft-druid-client"); t.setDaemon(true); t
    }))
    .build()

  final class Client(host: String, port: Int) extends Serializable {
    def query(sql: String): (Seq[Column], Vector[Seq[Any]]) = {
      val payload = JsonMethods.compact(JObject(
        "query" -> JString(sql), "resultFormat" -> JString("array"),
        "header" -> JBool(true), "typesHeader" -> JBool(true)))
      val resp = http.send(
        HttpRequest.newBuilder(URI.create(s"http://$host:$port/druid/v2/sql/"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(payload)).build(),
        HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() != 200) {
        val msg = try {
          (JsonMethods.parse(resp.body()) \ "errorMessage") match {
            case JString(m) => m
            case _ => resp.body().take(300)
          }
        } catch { case _: Exception => resp.body().take(300) }
        throw new IllegalStateException(s"druid error: $msg")
      }
      JsonMethods.parse(resp.body()) match {
        case JArray(JArray(names) :: JArray(types) :: data) =>
          val cols = names.zip(types).collect {
            case (JString(n), JString(t)) => Column(n, oidOf(t))
          }
          val rows = data.map {
            case JArray(vs) => vs.zip(cols).map { case (v, c) =>
              (v, c.oid) match {
                case (JNull, _) => null
                case (JInt(n), OidInt8) => n.toLong
                case (JInt(n), OidFloat8) => n.toDouble
                case (JDouble(d), OidFloat8) => d
                case (JDouble(d), OidInt8) => d.toLong
                case (JBool(b), _) => b
                case (JString(s), _) => s
                case (other, _) => JsonMethods.compact(other)
              }
            }
            case other => throw new IllegalStateException(s"druid: bad row $other")
          }.toVector
          (cols, rows)
        case JArray(Nil) => (Nil, Vector.empty)
        case other => throw new IllegalStateException(
          s"druid: unexpected response shape ${JsonMethods.compact(other).take(200)}")
      }
    }
  }
}
