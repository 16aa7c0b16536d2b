package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpExchange

/** ClickHouse HTTP INTERFACE — server and client for the columnar-OLAP
  * connector (reference: plugin/trino-clickhouse — ClickHouseClient
  * extends BaseJdbcClient; the ClickHouse JDBC driver itself rides this
  * same public HTTP interface: `POST /` with the SQL as the body,
  * `default_format=TabSeparatedWithNamesAndTypes` responses carrying a
  * name row, a type row, then TSV data with \t \n \\ escaping).
  *
  * The loopback server evaluates the same SELECT subset the connector's
  * generated SQL uses (PgWire.MiniSql — projection, WHERE conjunctions,
  * IN, IS NULL, OR, LIMIT, MIN/MAX/COUNT), answering with ClickHouse type
  * names (Int64/Int32/Float64/String/Bool). */
object ClickHouseWire {

  import PgWire.{Column, TableDef, MiniSql, OidBool, OidInt2, OidInt4, OidInt8,
    OidFloat4, OidFloat8, OidText, OidVarchar}

  private[sources] def chType(oid: Int): String = oid match {
    case OidBool => "Bool"
    case OidInt2 => "Int16"
    case OidInt4 => "Int32"
    case OidInt8 => "Int64"
    case OidFloat4 => "Float32"
    case OidFloat8 => "Float64"
    case _ => "String"
  }

  private[sources] def oidOf(chType: String): Int = chType match {
    case "Bool" | "UInt8" => OidBool
    case "Int16" | "UInt16" => OidInt2
    case "Int32" | "UInt32" => OidInt4
    case "Int64" | "UInt64" => OidInt8
    case "Float32" => OidFloat4
    case "Float64" => OidFloat8
    case s if s.startsWith("Nullable(") =>
      oidOf(s.stripPrefix("Nullable(").stripSuffix(")"))
    case _ => OidText
  }

  /** TSV escaping per the ClickHouse format docs. */
  private[sources] def esc(s: String): String = s.flatMap {
    case '\t' => "\\t"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\\' => "\\\\"
    case c => c.toString
  }

  private[sources] def unesc(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => sb.append('\t'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'N' => sb.append("\\N"); i += 2 // NULL marker handled upstream
          case '\\' => sb.append('\\'); i += 2
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
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
      val t = new Thread(r, "graft-ch-server"); t.setDaemon(true); t
    }))
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    locally { // daemon dispatcher (StaticContentServer trick)
      val starter = new Thread(() => server.start(), "graft-ch-start")
      starter.setDaemon(true); starter.start(); starter.join()
    }
    def port: Int = server.getAddress.getPort
    override def close(): Unit = server.stop(0)

    private def handle(ex: HttpExchange): Unit = {
      val sql = {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        if (body.trim.nonEmpty) body
        else Option(ex.getRequestURI.getRawQuery).getOrElse("")
          .split("&").find(_.startsWith("query="))
          .map(q => java.net.URLDecoder.decode(q.stripPrefix("query="), "UTF-8"))
          .getOrElse("")
      }
      val (code, text) = try {
        val (cols, rows) = MiniSql.execute(sql, n => Option(tables.get(n)))
        val sb = new StringBuilder
        sb.append(cols.map(c => esc(c.name)).mkString("\t")).append('\n')
        sb.append(cols.map(c => chType(c.oid)).mkString("\t")).append('\n')
        rows.foreach { r =>
          sb.append(r.map {
            case null => "\\N"
            case b: Boolean => if (b) "true" else "false"
            case v => esc(String.valueOf(v))
          }.mkString("\t")).append('\n')
        }
        (200, sb.toString)
      } catch {
        case e: Throwable =>
          (400, s"Code: 62. DB::Exception: ${String.valueOf(e.getMessage)}\n")
      }
      val bytes = text.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type",
        "text/tab-separated-values; charset=UTF-8")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
  }

  // ---------------------------------------------------------------- client

  private lazy val http = HttpClient.newBuilder()
    .executor(java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-ch-client"); t.setDaemon(true); t
    }))
    .build()

  final class Client(host: String, port: Int) extends Serializable {
    /** The most recent response's line stream, so an early-terminating
      * consumer (pushed LIMIT) can release the HTTP body via [[close]]. */
    @transient private var openBody: java.util.stream.Stream[String] = _

    /** Close the in-flight response body, if any (idempotent). */
    def close(): Unit = {
      val b = openBody
      openBody = null
      if (b != null) { try b.close() catch { case _: Throwable => () } }
    }

    /** POST the SQL; STREAM the TabSeparatedWithNamesAndTypes response —
      * the name and type rows are read eagerly, data rows decode as the
      * iterator is pulled (memory O(row), the HTTP body is not
      * materialized). `\N` is the NULL marker. */
    def queryStream(sql: String): (Seq[Column], Iterator[Seq[String]]) = {
      val resp = http.send(
        HttpRequest.newBuilder(
          URI.create(s"http://$host:$port/?default_format=TabSeparatedWithNamesAndTypes"))
          .POST(HttpRequest.BodyPublishers.ofString(sql)).build(),
        HttpResponse.BodyHandlers.ofLines())
      openBody = resp.body()
      val lines = resp.body().iterator().asScala
      require(resp.statusCode() == 200,
        s"clickhouse: ${resp.statusCode()}: ${lines.take(5).mkString(" | ").take(500)}")
      require(lines.hasNext, "clickhouse: empty response")
      val names = lines.next().split("\t", -1).map(unesc)
      require(lines.hasNext, "clickhouse: missing type row")
      val types = lines.next().split("\t", -1)
      val cols = names.zip(types).map { case (n, t) => Column(n, oidOf(t)) }.toSeq
      val rows = lines.filter(_.nonEmpty).map(_.split("\t", -1).toSeq.map {
        case "\\N" => null
        case v => unesc(v)
      })
      (cols, rows)
    }

    /** Materialized variant for bounded metadata/fixture queries. */
    def query(sql: String): (Seq[Column], Vector[Seq[String]]) = {
      val (cols, it) = queryStream(sql)
      try (cols, it.toVector) finally close()
    }
  }
}
