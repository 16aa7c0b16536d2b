package graft.client

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Client half of the statement protocol (reference:
  * client/trino-client/src/main/java/io/trino/client/StatementClientV1.java —
  * POST the SQL text to `/v1/statement`, follow `nextUri` until it
  * disappears, concatenate each page's `data`, surface `error` as a
  * failure). This is the walker the JDBC driver, the CLI, and the gate
  * query all share, so every consumer sees identical protocol behavior.
  *
  * Session state is CLIENT-carried (reference ProtocolHeaders.java:73): a
  * [[Session]] accumulates `X-Trino-Set-Session` / `X-Trino-Set-Schema` /
  * `X-Trino-Added-Prepare` response headers and replays them as
  * `X-Trino-Session` / `X-Trino-Schema` / `X-Trino-Prepared-Statement` on
  * every subsequent request — the server stays stateless, so two clients'
  * sessions can never interfere.
  *
  * Values arrive as the server's JSON encoding and are coerced by the
  * column's declared type name (bigint → Long, decimal → BigDecimal,
  * varbinary → base64-decoded bytes, date/timestamp → java.time); nested
  * array/map/row values stay as parsed JSON shapes.
  */
object StatementClient {

  final case class Column(name: String, typeName: String)
  final case class Result(columns: Vector[Column], rows: Vector[Vector[Any]],
      updateCount: Option[Long])

  final class StatementFailed(message: String) extends RuntimeException(message)

  /** Mutable client-side session: properties, schema, and prepared
    * statements set by earlier statements on the same logical session
    * (one per JDBC connection / CLI REPL). */
  final class Session {
    val props = scala.collection.mutable.LinkedHashMap[String, String]()
    var schema: Option[String] = None
    val prepared = scala.collection.mutable.LinkedHashMap[String, String]()
  }

  // ONE shared HttpClient for every statement in the JVM (a per-call client
  // leaks its executor thread); the cached pool reclaims idle threads
  private lazy val http = HttpClient.newBuilder()
    .executor(java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-client-http"); t.setDaemon(true); t
    }))
    .build()

  private def urlEnc(s: String) = java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
  private def urlDec(s: String) = java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  /** Fold one response's session-mutating headers into `session`. */
  private def absorbHeaders(resp: HttpResponse[_], session: Session): Unit = {
    val h = resp.headers()
    h.allValues("X-Trino-Set-Session").forEach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => session.props(k.trim) = urlDec(v.trim)
        case _ =>
      }
    }
    h.allValues("X-Trino-Clear-Session").forEach(k => session.props.remove(k.trim))
    h.firstValue("X-Trino-Set-Schema").ifPresent(s => session.schema = Some(s))
    h.allValues("X-Trino-Added-Prepare").forEach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => session.prepared(k.trim) = urlDec(v.trim)
        case _ =>
      }
    }
    h.allValues("X-Trino-Deallocated-Prepare").forEach(k => session.prepared.remove(k.trim))
  }

  /** Run one statement to completion against `base` (e.g.
    * `http://127.0.0.1:8080`). Blocks; polls empty RUNNING responses with a
    * delay that doubles from 1 ms up to 25 ms (a response that carried data
    * is followed up immediately — the server streams pages as fast as the
    * client takes them). `user` travels as the protocol's `X-Trino-User`
    * header (resource-group selection server-side). `encoding =
    * Some("json")` opts into the spooled protocol (reference
    * client/trino-client EncodedQueryData):
    * results arrive as inline-or-spooled segments; spooled segments are
    * fetched from their URIs and ACKed after decode. `session`, when
    * given, carries and accumulates client-side session state. */
  def execute(base: String, sql: String, user: String = "graft",
      encoding: Option[String] = None,
      session: Option[Session] = None): Result = {
    val post = HttpRequest.newBuilder(URI.create(s"$base/v1/statement"))
      .header("X-Trino-User", user)
      .POST(HttpRequest.BodyPublishers.ofString(sql))
    encoding.foreach(e => post.header("X-Trino-Query-Data-Encoding", e))
    session.foreach { s =>
      if (s.props.nonEmpty) post.header("X-Trino-Session",
        s.props.map { case (k, v) => s"$k=${urlEnc(v)}" }.mkString(","))
      s.schema.foreach(sc => post.header("X-Trino-Schema", sc))
      if (s.prepared.nonEmpty) post.header("X-Trino-Prepared-Statement",
        s.prepared.map { case (k, v) => s"$k=${urlEnc(v)}" }.mkString(","))
    }
    var resp = http.send(post.build(), HttpResponse.BodyHandlers.ofString())
    session.foreach(absorbHeaders(resp, _))
    var json = JsonMethods.parse(resp.body())
    var columns = Vector.empty[Column]
    val rows = Vector.newBuilder[Vector[Any]]
    var done = false
    var spins = 0
    var napMs = 1L
    while (!done) {
      json \ "error" \ "message" match {
        case JString(m) => throw new StatementFailed(m)
        case _ =>
      }
      if (columns.isEmpty) json \ "columns" match {
        case JArray(cols) => columns = cols.map { c =>
          val JString(n) = (c \ "name"): @unchecked
          val JString(t) = (c \ "type"): @unchecked
          Column(n, t)
        }.toVector
        case _ =>
      }
      def addRows(pageRows: List[JValue]): Unit = pageRows.foreach {
        case JArray(vs) =>
          rows += vs.iterator.zipWithIndex.map { case (v, i) =>
            coerce(v, if (i < columns.length) columns(i).typeName else "varchar")
          }.toVector
        case other => throw new StatementFailed(s"row is not an array: $other")
      }
      var hadData = false
      json \ "data" match {
        case JArray(pageRows) => hadData = true; addRows(pageRows)
        case data: JObject => // EncodedQueryData: inline + spooled segments
          hadData = true
          (data \ "encoding") match {
            case JString("json") =>
            case other => throw new StatementFailed(s"unsupported encoding $other")
          }
          val JArray(segments) = (data \ "segments"): @unchecked
          segments.foreach { seg =>
            val bytes = (seg \ "type") match {
              case JString("inline") =>
                val JString(b64) = (seg \ "data"): @unchecked
                java.util.Base64.getDecoder.decode(b64)
              case JString("spooled") =>
                val JString(uri) = (seg \ "uri"): @unchecked
                val got = http.send(
                  HttpRequest.newBuilder(URI.create(s"$base$uri")).GET().build(),
                  HttpResponse.BodyHandlers.ofByteArray())
                if (got.statusCode() != 200)
                  throw new StatementFailed(s"segment fetch $uri: ${got.statusCode()}")
                // acknowledge AFTER a successful fetch: releases the spool
                (seg \ "ackUri") match {
                  case JString(ack) => http.send(
                    HttpRequest.newBuilder(URI.create(s"$base$ack")).GET().build(),
                    HttpResponse.BodyHandlers.discarding())
                  case _ =>
                }
                got.body()
              case other => throw new StatementFailed(s"unknown segment type $other")
            }
            val JArray(segRows) = JsonMethods.parse(
              new String(bytes, StandardCharsets.UTF_8)): @unchecked
            addRows(segRows)
          }
        case _ =>
      }
      json \ "nextUri" match {
        case JString(next) =>
          spins += 1
          if (spins > 2400) throw new StatementFailed("statement did not finish")
          // exponential backoff from 1 ms capped at 25 ms (r18: a flat
          // 25 ms nap cost ~0.3 s of pure sleep on sub-second statements;
          // the reference client's poll delay also ramps from ~0). A page
          // WITH data resets the ramp — the server is streaming.
          if (!hadData && (json \ "stats" \ "state") != JString("FINISHED")) {
            Thread.sleep(napMs)
            napMs = math.min(napMs * 2, 25L)
          } else napMs = 1L
          resp = http.send(
            HttpRequest.newBuilder(URI.create(s"$base$next")).GET().build(),
            HttpResponse.BodyHandlers.ofString())
          json = JsonMethods.parse(resp.body())
        case _ => done = true
      }
    }
    val out = rows.result()
    // DML/DDL through the front door answer a single-row count relation
    val updateCount =
      if (columns.map(_.name) == Vector("rows") && out.length == 1)
        out.head.head match {
          case l: Long => Some(l)
          case _ => None
        }
      else None
    Result(columns, out, updateCount)
  }

  /** JSON → client value, by the server's declared type spelling. */
  private def coerce(v: JValue, typeName: String): Any = v match {
    case JNull => null
    case JString(s) =>
      val base = typeName.takeWhile(c => c != '(')
      base match {
        case "decimal" => new java.math.BigDecimal(s)
        case "varbinary" => java.util.Base64.getDecoder.decode(s)
        case "date" => java.time.LocalDate.parse(s)
        case "timestamp" => s // server spelling kept; getTimestamp parses
        case "double" | "real" => s match { // NaN / ±Infinity travel as strings
          case "NaN" => Double.NaN
          case "Infinity" => Double.PositiveInfinity
          case "-Infinity" => Double.NegativeInfinity
          case other => other.toDouble
        }
        case _ => s
      }
    case JInt(i) => typeName match {
      case "integer" => i.toInt
      case "smallint" => i.toShort
      case "tinyint" => i.toByte
      case "double" | "real" => i.toDouble
      case _ => i.toLong
    }
    case JLong(l) => l
    case JDouble(d) => d
    case JDecimal(d) => d.bigDecimal
    case JBool(b) => b
    case JArray(vs) => vs.map(coerce(_, "varchar")).toVector
    case JObject(fields) => fields.map { case (k, fv) => k -> coerce(fv, "varchar") }.toMap
    case other => other.toString
  }
}
