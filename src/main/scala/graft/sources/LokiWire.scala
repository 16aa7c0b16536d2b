package graft.sources

import java.net.{URI, URLDecoder, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.HttpExchange
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Grafana Loki HTTP API — server and client for the log connector
  * (reference: plugin/trino-loki — LokiClient drives
  * `GET /loki/api/v1/query_range?query=<LogQL>&start=<ns>&end=<ns>` and
  * maps the `resultType: "streams"` response — one entry per label set,
  * values as [nanosecond-timestamp, line] pairs — onto rows of
  * (labels map, timestamp, value)).
  *
  * LogQL subset, as the connector pushes it: a stream selector
  * `{k="v",…}` plus optional line filters `|= "text"` (contains) and
  * `!= "text"` (not-contains) — both evaluated SERVER-side, the
  * reference's pushdown contract. Scale shape mirrors the Prometheus
  * connector: the driver computes only time-chunk boundaries; each
  * executor task fetches its own sub-range. */
object LokiWire {

  final case class Stream(labels: Map[String, String],
      entries: Vector[(Long, String)]) // (epoch nanos, line), ts-sorted

  // ---------------------------------------------------------------- server

  final class Server(port0: Int = 0) extends AutoCloseable {
    @volatile private var streams: Vector[Stream] = Vector.empty

    def addStream(s: Stream): Unit = synchronized {
      streams = streams :+ s.copy(entries = s.entries.sortBy(_._1))
    }

    private val server = graft.server.LoopbackHttp.create(port0)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-loki-server"); t.setDaemon(true); t
    }))
    server.createContext("/loki/api/v1/query_range", (ex: HttpExchange) => handle(ex))
    locally {
      val starter = new Thread(() => server.start(), "graft-loki-start")
      starter.setDaemon(true); starter.start(); starter.join()
    }
    def port: Int = server.getAddress.getPort
    override def close(): Unit = server.stop(0)

    private def jstr(s: String): String = JsonMethods.compact(JString(s))

    /** `{k="v",…} |= "needle" != "other"` */
    private def parseLogQl(q: String): (Map[String, String], Seq[(Boolean, String)]) = {
      val t = q.trim
      require(t.startsWith("{"), s"loki: selector must start with '{': $q")
      val close = t.indexOf('}')
      val matchers = t.substring(1, close).split(",").filter(_.trim.nonEmpty).map { m =>
        val eq = m.indexOf('=')
        m.substring(0, eq).trim ->
          m.substring(eq + 1).trim.stripPrefix("\"").stripSuffix("\"")
      }.toMap
      val filters = Vector.newBuilder[(Boolean, String)]
      var rest = t.substring(close + 1).trim
      while (rest.nonEmpty) {
        val positive = rest.startsWith("|=")
        require(positive || rest.startsWith("!="),
          s"loki: unsupported pipeline stage: $rest")
        rest = rest.drop(2).trim
        require(rest.startsWith("\""), s"loki: filter needs a quoted string: $rest")
        val end = rest.indexOf('"', 1)
        filters += ((positive, rest.substring(1, end)))
        rest = rest.substring(end + 1).trim
      }
      (matchers, filters.result())
    }

    private def handle(ex: HttpExchange): Unit = try {
      val params = Option(ex.getRequestURI.getRawQuery).getOrElse("")
        .split("&").filter(_.contains("="))
        .map { p =>
          val Array(k, v) = p.split("=", 2)
          k -> URLDecoder.decode(v, "UTF-8")
        }.toMap
      val (matchers, filters) = parseLogQl(params("query"))
      val start = params("start").toLong // nanos, inclusive
      val end = params("end").toLong     // nanos, exclusive (loki contract)
      val limit = params.get("limit").map(_.toInt).getOrElse(5000)
      var budget = limit
      val results = streams
        .filter(s => matchers.forall { case (k, v) => s.labels.get(k).contains(v) })
        .flatMap { s =>
          if (budget <= 0) None
          else {
            val hits = s.entries
              .filter { case (ts, line) => ts >= start && ts < end &&
                filters.forall { case (pos, needle) => line.contains(needle) == pos } }
              .take(budget)
            budget -= hits.size
            if (hits.isEmpty) None
            else {
              val labelJson = s.labels.toSeq.sortBy(_._1)
                .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString(",")
              val values = hits.map { case (ts, line) =>
                s"""[${jstr(ts.toString)},${jstr(line)}]"""
              }.mkString(",")
              Some(s"""{"stream":{$labelJson},"values":[$values]}""")
            }
          }
        }
      val body =
        s"""{"status":"success","data":{"resultType":"streams","result":[${results.mkString(",")}]}}"""
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    } catch {
      case e: Throwable =>
        val body = s"""{"status":"error","error":${JsonMethods.compact(JString(String.valueOf(e.getMessage)))}}"""
        val bytes = body.getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(400, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
        ex.close()
    }
  }

  // ---------------------------------------------------------------- client

  private lazy val http = HttpClient.newBuilder()
    .executor(java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-loki-client"); t.setDaemon(true); t
    }))
    .build()

  final class Client(host: String, port: Int) extends Serializable {
    def queryRange(logql: String, startNs: Long, endNs: Long,
        limit: Int = 5000): Seq[(Map[String, String], Seq[(Long, String)])] = {
      val uri = s"http://$host:$port/loki/api/v1/query_range" +
        s"?query=${URLEncoder.encode(logql, "UTF-8")}&start=$startNs&end=$endNs&limit=$limit"
      val resp = http.send(
        HttpRequest.newBuilder(URI.create(uri)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200,
        s"loki: ${resp.statusCode()}: ${resp.body().take(300)}")
      val parsed = JsonMethods.parse(resp.body())
      (parsed \ "data" \ "result") match {
        case JArray(rs) => rs.map { r =>
          val labels = (r \ "stream") match {
            case JObject(o) => o.collect { case (k, JString(v)) => k -> v }.toMap
            case _ => Map.empty[String, String]
          }
          val entries = (r \ "values") match {
            case JArray(vs) => vs.map {
              case JArray(List(JString(ts), JString(line))) => (ts.toLong, line)
              case other => throw new IllegalStateException(s"loki: bad entry $other")
            }
            case _ => Nil
          }
          (labels, entries)
        }
        case _ => Nil
      }
    }
  }

  // ------------------------------------------------------- spark read path

  /** (labels, epoch-nano timestamp, log line) — the reference table shape. */
  val schema: StructType = StructType(Seq(
    StructField("labels", MapType(StringType, StringType), nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("line", StringType, nullable = false)))

  /** Time-chunk splits over [startNs, endNs): each executor fetches its
    * own half-open sub-range, so entries land in exactly one split. */
  def read(spark: SparkSession, host: String, port: Int, logql: String,
      startNs: Long, endNs: Long, chunks: Int = 8): DataFrame = {
    val n = math.max(1, chunks)
    val span = endNs - startNs
    val step = math.max(1L, span / n)
    val ranges = (0 until n).flatMap { i =>
      val a = startNs + i * step
      val b = if (i == n - 1) endNs else math.min(endNs, a + step)
      if (a >= endNs) None else Some((a, b))
    }
    val rows = spark.sparkContext
      .parallelize(ranges, ranges.size)
      .flatMap { case (a, b) =>
        new Client(host, port).queryRange(logql, a, b, limit = Int.MaxValue)
          .iterator
          .flatMap { case (labels, entries) =>
            entries.iterator.map { case (ts, line) => Row(labels, ts, line) }
          }
      }
    spark.createDataFrame(rows, schema)
  }
}
