package graft.sources

import java.io.ByteArrayOutputStream
import java.net.{URI, URLDecoder, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpExchange
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Prometheus HTTP API — server and client for the time-series connector
  * (reference: plugin/trino-prometheus — PrometheusClient drives
  * `GET /api/v1/query_range?query=&start=&end=&step=`, PrometheusSplitManager
  * cuts the requested window into TIME-CHUNK SPLITS so each worker fetches
  * its own sub-range, PrometheusRecordCursor maps the matrix response onto
  * rows (labels map, timestamp, value)).
  *
  * The loopback server implements the public API subset the connector
  * drives: instant-vector selectors `name{label="v",…}` evaluated over a
  * range with the standard 5-minute staleness lookback, matrix JSON
  * responses. Scale shape as in the reference: the DRIVER computes only
  * chunk boundaries; each EXECUTOR task owns one time chunk and issues its
  * own HTTP fetch — a year-long range at 1-hour chunks is 8760 parallel
  * fetches, no driver fan-in. */
object PromWire {

  final case class Series(name: String, labels: Map[String, String],
      samples: Vector[(Long, Double)]) // (epoch seconds, value), ts-sorted

  private implicit val fmts: Formats = DefaultFormats

  // ---------------------------------------------------------------- server

  final class Server(port0: Int = 0) extends AutoCloseable {
    @volatile private var series: Vector[Series] = Vector.empty
    private val lookbackSec = 300L // prometheus default staleness window

    def addSeries(s: Series): Unit = synchronized {
      series = series :+ s.copy(samples = s.samples.sortBy(_._1))
    }

    private val server = graft.server.LoopbackHttp.create(port0)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-prom-server"); t.setDaemon(true); t
    }))
    server.createContext("/api/v1/query_range", (ex: HttpExchange) => handle(ex))
    locally { // daemon dispatcher (see StaticContentServer)
      val starter = new Thread(() => server.start(), "graft-prom-start")
      starter.setDaemon(true); starter.start(); starter.join()
    }
    def port: Int = server.getAddress.getPort
    override def close(): Unit = server.stop(0)

    private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    }

    /** `name` or `name{k="v",…}` — the selector subset the connector
      * pushes (a table name plus exact label matchers). */
    private def parseSelector(q: String): (String, Map[String, String]) = {
      val brace = q.indexOf('{')
      if (brace < 0) (q.trim, Map.empty)
      else {
        val name = q.substring(0, brace).trim
        val body = q.substring(brace + 1, q.lastIndexOf('}'))
        val matchers = body.split(",").filter(_.trim.nonEmpty).map { m =>
          val eq = m.indexOf('=')
          val k = m.substring(0, eq).trim
          val v = m.substring(eq + 1).trim.stripPrefix("\"").stripSuffix("\"")
          k -> v
        }.toMap
        (name, matchers)
      }
    }

    private def handle(ex: HttpExchange): Unit = try {
      val params = Option(ex.getRequestURI.getRawQuery).getOrElse("")
        .split("&").filter(_.contains("="))
        .map { p =>
          val Array(k, v) = p.split("=", 2)
          k -> URLDecoder.decode(v, "UTF-8")
        }.toMap
      val (name, matchers) = parseSelector(params("query"))
      val start = params("start").toDouble.toLong
      val end = params("end").toDouble.toLong
      val step = math.max(1L, params("step").toDouble.toLong)
      val hits = series.filter(s => s.name == name &&
        matchers.forall { case (k, v) => s.labels.get(k).contains(v) })
      val results = hits.flatMap { s =>
        // standard range evaluation: at each step t, the most recent sample
        // in (t - lookback, t]
        val values = Iterator.iterate(start)(_ + step).takeWhile(_ <= end).flatMap { t =>
          val idx = lastAtOrBefore(s.samples, t)
          if (idx < 0) None
          else {
            val (ts, v) = s.samples(idx)
            if (ts > t - lookbackSec) Some(s"[$t,${JsonMethods.compact(JString(fmt(v)))}]")
            else None
          }
        }.toVector
        if (values.isEmpty) None
        else {
          val labelJson = (("__name__" -> s.name) +: s.labels.toSeq.sortBy(_._1))
            .map { case (k, v) => s"${JsonMethods.compact(JString(k))}:${JsonMethods.compact(JString(v))}" }
            .mkString(",")
          Some(s"""{"metric":{$labelJson},"values":[${values.mkString(",")}]}""")
        }
      }
      respond(ex, 200,
        s"""{"status":"success","data":{"resultType":"matrix","result":[${results.mkString(",")}]}}""")
    } catch {
      case e: Throwable => respond(ex, 400,
        s"""{"status":"error","errorType":"bad_data","error":${JsonMethods.compact(JString(String.valueOf(e.getMessage)))}}""")
    }

    private def fmt(v: Double): String =
      if (v == v.toLong.toDouble) v.toLong.toString else v.toString

    private def lastAtOrBefore(samples: Vector[(Long, Double)], t: Long): Int = {
      var lo = 0; var hi = samples.size - 1; var best = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (samples(mid)._1 <= t) { best = mid; lo = mid + 1 } else hi = mid - 1
      }
      best
    }
  }

  // ---------------------------------------------------------------- client

  private lazy val http = HttpClient.newBuilder()
    .executor(java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-prom-client"); t.setDaemon(true); t
    }))
    .build()

  final class Client(host: String, port: Int) extends Serializable {
    def queryRange(selector: String, start: Long, end: Long,
        step: Long): Seq[(Map[String, String], Seq[(Long, Double)])] = {
      val uri = s"http://$host:$port/api/v1/query_range" +
        s"?query=${URLEncoder.encode(selector, "UTF-8")}&start=$start&end=$end&step=$step"
      val resp = http.send(
        HttpRequest.newBuilder(URI.create(uri)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200,
        s"prometheus: $uri returned ${resp.statusCode()}: ${resp.body()}")
      val parsed = JsonMethods.parse(resp.body())
      val JString(status) = (parsed \ "status"): @unchecked
      require(status == "success", s"prometheus: status=$status")
      (parsed \ "data" \ "result") match {
        case JArray(rs) => rs.map { r =>
          val labels = (r \ "metric") match {
            case JObject(o) => o.collect { case (k, JString(v)) => k -> v }.toMap
            case _ => Map.empty[String, String]
          }
          val values = (r \ "values") match {
            case JArray(vs) => vs.map {
              case JArray(List(t, JString(v))) =>
                val ts = t match {
                  case JInt(n) => n.toLong
                  case JDouble(d) => d.toLong
                  case other => String.valueOf(other).toDouble.toLong
                }
                (ts, v.toDouble)
              case other => throw new IllegalStateException(s"prometheus: bad sample $other")
            }
            case _ => Nil
          }
          (labels, values)
        }
        case _ => Nil
      }
    }
  }

  // ------------------------------------------------------- spark read path

  /** (labels map, epoch-second timestamp, value) — the reference table
    * shape (PrometheusColumnHandle: labels/timestamp/value). */
  val schema: StructType = StructType(Seq(
    StructField("labels", MapType(StringType, StringType), nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** Time-chunk splits (reference PrometheusSplitManager): the window's
    * steps are divided into `chunks` contiguous runs, one executor fetch
    * per run. Chunk boundaries are step-aligned so no step is fetched
    * twice and none is skipped. */
  def read(spark: SparkSession, host: String, port: Int, selector: String,
      start: Long, end: Long, step: Long, chunks: Int = 8): DataFrame = {
    val nSteps = ((end - start) / step + 1).toInt
    val n = math.max(1, math.min(chunks, nSteps))
    val per = (nSteps + n - 1) / n
    val ranges = (0 until n).flatMap { i =>
      val a = i * per
      val b = math.min(nSteps - 1, a + per - 1)
      if (a >= nSteps) None else Some((start + a * step, start + b * step))
    }
    val rows = spark.sparkContext
      .parallelize(ranges, ranges.size)
      .flatMap { case (s0, e0) =>
        new Client(host, port).queryRange(selector, s0, e0, step)
          .iterator
          .flatMap { case (labels, values) =>
            values.iterator.map { case (t, v) => Row(labels, t, v) }
          }
      }
    spark.createDataFrame(rows, schema)
  }
}
