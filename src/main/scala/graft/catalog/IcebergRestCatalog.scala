package graft.catalog

import java.io.File
import java.net.{URI, URLDecoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpExchange
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Iceberg REST catalog protocol (reference: plugin/trino-iceberg with
  * `iceberg.catalog.type=rest` — TrinoRestCatalog drives the PUBLIC
  * Iceberg REST spec, apache/iceberg open-api rest-catalog-open-api.yaml:
  * `GET /v1/config`, namespace/table listings, and `GET
  * /v1/namespaces/{ns}/tables/{t}` returning a LoadTableResult whose
  * `metadata-location` names the CURRENT metadata file — the catalog, not
  * a directory listing, is the source of truth for table state).
  *
  * Server: a loopback catalog over on-disk Iceberg tables — it answers
  * the same five routes a real service does, including the spec's error
  * envelope (`NoSuchTableException`, code 404). Client: one bounded
  * metadata GET per query; the data path is the ordinary IcebergRead
  * replay (manifests → parquet scans on executors), so catalog choice
  * changes WHERE metadata comes from, never how data is read — exactly
  * the reference's split between TrinoCatalog implementations and the
  * shared Iceberg split source. */
object IcebergRestCatalog {

  // ----------------------------------------------------------- server

  final class Server(port0: Int = 0) extends AutoCloseable {
    /** (namespace, table) → table root directory. */
    private val tables =
      scala.collection.concurrent.TrieMap[(String, String), String]()

    def register(namespace: String, table: String, root: String): Unit =
      tables((namespace, table)) = root

    /** Requests served, for wire-level assertions. */
    val requests = new java.util.concurrent.atomic.AtomicLong()

    private val http = graft.server.LoopbackHttp.create(port0)
    def port: Int = http.getAddress.getPort

    private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val b = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, b.length.toLong)
      ex.getResponseBody.write(b)
      ex.close()
    }

    private def errorBody(msg: String, tpe: String, code: Int): String =
      s"""{"error":{"message":${JsonMethods.compact(JString(msg))},""" +
        s""""type":"$tpe","code":$code}}"""

    /** Current metadata file of a table root (newest vN). */
    private def currentMetadata(root: String): Option[File] = {
      val dir = new File(root, "metadata")
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.matches("v\\d+\\.metadata\\.json")).toSeq
        .sortBy(f => f.getName.stripPrefix("v").stripSuffix(".metadata.json").toInt)
        .lastOption
    }

    http.createContext("/v1/", (ex: HttpExchange) => try {
      requests.incrementAndGet()
      val path = ex.getRequestURI.getPath.stripPrefix("/v1/").stripSuffix("/")
      val parts = path.split("/").toSeq
        .map(URLDecoder.decode(_, StandardCharsets.UTF_8))
      parts match {
        case Seq("config") =>
          respond(ex, 200, """{"defaults":{},"overrides":{}}""")
        case Seq("namespaces") =>
          val ns = tables.keys.map(_._1).toSeq.distinct.sorted
            .map(n => s"""[${JsonMethods.compact(JString(n))}]""")
          respond(ex, 200, s"""{"namespaces":[${ns.mkString(",")}]}""")
        case Seq("namespaces", ns, "tables") =>
          val ids = tables.keys.filter(_._1 == ns).map(_._2).toSeq.sorted
            .map(t => s"""{"namespace":[${JsonMethods.compact(JString(ns))}],""" +
              s""""name":${JsonMethods.compact(JString(t))}}""")
          respond(ex, 200, s"""{"identifiers":[${ids.mkString(",")}]}""")
        case Seq("namespaces", ns, "tables", t) =>
          tables.get((ns, t)).flatMap(root =>
            currentMetadata(root).map(root -> _)) match {
            case Some((_, meta)) =>
              val metaJson = new String(
                java.nio.file.Files.readAllBytes(meta.toPath), StandardCharsets.UTF_8)
              respond(ex, 200,
                s"""{"metadata-location":${JsonMethods.compact(JString(meta.getAbsolutePath))},""" +
                  s""""metadata":$metaJson,"config":{}}""")
            case None =>
              respond(ex, 404, errorBody(
                s"Table does not exist: $ns.$t", "NoSuchTableException", 404))
          }
        case _ =>
          respond(ex, 404, errorBody(s"no route: $path", "NotFoundException", 404))
      }
    } catch {
      case e: Exception =>
        respond(ex, 500, errorBody(String.valueOf(e.getMessage),
          "InternalServerError", 500))
    })
    http.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(2, r => {
      val th = new Thread(r, "graft-iceberg-rest"); th.setDaemon(true); th
    }))
    // start from a daemon thread: the JDK dispatcher inherits daemon
    // status, so a lingering loopback catalog never pins JVM exit
    locally {
      val starter = new Thread(() => http.start(), "graft-iceberg-rest-start")
      starter.setDaemon(true)
      starter.start()
      starter.join()
    }
    override def close(): Unit = http.stop(0)
  }

  // ----------------------------------------------------------- client

  private lazy val client = HttpClient.newBuilder()
    .executor(java.util.concurrent.Executors.newFixedThreadPool(2, r => {
      val t = new Thread(r, "graft-iceberg-rest-client"); t.setDaemon(true); t
    }))
    .build()

  private def get(uri: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(uri)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** Handshake: `GET /v1/config` (what every REST-catalog client sends
    * first). Returns the merged property map (empty for the loopback). */
  def config(host: String, port: Int): Map[String, String] = {
    val (code, body) = get(s"http://$host:$port/v1/config")
    require(code == 200, s"iceberg-rest: config returned $code")
    (JsonMethods.parse(body) \ "defaults") match {
      case JObject(kv) => kv.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }
  }

  def listNamespaces(host: String, port: Int): Seq[String] = {
    val (code, body) = get(s"http://$host:$port/v1/namespaces")
    require(code == 200, s"iceberg-rest: namespaces returned $code")
    (JsonMethods.parse(body) \ "namespaces") match {
      case JArray(xs) => xs.collect { case JArray(Seq(JString(n))) => n }
      case _ => Nil
    }
  }

  def listTables(host: String, port: Int, namespace: String): Seq[String] = {
    val (code, body) = get(s"http://$host:$port/v1/namespaces/$namespace/tables")
    require(code == 200, s"iceberg-rest: tables returned $code")
    (JsonMethods.parse(body) \ "identifiers") match {
      case JArray(xs) => xs.collect { case o if (o \ "name").isInstanceOf[JString] =>
        (o \ "name").asInstanceOf[JString].s }
      case _ => Nil
    }
  }

  /** LoadTableResult → (metadata-location, table root from the metadata's
    * own `location` field). Unknown tables surface the spec's error type. */
  def loadTable(host: String, port: Int, namespace: String,
      table: String): (String, String) = {
    val (code, body) = get(
      s"http://$host:$port/v1/namespaces/$namespace/tables/$table")
    if (code == 404) {
      val msg = (JsonMethods.parse(body) \ "error" \ "message") match {
        case JString(m) => m; case _ => s"$namespace.$table"
      }
      throw new IllegalArgumentException(s"NoSuchTableException: $msg")
    }
    require(code == 200, s"iceberg-rest: loadTable returned $code")
    val parsed = JsonMethods.parse(body)
    val JString(loc) = (parsed \ "metadata-location"): @unchecked
    val root = (parsed \ "metadata" \ "location") match {
      case JString(r) => r
      case _ => new File(loc).getParentFile.getParentFile.getAbsolutePath
    }
    (loc, root)
  }

  /** Read a table THROUGH the catalog: one metadata GET, then the
    * ordinary manifest replay (snapshot/time-travel options unchanged). */
  def read(spark: SparkSession, host: String, port: Int, namespace: String,
      table: String, snapshotId: Option[Long] = None): DataFrame = {
    val (metaLoc, root) = loadTable(host, port, namespace, table)
    IcebergRead.readTable(spark, root, snapshotId = snapshotId,
      metadataLocation = Some(metaLoc))
  }
}
