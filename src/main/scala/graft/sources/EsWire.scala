package graft.sources

import java.io.ByteArrayOutputStream
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpExchange
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Elasticsearch REST WIRE PROTOCOL — server and client for the document
  * connector (reference: plugin/trino-elasticsearch —
  * `client/ElasticsearchClient.java` drives `GET /{index}/_search_shards`
  * to enumerate splits, `POST /{index}/_search?preference=_shards:N&scroll=`
  * to open a per-shard scroll, `POST /_search/scroll` for next pages,
  * `DELETE /_search/scroll` to release, `GET /{index}/_mapping` for schema
  * discovery and `GET /{index}/_count` for COUNT pushdown;
  * `ElasticsearchQueryBuilder.java` lowers the pushed domain onto the
  * public query DSL: match_all / term / terms / range(gt,gte,lt,lte) /
  * exists under a bool filter).
  *
  * Scale shape, as in the reference: the DRIVER fetches only the mapping
  * and the shard list; each EXECUTOR task owns one shard and drives its
  * own scroll cursor — pages stream through O(page) memory, no document
  * list ever materializes on the driver. Filters are pushed into the
  * query DSL so matching happens SERVER-side (the analogue of the pushed
  * `TupleDomain`), and column pruning becomes `_source` includes. */
object EsWire {

  private implicit val fmts: Formats = DefaultFormats

  // ---------------------------------------------------------------- server

  /** One loopback Elasticsearch-compatible node: in-memory indices with a
    * fixed shard count, hash-routed documents, and the REST subset the
    * reference client drives. Fixture writes are programmatic (`index`),
    * reads go over the wire. */
  final class Server(port0: Int = 0) extends AutoCloseable {
    // index -> (field -> es type, shard count, per-shard docs)
    final case class Index(mapping: Seq[(String, String)], shards: Int,
        docs: Array[java.util.concurrent.ConcurrentLinkedQueue[(String, Map[String, Any])]])
    private val indices = new ConcurrentHashMap[String, Index]()
    private val scrolls = new ConcurrentHashMap[String, Iterator[List[(String, Map[String, Any])]]]()
    private val scrollSeq = new AtomicLong(0)
    /** Wire-visible hit counter — specs assert server-side pruning. */
    val hitsServed = new AtomicLong(0)

    private val server = graft.server.LoopbackHttp.create(port0)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-es-server"); t.setDaemon(true); t
    }))
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    // start from a daemon thread: the JDK dispatcher inherits daemon status,
    // so a fixture node never pins the JVM open (StaticContentServer trick)
    locally {
      val starter = new Thread(() => server.start(), "graft-es-start")
      starter.setDaemon(true)
      starter.start()
      starter.join()
    }
    def port: Int = server.getAddress.getPort
    override def close(): Unit = server.stop(0)

    def createIndex(name: String, mapping: Seq[(String, String)], shards: Int = 3): Unit =
      indices.put(name, Index(mapping, shards,
        Array.fill(shards)(new java.util.concurrent.ConcurrentLinkedQueue[(String, Map[String, Any])]())))

    /** Route by id hash — the default ES `_routing`. */
    def index(indexName: String, id: String, doc: Map[String, Any]): Unit = {
      val ix = indices.get(indexName)
      require(ix != null, s"es: no index '$indexName'")
      ix.docs(math.floorMod(id.hashCode, ix.shards)).add(id -> doc)
    }

    private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    }

    private def readBody(ex: HttpExchange): String = {
      val buf = new ByteArrayOutputStream()
      val in = ex.getRequestBody
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, StandardCharsets.UTF_8)
    }

    private def jstr(s: String): String = JsonMethods.compact(JString(s))

    private def handle(ex: HttpExchange): Unit = try {
      val path = ex.getRequestURI.getPath.stripPrefix("/")
      val query = Option(ex.getRequestURI.getQuery).getOrElse("")
      val params = query.split("&").filter(_.contains("="))
        .map { p => val Array(k, v) = p.split("=", 2); k -> v }.toMap
      val segs = path.split("/").toList
      segs match {
        case List(index, "_mapping") =>
          val ix = indices.get(index)
          if (ix == null) respond(ex, 404, s"""{"error":"no such index"}""")
          else {
            val props = ix.mapping.map { case (f, t) =>
              s"""${jstr(f)}:{"type":${jstr(t)}}"""
            }
            // exact reference response shape: {index:{mappings:{properties:{...}}}}
            respond(ex, 200,
              s"""{${jstr(index)}:{"mappings":{"properties":{${props.mkString(",")}}}}}""")
          }
        case List(index, "_search_shards") =>
          val ix = indices.get(index)
          if (ix == null) respond(ex, 404, s"""{"error":"no such index"}""")
          else {
            val groups = (0 until ix.shards).map { s =>
              s"""[{"index":${jstr(index)},"shard":$s,"primary":true,"node":"n0"}]"""
            }
            respond(ex, 200,
              s"""{"nodes":{"n0":{"name":"n0"}},"shards":[${groups.mkString(",")}]}""")
          }
        case List(index, "_count") =>
          val ix = indices.get(index)
          if (ix == null) { respond(ex, 404, s"""{"error":"no such index"}"""); return }
          val q = parseQuery(readBody(ex))
          val shard = shardPreference(params)
          val n = shardDocs(ix, shard).count { case (_, d) => q(d) }
          respond(ex, 200, s"""{"count":$n}""")
        case List(index, "_search") =>
          val ix = indices.get(index)
          if (ix == null) { respond(ex, 404, s"""{"error":"no such index"}"""); return }
          val body = readBody(ex)
          val parsed = if (body.trim.isEmpty) JObject() else JsonMethods.parse(body)
          val q = parseQuery(body)
          val size = (parsed \ "size") match {
            case JInt(n) => n.toInt
            case _ => 1000
          }
          val includes: Option[Set[String]] = (parsed \ "_source") match {
            case JArray(fs) => Some(fs.collect { case JString(s) => s }.toSet)
            case JObject(o) => o.toMap.get("includes").collect {
              case JArray(fs) => fs.collect { case JString(s) => s }.toSet
            }
            case _ => None
          }
          val shard = shardPreference(params)
          val hits = shardDocs(ix, shard).filter { case (_, d) => q(d) }
            .map { case (id, d) =>
              id -> includes.map(inc => d.filter(kv => inc(kv._1))).getOrElse(d)
            }
          if (params.contains("scroll")) {
            val pages = hits.grouped(size)
            val sid = s"scroll-${scrollSeq.incrementAndGet()}"
            val first = if (pages.hasNext) pages.next() else Nil
            scrolls.put(sid, pages)
            hitsServed.addAndGet(first.size.toLong)
            respond(ex, 200, searchResponse(Some(sid), hits.size, first))
          } else {
            val page = hits.take(size)
            hitsServed.addAndGet(page.size.toLong)
            respond(ex, 200, searchResponse(None, hits.size, page))
          }
        case List("_search", "scroll") if ex.getRequestMethod == "DELETE" =>
          val parsed = JsonMethods.parse(readBody(ex))
          (parsed \ "scroll_id") match {
            case JArray(ids) => ids.collect { case JString(s) => s }.foreach(scrolls.remove)
            case JString(s) => scrolls.remove(s)
            case _ => ()
          }
          respond(ex, 200, """{"succeeded":true}""")
        case List("_search", "scroll") =>
          val parsed = JsonMethods.parse(readBody(ex))
          val JString(sid) = (parsed \ "scroll_id"): @unchecked
          val it = scrolls.get(sid)
          if (it == null) respond(ex, 404, s"""{"error":"no such scroll"}""")
          else {
            val page = if (it.hasNext) it.next() else Nil
            hitsServed.addAndGet(page.size.toLong)
            respond(ex, 200, searchResponse(Some(sid), -1, page))
          }
        case _ => respond(ex, 404, s"""{"error":"unknown route /$path"}""")
      }
    } catch {
      case e: Throwable =>
        respond(ex, 500, s"""{"error":${jstr(String.valueOf(e.getMessage))}}""")
    }

    private def shardPreference(params: Map[String, String]): Option[Int] =
      params.get("preference").filter(_.startsWith("_shards:")).map(_.stripPrefix("_shards:").toInt)

    private def shardDocs(ix: Index, shard: Option[Int]): List[(String, Map[String, Any])] =
      shard match {
        case Some(s) => ix.docs(s).asScala.toList
        case None => ix.docs.toList.flatMap(_.asScala)
      }

    private def searchResponse(scrollId: Option[String], total: Int,
        hits: List[(String, Map[String, Any])]): String = {
      val hitJson = hits.map { case (id, d) =>
        s"""{"_id":${jstr(id)},"_score":1.0,"_source":${JsonMethods.compact(toJValue(d))}}"""
      }
      val sid = scrollId.map(s => s""""_scroll_id":${jstr(s)},""").getOrElse("")
      s"""{$sid"hits":{"total":{"value":$total},"hits":[${hitJson.mkString(",")}]}}"""
    }

    private def toJValue(v: Any): JValue = v match {
      case null => JNull
      case s: String => JString(s)
      case b: Boolean => JBool(b)
      case i: Int => JInt(BigInt(i))
      case l: Long => JInt(BigInt(l))
      case d: Double => JDouble(d)
      case f: Float => JDouble(f.toDouble)
      case m: Map[_, _] => JObject(m.toList.map { case (k, x) => String.valueOf(k) -> toJValue(x) })
      case xs: Seq[_] => JArray(xs.toList.map(toJValue))
      case other => JString(String.valueOf(other))
    }

    /** Evaluate the query-DSL subset the reference builder emits:
      * match_all, term, terms, range (gt/gte/lt/lte), exists, and bool
      * with must/filter/should/must_not. */
    private def parseQuery(body: String): Map[String, Any] => Boolean = {
      if (body.trim.isEmpty) return _ => true
      (JsonMethods.parse(body) \ "query") match {
        case JNothing => _ => true
        case q => compileQuery(q)
      }
    }

    /** None = incomparable (null operand or type mismatch) — a range/term
      * never matches it. Signs are normalized so callers can test <0/==0/>0
      * (String.compareTo returns arbitrary magnitudes). */
    private def cmp(a: Any, b: JValue): Option[Int] = (a, b) match {
      case (null, _) => None
      case (x: String, JString(s)) => Some(Integer.signum(x.compareTo(s)))
      case (x: Boolean, JBool(s)) => Some(Integer.signum(x.compareTo(s)))
      case (x: Number, JInt(n)) =>
        Some(BigDecimal(x.doubleValue).compare(BigDecimal(n)))
      case (x: Number, JDouble(d)) =>
        Some(java.lang.Double.compare(x.doubleValue, d))
      case (x: Number, JDecimal(d)) => Some(BigDecimal(x.doubleValue).compare(d))
      case _ => None
    }

    private def compileQuery(q: JValue): Map[String, Any] => Boolean = q match {
      case JObject(fields) => fields match {
        case List(("match_all", _)) => _ => true
        case List(("term", JObject(List((f, spec))))) =>
          val v = spec match { case JObject(o) => o.toMap.getOrElse("value", spec); case _ => spec }
          d => cmp(d.getOrElse(f, null), v).contains(0)
        case List(("terms", JObject(List((f, JArray(vs)))))) =>
          d => vs.exists(v => cmp(d.getOrElse(f, null), v).contains(0))
        case List(("exists", o)) =>
          val JString(f) = (o \ "field"): @unchecked
          d => d.get(f).exists(_ != null)
        case List(("range", JObject(List((f, JObject(bounds)))))) =>
          val bm = bounds.toMap
          d => {
            val x = d.getOrElse(f, null)
            if (x == null) false
            else bm.forall {
              case ("gt", v) => cmp(x, v).exists(_ > 0)
              case ("gte", v) => cmp(x, v).exists(_ >= 0)
              case ("lt", v) => cmp(x, v).exists(_ < 0)
              case ("lte", v) => cmp(x, v).exists(_ <= 0)
              case _ => true
            }
          }
        case List(("bool", JObject(clauses))) =>
          val cm = clauses.toMap
          def list(k: String): List[Map[String, Any] => Boolean] = cm.get(k) match {
            case Some(JArray(xs)) => xs.map(compileQuery)
            case Some(x: JObject) => List(compileQuery(x))
            case _ => Nil
          }
          val must = list("must") ++ list("filter")
          val mustNot = list("must_not")
          val should = list("should")
          d => must.forall(_(d)) && mustNot.forall(!_(d)) &&
            (should.isEmpty || should.exists(_(d)))
        case other => throw new IllegalArgumentException(
          s"es: unsupported query ${other.map(_._1).mkString(",")}")
      }
      case other => throw new IllegalArgumentException(s"es: bad query $other")
    }
  }

  // ---------------------------------------------------------------- client

  private lazy val http = HttpClient.newBuilder()
    .executor(java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-es-client"); t.setDaemon(true); t
    }))
    .build()

  final class Client(host: String, port: Int) extends Serializable {
    private def request(method: String, path: String, body: Option[String]): String = {
      val b = HttpRequest.newBuilder(URI.create(s"http://$host:$port$path"))
        .header("Content-Type", "application/json")
      val req = (body match {
        case Some(s) => b.method(method, HttpRequest.BodyPublishers.ofString(s))
        case None => b.method(method, HttpRequest.BodyPublishers.noBody())
      }).build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200,
        s"es: $method $path returned ${resp.statusCode()}: ${resp.body()}")
      resp.body()
    }

    /** Field name → es type from GET /{index}/_mapping. */
    def mapping(index: String): Seq[(String, String)] = {
      val parsed = JsonMethods.parse(request("GET", s"/$index/_mapping", None))
      (parsed \ index \ "mappings" \ "properties") match {
        case JObject(props) => props.map { case (f, spec) =>
          val JString(t) = (spec \ "type"): @unchecked
          f -> t
        }
        case other => throw new IllegalStateException(s"es: bad mapping $other")
      }
    }

    /** Shard ids from GET /{index}/_search_shards (reference picks one copy
      * per shard group; the loopback node is single-copy). */
    def searchShards(index: String): Seq[Int] = {
      val parsed = JsonMethods.parse(request("GET", s"/$index/_search_shards", None))
      (parsed \ "shards") match {
        case JArray(groups) => groups.map { g =>
          val JInt(s) = (g(0) \ "shard"): @unchecked
          s.toInt
        }
        case other => throw new IllegalStateException(s"es: bad shards $other")
      }
    }

    def count(index: String, shard: Int, queryJson: String): Long = {
      val body = s"""{"query":$queryJson}"""
      val parsed = JsonMethods.parse(
        request("GET", s"/$index/_count?preference=_shards:$shard", Some(body)))
      val JInt(n) = (parsed \ "count"): @unchecked
      n.toLong
    }

    final case class Page(scrollId: Option[String], hits: List[(String, JValue)])

    private def parsePage(body: String): Page = {
      val parsed = JsonMethods.parse(body)
      val sid = (parsed \ "_scroll_id") match {
        case JString(s) => Some(s); case _ => None
      }
      val hits = (parsed \ "hits" \ "hits") match {
        case JArray(hs) => hs.map { h =>
          val JString(id) = (h \ "_id"): @unchecked
          id -> (h \ "_source")
        }
        case _ => Nil
      }
      Page(sid, hits)
    }

    def openScroll(index: String, shard: Int, queryJson: String,
        sourceIncludes: Option[Seq[String]], size: Int,
        scrollMs: Long = 60000): Page = {
      val src = sourceIncludes
        .map(fs => s""","_source":[${fs.map(f => JsonMethods.compact(JString(f))).mkString(",")}]""")
        .getOrElse("")
      val body = s"""{"query":$queryJson,"size":$size$src}"""
      parsePage(request("POST",
        s"/$index/_search?preference=_shards:$shard&scroll=${scrollMs}ms", Some(body)))
    }

    def nextPage(scrollId: String, scrollMs: Long = 60000): Page =
      parsePage(request("POST", "/_search/scroll",
        Some(s"""{"scroll":"${scrollMs}ms","scroll_id":${JsonMethods.compact(JString(scrollId))}}""")))

    def clearScroll(scrollId: String): Unit = {
      request("DELETE", "/_search/scroll",
        Some(s"""{"scroll_id":[${JsonMethods.compact(JString(scrollId))}]}"""))
      ()
    }
  }
}
