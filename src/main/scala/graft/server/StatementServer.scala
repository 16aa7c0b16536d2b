package graft.server

import java.io.OutputStream
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** The network front door: a loopback HTTP server speaking the reference's
  * statement protocol (reference: dispatcher/QueuedStatementResource.java:111
  * accepts `POST /v1/statement`; server/protocol/ExecutingStatementResource
  * .java:69 pages results from `GET /v1/statement/executing/{id}/{slug}/
  * {token}`; client/trino-client QueryResults.java carries id / nextUri /
  * columns / data / stats / error). A client submits SQL text, polls
  * `nextUri` until it disappears, and concatenates each page's `data` —
  * exactly how the reference CLI/JDBC drive a query.
  *
  * Scale design (the two properties that make a coordinator survive 100 TB):
  *
  *  1. '''Results stream through a bounded buffer, never a full collect.'''
  *     The worker drives a partition-prefetched drain into a [[PageBuffer]] of at
  *     most [[BufferPages]] pages; the producer BLOCKS when the client falls
  *     behind (the reference's bounded output buffers,
  *     ExecutingStatementResource.java:69 + spooling). Server memory per
  *     query is O(page), not O(result) — the first page is served while
  *     slow tail partitions are still computing. Spooled-encoding results
  *     drain to segment FILES one page at a time, so they are disk-bounded.
  *
  *  2. '''Session state is client-carried, the server is stateless.'''
  *     `SET SESSION` / `USE` / `PREPARE` never mutate server state: the
  *     server parses each request once and answers these statements from
  *     the AST with `X-Trino-Set-Session` / `X-Trino-Set-Schema` /
  *     `X-Trino-Added-Prepare`, and the CLIENT replays the state on every
  *     subsequent request via `X-Trino-Session` / `X-Trino-Schema` /
  *     `X-Trino-Prepared-Statement` (reference ProtocolHeaders.java:73,
  *     QuerySessionSupplier.java:41). Statements execute inside a
  *     thread-scoped [[graft.sqlx.SessionContext]], so two concurrent
  *     clients can never observe each other's session — and a fleet of
  *     coordinators could serve one client interchangeably.
  *
  * Queries reaching a terminal state are evicted after `evictAfterMs` (all
  * registries: results, encodings, kill hooks), so a long-running server's
  * memory is bounded by its live queries, not its history. Cancellation
  * (DELETE on the executing URI, or `kill_query`) cancels the statement's
  * Spark job group, freeing executor resources, and never clobbers an
  * already-finished result.
  *
  * Subset (documented): no authentication (loopback bind), one page size,
  * one spool encoding ("json"). */
object StatementServer {

  private val PageSize = 1000

  /** Pages the producer may run ahead of the consumer before blocking —
    * the server's per-query memory bound is BufferPages × PageSize rows. */
  private val BufferPages = 4

  /** Producer gives up (cancels the query) if the client stops paging for
    * this long — an abandoned client must not pin a worker forever. */
  private val AbandonMs = 5 * 60 * 1000L

  // daemon threads: the server must never hold a finished JVM open (Verify
  // and the driver gate exit by main-thread return, not System.exit)
  private def daemonFactory(name: String) = new java.util.concurrent.ThreadFactory {
    private val i = new AtomicLong(0L)
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"$name-${i.incrementAndGet()}")
      t.setDaemon(true); t
    }
  }
  private def daemonPool(n: Int, name: String) =
    Executors.newFixedThreadPool(n, daemonFactory(name))

  /** Shared eviction timer for every server instance in the JVM. */
  private lazy val evictor =
    Executors.newSingleThreadScheduledExecutor(daemonFactory("graft-statement-evict"))

  /** Bounded page pipe between one statement's producer (the execution
    * worker draining `toLocalIterator`) and its consumer (HTTP paging).
    * The consumer pulls by token; the page BEHIND the requested token is
    * released (a one-page retry window — the reference client retries the
    * same nextUri on transport failure, never an older one). */
  private final class PageBuffer {
    private val lock = new Object
    private val pages = scala.collection.mutable.LongMap[Array[Row]]()
    private var produced = 0L
    private var watermark = 0L // lowest token still retained
    private var totalPages = -1L // set by complete()
    private var rows = 0L
    private var failMsg: Option[String] = None
    @volatile private var cancelledFlag = false

    /** Producer: enqueue one page; blocks while the buffer is full.
      * Returns false when the query was cancelled or abandoned. */
    def put(page: Array[Row]): Boolean = lock.synchronized {
      val deadline = System.nanoTime() + AbandonMs * 1000000L
      while (!cancelledFlag && produced - watermark >= BufferPages) {
        val leftMs = (deadline - System.nanoTime()) / 1000000L
        if (leftMs <= 0L) { cancelledFlag = true; lock.notifyAll(); return false }
        lock.wait(math.max(1L, leftMs))
      }
      if (cancelledFlag) return false
      pages(produced) = page
      produced += 1
      rows += page.length
      lock.notifyAll()
      true
    }
    def complete(): Unit = lock.synchronized { totalPages = produced; lock.notifyAll() }
    def fail(msg: String): Unit = lock.synchronized { failMsg = Some(msg); lock.notifyAll() }
    def cancel(): Unit = lock.synchronized { cancelledFlag = true; lock.notifyAll() }
    def isComplete: Boolean = lock.synchronized(
      totalPages >= 0 && failMsg.isEmpty && !cancelledFlag)
    def isCancelled: Boolean = cancelledFlag
    def rowCount: Long = lock.synchronized(rows)

    /** Consumer: the page at `token`, or Pending while the producer is
      * still computing it. Requesting token N releases every page < N. */
    def get(token: Long): Got = lock.synchronized {
      failMsg match {
        case Some(m) => PageError(m, "GENERIC_INTERNAL_ERROR")
        case None if token >= produced =>
          if (totalPages >= 0 && token >= totalPages) Ready(Array.empty, last = true)
          else if (cancelledFlag) PageError("Query was canceled", "USER_CANCELED")
          else Pending
        case None =>
          if (token > watermark) {
            var t = watermark
            while (t < token) { pages.remove(t); t += 1 }
            watermark = token
            lock.notifyAll() // room freed: wake a blocked producer
          }
          pages.get(token) match {
            case Some(p) => Ready(p, last = totalPages == token + 1)
            case None => PageError(s"result page $token expired", "GENERIC_INTERNAL_ERROR")
          }
      }
    }
  }

  private sealed trait Got
  private final case class Ready(page: Array[Row], last: Boolean) extends Got
  private case object Pending extends Got
  private final case class PageError(message: String, errorName: String) extends Got

  /** One spooled-result segment: inline payload for one-page results,
    * otherwise an index into the spool directory's files. */
  private final case class Segment(inlineB64: Option[String], index: Int,
      rowOffset: Long, rowsCount: Int, size: Long)

  private sealed trait State
  private case object Queued extends State
  private case object Running extends State
  private final case class Streaming(schema: StructType, buf: PageBuffer) extends State
  private final case class SpooledDone(schema: StructType,
      segments: Vector[Segment], totalRows: Long) extends State
  /** Small protocol-level result answered synchronously (SET SESSION & co). */
  private final case class Static(schema: StructType, rows: Array[Row]) extends State
  private final case class Failed(message: String,
      errorName: String = "GENERIC_INTERNAL_ERROR") extends State
  private case object Cancelled extends State

  /** Per-query metadata backing the `/v1/query` info endpoints (reference:
    * core/trino-main server/QueryResource.java serves BasicQueryInfo /
    * QueryInfo from the QueryManager; this subset tracks the fields the
    * Web UI actually renders). Volatile fields are written once by the
    * worker at terminal state. */
  private final class Meta(val sql: String, val user: String,
      val createMs: Long) {
    @volatile var endMs: Long = 0L
    @volatile var rows: Long = 0L
    @volatile var terminalState: String = null // FINISHED | FAILED
    @volatile var failure: String = null
  }

  /** Server security configuration (reference: password-file authenticator
    * plugin + file-based SystemAccessControl).
    *
    *  - `enforceGrants`: non-admin users need ownership or a recorded
    *    GRANT for every table their statements touch ([[graft.sqlx
    *    .Statements]] accessCheck); admins (and everything when this is
    *    false) keep the reference's default allow-all.
    *  - `passwords`: user → SHA-256 hex of the password. When set, every
    *    /v1/statement request must carry HTTP Basic credentials; the
    *    authenticated identity becomes the session user, and a conflicting
    *    `X-Trino-User` is rejected (impersonation is not in this subset —
    *    the reference gates it through impersonation rules). */
  final case class Security(
      enforceGrants: Boolean = false,
      admins: Set[String] = Set.empty,
      passwords: Option[Map[String, String]] = None)

  object Security {
    /** Parse a reference-style password file: one `user:sha256hex` line
      * each (the reference's file uses bcrypt/PBKDF2; this subset uses
      * SHA-256, documented). */
    def passwordFile(f: java.io.File): Map[String, String] =
      java.nio.file.Files.readAllLines(f.toPath).asScala
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          val i = l.indexOf(':')
          require(i > 0, s"malformed password file line: $l")
          l.substring(0, i) -> l.substring(i + 1).toLowerCase
        }.toMap

    def sha256Hex(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes(StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString
  }

  final class Handle private[StatementServer] (
      val server: HttpServer, pool: java.util.concurrent.ExecutorService) {
    def port: Int = server.getAddress.getPort
    def uri: String = s"http://127.0.0.1:$port"
    def stop(): Unit = { server.stop(0); pool.shutdownNow() }
  }

  /** Start on 127.0.0.1:`port` (0 = ephemeral); statements execute against
    * the fixture catalog at `dir`. With `resourceGroups` set, every
    * submission is admitted through [[ResourceGroups.Manager]] (the
    * reference's dispatcher admission): over-concurrency queues, over-queue
    * fails with QUERY_QUEUE_FULL; the submitting user is the protocol's
    * `X-Trino-User` header. Terminal queries are evicted `evictAfterMs`
    * after completion. */
  def start(spark: SparkSession, dir: String, port: Int = 0,
      resourceGroups: Option[ResourceGroups.Config] = None,
      evictAfterMs: Long = 5 * 60 * 1000L,
      security: Option[Security] = None): Handle = {
    val rgManager = resourceGroups.map(new ResourceGroups.Manager(_))
    val server = LoopbackHttp.create(port)
    val pool = daemonPool(4, "graft-statement-exec")
    val nextId = new AtomicLong(0L)
    val queries = new ConcurrentHashMap[String, AtomicReference[State]]()
    // spooled-protocol state: queries that asked for an encoding (via the
    // X-Trino-Query-Data-Encoding header) and their spooled segment files
    val encodings = new ConcurrentHashMap[String, String]()
    val metas = new ConcurrentHashMap[String, Meta]()
    val spoolDir = java.nio.file.Files.createTempDirectory("graft-spool").toFile
    spoolDir.deleteOnExit()

    def evictLater(id: String): Unit =
      evictor.schedule(new Runnable {
        override def run(): Unit = {
          queries.remove(id)
          encodings.remove(id)
          metas.remove(id)
          QueryRegistry.unregister(id)
          // reclaim spooled segments a client never downloaded/acked —
          // deleteOnExit on a non-empty temp dir does not remove them
          Option(spoolDir.listFiles()).getOrElse(Array.empty)
            .filter(_.getName.startsWith(s"$id-")).foreach(_.delete())
        }
      }, evictAfterMs, TimeUnit.MILLISECONDS)

    def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      val os: OutputStream = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }

    def columnsJson(schema: StructType): String =
      schema.fields.map(f =>
        s"""{"name":${jstr(f.name)},"type":${jstr(trinoTypeName(f.dataType))}}""")
        .mkString("[", ",", "]")

    def resultsJson(id: String, token: Long, st: State): (Int, String) = {
      val base = s""""id":${jstr(id)},"infoUri":${jstr(s"/v1/query/$id")}"""
      st match {
        case Queued | Running =>
          val state = if (st == Queued) "QUEUED" else "RUNNING"
          (200, s"""{$base,"nextUri":${jstr(s"/v1/statement/executing/$id/x/$token")},""" +
            s""""stats":{"state":${jstr(state)}}}""")
        case Cancelled =>
          (200, s"""{$base,"stats":{"state":"FAILED"},""" +
            s""""error":{"message":"Query was canceled","errorName":"USER_CANCELED"}}""")
        case Failed(msg, errorName) =>
          (200, s"""{$base,"stats":{"state":"FAILED"},""" +
            s""""error":{"message":${jstr(msg)},"errorName":${jstr(errorName)}}}""")
        case Static(schema, rows) =>
          val data = rows.map(r => rowJson(r, schema)).mkString("[", ",", "]")
          (200, s"""{$base,"columns":${columnsJson(schema)},"data":$data,""" +
            s""""stats":{"state":"FINISHED"}}""")
        case SpooledDone(schema, segments, _) =>
          val segs = segments.map { s =>
            val meta = s""""metadata":{"rowOffset":${s.rowOffset},""" +
              s""""rowsCount":${s.rowsCount},"segmentSize":${s.size}}"""
            s.inlineB64 match {
              case Some(b64) => s"""{"type":"inline","data":${jstr(b64)},$meta}"""
              case None =>
                s"""{"type":"spooled","uri":${jstr(s"/v1/spooled/download/$id/${s.index}")},""" +
                  s""""ackUri":${jstr(s"/v1/spooled/ack/$id/${s.index}")},$meta}"""
            }
          }
          (200, s"""{$base,"columns":${columnsJson(schema)},"data":{"encoding":"json",""" +
            s""""segments":${segs.mkString("[", ",", "]")}},""" +
            s""""stats":{"state":"FINISHED"}}""")
        case Streaming(schema, buf) =>
          buf.get(token) match {
            case Pending =>
              (200, s"""{$base,"nextUri":${jstr(s"/v1/statement/executing/$id/x/$token")},""" +
                s""""stats":{"state":"RUNNING"}}""")
            case PageError(msg, name) =>
              (200, s"""{$base,"stats":{"state":"FAILED"},""" +
                s""""error":{"message":${jstr(msg)},"errorName":${jstr(name)}}}""")
            case Ready(page, last) =>
              val data = page.map(r => rowJson(r, schema)).mkString("[", ",", "]")
              val next = if (last) ""
                else s""""nextUri":${jstr(s"/v1/statement/executing/$id/x/${token + 1}")},"""
              val state = if (last) "FINISHED" else "RUNNING"
              (200, s"""{$base,$next"columns":${columnsJson(schema)},"data":$data,""" +
                s""""stats":{"state":${jstr(state)}}}""")
          }
      }
    }

    /** `/v1/query/{id}` payload (reference: server/QueryResource.java
      * getQueryInfo — the Web UI's query-detail fetch; BasicQueryInfo
      * field spellings). State for a live query comes from the State ref;
      * a terminal query reads the Meta written by fireCompleted. */
    def queryInfoJson(qid: String, m: Meta, st: Option[State]): String = {
      val state = Option(m.terminalState).getOrElse(st match {
        case Some(Queued) => "QUEUED"
        case Some(Running) | Some(Streaming(_, _)) => "RUNNING"
        case Some(Static(_, _)) | Some(SpooledDone(_, _, _)) => "FINISHED"
        case Some(Failed(_, _)) | Some(Cancelled) => "FAILED"
        case None => "FAILED" // meta without state: evicted mid-read
      })
      val endMs = if (m.endMs > 0) m.endMs else System.currentTimeMillis()
      val err = (Option(m.failure), st) match {
        case (Some(f), _) =>
          s""","errorType":"USER_ERROR","failureInfo":{"message":${jstr(f)}}"""
        case (None, Some(Failed(msg, name))) =>
          s""","errorType":"USER_ERROR","errorName":${jstr(name)},""" +
            s""""failureInfo":{"message":${jstr(msg)}}"""
        case (None, Some(Cancelled)) =>
          s""","errorType":"USER_CANCELED","failureInfo":{"message":"Query was canceled"}"""
        case _ => ""
      }
      val iso = java.time.format.DateTimeFormatter.ISO_INSTANT
      def ts(ms: Long) = jstr(iso.format(java.time.Instant.ofEpochMilli(ms)))
      s"""{"queryId":${jstr(qid)},"state":${jstr(state)},""" +
        s""""query":${jstr(m.sql)},"session":{"user":${jstr(m.user)}},""" +
        s""""self":${jstr(s"/v1/query/$qid")},"scheduled":true,""" +
        s""""queryStats":{"createTime":${ts(m.createMs)},""" +
        s""""endTime":${if (m.endMs > 0) ts(m.endMs) else "null"},""" +
        s""""elapsedTime":${jstr(s"${endMs - m.createMs}ms")},""" +
        s""""totalRows":${m.rows}}$err}"""
    }

    /** CAS a live statement to Cancelled (Queued, Running, or Streaming
      * with an unfinished buffer); finished results are never clobbered.
      * Cancelling also kills the statement's Spark job group, so executor
      * work actually stops. */
    @annotation.tailrec
    def cancelLive(id: String, ref: AtomicReference[State]): Boolean =
      ref.get() match {
        case Queued =>
          if (ref.compareAndSet(Queued, Cancelled)) {
            spark.sparkContext.cancelJobGroup(jobGroup(id)); true
          } else cancelLive(id, ref)
        case Running =>
          if (ref.compareAndSet(Running, Cancelled)) {
            spark.sparkContext.cancelJobGroup(jobGroup(id)); true
          } else cancelLive(id, ref)
        case st @ Streaming(_, buf) if !buf.isComplete =>
          buf.cancel()
          ref.compareAndSet(st, Cancelled)
          spark.sparkContext.cancelJobGroup(jobGroup(id))
          true
        case _ => false
      }

    server.createContext("/v1", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = try {
        val path = ex.getRequestURI.getPath
        (ex.getRequestMethod, path) match {
          case ("POST", "/v1/statement") =>
            handlePost(spark, dir, ex, pool, nextId, queries, encodings, metas,
              spoolDir, rgManager, security, cancelLive, resultsJson, respond,
              evictLater)
          // --- query info endpoints (the advertised infoUri; reference
          // server/QueryResource.java + the Web UI's data source)
          case ("GET", "/v1/query") =>
            val items = metas.asScala.toSeq.sortBy(_._1).map { case (qid, m) =>
              queryInfoJson(qid, m, Option(queries.get(qid)).map(_.get()))
            }
            respond(ex, 200, items.mkString("[", ",", "]"))
          case ("GET", QueryPath(qid)) =>
            metas.get(qid) match {
              case null => respond(ex, 404, s"""{"error":"unknown query $qid"}""")
              case m => respond(ex, 200,
                queryInfoJson(qid, m, Option(queries.get(qid)).map(_.get())))
            }
          case ("DELETE", QueryPath(qid)) =>
            // the UI's kill path — same CAS as DELETE on the executing URI
            queries.get(qid) match {
              case null => respond(ex, 404, s"""{"error":"unknown query $qid"}""")
              case ref =>
                cancelLive(qid, ref)
                ex.sendResponseHeaders(204, -1); ex.close()
            }
          case ("GET", ExecutingPath(id, token)) =>
            queries.get(id) match {
              case null => respond(ex, 404, s"""{"error":"unknown query $id"}""")
              case ref => val (code, body) = resultsJson(id, token.toLong, ref.get())
                respond(ex, code, body)
            }
          case ("DELETE", ExecutingPath(id, _)) =>
            queries.get(id) match {
              case null => respond(ex, 404, s"""{"error":"unknown query $id"}""")
              case ref =>
                // CAS like the kill hook: a finished result is never
                // clobbered under a client still paging it
                cancelLive(id, ref)
                ex.sendResponseHeaders(204, -1); ex.close()
            }
          case ("GET", SpooledPath("download", qid, seg)) =>
            val f = new java.io.File(spoolDir, s"$qid-$seg.json")
            if (!f.isFile) respond(ex, 404, s"""{"error":"no spooled segment"}""")
            else {
              val bytes = java.nio.file.Files.readAllBytes(f.toPath)
              ex.getResponseHeaders.set("Content-Type", "application/json")
              ex.sendResponseHeaders(200, bytes.length.toLong)
              val os: OutputStream = ex.getResponseBody
              try os.write(bytes) finally os.close()
            }
          case (m, SpooledPath("ack", qid, seg)) if m == "GET" || m == "DELETE" =>
            // the client's acknowledgement releases the segment's storage
            new java.io.File(spoolDir, s"$qid-$seg.json").delete()
            ex.sendResponseHeaders(204, -1); ex.close()
          case (m, p) => respond(ex, 404, s"""{"error":"no route $m $p"}""")
        }
      } catch {
        case e: Throwable => respond(ex, 500, s"""{"error":${jstr(String.valueOf(e))}}""")
      }
    })
    // Minimal Web UI (reference: core/trino-web-ui — the query-list page):
    // one static HTML page that polls /v1/query and offers kill. All data
    // flows through the public info endpoints above; the page holds no state.
    server.createContext("/ui", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val bytes = UiHtml.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
        ex.sendResponseHeaders(200, bytes.length.toLong)
        val os: OutputStream = ex.getResponseBody
        try os.write(bytes) finally os.close()
      }
    })
    server.setExecutor(daemonPool(4, "graft-statement-http"))
    // the JDK server's internal HTTP-Dispatcher thread inherits daemon
    // status from its creator and is otherwise non-daemon — start from a
    // daemon thread so an un-stopped server never pins a finished JVM
    val starter = new Thread(() => server.start(), "graft-statement-start")
    starter.setDaemon(true)
    starter.start()
    starter.join()
    new Handle(server, pool)
  }

  private def jobGroup(id: String): String = s"graft-stmt-$id"

  // ------------------------------------------------- session protocol

  /** `k1=v1,k2=v2` header (values URL-encoded) → ordered map. */
  private def parseKvHeader(values: java.util.List[String]): Map[String, String] =
    Option(values).map(_.asScala.toSeq).getOrElse(Seq.empty)
      .flatMap(_.split(",").toSeq).map(_.trim).filter(_.nonEmpty)
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(k.trim ->
            java.net.URLDecoder.decode(v.trim, StandardCharsets.UTF_8))
          case _ => None
        }
      }.toMap

  private def urlEnc(s: String): String =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)

  private val oneColSchema =
    StructType(Seq(StructField("result", BooleanType, nullable = false)))

  /** Handle POST /v1/statement. The text is parsed once: session-managing
    * statements are answered from the AST, synchronously, with protocol
    * headers; everything else executes on the worker pool, over the same
    * AST, inside the request's [[graft.sqlx.SessionContext]]. */
  private def handlePost(spark: SparkSession, dir: String, ex: HttpExchange,
      pool: java.util.concurrent.ExecutorService,
      nextId: AtomicLong,
      queries: ConcurrentHashMap[String, AtomicReference[State]],
      encodings: ConcurrentHashMap[String, String],
      metas: ConcurrentHashMap[String, Meta],
      spoolDir: java.io.File,
      rgManager: Option[ResourceGroups.Manager],
      security: Option[Security],
      cancelLive: (String, AtomicReference[State]) => Boolean,
      resultsJson: (String, Long, State) => (Int, String),
      respond: (HttpExchange, Int, String) => Unit,
      evictLater: String => Unit): Unit = {
    val sql = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val hdrs = ex.getRequestHeaders
    val headerUser = Option(hdrs.getFirst("X-Trino-User"))
    // password authentication (reference: password-file authenticator):
    // when configured, Basic credentials are REQUIRED and the
    // authenticated identity is the session user
    val authUser: Option[String] = security.flatMap(_.passwords) match {
      case None => None
      case Some(pwds) =>
        val ok = Option(hdrs.getFirst("Authorization"))
          .filter(_.startsWith("Basic ")).flatMap { h =>
            try {
              val dec = new String(java.util.Base64.getDecoder.decode(
                h.stripPrefix("Basic ").trim), StandardCharsets.UTF_8)
              val i = dec.indexOf(':')
              if (i <= 0) None
              else {
                val (u, p) = (dec.take(i), dec.drop(i + 1))
                if (pwds.get(u).contains(Security.sha256Hex(p))) Some(u) else None
              }
            } catch { case _: IllegalArgumentException => None }
          }
        ok match {
          case None =>
            ex.getResponseHeaders.set("WWW-Authenticate", "Basic realm=\"graft\"")
            respond(ex, 401, """{"error":"authentication required"}""")
            return
          case some => some
        }
    }
    if (authUser.isDefined && headerUser.exists(_ != authUser.get)) {
      respond(ex, 403,
        """{"error":"X-Trino-User does not match the authenticated user"}""")
      return
    }
    val authenticated = authUser.orElse(headerUser).getOrElse("graft")
    // impersonation replay (reference QuerySessionSupplier re-checks
    // checkCanSetUser on every request carrying the authorization user)
    val authzUser = Option(hdrs.getFirst("X-Trino-Authorization-User"))
      .filter(_ != authenticated)
    val enforcing = security.exists(_.enforceGrants)
    if (authzUser.isDefined && enforcing &&
        !security.exists(_.admins.contains(authenticated)) &&
        !graft.sqlx.Statements.canImpersonate(authenticated, authzUser.get)) {
      respond(ex, 403,
        s"""{"error":"Cannot set session authorization to ${authzUser.get}"}""")
      return
    }
    val user = authzUser.getOrElse(authenticated)
    val ctx = graft.sqlx.SessionContext.Ctx(
      // configured defaults under the request's explicit properties
      // (reference session-property-managers contract: explicit wins)
      props = SessionPropertyDefaults(user,
        Option(hdrs.getFirst("X-Trino-Source")),
        parseKvHeader(hdrs.get("X-Trino-Session"))),
      schema = Option(hdrs.getFirst("X-Trino-Schema")),
      prepared = parseKvHeader(hdrs.get("X-Trino-Prepared-Statement")),
      user = Some(user),
      enforce = security.exists(s => s.enforceGrants && !s.admins.contains(user)))
    val id = f"graft_${nextId.incrementAndGet()}%08d"
    val createMs = System.currentTimeMillis()
    val meta = new Meta(sql, user, createMs)
    metas.put(id, meta)

    def fireCreated(): Unit = EventListeners.fireCreated(
      s"""{"metadata":{"queryId":${jstr(id)},"query":${jstr(sql)},""" +
        s""""state":"QUEUED"},"createTime":$createMs}""")
    def fireCompleted(state: String, rows: Long, failure: String,
        startNanos: Long): Unit = {
      val elapsedMs = (System.nanoTime() - startNanos) / 1000000L
      meta.rows = rows
      meta.failure = failure
      meta.endMs = System.currentTimeMillis()
      meta.terminalState = state // write LAST: readers key liveness off it
      val fail = if (failure == null) ""
        else s""","failureInfo":{"message":${jstr(failure)}}"""
      EventListeners.fireCompleted(
        s"""{"metadata":{"queryId":${jstr(id)},"query":${jstr(sql)},""" +
          s""""state":${jstr(state)}},""" +
          s""""statistics":{"elapsedMs":$elapsedMs,"totalRows":$rows},""" +
          s""""createTime":$createMs,""" +
          s""""endTime":${System.currentTimeMillis()}$fail}""")
    }

    // --- stateless session statements: answer now, mutate nothing
    val trueRow = Array(Row(true))
    def answerStatic(setHeader: Option[(String, String)]): Unit = {
      fireCreated()
      val ref = new AtomicReference[State](Static(oneColSchema, trueRow))
      queries.put(id, ref)
      evictLater(id)
      setHeader.foreach { case (h, v) => ex.getResponseHeaders.set(h, v) }
      fireCompleted("FINISHED", 1L, null, System.nanoTime())
      val (code, body) = resultsJson(id, 0L, ref.get())
      respond(ex, code, body)
    }
    // the one parse; a text the grammar rejects goes to the worker unparsed,
    // which parses it again and reports SYNTAX_ERROR like any failed query
    val parsed = try Some(new graft.sqlx.SqlParser(sql).parseStatement())
      catch { case scala.util.control.NonFatal(_) => None }
    // the session statements of the reference's protocol (SetSessionTask
    // & co set response headers; the client carries the state)
    import graft.sqlx.SqlAst.{DeallocateStmt, PrepareStmt, ResetSessionStmt,
      SetSessionAuthStmt, SetSessionStmt, UseStmt}
    parsed match {
      // SET/RESET SESSION AUTHORIZATION (SqlBase.g4:201-202): the server
      // echoes X-Trino-Set-Authorization-User / X-Trino-Reset-Authorization-
      // User and the client replays the identity via
      // X-Trino-Authorization-User (reference
      // ProtocolHeaders.responseSetAuthorizationUser)
      case Some(SetSessionAuthStmt(Some(target))) =>
        // the impersonation check happens HERE (reference
        // SetSessionAuthorizationTask → AccessControl.checkCanSetUser);
        // the identity itself is carried by the client from the echoed
        // header on subsequent requests
        if (enforcing && !security.exists(_.admins.contains(authenticated)) &&
            !graft.sqlx.Statements.canImpersonate(authenticated, target)) {
          respond(ex, 403,
            s"""{"error":"Cannot set session authorization to $target"}""")
          return
        }
        return answerStatic(Some("X-Trino-Set-Authorization-User" -> target))
      case Some(SetSessionAuthStmt(None)) =>
        return answerStatic(Some("X-Trino-Reset-Authorization-User" -> "true"))
      case Some(SetSessionStmt(key, value)) =>
        return answerStatic(Some("X-Trino-Set-Session" -> s"$key=${urlEnc(value)}"))
      case Some(ResetSessionStmt(key)) =>
        return answerStatic(Some("X-Trino-Clear-Session" -> key))
      case Some(UseStmt(schema)) =>
        return answerStatic(Some("X-Trino-Set-Schema" -> schema))
      case Some(PrepareStmt(name, stmt)) =>
        return answerStatic(Some("X-Trino-Added-Prepare" -> s"$name=${urlEnc(stmt)}"))
      case Some(DeallocateStmt(name)) =>
        return answerStatic(Some("X-Trino-Deallocated-Prepare" -> name))
      case _ =>
    }

    // --- executed statements
    Option(hdrs.getFirst("X-Trino-Query-Data-Encoding"))
      .filter(_ == "json") // the one encoding this subset speaks
      .foreach(enc => encodings.put(id, enc))
    val ref = new AtomicReference[State](Queued)
    queries.put(id, ref)
    QueryRegistry.register(id, () => cancelLive(id, ref))
    fireCreated()
    val admission = rgManager.map(_.admit(user))
    admission match {
      case Some(ResourceGroups.Reject(message)) =>
        ref.set(Failed(message, "QUERY_QUEUE_FULL"))
        fireCompleted("FAILED", 0L, message, System.nanoTime())
        evictLater(id)
      case _ =>
        pool.submit(new Runnable {
          override def run(): Unit = runStatement(spark, dir, id, sql, parsed, ctx, ref,
            encodings.get(id) != null, spoolDir, rgManager, admission,
            fireCompleted, evictLater)
        })
    }
    val (code, body) = resultsJson(id, 0L, ref.get())
    respond(ex, code, body)
  }

  /** Execute one statement on a worker thread: plan under the request's
    * session context, then stream result pages through the bounded buffer
    * (or drain to spool segments). Fires queryCompleted with the ACTUAL
    * terminal state, exactly once, including the cancelled-while-queued
    * path. */
  private def runStatement(spark: SparkSession, dir: String, id: String,
      sql: String, parsed: Option[graft.sqlx.SqlAst.Statement],
      ctx: graft.sqlx.SessionContext.Ctx,
      ref: AtomicReference[State], spooled: Boolean, spoolDir: java.io.File,
      rgManager: Option[ResourceGroups.Manager],
      admission: Option[ResourceGroups.Admission],
      fireCompleted: (String, Long, String, Long) => Unit,
      evictLater: String => Unit): Unit = {
    val group = admission.collect {
      case ResourceGroups.RunNow(g) => g
      case ResourceGroups.Queue(g) => g
    }
    val t0 = System.nanoTime()
    try {
      admission.foreach {
        case q: ResourceGroups.Queue => rgManager.get.await(q)
        case _ =>
      }
      if (!ref.compareAndSet(Queued, Running)) {
        // cancelled while queued still completes (listener contract)
        fireCompleted("FAILED", 0L, "Query was canceled", t0)
        evictLater(id)
        return
      }
      val exec = scopedSession(spark, ctx)
      spark.sparkContext.setJobGroup(jobGroup(id), sql, interruptOnCancel = true)
      try {
        graft.sqlx.SessionContext.within(ctx) {
          val df = graft.sqlx.TrinoDialect.sql(exec, dir, sql, parsed)
          val schema = df.schema
          val it = drainIterator(df)
          if (spooled) {
            // drain to disk one page at a time: memory O(page), spool O(result)
            val (segments, total) = drainToSpool(id, schema, it, spoolDir, ref)
            if (ref.compareAndSet(Running, SpooledDone(schema, segments, total))) {
              fireCompleted("FINISHED", total, null, t0)
            } else fireCompleted("FAILED", total, "Query was canceled", t0)
          } else {
            val buf = new PageBuffer
            if (!ref.compareAndSet(Running, Streaming(schema, buf))) {
              fireCompleted("FAILED", 0L, "Query was canceled", t0)
              evictLater(id)
              return
            }
            var live = true
            val chunks = it.grouped(PageSize).map(_.toArray)
            while (live && chunks.hasNext) live = buf.put(chunks.next())
            if (live) {
              // completed fires BEFORE the buffer reports the last page,
              // so a listener always sees the event no later than the
              // client sees FINISHED
              fireCompleted("FINISHED", buf.rowCount, null, t0)
              buf.complete()
            } else {
              fireCompleted("FAILED", buf.rowCount, "Query was canceled", t0)
            }
          }
        }
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          val errName = e match {
            case _: graft.sqlx.AccessDeniedException => "PERMISSION_DENIED"
            case _: graft.sqlx.SqlParseException => "SYNTAX_ERROR"
            case _ => "GENERIC_INTERNAL_ERROR"
          }
          val wasCancelled = ref.get() == Cancelled ||
            (ref.get() match {
              case Streaming(_, b) => b.isCancelled
              case _ => false
            })
          // completed fires BEFORE the failure is published, as on the
          // success path: a listener sees the event no later than the
          // client sees FAILED
          if (wasCancelled) fireCompleted("FAILED", 0L, "Query was canceled", t0)
          else fireCompleted("FAILED", 0L, msg, t0)
          ref.get() match {
            case st @ Streaming(_, b) =>
              b.fail(msg); ref.compareAndSet(st, Failed(msg, errName))
            case _ => ref.compareAndSet(Running, Failed(msg, errName))
          }
      } finally {
        spark.sparkContext.clearJobGroup()
      }
    } catch {
      // failures BEFORE the inner try (admission await, scopedSession
      // rejecting an invalid conf-mapped property) must still reach a
      // terminal state + completion event, else the client polls RUNNING
      // forever; the inner catch never rethrows, so this fires at most once
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        if (ref.compareAndSet(Running, Failed(msg)) ||
            ref.compareAndSet(Queued, Failed(msg)))
          fireCompleted("FAILED", 0L, msg, t0)
    } finally {
      // slot held whether pre-acquired (RunNow) or awaited (Queue);
      // released exactly once at terminal state
      group.foreach(g => rgManager.get.release(g))
      evictLater(id)
    }
  }

  /** Live-conf-mapped session properties execute on a scoped child
    * SparkSession (own SQLConf; shared SparkContext and warehouse), so a
    * property set by one client can never bleed into another's plan. */
  private def scopedSession(spark: SparkSession,
      ctx: graft.sqlx.SessionContext.Ctx): SparkSession = {
    val confMapped = ctx.props.view.filterKeys(
      Set("join_distribution_type", "task_concurrency")).toMap
    if (confMapped.isEmpty) spark
    else {
      val s = spark.newSession()
      // single-statement fork: a cached plan could never hit (fresh
      // session identity per statement) and would only pin the dead
      // session in the plan-cache LRU, evicting reusable entries
      graft.sqlx.PlanCache.markEphemeral(s)
      // inherit the parent's tuned defaults, then overlay
      Seq("spark.sql.shuffle.partitions", "spark.sql.autoBroadcastJoinThreshold")
        .foreach(k => spark.conf.getOption(k).foreach(v => s.conf.set(k, v)))
      confMapped.get("join_distribution_type").foreach {
        _.toUpperCase match {
          case "PARTITIONED" => s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          case "BROADCAST" | "AUTOMATIC" =>
            s.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
          case other =>
            throw new IllegalArgumentException(s"invalid join_distribution_type: $other")
        }
      }
      confMapped.get("task_concurrency").foreach(v =>
        s.conf.set("spark.sql.shuffle.partitions", v))
      // temp views are per-SparkSession: re-register the front door's
      graft.sqlx.Statements.registerFrontDoorViews(s)
      s
    }
  }

  /** How many single-partition collect jobs a result drain keeps in
    * flight. Memory bound: DrainDepth partition arrays resident per
    * draining statement (vs toLocalIterator's 1). */
  private val DrainDepth = 4

  /** Result drain with bounded partition prefetch (r19). `Dataset.
    * toLocalIterator` runs ONE Spark job per result partition, strictly
    * sequentially — a small N-partition result pays N local job floors
    * (~20 ms each, measured 0.15 s of the 0.19 s statement round trip)
    * before its last page is served. Instead, submit up to [[DrainDepth]]
    * single-partition collect jobs concurrently and consume them in
    * partition order: the job floors overlap, while STREAMING GRANULARITY
    * is unchanged — each job covers exactly one partition, so a slow or
    * blocked tail partition never gates the pages built from earlier
    * partitions (StreamingResultsSpec pins this; a batched-collect variant
    * deadlocked it). Prefetch threads are created inside this call, on the
    * statement's worker thread, so they inherit its job group
    * (interruptOnCancel) — the kill path cancels in-flight prefetched jobs
    * exactly like the current one. Threads are daemons and time out when
    * idle, so an abandoned drain leaks nothing past the keepalive. */
  private[graft] def drainIterator(df: org.apache.spark.sql.DataFrame): Iterator[Row] = {
    val rdd = df.rdd
    val n = rdd.getNumPartitions
    if (n == 0) return Iterator.empty
    val sc = rdd.sparkContext
    val pool = new java.util.concurrent.ThreadPoolExecutor(
      math.min(DrainDepth, n), math.min(DrainDepth, n), 10L, TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](),
      daemonFactory("graft-statement-drain"))
    pool.allowCoreThreadTimeOut(true)
    val pending = new java.util.ArrayDeque[java.util.concurrent.Future[Array[Row]]]()
    var submitted = 0
    def submitNext(): Unit = if (submitted < n) {
      val p = submitted; submitted += 1
      pending.addLast(pool.submit(new java.util.concurrent.Callable[Array[Row]] {
        def call(): Array[Row] =
          sc.runJob(rdd, (rows: Iterator[Row]) => rows.toArray, Seq(p)).head
      }))
    }
    (1 to math.min(DrainDepth, n)).foreach(_ => submitNext())
    new Iterator[Array[Row]] {
      def hasNext: Boolean = !pending.isEmpty
      def next(): Array[Row] = {
        val got =
          try pending.removeFirst().get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              pool.shutdownNow()
              // the statement is failing: also cancel the in-flight
              // sibling partition jobs (shutdownNow only interrupts the
              // threads WAITING on them, not the Spark jobs themselves)
              Option(sc.getLocalProperty("spark.jobGroup.id"))
                .foreach(sc.cancelJobGroup(_))
              throw e.getCause
          }
        submitNext()
        if (pending.isEmpty) pool.shutdown()
        got
      }
    }.flatMap(_.iterator)
  }

  /** Drain `it` to spool segment files one page at a time. A one-page
    * result stays inline (base64 in the response). Checks for cancellation
    * between pages. Returns (segments, totalRows). */
  private def drainToSpool(id: String, schema: StructType, it: Iterator[Row],
      spoolDir: java.io.File,
      ref: AtomicReference[State]): (Vector[Segment], Long) = {
    val chunks = it.grouped(PageSize)
    val first: Array[Row] = if (chunks.hasNext) chunks.next().toArray else Array.empty
    def pageBytes(page: Array[Row]): Array[Byte] =
      page.map(r => rowJson(r, schema)).mkString("[", ",", "]")
        .getBytes(StandardCharsets.UTF_8)
    if (!chunks.hasNext) {
      val bytes = pageBytes(first)
      (Vector(Segment(Some(java.util.Base64.getEncoder.encodeToString(bytes)),
        0, 0L, first.length, bytes.length.toLong)), first.length.toLong)
    } else {
      var segments = Vector.empty[Segment]
      var offset = 0L
      def spill(page: Array[Row]): Unit = {
        val bytes = pageBytes(page)
        val f = new java.io.File(spoolDir, s"$id-${segments.length}.json")
        java.nio.file.Files.write(f.toPath, bytes)
        segments :+= Segment(None, segments.length, offset, page.length, bytes.length.toLong)
        offset += page.length
      }
      spill(first)
      while (chunks.hasNext && ref.get() != Cancelled) spill(chunks.next().toArray)
      if (ref.get() == Cancelled)
        throw new IllegalStateException("Query was canceled")
      (segments, offset)
    }
  }

  private object SpooledPath {
    private val Re = """/v1/spooled/(download|ack)/([A-Za-z0-9_]+)/([0-9]+)""".r
    def unapply(path: String): Option[(String, String, String)] = path match {
      case Re(op, qid, seg) => Some((op, qid, seg))
      case _ => None
    }
  }

  /** The single-page query list UI. Vanilla JS over /v1/query; no assets. */
  private val UiHtml: String =
    """<!doctype html><html><head><meta charset="utf-8"><title>graft</title>
      |<style>
      | body{font-family:monospace;margin:2em;background:#111;color:#ddd}
      | table{border-collapse:collapse;width:100%} td,th{padding:4px 10px;
      | border-bottom:1px solid #333;text-align:left;vertical-align:top}
      | .FINISHED{color:#7c7} .FAILED{color:#e77} .RUNNING{color:#7af}
      | .QUEUED{color:#cc7} button{background:#400;color:#fcc;border:1px
      | solid #633;cursor:pointer} .q{max-width:48em;overflow:hidden;
      | white-space:nowrap;text-overflow:ellipsis}
      |</style></head><body>
      |<h2>graft — queries</h2>
      |<table><thead><tr><th>id</th><th>state</th><th>user</th>
      |<th>elapsed</th><th>rows</th><th>query</th><th></th></tr></thead>
      |<tbody id="t"></tbody></table>
      |<script>
      |async function kill(id){await fetch('/v1/query/'+id,{method:'DELETE'});refresh();}
      |async function refresh(){
      |  const qs=await (await fetch('/v1/query')).json();
      |  document.getElementById('t').innerHTML=qs.map(q=>
      |    '<tr><td><a style="color:#9bf" href="/v1/query/'+q.queryId+'">'+q.queryId+
      |    '</a></td><td class="'+q.state+'">'+q.state+'</td><td>'+q.session.user+
      |    '</td><td>'+q.queryStats.elapsedTime+'</td><td>'+q.queryStats.totalRows+
      |    '</td><td class="q"></td>'+
      |    ((q.state=='RUNNING'||q.state=='QUEUED')?
      |      '<td><button onclick="kill(\''+q.queryId+'\')">kill</button></td>':'<td></td>')+
      |    '</tr>').join('');
      |  // query text via textContent — never innerHTML (it is user input)
      |  document.querySelectorAll('#t .q').forEach((c,i)=>c.textContent=qs[i].query);
      |}
      |refresh();setInterval(refresh,2000);
      |</script></body></html>""".stripMargin

  private object QueryPath {
    private val Re = """/v1/query/([A-Za-z0-9_]+)""".r
    def unapply(path: String): Option[String] = path match {
      case Re(qid) => Some(qid)
      case _ => None
    }
  }

  private object ExecutingPath {
    private val Re = """/v1/statement/executing/([^/]+)/[^/]+/([0-9]+)""".r
    def unapply(path: String): Option[(String, String)] = path match {
      case Re(id, token) => Some((id, token))
      case _ => None
    }
  }

  /** Reference type-name spellings (client/trino-client ClientTypeSignature). */
  def trinoTypeName(dt: DataType): String = dt match {
    case LongType => "bigint"
    case IntegerType => "integer"
    case ShortType => "smallint"
    case ByteType => "tinyint"
    case StringType => "varchar"
    case DoubleType => "double"
    case FloatType => "real"
    case BooleanType => "boolean"
    case DateType => "date"
    case BinaryType => "varbinary"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case _: TimestampType => "timestamp(6)"
    case _: TimestampNTZType => "timestamp(6)"
    case a: ArrayType => s"array(${trinoTypeName(a.elementType)})"
    case m: MapType => s"map(${trinoTypeName(m.keyType)},${trinoTypeName(m.valueType)})"
    case s: StructType =>
      s.fields.map(f => s"${f.name} ${trinoTypeName(f.dataType)}")
        .mkString("row(", ",", ")")
    case other => other.simpleString
  }

  private def rowJson(r: Row, schema: StructType): String =
    schema.fields.indices.map(i => valueJson(r.get(i))).mkString("[", ",", "]")

  private def valueJson(v: Any): String = v match {
    case null => "null"
    case s: String => jstr(s)
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Float => jnum(n.toDouble)
    case n: Double => jnum(n)
    case d: java.math.BigDecimal => jstr(d.toPlainString)
    case d: scala.math.BigDecimal => jstr(d.bigDecimal.toPlainString)
    case d: java.sql.Date => jstr(d.toString)
    case d: java.time.LocalDate => jstr(d.toString)
    case t: java.sql.Timestamp => jstr(t.toString)
    case t: java.time.Instant => jstr(t.toString)
    case t: java.time.LocalDateTime => jstr(t.toString)
    case b: Array[Byte] => jstr(java.util.Base64.getEncoder.encodeToString(b))
    case seq: scala.collection.Seq[_] =>
      seq.map(valueJson).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, mv) => s"${jstr(String.valueOf(k))}:${valueJson(mv)}" }
        .mkString("{", ",", "}")
    case r: Row =>
      (0 until r.length).map(i => valueJson(r.get(i))).mkString("[", ",", "]")
    case other => jstr(String.valueOf(other))
  }

  private def jnum(d: Double): String =
    if (d.isNaN) "\"NaN\""
    else if (d.isPosInfinity) "\"Infinity\""
    else if (d.isNegInfinity) "\"-Infinity\""
    else d.toString

  private def jstr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
