package graft

import java.nio.charset.StandardCharsets
import java.util.concurrent.CopyOnWriteArrayList

import scala.jdk.CollectionConverters._

/** The event-listener path: queryCreated/queryCompleted fire around every
  * statement the server runs, the HTTP listener POSTs them to an ingest
  * endpoint (reference plugin/trino-http-event-listener), retries are
  * bounded, and a broken sink never fails the query. */
class EventListenerSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private lazy val handle = server.StatementServer.start(spark, sfDir)

  // capturing ingest endpoint
  private val received = new CopyOnWriteArrayList[String]()
  private val failFirstN = new java.util.concurrent.atomic.AtomicInteger(0)
  private lazy val ingest = {
    val s = graft.server.LoopbackHttp.create()
    s.createContext("/ingest", new com.sun.net.httpserver.HttpHandler {
      override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        if (failFirstN.getAndUpdate(n => math.max(0, n - 1)) > 0) {
          ex.sendResponseHeaders(503, -1); ex.close()
        } else {
          received.add(body)
          ex.sendResponseHeaders(204, -1); ex.close()
        }
      }
    })
    s.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(1, r => {
      val t = new Thread(r, "ingest"); t.setDaemon(true); t
    }))
    val st = new Thread(() => s.start()); st.setDaemon(true); st.start(); st.join()
    s
  }
  private lazy val listener = new server.EventListeners.HttpEventListener(
    s"http://127.0.0.1:${ingest.getAddress.getPort}/ingest", retries = 2)

  override def afterAll(): Unit = {
    server.EventListeners.unregister(listener)
    handle.stop()
    ingest.stop(0)
  }

  private def runStatement(sql: String): Unit = {
    try client.StatementClient.execute(handle.uri, sql)
    catch { case _: client.StatementClient.StatementFailed => }
  }

  test("created + completed events bracket a successful query") {
    server.EventListeners.register(listener)
    received.clear()
    runStatement("SELECT count(*) AS n FROM nation")
    val events = received.asScala.toVector
    assert(events.length == 2, events)
    assert(events(0).contains("\"state\":\"QUEUED\""))
    assert(events(1).contains("\"state\":\"FINISHED\""))
    assert(events(1).contains("\"totalRows\":1"))
    // both carry the same queryId
    val idOf = "\"queryId\":\"([^\"]+)\"".r
    assert(idOf.findFirstMatchIn(events(0)).map(_.group(1)) ==
      idOf.findFirstMatchIn(events(1)).map(_.group(1)))
  }

  test("a failed query reports FAILED with failureInfo") {
    received.clear()
    runStatement("SELECT no_such_column FROM nation")
    val completed = received.asScala.find(_.contains("\"state\":\"FAILED\""))
    assert(completed.isDefined, received.asScala)
    assert(completed.get.contains("failureInfo"))
  }

  test("bounded retries ride over transient ingest failures") {
    received.clear()
    failFirstN.set(1) // first POST 503s; retry must land it
    runStatement("SELECT 1 AS one")
    assert(received.asScala.count(_.contains("\"state\":\"QUEUED\"")) == 1)
  }

  test("a permanently broken sink never fails the query") {
    received.clear()
    failFirstN.set(1000) // exhausts retries on every post
    val res = client.StatementClient.execute(handle.uri, "SELECT 2 AS two")
    assert(res.rows == Vector(Vector(2L)))
    failFirstN.set(0)
  }
}
