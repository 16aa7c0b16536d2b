package graft

import java.nio.charset.StandardCharsets
import java.util.concurrent.CopyOnWriteArrayList

import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods

/** OpenLineage listener (reference plugin/trino-openlineage): START on
  * queryCreated, COMPLETE/FAIL on queryCompleted, RunEvent envelope per
  * the public spec — UUID runId shared across a query's lifecycle, sql job
  * facet, input/output datasets from the statement walk. */
class OpenLineageSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private lazy val handle = server.StatementServer.start(spark, sfDir)

  private val received = new CopyOnWriteArrayList[String]()
  private lazy val sink = {
    val s = graft.server.LoopbackHttp.create()
    s.createContext("/api/v1/lineage", new com.sun.net.httpserver.HttpHandler {
      override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
        received.add(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        ex.sendResponseHeaders(201, -1); ex.close()
      }
    })
    s.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(1, r => {
      val t = new Thread(r, "lineage-sink"); t.setDaemon(true); t
    }))
    s.start()
    s
  }
  private lazy val listener = new server.OpenLineageListener(
    s"http://127.0.0.1:${sink.getAddress.getPort}/api/v1/lineage")

  override def afterAll(): Unit = {
    server.EventListeners.unregister(listener)
    handle.stop()
    sink.stop(0)
  }

  private def runStatement(sql: String): Unit = {
    try client.StatementClient.execute(handle.uri, sql)
    catch { case _: client.StatementClient.StatementFailed => }
  }

  private def str(j: JValue, path: String*): String =
    path.foldLeft(j)(_ \ _) match { case JString(s) => s; case other => other.toString }

  test("a query emits START then COMPLETE with a shared UUID runId") {
    server.EventListeners.register(listener)
    received.clear()
    runStatement("SELECT count(*) AS n FROM nation")
    val events = received.asScala.toVector.map(JsonMethods.parse(_))
    assert(events.length == 2, received.asScala)
    assert(str(events(0), "eventType") == "START")
    assert(str(events(1), "eventType") == "COMPLETE")
    val runIds = events.map(e => str(e, "run", "runId"))
    assert(runIds.distinct.size == 1)
    // runId is a real UUID
    java.util.UUID.fromString(runIds.head)
    // envelope constants
    assert(str(events(0), "schemaURL").contains("openlineage.io/spec"))
    assert(str(events(0), "job", "namespace") == "graft")
    // eventTime is ISO-8601
    java.time.Instant.parse(str(events(0), "eventTime"))
    // the sql job facet carries the statement text
    assert(str(events(1), "job", "facets", "sql", "query").contains("FROM nation"))
    // input dataset derived from the statement walk
    val inputs = (events(1) \ "inputs") match {
      case JArray(xs) => xs.map(x => str(x, "name"))
      case _ => Nil
    }
    assert(inputs == List("nation"), inputs)
  }

  test("a CTAS emits input AND output datasets") {
    received.clear()
    runStatement("CREATE OR REPLACE TABLE ol_target AS SELECT n_name FROM nation")
    val complete = received.asScala.map(JsonMethods.parse(_))
      .find(e => str(e, "eventType") == "COMPLETE")
    assert(complete.isDefined, received.asScala)
    val inputs = (complete.get \ "inputs") match {
      case JArray(xs) => xs.map(x => str(x, "name")); case _ => Nil }
    val outputs = (complete.get \ "outputs") match {
      case JArray(xs) => xs.map(x => str(x, "name")); case _ => Nil }
    assert(inputs == List("nation"), inputs)
    assert(outputs == List("ol_target"), outputs)
  }

  test("a failure emits FAIL with the errorMessage run facet") {
    received.clear()
    runStatement("SELECT no_such_column FROM nation")
    val fail = received.asScala.map(JsonMethods.parse(_))
      .find(e => str(e, "eventType") == "FAIL")
    assert(fail.isDefined, received.asScala)
    val msg = str(fail.get, "run", "facets", "errorMessage", "message")
    assert(msg.nonEmpty && msg != "JNothing")
  }
}
