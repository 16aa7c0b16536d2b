package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Drives the loopback HTTP statement endpoint end-to-end: submit SQL with
  * POST /v1/statement, poll nextUri until it disappears, concatenate data
  * pages — the reference client loop — and check the result matches the
  * in-process front door. Also a DML statement (CTAS + INSERT + read-back)
  * and the error/cancel paths. */
class StatementServerSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  test("CALL system.runtime.kill_query cancels a live server statement") {
    spark.udf.register("spec_kill_block", (ms: Long) => { Thread.sleep(ms); ms })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    val fut = pool.submit(new java.util.concurrent.Callable[String] {
      override def call(): String =
        try { client.StatementClient.execute(handle.uri,
          "SELECT spec_kill_block(30000) AS v"); "finished" }
        catch { case e: client.StatementClient.StatementFailed => e.getMessage }
    })
    // the submitted query got the next sequential id; find it via kill result
    Thread.sleep(500)
    val killed = (1 to 200).reverse.find { n =>
      graft.server.QueryRegistry.kill(f"graft_$n%08d")
    }
    assert(killed.isDefined, "no live query found to kill")
    val outcome = fut.get(30, java.util.concurrent.TimeUnit.SECONDS)
    assert(outcome.contains("cancel"), outcome)
    // killing an unknown id reports failure through the CALL door
    val e = intercept[Exception] {
      sqlx.TrinoDialect.sql(spark, sfDir,
        "CALL system.runtime.kill_query('graft_99999999')")
    }
    assert(e.getMessage.contains("not running"))
    pool.shutdownNow()
  }

  private lazy val handle = server.StatementServer.start(spark, sfDir)
  private lazy val http = HttpClient.newHttpClient()

  override def afterAll(): Unit = handle.stop()

  /** The reference client loop: POST, then follow nextUri, collecting data. */
  /** errorName of the last statement runStatement saw fail. */
  private var lastErrorName: Option[String] = None

  private def runStatement(sql: String):
      (Seq[(String, String)], Seq[Seq[Any]], Option[String]) = {
    var resp = http.send(
      HttpRequest.newBuilder(URI.create(s"${handle.uri}/v1/statement"))
        .POST(HttpRequest.BodyPublishers.ofString(sql)).build(),
      HttpResponse.BodyHandlers.ofString())
    var json = JsonMethods.parse(resp.body())
    var columns: Seq[(String, String)] = Seq.empty
    val data = Seq.newBuilder[Seq[Any]]
    var error: Option[String] = None
    var spins = 0
    var done = false
    while (!done) {
      json \ "columns" match {
        case JArray(cols) =>
          columns = cols.map { c =>
            val JString(n) = (c \ "name"): @unchecked
            val JString(t) = (c \ "type"): @unchecked
            (n, t)
          }
        case _ =>
      }
      json \ "data" match {
        case JArray(rows) => rows.foreach { case JArray(vs) =>
          data += vs.map {
            case JString(s) => s
            case JInt(i) => i.toLong
            case JLong(l) => l
            case JDouble(d) => d
            case JDecimal(d) => d.toDouble
            case JBool(b) => b
            case JNull => null
            case other => other
          }
        case other => fail(s"row is not an array: $other")
        }
        case _ =>
      }
      json \ "error" \ "message" match {
        case JString(m) =>
          error = Some(m)
          lastErrorName = Some((json \ "error" \ "errorName").values.toString)
        case _ =>
      }
      json \ "nextUri" match {
        case JString(next) =>
          spins += 1
          assert(spins < 600, "statement did not finish")
          if ((json \ "stats" \ "state") == JString("QUEUED") ||
            (json \ "stats" \ "state") == JString("RUNNING")) Thread.sleep(50)
          resp = http.send(
            HttpRequest.newBuilder(URI.create(s"${handle.uri}$next")).GET().build(),
            HttpResponse.BodyHandlers.ofString())
          json = JsonMethods.parse(resp.body())
        case _ => done = true
      }
    }
    (columns, data.result(), error)
  }

  test("query over HTTP matches the in-process front door") {
    val sql = """SELECT n_regionkey AS r, count(*) AS n
                 FROM nation GROUP BY n_regionkey ORDER BY r"""
    val (cols, rows, err) = runStatement(sql)
    assert(err.isEmpty, err)
    assert(cols.map(_._1) == Seq("r", "n"))
    assert(cols.map(_._2).forall(t => t == "bigint" || t == "integer"))
    val inProc = sqlx.TrinoDialect.sql(spark, sfDir, sql).collect()
      .map(r => (r.get(0).toString.toLong, r.getLong(1))).toSeq
    val overHttp = rows.map(r =>
      (r(0).toString.toLong, r(1).toString.toLong))
    assert(overHttp == inProc)
  }

  test("multi-page result concatenates to the full relation") {
    val sql = "SELECT o_orderkey FROM orders ORDER BY o_orderkey"
    val (_, rows, err) = runStatement(sql)
    assert(err.isEmpty, err)
    val expect = sqlx.TrinoDialect.sql(spark, sfDir, sql).count()
    assert(rows.length.toLong == expect)
    assert(expect > 1000, "fixture too small to exercise paging")
    // pages concatenate in order
    val keys = rows.map(_.head.toString.toLong)
    assert(keys == keys.sorted)
  }

  test("DML over HTTP: CTAS + INSERT visible to a follow-up query") {
    val (_, _, e1) = runStatement(
      """CREATE OR REPLACE TABLE wh_http AS
         SELECT n_nationkey AS k FROM nation WHERE n_nationkey < 10""")
    assert(e1.isEmpty, e1)
    val (_, _, e2) = runStatement("INSERT INTO wh_http VALUES (500)")
    assert(e2.isEmpty, e2)
    val (_, rows, e3) = runStatement(
      "SELECT count(*) AS n, sum(k) AS s FROM wh_http")
    assert(e3.isEmpty, e3)
    assert(rows.head.map(_.toString.toLong) == Seq(11L, 545L))
  }

  test("a broken statement surfaces an error, not a hang") {
    val (_, _, err) = runStatement("SELECT FROM WHERE")
    assert(err.nonEmpty)
    assert(lastErrorName.contains("SYNTAX_ERROR"), lastErrorName)
  }

  private def getJson(path: String): (Int, JValue) = {
    val resp = http.send(
      HttpRequest.newBuilder(URI.create(s"${handle.uri}$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), JsonMethods.parse(resp.body()))
  }

  test("infoUri serves query state through RUNNING to FINISHED") {
    spark.udf.register("spec_info_block", (ms: Long) => { Thread.sleep(ms); ms })
    // submit directly so we hold the id while the query runs
    val resp = http.send(
      HttpRequest.newBuilder(URI.create(s"${handle.uri}/v1/statement"))
        .POST(HttpRequest.BodyPublishers.ofString(
          "SELECT spec_info_block(2000) AS v")).build(),
      HttpResponse.BodyHandlers.ofString())
    val json = JsonMethods.parse(resp.body())
    val JString(id) = (json \ "id"): @unchecked
    val JString(infoUri) = (json \ "infoUri"): @unchecked
    assert(infoUri == s"/v1/query/$id")
    // live: the info endpoint reports a non-terminal state with the SQL text
    val (c1, live) = getJson(infoUri)
    assert(c1 == 200)
    val JString(liveState) = (live \ "state"): @unchecked
    assert(Set("QUEUED", "RUNNING").contains(liveState), liveState)
    assert((live \ "query") == JString("SELECT spec_info_block(2000) AS v"))
    assert((live \ "session" \ "user") == JString("graft"))
    // drain the statement to completion through the normal client loop
    var next = json \ "nextUri"
    var spins = 0
    while (next.isInstanceOf[JString] && spins < 600) {
      val JString(n) = next: @unchecked
      val (_, page) = getJson(n)
      next = page \ "nextUri"
      spins += 1
      Thread.sleep(20)
    }
    val (c2, fin) = getJson(infoUri)
    assert(c2 == 200)
    assert((fin \ "state") == JString("FINISHED"))
    assert((fin \ "queryStats" \ "totalRows") == JInt(1))
    assert((fin \ "queryStats" \ "endTime") != JNull)
    // and the list endpoint carries it
    val (c3, list) = getJson("/v1/query")
    val JArray(items) = list: @unchecked
    assert(items.exists(q => (q \ "queryId") == JString(id)))
    assert(c3 == 200)
  }

  test("a /v1/query/{id} round trip takes no delayed-ACK stall") {
    val resp = http.send(
      HttpRequest.newBuilder(URI.create(s"${handle.uri}/v1/statement"))
        .POST(HttpRequest.BodyPublishers.ofString("SELECT 1 AS v")).build(),
      HttpResponse.BodyHandlers.ofString())
    val JString(infoUri) = (JsonMethods.parse(resp.body()) \ "infoUri"): @unchecked
    // with Nagle on, the server's body segment waits ~40 ms for the
    // client's delayed ACK on every exchange
    val ms = (0 until 22).map { _ =>
      val t0 = System.nanoTime()
      assert(getJson(infoUri)._1 == 200)
      (System.nanoTime() - t0) / 1e6
    }.drop(2).sorted
    assert(ms(ms.size / 2) < 20.0, ms.mkString(", "))
  }

  test("DELETE /v1/query/{id} kills a running query (the UI kill path)") {
    spark.udf.register("spec_ui_block", (ms: Long) => { Thread.sleep(ms); ms })
    val resp = http.send(
      HttpRequest.newBuilder(URI.create(s"${handle.uri}/v1/statement"))
        .POST(HttpRequest.BodyPublishers.ofString(
          "SELECT spec_ui_block(30000) AS v")).build(),
      HttpResponse.BodyHandlers.ofString())
    val JString(id) = (JsonMethods.parse(resp.body()) \ "id"): @unchecked
    Thread.sleep(300)
    val del = http.send(
      HttpRequest.newBuilder(URI.create(s"${handle.uri}/v1/query/$id"))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString())
    assert(del.statusCode() == 204)
    // terminal state reaches the info endpoint (worker CAS may take a beat)
    var state = ""
    var spins = 0
    while (state != "FAILED" && spins < 100) {
      val (_, info) = getJson(s"/v1/query/$id")
      state = info \ "state" match { case JString(s) => s; case _ => "" }
      spins += 1; Thread.sleep(50)
    }
    assert(state == "FAILED")
  }

  test("an invalid conf-mapped session property fails the query, not hangs") {
    val resp = http.send(
      HttpRequest.newBuilder(URI.create(s"${handle.uri}/v1/statement"))
        .header("X-Trino-Session", "join_distribution_type=bogus")
        .POST(HttpRequest.BodyPublishers.ofString(
          "SELECT count(*) AS n FROM nation")).build(),
      HttpResponse.BodyHandlers.ofString())
    var json = JsonMethods.parse(resp.body())
    var spins = 0
    var error: Option[String] = None
    var done = false
    while (!done) {
      json \ "error" \ "message" match {
        case JString(m) => error = Some(m); done = true
        case _ =>
          json \ "nextUri" match {
            case JString(n) =>
              spins += 1
              assert(spins < 200, "query with invalid session property hung")
              Thread.sleep(50)
              json = getJson(n)._2
            case _ => done = true
          }
      }
    }
    assert(error.exists(_.contains("join_distribution_type")), error)
  }

  test("/ui serves the query-list page") {
    val resp = http.send(
      HttpRequest.newBuilder(URI.create(s"${handle.uri}/ui")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 200)
    assert(resp.headers().firstValue("Content-Type").orElse("")
      .startsWith("text/html"))
    assert(resp.body().contains("/v1/query"))
  }

  test("unknown query id is a 404") {
    val resp = http.send(
      HttpRequest.newBuilder(
        URI.create(s"${handle.uri}/v1/statement/executing/nope/x/0")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 404)
  }

  test("prefetched drain preserves order and completeness") {
    import spark.implicits._
    // 37 small partitions cycles the 4-deep prefetch window many times;
    // range partitions are id-ordered and sorted within, so the drained
    // concatenation must be exactly the global ascending sequence — any
    // prefetch reorder, drop, or duplicate breaks the equality
    val df = spark.range(0, 10000).toDF("v")
      .repartitionByRange(37, $"v").sortWithinPartitions($"v")
    val got = server.StatementServer.drainIterator(df).map(_.getLong(0)).toVector
    assert(got == (0L until 10000L).toVector)
    // empty relation: no partitions to drain
    assert(server.StatementServer.drainIterator(
      spark.range(0, 0).toDF("v")).isEmpty)
  }
}
