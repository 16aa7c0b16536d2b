package graft

import java.sql.DriverManager
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

/** Per-request session state over the statement protocol (reference:
  * client/trino-client ProtocolHeaders.java:73 REQUEST_SESSION,
  * core/trino-main server/QuerySessionSupplier.java:41): the server is
  * STATELESS — `SET SESSION` answers with `X-Trino-Set-Session`, the
  * client carries the property back on every request, and two concurrent
  * JDBC connections can never observe each other's session. */
class SessionHeadersSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private lazy val handle = server.StatementServer.start(spark, sfDir)
  override def afterAll(): Unit = handle.stop()

  private def connect() = {
    client.GraftDriver.ensureRegistered()
    DriverManager.getConnection(s"jdbc:graft://127.0.0.1:${handle.port}")
  }

  private def showSession(c: java.sql.Connection): Map[String, String] = {
    val rs = c.createStatement().executeQuery("SHOW SESSION")
    val out = Map.newBuilder[String, String]
    while (rs.next()) out += rs.getString("name") -> rs.getString("value")
    out.result()
  }

  test("two concurrent connections hold different session properties") {
    val a = connect()
    val b = connect()
    a.createStatement().execute("SET SESSION query_max_run_time = '1h'")
    b.createStatement().execute("SET SESSION query_max_run_time = '2h'")
    b.createStatement().execute("SET SESSION redistribute_writes = 'false'")

    // interleave SHOW SESSION from both connections on two threads
    val pool = Executors.newFixedThreadPool(2)
    val barrier = new CyclicBarrier(2)
    def loop(c: java.sql.Connection, expect: Map[String, String]) =
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        override def call(): Boolean = (1 to 8).forall { _ =>
          barrier.await(30, TimeUnit.SECONDS)
          showSession(c) == expect
        }
      })
    val fa = loop(a, Map("query_max_run_time" -> "1h"))
    val fb = loop(b, Map("query_max_run_time" -> "2h", "redistribute_writes" -> "false"))
    assert(fa.get(60, TimeUnit.SECONDS), "connection A saw foreign session state")
    assert(fb.get(60, TimeUnit.SECONDS), "connection B saw foreign session state")
    pool.shutdownNow()

    // RESET clears only this connection's property
    a.createStatement().execute("RESET SESSION query_max_run_time")
    assert(showSession(a).isEmpty)
    assert(showSession(b)("query_max_run_time") == "2h")

    // the in-process front door's (JVM-global) session saw none of it
    val inProc = sqlx.TrinoDialect.sql(spark, sfDir, "SHOW SESSION")
      .collect().map(r => r.getString(0)).toSet
    assert(!inProc.contains("query_max_run_time"))
    assert(!inProc.contains("redistribute_writes"))
    a.close(); b.close()
  }

  test("prepared statements are connection-scoped protocol state") {
    // every spelling the grammar parses is answered as protocol state,
    // including a leading comment and a trailing `;`
    Seq("" -> "", "-- c\n" -> ";").foreach { case (head, tail) =>
      val a = connect()
      val b = connect()
      a.createStatement().execute(head +
        "PREPARE sess_p1 FROM SELECT count(*) AS n FROM nation WHERE n_regionkey = ?")
      val rs = a.createStatement().executeQuery("EXECUTE sess_p1 USING 1")
      assert(rs.next() && rs.getLong("n") == 5L)
      // connection B never prepared it: the name must not resolve there
      val e = intercept[java.sql.SQLException] {
        b.createStatement().executeQuery("EXECUTE sess_p1 USING 1")
      }
      assert(e.getMessage.contains("no prepared statement"), e.getMessage)
      // DEALLOCATE drops it from A's session
      a.createStatement().execute("DEALLOCATE PREPARE sess_p1" + tail)
      val e2 = intercept[java.sql.SQLException] {
        a.createStatement().executeQuery("EXECUTE sess_p1 USING 1")
      }
      assert(e2.getMessage.contains("no prepared statement"), e2.getMessage)
      a.close(); b.close()
    }
  }

  test("conf-mapped session properties scope to the statement, not the JVM") {
    Seq("SET SESSION task_concurrency = '7'",
      "SET SESSION task_concurrency = '7';",
      "-- tune\nSET SESSION task_concurrency = '7'").foreach { set =>
      val a = connect()
      a.createStatement().execute(set)
      assert(showSession(a)("task_concurrency") == "7", set)
      // the query plans on a scoped child session with the override...
      val rs = a.createStatement().executeQuery(
        "SELECT n_regionkey AS r, count(*) AS n FROM nation GROUP BY n_regionkey ORDER BY r")
      var rows = 0
      while (rs.next()) rows += 1
      assert(rows == 5)
      // ...and the shared session's conf is untouched
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
      // ...and so is the in-process front door's (JVM-global) session
      val inProc = sqlx.TrinoDialect.sql(spark, sfDir, "SHOW SESSION")
        .collect().map(r => r.getString(0)).toSet
      assert(!inProc.contains("task_concurrency"), set)
      a.close()
    }
  }

  /** An unqualified `name` does not resolve in-process: the in-process
    * front door's current schema is still `default`. */
  private def unresolvedInProcess(name: String): Boolean = {
    val e = intercept[Exception](
      sqlx.TrinoDialect.sql(spark, sfDir, s"SELECT v FROM $name").collect())
    e.getMessage.contains(name)
  }

  test("USE travels as X-Trino-Set-Schema and scopes table resolution") {
    Seq("USE sess_sch", "/* app */ USE sess_sch", "USE sess_sch;").foreach { use =>
      val a = connect()
      val b = connect()
      a.createStatement().execute("CREATE SCHEMA IF NOT EXISTS sess_sch")
      a.createStatement().execute(use)
      assert(a.getSchema == "sess_sch")
      a.createStatement().execute(
        "CREATE OR REPLACE TABLE sess_t AS SELECT 42 AS v")
      // A resolves unqualified through its session schema; B must qualify
      val ra = a.createStatement().executeQuery("SELECT v FROM sess_t")
      assert(ra.next() && ra.getLong("v") == 42L)
      val rb = b.createStatement().executeQuery("SELECT v FROM sess_sch.sess_t")
      assert(rb.next() && rb.getLong("v") == 42L)
      assert(b.getSchema == "default")
      assert(unresolvedInProcess("sess_t"), use)
      a.close(); b.close()
    }
  }

  test("EXECUTE of a session statement is refused; global state is unchanged") {
    val setup = connect()
    setup.createStatement().execute("CREATE SCHEMA IF NOT EXISTS sess_sch")
    setup.createStatement().execute("USE sess_sch")
    setup.createStatement().execute("CREATE OR REPLACE TABLE sess_x AS SELECT 7 AS v")
    setup.close()
    val a = connect()
    val e = intercept[java.sql.SQLException] {
      a.createStatement().execute("EXECUTE IMMEDIATE 'USE sess_sch'")
    }
    assert(e.getMessage.contains("USE sess_sch"), e.getMessage)
    assert(a.getSchema == "default")
    assert(unresolvedInProcess("sess_x"))
    a.close()
  }
}
