package graft

import java.nio.charset.StandardCharsets
import java.util.concurrent.CopyOnWriteArrayList

import scala.jdk.CollectionConverters._

import graft.sqlx.{AccessDeniedException, OpaPolicy, SessionContext, TrinoDialect}

/** OPA access control over the agent's Data API: decision envelopes POST
  * to the policy URI, allow/deny enforce on the front door, unreachable
  * agents fail closed (reference plugin/trino-opa). */
class OpaPolicySpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  // loopback agent: decodes the reference envelope, answers a canned rego
  // policy (alice may read any table; everyone else denied; writes denied)
  private val requests = new CopyOnWriteArrayList[String]()
  private lazy val agent = {
    val s = graft.server.LoopbackHttp.create()
    s.createContext("/v1/data/trino/allow", new com.sun.net.httpserver.HttpHandler {
      override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        requests.add(body)
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        val in = JsonMethods.parse(body) \ "input"
        val JString(user) = (in \ "context" \ "identity" \ "user"): @unchecked
        val JString(op) = (in \ "action" \ "operation"): @unchecked
        val allow = user == "alice" && op == "SelectFromColumns"
        val resp = s"""{"result":$allow}""".getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(200, resp.length.toLong)
        ex.getResponseBody.write(resp)
        ex.close()
      }
    })
    s.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(2, r => {
      val t = new Thread(r, "opa-agent"); t.setDaemon(true); t
    }))
    val st = new Thread(() => s.start()); st.setDaemon(true); st.start(); st.join()
    s
  }

  override def afterAll(): Unit = {
    OpaPolicy.clear()
    agent.stop(0)
  }

  private def as[A](user: String)(f: => A): A =
    SessionContext.within(SessionContext.Ctx(user = Some(user), enforce = true))(f)

  test("decision envelope carries identity, operation, and table resource") {
    OpaPolicy.configure(
      s"http://127.0.0.1:${agent.getAddress.getPort}/v1/data/trino/allow")
    requests.clear()
    as("alice") {
      TrinoDialect.sql(spark, sfDir, "SELECT count(*) AS n FROM nation").collect()
    }
    val sent = requests.asScala.toVector
    assert(sent.nonEmpty)
    assert(sent.head.contains(""""user":"alice""""))
    assert(sent.head.contains(""""operation":"SelectFromColumns""""))
    assert(sent.head.contains(""""tableName""""))
  }

  test("allowed user reads; denied user gets the reference error shape") {
    OpaPolicy.configure(
      s"http://127.0.0.1:${agent.getAddress.getPort}/v1/data/trino/allow")
    as("alice") {
      assert(TrinoDialect.sql(spark, sfDir,
        "SELECT count(*) AS n FROM nation").collect().head.getLong(0) == 25L)
    }
    val e = intercept[AccessDeniedException] {
      as("mallory") {
        TrinoDialect.sql(spark, sfDir, "SELECT count(*) AS n FROM nation").collect()
      }
    }
    assert(e.getMessage.startsWith("Access Denied:"))
  }

  test("writes hit the agent with DML operations and deny") {
    OpaPolicy.configure(
      s"http://127.0.0.1:${agent.getAddress.getPort}/v1/data/trino/allow")
    requests.clear()
    intercept[AccessDeniedException] {
      as("alice") {
        TrinoDialect.sql(spark, sfDir, "DELETE FROM nation WHERE n_nationkey = 0")
      }
    }
    assert(requests.asScala.exists(_.contains(""""operation":"DeleteFromTable"""")))
  }

  test("an unreachable agent fails closed") {
    OpaPolicy.configure("http://127.0.0.1:1/v1/data/trino/allow") // nothing there
    intercept[AccessDeniedException] {
      as("alice") {
        TrinoDialect.sql(spark, sfDir, "SELECT count(*) AS n FROM nation").collect()
      }
    }
    OpaPolicy.clear()
  }

  test("unconfigured agent leaves the built-in grant checks in force") {
    OpaPolicy.clear()
    // no grants for this user → deny by the built-in path, no HTTP involved
    intercept[AccessDeniedException] {
      as("nobody") {
        TrinoDialect.sql(spark, sfDir, "SELECT count(*) AS n FROM nation").collect()
      }
    }
  }

  // --- OPA-defined row filters + column masks (OpaAccessControl
  //     getRowFilters/getColumnMask over the optional policy documents) ---

  // probe accounting for the shaping agent: RowSecurity memoizes agent
  // answers per statement, so a query referencing `nation` N times must
  // cost at most one rowFilters probe and one columnMask probe per column
  private val filterProbes = new java.util.concurrent.atomic.AtomicInteger(0)
  private val maskProbes = new java.util.concurrent.atomic.AtomicInteger(0)
  private val probedTables = new CopyOnWriteArrayList[String]()

  private lazy val shapingAgent = {
    val s = graft.server.LoopbackHttp.create()
    def ctx(path: String)(answer: String => String): Unit = {
      s.createContext(path, new com.sun.net.httpserver.HttpHandler {
        override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
          val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          val resp = answer(body).getBytes(StandardCharsets.UTF_8)
          ex.getResponseHeaders.set("Content-Type", "application/json")
          ex.sendResponseHeaders(200, resp.length.toLong)
          ex.getResponseBody.write(resp)
          ex.close()
        }
      })
      ()
    }
    ctx("/v1/data/trino/allow")(_ => """{"result":true}""")
    // rego policy: hank sees only region 1 of nation; others unshaped
    ctx("/v1/data/trino/rowFilters") { body =>
      filterProbes.incrementAndGet()
      probedTables.add(body)
      if (body.contains(""""user":"hank"""") && body.contains("nation"))
        """{"result":[{"expression":"n_regionkey = 1"}]}"""
      else """{"result":[]}"""
    }
    // rego policy: hank sees n_name masked to its first letter
    ctx("/v1/data/trino/columnMask") { body =>
      maskProbes.incrementAndGet()
      probedTables.add(body)
      if (body.contains(""""user":"hank"""") &&
          body.contains(""""columnName":"n_name""""))
        """{"result":{"expression":"substring(n_name, 1, 1)"}}"""
      else """{}"""
    }
    s.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(2, r => {
      val t = new Thread(r, "opa-shaping-agent"); t.setDaemon(true); t
    }))
    s.start()
    s
  }

  test("agent-defined row filters and column masks shape enforced reads") {
    val base = s"http://127.0.0.1:${shapingAgent.getAddress.getPort}/v1/data/trino"
    OpaPolicy.configure(s"$base/allow")
    OpaPolicy.configureRowFilters(s"$base/rowFilters")
    OpaPolicy.configureColumnMask(s"$base/columnMask")
    try {
      val rows = as("hank") {
        TrinoDialect.sql(spark, sfDir,
          "SELECT n_name, n_regionkey FROM nation ORDER BY n_name").collect()
      }
      assert(rows.length == 5) // the agent's filter kept region 1 only
      assert(rows.forall(_.getInt(1) == 1))
      assert(rows.forall(_.getString(0).length == 1)) // masked to initial
      // a user the policy does not name is unshaped
      val other = as("alice") {
        TrinoDialect.sql(spark, sfDir,
          "SELECT count(*) AS n FROM nation").collect().head.getLong(0)
      }
      assert(other == 25L)
    } finally {
      OpaPolicy.clear()
    }
  }

  test("agent answers are memoized per statement and metadata is never probed") {
    val base = s"http://127.0.0.1:${shapingAgent.getAddress.getPort}/v1/data/trino"
    OpaPolicy.configure(s"$base/allow")
    OpaPolicy.configureRowFilters(s"$base/rowFilters")
    OpaPolicy.configureColumnMask(s"$base/columnMask")
    try {
      filterProbes.set(0); maskProbes.set(0); probedTables.clear()
      // nation is referenced THREE times (join + scalar subquery); nation
      // has 4 columns → at most 1 rowFilters probe and 4 columnMask probes
      as("hank") {
        TrinoDialect.sql(spark, sfDir,
          """SELECT a.n_name FROM nation a JOIN nation b
            |ON a.n_nationkey = b.n_nationkey
            |WHERE a.n_regionkey <= (SELECT max(n_regionkey) FROM nation)
            |ORDER BY a.n_name""".stripMargin).collect()
      }
      assert(filterProbes.get() <= 1,
        s"rowFilters probed ${filterProbes.get()} times for one statement")
      assert(maskProbes.get() <= 4,
        s"columnMask probed ${maskProbes.get()} times for a 4-column table")
      // metadata relations are never probed
      filterProbes.set(0); maskProbes.set(0); probedTables.clear()
      as("hank") {
        TrinoDialect.sql(spark, sfDir,
          "SELECT table_name FROM information_schema.tables WHERE table_name = 'nation'").collect()
      }
      assert(!probedTables.asScala.exists(_.contains("information_schema")),
        "metadata relation was probed against the OPA agent")
    } finally {
      OpaPolicy.clear()
      shapingAgent.stop(0)
    }
  }
}
