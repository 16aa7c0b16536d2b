package graft

import graft.sqlx.TrinoDialect

/** LANGUAGE PYTHON functions (reference plugin/trino-functions-python,
  * TestPythonFunctions.java): inline WITH FUNCTION, durable CREATE FUNCTION,
  * handler defaulting, strip-indent, error shapes, type bridge. */
class PythonFunctionSpec extends SparkSpec {

  private def run(sql: String) = TrinoDialect.sql(spark, sfDir, sql)

  test("inline WITH FUNCTION … LANGUAGE PYTHON evaluates per row") {
    val rows = run(
      """WITH FUNCTION my_func(x bigint)
         RETURNS bigint
         LANGUAGE PYTHON
         WITH (handler = 'twice')
         AS $$
         def twice(x):
             return x * 2
         $$
         SELECT my_func(n_nationkey) AS v FROM nation WHERE n_nationkey = 21""")
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(42L))
  }

  test("handler defaults to the function name; strings and state-free reuse") {
    val rows = run(
      """WITH FUNCTION shout(s varchar)
         RETURNS varchar
         LANGUAGE PYTHON
         AS $$
         def shout(s):
             return s.upper() + '!'
         $$
         SELECT shout(n_name) AS v FROM nation WHERE n_nationkey < 3 ORDER BY v""")
      .collect().map(_.getString(0)).toSeq
    assert(rows.size == 3 && rows.forall(_.endsWith("!")))
    assert(rows == rows.sorted)
    // the $$ body is opaque to the SQL lexer: quotes, ? and -- pass through
    val opaque = run(
      """WITH FUNCTION py_opaque(s varchar)
         RETURNS varchar
         LANGUAGE PYTHON
         AS $$
         def py_opaque(s):
             # isn't this -- a comment? yes
             return s + '?' + "--" + "'"
         $$
         SELECT py_opaque('x') AS v""").collect()
    assert(opaque.head.getString(0) == "x?--'")
  }

  test("grant-enforced users cannot CREATE FUNCTION LANGUAGE PYTHON") {
    // the guest engine is an unsandboxed subprocess (divergence from the
    // reference's WASM CPython, documented in SqlRoutines): reaching it
    // must require an unenforced (admin / in-process) identity
    import graft.sqlx.SessionContext
    val e = intercept[graft.sqlx.AccessDeniedException] {
      SessionContext.within(SessionContext.Ctx(
        user = Some("alice"), enforce = true)) {
        run("CREATE FUNCTION py_evil(x bigint) RETURNS bigint " +
          "LANGUAGE PYTHON AS $$\ndef py_evil(x):\n    return x\n$$")
      }
    }
    assert(e.getMessage.contains("administrative privileges"))
  }

  test("guest stderr flood cannot deadlock the worker") {
    // >64 KiB to stderr would fill the pipe and hang the interpreter if
    // the JVM never drained it (stderr is redirected to DISCARD)
    val rows = run(
      """WITH FUNCTION noisy(x bigint)
         RETURNS bigint
         LANGUAGE PYTHON
         AS $$
         import sys
         def noisy(x):
             sys.stderr.write('y' * 200000)
             sys.stderr.flush()
             return x + 1
         $$
         SELECT noisy(n_nationkey) AS v FROM nation WHERE n_nationkey < 2 ORDER BY v""")
      .collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(1L, 2L))
  }

  test("CREATE FUNCTION LANGUAGE PYTHON persists for later statements") {
    run("CREATE FUNCTION py_add3(a bigint, b bigint, c bigint) RETURNS bigint " +
      "LANGUAGE PYTHON WITH (handler = 'add3') AS $$\n" +
      "def add3(a, b, c):\n" +
      "    return a + b + c\n" +
      "$$")
    val v = run("SELECT py_add3(1, 2, 3) AS v").collect().head.getLong(0)
    assert(v == 6L)
  }

  test("array arguments and array returns bridge through") {
    val rows = run(
      """WITH FUNCTION py_revsum(xs array(bigint))
         RETURNS bigint
         LANGUAGE PYTHON
         WITH (handler = 'revsum')
         AS $$
         def revsum(xs):
             return sum(xs)
         $$
         SELECT py_revsum(ARRAY[1, 2, 3, 4]) AS v""").collect()
    assert(rows.head.getLong(0) == 10L)
  }

  test("missing handler raises the reference error shape at registration") {
    val e = intercept[IllegalArgumentException](run(
      """WITH FUNCTION my_func(x bigint)
         RETURNS bigint
         LANGUAGE PYTHON
         WITH (handler = 'bad')
         AS $$
         def twice(x):
             return x * 2
         $$
         SELECT my_func(13) AS v"""))
    assert(e.getMessage.contains("Python error:"), e.getMessage)
    assert(e.getMessage.contains("module 'guest' has no attribute 'bad'"), e.getMessage)
    assert(e.getMessage.contains("Cannot find function 'bad' in 'guest'"), e.getMessage)
  }

  test("syntax error in the guest body raises at registration") {
    val e = intercept[IllegalArgumentException](run(
      """WITH FUNCTION my_func(x bigint)
         RETURNS bigint
         LANGUAGE PYTHON
         WITH (handler = 'twice')
         AS $$
         defxxx twice(x):
             return x * 2
         $$
         SELECT my_func(13) AS v"""))
    assert(e.getMessage.contains("SyntaxError"), e.getMessage)
    assert(e.getMessage.contains("Failed to load Python module 'guest'"), e.getMessage)
  }

  test("runtime python exception carries the traceback") {
    val e = intercept[Exception](run(
      """WITH FUNCTION divz(x bigint)
         RETURNS bigint
         LANGUAGE PYTHON
         WITH (handler = 'divz')
         AS $$
         def divz(x):
             return x / 0
         $$
         SELECT divz(n_nationkey) AS v FROM nation""").collect())
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("ZeroDivisionError") || msg.contains("Python error"), msg)
  }

  test("worker reuse: many rows through one function stay consistent") {
    val rows = run(
      """WITH FUNCTION py_len(s varchar)
         RETURNS integer
         LANGUAGE PYTHON
         WITH (handler = 'strlen')
         AS $$
         def strlen(s):
             return len(s)
         $$
         SELECT o_orderkey, py_len(o_orderpriority) AS v
         FROM orders WHERE o_orderkey <= 200""").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(1) > 0))
  }
}
