package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sqlx.SqlAst.{ControlBody, GuestBody, ReturnBody, RoutineDef}

/** SQL routines — the routines SqlParser reads from `CREATE FUNCTION`
  * and `WITH FUNCTION` heads (reference: core/trino-main/src/main/java/io/
  * trino/execution/CreateFunctionTask.java, sql/routine/
  * SqlRoutineCompiler.java).
  *
  * Spark 4 ships native SQL scalar UDFs with the same shape, so a `RETURN
  * expr` body compiles through Catalyst like any expression (inlined and
  * codegen'd at call sites — the same end state as the reference's bytecode
  * compilation of routines). This layer adapts the reference's dialect:
  *
  *  - drops the routine characteristics Spark doesn't take ([NOT]
  *    DETERMINISTIC, RETURNS NULL ON NULL INPUT, CALLED ON NULL INPUT,
  *    SECURITY DEFINER/INVOKER, COMMENT '…')
  *  - maps parameter/return types to Spark vocabulary
  *    (RoutineLang.sparkTypeDdl: varchar → string, array(t) → array<t>, …)
  *  - lowers the RETURN body through the front-door AST passes, so
  *    reference function names (strpos, format, …) work inside routines
  *  - hands control-statement bodies to RoutineLang and LANGUAGE PYTHON
  *    bodies to PythonFunctions
  *  - registers as a session (TEMPORARY) function — the session-scope
  *    analogue of the reference's catalog-stored routines.
  */
object SqlRoutines {

  /** Original DDL text per routine (lowercase name), surfaced by
    * SHOW CREATE FUNCTION (reference stores the original SQL in its
    * routine metadata). */
  private val definitions = scala.collection.concurrent.TrieMap[String, String]()
  def definitionOf(name: String): Option[String] = definitions.get(name.toLowerCase)
  /** DROP FUNCTION bookkeeping: forget the stored DDL text (the session
    * registry entry is dropped by the caller via Spark DDL). */
  def unregister(name: String): Unit = { definitions.remove(name.toLowerCase); () }
  private[functions] def record(name: String, text: String): Unit =
    definitions(name.toLowerCase) = text.trim

  /** Strip the common leading indentation from a $$-quoted guest body
    * (reference TestPythonFunctions `testStripIndent`). */
  private def dedent(body: String): String = {
    val lines = body.linesIterator.toVector
    val indents = lines.filter(_.trim.nonEmpty).map(_.takeWhile(_ == ' ').length)
    val cut = if (indents.isEmpty) 0 else indents.min
    lines.map(l => if (l.length >= cut) l.substring(cut) else l).mkString("\n")
  }

  /** `… LANGUAGE PYTHON [WITH (handler='…')] AS $$…$$` (reference:
    * plugin/trino-functions-python). Registers the guest body through
    * PythonFunctions' worker-subprocess engine; the handler property
    * defaults to the function name, as in the reference. */
  private def createPython(spark: SparkSession, r: RoutineDef,
      handler: Option[String], code: String): DataFrame = {
    // Trust-model divergence from the reference (documented): the reference
    // runs guest code in an embedded WASM CPython sandbox; here the guest
    // runs in a plain local python3 subprocess with full process privileges.
    // Therefore LANGUAGE PYTHON is ADMIN-ONLY when the statement server
    // enforces access control: an enforced (non-admin) SQL user must not be
    // able to reach arbitrary host code execution through CREATE FUNCTION.
    // Admins and in-process callers carry no enforced identity — unchanged.
    graft.sqlx.SessionContext.enforcedUser.foreach { u =>
      throw new graft.sqlx.AccessDeniedException(
        s"Cannot create function ${r.name}: LANGUAGE PYTHON requires " +
          s"administrative privileges (user '$u' is grant-enforced; the " +
          "guest engine is not sandboxed in this build)")
    }
    try PythonFunctions.register(spark, r.name, dedent(code),
      handler.getOrElse(r.name), r.params.map(_._2), r.returns)
    catch {
      case e: IllegalStateException => throw new IllegalArgumentException(
        s"Invalid function '${r.name}': ${e.getMessage}", e)
    }
    spark.emptyDataFrame
  }

  /** Register `r` as a session function. */
  def create(spark: SparkSession, r: RoutineDef): DataFrame = {
    // a (re)defined routine changes what a cached plan would compute;
    // the bump AFTER registration (finally) is the critical one — a plan
    // analyzed concurrently with it must not survive the new epoch
    graft.sqlx.PlanCache.invalidate()
    try createRoutine(spark, r)
    finally graft.sqlx.PlanCache.invalidate()
  }

  private def createRoutine(spark: SparkSession, r: RoutineDef): DataFrame = {
    val (language, form) =
      if (r.body.isInstanceOf[GuestBody]) ("PYTHON", "an AS $$…$$")
      else ("SQL", "a RETURN or control")
    require(r.language.getOrElse("SQL") == language,
      s"CREATE FUNCTION ${r.name}: $form body needs LANGUAGE $language")
    record(r.name, r.text)
    r.body match {
      case GuestBody(handler, code) => createPython(spark, r, handler, code)
      // procedural body (BEGIN/IF/CASE/WHILE/REPEAT/LOOP …) —
      // SqlBase.g4:995 controlStatement, handled by RoutineLang
      case ControlBody(raw) =>
        RoutineLang.register(spark, r.name, r.params, r.returns, raw)
        spark.emptyDataFrame
      case ReturnBody(e) =>
        val params = r.params.map { case (n, t) => s"$n ${RoutineLang.sparkTypeDdl(t)}" }
        spark.sql(
          s"CREATE OR REPLACE TEMPORARY FUNCTION ${r.name}(${params.mkString(", ")}) " +
            s"RETURNS ${RoutineLang.sparkTypeDdl(r.returns)} " +
            s"RETURN ${graft.sqlx.SqlFrontend.lowerExpr(e)}")
    }
  }
}
