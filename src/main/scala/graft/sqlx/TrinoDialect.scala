package graft.sqlx

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}

/** Trino-dialect entry point (SURVEY.md §3 "sqlx/"): accepts SQL text in
  * the reference's dialect and runs it on Spark.
  *
  * The reference parses its dialect with one grammar
  * (core/trino-grammar/src/main/antlr4/io/trino/grammar/sql/SqlBase.g4);
  * so does this engine. Every statement is parsed once by SqlParser, then
  * dispatched on its AST: queries through the plan cache to SqlFrontend
  * (rewrite passes, planning of MATCH_RECOGNIZE / row-pattern windows /
  * table functions, and rendering to Spark SQL for Catalyst), routines
  * (CREATE FUNCTION, a WITH FUNCTION head) to SqlRoutines, everything else
  * to Statements. A text the grammar rejects is a SqlParseException — there
  * is no second, textual parse. EXECUTE parses the prepared text with its
  * `?` markers bound to the USING arguments and dispatches the bound
  * statement the same way. What lives here: that dispatch, the session's
  * PREPARE registry, and DESCRIBE INPUT/OUTPUT.
  */
object TrinoDialect {

  // PREPARE/EXECUTE/DEALLOCATE statement registry (reference:
  // execution/PrepareTask.java, DeallocateTask.java, grammar EXECUTE …
  // USING) for in-process callers. Session-scope in the reference; the
  // statement server keeps it so too (X-Trino-Prepared-Statement headers,
  // and Statements refuses PREPARE/DEALLOCATE under a request context), so
  // only in-process callers share this JVM-wide map.
  private val prepared = scala.collection.concurrent.TrieMap[String, String]()

  /** Execute Trino-dialect SQL against the fixture catalog at `dir`.
    * `parsed` is `text`'s AST when the caller has parsed it already (the
    * statement server parses each request once); None parses here. */
  def sql(spark: SparkSession, dir: String, text: String,
      parsed: Option[SqlAst.Statement] = None): DataFrame = {
    Statements.logQuery(text) // system.runtime.queries history
    graft.sources.Tables.registerAll(spark, dir)
    graft.functions.Registry.registerAll(spark)
    run(spark, dir, text, parsed.getOrElse(new SqlParser(text).parseStatement()))
  }

  /** Dispatch one parsed statement; `key` identifies it in the plan cache. */
  private def run(spark: SparkSession, dir: String, key: String,
      st: SqlAst.Statement): DataFrame = {
    Statements.accessCheck(st)
    st match {
      // query path: prepared-plan cache (r19) — repeated statement text in
      // the same session/context/epoch skips rewrite + analysis; execution
      // still runs from the parquet inputs on every action
      case SqlAst.QueryStmt(q) =>
        PlanCache.cached(spark, dir, key)(SqlFrontend.run(spark, dir, q))
      case SqlAst.CreateFunctionStmt(r) => graft.functions.SqlRoutines.create(spark, r)
      // WITH FUNCTION … <query>: register each inline routine, then run the
      // query (uncached: registering bumps the plan-cache epoch anyway).
      // Scope subset: temporary-function (session) rather than
      // statement-local — the nearest Spark scoping.
      case SqlAst.WithFunctionStmt(routines, q) =>
        routines.foreach(graft.functions.SqlRoutines.create(spark, _))
        SqlFrontend.run(spark, dir, q)
      // the bound statement is keyed on the prepared text plus its
      // arguments; NUL never occurs in a text the lexer accepts
      case SqlAst.ExecuteStmt(target, args) =>
        val text = target.fold(preparedStatement, identity)
        run(spark, dir, ("EXECUTE" +: text +: args.map(_.toString)).mkString("\u0000"),
          bind(text, args))
      case other => Statements.execute(spark, dir, other) // DML/EXPLAIN/SHOW/…
    }
  }

  /** Named-statement registry lookup. A request-scoped
    * `X-Trino-Prepared-Statement` header (stateless-server protocol)
    * shadows the JVM-global registry. */
  private[sqlx] def preparedStatement(name: String): String =
    SessionContext.preparedOverride(name)
      .orElse(prepared.get(name))
      .getOrElse(
        throw new IllegalArgumentException(s"no prepared statement '$name'"))

  private[sqlx] def storePrepared(name: String, stmt: String): Unit =
    prepared(name) = stmt.trim

  private[sqlx] def dropPrepared(name: String): Unit =
    if (prepared.remove(name).isEmpty)
      throw new IllegalArgumentException(s"no prepared statement '$name'")

  /** `text` parsed with its `?` markers bound to `args` in order (NULL past
    * the last), and the number of markers. */
  private def parseBound(text: String, args: Seq[SqlAst.Expr]): (SqlAst.Statement, Int) = {
    val parser = new SqlParser(text, Some(args))
    (parser.parseStatement(), parser.parameterCount)
  }

  /** EXECUTE … USING: one argument per marker. */
  private def bind(text: String, args: Seq[SqlAst.Expr]): SqlAst.Statement = {
    val (st, markers) = parseBound(text, args)
    require(markers >= args.length,
      s"EXECUTE: ${args.length} USING arguments but $markers parameter markers")
    require(markers <= args.length, s"EXECUTE: not enough USING arguments for '$text'")
    st
  }

  private def frame(spark: SparkSession, rows: Seq[Row],
      cols: (String, DataType)*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(cols.map { case (n, t) => StructField(n, t, nullable = false) }))

  /** DESCRIBE INPUT (reference execution/DescribeInputTask.java): lists the
    * `?` positions; types are 'unknown' — the reference also reports
    * unknown absent coercion context. */
  private[sqlx] def describeInput(spark: SparkSession, stmt: String): DataFrame =
    frame(spark, (1 to parseBound(stmt, Nil)._2).map(Row(_, "unknown")),
      "position" -> IntegerType, "type" -> StringType)

  /** DESCRIBE OUTPUT (reference execution/DescribeOutputTask.java): plans
    * the statement WITHOUT executing it — `?` bound to NULL — and reports
    * the output schema; DML heads as the single `rows bigint` column. */
  private[sqlx] def describeOutput(spark: SparkSession, dir: String,
      stmt: String): DataFrame = {
    graft.sources.Tables.registerAll(spark, dir)
    graft.functions.Registry.registerAll(spark)
    val schema = parseBound(stmt, Nil)._1 match {
      case SqlAst.QueryStmt(q) =>
        spark.sql(SqlFrontend.renderQuery(SqlFrontend.planQuery(
          spark, dir, SqlFrontend.rewriteQuery(q)))).schema
      case _ => StructType(Seq(StructField("rows", LongType, nullable = false)))
    }
    frame(spark, schema.fields.toSeq.map(f => Row(f.name, f.dataType.simpleString)),
      "column_name" -> StringType, "type" -> StringType)
  }
}
