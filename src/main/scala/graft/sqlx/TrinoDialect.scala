package graft.sqlx

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Trino-dialect entry point (SURVEY.md §3 "sqlx/"): accepts SQL text in
  * the reference's dialect and runs it on Spark.
  *
  * The reference parses its dialect with one grammar
  * (core/trino-grammar/src/main/antlr4/io/trino/grammar/sql/SqlBase.g4);
  * so does this engine. Every statement is parsed once by SqlParser, then
  * dispatched on its AST: non-queries to Statements (DML/DDL/SHOW/PREPARE
  * heads), queries through the plan cache to SqlFrontend (rewrite passes,
  * planning of MATCH_RECOGNIZE / row-pattern windows / table functions, and
  * rendering to Spark SQL for Catalyst). A text the grammar rejects is a
  * SqlParseException — there is no second, textual parse. What lives here:
  * the CREATE FUNCTION / WITH FUNCTION routing, the session's PREPARE
  * registry, and the literal-aware `?` binding and DESCRIBE INPUT/OUTPUT
  * that the PREPARE family needs.
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
    if (graft.functions.SqlRoutines.isCreateFunction(text))
      graft.functions.SqlRoutines.create(spark, text)
    else sqlDirect(spark, dir, text, parsed)
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

  /** DESCRIBE INPUT (reference execution/DescribeInputTask.java): lists `?`
    * positions; types are 'unknown' — the reference also reports unknown
    * absent coercion context. */
  private[sqlx] def describeInput(spark: SparkSession, stmt: String): DataFrame = {
    val masked = maskLiterals(stmt)
    val rows = masked.zipWithIndex.collect { case ('?', _) => "unknown" }
      .zipWithIndex.map { case (t, i) => org.apache.spark.sql.Row(i + 1, t) }
    spark.createDataFrame(java.util.List.copyOf(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows.toSeq).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("position",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("type",
          org.apache.spark.sql.types.StringType, nullable = false))))
  }

  /** DESCRIBE OUTPUT (reference execution/DescribeOutputTask.java): plans
    * the statement WITHOUT executing it — `?` bound to NULL — and reports
    * the output schema; DML heads as the single `rows bigint` column. */
  private[sqlx] def describeOutput(spark: SparkSession, dir: String,
      stmt: String): DataFrame = {
    val masked = maskLiterals(stmt)
    val bound = stmt.indices.map(i =>
      if (masked(i) == '?') "NULL" else stmt(i).toString).mkString
    graft.sources.Tables.registerAll(spark, dir)
    graft.functions.Registry.registerAll(spark)
    val schema = new SqlParser(bound).parseStatement() match {
      case SqlAst.QueryStmt(q) =>
        spark.sql(SqlFrontend.renderQuery(SqlFrontend.planQuery(
          spark, dir, SqlFrontend.rewriteQuery(q)))).schema
      case _ => org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("rows",
          org.apache.spark.sql.types.LongType, nullable = false)))
    }
    val rows = schema.fields.toSeq.map(f =>
      org.apache.spark.sql.Row(f.name, f.dataType.simpleString))
    spark.createDataFrame(java.util.List.copyOf(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("column_name",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("type",
          org.apache.spark.sql.types.StringType, nullable = false))))
  }

  /** Splice pre-rendered argument texts into `?` markers (literal-aware). */
  private[sqlx] def bindArgs(stmt: String, args: Seq[String]): String = {
    val masked = maskLiterals(stmt)
    val out = new StringBuilder
    var argIdx = 0
    for (i <- stmt.indices) {
      if (masked(i) == '?') {
        require(argIdx < args.length, s"EXECUTE: not enough USING arguments for '$stmt'")
        out.append(args(argIdx)); argIdx += 1
      } else out.append(stmt(i))
    }
    require(argIdx == args.length,
      s"EXECUTE: ${args.length} USING arguments but $argIdx parameter markers")
    out.toString
  }

  /** Front door: the recursive-descent parser (graft.sqlx.SqlParser) with
    * rewrites as AST passes (SqlFrontend) — dialect features compose at any
    * nesting depth. */
  private def sqlDirect(spark: SparkSession, dir: String, text: String,
      parsed: Option[SqlAst.Statement]): DataFrame = {
    graft.sources.Tables.registerAll(spark, dir)
    graft.functions.Registry.registerAll(spark)
    // WITH FUNCTION f(...) RETURNS t RETURN e [, FUNCTION ...] <query>
    // (SqlBase.g4 functionSpecification at query head): register each
    // inline routine through the CREATE FUNCTION path, then run the query.
    // Scope subset: temporary-function (session) rather than
    // statement-local — the nearest Spark scoping.
    if ("(?is)^\\s*WITH\\s+FUNCTION\\b".r.findFirstIn(text).isDefined) {
      val (defs, query) = splitInlineFunctions(text)
      defs.foreach(d => graft.functions.SqlRoutines.create(spark, "CREATE " + d))
      return sqlDirect(spark, dir, query, None)
    }
    val st = parsed.getOrElse(new SqlParser(text).parseStatement())
    Statements.accessCheck(st)
    st match {
      // query path: prepared-plan cache (r19) — repeated statement text in
      // the same session/context/epoch skips rewrite + analysis; execution
      // still runs from the parquet inputs on every action
      case SqlAst.QueryStmt(q) =>
        PlanCache.cached(spark, dir, text)(SqlFrontend.run(spark, dir, q))
      case other => Statements.execute(spark, dir, other) // DML/EXPLAIN/SHOW/…
    }
  }

  /** Split `WITH FUNCTION d1 [, FUNCTION d2 ...] <query>` into the routine
    * definitions and the query text. The query begins at the first
    * depth-0 SELECT/VALUES/TABLE keyword after a definition's RETURN body
    * (subqueries in bodies stay parenthesized, so depth-0 is unambiguous);
    * `, FUNCTION` at depth 0 starts the next definition. */
  private def splitInlineFunctions(text: String): (Seq[String], String) = {
    val afterWith = text.replaceFirst("(?is)^\\s*WITH\\s+", "")
    val defs = scala.collection.mutable.ArrayBuffer[String]()
    var rest = afterWith
    val queryHeads = Set("SELECT", "VALUES", "TABLE", "WITH")
    while ("(?is)^FUNCTION\\b".r.findFirstIn(rest).isDefined) {
      var i = 0; var depth = 0; var inQ = false
      var cut = -1; var sawReturn = false
      while (cut < 0 && i < rest.length) {
        val c = rest.charAt(i)
        if (!inQ && c == '$' && i + 1 < rest.length && rest.charAt(i + 1) == '$') {
          // LANGUAGE PYTHON body: $$…$$ is opaque (may hold quotes/parens/
          // keywords); its end completes the definition like RETURN does
          val close = rest.indexOf("$$", i + 2)
          require(close >= 0, "WITH FUNCTION: unterminated $$ body")
          i = close + 1
          sawReturn = true
        }
        else if (c == '\'') inQ = !inQ
        else if (!inQ && (c == '(')) depth += 1
        else if (!inQ && (c == ')')) depth -= 1
        else if (!inQ && depth == 0 && (c.isLetter || c == ',')) {
          if (c == ',') {
            // `, FUNCTION` at depth 0 → next definition
            val after = rest.substring(i + 1).dropWhile(_.isWhitespace)
            if (sawReturn && after.toUpperCase.startsWith("FUNCTION")) cut = i - 1
          } else {
            val word = rest.substring(i).takeWhile(ch => ch.isLetterOrDigit || ch == '_')
            val up = word.toUpperCase
            if (up == "RETURN") sawReturn = true
            else if (sawReturn && queryHeads(up) &&
                (i == 0 || rest.charAt(i - 1).isWhitespace)) cut = i - 1
            i += math.max(0, word.length - 1)
          }
        }
        i += 1
      }
      require(cut >= 0, "WITH FUNCTION: could not find the query after the definitions")
      defs += rest.substring(0, cut + 1).trim
      rest = rest.substring(cut + 1).dropWhile(_.isWhitespace)
      if (rest.startsWith(",")) rest = rest.substring(1).dropWhile(_.isWhitespace)
    }
    require(defs.nonEmpty, "WITH FUNCTION: no definitions parsed")
    (defs.toSeq, rest)
  }

  // ------------------------------------------------------------- masking

  /** Same-length shadow of `s` with every character INSIDE string literals
    * ('…', with '' escapes) and double-quoted identifiers replaced by \\u0001.
    * `?` binding and DESCRIBE INPUT search the mask; slices for output are
    * taken from the original. */
  private[sqlx] def maskLiterals(s: String): String = {
    val out = s.toCharArray
    var i = 0
    while (i < s.length) {
      s(i) match {
        case '\'' =>
          i += 1
          var done = false
          while (i < s.length && !done) {
            if (s(i) == '\'') {
              if (i + 1 < s.length && s(i + 1) == '\'') { out(i) = '\u0001'; out(i + 1) = '\u0001'; i += 2 }
              else { done = true; i += 1 }
            } else { out(i) = '\u0001'; i += 1 }
          }
        case '"' =>
          i += 1
          while (i < s.length && s(i) != '"') { out(i) = '\u0001'; i += 1 }
          if (i < s.length) i += 1
        case _ => i += 1
      }
    }
    new String(out)
  }
}
