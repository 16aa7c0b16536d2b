package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL routines — `CREATE FUNCTION … RETURNS … RETURN expr` DDL
  * (reference: core/trino-main/src/main/java/io/trino/execution/
  * CreateFunctionTask.java, sql/routine/SqlRoutineCompiler.java).
  *
  * Spark 4 ships native SQL scalar UDFs with the same shape, so the routine
  * body compiles through Catalyst like any expression (inlined and
  * codegen'd at call sites — the same end state as the reference's bytecode
  * compilation of routines). This layer adapts the reference's dialect:
  *
  *  - strips routine characteristics Spark doesn't take (LANGUAGE SQL,
  *    [NOT] DETERMINISTIC, RETURNS NULL ON NULL INPUT, CALLED ON NULL
  *    INPUT, SECURITY DEFINER/INVOKER, COMMENT '…')
  *  - maps parameter/return types to Spark vocabulary (varchar → STRING,
  *    varbinary → BINARY, real → FLOAT)
  *  - runs the RETURN body through the dialect pre-rewriter, so reference
  *    function names (strpos, format, …) work inside routine bodies
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

  private val Ddl =
    ("(?is)^\\s*CREATE\\s+(?:OR\\s+REPLACE\\s+)?FUNCTION\\s+(\\w+)\\s*\\(([^)]*)\\)\\s+" +
      "RETURNS\\s+(\\w+(?:\\s*\\(\\s*\\d+\\s*(?:,\\s*\\d+\\s*)?\\))?)\\s+(.*)$").r

  private val Characteristics =
    "(?is)^(?:LANGUAGE\\s+SQL|NOT\\s+DETERMINISTIC|DETERMINISTIC|" +
      "RETURNS\\s+NULL\\s+ON\\s+NULL\\s+INPUT|CALLED\\s+ON\\s+NULL\\s+INPUT|" +
      "SECURITY\\s+(?:DEFINER|INVOKER)|COMMENT\\s+'[^']*')\\s+"

  def isCreateFunction(text: String): Boolean =
    "(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?FUNCTION\\b".r.findFirstIn(text).isDefined

  private def mapType(t: String): String = t.trim.toLowerCase match {
    case "varchar" => "STRING"
    case v if v.startsWith("varchar(") => v.toUpperCase
    case "varbinary" => "BINARY"
    case "real" => "FLOAT"
    case other => other.toUpperCase
  }

  private val PyHandler = "(?i)handler\\s*=\\s*'([^']+)'".r
  private val PyBody = "(?is)\\bAS\\s*\\$\\$(.*)\\$\\$\\s*$".r

  /** Split a parameter list on top-level commas only (decimal(10,2) and
    * array(…) keep their inner commas). */
  private def splitParams(params: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0; val cur = new StringBuilder
    params.foreach {
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c =>
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
        cur.append(c)
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Strip the common leading indentation from a $$-quoted guest body
    * (reference TestPythonFunctions `testStripIndent`). */
  private def dedent(body: String): String = {
    val lines = body.linesIterator.toVector
    val indents = lines.filter(_.trim.nonEmpty).map(_.takeWhile(_ == ' ').length)
    val cut = if (indents.isEmpty) 0 else indents.min
    lines.map(l => if (l.length >= cut) l.substring(cut) else l).mkString("\n")
  }

  /** `CREATE FUNCTION … LANGUAGE PYTHON WITH (handler='…') AS $$…$$`
    * (reference: plugin/trino-functions-python). Registers the guest body
    * through PythonFunctions' worker-subprocess engine; the handler property
    * defaults to the function name, as in the reference. */
  private def createPython(spark: SparkSession, name: String, params: String,
      retType: String, rest: String): DataFrame = {
    // Trust-model divergence from the reference (documented): the reference
    // runs guest code in an embedded WASM CPython sandbox; here the guest
    // runs in a plain local python3 subprocess with full process privileges.
    // Therefore LANGUAGE PYTHON is ADMIN-ONLY when the statement server
    // enforces access control: an enforced (non-admin) SQL user must not be
    // able to reach arbitrary host code execution through CREATE FUNCTION.
    // Admins and in-process callers carry no enforced identity — unchanged.
    graft.sqlx.SessionContext.enforcedUser.foreach { u =>
      throw new graft.sqlx.AccessDeniedException(
        s"Cannot create function $name: LANGUAGE PYTHON requires " +
          s"administrative privileges (user '$u' is grant-enforced; the " +
          "guest engine is not sandboxed in this build)")
    }
    val handler = PyHandler.findFirstMatchIn(rest).map(_.group(1)).getOrElse(name)
    val body = PyBody.findFirstMatchIn(rest).map(m => dedent(m.group(1)))
      .getOrElse(throw new IllegalArgumentException(
        s"CREATE FUNCTION $name: LANGUAGE PYTHON needs AS $$$$…$$$$ body"))
    val paramTypes = splitParams(params).map { p =>
      val parts = p.split("\\s+", 2)
      require(parts.length == 2, s"CREATE FUNCTION $name: parameter '$p' needs <name> <type>")
      parts(1)
    }
    try PythonFunctions.register(spark, name, body, handler, paramTypes, retType)
    catch {
      case e: IllegalStateException => throw new IllegalArgumentException(
        s"Invalid function '$name': ${e.getMessage}", e)
    }
    spark.emptyDataFrame
  }

  /** Head parse with balanced-paren parameters (the Ddl regex stops at the
    * first ')', breaking on nested types like array(bigint)). Returns
    * (name, params, retType, rest). */
  private def parseHead(text: String): Option[(String, String, String, String)] = {
    val Head = "(?is)^\\s*CREATE\\s+(?:OR\\s+REPLACE\\s+)?FUNCTION\\s+(\\w+)\\s*\\(".r
    Head.findFirstMatchIn(text).flatMap { m =>
      var i = m.end; var depth = 1
      while (depth > 0 && i < text.length) {
        val c = text.charAt(i)
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
        i += 1
      }
      if (depth != 0) None
      else {
        val params = text.substring(m.end, i - 1)
        val after = text.substring(i)
        val Ret = "(?is)^\\s*RETURNS\\s+(\\w+(?:\\s*\\([\\w\\s(),]*\\))?)\\s+(.*)$".r
        Ret.findFirstMatchIn(after).map(r => (m.group(1), params, r.group(1), r.group(2)))
      }
    }
  }

  /** Lower the reference DDL onto Spark's SQL UDF DDL and execute it. */
  def create(spark: SparkSession, text: String): DataFrame = {
    // a (re)defined routine changes what a cached plan would compute;
    // the bump AFTER registration (finally) is the critical one — a plan
    // analyzed concurrently with it must not survive the new epoch
    graft.sqlx.PlanCache.invalidate()
    try createStatement(spark, text)
    finally graft.sqlx.PlanCache.invalidate()
  }

  private def createStatement(spark: SparkSession, text: String): DataFrame = text.trim match {
    case t if "(?is)\\bLANGUAGE\\s+PYTHON\\b".r.findFirstIn(t).isDefined =>
      parseHead(t) match {
        case Some((name, params, retType, rest)) =>
          record(name, text)
          createPython(spark, name, params, retType, rest)
        case None => throw new IllegalArgumentException(
          "CREATE FUNCTION … LANGUAGE PYTHON: could not parse the function head")
      }
    case Ddl(name, params, retType, rest) =>
      record(name, text)
      var tail = rest.trim
      var changed = true
      while (changed) {
        val stripped = tail.replaceFirst(Characteristics, "")
        changed = stripped != tail
        tail = stripped
      }
      if (RoutineLang.isControlBody(tail)) {
        // procedural body (BEGIN/IF/CASE/WHILE/REPEAT/LOOP/SET …) —
        // SqlBase.g4:995 controlStatement, handled by RoutineLang
        val ps = splitParams(params).map { p =>
          val parts = p.trim.split("\\s+", 2)
          require(parts.length == 2,
            s"CREATE FUNCTION $name: parameter '$p' needs <name> <type>")
          (parts(0), parts(1))
        }
        RoutineLang.register(spark, name, ps, retType, tail)
        return spark.emptyDataFrame
      }
      require(tail.toUpperCase.startsWith("RETURN"),
        s"CREATE FUNCTION $name: expected RETURN <expr>, got '${tail.take(40)}'")
      val body = graft.sqlx.SqlFrontend.lowerExprText(tail.substring("RETURN".length).trim)
      val sparkParams = params.split(",").filter(_.trim.nonEmpty).map { p =>
        val parts = p.trim.split("\\s+", 2)
        require(parts.length == 2, s"CREATE FUNCTION $name: parameter '$p' needs <name> <type>")
        s"${parts(0)} ${mapType(parts(1))}"
      }.mkString(", ")
      spark.sql(
        s"CREATE OR REPLACE TEMPORARY FUNCTION $name($sparkParams) " +
          s"RETURNS ${mapType(retType)} RETURN $body")
    case _ => throw new IllegalArgumentException(
      "CREATE FUNCTION subset: CREATE [OR REPLACE] FUNCTION name(p type, …) " +
        "RETURNS type [characteristics] RETURN expr")
  }
}
