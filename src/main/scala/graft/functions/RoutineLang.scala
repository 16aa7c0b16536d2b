package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, QueryPlanningTracker}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, AttributeSeq, BindReferences, Expression, GenericInternalRow, MutableProjection, Nondeterministic}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.types._

import graft.sqlx.{SqlFrontend, SqlLexer, SqlParseException}

/** Procedural SQL routine language — the reference's SQL/PSM control
  * statements inside `CREATE FUNCTION` bodies (reference grammar:
  * core/trino-grammar/src/main/antlr4/io/trino/grammar/sql/SqlBase.g4:995-1027
  * `controlStatement`; analysis core/trino-main/src/main/java/io/trino/sql/
  * routine/SqlRoutineAnalyzer.java; execution SqlRoutineCompiler.java, which
  * compiles the IR to JVM bytecode).
  *
  * Spark-first split, mirroring the reference's two-tier strategy:
  *
  *  - **Loop-free bodies compile to ONE Catalyst expression** via
  *    continuation-passing: `SET v = e` substitutes into the environment,
  *    `IF`/`CASE` become `CASE WHEN` with the statement continuation compiled
  *    into each branch. The routine then registers through Spark's native SQL
  *    UDF DDL, so call sites inline into whole-stage codegen — the same end
  *    state as the reference's bytecode compilation, with zero interpretation
  *    at row time.
  *  - **Loops compile to codegen'd kernels** (r15; the reference compiles
  *    ALL routine bodies, loops included, to bytecode): a LOOP/WHILE/REPEAT
  *    body (ITERATE/LEAVE only to its own label) lowers through the SAME
  *    CPS pass into one struct-valued expression
  *    `(vars', leave, has_ret, ret, until, target_label, target_iter)`,
  *    Janino-compiled via MutableProjection; per iteration the runtime
  *    evaluates one generated class and copies the variable frame — zero
  *    per-statement interpretation. NESTED loops kernelize too (r16): each
  *    inner loop compiles recursively to its own tight helper-kernel
  *    function the outer kernel calls (one frame-struct conversion per
  *    inner-loop ENTRY, one generated projection per inner iteration —
  *    compileInnerLoops). CROSS-LABEL ITERATE/LEAVE compiles too (r17):
  *    the signal's target label rides the body struct outward, each
  *    enclosing kernel dispatching it to its own iterate/leave path or
  *    carrying it further; a signal escaping the outermost kernel bridges
  *    to the interpreter's LabelSignal (labeled BEGIN blocks).
  *    `tierOf(name)` exposes the chosen tier.
  *  - **Remaining bodies interpret per row** (labeled BEGIN frames, kernel
  *    text blow-ups), but every scalar expression is parsed, analyzed and
  *    bound by Catalyst ONCE at CREATE time against the variable frame;
  *    row time only walks the control AST and calls `Expression.eval` on
  *    the pre-bound trees (no SQL parsing per row). This is the
  *    reference's interpreter tier for non-compilable routines.
  *
  * Semantics held to the reference:
  *  - `DECLARE … DEFAULT e` re-evaluates the default each time its block is
  *    entered; variables without DEFAULT start NULL.
  *  - Assignment and RETURN cast to the declared/return type.
  *  - `WHILE`/`REPEAT` conditions treat NULL as false (SQL three-valued
  *    predicates in a control position).
  *  - `ITERATE l` / `LEAVE l` target the innermost enclosing loop labeled
  *    `l`; an unmatched label is a CREATE-time error. A labeled
  *    `BEGIN … END` block is a LEAVE-only target (SqlRoutineCompiler
  *    visitBlock registers labels on compounds); ITERATE against a block
  *    label is rejected at CREATE.
  *  - Duplicate variable names (including parameter shadowing) are rejected
  *    at CREATE time, as in SqlRoutineAnalyzer.
  *  - The body must end in a RETURN statement — SqlRoutineAnalyzer
  *    validateReturn's shape-based check (the last statement of the body
  *    compound must literally be RETURN), enforced at CREATE with the
  *    reference's MISSING_RETURN message.
  *
  * Divergence (documented): runaway loops raise after
  * `graft.routine.maxSteps` iterations (default 10M) instead of running
  * until the engine-level query timeout the reference relies on.
  */
object RoutineLang {

  // ------------------------------------------------------------------ AST
  sealed trait RStmt
  final case class RReturn(expr: String) extends RStmt
  final case class RSet(name: String, expr: String) extends RStmt
  /** IF/ELSEIF chains and both CASE statement forms lower to this. */
  final case class RIf(branches: Seq[(String, Seq[RStmt])],
      els: Option[Seq[RStmt]]) extends RStmt
  final case class RIterate(label: String) extends RStmt
  final case class RLeave(label: String) extends RStmt
  final case class RDecl(names: Seq[String], tpe: String,
      default: Option[String])
  final case class RCompound(label: Option[String], decls: Seq[RDecl],
      body: Seq[RStmt]) extends RStmt
  final case class RLoop(label: Option[String], body: Seq[RStmt]) extends RStmt
  /** Pre-pass marker (r16): a NESTED loop already compiled to a registered
    * helper kernel function (compileInnerLoops). comp() lowers it to a
    * one-element `transform` lambda that binds the helper's result struct
    * ONCE — the helper runs the inner loop as its own tight codegen'd-kernel
    * iteration, so the whole nest executes with zero per-statement
    * interpretation (reference compiles every routine shape to bytecode —
    * core/trino-main/.../sql/routine/SqlRoutineCompiler.java). */
  /** `callerLabel` is the label of the loop whose BODY contains this call
    * (the dispatch target for a cross-label signal that names it);
    * iter/leave/carry templates are the caller's body-struct literals for
    * the three outcomes of a propagated ITERATE/LEAVE (r17 — cross-label
    * control now compiles; `__TL__`/`__TI__` in the carry template bind to
    * the helper result's target-label fields). */
  private final case class RKernelCall(fn: String, id: Int,
      varDdls: Seq[(String, String)], onHrTemplate: String,
      callerLabel: Option[String], iterTemplate: String,
      leaveTemplate: String, carryTemplate: String) extends RStmt
  final case class RWhile(label: Option[String], cond: String,
      body: Seq[RStmt]) extends RStmt
  final case class RRepeat(label: Option[String], body: Seq[RStmt],
      until: String) extends RStmt

  // --------------------------------------------------------------- parser
  /** Parses ONE controlStatement from `src` (SqlBase.g4:995). Expressions
    * are kept as raw source slices, terminated by the first top-level
    * `;` / THEN / DO / UNTIL-END boundary (CASE…END and parens nest). */
  private final class BodyParser(src: String) {
    import SqlLexer._
    private val tokens = SqlLexer.lex(src)
    private var p = 0
    private def peek: Token = tokens(p)
    private def peek2: Token = tokens(math.min(p + 1, tokens.length - 1))
    private def next(): Token = { val t = tokens(p); p += 1; t }
    private def err(m: String): Nothing =
      throw new SqlParseException(s"$m near '${peek.text}' (offset ${peek.pos}) in routine body")
    private def accept(kw: String): Boolean =
      if (peek.is(kw)) { p += 1; true } else false
    private def expectKw(kw: String): Unit =
      if (!accept(kw)) err(s"expected $kw")
    private def ident(what: String): String = {
      val t = next()
      if (t.kind != TIdent && t.kind != TQIdent) err(s"expected $what")
      t.text
    }

    /** Raw source slice up to (not consuming) the first top-level
      * terminator among `stops` (keyword names, or ";" for the semicolon). */
    private def exprUntil(stops: Set[String]): String = {
      val start = peek.pos
      var parens = 0
      var caseDepth = 0
      var end = -1
      while (end < 0) {
        val t = peek
        if (t.kind == TEof) err(s"routine expression ran off the end (expected ${stops.mkString(" or ")})")
        val isStop = parens == 0 && caseDepth == 0 &&
          (if (t.kind == TOp) stops.contains(t.text)
           else t.kind == TIdent && stops.contains(t.text.toUpperCase))
        if (isStop) end = t.pos
        else {
          if (t.isOp("(")) parens += 1
          else if (t.isOp(")")) parens -= 1
          else if (t.is("CASE")) caseDepth += 1
          else if (t.is("END")) {
            if (caseDepth <= 0) err("unbalanced END in routine expression")
            caseDepth -= 1
          }
          p += 1
        }
      }
      val text = src.substring(start, end).trim
      if (text.isEmpty) err("empty expression in routine body")
      text
    }

    private def expectSemi(): Unit =
      if (!peek.isOp(";")) err("expected ';'") else p += 1

    def parseStatement(): RStmt = {
      // label: LOOP|WHILE|REPEAT|BEGIN (reference SqlRoutineCompiler
      // visitBlock registers labels on compounds too — a labeled BEGIN is a
      // LEAVE target; ADVICE r14)
      val label: Option[String] =
        if ((peek.kind == TIdent || peek.kind == TQIdent) && peek2.isOp(":") &&
            !peek.is("LOOP") && !peek.is("WHILE") && !peek.is("REPEAT") &&
            !peek.is("BEGIN")) {
          val l = next().text; p += 1 // ':'
          Some(l)
        } else None
      if (label.isDefined && !(peek.is("LOOP") || peek.is("WHILE") ||
          peek.is("REPEAT") || peek.is("BEGIN")))
        err("label must precede BEGIN, LOOP, WHILE or REPEAT")

      if (accept("RETURN")) RReturn(exprUntil(Set(";")))
      else if (accept("SET")) {
        val v = ident("variable name after SET")
        if (!peek.isOp("=")) err("expected '=' in SET") else p += 1
        RSet(v, exprUntil(Set(";")))
      } else if (accept("ITERATE")) RIterate(ident("label after ITERATE"))
      else if (accept("LEAVE")) RLeave(ident("label after LEAVE"))
      else if (accept("IF")) {
        val branches = Seq.newBuilder[(String, Seq[RStmt])]
        val cond = exprUntil(Set("THEN"))
        expectKw("THEN")
        branches += ((cond, parseList(Set("ELSEIF", "ELSE", "END"))))
        while (peek.is("ELSEIF")) {
          p += 1
          val c = exprUntil(Set("THEN")); expectKw("THEN")
          branches += ((c, parseList(Set("ELSEIF", "ELSE", "END"))))
        }
        val els = if (accept("ELSE")) Some(parseList(Set("END"))) else None
        expectKw("END"); expectKw("IF")
        RIf(branches.result(), els)
      } else if (accept("CASE")) {
        // simple (CASE operand WHEN …) vs searched (CASE WHEN …)
        val operand = if (peek.is("WHEN")) None else Some(exprUntil(Set("WHEN")))
        val branches = Seq.newBuilder[(String, Seq[RStmt])]
        if (!peek.is("WHEN")) err("expected WHEN in CASE statement")
        while (accept("WHEN")) {
          val w = exprUntil(Set("THEN")); expectKw("THEN")
          val cond = operand.fold(w)(op => s"($op) = ($w)")
          branches += ((cond, parseList(Set("WHEN", "ELSE", "END"))))
        }
        val els = if (accept("ELSE")) Some(parseList(Set("END"))) else None
        expectKw("END"); expectKw("CASE")
        RIf(branches.result(), els)
      } else if (accept("BEGIN")) {
        val decls = Seq.newBuilder[RDecl]
        while (peek.is("DECLARE")) {
          p += 1
          val names = Seq.newBuilder[String]
          names += ident("variable name after DECLARE")
          while (peek.isOp(",")) { p += 1; names += ident("variable name") }
          val tpe = parseType()
          val default =
            if (accept("DEFAULT")) Some(exprUntil(Set(";"))) else None
          expectSemi()
          decls += RDecl(names.result(), tpe, default)
        }
        val body =
          if (peek.is("END")) Nil else parseList(Set("END"))
        expectKw("END")
        RCompound(label, decls.result(), body)
      } else if (accept("LOOP")) {
        val body = parseList(Set("END"))
        expectKw("END"); expectKw("LOOP")
        RLoop(label, body)
      } else if (accept("WHILE")) {
        val cond = exprUntil(Set("DO")); expectKw("DO")
        val body = parseList(Set("END"))
        expectKw("END"); expectKw("WHILE")
        RWhile(label, cond, body)
      } else if (accept("REPEAT")) {
        val body = parseList(Set("UNTIL"))
        expectKw("UNTIL")
        val until = exprUntil(Set("END"))
        expectKw("END"); expectKw("REPEAT")
        RRepeat(label, body, until)
      } else err("expected a routine control statement")
    }

    /** `(controlStatement ';')+` until one of `stops` (not consumed). */
    private def parseList(stops: Set[String]): Seq[RStmt] = {
      val out = Seq.newBuilder[RStmt]
      var done = false
      while (!done) {
        out += parseStatement()
        expectSemi()
        done = stops.exists(peek.is) || peek.kind == TEof
      }
      out.result()
    }

    /** Type with an optional balanced-paren argument list, as raw text. */
    private def parseType(): String = {
      val base = ident("type").toLowerCase
      val sb = new StringBuilder(base)
      // `double precision` two-word spelling
      if (base == "double" && peek.is("PRECISION")) { p += 1 }
      if (peek.isOp("(")) {
        var depth = 0
        var stop = false
        while (!stop) {
          val t = next()
          if (t.kind == TEof) err("unterminated type arguments")
          sb.append(if (t.kind == TStr) s"'${t.text}'" else t.text)
          if (t.isOp("(")) depth += 1
          else if (t.isOp(")")) { depth -= 1; if (depth == 0) stop = true }
          else if (depth > 0 && (t.kind == TIdent || t.kind == TNum)) sb.append(' ')
        }
      }
      sb.toString
    }

    def parse(): RStmt = {
      val s = parseStatement()
      // optional trailing ';' after the outermost statement
      if (peek.isOp(";")) p += 1
      if (peek.kind != TEof) err("trailing tokens after routine body")
      s
    }
  }

  // ----------------------------------------------------------- type names
  /** Reference type spelling → Spark DDL type string (recursive on
    * array/map/row). */
  private[functions] def sparkTypeDdl(t: String): String = {
    val s = t.trim
    val lower = s.toLowerCase
    def inner(of: String): String = {
      val i = s.indexOf('(')
      s.substring(i + 1, s.lastIndexOf(')'))
    }
    if (lower.startsWith("array(")) s"array<${sparkTypeDdl(inner(s))}>"
    else if (lower.startsWith("map(")) {
      val body = inner(s)
      // split on the top-level comma
      var depth = 0; var cut = -1
      body.zipWithIndex.foreach { case (c, i) =>
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
        else if (c == ',' && depth == 0 && cut < 0) cut = i
      }
      require(cut > 0, s"map type needs two arguments: $t")
      s"map<${sparkTypeDdl(body.substring(0, cut))},${sparkTypeDdl(body.substring(cut + 1))}>"
    } else lower match {
      case "varchar" => "string"
      case v if v.startsWith("varchar(") => "string"
      case "varbinary" => "binary"
      case "real" => "float"
      case "double precision" => "double"
      case "json" => "string"
      case other => other
    }
  }

  private def dataTypeOf(t: String): DataType =
    CatalystSqlParser.parseDataType(sparkTypeDdl(t))

  // ------------------------------------------------------------- analysis
  private final case class VarSlot(name: String, tpe: DataType, ddl: String)

  /** Collect parameters + every DECLARE into one frame; reject duplicates
    * (reference SqlRoutineAnalyzer "Variable already declared"). */
  private def collectVars(params: Seq[(String, String)], body: RStmt): Seq[VarSlot] = {
    val out = Seq.newBuilder[VarSlot]
    val seen = scala.collection.mutable.Set[String]()
    def add(n: String, t: String): Unit = {
      if (!seen.add(n.toLowerCase))
        throw new SqlParseException(s"Variable already declared: $n")
      out += VarSlot(n, dataTypeOf(t), sparkTypeDdl(t))
    }
    params.foreach { case (n, t) => add(n, t) }
    def walk(s: RStmt): Unit = s match {
      case RCompound(_, decls, b) =>
        decls.foreach(d => d.names.foreach(n => add(n, d.tpe)))
        b.foreach(walk)
      case RIf(bs, e) => bs.foreach(_._2.foreach(walk)); e.foreach(_.foreach(walk))
      case RLoop(_, b) => b.foreach(walk)
      case RWhile(_, _, b) => b.foreach(walk)
      case RRepeat(_, b, _) => b.foreach(walk)
      case _ =>
    }
    walk(body)
    out.result()
  }

  private def hasLoop(s: RStmt): Boolean = s match {
    case _: RLoop | _: RWhile | _: RRepeat => true
    // a LABELED compound is a LEAVE target — a control transfer the
    // straight-line CPS tier cannot express, so it routes to the
    // interpreter alongside loops
    case RCompound(Some(_), _, b) => true
    case RCompound(_, _, b) => b.exists(hasLoop)
    case RIf(bs, e) => bs.exists(_._2.exists(hasLoop)) || e.exists(_.exists(hasLoop))
    case _ => false
  }

  /** Reference SqlRoutineAnalyzer.validateReturn (CREATE-time, ADVICE r14):
    * the body must BE a RETURN, or be a compound whose LAST statement is a
    * RETURN — deliberately non-recursive and shape-based, exactly like the
    * reference: an IF/CASE/LOOP as the final statement is rejected even
    * when every runtime path through it returns. */
  private def validateReturn(body: RStmt): Unit = body match {
    case _: RReturn =>
    case RCompound(_, _, b) if b.lastOption.exists(_.isInstanceOf[RReturn]) =>
    case _ => throw new SqlParseException(
      "Function must end in a RETURN statement")
  }

  /** Validate ITERATE/LEAVE labels against enclosing labels. Loop labels
    * take both; a labeled BEGIN block is a LEAVE-only target (ITERATE
    * needs a loop-top to continue to — re-entering a block would re-run it
    * unconditionally). */
  private def checkLabels(s: RStmt, loops: Set[String],
      blocks: Set[String]): Unit = s match {
    case RIterate(l) if blocks.contains(l.toLowerCase) =>
      throw new SqlParseException(
        s"ITERATE $l: label names a BEGIN block (only LEAVE may target it)")
    case RIterate(l) if !loops.contains(l.toLowerCase) =>
      throw new SqlParseException(s"ITERATE $l: no enclosing loop labeled $l")
    case RLeave(l) if !loops.contains(l.toLowerCase) &&
        !blocks.contains(l.toLowerCase) =>
      throw new SqlParseException(s"LEAVE $l: no enclosing loop labeled $l")
    case RCompound(l, _, b) =>
      l.map(_.toLowerCase).foreach { x =>
        if (loops.contains(x) || blocks.contains(x))
          throw new SqlParseException(s"Label already declared in this scope: $x")
      }
      b.foreach(checkLabels(_, loops, blocks ++ l.map(_.toLowerCase)))
    case RIf(bs, e) =>
      bs.foreach(_._2.foreach(checkLabels(_, loops, blocks)))
      e.foreach(_.foreach(checkLabels(_, loops, blocks)))
    case RLoop(l, b) => enterLoop(l, b, loops, blocks)
    case RWhile(l, _, b) => enterLoop(l, b, loops, blocks)
    case RRepeat(l, b, _) => enterLoop(l, b, loops, blocks)
    case _ =>
  }

  /** Sequential label reuse is fine; NESTING the same label is rejected
    * (reference SqlRoutineAnalyzer "Label already declared in this
    * scope"). */
  private def enterLoop(l: Option[String], body: Seq[RStmt],
      loops: Set[String], blocks: Set[String]): Unit = {
    l.map(_.toLowerCase).foreach { x =>
      if (loops.contains(x) || blocks.contains(x))
        throw new SqlParseException(s"Label already declared in this scope: $x")
    }
    body.foreach(checkLabels(_, loops ++ l.map(_.toLowerCase), blocks))
  }

  // --------------------------------------------- loop-free → one expression
  /** Substitute non-parameter variables into `expr` by their current SQL
    * binding — token-positioned whole-identifier replacement, so string
    * literals, qualified names and function-call heads are never touched. */
  private def subst(expr: String, env: Map[String, String]): String = {
    import SqlLexer._
    val tokens = SqlLexer.lex(expr)
    val sb = new StringBuilder
    var last = 0
    tokens.zipWithIndex.foreach { case (t, i) =>
      val isVar = t.kind == TIdent && env.contains(t.text.toLowerCase) &&
        // not a function-call head, not a dereference part
        !(i + 1 < tokens.length && tokens(i + 1).isOp("(")) &&
        !(i > 0 && tokens(i - 1).isOp("."))
      if (isVar) {
        sb.append(expr.substring(last, t.pos))
        sb.append(env(t.text.toLowerCase))
        last = t.pos + t.text.length
      }
    }
    sb.append(expr.substring(last))
    sb.toString
  }

  /** CPS compile: the value returned by executing `stmts` then falling
    * through to the already-compiled continuation `cont` (None = falls off
    * the routine end — a CREATE-time error unless unreachable). */
  private def comp(stmts: List[RStmt], env: Map[String, String],
      types: Map[String, String], retDdl: String,
      cont: Option[String]): Option[String] = stmts match {
    case Nil => cont
    case RReturn(e) :: _ =>
      Some(s"CAST((${subst(e, env)}) AS $retDdl)")
    case RSet(v, e) :: rest =>
      val ddl = types.getOrElse(v.toLowerCase,
        throw new SqlParseException(s"SET $v: unknown variable"))
      comp(rest, env + (v.toLowerCase -> s"CAST((${subst(e, env)}) AS $ddl)"),
        types, retDdl, cont)
    case RIf(branches, els) :: rest =>
      // a path with no RETURN falls off the routine end → NULL (matching
      // the interpreter tier)
      val offEnd = s"CAST(NULL AS $retDdl)"
      val restC = comp(rest, env, types, retDdl, cont)
      def branchSql(body: Seq[RStmt]): String =
        comp(body.toList ::: rest, env, types, retDdl, cont).getOrElse(offEnd)
      val whens = branches.map { case (c, b) =>
        s"WHEN (${subst(c, env)}) THEN ${branchSql(b)}"
      }.mkString(" ")
      val elseSql = els.map(branchSql).orElse(restC).getOrElse(offEnd)
      Some(s"CASE $whens ELSE $elseSql END")
    case RCompound(None, decls, body) :: rest =>
      val env2 = decls.foldLeft(env) { (e, d) =>
        val ddl = sparkTypeDdl(d.tpe)
        d.names.foldLeft(e) { (e2, n) =>
          val init = d.default
            .map(x => s"CAST((${subst(x, e2)}) AS $ddl)")
            .getOrElse(s"CAST(NULL AS $ddl)")
          e2 + (n.toLowerCase -> init)
        }
      }
      comp(body.toList ::: rest, env2, types, retDdl, cont)
    case RKernelCall(fn, id, varDdls, onHr, callerLabel, iterT, leaveT, carryT) :: rest =>
      // bind the helper's result struct ONCE via a one-element transform
      // lambda (SQL has no LET; `element_at(transform(array(x), s -> body), 1)`
      // is the standard spelling). Inside the lambda every variable re-binds to
      // the post-loop frame; a function-level RETURN taken inside the
      // inner loop (s.hr) propagates as this kernel's own return struct; a
      // cross-label ITERATE/LEAVE (s.tl) either resolves against the
      // CALLER's own label — its iterate/leave struct — or carries further
      // out (r17).
      val lam = s"__il$id"
      val callArgs = varDdls.zipWithIndex.map { case ((n, ddl), i) =>
        s"'v$i', CAST((${env.getOrElse(n.toLowerCase, n)}) AS $ddl)"
      }.mkString(", ")
      val env2 = varDdls.zipWithIndex.map { case ((n, _), i) =>
        n.toLowerCase -> s"$lam.v$i"
      }.toMap
      val offEnd = s"CAST(NULL AS $retDdl)"
      def tmpl(t: String): String =
        comp(List(RReturn(
          t.replace("__RV__", s"$lam.rv")
            .replace("__TL__", s"$lam.tl").replace("__TI__", s"$lam.ti"))),
          env2, types, retDdl, None).getOrElse(offEnd)
      val hrSql = tmpl(onHr)
      val restSql = comp(rest, env2, types, retDdl, cont).getOrElse(offEnd)
      val labelSql = callerLabel match {
        case Some(sl) =>
          val self = sl.toLowerCase
          s"IF($lam.tl = '$self' AND $lam.ti, ${tmpl(iterT)}, " +
            s"IF($lam.tl = '$self', ${tmpl(leaveT)}, ${tmpl(carryT)}))"
        case None => tmpl(carryT)
      }
      Some(s"element_at(transform(array($fn(named_struct($callArgs))), $lam -> " +
        s"IF($lam.hr, $hrSql, IF($lam.tl IS NULL, $restSql, $labelSql))), 1)")
    case (_: RIterate | _: RLeave | _: RLoop | _: RWhile | _: RRepeat |
          RCompound(Some(_), _, _)) :: _ =>
      throw new IllegalStateException("loop construct on the compiled path")
  }

  /** Try the single-expression compile; None when the result would be
    * unreasonably large (deep SET chains can square the text). */
  private def compileStraight(body: RStmt, params: Seq[(String, String)],
      vars: Seq[VarSlot], retType: String): Option[String] = {
    val paramNames = params.map(_._1.toLowerCase).toSet
    val types = vars.map(v => v.name.toLowerCase -> v.ddl).toMap
    // parameters resolve as SQL UDF arguments — not in the substitution env
    val sql = comp(List(body), Map.empty -- paramNames, types,
      sparkTypeDdl(retType), None).getOrElse(
      throw new SqlParseException(
        "routine control may fall off the end without RETURN"))
    if (sql.length > 60000) None else Some(sql)
  }

  // ------------------------------------------------------- interpreter tier
  /** A scalar expression pre-bound to the variable frame. */
  private final case class BoundExpr(bound: Expression, dataType: DataType)
      extends Serializable

  private def compileExpr(spark: SparkSession, vars: Seq[VarSlot],
      text: String, castTo: Option[String]): BoundExpr = {
    val rewritten = SqlFrontend.lowerExprText(text)
    val wrapped = castTo.fold(rewritten)(t => s"CAST(($rewritten) AS $t)")
    val attrs: IndexedSeq[AttributeReference] = vars.map(v =>
      AttributeReference(v.name, v.tpe, nullable = true)()).toIndexedSeq
    val parsed = spark.sessionState.sqlParser.parseExpression(wrapped)
    val analyzed = spark.sessionState.analyzer.executeAndCheck(
      Project(Seq(Alias(parsed, "__r")()), LocalRelation(attrs)),
      new QueryPlanningTracker())
    val resolved = analyzed.asInstanceOf[Project].projectList.head
      .asInstanceOf[Alias].child
    val bound = BindReferences.bindReference(resolved, AttributeSeq(attrs))
    BoundExpr(bound, resolved.dataType)
  }

  /** Interpreter IR: control AST with expressions compiled to slots. */
  private sealed trait IStmt extends Serializable
  private final case class IReturn(e: BoundExpr) extends IStmt
  private final case class ISet(slot: Int, e: BoundExpr) extends IStmt
  private final case class IIf(branches: Array[(BoundExpr, Array[IStmt])],
      els: Array[IStmt]) extends IStmt
  private final case class IIterate(label: String) extends IStmt
  private final case class ILeave(label: String) extends IStmt
  private final case class IInit(slot: Int, e: Option[BoundExpr]) extends IStmt
  private final case class ILoop(label: String, pre: Array[IStmt],
      cond: Option[BoundExpr], condFirst: Boolean, body: Array[IStmt])
      extends IStmt

  /** A whole LOOP/WHILE/REPEAT compiled to ONE codegen'd projection
    * (reference SqlRoutineCompiler compiles routine control flow to
    * bytecode; here the loop BODY lowers through the same CPS pass as
    * loop-free routines into a single struct-valued expression
    * `(vars', leave, has_ret, ret, until)` guarded by the entry condition,
    * Janino-compiled via MutableProjection — per iteration the driver loop
    * evaluates one generated class and copies the variable frame back; no
    * per-statement interpretation). `varSlots` maps struct fields 0..n-1 to
    * frame slots; trailing fields are lv/hr/rv/un. */
  private final case class ICompiledLoop(condFirst: Boolean,
      kernel: BoundExpr, varSlots: Array[Int], varTypes: Array[DataType],
      bodyStructType: org.apache.spark.sql.types.StructType,
      retType: DataType) extends IStmt {
    // one generated-projection instance per thread: the projection's target
    // row is mutable state (a UDF instance may be shared across local tasks)
    @transient private lazy val proj: ThreadLocal[MutableProjection] =
      new ThreadLocal[MutableProjection] {
        override def initialValue(): MutableProjection =
          MutableProjection.create(Seq(kernel.bound), Nil)
      }
    def evalKernel(row: InternalRow): InternalRow = proj.get()(row)
  }

  private final class ReturnSignal(val value: Any)
      extends RuntimeException(null, null, false, false)
  private final class LabelSignal(val label: String, val leave: Boolean)
      extends RuntimeException(null, null, false, false)

  /** Serializable per-row runner shipped inside the registered UDF. */
  private final class Runner(program: Array[IStmt], nSlots: Int,
      paramTypes: Array[DataType], retType: DataType, maxSteps: Long)
      extends Serializable {
    @transient private lazy val inConv: Array[Any => Any] = paramTypes.map { dt =>
      val conv = CatalystTypeConverters.createToCatalystConverter(dt)
      // the java-UDF registration declares no input types, so the analyzer
      // inserts no casts — widen numeric arguments to the declared
      // parameter type here (int literal → bigint parameter, etc.)
      (v: Any) => conv(coerceNum(v, dt))
    }

    private def coerceNum(v: Any, dt: DataType): Any = v match {
      case n: java.lang.Number => dt match {
        case LongType => java.lang.Long.valueOf(n.longValue())
        case IntegerType => java.lang.Integer.valueOf(n.intValue())
        case DoubleType => java.lang.Double.valueOf(n.doubleValue())
        case FloatType => java.lang.Float.valueOf(n.floatValue())
        case ShortType => java.lang.Short.valueOf(n.shortValue())
        case ByteType => java.lang.Byte.valueOf(n.byteValue())
        case _: DecimalType => n match {
          case d: java.math.BigDecimal => d
          case d: BigDecimal => d
          case _ => new java.math.BigDecimal(n.toString)
        }
        case _ => v
      }
      case _ => v
    }
    @transient private lazy val outConv: Any => Any =
      CatalystTypeConverters.createToScalaConverter(retType)
    @transient private var initialized = false

    private def initExprs(): Unit = {
      def walkE(b: BoundExpr): Unit = b.bound.foreach {
        case n: Nondeterministic => n.initialize(0)
        case _ =>
      }
      def walk(s: IStmt): Unit = s match {
        case IReturn(e) => walkE(e)
        case ISet(_, e) => walkE(e)
        case IInit(_, e) => e.foreach(walkE)
        case IIf(bs, e) => bs.foreach { case (c, b) => walkE(c); b.foreach(walk) }
          e.foreach(walk)
        case ILoop(_, pre, c, _, b) =>
          pre.foreach(walk); c.foreach(walkE); b.foreach(walk)
        case cl: ICompiledLoop => walkE(cl.kernel)
        case _ =>
      }
      program.foreach(walk)
      initialized = true
    }

    def call(args: Array[Any]): Any = {
      if (!initialized) initExprs()
      val slots = new Array[Any](nSlots)
      var i = 0
      while (i < args.length) { slots(i) = inConv(i)(args(i)); i += 1 }
      val row = new GenericInternalRow(slots)
      var steps = 0L
      def exec(stmts: Array[IStmt]): Unit = {
        var j = 0
        while (j < stmts.length) {
          stmts(j) match {
            case IReturn(e) => throw new ReturnSignal(e.bound.eval(row))
            case ISet(slot, e) => slots(slot) = e.bound.eval(row)
            case IInit(slot, e) => slots(slot) = e.map(_.bound.eval(row)).orNull
            case IIf(branches, els) =>
              var k = 0
              var hit = false
              while (k < branches.length && !hit) {
                if (branches(k)._1.bound.eval(row) == true) {
                  hit = true; exec(branches(k)._2)
                }
                k += 1
              }
              if (!hit) exec(els)
            case s: IIterate => throw new LabelSignal(s.label, leave = false)
            case s: ILeave => throw new LabelSignal(s.label, leave = true)
            case cl: ICompiledLoop =>
              val nVars = cl.varSlots.length
              val lvIdx = nVars; val hrIdx = nVars + 1
              val rvIdx = nVars + 2; val unIdx = nVars + 3
              val tlIdx = nVars + 4; val tiIdx = nVars + 5
              var live = true
              while (live) {
                steps += 1
                if (steps > maxSteps)
                  throw new IllegalStateException(
                    s"routine exceeded $maxSteps loop iterations " +
                      "(graft.routine.maxSteps)")
                val top = cl.evalKernel(row).getStruct(0, 2)
                val c = !top.isNullAt(0) && top.getBoolean(0)
                if (cl.condFirst && !c) live = false
                else {
                  val st = top.getStruct(1, nVars + 6)
                  var k = 0
                  while (k < nVars) {
                    // copyValue: the projection target row is reused across
                    // iterations, so buffer-backed values must not alias it
                    slots(cl.varSlots(k)) =
                      if (st.isNullAt(k)) null
                      else InternalRow.copyValue(st.get(k, cl.varTypes(k)))
                    k += 1
                  }
                  if (!st.isNullAt(hrIdx) && st.getBoolean(hrIdx))
                    throw new ReturnSignal(
                      if (st.isNullAt(rvIdx)) null
                      else InternalRow.copyValue(st.get(rvIdx, cl.retType)))
                  // a cross-label signal escaping the OUTERMOST kernel can
                  // only target an interpreter-level construct (e.g. a
                  // labeled BEGIN block enclosing the loop) — bridge it as
                  // the interpreter's own LabelSignal
                  if (!st.isNullAt(tlIdx))
                    throw new LabelSignal(st.getUTF8String(tlIdx).toString,
                      leave = st.isNullAt(tiIdx) || !st.getBoolean(tiIdx))
                  if (!st.isNullAt(lvIdx) && st.getBoolean(lvIdx)) live = false
                  else if (!cl.condFirst && !st.isNullAt(unIdx) && st.getBoolean(unIdx))
                    live = false
                }
              }
            case ILoop(label, pre, cond, condFirst, body) =>
              exec(pre)
              var live = true
              while (live) {
                steps += 1
                if (steps > maxSteps)
                  throw new IllegalStateException(
                    s"routine exceeded $maxSteps loop iterations " +
                      "(graft.routine.maxSteps)")
                if (condFirst && cond.exists(_.bound.eval(row) != true)) live = false
                else {
                  var iterated = false
                  try exec(body)
                  catch {
                    case l: LabelSignal if l.label == label =>
                      if (l.leave) live = false else iterated = true
                    case l: LabelSignal => throw l
                  }
                  // REPEAT: UNTIL true → stop, checked after the body —
                  // except after ITERATE, whose continue target is the top
                  // of the whole construct (SqlRoutineCompiler.visitRepeat
                  // places the continue label before the loop block), so
                  // the body restarts without an UNTIL check
                  if (live && !iterated && !condFirst &&
                      cond.exists(_.bound.eval(row) == true))
                    live = false
                }
              }
          }
          j += 1
        }
      }
      // Falling off the end yields NULL. validateReturn guarantees the
      // LAST statement is a RETURN, so this is reachable only via a LEAVE
      // that jumps past it (e.g. `a: BEGIN LEAVE a; RETURN 1; END`) — the
      // same residual hole the reference's shape-based check leaves open.
      try { exec(program); null }
      catch { case r: ReturnSignal => outConv(r.value) }
    }
  }

  /** Tight runner behind one nested loop's helper function (r16): input is
    * the full variable frame as a struct, converted ONCE per loop entry;
    * each iteration evaluates the loop's codegen'd kernel directly — the
    * same stepping contract as the Runner's ICompiledLoop case. Output is
    * the post-loop frame plus (hr, rv): whether a function-level RETURN was
    * taken inside the loop, and its value. */
  private final class InnerLoopFn(cl: ICompiledLoop, varTypes: Array[DataType],
      retType: DataType, maxSteps: Long)
      extends org.apache.spark.sql.api.java.UDF1[org.apache.spark.sql.Row, org.apache.spark.sql.Row]
      with Serializable {
    @transient private lazy val inConv: Array[Any => Any] =
      varTypes.map(CatalystTypeConverters.createToCatalystConverter)
    @transient private lazy val outConv: Array[Any => Any] =
      (varTypes :+ retType).map(CatalystTypeConverters.createToScalaConverter)
    @transient private lazy val inited: Boolean = {
      cl.kernel.bound.foreach {
        case n: Nondeterministic => n.initialize(0)
        case _ =>
      }
      true
    }

    override def call(in: org.apache.spark.sql.Row): org.apache.spark.sql.Row = {
      val _ = inited
      val n = varTypes.length
      val slots = new Array[Any](n)
      var i = 0
      while (i < n) { slots(i) = inConv(i)(in.get(i)); i += 1 }
      val row = new GenericInternalRow(slots)
      val lvIdx = n; val hrIdx = n + 1; val rvIdx = n + 2; val unIdx = n + 3
      val tlIdx = n + 4; val tiIdx = n + 5
      var hr = false
      var rv: Any = null
      var tl: String = null
      var ti = false
      var live = true
      var steps = 0L
      while (live) {
        steps += 1
        if (steps > maxSteps)
          throw new IllegalStateException(
            s"routine exceeded $maxSteps loop iterations (graft.routine.maxSteps)")
        val top = cl.evalKernel(row).getStruct(0, 2)
        val c = !top.isNullAt(0) && top.getBoolean(0)
        if (cl.condFirst && !c) live = false
        else {
          val st = top.getStruct(1, n + 6)
          var k = 0
          while (k < n) {
            slots(cl.varSlots(k)) =
              if (st.isNullAt(k)) null
              else InternalRow.copyValue(st.get(k, cl.varTypes(k)))
            k += 1
          }
          if (!st.isNullAt(hrIdx) && st.getBoolean(hrIdx)) {
            hr = true
            rv = if (st.isNullAt(rvIdx)) null
              else InternalRow.copyValue(st.get(rvIdx, cl.retType))
            live = false
          } else if (!st.isNullAt(tlIdx)) {
            // cross-label ITERATE/LEAVE: stop this loop, propagate the
            // target label for an enclosing kernel to dispatch on
            tl = st.getUTF8String(tlIdx).toString
            ti = !st.isNullAt(tiIdx) && st.getBoolean(tiIdx)
            live = false
          } else if (!st.isNullAt(lvIdx) && st.getBoolean(lvIdx)) live = false
          else if (!cl.condFirst && !st.isNullAt(unIdx) && st.getBoolean(unIdx))
            live = false
        }
      }
      val out = new Array[Any](n + 4)
      i = 0
      while (i < n) { out(i) = outConv(i)(slots(i)); i += 1 }
      out(n) = java.lang.Boolean.valueOf(hr)
      out(n + 1) = if (rv == null) null else outConv(n)(rv)
      out(n + 2) = tl
      out(n + 3) = java.lang.Boolean.valueOf(ti)
      org.apache.spark.sql.Row.fromSeq(out.toIndexedSeq)
    }
  }

  // ------------------------------------------- compiled loop tier (r15)
  /** Is this loop body expressible as ONE straight-line kernel? No labeled
    * blocks; ITERATE/LEAVE may target this loop's own label OR any
    * ENCLOSING label (r17 — a cross-label signal compiles to a
    * target-label field in the body struct that each enclosing kernel
    * dispatches on). NESTED loops arrive pre-lowered to RKernelCall by
    * compileInnerLoops (r16). */
  private def kernelizable(ss: Seq[RStmt], label: Option[String],
      outer: Set[String]): Boolean = {
    def ok(l: String): Boolean =
      label.exists(_.equalsIgnoreCase(l)) || outer.contains(l.toLowerCase)
    ss.forall {
      case _: RLoop | _: RWhile | _: RRepeat => false
      case RCompound(Some(_), _, _) => false
      case RCompound(None, _, b) => kernelizable(b, label, outer)
      case RIf(bs, e) => bs.forall(x => kernelizable(x._2, label, outer)) &&
        e.forall(kernelizable(_, label, outer))
      case RIterate(l) => ok(l)
      case RLeave(l) => ok(l)
      case _ => true
    }
  }

  private val innerLoopIds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Nested-loop pre-pass (r16; reference SqlRoutineCompiler compiles every
    * routine shape to bytecode): each DIRECTLY nested LOOP/WHILE/REPEAT
    * compiles RECURSIVELY through compileLoopKernel into its own tight
    * kernel loop, registered as an internal helper function
    * (`__graft_il<N>`), and its statement is replaced by RKernelCall — the
    * outer kernel calls the helper once per entry (one row conversion per
    * ENTRY, one codegen'd projection per inner ITERATION; zero
    * per-statement interpretation anywhere in the nest). Cross-label
    * ITERATE/LEAVE compiles too (r17): the helper propagates the target
    * label in its result and each enclosing kernel either translates it to
    * its OWN iterate/leave struct or carries it further out. `selfLabel` is
    * the label of the kernel whose body is being lowered; `outerLabels`
    * encloses THAT kernel. */
  private def compileInnerLoops(spark: SparkSession, vars: Seq[VarSlot],
      slotOf: Map[String, Int], ss: Seq[RStmt], retDdl: String,
      selfLabel: Option[String], outerLabels: Set[String]): Option[Seq[RStmt]] = {
    val varDdls = vars.map(v => (v.name, v.ddl))
    def struct(lv: String, hr: String, rv: String, un: String,
        tl: String, ti: String): String =
      "named_struct(" +
        vars.zipWithIndex.map { case (v, i) => s"'v$i', ${v.name}" }.mkString(", ") +
        s", 'lv', $lv, 'hr', $hr, 'rv', $rv, 'un', $un, 'tl', $tl, 'ti', $ti)"
    val nullRv = s"CAST(NULL AS $retDdl)"
    val nullTl = "CAST(NULL AS string)"
    // the CALLER's body-struct literals: a function-level RETURN taken
    // inside the nest (rv = the helper's already-return-typed rv field);
    // a propagated ITERATE/LEAVE that names the CALLER's label; and a
    // carry for labels still further out
    val onHr = struct("false", "true", "__RV__", "false", nullTl, "false")
    val iterT = struct("false", "false", nullRv, "false", nullTl, "false")
    val leaveT = struct("true", "false", nullRv, "false", nullTl, "false")
    val carryT = struct("true", "false", nullRv, "false", "__TL__", "__TI__")
    val innerOuter = outerLabels ++ selfLabel.map(_.toLowerCase)
    def lowerLoop(lbl: Option[String], cond: Option[String], condFirst: Boolean,
        b: Seq[RStmt], until: Option[String]): Option[RStmt] =
      compileLoopKernel(spark, vars, slotOf, lbl, cond, condFirst, b, until,
          retDdl, innerOuter)
        .map { cl =>
          val id = innerLoopIds.getAndIncrement()
          val fn = s"__graft_il$id"
          val maxSteps = sys.props.get("graft.routine.maxSteps").map(_.toLong)
            .getOrElse(10000000L)
          registerInnerLoopFn(spark, fn, cl, vars, retDdl, maxSteps)
          RKernelCall(fn, id, varDdls, onHr, selfLabel, iterT, leaveT, carryT)
        }
    val out = ss.map {
      case RLoop(l, b) => lowerLoop(l, None, condFirst = false, b, None)
      case RWhile(l, c, b) => lowerLoop(l, Some(c), condFirst = true, b, None)
      case RRepeat(l, b, u) => lowerLoop(l, None, condFirst = false, b, Some(u))
      case RIf(bs, e) =>
        val bs2 = bs.map { case (c, b) =>
          compileInnerLoops(spark, vars, slotOf, b, retDdl, selfLabel, outerLabels)
            .map(c -> _) }
        val e2 = e.map(compileInnerLoops(spark, vars, slotOf, _, retDdl,
          selfLabel, outerLabels))
        if (bs2.exists(_.isEmpty) || e2.exists(_.isEmpty)) None
        else Some(RIf(bs2.map(_.get), e2.map(_.get)))
      case RCompound(None, decls, b) =>
        compileInnerLoops(spark, vars, slotOf, b, retDdl, selfLabel, outerLabels)
          .map(RCompound(None, decls, _))
      case other => Some(other)
    }
    if (out.exists(_.isEmpty)) None else Some(out.map(_.get))
  }

  /** Register the helper kernel function for one nested loop: input = the
    * full variable frame as a struct, output = the frame after the loop
    * runs to completion plus (hr, rv) and the propagated cross-label
    * signal (tl, ti). */
  private def registerInnerLoopFn(spark: SparkSession, name: String,
      cl: ICompiledLoop, vars: Seq[VarSlot], retDdl: String,
      maxSteps: Long): Unit = {
    val retType = dataTypeOf(retDdl)
    val outType = org.apache.spark.sql.types.StructType(
      vars.zipWithIndex.map { case (v, i) =>
        org.apache.spark.sql.types.StructField(s"v$i", v.tpe)
      } ++ Seq(
        org.apache.spark.sql.types.StructField("hr", BooleanType, nullable = false),
        org.apache.spark.sql.types.StructField("rv", retType),
        org.apache.spark.sql.types.StructField("tl", StringType),
        org.apache.spark.sql.types.StructField("ti", BooleanType, nullable = false)))
    spark.udf.register(name,
      new InnerLoopFn(cl, vars.map(_.tpe).toArray, retType, maxSteps), outType)
    Option(collectingHelpers.get).foreach(_ += name)
    ()
  }

  /** Compile a whole loop to one codegen'd kernel. The body lowers through
    * `comp` (the loop-free CPS pass) into a single struct expression over
    * the variable frame: every path through the body terminates in a
    * struct literal carrying the end-of-iteration value of EVERY variable
    * plus the control signals — `lv` (LEAVE taken), `hr`+`rv` (RETURN
    * taken, with the value), `un` (REPEAT's UNTIL, evaluated in the
    * end-of-iteration environment; constant false on the ITERATE path,
    * which restarts without an UNTIL check, and on non-REPEAT loops).
    * The struct is guarded by the entry condition so a false WHILE guard
    * never evaluates body expressions (ANSI mode: they may throw on state
    * the condition excludes). Returns None when the body is not
    * kernelizable or the generated text blows up — the caller falls back
    * to the per-statement interpreter. */
  private def compileLoopKernel(spark: SparkSession, vars: Seq[VarSlot],
      slotOf: Map[String, Int], label: Option[String], condSql: Option[String],
      condFirst: Boolean, body: Seq[RStmt], untilSql: Option[String],
      retDdl: String, outerLabels: Set[String]): Option[ICompiledLoop] = {
    // pre-lower nested loops to helper-kernel calls (r16), then require a
    // straight-line body
    val body1 =
      if (body.exists(hasLoop))
        compileInnerLoops(spark, vars, slotOf, body, retDdl, label, outerLabels)
          .getOrElse(return None)
      else body
    if (!kernelizable(body1, label, outerLabels)) return None
    val varNames = vars.map(_.name)
    val bodyStructDdl = ("struct<" +
      vars.zipWithIndex.map { case (v, i) => s"v$i:${v.ddl}" }.mkString(",") +
      s",lv:boolean,hr:boolean,rv:$retDdl,un:boolean,tl:string,ti:boolean>")
    def structText(lv: String, hr: String, rv: String, un: String,
        tl: String = "CAST(NULL AS string)", ti: String = "false"): String =
      "named_struct(" +
        varNames.zipWithIndex.map { case (n, i) => s"'v$i', $n" }.mkString(", ") +
        s", 'lv', $lv, 'hr', $hr, 'rv', $rv, 'un', $un, 'tl', $tl, 'ti', $ti)"
    val nullRv = s"CAST(NULL AS $retDdl)"
    def isSelf(l: String): Boolean = label.exists(_.equalsIgnoreCase(l))
    def rewriteExits(ss: Seq[RStmt]): Seq[RStmt] = ss.map {
      case RReturn(e) =>
        RReturn(structText("false", "true", s"CAST(($e) AS $retDdl)", "false"))
      case RLeave(l) if isSelf(l) =>
        RReturn(structText("true", "false", nullRv, "false"))
      case RLeave(l) => // enclosing label: stop and carry the signal out
        RReturn(structText("true", "false", nullRv, "false",
          s"'${l.toLowerCase}'", "false"))
      case RIterate(l) if isSelf(l) =>
        RReturn(structText("false", "false", nullRv, "false"))
      case RIterate(l) =>
        RReturn(structText("true", "false", nullRv, "false",
          s"'${l.toLowerCase}'", "true"))
      case RIf(bs, e) =>
        RIf(bs.map { case (c, b) => (c, rewriteExits(b)) }, e.map(rewriteExits))
      case RCompound(None, decls, b) => RCompound(None, decls, rewriteExits(b))
      case other => other
    }
    val terminal = RReturn(structText("false", "false", nullRv,
      untilSql.map(u => s"(($u)) = true").getOrElse("false")))
    val types = vars.map(v => v.name.toLowerCase -> v.ddl).toMap
    val bodySql =
      try comp(rewriteExits(body1).toList ::: List(terminal), Map.empty, types,
        bodyStructDdl, None).getOrElse(return None)
      catch { case _: SqlParseException => return None }
    if (bodySql.length > 60000) return None
    val kernelSql = condSql match {
      case Some(c) if condFirst =>
        s"named_struct('c', (($c)) = true, 's', " +
          s"IF((($c)) = true, $bodySql, CAST(NULL AS $bodyStructDdl)))"
      case _ =>
        s"named_struct('c', true, 's', $bodySql)"
    }
    val kernel =
      try compileExpr(spark, vars, kernelSql, None)
      catch { case _: Exception => return None }
    Some(ICompiledLoop(condFirst, kernel,
      varNames.map(n => slotOf(n.toLowerCase)).toArray,
      vars.map(_.tpe).toArray,
      CatalystSqlParser.parseDataType(bodyStructDdl)
        .asInstanceOf[org.apache.spark.sql.types.StructType],
      dataTypeOf(retDdl)))
  }

  private def lower(spark: SparkSession, vars: Seq[VarSlot],
      slotOf: Map[String, Int], body: Seq[RStmt], retDdl: String,
      loopIds: java.util.concurrent.atomic.AtomicInteger,
      scope: Set[String] = Set.empty): Array[IStmt] = {
    def expr(text: String, cast: Option[String]): BoundExpr =
      compileExpr(spark, vars, text, cast)
    def cond(text: String): BoundExpr = {
      val c = expr(text, None)
      if (c.dataType == BooleanType) c else expr(text, Some("boolean"))
    }
    body.flatMap {
      case RReturn(e) => Seq(IReturn(expr(e, Some(retDdl))))
      // produced and consumed only inside the kernel compiler
      case _: RKernelCall =>
        throw new IllegalStateException("RKernelCall outside compileLoopKernel")
      case RSet(v, e) =>
        val slot = slotOf.getOrElse(v.toLowerCase,
          throw new SqlParseException(s"SET $v: unknown variable"))
        Seq(ISet(slot, expr(e, Some(vars(slot).ddl))))
      case RIf(branches, els) =>
        val bs = branches.map { case (c, b) =>
          (cond(c), lower(spark, vars, slotOf, b, retDdl, loopIds, scope))
        }.toArray
        Seq(IIf(bs, els.map(lower(spark, vars, slotOf, _, retDdl, loopIds, scope))
          .getOrElse(Array.empty)))
      case RIterate(l) => Seq(IIterate(l.toLowerCase))
      case RLeave(l) => Seq(ILeave(l.toLowerCase))
      case RCompound(lbl, decls, b) =>
        val inits = decls.flatMap(d => d.names.map { n =>
          val slot = slotOf(n.toLowerCase)
          IInit(slot, d.default.map(x => expr(x, Some(vars(slot).ddl))))
        })
        val lowered = lower(spark, vars, slotOf, b, retDdl, loopIds,
          scope ++ lbl.map(_.toLowerCase))
        lbl match {
          // labeled block: a once-through ILoop whose after-body condition
          // is constant TRUE (REPEAT … UNTIL true) — LEAVE label exits it,
          // fall-through runs it exactly once; ITERATE is rejected at
          // CREATE (checkLabels), so the no-recheck ITERATE path of ILoop
          // is unreachable here
          case Some(l) =>
            inits :+ ILoop(l.toLowerCase, Array.empty,
              Some(cond("true")), condFirst = false, lowered)
          case None => inits ++ lowered
        }
      case RLoop(l, b) =>
        compileLoopKernel(spark, vars, slotOf, l, None, condFirst = false,
            b, None, retDdl, scope).map(Seq(_)).getOrElse {
          val label = l.map(_.toLowerCase).getOrElse(s"#loop${loopIds.getAndIncrement()}")
          Seq(ILoop(label, Array.empty, None, condFirst = false,
            lower(spark, vars, slotOf, b, retDdl, loopIds,
              scope ++ l.map(_.toLowerCase))))
        }
      case RWhile(l, c, b) =>
        compileLoopKernel(spark, vars, slotOf, l, Some(c), condFirst = true,
            b, None, retDdl, scope).map(Seq(_)).getOrElse {
          val label = l.map(_.toLowerCase).getOrElse(s"#loop${loopIds.getAndIncrement()}")
          Seq(ILoop(label, Array.empty, Some(cond(c)), condFirst = true,
            lower(spark, vars, slotOf, b, retDdl, loopIds,
              scope ++ l.map(_.toLowerCase))))
        }
      case RRepeat(l, b, u) =>
        compileLoopKernel(spark, vars, slotOf, l, None, condFirst = false,
            b, Some(u), retDdl, scope).map(Seq(_)).getOrElse {
          val label = l.map(_.toLowerCase).getOrElse(s"#loop${loopIds.getAndIncrement()}")
          Seq(ILoop(label, Array.empty, Some(cond(u)), condFirst = false,
            lower(spark, vars, slotOf, b, retDdl, loopIds,
              scope ++ l.map(_.toLowerCase))))
        }
    }.toArray
  }

  // ---------------------------------------------------------- registration
  /** Execution tier chosen at CREATE, for introspection/tests:
    * "expression" (loop-free CPS → native SQL UDF, inlines into codegen),
    * "compiled-loops" (every loop lowered to a codegen'd kernel — zero
    * per-statement interpretation), "interpreted" (at least one loop walks
    * the pre-bound control AST per row). */
  private val tiers = scala.collection.concurrent.TrieMap[String, String]()
  def tierOf(name: String): Option[String] = tiers.get(name.toLowerCase)

  /** Inner-loop helper kernels (`__graft_il<N>`) registered for each routine,
    * so CREATE OR REPLACE / DROP FUNCTION deregisters the stale ones instead
    * of stranding them in the session function registry for the process
    * lifetime (ADVICE r16; the reference's generated routine bytecode dies
    * with the routine). */
  private val helpersOf = scala.collection.concurrent.TrieMap[String, Seq[String]]()
  private val collectingHelpers =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[String]]

  /** Drop the helper kernels (and tier record) of a routine being dropped or
    * replaced. Safe to call for routines that never had helpers. */
  def dropHelpers(spark: SparkSession, name: String): Unit = {
    helpersOf.remove(name.toLowerCase).foreach(_.foreach { h =>
      spark.sessionState.catalog.dropTempFunction(h, ignoreIfNotExists = true)
    })
    tiers.remove(name.toLowerCase)
    ()
  }

  private def hasIStmt(program: Array[IStmt], p: IStmt => Boolean): Boolean = {
    def walk(s: IStmt): Boolean = p(s) || (s match {
      case IIf(bs, e) => bs.exists(_._2.exists(walk)) || e.exists(walk)
      case ILoop(_, pre, _, _, b) => pre.exists(walk) || b.exists(walk)
      case _ => false
    })
    program.exists(walk)
  }

  /** Entry: register `name(params…) RETURNS retType <controlStatement>`. */
  def register(spark: SparkSession, name: String,
      params: Seq[(String, String)], retType: String, bodyText: String): Unit = {
    val body = new BodyParser(bodyText).parse()
    validateReturn(body)
    checkLabels(body, Set.empty, Set.empty)
    val vars = collectVars(params, body)
    // CREATE OR REPLACE: drop the previous compile's helper kernels first
    dropHelpers(spark, name)
    val helperBuf = scala.collection.mutable.ArrayBuffer[String]()
    collectingHelpers.set(helperBuf)
    try registerImpl(spark, name, params, retType, body, vars, helperBuf)
    finally collectingHelpers.remove()
  }

  private def registerImpl(spark: SparkSession, name: String,
      params: Seq[(String, String)], retType: String, body: RStmt,
      vars: Seq[VarSlot],
      helperBuf: scala.collection.mutable.ArrayBuffer[String]): Unit = {
    if (!hasLoop(body)) {
      compileStraight(body, params, vars, retType) match {
        case Some(sql) =>
          val sparkParams = params.map { case (n, t) => s"$n ${sparkTypeDdl(t)}" }
            .mkString(", ")
          spark.sql(s"CREATE OR REPLACE TEMPORARY FUNCTION $name($sparkParams) " +
            s"RETURNS ${sparkTypeDdl(retType)} RETURN ${SqlFrontend.lowerExprText(sql)}")
          tiers(name.toLowerCase) = "expression"
          return
        case None => // fall through to the interpreter on text blow-up
      }
    }

    val slotOf = vars.zipWithIndex.map { case (v, i) => v.name.toLowerCase -> i }.toMap
    val retDdl = sparkTypeDdl(retType)
    val retDataType = dataTypeOf(retType)
    val program = lower(spark, vars, slotOf,
      Seq(body), retDdl, new java.util.concurrent.atomic.AtomicInteger(0))
    val maxSteps = sys.props.get("graft.routine.maxSteps").map(_.toLong)
      .getOrElse(10000000L)
    tiers(name.toLowerCase) =
      if (hasIStmt(program, _.isInstanceOf[ILoop])) "interpreted"
      else if (hasIStmt(program, _.isInstanceOf[ICompiledLoop])) "compiled-loops"
      else "interpreted-straightline" // loop-free body whose CPS text blew up
    val runner = new Runner(program, vars.length,
      params.indices.map(i => vars(i).tpe).toArray, retDataType, maxSteps)
    registerUdf(spark, name, params.length, retDataType, runner)
    if (helperBuf.nonEmpty) helpersOf(name.toLowerCase) = helperBuf.toSeq
  }

  private def registerUdf(spark: SparkSession, name: String, arity: Int,
      ret: DataType, r: Runner): Unit = {
    import org.apache.spark.sql.api.java._
    arity match {
      case 0 => spark.udf.register(name, new UDF0[Any] {
        override def call(): Any = r.call(Array.empty)
      }, ret)
      case 1 => spark.udf.register(name, new UDF1[Any, Any] {
        override def call(a: Any): Any = r.call(Array(a))
      }, ret)
      case 2 => spark.udf.register(name, new UDF2[Any, Any, Any] {
        override def call(a: Any, b: Any): Any = r.call(Array(a, b))
      }, ret)
      case 3 => spark.udf.register(name, new UDF3[Any, Any, Any, Any] {
        override def call(a: Any, b: Any, c: Any): Any = r.call(Array(a, b, c))
      }, ret)
      case 4 => spark.udf.register(name, new UDF4[Any, Any, Any, Any, Any] {
        override def call(a: Any, b: Any, c: Any, d: Any): Any =
          r.call(Array(a, b, c, d))
      }, ret)
      case 5 => spark.udf.register(name, new UDF5[Any, Any, Any, Any, Any, Any] {
        override def call(a: Any, b: Any, c: Any, d: Any, e: Any): Any =
          r.call(Array(a, b, c, d, e))
      }, ret)
      case 6 => spark.udf.register(name,
        new UDF6[Any, Any, Any, Any, Any, Any, Any] {
          override def call(a: Any, b: Any, c: Any, d: Any, e: Any, f: Any): Any =
            r.call(Array(a, b, c, d, e, f))
        }, ret)
      case 7 => spark.udf.register(name,
        new UDF7[Any, Any, Any, Any, Any, Any, Any, Any] {
          override def call(a: Any, b: Any, c: Any, d: Any, e: Any, f: Any,
              g: Any): Any = r.call(Array(a, b, c, d, e, f, g))
        }, ret)
      case 8 => spark.udf.register(name,
        new UDF8[Any, Any, Any, Any, Any, Any, Any, Any, Any] {
          override def call(a: Any, b: Any, c: Any, d: Any, e: Any, f: Any,
              g: Any, h: Any): Any = r.call(Array(a, b, c, d, e, f, g, h))
        }, ret)
      case n => throw new SqlParseException(
        s"procedural routines support up to 8 parameters, got $n")
    }
  }
}
