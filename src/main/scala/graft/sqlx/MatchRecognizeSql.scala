package graft.sqlx

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, expr, row_number}

import graft.plans.{MatchRecognize, RowPattern}

/** MATCH_RECOGNIZE SQL surface → Spark lowering (SURVEY.md §2.5/§3;
  * reference grammar core/trino-grammar/src/main/antlr4/io/trino/grammar/sql/
  * SqlBase.g4 patternRecognition at :446, runtime
  * core/trino-main/src/main/java/io/trino/operator/window/matcher/Matcher.java:28).
  *
  * Catalyst does all expression work; the NFA matcher only decides match
  * structure:
  *
  *  1. DEFINE conditions are ARBITRARY SQL expressions over the current row
  *     plus PREV/NEXT physical navigation. Because such a condition is
  *     constant per row regardless of match state, each is precomputed as a
  *     boolean column — PREV/NEXT lower to codegen'd lag/lead window
  *     functions over (PARTITION BY keys ORDER BY order).
  *  2. graft.plans.MatchRecognize.annotateMatches runs the pattern NFA per
  *     key group (multi-column keys of any type) and emits every matched row
  *     + MATCH_NUMBER() + CLASSIFIER().
  *  3. MEASURES are ARBITRARY SQL expressions rewritten onto window
  *     functions over the annotated output: FIRST/LAST/aggregates over a
  *     pattern variable become `agg(CASE WHEN classifier = 'SYM' …) OVER
  *     (PARTITION BY keys, match_number ORDER BY order <frame>)`, with
  *     RUNNING → frame up to CURRENT ROW and FINAL → the whole match
  *     (reference semantics: sql/analyzer/PatternRecognitionAnalysis.java).
  *  4. ONE ROW PER MATCH = FINAL measures at the last row of each match;
  *     ALL ROWS PER MATCH = RUNNING defaults per row.
  *
  * PERMUTE(...) expands in the pattern algebra (graft.plans.RowPattern) to
  * the lexicographically-preferred alternation of argument orderings;
  * SUBSET U = (A, B) union variables resolve in MEASURES as
  * classifier-set membership.
  *
  * Exclusion syntax `{- p -}` omits the enclosed rows from ALL ROWS PER
  * MATCH output (they still consume and feed measures).
  *
  * DEFINE conditions split two ways: state-INdependent ones (current-row
  * columns + PREV/NEXT) lower to codegen'd boolean lag/lead columns as
  * above; match-state-DEPENDENT ones — references to other pattern
  * variables (B.price < A.price), logical navigation with occurrence
  * offsets (FIRST/LAST(A.x[, n])), COUNT(A.*)/COUNT(*), SUM/MIN/MAX/AVG
  * over a variable — compile via DefineEval to trace-aware predicates the
  * NFA evaluates against the partial match (reference DEFINE semantics:
  * operator/window/matcher/Matcher.java label evaluation).
  *
  * Documented subset: PARTITION BY / ORDER BY take plain ascending column
  * names; navigation arguments in state-dependent DEFINEs are plain or
  * symbol-qualified columns (not arbitrary expressions); measures parse
  * FIRST/LAST occurrence offsets (round 8: lowered onto ordered value
  * lists with null-safe get — q_sqlx_match_measure_offset).
  */
private[graft] object MatchRecognizeSql {

  final case class Mr(
      table: String, partitionBy: Seq[String], orderBy: Seq[String],
      measures: Seq[(String, String)], // (expr text, alias)
      rowsPerMatch: MatchRecognize.RowsPerMatch,
      skip: graft.plans.RowPattern.SkipMode,
      pattern: String, defines: Seq[(String, String)],
      subsets: Map[String, Seq[String]]) { // SUBSET U = (A, B) union variables
    def allRows: Boolean = rowsPerMatch != MatchRecognize.OneRow
  }

  private val Outer =
    """(?is)\s*SELECT\s+\*\s+FROM\s+(\w+)\s+MATCH_RECOGNIZE\s*\((.*)\)\s*""".r

  // ---------------------------------------------------------------- parsing

  /** (depth, inQuote) per character of `s`. */
  private def scanState(s: String): Array[Int] = {
    val depth = new Array[Int](s.length)
    var d = 0; var q = false
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (q) { if (c == '\'') q = false; depth(i) = -1 }
      else c match {
        case '\'' => q = true; depth(i) = -1
        case '(' => d += 1; depth(i) = d
        case ')' => depth(i) = d; d -= 1
        case _ => depth(i) = d
      }
      i += 1
    }
    depth
  }

  private val clauseKeywords = Seq(
    "PARTITION BY", "ORDER BY", "MEASURES", "ONE ROW PER MATCH",
    "ALL ROWS PER MATCH", "AFTER MATCH", "PATTERN", "SUBSET", "DEFINE")

  /** Top-level clauses of the MATCH_RECOGNIZE block, in textual order.
    * `kws` defaults to the FROM-clause production's keywords; the window
    * specification production (MatchWindowSql) passes its own set. */
  private[sqlx] def clauses(block: String,
      kws: Seq[String] = clauseKeywords): Seq[(String, String)] = {
    val state = scanState(block)
    val hits = kws.flatMap { kw =>
      ("(?i)\\b" + kw.replace(" ", "\\s+") + "\\b").r
        .findAllMatchIn(block)
        .filter(m => state(m.start) == 0)
        .map(m => (m.start, m.end, kw))
    }.sortBy(_._1)
    hits.zipWithIndex.map { case ((_, end, kw), i) =>
      val until = if (i + 1 < hits.length) hits(i + 1)._1 else block.length
      (kw, block.substring(end, until).trim)
    }
  }

  /** Split on top-level commas (outside parens and quotes). */
  private[sqlx] def splitTop(s: String): Seq[String] = {
    val state = scanState(s)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var start = 0
    for (i <- s.indices)
      if (s(i) == ',' && state(i) == 0) { out += s.substring(start, i); start = i + 1 }
    out += s.substring(start)
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private[sqlx] def identList(clause: String, what: String): Seq[String] =
    splitTop(clause).map { c =>
      val m = "(?i)^(\\w+)(\\s+ASC)?$".r.findFirstMatchIn(c).getOrElse(
        fail(s"$what supports plain ascending column names, got '$c'"))
      m.group(1)
    }

  def parse(text: String): Option[Mr] = text match {
    case Outer(table, block) =>
      val cs = clauses(block)
      def one(kw: String): Option[String] = cs.collectFirst { case (`kw`, c) => c }
      val subsets = one("SUBSET").map(splitTop(_).map { d =>
        val m = "(?is)^\\s*(\\w+)\\s*=\\s*\\(([^)]*)\\)\\s*$".r.findFirstMatchIn(d)
          .getOrElse(fail(s"SUBSET entry '$d' (expected name = (A, B, ...))"))
        m.group(1) -> m.group(2).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      }.toMap).getOrElse(Map.empty)
      val partition = identList(
        one("PARTITION BY").getOrElse(fail("PARTITION BY <cols>")), "PARTITION BY")
      val order = identList(one("ORDER BY").getOrElse(fail("ORDER BY <cols>")), "ORDER BY")
      val patternRaw = one("PATTERN").getOrElse(fail("PATTERN (...)")).trim
      require(patternRaw.startsWith("(") && patternRaw.endsWith(")"),
        s"PATTERN must be parenthesized, got '$patternRaw'")
      val pattern = patternRaw.substring(1, patternRaw.length - 1)
      val defines = splitTop(one("DEFINE").getOrElse(fail("DEFINE ..."))).map { d =>
        val m = "(?is)^\\s*(\\w+)\\s+AS\\s+(.*)$".r.findFirstMatchIn(d)
          .getOrElse(fail(s"DEFINE entry '$d'"))
        (m.group(1), m.group(2).trim)
      }
      val measures = one("MEASURES").map(splitTop(_).map { mm =>
        val m = "(?is)^(.*\\S)\\s+AS\\s+(\\w+)\\s*$".r.findFirstMatchIn(mm)
          .getOrElse(fail(s"MEASURES entry '$mm' (expected <expr> AS <alias>)"))
        (m.group(1).trim, m.group(2))
      }).getOrElse(Seq.empty)
      // ROWS PER MATCH + emptyMatchHandling (SqlBase.g4:467-476): the ALL
      // ROWS clause body (text up to the next clause keyword) carries the
      // optional SHOW EMPTY MATCHES | OMIT EMPTY MATCHES | WITH UNMATCHED
      // ROWS modifier; SHOW is the default.
      val rowsPerMatch = one("ALL ROWS PER MATCH") match {
        case None => MatchRecognize.OneRow
        case Some(mod) => mod.trim.toUpperCase.replaceAll("\\s+", " ") match {
          case "" | "SHOW EMPTY MATCHES" => MatchRecognize.AllShowEmpty
          case "OMIT EMPTY MATCHES" => MatchRecognize.AllOmitEmpty
          case "WITH UNMATCHED ROWS" => MatchRecognize.AllWithUnmatched
          case other => fail(s"ALL ROWS PER MATCH modifier '$other' (expected " +
            "SHOW EMPTY MATCHES | OMIT EMPTY MATCHES | WITH UNMATCHED ROWS)")
        }
      }
      val skipPast = parseSkip(one("AFTER MATCH"), subsets)
      Some(Mr(table, partition, order, measures, rowsPerMatch, skipPast, pattern, defines, subsets))
    case _ => None
  }

  private def fail(what: String): Nothing =
    throw new IllegalArgumentException(s"MATCH_RECOGNIZE: $what")

  /** AFTER MATCH clause body → skip mode (SqlBase.g4 skipTo :462); shared
    * by the FROM-clause and window-spec surfaces. Bare SKIP TO <v> is the
    * standard's alias for SKIP TO LAST <v>. */
  private[sqlx] def parseSkip(clause: Option[String],
      subsets: Map[String, Seq[String]]): graft.plans.RowPattern.SkipMode =
    clause match {
      case Some(c) if "(?i)SKIP\\s+TO\\s+NEXT\\s+ROW".r.findFirstIn(c).isDefined =>
        graft.plans.RowPattern.SkipToNextRow
      case Some(c) if "(?i)SKIP\\s+PAST\\s+LAST\\s+ROW".r.findFirstIn(c).isDefined =>
        graft.plans.RowPattern.SkipPastLastRow
      case Some(c) =>
        val m = "(?i)SKIP\\s+TO\\s+(?:(FIRST|LAST)\\s+)?(\\w+)".r.findFirstMatchIn(c)
          .getOrElse(fail(
            s"AFTER MATCH subset: SKIP PAST LAST ROW | SKIP TO NEXT ROW | SKIP TO [FIRST|LAST] var, got '$c'"))
        val first = Option(m.group(1)).exists(_.equalsIgnoreCase("FIRST"))
        val v = m.group(2)
        val expansion = subsets.getOrElse(v, Seq(v)).toSet
        graft.plans.RowPattern.SkipToVar(expansion, first,
          s"${if (first) "FIRST" else "LAST"} $v")
      case None => graft.plans.RowPattern.SkipPastLastRow
    }

  // ------------------------------------------------------------- rewriting

  /** Pattern variables: DEFINE'd symbols plus symbols appearing in PATTERN. */
  private[sqlx] def patternSymbols(mr: Mr): Set[String] = {
    def syms(p: RowPattern.Pat): Set[String] = p match {
      case RowPattern.Sym(n) => Set(n)
      case RowPattern.Cat(ps) => ps.flatMap(syms).toSet
      case RowPattern.Alt(l, r) => syms(l) ++ syms(r)
      case RowPattern.Opt(s) => syms(s)
      case RowPattern.Star(s) => syms(s)
      case RowPattern.Plus(s) => syms(s)
      case RowPattern.Quant(s, _, _, _) => syms(s)
      case RowPattern.Excl(s) => syms(s)
      case RowPattern.Empty | RowPattern.StartAnchor | RowPattern.EndAnchor =>
        Set.empty
    }
    syms(RowPattern.parse(mr.pattern)) ++ mr.defines.map(_._1) ++ mr.subsets.keys
  }

  /** Index of the ')' matching the '(' at `open`. */
  private def matchParen(s: String, open: Int): Int = {
    var depth = 0; var i = open
    while (i < s.length) {
      if (s(i) == '(') depth += 1
      else if (s(i) == ')') { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    fail(s"unbalanced parens in '$s'")
  }

  /** Rewrite calls to `names` (word-boundary, outside quotes) via `f(name, argText)`;
    * arguments are rewritten recursively first. */
  private[sqlx] def rewriteCalls(text: String, names: Set[String])(
      f: (String, String) => String): String = {
    val re = ("(?i)\\b(" + names.mkString("|") + ")\\s*\\(").r
    val state = scanState(text)
    re.findAllMatchIn(text).find(m => state(m.start) >= 0) match {
      case Some(m) =>
        val open = text.indexOf('(', m.start + m.group(1).length)
        val close = matchParen(text, open)
        val arg = rewriteCalls(text.substring(open + 1, close), names)(f)
        text.substring(0, m.start) + f(m.group(1).toUpperCase, arg.trim) +
          rewriteCalls(text.substring(close + 1), names)(f)
      case _ => text
    }
  }

  private def qualified(arg: String, syms: Set[String]): Option[(String, String)] =
    "(?s)^(\\w+)\\.(\\w+|\\*)$".r.findFirstMatchIn(arg.trim)
      .filter(m => syms.exists(_.equalsIgnoreCase(m.group(1))))
      .map(m => (syms.find(_.equalsIgnoreCase(m.group(1))).get, m.group(2)))

  /** State-INdependent DEFINE condition → Spark SQL boolean expression text
    * (the codegen'd fast path; stateful conditions go to DefineEval). */
  private[sqlx] def rewriteDefine(cond: String, selfSym: String, syms: Set[String],
      navOver: String): String = {
    val nav = rewriteCalls(cond, Set("PREV", "NEXT")) {
      case ("PREV", arg) => s"lag($arg) $navOver"
      case ("NEXT", arg) => s"lead($arg) $navOver"
      case (other, arg) => s"$other($arg)"
    }
    // self-qualified refs (D.value inside DEFINE D) are current-row columns
    "(\\w+)\\.(\\w+)".r.replaceAllIn(nav, m =>
      if (m.group(1).equalsIgnoreCase(selfSym)) m.group(2)
      else m.group(0))
  }

  /** Guard bare input-column references for empty-match placeholder rows:
    * a placeholder carries its STARTING row's input values (needed for the
    * ALL ROWS passthrough columns) but measure expressions must see NULL
    * there ("all column references return null" — match-recognize.md
    * "Evaluating expressions in empty matches"). Each bare token that names
    * an input column — outside quotes, not qualified (`A.col`), not a
    * function call — becomes `CASE WHEN classifier IS NOT NULL THEN (col)
    * END`; on non-empty match rows classifier is always set, so the guard
    * is the identity there. Single left-to-right pass, never re-scanning
    * emitted text. */
  private def guardBareRefs(text: String, fieldNames: Seq[String]): String = {
    val fields = fieldNames.map(_.toLowerCase).toSet
    val sb = new StringBuilder
    var i = 0
    var q = false
    while (i < text.length) {
      val c = text(i)
      if (q) { sb += c; if (c == '\'') q = false; i += 1 }
      else if (c == '\'') { sb += c; q = true; i += 1 }
      else if ((c.isLetter || c == '_') &&
        (i == 0 || (!text(i - 1).isLetterOrDigit && text(i - 1) != '_' && text(i - 1) != '.'))) {
        var j = i
        while (j < text.length && (text(j).isLetterOrDigit || text(j) == '_')) j += 1
        val tok = text.substring(i, j)
        var k = j
        while (k < text.length && text(k).isWhitespace) k += 1
        val callOrQualified = k < text.length && (text(k) == '(' || text(k) == '.')
        if (!callOrQualified && fields(tok.toLowerCase))
          sb ++= s"(CASE WHEN classifier IS NOT NULL THEN ($tok) END)"
        else sb ++= tok
        i = j
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** MEASURES expression → Spark SQL window expression text over the
    * annotated (match_number, classifier) output. `fieldNames` (input table
    * columns) drive the empty-match NULL guard on bare column references. */
  private def rewriteMeasure(exprText: String, defaultRunning: Boolean,
      pks: Seq[String], ords: Seq[String], syms: Set[String],
      subsets: Map[String, Seq[String]] = Map.empty,
      fieldNames: Seq[String] = Seq.empty): String = {
    var t = exprText.trim
    var running = defaultRunning
    val prefix = "(?is)^(RUNNING|FINAL)\\s+(.*)$".r
    t match {
      case prefix(m, rest) => running = m.equalsIgnoreCase("RUNNING"); t = rest
      case _ =>
    }
    t = guardBareRefs(t, fieldNames)
    val partBy = (pks :+ "match_number").mkString(", ")
    val ordBy = ords.mkString(", ")
    val frame =
      if (running)
        s"OVER (PARTITION BY $partBy ORDER BY $ordBy ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
      else
        s"OVER (PARTITION BY $partBy ORDER BY $ordBy ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    val navOver = s"OVER (PARTITION BY $partBy ORDER BY $ordBy)"
    t = t.replaceAll("(?i)\\bCLASSIFIER\\s*\\(\\s*\\)", "classifier")
    t = t.replaceAll("(?i)\\bMATCH_NUMBER\\s*\\(\\s*\\)", "match_number")
    // a union (SUBSET) variable matches any of its member classifiers
    def only(sym: String, inner: String) = subsets.get(sym) match {
      case Some(members) =>
        s"CASE WHEN classifier IN (${members.map(m => s"'$m'").mkString(", ")}) THEN $inner END"
      case None => s"CASE WHEN classifier = '$sym' THEN $inner END"
    }
    t = rewriteCalls(t, Set("FIRST", "LAST", "PREV", "NEXT", "COUNT", "SUM", "MIN", "MAX", "AVG")) {
      case ("PREV", arg) => s"lag($arg) $navOver"
      case ("NEXT", arg) => s"lead($arg) $navOver"
      // FIRST(A.x[, n]) / LAST(A.x[, n]): the optional occurrence offset
      // navigates within the variable's matched rows. Lowered onto the
      // ordered value list of the variable inside the match frame;
      // `get` (not element_at) so out-of-range navigation is NULL per the
      // row-pattern standard, never an ANSI index error.
      case ("FIRST", arg) => measureNav(arg, syms, frame, only, fromEnd = false)
      case ("LAST", arg) => measureNav(arg, syms, frame, only, fromEnd = true)
      // Unqualified aggregates guard on classifier so an empty-match
      // placeholder row contributes NOTHING — "all aggregate functions are
      // evaluated over an empty set of rows" (COUNT → 0, SUM/... → null).
      // On non-empty match rows classifier is always set: identity.
      case ("COUNT", arg) =>
        if (arg == "*") s"count(classifier) $frame"
        else qualified(arg, syms) match {
          case Some((sym, "*")) => s"count(${only(sym, "1")}) $frame"
          case Some((sym, c)) => s"count(${only(sym, c)}) $frame"
          case None => s"count(CASE WHEN classifier IS NOT NULL THEN ($arg) END) $frame"
        }
      case (agg, arg) => qualified(arg, syms) match {
        case Some((sym, c)) => s"${agg.toLowerCase}(${only(sym, c)}) $frame"
        case None =>
          s"${agg.toLowerCase}(CASE WHEN classifier IS NOT NULL THEN ($arg) END) $frame"
      }
    }
    // remaining bare pattern-variable refs: A.col ≡ LAST(A.col) per standard
    "(\\w+)\\.(\\w+)".r.replaceAllIn(t, m =>
      syms.find(_.equalsIgnoreCase(m.group(1))) match {
        case Some(sym) => s"last(${only(sym, m.group(2))}, true) $frame"
        case None => m.group(0)
      })
  }

  /** FIRST/LAST measure navigation with an optional occurrence offset. */
  private def measureNav(arg: String, syms: Set[String], frame: String,
      only: (String, String) => String, fromEnd: Boolean): String = {
    val parts = arg.split(",").map(_.trim)
    val (target, offset) =
      if (parts.length == 2 && parts(1).matches("\\d+")) (parts(0), parts(1).toInt)
      else (arg, 0)
    def simple(c: String): String =
      if (fromEnd) s"last($c, true) $frame" else s"first($c, true) $frame"
    val filtered = qualified(target, syms) match {
      case Some((sym, c)) => only(sym, c)
      case None => target
    }
    if (offset == 0) simple(filtered)
    else {
      // ordered matched values of the variable within the frame;
      // collect_list drops the CASE's NULLs, keeping exactly its rows
      val lst = s"collect_list($filtered) $frame"
      if (fromEnd) s"get($lst, size($lst) - 1 - $offset)"
      else s"get($lst, $offset)"
    }
  }

  /** Column names of the table referenced in an expression string. */
  private def colRefs(text: String, fieldNames: Seq[String]): Seq[String] = {
    val lower = fieldNames.map(f => f.toLowerCase -> f).toMap
    "\\w+".r.findAllIn(text).toSeq.flatMap(w => lower.get(w.toLowerCase)).distinct
  }

  // -------------------------------------------------------------- lowering

  /** Generalized lowering over ANY input relation (the parser front door
    * plans MATCH_RECOGNIZE inside subqueries by materializing the input
    * first — reference: patternRecognition is a relation production,
    * SqlBase.g4:446, so it composes under any query nesting). */
  def lowerDf(full: DataFrame, mr: Mr): DataFrame = {
    val spark = full.sparkSession
    val syms = patternSymbols(mr)
    val fieldNames = full.schema.fieldNames.toSeq

    val defCols = mr.defines.flatMap(d => colRefs(d._2, fieldNames)).distinct
    val measCols = mr.measures.flatMap(m => colRefs(m._1, fieldNames)).distinct
    // ALL ROWS PER MATCH outputs "PARTITION BY columns, ORDER BY columns,
    // measures and remaining columns from the input table"
    // (match-recognize.md Rows per match) — every input column survives the
    // match, so none can be pruned; ONE ROW PER MATCH outputs only the
    // partition columns + measures, so there pruning stays
    val keep =
      if (mr.allRows) fieldNames
      else (mr.partitionBy ++ mr.orderBy ++ defCols ++ measCols).distinct
    var df = full.select(keep.map(col): _*)

    // DEFINE routing: state-independent conditions → boolean columns
    // (lag/lead + arbitrary scalar exprs, codegen'd in ONE window pass;
    // annotateMatchesWith reuses the same exchange+sort); match-state-
    // dependent conditions (LAST(A.x), COUNT(B.*), cross-variable refs) →
    // trace-aware predicates compiled by DefineEval.
    val navOver =
      s"OVER (PARTITION BY ${mr.partitionBy.mkString(", ")} ORDER BY ${mr.orderBy.mkString(", ")})"
    val (stateful, simple) =
      mr.defines.partition(d => DefineEval.isStateful(d._2, d._1, syms))
    val defBool = simple.map { case (sym, cond) =>
      val boolCol = s"__def_$sym"
      df = df.withColumn(boolCol, expr(rewriteDefine(cond, sym, syms, navOver)))
      sym -> boolCol
    }.toMap

    val tracePreds: Map[String, RowPattern.TracePredicate] =
      RowPattern.liftAll(MatchRecognize.boolColumnPredicates(df.schema, defBool)) ++
        stateful.map { case (sym, cond) =>
          sym -> DefineEval.compile(spark, df.schema, cond, sym, syms, mr.subsets)
        }

    val annotated = MatchRecognize.annotateMatchesWith(
        df, mr.partitionBy, mr.orderBy, mr.pattern, tracePreds, mr.skip,
        mr.rowsPerMatch)
      .drop(defBool.values.toSeq: _*)

    if (mr.allRows) {
      // reference column order: partition cols, order cols, then the
      // remaining input columns (our match_number/classifier annotations
      // ride along before the measures)
      val passthrough = (mr.partitionBy ++ mr.orderBy ++
        fieldNames.filterNot(f => mr.partitionBy.exists(_.equalsIgnoreCase(f)) ||
          mr.orderBy.exists(_.equalsIgnoreCase(f)))) ++
        Seq("match_number", "classifier")
      val sel = passthrough ++ mr.measures.map { case (e, a) =>
        s"${rewriteMeasure(e, defaultRunning = true, mr.partitionBy, mr.orderBy, syms, mr.subsets, fieldNames)} AS $a"
      }
      val out = annotated.selectExpr(sel: _*)
      // WITH UNMATCHED ROWS: "all row pattern measures are null" for an
      // unmatched row (match_number IS NULL distinguishes it from an empty
      // match, which keeps its sequential number). Blanket-null the measure
      // columns rather than guarding term-by-term: unmatched rows share one
      // NULL match_number window group, so per-term window results there are
      // meaningless by construction.
      if (mr.rowsPerMatch == MatchRecognize.AllWithUnmatched)
        mr.measures.foldLeft(out) { case (d, (_, a)) =>
          d.withColumn(a, org.apache.spark.sql.functions.when(
            col("match_number").isNotNull, col(a)))
        }
      else out
    } else {
      // FINAL measures evaluated at the last row of each match (an empty
      // match's single placeholder row is its own last row — reference
      // match-recognize.md: ONE ROW PER MATCH outputs empty matches too)
      val sel = (mr.partitionBy ++ mr.orderBy :+ "match_number") ++
        mr.measures.map { case (e, a) =>
          s"${rewriteMeasure(e, defaultRunning = false, mr.partitionBy, mr.orderBy, syms, mr.subsets, fieldNames)} AS $a"
        }
      val byMatch = Window
        .partitionBy((mr.partitionBy :+ "match_number").map(col): _*)
        .orderBy(mr.orderBy.map(c => col(c).desc): _*)
      annotated.selectExpr(sel: _*)
        .withColumn("__mr_pick", row_number().over(byMatch))
        .filter(col("__mr_pick") === 1)
        .select((mr.partitionBy ++ mr.measures.map(_._2)).map(col): _*)
    }
  }
}
