package graft.sqlx

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, expr, row_number, when}

import graft.plans.{MatchRecognize, RowPattern}
import SqlAst._

/** MATCH_RECOGNIZE lowering to Spark (SURVEY.md §2.5/§3; reference grammar
  * core/trino-grammar/src/main/antlr4/io/trino/grammar/sql/SqlBase.g4
  * patternRecognition at :446, runtime
  * core/trino-main/src/main/java/io/trino/operator/window/matcher/Matcher.java:28).
  *
  * SqlParser parses the block into a [[SqlAst.RowPatternBlock]] (shared with
  * row-pattern windows, MatchWindowSql); its MEASURES and DEFINE are
  * expression trees, already through SqlFrontend's dialect rewrites, and
  * this lowering rewrites them structurally before rendering them like any
  * other expression. Catalyst does all expression work; the NFA matcher
  * only decides match structure:
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
  * symbol-qualified columns (PREV/NEXT also take expressions); measure
  * FIRST/LAST occurrence offsets are integer literals, lowered onto
  * ordered value lists with null-safe get (q_sqlx_match_measure_offset).
  */
private[graft] object MatchRecognizeSql {

  private def fail(what: String): Nothing =
    throw new IllegalArgumentException(s"MATCH_RECOGNIZE: $what")

  // ------------------------------------------------------- expression walks

  /** `name(args)` without OVER; the name upper-cased. */
  private[sqlx] object Call {
    def unapply(e: Expr): Option[(String, Seq[Expr])] = e match {
      case Fn(name, args, _, None) => Some((name.toUpperCase, args))
      case _ => None
    }
  }

  /** Every node of `e`, parents first. */
  private[sqlx] def nodes(e: Expr): Seq[Expr] = {
    val out = scala.collection.mutable.ArrayBuffer[Expr]()
    def go(x: Expr): Expr = { out += x; SqlFrontend.mapChildren(x, go) }
    go(e)
    out.toSeq
  }

  /** `A.col` / `A.*` with A a pattern variable → (A as declared, `col` as an
    * unqualified Id, or Star(None)). */
  private[sqlx] def qualified(e: Expr, syms: Set[String]): Option[(String, Expr)] = {
    def sym(q: String) = syms.find(_.equalsIgnoreCase(q))
    e match {
      case Id(Seq((q, _), c)) => sym(q).map(_ -> Id(Seq(c)))
      case Star(Some(q)) => sym(q).map(_ -> Star(None))
      case _ => None
    }
  }

  /** Input columns named in `es` (any part of a qualified name), in
    * first-use order. */
  private[sqlx] def columnsOf(es: Seq[Expr], fieldNames: Seq[String]): Seq[String] = {
    val byLower = fieldNames.map(f => f.toLowerCase -> f).toMap
    es.flatMap(nodes).flatMap {
      case Id(parts) => parts.flatMap(p => byLower.get(p._1.toLowerCase))
      case _ => Nil
    }.distinct
  }

  private def column(name: String): Expr = Id(Seq((name, true)))

  /** `OVER (PARTITION BY keys ORDER BY order [frame])`. */
  private[sqlx] def window(partitionBy: Seq[String], orderBy: Seq[String],
      frame: Option[String] = None): WindowSpec =
    WindowSpec(partitionBy.map(column), orderBy.map(c => SortItem(column(c), None, None)), frame)

  /** Pattern variables: DEFINE'd symbols, symbols in PATTERN, SUBSET names. */
  private[sqlx] def patternSymbols(b: RowPatternBlock): Set[String] = {
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
    syms(RowPattern.parse(b.pattern)) ++ b.defines.map(_._1) ++ b.subsets.keys
  }

  // ------------------------------------------------------------- rewriting

  /** State-INdependent DEFINE condition → boolean column (the codegen'd
    * fast path; stateful conditions go to DefineEval): PREV/NEXT become
    * lag/lead over `nav`, self-qualified refs (D.value inside DEFINE D)
    * current-row columns. */
  private[sqlx] def defineColumn(cond: Expr, selfSym: String, nav: WindowSpec): Column = {
    def go(e: Expr): Expr = SqlFrontend.mapChildren(e, go) match {
      case Call("PREV", args) => Fn("lag", args, distinct = false, Some(nav))
      case Call("NEXT", args) => Fn("lead", args, distinct = false, Some(nav))
      case Id(Seq((q, _), c)) if q.equalsIgnoreCase(selfSym) => Id(Seq(c))
      case other => other
    }
    expr(SqlFrontend.renderExpr(go(cond)))
  }

  /** MEASURES expression → window expression over the annotated
    * (match_number, classifier) output. Bare references to input columns
    * (`fields`, lower-case) are guarded for empty-match placeholder rows: a
    * placeholder carries its STARTING row's input values (needed for the
    * ALL ROWS passthrough columns) but measure expressions must see NULL
    * there ("all column references return null" — match-recognize.md
    * "Evaluating expressions in empty matches"), so each becomes `CASE WHEN
    * classifier IS NOT NULL THEN col END`, the identity on non-empty match
    * rows, where classifier is always set. */
  private def measureColumn(m: MeasureDef, defaultRunning: Boolean, b: RowPatternBlock,
      syms: Set[String], fields: Set[String]): Column = {
    val running = m.mode.fold(defaultRunning)(_ == "RUNNING")
    val keys = b.partitionBy :+ "match_number"
    val frame = window(keys, b.orderBy, Some("ROWS BETWEEN UNBOUNDED PRECEDING AND " +
      (if (running) "CURRENT ROW" else "UNBOUNDED FOLLOWING")))
    val nav = window(keys, b.orderBy)
    val classifier = Id(Seq(("classifier", false)))
    def over(fn: String, args: Expr*): Expr = Fn(fn, args, distinct = false, Some(frame))
    def matched(e: Expr): Expr =
      CaseExpr(None, Seq((IsNull(classifier, negated = true), e)), None)
    // a union (SUBSET) variable matches any of its member classifiers
    def only(sym: String, e: Expr): Expr = {
      def label(s: String) = Lit(s"'$s'")
      val test = b.subsets.get(sym) match {
        case Some(members) => InList(classifier, members.map(label), negated = false)
        case None => Bin("=", classifier, label(sym))
      }
      CaseExpr(None, Seq((test, e)), None)
    }
    // the variable's rows of `arg` (`A.x`, `A.*` → 1), or every match row
    def rowsOf(arg: Expr): Expr = qualified(arg, syms) match {
      case Some((sym, Star(None))) => only(sym, Lit("1"))
      case Some((sym, c)) => only(sym, c)
      case None => matched(go(arg))
    }
    def go(e: Expr): Expr = e match {
      case Call("CLASSIFIER", Nil) => classifier
      case Call("MATCH_NUMBER", Nil) => Id(Seq(("match_number", false)))
      case Call("PREV", args) => Fn("lag", args.map(go), distinct = false, Some(nav))
      case Call("NEXT", args) => Fn("lead", args.map(go), distinct = false, Some(nav))
      // FIRST(A.x[, n]) / LAST(A.x[, n]): the optional occurrence offset
      // navigates within the variable's matched rows. Lowered onto the
      // ordered value list of the variable inside the match frame; `get`
      // (not element_at) so out-of-range navigation is NULL per the
      // row-pattern standard, never an ANSI index error.
      case Call(fn @ ("FIRST" | "LAST"), target +: offset) =>
        val v = qualified(target, syms).fold(go(target)) { case (sym, c) => only(sym, c) }
        offset match {
          case Seq() => over(fn.toLowerCase, v, Lit("true"))
          case Seq(Lit(n)) if n.nonEmpty && n.forall(_.isDigit) =>
            // collect_list drops the CASE's NULLs, keeping exactly its rows
            val values = over("collect_list", v)
            val at = if (fn == "FIRST") Lit(n)
              else Bin("-", Bin("-", Fn("size", Seq(values), distinct = false, None), Lit("1")), Lit(n))
            Fn("get", Seq(values, at), distinct = false, None)
          case _ => fail(s"$fn occurrence offset must be an integer literal, got " +
            offset.map(SqlFrontend.renderExpr).mkString(", "))
        }
      // aggregates count only match rows, so an empty-match placeholder
      // contributes NOTHING — "all aggregate functions are evaluated over an
      // empty set of rows" (COUNT → 0, SUM/... → null)
      case Call("COUNT", Seq(Star(None))) => over("count", classifier)
      case Call(agg @ ("COUNT" | "SUM" | "MIN" | "MAX" | "AVG"), Seq(arg)) =>
        over(agg.toLowerCase, rowsOf(arg))
      case Id(Seq((f, _))) if fields(f.toLowerCase) => matched(e)
      case other => qualified(other, syms) match {
        // a bare pattern-variable ref: A.col ≡ LAST(A.col) per the standard
        case Some((sym, c)) => over("last", only(sym, c), Lit("true"))
        case None => SqlFrontend.mapChildren(other, go)
      }
    }
    expr(SqlFrontend.renderExpr(go(m.e))).as(m.alias)
  }

  // -------------------------------------------------------------- lowering

  /** Generalized lowering over ANY input relation (the parser front door
    * plans MATCH_RECOGNIZE inside subqueries by materializing the input
    * first — reference: patternRecognition is a relation production,
    * SqlBase.g4:446, so it composes under any query nesting). */
  def lowerDf(full: DataFrame, b: RowPatternBlock): DataFrame = {
    val spark = full.sparkSession
    val syms = patternSymbols(b)
    val fieldNames = full.schema.fieldNames.toSeq

    // ALL ROWS PER MATCH outputs "PARTITION BY columns, ORDER BY columns,
    // measures and remaining columns from the input table"
    // (match-recognize.md Rows per match) — every input column survives the
    // match, so none can be pruned; ONE ROW PER MATCH outputs only the
    // partition columns + measures, so there pruning stays
    val keep =
      if (b.allRows) fieldNames
      else (b.partitionBy ++ b.orderBy ++
        columnsOf(b.defines.map(_._2) ++ b.measures.map(_.e), fieldNames)).distinct
    var df = full.select(keep.map(col): _*)

    // DEFINE routing: state-independent conditions → boolean columns
    // (lag/lead + arbitrary scalar exprs, codegen'd in ONE window pass;
    // annotateMatchesWith reuses the same exchange+sort); match-state-
    // dependent conditions (LAST(A.x), COUNT(B.*), cross-variable refs) →
    // trace-aware predicates compiled by DefineEval.
    val nav = window(b.partitionBy, b.orderBy)
    val (stateful, simple) =
      b.defines.partition { case (sym, cond) => DefineEval.isStateful(cond, sym, syms) }
    val defBool = simple.map { case (sym, cond) =>
      val boolCol = s"__def_$sym"
      df = df.withColumn(boolCol, defineColumn(cond, sym, nav))
      sym -> boolCol
    }.toMap

    val tracePreds: Map[String, RowPattern.TracePredicate] =
      RowPattern.liftAll(MatchRecognize.boolColumnPredicates(df.schema, defBool)) ++
        stateful.map { case (sym, cond) =>
          sym -> DefineEval.define(spark, df.schema, cond, sym, syms, b.subsets)
        }

    val annotated = MatchRecognize.annotateMatchesWith(
        df, b.partitionBy, b.orderBy, b.pattern, tracePreds, b.skip, b.rowsPerMatch)
      .drop(defBool.values.toSeq: _*)
    val fields = fieldNames.map(_.toLowerCase).toSet
    def measures(defaultRunning: Boolean): Seq[Column] =
      b.measures.map(measureColumn(_, defaultRunning, b, syms, fields))

    if (b.allRows) {
      // reference column order: partition cols, order cols, then the
      // remaining input columns (our match_number/classifier annotations
      // ride along before the measures)
      val passthrough = (b.partitionBy ++ b.orderBy ++
        fieldNames.filterNot(f => b.partitionBy.exists(_.equalsIgnoreCase(f)) ||
          b.orderBy.exists(_.equalsIgnoreCase(f)))) ++
        Seq("match_number", "classifier")
      val out = annotated.select(passthrough.map(col) ++ measures(defaultRunning = true): _*)
      // WITH UNMATCHED ROWS: "all row pattern measures are null" for an
      // unmatched row (match_number IS NULL distinguishes it from an empty
      // match, which keeps its sequential number). Blanket-null the measure
      // columns rather than guarding term-by-term: unmatched rows share one
      // NULL match_number window group, so per-term window results there are
      // meaningless by construction.
      if (b.rowsPerMatch == MatchRecognize.AllWithUnmatched)
        b.measures.foldLeft(out) { (d, m) =>
          d.withColumn(m.alias, when(col("match_number").isNotNull, col(m.alias)))
        }
      else out
    } else {
      // FINAL measures evaluated at the last row of each match (an empty
      // match's single placeholder row is its own last row — reference
      // match-recognize.md: ONE ROW PER MATCH outputs empty matches too)
      val byMatch = Window
        .partitionBy((b.partitionBy :+ "match_number").map(col): _*)
        .orderBy(b.orderBy.map(c => col(c).desc): _*)
      annotated
        .select((b.partitionBy ++ b.orderBy :+ "match_number").map(col) ++
          measures(defaultRunning = false): _*)
        .withColumn("__mr_pick", row_number().over(byMatch))
        .filter(col("__mr_pick") === 1)
        .select((b.partitionBy ++ b.measures.map(_.alias)).map(col): _*)
    }
  }
}
