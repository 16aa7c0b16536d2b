package graft.sqlx

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, expr, row_number}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.plans.{MatchRecognize, RowPattern}
import SqlAst._

/** Row-pattern recognition in WINDOW specifications (reference grammar
  * core/trino-grammar/src/main/antlr4/io/trino/grammar/sql/SqlBase.g4:876-880
  * `windowSpecification` → MEASURES/ROWS BETWEEN/AFTER MATCH/PATTERN/DEFINE;
  * runtime core/trino-main io/trino/operator/window/pattern/ — the window
  * flavor of MATCH_RECOGNIZE):
  *
  * {{{
  *   SELECT k, v, m OVER w FROM t
  *   WINDOW w AS (
  *     PARTITION BY k ORDER BY ord
  *     MEASURES SUM(A.v) AS m
  *     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
  *     PATTERN (A+ B)
  *     DEFINE A AS v > 0, B AS v < 0)
  * }}}
  *
  * Semantics (SQL 2016 row-pattern windows; reference
  * docs/src/main/sphinx/sql/pattern-recognition-in-window.md "Processing
  * input"): the partition is processed IN ORDER with AFTER MATCH skip
  * marking. A row skipped by a previous row's match produces NULL
  * measures; otherwise the row attempts a match starting at itself
  * (INITIAL, the default) or at the first subsequent in-frame row that
  * matches (SEEK), the match search space being the frame extent
  * `ROWS BETWEEN CURRENT ROW AND {CURRENT ROW | k FOLLOWING | UNBOUNDED
  * FOLLOWING}`. On a match the measures evaluate with FINAL semantics over
  * it and the AFTER MATCH skip mode (PAST LAST ROW default, TO NEXT ROW,
  * TO [FIRST|LAST] var — RowPattern's skip machinery) marks the skipped
  * rows; unmatched rows appear with NULL measures. Every input row
  * produces exactly one output row.
  *
  * Physical shape: identical to MatchRecognize.annotateMatchesWith — ONE
  * hash exchange + sort PER DISTINCT WINDOW (pinned by an internal
  * row_number over the same spec, so DEFINE's lag/lead columns reuse the
  * exchange), then a streaming per-group pass. Match attempts cost
  * O(rows × match length) NFA work per partition — the same bound as the
  * reference's per-row matcher loop.
  *
  * Entry: SqlParser parses each pattern spec into a
  * [[SqlAst.RowPatternBlock]] (shared with MATCH_RECOGNIZE) and the select
  * list into expressions; SqlFrontend's planning pass hands both to [[plan]]
  * and evaluates the result over the planned FROM relation with [[lowerDf]].
  *
  * Select items (r15): plain expressions, declared measures `m OVER w [AS a]`,
  * and WINDOW FUNCTION calls over a pattern window `fn(args) OVER w` —
  * per the reference, a window function over a pattern window evaluates
  * over the frame limited to the matched row sequence (empty frame → NULL
  * for unmatched/skipped rows); it lowers as a synthesized measure.
  * Multiple named windows are accepted; each evaluates independently.
  * PLAIN named windows coexist in the same statement (r16 — the reference
  * treats pattern windows as ordinary window specifications): their call
  * sites lower through Spark's normal window path with the spec inlined,
  * reusing the pattern window's exchange when the specs share
  * (PARTITION BY, ORDER BY).
  *
  * Frame-clipped navigation (r16; pattern-recognition-in-window.md: "the
  * pattern matching can neither match rows nor retrieve input values
  * outside the frame"): the match search space is a zero-copy view
  * [current row, frame end], so matching AND navigation clip at BOTH frame
  * edges — PREV at the frame start reads NULL (stateless DEFINEs via
  * frame-edge variant columns, DefCols below; stateful ones via the view
  * bounds), NEXT past a bounded frame end reads NULL. EMPTY matches are
  * recognized (measures over an empty row sequence: constants survive,
  * column refs/navigation NULL, COUNT 0), distinguishable from unmatched
  * rows whose measures are all NULL.
  */
private[graft] object MatchWindowSql {
  import MatchRecognizeSql.{Call, columnsOf, nodes}

  /** Whole query block: select items (expression, output alias) over one
    * or more pattern windows plus any number of PLAIN named windows (the
    * reference treats pattern windows as ordinary window specifications
    * coexisting with plain ones — pattern-recognition-in-window.md;
    * SqlBase.g4 windowSpecification). Pattern windows evaluate through the
    * sequential matcher (one exchange+sort each); plain windows lower
    * through Spark's normal window path by inlining their spec at the call
    * site. `plainWindows` is keyed by lowercase window name. */
  final case class Mw(items: Seq[(Expr, String)], windows: Seq[(String, RowPatternBlock)],
      plainWindows: Map[String, WindowSpec])

  private def fail(what: String): Nothing =
    throw new IllegalArgumentException(s"row-pattern window: $what")

  /** A call over a named window: `fn(args) OVER w`. */
  private object OverRef {
    def unapply(e: Expr): Option[(Fn, String)] = e match {
      case f @ Fn(_, _, _, Some(WindowSpec(_, _, _, Some(w), _))) => Some((f, w.toLowerCase))
      case _ => None
    }
  }

  /** Resolve a query block's select items against its pattern windows and
    * plain named windows. Items are measure references `m OVER w`,
    * window-function calls `fn(args) OVER w`, or plain expressions. */
  def plan(items: Seq[(Expr, String)], patterned: Seq[(String, RowPatternBlock)],
      plainWindows: Map[String, WindowSpec]): Mw = {
    val declared = patterned.map(_._1.toLowerCase).toSet

    // a window function over a pattern window evaluates over the frame
    // limited to the matched rows (reference pattern-recognition-in-
    // window.md "upon a window function call over the window"); lowered
    // here as a SYNTHESIZED measure on that window. Over a PLAIN window it
    // stays a regular Spark window function call.
    val synth = scala.collection.mutable.Map[String, Seq[MeasureDef]]()
      .withDefaultValue(Seq.empty)
    val resolved = items.map {
      case (OverRef(call, w), alias) if declared(w) =>
        val name = s"__wf${synth.values.map(_.length).sum}"
        synth(w) = synth(w) :+ MeasureDef(call.copy(over = None), name)
        (MeasureRef(name, w), alias)
      case (OverRef(_, w), _) if !plainWindows.contains(w) =>
        fail(s"unknown window '$w' (declared: " +
          s"${(declared ++ plainWindows.keySet).mkString(", ")})")
      case (MeasureRef(m, w), _) if !declared(w.toLowerCase) =>
        fail(s"unknown pattern window '$w' for measure '$m' " +
          s"(pattern windows: ${declared.mkString(", ")})")
      case it => it
    }
    // unaliased window-function items default their alias to the bare
    // function name — two such calls (sum(a) OVER w, sum(b) OVER w) would
    // collide into ambiguous output columns, so collisions fail loudly
    // asking for AS aliases rather than producing duplicate names
    val dup = resolved.groupBy(_._2.toLowerCase).collectFirst {
      case (a, is) if is.size > 1 => a
    }
    dup.foreach(a => fail(s"duplicate output column '$a' — " +
      "alias each window-function select item with AS <name>"))

    val windows = patterned.map { case (name, b) =>
      (name, b.copy(measures = b.measures ++ synth(name.toLowerCase)))
    }
    // every measure referenced by the select list must be declared in
    // its window
    resolved.foreach {
      case (MeasureRef(m, w), _) =>
        val (name, b) = windows.find(_._1.equalsIgnoreCase(w)).get
        if (!b.measures.exists(_.alias.equalsIgnoreCase(m)))
          fail(s"measure '$m' is not declared in MEASURES of window '$name'")
      case _ =>
    }
    Mw(resolved, windows, plainWindows)
  }

  def lowerDf(full: DataFrame, mw: Mw): DataFrame = {
    // column pruning across ALL windows + plain items
    val fieldNames = full.schema.fieldNames.toSeq
    val keep = (columnsOf(mw.items.map(_._1) ++ mw.plainWindows.values.flatMap(w =>
        w.partitionBy ++ w.orderBy.map(_.e)), fieldNames) ++
      mw.windows.flatMap { case (_, b) => b.partitionBy ++ b.orderBy ++
        columnsOf(b.defines.map(_._2) ++ b.measures.map(_.e), fieldNames) }).distinct
    def prefix(wi: Int): String = s"__mw${wi}_"
    // one annotate pass per pattern window, chained: each adds its
    // (prefixed) measure columns behind its own exchange+sort — the
    // reference likewise partitions per window specification. Plain
    // windows are inlined at the call site below and lower through Spark's
    // normal window path; when a plain spec shares the pattern window's
    // (PARTITION BY, ORDER BY), EnsureRequirements reuses the exchange.
    val annotated = mw.windows.zipWithIndex.foldLeft(full.select(keep.map(col): _*)) {
      case (df, ((name, b), wi)) => annotate(df, name, b, prefix(wi))
    }
    annotated.select(mw.items.map {
      case (MeasureRef(m, w), alias) =>
        col(prefix(mw.windows.indexWhere(_._1.equalsIgnoreCase(w))) + m).as(alias)
      case (OverRef(call, w), alias) =>
        expr(SqlFrontend.renderExpr(call.copy(over = Some(mw.plainWindows(w))))).as(alias)
      case (e, alias) => expr(SqlFrontend.renderExpr(e)).as(alias)
    }: _*)
  }

  /** O(1) window over the partition buffer: the match SEARCH SPACE for the
    * row at absolute index `off` — always starts AT that row (the frame
    * start is pinned to CURRENT ROW by the grammar), ends at the frame end.
    * Slicing per row would be O(n²); this wrapper is the zero-copy view. */
  private final class FrameView(part: IndexedSeq[Row], off: Int, hi: Int)
      extends IndexedSeq[Row] {
    def apply(i: Int): Row = part(off + i)
    def length: Int = hi - off
  }

  /** Stateless-DEFINE column set for one symbol: the partition-wide
    * codegen'd boolean plus frame-edge variants. The reference forbids
    * retrieving input values outside the frame
    * (pattern-recognition-in-window.md: "the pattern matching can neither
    * match rows nor retrieve input values outside the frame"), so a
    * condition whose PREV would read BELOW the frame start (only possible
    * at view position 0 — offset-1 navigation) evaluates the `atStart`
    * variant (PREV → NULL), and one whose NEXT would read past a BOUNDED
    * frame end evaluates the `atEnd` variant (NEXT → NULL) at the view's
    * last position; both at a one-row frame. All variants are codegen'd
    * columns in the same single window pass — the fast path stays fast. */
  private final case class DefCols(n: Int, atStart: Int, atEnd: Int, atBoth: Int) {
    def at(v: Int, len: Int): Int = {
      val s = v == 0
      val e = v == len - 1
      if (s && e) atBoth else if (s) atStart else if (e) atEnd else n
    }
  }

  /** Add window `name`'s measures as `<prefix><alias>` columns via one
    * exchange+sort and a streaming per-group sequential pass. */
  private def annotate(input: DataFrame, name: String, b: RowPatternBlock,
      prefix: String): DataFrame = {
    val spark = input.sparkSession
    val syms = MatchRecognizeSql.patternSymbols(b)
    var df = input

    // DEFINE routing, as the FROM-clause lowering: state-independent
    // conditions → codegen'd boolean lag/lead columns (plus frame-edge
    // variants, DefCols above); match-state-dependent ones → trace-aware
    // predicates. The matcher sees the FrameView, so stateful PREV/NEXT
    // clip at the frame edges automatically (index out of view → null).
    val nav = MatchRecognizeSql.window(b.partitionBy, b.orderBy)
    def calls(cond: Expr, fn: String): Seq[Seq[Expr]] =
      nodes(cond).collect { case Call(`fn`, args) => args }
    // multi-offset physical navigation (PREV(x, n>1), PREV(abs(x), 2)) can
    // read below the frame start from positions the offset-1 variant
    // columns don't cover (view position 0 only) — route it through the
    // stateful path, whose view-bounds clipping is offset-exact
    val (stateful, simple) = b.defines.partition { case (sym, cond) =>
      DefineEval.isStateful(cond, sym, syms) ||
        (calls(cond, "PREV") ++ calls(cond, "NEXT")).exists(_.length > 1)
    }
    val helperCols = scala.collection.mutable.ArrayBuffer[String]()
    def addBool(colName: String, cond: Expr, sym: String): String = {
      df = df.withColumn(colName, MatchRecognizeSql.defineColumn(cond, sym, nav))
      helperCols += colName
      colName
    }
    /** PREV and/or NEXT calls read NULL (out-of-frame navigation). */
    def nulled(cond: Expr, prevNull: Boolean, nextNull: Boolean): Expr =
      SqlFrontend.mapChildren(cond, nulled(_, prevNull, nextNull)) match {
        case Call("PREV", _) if prevNull => Lit("NULL")
        case Call("NEXT", _) if nextNull => Lit("NULL")
        case other => other
      }
    val defPlan = simple.map { case (sym, cond) =>
      val usesPrev = calls(cond, "PREV").nonEmpty
      val usesNext = calls(cond, "NEXT").nonEmpty
      val n = addBool(s"${prefix}def_$sym", cond, sym)
      val a = if (usesPrev) addBool(s"${prefix}defA_$sym", nulled(cond, true, false), sym) else n
      val z = if (usesNext) addBool(s"${prefix}defZ_$sym", nulled(cond, false, true), sym) else n
      val both =
        if (usesPrev && usesNext) addBool(s"${prefix}defB_$sym", nulled(cond, true, true), sym)
        else if (usesPrev) a else if (usesNext) z else n
      (sym, n, a, z, both)
    }
    val schema = df.schema
    val tracePreds: Map[String, RowPattern.TracePredicate] =
      defPlan.map { case (sym, n, a, z, both) =>
        val cols = DefCols(schema.fieldIndex(n), schema.fieldIndex(a),
          schema.fieldIndex(z), schema.fieldIndex(both))
        sym -> ((p: IndexedSeq[Row], v: Int, _: RowPattern.Trace) => {
          val ci = cols.at(v, p.length)
          !p(v).isNullAt(ci) && p(v).getBoolean(ci)
        }): (String, RowPattern.TracePredicate)
      }.toMap ++
        stateful.map { case (sym, cond) =>
          sym -> DefineEval.define(spark, schema, cond, sym, syms, b.subsets)
        }

    val compiled = b.measures.map { m =>
      m.alias -> DefineEval.measure(spark, schema, m.e, syms, b.subsets)
    }
    val parsedPattern = RowPattern.parse(b.pattern)
    // reference: "the anchor patterns ^ and $ are not allowed in a window
    // specification" (pattern-recognition-in-window.md Row pattern syntax)
    if (RowPattern.containsAnchor(parsedPattern))
      fail(s"anchor patterns ^ and $$ are not allowed in a window " +
        s"specification (window '$name')")
    val matcher = new RowPattern.Matcher(parsedPattern, tracePreds)
    val keyIdx = b.partitionBy.map(schema.fieldIndex)
    val inWidth = schema.length
    val outSchema = StructType(schema.fields ++
      compiled.map { case (alias, cm) => StructField(prefix + alias, cm.dataType) })
    val frameK = b.frameK
    val seek = b.seek
    val skip = b.skip
    // the row_number window pins hash-partition + sort; the DEFINE lag/lead
    // columns above share the same exchange (EnsureRequirements reuse)
    val w = Window.partitionBy(b.partitionBy.map(col): _*)
      .orderBy(b.orderBy.map(col): _*)
    val annotated = df.withColumn(s"${prefix}rn", row_number().over(w))
      .mapPartitions { it =>
        MatchRecognize.keyGroups(it, keyIdx).flatMap { part =>
          // Sequential processing with AFTER MATCH skip marking
          // (reference pattern-recognition-in-window.md "Processing
          // input"): rows before `skipUntil` were consumed by a previous
          // match and produce NULL measures without attempting.
          var skipUntil = 0
          part.indices.map { i =>
            val base = (0 until inWidth).map(part(i).get)
            if (i < skipUntil) Row.fromSeq(base ++ compiled.map(_ => null))
            else {
              // search space = the frame extent [i, i+k] (always starting
              // AT the current row — matching and navigation clip at BOTH
              // frame edges through the view). INITIAL anchors only at
              // view position 0; SEEK advances the anchor to the first
              // in-frame position with a match.
              val hi = frameK match {
                case None => part.length
                case Some(k) => math.min(part.length, i + k + 1)
              }
              val view: IndexedSeq[Row] = new FrameView(part, i, hi)
              var rel = 0
              var m: Option[RowPattern.PatternMatch] = None
              var searching = true
              while (searching && rel < view.length) {
                m = matcher.anchoredAtAllowEmpty(view, rel)
                searching = m.isEmpty && seek
                rel += 1
              }
              m match {
                case Some(pm) if pm.end > pm.start =>
                  val trace = pm.steps.reverse.toList // most-recent-first
                  val out = Row.fromSeq(base ++
                    compiled.map(_._2.eval(view, trace, pm.end - 1)))
                  // mark skipped rows (absolute indices); a skip target
                  // at or before the current row simply skips nothing —
                  // window processing advances row by row, so the
                  // MATCH_RECOGNIZE infinite-resume hazard cannot arise
                  skipUntil = skip match {
                    case RowPattern.SkipPastLastRow => i + pm.end
                    case RowPattern.SkipToNextRow => i + 1
                    case RowPattern.SkipToVar(vars, first, label) =>
                      val hits = pm.steps.collect { case (v, j) if vars(v) => j }
                      if (hits.isEmpty) throw new IllegalArgumentException(
                        s"AFTER MATCH SKIP TO $label: variable mapped no rows in the match")
                      i + (if (first) hits.min else hits.max)
                  }
                  out
                case Some(pm) =>
                  // EMPTY match: a successful match assigning no
                  // variables — measures evaluate over an empty row
                  // sequence (constants survive, column refs/navigation
                  // NULL, COUNT 0); AFTER MATCH marks nothing
                  Row.fromSeq(base ++ compiled.map(_._2.eval(view, Nil, -1)))
                case None =>
                  Row.fromSeq(base ++ compiled.map(_ => null))
              }
            }
          }
        }
      }(Encoders.row(outSchema))
    // helper columns (rn pin, DEFINE booleans + variants) are internal
    annotated.drop((s"${prefix}rn" +: helperCols.toSeq): _*)
  }
}
