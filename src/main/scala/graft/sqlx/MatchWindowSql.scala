package graft.sqlx

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, expr, row_number}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.plans.RowPattern

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
  * Entry: SqlParser keeps each pattern spec's raw body and parses the
  * select list; SqlFrontend's planning pass hands both to [[plan]] and
  * evaluates the result over the planned FROM relation with [[lowerDf]].
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

  /** Select item: Spark SQL `text` with its output `alias`; a measure
    * reference `name OVER w` has `measure` = the measure name, and a
    * window-function call `fn(args) OVER w` arrives with `text` = the call
    * without its OVER, `measure` = None and `window` = w. */
  final case class Item(text: String, alias: String, measure: Option[String],
      window: Option[String])

  /** One pattern-bearing window specification. */
  final case class Wspec(name: String,
      partitionBy: Seq[String], orderBy: Seq[String],
      measures: Seq[(String, String)], pattern: String,
      defines: Seq[(String, String)], subsets: Map[String, Seq[String]],
      frameK: Option[Int], seek: Boolean, skip: RowPattern.SkipMode)

  /** Whole query block: items over one or more pattern windows plus any
    * number of PLAIN named windows (the reference treats pattern windows as
    * ordinary window specifications coexisting with plain ones —
    * pattern-recognition-in-window.md; SqlBase.g4 windowSpecification).
    * Pattern windows evaluate through the sequential matcher (one
    * exchange+sort each); plain windows lower through Spark's normal window
    * path by inlining their spec at the call site. `plainWindows` maps
    * lowercase window name → rendered spec text. */
  final case class Mw(items: Seq[Item], windows: Seq[Wspec],
      plainWindows: Map[String, String])

  private val windowKeywords = Seq(
    "PARTITION BY", "ORDER BY", "MEASURES", "ROWS BETWEEN", "AFTER MATCH",
    "INITIAL", "SEEK", "PATTERN", "SUBSET", "DEFINE")

  private def fail(what: String): Nothing =
    throw new IllegalArgumentException(s"row-pattern window: $what")

  /** Resolve a query block's select items against its pattern windows
    * (`patterned`: name → raw spec body, as SqlParser captured it) and
    * plain named windows, and parse each pattern window's clauses. */
  def plan(items: Seq[Item], patterned: Seq[(String, String)],
      plainWindows: Map[String, String]): Mw = {
    val declared = patterned.map(_._1.toLowerCase).toSet

    // a window function over a pattern window evaluates over the frame
    // limited to the matched rows (reference pattern-recognition-in-
    // window.md "upon a window function call over the window"); lowered
    // here as a SYNTHESIZED measure on that window. Over a PLAIN window it
    // stays a regular Spark window function call.
    val synth = scala.collection.mutable.Map[String, Seq[(String, String)]]()
      .withDefaultValue(Seq.empty)
    var synthId = 0
    val resolved = items.map(it => it.copy(window = it.window.map(_.toLowerCase))).map {
      case Item(call, alias, None, Some(w)) if declared(w) =>
        val name = s"__wf$synthId"; synthId += 1
        synth(w) = synth(w) :+ ((call, name))
        Item(name, alias, Some(name), Some(w))
      case Item(_, _, None, Some(w)) if !plainWindows.contains(w) =>
        fail(s"unknown window '$w' (declared: " +
          s"${(declared ++ plainWindows.keySet).mkString(", ")})")
      case Item(_, _, Some(m), Some(w)) if !declared(w) =>
        fail(s"unknown pattern window '$w' for measure '$m' " +
          s"(pattern windows: ${declared.mkString(", ")})")
      case it => it
    }
    // unaliased window-function items default their alias to the bare
    // function name — two such calls (sum(a) OVER w, sum(b) OVER w) would
    // collide into ambiguous output columns, so collisions fail loudly
    // asking for AS aliases rather than producing duplicate names
    val dup = resolved.groupBy(_.alias.toLowerCase).collectFirst {
      case (a, is) if is.size > 1 => a
    }
    dup.foreach(a => fail(s"duplicate output column '$a' — " +
      "alias each window-function select item with AS <name>"))

    val windows = patterned.map { case (wName, block) =>
      val cs = MatchRecognizeSql.clauses(block, windowKeywords)
      def one(kw: String): Option[String] = cs.collectFirst { case (`kw`, c) => c }
      val seek = cs.exists(_._1 == "SEEK")
      // frame extent (SqlBase.g4:879 boundedFrame): the reference requires
      // the frame start at CURRENT ROW; the end bounds the match search
      val frameK: Option[Int] = one("ROWS BETWEEN") match {
        case None => None // default: CURRENT ROW AND UNBOUNDED FOLLOWING
        case Some(f) =>
          val t = f.trim
          if ("(?is)^CURRENT\\s+ROW\\s+AND\\s+UNBOUNDED\\s+FOLLOWING$".r
              .findFirstIn(t).isDefined) None
          else if ("(?is)^CURRENT\\s+ROW\\s+AND\\s+CURRENT\\s+ROW$".r
              .findFirstIn(t).isDefined) Some(0)
          else "(?is)^CURRENT\\s+ROW\\s+AND\\s+(\\d+)\\s+FOLLOWING$".r
            .findFirstMatchIn(t) match {
            case Some(m) => Some(m.group(1).toInt)
            case None => fail(
              "frame must be ROWS BETWEEN CURRENT ROW AND " +
                s"{CURRENT ROW | <n> FOLLOWING | UNBOUNDED FOLLOWING}, got '$t'")
          }
      }
      val partition = MatchRecognizeSql.identList(
        one("PARTITION BY").getOrElse(fail("PARTITION BY <cols>")), "PARTITION BY")
      val order = MatchRecognizeSql.identList(
        one("ORDER BY").getOrElse(fail("ORDER BY <cols>")), "ORDER BY")
      val patternRaw = one("PATTERN").getOrElse(fail("PATTERN (...)")).trim
      require(patternRaw.startsWith("(") && patternRaw.endsWith(")"),
        s"PATTERN must be parenthesized, got '$patternRaw'")
      val subsets = one("SUBSET").map(MatchRecognizeSql.splitTop(_).map { d =>
        val m = "(?is)^\\s*(\\w+)\\s*=\\s*\\(([^)]*)\\)\\s*$".r.findFirstMatchIn(d)
          .getOrElse(fail(s"SUBSET entry '$d'"))
        m.group(1) -> m.group(2).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      }.toMap).getOrElse(Map.empty)
      val defines = MatchRecognizeSql.splitTop(
          one("DEFINE").getOrElse(fail("DEFINE ..."))).map { d =>
        val m = "(?is)^\\s*(\\w+)\\s+AS\\s+(.*)$".r.findFirstMatchIn(d)
          .getOrElse(fail(s"DEFINE entry '$d'"))
        (m.group(1), m.group(2).trim)
      }
      val measures = one("MEASURES").map(MatchRecognizeSql.splitTop(_).map { mm =>
        val m = "(?is)^(.*\\S)\\s+AS\\s+(\\w+)\\s*$".r.findFirstMatchIn(mm)
          .getOrElse(fail(s"MEASURES entry '$mm' (expected <expr> AS <alias>)"))
        (m.group(1).trim, m.group(2))
      }).getOrElse(Seq.empty) ++ synth(wName.toLowerCase)
      val skip = MatchRecognizeSql.parseSkip(one("AFTER MATCH"), subsets)
      Wspec(wName, partition, order, measures,
        patternRaw.substring(1, patternRaw.length - 1), defines, subsets,
        frameK, seek, skip)
    }
    // every measure referenced by the select list must be declared in
    // its window
    resolved.filter(_.measure.isDefined).foreach { it =>
      val w = windows.find(_.name.equalsIgnoreCase(it.window.get)).get
      if (!w.measures.exists(_._2.equalsIgnoreCase(it.measure.get)))
        fail(s"measure '${it.measure.get}' is not declared in MEASURES of window '${w.name}'")
    }
    Mw(resolved, windows, plainWindows)
  }

  def lowerDf(full: DataFrame, mw: Mw): DataFrame = {
    // column pruning across ALL windows + plain items
    val fieldNames = full.schema.fieldNames.toSeq
    def refs(text: String): Seq[String] = {
      val lower = fieldNames.map(f => f.toLowerCase -> f).toMap
      "\\w+".r.findAllIn(text).toSeq.flatMap(w => lower.get(w.toLowerCase)).distinct
    }
    val keep = (mw.items.filter(_.measure.isEmpty).flatMap(i => refs(i.text)) ++
      mw.plainWindows.values.flatMap(refs) ++
      mw.windows.flatMap(w => w.partitionBy ++ w.orderBy ++
        w.defines.flatMap(d => refs(d._2)) ++
        w.measures.flatMap(m => refs(m._1)))).distinct
    // one annotate pass per pattern window, chained: each adds its
    // (prefixed) measure columns behind its own exchange+sort — the
    // reference likewise partitions per window specification. Plain
    // windows are inlined at the call site below and lower through Spark's
    // normal window path; when a plain spec shares the pattern window's
    // (PARTITION BY, ORDER BY), EnsureRequirements reuses the exchange.
    val annotated = mw.windows.zipWithIndex.foldLeft(full.select(keep.map(col): _*)) {
      case (df, (w, wi)) => annotate(df, w, s"__mw${wi}_")
    }
    annotated.selectExpr(mw.items.map { it =>
      (it.measure, it.window) match {
        case (Some(m), _) =>
          val wi = mw.windows.indexWhere(_.name.equalsIgnoreCase(it.window.get))
          s"__mw${wi}_$m AS ${it.alias}"
        case (None, Some(w)) =>
          s"${it.text} OVER (${mw.plainWindows(w)}) AS ${it.alias}"
        case _ => s"${it.text} AS ${it.alias}"
      }
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

  /** Add window `w`'s measures as `<prefix><name>` columns via one
    * exchange+sort and a streaming per-group sequential pass. */
  private def annotate(input: DataFrame, mw: Wspec, prefix: String): DataFrame = {
    val spark = input.sparkSession
    val mr = MatchRecognizeSql.Mr(mw.name, mw.partitionBy, mw.orderBy,
      mw.measures, graft.plans.MatchRecognize.OneRow, RowPattern.SkipPastLastRow,
      mw.pattern, mw.defines, mw.subsets)
    val syms = MatchRecognizeSql.patternSymbols(mr)
    var df = input

    // DEFINE routing, as the FROM-clause lowering: state-independent
    // conditions → codegen'd boolean lag/lead columns (plus frame-edge
    // variants, DefCols above); match-state-dependent ones → trace-aware
    // predicates. The matcher sees the FrameView, so stateful PREV/NEXT
    // clip at the frame edges automatically (index out of view → null).
    val navOver =
      s"OVER (PARTITION BY ${mw.partitionBy.mkString(", ")} ORDER BY ${mw.orderBy.mkString(", ")})"
    // multi-offset physical navigation (PREV(x, n>1)) can read below the
    // frame start from positions the offset-1 variant columns don't cover
    // (view position 0 only) — route it through the stateful path, whose
    // view-bounds clipping is offset-exact. Detection uses the balanced-paren
    // call rewriter + top-level comma split, so an offset call whose first
    // argument itself contains parens or commas — PREV(abs(x), 2),
    // PREV(coalesce(x, y), 2) — classifies correctly (a paren-free regex
    // would miss it and mis-route to the stateless path).
    def offsetNav(cond: String): Boolean = {
      var multi = false
      MatchRecognizeSql.rewriteCalls(cond, Set("PREV", "NEXT")) { case (fn, arg) =>
        if (MatchRecognizeSql.splitTop(arg).lengthCompare(1) > 0) multi = true
        s"$fn($arg)"
      }
      multi
    }
    val (stateful, simple) =
      mw.defines.partition(d =>
        DefineEval.isStateful(d._2, d._1, syms) || offsetNav(d._2))
    val helperCols = scala.collection.mutable.ArrayBuffer[String]()
    def addBool(name: String, cond: String, sym: String): String = {
      df = df.withColumn(name,
        expr(MatchRecognizeSql.rewriteDefine(cond, sym, syms, navOver)))
      helperCols += name
      name
    }
    /** Rewrite PREV and/or NEXT calls to NULL (out-of-frame navigation). */
    def nulled(cond: String, prevNull: Boolean, nextNull: Boolean): String =
      MatchRecognizeSql.rewriteCalls(cond, Set("PREV", "NEXT")) {
        case ("PREV", arg) => if (prevNull) "NULL" else s"PREV($arg)"
        case ("NEXT", arg) => if (nextNull) "NULL" else s"NEXT($arg)"
        case (other, arg) => s"$other($arg)"
      }
    val defPlan = simple.map { case (sym, cond) =>
      val usesPrev = "(?i)\\bPREV\\s*\\(".r.findFirstIn(cond).isDefined
      val usesNext = "(?i)\\bNEXT\\s*\\(".r.findFirstIn(cond).isDefined
      val n = addBool(s"${prefix}def_$sym", cond, sym)
      val a = if (usesPrev) addBool(s"${prefix}defA_$sym", nulled(cond, true, false), sym) else n
      val z = if (usesNext) addBool(s"${prefix}defZ_$sym", nulled(cond, false, true), sym) else n
      val b =
        if (usesPrev && usesNext) addBool(s"${prefix}defB_$sym", nulled(cond, true, true), sym)
        else if (usesPrev) a else if (usesNext) z else n
      (sym, n, a, z, b)
    }
    val schema = df.schema
    val tracePreds: Map[String, RowPattern.TracePredicate] =
      defPlan.map { case (sym, n, a, z, b) =>
        val cols = DefCols(schema.fieldIndex(n), schema.fieldIndex(a),
          schema.fieldIndex(z), schema.fieldIndex(b))
        sym -> ((p: IndexedSeq[Row], v: Int, _: RowPattern.Trace) => {
          val ci = cols.at(v, p.length)
          !p(v).isNullAt(ci) && p(v).getBoolean(ci)
        }): (String, RowPattern.TracePredicate)
      }.toMap ++
        stateful.map { case (sym, cond) =>
          sym -> DefineEval.compile(spark, schema, cond, sym, syms, mw.subsets)
        }

    val compiled = mw.measures.map { case (e, name) =>
      name -> DefineEval.compileMeasure(spark, schema, e, syms, mw.subsets)
    }
    val parsedPattern = RowPattern.parse(mw.pattern)
    // reference: "the anchor patterns ^ and $ are not allowed in a window
    // specification" (pattern-recognition-in-window.md Row pattern syntax)
    if (RowPattern.containsAnchor(parsedPattern))
      fail(s"anchor patterns ^ and $$ are not allowed in a window " +
        s"specification (window '${mw.name}')")
    val matcher = new RowPattern.Matcher(parsedPattern, tracePreds)
    val keyIdx = mw.partitionBy.map(schema.fieldIndex)
    val inWidth = schema.length
    val outSchema = StructType(schema.fields ++
      compiled.map { case (name, cm) => StructField(prefix + name, cm.dataType) })
    val frameK = mw.frameK
    val seek = mw.seek
    val skip = mw.skip
    // the row_number window pins hash-partition + sort; the DEFINE lag/lead
    // columns above share the same exchange (EnsureRequirements reuse)
    val w = Window.partitionBy(mw.partitionBy.map(col): _*)
      .orderBy(mw.orderBy.map(col): _*)
    val annotated = df.withColumn(s"${prefix}rn", row_number().over(w))
      .mapPartitions { it =>
        new Iterator[Seq[Row]] {
          private val buf = it.buffered
          private def keyOf(r: Row): Seq[Any] = keyIdx.map(r.get)
          def hasNext: Boolean = buf.hasNext
          def next(): Seq[Row] = {
            val key = keyOf(buf.head)
            val group = scala.collection.mutable.ArrayBuffer[Row]()
            while (buf.hasNext && keyOf(buf.head) == key) group += buf.next()
            val part = group.toIndexedSeq
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
        }.flatten
      }(Encoders.row(outSchema))
    // helper columns (rn pin, DEFINE booleans + variants) are internal
    annotated.drop((s"${prefix}rn" +: helperCols.toSeq): _*)
  }
}
