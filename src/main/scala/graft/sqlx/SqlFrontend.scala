package graft.sqlx

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}

import SqlAst._

/** AST passes + Spark-SQL renderer for the parsed dialect front door.
  *
  * The regex layer's rewrites become structural transforms here, so they
  * compose at any nesting depth:
  *  - function renames and TRY lowering walk the expression tree bottom-up
  *    (TRY over a window call lowers the arithmetic AROUND the window
  *    expression — try_divide(sum(x) OVER w, …) — which no flat text pass
  *    could place correctly);
  *  - AT TIME ZONE is an expression node → from_utc_timestamp;
  *  - FETCH FIRST n ROWS WITH TIES wraps ITS OWN query block in a rank()
  *    subquery wherever it appears, not just at statement tail;
  *  - MATCH_RECOGNIZE is a relation node: its input relation is planned
  *    first (recursively — MR over a derived table or another MR works),
  *    lowered through the NFA machinery, and spliced back as a temp view;
  *    a query block with row-pattern WINDOW specs is lowered the same way
  *    over its FROM relation (MatchWindowSql), and exclude_columns'
  *    TABLE/DESCRIPTOR arguments are checked against the live schema;
  *  - quoted identifiers render as backticks, so `"from"` works as a column
  *    name even where the regex layer would have tripped on the keyword.
  *
  * Rendering parenthesizes every binary expression, making operator
  * precedence a parse-time-only concern. SQL routine bodies lower through
  * the same passes ([[lowerExprText]]).
  */
private[graft] object SqlFrontend {

  private val viewCounter = new AtomicInteger(0)

  def run(spark: SparkSession, dir: String, text: String): DataFrame =
    run(spark, dir, new SqlParser(text).parseQuery())

  /** Lower a parsed query (the front door's one parse) to an analyzed
    * DataFrame. */
  def run(spark: SparkSession, dir: String, parsed: Query): DataFrame = {
    // row filters / column masks splice in BEFORE planning, so the policy
    // predicate optimizes (and pushes down) like any user WHERE clause
    val secured = SessionContext.enforcedUser
      .map(u => RowSecurity.secure(parsed, u, spark)).getOrElse(parsed)
    val rewritten = rewriteQuery(secured)
    val planned = planQuery(spark, dir, rewritten)
    spark.sql(renderQuery(planned))
  }

  // ------------------------------------------------------------ expr passes

  /** One dialect expression (a routine body or a fragment of one) lowered
    * to Spark SQL text: parse, rewrite, render. Trailing input is a
    * SqlParseException. */
  private[graft] def lowerExprText(text: String): String =
    lowerExpr(new SqlParser(text).parseStandaloneExpr())

  /** A parsed dialect expression (a routine's RETURN body) lowered to
    * Spark SQL text. */
  private[graft] def lowerExpr(e: Expr): String = renderExpr(rewriteExpr(e))

  private val fnRenames = Map(
    "row" -> "struct", // ROW(...) constructor; CAST names the fields
    "reduce" -> "aggregate",
    "format" -> "format_string",
    "approx_distinct" -> "approx_count_distinct",
    "arbitrary" -> "any_value",
    "strpos" -> "instr",
    "codepoint" -> "ascii",
    "json_extract_scalar" -> "get_json_object",
    "json_value" -> "json_path_value",
    "json_query" -> "json_path_query")

  private val tryFnMap = Map(
    "element_at" -> "try_element_at",
    "to_number" -> "try_to_number",
    "to_timestamp" -> "try_to_timestamp",
    "to_binary" -> "try_to_binary",
    "url_decode" -> "try_url_decode",
    "parse_json" -> "try_parse_json",
    "json_value" -> "json_path_value",
    "json_query" -> "json_path_query")

  /** Bottom-up expression rewrite: renames, TRY lowering, AT TIME ZONE. */
  private[sqlx] def rewriteExpr(e: Expr): Expr = {
    val r = mapChildren(e, rewriteExpr)
    r match {
      case Fn(name, args, d, over) if fnRenames.contains(name.toLowerCase) =>
        Fn(fnRenames(name.toLowerCase), args, d, over)
      case AtTimeZone(x, tz) => Fn("from_utc_timestamp", Seq(x, tz), distinct = false, None)
      // MAP(keys, values) pairs two arrays (reference MapConstructor);
      // Spark's map(k, v) would build one entry keyed by the keys array
      case Fn(name, kv @ Seq(_, _), false, None) if name.equalsIgnoreCase("map") =>
        Fn("map_from_arrays", kv, distinct = false, None)
      case TryExpr(body) =>
        lowerTry(body).getOrElse(throw new SqlParseException(
          s"TRY(${renderExpr(body)}): unsupported body — TRY lowers over " +
            "arithmetic (+ - * / %), CAST, and " +
            tryFnMap.keys.toSeq.sorted.mkString("/")))
      case other => other
    }
  }

  /** Calls that are ALREADY null-on-error when the body reaches TRY (the
    * rename pass runs first, so json_value is json_path_value here; a user
    * may also write the try_ twins directly) — TRY over them is an absorbed
    * no-op, not an error. */
  private val tryTransparent: Set[String] =
    Set("json_path_value", "json_path_query") ++ tryFnMap.values.filter(_.startsWith("try_"))

  /** TRY body: give every arithmetic level its try_ twin; single calls map
    * through the function table; CAST becomes TRY_CAST. None when nothing
    * absorbs the error — the caller raises (silently dropping TRY would
    * change semantics). Mirrors the reference's per-expression error
    * absorption (TRY in SqlBase.g4). */
  private def lowerTry(e: Expr): Option[Expr] = e match {
    case Bin(op @ ("+" | "-" | "*" | "/" | "%"), l, r) =>
      val fn = op match {
        case "+" => "try_add"
        case "-" => "try_subtract"
        case "*" => "try_multiply"
        case "/" => "try_divide"
        case "%" => "try_mod"
      }
      Some(Fn(fn, Seq(lowerTry(l).getOrElse(l), lowerTry(r).getOrElse(r)),
        distinct = false, None))
    case Cast(x, t, _) => Some(Cast(x, t, isTry = true))
    case Fn(name, args, d, over) if tryFnMap.contains(name.toLowerCase) =>
      Some(Fn(tryFnMap(name.toLowerCase), args, d, over))
    case f @ Fn(name, _, _, _) if tryTransparent(name.toLowerCase) => Some(f)
    case _ => None
  }

  /** One-level structural map over a window spec's child expressions. */
  private def mapWindow(w: WindowSpec, f: Expr => Expr): WindowSpec =
    w.copy(partitionBy = w.partitionBy.map(f),
      orderBy = w.orderBy.map(s => SortItem(f(s.e), s.dir, s.nulls)),
      rowPattern = w.rowPattern.map(_.mapExprs(f)))

  /** One-level structural map over expression children. */
  private[sqlx] def mapChildren(e: Expr, f: Expr => Expr): Expr = e match {
    case Fn(n, args, d, over) =>
      Fn(n, args.map(f), d, over.map(mapWindow(_, f)))
    case FilterOver(agg, c, w) => FilterOver(f(agg), f(c), mapWindow(w, f))
    case ListAggExpr(d, v, sep, tr, fil, wc, ob) =>
      ListAggExpr(d, f(v), sep, tr, fil, wc,
        ob.map(s => SortItem(f(s.e), s.dir, s.nulls)))
    case SpecialForm(t, args) => SpecialForm(t, args.map(f))
    case Lambda(ps, b) => Lambda(ps, f(b))
    case Cast(x, t, isTry) => Cast(f(x), t, isTry)
    case TryExpr(x) => TryExpr(f(x))
    case Bin(op, l, r) => Bin(op, f(l), f(r))
    case Un(op, x) => Un(op, f(x))
    case IsNull(x, n) => IsNull(f(x), n)
    case Between(x, lo, hi, n) => Between(f(x), f(lo), f(hi), n)
    case InList(x, items, n) => InList(f(x), items.map(f), n)
    case InSubq(x, q, n) => InSubq(f(x), rewriteQuery(q), n)
    case LikeExpr(x, pat, n, esc) => LikeExpr(f(x), f(pat), n, esc.map(f))
    case ExistsExpr(q) => ExistsExpr(rewriteQuery(q))
    case ScalarSubq(q) => ScalarSubq(rewriteQuery(q))
    case CaseExpr(op, whens, els) =>
      CaseExpr(op.map(f), whens.map { case (c, v) => (f(c), f(v)) }, els.map(f))
    case AtTimeZone(x, tz) => AtTimeZone(f(x), f(tz))
    case Subscript(x, ix) => Subscript(f(x), f(ix))
    case FieldRef(x, n) => FieldRef(f(x), n)
    case leaf => leaf
  }

  // ----------------------------------------------------------- query passes

  private[graft] def rewriteQuery(q: Query): Query = q match {
    case s: Select =>
      s.copy(
        items = s.items.map(i => SelectItem(rewriteExpr(i.e), i.alias)),
        from = s.from.map(rewriteRel),
        where = s.where.map(rewriteExpr),
        groupBy = s.groupBy.map(g =>
          GroupBy(g.kind, g.exprs.map(rewriteExpr), g.sets.map(_.map(rewriteExpr)))),
        having = s.having.map(rewriteExpr),
        orderBy = s.orderBy.map(si => SortItem(rewriteExpr(si.e), si.dir, si.nulls)),
        // named WINDOW definitions carry expressions too (ADVICE r14)
        windows = s.windows.map { case (n, w) => (n, mapWindow(w, rewriteExpr)) })
    case SetOpQ(op, all, l, r, corr) =>
      SetOpQ(op, all, rewriteQuery(l), rewriteQuery(r), corr)
    case WithQ(ctes, body) =>
      WithQ(ctes.map { case (n, cq) => (n, rewriteQuery(cq)) }, rewriteQuery(body))
    case ValuesQ(rows) => ValuesQ(rows.map(_.map(rewriteExpr)))
    case OrderedQ(inner, ob, lim, ties, off) =>
      OrderedQ(rewriteQuery(inner), ob.map(si => SortItem(rewriteExpr(si.e), si.dir, si.nulls)), lim, ties, off)
  }

  private def rewriteRel(r: Rel): Rel = r match {
    case JoinRel(k, l, rr, on) => JoinRel(k, rewriteRel(l), rewriteRel(rr), on.map(rewriteExpr))
    case SubqueryRel(q, a, c) => SubqueryRel(rewriteQuery(q), a, c)
    case MatchRel(input, block, a) =>
      MatchRel(rewriteRel(input), block.mapExprs(rewriteExpr), a)
    case SampleRel(input, m, pct) => SampleRel(rewriteRel(input), m, rewriteExpr(pct))
    case tt: TimeTravelRel => tt
    case TvfRel(n, args, a, per) =>
      TvfRel(n, args.map { case (k, e) => (k, rewriteExpr(e)) }, a, per)
    case UnnestRel(es, alias, cols, ord) => UnnestRel(es.map(rewriteExpr), alias, cols, ord)
    case t: TableRef => t
  }

  // -------------------------------------------------- MR/TVF planning pass

  private[sqlx] def planQuery(spark: SparkSession, dir: String, q: Query): Query = q match {
    case s: Select if s.windows.exists(_._2.rowPattern.isDefined) =>
      planPatternWindows(spark, dir, s)
    case s: Select => s.copy(
      items = s.items.map(i => SelectItem(planExpr(spark, dir, i.e), i.alias)),
      from = s.from.map(planRel(spark, dir, _)),
      where = s.where.map(planExpr(spark, dir, _)),
      having = s.having.map(planExpr(spark, dir, _)),
      windows = s.windows.map { case (n, w) =>
        (n, mapWindow(w, planExpr(spark, dir, _))) })
    case SetOpQ(op, all, l, r, corr) =>
      val (pl, pr) = (planQuery(spark, dir, l), planQuery(spark, dir, r))
      if (!corr) SetOpQ(op, all, pl, pr)
      else {
        // CORRESPONDING resolves HERE, where schemas are available: probe
        // each side's output columns (analysis only — nothing executes),
        // take the name intersection in LEFT order, and project both sides
        // onto it — the reference's corresponding analysis
        // (StatementAnalyzer.setCorrespondingAnalysis) done as a rewrite.
        def columnsOf(q: Query): Seq[String] =
          try spark.sql(renderQuery(q)).schema.fieldNames.toSeq
          catch {
            case e: Exception => throw new IllegalArgumentException(
              "CORRESPONDING could not resolve its inputs' columns in this " +
                s"position (${e.getMessage})")
          }
        val lc = columnsOf(pl)
        val rset = columnsOf(pr).map(_.toLowerCase).toSet
        val common = lc.filter(c => rset.contains(c.toLowerCase))
        if (common.isEmpty)
          throw new IllegalArgumentException("No corresponding columns")
        def proj(q: Query): Query = Select(distinct = false,
          items = common.map(c => SelectItem(Id(Seq((c, false))), None)),
          from = Some(SubqueryRel(q, None)), where = None, groupBy = None,
          having = None, orderBy = Nil, limit = None, fetchTies = None)
        SetOpQ(op, all, proj(pl), proj(pr))
      }
    case WithQ(ctes, body) =>
      WithQ(ctes.map { case (n, cq) => (n, planQuery(spark, dir, cq)) },
        planQuery(spark, dir, body))
    case v: ValuesQ => v
    case OrderedQ(inner, ob, lim, ties, off) =>
      OrderedQ(planQuery(spark, dir, inner), ob, lim, ties, off)
  }

  /** Row-pattern windows (SqlBase.g4:876-880), lowered like MatchRel: the
    * FROM relation is planned first and WHERE filters it, MatchWindowSql
    * evaluates every pattern window over it, and the block becomes a read
    * of that result, to which ORDER BY / LIMIT / OFFSET apply. */
  private def planPatternWindows(spark: SparkSession, dir: String, s: Select): Query = {
    def fail(what: String): Nothing =
      throw new IllegalArgumentException(s"row-pattern window: $what")
    if (s.groupBy.isDefined || s.having.isDefined)
      fail("GROUP BY / HAVING in the same query block is unsupported")
    val from = s.from.getOrElse(fail("the query block needs a FROM relation"))
    val (patterned, plain) = s.windows.partition(_._2.rowPattern.isDefined)
    val items = s.items.map { case SelectItem(e, alias) =>
      val planned = planExpr(spark, dir, e)
      planned -> alias.getOrElse(planned match {
        case MeasureRef(m, _) => m
        case Fn(name, _, _, Some(WindowSpec(_, _, _, Some(_), _))) => name
        case id: Id => id.parts.last._1
        case other => fail(s"alias the select item ${renderExpr(other)} with AS <name>")
      })
    }
    val mw = MatchWindowSql.plan(items,
      patterned.map { case (n, w) => (n, w.rowPattern.get) },
      plain.map { case (n, w) =>
        n.toLowerCase -> mapWindow(w, planExpr(spark, dir, _))
      }.toMap)
    val input = relationDf(spark, dir, planRel(spark, dir, from))
    val filtered = s.where.fold(input)(w => input.where(renderExpr(planExpr(spark, dir, w))))
    val view = s"__mw_view_${viewCounter.incrementAndGet()}"
    MatchWindowSql.lowerDf(filtered, mw).createOrReplaceTempView(view)
    Select(s.distinct, Seq(SelectItem(Star(None), None)),
      Some(TableRef(Id(Seq((view, false))), None)), None, None, None,
      s.orderBy, s.limit, s.fetchTies, s.offset)
  }

  /** A planned relation as a DataFrame: a bare table reads through
    * Tables.load (or the registered view of that name), anything else
    * through its rendered SQL. */
  private def relationDf(spark: SparkSession, dir: String, planned: Rel): DataFrame =
    planned match {
      case TableRef(id, None) =>
        try graft.sources.Tables.load(spark, dir, id.plain)
        catch { case _: Exception => spark.table(renderId(id)) }
      case rel => spark.sql("SELECT * FROM " + renderRel(rel))
    }

  /** exclude_columns (reference built-in table function,
    * docs/functions/table.md:33-60; ExcludeColumnsFunction): the input
    * table minus the descriptor's columns, checked against its live
    * schema. Arguments by name (`input =>`, `columns =>`) or position. */
  private def excludeColumns(spark: SparkSession, dir: String,
      args: Seq[(Option[String], Expr)]): DataFrame = {
    def arg(name: String, pos: Int): Expr =
      args.collectFirst { case (Some(n), e) if n.equalsIgnoreCase(name) => e }
        .orElse(args.lift(pos).collect { case (None, e) => e })
        .getOrElse(throw new IllegalArgumentException(
          s"exclude_columns: missing argument '$name'"))
    val (tbl, df) = arg("input", 0) match {
      case TableArg(rel) =>
        val name = rel match {
          case TableRef(id, _) => id.plain
          case SubqueryRel(_, Some(a), _) => a // row-policy wrapped table
          case _ => "input"
        }
        (name, relationDf(spark, dir, planRel(spark, dir, rel)))
      case other => throw new IllegalArgumentException(
        s"exclude_columns: input must be TABLE(<table>), got ${renderExpr(other)}")
    }
    val cols = arg("columns", 1) match {
      case DescriptorArg(cs) => cs
      case other => throw new IllegalArgumentException(
        s"exclude_columns: columns must be DESCRIPTOR(<col>, …), got ${renderExpr(other)}")
    }
    require(cols.nonEmpty,
      "exclude_columns: the columns descriptor must name at least one column")
    cols.foreach(c => require(df.columns.exists(_.equalsIgnoreCase(c)),
      s"exclude_columns: column '$c' is not in table '$tbl'"))
    require(cols.length < df.columns.length,
      "exclude_columns: cannot exclude every column of the input")
    df.drop(cols: _*)
  }

  private def planExpr(spark: SparkSession, dir: String, e: Expr): Expr =
    mapChildren(e, planExpr(spark, dir, _)) match {
      case InSubq(x, q, n) => InSubq(x, planQuery(spark, dir, q), n)
      case ExistsExpr(q) => ExistsExpr(planQuery(spark, dir, q))
      case ScalarSubq(q) => ScalarSubq(planQuery(spark, dir, q))
      case other => other
    }

  private def planRel(spark: SparkSession, dir: String, r: Rel): Rel = r match {
    case JoinRel(k, l, rr, on) =>
      JoinRel(k, planRel(spark, dir, l), planRel(spark, dir, rr),
        on.map(planExpr(spark, dir, _)))
    case SubqueryRel(q, a, c) => SubqueryRel(planQuery(spark, dir, q), a, c)
    case MatchRel(input, block, alias) =>
      val inputDf = relationDf(spark, dir, planRel(spark, dir, input))
      val df = MatchRecognizeSql.lowerDf(inputDf, block)
      val view = s"__mr_view_${viewCounter.incrementAndGet()}"
      df.createOrReplaceTempView(view)
      TableRef(Id(Seq((view, false))), alias)
    case TvfRel(name, args, alias, None) if name.equalsIgnoreCase("exclude_columns") =>
      val view = s"__tvf_${name}_${viewCounter.incrementAndGet()}"
      excludeColumns(spark, dir, args).createOrReplaceTempView(view)
      TableRef(Id(Seq((view, false))), alias)
    case TvfRel(name, args, alias, period) =>
      val argTexts = args.map {
        case (None, e) => renderExpr(e)
        case (Some(n), _) => throw new IllegalArgumentException(
          s"table function '$name' takes positional arguments, got '$n =>'")
      }
      val view = s"__tvf_${name}_${viewCounter.incrementAndGet()}"
      val df = period match {
        case None => graft.functions.TableFunctions.invoke(spark, dir, name, argTexts)
        case Some((kind, value)) =>
          val raw = value match {
            case TypedLit(_, s0) => s0
            case Lit(s0) => s0
            case other => throw new SqlParseException(
              s"FOR $kind AS OF takes a literal, got ${renderExpr(other)}")
          }
          graft.functions.TableFunctions.invokeAsOf(spark, name, argTexts, kind, raw)
      }
      df.createOrReplaceTempView(view)
      TableRef(Id(Seq((view, false))), alias)
    case UnnestRel(es, alias, cols, ord) => UnnestRel(es, alias, cols, ord)
    case SampleRel(input, m, pct) => SampleRel(planRel(spark, dir, input), m, pct)
    case TimeTravelRel(name, kind, value, alias) =>
      val raw = value match {
        case TypedLit(_, s0) => s0
        case Lit(s0) => s0
        case other => throw new SqlParseException(
          s"FOR $kind AS OF takes a literal, got ${renderExpr(other)}")
      }
      val df = Statements.timeTravelRead(spark, name.plain, kind, raw)
      val view = s"__asof_${viewCounter.incrementAndGet()}"
      df.createOrReplaceTempView(view)
      TableRef(Id(Seq((view, false))), alias.orElse(Some(name.plain)))
    // information_schema.* / system.runtime.* / system.metadata.*: metadata
    // relations materialized driver-side (O(tables)) as temp views
    case TableRef(Id(parts), alias)
        if parts.length >= 2 &&
           Set("information_schema", "system")(parts.head._1.toLowerCase) &&
           Statements.metadataRelation(spark, dir, parts.map(_._1)).isDefined =>
      val df = Statements.metadataRelation(spark, dir, parts.map(_._1)).get
      val view = s"__meta_${viewCounter.incrementAndGet()}"
      df.createOrReplaceTempView(view)
      TableRef(Id(Seq((view, false))), alias.orElse(Some(parts.last._1)))
    // schema-qualified front-door table (CREATE SCHEMA s; s.t): temp views
    // are single-part, so swap in the mangled view name and keep the table
    // part as the default alias
    case TableRef(id @ Id(Seq((schema, _), (table, _))), alias)
        if Statements.isSchema(schema) =>
      TableRef(Id(Seq((Statements.viewNameOf(s"${schema.toLowerCase}.${table.toLowerCase}"), false))),
        alias.orElse(Some(table)))
    // unqualified front-door table under a session schema (X-Trino-Schema
    // header or USE): the registry key is schema-qualified — swap in the
    // mangled single-part temp-view name
    case TableRef(Id(Seq((table, _))), alias)
        if Statements.resolveTableKey(table).exists(_.contains(".")) =>
      TableRef(Id(Seq((Statements.viewNameOf(
        Statements.resolveTableKey(table).get), false))),
        alias.orElse(Some(table)))
    // materialized view with WHEN STALE behavior (SqlBase.g4 :116): a
    // stale-beyond-grace MV either FAILs the read or expands the stored
    // definition INLINE (the reference MaterializedView freshness contract)
    case t @ TableRef(Id(Seq((table, _))), alias)
        if Statements.mvStaleInlineSql(spark, table).isDefined =>
      Statements.mvStaleInlineSql(spark, table).get match {
        case None => t // fresh (or default mode): read the materialization
        case Some(defSql) =>
          val q = planQuery(spark, dir,
            rewriteQuery(new SqlParser(defSql).parseQuery()))
          SubqueryRel(q, alias.orElse(Some(table)))
      }
    case t: TableRef => t
  }

  // --------------------------------------------------------------- renderer

  def renderQuery(q: Query): String = q match {
    case s: Select => renderSelect(s)
    case SetOpQ(op, all, l, r, _) => // corresponding resolved in planQuery
      s"(${renderQuery(l)}) $op ${if (all) "ALL " else ""}(${renderQuery(r)})"
    case WithQ(ctes, body) =>
      val cs = ctes.map { case (n, cq) => s"$n AS (${renderQuery(cq)})" }.mkString(", ")
      s"WITH $cs ${renderQuery(body)}"
    case ValuesQ(rows) =>
      "VALUES " + rows.map(r => "(" + r.map(renderExpr).mkString(", ") + ")").mkString(", ")
    case OrderedQ(inner, ob, lim, ties, off) =>
      ties match {
        case Some(n) => renderWithTies(s"(${renderQuery(inner)})", ob, n)
        case None =>
          s"SELECT * FROM (${renderQuery(inner)})" +
            orderClause(ob) + lim.map(n => s" LIMIT $n").getOrElse("") +
            off.map(m => s" OFFSET $m").getOrElse("")
      }
  }

  private def orderClause(ob: Seq[SortItem]): String =
    if (ob.isEmpty) ""
    else " ORDER BY " + ob.map(renderSortItem).mkString(", ")

  private def renderSortItem(s: SortItem): String =
    renderExpr(s.e) + s.dir.map(" " + _).getOrElse("") +
      s.nulls.map(n => s" NULLS $n").getOrElse("")

  /** FETCH FIRST n ROWS WITH TIES lowering: rank() over the same ORDER BY
    * around this block only (reference SqlBase.g4 limitRowCount WITH TIES;
    * Spark has no native WITH TIES). */
  private def renderWithTies(fromSql: String, ob: Seq[SortItem], n: Long): String = {
    require(ob.nonEmpty, "FETCH ... WITH TIES requires ORDER BY")
    val ord = ob.map(renderSortItem).mkString(", ")
    s"SELECT * EXCEPT(__tie_rank) FROM (SELECT *, rank() OVER (ORDER BY $ord) " +
      s"AS __tie_rank FROM $fromSql __fft) WHERE __tie_rank <= $n ORDER BY $ord"
  }

  private def renderSelect(s: Select): String = {
    s.fetchTies match {
      case Some(n) =>
        val inner = renderSelect(s.copy(orderBy = Seq.empty, fetchTies = None))
        renderWithTies(s"($inner)", s.orderBy, n)
      case None =>
        val sb = new StringBuilder("SELECT ")
        if (s.distinct) sb.append("DISTINCT ")
        sb.append(s.items.map { i =>
          renderExpr(i.e) + i.alias.map(a => s" AS ${renderAlias(a)}").getOrElse("")
        }.mkString(", "))
        s.from.foreach(r => sb.append(" FROM ").append(renderRel(r)))
        s.where.foreach(w => sb.append(" WHERE ").append(renderExpr(w)))
        s.groupBy.foreach { g =>
          sb.append(" GROUP BY ")
          g.kind match {
            case "PLAIN" => sb.append(g.exprs.map(renderExpr).mkString(", "))
            case "ROLLUP" => sb.append("ROLLUP (").append(g.exprs.map(renderExpr).mkString(", ")).append(")")
            case "CUBE" => sb.append("CUBE (").append(g.exprs.map(renderExpr).mkString(", ")).append(")")
            case "SETS" => sb.append("GROUPING SETS (")
              .append(g.sets.map(set => "(" + set.map(renderExpr).mkString(", ") + ")").mkString(", "))
              .append(")")
          }
        }
        s.having.foreach(h => sb.append(" HAVING ").append(renderExpr(h)))
        if (s.windows.nonEmpty) // Spark shares the named-WINDOW syntax
          sb.append(" WINDOW ").append(s.windows.map { case (n, w) =>
            s"$n AS (${renderWindow(w)})"
          }.mkString(", "))
        sb.append(orderClause(s.orderBy))
        s.limit.foreach(n => sb.append(s" LIMIT $n"))
        s.offset.foreach(m => sb.append(s" OFFSET $m")) // Spark: OFFSET after LIMIT
        sb.toString
    }
  }

  /** Cast-target type at the dialect boundary: Trino ROW(name type, ...)
    * becomes Spark STRUCT<name: type> (recursively); every other spelling
    * passes through to Spark's own type parser. */
  private[sqlx] def renderCastType(t: String): String = {
    val trimmed = t.trim
    trimmed.toUpperCase match {
      // unparameterized spellings Spark's type parser refuses
      case "VARCHAR" => return "STRING"
      case "VARBINARY" => return "BINARY"
      case _ =>
    }
    if (!trimmed.toUpperCase.startsWith("ROW(")) return t
    val inner = trimmed.substring(4, trimmed.length - 1)
    // split top-level commas (nesting-aware)
    val fields = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0; var start = 0
    for (i <- inner.indices) inner.charAt(i) match {
      case '(' | '<' => depth += 1
      case ')' | '>' => depth -= 1
      case ',' if depth == 0 => fields += inner.substring(start, i); start = i + 1
      case _ =>
    }
    fields += inner.substring(start)
    val rendered = fields.map { f =>
      val ft = f.trim
      val cut = ft.indexOf(' ')
      require(cut > 0, s"ROW field needs 'name type': '$ft'")
      s"${ft.substring(0, cut)}: ${renderCastType(ft.substring(cut + 1))}"
    }
    rendered.mkString("STRUCT<", ", ", ">")
  }

  private def renderRel(r: Rel): String = r match {
    case TableRef(id, alias) => renderId(id) + alias.map(" " + renderAlias(_)).getOrElse("")
    case SubqueryRel(q, alias, cols) =>
      val colList = if (cols.nonEmpty) cols.map(renderAlias).mkString("(", ", ", ")") else ""
      s"(${renderQuery(q)})" + alias.map(" " + renderAlias(_)).getOrElse(" " + freshAlias()) + colList
    case JoinRel("CROSS", l, u: UnnestRel, None) =>
      renderRel(l) + " " + renderUnnest(u)
    case JoinRel(kind, l, rr, on) =>
      val kw = kind match {
        case "CROSS" => "CROSS JOIN"
        case "INNER" => "JOIN"
        case k => s"$k JOIN"
      }
      s"${renderRel(l)} $kw ${renderRel(rr)}" + on.map(c => s" ON ${renderExpr(c)}").getOrElse("")
    case u: UnnestRel =>
      // bare UNNEST in FROM: a one-row anchor carries the lateral view,
      // wrapped so only the DECLARED columns escape — `SELECT *` must not
      // see the anchor's constant or the ordinal helper columns
      s"(SELECT ${u.cols.map(renderAlias).mkString(", ")} FROM " +
        s"(SELECT 1) ${freshAlias()} ${renderUnnest(u)}) ${renderAlias(u.alias)}"
    case m: MatchRel =>
      throw new IllegalStateException("MatchRel must be planned before rendering")
    case t: TvfRel =>
      throw new IllegalStateException("TvfRel must be planned before rendering")
    // BERNOULLI is Spark's row-Bernoulli PERCENT sampling exactly; SYSTEM
    // (block sampling) is approximated the same way — both are
    // probabilistic samples with the same expected fraction
    case SampleRel(input, _, pct) =>
      s"${renderRel(input)} TABLESAMPLE (${renderExpr(pct)} PERCENT)"
    case _: TimeTravelRel =>
      throw new IllegalStateException("TimeTravelRel must be planned before rendering")
  }

  /** UNNEST → LATERAL VIEW lowering (reference
    * operator/unnest/UnnestOperator.java:45):
    *  - one array, one column           → explode
    *  - one MAP argument, two columns   → explode(map) (Spark's native
    *    key/value expansion)
    *  - N arrays zipped, N columns      → transform+sequence zip with
    *    NULL padding to the longest array (try_element_at), the
    *    reference's unequal-length semantics
    *  - WITH ORDINALITY: posexplode's 0-based pos becomes the 1-based
    *    ordinal through a constant-array lateral view, so the declared
    *    column name binds the +1 value directly. */
  private def renderUnnest(u: UnnestRel): String = {
    val valueCols = if (u.ordinality) u.cols.dropRight(1) else u.cols
    if (u.ordinality && u.cols.length < 2) throw new SqlParseException(
      "UNNEST WITH ORDINALITY names the value column(s) plus an ordinal column")
    val n = u.exprs.length
    def ordTail(posVar: String): String = {
      val v = s"__ordv_${aliasCounter.incrementAndGet()}"
      s" LATERAL VIEW explode(array($posVar + 1)) $v AS ${renderAlias(u.cols.last)}"
    }
    if (n == 1 && valueCols.length == 1) {
      if (u.ordinality) {
        val ord = s"__ord_${aliasCounter.incrementAndGet()}"
        s"LATERAL VIEW posexplode(${renderExpr(u.exprs.head)}) ${u.alias} " +
          s"AS $ord, ${renderAlias(valueCols.head)}" + ordTail(ord)
      } else
        s"LATERAL VIEW explode(${renderExpr(u.exprs.head)}) ${u.alias} " +
          s"AS ${renderAlias(valueCols.head)}"
    } else if (n == 1 && valueCols.length == 2) {
      // UNNEST(map) AS t(k, v): Spark's explode on a map yields key, value
      if (u.ordinality) {
        val ord = s"__ord_${aliasCounter.incrementAndGet()}"
        s"LATERAL VIEW posexplode(${renderExpr(u.exprs.head)}) ${u.alias} " +
          s"AS $ord, ${valueCols.map(renderAlias).mkString(", ")}" + ordTail(ord)
      } else
        s"LATERAL VIEW explode(${renderExpr(u.exprs.head)}) ${u.alias} " +
          s"AS ${valueCols.map(renderAlias).mkString(", ")}"
    } else if (n >= 2 && valueCols.length == n) {
      // zip: one row per index up to the LONGEST array, shorter arrays
      // padded with NULL (try_element_at past the end is NULL; a NULL
      // array contributes nothing to greatest())
      val rendered = u.exprs.map(renderExpr)
      val longest = rendered.map(e => s"size($e)").mkString("greatest(", ", ", ")")
      val idx = s"__zi_${aliasCounter.incrementAndGet()}"
      val fields = rendered.zipWithIndex
        .map { case (e, i) => s"'c$i', try_element_at($e, $idx)" }.mkString(", ")
      val zipped = s"if(coalesce($longest, 0) < 1, array(), " +
        s"transform(sequence(1, $longest), $idx -> named_struct($fields)))"
      val pos = s"__zp_${aliasCounter.incrementAndGet()}"
      val zs = s"__zs_${aliasCounter.incrementAndGet()}"
      val head = s"LATERAL VIEW posexplode($zipped) ${u.alias} AS $pos, $zs"
      val binds = valueCols.zipWithIndex.map { case (c, i) =>
        val v = s"__zb_${aliasCounter.incrementAndGet()}"
        s" LATERAL VIEW explode(array($zs.c$i)) $v AS ${renderAlias(c)}"
      }.mkString
      head + binds + (if (u.ordinality) ordTail(pos) else "")
    } else throw new SqlParseException(
      s"UNNEST: $n expression(s) cannot bind ${valueCols.length} output column(s) " +
        "(one array → one column, one map → two columns, N arrays → N zipped columns)")
  }

  private val aliasCounter = new AtomicInteger(0)
  private def freshAlias(): String = s"__sq_${aliasCounter.incrementAndGet()}"

  private def renderAlias(a: String): String =
    if (a.matches("[A-Za-z_][A-Za-z0-9_]*")) a else "`" + a.replace("`", "``") + "`"

  private def renderId(id: Id): String = id.parts.map {
    case (name, false) => name
    case (name, true) => "`" + name.replace("`", "``") + "`"
  }.mkString(".")

  def renderExpr(e: Expr): String = e match {
    case Lit(sql) => sql
    // tpe is the keyword plus, for INTERVAL, its unit ("INTERVAL DAY TO
    // SECOND"); the value goes between them: INTERVAL '30' DAY
    case TypedLit(tpe, v) =>
      val (kw, unit) = tpe.span(_ != ' ')
      s"$kw '$v'$unit"
    // LISTAGG → Spark's native listagg with WITHIN GROUP ordering (Spark
    // 4.1 ListAgg implements SupportsOrderingWithinGroup); ON OVERFLOW is
    // parsed but moot — Spark strings have no 1MB varchar ceiling
    case ListAggExpr(distinct, value, sep, _, _, _, orderBy) =>
      val d = if (distinct) "DISTINCT " else ""
      val s = sep.map(x => s", '${x.replace("'", "''")}'").getOrElse("")
      val ob = orderBy.map(renderSortItem).mkString(", ")
      s"listagg($d${renderExpr(value)}$s) WITHIN GROUP (ORDER BY $ob)"
    case SpecialForm(template, args) =>
      args.zipWithIndex.foldLeft(template) { case (t, (a, i)) =>
        t.replace(s"{$i}", renderExpr(a))
      }
    case id: Id => renderId(id)
    case Star(None) => "*"
    case Star(Some(q)) => s"$q.*"
    // Trino date_add('day', n, ts) / date_diff('day', a, b): Spark's PARSER
    // owns these names (visitTimestampadd) and wants the unit as a bare
    // keyword — unquote the reference's string-literal unit at render time
    case Fn(name, Seq(Lit(unit), rest @ _*), false, None)
        if (name.equalsIgnoreCase("date_add") || name.equalsIgnoreCase("date_diff")) &&
           rest.length == 2 && unit.length > 2 && unit.head == '\'' && unit.last == '\'' &&
           Set("YEAR", "QUARTER", "MONTH", "WEEK", "DAY", "DAYOFYEAR", "HOUR",
             "MINUTE", "SECOND", "MILLISECOND", "MICROSECOND")(
             unit.substring(1, unit.length - 1).toUpperCase) =>
      s"${name.toLowerCase}(${unit.substring(1, unit.length - 1).toUpperCase}, " +
        s"${rest.map(renderExpr).mkString(", ")})"
    case Fn(name, args, distinct, over) =>
      // normalize(s, NFD): the form is a bare keyword in the reference
      // grammar (SqlBase.g4 normalForm); quote it for Spark
      val args2 =
        if (name.equalsIgnoreCase("normalize") && args.length == 2) args(1) match {
          case Id(Seq((form, false)))
              if Set("NFC", "NFD", "NFKC", "NFKD")(form.toUpperCase) =>
            Seq(args.head, Lit(s"'${form.toUpperCase}'"))
          case _ => args
        } else args
      val argStr = args2.map(renderExpr).mkString(", ")
      val base = s"$name(${if (distinct) "DISTINCT " else ""}$argStr)"
      base + over.map {
        case WindowSpec(_, _, _, Some(ref), _) => s" OVER $ref" // named window
        case w => " OVER (" + renderWindow(w) + ")"
      }.getOrElse("")
    case FilterOver(agg, c, w) =>
      val overSql = w.ref match {
        case Some(ref) => s" OVER $ref"
        case None => " OVER (" + renderWindow(w) + ")"
      }
      s"${renderExpr(agg)} FILTER (WHERE ${renderExpr(c)})$overSql"
    case Lambda(ps, body) =>
      if (ps.length == 1) s"${ps.head} -> ${renderExpr(body)}"
      else s"(${ps.mkString(", ")}) -> ${renderExpr(body)}"
    case Cast(x, t, isTry) =>
      s"${if (isTry) "TRY_CAST" else "CAST"}(${renderExpr(x)} AS ${renderCastType(t)})"
    case TryExpr(x) =>
      throw new IllegalStateException(s"unlowered TRY(${renderExpr(x)})")
    case Bin(op, l, r) => s"(${renderExpr(l)} $op ${renderExpr(r)})"
    case Un("NOT", x) => s"(NOT ${renderExpr(x)})"
    case Un(op, x) => s"($op ${renderExpr(x)})"
    case IsNull(x, neg) => s"(${renderExpr(x)} IS ${if (neg) "NOT " else ""}NULL)"
    case Between(x, lo, hi, neg) =>
      s"(${renderExpr(x)} ${if (neg) "NOT " else ""}BETWEEN ${renderExpr(lo)} AND ${renderExpr(hi)})"
    case InList(x, items, neg) =>
      s"(${renderExpr(x)} ${if (neg) "NOT " else ""}IN (${items.map(renderExpr).mkString(", ")}))"
    case InSubq(x, q, neg) =>
      s"(${renderExpr(x)} ${if (neg) "NOT " else ""}IN (${renderQuery(q)}))"
    case LikeExpr(x, pat, neg, esc) =>
      s"(${renderExpr(x)} ${if (neg) "NOT " else ""}LIKE ${renderExpr(pat)}" +
        esc.map(e => s" ESCAPE ${renderExpr(e)}").getOrElse("") + ")"
    case ExistsExpr(q) => s"EXISTS (${renderQuery(q)})"
    case ScalarSubq(q) => s"(${renderQuery(q)})"
    case CaseExpr(operand, whens, els) =>
      val sb = new StringBuilder("CASE")
      operand.foreach(o => sb.append(" ").append(renderExpr(o)))
      whens.foreach { case (c, v) =>
        sb.append(" WHEN ").append(renderExpr(c)).append(" THEN ").append(renderExpr(v))
      }
      els.foreach(x => sb.append(" ELSE ").append(renderExpr(x)))
      sb.append(" END").toString
    case AtTimeZone(x, _) =>
      throw new IllegalStateException(s"unlowered AT TIME ZONE over ${renderExpr(x)}")
    // Trino subscripts are 1-based on arrays (SqlBase.g4 subscript ->
    // ElementAt); Spark's `[]` is 0-based, so render via element_at, which
    // is 1-based for arrays, key-addressed for maps, and throws on
    // out-of-bounds under ANSI like the reference.
    case Subscript(x, ix) => s"element_at(${renderExpr(x)}, ${renderExpr(ix)})"
    case FieldRef(x, n) => s"(${renderExpr(x)}).$n"
    case MeasureRef(m, w) => throw new IllegalArgumentException(
      s"$m OVER $w: '$w' is not a row-pattern window (MEASURES … PATTERN … " +
        "DEFINE) of this query block")
    case _: TableArg | _: DescriptorArg => throw new IllegalArgumentException(
      "TABLE(…) and DESCRIPTOR(…) arguments are accepted by exclude_columns only")
  }

  private def renderWindow(w: WindowSpec): String = {
    val parts = Seq(
      if (w.partitionBy.nonEmpty)
        Some("PARTITION BY " + w.partitionBy.map(renderExpr).mkString(", "))
      else None,
      if (w.orderBy.nonEmpty)
        Some("ORDER BY " + w.orderBy.map(renderSortItem).mkString(", "))
      else None,
      w.frameRaw).flatten
    parts.mkString(" ")
  }
}
