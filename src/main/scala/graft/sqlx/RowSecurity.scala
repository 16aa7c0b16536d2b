package graft.sqlx

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

import SqlAst._

/** Row filters and column masks (reference: core/trino-spi
  * io/trino/spi/connector/ConnectorAccessControl.java:835 `getRowFilters`
  * and :848 `getColumnMasks` — the engine asks access control for a filter
  * expression and per-column mask expressions for (table, identity) and
  * splices them into the plan BEFORE optimization, so the user can never
  * observe a row or value the policy hides, regardless of what the query
  * does with the table).
  *
  * Same shape here: policies are recorded per (user, table); the SQL front
  * door rewrites every `TableRef` — and every versioned `TimeTravelRel`
  * read of the same table (reference applies the policies to ALL table
  * reads; round-12 advice flagged `FOR VERSION AS OF` as a bypass) — that
  * an ENFORCED user touches into `(SELECT col…, mask AS col… FROM t WHERE
  * filter) AS t` before planning. Because the splice happens at the AST,
  * Catalyst then pushes the filter into the scan like any other predicate —
  * at 100 TB the policy predicate prunes partitions/row groups exactly like
  * a user WHERE clause, no post-filter pass. Unenforced identities (admins,
  * in-process callers) never hit the rewrite.
  *
  * OPA agent answers (GetRowFilters / GetColumnMask) are memoized per
  * STATEMENT in a `Ctx`: one HTTP probe per (table) and per (table, column)
  * no matter how many times the query references them. Metadata relations
  * (information_schema.*, system.*) are never probed — they carry no row
  * policies and exist only as plan-time temp views, so probing them both
  * broke metadata queries for enforced users and cost spurious HTTP calls
  * (round-12 advice). */
private[graft] object RowSecurity {

  /** (user, table key) → filter SQL text (dialect expression). */
  private val rowFilters = TrieMap[(String, String), String]()

  /** (user, table key) → column (lowercase) → mask SQL text. */
  private val columnMasks = TrieMap[(String, String), Map[String, String]]()

  def setRowFilter(user: String, table: String, filterSql: String): Unit =
    rowFilters((user, table.toLowerCase)) = filterSql

  def dropRowFilter(user: String, table: String): Unit =
    rowFilters.remove((user, table.toLowerCase))

  def setColumnMask(user: String, table: String, column: String,
      maskSql: String): Unit = {
    val key = (user, table.toLowerCase)
    columnMasks(key) =
      columnMasks.getOrElse(key, Map.empty) + (column.toLowerCase -> maskSql)
  }

  def dropColumnMask(user: String, table: String, column: String): Unit = {
    val key = (user, table.toLowerCase)
    columnMasks.get(key).foreach { m =>
      val next = m - column.toLowerCase
      if (next.isEmpty) columnMasks.remove(key) else columnMasks(key) = next
    }
  }

  def clearAll(): Unit = { rowFilters.clear(); columnMasks.clear() }

  private def hasPolicy(user: String): Boolean =
    rowFilters.keysIterator.exists(_._1 == user) ||
      columnMasks.keysIterator.exists(_._1 == user) ||
      OpaPolicy.shapesRows // a configured agent may shape any table

  /** Statement-scoped context: identity, session, and a memo of the OPA
    * agent's answers so each (table) / (table, column) costs at most one
    * HTTP round-trip per statement. */
  private final class Ctx(val user: String, val spark: SparkSession) {
    private val filterMemo = scala.collection.mutable.Map[String, Seq[String]]()
    private val maskMemo = scala.collection.mutable.Map[(String, String), Option[String]]()
    def opaRowFilters(key: String): Seq[String] =
      filterMemo.getOrElseUpdate(key,
        OpaPolicy.rowFilters(user, key).getOrElse(Nil))
    def opaColumnMask(key: String, col: String): Option[String] =
      maskMemo.getOrElseUpdate((key, col.toLowerCase),
        OpaPolicy.columnMask(user, key, col).flatten)
  }

  /** Table key for a TableRef's name parts, mirroring the resolution the
    * grant checks use: schema-qualified front-door names stay two-part,
    * session-schema names resolve through the registry, base tables are
    * their lowercase name. */
  private def keyFor(parts: Seq[String]): String = parts match {
    case Seq(schema, table) if Statements.isSchema(schema.toLowerCase) =>
      s"${schema.toLowerCase}.${table.toLowerCase}"
    case Seq(table) =>
      Statements.resolveTableKey(table.toLowerCase).getOrElse(table.toLowerCase)
    case other => other.map(_.toLowerCase).mkString(".")
  }

  /** Column names of the relation `parts` names, resolved the same way the
    * planner will (front-door temp view, then raw name). */
  private def columnsOf(spark: SparkSession, parts: Seq[String]): Seq[String] = {
    val candidates = Seq(
      Statements.viewNameOf(keyFor(parts)), parts.map(_.toLowerCase).mkString("."))
    candidates.flatMap { n =>
      try Some(spark.table(n).schema.fieldNames.toSeq)
      catch { case _: Exception => None }
    }.headOption.getOrElse(throw new AccessDeniedException(
      s"Cannot resolve columns of ${parts.mkString(".")} for policy masking"))
  }

  /** Splice the user's policies into `q`. No-op when the user has none. */
  def secure(q: Query, user: String, spark: SparkSession): Query =
    if (!hasPolicy(user)) q
    else secureQuery(q, new Ctx(user, spark), Set.empty)

  private def secureQuery(q: Query, ctx: Ctx, ctes: Set[String]): Query = q match {
    case s: Select => s.copy(
      items = s.items.map(i => SelectItem(secureExpr(i.e, ctx, ctes), i.alias)),
      from = s.from.map(secureRel(_, ctx, ctes)),
      where = s.where.map(secureExpr(_, ctx, ctes)),
      having = s.having.map(secureExpr(_, ctx, ctes)))
    case SetOpQ(op, all, l, r, corr) =>
      SetOpQ(op, all, secureQuery(l, ctx, ctes), secureQuery(r, ctx, ctes), corr)
    case WithQ(defs, body) =>
      // CTE names come into scope SEQUENTIALLY: in WITH a AS (…), b AS
      // (SELECT … FROM a) the `a` inside b is the CTE, not a base table
      // (round-12 advice: securing each def against only the outer scope
      // spliced base-table policies onto chained-CTE references)
      val (securedDefs, scope) =
        defs.foldLeft((Vector.empty[(String, Query)], ctes)) {
          case ((acc, sc), (n, cq)) =>
            (acc :+ (n -> secureQuery(cq, ctx, sc)), sc + n.toLowerCase)
        }
      WithQ(securedDefs, secureQuery(body, ctx, scope))
    case v: ValuesQ => v
    case OrderedQ(inner, ob, lim, ties, off) =>
      OrderedQ(secureQuery(inner, ctx, ctes), ob, lim, ties, off)
  }

  /** Wrap a base-table read (front-door or versioned) in the policy
    * subquery. None = no active policy → caller keeps the original rel. */
  private def policyWrap(names: Seq[String], alias: Option[String],
      inner: Rel, ctx: Ctx): Option[Rel] = {
    // metadata relations: no row policies apply, and they exist only as
    // plan-time temp views — probing would fail columnsOf and cost one
    // HTTP mask probe per column per reference. CREATE SCHEMA reserves
    // these names (Statements), and we double-check here that no user
    // schema shadows them, so the exemption can never skip a user table
    if (names.length > 1 &&
        Set("information_schema", "system").contains(names.head.toLowerCase) &&
        !Statements.isSchema(names.head.toLowerCase))
      return None
    val key = keyFor(names)
    // local registrations plus whatever a configured OPA agent defines
    // for this (user, table) — the agent's answers are bounded plan-time
    // metadata calls (reference getRowFilters/getColumnMask are invoked
    // at analysis time the same way), memoized per statement
    val filters = rowFilters.get((ctx.user, key)).toSeq ++
      (if (OpaPolicy.shapesRows) ctx.opaRowFilters(key) else Nil)
    val localMasks = columnMasks.getOrElse((ctx.user, key), Map.empty)
    val probeOpaMasks = OpaPolicy.shapesRows
    if (filters.isEmpty && localMasks.isEmpty && !probeOpaMasks) None
    else {
      val cols = columnsOf(ctx.spark, names)
      val opaMasks: Map[String, String] =
        if (!probeOpaMasks) Map.empty
        else cols.flatMap(c => ctx.opaColumnMask(key, c)
          .map(m => c.toLowerCase -> m)).toMap
      val masks = opaMasks ++ localMasks // local wins on conflict
      if (filters.isEmpty && masks.isEmpty) None
      else {
        val items = cols.map { c =>
          masks.get(c.toLowerCase) match {
            case Some(maskSql) =>
              SelectItem(new SqlParser(maskSql).parseExpr(), Some(c))
            case None => SelectItem(Id(Seq((c, false))), None)
          }
        }
        // several filters (local + agent) compose conjunctively
        val where = filters.map(f => new SqlParser(f).parseExpr())
          .reduceOption((a, b) => Bin("AND", a, b))
        val sel = Select(distinct = false, items, Some(inner), where, None,
          None, Seq.empty, None, None)
        // keep the original alias (or table name) so qualified column
        // references through the wrapper still resolve
        Some(SubqueryRel(sel, alias.orElse(Some(names.last)), Nil))
      }
    }
  }

  private def secureRel(r: Rel, ctx: Ctx, ctes: Set[String]): Rel = r match {
    case t @ TableRef(Id(parts), alias) =>
      val names = parts.map(_._1)
      if (names.length == 1 && ctes.contains(names.head.toLowerCase)) t
      else policyWrap(names, alias, TableRef(Id(parts), None), ctx).getOrElse(t)
    case tt @ TimeTravelRel(name, kind, value, alias) =>
      // versioned reads see the same filters/masks as the front-door table:
      // columns resolve from the CURRENT schema (mask-by-name; a version
      // predating a masked column fails loudly rather than leaking it)
      val names = name.parts.map(_._1)
      policyWrap(names, alias, TimeTravelRel(name, kind, value, None), ctx)
        .getOrElse(tt)
    case JoinRel(k, l, rr, on) =>
      JoinRel(k, secureRel(l, ctx, ctes), secureRel(rr, ctx, ctes),
        on.map(secureExpr(_, ctx, ctes)))
    case SubqueryRel(q, a, c) => SubqueryRel(secureQuery(q, ctx, ctes), a, c)
    case MatchRel(input, block, a) =>
      MatchRel(secureRel(input, ctx, ctes), block, a)
    case SampleRel(input, m, pct) => SampleRel(secureRel(input, ctx, ctes), m, pct)
    case u @ UnnestRel(es, alias, cols, ord) =>
      // UNNEST reads no base table, but its argument expressions may carry
      // subqueries that do
      UnnestRel(es.map(secureExpr(_, ctx, ctes)), alias, cols, ord)
    case TvfRel(n, args, a, per) => // TABLE(t) arguments read base tables
      TvfRel(n, args.map { case (k, e) => (k, secureExpr(e, ctx, ctes)) }, a, per)
  }

  /** Expression subqueries (IN/EXISTS/scalar) read tables too. */
  private def secureExpr(e: Expr, ctx: Ctx, ctes: Set[String]): Expr = e match {
    case InSubq(x, sub, n) =>
      InSubq(secureExpr(x, ctx, ctes), secureQuery(sub, ctx, ctes), n)
    case ExistsExpr(sub) => ExistsExpr(secureQuery(sub, ctx, ctes))
    case ScalarSubq(sub) => ScalarSubq(secureQuery(sub, ctx, ctes))
    case TableArg(rel) => TableArg(secureRel(rel, ctx, ctes))
    case Fn(nm, args, d, over) =>
      Fn(nm, args.map(secureExpr(_, ctx, ctes)), d, over)
    case Bin(op, l, r) =>
      Bin(op, secureExpr(l, ctx, ctes), secureExpr(r, ctx, ctes))
    case Un(op, x) => Un(op, secureExpr(x, ctx, ctes))
    case Cast(x, t, isTry) => Cast(secureExpr(x, ctx, ctes), t, isTry)
    case TryExpr(x) => TryExpr(secureExpr(x, ctx, ctes))
    case IsNull(x, n) => IsNull(secureExpr(x, ctx, ctes), n)
    case Between(x, lo, hi, n) => Between(secureExpr(x, ctx, ctes),
      secureExpr(lo, ctx, ctes), secureExpr(hi, ctx, ctes), n)
    case InList(x, items, n) => InList(secureExpr(x, ctx, ctes),
      items.map(secureExpr(_, ctx, ctes)), n)
    case LikeExpr(x, p, n, esc) => LikeExpr(secureExpr(x, ctx, ctes),
      secureExpr(p, ctx, ctes), n, esc.map(secureExpr(_, ctx, ctes)))
    case CaseExpr(op, whens, els) =>
      CaseExpr(op.map(secureExpr(_, ctx, ctes)),
        whens.map { case (c, v) =>
          (secureExpr(c, ctx, ctes), secureExpr(v, ctx, ctes)) },
        els.map(secureExpr(_, ctx, ctes)))
    case other => other
  }
}
