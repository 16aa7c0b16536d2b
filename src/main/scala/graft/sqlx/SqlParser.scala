package graft.sqlx

/** Recursive-descent SQL parser for the dialect front door (SURVEY.md §3;
  * VERDICT r6 "what's missing" #1). The reference parses its dialect with a
  * 1554-line ANTLR grammar (reference: core/trino-grammar/src/main/antlr4/io/
  * trino/grammar/sql/SqlBase.g4 — queryNoWith :239, primaryExpression with
  * TRY at the function-call production, patternRecognition :446); this is a
  * hand-written grammar for the statement subset the engine supports,
  * producing a real AST so the dialect rewrites compose at ANY nesting depth
  * — the regex layer's blind spot (TRY over a window call, MATCH_RECOGNIZE
  * inside a derived table, quoted identifiers shadowing keywords).
  *
  * Scope: the query language (SELECT/WITH/set-ops/VALUES, joins incl. CROSS
  * JOIN UNNEST and TABLE(tvf) with named TABLE/DESCRIPTOR arguments,
  * expressions incl. lambdas, CASE, CAST, TRY, windows, subqueries, AT TIME
  * ZONE, FETCH FIRST … {ONLY|WITH TIES}) plus the statement family below.
  * This is the only SQL front door: a text outside it is a
  * SqlParseException, never a second parse. MATCH_RECOGNIZE blocks and
  * row-pattern WINDOW specifications parse into one [[SqlAst.RowPatternBlock]]
  * whose MEASURES and DEFINE are ordinary expressions; only the PATTERN body
  * stays a source span, for RowPattern's pattern parser. Routine control
  * bodies are raw spans for RoutineLang. CREATE FUNCTION and WITH FUNCTION
  * heads parse here, and `?` markers bind to the EXECUTE arguments as they
  * are parsed.
  */
object SqlAst {
  import graft.plans.{MatchRecognize, RowPattern}

  sealed trait Expr
  /** Verbatim literal (number, string, TRUE/FALSE/NULL). */
  final case class Lit(sql: String) extends Expr
  /** Typed literal: TIMESTAMP '…', DATE '…', INTERVAL '…' unit. */
  final case class TypedLit(tpe: String, value: String) extends Expr
  /** Possibly-qualified identifier; each part remembers if it was quoted. */
  final case class Id(parts: Seq[(String, Boolean)]) extends Expr {
    def plain: String = parts.map(_._1).mkString(".")
  }
  final case class Star(qualifier: Option[String]) extends Expr
  final case class Fn(name: String, args: Seq[Expr], distinct: Boolean,
      over: Option[WindowSpec]) extends Expr
  /** SQL special-form call whose Spark spelling matches the reference's
    * (EXTRACT(f FROM x), TRIM(BOTH c FROM s), SUBSTRING(s FROM a FOR b),
    * POSITION(a IN b)): `template` carries the fixed syntax with {0},{1},…
    * placeholders for the child expressions, so rewrites still reach the
    * children. */
  final case class SpecialForm(template: String, args: Seq[Expr]) extends Expr
  /** `agg FILTER (WHERE cond) OVER w` — kept STRUCTURED (not pre-rendered)
    * so the dialect rewrite/planning passes reach the window spec's
    * partition/order expressions like any other child (ADVICE r14). */
  final case class FilterOver(agg: Expr, cond: Expr, over: WindowSpec)
      extends Expr

  /** LISTAGG(… ON OVERFLOW …) WITHIN GROUP (ORDER BY …) (SqlBase.g4 :637).
    * Overflow clauses are accepted and recorded; Spark strings carry no
    * 1MB varchar bound, so overflow never fires here (divergence only for
    * results past the reference's limit). */
  final case class ListAggExpr(distinct: Boolean, value: Expr,
      sep: Option[String], truncate: Boolean, filler: Option[String],
      withCount: Boolean, orderBy: Seq[SortItem]) extends Expr
  final case class Lambda(params: Seq[String], body: Expr) extends Expr
  final case class Cast(e: Expr, tpe: String, isTry: Boolean) extends Expr
  final case class TryExpr(e: Expr) extends Expr
  final case class Bin(op: String, l: Expr, r: Expr) extends Expr
  final case class Un(op: String, e: Expr) extends Expr
  final case class IsNull(e: Expr, negated: Boolean) extends Expr
  final case class Between(e: Expr, lo: Expr, hi: Expr, negated: Boolean) extends Expr
  final case class InList(e: Expr, items: Seq[Expr], negated: Boolean) extends Expr
  final case class InSubq(e: Expr, q: Query, negated: Boolean) extends Expr
  final case class LikeExpr(e: Expr, pattern: Expr, negated: Boolean,
      escape: Option[Expr] = None) extends Expr
  final case class ExistsExpr(q: Query) extends Expr
  final case class ScalarSubq(q: Query) extends Expr
  final case class CaseExpr(operand: Option[Expr], whens: Seq[(Expr, Expr)],
      els: Option[Expr]) extends Expr
  final case class AtTimeZone(e: Expr, tz: Expr) extends Expr
  final case class Subscript(e: Expr, index: Expr) extends Expr
  /** Row-field dereference on a computed value (`expr.field`). */
  final case class FieldRef(e: Expr, field: String) extends Expr

  /** Window specification; `ref` = a named window from the WINDOW clause
    * (SqlBase.g4 #windowDefinition / windowReference); `rowPattern` = the
    * block of a WINDOW specification with MEASURES … PATTERN … DEFINE
    * (SqlBase.g4:876-880), which carries its own PARTITION BY / ORDER BY. */
  final case class WindowSpec(partitionBy: Seq[Expr], orderBy: Seq[SortItem],
      frameRaw: Option[String], ref: Option[String] = None,
      rowPattern: Option[RowPatternBlock] = None)
  /** `name OVER w`: a measure of row-pattern window `w` (SqlBase.g4
    * primaryExpression #measure), lowered by SqlFrontend's planning pass. */
  final case class MeasureRef(name: String, window: String) extends Expr

  /** A row-pattern block: the body of MATCH_RECOGNIZE (SqlBase.g4
    * patternRecognition :446) or of a row-pattern WINDOW specification
    * (:876-880), which share the measure, variable and subset rules.
    * PARTITION BY / ORDER BY are plain ascending column names (the
    * documented subset). `pattern` is the PATTERN body's source span, for
    * RowPattern.parse. Window-only: `frameK`, the frame end past the current
    * row (None = UNBOUNDED FOLLOWING, Some(0) = CURRENT ROW), and `seek`. */
  final case class RowPatternBlock(partitionBy: Seq[String], orderBy: Seq[String],
      measures: Seq[MeasureDef], rowsPerMatch: MatchRecognize.RowsPerMatch,
      skip: RowPattern.SkipMode, pattern: String,
      subsets: Map[String, Seq[String]], defines: Seq[(String, Expr)],
      frameK: Option[Int] = None, seek: Boolean = false) {
    def allRows: Boolean = rowsPerMatch != MatchRecognize.OneRow
    def mapExprs(f: Expr => Expr): RowPatternBlock = copy(
      measures = measures.map(m => m.copy(e = f(m.e))),
      defines = defines.map { case (sym, e) => (sym, f(e)) })
  }
  /** `[RUNNING | FINAL] expr AS alias`; `mode` None = the output mode's
    * default (RUNNING for ALL ROWS PER MATCH, FINAL otherwise). */
  final case class MeasureDef(e: Expr, alias: String, mode: Option[String] = None)
  /** Table-function arguments (SqlBase.g4 tableArgument /
    * descriptorArgument): `TABLE(t)` and `DESCRIPTOR(a, b)`. */
  final case class TableArg(rel: Rel) extends Expr
  final case class DescriptorArg(cols: Seq[String]) extends Expr
  final case class SortItem(e: Expr, dir: Option[String], nulls: Option[String])

  sealed trait Rel
  final case class TableRef(name: Id, alias: Option[String]) extends Rel
  final case class SubqueryRel(q: Query, alias: Option[String],
      colAliases: Seq[String] = Nil) extends Rel
  final case class JoinRel(kind: String, l: Rel, r: Rel, on: Option[Expr]) extends Rel
  final case class UnnestRel(exprs: Seq[Expr], alias: String, cols: Seq[String],
      ordinality: Boolean) extends Rel
  /** `args` are positional or `name => value` (SqlBase.g4
    * tableFunctionArgument); `period` carries a trailing FOR
    * VERSION|TIMESTAMP AS OF (SqlBase.g4 queryPeriod composes with table
    * functions for the lake TVFs). */
  final case class TvfRel(name: String, args: Seq[(Option[String], Expr)],
      alias: Option[String], period: Option[(String, Expr)] = None) extends Rel
  /** MATCH_RECOGNIZE over any input. */
  final case class MatchRel(input: Rel, block: RowPatternBlock, alias: Option[String]) extends Rel
  /** TABLESAMPLE BERNOULLI/SYSTEM (percentage) over a relation. */
  final case class SampleRel(input: Rel, method: String, percent: Expr) extends Rel
  /** FOR VERSION|TIMESTAMP AS OF over a table (SqlBase.g4 queryPeriod). */
  final case class TimeTravelRel(name: Id, kind: String, value: Expr,
      alias: Option[String]) extends Rel

  sealed trait Query
  final case class Select(distinct: Boolean, items: Seq[SelectItem],
      from: Option[Rel], where: Option[Expr], groupBy: Option[GroupBy],
      having: Option[Expr], orderBy: Seq[SortItem], limit: Option[Long],
      fetchTies: Option[Long], offset: Option[Long] = None,
      windows: Seq[(String, WindowSpec)] = Nil) extends Query
  final case class SelectItem(e: Expr, alias: Option[String])
  /** kind: "PLAIN" | "ROLLUP" | "CUBE"; sets for GROUPING SETS. */
  final case class GroupBy(kind: String, exprs: Seq[Expr], sets: Seq[Seq[Expr]])
  /** `corresponding` = SQL CORRESPONDING: match columns by NAME (the
    * intersection, in left order) instead of by position — resolved during
    * planQuery, where schemas are available (reference SqlBase.g4:314,
    * StatementAnalyzer corresponding analysis; release 475). */
  final case class SetOpQ(op: String, all: Boolean, l: Query, r: Query,
      corresponding: Boolean = false) extends Query
  final case class WithQ(ctes: Seq[(String, Query)], body: Query) extends Query
  final case class ValuesQ(rows: Seq[Seq[Expr]]) extends Query
  /** Trailing ORDER BY / LIMIT / FETCH attached to a set-op or WITH body. */
  final case class OrderedQ(q: Query, orderBy: Seq[SortItem], limit: Option[Long],
      fetchTies: Option[Long], offset: Option[Long] = None) extends Query

  /** Statements beyond queries (SqlBase.g4 statement :54): DML over the
    * engine's versioned CoW tables, EXPLAIN, and the SHOW/DESCRIBE family. */
  sealed trait Statement
  final case class QueryStmt(q: Query) extends Statement
  final case class CreateTableAs(name: String, orReplace: Boolean,
      ifNotExists: Boolean, q: Query, comment: Option[String] = None,
      props: Seq[(String, Option[Expr])] = Nil) extends Statement
  /** `branch`: the optional `@branch` target (SqlBase.g4:80,82 — the
    * iceberg connector's branch-scoped INSERT/DELETE). */
  final case class InsertInto(name: String, cols: Seq[String], q: Query,
      branch: Option[String] = None) extends Statement
  final case class DeleteStmt(name: String, where: Option[Expr],
      branch: Option[String] = None) extends Statement
  /** CREATE/DROP/ALTER BRANCH + SHOW BRANCHES (SqlBase.g4:135-142). */
  final case class CreateBranchStmt(branch: String, orReplace: Boolean,
      ifNotExists: Boolean, table: String, from: Option[String]) extends Statement
  final case class DropBranchStmt(branch: String, ifExists: Boolean,
      table: String) extends Statement
  final case class FastForwardStmt(source: String, table: String,
      target: String) extends Statement
  final case class ShowBranchesStmt(table: String) extends Statement
  final case class UpdateStmt(name: String, sets: Seq[(String, Expr)],
      where: Option[Expr]) extends Statement
  /** typ: DISTRIBUTED (default) | LOGICAL | VALIDATE | IO;
    * format: TEXT (default) | JSON (SqlBase.g4 :129 explainOption). */
  final case class ExplainStmt(analyze: Boolean, q: Query,
      typ: String = "DISTRIBUTED", format: String = "TEXT") extends Statement
  /** kind: "TABLES" | "CATALOGS" | "FUNCTIONS" | "SCHEMAS" | "SESSION".
    * `like`/`escape`: the optional `LIKE pattern [ESCAPE ch]` filter the
    * reference grammar allows on every SHOW listing (SqlBase.g4
    * showTables/showSchemas/showCatalogs/showFunctions/showSession). */
  final case class ShowStmt(kind: String, like: Option[String] = None,
      escape: Option[String] = None) extends Statement
  /** DESCRIBE / SHOW COLUMNS; like/esc only via SHOW COLUMNS … LIKE
    * (SqlBase.g4 :188-196). */
  final case class DescribeStmt(name: String, like: Option[String] = None,
      esc: Option[String] = None) extends Statement
  final case class DropTableStmt(name: String, ifExists: Boolean) extends Statement
  /** CREATE VIEW with the optional COMMENT and SECURITY DEFINER|INVOKER
    * clauses (SqlBase.g4 :120-124). */
  final case class CreateViewStmt(name: String, orReplace: Boolean, q: Query,
      comment: Option[String] = None,
      security: Option[String] = None) extends Statement
  /** DROP FUNCTION [IF EXISTS] name[(paramTypes)] (SqlBase.g4 :154). */
  final case class DropFunctionStmt(name: String, ifExists: Boolean) extends Statement
  /** CREATE TABLE t (tableElement, …) — empty table with a declared schema,
    * optional table COMMENT and WITH properties (SqlBase.g4 :66-70).
    * Elements are column definitions (Right) or LIKE clauses (Left:
    * source table, includingProperties — SqlBase.g4 :256), spliced in
    * element order. */
  final case class CreateTableCols(name: String, ifNotExists: Boolean,
      elements: Seq[Either[(String, Boolean), ColDef]],
      comment: Option[String] = None,
      props: Seq[(String, Option[Expr])] = Nil) extends Statement
  /** Canonical upsert MERGE (WHEN MATCHED UPDATE SET * / NOT MATCHED INSERT *). */
  final case class MergeStmt(name: String, source: Query, key: String) extends Statement

  /** Full MERGE surface (SqlBase.g4:222 `MERGE INTO … USING … ON expr
    * mergeCase+`, :865-874): conditional multi-WHEN cases with UPDATE SET
    * col = expr / DELETE / INSERT (cols) VALUES (exprs). `set` empty on an
    * update case means SET *; `cols`+`vals` empty on an insert case means
    * INSERT * (take the source row positionally). */
  sealed trait MergeCase { def cond: Option[Expr] }
  final case class MergeUpdateCase(cond: Option[Expr],
      set: Seq[(String, Expr)]) extends MergeCase
  final case class MergeDeleteCase(cond: Option[Expr]) extends MergeCase
  final case class MergeInsertCase(cond: Option[Expr], cols: Seq[String],
      vals: Seq[Expr]) extends MergeCase
  final case class MergeFullStmt(name: String, tAlias: String, source: Query,
      sAlias: String, on: Expr, cases: Seq[MergeCase]) extends Statement

  /** Column definition (SqlBase.g4 :253 columnDefinition): name, type, and
    * the optional DEFAULT literal / NOT NULL / COMMENT clauses. */
  final case class ColDef(name: String, tpe: String,
      default: Option[Expr] = None, notNull: Boolean = false,
      comment: Option[String] = None)

  /** ALTER TABLE ops (SqlBase.g4 :84ff) — all metadata-only on the CoW tables. */
  sealed trait AlterOp
  final case class RenameTable(to: String) extends AlterOp
  /** position: None = LAST (the default), Some("first"), Some("after:<col>")
    * (SqlBase.g4 :92 `ADD COLUMN … (FIRST | LAST | AFTER id)?`). */
  final case class AddColumn(col: ColDef, ifNotExists: Boolean,
      position: Option[String] = None) extends AlterOp
  final case class DropColumn(col: String, ifExists: Boolean) extends AlterOp
  final case class RenameColumn(from: String, to: String) extends AlterOp
  /** ALTER COLUMN c SET DATA TYPE t (SqlBase.g4 :102). */
  final case class SetColumnType(col: String, tpe: String) extends AlterOp
  /** ALTER COLUMN c SET DEFAULT literal / DROP DEFAULT (SqlBase.g4 :98-100). */
  final case class SetColumnDefault(col: String, value: Expr) extends AlterOp
  final case class DropColumnDefault(col: String) extends AlterOp
  /** ALTER COLUMN c DROP NOT NULL (SqlBase.g4 :104). */
  final case class DropNotNull(col: String) extends AlterOp
  /** SET PROPERTIES k = v, … (SqlBase.g4 :106; v may be DEFAULT). */
  final case class SetTableProps(props: Seq[(String, Option[Expr])]) extends AlterOp
  /** ALTER TABLE t EXECUTE proc[(name => expr, …)] (SqlBase.g4 :86
    * `EXECUTE procedureName (callArgument…)` — the reference spelling of
    * table-maintenance procedures like optimize). */
  final case class ExecuteTableProc(proc: String,
      args: Seq[(Option[String], Expr)],
      where: Option[Expr] = None) extends AlterOp
  /** ALTER TABLE t SET AUTHORIZATION u (SqlBase.g4:111) — ownership transfer. */
  final case class SetAuthorizationOp(principal: String) extends AlterOp
  final case class AlterTableStmt(name: String, ifExists: Boolean, op: AlterOp) extends Statement

  final case class CreateSchemaStmt(name: String, ifNotExists: Boolean) extends Statement
  final case class DropSchemaStmt(name: String, ifExists: Boolean,
      cascade: Boolean = false) extends Statement
  /** CREATE CATALOG name USING connector [WITH (k = 'v', …)]
    * (SqlBase.g4:58; executed over the persisted catalog store). */
  final case class CreateCatalogStmt(name: String, ifNotExists: Boolean,
      connector: String, props: Seq[(String, String)]) extends Statement
  final case class DropCatalogStmt(name: String, ifExists: Boolean) extends Statement
  final case class UseStmt(schema: String) extends Statement
  final case class SetSessionStmt(key: String, value: String) extends Statement
  final case class ResetSessionStmt(key: String) extends Statement
  /** GRANT/REVOKE privilege recording (reference grants metadata; default
    * access control allows all, as here). `grantOption`: on GRANT, the
    * `WITH GRANT OPTION` tail; on REVOKE, the `GRANT OPTION FOR` head
    * (revoke only the grantability, keep the privilege). */
  final case class GrantStmt(revoke: Boolean, privileges: Seq[String],
      table: String, grantee: String,
      grantOption: Boolean = false) extends Statement
  final case class ShowGrantsStmt(table: Option[String]) extends Statement
  final case class CommentStmt(isColumn: Boolean, target: String,
      comment: Option[String]) extends Statement
  final case class ShowCreateTableStmt(name: String) extends Statement
  /** SHOW CREATE VIEW / SHOW CREATE MATERIALIZED VIEW (reference
    * sql/rewrite/ShowQueriesRewrite.java handles both). */
  final case class ShowCreateViewStmt(name: String,
      materialized: Boolean) extends Statement
  /** DENY privileges ON [TABLE] t TO grantee (SqlBase.g4:169,
    * execution/DenyTask.java) — deny overrides grant in the combined
    * access check. */
  final case class DenyStmt(privileges: Seq[String], table: String,
      grantee: String) extends Statement
  /** SET SESSION AUTHORIZATION user / RESET SESSION AUTHORIZATION
    * (SqlBase.g4:201-202, execution/SetSessionAuthorizationTask.java).
    * None = RESET. */
  final case class SetSessionAuthStmt(user: Option[String]) extends Statement
  /** CREATE [OR REPLACE] MATERIALIZED VIEW name AS query (SqlBase.g4:61,
    * execution/CreateMaterializedViewTask.java). `defText` is the raw
    * dialect SQL of the defining query, stored verbatim (the reference
    * stores the original SQL in MaterializedViewDefinition). */
  final case class CreateMvStmt(name: String, orReplace: Boolean,
      ifNotExists: Boolean, q: Query, defText: String,
      graceMillis: Option[Long] = None, staleMode: Option[String] = None,
      comment: Option[String] = None,
      props: Seq[(String, Option[Expr])] = Nil) extends Statement
  final case class RefreshMvStmt(name: String) extends Statement
  /** ALTER MATERIALIZED VIEW … RENAME TO / SET PROPERTIES
    * (SqlBase.g4 :126-129). */
  final case class AlterMvStmt(name: String, ifExists: Boolean,
      renameTo: Option[String],
      props: Seq[(String, Option[Expr])]) extends Statement
  /** SET PATH pathSpecification (SqlBase.g4 :215). */
  final case class SetPathStmt(path: String) extends Statement
  /** SET TIME ZONE LOCAL | expr (SqlBase.g4 :216); None = LOCAL. */
  final case class SetTimeZoneStmt(zone: Option[Expr]) extends Statement
  final case class DropMvStmt(name: String, ifExists: Boolean) extends Statement
  final case class DropViewStmt(name: String, ifExists: Boolean) extends Statement
  /** TRUNCATE TABLE t (SqlBase.g4:120, execution/TruncateTableTask.java) —
    * publishes an empty snapshot; history stays time-travelable. */
  final case class TruncateStmt(name: String) extends Statement
  /** ALTER VIEW v RENAME TO w (SqlBase.g4:130). */
  final case class AlterViewRenameStmt(from: String, to: String) extends Statement
  /** ALTER VIEW v REFRESH (SqlBase.g4:131) — a no-op here: temp views
    * re-evaluate on every read, so the freshness contract always holds. */
  final case class RefreshViewStmt(name: String) extends Statement
  /** ALTER SCHEMA s RENAME TO t (SqlBase.g4:69). */
  final case class AlterSchemaRenameStmt(from: String, to: String) extends Statement
  /** ALTER TABLE|VIEW t SET AUTHORIZATION u (SqlBase.g4:111,
    * execution/SetAuthorizationTask) — ownership transfer. */
  final case class SetTableAuthStmt(table: String, principal: String) extends Statement
  /** ANALYZE t (SqlBase.g4:112, execution/AnalyzeTask → stats collection). */
  final case class AnalyzeStmt(name: String) extends Statement
  /** SHOW CREATE SCHEMA / SHOW CREATE FUNCTION (SqlBase.g4:179,182). */
  final case class ShowCreateSchemaStmt(name: String) extends Statement
  final case class ShowCreateFunctionStmt(name: String) extends Statement
  /** COMMENT ON VIEW v IS '…' (SqlBase.g4:86). */
  final case class CommentViewStmt(name: String,
      comment: Option[String]) extends Statement
  /** SHOW ROLE GRANTS (SqlBase.g4:194) — roles granted to the session user. */
  final case class ShowRoleGrantsStmt() extends Statement
  /** SHOW STATS FOR t | FOR (query) (SqlBase.g4 :141). */
  final case class ShowStatsStmt(target: Either[String, Query]) extends Statement
  /** CALL [catalog.][schema.]proc(arg, …) with positional or `name => v`
    * named arguments (SqlBase.g4 :94). */
  final case class CallStmt(name: Seq[String],
      args: Seq[(Option[String], Expr)]) extends Statement
  /** kind: "START" | "COMMIT" | "ROLLBACK" (SqlBase.g4 :90-93). */
  final case class TransactionStmt(kind: String) extends Statement
  final case class CreateRoleStmt(name: String) extends Statement
  final case class DropRoleStmt(name: String) extends Statement
  /** role: Some(name) | None for SET ROLE NONE; all = SET ROLE ALL. */
  final case class SetRoleStmt(role: Option[String], all: Boolean) extends Statement
  final case class ShowRolesStmt(current: Boolean) extends Statement
  final case class GrantRoleStmt(revoke: Boolean, role: String,
      grantee: String) extends Statement
  /** PREPARE name FROM statement (SqlBase.g4 :145) — the inner statement is
    * kept as text and parsed at EXECUTE / DESCRIBE time, with its `?`
    * markers bound to the USING arguments. */
  final case class PrepareStmt(name: String, stmtText: String) extends Statement
  /** EXECUTE name [USING e, …] | EXECUTE IMMEDIATE 'sql' [USING e, …]
    * (SqlBase.g4 :147-149). */
  final case class ExecuteStmt(target: Either[String, String],
      args: Seq[Expr]) extends Statement
  final case class DeallocateStmt(name: String) extends Statement
  /** DESCRIBE INPUT name | DESCRIBE OUTPUT name (SqlBase.g4 :151-153). */
  final case class DescribeIOStmt(input: Boolean, name: String) extends Statement

  /** A routine (SqlBase.g4 functionSpecification): `params` and `returns`
    * are type spellings as written, `language` the LANGUAGE characteristic,
    * `characteristics` the others (DETERMINISTIC, COMMENT '…', …) as
    * written, and `text` its `CREATE FUNCTION …` DDL for SHOW CREATE
    * FUNCTION. */
  final case class RoutineDef(name: String, params: Seq[(String, String)],
      returns: String, language: Option[String], characteristics: Seq[String],
      body: RoutineBody, text: String)
  sealed trait RoutineBody
  /** `RETURN expr`. */
  final case class ReturnBody(e: Expr) extends RoutineBody
  /** Any other controlStatement (SqlBase.g4:995): its raw source span, for
    * RoutineLang's sub-grammar. */
  final case class ControlBody(raw: String) extends RoutineBody
  /** `[WITH (handler = '…')] AS $$…$$`: a guest-language body. */
  final case class GuestBody(handler: Option[String], code: String) extends RoutineBody
  /** CREATE [OR REPLACE] FUNCTION (SqlBase.g4 :153). */
  final case class CreateFunctionStmt(routine: RoutineDef) extends Statement
  /** `WITH FUNCTION …[, FUNCTION …] query` (SqlBase.g4 rootQuery). */
  final case class WithFunctionStmt(routines: Seq[RoutineDef], q: Query) extends Statement
}

final class SqlParseException(msg: String) extends IllegalArgumentException(msg)

object SqlLexer {
  sealed trait Kind
  case object TIdent extends Kind
  case object TQIdent extends Kind
  case object TStr extends Kind
  case object TNum extends Kind
  case object TOp extends Kind
  /** `$$…$$` (a guest-language routine body); text = the inside. */
  case object TDollar extends Kind
  case object TEof extends Kind
  final case class Token(kind: Kind, text: String, pos: Int) {
    def is(s: String): Boolean = kind == TIdent && text.equalsIgnoreCase(s)
    def isOp(s: String): Boolean = kind == TOp && text == s
  }

  private val multiOps = Seq("<=", ">=", "<>", "!=", "||", "=>", "->", "{-", "-}", "::")

  def lex(s: String): Vector[Token] = {
    val out = Vector.newBuilder[Token]
    var i = 0
    def err(m: String): Nothing = throw new SqlParseException(s"$m at offset $i in: $s")
    while (i < s.length) {
      val c = s(i)
      if (c.isWhitespace) i += 1
      else if (c == '-' && i + 1 < s.length && s(i + 1) == '-') {
        while (i < s.length && s(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < s.length && s(i + 1) == '*') {
        val end = s.indexOf("*/", i + 2)
        if (end < 0) err("unterminated comment")
        i = end + 2
      } else if (c == '\'') {
        val start = i
        i += 1
        val sb = new StringBuilder
        var done = false
        while (i < s.length && !done) {
          if (s(i) == '\'') {
            if (i + 1 < s.length && s(i + 1) == '\'') { sb.append("''"); i += 2 }
            else { done = true; i += 1 }
          } else { sb.append(s(i)); i += 1 }
        }
        if (!done) err("unterminated string literal")
        out += Token(TStr, sb.toString, start)
      } else if (c == '"') {
        val start = i
        i += 1
        val sb = new StringBuilder
        var done = false
        while (i < s.length && !done) {
          if (s(i) == '"') {
            if (i + 1 < s.length && s(i + 1) == '"') { sb.append('"'); i += 2 }
            else { done = true; i += 1 }
          } else { sb.append(s(i)); i += 1 }
        }
        if (!done) err("unterminated quoted identifier")
        out += Token(TQIdent, sb.toString, start)
      } else if (c.isDigit || (c == '.' && i + 1 < s.length && s(i + 1).isDigit)) {
        val start = i
        while (i < s.length && (s(i).isDigit || s(i) == '.')) i += 1
        if (i < s.length && (s(i) == 'e' || s(i) == 'E')) {
          i += 1
          if (i < s.length && (s(i) == '+' || s(i) == '-')) i += 1
          while (i < s.length && s(i).isDigit) i += 1
        }
        out += Token(TNum, s.substring(start, i), start)
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < s.length && (s(i).isLetterOrDigit || s(i) == '_')) i += 1
        out += Token(TIdent, s.substring(start, i), start)
      } else if (s.startsWith("$$", i)) { // a lone `$` stays a row-pattern anchor
        val end = s.indexOf("$$", i + 2)
        if (end < 0) err("unterminated $$ string")
        out += Token(TDollar, s.substring(i + 2, end), i)
        i = end + 2
      } else {
        multiOps.find(op => s.startsWith(op, i)) match {
          case Some(op) => out += Token(TOp, op, i); i += op.length
          case None =>
            if ("+-*/%<>=,().[]?;:@|{}^$".indexOf(c) >= 0) { out += Token(TOp, c.toString, i); i += 1 }
            else err(s"unexpected character '$c'")
        }
      }
    }
    out += Token(TEof, "", s.length)
    out.result()
  }
}

/** The parser proper. One instance per statement; not thread-shared.
  * `args` binds `?` markers (SqlBase.g4 #parameter) in order: each marker
  * yields the next argument, or NULL past the last one (DESCRIBE INPUT /
  * OUTPUT pass none); [[parameterCount]] reports how many markers the
  * parse consumed. Without `args` a `?` is a syntax error. */
final class SqlParser(src: String, args: Option[Seq[SqlAst.Expr]] = None) {
  import SqlAst._
  import SqlLexer._

  private val tokens = SqlLexer.lex(src)
  private var p = 0
  private var markers = 0

  def parameterCount: Int = markers

  private def peek: Token = tokens(p)
  private def peek2: Token = tokens(math.min(p + 1, tokens.length - 1))
  private def next(): Token = { val t = tokens(p); p += 1; t }
  private def err(m: String): Nothing =
    throw new SqlParseException(s"$m near '${peek.text}' (offset ${peek.pos}) in: $src")
  private def expectOp(s: String): Unit =
    if (peek.isOp(s)) p += 1 else err(s"expected '$s'")
  private def expectKw(s: String): Unit =
    if (peek.is(s)) p += 1 else err(s"expected $s")
  private def accept(kw: String): Boolean =
    if (peek.is(kw)) { p += 1; true } else false
  private def acceptOp(op: String): Boolean =
    if (peek.isOp(op)) { p += 1; true } else false
  private def acceptSeq(kws: String*): Boolean = {
    val save = p
    if (kws.forall(k => accept(k))) true else { p = save; false }
  }

  /** Reserved words that terminate an implicit alias position. */
  private val reserved = Set(
    "SELECT", "FROM", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET",
    "FETCH", "UNION", "INTERSECT", "EXCEPT", "JOIN", "INNER", "LEFT", "RIGHT",
    "FULL", "CROSS", "ON", "AND", "OR", "NOT", "AS", "BY", "WITH", "CASE",
    "WHEN", "THEN", "ELSE", "END", "IN", "IS", "NULL", "BETWEEN", "LIKE",
    "EXISTS", "DISTINCT", "ALL", "USING", "VALUES", "LATERAL", "NATURAL",
    "MATCH_RECOGNIZE", "AT", "OVER", "ROLLUP", "CUBE", "GROUPING", "WINDOW",
    "TABLESAMPLE")

  // ---------------------------------------------------------------- queries

  def parseQuery(): Query = {
    val q = parseQueryNoFinish()
    if (!peek.isOp(";") && peek.kind != TEof) err("trailing input after query")
    q
  }

  // ------------------------------------------------------------- statements

  /** [USING e, …] tail of EXECUTE / EXECUTE IMMEDIATE. */
  private def parseUsingArgs(): Seq[Expr] =
    if (!accept("USING")) Seq.empty
    else {
      val args = scala.collection.mutable.ArrayBuffer[Expr](parseExpr())
      while (acceptOp(",")) args += parseExpr()
      args.toSeq
    }

  /** Full-statement entry: queries plus the DML/EXPLAIN/SHOW subset. */
  def parseStatement(): Statement = {
    val start = peek.pos
    val stmt: Statement =
      if (acceptSeq("CREATE", "FUNCTION") ||
          acceptSeq("CREATE", "OR", "REPLACE", "FUNCTION"))
        CreateFunctionStmt(parseRoutine("", start))
      else if (peek.is("WITH") && peek2.is("FUNCTION") &&
          !tokens(math.min(p + 2, tokens.length - 1)).is("AS")) { // not a CTE
        p += 1
        val routines = scala.collection.mutable.ArrayBuffer[RoutineDef]()
        do {
          val at = peek.pos
          expectKw("FUNCTION")
          routines += parseRoutine("CREATE ", at)
        } while (acceptOp(","))
        WithFunctionStmt(routines.toSeq, parseQueryNoFinish())
      } else if (acceptSeq("CREATE", "OR", "REPLACE", "TABLE"))
        parseCtas(orReplace = true, ifNotExists = false)
      else if (acceptSeq("CREATE", "OR", "REPLACE", "MATERIALIZED", "VIEW")) {
        parseMvTail(orReplace = true, ifNotExists = false)
      } else if (acceptSeq("CREATE", "MATERIALIZED", "VIEW")) {
        val ine = acceptSeq("IF", "NOT", "EXISTS")
        parseMvTail(orReplace = false, ifNotExists = ine)
      } else if (acceptSeq("REFRESH", "MATERIALIZED", "VIEW"))
        RefreshMvStmt(ident("view name"))
      else if (acceptSeq("DROP", "MATERIALIZED", "VIEW")) {
        val ife = acceptSeq("IF", "EXISTS")
        DropMvStmt(ident("view name"), ife)
      } else if (acceptSeq("ALTER", "MATERIALIZED", "VIEW")) {
        val ife = acceptSeq("IF", "EXISTS")
        val name = ident("materialized view name")
        if (acceptSeq("RENAME", "TO"))
          AlterMvStmt(name, ife, Some(ident("new name")), Nil)
        else if (acceptSeq("SET", "PROPERTIES"))
          AlterMvStmt(name, ife, None, parsePropertyAssignments(parens = false))
        else err("expected RENAME TO or SET PROPERTIES")
      } else if (acceptSeq("CREATE", "OR", "REPLACE", "VIEW")) {
        parseViewTail(orReplace = true)
      } else if (acceptSeq("CREATE", "VIEW")) {
        parseViewTail(orReplace = false)
      } else if (acceptSeq("DROP", "FUNCTION")) {
        val ife = acceptSeq("IF", "EXISTS")
        val name = ident("function name")
        if (acceptOp("(")) { // optional disambiguating signature, ignored
          while (!peek.isOp(")") && peek.kind != TEof) p += 1
          expectOp(")")
        }
        DropFunctionStmt(name, ife)
      } else if (acceptSeq("MERGE", "INTO")) {
        val name = ident("table name")
        val tAlias = if (accept("AS")) ident("alias")
          else if (peek.kind == TIdent && !peek.is("USING")) ident("alias") else name
        expectKw("USING")
        val source: Query =
          if (peek.isOp("(")) { p += 1; val q = parseQueryNoFinish(); expectOp(")"); q }
          else {
            val t = ident("source table")
            Select(distinct = false, Seq(SelectItem(Star(None), None)),
              Some(TableRef(Id(Seq((t, false))), None)), None, None, None,
              Seq.empty, None, None)
          }
        val sAlias = if (accept("AS")) ident("alias")
          else if (peek.kind == TIdent && !peek.is("ON")) ident("alias") else "s"
        expectKw("ON")
        val on = parseExpr()
        // mergeCase+ (SqlBase.g4:865-874)
        val cases = scala.collection.mutable.ArrayBuffer[MergeCase]()
        while (accept("WHEN")) {
          if (accept("MATCHED")) {
            val cond = if (accept("AND")) Some(parseExpr()) else None
            expectKw("THEN")
            if (accept("DELETE")) cases += MergeDeleteCase(cond)
            else {
              expectKw("UPDATE"); expectKw("SET")
              if (acceptOp("*")) cases += MergeUpdateCase(cond, Nil)
              else {
                val sets = scala.collection.mutable.ArrayBuffer[(String, Expr)]()
                var more = true
                while (more) {
                  val c = ident("column name"); expectOp("=")
                  sets += ((c, parseExpr())); more = acceptOp(",")
                }
                cases += MergeUpdateCase(cond, sets.toSeq)
              }
            }
          } else {
            expectKw("NOT"); expectKw("MATCHED")
            val cond = if (accept("AND")) Some(parseExpr()) else None
            expectKw("THEN"); expectKw("INSERT")
            if (acceptOp("*")) cases += MergeInsertCase(cond, Nil, Nil)
            else {
              val cols = scala.collection.mutable.ArrayBuffer[String]()
              if (acceptOp("(")) {
                var more = true
                while (more) { cols += ident("column name"); more = acceptOp(",") }
                expectOp(")")
              }
              expectKw("VALUES"); expectOp("(")
              val vals = scala.collection.mutable.ArrayBuffer[Expr](parseExpr())
              while (acceptOp(",")) vals += parseExpr()
              expectOp(")")
              cases += MergeInsertCase(cond, cols.toSeq, vals.toSeq)
            }
          }
        }
        if (cases.isEmpty) err("MERGE requires at least one WHEN clause")
        // the canonical unconditional upsert keeps its dedicated CoW kernel
        val canonicalKey = on match {
          case Bin("=", Id(l), Id(r))
              if l.last._1.equalsIgnoreCase(r.last._1) &&
                 Seq(l, r).forall(_.length <= 2) &&
                 (l.length < 2 || Seq(tAlias, sAlias, name).exists(_.equalsIgnoreCase(l.head._1))) &&
                 (r.length < 2 || Seq(tAlias, sAlias, name).exists(_.equalsIgnoreCase(r.head._1))) =>
            Some(l.last._1)
          case _ => None
        }
        cases.toSeq match {
          case Seq(MergeUpdateCase(None, Seq()), MergeInsertCase(None, Seq(), Seq()))
              if canonicalKey.isDefined =>
            MergeStmt(name, source, canonicalKey.get)
          case full => MergeFullStmt(name, tAlias, source, sAlias, on, full)
        }
      } else if (acceptSeq("CREATE", "TABLE")) {
        val ine = acceptSeq("IF", "NOT", "EXISTS")
        val name = ident("table name")
        if (peek.is("AS") || peek.is("COMMENT") || peek.is("WITH")) {
          val comment =
            if (accept("COMMENT")) Some(stringLit("table comment")) else None
          val props = if (accept("WITH")) parsePropertyAssignments() else Nil
          expectKw("AS")
          CreateTableAs(name, orReplace = false, ine, parseQueryNoFinish(), comment, props)
        }
        else if (peek.isOp("(")) {
          p += 1
          val cols = scala.collection.mutable
            .ArrayBuffer[Either[(String, Boolean), ColDef]]()
          var more = true
          while (more) {
            if (accept("LIKE")) {
              val src = qualifiedName()
              val including =
                if (accept("INCLUDING")) { expectKw("PROPERTIES"); true }
                else if (accept("EXCLUDING")) { expectKw("PROPERTIES"); false }
                else false
              cols += Left((src, including))
            } else cols += Right(parseColDef())
            more = acceptOp(",")
          }
          expectOp(")")
          val comment =
            if (accept("COMMENT")) Some(stringLit("table comment")) else None
          val props = if (accept("WITH")) parsePropertyAssignments() else Nil
          CreateTableCols(name, ine, cols.toSeq, comment, props)
        } else err("expected AS or a column list")
      } else if (acceptSeq("INSERT", "INTO")) {
        val name = qualifiedName()
        val branch = if (acceptOp("@")) Some(ident("branch name")) else None
        val cols =
          if (peek.isOp("(") && !peek2.is("SELECT") && !peek2.is("WITH") &&
              !peek2.is("VALUES") && !peek2.isOp("(")) {
            p += 1
            val cs = scala.collection.mutable.ArrayBuffer[String]()
            var more = true
            while (more) { cs += ident("column name"); more = acceptOp(",") }
            expectOp(")")
            cs.toSeq
          } else Nil
        InsertInto(name, cols, parseQueryNoFinish(), branch)
      } else if (acceptSeq("DELETE", "FROM")) {
        val name = qualifiedName()
        val branch = if (acceptOp("@")) Some(ident("branch name")) else None
        DeleteStmt(name, if (accept("WHERE")) Some(parseExpr()) else None, branch)
      } else if (acceptSeq("SHOW", "BRANCHES")) {
        if (!accept("FROM")) expectKw("IN")
        expectKw("TABLE")
        ShowBranchesStmt(qualifiedName())
      } else if (acceptSeq("CREATE", "OR", "REPLACE", "BRANCH")) {
        val b = ident("branch name")
        expectKw("IN"); expectKw("TABLE")
        val t = qualifiedName()
        CreateBranchStmt(b, orReplace = true, ifNotExists = false, t,
          if (accept("FROM")) Some(ident("branch name")) else None)
      } else if (acceptSeq("CREATE", "BRANCH")) {
        val ine = acceptSeq("IF", "NOT", "EXISTS")
        val b = ident("branch name")
        expectKw("IN"); expectKw("TABLE")
        val t = qualifiedName()
        CreateBranchStmt(b, orReplace = false, ifNotExists = ine, t,
          if (accept("FROM")) Some(ident("branch name")) else None)
      } else if (acceptSeq("DROP", "BRANCH")) {
        val ife = acceptSeq("IF", "EXISTS")
        val b = ident("branch name")
        expectKw("IN"); expectKw("TABLE")
        DropBranchStmt(b, ife, qualifiedName())
      } else if (acceptSeq("ALTER", "BRANCH")) {
        val src = ident("branch name")
        expectKw("IN"); expectKw("TABLE")
        val t = qualifiedName()
        expectKw("FAST"); expectKw("FORWARD"); expectKw("TO")
        FastForwardStmt(src, t, ident("branch name"))
      } else if (accept("UPDATE")) {
        val name = qualifiedName()
        expectKw("SET")
        val sets = scala.collection.mutable.ArrayBuffer[(String, Expr)]()
        var more = true
        while (more) {
          val col = ident("column name")
          expectOp("=")
          sets += ((col, parseExpr()))
          more = acceptOp(",")
        }
        UpdateStmt(name, sets.toSeq,
          if (accept("WHERE")) Some(parseExpr()) else None)
      } else if (accept("EXPLAIN")) {
        val analyze = accept("ANALYZE")
        var typ = "DISTRIBUTED"; var format = "TEXT"
        if (!analyze && acceptOp("(")) {
          var more = true
          while (more) {
            if (accept("TYPE")) {
              typ = ident("explain type").toUpperCase
              if (!Set("LOGICAL", "DISTRIBUTED", "VALIDATE", "IO")(typ))
                throw new SqlParseException(s"unknown EXPLAIN TYPE $typ")
            } else if (accept("FORMAT")) {
              format = ident("explain format").toUpperCase
              if (!Set("TEXT", "JSON")(format))
                throw new SqlParseException(s"unknown EXPLAIN FORMAT $format")
            } else throw new SqlParseException(
              s"expected TYPE or FORMAT in EXPLAIN options, got '${peek.text}'")
            more = acceptOp(",")
          }
          if (!acceptOp(")"))
            throw new SqlParseException("expected ')' closing EXPLAIN options")
        }
        ExplainStmt(analyze, parseQueryNoFinish(), typ, format)
      } else if (acceptSeq("SHOW", "TABLES")) showWithLike("TABLES")
      else if (acceptSeq("SHOW", "SCHEMAS")) showWithLike("SCHEMAS")
      else if (acceptSeq("SHOW", "CATALOGS")) showWithLike("CATALOGS")
      else if (acceptSeq("SHOW", "FUNCTIONS")) showWithLike("FUNCTIONS")
      else if (acceptSeq("SHOW", "SESSION")) showWithLike("SESSION")
      else if (acceptSeq("SHOW", "GRANTS")) {
        if (accept("ON")) { accept("TABLE"); ShowGrantsStmt(Some(qualifiedName())) }
        else ShowGrantsStmt(None)
      } else if (acceptSeq("SHOW", "CREATE", "MATERIALIZED", "VIEW"))
        ShowCreateViewStmt(qualifiedName(), materialized = true)
      else if (acceptSeq("SHOW", "CREATE", "VIEW"))
        ShowCreateViewStmt(qualifiedName(), materialized = false)
      else if (acceptSeq("SHOW", "CREATE", "TABLE"))
        ShowCreateTableStmt(qualifiedName())
      else if (acceptSeq("SHOW", "CREATE", "SCHEMA"))
        ShowCreateSchemaStmt(ident("schema name"))
      else if (acceptSeq("SHOW", "CREATE", "FUNCTION"))
        ShowCreateFunctionStmt(ident("function name"))
      else if (acceptSeq("SHOW", "ROLE", "GRANTS")) ShowRoleGrantsStmt()
      else if (acceptSeq("SHOW", "STATS", "FOR")) {
        if (peek.isOp("(")) {
          p += 1; val q = parseQueryNoFinish(); expectOp(")")
          ShowStatsStmt(Right(q))
        } else ShowStatsStmt(Left(qualifiedName()))
      } else if (acceptSeq("SHOW", "COLUMNS")) {
        if (!accept("FROM") && !accept("IN")) err("expected FROM or IN")
        val name = qualifiedName()
        val like = if (accept("LIKE")) Some(stringLit("pattern")) else None
        val esc =
          if (like.isDefined && accept("ESCAPE")) Some(stringLit("escape"))
          else None
        DescribeStmt(name, like, esc)
      } else if (peek.is("DESCRIBE") &&
          (peek2.is("INPUT") || peek2.is("OUTPUT")) &&
          tokens(math.min(p + 2, tokens.length - 1)).kind == TIdent) {
        // DESCRIBE INPUT/OUTPUT <stmt> — but `DESCRIBE input` alone (a table
        // named input) still takes the table path below.
        p += 1
        val input = next().is("INPUT")
        DescribeIOStmt(input, ident("prepared statement name"))
      } else if (accept("DESCRIBE") || accept("DESC")) DescribeStmt(qualifiedName())
      else if (acceptSeq("DROP", "TABLE")) {
        val ife = acceptSeq("IF", "EXISTS")
        DropTableStmt(qualifiedName(), ife)
      } else if (acceptSeq("DROP", "VIEW")) {
        val ife = acceptSeq("IF", "EXISTS")
        DropViewStmt(ident("view name"), ife)
      } else if (acceptSeq("TRUNCATE", "TABLE"))
        TruncateStmt(qualifiedName())
      else if (acceptSeq("ALTER", "VIEW")) {
        val from = ident("view name")
        if (accept("REFRESH")) {
          RefreshViewStmt(from)
        } else if (acceptSeq("SET", "AUTHORIZATION")) {
          accept("USER"); accept("ROLE")
          SetTableAuthStmt(from, ident("principal"))
        } else {
          expectKw("RENAME"); expectKw("TO")
          AlterViewRenameStmt(from, ident("view name"))
        }
      } else if (acceptSeq("ALTER", "SCHEMA")) {
        val from = ident("schema name")
        expectKw("RENAME"); expectKw("TO")
        AlterSchemaRenameStmt(from, ident("schema name"))
      } else if (accept("ANALYZE")) {
        val name = qualifiedName()
        if (accept("WITH")) { // properties accepted and ignored (subset)
          expectOp("(")
          var depth = 1
          while (depth > 0) {
            if (peek.isOp("(")) depth += 1
            else if (peek.isOp(")")) depth -= 1
            p += 1
          }
        }
        AnalyzeStmt(name)
      } else if (acceptSeq("ALTER", "TABLE")) {
        val ife = acceptSeq("IF", "EXISTS")
        val name = qualifiedName()
        val op: AlterOp =
          if (acceptSeq("RENAME", "TO")) RenameTable(qualifiedName())
          else if (acceptSeq("RENAME", "COLUMN")) {
            val from = ident("column name"); expectKw("TO")
            RenameColumn(from, ident("column name"))
          } else if (acceptSeq("ADD", "COLUMN")) {
            val ine = acceptSeq("IF", "NOT", "EXISTS")
            val cd = parseColDef()
            val pos =
              if (accept("FIRST")) Some("first")
              else if (accept("LAST")) None
              else if (accept("AFTER")) Some("after:" + ident("column name"))
              else None
            AddColumn(cd, ine, pos)
          } else if (acceptSeq("ALTER", "COLUMN")) {
            val col = ident("column name")
            if (acceptSeq("SET", "DATA", "TYPE")) SetColumnType(col, parseTypeRaw())
            else if (acceptSeq("SET", "DEFAULT")) SetColumnDefault(col, parseExpr())
            else if (acceptSeq("DROP", "DEFAULT")) DropColumnDefault(col)
            else if (acceptSeq("DROP", "NOT", "NULL")) DropNotNull(col)
            else err("expected SET DATA TYPE, SET DEFAULT, DROP DEFAULT or DROP NOT NULL")
          } else if (acceptSeq("SET", "PROPERTIES")) {
            SetTableProps(parsePropertyAssignments(parens = false))
          } else if (acceptSeq("DROP", "COLUMN")) {
            val ce = acceptSeq("IF", "EXISTS")
            DropColumn(ident("column name"), ce)
          } else if (acceptSeq("SET", "AUTHORIZATION")) {
            accept("USER"); accept("ROLE")
            SetAuthorizationOp(ident("principal"))
          } else if (accept("EXECUTE")) {
            val proc = ident("procedure name").toLowerCase
            val args = scala.collection.mutable.ArrayBuffer[(Option[String], Expr)]()
            if (acceptOp("(")) {
              if (!peek.isOp(")")) {
                var more = true
                while (more) {
                  val nm =
                    if (peek.kind == TIdent && peek2.isOp("=>")) {
                      val n = ident("argument name"); p += 1; Some(n.toLowerCase)
                    } else None
                  args += ((nm, parseExpr()))
                  more = acceptOp(",")
                }
              }
              expectOp(")")
            }
            val where = if (accept("WHERE")) Some(parseExpr()) else None
            ExecuteTableProc(proc, args.toSeq, where)
          } else err("expected RENAME TO, RENAME COLUMN, ADD COLUMN, DROP COLUMN or EXECUTE")
        AlterTableStmt(name, ife, op)
      } else if (acceptSeq("CREATE", "SCHEMA")) {
        val ine = acceptSeq("IF", "NOT", "EXISTS")
        CreateSchemaStmt(ident("schema name"), ine)
      } else if (acceptSeq("DROP", "SCHEMA")) {
        val ife = acceptSeq("IF", "EXISTS")
        val name = ident("schema name")
        val cascade = accept("CASCADE") || { accept("RESTRICT"); false }
        DropSchemaStmt(name, ife, cascade)
      } else if (acceptSeq("CREATE", "CATALOG")) {
        val ine = acceptSeq("IF", "NOT", "EXISTS")
        val name = ident("catalog name").toLowerCase
        expectKw("USING")
        val connector = ident("connector name").toLowerCase
        val props = scala.collection.mutable.ArrayBuffer[(String, String)]()
        if (accept("WITH")) {
          expectOp("(")
          var more = true
          while (more) {
            val k = qualifiedName() // dotted keys: e.g. "split_rows"
            expectOp("=")
            val v = peek.kind match {
              case TStr | TNum | TIdent => next().text
              case _ => err("expected a literal catalog property value")
            }
            props += ((k, v))
            more = acceptOp(",")
          }
          expectOp(")")
        }
        CreateCatalogStmt(name, ine, connector, props.toSeq)
      } else if (acceptSeq("DROP", "CATALOG")) {
        val ife = acceptSeq("IF", "EXISTS")
        DropCatalogStmt(ident("catalog name").toLowerCase, ife)
      } else if (accept("USE")) UseStmt(ident("schema name"))
      else if (acceptSeq("SET", "SESSION", "AUTHORIZATION"))
        SetSessionAuthStmt(Some(peek.kind match {
          case TStr => next().text // quoted user
          case _ => ident("user name")
        }))
      else if (acceptSeq("RESET", "SESSION", "AUTHORIZATION"))
        SetSessionAuthStmt(None)
      else if (acceptSeq("SET", "SESSION")) {
        val key = qualifiedName()
        expectOp("=")
        val value = peek.kind match {
          case TStr => next().text
          case TNum => next().text
          case TIdent => next().text // true/false/bare words
          case _ => err("expected a literal session value")
        }
        SetSessionStmt(key, value)
      } else if (acceptSeq("RESET", "SESSION")) ResetSessionStmt(qualifiedName())
      else if (acceptSeq("SET", "PATH")) {
        // pathSpecification: pathElement (, pathElement)* — capture as text
        val parts = scala.collection.mutable.ArrayBuffer[String]()
        parts += qualifiedName()
        while (acceptOp(",")) parts += qualifiedName()
        SetPathStmt(parts.mkString(", "))
      } else if (acceptSeq("SET", "TIME", "ZONE")) {
        if (accept("LOCAL")) SetTimeZoneStmt(None)
        else SetTimeZoneStmt(Some(parseExpr()))
      } else if (accept("GRANT")) parseGrant(revoke = false)
      else if (accept("REVOKE")) parseGrant(revoke = true)
      else if (accept("DENY")) {
        val privs = scala.collection.mutable.ArrayBuffer[String]()
        if (accept("ALL")) { accept("PRIVILEGES"); privs += "ALL" }
        else {
          privs += ident("privilege").toUpperCase
          while (acceptOp(",")) privs += ident("privilege").toUpperCase
        }
        expectKw("ON"); accept("TABLE")
        val table = qualifiedName()
        expectKw("TO"); accept("ROLE"); accept("USER")
        DenyStmt(privs.toSeq, table, ident("grantee"))
      }
      else if (acceptSeq("COMMENT", "ON")) {
        val kind =
          if (accept("TABLE")) "TABLE"
          else if (accept("COLUMN")) "COLUMN"
          else if (accept("VIEW")) "VIEW"
          else err("expected TABLE, VIEW or COLUMN")
        val target = qualifiedName()
        expectKw("IS")
        val comment = peek.kind match {
          case TStr => Some(next().text)
          case TIdent if peek.is("NULL") => { next(); None }
          case _ => err("expected a string literal or NULL")
        }
        if (kind == "VIEW") CommentViewStmt(target, comment)
        else CommentStmt(kind == "COLUMN", target, comment)
      } else if (accept("CALL")) {
        val parts = scala.collection.mutable.ArrayBuffer(ident("procedure name"))
        while (acceptOp(".")) parts += ident("procedure name part")
        expectOp("(")
        val args = scala.collection.mutable.ArrayBuffer[(Option[String], Expr)]()
        if (!peek.isOp(")")) {
          var more = true
          while (more) {
            // named form: ident => expr
            val nm =
              if (peek.kind == TIdent && peek2.isOp("=>")) {
                val n = ident("argument name"); p += 1; Some(n.toLowerCase)
              } else None
            args += ((nm, parseExpr()))
            more = acceptOp(",")
          }
        }
        expectOp(")")
        CallStmt(parts.toSeq.map(_.toLowerCase), args.toSeq)
      } else if (acceptSeq("START", "TRANSACTION")) {
        // transaction modes (ISOLATION LEVEL …, READ ONLY/WRITE) are
        // accepted and ignored: the engine runs SERIALIZABLE-per-statement
        // with single-writer tables, stricter than every accepted level
        while (peek.kind != TEof && !peek.isOp(";")) next()
        TransactionStmt("START")
      } else if (accept("COMMIT")) { accept("WORK"); TransactionStmt("COMMIT") }
      else if (accept("ROLLBACK")) { accept("WORK"); TransactionStmt("ROLLBACK") }
      else if (acceptSeq("CREATE", "ROLE")) CreateRoleStmt(ident("role name").toLowerCase)
      else if (acceptSeq("DROP", "ROLE")) DropRoleStmt(ident("role name").toLowerCase)
      else if (acceptSeq("SET", "ROLE")) {
        if (accept("NONE")) SetRoleStmt(None, all = false)
        else if (accept("ALL")) SetRoleStmt(None, all = true)
        else SetRoleStmt(Some(ident("role name").toLowerCase), all = false)
      } else if (acceptSeq("SHOW", "CURRENT", "ROLES")) ShowRolesStmt(current = true)
      else if (acceptSeq("SHOW", "ROLES")) ShowRolesStmt(current = false)
      else if (accept("PREPARE")) {
        val name = ident("prepared statement name")
        expectKw("FROM")
        // The inner statement is kept as text from here to end-of-input;
        // EXECUTE parses it with the USING arguments bound to its `?`
        // markers (the reference binds parameters on its parsed tree,
        // PrepareTask.java / ParameterRewriter).
        val rest = src.substring(peek.pos).trim.stripSuffix(";").trim
        if (rest.isEmpty) err("expected a statement after FROM")
        p = tokens.length - 1 // consume to EOF
        PrepareStmt(name, rest)
      } else if (acceptSeq("EXECUTE", "IMMEDIATE")) {
        if (peek.kind != TStr) err("expected a string literal after EXECUTE IMMEDIATE")
        val stmtText = next().text.replace("''", "'")
        ExecuteStmt(Right(stmtText), parseUsingArgs())
      } else if (accept("EXECUTE")) {
        ExecuteStmt(Left(ident("prepared statement name")), parseUsingArgs())
      } else if (acceptSeq("DEALLOCATE", "PREPARE")) {
        DeallocateStmt(ident("prepared statement name"))
      } else QueryStmt(parseQueryNoFinish())
    if (!peek.isOp(";") && peek.kind != TEof) err("trailing input after statement")
    stmt
  }

  private def parseCtas(orReplace: Boolean, ifNotExists: Boolean): Statement = {
    val name = ident("table name")
    val comment =
      if (accept("COMMENT")) Some(stringLit("table comment")) else None
    val props = if (accept("WITH")) parsePropertyAssignments() else Nil
    expectKw("AS")
    CreateTableAs(name, orReplace, ifNotExists, parseQueryNoFinish(), comment, props)
  }

  /** Clause keywords that end a routine's RETURNS type. */
  private val routineTypeStops = Set("RETURN", "LANGUAGE", "DETERMINISTIC",
    "RETURNS", "CALLED", "SECURITY", "COMMENT", "BEGIN", "IF", "WHILE",
    "REPEAT", "LOOP", "SET", "DECLARE")

  /** functionSpecification after FUNCTION (SqlBase.g4): `name(p type, …)
    * RETURNS type routineCharacteristic* body`. The routine's DDL text is
    * `head` plus the source from `start` to the end of the body. */
  private def parseRoutine(head: String, start: Int): RoutineDef = {
    def expectHead(ok: Boolean): Unit = if (!ok) err("CREATE FUNCTION subset: " +
      "FUNCTION name(p type, …) RETURNS type [characteristics] body")
    val name = ident("function name")
    expectHead(acceptOp("("))
    val params = scala.collection.mutable.ArrayBuffer[(String, String)]()
    if (!acceptOp(")")) {
      var more = true
      while (more) {
        params += ((ident("parameter name"), parseTypeRaw()))
        more = acceptOp(",")
      }
      expectOp(")")
    }
    expectHead(accept("RETURNS"))
    val returns = parseTypeRaw(routineTypeStops)
    var language: Option[String] = None
    var handler: Option[String] = None
    val traits = scala.collection.mutable.ArrayBuffer[String]()
    var more = true
    while (more) {
      if (accept("LANGUAGE")) language = Some(ident("language name").toUpperCase)
      else if (accept("DETERMINISTIC")) traits += "DETERMINISTIC"
      else if (acceptSeq("NOT", "DETERMINISTIC")) traits += "NOT DETERMINISTIC"
      else if (acceptSeq("RETURNS", "NULL", "ON", "NULL", "INPUT"))
        traits += "RETURNS NULL ON NULL INPUT"
      else if (acceptSeq("CALLED", "ON", "NULL", "INPUT")) traits += "CALLED ON NULL INPUT"
      else if (accept("SECURITY"))
        traits += "SECURITY " + (if (accept("DEFINER")) "DEFINER"
          else { expectKw("INVOKER"); "INVOKER" })
      else if (accept("COMMENT")) traits += s"COMMENT '${stringLit("routine comment")}'"
      else if (accept("WITH")) { // the guest language's handler property
        expectOp("("); expectKw("HANDLER"); expectOp("=")
        handler = Some(stringLit("handler name"))
        expectOp(")")
      } else more = false
    }
    val body =
      if (accept("RETURN")) ReturnBody(parseExpr())
      else if (peek.is("AS") && peek2.kind == TDollar) {
        p += 1; GuestBody(handler, next().text)
      } else ControlBody(controlSpan())
    RoutineDef(name, params.toSeq, returns, language, traits.toSeq, body,
      head + src.substring(start, peek.pos).trim.stripSuffix(";").trim)
  }

  /** Raw source span of a routine's control statement (SqlBase.g4:995),
    * for RoutineLang's sub-grammar: to end of input, or under a WITH
    * FUNCTION head to the depth-0 `, FUNCTION` or query keyword after it. */
  private def controlSpan(): String = {
    val start = peek.pos
    var depth = 0
    def atEnd = peek.kind == TEof || depth == 0 &&
      ((peek.isOp(",") && peek2.is("FUNCTION")) ||
        Seq("SELECT", "VALUES", "TABLE", "WITH").exists(peek.is))
    while (!atEnd) {
      if (peek.isOp("(")) depth += 1 else if (peek.isOp(")")) depth -= 1
      p += 1
    }
    val span = src.substring(start, peek.pos).trim
    if (span.isEmpty) err("expected RETURN, a control statement or AS $$…$$")
    span
  }

  /** Dotted name (schema.table or catalog-prop key) joined verbatim. */
  private def qualifiedName(): String = {
    val sb = new StringBuilder(ident("name"))
    while (acceptOp(".")) sb.append('.').append(ident("name part"))
    sb.toString
  }

  /** GRANT/REVOKE privs ON [TABLE] t TO|FROM [ROLE|USER] grantee, or the
    * role form GRANT role TO [USER] u (SqlBase.g4 :96-99) — disambiguated
    * by what follows the first identifier (ON/comma → privileges). */
  /** `[LIKE 'pattern' [ESCAPE 'ch']]` tail of a SHOW listing. */
  private def showWithLike(kind: String): ShowStmt =
    if (!accept("LIKE")) ShowStmt(kind)
    else {
      val pat = peek.kind match {
        case TStr => next().text
        case _ => err("expected a string pattern after LIKE")
      }
      val esc =
        if (!accept("ESCAPE")) None
        else peek.kind match {
          case TStr => Some(next().text)
          case _ => err("expected a one-character string after ESCAPE")
        }
      ShowStmt(kind, Some(pat), esc)
    }

  private def parseGrant(revoke: Boolean): Statement = {
    // REVOKE GRANT OPTION FOR privs … — revoke grantability only
    val optionForHead = revoke && acceptSeq("GRANT", "OPTION", "FOR")
    val privs = scala.collection.mutable.ArrayBuffer[String]()
    if (accept("ALL")) { accept("PRIVILEGES"); privs += "ALL" }
    else {
      val first = ident("privilege or role")
      if ((!revoke && peek.is("TO")) || (revoke && peek.is("FROM"))) {
        next(); accept("ROLE"); accept("USER")
        return GrantRoleStmt(revoke, first.toLowerCase, ident("grantee"))
      }
      privs += first.toUpperCase
      while (acceptOp(",")) privs += ident("privilege").toUpperCase
    }
    expectKw("ON")
    // impersonation is a grantable privilege on a USER target (the built-in
    // twin of the reference's file-based impersonation rules):
    // GRANT IMPERSONATE ON USER bob TO proxy
    val table =
      if (accept("USER")) "user:" + ident("user name").toLowerCase
      else { accept("TABLE"); qualifiedName() }
    if (revoke) expectKw("FROM") else expectKw("TO")
    accept("ROLE"); accept("USER")
    val grantee = ident("grantee")
    val withOption = !revoke && acceptSeq("WITH", "GRANT", "OPTION")
    GrantStmt(revoke, privs.toSeq, table, grantee,
      grantOption = optionForHead || withOption)
  }

  private def parseQueryNoFinish(): Query = {
    if (accept("WITH")) {
      val ctes = scala.collection.mutable.ArrayBuffer[(String, Query)]()
      var more = true
      while (more) {
        val name = ident("CTE name")
        expectKw("AS"); expectOp("(")
        val q = parseQueryNoFinish()
        expectOp(")")
        ctes += ((name, q))
        more = acceptOp(",")
      }
      val body = parseQueryNoFinish()
      WithQ(ctes.toSeq, body)
    } else parseSetOps()
  }

  private def parseSetOps(): Query = {
    // INTERSECT binds tighter than UNION/EXCEPT (SQL standard; reference
    // grammar SqlBase.g4 splits queryTerm/queryPrimary the same way), so
    // `A UNION B INTERSECT C` is `A UNION (B INTERSECT C)`.
    var left = parseIntersectChain()
    var done = false
    while (!done) {
      val op =
        if (peek.is("UNION")) "UNION"
        else if (peek.is("EXCEPT")) "EXCEPT"
        else ""
      if (op.isEmpty) done = true
      else {
        p += 1
        val all = accept("ALL") || { accept("DISTINCT"); false }
        val corr = acceptCorresponding()
        val right = parseIntersectChain()
        left = SetOpQ(op, all, left, right, corr)
      }
    }
    // trailing ORDER BY/OFFSET/LIMIT/FETCH on a set-op chain
    left match {
      case _: SetOpQ =>
        val (ord, lim, ties, off) = parseOrderLimitFetch()
        if (ord.nonEmpty || lim.nonEmpty || ties.nonEmpty || off.nonEmpty)
          OrderedQ(left, ord, lim, ties, off)
        else left
      case q => q
    }
  }

  /** CORRESPONDING [BY (cols)] — the column-list form is rejected exactly
    * like the reference ("CORRESPONDING with columns is unsupported"). */
  private def acceptCorresponding(): Boolean = {
    val corr = accept("CORRESPONDING")
    if (corr && peek.is("BY")) // understood but unsupported: not a syntax error
      throw new IllegalArgumentException(
        "CORRESPONDING with columns is unsupported")
    corr
  }

  private def parseIntersectChain(): Query = {
    var left = parseQueryTerm()
    while (peek.is("INTERSECT")) {
      p += 1
      val all = accept("ALL") || { accept("DISTINCT"); false }
      val corr = acceptCorresponding()
      val right = parseQueryTerm()
      left = SetOpQ("INTERSECT", all, left, right, corr)
    }
    left
  }

  private def parseQueryTerm(): Query =
    if (peek.isOp("(")) {
      // either a parenthesized query or a parse error upstream
      val save = p
      p += 1
      if (peek.is("SELECT") || peek.is("WITH") || peek.is("VALUES") || peek.isOp("(")) {
        val q = parseQueryNoFinish()
        expectOp(")")
        q
      } else { p = save; err("expected subquery") }
    } else if (accept("VALUES")) {
      // a row is `(e, …)` or a bare expression: VALUES 0, 1, 2 is three
      // single-column rows (SqlBase.g4 inlineTable: VALUES expression, …)
      val rows = scala.collection.mutable.ArrayBuffer[Seq[Expr]]()
      var more = true
      while (more) {
        if (acceptOp("(")) { rows += exprList(); expectOp(")") }
        else rows += Seq(parseExpr())
        more = acceptOp(",")
      }
      ValuesQ(rows.toSeq)
    } else parseSelect()

  private def parseSelect(): Select = {
    expectKw("SELECT")
    val distinct = accept("DISTINCT") || { accept("ALL"); false }
    val items = scala.collection.mutable.ArrayBuffer[SelectItem]()
    var more = true
    while (more) {
      items += parseSelectItem()
      more = acceptOp(",")
    }
    val from = if (accept("FROM")) Some(parseRelation()) else None
    val where = if (accept("WHERE")) Some(parseExpr()) else None
    val groupBy = if (acceptSeq("GROUP", "BY")) Some(parseGroupBy()) else None
    val having = if (accept("HAVING")) Some(parseExpr()) else None
    // WINDOW name AS (spec), … (SqlBase.g4 #windowDefinition), plain or
    // row-pattern (MEASURES/PATTERN/DEFINE, SqlBase.g4:876-880)
    val windows = scala.collection.mutable.ArrayBuffer[(String, WindowSpec)]()
    if (accept("WINDOW")) {
      var moreW = true
      while (moreW) {
        val n = ident("window name")
        expectKw("AS")
        windows += ((n,
          if (rowPatternAhead)
            WindowSpec(Nil, Nil, None, rowPattern = Some(parseRowPatternBlock(window = true)))
          else parseWindowSpec()))
        moreW = acceptOp(",")
      }
    }
    val (ord, lim, ties, off) = parseOrderLimitFetch()
    Select(distinct, items.toSeq, from, where, groupBy, having, ord, lim,
      ties, off, windows.toSeq)
  }

  /** `ORDER BY … [OFFSET m] [LIMIT n | FETCH …]` — Trino grammar order
    * (SqlBase.g4 queryNoWith: OFFSET precedes the row-count clause); the
    * Spark-order `LIMIT n OFFSET m` is accepted too. */
  private def parseOrderLimitFetch(): (Seq[SortItem], Option[Long], Option[Long], Option[Long]) = {
    val ord =
      if (acceptSeq("ORDER", "BY")) {
        val xs = scala.collection.mutable.ArrayBuffer[SortItem]()
        var more = true
        while (more) { xs += parseSortItem(); more = acceptOp(",") }
        xs.toSeq
      } else Seq.empty
    var lim: Option[Long] = None
    var ties: Option[Long] = None
    var off: Option[Long] = None
    def offsetClause(): Unit =
      if (accept("OFFSET")) {
        off = Some(rowCount("OFFSET"))
        accept("ROWS"); accept("ROW")
      }
    offsetClause()
    if (accept("LIMIT")) {
      if (!accept("ALL")) lim = Some(rowCount("LIMIT"))
    } else if (accept("FETCH")) {
      if (!accept("FIRST")) expectKw("NEXT")
      val n = rowCount("FETCH")
      accept("ROWS"); accept("ROW")
      if (accept("ONLY")) lim = Some(n)
      else if (acceptSeq("WITH", "TIES")) ties = Some(n)
      else err("FETCH: expected ONLY or WITH TIES")
    }
    if (off.isEmpty) offsetClause()
    (ord, lim, ties, off)
  }

  private def parseSortItem(): SortItem = {
    val e = parseExpr()
    val dir =
      if (accept("ASC")) Some("ASC") else if (accept("DESC")) Some("DESC") else None
    val nulls =
      if (accept("NULLS")) {
        if (accept("FIRST")) Some("FIRST") else { expectKw("LAST"); Some("LAST") }
      } else None
    SortItem(e, dir, nulls)
  }

  private def parseGroupBy(): GroupBy = {
    if (accept("ROLLUP")) { expectOp("("); val es = exprList(); expectOp(")"); GroupBy("ROLLUP", es, Seq.empty) }
    else if (accept("CUBE")) { expectOp("("); val es = exprList(); expectOp(")"); GroupBy("CUBE", es, Seq.empty) }
    else if (acceptSeq("GROUPING", "SETS")) {
      expectOp("(")
      val sets = scala.collection.mutable.ArrayBuffer[Seq[Expr]]()
      var more = true
      while (more) {
        expectOp("(")
        sets += (if (peek.isOp(")")) Seq.empty else exprList())
        expectOp(")")
        more = acceptOp(",")
      }
      expectOp(")")
      GroupBy("SETS", Seq.empty, sets.toSeq)
    } else GroupBy("PLAIN", exprList(), Seq.empty)
  }

  private def parseSelectItem(): SelectItem = {
    if (peek.isOp("*")) { p += 1; return SelectItem(Star(None), None) }
    // qualified star: ident.*
    if (peek.kind == TIdent && peek2.isOp(".") &&
        tokens(math.min(p + 2, tokens.length - 1)).isOp("*")) {
      val q = next().text; p += 2
      return SelectItem(Star(Some(q)), None)
    }
    val e = parseExpr()
    val alias =
      if (accept("AS")) Some(aliasIdent())
      else if ((peek.kind == TIdent && !reserved(peek.text.toUpperCase)) || peek.kind == TQIdent)
        Some(aliasIdent())
      else None
    SelectItem(e, alias)
  }

  private def ident(what: String): String = peek.kind match {
    case TIdent => next().text
    case TQIdent => next().text
    case _ => err(s"expected $what")
  }
  private def aliasIdent(): String = ident("alias")

  // -------------------------------------------------------------- relations

  private def parseRelation(): Rel = {
    var left = parseJoinedRelation()
    while (acceptOp(",")) { // comma join = cross join
      val right = parseJoinedRelation()
      left = JoinRel("CROSS", left, right, None)
    }
    left
  }

  private def parseJoinedRelation(): Rel = {
    var left = parseRelationPrimary()
    var done = false
    while (!done) {
      val save = p
      val kind =
        if (acceptSeq("CROSS", "JOIN")) "CROSS"
        else if (acceptSeq("INNER", "JOIN") || accept("JOIN")) "INNER"
        else if (accept("LEFT")) { accept("OUTER"); expectKw("JOIN"); "LEFT" }
        else if (accept("RIGHT")) { accept("OUTER"); expectKw("JOIN"); "RIGHT" }
        else if (accept("FULL")) { accept("OUTER"); expectKw("JOIN"); "FULL" }
        else ""
      if (kind.isEmpty) { p = save; done = true }
      else if (kind == "CROSS" && peek.is("UNNEST")) {
        left = JoinRel("CROSS", left, parseUnnest(), None)
      } else {
        val right = parseRelationPrimary()
        val on = if (kind != "CROSS") { expectKw("ON"); Some(parseExpr()) } else None
        left = JoinRel(kind, left, right, on)
      }
    }
    left
  }

  private def parseUnnest(): UnnestRel = {
    expectKw("UNNEST"); expectOp("(")
    val es = exprList()
    expectOp(")")
    val ordinality = acceptSeq("WITH", "ORDINALITY")
    expectKw("AS")
    val alias = ident("UNNEST alias")
    expectOp("(")
    val cols = scala.collection.mutable.ArrayBuffer[String]()
    var more = true
    while (more) { cols += ident("UNNEST column"); more = acceptOp(",") }
    expectOp(")")
    UnnestRel(es, alias, cols.toSeq, ordinality)
  }

  private def parseRelationPrimary(): Rel = {
    val base: Rel =
      if (peek.isOp("(")) {
        p += 1
        val q = parseQueryNoFinish()
        expectOp(")")
        val a = relAlias()
        // derived-table column aliases: (SELECT ...) AS t(a, b) / (VALUES ...) t(v)
        val cols =
          if (a.isDefined && peek.isOp("(") &&
              (peek2.kind == TIdent || peek2.kind == TQIdent)) {
            p += 1
            val cs = scala.collection.mutable.ArrayBuffer[String]()
            var more = true
            while (more) { cs += ident("column alias"); more = acceptOp(",") }
            expectOp(")")
            cs.toSeq
          } else Nil
        SubqueryRel(q, a, cols)
      } else if (peek.is("UNNEST") && peek2.isOp("(")) {
        parseUnnest() // bare UNNEST in FROM (one-row anchor at render)
      } else if (peek.is("TABLE") && peek2.isOp("(")) {
        p += 2
        val name = ident("table function name")
        expectOp("(")
        val args = scala.collection.mutable.ArrayBuffer[(Option[String], Expr)]()
        if (!peek.isOp(")")) {
          var more = true
          while (more) { args += parseTvfArg(); more = acceptOp(",") }
        }
        expectOp(")"); expectOp(")")
        // queryPeriod on a table function (lake TVF time travel)
        val period =
          if (peek.is("FOR") && (peek2.is("VERSION") || peek2.is("TIMESTAMP"))) {
            p += 1
            val kind = next().text.toUpperCase
            expectKw("AS"); expectKw("OF")
            Some((kind, parsePrimary()))
          } else None
        TvfRel(name, args.toSeq, relAlias(), period)
      } else {
        val parts = scala.collection.mutable.ArrayBuffer[(String, Boolean)]()
        parts += identPart()
        while (peek.isOp(".") && (peek2.kind == TIdent || peek2.kind == TQIdent)) {
          p += 1
          parts += identPart()
        }
        if (peek.is("FOR") && (peek2.is("VERSION") || peek2.is("TIMESTAMP"))) {
          p += 1
          val kind = next().text.toUpperCase
          expectKw("AS"); expectKw("OF")
          TimeTravelRel(Id(parts.toSeq), kind, parsePrimary(), relAlias())
        } else TableRef(Id(parts.toSeq), relAlias())
      }
    if (accept("MATCH_RECOGNIZE")) {
      MatchRel(base, parseRowPatternBlock(window = false), relAlias())
    } else if (peek.is("TABLESAMPLE")) {
      // TABLESAMPLE BERNOULLI|SYSTEM (percentage) — SqlBase.g4 sampleType
      p += 1
      val method = next().text.toUpperCase
      if (method != "BERNOULLI" && method != "SYSTEM")
        err(s"TABLESAMPLE method BERNOULLI | SYSTEM, got '$method'")
      expectOp("(")
      val pct = parseExpr()
      expectOp(")")
      SampleRel(base, method, pct)
    } else base
  }

  /** tableFunctionArgument (SqlBase.g4): `[name =>] TABLE(t) |
    * DESCRIPTOR(a, …) | expression`. */
  private def parseTvfArg(): (Option[String], Expr) = {
    val name =
      if ((peek.kind == TIdent || peek.kind == TQIdent) && peek2.isOp("=>")) {
        val n = ident("argument name"); p += 1; Some(n)
      } else None
    val value =
      if (peek.is("TABLE") && peek2.isOp("(")) {
        p += 2
        val parts = scala.collection.mutable.ArrayBuffer(identPart())
        while (acceptOp(".")) parts += identPart()
        expectOp(")")
        TableArg(TableRef(Id(parts.toSeq), None))
      } else if (peek.is("DESCRIPTOR") && peek2.isOp("(")) {
        p += 2
        val cols = scala.collection.mutable.ArrayBuffer[String]()
        if (!peek.isOp(")")) {
          var more = true
          while (more) { cols += ident("descriptor field"); more = acceptOp(",") }
        }
        expectOp(")")
        DescriptorArg(cols.toSeq)
      } else parseExpr()
    (name, value)
  }

  private def identPart(): (String, Boolean) = peek.kind match {
    case TIdent => (next().text, false)
    case TQIdent => (next().text, true)
    case _ => err("expected identifier")
  }

  private def relAlias(): Option[String] = {
    if (accept("AS")) Some(aliasIdent())
    else if ((peek.kind == TIdent && !reserved(peek.text.toUpperCase)) || peek.kind == TQIdent)
      Some(aliasIdent())
    else None
  }

  /** Whether the parenthesized window specification at the next '(' has a
    * top-level `PATTERN (` clause — the row-pattern flavor. */
  private def rowPatternAhead: Boolean = {
    var depth = 0
    var i = p
    while (tokens(i).kind != TEof) {
      val t = tokens(i)
      if (t.isOp("(")) depth += 1
      else if (t.isOp(")")) { depth -= 1; if (depth == 0) return false }
      else if (depth == 1 && t.is("PATTERN") && tokens(i + 1).isOp("(")) return true
      i += 1
    }
    false
  }

  /** Row-pattern block from its '(' to the matching ')', clauses in the
    * reference order: PARTITION BY, ORDER BY, MEASURES, then ROWS PER MATCH
    * (MATCH_RECOGNIZE) or the frame (window), AFTER MATCH, INITIAL | SEEK
    * (window), PATTERN, SUBSET, DEFINE. MEASURES and DEFINE are ordinary
    * expressions, so a `?` there is a parameter marker; the PATTERN body is
    * kept as its source span, so a `?` there is a quantifier. */
  private def parseRowPatternBlock(window: Boolean): RowPatternBlock = {
    import graft.plans.MatchRecognize._
    import graft.plans.RowPattern.{SkipPastLastRow, SkipToNextRow, SkipToVar}
    def fail(m: String): Nothing =
      err(s"${if (window) "row-pattern window" else "MATCH_RECOGNIZE"}: $m")
    def commaList[T](item: => T): Seq[T] = {
      val xs = scala.collection.mutable.ArrayBuffer[T](item)
      while (acceptOp(",")) xs += item
      xs.toSeq
    }
    def columns(clause: String): Seq[String] = {
      if (!acceptSeq(clause.split(' ').toSeq: _*)) fail(s"expected $clause <cols>")
      commaList {
        val start = peek.pos
        parseSortItem() match {
          case SortItem(Id(Seq((c, _))), None | Some("ASC"), None) => c
          case _ => fail(s"$clause supports plain ascending column names, got '" +
            src.substring(start, peek.pos).trim + "'")
        }
      }
    }
    expectOp("(")
    val partitionBy = columns("PARTITION BY")
    val orderBy = columns("ORDER BY")
    val measures = if (!accept("MEASURES")) Nil else commaList {
      // RUNNING / FINAL prefix the measure only before an operand, so both
      // stay usable as column names
      val mode =
        if ((peek.is("RUNNING") || peek.is("FINAL")) && (peek2.kind == TQIdent ||
            peek2.kind == TIdent && !reserved(peek2.text.toUpperCase)))
          Some(next().text.toUpperCase)
        else None
      val e = parseExpr()
      expectKw("AS")
      MeasureDef(e, ident("measure name"), mode)
    }
    // ROWS PER MATCH + emptyMatchHandling (SqlBase.g4:467-476)
    val rowsPerMatch =
      if (window || acceptSeq("ONE", "ROW", "PER", "MATCH")) OneRow
      else if (!acceptSeq("ALL", "ROWS", "PER", "MATCH")) OneRow
      else if (acceptSeq("OMIT", "EMPTY", "MATCHES")) AllOmitEmpty
      else if (acceptSeq("WITH", "UNMATCHED", "ROWS")) AllWithUnmatched
      else if (acceptSeq("SHOW", "EMPTY", "MATCHES") ||
          !(peek.is("SHOW") || peek.is("OMIT") || peek.is("WITH"))) AllShowEmpty
      else fail("ALL ROWS PER MATCH modifier: expected SHOW EMPTY MATCHES | " +
        "OMIT EMPTY MATCHES | WITH UNMATCHED ROWS")
    // frame extent (SqlBase.g4:879): the start is CURRENT ROW, the end
    // bounds the match search space
    val frameK: Option[Int] =
      if (!window || !peek.is("ROWS")) None
      else {
        def bad(): Nothing = fail("frame must be ROWS BETWEEN CURRENT ROW AND " +
          "{CURRENT ROW | <n> FOLLOWING | UNBOUNDED FOLLOWING}")
        if (!acceptSeq("ROWS", "BETWEEN", "CURRENT", "ROW", "AND")) bad()
        if (acceptSeq("CURRENT", "ROW")) Some(0)
        else if (acceptSeq("UNBOUNDED", "FOLLOWING")) None
        else if (peek.kind == TNum || peek.isOp("?")) {
          val k = rowCount("frame")
          if (!accept("FOLLOWING")) bad()
          Some(k.toInt)
        } else bad()
      }
    // AFTER MATCH skipTo (SqlBase.g4:462), resolved once SUBSET is known;
    // bare SKIP TO <v> is the standard's alias for SKIP TO LAST <v>
    val skip: Map[String, Seq[String]] => graft.plans.RowPattern.SkipMode =
      if (!acceptSeq("AFTER", "MATCH") || acceptSeq("SKIP", "PAST", "LAST", "ROW"))
        _ => SkipPastLastRow
      else if (acceptSeq("SKIP", "TO", "NEXT", "ROW")) _ => SkipToNextRow
      else if (acceptSeq("SKIP", "TO")) {
        val first = accept("FIRST")
        if (!first) accept("LAST")
        val v = ident("pattern variable")
        subsets => SkipToVar(subsets.getOrElse(v, Seq(v)).toSet, first,
          s"${if (first) "FIRST" else "LAST"} $v")
      } else fail("AFTER MATCH: expected SKIP PAST LAST ROW | SKIP TO NEXT ROW | " +
        "SKIP TO [FIRST | LAST] <variable>")
    val seek = window && (accept("SEEK") || { accept("INITIAL"); false })
    if (!accept("PATTERN")) fail("expected PATTERN (...)")
    if (!peek.isOp("(")) fail("PATTERN must be parenthesized")
    val patternStart = next().pos + 1
    var depth = 1
    while (depth > 0) {
      if (peek.kind == TEof) fail("unbalanced PATTERN parentheses")
      if (peek.isOp("(")) depth += 1 else if (peek.isOp(")")) depth -= 1
      p += 1
    }
    val pattern = src.substring(patternStart, tokens(p - 1).pos)
    def subsetClause(): Map[String, Seq[String]] =
      if (!accept("SUBSET")) Map.empty else commaList {
        val name = ident("SUBSET name")
        expectOp("="); expectOp("(")
        val members = commaList(ident("pattern variable"))
        expectOp(")")
        name -> members
      }.toMap
    val subsetsFirst = subsetClause()
    if (!accept("DEFINE")) fail("expected DEFINE")
    val defines = commaList {
      val sym = ident("pattern variable")
      expectKw("AS")
      (sym, parseExpr())
    }
    // SUBSET is also accepted after DEFINE
    val subsets = if (subsetsFirst.nonEmpty) subsetsFirst else subsetClause()
    if (!acceptOp(")")) fail("expected ')' (clause order: PARTITION BY, ORDER BY, " +
      "MEASURES, " + (if (window) "ROWS BETWEEN …, AFTER MATCH, INITIAL | SEEK"
        else "ROWS PER MATCH, AFTER MATCH") + ", PATTERN, SUBSET, DEFINE)")
    RowPatternBlock(partitionBy, orderBy, measures, rowsPerMatch, skip(subsets),
      pattern, subsets, defines, frameK, seek)
  }

  // ------------------------------------------------------------ expressions

  private def exprList(): Seq[Expr] = {
    val xs = scala.collection.mutable.ArrayBuffer[Expr]()
    var more = true
    while (more) { xs += parseExpr(); more = acceptOp(",") }
    xs.toSeq
  }

  def parseExpr(): Expr = parseOr()

  /** A text that is exactly one expression (routine bodies). */
  def parseStandaloneExpr(): Expr = {
    val e = parseExpr()
    acceptOp(";")
    if (peek.kind != TEof) err("trailing input after expression")
    e
  }

  private def parseOr(): Expr = {
    var l = parseAnd()
    while (accept("OR")) l = Bin("OR", l, parseAnd())
    l
  }

  private def parseAnd(): Expr = {
    var l = parseNot()
    while (accept("AND")) l = Bin("AND", l, parseNot())
    l
  }

  private def parseNot(): Expr =
    if (accept("NOT")) Un("NOT", parseNot()) else parsePredicate()

  private def parsePredicate(): Expr = {
    var e = parseComparison()
    var done = false
    while (!done) {
      if (accept("IS")) {
        val neg = accept("NOT")
        expectKw("NULL")
        e = IsNull(e, neg)
      } else if (peek.is("BETWEEN") || (peek.is("NOT") && peek2.is("BETWEEN"))) {
        val neg = accept("NOT"); expectKw("BETWEEN")
        val lo = parseComparison(); expectKw("AND"); val hi = parseComparison()
        e = Between(e, lo, hi, neg)
      } else if (peek.is("IN") || (peek.is("NOT") && peek2.is("IN"))) {
        val neg = accept("NOT"); expectKw("IN"); expectOp("(")
        if (peek.is("SELECT") || peek.is("WITH")) {
          val q = parseQueryNoFinish(); expectOp(")")
          e = InSubq(e, q, neg)
        } else {
          val items = exprList(); expectOp(")")
          e = InList(e, items, neg)
        }
      } else if (peek.is("LIKE") || (peek.is("NOT") && peek2.is("LIKE"))) {
        val neg = accept("NOT"); expectKw("LIKE")
        val pat = parseComparison()
        val esc = if (accept("ESCAPE")) Some(parseComparison()) else None
        e = LikeExpr(e, pat, neg, esc)
      } else done = true
    }
    e
  }

  private def parseComparison(): Expr = {
    var l = parseConcat()
    val cmps = Set("=", "<", ">", "<=", ">=", "<>", "!=")
    while (peek.kind == SqlLexer.TOp && cmps(peek.text)) {
      val op = next().text
      l = Bin(if (op == "!=") "<>" else op, l, parseConcat())
    }
    l
  }

  private def parseConcat(): Expr = {
    var l = parseAdditive()
    while (acceptOp("||")) l = Bin("||", l, parseAdditive())
    l
  }

  private def parseAdditive(): Expr = {
    var l = parseMultiplicative()
    var done = false
    while (!done) {
      if (acceptOp("+")) l = Bin("+", l, parseMultiplicative())
      else if (acceptOp("-")) l = Bin("-", l, parseMultiplicative())
      else done = true
    }
    l
  }

  private def parseMultiplicative(): Expr = {
    var l = parseAtTimeZone()
    var done = false
    while (!done) {
      if (acceptOp("*")) l = Bin("*", l, parseAtTimeZone())
      else if (acceptOp("/")) l = Bin("/", l, parseAtTimeZone())
      else if (acceptOp("%")) l = Bin("%", l, parseAtTimeZone())
      else done = true
    }
    l
  }

  private def parseAtTimeZone(): Expr = {
    var e = parseUnary()
    while (peek.is("AT") && peek2.is("TIME")) {
      p += 2; expectKw("ZONE")
      e = AtTimeZone(e, parseUnary())
    }
    e
  }

  private def parseUnary(): Expr =
    if (acceptOp("-")) Un("-", parseUnary())
    else if (acceptOp("+")) parseUnary()
    else parsePostfix()

  private def parsePostfix(): Expr = {
    var e = parsePrimary()
    var postfix = true
    while (postfix) {
      if (peek.isOp("[")) {
        p += 1
        val ix = parseExpr()
        expectOp("]")
        e = Subscript(e, ix)
      } else if (peek.isOp(".") &&
          (peek2.kind == TIdent || peek2.kind == TQIdent) &&
          !e.isInstanceOf[Id]) {
        // row-field dereference on a computed value: CAST(... AS ROW(...)).f
        // (Id chains keep their own qualified-name parse)
        p += 1
        e = FieldRef(e, identPart()._1)
      } else if (peek.isOp("::")) {
        // postfix cast (SqlBase.g4 #cast `primaryExpression '::' type`)
        p += 1
        e = Cast(e, parseTypeRaw(), isTry = false)
      } else postfix = false
    }
    e
  }

  private val typedLitKws = Set("DATE", "TIMESTAMP", "TIME", "INTERVAL")

  /** Consume a `?` marker: its bound argument, or None past the last. */
  private def parameter(): Option[Expr] = {
    val bound = args.getOrElse(err("parameter marker outside EXECUTE … USING"))
    p += 1
    markers += 1
    bound.lift(markers - 1)
  }

  /** Row count of OFFSET / LIMIT / FETCH: a number or a bound `?` (an
    * unbound one plans as 0, for DESCRIBE OUTPUT). */
  private def rowCount(what: String): Long =
    if (peek.kind == TNum) next().text.toLong
    else if (!peek.isOp("?")) err(s"$what expects a number")
    else parameter() match {
      case None => 0L
      case Some(Lit(n)) if n.nonEmpty && n.forall(_.isDigit) => n.toLong
      case Some(_) => err(s"$what expects a number")
    }

  /** Trino's type of `DECIMAL '<v>'` (Decimals.parse): precision counts the
    * digits less leading integral zeros, scale the fraction digits. */
  private def decimalLiteralType(v: String): String = {
    val m = "[+-]?(\\d*)(?:\\.(\\d*))?".r.unapplySeq(v.trim)
      .filter(_ => v.exists(_.isDigit))
      .getOrElse(err(s"invalid DECIMAL literal '$v'"))
    val scale = Option(m(1)).fold(0)(_.length)
    val precision = math.max(1, m.head.dropWhile(_ == '0').length + scale)
    if (precision > 38) err(s"DECIMAL literal '$v' exceeds precision 38")
    s"decimal($precision,$scale)"
  }

  private def parsePrimary(): Expr = {
    val t = peek
    t.kind match {
      case TNum => p += 1; Lit(t.text)
      // Trino string literals carry backslashes literally; Spark treats \
      // as an escape inside '...' — re-escape at the dialect boundary
      case TStr => p += 1; Lit("'" + t.text.replace("\\", "\\\\") + "'")
      case TOp if t.text == "(" =>
        // lambda `(a, b) -> body`, scalar subquery, or grouping parens
        val save = p
        p += 1
        if (peek.is("SELECT") || peek.is("WITH")) {
          val q = parseQueryNoFinish(); expectOp(")")
          ScalarSubq(q)
        } else {
          // try lambda params
          val params = scala.collection.mutable.ArrayBuffer[String]()
          var isLambda = peek.kind == TIdent
          if (isLambda) {
            val save2 = p
            params += next().text
            while (isLambda && peek.isOp(",")) {
              p += 1
              if (peek.kind == TIdent) params += next().text else isLambda = false
            }
            if (isLambda && peek.isOp(")") && peek2.isOp("->")) {
              p += 2
              return Lambda(params.toSeq, parseExpr())
            }
            p = save2
          }
          val e = parseExpr()
          expectOp(")")
          e
        }
      case TOp if t.text == "?" => parameter().getOrElse(Lit("NULL"))
      case TOp if t.text == "*" => p += 1; Star(None)
      case TQIdent => parseIdentOrCall()
      case TIdent =>
        val up = t.text.toUpperCase
        up match {
          case "CASE" => p += 1; parseCase()
          case "CAST" | "TRY_CAST" =>
            p += 1; expectOp("(")
            val e = parseExpr()
            expectKw("AS")
            val tpe = parseTypeRaw()
            expectOp(")")
            Cast(e, tpe, isTry = up == "TRY_CAST")
          case "TRY" if peek2.isOp("(") =>
            p += 1; expectOp("(")
            val e = parseExpr()
            expectOp(")")
            TryExpr(e)
          case "EXISTS" if peek2.isOp("(") =>
            p += 1; expectOp("(")
            val q = parseQueryNoFinish()
            expectOp(")")
            ExistsExpr(q)
          case "NULL" => p += 1; Lit("NULL")
          case "TRUE" => p += 1; Lit("TRUE")
          case "FALSE" => p += 1; Lit("FALSE")
          case "ARRAY" if peek2.isOp("[") =>
            // ARRAY[e, ...] literal (SqlBase.g4 arrayConstructor)
            p += 2
            val items = if (peek.isOp("]")) Seq.empty else exprList()
            expectOp("]")
            Fn("array", items, distinct = false, over = None)
          // DECIMAL '1.50' / DOUBLE '…' / REAL '…' (SqlBase.g4
          // typeConstructor): a cast of the string to the literal's type
          case "DECIMAL" | "DOUBLE" | "REAL" if peek2.kind == TStr =>
            p += 1
            val v = next().text
            Cast(Lit(s"'${v.trim}'"),
              if (up == "DECIMAL") decimalLiteralType(v) else up.toLowerCase,
              isTry = false)
          case k if typedLitKws(k) && peek2.kind == TStr =>
            p += 1
            val v = next().text
            // INTERVAL '1' DAY — trailing unit idents belong to the literal
            val unit = new StringBuilder
            if (k == "INTERVAL") {
              while (peek.kind == TIdent && !reserved(peek.text.toUpperCase)) {
                unit.append(' ').append(next().text)
              }
            }
            TypedLit(k + unit.toString, v)
          case _ => parseIdentOrCall()
        }
      case _ => err("expected expression")
    }
  }

  /** Identifier, qualified identifier, ident.*, lambda `x -> e`, or call. */
  private def parseIdentOrCall(): Expr = {
    val first = identPart()
    // single-param lambda: x -> body
    if (peek.isOp("->")) {
      p += 1
      return Lambda(Seq(first._1), parseExpr())
    }
    if (peek.isOp("(") && !first._2) {
      return parseCallAfterName(first._1)
    }
    val parts = scala.collection.mutable.ArrayBuffer[(String, Boolean)](first)
    var star = false
    while (!star && peek.isOp(".")) {
      if (peek2.isOp("*")) { p += 2; star = true }
      else { p += 1; parts += identPart() }
    }
    if (star) Star(Some(parts.map(_._1).mkString(".")))
    else if (parts.length == 1 && peek.is("OVER") &&
        (peek2.kind == TIdent || peek2.kind == TQIdent)) {
      p += 1 // `measure OVER w` (SqlBase.g4 #measure)
      MeasureRef(first._1, ident("window name"))
    } else Id(parts.toSeq)
  }

  private def parseCallAfterName(name: String): Expr = {
    if (name.equalsIgnoreCase("LISTAGG")) return parseListAgg()
    name.toUpperCase match {
      // special forms whose Spark spelling matches the reference grammar
      // (SqlBase.g4 #extract #trim #substring #position) — parse into
      // SpecialForm so nested rewrites reach the children
      case "EXTRACT" if peek.isOp("(") =>
        val save = p
        p += 1 // '('
        val unit = ident("extract field").toUpperCase
        if (accept("FROM")) {
          val e = parseExpr(); expectOp(")")
          return SpecialForm(s"extract($unit FROM {0})", Seq(e))
        } else p = save // extract(...) as an ordinary function call
      case "TRIM" if peek.isOp("(") =>
        val save = p
        p += 1
        val mode =
          if (accept("LEADING")) Some("LEADING")
          else if (accept("TRAILING")) Some("TRAILING")
          else if (accept("BOTH")) Some("BOTH") else None
        if (mode.isDefined) {
          val chars = if (!peek.is("FROM")) Some(parseExpr()) else None
          expectKw("FROM")
          val str = parseExpr(); expectOp(")")
          return chars match {
            case Some(c) =>
              SpecialForm(s"trim(${mode.get} {0} FROM {1})", Seq(c, str))
            case None =>
              SpecialForm(s"trim(${mode.get} FROM {0})", Seq(str))
          }
        } else p = save // plain trim(x) / trim(x, chars)
      case "SUBSTRING" if peek.isOp("(") =>
        val save = p
        p += 1
        val str = parseExpr()
        if (accept("FROM")) {
          val from = parseExpr()
          val res =
            if (accept("FOR")) {
              val len = parseExpr()
              SpecialForm("substring({0} FROM {1} FOR {2})", Seq(str, from, len))
            } else SpecialForm("substring({0} FROM {1})", Seq(str, from))
          expectOp(")")
          return res
        } else p = save // substring(x, a[, b])
      case "POSITION" if peek.isOp("(") =>
        val save = p
        p += 1
        // value-level parse: the full expression grammar would claim the
        // IN keyword as a membership predicate
        val sub = parseConcat()
        if (accept("IN")) {
          val str = parseExpr(); expectOp(")")
          return SpecialForm("position({0} IN {1})", Seq(sub, str))
        } else p = save
      case _ => ()
    }
    expectOp("(")
    val distinct = accept("DISTINCT")
    val args =
      if (peek.isOp(")")) Seq.empty
      else if (peek.isOp("*") && peek2.isOp(")")) { p += 1; Seq(Star(None)) }
      else exprList()
    expectOp(")")
    // FILTER (WHERE cond) — SqlBase.g4 filter; Spark shares the syntax
    val filt =
      if (accept("FILTER")) {
        expectOp("("); expectKw("WHERE")
        val c = parseExpr(); expectOp(")")
        Some(c)
      } else None
    val over =
      if (accept("OVER")) {
        if (peek.isOp("(")) Some(parseWindowSpec())
        else Some(WindowSpec(Nil, Nil, None, Some(ident("window name"))))
      } else None
    val fn = Fn(name, args, distinct, over)
    filt match {
      case None => fn
      case Some(c) if over.isEmpty =>
        SpecialForm("{0} FILTER (WHERE {1})", Seq(fn, c))
      case Some(c) => // agg FILTER (WHERE …) OVER (…): filter binds first
        FilterOver(Fn(name, args, distinct, None), c, over.get)
    }
  }

  /** LISTAGG '(' DISTINCT? expr (, sep)? (ON OVERFLOW ERROR | ON OVERFLOW
    * TRUNCATE filler? (WITH|WITHOUT) COUNT?)? ')' WITHIN GROUP
    * '(' ORDER BY … ')' (SqlBase.g4 :637-441). */
  private def parseListAgg(): Expr = {
    expectOp("(")
    val distinct = accept("DISTINCT")
    val value = parseExpr()
    val sep =
      if (acceptOp(",")) Some(stringLit("listagg separator")) else None
    var truncate = false
    var filler: Option[String] = None
    var withCount = true // TRUNCATE defaults to WITH COUNT in the reference
    if (acceptSeq("ON", "OVERFLOW")) {
      if (accept("ERROR")) ()
      else if (accept("TRUNCATE")) {
        truncate = true
        if (peek.kind == SqlLexer.TStr) filler = Some(stringLit("filler"))
        if (accept("WITH")) { expectKw("COUNT"); withCount = true }
        else if (accept("WITHOUT")) { expectKw("COUNT"); withCount = false }
      } else err("expected ERROR or TRUNCATE after ON OVERFLOW")
    }
    expectOp(")")
    expectKw("WITHIN"); expectKw("GROUP")
    expectOp("(")
    expectKw("ORDER"); expectKw("BY")
    val items = scala.collection.mutable.ArrayBuffer[SortItem](parseSortItem())
    while (acceptOp(",")) items += parseSortItem()
    expectOp(")")
    ListAggExpr(distinct, value, sep, truncate, filler, withCount, items.toSeq)
  }

  private def parseWindowSpec(): WindowSpec = {
    expectOp("(")
    val partitionBy =
      if (acceptSeq("PARTITION", "BY")) exprList() else Seq.empty
    val orderBy =
      if (acceptSeq("ORDER", "BY")) {
        val xs = scala.collection.mutable.ArrayBuffer[SortItem]()
        var more = true
        while (more) { xs += parseSortItem(); more = acceptOp(",") }
        xs.toSeq
      } else Seq.empty
    // frame: capture raw until the matching ')'. A `?` marker in it binds
    // to the next EXECUTE argument in Spark's rendering (an unbound one
    // plans as 0, for DESCRIBE OUTPUT).
    val frame =
      if (peek.is("ROWS") || peek.is("RANGE") || peek.is("GROUPS")) {
        val out = new java.lang.StringBuilder
        var spanStart = peek.pos
        var depth = 1
        var endPos = spanStart
        while (depth > 0) {
          if (peek.isOp("(")) depth += 1
          else if (peek.isOp(")")) depth -= 1
          else if (peek.kind == TEof) err("unbalanced window frame")
          if (depth > 0) {
            endPos = peek.pos + peek.text.length
            if (peek.isOp("?")) {
              out.append(src, spanStart, peek.pos)
                .append(parameter().map(SqlFrontend.renderExpr).getOrElse("0"))
              spanStart = endPos
            } else p += 1
          }
        }
        Some(out.append(src, spanStart, endPos).toString.trim)
      } else None
    expectOp(")")
    WindowSpec(partitionBy, orderBy, frame)
  }

  private def parseCase(): Expr = {
    val operand = if (peek.is("WHEN")) None else Some(parseExpr())
    val whens = scala.collection.mutable.ArrayBuffer[(Expr, Expr)]()
    while (accept("WHEN")) {
      val c = parseExpr()
      expectKw("THEN")
      val v = parseExpr()
      whens += ((c, v))
    }
    val els = if (accept("ELSE")) Some(parseExpr()) else None
    expectKw("END")
    CaseExpr(operand, whens.toSeq, els)
  }

  /** Type text after CAST(… AS: idents plus balanced (…)/<…> payloads. */
  private def parseTypeRaw(stops: Set[String] = Set.empty): String = {
    val sb = new StringBuilder
    var expectMore = true
    while (expectMore) {
      val word = if (peek.kind == TIdent) next().text else err("expected type name")
      sb.append(word)
      if (peek.isOp("<") && Set("ARRAY", "MAP", "STRUCT")(word.toUpperCase)) {
        // Spark spellings (array<bigint>, struct<v0:bigint,…>) that routine
        // lowering generates: the balanced <…> span passes through verbatim
        val start = peek.pos
        var depth = 0
        do {
          if (peek.isOp("<")) depth += 1
          else if (peek.isOp(">")) depth -= 1
          else if (peek.kind == TEof) err("unbalanced '<' in type")
          p += 1
        } while (depth > 0)
        sb.append(src.substring(start, tokens(p - 1).pos + 1))
      } else if (peek.isOp("(")) {
        sb.append('(')
        p += 1
        var depth = 1
        while (depth > 0) {
          if (peek.isOp("(")) depth += 1
          else if (peek.isOp(")")) depth -= 1
          if (depth > 0) {
            // keep word boundaries: ROW(x BIGINT, y VARCHAR) must not
            // reconstruct as ROW(xBIGINT,yVARCHAR)
            if (peek.kind == TIdent && sb.nonEmpty &&
                (sb.last.isLetterOrDigit || sb.last == '_')) sb.append(' ')
            sb.append(peek.text)
          } else sb.append(')')
          p += 1
        }
      }
      // ARRAY<INT> style or multi-word types (DOUBLE PRECISION); not a
      // `label:` that opens a routine body
      if (peek.kind == TIdent && !peek.is("AS") && !peek2.isOp(":") &&
          !reserved(peek.text.toUpperCase) &&
          !stops(peek.text.toUpperCase)) sb.append(' ')
      else expectMore = false
    }
    sb.toString
  }

  /** Clause keywords that end a column-definition type. */
  private val colDefStops = Set("DEFAULT", "COMMENT", "FIRST", "LAST", "AFTER")

  /** CREATE VIEW tail (SqlBase.g4 :120-124): optional COMMENT and
    * SECURITY DEFINER|INVOKER, then AS query. */
  private def parseViewTail(orReplace: Boolean): Statement = {
    val name = ident("view name")
    val comment =
      if (accept("COMMENT")) Some(stringLit("view comment")) else None
    val security =
      if (accept("SECURITY")) {
        if (accept("DEFINER")) Some("DEFINER")
        else if (accept("INVOKER")) Some("INVOKER")
        else err("expected DEFINER or INVOKER after SECURITY")
      } else None
    expectKw("AS")
    CreateViewStmt(name, orReplace, parseQueryNoFinish(), comment, security)
  }

  /** CREATE MATERIALIZED VIEW tail (SqlBase.g4 :114-120): optional
    * GRACE PERIOD interval, WHEN STALE (INLINE | FAIL), COMMENT, WITH
    * properties, then AS query (stored verbatim). */
  private def parseMvTail(orReplace: Boolean, ifNotExists: Boolean): Statement = {
    val name = ident("view name")
    val grace: Option[Long] =
      if (acceptSeq("GRACE", "PERIOD")) {
        expectKw("INTERVAL")
        val v = stringLit("interval value").trim.toLong
        val unit = ident("interval unit").toUpperCase
        val millis = unit match {
          case "SECOND" | "SECONDS" => v * 1000L
          case "MINUTE" | "MINUTES" => v * 60000L
          case "HOUR" | "HOURS" => v * 3600000L
          case "DAY" | "DAYS" => v * 86400000L
          case other => err(s"unsupported GRACE PERIOD unit $other")
        }
        Some(millis)
      } else None
    val staleMode: Option[String] =
      if (acceptSeq("WHEN", "STALE")) {
        if (accept("INLINE")) Some("inline")
        else if (accept("FAIL")) Some("fail")
        else err("expected INLINE or FAIL after WHEN STALE")
      } else None
    val comment =
      if (accept("COMMENT")) Some(stringLit("view comment")) else None
    val props = if (accept("WITH")) parsePropertyAssignments() else Nil
    expectKw("AS")
    val startPos = peek.pos
    val q = parseQueryNoFinish()
    CreateMvStmt(name, orReplace, ifNotExists, q,
      src.substring(startPos, peek.pos).trim.stripSuffix(";").trim,
      grace, staleMode, comment, props)
  }

  private def stringLit(what: String): String = {
    val t = next()
    if (t.kind != TStr) err(s"expected string literal for $what")
    t.text
  }

  /** columnDefinition (SqlBase.g4 :253): name type [DEFAULT literal]
    * [NOT NULL] [COMMENT string]. */
  private def parseColDef(): ColDef = {
    val c = ident("column name")
    val t = parseTypeRaw(colDefStops)
    var default: Option[Expr] = None
    var notNull = false
    var comment: Option[String] = None
    var more = true
    while (more) {
      if (accept("DEFAULT")) default = Some(parseExpr())
      else if (acceptSeq("NOT", "NULL")) notNull = true
      else if (accept("COMMENT")) comment = Some(stringLit("column comment"))
      else more = false
    }
    ColDef(c, t, default, notNull, comment)
  }

  /** propertyAssignments: k = expr [, …]; `k = DEFAULT` resets the
    * property (SqlBase.g4 defaultPropertyValue) → None. WITH (…) wraps the
    * list in parens; SET PROPERTIES takes the bare list. */
  private def parsePropertyAssignments(parens: Boolean = true): Seq[(String, Option[Expr])] = {
    if (parens) expectOp("(")
    val out = scala.collection.mutable.ArrayBuffer[(String, Option[Expr])]()
    var more = true
    while (more) {
      val k = qualifiedName()
      expectOp("=")
      val v =
        if (peek.is("DEFAULT")) { p += 1; None }
        else Some(parseExpr())
      out += ((k.toLowerCase, v))
      more = acceptOp(",")
    }
    if (parens) expectOp(")")
    out.toSeq
  }
}
