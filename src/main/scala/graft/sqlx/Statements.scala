package graft.sqlx

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}

import SqlAst._

/** Statement executor for the SQL front door beyond queries (reference
  * SqlBase.g4 statement :54 — CREATE TABLE AS :68, INSERT :101, DELETE
  * :103, UPDATE :119, EXPLAIN :129, SHOW :137ff; execution analogues in
  * core/trino-main io.trino.execution.*Task).
  *
  * Tables created through this door are the engine's versioned CoW tables
  * (catalog.CowTable — the same MERGE/DELETE/UPDATE/time-travel machinery
  * the DataFrame API exposes), rooted under a per-JVM warehouse directory
  * and registered as temp views so subsequent front-door queries read them
  * by name. Fixture tables stay immutable: DML against a name that is not
  * a front-door table is an error, never a silent mutation of shared
  * fixtures.
  *
  * DuckDB-oracle determinism is the caller's concern (statements have side
  * effects); q_sqlx_statements runs a full CTAS → INSERT → DELETE → UPDATE
  * chain and the oracle replays the chain's NET EFFECT as a pure SELECT. */
private[graft] object Statements {

  /** name → CowTable root, per JVM (the front door's session catalog). */
  private val tables = TrieMap[String, String]()

  /** Declared-schema overlay for ALTER TABLE: every op is metadata-only.
    * A column's `candidates` are its physical names newest-first (grows on
    * RENAME COLUMN); reads coalesce whichever exist in the merged file
    * schema, so no data file is ever rewritten — the same
    * metadata-only evolution the open lake formats use, at any scale. */
  private final case class ColSpec(name: String,
      tpe: org.apache.spark.sql.types.DataType, candidates: Seq[String],
      // DEFAULT literal as SQL text, applied when INSERT omits the column
      // (SqlBase.g4 :98/:253); NOT NULL enforced as an in-row guard on the
      // write path (zero extra passes — scale-safe)
      default: Option[String] = None, notNull: Boolean = false)
  private final case class TableMeta(declared: Seq[ColSpec],
      tableComment: Option[String] = None,
      colComments: Map[String, String] = Map.empty,
      props: Map[String, String] = Map.empty)
  private val tableMeta = TrieMap[String, TableMeta]()

  /** Schema namespace for the front door; "default" always exists. */
  private val schemas = TrieMap[String, Unit]("default" -> ())
  @volatile private var currentSchema: String = "default"

  /** Recorded grants (reference parity: the default system access control
    * allows everything; grants are catalog metadata surfaced by SHOW
    * GRANTS — exactly this). (grantee, table) → privileges. When the
    * statement server runs with access control enabled, [[accessCheck]]
    * ENFORCES these for non-admin users (reference:
    * core/trino-main security/AccessControlManager.java dispatching to
    * the configured SystemAccessControl). */
  private val grants = TrieMap[(String, String), Set[String]]()

  /** Recorded denies (reference SqlBase.g4:169 DENY,
    * execution/DenyTask.java): (grantee, table) → denied privileges. In the
    * combined check a deny OVERRIDES both grants and ownership for the
    * enforced identity — the strictest reading of the reference's
    * deny-beats-grant rule (admins/in-process callers are unenforced and
    * therefore unaffected). */
  private val denies = TrieMap[(String, String), Set[String]]()

  /** Privileges held WITH GRANT OPTION (SqlBase.g4 grant rule's
    * `WITH GRANT OPTION` tail): (grantee, table) → grantable privileges.
    * A non-owner may GRANT/REVOKE exactly the privileges they hold here. */
  private val grantOptions = TrieMap[(String, String), Set[String]]()

  /** Table/view ownership: key → creating user (recorded only when the
    * creation ran under an enforced session; in-process callers leave
    * tables unowned, i.e. admin-only under enforcement). */
  private val owners = TrieMap[String, String]()

  private def recordOwner(key: String): Unit =
    SessionContext.enforcedUser.foreach(u => owners(key) = u)

  /** Grant enforcement (reference AccessControlManager semantics, file-
    * based access control's deny-by-default): a non-admin user may read a
    * table only with a SELECT grant (or ownership), write only with the
    * matching DML grant (or ownership); DROP/ALTER/COMMENT/GRANT require
    * ownership. In-process callers and admins carry no enforced user, so
    * every historical path is unaffected. */
  private[sqlx] def accessCheck(st: Statement): Unit = {
    val user = SessionContext.enforcedUser.getOrElse(return)
    // reference operation names per privilege (OpaAccessControl.java)
    val opaOps = Map("SELECT" -> "SelectFromColumns",
      "INSERT" -> "InsertIntoTable", "DELETE" -> "DeleteFromTable",
      "UPDATE" -> "UpdateTableColumns")
    def denied(priv: String, key: String): Boolean =
      // DENY overrides grant AND ownership (checked through the user's
      // groups too, like grants)
      (Iterator(user) ++ Groups.groupsOf(user).iterator).exists(p =>
        denies.getOrElse((p, key), Set.empty)
          .exists(g => g == priv || g == "ALL PRIVILEGES" || g == "ALL"))
    def allowed(priv: String, key: String): Boolean =
      // a configured agent REPLACES the built-in grant checks; the
      // endpoint is snapshotted in one call so a concurrent clear()
      // falls back to the built-in path, never open. Built-in grants
      // evaluate against the user AND every group a configured group
      // provider resolves for them (reference GroupProvider SPI — a
      // GRANT … TO analysts takes effect through membership).
      !denied(priv, key) &&
        OpaPolicy.decide(user, opaOps.getOrElse(priv, priv), key).getOrElse(
          owners.get(key).contains(user) ||
            (Iterator(user) ++ Groups.groupsOf(user).iterator).exists(p =>
              grants.getOrElse((p, key), Set.empty)
                .exists(g => g == priv || g == "ALL PRIVILEGES" || g == "ALL")))
    def check(priv: String, what: String, rawName: String): Unit = {
      val key = keyOf(rawName)
      if (!allowed(priv, key))
        throw new AccessDeniedException(s"Cannot $what $key")
    }
    def ownerOnly(what: String, rawName: String): Unit = {
      val key = keyOf(rawName)
      val op = what match {
        case w if w.startsWith("drop") => "DropTable"
        case w if w.startsWith("alter") => "AlterTable"
        case w if w.startsWith("comment") => "SetTableComment"
        case w if w.startsWith("grant") => "GrantTablePrivilege"
        case _ => "OwnTable"
      }
      val ok = OpaPolicy.decide(user, op, key)
        .getOrElse(owners.get(key).contains(user))
      if (!ok)
        throw new AccessDeniedException(s"Cannot $what $key")
    }
    def checkQuery(q: Query): Unit =
      referencedTables(q, Set.empty).foreach(t =>
        check("SELECT", "select from table", t))
    st match {
      case QueryStmt(q) => checkQuery(q)
      case WithFunctionStmt(_, q) => checkQuery(q)
      case ExplainStmt(_, q, _, _) => checkQuery(q)
      case CreateTableAs(_, _, _, q, _, _) => checkQuery(q) // creator owns the target
      case CreateViewStmt(_, _, q, _, _) => checkQuery(q)
      case InsertInto(name, _, q, _) =>
        check("INSERT", "insert into table", name); checkQuery(q)
      case DeleteStmt(name, _, _) => check("DELETE", "delete from table", name)
      case UpdateStmt(name, _, _) => check("UPDATE", "update table", name)
      case MergeStmt(name, source, _) =>
        // reference MERGE demands the union of its constituent privileges
        check("INSERT", "merge into table", name)
        check("UPDATE", "merge into table", name)
        check("DELETE", "merge into table", name)
        checkQuery(source)
      case MergeFullStmt(name, _, source, _, _, _) =>
        check("INSERT", "merge into table", name)
        check("UPDATE", "merge into table", name)
        check("DELETE", "merge into table", name)
        checkQuery(source)
      case DropTableStmt(name, _) => ownerOnly("drop table", name)
      case DropViewStmt(name, _) => ownerOnly("drop view", name)
      case TruncateStmt(name) =>
        // reference checkCanTruncateTable ≈ a whole-table DELETE
        check("DELETE", "truncate table", name)
      // branch DDL mutates table metadata → owner-only, like ALTER
      case CreateBranchStmt(_, _, _, table, _) => ownerOnly("alter table", table)
      case DropBranchStmt(_, _, table) => ownerOnly("alter table", table)
      case FastForwardStmt(_, table, _) => ownerOnly("alter table", table)
      case ShowBranchesStmt(table) =>
        check("SELECT", "show branches of table", table)
      case AlterViewRenameStmt(from, _) => ownerOnly("alter view", from)
      case SetTableAuthStmt(table, _) => ownerOnly("alter table", table)
      case CommentViewStmt(name, _) => ownerOnly("comment on", name)
      case AnalyzeStmt(name) => check("SELECT", "analyze table", name)
      case AlterTableStmt(name, _, _) => ownerOnly("alter table", name)
      case CommentStmt(isColumn, target, _) =>
        val parts = target.split("\\.")
        val tbl = if (isColumn) parts.dropRight(1).mkString(".") else target
        ownerOnly("comment on", tbl)
      case GrantStmt(_, privileges, table, _, _) =>
        // a non-owner may (re-)grant exactly the privileges they hold
        // WITH GRANT OPTION (reference AccessControl.checkCanGrantTablePrivilege)
        val key = keyOf(table)
        val wanted =
          if (privileges.contains("ALL"))
            Set("SELECT", "INSERT", "UPDATE", "DELETE")
          else privileges.toSet
        val held = (Iterator(user) ++ Groups.groupsOf(user).iterator)
          .flatMap(g => grantOptions.getOrElse((g, key), Set.empty)).toSet
        if (!wanted.subsetOf(held)) ownerOnly("grant on table", table)
      case DenyStmt(_, table, _) => ownerOnly("deny on table", table)
      case CreateMvStmt(_, _, _, q, _, _, _, _, _) => checkQuery(q)
      case DropMvStmt(name, _) => ownerOnly("drop materialized view", name)
      case AlterMvStmt(name, _, _, _) =>
        ownerOnly("alter materialized view", name)
      case ShowStatsStmt(Left(name)) =>
        check("SELECT", "show stats for table", name)
      case ShowStatsStmt(Right(q)) => checkQuery(q)
      // catalog DDL is an administrative operation (reference
      // SystemAccessControl.checkCanCreateCatalog): enforced users are
      // denied unless an OPA agent explicitly allows it
      case CreateCatalogStmt(name, _, _, _) =>
        if (!OpaPolicy.decide(user, "CreateCatalog", name).getOrElse(false))
          throw new AccessDeniedException(s"Cannot create catalog $name")
      case DropCatalogStmt(name, _) =>
        if (!OpaPolicy.decide(user, "DropCatalog", name).getOrElse(false))
          throw new AccessDeniedException(s"Cannot drop catalog $name")
      case _ => // creation (creator becomes owner), session/metadata
                // statements: allowed for every authenticated user
    }
  }

  /** SET SESSION properties; a few keys map onto live Spark conf. */
  private val sessionProps = TrieMap[String, String]()

  /** The session time zone before any SET TIME ZONE, restored by
    * SET TIME ZONE LOCAL (captured before the first mutation so the
    * GraftSession UTC setting is what LOCAL means here). */
  @volatile private var defaultTimeZone: Option[String] = None

  /** CREATE VIEW definitions (name → rendered defining query), surfaced by
    * information_schema.views. */
  private val viewDefs = TrieMap[String, String]()

  /** Front-door materialized views: lowercase name → storage root
    * (catalog.MaterializedView layout: stored definition + CowTable
    * materialization + freshness basis). */
  private val mvRoots = TrieMap[String, String]()

  /** ALTER MATERIALIZED VIEW … SET PROPERTIES overlay (SqlBase.g4 :128),
    * surfaced by SHOW CREATE MATERIALIZED VIEW. */
  private val mvProps = TrieMap[String, Map[String, String]]()

  /** GRACE PERIOD / WHEN STALE / COMMENT metadata + last-refresh instant
    * per MV (SqlBase.g4 :114-118; reference MaterializedViewDefinition
    * gracePeriod + MaterializedViewFreshness). */
  private final case class MvMeta(graceMillis: Option[Long],
      staleMode: Option[String], comment: Option[String], refreshedAt: Long)
  private val mvMeta = TrieMap[String, MvMeta]()

  /** WHEN STALE read behavior for `table` if it is a front-door MV with a
    * configured mode: outer None → not applicable (not an MV, or default
    * mode: read the materialization as-is); Some(None) → fresh within
    * grace, read the materialization; Some(Some(defSql)) → INLINE-expand
    * the stored definition. WHEN STALE FAIL throws here. */
  private[sqlx] def mvStaleInlineSql(spark: SparkSession,
      table: String): Option[Option[String]] = {
    val lower = table.toLowerCase
    val meta = mvMeta.get(lower).filter(_.staleMode.isDefined)
    if (meta.isEmpty || !mvRoots.contains(lower)) return None
    val m = meta.get
    val mv = graft.catalog.MaterializedView.open(spark, mvRoots(lower))
    val withinGrace = m.graceMillis.exists(g =>
      System.currentTimeMillis() - m.refreshedAt <= g)
    if (!mv.isStale || withinGrace) Some(None)
    else m.staleMode.get match {
      case "fail" => throw new IllegalStateException(
        s"materialized view '$table' is stale (WHEN STALE FAIL); " +
          "run REFRESH MATERIALIZED VIEW")
      case _ => Some(Some(mv.definitionSql))
    }
  }

  /** COMMENT ON VIEW comments (lowercase name → text). */
  private val viewComments = TrieMap[String, String]()

  /** CREATE VIEW … SECURITY DEFINER|INVOKER (SqlBase.g4 :122), surfaced by
    * SHOW CREATE VIEW. */
  private val viewSecurity = TrieMap[String, String]()

  /** Front-door statement history for system.runtime.queries (reference
    * system.runtime.queries lists the coordinator's query log). */
  private val queryLog = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
  private val querySeq = new java.util.concurrent.atomic.AtomicLong()
  private[sqlx] def logQuery(text: String): Unit =
    queryLog.add((querySeq.incrementAndGet(), text))

  /** Role registry + per-session enabled set (reference parity:
    * CREATE/SET ROLE are metadata under the default allow-all access
    * control; SHOW ROLES surfaces them). */
  private val roles = TrieMap[String, Unit]()
  @volatile private var enabledRoles: Set[String] = Set.empty

  /** Open multi-statement transaction: the catalog maps and every
    * front-door table's CoW version at START TRANSACTION. ROLLBACK
    * restores the maps and publishes a rollback snapshot per advanced
    * table (metadata-only — no data file is touched, so transaction
    * rollback is O(tables), not O(data), at any scale). Single-session
    * semantics: the engine's tables are single-writer (CowTable's
    * last-writer-wins CURRENT swap), matching the reference's
    * one-transaction-per-session model. */
  private final case class TxnSnapshot(
      tables: Map[String, String], meta: Map[String, TableMeta],
      schemaNames: Set[String], schema: String,
      grantsSnap: Map[(String, String), Set[String]],
      deniesSnap: Map[(String, String), Set[String]],
      grantOptsSnap: Map[(String, String), Set[String]],
      ownersSnap: Map[String, String],
      props: Map[String, String], roleNames: Set[String],
      enabled: Set[String], versions: Map[String, Int])
  @volatile private var txn: Option[TxnSnapshot] = None

  private[graft] def isSchema(name: String): Boolean =
    schemas.contains(name.toLowerCase)

  /** schema-qualified registry key for a statement-level table name. A
    * request-scoped `X-Trino-Schema` header overrides the global USE state. */
  private def keyOf(name: String): String = {
    val lower = name.toLowerCase
    val schema = SessionContext.schemaOverride.map(_.toLowerCase)
      .getOrElse(currentSchema)
    // "user:<name>" keys (impersonation grant targets) are not tables and
    // never schema-qualify
    if (lower.contains(".") || lower.startsWith("user:") ||
        schema == "default") lower
    else s"$schema.$lower"
  }

  /** May `principal` impersonate `target` (SET SESSION AUTHORIZATION)?
    * An OPA agent decides when configured (reference OpaAccessControl
    * checkCanSetUser → ImpersonateUser operation); the built-in rule is a
    * grantable privilege: GRANT IMPERSONATE ON USER target TO principal.
    * Self-impersonation is always allowed. */
  private[graft] def canImpersonate(principal: String, target: String): Boolean =
    principal == target ||
      OpaPolicy.decide(principal, "ImpersonateUser", s"user:${target.toLowerCase}")
        .getOrElse(
          (Iterator(principal) ++ Groups.groupsOf(principal).iterator).exists(p =>
            grants.getOrElse((p, s"user:${target.toLowerCase}"), Set.empty)
              .exists(g => g == "IMPERSONATE" || g == "ALL")))

  /** Re-register every front-door table's temp view onto `spark` — needed
    * when the statement server executes on a scoped `newSession()` (temp
    * views are per-SparkSession; the CowTable registry is JVM-global). */
  private[graft] def registerFrontDoorViews(spark: SparkSession): Unit =
    tables.keys.foreach(k =>
      projected(spark, k).createOrReplaceTempView(viewNameOf(k)))

  /** Temp-view name for a registry key (Spark temp views are single-part). */
  private[graft] def viewNameOf(key: String): String = key.replace(".", "__")

  private lazy val warehouse: String = {
    val p = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_sql_warehouse_${ProcessHandle.current().pid()}")
    Files.createDirectories(p)
    p.toString
  }

  private def subquery(spark: SparkSession, dir: String, q: Query): DataFrame = {
    // policy splice for enforced users (CTAS/INSERT/EXPLAIN sources read
    // through row filters and column masks exactly like direct queries)
    val secured = SessionContext.enforcedUser
      .map(u => RowSecurity.secure(q, u, spark)).getOrElse(q)
    val planned = SqlFrontend.planQuery(spark, dir, SqlFrontend.rewriteQuery(secured))
    spark.sql(SqlFrontend.renderQuery(planned))
  }

  /** Base tables referenced by a query AST (EXPLAIN (TYPE IO); reference
    * io/trino/sql/planner/planprinter/IoPlanPrinter). CTE names shadow base
    * tables; subqueries in FROM, set ops, and expression subqueries
    * (IN/EXISTS/scalar) all contribute. */
  /** (input tables, output tables) of a statement text, for lineage
    * listeners (reference plugin/trino-openlineage derives datasets from
    * the same metadata walk EXPLAIN (TYPE IO) uses). Unparseable texts
    * contribute no lineage rather than failing the listener. */
  private[graft] def ioTables(text: String): (Seq[String], Seq[String]) =
    try {
      new SqlParser(text).parseStatement() match {
        case QueryStmt(q) => (referencedTables(q, Set.empty).toSeq.sorted, Nil)
        case ExplainStmt(_, q, _, _) => (referencedTables(q, Set.empty).toSeq.sorted, Nil)
        case CreateTableAs(name, _, _, q, _, _) =>
          (referencedTables(q, Set.empty).toSeq.sorted, Seq(name.toLowerCase))
        case CreateViewStmt(name, _, q, _, _) =>
          (referencedTables(q, Set.empty).toSeq.sorted, Seq(name.toLowerCase))
        case InsertInto(name, _, q, _) =>
          (referencedTables(q, Set.empty).toSeq.sorted, Seq(name.toLowerCase))
        case MergeStmt(name, source, _) =>
          (referencedTables(source, Set.empty).toSeq.sorted, Seq(name.toLowerCase))
        case MergeFullStmt(name, _, source, _, _, _) =>
          (referencedTables(source, Set.empty).toSeq.sorted, Seq(name.toLowerCase))
        case DeleteStmt(name, _, _) => (Nil, Seq(name.toLowerCase))
        case UpdateStmt(name, _, _) => (Nil, Seq(name.toLowerCase))
        case _ => (Nil, Nil)
      }
    } catch { case _: Exception => (Nil, Nil) }

  private def referencedTables(q: Query, ctes: Set[String]): Set[String] = {
    def fromExpr(e: Expr, c: Set[String]): Set[String] = e match {
      case InSubq(inner, sub, _) => fromExpr(inner, c) ++ referencedTables(sub, c)
      case ExistsExpr(sub) => referencedTables(sub, c)
      case ScalarSubq(sub) => referencedTables(sub, c)
      case Fn(_, args, _, _) => args.flatMap(fromExpr(_, c)).toSet
      case Bin(_, l, r) => fromExpr(l, c) ++ fromExpr(r, c)
      case Un(_, inner) => fromExpr(inner, c)
      case Cast(inner, _, _) => fromExpr(inner, c)
      case TryExpr(inner) => fromExpr(inner, c)
      case IsNull(inner, _) => fromExpr(inner, c)
      case Between(a, lo, hi, _) => fromExpr(a, c) ++ fromExpr(lo, c) ++ fromExpr(hi, c)
      case InList(a, items, _) => fromExpr(a, c) ++ items.flatMap(fromExpr(_, c))
      case LikeExpr(a, p, _, _) => fromExpr(a, c) ++ fromExpr(p, c)
      case CaseExpr(op, whens, els) =>
        op.toSeq.flatMap(fromExpr(_, c)).toSet ++
          whens.flatMap { case (a, b) => fromExpr(a, c) ++ fromExpr(b, c) } ++
          els.toSeq.flatMap(fromExpr(_, c))
      case Subscript(a, ix) => fromExpr(a, c) ++ fromExpr(ix, c)
      case AtTimeZone(a, tz) => fromExpr(a, c) ++ fromExpr(tz, c)
      case TableArg(rel) => fromRel(rel, c)
      case _ => Set.empty
    }
    def fromRel(r: Rel, c: Set[String]): Set[String] = r match {
      case TableRef(name, _) =>
        val n = name.plain.toLowerCase
        if (c.contains(n)) Set.empty else Set(n)
      case SubqueryRel(sub, _, _) => referencedTables(sub, c)
      case JoinRel(_, l, rr, on) =>
        fromRel(l, c) ++ fromRel(rr, c) ++ on.toSeq.flatMap(fromExpr(_, c))
      case MatchRel(input, _, _) => fromRel(input, c)
      case UnnestRel(exprs, _, _, _) => exprs.flatMap(fromExpr(_, c)).toSet
      case TvfRel(_, args, _, period) =>
        args.flatMap(a => fromExpr(a._2, c)).toSet ++
          period.toSeq.flatMap(p => fromExpr(p._2, c))
      case SampleRel(input, _, _) => fromRel(input, c)
      case TimeTravelRel(name, _, _, _) => Set(name.plain.toLowerCase)
    }
    q match {
      case Select(_, items, from, where, _, having, _, _, _, _, _) =>
        items.flatMap(i => fromExpr(i.e, ctes)).toSet ++
          from.toSeq.flatMap(fromRel(_, ctes)) ++
          where.toSeq.flatMap(fromExpr(_, ctes)) ++
          having.toSeq.flatMap(fromExpr(_, ctes))
      case SetOpQ(_, _, l, r, _) => referencedTables(l, ctes) ++ referencedTables(r, ctes)
      case WithQ(cteDefs, body) =>
        val (acc, names) = cteDefs.foldLeft((Set.empty[String], ctes)) {
          case ((tabs, known), (name, defn)) =>
            (tabs ++ referencedTables(defn, known), known + name.toLowerCase)
        }
        acc ++ referencedTables(body, names)
      case OrderedQ(inner, _, _, _, _) => referencedTables(inner, ctes)
      case ValuesQ(_) => Set.empty
    }
  }

  /** SQL LIKE semantics for SHOW … LIKE filters (reference
    * metadata/MetadataListing pattern matching): % = any run, _ = one
    * char, optional ESCAPE character quotes the next char literally. */
  private def likeMatch(s: String, pattern: String,
      escape: Option[String]): Boolean = {
    val esc = escape.flatMap(_.headOption)
    val sb = new StringBuilder
    var i = 0
    while (i < pattern.length) {
      val c = pattern(i)
      if (esc.contains(c) && i + 1 < pattern.length) {
        sb.append(java.util.regex.Pattern.quote(pattern(i + 1).toString))
        i += 2
      } else {
        c match {
          case '%' => sb.append("(?s).*")
          case '_' => sb.append("(?s).")
          case other => sb.append(java.util.regex.Pattern.quote(other.toString))
        }
        i += 1
      }
    }
    s.matches(sb.toString)
  }

  private def likeFilter(vals: Seq[String], like: Option[String],
      escape: Option[String]): Seq[String] =
    like.map(p => vals.filter(likeMatch(_, p, escape))).getOrElse(vals)

  private def condColumn(where: Option[Expr]): Column =
    expr(where.map(w => SqlFrontend.renderExpr(SqlFrontend.rewriteExpr(w)))
      .getOrElse("true"))

  private def lookupKey(name: String): Option[String] =
    Seq(keyOf(name), name.toLowerCase).distinct.find(tables.contains)

  /** Front-door registry key for a (possibly unqualified) table name,
    * resolved through the effective schema — SqlFrontend's SELECT-path
    * twin of the DML path's lookupKey. */
  private[sqlx] def resolveTableKey(name: String): Option[String] = lookupKey(name)

  private def requireKey(name: String): String =
    lookupKey(name).getOrElse(throw new IllegalArgumentException(
      s"'$name' is not a front-door table — DML applies only to tables " +
        "created via CREATE TABLE AS (fixture tables are immutable)"))

  private def openTable(spark: SparkSession, name: String): graft.catalog.CowTable =
    graft.catalog.CowTable.open(spark, tables(requireKey(name)))

  /** `FOR VERSION|TIMESTAMP AS OF` over a front-door table (reference
    * SqlBase.g4 queryPeriod; connectors resolve the snapshot). VERSION is
    * the CoW manifest version; TIMESTAMP resolves to the newest version
    * whose manifest commit time (the atomic-rename mtime) is ≤ the given
    * instant — failing loudly when the instant predates the table. */
  private[sqlx] def timeTravelRead(spark: SparkSession, name: String,
      kind: String, raw: String): DataFrame = {
    val key = requireKey(name)
    val ct = graft.catalog.CowTable.open(spark, tables(key))
    kind match {
      case "VERSION" =>
        val t = raw.trim.stripPrefix("'").stripSuffix("'")
        // a numeric literal is a version; a string names a BRANCH head
        // (reference iceberg: FOR VERSION AS OF 'branch-name')
        if (t.forall(_.isDigit)) ct.read(asOfVersion = Some(t.toInt))
        else ct.readBranch(t)
      case "TIMESTAMP" =>
        val instant = java.sql.Timestamp.valueOf(raw.trim.replace("T", " ")).getTime
        val manifests = Paths.get(tables(key), "_manifests")
        val versions = (0 to ct.currentVersion).filter { v =>
          Files.getLastModifiedTime(manifests.resolve(s"v$v")).toMillis <= instant
        }
        require(versions.nonEmpty,
          s"no version of '$name' exists at or before $raw")
        ct.read(asOfVersion = Some(versions.max))
      case other => throw new IllegalArgumentException(
        s"FOR $other AS OF: VERSION | TIMESTAMP")
    }
  }

  /** Declared-schema projection over the (schema-merged) physical read. */
  private def projected(spark: SparkSession, key: String): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val base = graft.catalog.CowTable.open(spark, tables(key))
      .read(mergeSchema = true)
    tableMeta.get(key) match {
      case None => base
      case Some(meta) =>
        val have = base.columns.toSet
        base.select(meta.declared.map { cs =>
          cs.candidates.filter(have) match {
            case Seq() => lit(null).cast(cs.tpe).as(cs.name)
            case Seq(one) => base(one).cast(cs.tpe).as(cs.name)
            case many => coalesce(many.map(base(_)): _*).cast(cs.tpe).as(cs.name)
          }
        }.toIndexedSeq: _*)
    }
  }

  private def refreshView(spark: SparkSession, name: String): Unit = {
    val key = requireKey(name)
    projected(spark, key).createOrReplaceTempView(viewNameOf(key))
  }

  /** `partitioned_by = ARRAY['a', 'b']` property → partition column names
    * (reference: the hive/iceberg connectors' partitioned_by/partitioning
    * table properties). */
  private def partitionColsOf(props: Map[String, String]): Seq[String] =
    arrayProp(props, "partitioned_by")

  private def arrayProp(props: Map[String, String], key: String): Seq[String] =
    props.get(key).toSeq.flatMap { v =>
      "'([^']+)'".r.findAllMatchIn(v).map(_.group(1)).toSeq
    }

  /** `bucketed_by`/`bucket_count`/`sorted_by` properties (reference:
    * plugin/trino-hive HiveTableProperties.java:54) → (columns, count,
    * sort columns); count defaults to 0 = unbucketed. */
  private def bucketSpecOf(props: Map[String, String]): (Seq[String], Int, Seq[String]) = {
    val cols = arrayProp(props, "bucketed_by")
    val count = props.get("bucket_count").map(_.trim.toInt).getOrElse(0)
    if (cols.nonEmpty && count <= 0)
      throw new IllegalArgumentException(
        "bucketed_by requires a positive bucket_count property")
    if (cols.isEmpty && count > 0)
      throw new IllegalArgumentException(
        "bucket_count requires the bucketed_by property")
    (cols, count, arrayProp(props, "sorted_by"))
  }

  /** Render parsed property assignments to stored strings; `k = DEFAULT`
    * (None) drops the key. */
  private def renderProps(props: Seq[(String, Option[SqlAst.Expr])],
      base: Map[String, String] = Map.empty): Map[String, String] =
    props.foldLeft(base) {
      case (acc, (k, Some(v))) => acc + (k -> SqlFrontend.renderExpr(v))
      case (acc, (k, None)) => acc - k
    }

  private def seedMeta(key: String, schema: StructType): Unit =
    tableMeta(key) = TableMeta(schema.fields.toSeq.map(f =>
      ColSpec(f.name, f.dataType, Seq(f.name))))

  private def oneRow(spark: SparkSession, col: String, v: Long): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(v)),
      StructType(Seq(StructField(col, LongType, nullable = false))))

  private def stringRows(spark: SparkSession, col: String, vs: Seq[String]): DataFrame =
    spark.createDataFrame(
      java.util.List.copyOf(scala.jdk.CollectionConverters.SeqHasAsJava(
        vs.map(Row(_))).asJava),
      StructType(Seq(StructField(col, StringType, nullable = false))))

  /** Metadata relations: information_schema.* and the system.* tables
    * (reference: core/trino-main io.trino.connector.informationschema.
    * InformationSchemaTable.java:41 column layouts; system.runtime tables
    * connector/system/NodesSystemTable.java, QuerySystemTable.java).
    * Returns None for names outside the metadata namespace; driver-side
    * construction is O(tables), never a data scan. */
  private[sqlx] def metadataRelation(spark: SparkSession, dir: String,
      parts: Seq[String]): Option[DataFrame] = {
    def rows(schema: StructType, vs: Seq[Row]): DataFrame =
      spark.createDataFrame(java.util.List.copyOf(
        scala.jdk.CollectionConverters.SeqHasAsJava(vs).asJava), schema)
    def str(fs: String*) = StructType(fs.map(StructField(_, StringType, nullable = true)))
    // (schema, name, type, columns-supplier) for every visible table
    def allTables: Seq[(String, String, String, () => StructType)] = {
      val fixtures = graft.sources.Tables.all
        .filter(t => new java.io.File(s"$dir/$t.parquet").exists())
        .map(t => ("default", t, "BASE TABLE",
          () => graft.sources.Tables.load(spark, dir, t).schema))
      val frontDoor = tables.keys.toSeq.map { key =>
        val (sch, tbl) = key.split("\\.", 2) match {
          case Array(s, t) => (s, t)
          case Array(t) => ("default", t)
        }
        (sch, tbl, "BASE TABLE", () => projected(spark, key).schema)
      }
      val views = viewDefs.keys.toSeq.map(v =>
        ("default", v, "VIEW", () => spark.table(v).schema))
      fixtures ++ frontDoor ++ views
    }
    parts.map(_.toLowerCase) match {
      case Seq("information_schema", "schemata") =>
        Some(rows(str("catalog_name", "schema_name"),
          (schemas.keys.toSeq :+ "information_schema").distinct.sorted
            .map(s => Row("graft", s))))
      case Seq("information_schema", "tables") =>
        Some(rows(str("table_catalog", "table_schema", "table_name", "table_type"),
          allTables.sortBy(t => (t._1, t._2))
            .map { case (s, t, tt, _) => Row("graft", s, t, tt) }))
      case Seq("information_schema", "columns") =>
        Some(rows(StructType(str("table_catalog", "table_schema", "table_name",
            "column_name").fields ++ Seq(
            StructField("ordinal_position", LongType, nullable = false)) ++
            str("column_default", "is_nullable", "data_type").fields),
          allTables.sortBy(t => (t._1, t._2)).flatMap { case (s, t, _, sch) =>
            sch().fields.zipWithIndex.map { case (f, i) =>
              Row("graft", s, t, f.name, (i + 1).toLong, null,
                if (f.nullable) "YES" else "NO", f.dataType.simpleString)
            }
          }))
      case Seq("information_schema", "views") =>
        Some(rows(str("table_catalog", "table_schema", "table_name", "view_definition"),
          viewDefs.toSeq.sortBy(_._1).map { case (n, d) => Row("graft", "default", n, d) }))
      case Seq("system", "runtime", "nodes") =>
        val sc = spark.sparkContext
        Some(rows(StructType(str("node_id", "http_uri", "node_version").fields ++
            Seq(StructField("coordinator", BooleanType, nullable = false)) ++
            str("state").fields),
          Seq(Row(sc.applicationId, sc.uiWebUrl.getOrElse("local"),
            sc.version, true, "active"))))
      case Seq("system", "runtime", "queries") =>
        Some(rows(StructType(Seq(StructField("query_id", LongType, nullable = false)) ++
            str("state", "query").fields),
          scala.jdk.CollectionConverters.IteratorHasAsScala(queryLog.iterator).asScala
            .toSeq.sortBy(_._1).map { case (id, q) => Row(id, "FINISHED", q) }))
      // system.jdbc.* — the relations JDBC clients introspect
      // (reference: core/trino-main io.trino.connector.system.jdbc —
      // CatalogJdbcTable, SchemaJdbcTable, TableJdbcTable,
      // ColumnJdbcTable, with the JDBC-spec column spellings)
      case Seq("system", "jdbc", "catalogs") =>
        Some(rows(str("table_cat"), Seq(Row("graft"))))
      case Seq("system", "jdbc", "schemas") =>
        Some(rows(str("table_schem", "table_catalog"),
          (schemas.keys.toSeq :+ "information_schema").distinct.sorted
            .map(s => Row(s, "graft"))))
      case Seq("system", "jdbc", "tables") =>
        Some(rows(str("table_cat", "table_schem", "table_name", "table_type"),
          allTables.sortBy(t => (t._1, t._2)).map { case (s, t, tt, _) =>
            Row("graft", s, t, if (tt == "BASE TABLE") "TABLE" else tt) }))
      case Seq("system", "jdbc", "columns") =>
        Some(rows(StructType(
          str("table_cat", "table_schem", "table_name", "column_name",
            "type_name").fields ++ Seq(
            StructField("ordinal_position", LongType, nullable = false),
            StructField("is_nullable", StringType, nullable = false))),
          allTables.sortBy(t => (t._1, t._2)).flatMap { case (s, t, _, sch) =>
            sch().fields.zipWithIndex.map { case (f, i) =>
              Row("graft", s, t, f.name, f.dataType.simpleString,
                (i + 1).toLong, if (f.nullable) "YES" else "NO") } }))
      case Seq("system", "metadata", "catalogs") =>
        // connector_name: the store's record for DDL-created catalogs,
        // "dsv2" for programmatic CatalogPlugin registrations
        val dsv2 = spark.conf.getAll.keys
          .collect { case k if k.matches("spark\\.sql\\.catalog\\.\\w+") =>
            k.stripPrefix("spark.sql.catalog.") }.toSeq
        Some(rows(str("catalog_name", "connector_name"),
          (("graft", "graft") +: dsv2.map(c =>
            (c, graft.catalog.CatalogStore.connectorOf(c).getOrElse("dsv2"))))
            .distinct.sortBy(_._1)
            .map { case (c, conn) => Row(c, conn) }))
      case Seq("system", "metadata", "materialized_views") =>
        // reference io.trino.connector.system.MaterializedViewSystemTable:
        // catalog/schema/name, freshness (UNKNOWN/STALE/FRESH where FRESH
        // includes stale-within-grace), and the stored definition
        Some(rows(str("catalog_name", "schema_name", "name", "freshness",
            "stale_mode", "grace_period_seconds", "definition"),
          mvRoots.toSeq.sortBy(_._1).map { case (n, root) =>
            val mv = graft.catalog.MaterializedView.open(spark, root)
            val meta = mvMeta.get(n)
            val withinGrace = meta.exists(m => m.graceMillis.exists(g =>
              System.currentTimeMillis() - m.refreshedAt <= g))
            Row("graft", "default", n,
              if (!mv.isStale || withinGrace) "FRESH" else "STALE",
              meta.flatMap(_.staleMode).map(_.toUpperCase).orNull,
              meta.flatMap(_.graceMillis).map(g => (g / 1000).toString).orNull,
              mv.definitionSql)
          }))
      case _ => None
    }
  }

  /** Execute a parsed non-query statement (TrinoDialect dispatches queries
    * to SqlFrontend). */
  private[sqlx] def execute(spark: SparkSession, dir: String, st: Statement): DataFrame = {
    if (SessionContext.current.isDefined) {
      // SET/RESET SESSION, USE, PREPARE and DEALLOCATE write JVM-global
      // state below. The statement server answers them from the AST as
      // protocol headers, so under a request's context they can only arrive
      // nested in EXECUTE [IMMEDIATE]: refuse them there instead of leaking
      // one client's session into every other client's.
      def nested(what: String): Nothing = throw new IllegalArgumentException(
        s"$what changes session state: send it as its own statement")
      // Transactions, SET TIME ZONE, SET PATH and SET ROLE also write
      // JVM-global state (one transaction snapshot whose ROLLBACK reverts
      // every client's writes, the shared session's time zone, the global
      // path and roles), and the protocol has no per-session form for them
      // yet: refuse them outright.
      def unsupported(what: String): Nothing = throw new IllegalArgumentException(
        s"$what is not supported over the statement protocol")
      st match {
        case SetSessionStmt(k, _) => nested(s"SET SESSION $k")
        case ResetSessionStmt(k) => nested(s"RESET SESSION $k")
        case UseStmt(schema) => nested(s"USE $schema")
        case PrepareStmt(n, _) => nested(s"PREPARE $n")
        case DeallocateStmt(n) => nested(s"DEALLOCATE PREPARE $n")
        case TransactionStmt("START") => unsupported("START TRANSACTION")
        case TransactionStmt(kind) => unsupported(kind)
        case _: SetTimeZoneStmt => unsupported("SET TIME ZONE")
        case _: SetPathStmt => unsupported("SET PATH")
        case _: SetRoleStmt => unsupported("SET ROLE")
        case _ =>
      }
    }
    st match {
      // the PREPARE family changes nothing a cached plan reads
      case _: PrepareStmt | _: DeallocateStmt | _: DescribeIOStmt =>
        executeStatement(spark, dir, st)
      // any other statement may change what a cached plan would read
      // (DDL/DML/GRANT/...); bumping the epoch on all of them
      // over-invalidates (EXPLAIN/SHOW cost a re-plan) but can never serve
      // stale data. The bump AFTER (in finally: also on partial failure) is
      // the correctness-critical one — a query planned concurrently with
      // this statement must not survive under the post-mutation epoch.
      case _ =>
        PlanCache.invalidate()
        try executeStatement(spark, dir, st)
        finally PlanCache.invalidate()
    }
  }

  private def executeStatement(spark: SparkSession, dir: String, st: Statement): DataFrame = st match {
    case CreateTableAs(name, orReplace, ifNotExists, q, comment, props) =>
      val key = keyOf(name)
      if (tables.contains(key) && !orReplace) {
        if (ifNotExists) return oneRow(spark, "rows", 0L)
        throw new IllegalArgumentException(s"table '$name' already exists")
      }
      val df = subquery(spark, dir, q)
      val root = Paths.get(warehouse,
        viewNameOf(key) + "_" + System.nanoTime()).toString
      val renderedProps = renderProps(props)
      val (bcols, bcount, bsort) = bucketSpecOf(renderedProps)
      graft.catalog.CowTable.create(spark, root, df,
        partitionColsOf(renderedProps), bcols, bcount, bsort)
      tables(key) = root
      recordOwner(key)
      seedMeta(key, df.schema)
      if (comment.isDefined || renderedProps.nonEmpty)
        tableMeta.get(key).foreach(m => tableMeta(key) =
          m.copy(tableComment = comment, props = renderedProps))
      refreshView(spark, name)
      oneRow(spark, "rows", spark.table(viewNameOf(key)).count())

    case InsertInto(name, cols, q, branch) =>
      val key = requireKey(name)
      val ct = openTable(spark, name)
      val incoming = subquery(spark, dir, q)
      val schema = projected(spark, key).schema
      val target = schema.fieldNames
      val positioned =
        if (cols.isEmpty) {
          require(incoming.columns.length == target.length,
            s"INSERT arity ${incoming.columns.length} != table arity ${target.length}")
          incoming.toDF(target.toIndexedSeq: _*)
        } else {
          require(cols.length == incoming.columns.length,
            s"INSERT column list arity ${cols.length} != query arity ${incoming.columns.length}")
          // positional into the named columns; unnamed target columns take
          // their declared DEFAULT literal (SqlBase.g4 :253), else NULL
          val defaults: Map[String, String] = tableMeta.get(key)
            .map(_.declared.flatMap(cs =>
              cs.default.map(cs.name.toLowerCase -> _)).toMap)
            .getOrElse(Map.empty)
          val renamed = incoming.toDF(cols.toIndexedSeq: _*)
          val full = target.map { t =>
            if (cols.exists(_.equalsIgnoreCase(t)))
              renamed(cols.find(_.equalsIgnoreCase(t)).get).as(t)
            else defaults.get(t.toLowerCase) match {
              case Some(sql) => org.apache.spark.sql.functions.expr(sql).as(t)
              case None => org.apache.spark.sql.functions.lit(null).as(t)
            }
          }
          renamed.select(full.toIndexedSeq: _*)
        }
      // exact target types: an INT literal into a BIGINT column must land
      // as BIGINT bytes, or a later mixed-file read breaks. NOT NULL
      // columns get an in-row guard (coalesce + raise_error) — enforcement
      // costs zero extra passes over the data, so it holds at any scale.
      val notNullCols: Set[String] = tableMeta.get(key)
        .map(_.declared.filter(_.notNull).map(_.name.toLowerCase).toSet)
        .getOrElse(Set.empty)
      val aligned = positioned.select(schema.fields.toIndexedSeq.map { f =>
        val cast = positioned(f.name).cast(f.dataType)
        val guarded =
          if (notNullCols(f.name.toLowerCase))
            org.apache.spark.sql.functions.coalesce(cast,
              org.apache.spark.sql.functions.raise_error(
                org.apache.spark.sql.functions.lit(
                  s"NULL value not allowed for NOT NULL column: ${f.name}"))
                .cast(f.dataType))
          else cast
        guarded.as(f.name)
      }: _*)
      val n = aligned.count()
      val b = branch.getOrElse("main")
      if (!ct.branchExists(b))
        throw new IllegalArgumentException(s"branch '$b' does not exist")
      ct.insert(aligned, b)
      refreshView(spark, name)
      oneRow(spark, "rows", n)

    case DeleteStmt(name, where, branch) =>
      val ct = openTable(spark, name)
      val b = branch.getOrElse("main")
      if (!ct.branchExists(b))
        throw new IllegalArgumentException(s"branch '$b' does not exist")
      val before = ct.readBranch(b).count()
      ct.delete(condColumn(where), b)
      refreshView(spark, name)
      oneRow(spark, "rows", before - ct.readBranch(b).count())

    case UpdateStmt(name, sets, where) =>
      val ct = openTable(spark, name)
      val cond = condColumn(where)
      val affected = ct.read().filter(cond).count()
      ct.update(cond, sets.map { case (c, e) =>
        c -> expr(SqlFrontend.renderExpr(SqlFrontend.rewriteExpr(e)))
      }.toMap)
      refreshView(spark, name)
      oneRow(spark, "rows", affected)

    case DropTableStmt(name, ifExists) =>
      lookupKey(name) match {
        case Some(key) =>
          tables.remove(key); tableMeta.remove(key)
          spark.catalog.dropTempView(viewNameOf(key))
          oneRow(spark, "rows", 0L)
        case None if ifExists => oneRow(spark, "rows", 0L)
        case None => throw new IllegalArgumentException(s"table '$name' does not exist")
      }

    case ExplainStmt(analyze, q, typ, format) =>
      // TYPE VALIDATE / IO resolve without planning work beyond analysis
      // (reference ExplainTask: io/trino/sql/analyzer + IoPlanPrinter).
      if (typ == "VALIDATE") {
        subquery(spark, dir, q).queryExecution.analyzed // force analysis
        stringRows(spark, "valid", Seq("true"))
      } else if (typ == "IO") {
        val names = referencedTables(q, Set.empty).toSeq.sorted
        val infos = names.map(t => s"""{"table":"$t"}""").mkString(",")
        stringRows(spark, "io", Seq(s"""{"inputTableColumnInfos":[$infos]}"""))
      } else {
        val df = subquery(spark, dir, q)
        val qe = df.queryExecution
        val textOut =
          if (analyze) graft.engine.ExplainAnalyze.report(df)
          else (typ, format) match {
            case ("LOGICAL", "JSON") => qe.optimizedPlan.toJSON
            case ("LOGICAL", _) => qe.optimizedPlan.treeString
            case (_, "JSON") => qe.executedPlan.toJSON
            case _ => qe.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          }
        stringRows(spark, "plan", textOut.linesIterator.toSeq)
      }

    case ShowStmt("TABLES", like, esc) =>
      val views = spark.catalog.listTables().collect().map(_.name).toSeq
      stringRows(spark, "table",
        likeFilter((views ++ tables.keys).distinct.sorted, like, esc))

    case ShowStmt("SCHEMAS", like, esc) =>
      stringRows(spark, "schema", likeFilter(
        spark.catalog.listDatabases().collect().map(_.name).toSeq.sorted,
        like, esc))

    case ShowStmt("CATALOGS", like, esc) =>
      val dsv2 = spark.conf.getAll.keys
        .collect { case k if k.matches("spark\\.sql\\.catalog\\.\\w+") =>
          k.stripPrefix("spark.sql.catalog.") }.toSeq
      stringRows(spark, "catalog",
        likeFilter(("graft" +: dsv2).distinct.sorted, like, esc))

    case ShowStmt("FUNCTIONS", like, esc) =>
      stringRows(spark, "function",
        likeFilter(graft.functions.Registry.customFunctions.sorted, like, esc))

    case ShowStmt("SESSION", like, esc) =>
      // header-carried sessions (statement server) see their own overlay;
      // in-process callers see the JVM-global map (SessionContext scaladoc)
      spark.createDataFrame(
        java.util.List.copyOf(scala.jdk.CollectionConverters.SeqHasAsJava(
          SessionContext.effectiveProps(sessionProps.toMap)
            .toSeq.sortBy(_._1)
            .filter { case (k, _) => like.forall(p => likeMatch(k, p, esc)) }
            .map { case (k, v) => Row(k, v) }).asJava),
        StructType(Seq(StructField("name", StringType, nullable = false),
          StructField("value", StringType, nullable = false))))

    case ShowStmt(other, _, _) =>
      throw new SqlParseException(s"SHOW $other is not supported")

    case DescribeStmt(name, like, esc) =>
      val (schema, comments, partCols, bktCols) = lookupKey(name) match {
        case Some(key) =>
          val ct = tables.get(key).map(root =>
            graft.catalog.CowTable.open(spark, root))
          (spark.table(viewNameOf(key)).schema,
            tableMeta.get(key).map(_.colComments).getOrElse(Map.empty[String, String]),
            ct.map(_.partitioning.map(_.toLowerCase).toSet)
              .getOrElse(Set.empty[String]),
            ct.flatMap(_.bucketing).map(_.cols.map(_.toLowerCase).toSet)
              .getOrElse(Set.empty[String]))
        case None =>
          (spark.table(name).schema, Map.empty[String, String],
            Set.empty[String], Set.empty[String])
      }
      val shown = schema.fields.toSeq.filter(f =>
        like.forall(p => likeMatch(f.name, p, esc)))
      spark.createDataFrame(
        java.util.List.copyOf(scala.jdk.CollectionConverters.SeqHasAsJava(
          shown.map(f => Row(f.name, f.dataType.simpleString,
            // reference ShowQueriesRewrite "Extra": partition/bucket keys
            if (partCols(f.name.toLowerCase)) "partition key"
            else if (bktCols(f.name.toLowerCase)) "bucket key" else "",
            comments.getOrElse(f.name.toLowerCase, "")))).asJava),
        StructType(Seq(StructField("column", StringType, nullable = false),
          StructField("type", StringType, nullable = false),
          StructField("extra", StringType, nullable = false),
          StructField("comment", StringType, nullable = false))))

    case CreateTableCols(name, ifNotExists, elements, comment, props) =>
      val key = keyOf(name)
      if (tables.contains(key)) {
        if (ifNotExists) return oneRow(spark, "rows", 0L)
        throw new IllegalArgumentException(s"table '$name' already exists")
      }
      // expand tableElements in order: LIKE splices the source table's
      // column specs (and, with INCLUDING PROPERTIES, merges its
      // properties — SqlBase.g4 :256 likeClause)
      var likedProps = Map.empty[String, String]
      var likedComments = Map.empty[String, String]
      val specs: Seq[ColSpec] = elements.flatMap {
        case Right(cd) =>
          Seq(ColSpec(cd.name,
            org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseDataType(sparkTypeName(cd.tpe)),
            Seq(cd.name),
            default = cd.default.map(SqlFrontend.renderExpr),
            notNull = cd.notNull))
        case Left((src, including)) =>
          val srcKey = lookupKey(src).getOrElse(throw new IllegalArgumentException(
            s"LIKE table '$src' does not exist"))
          val srcMeta = tableMeta.getOrElse(srcKey,
            TableMeta(projected(spark, srcKey).schema.fields.toSeq.map(f =>
              ColSpec(f.name, f.dataType, Seq(f.name)))))
          if (including) likedProps ++= srcMeta.props
          likedComments ++= srcMeta.colComments
          // fresh candidate lists: the new table has no rename history
          srcMeta.declared.map(cs => cs.copy(candidates = Seq(cs.name)))
      }
      if (specs.map(_.name.toLowerCase).distinct.length != specs.length)
        throw new IllegalArgumentException("duplicate column name in CREATE TABLE")
      val schema = StructType(specs.map(cs => StructField(cs.name, cs.tpe)))
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)
      val root = Paths.get(warehouse,
        viewNameOf(key) + "_" + System.nanoTime()).toString
      val renderedProps = renderProps(props, likedProps)
      val (bcols, bcount, bsort) = bucketSpecOf(renderedProps)
      graft.catalog.CowTable.create(spark, root, empty,
        partitionColsOf(renderedProps), bcols, bcount, bsort)
      tables(key) = root
      recordOwner(key)
      tableMeta(key) = TableMeta(
        declared = specs,
        tableComment = comment,
        colComments = likedComments ++ elements.flatMap {
          case Right(cd) => cd.comment.map(c => cd.name.toLowerCase -> c)
          case Left(_) => None
        },
        props = renderedProps)
      refreshView(spark, name)
      oneRow(spark, "rows", 0L)

    case CreateViewStmt(name, orReplace, q, comment, security) =>
      if (!orReplace && spark.catalog.tableExists(name))
        throw new IllegalArgumentException(s"view '$name' already exists")
      subquery(spark, dir, q).createOrReplaceTempView(name)
      viewDefs(name.toLowerCase) = SqlFrontend.renderQuery(q)
      comment match {
        case Some(c) => viewComments(name.toLowerCase) = c
        case None => viewComments.remove(name.toLowerCase); ()
      }
      // SECURITY (SqlBase.g4 :122): the definition plans under the creating
      // session's policies (DEFINER — the default, like the reference);
      // INVOKER is recorded and surfaced, with the documented divergence
      // that temp-view resolution still evaluates the frozen defining plan
      security match {
        case Some(s) => viewSecurity(name.toLowerCase) = s
        case None => viewSecurity.remove(name.toLowerCase); ()
      }
      recordOwner(keyOf(name))
      oneRow(spark, "rows", 0L)

    case DropFunctionStmt(name, ifExists) =>
      // Only routines recorded at CREATE FUNCTION time are droppable. A bare
      // catalog.functionExists check would also match the dialect registry's
      // temp-registered BUILT-INS (strpos, format, …) and dropping one breaks
      // every later query in the session — the reference likewise refuses
      // ("Cannot drop a builtin function", FunctionManager). (ADVICE r14.)
      val lower = name.toLowerCase
      if (graft.functions.SqlRoutines.definitionOf(lower).isEmpty) {
        if (spark.catalog.functionExists(lower))
          throw new IllegalArgumentException(
            s"cannot drop system function '$name'")
        if (ifExists) return oneRow(spark, "rows", 0L)
        throw new IllegalArgumentException(s"function '$name' does not exist")
      }
      spark.sql(s"DROP TEMPORARY FUNCTION IF EXISTS $lower")
      graft.functions.SqlRoutines.unregister(lower)
      // drop any inner-loop helper kernels the routine compiled (ADVICE r16)
      graft.functions.RoutineLang.dropHelpers(spark, lower)
      oneRow(spark, "rows", 0L)

    case MergeStmt(name, source, key) =>
      val ct = openTable(spark, name)
      val src = subquery(spark, dir, source)
      val n = src.count()
      ct.merge(src, key)
      refreshView(spark, name)
      oneRow(spark, "rows", n)

    case MergeFullStmt(name, tAlias, source, sAlias, on, cases) =>
      val ct = openTable(spark, name)
      val src = subquery(spark, dir, source)
      def render(e: Expr): String =
        SqlFrontend.renderExpr(SqlFrontend.rewriteExpr(e))
      val tCols = projected(spark, requireKey(name)).schema.fieldNames.toSeq
      val srcCols = src.columns.toSeq
      // SET * / INSERT * expand here, where both schemas are known, so the
      // CoW kernel only ever sees explicit column → expression forms
      val matched = cases.collect {
        case MergeUpdateCase(cond, set) =>
          val m =
            if (set.nonEmpty)
              set.map { case (c, e) => c.toLowerCase -> render(e) }.toMap
            else tCols.filter(c => srcCols.exists(_.equalsIgnoreCase(c)))
              .map(c => c.toLowerCase -> s"$sAlias.$c").toMap
          graft.catalog.CowTable.WhenMatched(cond.map(render),
            deleteAction = false, m)
        case MergeDeleteCase(cond) =>
          graft.catalog.CowTable.WhenMatched(cond.map(render),
            deleteAction = true, Map.empty)
      }
      val notMatched = cases.collect {
        case MergeInsertCase(cond, cols, vals) =>
          val (cs, vs) =
            if (cols.isEmpty && vals.isEmpty) // INSERT *: positional source row
              (tCols, srcCols.take(tCols.length).map(c => s"$sAlias.$c"))
            else if (cols.isEmpty) (tCols.take(vals.length), vals.map(render))
            else (cols, vals.map(render))
          graft.catalog.CowTable.WhenNotMatched(cond.map(render),
            cs.map(_.toLowerCase), vs)
      }
      val (_, changed) = ct.mergeFull(src, tAlias, sAlias,
        render(on), matched, notMatched)
      refreshView(spark, name)
      oneRow(spark, "rows", changed)

    case AlterTableStmt(name, ifExists, op) =>
      val keyOpt = lookupKey(name)
      if (keyOpt.isEmpty) {
        if (ifExists) return oneRow(spark, "rows", 0L)
        throw new IllegalArgumentException(s"table '$name' does not exist")
      }
      val key = keyOpt.get
      val meta = tableMeta.getOrElse(key,
        TableMeta(projected(spark, key).schema.fields.toSeq.map(f =>
          ColSpec(f.name, f.dataType, Seq(f.name)))))
      // physical-layout columns are fixed at CREATE: dropping or renaming a
      // partition or bucket column would orphan the directory/bucket layout
      // (the reference's hive connector likewise rejects these ALTERs)
      def layoutGuard(col: String, what: String): Unit = tables.get(key).foreach { root =>
        val ct = graft.catalog.CowTable.open(spark, root)
        val layout = (ct.partitioning ++
          ct.bucketing.map(_.cols).getOrElse(Seq.empty)).map(_.toLowerCase).toSet
        if (layout(col.toLowerCase))
          throw new IllegalArgumentException(
            s"cannot $what column '$col': it is a partition/bucket column " +
              s"of table '$name' (layout is fixed at CREATE)")
      }
      op match {
        case RenameTable(to) =>
          val newKey = keyOf(to)
          if (tables.contains(newKey))
            throw new IllegalArgumentException(s"table '$to' already exists")
          tables(newKey) = tables.remove(key).get
          tableMeta.remove(key).foreach(m => tableMeta(newKey) = m)
          spark.catalog.dropTempView(viewNameOf(key))
          refreshView(spark, to)
        case AddColumn(cd, ifNotExists, position) =>
          val exists = meta.declared.exists(_.name.equalsIgnoreCase(cd.name))
          if (exists && !ifNotExists)
            throw new IllegalArgumentException(s"column '${cd.name}' already exists")
          if (!exists) {
            val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseDataType(sparkTypeName(cd.tpe))
            val spec = ColSpec(cd.name, dt, Seq(cd.name),
              default = cd.default.map(SqlFrontend.renderExpr),
              notNull = cd.notNull)
            // FIRST | LAST (default) | AFTER <col> — metadata-only reorder
            val placed = position match {
              case Some("first") => spec +: meta.declared
              case Some(after) if after.startsWith("after:") =>
                val anchor = after.stripPrefix("after:")
                val i = meta.declared.indexWhere(_.name.equalsIgnoreCase(anchor))
                if (i < 0) throw new IllegalArgumentException(
                  s"column '$anchor' does not exist")
                (meta.declared.take(i + 1) :+ spec) ++ meta.declared.drop(i + 1)
              case _ => meta.declared :+ spec
            }
            tableMeta(key) = meta.copy(declared = placed,
              colComments = meta.colComments ++
                cd.comment.map(c => cd.name.toLowerCase -> c))
          }
          refreshView(spark, name)
        case SetColumnType(col, tpe) =>
          // Declared-type evolution with a one-time physical rewrite
          // (CoW new snapshot, like OPTIMIZE): Spark's parquet mergeSchema
          // cannot promote types across file generations (INT files + a
          // BIGINT declared read throw CANNOT_MERGE_SCHEMAS), so unlike the
          // iceberg connector's metadata-only int→bigint promotion this
          // rewrites once at ALTER time — a documented divergence; at
          // cluster scale it is a full-table job the reference's hive
          // connector avoids by rejecting most SET DATA TYPE entirely.
          val i = meta.declared.indexWhere(_.name.equalsIgnoreCase(col))
          if (i < 0) throw new IllegalArgumentException(s"column '$col' does not exist")
          val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseDataType(sparkTypeName(tpe))
          tableMeta(key) = meta.copy(declared =
            meta.declared.updated(i, meta.declared(i).copy(tpe = dt)))
          // projected() (with the updated meta) casts every column to its
          // declared type and coalesces rename candidates — the rewrite
          // publishes one consistent file generation
          openTable(spark, name).replace(projected(spark, key))
          refreshView(spark, name)
        case SetColumnDefault(col, value) =>
          val i = meta.declared.indexWhere(_.name.equalsIgnoreCase(col))
          if (i < 0) throw new IllegalArgumentException(s"column '$col' does not exist")
          tableMeta(key) = meta.copy(declared = meta.declared.updated(i,
            meta.declared(i).copy(default = Some(SqlFrontend.renderExpr(value)))))
        case DropColumnDefault(col) =>
          val i = meta.declared.indexWhere(_.name.equalsIgnoreCase(col))
          if (i < 0) throw new IllegalArgumentException(s"column '$col' does not exist")
          tableMeta(key) = meta.copy(declared = meta.declared.updated(i,
            meta.declared(i).copy(default = None)))
        case DropNotNull(col) =>
          val i = meta.declared.indexWhere(_.name.equalsIgnoreCase(col))
          if (i < 0) throw new IllegalArgumentException(s"column '$col' does not exist")
          tableMeta(key) = meta.copy(declared = meta.declared.updated(i,
            meta.declared(i).copy(notNull = false)))
        case SetTableProps(props) =>
          tableMeta(key) = meta.copy(props = renderProps(props, meta.props))
        case DropColumn(col, colIfExists) =>
          layoutGuard(col, "drop")
          val exists = meta.declared.exists(_.name.equalsIgnoreCase(col))
          if (!exists && !colIfExists)
            throw new IllegalArgumentException(s"column '$col' does not exist")
          val remaining = meta.declared.filterNot(_.name.equalsIgnoreCase(col))
          if (remaining.isEmpty)
            throw new IllegalArgumentException("cannot drop the only column")
          tableMeta(key) = meta.copy(declared = remaining,
            colComments = meta.colComments - col.toLowerCase)
          refreshView(spark, name)
        case RenameColumn(from, to) =>
          layoutGuard(from, "rename")
          if (!meta.declared.exists(_.name.equalsIgnoreCase(from)))
            throw new IllegalArgumentException(s"column '$from' does not exist")
          if (meta.declared.exists(_.name.equalsIgnoreCase(to)))
            throw new IllegalArgumentException(s"column '$to' already exists")
          tableMeta(key) = meta.copy(declared = meta.declared.map { cs =>
            if (cs.name.equalsIgnoreCase(from))
              // the new name leads the candidate list: files written after
              // the rename carry it; older files coalesce from the old name
              cs.copy(name = to, candidates = (to +: cs.candidates).distinct)
            else cs
          })
          refreshView(spark, name)
        case SetAuthorizationOp(principal) =>
          owners(key) = principal
        case ExecuteTableProc(proc, pArgs, where) =>
          // reference spelling of table-maintenance procedures
          // (SqlBase.g4:86-89 `ALTER TABLE t EXECUTE optimize(...)
          // (WHERE cond)?`, iceberg/delta connectors'
          // TableProcedureMetadata) — delegates to the same registry
          // CALL system.<proc>(table => ...) uses; a WHERE clause scopes
          // optimize to the files holding matching rows
          where match {
            case Some(cond) =>
              if (proc != "optimize") throw new IllegalArgumentException(
                s"EXECUTE $proc does not take a WHERE clause")
              val threshold = pArgs.collectFirst {
                case (Some("file_size_threshold"), Lit(v)) => v.toLong
              }.getOrElse(32L << 20)
              val (compacted, _) = openTable(spark, name)
                .optimizeWhere(threshold, condColumn(Some(cond)))
              refreshView(spark, name)
              return oneRow(spark, "compacted", compacted.toLong)
            case None =>
              return call(spark, Seq(proc),
                (Some("table"), Lit(s"'$name'")) +: pArgs)
          }
      }
      oneRow(spark, "rows", 0L)

    case CreateSchemaStmt(name, ifNotExists) =>
      val lower = name.toLowerCase
      // the metadata namespaces are reserved (reference: io.trino.metadata
      // MetadataManager rejects creating information_schema; RowSecurity's
      // policyWrap exempts these heads from probing, so allowing a user
      // schema with the same name would silently bypass row policies)
      if (lower == "system" || lower == "information_schema")
        throw new IllegalArgumentException(
          s"schema name '$name' is reserved")
      if (schemas.putIfAbsent(lower, ()).isDefined && !ifNotExists)
        throw new IllegalArgumentException(s"schema '$name' already exists")
      oneRow(spark, "rows", 0L)

    case DropSchemaStmt(name, ifExists, cascade) =>
      val lower = name.toLowerCase
      if (lower == "default")
        throw new IllegalArgumentException("cannot drop the default schema")
      val contained = tables.keys.filter(_.startsWith(lower + ".")).toSeq
      if (contained.nonEmpty && !cascade)
        throw new IllegalArgumentException(
          s"schema '$name' is not empty (use DROP SCHEMA ... CASCADE)")
      contained.foreach { k =>
        tables.remove(k); tableMeta.remove(k); owners.remove(k)
        spark.catalog.dropTempView(viewNameOf(k))
      }
      if (schemas.remove(lower).isEmpty && !ifExists)
        throw new IllegalArgumentException(s"schema '$name' does not exist")
      if (currentSchema == lower) currentSchema = "default"
      oneRow(spark, "rows", 0L)

    case UseStmt(schema) =>
      val lower = schema.toLowerCase
      if (!schemas.contains(lower))
        throw new IllegalArgumentException(s"schema '$schema' does not exist")
      currentSchema = lower
      oneRow(spark, "rows", 0L)

    // CREATE/DROP CATALOG over the persisted store (reference SqlBase.g4:58,
    // CreateCatalogTask/DropCatalogTask over CatalogStore). The created
    // catalog is a live Spark CatalogPlugin: `<name>.<schema>.<table>`
    // resolves through Spark's own multi-part resolution immediately, and
    // SHOW CATALOGS / system.metadata.catalogs reflect it (they scan the
    // same spark.sql.catalog.* conf space).
    case CreateCatalogStmt(name, ifNotExists, connector, props) =>
      if (graft.catalog.CatalogStore.exists(spark, name)) {
        if (!ifNotExists)
          throw new IllegalArgumentException(s"Catalog '$name' already exists")
      } else graft.catalog.CatalogStore.create(spark, name, connector, props)
      oneRow(spark, "rows", 0L)

    case DropCatalogStmt(name, ifExists) =>
      if (!graft.catalog.CatalogStore.exists(spark, name)) {
        if (!ifExists)
          throw new IllegalArgumentException(s"Catalog '$name' does not exist")
      } else graft.catalog.CatalogStore.drop(spark, name)
      oneRow(spark, "rows", 0L)

    case SetPathStmt(path) =>
      // reference SetPathTask: records the SQL path in session state,
      // surfaced by SHOW SESSION / current_path
      sessionProps("path") = path
      oneRow(spark, "rows", 0L)

    case SetTimeZoneStmt(zone) =>
      // reference SetTimeZoneTask: LOCAL restores the session default; an
      // expression sets the zone. Maps onto Spark's session-local
      // spark.sql.session.timeZone, which every datetime function reads.
      if (defaultTimeZone.isEmpty) // capture before the first mutation
        defaultTimeZone = Some(spark.conf.get("spark.sql.session.timeZone"))
      val tz = zone match {
        case None =>
          sessionProps.remove("time_zone_id")
          defaultTimeZone.get
        case Some(e) =>
          val rendered = SqlFrontend.renderExpr(e)
          val z = rendered match {
            case s if s.startsWith("'") && s.endsWith("'") =>
              s.substring(1, s.length - 1)
            case other =>
              // INTERVAL '±H[:MM]' HOUR [TO MINUTE] → fixed offset ±HH:MM
              // (the AST may render either keyword order)
              val Quoted = "'([+-]?\\d+)(?::(\\d+))?'".r
              if (!other.toUpperCase.contains("INTERVAL") ||
                  !other.toUpperCase.contains("HOUR"))
                throw new IllegalArgumentException(
                  s"SET TIME ZONE takes a zone string or an hour interval, got $rendered")
              Quoted.findFirstMatchIn(other) match {
                case Some(m) =>
                  val hh = m.group(1).toInt
                  val mm = if (m.group(2) == null) 0 else m.group(2).toInt
                  f"${if (hh < 0) "-" else "+"}${math.abs(hh)}%02d:$mm%02d"
                case None => throw new IllegalArgumentException(
                  s"SET TIME ZONE takes a zone string or an hour interval, got $rendered")
              }
          }
          // validate eagerly so a bad zone fails the statement, not a later read
          java.time.ZoneId.of(z, java.time.ZoneId.SHORT_IDS)
          sessionProps("time_zone_id") = z
          z
      }
      spark.conf.set("spark.sql.session.timeZone", tz)
      oneRow(spark, "rows", 0L)

    case SetSessionStmt(key, rawValue) =>
      val value = rawValue.stripPrefix("'").stripSuffix("'")
      sessionProps(key.toLowerCase) = value
      // live-mapped properties (reference session properties with a direct
      // Spark analogue); unknown keys are recorded and surfaced by SHOW
      // SESSION, as connector session properties are in the reference
      key.toLowerCase match {
        case "join_distribution_type" => value.toUpperCase match {
          case "PARTITIONED" =>
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          case "BROADCAST" | "AUTOMATIC" =>
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
              (64L * 1024 * 1024).toString)
          case other =>
            throw new IllegalArgumentException(s"invalid join_distribution_type: $other")
        }
        case "task_concurrency" =>
          spark.conf.set("spark.sql.shuffle.partitions", value)
        case _ => ()
      }
      oneRow(spark, "rows", 0L)

    case ResetSessionStmt(key) =>
      sessionProps.remove(key.toLowerCase) match {
        case Some(_) => key.toLowerCase match {
          case "join_distribution_type" =>
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
              (64L * 1024 * 1024).toString)
          case "task_concurrency" =>
            spark.conf.set("spark.sql.shuffle.partitions", "32")
          case _ => ()
        }
        case None => ()
      }
      oneRow(spark, "rows", 0L)

    case GrantStmt(revoke, privileges, table, grantee, grantOption) =>
      val key = if (table.toLowerCase.startsWith("user:")) table.toLowerCase
        else requireKey(table)
      val gk = (grantee.toLowerCase, key)
      val expanded =
        if (privileges.contains("ALL")) Set("SELECT", "INSERT", "UPDATE", "DELETE")
        else privileges.toSet
      def apply(m: TrieMap[(String, String), Set[String]], add: Boolean): Unit = {
        val before = m.getOrElse(gk, Set.empty)
        val after =
          if (add) before ++ expanded
          else if (privileges.contains("ALL")) Set.empty[String]
          else before -- privileges
        if (after.isEmpty) m.remove(gk) else m(gk) = after
        ()
      }
      if (revoke) {
        // GRANT OPTION FOR: revoke only the grantability; otherwise both
        apply(grantOptions, add = false)
        if (!grantOption) apply(grants, add = false)
      } else {
        apply(grants, add = true)
        if (grantOption) apply(grantOptions, add = true)
      }
      oneRow(spark, "rows", 0L)

    case DenyStmt(privileges, table, grantee) =>
      val gk = (grantee.toLowerCase, requireKey(table))
      val add =
        if (privileges.contains("ALL")) Set("SELECT", "INSERT", "UPDATE", "DELETE")
        else privileges.toSet
      denies(gk) = denies.getOrElse(gk, Set.empty) ++ add
      oneRow(spark, "rows", 0L)

    case SetSessionAuthStmt(target) =>
      // the identity switch itself is protocol state (the server echoes
      // X-Trino-Set-Authorization-User and the client replays it — same
      // stateless-coordinator design as SET SESSION); here the front door
      // enforces the impersonation privilege for enforced identities
      target.foreach { t =>
        SessionContext.enforcedUser.foreach { u =>
          if (!canImpersonate(u, t))
            throw new AccessDeniedException(s"Cannot set session authorization to $t")
        }
      }
      oneRow(spark, "result", 0L)

    case ShowGrantsStmt(table) =>
      val keyFilter = table.map(requireKey)
      val rows = grants.toSeq
        .filter { case ((_, t), _) => keyFilter.forall(_ == t) }
        .flatMap { case ((grantee, t), privs) =>
          privs.toSeq.sorted.map(p => Row(grantee, t, p,
            grantOptions.getOrElse((grantee, t), Set.empty).contains(p))) }
        .sortBy(r => (r.getString(0), r.getString(1), r.getString(2)))
      spark.createDataFrame(
        java.util.List.copyOf(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        StructType(Seq(StructField("grantee", StringType, nullable = false),
          StructField("table_name", StringType, nullable = false),
          StructField("privilege", StringType, nullable = false),
          StructField("grant_option", BooleanType, nullable = false))))

    case CommentStmt(isColumn, target, comment) =>
      if (!isColumn) {
        val key = requireKey(target)
        val meta = tableMeta.getOrElse(key, TableMeta(Nil))
        tableMeta(key) = meta.copy(tableComment = comment)
      } else {
        val (tbl, col) = target.lastIndexOf('.') match {
          case -1 => throw new IllegalArgumentException(
            "COMMENT ON COLUMN expects table.column")
          case i => (target.substring(0, i), target.substring(i + 1))
        }
        val key = requireKey(tbl)
        val meta = tableMeta.getOrElse(key, TableMeta(Nil))
        tableMeta(key) = comment match {
          case Some(c) => meta.copy(colComments =
            meta.colComments + (col.toLowerCase -> c))
          case None => meta.copy(colComments = meta.colComments - col.toLowerCase)
        }
      }
      oneRow(spark, "rows", 0L)

    case ShowCreateTableStmt(name) =>
      val key = requireKey(name)
      val meta = tableMeta.getOrElse(key,
        TableMeta(projected(spark, key).schema.fields.toSeq.map(f =>
          ColSpec(f.name, f.dataType, Seq(f.name)))))
      val colLines = meta.declared.map { cs =>
        val dflt = cs.default.map(d => s" DEFAULT $d").getOrElse("")
        val nn = if (cs.notNull) " NOT NULL" else ""
        val cmt = meta.colComments.get(cs.name.toLowerCase)
          .map(c => s" COMMENT '$c'").getOrElse("")
        s"   ${cs.name} ${trinoTypeName(cs.tpe)}$dflt$nn$cmt"
      }
      val propLines =
        if (meta.props.isEmpty) Seq.empty
        else Seq("WITH (") ++ {
          val kv = meta.props.toSeq.sortBy(_._1).map { case (k, v) => s"   $k = $v" }
          kv.init.map(_ + ",") :+ kv.last
        } :+ ")"
      val ddl =
        Seq(s"CREATE TABLE $key (") ++
          colLines.init.map(_ + ",") ++ Seq(colLines.last, ")") ++
          meta.tableComment.map(c => s"COMMENT '$c'").toSeq ++ propLines
      stringRows(spark, "create_table", ddl)

    case DropViewStmt(name, ifExists) =>
      val existed = spark.catalog.dropTempView(name)
      if (!existed && !ifExists)
        throw new IllegalArgumentException(s"view '$name' does not exist")
      viewDefs.remove(name.toLowerCase)
      viewComments.remove(name.toLowerCase)
      oneRow(spark, "rows", 0L)

    case CreateBranchStmt(b, orReplace, ifNotExists, table, from) =>
      openTable(spark, table).createBranch(b, from, orReplace, ifNotExists)
      oneRow(spark, "rows", 0L)

    case DropBranchStmt(b, ifExists, table) =>
      openTable(spark, table).dropBranch(b, ifExists)
      oneRow(spark, "rows", 0L)

    case FastForwardStmt(source, table, target) =>
      val ct = openTable(spark, table)
      val v = ct.fastForward(source, target)
      if (source.equalsIgnoreCase("main")) refreshView(spark, table)
      oneRow(spark, "version", v.toLong)

    case ShowBranchesStmt(table) =>
      val rows = openTable(spark, table).branches.map { case (b, v) =>
        Row(b, v.toLong) }
      spark.createDataFrame(
        java.util.List.copyOf(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        StructType(Seq(StructField("branch", StringType, nullable = false),
          StructField("head_version", LongType, nullable = false))))

    case TruncateStmt(name) =>
      // reference TruncateTableTask: remove all rows, keep the table;
      // CoW spelling = publish an empty snapshot (history stays
      // time-travelable, rollback_to_version restores)
      val ct = openTable(spark, name)
      ct.replace(ct.read().limit(0))
      refreshView(spark, name)
      oneRow(spark, "rows", 0L)

    case AlterViewRenameStmt(from, to) =>
      val defSql = viewDefs.remove(from.toLowerCase).getOrElse(
        throw new IllegalArgumentException(s"view '$from' does not exist"))
      if (spark.catalog.tableExists(to))
        throw new IllegalArgumentException(s"'$to' already exists")
      viewDefs(to.toLowerCase) = defSql
      spark.table(from).createOrReplaceTempView(to)
      spark.catalog.dropTempView(from)
      recordOwner(keyOf(to))
      oneRow(spark, "rows", 0L)

    case ShowCreateViewStmt(name, materialized) =>
      // reference sql/rewrite/ShowQueriesRewrite.java reconstructs the DDL
      // from the stored original definition for both view flavors
      if (materialized) {
        val root = mvRoots.getOrElse(name.toLowerCase,
          throw new IllegalArgumentException(
            s"'$name' is not a materialized view"))
        val defSql =
          graft.catalog.MaterializedView.open(spark, root).definitionSql
        val propLines = mvProps.get(name.toLowerCase).filter(_.nonEmpty)
          .map { ps =>
            val kv = ps.toSeq.sortBy(_._1).map { case (k, v) => s"   $k = $v" }
            Seq("WITH (") ++ (kv.init.map(_ + ",") :+ kv.last) :+ ")"
          }.getOrElse(Seq.empty)
        val metaLines = mvMeta.get(name.toLowerCase).toSeq.flatMap { m =>
          m.graceMillis.map(g => s"GRACE PERIOD INTERVAL '${g / 1000}' SECOND").toSeq ++
            m.staleMode.map(s => s"WHEN STALE ${s.toUpperCase}").toSeq ++
            m.comment.map(c => s"COMMENT '$c'").toSeq
        }
        stringRows(spark, "create_mview",
          if (propLines.isEmpty && metaLines.isEmpty)
            Seq(s"CREATE MATERIALIZED VIEW $name AS", defSql)
          else Seq(s"CREATE MATERIALIZED VIEW $name") ++ metaLines ++
            propLines ++ Seq("AS", defSql))
      } else {
        val defSql = viewDefs.getOrElse(name.toLowerCase,
          throw new IllegalArgumentException(s"'$name' is not a view"))
        val sec = viewSecurity.get(name.toLowerCase)
          .map(s => s" SECURITY $s").getOrElse("")
        stringRows(spark, "create_view",
          Seq(s"CREATE VIEW $name$sec AS", defSql) ++
            viewComments.get(name.toLowerCase).map(c => s"COMMENT '$c'"))
      }

    case RefreshViewStmt(name) =>
      if (!spark.catalog.tableExists(name))
        throw new IllegalArgumentException(s"view '$name' does not exist")
      oneRow(spark, "rows", 0L) // temp views always compute live

    case CommentViewStmt(name, comment) =>
      if (!viewDefs.contains(name.toLowerCase))
        throw new IllegalArgumentException(s"'$name' is not a view")
      comment match {
        case Some(c) => viewComments(name.toLowerCase) = c
        case None => viewComments.remove(name.toLowerCase); ()
      }
      oneRow(spark, "rows", 0L)

    case AlterSchemaRenameStmt(from, to) =>
      val f = from.toLowerCase; val t = to.toLowerCase
      if (f == "default") throw new IllegalArgumentException(
        "cannot rename the default schema")
      if (t == "system" || t == "information_schema")
        throw new IllegalArgumentException(s"schema name '$to' is reserved")
      if (!schemas.contains(f))
        throw new IllegalArgumentException(s"schema '$from' does not exist")
      if (schemas.contains(t))
        throw new IllegalArgumentException(s"schema '$to' already exists")
      schemas.remove(f); schemas(t) = ()
      // rekey every contained table's registry entries + re-register views
      tables.keys.filter(_.startsWith(f + ".")).toSeq.foreach { oldKey =>
        val newKey = t + oldKey.stripPrefix(f)
        tables(newKey) = tables.remove(oldKey).get
        tableMeta.remove(oldKey).foreach(m => tableMeta(newKey) = m)
        owners.remove(oldKey).foreach(o => owners(newKey) = o)
        spark.catalog.dropTempView(viewNameOf(oldKey))
        projected(spark, newKey).createOrReplaceTempView(viewNameOf(newKey))
      }
      if (currentSchema == f) currentSchema = t
      oneRow(spark, "rows", 0L)

    case SetTableAuthStmt(table, principal) =>
      val key = lookupKey(table).getOrElse(keyOf(table))
      if (!tables.contains(key) && !viewDefs.contains(table.toLowerCase))
        throw new IllegalArgumentException(s"'$table' does not exist")
      owners(key) = principal
      oneRow(spark, "rows", 0L)

    case AnalyzeStmt(name) =>
      // reference AnalyzeTask collects table statistics for the CBO; here
      // Catalyst derives stats from parquet footers automatically, so the
      // statement's observable contract is the exact row count it reports
      // (SHOW STATS computes full column stats on demand)
      val df = lookupKey(name).map(k => projected(spark, k)).getOrElse(
        graft.sources.Tables.load(spark, dir, name))
      oneRow(spark, "rows", df.count())

    case ShowCreateSchemaStmt(name) =>
      if (!schemas.contains(name.toLowerCase))
        throw new IllegalArgumentException(s"schema '$name' does not exist")
      stringRows(spark, "create_schema", Seq(s"CREATE SCHEMA ${name.toLowerCase}"))

    case ShowCreateFunctionStmt(name) =>
      val ddl = graft.functions.SqlRoutines.definitionOf(name).getOrElse(
        throw new IllegalArgumentException(
          s"'$name' is not a front-door routine"))
      stringRows(spark, "create_function", Seq(ddl))

    case ShowRoleGrantsStmt() =>
      val user = SessionContext.current.flatMap(_.user).getOrElse("graft")
      val granted = (Iterator(user) ++ Groups.groupsOf(user).iterator)
        .flatMap(p => grants.keysIterator.collect {
          case (g, r) if g == p && r.startsWith("role:") &&
              grants((g, r)).contains("MEMBER") => r.stripPrefix("role:")
        }).toSeq.distinct.sorted
      stringRows(spark, "role", granted)

    case CreateMvStmt(name, orReplace, ifNotExists, q, defText,
        grace, staleMode, comment, props) =>
      val lower = name.toLowerCase
      if (mvRoots.contains(lower) && !orReplace) {
        if (ifNotExists) return oneRow(spark, "rows", 0L)
        throw new IllegalArgumentException(
          s"materialized view '$name' already exists")
      }
      mvMeta(lower) = MvMeta(grace, staleMode, comment, System.currentTimeMillis())
      if (props.nonEmpty) mvProps(lower) = renderProps(props)
      // front-door CoW tables the definition reads: their versions at
      // materialization time form the freshness basis (isStale contract)
      val sources = referencedTables(q, Set.empty).toSeq.flatMap { t =>
        lookupKey(t).flatMap(k => tables.get(k).map(root => t -> root))
      }.toMap
      val root = Paths.get(warehouse, s"mv_${viewNameOf(lower)}_${System.nanoTime()}").toString
      val mv = graft.catalog.MaterializedView.create(spark, root, defText, dir, sources)
      mvRoots(lower) = root
      recordOwner(keyOf(name))
      mv.read().createOrReplaceTempView(name)
      oneRow(spark, "rows", 0L)

    case RefreshMvStmt(name) =>
      val root = mvRoots.getOrElse(name.toLowerCase,
        throw new IllegalArgumentException(
          s"materialized view '$name' does not exist"))
      val mv = graft.catalog.MaterializedView.open(spark, root)
      mv.refresh()
      mvMeta.get(name.toLowerCase).foreach(m =>
        mvMeta(name.toLowerCase) = m.copy(refreshedAt = System.currentTimeMillis()))
      mv.read().createOrReplaceTempView(name)
      oneRow(spark, "rows", 0L)

    case DropMvStmt(name, ifExists) =>
      mvRoots.remove(name.toLowerCase) match {
        case Some(_) =>
          mvProps.remove(name.toLowerCase)
          mvMeta.remove(name.toLowerCase)
          spark.catalog.dropTempView(name); ()
        case None =>
          if (!ifExists) throw new IllegalArgumentException(
            s"materialized view '$name' does not exist")
      }
      oneRow(spark, "rows", 0L)

    case AlterMvStmt(name, ifExists, renameTo, props) =>
      val lower = name.toLowerCase
      if (!mvRoots.contains(lower)) {
        if (ifExists) return oneRow(spark, "rows", 0L)
        throw new IllegalArgumentException(
          s"materialized view '$name' does not exist")
      }
      renameTo match {
        case Some(to) =>
          val toLower = to.toLowerCase
          if (mvRoots.contains(toLower))
            throw new IllegalArgumentException(
              s"materialized view '$to' already exists")
          val root = mvRoots.remove(lower).get
          mvRoots(toLower) = root
          mvProps.remove(lower).foreach(p => mvProps(toLower) = p)
          mvMeta.remove(lower).foreach(m => mvMeta(toLower) = m)
          owners.remove(keyOf(name)).foreach(o => owners(keyOf(to)) = o)
          spark.catalog.dropTempView(name)
          graft.catalog.MaterializedView.open(spark, root).read()
            .createOrReplaceTempView(to)
        case None =>
          mvProps(lower) = renderProps(props, mvProps.getOrElse(lower, Map.empty))
      }
      oneRow(spark, "rows", 0L)

    case ShowStatsStmt(target) =>
      val df = target match {
        case Left(name) =>
          lookupKey(name).map(k => spark.table(viewNameOf(k)))
            .getOrElse(
              try graft.sources.Tables.load(spark, dir, name)
              catch { case _: Exception => spark.table(name) })
        case Right(q) => subquery(spark, dir, q)
      }
      showStats(spark, df)

    case TransactionStmt("START") =>
      if (txn.isDefined)
        throw new IllegalStateException("a transaction is already in progress")
      txn = Some(TxnSnapshot(tables.toMap, tableMeta.toMap,
        schemas.keySet.toSet, currentSchema, grants.toMap, denies.toMap,
        grantOptions.toMap, owners.toMap,
        sessionProps.toMap, roles.keySet.toSet, enabledRoles,
        tables.toMap.map { case (k, root) =>
          k -> graft.catalog.CowTable.open(spark, root).currentVersion }))
      oneRow(spark, "rows", 0L)

    case TransactionStmt("COMMIT") =>
      if (txn.isEmpty)
        throw new IllegalStateException("no transaction in progress")
      txn = None
      oneRow(spark, "rows", 0L)

    case TransactionStmt(_) => // ROLLBACK
      val snap = txn.getOrElse(
        throw new IllegalStateException("no transaction in progress"))
      txn = None
      // tables created inside the transaction lose their views
      (tables.keySet -- snap.tables.keySet).foreach(k =>
        spark.catalog.dropTempView(viewNameOf(k)))
      tables.clear(); tables ++= snap.tables
      tableMeta.clear(); tableMeta ++= snap.meta
      schemas.clear(); schemas ++= snap.schemaNames.map(_ -> ())
      currentSchema = snap.schema
      grants.clear(); grants ++= snap.grantsSnap
      denies.clear(); denies ++= snap.deniesSnap
      grantOptions.clear(); grantOptions ++= snap.grantOptsSnap
      owners.clear(); owners ++= snap.ownersSnap
      sessionProps.clear(); sessionProps ++= snap.props
      roles.clear(); roles ++= snap.roleNames.map(_ -> ())
      enabledRoles = snap.enabled
      snap.tables.foreach { case (k, root) =>
        val ct = graft.catalog.CowTable.open(spark, root)
        val saved = snap.versions(k)
        if (ct.currentVersion != saved) ct.rollbackTo(saved)
        projected(spark, k).createOrReplaceTempView(viewNameOf(k))
      }
      oneRow(spark, "rows", 0L)

    case CallStmt(name, args) => call(spark, name, args)

    case CreateRoleStmt(r) =>
      if (roles.putIfAbsent(r, ()).isDefined)
        throw new IllegalArgumentException(s"role '$r' already exists")
      oneRow(spark, "rows", 0L)

    case DropRoleStmt(r) =>
      if (roles.remove(r).isEmpty)
        throw new IllegalArgumentException(s"role '$r' does not exist")
      enabledRoles -= r
      oneRow(spark, "rows", 0L)

    case SetRoleStmt(role, all) =>
      enabledRoles = role match {
        case Some(r) =>
          if (!roles.contains(r))
            throw new IllegalArgumentException(s"role '$r' does not exist")
          Set(r)
        case None => if (all) roles.keySet.toSet else Set.empty
      }
      oneRow(spark, "rows", 0L)

    case ShowRolesStmt(current) =>
      stringRows(spark, "role",
        (if (current) enabledRoles else roles.keySet).toSeq.sorted)

    case GrantRoleStmt(revoke, role, grantee) =>
      if (!roles.contains(role))
        throw new IllegalArgumentException(s"role '$role' does not exist")
      val gk = (grantee.toLowerCase, s"role:$role")
      if (revoke) grants.remove(gk) else grants(gk) = Set("MEMBER")
      oneRow(spark, "rows", 0L)

    // PREPARE family (reference SqlBase.g4 :145-153; PrepareTask /
    // DeallocateTask / DescribeInputTask / DescribeOutputTask). The
    // statement body is stored as text; TrinoDialect runs EXECUTE by
    // parsing it with the USING arguments bound to its `?` markers.
    case PrepareStmt(name, stmtText) =>
      TrinoDialect.storePrepared(name, stmtText)
      spark.emptyDataFrame

    case DeallocateStmt(name) =>
      TrinoDialect.dropPrepared(name)
      spark.emptyDataFrame

    case DescribeIOStmt(input, name) =>
      val stmtText = TrinoDialect.preparedStatement(name)
      if (input) TrinoDialect.describeInput(spark, stmtText)
      else TrinoDialect.describeOutput(spark, dir, stmtText)

    case QueryStmt(_) | _: ExecuteStmt | _: CreateFunctionStmt | _: WithFunctionStmt =>
      throw new IllegalStateException("unreachable: TrinoDialect dispatches these")
  }

  /** CALL procedures (reference SqlBase.g4 :94 + the lake connectors'
    * system procedures, e.g. plugin/trino-iceberg
    * RollbackToSnapshotProcedure.java:30): the procedure name's last part
    * resolves in a fixed registry; catalog/schema qualifiers (system.…)
    * are accepted and ignored. Args are literals, positional or named. */
  private def call(spark: SparkSession, name: Seq[String],
      args: Seq[(Option[String], Expr)]): DataFrame = {

    def scalar(e: Expr): String = e match {
      case Lit(sql) =>
        if (sql.startsWith("'") && sql.endsWith("'"))
          sql.substring(1, sql.length - 1)
        else sql
      case other => throw new IllegalArgumentException(
        s"CALL arguments must be literals, got: $other")
    }
    /** named wins; else positional index. */
    def argOpt(names: Seq[String], pos: Int): Option[String] =
      args.collectFirst { case (Some(n), e) if names.contains(n) => scalar(e) }
        .orElse(args.collect { case (None, e) => e }.lift(pos).map(scalar))
    def arg(names: Seq[String], pos: Int): String =
      argOpt(names, pos).getOrElse(throw new IllegalArgumentException(
        s"missing CALL argument '${names.head}'"))

    name.last match {
      case "rollback_to_version" | "rollback_to_snapshot" =>
        val table = arg(Seq("table", "table_name"), 0)
        val version = arg(Seq("version", "snapshot_id"), 1).toInt
        val ct = openTable(spark, table)
        val v = ct.rollbackTo(version)
        refreshView(spark, table)
        oneRow(spark, "version", v.toLong)

      case "vacuum" | "expire_snapshots" | "remove_orphan_files" =>
        val table = arg(Seq("table", "table_name"), 0)
        if (txn.isDefined) throw new IllegalStateException(
          "cannot vacuum inside a transaction (rollback would lose history)")
        val (files, manifests) = openTable(spark, table).vacuum()
        oneRow(spark, "removed", files.toLong + manifests)

      case "optimize" =>
        // CALL system.optimize(table [, file_size_threshold]) — small-file
        // compaction (reference: iceberg/delta `ALTER TABLE … EXECUTE
        // optimize`); publishes a new CoW version, history stays intact
        val table = arg(Seq("table", "table_name"), 0)
        if (txn.isDefined) throw new IllegalStateException(
          "cannot optimize inside a transaction")
        val threshold = args.collectFirst {
          case (Some("file_size_threshold"), e) => scalar(e).toLong
        }.orElse(args.collect { case (None, e) => e }.lift(1).map(e => scalar(e).toLong))
          .getOrElse(32L << 20)
        val (compacted, written) = openTable(spark, table).optimize(threshold)
        refreshView(spark, table)
        oneRow(spark, "compacted", compacted.toLong)

      case "delta_delete" =>
        // CALL system.delta_delete(path, predicate_sql) — the protocol-
        // native no-rewrite DELETE (catalog.DeltaWrite.deleteWhere)
        val path = arg(Seq("path", "location"), 0)
        val pred = arg(Seq("predicate", "where"), 1)
        oneRow(spark, "version",
          graft.catalog.DeltaWrite.deleteWhere(spark, path,
            org.apache.spark.sql.functions.expr(pred)))

      case "iceberg_delete" =>
        // CALL system.iceberg_delete(path, predicate_sql) — v2 position
        // deletes (catalog.IcebergWrite.deleteWhere)
        val path = arg(Seq("path", "location"), 0)
        val pred = arg(Seq("predicate", "where"), 1)
        oneRow(spark, "snapshot",
          graft.catalog.IcebergWrite.deleteWhere(spark, path,
            org.apache.spark.sql.functions.expr(pred)))

      case "export_to_iceberg" =>
        // CALL system.export_to_iceberg(table, path) — snapshot a warehouse
        // table as an open Iceberg v2 table (catalog.IcebergWrite)
        val table0 = arg(Seq("table", "table_name"), 0)
        val path0 = arg(Seq("path", "location"), 1)
        oneRow(spark, "snapshot",
          graft.catalog.IcebergWrite.write(projected(spark, requireKey(table0)), path0))

      case "export_to_delta" =>
        // CALL system.export_to_delta(table, path) — snapshot a warehouse
        // table as an OPEN-PROTOCOL Delta table (catalog.DeltaWrite); the
        // returned version is 0 for a fresh path, an append otherwise
        val table = arg(Seq("table", "table_name"), 0)
        val path = arg(Seq("path", "location"), 1)
        val snapshot = projected(spark, requireKey(table))
        oneRow(spark, "version", graft.catalog.DeltaWrite.write(snapshot, path))

      case "export_to_hudi" =>
        // CALL system.export_to_hudi(table, path) — snapshot a warehouse
        // table as an open Hudi CoW table (catalog.HudiWrite; completes the
        // export trio alongside export_to_delta / export_to_iceberg)
        val table1 = arg(Seq("table", "table_name"), 0)
        val path1 = arg(Seq("path", "location"), 1)
        val instant = graft.catalog.HudiWrite.write(
          projected(spark, requireKey(table1)), path1)
        stringRows(spark, "instant", Seq(instant))

      case "delta_optimize" =>
        // CALL system.delta_optimize(path[, target_files]) — open-format
        // bin-packing compaction that also materializes deletion vectors
        val path = arg(Seq("path", "location"), 0)
        val target = argOpt(Seq("target_files"), 1).map(_.toInt).getOrElse(1)
        oneRow(spark, "version",
          graft.catalog.DeltaWrite.optimize(spark, path, target))

      case "delta_checkpoint" =>
        // CALL system.delta_checkpoint(path) — classic parquet checkpoint
        // + _last_checkpoint, so readers replay the JSON suffix only
        val path = arg(Seq("path", "location"), 0)
        oneRow(spark, "version",
          graft.catalog.DeltaWrite.checkpoint(spark, path))

      case "flush_metadata_cache" =>
        tables.keys.foreach(k =>
          projected(spark, k).createOrReplaceTempView(viewNameOf(k)))
        oneRow(spark, "rows", 0L)

      case "kill_query" =>
        // CALL system.runtime.kill_query(query_id) — cancels a statement
        // running on this JVM's statement server (reference:
        // connector/system/KillQueryProcedure.java)
        val qid = arg(Seq("query_id", "id"), 0)
        require(graft.server.QueryRegistry.kill(qid),
          s"query '$qid' is not running on this server")
        oneRow(spark, "rows", 0L)

      case other => throw new IllegalArgumentException(
        s"procedure '${name.mkString(".")}' is not registered")
    }
  }

  /** SHOW STATS output in the reference's shape (sql/analyzer/
    * StatisticsAggregationPlanner → one row per column + a summary row):
    * column_name, data_size, distinct_values_count, nulls_fraction,
    * low_value, high_value, row_count on the summary row. Computed in ONE
    * distributed aggregation pass over the relation — exact (count
    * distinct), so the driver oracle can replay it. */
  private def showStats(spark: SparkSession, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val fields = df.schema.fields.toSeq
    val aggs = fields.flatMap { f =>
      val c = col(f.name)
      val dataSize = f.dataType match {
        case StringType => sum(length(c)).cast("double").as(s"ds_${f.name}")
        case BinaryType => sum(length(c)).cast("double").as(s"ds_${f.name}")
        case _ => lit(null).cast("double").as(s"ds_${f.name}")
      }
      val lowHigh = f.dataType match {
        case _: NumericType | DateType | TimestampType | StringType | BooleanType =>
          Seq(min(c).cast("string").as(s"lo_${f.name}"),
            max(c).cast("string").as(s"hi_${f.name}"))
        case _ =>
          Seq(lit(null).cast("string").as(s"lo_${f.name}"),
            lit(null).cast("string").as(s"hi_${f.name}"))
      }
      Seq(
        countDistinct(c).cast("double").as(s"ndv_${f.name}"),
        sum(when(c.isNull, 1L).otherwise(0L)).cast("double").as(s"nulls_${f.name}"),
        dataSize) ++ lowHigh
    } :+ count(lit(1)).as("__rows")
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val rows = r.getAs[Long]("__rows")
    val out = fields.map { f =>
      val nulls = r.getAs[Double](s"nulls_${f.name}")
      Row(f.name,
        Option(r.getAs[Double](s"ds_${f.name}")).orNull,
        r.getAs[Double](s"ndv_${f.name}"),
        if (rows == 0) null else nulls / rows,
        r.getAs[String](s"lo_${f.name}"),
        r.getAs[String](s"hi_${f.name}"),
        null)
    } :+ Row(null, null, null, null, null, null, rows.toDouble)
    spark.createDataFrame(
      java.util.List.copyOf(scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava),
      StructType(Seq(
        StructField("column_name", StringType, nullable = true),
        StructField("data_size", DoubleType, nullable = true),
        StructField("distinct_values_count", DoubleType, nullable = true),
        StructField("nulls_fraction", DoubleType, nullable = true),
        StructField("low_value", StringType, nullable = true),
        StructField("high_value", StringType, nullable = true),
        StructField("row_count", DoubleType, nullable = true))))
  }

  /** Reference type spellings → Spark, and back (SHOW CREATE TABLE). */
  private def sparkTypeName(t: String): String = t.trim.toLowerCase match {
    case "varchar" => "string"
    case v if v.startsWith("varchar(") => "string"
    case "varbinary" => "binary"
    case "real" => "float"
    case "double precision" => "double"
    case other => other
  }
  private def trinoTypeName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => "varchar"
      case BinaryType => "varbinary"
      case FloatType => "real"
      case LongType => "bigint"
      case IntegerType => "integer"
      case d: DecimalType => s"decimal(${d.precision},${d.scale})"
      case other => other.simpleString
    }
  }
}
