package graft.sqlx

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-session prepared-plan cache for the dialect front door (r18 verdict
  * #3; the reference caches prepared statements the same way): SQL text
  * (for EXECUTE, the prepared text plus its arguments) → the ANALYZED
  * DataFrame, so a repeated statement skips rewrite + planning + analysis
  * after its one parse and goes straight to execution. Never
  * caches results or data —
  * every lookup hit still executes the physical plan from the parquet
  * inputs on every action.
  *
  * Invalidation is epoch-based: any front-door non-query statement but the
  * PREPARE family (DDL/DML/GRANT/…, [[Statements]]), any CoW commit
  * ([[graft.catalog.CowTable]]), any CREATE FUNCTION
  * ([[graft.functions.SqlRoutines]]), and any fixture-file change detected
  * by [[graft.sources.Tables.registerAll]] bumps the global epoch, and the
  * epoch is part of the key — a stale plan can never be served after a
  * catalog change (over-invalidation on non-mutating statement heads like
  * EXPLAIN costs only a re-plan, never correctness).
  *
  * Scope guards:
  *  - the hit requires `df.sparkSession eq spark` (plans are per-session:
  *    temp views and conf live in the session the plan was analyzed in);
  *  - statements under grant enforcement are never cached (row-security
  *    policies can change without a statement-visible epoch bump);
  *  - the session context (props/schema/prepared/user) is part of the key.
  *
  * Bounded LRU (64 entries): memory stays O(64 plans) regardless of
  * statement diversity; a dead scoped session's entries age out. */
private[graft] object PlanCache {

  private val epochCtr = new AtomicLong(0L)

  /** Any catalog/table/function mutation calls this; cached plans from
    * earlier epochs become unreachable. Mutation sites bump BOTH before
    * and after the mutation: the after-bump is the correctness-critical
    * one (a query analyzed concurrently with a mutation must not be
    * cached under the post-mutation epoch while pinning the pre-mutation
    * snapshot); the before-bump narrows the window in which an already
    * cached plan is served mid-mutation. */
  def invalidate(): Unit = { epochCtr.incrementAndGet(); () }

  /** Sessions that live for a single statement (the server's conf-scoped
    * forks): caching their plans can never hit (fresh identity per
    * statement) and would pin the dead session + its state in the LRU,
    * evicting the long-lived session's reusable entries. Marked sessions
    * bypass the cache entirely. WeakHashMap: the mark does not extend the
    * session's life. */
  private val ephemeral = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())
  def markEphemeral(spark: SparkSession): Unit = {
    ephemeral.put(spark, java.lang.Boolean.TRUE); ()
  }

  def epoch: Long = epochCtr.get()

  // diagnostics (spec-visible): how many lookups hit vs filled
  val hits = new AtomicLong(0L)
  val misses = new AtomicLong(0L)

  private final case class Key(sessionId: Int, dir: String, sql: String,
      ctx: Option[SessionContext.Ctx], epoch: Long)

  private val MaxEntries = 64
  private val lru =
    new java.util.LinkedHashMap[Key, DataFrame](MaxEntries, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Key, DataFrame]): Boolean = size > MaxEntries
    }

  private def key(spark: SparkSession, dir: String, sql: String): Key =
    Key(System.identityHashCode(spark), dir, sql,
      SessionContext.current, epochCtr.get())

  /** The cached analyzed plan for this (session, dir, text, context,
    * epoch), or compute-and-cache via `body`. Enforced sessions bypass. */
  def cached(spark: SparkSession, dir: String, sql: String)
      (body: => DataFrame): DataFrame = {
    if (SessionContext.enforcedUser.isDefined) return body
    if (ephemeral.containsKey(spark)) return body
    val k = key(spark, dir, sql)
    val hit = lru.synchronized(Option(lru.get(k)))
      // identity check: an identityHashCode collision with a collected
      // session (or a different live one) must never serve a foreign plan
      .filter(_.sparkSession eq spark)
    hit match {
      case Some(df) => hits.incrementAndGet(); df
      case None =>
        misses.incrementAndGet()
        val df = body
        if (cacheable(df)) lru.synchronized { lru.put(k, df); () }
        df
    }
  }

  /** Only plans whose every mutation path bumps the epoch may be cached:
    * session temp views (fixtures + warehouse — all front-door mutations
    * go through [[Statements]]) and graft CoW tables (all mutations go
    * through CowTable.commit). A plan reading any OTHER DSv2 catalog
    * (iceberg/delta/hudi/memory/wire fixtures…) can be mutated by direct
    * API calls this cache cannot see — never cache those.
    *
    * A plan carrying a non-deterministic expression (rand, uuid, …) or a
    * per-query-constant one (now/current_timestamp/current_date/
    * current_user/…, all replaced by a literal ONCE when the lazy
    * optimized plan is first built) is never cached either: serving the
    * same DataFrame again would freeze the first execution's values. */
  private def cacheable(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    val safe = Set("spark_catalog", graft.catalog.CowDsv2.CatalogName)
    val analyzed = df.queryExecution.analyzed
    val foreignCatalog = analyzed.collectWithSubqueries {
      case r: DataSourceV2Relation => r.catalog.map(_.name()).getOrElse("")
    }.exists(n => n.nonEmpty && !safe.contains(n))
    def perExecution(plan: LogicalPlan): Boolean = plan.expressions.exists(_.exists {
      case e if !e.deterministic => true
      // query-constant family (folded to a literal at first optimization):
      // CurrentTimestamp/CurrentDate/CurrentTimeZone/CurrentUser/
      // CurrentDatabase/CurrentCatalog…, Now, LocalTimestamp
      case e =>
        val n = e.getClass.getSimpleName
        n.startsWith("Current") || n == "Now" || n == "LocalTimestamp"
    })
    !foreignCatalog && !analyzed.collectWithSubqueries {
      case p if perExecution(p) => p
    }.exists(_ => true)
  }
}
