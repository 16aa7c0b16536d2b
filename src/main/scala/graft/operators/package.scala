package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared helpers for the operator/query layer.
  *
  * Oracle-determinism convention: the driver hash-compares our parquet output
  * against DuckDB running the same SQL. Floating-point SUMs are order-dependent,
  * and Spark/DuckDB partial-aggregation orders differ — so every monetary
  * aggregate goes through exact DECIMAL(12,2) arithmetic (the fixture money
  * columns are 2-decimal doubles, so the cast is lossless) and is cast back to
  * DOUBLE only at the very end (correctly-rounded, identical in both engines).
  * This mirrors Trino, where monetary TPC-H columns are decimals in the first
  * place (reference: plugin/trino-tpch/src/main/java/io/trino/plugin/tpch/TpchMetadata.java:102).
  */
package object operators {
  /** Exact 2-decimal money value (lossless for the fixture data). */
  def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Deterministic double result of an exact decimal aggregate. */
  def asDouble(c: Column): Column = c.cast("double")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.load(spark, dir, name)

  /** Materialize an intermediate exactly once PER INVOCATION, lazily, with
    * lineage INTACT: `Dataset.persist(MEMORY_AND_DISK)` plus an
    * unpersist-registry that evicts the PREVIOUS invocation's blocks.
    *
    *  - LAZY persist: blocks compute inside the first consuming job — no
    *    separate materialization job (round-13 verdict: four eager
    *    localCheckpoints serialized four extra jobs, ~0.25 s scheduling
    *    floor apiece at sf0.1, in front of q_dedup_ngram); all downstream
    *    consumers of the returned frame (e.g. LSH signatures feed the
    *    bucket build AND both sides of the rescoring join) then read the
    *    persisted blocks. Columnar, compressed, codegen-scannable — beat
    *    an RDD[InternalRow].map(_.copy()) persist by 1.4-2× in the
    *    round-14 A/B on q_dedup_minhash/_ngram.
    *  - The registry below makes plain persist HONEST: Dataset.persist
    *    registers the plan in the session-global CacheManager, whose
    *    CANONICALIZED-plan matching would otherwise let the NEXT
    *    invocation of the same query silently ride on this invocation's
    *    blocks (the cross-invocation benchmark flattery round 12 removed,
    *    and the exact defect that contaminated tools/DistinctBench until
    *    round 14 — see BASELINE.md). `materialized` unpersists the prior
    *    handle for the same canonicalized plan BEFORE re-persisting, so
    *    repeated runs (bench passes, server sessions) always pay full
    *    computation while one invocation's multiple consumers still share
    *    one computation.
    *  - NOT localCheckpoint: its blocks are non-replayable — on a real
    *    cluster, losing one executor mid-query kills the query instead of
    *    recomputing lineage (round-13 verdict's one remaining 100-TB
    *    caveat, resolved by this spelling). persist keeps lineage, so a
    *    lost block recomputes from the original scan like any other Spark
    *    failure.
    *
    *  - The cached plan runs in the CALLER's session: persist does not fork
    *    a cloned session, because GraftSession sets
    *    `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`. A
    *    clone would bring its own executor class loader and recompile the
    *    plan's generated code on every invocation.
    *
    * The connected-components loop (Dedup.scala) keeps EAGER localCheckpoint
    * deliberately: there lineage TRUNCATION is the point (each iteration's
    * plan would otherwise nest all previous ones), and its fixpoint check
    * consumes the blocks immediately anyway.
    *
    * Bounded: at most one working set per distinct intermediate lingers
    * until the query runs again or the session ends. */
  private val liveHandles =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  def materialized(df: DataFrame): DataFrame =
    // Dataset-level persist (columnar, compressed, codegen-scannable) beat
    // both alternatives in the round-14 A/B at sf0.1: eager localCheckpoint
    // serializes an extra job per call AND its blocks are non-replayable on
    // executor loss (round-13 verdict); an RDD[InternalRow].map(_.copy())
    // persist keeps lineage but stores per-row objects — measured 1.4-2×
    // slower than this spelling on q_dedup_minhash/_ngram.
    materialized(df, df.queryExecution.analyzed.canonicalized.semanticHash().toString)

  /** `materialized` with an EXPLICIT registry key — for plans that embed a
    * per-invocation driver-collected literal (e.g. q_text_contamination's
    * benchmark shingle set): their canonicalized plans differ on every
    * invocation (Array equality is by reference), so the default key would
    * never evict the previous invocation's handle and repeated runs would
    * accumulate persisted blocks for the life of the session. A stable
    * query-scoped key keeps the invariant: at most one live working set per
    * intermediate, every invocation recomputes.
    *
    * Evict, persist and register happen in one atomic `compute` on the key,
    * so two concurrent invocations of one query (statement-server clients)
    * cannot both persist while one handle is overwritten and its blocks
    * stranded: whichever runs second unpersists the first's handle. */
  def materialized(df: DataFrame, key: String): DataFrame = {
    liveHandles.compute(key, (_, displaced) => {
      if (displaced != null) displaced.unpersist(blocking = false)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })
    df
  }

  type Q = (SparkSession, String) => DataFrame
}
