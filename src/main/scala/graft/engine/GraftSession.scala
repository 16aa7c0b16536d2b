package graft.engine

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Mirrors the role of Trino's session/config layer
  * (reference: core/trino-main/src/main/java/io/trino/Session.java) but is a thin
  * configuration of Spark itself: Catalyst is our analyzer/optimizer, the Spark
  * scheduler + shuffle is our MPP fabric.
  *
  * Scale notes (designed for a 1000-executor cluster, tested on local[32]):
  *  - AQE on: runtime partition coalescing + skew-join splitting replace Trino's
  *    adaptive/FTE re-planning (reference: sql/planner/AdaptivePlanner.java).
  *  - shuffle.partitions is a *default*; at 100 TB a real deployment raises it
  *    (or relies on AQE coalescing from a high initial number).
  *  - UTC session timezone pins timestamp semantics for oracle parity.
  *  - No planning-time Spark jobs in a query: a table read reuses its
  *    cached parquet footer schema (`graft.sources.Tables.parquet`; only
  *    the first read of a file version infers it), and a small result sort
  *    gathers into one partition instead of sampling a range
  *    ([[graft.plans.SmallResultSort]]). A large result sort keeps range
  *    partitioning.
  *
  * Generated-code reuse (the role of Trino's ExpressionCompiler class cache,
  * reference: core/trino-main/src/main/java/io/trino/sql/gen/ExpressionCompiler.java)
  * rests on the last two settings in `builder` and on the
  * [[graft.plans.ReferenceLiterals]] rule. Catalyst's `CodeGenerator` keeps
  * compiled classes in one JVM-wide LRU keyed on (context class loader,
  * source text); the rule keeps numeric and date constants out of that
  * text, so statements that differ only in them share classes. `spark.sql.codegen.cache.maxEntries` is a STATIC
  * conf read once, when `CodeGenerator` is first initialised: it takes
  * effect only if a GraftSession-built session is the first session in the
  * JVM to touch `CodeGenerator`; otherwise Spark's default (100) stays.
  */
object GraftSession {
  /** Generated-code cache capacity. One warm pass of the 25 headline
    * queries touches 412 entries (270 distinct class bodies, each compiled
    * under up to three context class loaders: the driver's, the session's
    * executor loader, and the default loader). Spark's default of 100 made
    * the LRU cycle through that set: 401-473 Janino compiles per measured
    * pass on 4 cores (median 449), with JIT taking half the pass's CPU. At
    * 512, with persist reusing the session (below), a pass compiles 0-4.
    * The cap is sized to the working set, not set generously: every cached
    * class holds heap. Re-measured with ReferenceLiterals (fresh numeric
    * and date constants no longer change the source text): one cow_dml run
    * compiles 166 classes over its warm-up and measured window (472 before,
    * enough to fill the cache), and its live heap is unchanged at 156 MB
    * (median of 10 runs, 4 cores), so headline's 412 entries still set
    * the cap. */
  val CodegenCacheEntries = 512

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      // custom planning: the spatial-join rewrite (the engine's
      // ExtractSpatialJoins analogue) registers through the public
      // extensions API like any third-party Catalyst extension; so do the
      // physical rule that keeps numeric and date constants out of
      // generated source (one compiled class per statement shape) and the
      // one that plans a small result sort without a sampling job (with AQE
      // on and off, plus its DSv2 write guard)
      .withExtensions { e =>
        e.injectOptimizerRule(_ => graft.plans.SpatialJoinRewrite())
        e.injectColumnar(_ => graft.plans.ReferenceLiterals.columnarRule)
        e.injectColumnar(_ => graft.plans.SmallResultSort.columnarRule)
        e.injectQueryStagePrepRule(_ => graft.plans.SmallResultSort)
        e.injectPlannerStrategy(_ => graft.plans.SmallResultSort.writeGuard)
      }
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // parallelismFirst is deliberately left at its default (true): measured
      // at sf0.1, coalescing post-shuffle partitions to the 64 MB advisory
      // size (parallelismFirst=false) cost −9% total bench time — these
      // queries exploit the extra cores more than they pay in task overhead.
      // A 100 TB deployment would revisit (advisory-sized reducers amortize
      // better when every partition carries real data).
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // r18 (guide §3.1): let AQE rewrite a sort-merge join to a shuffled
      // HASH join when every post-shuffle partition of the build side is
      // under the advisory size (64 MB) — skips both sorts with the same
      // spill safety, because the decision uses MEASURED partition sizes
      // (static preferSortMergeJoin=false would trust pre-run estimates,
      // which is how build-side OOMs happen at 100 TB; left at default).
      // No effect on the bench (AQE off there) or on storage-partitioned
      // joins (no shuffle stage to rewrite).
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        (64L * 1024 * 1024).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // r18 (guide §6): zstd parquet output — markedly better ratio than
      // snappy at similar read speed; at 100 TB this is less I/O and
      // smaller shuffle-input scans for every downstream reader. Env-
      // overridable for A/B. (Read paths are unaffected; the fixtures'
      // codec is whatever they were written with.)
      .config("spark.sql.parquet.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_PARQUET_CODEC", "zstd"))
      .config("spark.sql.parquet.filterPushdown", "true")
      // Always plan bucket-aware scans over bucketed warehouse tables: the
      // DisableUnnecessaryBucketedScan rule turns the bucket layout off for
      // scans with no interesting partitioning, but it does not account for
      // bucket PRUNING — a point predicate on the bucket key then reads all
      // buckets instead of one. The reference's hive connector always plans
      // bucket-aware splits (HiveBucketing); matching that keeps both the
      // exchange-free joins and the pruned point lookups.
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      // parquet field-id resolution (used by DeltaRead column mapping mode
      // 'id'); inert unless a read schema carries parquet.field.id metadata
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      .config("spark.sql.parquet.fieldId.write.enabled", "true")
      // Note on split sizing: the fixtures are single-file, SINGLE-rowgroup
      // parquet, so scans are one task regardless of maxPartitionBytes
      // (parquet parallelism is per rowgroup). The default 128 MB is kept —
      // it is the right setting for the many-file 100 TB layout; measured at
      // sf0.1, smaller splits only add scheduling overhead here.
      // events.parquet is TIMESTAMP(NANOS); pin the long-read globally so
      // schema resolution never depends on which code path touched the
      // session conf first (a latent race under concurrent planning).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // static: holds headline's 412-entry working set (see CodegenCacheEntries;
      // a measured pass compiled a median 449 classes at 100, 0 at 512)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // Run persist()'s plan in THIS session. At the default (false),
      // CacheManager.getOrCloneSessionWithConfigsOff clones the session on
      // every persist to switch off AQE's final-stage shuffle optimizations.
      // Each clone has a new artifact UUID, so the local executor builds a
      // new class loader for its jobs and recompiles byte-identical code
      // under it (17 compiles per repeat of q_dedup_substring_spans, and one
      // loader left behind per run). With true, the only conf left to switch
      // off is autoBucketedScan, already off above, so no clone is made. In
      // exchange AQE may coalesce a cached plan's final shuffle.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")

  /** Ad-hoc conf overrides for measurement: SPARK_GRAFT_EXTRA="k=v;k2=v2". */
  private[graft] def withExtras(b: SparkSession.Builder): SparkSession.Builder = {
    sys.env.get("SPARK_GRAFT_EXTRA").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.contains('='))
      .foldLeft(b) { (bb, kv) =>
        val Array(k, v) = kv.split("=", 2); bb.config(k, v)
      }
  }

  def local(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
