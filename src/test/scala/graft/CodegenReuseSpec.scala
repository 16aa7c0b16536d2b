package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.classic

/** Generated classes survive across queries (GraftSession's codegen-cache
  * and cached-plan settings). Catalyst keys its generated-code cache on
  * (context class loader, source text); a repeat query must hit it.
  *
  * `spark.sql.codegen.cache.maxEntries` is a STATIC conf, read once when
  * `CodeGenerator` is first initialised: it takes effect only if a
  * GraftSession-built session is the first session in the JVM to touch
  * `CodeGenerator`. The repeat-query check below does not depend on the
  * cap: q_dedup_substring_spans needs fewer than 100 entries (Spark's
  * default), so it pins the no-clone persist path on its own. */
class CodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a GraftSession-built session reports the codegen cache cap") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      graft.engine.GraftSession.CodegenCacheEntries.toString)
  }

  /** Drain a frame's rows with `SparkContext.runJob` outside any SQL
    * execution scope, as the statement server pages results. Jobs the
    * cached plan starts then carry the artifact session of whichever
    * session planned it; a per-persist clone got a fresh executor class
    * loader each time (17 recompiles per repeat of this query). */
  private def drain(df: org.apache.spark.sql.DataFrame): Long =
    spark.sparkContext.runJob(df.queryExecution.toRdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => it.size.toLong).sum

  test("a repeat invocation of q_dedup_substring_spans compiles no new classes") {
    drain(operators.TextPipeline.q_dedup_substring_spans(spark, sfDir))
    val before = compiles
    val rows = drain(operators.TextPipeline.q_dedup_substring_spans(spark, sfDir))
    assert(rows > 0)
    assert(compiles - before == 0, "repeat invocation recompiled generated code")
  }

  test("the cached plan of a materialized frame runs in the caller's session") {
    val df = operators.materialized(
      spark.range(10).toDF("id").filter($"id" > 3), "codegen-reuse-spec.session")
    val cached = spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
    assert(cached.isDefined, "materialized frame not registered in the CacheManager")
    assert(cached.get.cachedRepresentation.cacheBuilder.cachedPlan.session eq spark,
      "persist planned the cached frame in a cloned session")
    df.unpersist(blocking = false)
  }
}
