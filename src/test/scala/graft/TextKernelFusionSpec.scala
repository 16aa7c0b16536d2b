package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** The fused minhash kernel (ext.MinHashShinglesAndSig) must be bit-identical
  * to the legacy two-expression spelling — distinct shingle hashes AND the
  * k-wide signature, including element ORDER — on the real documents fixture
  * and on crafted edge shapes (short docs, empty strings, repeated shingles).
  * q_dedup_minhash / q_dedup_incremental ride on this equality: their LSH
  * candidate sets (hence outputs) cannot move if both fields are equal. */
class TextKernelFusionSpec extends SparkSpec {
  import spark.implicits._

  private val K = 64

  private def assertFusedMatchesLegacy(texts: org.apache.spark.sql.DataFrame): Unit = {
    val toks = tokens($"text")
    val rows = texts
      .select(
        shingleHashes3(toks).as("shs_legacy"),
        minhashSignature(shingles3(toks), K).as("sig_legacy"),
        minhashShinglesSig(toks, K).as("ss"))
      .select($"shs_legacy", $"sig_legacy", $"ss.shs".as("shs_fused"), $"ss.sig".as("sig_fused"))
      .collect()
    assert(rows.nonEmpty)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](2), s"shs mismatch at row $i")
      assert(r.getSeq[Long](1) == r.getSeq[Long](3), s"sig mismatch at row $i")
    }
  }

  test("fused kernel equals legacy shingleHashes3 + minhashSignature on the documents fixture") {
    assertFusedMatchesLegacy(
      graft.sources.Tables.load(spark, sfDir, "documents").select($"text"))
  }

  test("fused kernel equals legacy on edge shapes") {
    val edge = Seq(
      "",                                   // empty → one empty-string shingle
      "one",                                // 1 token (short-doc fallback)
      "two words",                          // 2 tokens (short-doc fallback)
      "a b c",                              // exactly one trigram
      "a b c d",                            // two trigrams
      "x y z x y z x y z",                  // heavy intra-doc duplication
      "a  b   c",                           // empty tokens from repeated spaces
      "Mixed CASE and   puncT!? tokens a b c d e f g")
      .toDF("text")
    assertFusedMatchesLegacy(edge)
  }

  test("fused signature equals the shingles3 → concat_ws spelling on token arrays with nulls") {
    // concat_ws / array_join skip a null token AND its separator; the fused
    // kernel's window join must too (a null inside the first window, at
    // both ends, a short doc, an all-null window)
    val toks = Seq(
      Seq("a", null, "b", "c"),
      Seq(null, "x", "y", "z", null),
      Seq("p", null),
      Seq[String](null, null, null),
      Seq("a", "b", "c", "d")).toDF("toks")
    val rows = toks
      .select(minhashSignature(shingles3($"toks"), K).as("legacy"),
        minhashShinglesSig($"toks", K).as("ss"))
      .select($"legacy", $"ss.sig").collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"sig mismatch at row $i")
    }
  }

  test("keyed materialized evicts the previous invocation's cache entry") {
    // plans embedding per-invocation driver-collected literals (ngram's
    // stop-shingle array, contamination's bench set) canonicalize
    // differently every run — the keyed registry must still evict the
    // previous run's persisted working set (r19 review finding)
    def mk(tag: Int) = {
      import spark.implicits._
      Seq((tag, "x")).toDF("id", "s").filter($"id" >= 0)
    }
    // fresh Dataset over the same logical plan → fresh QueryExecution →
    // fresh cache substitution (a Dataset's own executedPlan is a lazy val
    // and would report a stale pre-eviction answer)
    def cachedFor(df: org.apache.spark.sql.DataFrame): Boolean =
      org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, df.queryExecution.logical)
        .queryExecution.executedPlan.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec])
    val first = operators.materialized(mk(1), "fusion-spec.evict-test")
    first.collect()
    assert(cachedFor(first), "first invocation not cached")
    val second = operators.materialized(mk(2), "fusion-spec.evict-test")
    second.collect()
    assert(!cachedFor(first),
      "previous invocation's entry survived the keyed eviction")
    assert(cachedFor(second), "second invocation not cached")
    second.unpersist(blocking = false)
  }

  test("concurrent keyed materialized leaves exactly one cache entry for the key") {
    // two statement-server clients running one query at once: evict, persist
    // and register must be one step, or a displaced handle's blocks strand
    val key = "fusion-spec.concurrent"
    val frames = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.DataFrame]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { t =>
      new Thread(() =>
        try (0 until 20).foreach { i =>
          frames.add(operators.materialized(
            Seq((t * 100 + i, "x")).toDF("id", "s").filter($"id" >= 0), key))
        } catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, errors)
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val live = frames.toArray(Array.empty[org.apache.spark.sql.DataFrame]).filter(df =>
      cm.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined)
    assert(frames.size == 40)
    assert(live.length == 1, s"${live.length} cache entries left for one key")
    live.foreach(_.unpersist(blocking = false))
  }

  test("q_text_contamination repeated invocations do not accumulate cache entries") {
    val a = operators.TextPipeline.q_text_contamination(spark, sfDir)
    a.collect()
    val b = operators.TextPipeline.q_text_contamination(spark, sfDir)
    val rows = b.collect()
    assert(rows.nonEmpty)
    // the second invocation's keyed materialize must have evicted the
    // first's entry: re-planning invocation A must find no cached subtree
    // (its benchSet literal makes the plans canonically distinct, so
    // without the explicit key the first entry would live forever)
    val replanned = org.apache.spark.sql.graft.ColumnBridge
      .ofRows(spark, a.queryExecution.logical).queryExecution.executedPlan
    assert(!replanned.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]),
      "first q_text_contamination invocation's cache entry leaked")
  }

  test("q_dedup_minhash output is unchanged by the fusion (vs exact ngram pair set)") {
    // AnnSpec already asserts minhash == ngram; re-assert here so a fusion
    // regression is attributed to this change, not to LSH recall
    val exact = operators.Dedup.q_dedup_ngram(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val mh = operators.Dedup.q_dedup_minhash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(mh == exact)
  }
}
