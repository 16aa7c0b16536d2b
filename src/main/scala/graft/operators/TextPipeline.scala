package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond dedup/quality (SURVEY.md LLM
  * extensions; same oracle discipline as TextAnalysis): document CHUNKING
  * into overlapping token windows (the unit a tokenizer/embedding stage
  * consumes), PII SCRUBBING via deterministic mask rewriting, and benchmark
  * CONTAMINATION detection by n-gram overlap against a held-out set.
  *
  * Scale notes: chunking is a pure map + in-row explode (no shuffle);
  * scrubbing is a codegen'd regexp_replace chain (no shuffle);
  * contamination builds the benchmark shingle-hash set — sublinear in the
  * corpus, it is the HELD-OUT suite — and probes it in-row with a compiled
  * set-membership kernel, so the corpus is read once, never exploded, and
  * never shuffled. */
object TextPipeline {

  /** The PII mask chain (shared by the batch query and the streaming twin
    * streaming.DocStreams.piiScrub). */
  def scrub(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c,
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
        "\\+1-555-[0-9]{4}", "[PHONE]"),
      "10\\.[0-9]{1,3}\\.0\\.[0-9]{1,3}", "[IP]")

  private val ChunkSize = 32
  private val Stride = 24

  /** Overlapping token-window chunking: size 32, stride 24 (8-token
    * overlap), short tail kept. One output row per chunk. */
  def q_text_chunking(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = table(s, dir, "documents")
      .filter($"doc_id" < 300)
      .withColumn("toks", split($"text", " "))
      .withColumn("n", size($"toks"))
      .withColumn("n_chunks",
        when($"n" <= ChunkSize, lit(1))
          .otherwise(floor(($"n" - ChunkSize + Stride - 1) / lit(Stride)) + 1)
          .cast("int"))
      .withColumn("chunk_id", explode(sequence(lit(0), $"n_chunks" - 1)))
      .withColumn("chunk", slice($"toks", $"chunk_id" * Stride + 1, lit(ChunkSize)))
    t.select($"doc_id", $"chunk_id", $"n_chunks",
        size($"chunk").cast("long").as("chunk_tokens"),
        concat_ws(" ", $"chunk").as("chunk_text"),
        // stride < size ⇒ consecutive chunks share (size − stride) tokens;
        // emit the overlap region so the oracle pins the window arithmetic
        concat_ws(" ", slice($"toks", $"chunk_id" * Stride + 1, lit(ChunkSize - Stride)))
          .as("overlap_with_prev"))
      .orderBy($"doc_id", $"chunk_id")
  }
  val qTextChunkingSql: String =
    s"""WITH t AS (
         SELECT doc_id, string_split(text, ' ') AS toks,
                len(string_split(text, ' ')) AS n
         FROM documents WHERE doc_id < 300),
       c AS (
         SELECT doc_id, toks, n,
           CASE WHEN n <= $ChunkSize THEN 1
                ELSE CAST((n - $ChunkSize + $Stride - 1) // $Stride + 1 AS INT)
           END AS n_chunks
         FROM t),
       e AS (
         SELECT doc_id, toks, n_chunks,
                CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_id
         FROM c)
       SELECT doc_id, chunk_id, n_chunks,
         CAST(len(toks[chunk_id * $Stride + 1 : chunk_id * $Stride + $ChunkSize]) AS BIGINT) AS chunk_tokens,
         array_to_string(toks[chunk_id * $Stride + 1 : chunk_id * $Stride + $ChunkSize], ' ') AS chunk_text,
         array_to_string(toks[chunk_id * $Stride + 1 : chunk_id * $Stride + ${ChunkSize - Stride}], ' ') AS overlap_with_prev
       FROM e ORDER BY doc_id, chunk_id"""

  /** PII scrubbing: deterministic synthetic PII (email/phone/IPv4 derived
    * from doc_id) is injected, then masked by a regexp_replace chain; the
    * oracle injects and scrubs with the same patterns. */
  def q_text_pii_scrub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = table(s, dir, "documents")
      .filter($"doc_id" < 400)
      .withColumn("pii_text", concat($"text",
        lit(" contact user"), $"doc_id", lit("@example.com"),
        lit(" or +1-555-"), lpad(($"doc_id" % 10000).cast("string"), 4, "0"),
        lit(" from 10."), ($"doc_id" % 256).cast("string"),
        lit(".0."), (($"doc_id" * 7) % 256).cast("string")))
      .withColumn("scrubbed", scrub($"pii_text"))
    t.select($"doc_id",
        length($"pii_text").cast("long").as("len_with_pii"),
        length($"scrubbed").cast("long").as("len_scrubbed"),
        ($"scrubbed").contains("[EMAIL]").as("email_masked"),
        ($"scrubbed").contains("[PHONE]").as("phone_masked"),
        ($"scrubbed").contains("[IP]").as("ip_masked"),
        (!$"scrubbed".contains("@example.com")).as("no_email_left"),
        substring_index($"scrubbed", " ", -4).as("tail"))
      .orderBy($"doc_id")
  }
  val qTextPiiScrubSql: String =
    """WITH t AS (
         SELECT doc_id,
           text || ' contact user' || doc_id || '@example.com'
                || ' or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS pii_text
         FROM documents WHERE doc_id < 400),
       sc AS (
         SELECT doc_id, pii_text,
           regexp_replace(
             regexp_replace(
               regexp_replace(pii_text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '\+1-555-[0-9]{4}', '[PHONE]', 'g'),
             '10\.[0-9]{1,3}\.0\.[0-9]{1,3}', '[IP]', 'g') AS scrubbed
         FROM t)
       SELECT doc_id,
         CAST(length(pii_text) AS BIGINT) AS len_with_pii,
         CAST(length(scrubbed) AS BIGINT) AS len_scrubbed,
         contains(scrubbed, '[EMAIL]') AS email_masked,
         contains(scrubbed, '[PHONE]') AS phone_masked,
         contains(scrubbed, '[IP]') AS ip_masked,
         NOT contains(scrubbed, '@example.com') AS no_email_left,
         array_to_string(string_split(scrubbed, ' ')[-4:], ' ') AS tail
       FROM sc ORDER BY doc_id"""

  private val Gram = 8

  /** Benchmark-contamination scan: docs with doc_id % 50 = 0 form the
    * held-out suite; any other doc sharing an 8-token shingle with it is
    * contaminated. The benchmark shingle-hash set is the HELD-OUT suite —
    * bounded and sublinear in the corpus by definition — so it is
    * driver-collected (exactly what a broadcast build side does) and probed
    * IN-ROW by a compiled kernel: the corpus is never exploded, joined, or
    * shuffled; its only jobs are one scan of the bench slice and one scan
    * of the corpus (round-13 verdict: the explode→distinct→broadcast→join→
    * groupBy(countDistinct) chain was 2.4× DuckDB purely on job-chain
    * overhead — the output is per-doc counts, already the row grain). */
  def q_text_contamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.{arraySetCountDistinct, shingleHashSeq}
    // shingles reduce to 64-bit hashes BEFORE the set build/probe: 8 bytes
    // per shingle instead of the text; distinct-hash counts equal
    // distinct-text counts modulo 2^-64 collisions. The hash is computed by
    // a compiled byte-buffer kernel (WordNGramHashSeq, value-identical to
    // xxhash64(concat_ws(' ', slice(toks, i+1, 8)))) — no shingle string is
    // ever materialized.
    val docs = table(s, dir, "documents")
    // bench-set build is ONE map-only stage: per-doc hash arrays collect and
    // dedup on the driver (the set is bounded by the held-out suite size, so
    // the driver dedup is the same order as the collected distinct set the
    // r16 spelling shipped — minus its explode + distinct exchange). r17 A/B
    // at sf0.1: 0.563 → 0.488 s.
    val benchSet: Array[Long] = docs.filter($"doc_id" % 50 === 0)
      .select(shingleHashSeq(split($"text", " "), Gram).as("shs"))
      .as[Seq[Long]].collect().iterator.flatten.toArray.distinct.sorted
    // persist the NARROW (doc_id, hit_count) projection before the
    // presentation sort: orderBy's range-sampling pass otherwise
    // re-evaluates the shingle kernel over the whole corpus — the cache is
    // two longs per doc, the saving is one full kernel pass (r17 A/B:
    // 0.488 → 0.402 s; the skeleton floor — same scans, same sort, no
    // kernel — measures 0.325 s, see BASELINE.md)
    // explicit registry key (r19): this plan embeds the per-invocation
    // benchSet literal, so the default canonicalized-plan key would never
    // evict the previous invocation's blocks — repeated runs would
    // accumulate persisted working sets for the session lifetime.
    materialized(docs.filter($"doc_id" % 50 =!= 0)
      .select($"doc_id",
        arraySetCountDistinct(
          shingleHashSeq(split($"text", " "), Gram), benchSet).as("hit_shingles")),
      "q_text_contamination.hits")
      .withColumn("contaminated", $"hit_shingles" > 0)
      .orderBy($"doc_id")
  }
  /** The composed C4-style corpus pipeline — the end-to-end use case the
    * individual operators exist for (quality gate → exact dedup →
    * benchmark decontamination → corpus stats), in ONE statement:
    *
    *  1. quality scoring (q_text_quality's length/stopword/TTR heuristics),
    *     gate at ≥ 0.5;
    *  2. exact dedup on the normalized text (min doc_id wins);
    *  3. decontamination: drop survivors sharing an 8-gram with the
    *     benchmark split (in-row probe of the broadcast hash set — the
    *     corpus side is never exploded or shuffled on text);
    *  4. per-language survivor counts + exact-decimal quality mass.
    *
    * Plan shape at scale: the quality/norm/probe stages are pure in-row
    * column kernels over one scan; the only shuffles are the dedup hash
    * partition on the norm key and the final per-lang aggregate. */
  def q_text_c4_pipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.{arraySetCountDistinct, shingleHashSeq}
    val stop = Seq("the", "a", "of", "and", "to")
    val docs = table(s, dir, "documents")
    // same one-stage bench-set build as q_text_contamination
    val benchSet: Array[Long] = docs.filter($"doc_id" % 50 === 0)
      .select(shingleHashSeq(split($"text", " "), Gram).as("shs"))
      .as[Seq[Long]].collect().iterator.flatten.toArray.distinct.sorted
    val scored = docs.filter($"doc_id" % 50 =!= 0)
      .withColumn("toks", split(lower($"text"), " "))
      .withColumn("n_tokens", size($"toks").cast("double"))
      .withColumn("stop_hits",
        size(filter($"toks", t => t.isin(stop: _*))).cast("double"))
      .withColumn("ttr",
        size(array_distinct($"toks")).cast("double") / $"n_tokens")
      .withColumn("len_score",
        when($"n_tokens" >= 20 && $"n_tokens" <= 200, 1.0d)
          .otherwise(when($"n_tokens" < 20, $"n_tokens" / 20.0)
            .otherwise(lit(200.0) / $"n_tokens")))
      .withColumn("stop_score", least($"stop_hits" / $"n_tokens" / 0.05, lit(1.0d)))
      .withColumn("quality", round(($"len_score" + $"stop_score" + $"ttr") / 3.0, 6))
      .filter($"quality" >= 0.5)
    // dedup exchange routes on xxhash64(norm) — 8-byte key, full text only
    // as payload for hash-equal tie-verify (round-14 verdict #5; same
    // spelling as Dedup.q_dedup_exact, still exactly one exchange here)
    val deduped = scored
      .withColumn("norm", regexp_replace(lower($"text"), "\\s+", " "))
      .withColumn("hnorm", xxhash64($"norm"))
      .repartition($"hnorm")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"hnorm", $"norm").orderBy($"doc_id")))
      .filter($"rn" === 1)
    deduped
      .filter(arraySetCountDistinct(
        shingleHashSeq(split($"text", " "), Gram), benchSet) === 0)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        // exact decimal sum (order-independent), double only at the edge
        sum($"quality".cast(org.apache.spark.sql.types.DecimalType(14, 6)))
          .cast("double").as("quality_mass"))
      .orderBy($"lang")
  }
  val qTextC4PipelineSql: String =
    s"""WITH corpus AS (
         SELECT doc_id, lang, text, string_split(lower(text), ' ') AS toks
         FROM documents WHERE doc_id % 50 <> 0),
       m AS (
         SELECT doc_id, lang, text,
           CAST(len(toks) AS DOUBLE) AS n_tokens,
           CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) AS DOUBLE) AS stop_hits,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
         FROM corpus),
       sc AS (
         SELECT doc_id, lang, text,
           round((CASE WHEN n_tokens >= 20 AND n_tokens <= 200 THEN 1.0
                       WHEN n_tokens < 20 THEN n_tokens / 20.0
                       ELSE 200.0 / n_tokens END
                  + least(stop_hits / n_tokens / 0.05, 1.0) + ttr) / 3.0, 6) AS quality
         FROM m),
       gated AS (SELECT * FROM sc WHERE quality >= 0.5),
       deduped AS (
         SELECT * FROM (
           SELECT *, row_number() OVER (
             PARTITION BY regexp_replace(lower(text), '\\s+', ' ', 'g')
             ORDER BY doc_id) AS rn
           FROM gated) WHERE rn = 1),
       shing AS (
         SELECT doc_id, string_split(text, ' ') AS toks,
                len(string_split(text, ' ')) AS n
         FROM documents),
       g AS (
         SELECT doc_id, array_to_string(toks[i + 1 : i + $Gram], ' ') AS shingle
         FROM (SELECT doc_id, toks, CAST(unnest(range(0, n - $Gram + 1)) AS INT) AS i
               FROM shing WHERE n >= $Gram)),
       bench AS (SELECT DISTINCT shingle FROM g WHERE doc_id % 50 = 0),
       contaminated AS (
         SELECT DISTINCT g.doc_id FROM g JOIN bench USING (shingle)
         WHERE g.doc_id % 50 <> 0)
       SELECT d.lang, count(*) AS n_docs,
         CAST(sum(CAST(d.quality AS DECIMAL(14,6))) AS DOUBLE) AS quality_mass
       FROM deduped d
       WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)
       GROUP BY d.lang ORDER BY d.lang"""

  val qTextContaminationSql: String =
    s"""WITH sh AS (
         SELECT doc_id,
                string_split(text, ' ') AS toks,
                len(string_split(text, ' ')) AS n
         FROM documents),
       g AS (
         SELECT doc_id,
                array_to_string(toks[i + 1 : i + $Gram], ' ') AS shingle
         FROM (SELECT doc_id, toks, CAST(unnest(range(0, n - $Gram + 1)) AS INT) AS i
               FROM sh WHERE n >= $Gram)),
       bench AS (SELECT DISTINCT shingle FROM g WHERE doc_id % 50 = 0),
       hits AS (
         SELECT g.doc_id, count(DISTINCT g.shingle) AS hit_shingles
         FROM g JOIN bench USING (shingle)
         WHERE g.doc_id % 50 <> 0
         GROUP BY g.doc_id)
       SELECT d.doc_id,
              COALESCE(h.hit_shingles, 0) AS hit_shingles,
              h.hit_shingles IS NOT NULL AS contaminated
       FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
       LEFT JOIN hits h ON d.doc_id = h.doc_id
       ORDER BY d.doc_id"""

  private val SpanK = 10

  /** Exact-substring span removal (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better" — the suffix-array exact-substring
    * method, expressed distributively): token 10-grams appearing in MORE
    * THAN ONE document mark every token position they cover; covered spans
    * are cut from each document and the text is rebuilt from the surviving
    * tokens. Unlike doc-level MinHash dedup this removes the duplicated
    * PASSAGE while keeping the unique remainder of both documents.
    *
    * Scale shape: one shuffle of (shingle → doc, pos) pairs to find
    * cross-document duplicates (the distributed stand-in for the paper's
    * suffix array), one position-level anti join, one per-doc rebuild
    * aggregation — never an all-pairs comparison. */
  def q_dedup_substring_spans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = table(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("toks"))
      .withColumn("n", size($"toks"))
    // the shingle reduces to a 64-bit hash BEFORE the shuffle: the window
    // exchange carries (doc, pos, 8-byte key) instead of the 10-token text —
    // smaller shuffle bytes and no long-text hot keys from boilerplate
    val grams = docs.filter($"n" >= SpanK)
      .withColumn("i", explode(sequence(lit(0), $"n" - SpanK)))
      .select($"doc_id", $"i",
        xxhash64(concat_ws(" ", slice($"toks", $"i" + 1, lit(SpanK)))).as("sh"))
    // cross-document duplicate iff the shingle's doc_id range is non-trivial
    // — ONE shuffle on the shingle hash (a window), no groupBy + join-back
    val w = Window.partitionBy($"sh")
    val dupOcc = grams
      .withColumn("dup", min($"doc_id").over(w) =!= max($"doc_id").over(w))
      .filter($"dup")
    // covered positions collapse to one per-doc SET (second shuffle, on the
    // doc); the rebuild is then an in-row array filter — no position-level
    // anti join, no rebuild aggregation
    val covDoc = dupOcc
      .withColumn("idx", explode(sequence($"i", $"i" + SpanK - 1)))
      .groupBy($"doc_id").agg(collect_set($"idx").as("cov"))
    docs.join(covDoc, Seq("doc_id"), "left")
      .withColumn("kept", when($"cov".isNull, $"toks")
        .otherwise(filter($"toks", (x, i) => !array_contains($"cov", i))))
      .select($"doc_id",
        $"n".cast("long").as("n_tokens"),
        size($"kept").cast("long").as("n_kept"),
        concat_ws(" ", slice($"kept", 1, 10)).as("cleaned_head"))
      .withColumn("n_removed", $"n_tokens" - $"n_kept")
      .orderBy($"doc_id")
  }
  val qDedupSubstringSpansSql: String =
    s"""WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS toks,
                len(string_split(text, ' ')) AS n
         FROM documents),
       grams AS (
         SELECT doc_id, i,
                array_to_string(toks[i + 1 : i + $SpanK], ' ') AS shingle
         FROM (SELECT doc_id, toks, CAST(unnest(range(0, n - $SpanK + 1)) AS INT) AS i
               FROM docs WHERE n >= $SpanK)),
       dup AS (
         SELECT shingle FROM grams GROUP BY shingle
         HAVING count(DISTINCT doc_id) > 1),
       covered AS (
         SELECT DISTINCT g.doc_id, g.i + r.off AS idx
         FROM grams g JOIN dup USING (shingle)
         CROSS JOIN (SELECT CAST(unnest(range(0, $SpanK)) AS INT) AS off) r),
       toks AS (
         SELECT doc_id, n, unnest(toks) AS tok,
                CAST(unnest(range(0, n)) AS INT) AS idx
         FROM docs),
       kept AS (
         SELECT t.* FROM toks t
         WHERE NOT EXISTS (SELECT 1 FROM covered c
                           WHERE c.doc_id = t.doc_id AND c.idx = t.idx)),
       agg AS (
         SELECT doc_id, count(*) AS n_kept,
                array_to_string(list(tok ORDER BY idx)[1:10], ' ') AS cleaned_head
         FROM kept GROUP BY doc_id)
       SELECT d.doc_id,
              CAST(d.n AS BIGINT) AS n_tokens,
              COALESCE(a.n_kept, 0) AS n_kept,
              COALESCE(a.cleaned_head, '') AS cleaned_head,
              CAST(d.n AS BIGINT) - COALESCE(a.n_kept, 0) AS n_removed
       FROM docs d LEFT JOIN agg a ON d.doc_id = a.doc_id
       ORDER BY d.doc_id"""

  /** Intra-document repetition metrics (the Gopher repetition rules'
    * n-gram half, Rae et al. 2021 — duplicate n-gram fraction and
    * most-frequent-n-gram share): every emitted number is an integer count,
    * and the 20% flag is a cross-multiplied integer comparison, so the
    * oracle is exact with no float in sight. */
  def q_text_repetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = table(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("toks"))
      .withColumn("n", size($"toks"))
    def grams(k: Int) = docs.filter($"n" >= k)
      .withColumn("i", explode(sequence(lit(0), $"n" - k)))
      .select($"doc_id", concat_ws(" ", slice($"toks", $"i" + 1, lit(k))).as("g"))
    val tri = grams(3).groupBy($"doc_id")
      .agg(count(lit(1)).as("n_3grams"), countDistinct($"g").as("n_distinct_3grams"))
    val bi = grams(2).groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("max_2gram_count"),
        count(lit(1)).as("n_distinct_2grams"))
    tri.join(bi, "doc_id")
      .withColumn("repetitive",
        ($"n_3grams" - $"n_distinct_3grams") * 5 > $"n_3grams")
      .select($"doc_id", $"n_3grams", $"n_distinct_3grams",
        $"max_2gram_count", $"n_distinct_2grams", $"repetitive")
      .orderBy($"doc_id")
  }
  val qTextRepetitionSql: String =
    """WITH d AS (
         SELECT doc_id, string_split(text, ' ') AS toks,
                len(string_split(text, ' ')) AS n
         FROM documents),
       tri AS (
         SELECT doc_id, count(*) AS n_3grams,
                count(DISTINCT g) AS n_distinct_3grams
         FROM (SELECT doc_id,
                 array_to_string(toks[i + 1 : i + 3], ' ') AS g
               FROM (SELECT doc_id, toks,
                       CAST(unnest(range(0, n - 2)) AS INT) AS i
                     FROM d WHERE n >= 3))
         GROUP BY doc_id),
       bi AS (
         SELECT doc_id, CAST(max(c) AS BIGINT) AS max_2gram_count,
                count(*) AS n_distinct_2grams
         FROM (SELECT doc_id, g, count(*) AS c
               FROM (SELECT doc_id,
                       array_to_string(toks[i + 1 : i + 2], ' ') AS g
                     FROM (SELECT doc_id, toks,
                             CAST(unnest(range(0, n - 1)) AS INT) AS i
                           FROM d WHERE n >= 2))
               GROUP BY doc_id, g)
         GROUP BY doc_id)
       SELECT tri.doc_id, n_3grams, n_distinct_3grams,
              max_2gram_count, n_distinct_2grams,
              (n_3grams - n_distinct_3grams) * 5 > n_3grams AS repetitive
       FROM tri JOIN bi ON tri.doc_id = bi.doc_id
       ORDER BY tri.doc_id"""

  type Q = (SparkSession, String) => DataFrame
  val queries: Map[String, Q] = Map(
    "q_text_chunking" -> q_text_chunking _,
    "q_text_pii_scrub" -> q_text_pii_scrub _,
    "q_text_contamination" -> q_text_contamination _,
    "q_text_c4_pipeline" -> q_text_c4_pipeline _,
    "q_text_repetition" -> q_text_repetition _,
    "q_dedup_substring_spans" -> q_dedup_substring_spans _)
  val oracles: Map[String, String] = Map(
    "q_text_chunking" -> qTextChunkingSql,
    "q_text_pii_scrub" -> qTextPiiScrubSql,
    "q_text_contamination" -> qTextContaminationSql,
    "q_text_c4_pipeline" -> qTextC4PipelineSql,
    "q_text_repetition" -> qTextRepetitionSql,
    "q_dedup_substring_spans" -> qDedupSubstringSpansSql)
}
