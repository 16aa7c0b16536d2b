package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Text analysis operators (extension track: language-ID, quality scoring,
  * token counting, document fingerprinting) over `documents`.
  *
  * All per-row codegen'd expressions — at 100 TB this is a pure map stage that
  * scales linearly with input splits; the only shuffle is the final ORDER BY
  * (and in production these feed filters, not sorts).
  */
object TextAnalysis {

  def q_text_stats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents")
      .filter($"doc_id" < 200)
      .withColumn("toks", tokens($"text"))
      .select($"doc_id",
        length($"text").cast("long").as("n_chars"),
        size($"toks").cast("long").as("n_tokens"),
        size(array_distinct($"toks")).cast("long").as("n_distinct_tokens"),
        round(length(regexp_replace($"text", " ", "")).cast("double") / size($"toks"), 6).as("avg_token_len"),
        (size(array_distinct($"toks")).cast("double") / size($"toks")).as("ttr"),
        length(regexp_replace($"text", "[a-z ]", "")).cast("long").as("n_nonalpha"))
      .orderBy($"doc_id")
  }
  val qTextStatsSql: String =
    """SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(lower(text), ' '))) AS BIGINT) AS n_distinct_tokens,
       round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(lower(text), ' ')), 6) AS avg_token_len,
       CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE) / len(string_split(lower(text), ' ')) AS ttr,
       CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS BIGINT) AS n_nonalpha
       FROM documents WHERE doc_id < 200 ORDER BY doc_id"""

  /** Heuristic quality score: length band + type-token ratio + stopword presence
    * (the shape of a C4/Gopher-style rule filter, arithmetically portable). */
  def q_text_quality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stop = Seq("the", "a", "of", "and", "to")
    table(s, dir, "documents")
      .withColumn("toks", tokens($"text"))
      .withColumn("n_tokens", size($"toks").cast("double"))
      .withColumn("stop_hits", size(filter($"toks", t => t.isin(stop: _*))).cast("double"))
      .withColumn("ttr", size(array_distinct($"toks")).cast("double") / $"n_tokens")
      .withColumn("len_score",
        when($"n_tokens" >= 20 && $"n_tokens" <= 200, 1.0d)
          .otherwise(when($"n_tokens" < 20, $"n_tokens" / 20.0).otherwise(lit(200.0) / $"n_tokens")))
      .withColumn("stop_score", least($"stop_hits" / $"n_tokens" / 0.05, lit(1.0d)))
      .withColumn("quality", round(($"len_score" + $"stop_score" + $"ttr") / 3.0, 6))
      .select($"doc_id", $"quality",
        round($"len_score", 6).as("len_score"),
        round($"stop_score", 6).as("stop_score"),
        round($"ttr", 6).as("ttr"))
      .orderBy($"doc_id")
  }
  val qTextQualitySql: String =
    """WITH t AS (
         SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
       m AS (
         SELECT doc_id,
           CAST(len(toks) AS DOUBLE) AS n_tokens,
           CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) AS DOUBLE) AS stop_hits,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
         FROM t),
       sc AS (
         SELECT doc_id, ttr,
           CASE WHEN n_tokens >= 20 AND n_tokens <= 200 THEN 1.0
                WHEN n_tokens < 20 THEN n_tokens / 20.0
                ELSE 200.0 / n_tokens END AS len_score,
           least(stop_hits / n_tokens / 0.05, 1.0) AS stop_score
         FROM m)
       SELECT doc_id, round((len_score + stop_score + ttr) / 3.0, 6) AS quality,
         round(len_score, 6) AS len_score, round(stop_score, 6) AS stop_score,
         round(ttr, 6) AS ttr
       FROM sc ORDER BY doc_id"""

  /** Stopword-dictionary language ID; deterministic argmax with fixed tie order. */
  def q_text_langid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def hits(words: Seq[String]) =
      (c: org.apache.spark.sql.Column) => size(filter(c, t => t.isin(words: _*))).cast("long")
    table(s, dir, "documents")
      .withColumn("toks", tokens($"text"))
      .withColumn("en", hits(Seq("the", "and", "of", "to", "a"))($"toks"))
      .withColumn("de", hits(Seq("der", "die", "das", "und", "nicht"))($"toks"))
      .withColumn("es", hits(Seq("el", "la", "de", "y", "que"))($"toks"))
      .withColumn("fr", hits(Seq("le", "la", "et", "les", "des"))($"toks"))
      .withColumn("predicted",
        when($"en" >= $"de" && $"en" >= $"es" && $"en" >= $"fr" && $"en" > 0, "en")
          .when($"de" >= $"es" && $"de" >= $"fr" && $"de" > 0, "de")
          .when($"es" >= $"fr" && $"es" > 0, "es")
          .when($"fr" > 0, "fr")
          .otherwise("unknown"))
      .select($"doc_id", $"lang", $"predicted", $"en", $"de", $"es", $"fr",
        ($"lang" === $"predicted").as("match"))
      .orderBy($"doc_id")
  }
  val qTextLangidSql: String =
    """WITH t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS toks FROM documents),
       h AS (
         SELECT doc_id, lang,
           CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','a'))) AS BIGINT) AS en,
           CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','nicht'))) AS BIGINT) AS de,
           CAST(len(list_filter(toks, x -> x IN ('el','la','de','y','que'))) AS BIGINT) AS es,
           CAST(len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS BIGINT) AS fr
         FROM t)
       SELECT doc_id, lang,
         CASE WHEN en >= de AND en >= es AND en >= fr AND en > 0 THEN 'en'
              WHEN de >= es AND de >= fr AND de > 0 THEN 'de'
              WHEN es >= fr AND es > 0 THEN 'es'
              WHEN fr > 0 THEN 'fr'
              ELSE 'unknown' END AS predicted,
         en, de, es, fr,
         lang = (CASE WHEN en >= de AND en >= es AND en >= fr AND en > 0 THEN 'en'
              WHEN de >= es AND de >= fr AND de > 0 THEN 'de'
              WHEN es >= fr AND es > 0 THEN 'es'
              WHEN fr > 0 THEN 'fr'
              ELSE 'unknown' END) AS match
       FROM h ORDER BY doc_id"""

  /** Polynomial rolling-hash fingerprint (base 31 mod 1e9+7) + duplicate-
    * fingerprint accounting — portable arithmetic, so fully oracle-checked. */
  def q_text_fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents")
      .filter($"doc_id" < 200)
      .withColumn("fp", polyFingerprint($"text"))
      .select($"doc_id", $"fp", ($"fp" % 1024).as("fp_bucket"))
      .orderBy($"doc_id")
  }
  val qTextFingerprintSql: String =
    """SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
         [CAST(ascii(text[i]) AS BIGINT) for i in range(1, length(text) + 1)]),
         (acc, c) -> (acc * 31 + c) % 1000000007) AS fp,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
         [CAST(ascii(text[i]) AS BIGINT) for i in range(1, length(text) + 1)]),
         (acc, c) -> (acc * 31 + c) % 1000000007) % 1024 AS fp_bucket
       FROM documents WHERE doc_id < 200 ORDER BY doc_id"""

  /** Token counting two ways (brief requirement): whitespace tokens and a
    * BPE-ish regex segmentation (GPT-2-style pretokenizer shape: contraction
    * suffixes, space-prefixed letter runs, digit runs, punctuation runs) —
    * the per-document token-count estimator a training-data pipeline uses.
    * Pure codegen'd regex per row; identical RE2/Java semantics for this
    * pattern subset, so fully oracle-checked. */
  def q_text_tokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pat = "'(?:s|d|m|t|ll|ve|re)| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9']+"
    table(s, dir, "documents")
      .filter($"doc_id" < 300)
      .withColumn("t", lower($"text"))
      .withColumn("bpe", regexp_extract_all($"t", lit(pat), lit(0)))
      .select($"doc_id",
        size(split($"t", " ")).cast("long").as("n_ws_tokens"),
        size($"bpe").cast("long").as("n_bpe_tokens"),
        round(length($"t").cast("double") / size($"bpe"), 6).as("chars_per_token"),
        concat_ws("|", slice($"bpe", 1, 5)).as("head_tokens"))
      .orderBy($"doc_id")
  }
  val qTextTokensSql: String =
    """WITH t AS (SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id < 300),
       b AS (SELECT doc_id, t,
         regexp_extract_all(t, '''(?:s|d|m|t|ll|ve|re)| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9'']+') AS bpe
         FROM t)
       SELECT doc_id,
         CAST(len(string_split(t, ' ')) AS BIGINT) AS n_ws_tokens,
         CAST(len(bpe) AS BIGINT) AS n_bpe_tokens,
         round(CAST(length(t) AS DOUBLE) / len(bpe), 6) AS chars_per_token,
         array_to_string(bpe[1:5], '|') AS head_tokens
       FROM b ORDER BY doc_id"""

  /** Distributed BPE tokenizer TRAINING (the real merge-learning loop a
    * tokenizer pipeline runs, not the regex stand-in of q_text_tokens):
    * start from characters + an end-of-word marker over the corpus word
    * frequencies, then for R rounds (1) count adjacent symbol pairs in one
    * distributed aggregation, (2) pick the most frequent pair (ties broken
    * lexicographically — fully deterministic), (3) apply the merge to
    * every word with a codegen'd `aggregate` fold (leftmost,
    * non-overlapping — standard BPE application). Only the R-row merge
    * table ever reaches the driver (it IS the model artifact); the corpus
    * stays partitioned through every round.
    *
    * The oracle replays ALL R rounds in DuckDB as chained CTEs — pair
    * counting over split symbol strings, argmax with the same tie-break,
    * and the same leftmost fold via `list_reduce` over pipe-joined
    * symbols — so the learned merges AND the post-merge corpus token
    * count are verified end-to-end, round by round. */
  /** Shared BPE training loop: returns the final per-word state
    * (w, freq, toks) and the learned merge table. */
  private def trainBpe(s: SparkSession, dir: String,
      rounds: Int): (DataFrame, Seq[(Int, String, Long)]) = {
    import s.implicits._
    var words = table(s, dir, "documents")
      .select(explode(split(lower($"text"), "[^a-z]+")).as("w"))
      .filter(length($"w").between(2, 12))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .select($"w", $"freq", concat(split($"w", ""), array(lit("</w>"))).as("toks"))
      .localCheckpoint(eager = true)
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
    for (r <- 1 to rounds) {
      val best = words
        .select($"freq", explode(expr(
          "transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i]))")).as("pair"))
        .groupBy($"pair").agg(sum($"freq").as("cnt"))
        .orderBy($"cnt".desc, $"pair".asc)
        .limit(1).head()
      val pair = best.getString(0); val cnt = best.getLong(1)
      merges += ((r, pair, cnt))
      val Array(a, b) = pair.split(" ", 2)
      val merged = concat(lit(a), lit(b))
      val next = words.select($"w", $"freq",
          aggregate($"toks", array().cast("array<string>"),
            (acc, x) => when(size(acc) > 0 &&
                element_at(acc, -1) === a && x === b,
              concat(slice(acc, lit(1), size(acc) - 1), array(merged)))
              .otherwise(concat(acc, array(x)))).as("toks"))
        .localCheckpoint(eager = true)
      // round r is materialized with its lineage cut: round r-1's blocks
      // have no reader left
      graft.engine.Checkpoints.release(words)
      words = next
    }
    (words, merges.toSeq)
  }

  def q_text_bpe_train(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rounds = 8
    val (words, merges0) = trainBpe(s, dir, rounds)
    val merges = merges0
    val totalTokens = words
      .agg(sum($"freq" * size($"toks"))).head().getLong(0)
    val rows = merges.toSeq.map { case (r, p, c) => (r, p, c) } :+
      ((99, "TOTAL_TOKENS", totalTokens))
    s.createDataFrame(rows).toDF("round", "pair", "cnt")
      .orderBy($"round")
  }
  val qTextBpeTrainSql: String = {
    val rounds = 8
    val sb = new StringBuilder
    sb.append(
      """WITH w0 AS (
           SELECT w, freq, '|' || regexp_replace(w, '(.)', '\1|', 'g') || '</w>' AS tok
           FROM (
             SELECT w, count(*) AS freq FROM (
               SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
               FROM documents)
             WHERE len(w) BETWEEN 2 AND 12 GROUP BY w))""")
    // w0 tok = "|c|h|a|r|</w>" (leading sentinel pipe; split drops it)
    for (r <- 1 to rounds) {
      val prev = s"w${r - 1}"
      sb.append(s""",
         p$r AS (
           SELECT p AS pair, sum(freq) AS cnt FROM (
             SELECT freq, unnest([sp[i] || ' ' || sp[i+1] for i in range(1, len(sp))]) AS p
             FROM (SELECT freq, string_split(ltrim(tok, '|'), '|') AS sp FROM $prev))
           GROUP BY p),
         b$r AS (
           SELECT split_part(pair, ' ', 1) AS ba, split_part(pair, ' ', 2) AS bb,
                  pair, cnt
           FROM p$r ORDER BY cnt DESC, pair ASC LIMIT 1),
         w$r AS (
           SELECT w, freq,
             list_reduce(list_prepend('', string_split(ltrim(tok, '|'), '|')),
               (acc, x) -> CASE
                 WHEN regexp_extract(acc, '([^|]+)$$', 1) = ba AND x = bb
                 THEN acc || x
                 ELSE acc || '|' || x END) AS tok
           FROM $prev CROSS JOIN b$r)""")
    }
    val mergeRows = (1 to rounds)
      .map(r => s"SELECT $r AS round, pair, CAST(cnt AS BIGINT) AS cnt FROM b$r")
      .mkString("\n         UNION ALL ")
    sb.append(s"""
       $mergeRows
       UNION ALL
       SELECT 99, 'TOTAL_TOKENS',
         CAST(sum(freq * len(string_split(ltrim(tok, '|'), '|'))) AS BIGINT)
       FROM w$rounds
       ORDER BY round""")
    sb.toString
  }

  /** BPE APPLY: tokenize each document with the learned merge table —
    * the train→apply loop closed. The per-word merged state doubles as
    * the tokenizer (word → its BPE token count); per-document counts are
    * one join + aggregation away. Oracle: the same chained-CTE replay,
    * joined back to each document's words. */
  def q_text_bpe_tokenize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (words, _) = trainBpe(s, dir, rounds = 8)
    val vocab = words.select($"w", size($"toks").cast("long").as("n_bpe"))
    table(s, dir, "documents")
      .filter($"doc_id" < 300)
      .select($"doc_id", explode(split(lower($"text"), "[^a-z]+")).as("w"))
      .filter(length($"w").between(2, 12))
      .join(vocab, "w")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"), sum($"n_bpe").as("n_bpe_tokens"))
      .orderBy($"doc_id")
  }
  val qTextBpeTokenizeSql: String = {
    val ctes = qTextBpeTrainSql.substring(0,
      qTextBpeTrainSql.indexOf("\n       SELECT 1 AS round"))
    s"""$ctes,
       vocab AS (
         SELECT w, CAST(len(string_split(ltrim(tok, '|'), '|')) AS BIGINT) AS n_bpe
         FROM w8),
       dw AS (
         SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
         FROM documents WHERE doc_id < 300)
       SELECT doc_id, count(*) AS n_words, CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens
       FROM dw JOIN vocab USING (w)
       WHERE len(w) BETWEEN 2 AND 12
       GROUP BY doc_id ORDER BY doc_id"""
  }

  /** URL canonicalization dedup — a crawl pipeline's first dedup pass
    * (reference URL family: core/trino-main operator/scalar/UrlFunctions
    * .java url_extract_protocol/host/port/path): URLs synthesized
    * deterministically from the fixture, canonicalized (lowercase scheme +
    * host, default port and tracking query params dropped), grouped to one
    * keeper per canonical URL. Pure in-row string kernels + one hash
    * aggregation on the canonical key — the same shape at any corpus
    * size. */
  def q_text_url_canonical(s: SparkSession, dir: String): DataFrame = {
    graft.sqlx.TrinoDialect.sql(s, dir,
      """WITH u AS (
           SELECT doc_id,
             'HTTPS://' || upper(source) || '.Example.com:443/p/' ||
             CAST(doc_id % 40 AS varchar) || '?utm_source=feed&ref=' || lang AS url
           FROM documents),
         c AS (
           SELECT doc_id,
             lower(url_extract_protocol(url)) || '://' ||
             lower(url_extract_host(url)) || url_extract_path(url) AS canon,
             url_extract_port(url) AS port,
             url_extract_parameter(url, 'utm_source') AS utm
           FROM u)
         SELECT canon, count(*) AS n, min(doc_id) AS keeper,
                min(port) AS port, min(utm) AS utm
         FROM c GROUP BY canon ORDER BY canon""")
  }
  val qTextUrlCanonicalSql: String =
    """WITH u AS (
         SELECT doc_id,
           'HTTPS://' || upper(source) || '.Example.com:443/p/' ||
           CAST(doc_id % 40 AS VARCHAR) || '?utm_source=feed&ref=' || lang AS url
         FROM documents),
       c AS (
         SELECT doc_id,
           lower(regexp_extract(url, '^([a-zA-Z]+)://', 1)) || '://' ||
           lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?]+)', 1)) ||
           regexp_extract(url, '^[a-zA-Z]+://[^/?]+(/[^?]*)', 1) AS canon,
           CAST(443 AS BIGINT) AS port,
           'feed' AS utm
         FROM u)
       SELECT canon, count(*) AS n, min(doc_id) AS keeper,
              min(port) AS port, min(utm) AS utm
       FROM c GROUP BY canon ORDER BY canon"""

  val queries: Map[String, Q] = Map(
    "q_text_url_canonical" -> q_text_url_canonical _,
    "q_text_bpe_train" -> q_text_bpe_train _,
    "q_text_bpe_tokenize" -> q_text_bpe_tokenize _,
    "q_text_tokens" -> q_text_tokens _,
    "q_text_stats" -> q_text_stats _,
    "q_text_quality" -> q_text_quality _,
    "q_text_langid" -> q_text_langid _,
    "q_text_fingerprint" -> q_text_fingerprint _)

  val oracles: Map[String, String] = Map(
    "q_text_url_canonical" -> qTextUrlCanonicalSql,
    "q_text_bpe_train" -> qTextBpeTrainSql,
    "q_text_bpe_tokenize" -> qTextBpeTokenizeSql,
    "q_text_tokens" -> qTextTokensSql,
    "q_text_stats" -> qTextStatsSql,
    "q_text_quality" -> qTextQualitySql,
    "q_text_langid" -> qTextLangidSql,
    "q_text_fingerprint" -> qTextFingerprintSql)
}
