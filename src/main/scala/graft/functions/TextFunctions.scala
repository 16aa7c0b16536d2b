package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import graft.ext._

/** Text/dedup function bundle (extension track: LLM-data-pipeline ops).
  *
  * The per-row kernels (minhash signatures, simhash, n-gram hashing,
  * fingerprints) are native Catalyst expressions (graft.ext.TextHashExpressions)
  * — one compiled loop per row. Round 1 built them from nested higher-order
  * functions, whose interpreted lambda evaluation made signature computation
  * ~1000x slower; see TextHashExpressions scaladoc. The shuffle-bearing parts
  * (LSH bucket joins) live in the operator layer (graft.operators.Dedup) where
  * partitioning is explicit.
  *
  * Hash family: XXH64 over shingle bytes + Kirsch–Mitzenmacher h1 + i·h2 to
  * derive the k minhash permutations (cf. Broder, "On the resemblance and
  * containment of documents", 1997 — listed in /root/repo/PAPERS.md).
  */
object TextFunctions {

  /** Lowercased whitespace tokens. */
  def tokens(text: Column): Column = split(lower(text), " ")

  /** Distinct word n-gram shingles (n=3) of the token array, as strings
    * (spec/diagnostic surface; the operators join on hashed shingles). */
  def shingles3(toks: Column): Column =
    when(size(toks) >= 3,
      array_distinct(transform(sequence(lit(0), size(toks) - 3), i =>
        concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2), element_at(toks, i + 3)))))
      .otherwise(array_distinct(array(array_join(toks, " "))))

  /** Distinct word-3-gram hashes (array<bigint>) — the scale-path join key:
    * 64-bit keys shuffle much smaller than shingle strings. */
  def shingleHashes3(toks: Column): Column =
    column(WordNGramHashes(expression(toks), 3))

  /** POSITIONAL word-n-gram hashes (array<bigint>, one per window position —
    * NOT distinct-reduced). Bit-identical to
    * `xxhash64(concat_ws(' ', slice(toks, i+1, n)))` per position, without
    * materializing the shingle strings (contamination-scan hot path). */
  def shingleHashSeq(toks: Column, n: Int): Column =
    column(WordNGramHashSeq(expression(toks), n))

  /** BIGINT membership probe against a bounded, driver-collected sorted set
    * (in-row spelling of a broadcast semi/anti join; codegen'd binary search). */
  def longInSet(c: Column, sorted: Array[Long]): Column =
    column(LongInSortedSet(expression(c), sorted))

  /** array<bigint> ∩ sorted set, distinct + sorted (in-row spelling of
    * explode→broadcast-join→collect_list). */
  def arraySetIntersect(c: Column, sorted: Array[Long]): Column =
    column(ArrayLongSetIntersect(expression(c), sorted))

  /** count(DISTINCT members of array<bigint> present in sorted set) — the
    * in-row contamination probe. */
  def arraySetCountDistinct(c: Column, sorted: Array[Long]): Column =
    column(ArrayLongSetCountDistinct(expression(c), sorted))

  /** k-wide minhash signature of a shingle array (array<bigint>, length k). */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    column(MinHashSignature(expression(shingleCol), k))

  /** struct(shs, sig): distinct word-3-gram hashes + k-wide minhash signature
    * in one compiled pass — `sig` is bit-identical to
    * minhashSignature(shingles3(toks), k) for every token array, `shs` to
    * shingleHashes3(toks) for null-free ones (split() output), without the interpreted
    * shingles3 HOF chain or the duplicate string hashing
    * (ext.MinHashShinglesAndSig scaladoc has the equality argument). */
  def minhashShinglesSig(toks: Column, k: Int): Column =
    column(MinHashShinglesAndSig(expression(toks), 3, k))

  /** LSH band keys: hash chain of each r-wide slice of the signature; a shared
    * band key between two docs makes them dedup candidates. */
  def minhashBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    column(MinHashBandKeys(expression(sig), bands, rowsPerBand))

  /** Estimated Jaccard similarity from two minhash signatures: fraction of
    * agreeing positions (codegen'd pair kernel). */
  def minhashSimilarity(sigA: Column, sigB: Column): Column =
    column(MinHashAgreement(expression(sigA), expression(sigB)))

  /** 64-bit simhash packed as 4×16-bit band values (array<bigint>, length 4) —
    * band layout serves both as the fingerprint and as the hamming-LSH key
    * (two docs within hamming distance 3 share ≥1 of 4 bands by pigeonhole). */
  def simhashBands(toks: Column): Column =
    column(SimHashBands(expression(toks)))

  /** Hamming distance between two simhash band arrays. */
  def simhashHamming(a: Column, b: Column): Column =
    column(HammingDistance(expression(a), expression(b)))

  /** Engine-portable 60-bit md5-based simhash fingerprint (see
    * graft.ext.Md5SimHash60) — the oracle-checkable variant. */
  def md5SimHash60(toks: Column): Column =
    column(Md5SimHash60(expression(toks)))

  /** Deterministic polynomial rolling-hash fingerprint of a string
    * (base 31, mod 1e9+7) — reproducible in plain SQL on any engine. */
  def polyFingerprint(text: Column): Column =
    column(PolyFingerprint(expression(text)))

  /** Porter stemmer (reference word_stem; graft.ext.WordStem). */
  def wordStem(text: Column): Column =
    column(WordStem(expression(text)))

  /** SQL surface for the custom expressions (mirrors the reference's
    * GlobalFunctionCatalog registration, reference:
    * core/trino-main/src/main/java/io/trino/metadata/SystemFunctionBundle.java:385). */
  def register(spark: SparkSession): Unit = {
    val r = spark.sessionState.functionRegistry
    r.createOrReplaceTempFunction("minhash_agreement",
      es => MinHashAgreement(es(0), es(1)), "built-in")
    r.createOrReplaceTempFunction("hamming_distance",
      es => HammingDistance(es(0), es(1)), "built-in")
    r.createOrReplaceTempFunction("poly_fingerprint",
      es => PolyFingerprint(es(0)), "built-in")
    r.createOrReplaceTempFunction("simhash_bands",
      es => SimHashBands(es(0)), "built-in")
    r.createOrReplaceTempFunction("word_stem",
      es => WordStem(es(0)), "built-in")
  }
}
