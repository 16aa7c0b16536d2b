package graft.ext

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text-dedup hot path.
  *
  * Round-1 built minhash/simhash from nested higher-order functions
  * (transform/aggregate lambdas). Spark evaluates HOF lambdas interpreted —
  * they are CodegenFallback — so a k=64 signature over s shingles costs
  * ~64·s interpreted expression-node evaluations per row; at sf0.1 that made
  * q_dedup_minhash take 511 s. These expressions do the same math as one
  * compiled JVM loop per row (the reference similarly implements its hot
  * per-row kernels as compiled bytecode, cf. reference:
  * core/trino-main/src/main/java/io/trino/sql/gen/PageFunctionCompiler.java:103).
  *
  * Hashing: XXH64 (Spark's own `xxhash64` kernel) on shingle UTF-8 bytes, with
  * the Kirsch–Mitzenmacher scheme h_i = h1 + i·h2 to derive the k minhash
  * permutations from two base hashes (Broder 1997; see /root/repo/PAPERS.md).
  *
  * The array-producing expressions are eval-based (CodegenFallback): the
  * per-row work is a compiled loop over the array, so the single virtual
  * eval() call per row is noise. The scalar pair-kernels (agreement, hamming)
  * sit inside the candidate join — the true hot path — and get full codegen.
  */
object TextHash {
  final val SeedA = 42L
  final val SeedB = 0x9747b28cL

  def hashUtf8(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)

  /** Distinct word n-gram hashes of a token array (join key for exact
    * n-gram Jaccard: 64-bit keys shuffle ~6x smaller than shingle strings). */
  def ngramHashes(toks: ArrayData, n: Int): GenericArrayData = {
    val sz = toks.numElements()
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    if (sz < n) {
      // short-doc fallback: one shingle = the whole token sequence
      seen.add(hashUtf8(joinTokens(toks, 0, sz), SeedA))
    } else {
      var i = 0
      while (i <= sz - n) {
        seen.add(hashUtf8(joinTokens(toks, i, n), SeedA))
        i += 1
      }
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  /** POSITIONAL n-gram hashes (length = tokens−n+1, not distinct-reduced):
    * hash of the space-joined n-gram at every position, bit-identical to
    * `xxhash64(concat_ws(' ', slice(toks, i+1, n)))` (Spark's xxhash64 on a
    * string = XXH64 over its UTF-8 bytes, seed 42 = SeedA) — but computed by
    * copying token bytes into ONE reusable byte buffer per row instead of
    * materializing every shingle as a UTF8String. The round-12 verdict
    * measured the concat_ws materialization as the only work-dominated bench
    * entry above the 2× letter (q_text_contamination); at 100 TB the
    * transient shingle strings are pure allocation pressure. */
  def ngramHashSeq(toks: ArrayData, n: Int): GenericArrayData = {
    val sz = toks.numElements()
    if (sz < n) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](sz - n + 1)
    var buf = new Array[Byte](256)
    val base = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
    var i = 0
    while (i <= sz - n) {
      var pos = 0
      var j = 0
      var wrote = false // concat_ws skips null elements AND their separators
      while (j < n) {
        val t = toks.getUTF8String(i + j)
        if (t != null) {
          val tb = t.numBytes
          if (pos + tb + 1 > buf.length)
            buf = java.util.Arrays.copyOf(buf, math.max(pos + tb + 1, buf.length * 2))
          if (wrote) { buf(pos) = ' '.toByte; pos += 1 }
          t.writeToMemory(buf, base + pos)
          pos += tb
          wrote = true
        }
        j += 1
      }
      out(i) = XXH64.hashUnsafeBytes(buf, base, pos, SeedA)
      i += 1
    }
    new GenericArrayData(out)
  }

  def joinTokens(toks: ArrayData, start: Int, len: Int): UTF8String = {
    val parts = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      val t = toks.getUTF8String(start + i)
      parts(i) = if (t == null) UTF8String.EMPTY_UTF8 else t
      i += 1
    }
    UTF8String.concatWs(UTF8String.fromString(" "), parts: _*)
  }
}

/** array<string> tokens → array<long> distinct word-n-gram hashes. */
case class WordNGramHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_ngram_hashes"

  override def nullSafeEval(input: Any): Any =
    TextHash.ngramHashes(input.asInstanceOf[ArrayData], n)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<string> tokens → array<long> POSITIONAL word-n-gram hashes (one per
  * window position, not distinct-reduced) — the string-free contamination
  * shingle kernel (TextHash.ngramHashSeq). */
case class WordNGramHashSeq(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_ngram_hash_seq"

  override def nullSafeEval(input: Any): Any =
    TextHash.ngramHashSeq(input.asInstanceOf[ArrayData], n)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<string> shingles → array<long> k-wide minhash signature.
  * One pass: per shingle two XXH64 base hashes, then k rolling h1 + i·h2
  * candidates folded into the running minima — O(s·k) long ops, no strings
  * beyond the input, no intermediate arrays. */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any = {
    val shingles = input.asInstanceOf[ArrayData]
    val mins = Array.fill[Long](k)(Long.MaxValue)
    val sz = shingles.numElements()
    var s = 0
    while (s < sz) {
      val sh = shingles.getUTF8String(s)
      if (sh != null) {
        val h1 = TextHash.hashUtf8(sh, TextHash.SeedA)
        val h2 = TextHash.hashUtf8(sh, TextHash.SeedB)
        var h = h1
        var i = 0
        while (i < k) {
          if (h < mins(i)) mins(i) = h
          h += h2 // h1 + i*h2, computed incrementally
          i += 1
        }
      }
      s += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<string> tokens → struct(shs: array<long>, sig: array<long>):
  * the distinct word-n-gram hashes AND the k-wide minhash signature in ONE
  * compiled pass over the token array.
  *
  * `sig` is bit-identical to `MinHashSignature(shingles3(toks), k)` for
  * every input: windows join like concat_ws, skipping null tokens and their
  * separators. `shs` hashes the same window strings, so it equals
  * `WordNGramHashes(toks, n)` (which joins a null as an empty token) on
  * null-free arrays — every array `tokens()` (`split`) produces. The legacy
  * spelling paid, per row: an interpreted `transform` + `concat_ws` +
  * `array_distinct` HOF chain materializing every shingle as a UTF8String
  * (shingles3 — HOF lambdas are CodegenFallback, evaluated node-by-node),
  * then TWO more XXH64 passes over each shingle string inside
  * MinHashSignature — when WordNGramHashes had already joined and SeedA-hashed
  * the identical windows in a compiled loop. Here each window is joined once
  * into a reusable byte buffer (zero per-shingle allocation), hashed with
  * SeedA (the shingle identity) and SeedB (the second minhash base), and
  * folded into the running minima.
  *
  * Signature equality argument: MinHashSignature folds the k chains
  * h1 + i·h2 of every DISTINCT shingle string into positionwise minima.
  * This kernel folds the chains of every POSITIONAL window — duplicate
  * windows have identical bytes, hence identical (h1, h2), hence identical
  * chains, and min is idempotent — so the minima are exactly equal, with no
  * dependence on hash-collision behavior. `shs` keeps WordNGramHashes'
  * first-occurrence order (LinkedHashSet). Spec: TextKernelFusionSpec
  * proves both fields equal the legacy spelling on the documents fixtures.
  */
case class MinHashShinglesAndSig(child: Expression, n: Int, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1 && k >= 1)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${other.simpleString}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("shs", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false)))
  override def prettyName: String = "minhash_shingles_sig"

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val sz = toks.numElements()
    val mins = Array.fill[Long](k)(Long.MaxValue)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var buf = new Array[Byte](256)
    val base = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET

    // join toks[start, start+len) with ' ' into buf, skipping null tokens
    // AND their separators — concat_ws / array_join semantics, as shingles3
    // spells the window
    def fill(start: Int, len: Int): Int = {
      var pos = 0
      var wrote = false
      var j = 0
      while (j < len) {
        val t = toks.getUTF8String(start + j)
        if (t != null) {
          val tb = t.numBytes
          if (pos + tb + 1 > buf.length)
            buf = java.util.Arrays.copyOf(buf, math.max(pos + tb + 1, buf.length * 2))
          if (wrote) { buf(pos) = ' '.toByte; pos += 1 }
          t.writeToMemory(buf, base + pos)
          pos += tb
          wrote = true
        }
        j += 1
      }
      pos
    }
    def absorb(start: Int, len: Int): Unit = {
      val bytes = fill(start, len)
      val h1 = XXH64.hashUnsafeBytes(buf, base, bytes, TextHash.SeedA)
      seen.add(h1)
      val h2 = XXH64.hashUnsafeBytes(buf, base, bytes, TextHash.SeedB)
      var h = h1
      var i = 0
      while (i < k) {
        if (h < mins(i)) mins(i) = h
        h += h2 // h1 + i·h2, computed incrementally
        i += 1
      }
    }
    if (sz < n) absorb(0, sz)
    else {
      var i = 0
      while (i <= sz - n) { absorb(i, n); i += 1 }
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](new GenericArrayData(out), new GenericArrayData(mins)))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<long> signature → array<long> LSH band keys: band b is an XXH64
  * chain over its r-wide signature slice (equal slice ⇒ equal key). */
case class MinHashBandKeys(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<BIGINT>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_band_keys"

  override def nullSafeEval(input: Any): Any = {
    val sig = input.asInstanceOf[ArrayData]
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = b.toLong
      var i = 0
      while (i < rowsPerBand) {
        val idx = b * rowsPerBand + i
        if (idx < sig.numElements()) acc = XXH64.hashLong(sig.getLong(idx), acc)
        i += 1
      }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fraction of agreeing positions between two equal-length signatures —
  * the minhash Jaccard estimate. Fully codegen'd: it runs once per candidate
  * pair inside the LSH join, the hottest loop of the dedup pipeline. */
case class MinHashAgreement(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<BIGINT> arguments")
  }
  override def dataType: DataType = DoubleType
  // empty signatures yield null for non-null input — not null-intolerant
  override def nullIntolerant: Boolean = false
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_agreement"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var eq = 0; var i = 0
    while (i < n) { if (x.getLong(i) == y.getLong(i)) eq += 1; i += 1 }
    if (n == 0) null else java.lang.Double.valueOf(eq.toDouble / n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val eq = ctx.freshName("eq"); val i = ctx.freshName("i")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        int $eq = 0;
        for (int $i = 0; $i < $n; $i++) {
          if ($a.getLong($i) == $b.getLong($i)) $eq++;
        }
        if ($n == 0) { ${ev.isNull} = true; }
        else { ${ev.value} = ((double) $eq) / $n; }
      """
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** array<string> tokens → array<long>(4) of 16-bit simhash bands.
  * Majority vote per bit over distinct token hashes; band t packs bit
  * positions [16t, 16t+15] MSB-first. Two docs within hamming distance 3
  * share at least one band key (pigeonhole) — the hamming-LSH join key. */
case class SimHashBands(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "simhash_bands"

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val seen = new java.util.HashSet[java.lang.Long]()
    val votes = new Array[Int](64)
    val sz = toks.numElements()
    var i = 0
    while (i < sz) {
      val t = toks.getUTF8String(i)
      if (t != null) {
        val h = TextHash.hashUtf8(t, TextHash.SeedA)
        if (seen.add(h)) {
          var bit = 0
          while (bit < 64) {
            if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
            bit += 1
          }
        }
      }
      i += 1
    }
    val out = new Array[Long](4)
    var band = 0
    while (band < 4) {
      var acc = 0L
      var j = 0
      while (j < 16) {
        acc = acc * 2 + (if (votes(band * 16 + j) > 0) 1L else 0L)
        j += 1
      }
      out(band) = acc
      band += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<string> tokens → 60-bit md5-based simhash fingerprint (LongType).
  *
  * Engine-portable by construction: the per-token hash is the numeric value of
  * the first 15 hex chars of md5(token) — reproducible in any engine with an
  * md5() function — so the DuckDB oracle recomputes the identical fingerprint
  * in SQL (graft.operators.Dedup.qDedupSimhashSql). Majority vote per bit over
  * DISTINCT tokens; bit b is set iff the vote sum at b is >= 0. Packed as
  * 4 bands × 15 bits, hamming <= 3 pairs share ≥1 band (pigeonhole).
  *
  * The xxhash-based SimHashBands above remains the raw-throughput kernel; this
  * variant trades ~2x token-hash cost for cross-engine verifiability. */
case class Md5SimHash60(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_simhash60"

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val md = Md5SimHash60.digest.get()
    val seen = new java.util.HashSet[UTF8String]()
    val votes = new Array[Int](60)
    val sz = toks.numElements()
    var i = 0
    while (i < sz) {
      val t = toks.getUTF8String(i)
      if (t != null && seen.add(t)) {
        md.reset()
        val d = md.digest(t.getBytes)
        // value of the first 15 hex chars: bytes 0..6 (56 bits) + high nibble of byte 7
        var v = 0L
        var k = 0
        while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
        v = (v << 4) | ((d(7) >> 4) & 0xfL)
        var bit = 0
        while (bit < 60) {
          if (((v >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
          bit += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 60) { if (votes(b) >= 0) fp |= (1L << b); b += 1 }
    java.lang.Long.valueOf(fp)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5SimHash60 {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
}

/** Total hamming distance between two band arrays (popcount of xor). */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<BIGINT> arguments")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "hamming_distance"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var d = 0L; var i = 0
    while (i < n) { d += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i)); i += 1 }
    java.lang.Long.valueOf(d)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val d = ctx.freshName("d"); val i = ctx.freshName("i")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        long $d = 0L;
        for (int $i = 0; $i < $n; $i++) {
          $d += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
        }
        ${ev.value} = $d;
      """
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** BIGINT ∈ sorted-long-set membership — the in-row spelling of a broadcast
  * semi/anti join against a bounded driver-collected dictionary (e.g. the
  * DF-cutoff stop-shingle list of the n-gram dedup inverted index: at most
  * total_shingles/(0.02·ndocs) ≈ 50·avg_shingles_per_doc entries at ANY
  * corpus size, so collecting it is O(bounded), not O(data)). The sorted
  * array rides the task binary (itself torrent-broadcast by Spark), and the
  * probe is a zero-allocation binary search inside whole-stage codegen. */
case class LongInSortedSet(child: Expression, sorted: Array[Long])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BIGINT, got ${other.simpleString}")
  }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "long_in_sorted_set"

  override def nullSafeEval(input: Any): Any =
    java.lang.Boolean.valueOf(
      java.util.Arrays.binarySearch(sorted, input.asInstanceOf[Long]) >= 0)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arr = ctx.addReferenceObj("sortedSet", sorted, "long[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = java.util.Arrays.binarySearch($arr, $v) >= 0;")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<bigint> → the (distinct, sorted) members present in a sorted long
  * set — the in-row spelling of "intersect this doc's shingle set with the
  * bounded common-shingle dictionary" (replaces an explode + broadcast join
  * + collect_list groupBy: three operators and a shuffle become one map). */
case class ArrayLongSetIntersect(child: Expression, sorted: Array[Long])
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<BIGINT>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "array_long_set_intersect"

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val hits = new java.util.TreeSet[java.lang.Long]()
    val n = xs.numElements()
    var i = 0
    while (i < n) {
      val v = xs.getLong(i)
      if (java.util.Arrays.binarySearch(sorted, v) >= 0) hits.add(v)
      i += 1
    }
    val out = new Array[Long](hits.size)
    val it = hits.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<bigint> → count of DISTINCT members present in a sorted long set —
  * the in-row spelling of `countDistinct` after a broadcast semi join (the
  * contamination scan: the held-out benchmark's shingle-hash set is bounded
  * and driver-collected; each corpus doc probes it in one compiled loop, so
  * the corpus is never exploded, joined, or shuffled). */
case class ArrayLongSetCountDistinct(child: Expression, sorted: Array[Long])
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<BIGINT>, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "array_long_set_count_distinct"

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val hits = new java.util.HashSet[java.lang.Long]()
    val n = xs.numElements()
    var i = 0
    while (i < n) {
      val v = xs.getLong(i)
      if (java.util.Arrays.binarySearch(sorted, v) >= 0) hits.add(v)
      i += 1
    }
    java.lang.Long.valueOf(hits.size.toLong)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Polynomial rolling-hash fingerprint over code points:
  * acc = (acc·31 + codepoint) mod 1e9+7 — arithmetic identical to the plain-SQL
  * formulation the DuckDB oracle runs, but one compiled loop per row instead of
  * a per-character interpreted transform. */
case class PolyFingerprint(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_fingerprint"

  override def nullSafeEval(input: Any): Any = {
    val str = input.asInstanceOf[UTF8String].toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    java.lang.Long.valueOf(acc)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
