package graft.functions

import org.apache.spark.sql.{Column, functions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd shingling + MinHash primitives.
  *
  * The higher-order-function formulation (split → transform → slice →
  * array_join → array_distinct, then k minhash passes) runs interpreted
  * per-element lambdas — measured ~3s per pass over 5000 docs at sf0.1.
  * These expressions do the same work in one fused primitive loop inside
  * whole-stage codegen, cheap enough that dedup pipelines RECOMPUTE
  * shingles instead of caching them — the right trade at 100 TB, where
  * persisting a corpus-sized shingle table is not an option.
  *
  * Hash design: word w -> xxhash64(bytes); n-gram -> seed-chained
  * XXH64.hashLong over the n word hashes (order-sensitive, injective whp
  * on word tuples, so set sizes / intersections — and hence Jaccard —
  * equal the string-shingle formulation's exactly).
  */
case class ShingleHash64(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "shingle size must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingle_hash64 requires string, got ${t.catalogString}")
  }

  override def nullSafeEval(text: Any): Any =
    ShingleHash64.compute(text.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleHash64.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHash64 =
    copy(child = newChild)
}

object ShingleHash64 {
  final val WordSeed = 42L

  private[functions] def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' ||
      b == 0x0B // vertical tab — Java regex \s (TextOps.words) includes it

  /** XXH64 of each whitespace-split word, in document order (exact-length
    * array). Empty/all-whitespace text yields the one empty-word hash —
    * the [''] artifact `split(trim(x), "\\s+")` produces, so positional
    * consumers line up with TextOps.words exactly. */
  private[functions] def wordHashes(text: UTF8String): Array[Long] = {
    val bytes = text.numBytes
    val base = text.getBaseObject
    val off = text.getBaseOffset
    var wordCount = 0
    var words = new Array[Long](math.max(8, bytes / 4))
    var i = 0
    while (i < bytes) {
      while (i < bytes && isSpace(text.getByte(i))) i += 1
      if (i < bytes) {
        val start = i
        while (i < bytes && !isSpace(text.getByte(i))) i += 1
        if (wordCount == words.length) words = java.util.Arrays.copyOf(words, words.length * 2)
        words(wordCount) = XXH64.hashUnsafeBytes(base, off + start, i - start, WordSeed)
        wordCount += 1
      }
    }
    if (wordCount == 0) { // all-whitespace/empty: hash of the empty word
      words = Array(XXH64.hashUnsafeBytes(base, off, 0, WordSeed)); wordCount = 1
    }
    java.util.Arrays.copyOf(words, wordCount)
  }

  /** Chain hash of words [g, g+n) — the n-gram identity. */
  private[functions] def chain(words: Array[Long], g: Int, n: Int): Long = {
    var acc = WordSeed; var j = 0
    while (j < n) { acc = XXH64.hashLong(words(g + j), acc); j += 1 }
    acc
  }

  /** Distinct, sorted n-gram hashes of a text's whitespace-split words.
    * A text with fewer than n words yields one hash chained over all its
    * words (mirrors the whole-text fallback of the string shingler). */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val words = wordHashes(text)
    val wordCount = words.length
    val m = wordCount - (n - 1)
    val grams =
      if (m <= 0) Array(chain(words, 0, wordCount))
      else {
        val out = new Array[Long](m)
        var g = 0
        while (g < m) { out(g) = chain(words, g, n); g += 1 }
        out
      }
    // sort + dedupe (set semantics)
    java.util.Arrays.sort(grams)
    var uniq = 1
    var k = 1
    while (k < grams.length) {
      if (grams(k) != grams(k - 1)) { grams(uniq) = grams(k); uniq += 1 }
      k += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(grams, uniq))
  }
}

/** POSITIONAL n-gram anchor hashes: element i is the chain hash of words
  * i+1 .. i+n (1-based), document order, NO dedupe/sort — the (pos, hash)
  * form span detection explodes on (`posexplode` pos + 1 = 1-based word
  * position). A text with fewer than n words yields an EMPTY array (span
  * consumers filter those docs anyway; this drops them for free).
  *
  * Only for consumers that use anchors as EQUALITY keys and never emit
  * the hash: a 64-bit chain collides with probability ~k²/2⁶⁵ over k
  * anchors — negligible through ~10⁹ anchors, a handful of spurious
  * minLen-length spans among billions of true ones at 10¹¹ (a curation
  * signal tolerates that; exact-byte dedup must use md5/sha fingerprints
  * instead). Replaces the interpreted transform(sequence, slice →
  * array_join → md5) formulation — measured ~2× on the span family at
  * sf0.1, and the join key shrinks 32-char hex → 8-byte long. */
case class ShingleAnchors(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "shingle size must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_anchors"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingle_anchors requires string, got ${t.catalogString}")
  }

  override def nullSafeEval(text: Any): Any =
    ShingleAnchors.compute(text.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleAnchors.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleAnchors =
    copy(child = newChild)
}

object ShingleAnchors {
  def compute(text: UTF8String, n: Int): ArrayData = {
    val words = ShingleHash64.wordHashes(text)
    val m = words.length - (n - 1)
    if (m <= 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](m)
    var g = 0
    while (g < m) { out(g) = ShingleHash64.chain(words, g, n); g += 1 }
    new GenericArrayData(out)
  }
}

/** k-permutation MinHash signature over an array<long> shingle-hash set:
  * sig(i) = min over x of XXH64.hashLong(x, seed_i). One fused pass. */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1 && k <= 1024, "minhash count must be in [1, 1024]")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<bigint>, got ${t.catalogString}")
  }

  override def nullSafeEval(arr: Any): Any =
    MinHashSig.compute(arr.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashSig.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  /** Deterministic per-permutation seeds. */
  private val seeds: Array[Long] =
    Array.tabulate(1024)(i => XXH64.hashLong(i.toLong, 0x9E3779B97F4A7C15L))

  def compute(shingles: ArrayData, k: Int): ArrayData = {
    val n = shingles.numElements()
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < n) {
      val x = shingles.getLong(i)
      var j = 0
      while (j < k) {
        val h = XXH64.hashLong(x, seeds(j))
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
}

/** Intersection size of two SORTED DISTINCT long arrays by a single
  * merge walk — the exact-Jaccard confirm primitive. Equal to
  * size(array_intersect(a, b)) for sorted-distinct inputs (every
  * shingle set here is [[ShingleHash64]] output, sorted+deduped by
  * construction and preserved through parquet round-trips), but
  * allocation-free per pair where array_intersect builds a hash set —
  * and the confirm runs once per CANDIDATE pair, the banded-join
  * families' volume term. Inputs that are not sorted-distinct are a
  * caller bug (counts undercount); nothing in the repo constructs
  * shingle sets any other way. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "sorted_intersect_count"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_count requires two array<bigint>, got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.compute(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SortedIntersectCount.compute($a, $b);")

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): SortedIntersectCount = copy(left = l, right = r)
}

object SortedIntersectCount {
  def compute(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** DSIR feature buckets: the md5-bucket id of every unigram AND bigram
  * of a text's whitespace-split words, one fused pass. Bucket identity
  * is the exact cross-engine md5 idiom the samplers share —
  * `conv(substring(md5(f), 1, 8), 16, 10) % n`, i.e. the digest's first
  * four bytes big-endian unsigned mod n — so a DuckDB oracle reproduces
  * the SAME bucket assignment (bucket collisions are load-bearing in
  * DSIR's add-one-smoothed distributions; a faster non-md5 hash would
  * change answers, not just keys). What fuses away is everything
  * around the digest: the interpreted zip_with(slice, slice, concat)
  * bigram lambda, the per-gram string allocation, and the hex
  * round-trip (digest bytes are bucketed directly; bigram bytes stream
  * through the digest as word + 0x20 + word, no concat).
  * Output order: all unigrams, then all bigrams (multiplicity
  * preserved — only grouped counts consume this). A text with no words
  * yields the one empty-string unigram, mirroring split(trim(x))'s
  * [''] artifact. */
case class Md5BucketGrams(child: Expression, nBuckets: Int)
    extends UnaryExpression {
  require(nBuckets >= 1, "nBuckets must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_bucket_grams"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"md5_bucket_grams requires string, got ${t.catalogString}")
  }

  override def nullSafeEval(text: Any): Any =
    Md5BucketGrams.compute(text.asInstanceOf[UTF8String], nBuckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Md5BucketGrams.compute($c, $nBuckets)")

  override protected def withNewChildInternal(newChild: Expression): Md5BucketGrams =
    copy(child = newChild)
}

object Md5BucketGrams {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First four digest bytes, big-endian unsigned, mod n — exactly
    * conv(substring(md5_hex, 1, 8), 16, 10) % n. */
  private def first4mod(h: Array[Byte], n: Int): Long =
    (((h(0) & 0xFFL) << 24) | ((h(1) & 0xFFL) << 16) |
      ((h(2) & 0xFFL) << 8) | (h(3) & 0xFFL)) % n

  def compute(text: UTF8String, n: Int): ArrayData = {
    val b = text.getBytes
    var starts = new Array[Int](8)
    var lens = new Array[Int](8)
    var wc = 0
    var i = 0
    while (i < b.length) {
      while (i < b.length && ShingleHash64.isSpace(b(i))) i += 1
      if (i < b.length) {
        val s = i
        while (i < b.length && !ShingleHash64.isSpace(b(i))) i += 1
        if (wc == starts.length) {
          starts = java.util.Arrays.copyOf(starts, wc * 2)
          lens = java.util.Arrays.copyOf(lens, wc * 2)
        }
        starts(wc) = s; lens(wc) = i - s; wc += 1
      }
    }
    val d = md.get()
    if (wc == 0) { // split(trim(''), '\s+') = [''] — one empty unigram
      d.reset()
      return new GenericArrayData(Array(first4mod(d.digest(), n)))
    }
    val out = new Array[Long](wc + (wc - 1))
    var k = 0
    var w = 0
    while (w < wc) {
      d.reset(); d.update(b, starts(w), lens(w))
      out(k) = first4mod(d.digest(), n); k += 1; w += 1
    }
    w = 0
    while (w < wc - 1) {
      d.reset(); d.update(b, starts(w), lens(w)); d.update(' '.toByte)
      d.update(b, starts(w + 1), lens(w + 1))
      out(k) = first4mod(d.digest(), n); k += 1; w += 1
    }
    new GenericArrayData(out)
  }
}

/** Column wrappers (int params pass as literals, read at
  * function-build time); each needs `Graft.init` or `GraftExtensions`
  * on the active session. */
object ShingleExprs {
  def shingleHash64(text: Column, n: Int): Column =
    functions.call_function("shingle_hash64", text, functions.lit(n))
  def minhashSig64(shingles: Column, k: Int): Column =
    functions.call_function("minhash_sig", shingles, functions.lit(k))
  def shingleAnchors(text: Column, n: Int): Column =
    functions.call_function("shingle_anchors", text, functions.lit(n))
  def md5BucketGrams(text: Column, nBuckets: Int): Column =
    functions.call_function("md5_bucket_grams", text, functions.lit(nBuckets))
  def sortedIntersectCount(a: Column, b: Column): Column =
    functions.call_function("sorted_intersect_count", a, b)
}
