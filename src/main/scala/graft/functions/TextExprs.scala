package graft.functions

import org.apache.spark.sql.{Column, functions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash over a token array, as a native codegen'd Catalyst
  * expression.
  *
  * Semantics: each token is hashed with xxHash64 (seed 42); per bit
  * position j a counter accumulates +1 if bit j of the token hash is set
  * else -1; the output bit j is 1 iff the counter is positive. Null tokens
  * are skipped; a null array yields null.
  *
  * Why a custom Expression: the same computation via higher-order
  * functions needs a 64-element accumulator array per token
  * (`aggregate(tokens, array_repeat(0,64), zip_with(...))`) — an
  * interpreted per-element lambda allocating arrays in the hot loop. The
  * fused primitive loop here stays inside whole-stage codegen with zero
  * allocation beyond the counters.
  *
  * (Extension surface: the reference engine has no hashing/fingerprinting
  * at all — reference: src/logical_plan/logical_expr.rs:137-143 is its
  * entire (unimplemented) scalar-function surface.)
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires array<string>, got ${t.catalogString}")
  }

  override def nullSafeEval(tokens: Any): Any =
    SimHash64.compute(tokens.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SimHash64.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  final val Seed = 42L

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val s = tokens.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    out
  }
}

/** Unicode canonical/compatibility normalization (NFC/NFD/NFKC/NFKD) as
  * a native codegen'd expression — the first step of any text-cleaning
  * pipeline (the same byte sequence rendered two ways must dedup, hash,
  * and match as one). Spark has no built-in for this; a Scala UDF would
  * pay (de)serialization per row.
  *
  * Fast path: a pure-ASCII string (numBytes == numChars) is invariant
  * under every normalization form and is returned without any String
  * round-trip — on mostly-ASCII corpora the expression is near-free and
  * stays inside whole-stage codegen.
  */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "unicode_normalize"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if UnicodeNormalize.Forms.contains(form) =>
      TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"unicode_normalize form must be one of ${UnicodeNormalize.Forms.mkString(", ")}, got '$form'")
    case t => TypeCheckResult.TypeCheckFailure(
      s"unicode_normalize requires a string argument, got ${t.catalogString}")
  }

  override def nullSafeEval(s: Any): Any =
    UnicodeNormalize.compute(s.asInstanceOf[UTF8String], form)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"""graft.functions.UnicodeNormalize.compute($a, "$form")""")

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

object UnicodeNormalize {
  val Forms: Set[String] = Set("NFC", "NFD", "NFKC", "NFKD")

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(s: UTF8String, form: String): UTF8String = {
    // ASCII bytes == chars; ASCII is closed under all four forms
    if (s.numBytes == s.numChars) return s
    val str = s.toString
    val f = java.text.Normalizer.Form.valueOf(form)
    if (java.text.Normalizer.isNormalized(str, f)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, f))
  }
}

/** Word count + stopword hits in ONE fused byte scan — the feature pair
  * the trained quality classifier reads on every gradient pass. The
  * higher-order formulation (split → size, split → filter(isin) → size)
  * runs an interpreted per-word lambda per document per GD iteration;
  * this computes both counts in a single whitespace walk with EXACT
  * byte comparison against the (small, literal) stopword set — these
  * counts become output VALUES (ratios in scores), so no hash-identity
  * shortcut is admissible here, unlike the anchor/term key fusions.
  * n_words keeps the [''] split artifact: an empty/all-whitespace text
  * counts 1 word (and 0 stopword hits), matching size(split(trim(x))).
  * Output: struct<n_words int, n_stop int>; null text yields null. */
case class WordStopStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {
  require(stopwords.nonEmpty && stopwords.size <= 256,
    "stopwords must be a non-empty literal set (<= 256)")
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false)))
  override def prettyName: String = "word_stop_stats"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"word_stop_stats requires string, got ${t.catalogString}")
  }

  @transient private lazy val stopBytes: Array[Array[Byte]] =
    stopwords.map(_.getBytes("UTF-8")).toArray

  override def nullSafeEval(text: Any): Any =
    WordStopStats.compute(text.asInstanceOf[UTF8String], stopBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopBytes", stopBytes, "byte[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WordStopStats.compute($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): WordStopStats =
    copy(child = newChild)
}

object WordStopStats {
  def compute(text: UTF8String,
      stops: Array[Array[Byte]]): org.apache.spark.sql.catalyst.InternalRow = {
    val b = text.getBytes
    var nw = 0
    var ns = 0
    var i = 0
    while (i < b.length) {
      while (i < b.length && ShingleHash64.isSpace(b(i))) i += 1
      if (i < b.length) {
        val s = i
        while (i < b.length && !ShingleHash64.isSpace(b(i))) i += 1
        nw += 1
        val len = i - s
        var j = 0
        var hit = false
        while (j < stops.length && !hit) {
          val sw = stops(j)
          if (sw.length == len) {
            var k = 0
            while (k < len && sw(k) == b(s + k)) k += 1
            hit = k == len
          }
          j += 1
        }
        if (hit) ns += 1
      }
    }
    if (nw == 0) nw = 1 // split(trim(''), '\s+') = [''] — one empty word
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nw, ns))
  }
}

/** T5 span corruption in ONE fused per-row pass: tokenize, draw the
  * deterministic per-position md5 mask, merge adjacent masked positions
  * into sentinel spans, and build both serializations — replacing a
  * per-token md5-string round-trip plus an interpreted aggregate fold
  * whose array-concat accumulator was O(n²) PER DOCUMENT in token count
  * (the genuine 100 TB liability: a 10k-token document paid 10⁸ array
  * cells through the fold; this pass is strictly linear).
  *
  * Mask identity is the exact cross-engine draw the oracle replays:
  * md5(doc_id || ':' || position)'s first four digest bytes big-endian
  * unsigned, % 1000 < maskPermille — byte-identical to
  * conv(substring(md5(concat(id, ':', i)), 1, 8), 16, 10) % 1000.
  * Output strings reconstruct token bytes verbatim (single-0x20 joins,
  * ASCII sentinels), so input/target equal the array_join formulation
  * bit-for-bit. Empty/whitespace-only text → zero tokens, empty
  * strings, zero counts (the call site coalesces NULL text to '').
  * Output: struct<n_tokens int, n_masked int, n_spans int,
  * input_joined string, target_joined string>. */
case class SpanCorruptStats(left: Expression, right: Expression,
    maskPermille: Int) extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(maskPermille >= 0 && maskPermille <= 1000,
    "maskPermille must be in [0, 1000]")
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_masked", IntegerType, nullable = false),
    StructField("n_spans", IntegerType, nullable = false),
    StructField("input_joined", StringType, nullable = false),
    StructField("target_joined", StringType, nullable = false)))
  override def prettyName: String = "span_corrupt_stats"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"span_corrupt_stats requires (string, string), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(id: Any, text: Any): Any =
    SpanCorruptStats.compute(id.asInstanceOf[UTF8String],
      text.asInstanceOf[UTF8String], maskPermille)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SpanCorruptStats.compute($a, $b, $maskPermille);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SpanCorruptStats =
    copy(left = l, right = r)
}

object SpanCorruptStats {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(id: UTF8String, text: UTF8String,
      maskPermille: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val b = text.getBytes
    // token byte ranges (split(trim(text), "\\s+") word semantics; a
    // whitespace-only text yields zero tokens = the caller's explicit
    // empty-doc branch)
    var starts = new Array[Int](16)
    var lens = new Array[Int](16)
    var n = 0
    var i = 0
    while (i < b.length) {
      while (i < b.length && ShingleHash64.isSpace(b(i))) i += 1
      if (i < b.length) {
        val s = i
        while (i < b.length && !ShingleHash64.isSpace(b(i))) i += 1
        if (n == starts.length) {
          starts = java.util.Arrays.copyOf(starts, n * 2)
          lens = java.util.Arrays.copyOf(lens, n * 2)
        }
        starts(n) = s; lens(n) = i - s; n += 1
      }
    }
    // per-position mask draw: md5(id ':' pos-digits), first 4 bytes
    // big-endian unsigned % 1000 < maskPermille
    val idBytes = id.getBytes
    val key = new Array[Byte](idBytes.length + 1 + 11)
    System.arraycopy(idBytes, 0, key, 0, idBytes.length)
    key(idBytes.length) = ':'.toByte
    val d = md.get()
    val ids = new Array[Int](n)
    var nMasked = 0
    var nSpans = 0
    var p = 0
    while (p < n) {
      val digits = java.lang.Integer.toString(p)
      var k = 0
      while (k < digits.length) {
        key(idBytes.length + 1 + k) = digits.charAt(k).toByte; k += 1
      }
      d.reset(); d.update(key, 0, idBytes.length + 1 + digits.length)
      val h = d.digest()
      val u = (((h(0) & 0xFFL) << 24) | ((h(1) & 0xFFL) << 16) |
        ((h(2) & 0xFFL) << 8) | (h(3) & 0xFFL)) % 1000
      if (u < maskPermille) {
        if (p == 0 || ids(p - 1) < 0) nSpans += 1
        ids(p) = nSpans - 1
        nMasked += 1
      } else ids(p) = -1
      p += 1
    }
    // input: sentinel at each span start, kept tokens elsewhere
    val in = new java.io.ByteArrayOutputStream(text.numBytes + 16 * nSpans)
    var first = true
    p = 0
    while (p < n) {
      val cur = ids(p)
      if (cur < 0 || p == 0 || ids(p - 1) != cur) {
        if (!first) in.write(' ')
        first = false
        if (cur >= 0) writeSentinel(in, cur)
        else in.write(b, starts(p), lens(p))
      }
      p += 1
    }
    // target: each sentinel followed by the tokens it hides (span
    // positions are contiguous by construction — one ordered pass)
    val tg = new java.io.ByteArrayOutputStream(64 + 8 * nMasked)
    first = true
    p = 0
    while (p < n) {
      val cur = ids(p)
      if (cur >= 0) {
        if (p == 0 || ids(p - 1) != cur) {
          if (!first) tg.write(' ')
          first = false
          writeSentinel(tg, cur)
        }
        tg.write(' ')
        tg.write(b, starts(p), lens(p))
      }
      p += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, nMasked, nSpans,
        UTF8String.fromBytes(in.toByteArray),
        UTF8String.fromBytes(tg.toByteArray)))
  }

  private val SentinelPrefix = "<extra_id_".getBytes("UTF-8")

  private def writeSentinel(out: java.io.ByteArrayOutputStream, k: Int): Unit = {
    out.write(SentinelPrefix, 0, SentinelPrefix.length)
    val digits = java.lang.Integer.toString(k)
    var i = 0
    while (i < digits.length) { out.write(digits.charAt(i)); i += 1 }
    out.write('>')
  }
}

/** Removes the tokens covered by a set of 1-based [s, e) token-position
  * intervals and rejoins the survivors with single spaces — the rewrite
  * half of corpus-global exact-substring deduplication
  * ([[graft.ops.Dedup.exactSubstringDedup]]). Tokens are maximal
  * non-whitespace byte runs (the [[ShingleHash64.wordHashes]] walker, so
  * positions line up with `shingle_anchors` grams exactly); output is
  * whitespace-normalized by construction. Intervals must arrive sorted
  * by start and disjoint (the operator merges them upstream) — one
  * two-pointer pass, zero allocation beyond the output buffer.
  *
  * Why a custom Expression: the HOF form
  * (`filter(split(text), (w, i) => !exists(cuts, ...))`) runs an
  * interpreted lambda per token × cut and allocates the full token
  * array per row — the exact hot-loop shape round 9 measured 3–10×
  * slower than a fused static-loop expression. */
case class ExciseSpans(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "excise_spans"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(StructType(Array(
        StructField(_, LongType, _, _), StructField(_, LongType, _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"excise_spans requires (string, array<struct<bigint,bigint>>), " +
          s"got (${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(text: Any, cuts: Any): Any =
    ExciseSpans.compute(text.asInstanceOf[UTF8String],
      cuts.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, c) =>
      s"${ev.value} = graft.functions.ExciseSpans.compute($t, $c);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ExciseSpans =
    copy(left = l, right = r)
}

object ExciseSpans {
  /** Static entry point shared by interpreted eval and generated code. */
  def compute(text: UTF8String, cuts: ArrayData): UTF8String = {
    val b = text.getBytes
    val nCuts = cuts.numElements()
    val out = new Array[Byte](b.length)
    var outLen = 0
    var first = true
    var ci = 0
    var p = 0 // 1-based token position
    var i = 0
    while (i < b.length) {
      while (i < b.length && ShingleHash64.isSpace(b(i))) i += 1
      if (i < b.length) {
        val start = i
        while (i < b.length && !ShingleHash64.isSpace(b(i))) i += 1
        p += 1
        while (ci < nCuts && cuts.getStruct(ci, 2).getLong(1) <= p) ci += 1
        val covered = ci < nCuts && {
          val cut = cuts.getStruct(ci, 2)
          cut.getLong(0) <= p && p < cut.getLong(1)
        }
        if (!covered) {
          if (!first) { out(outLen) = ' '; outLen += 1 }
          first = false
          System.arraycopy(b, start, out, outLen, i - start)
          outLen += i - start
        }
      }
    }
    UTF8String.fromBytes(out, 0, outLen)
  }
}

/** Column wrappers for the text expressions; each needs `Graft.init`
  * or `GraftExtensions` on the active session. */
object TextExprs {
  def simhash64(tokens: Column): Column =
    functions.call_function("simhash64", tokens)

  def unicodeNormalize(text: Column, form: String = "NFC"): Column =
    functions.call_function("unicode_normalize", text, functions.lit(form))

  def spanCorruptStats(idStr: Column, text: Column,
      maskPermille: Int): Column =
    functions.call_function("span_corrupt_stats", idStr, text,
      functions.lit(maskPermille))

  /** `cuts` must be sorted by start and disjoint (1-based [s, e) token
    * intervals). */
  def exciseSpans(text: Column, cuts: Column): Column =
    functions.call_function("excise_spans", text, cuts)

  /** Stopwords must not contain commas (they ride a CSV literal
    * through the registry). */
  def wordStopStats(text: Column, stopwords: Seq[String]): Column = {
    require(stopwords.forall(!_.contains(",")),
      "stopwords must not contain commas")
    functions.call_function("word_stop_stats", text,
      functions.lit(stopwords.mkString(",")))
  }
}
