package graft.functions

import org.apache.spark.sql.{Column, functions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** BPE tokenization over a learned merge list as ONE codegen'd Catalyst
  * expression: whitespace-split the document, encode every word against
  * the rule table, emit the flattened token array.
  *
  * Why a custom Expression (the growth path promised in
  * [[graft.ops.TextOps.bpeEncode]]'s scaladoc): the column-function form
  * compiles one nested `aggregate` fold into the plan PER RULE — at a
  * production vocabulary (32k merges) that is a 32k-node expression tree
  * (unplannable), and each fold is an interpreted lambda allocating an
  * accumulator array per symbol. Here the rule table is ONE broadcast-
  * referenced java.util.HashMap and each word encodes with the standard
  * rank-priority algorithm: repeatedly merge the present pair with the
  * lowest merge rank, all occurrences left-to-right — O(len²) in the
  * word length, INDEPENDENT of vocabulary size.
  *
  * Semantics contract: for a merge list produced by BPE TRAINING
  * ([[graft.ops.TextOps.bpeMerges]]) this is exactly sequential
  * application of the rules in learned order (what training itself does,
  * what the DuckDB oracle replays): a rule's sides are single characters
  * or outputs of EARLIER rules, so a later merge can never create a
  * match for an earlier rule — rank-priority and sequential order are
  * the same function on that input class. (BpeSpec pins the equivalence
  * against the fold implementation.) Arbitrary non-trained rule lists
  * are outside the contract.
  *
  * Null text yields null; the empty/whitespace-only document yields the
  * single empty token, matching `split(trim(text), "\\s+")` + per-word
  * `split(w, "")` in the fold path. */
case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bpe_encode requires a string document, got ${t.catalogString}")
  }

  @transient private lazy val table = BpeEncode.buildTable(merges)

  override def nullSafeEval(text: Any): Any =
    BpeEncode.encode(text.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the rule table rides the generated class as a reference object —
    // built once per task, shared across every row the task encodes
    // raw type: the generated cast must stay janino-parsable (janino
    // has no generics)
    val ref = ctx.addReferenceObj("bpeTable", table, "java.util.HashMap")
    defineCodeGen(ctx, ev, t => s"graft.functions.BpeEncode.encode($t, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}

object BpeEncode {
  /** (left, right) -> merge rank, keyed "l r" (symbols come from whitespace-split words, so a space never occurs inside one). Distinct pairs are a training invariant (a greedy
    * full pass leaves no adjacent occurrence of the merged pair behind);
    * first rank wins defensively if violated. */
  def buildTable(merges: Seq[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      m.putIfAbsent(l + " " + r, Integer.valueOf(i))
    }
    m
  }

  /** Static entry point shared by interpreted eval and generated code. */
  def encode(text: UTF8String,
      table: java.util.HashMap[String, Integer]): ArrayData = {
    // trim + whitespace-split, mirroring TextOps.words exactly (an
    // empty/whitespace-only doc contributes ONE empty word, as
    // split(trim(s), "\\s+") does)
    val words = text.toString.trim.split("\\s+", -1)
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String](words.length * 4)
    var wi = 0
    while (wi < words.length) {
      encodeWord(words(wi), table, out)
      wi += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  private def encodeWord(word: String,
      table: java.util.HashMap[String, Integer],
      out: scala.collection.mutable.ArrayBuffer[UTF8String]): Unit = {
    if (word.isEmpty) { out += UTF8String.EMPTY_UTF8; return }
    // split to code points (Java's split("") boundary is code-point aware)
    var syms = new scala.collection.mutable.ArrayBuffer[String](word.length)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      val n = Character.charCount(cp)
      syms += word.substring(i, i + n)
      i += n
    }
    // rank-priority loop: merge the lowest-rank present pair, all
    // occurrences left-to-right, until no adjacent pair is a rule
    var exhausted = syms.length < 2
    while (!exhausted) {
      // find the lowest-rank adjacent pair (and its leftmost position)
      var best = -1
      var bestAt = -1
      var j = 0
      while (j < syms.length - 1) {
        val r = table.get(syms(j) + " " + syms(j + 1))
        if (r != null && (best == -1 || r.intValue < best)) {
          best = r.intValue; bestAt = j
        }
        j += 1
      }
      if (best == -1) exhausted = true
      else {
        val l = syms(bestAt); val r = syms(bestAt + 1); val fused = l + r
        // one greedy left-to-right pass merging every (l, r) occurrence --
        // identical to the training fold's single-rule pass
        val next = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        var k = 0
        while (k < syms.length) {
          if (k < syms.length - 1 && syms(k) == l && syms(k + 1) == r) {
            next += fused; k += 2
          } else { next += syms(k); k += 1 }
        }
        syms = next
        exhausted = syms.length < 2
      }
    }
    out ++= syms.map(UTF8String.fromString)
  }

  // merge-list wire encoding for the registry path: pairs joined by
  // U+0001, sides by U+0000 (neither occurs in whitespace-split tokens)
  private final val PairSep = '\u0001'
  private final val SideSep = '\u0000'

  private[graft] def encodeMerges(merges: Seq[(String, String)]): String = {
    // a rule side containing a separator would decode to a DIFFERENT
    // rule silently (the side sep splits at the first occurrence) —
    // refuse loudly instead. Whitespace-split words can in principle
    // carry control characters; rules trained on such a corpus must go
    // through the direct-expression path, not the wire encoding.
    merges.foreach { case (l, r) =>
      require(!l.contains(PairSep) && !l.contains(SideSep) &&
          !r.contains(PairSep) && !r.contains(SideSep),
        "bpe_encode: merge side contains a wire-encoding separator " +
          "(U+0000/U+0001); register the expression directly instead")
    }
    merges.map { case (l, r) => s"$l$SideSep$r" }.mkString(PairSep.toString)
  }

  private[graft] def decodeMerges(s: String): Seq[(String, String)] =
    if (s.isEmpty) Seq.empty
    else s.split(PairSep).toSeq.map { p =>
      val i = p.indexOf(SideSep.toInt)
      require(i >= 0, s"bpe_encode: malformed merge entry '$p'")
      (p.substring(0, i), p.substring(i + 1))
    }

  /** Column wrapper: `bpeEncode(col("text"), merges)` -> array<string>.
    * The merge list rides a string literal because a function builder
    * only receives Expressions; this wrapper hides the encoding. Needs
    * `Graft.init` or `GraftExtensions` on the active session. */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    functions.call_function("bpe_encode", text,
      functions.lit(encodeMerges(merges)))

  /** Column wrapper: `unigramEncode(col("text"), pieces)` ->
    * array<string>. Needs `Graft.init` or `GraftExtensions` on the
    * active session. */
  def unigramEncode(text: Column, pieces: Seq[(String, Long)],
      unkScore: Long = UnigramEncode.DefaultUnkScore): Column =
    functions.call_function("unigram_encode", text,
      functions.lit(UnigramEncode.encodePieces(pieces)),
      functions.lit(unkScore))
}

/** Unigram-LM (SentencePiece-style) tokenization over a scored piece
  * vocabulary as ONE codegen'd Catalyst expression: whitespace-split the
  * document, Viterbi-segment every word, emit the flattened token array.
  *
  * Objective per word (exact, integer-only): among all segmentations
  * into vocabulary pieces (plus the always-available `<unk>` consuming
  * one code point at `unkScore`), take the one maximizing the summed
  * integer scores (micro-log-probs from
  * [[graft.ops.TextOps.unigramPieces]]); ties break on fewer tokens,
  * then on the UTF-8-byte-lexicographically smallest token sequence
  * (tokens joined by U+001F — a byte below every printable character, so
  * string order IS token-list order; UTF8String comparison is binary, so
  * both engines and the DuckDB oracle agree). Pure integer DP: no float
  * enters the objective, so the segmentation is bit-reproducible across
  * engines, partitionings, and retries.
  *
  * Why a custom Expression: the DP is O(len × maxPieceLen) hash lookups
  * per word against a table that rides the generated class as ONE
  * reference object ([[BpeEncode]]'s pattern) — vocabulary size never
  * touches the plan, where a per-piece column-function form would
  * compile a vocab-sized expression tree.
  *
  * Null text yields null; the empty/whitespace-only document yields the
  * single empty token (split(trim(s), "\\s+") parity, as [[BpeEncode]]). */
case class UnigramEncode(child: Expression, pieces: Seq[(String, Long)],
    unkScore: Long) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "unigram_encode"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"unigram_encode requires a string document, got ${t.catalogString}")
  }

  @transient private lazy val table = UnigramEncode.buildTable(pieces)

  override def nullSafeEval(text: Any): Any =
    UnigramEncode.encode(text.asInstanceOf[UTF8String], table, unkScore)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramTable", table,
      "graft.functions.UnigramEncode.Table")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.UnigramEncode.encode($c, $ref, ${unkScore}L);")
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramEncode =
    copy(child = newChild)
}

object UnigramEncode {
  /** The standard "worse than any trained piece" floor: a trained score
    * is ln(c/total) micros ≥ ln(1/total) — about −21M at a billion-count
    * total — so −50M is only ever chosen when no piece covers the
    * position. */
  final val DefaultUnkScore: Long = -50000000L

  final val UnkToken = "<unk>"

  /** Piece map + its max piece length in code points (the DP lookback). */
  final class Table(val scores: java.util.HashMap[String, java.lang.Long],
      val maxPieceLen: Int) extends Serializable

  def buildTable(pieces: Seq[(String, Long)]): Table = {
    val m = new java.util.HashMap[String, java.lang.Long](pieces.size * 2)
    var maxLen = 1
    pieces.foreach { case (p, s) =>
      require(p.nonEmpty, "unigram_encode: empty piece")
      m.putIfAbsent(p, java.lang.Long.valueOf(s))
      maxLen = math.max(maxLen, p.codePointCount(0, p.length))
    }
    new Table(m, maxLen)
  }

  /** Static entry point shared by interpreted eval and generated code. */
  def encode(text: UTF8String, table: Table, unkScore: Long): ArrayData = {
    val words = text.toString.trim.split("\\s+", -1)
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String](words.length * 4)
    var wi = 0
    while (wi < words.length) {
      encodeWord(words(wi), table, unkScore, out)
      wi += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  private final val Sep = '\u001F'

  /** UTF-8 binary order on the joined-token paths — UTF8String.compareTo
    * is byte order, matching DuckDB's string comparison. */
  private def pathLt(a: String, b: String): Boolean =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0

  private def encodeWord(word: String, table: Table, unkScore: Long,
      out: scala.collection.mutable.ArrayBuffer[UTF8String]): Unit = {
    if (word.isEmpty) { out += UTF8String.EMPTY_UTF8; return }
    segmentWord(word, table, unkScore)
      .foreach(t => out += UTF8String.fromString(t))
  }

  /** Viterbi segmentation of ONE non-empty word — the DP the expression
    * runs per word, exposed for the driver-side trainer
    * ([[graft.ops.TextOps.unigramPieces]]'s E-step uses the exact
    * function encode will run, so trained scores and encode behavior
    * can never drift). */
  def segmentWord(word: String, table: Table, unkScore: Long): Array[String] = {
    // code points (surrogate pairs stay one symbol — splitCodePoints
    // parity with the BPE trainer)
    val cps = new scala.collection.mutable.ArrayBuffer[String](word.length)
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      cps += word.substring(i, i + n)
      i += n
    }
    val n = cps.length
    // dp over code-point positions: (score, ntok, path)
    val score = new Array[Long](n + 1)
    val ntok = new Array[Int](n + 1)
    val path = new Array[String](n + 1)
    path(0) = ""
    var pos = 1
    while (pos <= n) {
      // the <unk> candidate (one code point) seeds the cell — always
      // available, so every position is reachable
      var bs = score(pos - 1) + unkScore
      var bt = ntok(pos - 1) + 1
      var bp = if (path(pos - 1).isEmpty) UnkToken
        else path(pos - 1) + Sep + UnkToken
      var l = 1
      val maxL = math.min(table.maxPieceLen, pos)
      val sb = new java.lang.StringBuilder(cps(pos - 1))
      while (l <= maxL) {
        if (l > 1) sb.insert(0, cps(pos - l))
        val piece = sb.toString
        val s = table.scores.get(piece)
        if (s != null) {
          val cs = score(pos - l) + s.longValue
          val ct = ntok(pos - l) + 1
          val cp0 = if (path(pos - l).isEmpty) piece
            else path(pos - l) + Sep + piece
          if (cs > bs || (cs == bs && (ct < bt ||
              (ct == bt && pathLt(cp0, bp))))) {
            bs = cs; bt = ct; bp = cp0
          }
        }
        l += 1
      }
      score(pos) = bs; ntok(pos) = bt; path(pos) = bp
      pos += 1
    }
    path(n).split(Sep)
  }

  // piece-list wire encoding for the registry path: entries joined by
  // U+0001, piece and score split by U+0000 (the BpeEncode convention)
  private final val EntrySep = '\u0001'
  private final val FieldSep = '\u0000'

  private[graft] def encodePieces(pieces: Seq[(String, Long)]): String = {
    pieces.foreach { case (p, _) =>
      require(!p.contains(EntrySep) && !p.contains(FieldSep) &&
          !p.contains(Sep),
        "unigram_encode: piece contains a wire/path separator " +
          "(U+0000/U+0001/U+001F); register the expression directly")
    }
    pieces.map { case (p, s) => s"$p$FieldSep$s" }.mkString(EntrySep.toString)
  }

  private[graft] def decodePieces(s: String): Seq[(String, Long)] =
    if (s.isEmpty) Seq.empty
    else s.split(EntrySep).toSeq.map { e =>
      val i = e.indexOf(FieldSep.toInt)
      require(i >= 0, s"unigram_encode: malformed piece entry '$e'")
      (e.substring(0, i), e.substring(i + 1).toLong)
    }
}
