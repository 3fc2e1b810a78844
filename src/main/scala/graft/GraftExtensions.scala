package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions._

/** SparkSessionExtensions entry point: makes the engine's custom Catalyst
  * expressions available on ANY session built with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * — the deployment path for clusters where code can't call
  * [[Graft.init]] on each session (e.g. Thrift server, notebooks).
  * Injected functions resolve in SQL text and via `call_function`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.table.foreach(ext.injectFunction)
    // rollup routing: answer Rollup.register'd aggregations from the
    // saved rollup instead of the base scan (same rule Graft.init
    // installs via extraOptimizations; double-installation is safe —
    // the rewrite never matches its own output)
    ext.injectOptimizerRule(_ => graft.plans.RollupRouting)
  }
}

object GraftExtensions {

  /** Every custom Catalyst function, one `(name, info, builder)` entry
    * each — the triple `injectFunction` takes. [[GraftExtensions]]
    * injects the table at session build; [[Graft.init]] registers each
    * entry a live session lacks, so both paths resolve the same SQL.
    * The Column wrappers in `graft.functions` call these names through
    * `call_function`. Constant arguments (sizes, literal tables) are
    * read once here, at build time, by the helpers below. */
  private[graft] val table: Seq[(FunctionIdentifier, ExpressionInfo,
      FunctionBuilder)] = Seq(
    fn("dot_f", 2, "dot_f(a, b) - double dot product of two float arrays")(
      es => DotProduct(es(0), es(1))),
    fn("cosine_sim", 2,
      "cosine_sim(a, b) - cosine similarity of two float arrays")(
      es => CosineSimilarity(es(0), es(1))),
    fn("sign_project", 2, "sign_project(vec, signs) - exact bigint " +
      "+-1 sign projection of a float array quantized at 1e6, by an " +
      "array<array<bigint>> sign literal")(es => SignProject(es(0), es(1))),
    fn("pq_encode", 2, "pq_encode(vec, codebooks) - product-quantization " +
      "code of a float array against an array<array<array<double>>> " +
      "codebook literal")(es => PqEncode(es(0), es(1))),
    fn("sign_band_keys", 4, "sign_band_keys(vec, planes, bands, " +
      "rowsPerBand) - LSH band keys from the sign bits of a float array " +
      "against an array<array<float>> hyperplane literal")(es =>
      SignBandKeys(es(0), es(1), intArg("sign_band_keys", "bands", es(2)),
        intArg("sign_band_keys", "rowsPerBand", es(3)))),
    fn("simhash64", 1, "simhash64(tokens) - 64-bit simhash of a string array")(
      es => SimHash64(es(0))),
    fn("unicode_normalize", 2,
      "unicode_normalize(s, form) - Unicode NFC/NFD/NFKC/NFKD normalization")(
      es => UnicodeNormalize(es(0),
        stringArg("unicode_normalize", "form", es(1)))),
    fn("span_corrupt_stats", 3, "span_corrupt_stats(id, text, " +
      "maskPermille) - T5 span corruption of text under id's " +
      "deterministic md5 mask")(es => SpanCorruptStats(es(0), es(1),
      intArg("span_corrupt_stats", "maskPermille", es(2)))),
    fn("excise_spans", 2, "excise_spans(text, cuts) - text without the " +
      "tokens in the sorted disjoint 1-based [s, e) intervals cuts")(
      es => ExciseSpans(es(0), es(1))),
    fn("word_stop_stats", 2, "word_stop_stats(text, stopwords) - word " +
      "count and stopword hits; stopwords is a CSV string literal")(
      es => WordStopStats(es(0),
        stringArg("word_stop_stats", "stopwords", es(1)).split(",").toSeq)),
    fn("shingle_hash64", 2, "shingle_hash64(text, n) - distinct n-gram hashes")(
      es => ShingleHash64(es(0), intArg("shingle_hash64", "n", es(1)))),
    fn("minhash_sig", 2,
      "minhash_sig(shingles, k) - k-permutation minhash signature")(
      es => MinHashSig(es(0), intArg("minhash_sig", "k", es(1)))),
    fn("shingle_anchors", 2, "shingle_anchors(text, n) - positional " +
      "n-gram anchor hashes (element i = chain hash of words i+1..i+n; " +
      "< n words -> empty)")(
      es => ShingleAnchors(es(0), intArg("shingle_anchors", "n", es(1)))),
    fn("md5_bucket_grams", 2, "md5_bucket_grams(text, n) - md5-bucket ids " +
      "of every unigram and bigram (conv(substring(md5(f),1,8),16,10) % n " +
      "per gram)")(
      es => Md5BucketGrams(es(0), intArg("md5_bucket_grams", "n", es(1)))),
    fn("sorted_intersect_count", 2, "sorted_intersect_count(a, b) - " +
      "intersection size of two sorted distinct bigint arrays")(
      es => SortedIntersectCount(es(0), es(1))),
    fn("bpe_encode", 2, "bpe_encode(text, merges) - BPE tokenization; " +
      "merges is the U+0001/U+0000-encoded rule-list literal " +
      "BpeEncode.bpeEncode builds")(es => BpeEncode(es(0),
      BpeEncode.decodeMerges(stringArg("bpe_encode", "merges", es(1))))),
    fn("unigram_encode", 3, "unigram_encode(text, pieces, unkScore) - " +
      "unigram-LM Viterbi tokenization; pieces is the encoded scored " +
      "piece-list literal BpeEncode.unigramEncode builds")(es =>
      UnigramEncode(es(0), UnigramEncode.decodePieces(
        stringArg("unigram_encode", "pieces", es(1))),
        longArg("unigram_encode", "unkScore", es(2)))),
    fn("sortable_f64", 1,
      "sortable_f64(x) - order-preserving long image of a double's IEEE bits")(
      es => SortableF64(es(0))),
    fn("sortable_f64_inv", 1,
      "sortable_f64_inv(s) - the double whose sortable_f64 image is s")(
      es => SortableF64Inv(es(0))),
    fn("poisson_weights", 3, "poisson_weights(id, b, salt) - the b " +
      "deterministic Poisson(1) bootstrap weights of row id")(es =>
      PoissonWeights(es(0), intArg("poisson_weights", "b", es(1)),
        stringArg("poisson_weights", "salt", es(2)))),
    fn("bottom_k", 2, "bottom_k(h, k) - aggregate: sorted array of the k " +
      "smallest distinct bigint values (the grouped KMV selection)")(
      es => BottomKLongs(es(0), intArg("bottom_k", "k", es(1)))),
    fn("bottom_k_by", 3, "bottom_k_by(sortKey, payload, k) - aggregate: " +
      "(s, p) structs of the k lexicographically smallest distinct " +
      "(sortKey, payload) bigint pairs, in selection order")(
      es => BottomKPairs(es(0), es(1), intArg("bottom_k_by", "k", es(2)))))

  /** One table entry; the builder rejects a call with any other number
    * of arguments, naming the function. Source `built-in`, the one
    * Spark's registry gives its own functions. */
  private def fn(name: String, arity: Int, usage: String)(
      build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
        "", "", "", "", "", "", "built-in"),
      es => {
        if (es.length != arity) throw new IllegalArgumentException(
          s"$name expects $arity argument(s), got ${es.length}")
        build(es)
      })

  /** A constant argument: any foldable expression, evaluated once; a
    * non-foldable one, or a value `pick` does not take, fails naming
    * the function and the argument. */
  private def constArg[T](name: String, arg: String, what: String,
      e: Expression)(pick: PartialFunction[Any, T]): T =
    (if (e.foldable) Option(e.eval(null)) else None).collect(pick)
      .getOrElse(throw new IllegalArgumentException(
        s"$name: $arg must be a constant $what, got $e"))

  private def intArg(name: String, arg: String, e: Expression): Int =
    constArg(name, arg, "int", e) {
      case i: Int => i
      case l: Long => l.toInt
    }

  private def longArg(name: String, arg: String, e: Expression): Long =
    constArg(name, arg, "bigint", e) {
      case i: Int => i.toLong
      case l: Long => l
    }

  private def stringArg(name: String, arg: String, e: Expression): String =
    constArg(name, arg, "string", e) { case s: UTF8String => s.toString }
}
