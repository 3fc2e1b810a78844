package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Frequency estimation at corpus scale: distributed heavy hitters via a
  * Misra–Gries summary (Misra & Gries 1982, "Finding repeated elements")
  * run as a typed Spark [[Aggregator]] — the mergeable-sketch shape — with
  * an EXACT confirmation pass over the sketch's candidates.
  *
  * Why not `GROUP BY value ORDER BY count DESC LIMIT k`? That shuffles one
  * row per DISTINCT value — at 100 TB a token/URL/user-agent column has
  * billions of distinct values and the exchange is data-sized. The sketch
  * path shuffles two things only: (a) one bounded summary per partition
  * (≤ k counters each, merged map-side like any aggregate), and (b) the
  * candidates' own rows in the confirm pass (a broadcast semi-join keeps
  * the scan pipelined; partial aggregation collapses each partition to
  * ≤ |candidates| rows before the exchange). Everything that crosses the
  * wire is sketch-sized or answer-sized, never distinct-value-sized.
  *
  * Exactness contract: the final output is EXACT — candidate generation
  * can only lose items the MG guarantee proves infrequent. A per-buffer
  * summary of k counters undercounts any item by at most n_i/(k+1)
  * tokens of its partition; an item absent from EVERY partial therefore
  * has true frequency ≤ n/(k+1). With k chosen so k+1 > den/num, every
  * item at or above the reported threshold ceil(n·num/den) survives into
  * the candidate set, and the confirm pass counts candidates exactly.
  * The guarantee needs merges to be unions (counts added, nothing
  * trimmed): merged buffers are bounded by (#partitions · k) entries —
  * sketch-sized, not data-sized.
  *
  * The frequency floor is the RATIONAL num/den, not a double: a float phi
  * would make the threshold `ceil(phi·n)` diverge between engines when
  * phi·n lands within an ulp of an integer (0.002·600000 is already above
  * 1200 in binary). All threshold arithmetic stays in BIGINT.
  */
object Freq {

  /** Misra–Gries summary over strings: at most k counters, plus the
    * total item count (so one pass yields candidates AND n). Immutable
    * Map buffer — the decrement-all step costs O(k) but fires at most
    * once per k insertions (the classic amortization), and the buffer
    * serializes through the product encoder on the single final
    * exchange. */
  final class MisraGries(k: Int)
      extends Aggregator[String, (Map[String, Long], Long), (Map[String, Long], Long)] {
    require(k > 0, "MisraGries: k must be positive")

    def zero: (Map[String, Long], Long) = (Map.empty, 0L)

    def reduce(b: (Map[String, Long], Long), x: String): (Map[String, Long], Long) = {
      val (m, n) = b
      m.get(x) match {
        case Some(c) => (m.updated(x, c + 1), n + 1)
        case None if m.size < k => (m.updated(x, 1L), n + 1)
        case None =>
          // decrement every counter; drop the ones that reach zero
          (m.flatMap { case (t, c) => if (c > 1) Some(t -> (c - 1)) else None },
            n + 1)
      }
    }

    /** Union merge — counts add, nothing is trimmed. Trimming here (the
      * subtract-(k+1)th-largest trick) would keep the buffer at k entries
      * but is pure loss: the untrimmed union is (#partials · k)-bounded
      * anyway, and keeping it preserves the per-partition undercount
      * bound the candidate guarantee is proved from. */
    def merge(a: (Map[String, Long], Long), b: (Map[String, Long], Long)): (Map[String, Long], Long) = {
      val (small, big) = if (a._1.size < b._1.size) (a._1, b._1) else (b._1, a._1)
      (small.foldLeft(big) { case (m, (t, c)) =>
        m.updated(t, m.getOrElse(t, 0L) + c) }, a._2 + b._2)
    }

    def finish(b: (Map[String, Long], Long)): (Map[String, Long], Long) = b

    def bufferEncoder: Encoder[(Map[String, Long], Long)] = Encoders.product
    def outputEncoder: Encoder[(Map[String, Long], Long)] = Encoders.product
  }

  /** Exact heavy hitters: every distinct value of `valueCol` whose count
    * is ≥ ceil(n · num / den) (n = total non-null rows), with its exact
    * count — two passes, neither shuffling anything distinct-value-sized.
    * Returns (`valueCol`, cnt). NULLs are excluded from both the total
    * and the candidates (SQL COUNT(col) semantics). */
  def heavyHitters(df: DataFrame, valueCol: String,
      num: Long, den: Long): DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      s"heavyHitters: frequency floor must satisfy 0 < num/den <= 1 (got $num/$den)")
    val spark = df.sparkSession
    // k+1 > den/num with 2x slack: fewer spurious candidates per buffer.
    // toIntExact: a silent Int wrap here (den ~ 2^31·num) would pass
    // MisraGries' k > 0 require while voiding the exactness guarantee —
    // items above the threshold could be absent from every partial
    // (r11 self-review); a floor that small needs a different sketch
    val k = java.lang.Math.toIntExact((2 * den + num - 1) / num)
    val values = df.select(col(valueCol).cast("string").as("v"))
      .where(col("v").isNotNull)
    import spark.implicits._
    val sketch = udaf(new MisraGries(k))
    // pass 1: one bounded summary per partition, merged like any agg —
    // a single (candidates, n) row reaches the driver
    val (cands, n) = values.select(sketch(col("v")).as("s"))
      .select(col("s._1"), col("s._2"))
      .as[(Map[String, Long], Long)].head()
    // threshold in BigInt: num·n overflows LONG for large num·n pairs,
    // yielding a garbage floor with no error
    val threshold =
      ((BigInt(num) * n + den - 1) / den).bigInteger.longValueExact()
    val candDf = cands.keys.toSeq.toDF("v")
    // pass 2: exact confirm — broadcast semi-join keeps the scan
    // pipelined; partial aggregation bounds the exchange at
    // (#partitions x #candidates) rows
    values.join(broadcast(candDf), Seq("v"), "left_semi")
      .groupBy(col("v").as(valueCol))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= threshold)
      .select(col(valueCol), col("cnt"))
  }

  // --------------------------------------------------------------------
  // Count-min sketch (Cormode & Muthukrishnan 2005) as a (row, col,
  // cnt) DataFrame — the point-frequency sibling of the Misra-Gries
  // top-k above and the HLL register tables in [[Hll]]: persist to
  // parquet, merge any union of partition sketches by cell-wise SUM,
  // answer "how often did key X appear" without rescanning, with the
  // one-sided guarantee estimate >= truth (overestimate <= n*e/w at
  // probability 1 - e^-d). All arithmetic is BIGINT on md5-derived
  // cells — deterministic across engines, retries, row order.
  // --------------------------------------------------------------------

  /** One md5-derived cell per (key, hash-row): first 15 hex digits of
    * md5(key ":cms" i), column = hash mod width. */
  private def cmsCell(key: Column, i: Int, width: Int): Column =
    (conv(substring(md5(concat(key.cast("string"), lit(s":cms$i"))),
      1, 15), 16, 10).cast("long") % width).cast("int")

  /** Sketch a key column: ≤ depth·width cells (r, c, cnt). One
    * explode (depth d per input row) + one hash-aggregate; the
    * exchange carries at most d·w rows after partial aggregation. */
  def cmsSketch(df: DataFrame, keyCol: String,
      width: Int = 1024, depth: Int = 4): DataFrame = {
    require(width >= 2 && depth >= 1 && depth <= 8,
      "cmsSketch: need width >= 2, depth in [1, 8]")
    val cells = (0 until depth).map(i => struct(lit(i).as("r"),
      cmsCell(col(keyCol), i, width).as("c")))
    df.where(col(keyCol).isNotNull)
      .select(explode(array(cells: _*)).as("p"))
      .groupBy(col("p.r").as("r"), col("p.c").as("c"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge sketches built with the same (width, depth): cell-wise sum. */
  def cmsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("r"), col("c"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Point-frequency estimates for a probe set: min over the probe's
    * depth cells, 0 when a cell is empty. The sketch is answer-sized
    * (≤ d·w rows) and broadcasts; probes never shuffle data-sized. */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, keyCol: String,
      width: Int = 1024, depth: Int = 4): DataFrame = {
    val cells = (0 until depth).map(i => struct(lit(i).as("r"),
      cmsCell(col(keyCol), i, width).as("c")))
    probes.select(col(keyCol), explode(array(cells: _*)).as("p"))
      .select(col(keyCol), col("p.r").as("r"), col("p.c").as("c"))
      .join(broadcast(sketch), Seq("r", "c"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Equi-join size estimation from two count-min sketches (the
    * classic CMS inner-product estimator): |A ⋈ B on k| =
    * Σ_k f_A(k)·f_B(k), approximated per hash row by the cell-wise
    * inner product, min over rows — one-sided (estimate ≥ truth, since
    * collisions only add mass). This is [[graft.ops.Skew]]-style join
    * preflight priced from two d×w sketches instead of two key-domain
    * aggregates: sketch both 100 TB sides once (or reuse standing
    * sketches) and the go/no-go costs a d×w-row join. Rows with no
    * overlapping cells contribute an inner product of 0 (driven off
    * sketch A's row domain, which every input row populates). */
  def cmsJoinSize(a: DataFrame, b: DataFrame): DataFrame = {
    // DECIMAL(38,0) accumulator: per hash row the inner product
    // approaches n_a*n_b/width + true join size, which overflows int64
    // for multi-billion-row sides (1e11 x 1e11 / 1024 ~ 1e19 > 2^63) —
    // the DuckDB oracle sums into HUGEINT, so a BIGINT sum would
    // diverge (or throw under ANSI) exactly at the scale this
    // preflight exists for. The final min collapses back to BIGINT:
    // a join answer beyond 2^63 rows isn't representable anyway.
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val ips = a.select(col("r"), col("c"), col("cnt").as("ca"))
      .join(b.select(col("r"), col("c"), col("cnt").as("cb")),
        Seq("r", "c"))
      .groupBy(col("r"))
      .agg(sum(col("ca").cast(dec) * col("cb").cast(dec)).as("ip"))
    // saturate before the BIGINT cast: past ~1e19 the min inner product
    // itself exceeds int64, and an unclamped cast would return NULL
    // (or throw under ANSI) at precisely the scale the preflight
    // exists for — Long.MaxValue preserves the one-sided >= bound.
    // min(ip) itself coalesces FIRST: over an empty sketch side the
    // aggregate min is NULL and Spark's least() SKIPS nulls, so the
    // clamp alone would turn "no rows at all" into Long.MaxValue —
    // the true join size of an empty side is 0
    a.select(col("r")).distinct()
      .join(ips, Seq("r"), "left")
      .select(coalesce(col("ip"), lit(0L).cast(dec)).as("ip"))
      .agg(least(coalesce(min(col("ip")), lit(0L).cast(dec)),
          lit(Long.MaxValue).cast(dec))
        .cast("long").as("est_join_rows"))
  }

  /** Zipf's-law fit over a rank–frequency curve: OLS slope of
    * ln(freq) on ln(rank) for the topN most frequent values — the
    * standard natural-corpus health check (clean text sits near
    * slope -1; templated/spammy corpora flatten, over-deduped ones
    * steepen). Takes any (value, count) table, e.g.
    * `TextOps.vocabulary` output.
    *
    * Scale shape: top-N selection is TakeOrderedAndProject (bounded,
    * no global sort materialization); the single-partition
    * rank-assignment window then sees only topN rows. The upstream
    * counts aggregation is the only data-sized work.
    *
    * Determinism contract (the lmScore convention): rank ties break on
    * the value itself; every per-row log quantizes to 9 decimals and
    * the moment sums accumulate in DECIMAL(38,9) — exact for 9-decimal
    * values — so the fitted slope/intercept/r² are the same doubles on
    * every engine and the DuckDB oracle can restate the whole fit. */
  def zipfFit(counts: DataFrame, valueCol: String, countCol: String,
      topN: Int): DataFrame = {
    require(topN >= 3, "zipfFit: need at least 3 points")
    import org.apache.spark.sql.expressions.Window
    val top = counts.orderBy(col(countCol).desc, col(valueCol)).limit(topN)
    val ranked = top.withColumn("rank", row_number().over(
      Window.orderBy(col(countCol).desc, col(valueCol))))
    powerLawFit(ranked, "rank", countCol)
  }

  /** Quantized log–log OLS over positive (x, y) points: slope,
    * intercept and r² of ln(y) on ln(x), with the determinism recipe
    * zipfFit documents (9-decimal per-row logs, DECIMAL(38,9) moment
    * sums, fixed association order). Shared by [[zipfFit]] and
    * [[heapsFit]]. */
  def powerLawFit(points: DataFrame, xCol: String, yCol: String): DataFrame =
    powerLawFitOver(points, Nil, xCol, yCol)

  /** Per-group quantized log–log OLS — the grouped twin of
    * [[powerLawFit]], shared by [[zipfFitBy]] and [[heapsFitBy]]. */
  def powerLawFitBy(points: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame =
    powerLawFitOver(points, Seq(groupCol), xCol, yCol).drop("intercept")

  /** The one fit body: (keys..., n, slope, intercept, r2), one row per
    * key. */
  private def powerLawFitOver(points: DataFrame, keys: Seq[String],
      xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ks = keys.map(col)
    // non-positive x/y have no log: EXCLUDE the point entirely — the
    // sums already skipped NULL logs while count(*) still counted the
    // row, so n was inconsistent with the moments and the fit silently
    // biased (r11 self-review: a smoothing-zero count row was enough)
    val q = points.select(ks ++ Seq(
        round(log(col(xCol).cast("double")), 9).as("x"),
        round(log(col(yCol).cast("double")), 9).as("y")): _*)
      .where(col("x").isNotNull && col("y").isNotNull)
    def dsum9(c: Column): Column =
      sum(c.cast(DecimalType(38, 9))).cast("double")
    q.groupBy(ks: _*)
      .agg(count(lit(1)).as("n"),
        dsum9(col("x")).as("sx"), dsum9(col("y")).as("sy"),
        dsum9(round(col("x") * col("x"), 9)).as("sxx"),
        dsum9(round(col("x") * col("y"), 9)).as("sxy"),
        dsum9(round(col("y") * col("y"), 9)).as("syy"))
      .select(ks ++ Seq(col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("a"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("b"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("c"),
        col("sx"), col("sy")): _*)
      .select(ks ++ Seq(col("n"),
        // degenerate fits (zero x- or y-variance, e.g. a constant
        // vocabulary) yield NaN, not an ANSI divide-by-zero error; the
        // guards are inactive on any non-degenerate corpus so the
        // oracle side needs no equivalent
        when(col("b") =!= 0.0, col("a") / col("b"))
          .otherwise(lit(Double.NaN)).as("slope"),
        when(col("b") =!= 0.0,
            (col("sy") - col("a") / col("b") * col("sx")) / col("n"))
          .otherwise(lit(Double.NaN)).as("intercept"),
        when(col("b") * col("c") =!= 0.0,
            col("a") * col("a") / (col("b") * col("c")))
          .otherwise(lit(Double.NaN)).as("r2")): _*)
  }

  /** Per-GROUP Zipf fit: one power-law slope per group (per source,
    * per language, per crawl snapshot) — the grouped triage version of
    * [[zipfFit]]: a source whose slope flattens toward 0 is templated/
    * spammy, one that steepens past -1.5 is likely over-deduplicated.
    * Unlike the global fit this needs NO single-partition window at
    * all: ranks come from a group-KEYED window and the quantized
    * moments aggregate per group — fully parallel at any group count.
    * Same determinism recipe (tie-break on the value, 9-decimal logs,
    * DECIMAL moment sums, fixed association order). */
  def zipfFitBy(counts: DataFrame, groupCol: String, valueCol: String,
      countCol: String, topN: Int): DataFrame = {
    require(topN >= 3, "zipfFitBy: need at least 3 points")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(countCol).desc, col(valueCol))
    val ranked = counts.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topN)
    powerLawFitBy(ranked, groupCol, "rank", countCol)
  }

  /** Per-group Heaps fit: one vocabulary-growth exponent per source —
    * the grouped twin of [[heapsFit]], riding the same grouped
    * [[Profile.domainPrefix]] cascade (windows keyed on (group, doc-id
    * bucket), so even a source holding MOST of a 100 TB corpus never
    * funnels through one task — the skew case a plain
    * `Window.partitionBy(group)` cannot survive). A source whose β sags
    * toward 0 is duplicate-heavy; toward 1, id/hash-heavy. */
  def heapsFitBy(docs: DataFrame, groupCol: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    powerLawFitBy(heapsPoints(docs, Seq(groupCol), idCol, textCol),
      groupCol, "n_tokens", "n_vocab")

  /** Heaps'-law fit: vocabulary growth V(n) ≈ K·n^β over a corpus read
    * in document order — the companion diagnostic to [[zipfFit]]
    * (natural text: β ≈ 0.4–0.6; near-duplicate-heavy corpora sag
    * toward 0, synthetic-ID-heavy ones push toward 1). One point per
    * document: (cumulative tokens, cumulative distinct tokens), both
    * exact integers — "new at doc d" = tokens whose MINIMUM doc id is
    * d, so the cumulative distinct count needs no per-prefix rescans.
    *
    * Scale shape: two token-keyed aggregates (per-doc counts, per-token
    * first doc) are the data-sized work; the cumulative sums then run
    * over DOC-count-sized rows THROUGH the distributed prefix cascade
    * ([[Profile.domainPrefix]] keyed on the doc id) — doc count GROWS
    * with the corpus (billions of rows at 100 TB), so unlike zipfFit's
    * parameter-bounded topN window it must never funnel through one
    * task (VERDICT r8's last data-proportional single-partition
    * window). The cascade's exact BIGINT tree reproduces the replaced
    * window's sums bit-for-bit, so the oracle is unchanged. Inclusive
    * cumulative = the cascade's exclusive prefix + the row's own
    * value. (Doc ids that don't cast to LONG fall into one bucket —
    * still CORRECT, the cascade degrades to the old single-task shape —
    * so give a 100 TB corpus numeric doc ids, which every fixture and
    * real ingest pipeline already has.) */
  def heapsFit(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    powerLawFit(heapsPoints(docs, Nil, idCol, textCol), "n_tokens", "n_vocab")

  /** The one Heaps point body: (keys..., n_tokens, n_vocab), one row
    * per (key, document). */
  private def heapsPoints(docs: DataFrame, keys: Seq[String], idCol: String,
      textCol: String): DataFrame = {
    val ks = keys.map(col)
    val toks = docs.select(ks ++ Seq(col(idCol).as("d"),
      explode(TextOps.words(lower(col(textCol)))).as("token")): _*)
    val perDoc = toks.groupBy(ks :+ col("d"): _*)
      .agg(count(lit(1)).as("ntok"))
    val newv = toks.groupBy(ks :+ col("token"): _*)
      .agg(min(col("d")).as("d"))
      .groupBy(ks :+ col("d"): _*).agg(count(lit(1)).as("vnew"))
    val pts0 = perDoc.join(newv, keys :+ "d", "left")
      .select(ks ++ Seq(col("d"), col("ntok"),
        coalesce(col("vnew"), lit(0L)).as("vnew")): _*)
    Profile.domainPrefix(pts0, "d", Seq("ntok", "vnew"), groupCols = keys)
      .select(ks ++ Seq((col("cum_ntok") + col("ntok")).as("n_tokens"),
        (col("cum_vnew") + col("vnew")).as("n_vocab")): _*)
  }
}
