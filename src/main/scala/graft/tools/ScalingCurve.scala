package graft.tools

/** Empirical scaling curve: times representative queries at three scale
  * factors spanning 100× of data (sf0.001 → sf0.01 → sf0.1) with Bench's
  * measurement discipline (median of 3, cache cleared, toRdd.count).
  * A plan that survives a 100× scale-up should grow clearly sublinearly
  * with data here (fixed per-query overhead dominates the small SFs);
  * anything growing FASTER than data is a scale bug. Results are recorded
  * in SCALING.md. */
object ScalingCurve {
  private val queries = Seq("q_agg_grouped", "q_window", "q_tpch_q3",
    "q_quality", "q_ann_topk", "q_minhash_lsh", "q_jaccard_pairs05",
    "q_decontam", "q_vocab", "q_range_join", "q_corpus_shuffle",
    "q_dedup_lines", "q_mixture", "q_tpch_q7",
    "q_tpch_q1", "q_tpch_q21", "q_semantic_dedup",
    "q_editdist_pairs", "q_resample_ffill", "q_covariance",
    "q_repeated_spans", "q_cohort_retention", "q_rolling_zscore",
    "q_pagerank", "q_triangles", "q_link_predict")
  private val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
    "/root/testdata/sf0.1")

  /** The heaviest corpus families, re-measured through a generated sf1
    * (10x sf0.1 via MakeSf1) — a full 1000x data span. Run:
    * `runMain graft.tools.ScalingCurve heavy1000x /tmp/graft_sf1` */
  private val heavy = Seq("q_minhash_lsh", "q_repeated_spans", "q_bm25",
    "q_rrf_hybrid", "q_decontam_fuzzy", "q_leakage_split",
    // round-8 widening: the next tier of corpus/embedding families
    "q_semantic_dedup", "q_jaccard_pairs05", "q_dedup_lines", "q_tfidf",
    // round 9: the self-sized LSH path next to the fixed default — the
    // pair of rows that shows the sizing rule correcting the one
    // super-linear family
    "q_semantic_dedup_auto",
    // round-9 widening (VERDICT r8 ask #4): the RELATIONAL families —
    // MakeSf1 now scales the TPC-H facts + per-SF dimensions and the
    // events stream 10x with replica-local keys, so the heaviest
    // join/window/sessionize shapes get measured sf0.001->sf1 instead
    // of arguing their last decade from plan shapes
    "q_tpch_q9", "q_tpch_q18", "q_tpch_q21", "q_window", "q_sessionize",
    "q_cohort_retention",
    // round 9 widening: the bottom-k family — the distinct sketch
    // (take-ordered over a map-side-partial distinct) and the salted
    // per-domain cap (two bounded rank levels) should both be
    // near-flat in data size
    "q_kmv_distinct", "q_domain_cap",
    // round 10: the rows the bottom-k aggregate + star/propagation work
    // changed — grouped quantiles ride the new bounded exchange, and
    // the cluster family re-measures after the two-hop loop kept its
    // default but gained the star escape hatch
    "q_kmv_quantiles_by", "q_dedup_clusters",
    // round 10b: the corpus-global substring-dedup rewrite — anchors are
    // the raw token stream, so this row is the direct probe of the
    // hash-keyed agg + join-back + excision shape
    "q_substring_dedup",
    // round 11: the rows this round's selection/exchange changes touch —
    // the retired-window sampling pair (bounded bottom_k_by aggregate on
    // every id type) and the size-gated indexed probe (index build
    // amortized once per JVM; this times the batch rewrite path).
    // q_kmv_distinct / q_substring_dedup above re-measure the unified
    // global sketch and the shared anchors exchange on the same run.
    "q_weighted_by_source", "q_preference_pairs",
    "q_substring_dedup_indexed",
    // round 12 (VERDICT r11 ask #4): the round-11 operators that
    // shipped without sf1 rows — first-occurrence novelty (one shared
    // gram exchange), the distinct-(fp, source) duplication matrix,
    // and the KMV containment estimators (global + grouped)
    "q_novelty", "q_cross_source_dups", "q_kmv_containment",
    "q_kmv_containment_by",
    // round 16 (VERDICT r15 ask #3): the rows the size-gated confirm
    // attach / tok exchange and the r15 rewrites touched, measured to
    // sf1 at both core counts (run once with SPARK_GRAFT_CPUS=32 and
    // once with 8 — the tool honors it)
    "q_resample_ffill", "q_skew_report", "q_corpus_curate",
    "q_editdist_pairs")

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.create(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val heavyMode = args.headOption.contains("heavy1000x")
    // optional trailing args: query names to re-measure (subset of the
    // mode's list) — refreshing one changed row costs one row, not a
    // ~20-minute full-table re-run
    val subset = (if (heavyMode) args.drop(2) else args).toSet
    val qset0 = if (heavyMode) heavy else queries
    val qset = if (subset.isEmpty) qset0 else {
      val unknown = subset -- qset0.toSet
      require(unknown.isEmpty, s"not in this mode's query list: $unknown")
      qset0.filter(subset)
    }
    val sfset =
      if (heavyMode) sfs :+ (if (args.length > 1) args(1) else "/tmp/graft_sf1")
      else sfs
    val rows = qset.map { q =>
      val times = sfset.map { sf =>
        val samples = (1 to 3).map(_ => graft.Bench.queryRun(spark, q, sf))
          .sorted
        samples(1)
      }
      (q, times)
    }
    val hdr = if (heavyMode)
      f"${"query"}%-20s ${"sf0.001"}%9s ${"sf0.01"}%9s ${"sf0.1"}%9s ${"sf1"}%9s ${"t(1000x)/t(1x)"}%15s"
    else
      f"${"query"}%-20s ${"sf0.001"}%9s ${"sf0.01"}%9s ${"sf0.1"}%9s ${"t(100x)/t(1x)"}%14s"
    println(hdr)
    rows.foreach { case (q, ts) =>
      val cells = ts.map(t => f"$t%8.2fs").mkString(" ")
      println(f"$q%-20s $cells ${ts.last / ts.head}%13.1fx")
    }
    spark.stop()
  }
}
