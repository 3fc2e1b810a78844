package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode
import graft.{GraftSession, SparkEntry}

/** Regenerates PLANS.md: the formatted physical plans of the headline
  * queries, the artifact showing the scale-relevant plan properties
  * (pushed filters, pruned read schemas, broadcast joins, partial
  * aggregation, codegen spans). Run from the repo root after
  * plan-affecting changes:
  *   sbt "runMain graft.tools.DumpPlans"
  * It plans against SPARK_GRAFT_SF_DIR (default sf0.001) on 4 threads
  * and 4 shuffle partitions, fixed because partition counts show in the
  * plans, and writes PLANS.md in the working directory. */
object DumpPlans {
  private val annotated = Seq(
    "q_filter_project" -> "Filters reach the parquet scan (PushedFilters); only 4 of 11 lineitem columns are read (ReadSchema).",
    "q_agg_grouped" -> "Partial (map-side) + final HashAggregate around one shuffle keyed on the group columns.",
    "q_join_inner" -> "Both dimension joins are BroadcastHashJoin — the fact side never shuffles for them.",
    "q_tpch_q3" -> "3-way join with broadcast dims, filters pushed into all three scans, top-k via TakeOrderedAndProject.",
    "q_tpch_q5" -> "6-table join: every dimension side broadcasts (no SortMergeJoin/ShuffledHashJoin anywhere); only the final aggregation shuffles.",
    "q_sort_limit" -> "Top-k compiles to TakeOrderedAndProject: per-partition heap + driver merge, no global sort.",
    "q_jaccard_pairs" -> "Prefix-filtered set-similarity join: every stage is keyed (token/id shuffles only), no cartesian product. Threshold 0.3 = stress entry; the 0.5 headline shares this plan shape.",
    "q_minhash_lsh" -> "Codegen'd shingle+minhash expressions; candidate generation is a bucket-keyed self-join of a flat table.",
    "q_asof_join" -> "As-of join as window-over-union: every hash exchange keyed on user_id, no join operator at all — no range theta-join.",
    "q_asof_salted" -> "Same as-of result via time-range salting: windows partitioned on (user_id, bucket) so a hot key spreads over 8 tasks; the carry pre-pass shuffles only (key, bucket) cardinality.",
    "q_ann_ivf" -> "Persistent IVF probe: the cluster filter is a PARTITION filter on the saved index (PartitionFilters: cluster IN ...) — non-probed cluster directories are never read, and no argmax assignment appears anywhere in the probe plan.",
    "q_range_join" -> "Bin-sharded point-in-interval join: candidates come from a hash join keyed on (user, day-bin) with the range bounds as residual — no CartesianProduct, no per-key cross product; a hot user's work spreads across its bins.",
    "q_interval_overlap" -> "Interval-overlap join, both sides bin-exploded; the ownership-bin conjunct (bin == later start's bin) keeps the match exactly-once so no post-join dedup appears in the plan.",
    "q_dedup_lines" -> "Line-level dedup: document-frequency counted by 64-bit line hash (partial+final HashAggregate), frequent set joined back as LeftAnti (broadcast at this scale), reassembly one keyed aggregation — no shuffle ever carries line text beyond the explode stage.",
    "q_tpch_q7" -> "Dual-nation 6-table join: all dimension sides broadcast (customer/supplier/nation x2), the disjunctive pair filter applies before the aggregation, one shuffle for the final group-by.",
    "q_mixture" -> "Mixture sampling: one #sources-row aggregate feeds driver-computed literal fractions; the selection itself is a pure per-row projection+filter over the scan — no join, no second shuffle.",
    "q_tpch_q1" -> "Pricing-summary wide aggregate: the shipdate cutoff is a pushed filter, and the single exchange moves 6 groups x 8 partial accumulators — map-side partial aggregation does all the work.",
    "q_tpch_q21" -> "EXISTS and NOT EXISTS under inequality residuals: both compile to hashed LeftSemi/LeftAnti joins keyed on the orderkey equality — no nested-loop fallback, no cartesian.",
    "q_semantic_dedup" -> "SemDeDup keep-first selection: sign-LSH band-keyed candidate self-join (ids-only shuffles), exact-cosine confirm, then ONE anti join dropping higher-id near-dups — survivors never shuffle their vectors.",
    "q_editdist_pairs" -> "SymSpell fuzzy join: candidates from an equi-join on exploded deletion variants (no cross join anywhere), one exact levenshtein confirm on candidates only.",
    "q_resample_ffill" -> "Per-key grid resample: one (key, bucket) aggregation, a per-key bounded sequence explode (never a global time-axis product), keyed gap join, and one window for the forward fill — every exchange keyed on the user.",
    "q_pq_adc" -> "PQ encode + ADC scan: pure projections over the embedding scan (codebook and LUT ride as literals), the only ordering work a TakeOrderedAndProject — no join, no aggregation, nothing data-sized leaves the scan stage.",
    "q_skew_report" -> "Skew diagnostics: per key column exactly one partial+final count aggregation (the shuffle being measured) and a 1-row stats aggregate, unioned — no join, no cartesian.",
    "q_tfidf" -> "TF-IDF top-k: ONE tokenize explode feeding one (doc, token) aggregation; df is a token-keyed window over that output (a join-back would scan the corpus twice — Catalyst de-canonicalizes the copy, defeating exchange reuse), top-k a per-doc WindowGroupLimit.",
    "q_collocations" -> "PMI collocations: unigram and bigram counts each one keyed aggregation; the grand totals never explode (map-only sum of array sizes); the unigram broadcast is built once and Reused for both the x and y attaches; final top-k is TakeOrderedAndProject.",
    "q_repeated_spans" -> "Repeated-span dedup: the md5 anchor table shuffles once — the df guard is a count window over that partitioning and the self-join ReusedExchanges it; islands run per (pair, offset) window; no text beyond the scan stage, no cartesian.",
    "q_dup_fraction" -> "Duplicated-content fraction: repeatedSpans' shape, then doc-keyed interval windows + two aggregations at span cardinality (far below anchor level); the token-count side is a map-side projection joined back once — the corpus text is never re-exploded.",
    "q_rolling_zscore" -> "Rolling z-score: ONE Window operator carries all three frame moments (count, decimal Σx, Σx²) over one key exchange + one sort; scoring is pure per-row projection after that.",
    "q_pagerank" -> "PageRank final round: rank/degree state joins into the checkpointed edge table as BroadcastHashJoin (state is node-sized; checkpointed RDDs carry no stats, so the op pins the hint) — the edge table never shuffles; the only exchange is the dst-keyed partial+final contribution aggregation.",
    "q_triangles" -> "Triangle count: degree-oriented wedge join — every step a keyed equi-join (canonical dedup, degree attach, src-keyed wedge self-join, (n1,n2)-keyed closure), no CartesianProduct; the orientation bounds wedge volume by arboricity so hubs generate none.",
    "q_link_predict" -> "Link prediction: center-keyed wedge self-join over the adjacency (maxDegree caps hub centers), one (n1,n2) aggregation accumulating fixed-point RA in BIGINT, and a LeftAnti join removing pairs that are already edges.",
    "q_communities" -> "Label propagation final round: the node-sized label table broadcasts into the checkpointed edge table (edges never shuffle); one (dst, label) partial+final count and one node-keyed window argmax whose input is degree-bounded, not edge-bounded.",
    "q_blocklist" -> "Blocklist policy filter: the term table collapses to a 1-row sorted-array broadcast; matching is a codegen'd array filter inside the document scan stage — zero exchanges on the corpus side.",
    "q_scd2_join" -> "Point-in-time SCD2 join: the interval containment rides the user-keyed HASH join as a residual condition — no BroadcastNestedLoopJoin, no time-axis product; the dim history is window-built from the same scan and broadcasts at this scale.",
    "q_incr_agg" -> "Incremental aggregate maintenance: the change log's latest-wins window is the only sort; the base feeds ONE key join against the changed-key set for old-row lookup, and the delta/merge aggregates run at changed-key cardinality — the base is never re-aggregated.",
    "q_geo_radius" -> "Planar radius join: candidates from the (cx, cy) cell equi-join (home cell vs exploded 3x3 neighborhood), exact-BIGINT distance confirm as the join residual — no CartesianProduct, no dedup pass (exactly-once by construction).",
    "q_bfs_hops" -> "Multi-source BFS final level: the frontier broadcasts into the checkpointed edge table (edges never shuffle); new nodes leave through a node-sized LeftAnti against the settled set.",
    "q_dq_checks" -> "DQ expectations report: all four row rules share ONE parquet scan feeding a single partial+final aggregate; the uniqueness rule is one keyed count aggregation; the FK rule one LeftAnti join — three passes for six rules.",
    "q_histogram_eqdepth" -> "Equi-depth histogram: one scan collapses rows to the distinct cent-value domain; the prefix cascade's three levels (17-bit fan-out) aggregate at shrinking bucket cardinality, and the domain table joins each level's prefix DIRECTLY (broadcasts fusing into the final stage — no sequential offset-join chain); raw rows are touched exactly once.",
    "q_heavy_hitters" -> "Misra-Gries heavy hitters, confirm pass: the candidate set broadcasts into a LeftSemi over the token stream (the scan stays pipelined) and partial aggregation bounds the exchange at candidate cardinality — nothing distinct-value-sized shuffles, which is the whole point vs q_vocab's full GROUP BY.",
    "q_rrf_hybrid" -> "Hybrid RRF fusion: the BM25 side's one corpus tokenize + term-window; the dense side a pure codegen cosine projection + per-query window; fusion itself is an answer-sized (query, doc) aggregation with integer rank arithmetic — no float after the two input rankings.",
    "q_sliding_distinct" -> "Sliding exact distinct: window() explodes each event into its 3 covering windows map-side (span/slide = 3x), then one partial+final distinct aggregation per window — swap countDistinct for approx_count_distinct at wider spans under the same plan shape.",
    "q_index_search" -> "Bucket-pruned index search: the postings scan lists ONLY the query terms' bucket directories (PartitionFilters on bucket) with the term equality pushed into row groups (PushedFilters); the query table broadcasts, and only matched (query, doc) partials shuffle for the conjunction count.",
    "q_warc_ingest" -> "WARC roundtrip: record build is a codegen'd concat projection; file assembly one file-id-keyed aggregation; the byte parser is a stateless per-file flatMap (DeserializeToObject/MapPartitions span) — records explode executor-side, nothing driver-sized anywhere.",
    "q_decontam_fuzzy" -> "Fuzzy decontamination: the benchmark-sized eval side broadcasts both its banded signatures and its shingle sets (two BroadcastHashJoins); corpus candidates shuffle ids only; the longest stage is the corpus's own shingle+minhash projection inside its scan — no cartesian, no all-pairs.",
    "q_robots_filter" -> "robots.txt admission: the hosts-x-rules table broadcasts into the frontier's host-keyed join; the longest-prefix argmax is one window keyed by the URL row — the frontier shuffles only on its own keys.",
    "q_cc_pipeline" -> "Common-Crawl-shaped end-to-end: record build + gzip members in one file-id-keyed aggregation+map, inflate+parse as a stateless flatMap, then sniff/extract as pure per-record regex projections — one keyed exchange in the whole pipeline; everything else pipelines in the scan or the flatMap stage.",
    "q_hll_distinct" -> "Mergeable HLL sketch: the 60-bit md5 hash, bucket and rho are codegen'd projections inside the scan; one partial+final HashAggregate on bucket bounds the exchange at 2^p rows; the estimate is a second 1-row aggregate over the register table — nothing distinct-key-sized moves.",
    "q_bootstrap_ci" -> "Poissonized bootstrap: the 200x explode and the md5-Poisson weight chain are per-row codegen; partial aggregation collapses each partition to 200 (replicate, two-BIGINT) rows before the exchange; order-statistic quantiles run on the 200-row result — one data pass, bounded everything after.",
    "q_leakage_split" -> "Leakage-free split: the near-dup clustering's banded pair generation + iterative min-label rounds (localCheckpoint-truncated lineage), then ONE left join of the corpus against the pair-participant-sized labeling and a per-row md5 bucket on the cluster id — the split adds no data-sized shuffle of its own.",
    "q_kmv_distinct" -> "Bottom-k KMV sketch: the 60-bit md5 hash is a codegen'd projection in the scan; selection is the SAME bottom_k TypedImperativeAggregate as the grouped form, run group-less — partial_bottom_k collapses each task to its ≤k smallest distinct hashes before the single-partition exchange (tasks×k 8-byte values, never the corpus's distinct-hash stream); the estimate is a 1-row aggregate over k rows.",
    "q_domain_cap" -> "Deterministic per-domain cap: id selection is the bottom-k TypedImperativeAggregate (partial_bottom_k below the exchange — each task ships ≤k hashes per domain, never the distinct (domain, hash) stream), then one (domain, hash)-keyed LeftSemi attaches the surviving rows; no window anywhere, no task holding a whole domain.",
    "q_kmv_by_priority" -> "Grouped bottom-k sketch: ObjectHashAggregate with partial_bottom_k BEFORE the group-keyed exchange — the map side collapses every (group-slice) to ≤k eight-byte hashes (bottom-k is a lattice), so the shuffle is tasks×groups×k; the estimate reads k rows per group.",
    "q_substring_dedup" -> "Corpus-global substring-dedup rewrite: the fused shingle_anchors pass is the only corpus-sized stream; the duplicated-gram table comes from ONE hash-keyed partial+final count/min aggregate (algebraic — the exchange carries distinct-gram volume), joins back on the 64-bit gram key, interval merge windows only over DUPLICATED positions per doc, and the excise_spans rewrite is a map-side codegen'd two-pointer loop — cuts travel to the text, the text never shuffles. Round 11: the anchors pass is exchanged on the gram key exactly ONCE (explicit repartition reused by the aggregate and the probe join — the aggregate's distribution is already satisfied, so no second exchange).")

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.create("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the headline queries\n\n")
    sb.append(s"Generated by `graft.tools.DumpPlans` against `$dir`.\n")
    sb.append("What to look for per query is noted above each plan.\n")
    annotated.foreach { case (name, note) =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.explainString(FormattedMode)
      // giant embedded literals (LSH hyperplane arrays, planted probe
      // vectors) say nothing about plan SHAPE — clip them so the dump
      // stays reviewable
      val clipped = plan.linesIterator.map(l =>
        if (l.length > 400) l.take(400) + " … [literal clipped]" else l)
        .mkString("\n") + "\n"
      sb.append(s"\n## $name\n\n$note\n\n```\n$clipped```\n")
    }
    // the routed rollup plan, built directly: queries("q_rollup_route")
    // deliberately returns the EXECUTED rows as a local relation (its
    // own plan is a LocalTableScan), so the plan worth pinning — the
    // base scan swapped for the rollup artifact — is captured here
    // while a registration is live
    locally {
      import org.apache.spark.sql.functions._
      graft.Graft.init(spark)
      val basePath = s"$dir/documents.parquet"
      val roll = SparkEntry.scratchDir("graft-plans-rollup").toString
      graft.ops.Rollup.saveRollup(spark.read.parquet(basePath), roll,
        dims = Seq("lang", "source"), measures = Seq("n_chars"))
      graft.ops.Rollup.register(spark, basePath, roll)
      try {
        val plan = spark.read.parquet(basePath)
          .where(col("source") =!= "src0")
          .groupBy(upper(col("lang")).as("lang_u"))
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
            avg("n_chars").as("avg_chars"))
          .queryExecution.explainString(FormattedMode)
        sb.append("\n## q_rollup_route (routed aggregation, while registered)\n\n" +
          "Materialized-rollup routing: the query names the BASE path but " +
          "the scan reads the rollup artifact — the base never appears; " +
          "the dim filter is pushed into the rollup scan, only the " +
          "referenced partial columns are read (avg = the sum+count " +
          "pair), and the dim-expression grouping re-aggregates the " +
          "stored partials partial+final.\n\n```\n" + plan + "\n```\n")
        // the round-14 surface: COUNT(DISTINCT dim) + dim-expression
        // extrema need NO stored partial at all — the routed scan is
        // dims-only
        val planD = spark.read.parquet(basePath)
          .where(col("source") =!= "src0")
          .groupBy("lang")
          .agg(countDistinct(col("source")).as("n_sources_d"),
            min(upper(col("source"))).as("min_source_u"))
          .queryExecution.explainString(FormattedMode)
        sb.append("\n## q_rollup_distinct (routed COUNT DISTINCT + " +
          "dim-expression extrema, while registered)\n\n" +
          "The rollup rows ARE the distinct dim combinations, so the " +
          "distinct count and f(dims) extrema re-derive from them with " +
          "no stored partials: the routed scan reads ONLY the dim " +
          "columns (ReadSchema carries no graft_rollup__ column), the " +
          "dim filter is pushed, the base never appears, and the " +
          "one-distinct aggregate plans through Spark's standard " +
          "two-phase distinct path over the tiny artifact.\n\n```\n" +
          planD + "\n```\n")
        // the round-15 surface: the STAR shape — aggregate above
        // fact ⋈ dim_table — routes by swapping only the fact side.
        // The dim table is q_rollup_star's OWN fixture (one
        // definition; the oracle CTE mirrors it)
        val dim = spark.read.parquet(
          graft.SparkEntry.starDimFor(spark, dir))
        val planS = spark.read.parquet(basePath)
          .join(dim, col("source") === col("src"))
          .where(col("tier") === "high")
          .groupBy("tier", "lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
          .queryExecution.explainString(FormattedMode)
        sb.append("\n## q_rollup_star (routed star-schema aggregate, " +
          "while registered)\n\n" +
          "Aggregate above fact ⋈ dim_table: the router swaps ONLY the " +
          "fact side for the rollup (the joined rollup is itself a " +
          "valid rollup of the joined base — multiplicity multiplies " +
          "both sides identically), so the plan reads the rollup and " +
          "the dim table, never the base corpus; the two tiny operands " +
          "broadcast-join, the dim-table filter is pushed into the dim " +
          "scan, and the rollup scan is pruned to dims + the partials " +
          "the aggregates need.\n\n```\n" + planS + "\n```\n")
      } finally graft.ops.Rollup.unregister(spark, basePath)
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plans] wrote PLANS.md (${sb.length} chars)")
    spark.stop()
  }
}
