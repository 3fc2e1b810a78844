package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Benchmark main: runs the headline queries at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Evaluation is forced through
  * `queryExecution.toRdd.count()` — the physical plan is already fixed at
  * that point, so Catalyst cannot prune the projected/computed columns the
  * way a plain `df.count()` would (VERDICT r1, "What's wrong" #2).
  *
  * Run hygiene (VERDICT r3, "What's wrong" #1/#2): each query runs
  * SPARK_GRAFT_BENCH_RUNS times (default 3) and reports the per-query
  * MEDIAN, so one GC pause or JIT warmup can't masquerade as a plan
  * regression; `spark.catalog.clearCache()` runs between measurements so
  * no query inherits (or pays eviction for) a predecessor's cached
  * intermediates — a 14-entry single-JVM bench otherwise accumulates
  * session-lifetime caches and the tail entries degrade for reasons that
  * have nothing to do with their plans. */
object Bench {
  /** Representative slice (stable from round 2 on): scan-heavy agg,
    * broadcast join, outer join, window fns, top-k, sessionize, the
    * composite showpieces (TPC-H Q3 shape, as-of join, corpus curation),
    * and the LLM-pipeline ops (similarity join, MinHash LSH, ANN, text
    * scoring). */
  val headline: Seq[String] = Seq(
    "q_agg_grouped", "q_join_inner", "q_join_left", "q_window",
    "q_sort_limit", "q_sessionize", "q_tpch_q3", "q_asof_join",
    "q_jaccard_pairs05", "q_minhash_lsh", "q_ann_topk", "q_quality",
    "q_corpus_curate",
    // round-4 additions: the newest corpus-scale op families
    "q_decontam", "q_vocab",
    // late round 4: the bin-sharded range join (attribution shape)
    "q_range_join",
    // round 6: line-level dedup (two extra shuffles over exploded lines),
    // mixture sampling (agg + per-row), the 6-table dual-nation join
    "q_dedup_lines", "q_mixture", "q_tpch_q7",
    // full-suite landmarks: the pricing-summary wide aggregate and the
    // EXISTS/NOT-EXISTS semi+anti composite
    "q_tpch_q1", "q_tpch_q21",
    // late round 6: semantic dedup (sign-LSH + anti join), SymSpell
    // fuzzy join, per-key grid resample + forward-fill
    "q_semantic_dedup", "q_editdist_pairs", "q_resample_ffill",
    // round 7: PQ encode + ADC scan, per-key skew diagnostics
    "q_pq_adc", "q_skew_report",
    // late round 7: corpus analysis — TF-IDF keywords, PMI collocations —
    // and the suffix-array-style repeated-span dedup (anchor self-join)
    "q_tfidf", "q_collocations", "q_repeated_spans",
    // round 7 continuation: DSIR importance weighting (two feature
    // explosions + per-doc sum), 5-round in-engine GD training, bigram
    // LM scoring (three count aggs + per-doc sum), BM25 retrieval
    "q_dsir", "q_quality_classifier", "q_bigram_lm", "q_bm25",
    // round 7, second continuation: cell-bucketed spatial radius join
    // (15k points at sf0.1) and incremental aggregate maintenance
    // (latest-wins window + changed-key delta merge)
    "q_geo_radius", "q_incr_agg",
    // round 7, third continuation: sketch-based heavy hitters (the
    // bounded-summary alternative to q_vocab's full token GROUP BY),
    // hybrid BM25+dense RRF fusion, sliding-window exact distinct
    "q_heavy_hitters", "q_rrf_hybrid", "q_sliding_distinct",
    // round 7, fourth continuation: WARC build+byte-parse roundtrip
    // (string-heavy ingest), two-table MinHash fuzzy decontamination,
    // and the Common-Crawl-shaped end-to-end (gzip members -> parse ->
    // sniff -> extract)
    "q_warc_ingest", "q_decontam_fuzzy", "q_cc_pipeline",
    // round 7, fifth continuation: training-objective preprocessing
    // (deterministic T5 span corruption — per-row fold + transforms)
    "q_span_corrupt",
    // round 7, sixth continuation: the 200-replicate bootstrap (one
    // 200x explode + exact integer sums), the mergeable-HLL distinct
    // estimate, and the leakage-free split (iterative near-dup
    // clustering + cluster-keyed bucketing)
    "q_bootstrap_ci", "q_hll_distinct", "q_leakage_split",
    // round 9: the distributed CDF prefix cascade (Profile.domainPrefix,
    // the r8 rewrite that removed the single-partition windows) gets a
    // headline entry so a cost regression in the cascade shows up in
    // BENCH_r{N}.json instead of being invisible (VERDICT r8 ask #5)
    "q_histogram_eqdepth",
    // round 10: corpus-global exact-substring dedup REWRITE (anchor agg
    // + gram join-back + per-doc interval merge + codegen'd excision) —
    // the heaviest new text family this round, tracked from day one
    "q_substring_dedup",
    // round 11: the round-10 families that lacked bench entries
    // (VERDICT r10 #6) — the incremental PROBE path (index built once
    // per JVM, repeat runs measure the batch rewrite against the
    // standing grams) and the codegen'd integer-Viterbi unigram encode
    "q_substring_dedup_indexed", "q_unigram_encode",
    // round 13 (VERDICT r12 #7): the materialized-rollup ROUTED read —
    // rollup built once per JVM (SparkEntry.rollupCache), each run
    // registers, routes (plan-checked), executes, unregisters; a
    // routing-overhead or rollup-read regression now shows in
    // BENCH_r{N}.json instead of being invisible
    "q_rollup_route")

  /** Untimed JVM warm-up, shared with BenchOne. The cheap generic costs
    * (codegen infra, parquet footers) were always warmed; the string- and
    * codec-heavy entries additionally pay JVM JIT on their FIRST hot use
    * of the gzip codec / HTML extractor / span-corrupt fold — measured as
    * a 3.7x cold/warm spread on q_cc_pipeline with Janino compile at only
    * 15 ms, i.e. pure JIT, not generated-code size. A 200-row synthetic
    * pass through those exact library paths moves that one-time cost out
    * of whichever entry happens to run first. */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(1000000).selectExpr("sum(id)").collect()
    // best-effort, per-table: a missing fixture (purely relational
    // bench dirs) or a bug in the warmed text stack must degrade to a
    // cold first query, never abort the whole bench run (ADVICE r8)
    def tryWarm(label: String)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        System.err.println(s"[bench] warmup($label) skipped: ${e.getMessage}") }
    tryWarm("lineitem") {
      spark.read.parquet(s"$sfDir/lineitem.parquet").count() }
    tryWarm("text-pipeline") {
    spark.read.parquet(s"$sfDir/documents.parquet").count()
    // 2000 x ~400-byte rows: enough iterations of the per-record codec
    // and per-char extractor loops to reach tiered JIT, still < 1 s
    val tiny = spark.range(2000).toDF("doc_id")
      .withColumn("text", concat(lit("the quick <p>brown</p> fox "),
        col("doc_id").cast("string"),
        lit(" <a href=\"/x\">jumps</a> over the lazy dog " * 8)))
    val recs = tiny.select((col("doc_id") % 4).as("file_id"), col("doc_id"),
      graft.sources.Warc.record(lit("response"),
        concat(lit("urn:w:"), col("doc_id").cast("string")),
        concat(lit("https://w.example.com/"), col("doc_id").cast("string")),
        col("text")).as("rec"))
    // two passes: tiered JIT compiles the hot codec/extractor loops
    // asynchronously during the first, so the second runs (and any
    // remaining compilation finishes) before measurement starts
    (1 to 2).foreach { _ =>
      val gz = graft.sources.Warc.gzipFiles(recs, "file_id", "rec", "doc_id")
      graft.ops.Html.extract(
        graft.sources.Warc.parseGzip(gz, "file_id", "payload")
          .withColumn("sniffed",
            graft.ops.Multimodal.sniffKind(col("body").cast("binary")))
          .withColumn("doc_id", regexp_extract(col("record_id"),
            "urn:w:(\\d+)", 1).cast("long")),
        "doc_id", "body").count()
      graft.ops.TextOps.spanCorrupt(tiny, "doc_id", "text",
        maskPermille = 150).count()
    }
    }
  }

  /** One bench entry: the successful per-run samples (seconds, run order
    * preserved) plus the ok flag. The JSON reports every sample AND the
    * min/median/max, not just the median — a 3-run spread of 2–10× is the
    * signature of a contended machine, while a tight-but-slow spread is a
    * real plan regression; with only the median in the artifact the two
    * are indistinguishable (VERDICT r6: the 130.5 s r6 total was pure
    * contention, provable only by out-of-band reruns). */
  private[graft] final case class Entry(name: String, samples: Seq[Double]) {
    def ok: Boolean = samples.nonEmpty
    // upper median — with the default 3 runs, the true middle value
    def med: Double = if (ok) samples.sorted.apply(samples.length / 2) else -1.0
  }

  /** Shuffle partitions equal SPARK_GRAFT_CPUS for the batch entries
    * (the streaming entries cap them at 4, see [[streamingEntries]]). */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = GraftSession.create(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    warmup(spark, sfDir)

    val results = headline.map { name =>
      val samples = (1 to runs).map { _ =>
        // lookup inside the try: one stale headline name must cost one
        // entry, not the whole round's benchmark output
        timed(spark)(SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.toRdd.count())
      }
      Entry(name, samples.collect { case (t, true) => t })
    }
    val all = results ++ streamingEntries(spark, sfDir, runs)
    // a crashed query records -1 (NOT its near-zero elapsed time) and is
    // excluded from the total, so failures can't make the bench look fast
    // ms resolution, ~6 bytes; Locale.ROOT because the f-interpolator's
    // default-locale %.3f writes "60,274" on comma-decimal JVMs —
    // invalid JSON, recreating the exact parsed:null failure this
    // compact line exists to fix
    def sec(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    // per-query [median, min] (VERDICT r8 ask #3): min is the
    // contention detector — a contended run shows med >> min while a
    // real plan regression is tight-and-slow (med ≈ min, both high) —
    // so the driver artifact self-adjudicates without a judge re-run.
    // Arrays, not {"med":..,"min":..} objects: objects cost ~28 bytes
    // per entry and push the ~50-entry line past the driver's 2000-byte
    // tail capture (the r7 parsed:null failure mode); the "q_fmt" field
    // documents the element order in-band.
    val qs = all.map(e => "\"" + e.name + "\":[" + sec(e.med) + "," +
        sec(if (e.ok) e.samples.min else -1.0) + "]")
      .mkString("{", ",", "}")
    val failed = all.collect { case e if !e.ok => "\"" + e.name + "\"" }
    val total = all.filter(_.ok).map(_.med).sum
    // full per-run samples + min/max: lets the reader separate machine
    // contention (wide spread) from plan regression (tight slow spread)
    // without rerunning anything
    val samplesJson = all.map(e =>
        "\"" + e.name + "\":" + e.samples.mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val statsJson = all.filter(_.ok).map { e =>
        "\"" + e.name + "\":{\"min\":" + e.samples.min +
          ",\"median\":" + e.med + ",\"max\":" + e.samples.max + "}" }
      .mkString("{", ",", "}")
    // the stdout line must stay COMPACT: the driver's capture keeps only
    // the trailing ~2.3 KB of output, and r7's line with inline
    // samples/stats (~5 KB) came back front-truncated and unparseable
    // (VERDICT r7, "What's missing" #2). Medians at 1 ms resolution keep
    // the full ~50-entry line under 2 KB; the per-run samples/stats go
    // to a separate file (committed per round as BENCH_STATS_r{N}.json).
    val trailer =
      s""""failed":[${failed.mkString(",")}],"runs":$runs,"sf":"$sfDir"}"""
    val json = s"""{"metric":"total","value":${sec(total)},"unit":"sec",""" +
      s""""q_fmt":"[med_s,min_s]","queries":$qs,""" + trailer
    val statsFull = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""samples":$samplesJson,"stats":$statsJson,""" + trailer
    val statsPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_STATS_OUT",
      "BENCH_STATS_LOCAL.json")
    try Files.writeString(Paths.get(statsPath), statsFull + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] stats write failed: ${e.getMessage}") }
    // two delivery paths (VERDICT r3 "What's wrong" #3 — BENCH_r03 came
    // back parsed:null): stdout (unprefixed now that build.sbt forks the
    // run with StdoutOutput) and, when SPARK_GRAFT_BENCH_OUT is set, a
    // file the driver can read without scraping sbt logs at all.
    println(json)
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      Files.writeString(Paths.get(p), json + "\n")
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** One measurement: the elapsed seconds and whether `body` completed. */
  private def timed(spark: SparkSession)(body: => Unit): (Double, Boolean) = {
    // every measurement starts from an empty SQL cache: caching is part
    // of a query's OWN cost, not a subsidy it leaves for its successors
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val ok =
      try { body; true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] failed: ${e.getMessage}"); false }
    ((System.nanoTime() - t0) / 1e9, ok)
  }

  /** One streaming run's own temp tree and memory-sink view name. */
  private[graft] final case class StreamRun(dir: Path, view: String)

  /** One streaming entry. Per run, `setup` (untimed) fills the run's tree
    * and returns the query builder; the clock covers building the query
    * (stream analysis included), start, every available micro-batch,
    * stop, and `check` of the sink. A failed run records no sample and
    * never aborts the other entries. The tree and view are deleted in a
    * finally (runs otherwise leak them, ADVICE r13). */
  private[graft] def streamEntry(spark: SparkSession, name: String, runs: Int)(
      setup: StreamRun => () => DataStreamWriter[_])(
      check: StreamRun => Unit): Entry = {
    val samples = (1 to runs).map { i =>
      try {
        val run = StreamRun(Files.createTempDirectory(s"graft-bench-$name-$i"),
          s"bench_${name}_$i")
        try {
          val query = setup(run)
          timed(spark) {
            val q = query().start()
            try q.processAllAvailable() finally q.stop()
            check(run)
          }
        } finally {
          spark.catalog.dropTempView(run.view)
          FileUtils.deleteQuietly(run.dir.toFile)
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        (-1.0, false)
      }
    }
    Entry(name, samples.collect { case (t, true) => t })
  }

  /** The four streaming entries: real Structured Streaming file sources. */
  private[graft] def streamingEntries(spark: SparkSession, sfDir: String,
      runs: Int): Seq[Entry] = {
    import org.apache.spark.sql.functions.{col, lit, pmod, timestamp_micros}
    import graft.streaming.StreamOps
    // Streaming entries run with shuffle partitions sized to the STATE,
    // not the core count: each stateful operator materializes one state
    // store per shuffle partition per micro-batch, so 32 partitions over
    // a few thousand windowed groups is pure instantiation overhead —
    // measured 8.2 s -> ~2.5 s for s_ingest_corpus at local[32]. The
    // same sizing rule applies at 100 TB, in the opposite direction:
    // partitions scale with state volume, never blindly with the
    // executor count.
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      math.min(4, prevShuffle.toInt).toString)
    // an entry streaming one fixture table, copied into the run's tree
    // (untimed), through `query` into the memory sink, checked non-empty
    def memoryEntry(name: String, table: String, mode: String, what: String)(
        query: DataFrame => Dataset[_]): Entry =
      streamEntry(spark, name, runs) { run =>
        val src = s"$sfDir/$table.parquet"
        Files.copy(Paths.get(src), run.dir.resolve(s"$table.parquet"))
        val schema = spark.read.parquet(src).schema
        () => query(spark.readStream.schema(schema).parquet(run.dir.toString))
          .writeStream.format("memory").queryName(run.view).outputMode(mode)
      }(run => require(spark.table(run.view).count() > 0, what))
    var delivered = 0L // rows the substring ingest's sink received
    try Seq(
      // the same tumbling-window aggregation the batch oracle
      // q_events_hourly verifies, driven as a stream — the batch/stream
      // parity claim under measurement
      memoryEntry("s_windowed_counts", "events", "complete",
          "streaming query produced no windows")(src =>
        StreamOps.windowedCounts(StreamOps.withEventTime(src))),
      // the composed corpus-ingest pipeline (quality gate ->
      // watermark-bounded dedup -> per-source totals) over the documents
      // fixture. The ingest clock starts at 2024-01-01 00:00 UTC, not at
      // the epoch: the first batch's watermark is 0, so an event stamped
      // 0 would be dropped as late, which the batch form keeps (the same
      // clock as perfbench's Workloads.withIngestTs; keep the two equal)
      memoryEntry("s_ingest_corpus", "documents", "complete",
          "ingest stream produced no per-source rows")(src =>
        StreamOps.ingestCorpus(src.withColumn("ingest_ts",
          timestamp_micros(col("doc_id") * 1000000L + 1704067200000000L)))),
      // the stateful HLL distinct sketch — one 2^p-int register array per
      // event_type in mapGroupsWithState (the batch-parity claim is
      // pinned in StreamingSpec; this times the stateful path itself)
      memoryEntry("s_hll_users", "events", "update",
          "hll stream produced no estimates")(src =>
        StreamOps.hllDistinct(src, "event_type", "user_id", 6)),
      // the exact-substring ingest LIFECYCLE (excise against the standing
      // gram index -> staged durable write -> sink -> novel-gram append),
      // driven as a real foreachBatch stream in two micro-batches so batch
      // 1's appends excise batch 2 — the cross-batch guarantee is part of
      // what's being timed. A regression in the staged-write or append
      // path was invisible to BENCH_r11.json (VERDICT r11 ask #5). Each
      // run gets a FRESH index (untimed setup): the ingest both appends to
      // and stages under the index path, so a reused index would turn runs
      // 2-3 into staged-read replays instead of the lifecycle under
      // measurement.
      streamEntry(spark, "s_substring_ingest", runs) { run =>
        delivered = 0L
        val idxPath = run.dir.resolve("gramidx").toString
        val watchDir = Files.createDirectory(run.dir.resolve("in"))
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text")
        // standing corpus: even ids; stream: odd ids, split by
        // doc_id % 4 into two single-file parquet batches. Buckets
        // sized to the corpus (16 for a few-thousand-doc index):
        // every probe lists and every append writes ≥ 1 file per
        // touched bucket, so overshading a small index pays pure
        // file-IO — at 100 TB the same rule sizes buckets UP
        graft.ops.Dedup.saveGramIndex(
          docs.where(pmod(col("doc_id"), lit(2)) === 0), idxPath,
          "text", minLen = 8, buckets = 16)
        // (the file source skips the writer's _SUCCESS and .crc files)
        Seq(1L, 3L).foreach { r =>
          docs.where(pmod(col("doc_id"), lit(4)) === r)
            .coalesce(1).write.mode("append").parquet(watchDir.toString) }
        () => StreamOps.substringDedupIngest(
            spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(watchDir.toString),
            idxPath, checkpoint = run.dir.resolve("ckpt").toString) {
          (cleaned, _) => delivered += cleaned.count() }
      }(_ => require(delivered > 0, "substring ingest delivered no rows")))
    // exception-safe restore (ADVICE r6): without the finally, a crash in
    // the streaming section leaves the shared session pinned at 4 shuffle
    // partitions for everything that runs after the bench
    finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
  }
}
