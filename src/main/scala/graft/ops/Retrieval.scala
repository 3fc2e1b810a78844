package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 keyword retrieval: score every document against a (small) query
  * table and keep the top-k matches per query — the lexical-search
  * primitive a corpus pipeline uses for eval-set sourcing, targeted
  * decontamination sweeps, and quality-probe retrieval ("find the docs
  * that answer this question").
  *
  * (Extension surface — the reference engine has no text functions at
  * all; same corpus fixtures as the tf-idf / vocabulary family.)
  *
  * Okapi BM25 with the standard parameters:
  *
  *   score(q, d) = sum over distinct query terms t of
  *     idf(t) * tf(t,d)*(k1+1) / (tf(t,d) + k1*((1-b) + b*dl(d)/avgdl))
  *   idf(t) = ln( (N - df(t) + 0.5) / (df(t) + 0.5) + 1 )   (Lucene form,
  *            always positive)
  *
  * N counts documents with at least one token; dl is the document's
  * token count; avgdl = total_tokens / N.
  *
  * Determinism contract (the lmScore/tfidf rule): idf is quantized to
  * 1e-6; each term's contribution is one fixed-shape IEEE double
  * expression over exact integers and that quantized idf, itself
  * quantized to integer MICROS — so the per-(query, doc) score is an
  * exact BIGINT sum no engine, partitioning, or retry can perturb
  * (the pageRank fixed-point rule). Ranking ties break on doc id
  * ascending. The emitted score is score_micros / 1e6 — one IEEE
  * division of an exact integer.
  *
  * Scale shape: the corpus is tokenized and shuffled ONCE into the
  * (doc, term) tf table — dl rides along from the pre-explode map side,
  * costing no extra pass; df comes from a term-keyed window over that
  * table (the tfidf lesson: a join back would duplicate the tokenize
  * subtree). The (N, avgdl) scalars are a 1-row broadcast attach. The
  * query table is broadcast into the term join — queries are human-sized
  * while the corpus is 100 TB, so the corpus side never reshuffles for
  * the match; the score aggregation shuffles only matched (query, doc)
  * partials, and the final top-k is a per-query window, never a global
  * sort. */
object Retrieval {

  /** Top-k BM25 matches per query.
    *
    * @param queries small table of (qidCol, qtextCol) — broadcast, must
    *                fit the broadcast threshold (human-written queries do)
    * @return (qidCol, idCol, score DOUBLE, rank INT), rank 1..k per query
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      qidCol: String = "query_id", qtextCol: String = "qtext",
      k: Int = 10): DataFrame = {
    require(k > 0, "k must be positive")
    // BM25 constants, spelled as the exact double literals both engines
    // must use (k1 = 1.2, b = 0.75 => k1+1 = 2.2, 1-b = 0.25): deriving
    // 2.2 as 1.2+1.0 at plan-build time would be fine in Spark but easy
    // to mismatch in hand-written oracle SQL, so both sides write the
    // finished literals.
    // term identity = per-word XXH64 (shingle_anchors n=1, one fused
    // byte-scan pass replacing two regex splits per doc) — terms here
    // are pure equality keys (tf/df grouping, query join, df window)
    // that never reach output, so hashing preserves every count the
    // score reads whp while the twice-shuffled key drops from an
    // average word string to 8 bytes. Tokenization class matches
    // TextOps.words exactly (same \s set, same [''] empty-doc artifact),
    // so dl and the oracle's len(ws) agree row-for-row.
    import graft.functions.ShingleExprs.shingleAnchors
    graft.Graft.init(docs.sparkSession) // shingle_anchors (idempotent)
    val tf = docs
      .select(col(idCol), shingleAnchors(lower(col(textCol)), 1).as("tk"))
      .select(col(idCol), size(col("tk")).as("dl"),
        explode(col("tk")).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfw = tf.withColumn("df_docs",
      count(lit(1)).over(Window.partitionBy(col("term"))))
    // corpus scalars from the tf table (docs with >= 1 token), 1 row
    val stats = dfw.agg(
      count_distinct(col(idCol)).as("n_docs"),
      sum(col("tf")).as("total_tokens"))
    val qterms = queries
      .select(col(qidCol),
        explode(array_distinct(shingleAnchors(lower(col(qtextCol)), 1)))
          .as("term"))
    val idf = round(log(
      (col("n_docs").cast("double") - col("df_docs").cast("double") + 0.5)
        / (col("df_docs").cast("double") + 0.5) + 1.0), 6)
    val avgdl = col("total_tokens").cast("double") / col("n_docs").cast("double")
    val denom = col("tf").cast("double") +
      lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))
    val contribMicros = round(
      idf * (col("tf").cast("double") * lit(2.2) / denom) * lit(1000000.0), 0)
      .cast("long")
    val scored = dfw
      .crossJoin(broadcast(stats)) // 1-row scalar attach
      .join(broadcast(qterms), "term")
      .groupBy(col(qidCol), col(idCol))
      .agg(sum(contribMicros).as("score_micros"))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("score_micros").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col(idCol),
        (col("score_micros").cast("double") / 1000000.0).as("score"),
        col("rank"))
  }

  /** Boolean AND retrieval: the documents containing EVERY distinct
    * term of each query (same lowercase whitespace tokenization as
    * bm25TopK) — the candidate-set primitive under faceted corpus
    * probes and targeted decontamination sweeps, where BM25's ranking
    * is noise and the conjunction is the point.
    *
    * Scale shape: the corpus explodes to DISTINCT (doc, term) pairs and
    * immediately inner-joins the BROADCAST query-term table — every
    * non-query term dies map-side, so the only shuffle carries (query,
    * doc) pairs that matched at least one term. The conjunction is a
    * count: a doc qualifies when its matched-term count equals the
    * query's distinct-term count (attached from a broadcast per-query
    * scalar). No score, no window — output is the exact match set. */
  def booleanSearch(docs: DataFrame, queries: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      qidCol: String = "query_id", qtextCol: String = "qtext"): DataFrame = {
    val docTerms = docs.select(col(idCol),
      explode(array_distinct(TextOps.words(lower(col(textCol))))).as("term"))
    val qterms = queries.select(col(qidCol),
      explode(array_distinct(TextOps.words(lower(col(qtextCol)))))
        .as("term"))
    val nTerms = qterms.groupBy(col(qidCol))
      .agg(count(lit(1)).as("n_terms"))
    docTerms.join(broadcast(qterms), "term")
      .groupBy(col(qidCol), col(idCol))
      .agg(count(lit(1)).as("matched"))
      .join(broadcast(nTerms), qidCol)
      .where(col("matched") === col("n_terms"))
      .select(col(qidCol), col(idCol))
  }

  /** Exact phrase search: the documents containing each query phrase
    * as CONSECUTIVE tokens (same tokenization as [[bm25TopK]]) — the
    * quoted-query primitive. Phrases must have >= 2 tokens (route
    * single terms through [[booleanSearch]]).
    *
    * Two-stage shape, the standard index-then-verify discipline:
    * candidates come from the bigram conjunction (doc bigrams are
    * built MAP-SIDE with the slice+zip construction — no window — and
    * immediately meet the broadcast phrase-bigram table, so non-query
    * bigrams die in the scan stage), which is a SUPERSET of true
    * matches (bigrams can all appear without being adjacent as one
    * run); the exact confirm then substring-checks the normalized
    * token stream of candidate docs only. The corpus text is never
    * shuffled — candidates re-attach to it by an id semi-join-shaped
    * inner join, candidate-sized. */
  def phraseSearch(docs: DataFrame, phrases: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      qidCol: String = "query_id", phraseCol: String = "phrase"): DataFrame = {
    val toks = (c: Column) => TextOps.words(lower(c))
    val bigrams = (c: Column) => zip_with(
      slice(toks(c), lit(1), greatest(size(toks(c)) - 1, lit(0))),
      slice(toks(c), lit(2), greatest(size(toks(c)) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    val docBg = docs.select(col(idCol),
      explode(array_distinct(bigrams(col(textCol)))).as("bg"))
    val qBg = phrases.select(col(qidCol),
      explode(array_distinct(bigrams(col(phraseCol)))).as("bg"))
    val nBg = qBg.groupBy(col(qidCol)).agg(count(lit(1)).as("n_bg"))
    val cand = docBg.join(broadcast(qBg), "bg")
      .groupBy(col(qidCol), col(idCol))
      .agg(count(lit(1)).as("matched"))
      .join(broadcast(nBg), qidCol)
      .where(col("matched") === col("n_bg"))
      .select(col(qidCol), col(idCol))
    val norm = (c: Column) =>
      concat(lit(" "), concat_ws(" ", toks(c)), lit(" "))
    cand
      .join(docs.select(col(idCol), norm(col(textCol)).as("__stream")), idCol)
      .join(broadcast(phrases.select(col(qidCol),
        norm(col(phraseCol)).as("__needle"))), qidCol)
      .where(col("__stream").contains(col("__needle")))
      .select(col(qidCol), col(idCol))
  }

  /** Build a PERSISTED inverted index: (term, doc_id, tf) postings,
    * hash-bucketed on the term into `nBuckets` partition directories —
    * the parquet-native secondary index. A query term's bucket is
    * computable without touching data, so [[searchIndex]] reads only
    * |query terms| directories out of `nBuckets` (partition pruning)
    * and pushes the term equality into those files' row groups
    * (predicate pushdown + dictionary/bloom skipping). At 100 TB the
    * postings table is itself huge, but a k-term query now scans
    * ~k/nBuckets of it instead of the corpus.
    *
    * The bucket function is crc32(term) % nBuckets — chosen because it
    * is cheap, stable across engines/versions, and PHYSICAL-LAYOUT-ONLY:
    * no query RESULT depends on it, so rebuilding with a different
    * nBuckets changes nothing but pruning granularity. Same lowercase
    * whitespace tokenization as every text op here. */
  def buildIndex(docs: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text",
      nBuckets: Int = 64): Unit =
    writePostings(docs, path, idCol, textCol, nBuckets, "overwrite")

  /** The one tokenize/tf/bucket pipeline behind [[buildIndex]] and
    * [[appendToIndex]] — a change here cannot desynchronize the
    * base-build and append paths. */
  private def writePostings(docs: DataFrame, path: String, idCol: String,
      textCol: String, nBuckets: Int, mode: String): Unit = {
    require(nBuckets >= 1, "nBuckets must be positive")
    docs
      .select(col(idCol), explode(TextOps.words(lower(col(textCol))))
        .as("term"))
      .groupBy(col("term"), col(idCol))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(crc32(col("term")), lit(nBuckets.toLong)))
      .write.mode(mode).partitionBy("bucket")
      .parquet(s"$path/postings")
  }

  /** Incremental index maintenance: append a NEW batch's postings into
    * the existing bucket directories — the daily-crawl path. Existing
    * files are never rewritten (same contract as the IVF index's
    * addToIndex); a doc present in both the base index and the batch
    * would surface twice, so feed this the [[graft.ops.Dedup]]-deduped
    * increment. Rebuild when bucket skew or small-file count degrades
    * ([[graft.ops.Layout.compact]] handles the latter in place-free
    * fashion). */
  def appendToIndex(docs: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text",
      nBuckets: Int = 64): Unit = {
    recoveredPostings(docs.sparkSession, path)
    writePostings(docs, path, idCol, textCol, nBuckets, "append")
  }

  /** Compact an index that has accumulated small files from many
    * [[appendToIndex]] increments: rewrite the postings to a fresh
    * directory with one file per bucket partition, then swap
    * directories ([[DirCommit.swap]]). Never compacts in place — a
    * crash mid-rewrite leaves the live index untouched (the
    * [[graft.ops.Layout.compact]] rule), and a crash mid-swap is undone
    * by the next append or compaction. Answers are layout-invariant;
    * only file counts change. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val (fs, live, retired) = recoveredPostings(spark, path)
    val staged = new org.apache.hadoop.fs.Path(s"$path/postings.compact")
    spark.read.parquet(live.toString)
      .repartition(col("bucket")).sortWithinPartitions(col("term"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(staged.toString)
    DirCommit.swap(fs, live, staged, retired)
  }

  /** The postings directory and the name [[compactIndex]] retires it
    * under, with a crashed swap undone first: its retired copy may be
    * the only one. */
  private def recoveredPostings(spark: org.apache.spark.sql.SparkSession,
      path: String): (org.apache.hadoop.fs.FileSystem,
        org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path) = {
    val live = new org.apache.hadoop.fs.Path(s"$path/postings")
    val retired = new org.apache.hadoop.fs.Path(s"$path/postings.old")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    DirCommit.recover(fs, live, retired)
    (fs, live, retired)
  }

  /** Conjunctive (boolean AND) search against a [[buildIndex]] index:
    * docs containing EVERY distinct term of each query. Reads prune to
    * the query terms' buckets before any row is touched — the plan
    * shows PartitionFilters on `bucket` and PushedFilters on `term`.
    * Queries are a driver-side map (human-sized, like every query
    * surface here). Output: (query_id, doc_id). */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: Map[Long, String], nBuckets: Int = 64): DataFrame = {
    import spark.implicits._
    // Locale.ROOT: Spark's lower() is locale-independent, and a driver
    // JVM under tr-TR would otherwise dotless-i the query terms into
    // buckets/terms the index never wrote (silent zero results)
    val qterms: Seq[(Long, String)] = queries.toSeq.flatMap { case (qid, q) =>
      q.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+")
        .toSeq.distinct.map(qid -> _) }
    // driver-side mirror of Spark's crc32 (same polynomial, UTF-8 bytes)
    def bucketOf(t: String): Long = {
      val crc = new java.util.zip.CRC32
      crc.update(t.getBytes("UTF-8"))
      crc.getValue % nBuckets
    }
    val buckets = qterms.map(t => bucketOf(t._2)).distinct
    val terms = qterms.map(_._2).distinct
    val postings = spark.read.parquet(s"$path/postings")
      .where(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
    val qdf = qterms.toDF("query_id", "term")
    val need = queries.toSeq.map { case (qid, q) =>
      qid -> q.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+")
        .toSeq.distinct.size.toLong }
      .toDF("query_id", "n_need")
    // count DISTINCT terms, not posting rows: duplicate (term, doc)
    // postings (a doc re-ingested by appendToIndex) would otherwise
    // make partial matches reach n_need — a FALSE-POSITIVE conjunctive
    // hit, not just the documented surfaces-twice artifact
    postings.join(broadcast(qdf), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count_distinct(col("term")).as("matched"))
      .join(broadcast(need), Seq("query_id"))
      .where(col("matched") === col("n_need"))
      .select(col("query_id"), col("doc_id"))
  }

  /** Reciprocal rank fusion (Cormack et al. 2009): combine N ranked
    * lists for the same queries into one ranking by
    *
    *   rrf(q, d) = sum over lists containing d of 1 / (k0 + rank)
    *
    * — the standard hybrid-retrieval merge (BM25 + dense ANN), robust
    * because it uses only RANKS, never the incomparable raw scores.
    * Emitted in exact integer micros (`1000000 div (k0 + rank)` per
    * list, BIGINT sum): rank fusion is the one retrieval stage with no
    * float in it at all, so no engine can disagree. A document missing
    * from a list contributes nothing (the standard convention); ties
    * break on the id, a total order.
    *
    * Scale shape: inputs are already top-k-per-query (answer-sized, not
    * corpus-sized); the union shuffles once on (query, doc) with
    * map-side partial sums, then one per-query window top-k. Output:
    * (qid, id, rrf_micros, n_lists, rank). */
  /** Late-interaction (ColBERT-style) MaxSim retrieval: score(q, d) =
    * Σ over query tokens of max over doc tokens of cos(v(qt), v(dt)) —
    * token-level matching instead of one pooled vector per document,
    * so a document scores high if EVERY query token finds a close doc
    * token, not merely if the document's average direction is close.
    * The token encoder here is the md5-derived stub (the
    * featurizeStub convention — real encoders slot into the same
    * per-token vector column); the interaction algebra is the real
    * contract.
    *
    * Determinism: each per-token-pair cosine is one fixed-shape IEEE
    * chain (explicit left-assoc 8-component sums) quantized to
    * integer micros; MAX and the final Σ then run on exact BIGINTs,
    * so neither partitioning nor engine can perturb a score. Pairs
    * with a zero-norm side (essentially impossible with the stub) are
    * excluded deterministically on both engines.
    *
    * Scale shape: doc tokens collapse to DISTINCT (doc, token) first;
    * the query-token table is query-sized and broadcasts into that
    * scan (one row per (doc token, query token) — bounded by
    * |q| × distinct doc tokens, never doc-pairs); then one
    * (query, token, doc) max-aggregation, one (query, doc) sum, and a
    * per-query window top-k. At 100 TB the per-token vectors would be
    * PRECOMPUTED columns (the IVF/PQ storage path); the interaction
    * join shape is unchanged. */
  def maxSimTopK(docs: DataFrame, queries: DataFrame, docIdCol: String,
      textCol: String, qidCol: String, qTokenCol: String, dim: Int = 8,
      k: Int = 10): DataFrame = {
    require(dim >= 1 && k >= 1, "dim and k must be positive")
    def comp(tok: Column, i: Int): Column =
      (conv(substring(md5(concat(tok, lit(":"), lit(i.toString))
        .cast("binary")), 1, 8), 16, 10).cast("long") % 1000L) / lit(999.0)
    def comps(tok: Column) = (0 until dim).map(comp(tok, _))
    val dtoks = docs
      .select(col(docIdCol),
        explode(TextOps.words(lower(col(textCol)))).as("dtok"))
      .where(col("dtok") =!= "").distinct()
    val qtoks = queries
      .select(col(qidCol), lower(col(qTokenCol)).as("qtok")).distinct()
    val dv = comps(col("dtok"))
    val qv = comps(col("qtok"))
    val dot = dv.zip(qv).map { case (a, b) => a * b }.reduce(_ + _)
    val nd = dv.map(a => a * a).reduce(_ + _)
    val nq = qv.map(b => b * b).reduce(_ + _)
    val pairs = dtoks.crossJoin(broadcast(qtoks))
      .where(nd > 0d && nq > 0d)
      .select(col(qidCol), col("qtok"), col(docIdCol),
        round(dot / (sqrt(nd) * sqrt(nq)) * lit(1000000.0), 0)
          .cast("long").as("cos_micros"))
    val scores = pairs
      .groupBy(col(qidCol), col("qtok"), col(docIdCol))
      .agg(max(col("cos_micros")).as("maxsim"))
      .groupBy(col(qidCol), col(docIdCol))
      .agg(sum(col("maxsim")).as("score_micros"))
    scores
      .withColumn("rank", row_number().over(Window.partitionBy(col(qidCol))
        .orderBy(col("score_micros").desc, col(docIdCol))))
      .where(col("rank") <= k)
  }

  def rrfFuse(rankings: Seq[DataFrame], qidCol: String, idCol: String,
      rankCol: String, k0: Int = 60, topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k0 >= 1 && topK >= 1, "k0 and topK must be positive")
    val unioned = rankings
      .map(_.select(col(qidCol), col(idCol),
        col(rankCol).cast("long").as("__r")))
      .reduce(_ unionByName _)
    val scored = unioned
      .groupBy(col(qidCol), col(idCol))
      .agg(sum(expr(s"1000000L div (${k0}L + __r)")).as("rrf_micros"),
        count(lit(1)).as("n_lists"))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("rrf_micros").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
  }
}
