package graft

import org.apache.spark.sql.functions._
import graft.ops.Retrieval

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  // plain-Scala BM25 with the exact quantization contract of
  // Retrieval.bm25TopK (1e-6 idf, micros-integer contributions)
  private def bruteBm25(docs: Seq[(Long, String)], query: String,
      k: Int): Seq[(Long, Long)] = {
    val toks = docs.map { case (id, t) =>
      id -> t.trim.toLowerCase.split("\\s+").toSeq }.toMap
    val n = toks.count(_._2.nonEmpty)
    val avgdl = toks.values.map(_.size).sum.toDouble / n
    val qterms = query.trim.toLowerCase.split("\\s+").distinct
    val df = qterms.map(t =>
      t -> toks.values.count(_.contains(t))).toMap
    val scores = docs.collect { case (id, _)
        if qterms.exists(toks(id).contains) =>
      val tc = toks(id)
      val micros = qterms.filter(tc.contains).map { t =>
        val idf = BigDecimal(math.log(
          (n - df(t) + 0.5) / (df(t) + 0.5) + 1.0))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val tf = tc.count(_ == t).toDouble
        val c = idf * (tf * 2.2 /
          (tf + 1.2 * (0.25 + 0.75 * (tc.size.toDouble / avgdl))))
        BigDecimal(c * 1000000.0)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
      id -> micros
    }
    scores.sortBy { case (id, m) => (-m, id) }.take(k)
  }

  test("bm25 equals a brute-force reference, micros-exact") {
    val docs = Seq(
      (0L, "fast join fast scan"),
      (1L, "join the table scan table"),
      (2L, "slow merge sort window"),
      (3L, "fast fast fast join join"),
      (4L, "scan"),
      (5L, "completely unrelated words here"))
    val got = Retrieval.bm25TopK(docs.toDF("doc_id", "text"),
        Seq((7L, "fast join")).toDF("query_id", "qtext"), k = 4)
      .select(col("doc_id"), (col("score") * 1000000.0).cast("long"))
      .as[(Long, Long)].collect().toSeq
    val want = bruteBm25(docs, "fast join", 4)
    assert(got.sortBy(_._1) == want.sortBy(_._1),
      s"got $got want $want")
    // rank order: doc 3 (tf-heavy on both terms) must be rank 1
    val ranked = Retrieval.bm25TopK(docs.toDF("doc_id", "text"),
        Seq((7L, "fast join")).toDF("query_id", "qtext"), k = 4)
      .orderBy("rank").select("doc_id").as[Long].collect()
    assert(ranked.head == 3L)
  }

  test("multi-query scoring is independent per query; k bounds each") {
    val docs = (0L to 19L).map(i =>
      (i, if (i % 2 == 0) "alpha beta" else "gamma delta")).toDF("doc_id", "text")
    val qs = Seq((1L, "alpha"), (2L, "gamma")).toDF("query_id", "qtext")
    val r = Retrieval.bm25TopK(docs, qs, k = 3)
      .select("query_id", "doc_id").as[(Long, Long)].collect()
    assert(r.count(_._1 == 1L) == 3 && r.count(_._1 == 2L) == 3)
    assert(r.filter(_._1 == 1L).forall(_._2 % 2 == 0))
    assert(r.filter(_._1 == 2L).forall(_._2 % 2 == 1))
  }

  test("query side broadcasts; corpus never cartesian-joins") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val qs = Seq((1L, "fast table scan")).toDF("query_id", "qtext")
    val plan = Retrieval.bm25TopK(docs, qs, k = 5)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      "query-term join must be broadcast")
    // the only nested-loop allowed is the 1-row stats scalar attach
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 1, s"unexpected joins in:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("booleanSearch equals brute-force conjunction; duplicates count once") {
    val docs = Seq(
      (0L, "fast join fast scan"),       // fast+join, dup 'fast' once
      (1L, "join the table scan table"),
      (2L, "fast merge"),
      (3L, "join fast"),                 // order irrelevant
      (4L, "Fast JOIN"),                 // case-insensitive
      (5L, "unrelated words"))
    val qs = Seq((1L, "fast join"), (2L, "table"), (3L, "fast join ghost"))
      .toDF("query_id", "qtext")
    val got = Retrieval.booleanSearch(docs.toDF("doc_id", "text"), qs)
      .as[(Long, Long)].collect().toSeq.sorted
    val brute = for {
      (qid, qt) <- Seq((1L, "fast join"), (2L, "table"), (3L, "fast join ghost"))
      terms = qt.toLowerCase.split("\\s+").distinct
      (id, t) <- docs
      toks = t.trim.toLowerCase.split("\\s+").toSet
      if terms.forall(toks.contains)
    } yield (qid, id)
    assert(got == brute.sorted)
    assert(!got.exists(_._1 == 3L), "a query term absent everywhere matches nothing")
  }

  test("booleanSearch: repeated query terms collapse to one requirement") {
    val docs = Seq((0L, "alpha beta"), (1L, "alpha")).toDF("doc_id", "text")
    val qs = Seq((1L, "alpha alpha beta")).toDF("query_id", "qtext")
    val got = Retrieval.booleanSearch(docs, qs)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L)))
  }

  test("phraseSearch: adjacency required — scattered bigrams don't match") {
    val docs = Seq(
      (0L, "fast hash join scan"),       // contains "hash join"
      (1L, "hash table join hash join"), // contains it late
      (2L, "hash table join scan"),      // both words, never adjacent
      (3L, "join hash"),                 // reversed
      (4L, "a hash join b hash join c"), // twice -> still one row
      (5L, "HASH Join upper"),           // case-insensitive
      (6L, "hash joins"))                // token boundary: no match
      .toDF("doc_id", "text")
    val ps = Seq((1L, "hash join")).toDF("query_id", "phrase")
    val got = Retrieval.phraseSearch(docs, ps)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(got == Seq((1L, 0L), (1L, 1L), (1L, 4L), (1L, 5L)))
  }

  test("phraseSearch: bigram candidates that aren't one run are rejected") {
    // doc has "a b" and "b c" but never "a b c" as one run — the
    // bigram conjunction admits it, the exact confirm must kill it
    val docs = Seq(
      (0L, "a b x b c"), (1L, "a b c")).toDF("doc_id", "text")
    val ps = Seq((1L, "a b c")).toDF("query_id", "phrase")
    val got = Retrieval.phraseSearch(docs, ps)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L)))
  }

  test("booleanSearch plan: query terms broadcast, corpus side one shuffle") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val qs = Seq((1L, "fast table scan")).toDF("query_id", "qtext")
    val plan = Retrieval.booleanSearch(docs, qs)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("persisted index: search equals direct booleanSearch; reads prune") {
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha delta"), (3L, "beta gamma"),
      (4L, "alpha beta unrelated words here")).toDF("doc_id", "text")
    val tmp = tempDir("graft-invidx").toString
    Retrieval.buildIndex(docs, tmp, nBuckets = 16)
    val queries = Map(1L -> "alpha beta", 2L -> "gamma", 3L -> "absent")
    val viaIndex = Retrieval.searchIndex(spark, tmp, queries, nBuckets = 16)
      .as[(Long, Long)].collect().toSet
    val qdf = queries.toSeq.map { case (k, v) => (k, v) }
      .toDF("query_id", "qtext")
    val direct = Retrieval.booleanSearch(docs, qdf)
      .as[(Long, Long)].collect().toSet
    assert(viaIndex == direct)
    assert(viaIndex == Set((1L, 1L), (1L, 4L), (2L, 1L), (2L, 3L)))
    // the scan prunes to the query terms' bucket directories
    val plan = Retrieval.searchIndex(spark, tmp, Map(1L -> "alpha"),
        nBuckets = 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"))
    // a rebuilt index with different bucketing answers identically
    val tmp2 = tempDir("graft-invidx2").toString
    Retrieval.buildIndex(docs, tmp2, nBuckets = 3)
    assert(Retrieval.searchIndex(spark, tmp2, queries, nBuckets = 3)
      .as[(Long, Long)].collect().toSet == direct)
  }

  test("appendToIndex: increment lands without rewriting base files") {
    val base = Seq((1L, "alpha beta"), (2L, "alpha")).toDF("doc_id", "text")
    val tmp = tempDir("graft-invidx-app").toString
    Retrieval.buildIndex(base, tmp, nBuckets = 4)
    val before = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
    val baseFiles = try {
      import scala.jdk.CollectionConverters._
      before.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files
          .getLastModifiedTime(p)).toMap
    } finally before.close()
    Retrieval.appendToIndex(Seq((9L, "alpha gamma")).toDF("doc_id", "text"),
      tmp, nBuckets = 4)
    // old docs and the appended one both answer
    val got = Retrieval.searchIndex(spark, tmp, Map(1L -> "alpha"),
      nBuckets = 4).as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 1L), (1L, 2L), (1L, 9L)))
    // base files untouched (same path, same mtime)
    val after = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
    try {
      import scala.jdk.CollectionConverters._
      val now = after.iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p))
        .toMap
      assert(baseFiles.forall { case (p, t) => now.get(p).contains(t) })
      assert(now.size > baseFiles.size, "append must add files")
    } finally after.close()
  }

  test("compactIndex: append-fragmented index answers identically, fewer files") {
    import scala.jdk.CollectionConverters._
    val tmp = tempDir("graft-invidx-cmp").toString
    Retrieval.buildIndex(Seq((1L, "alpha beta")).toDF("doc_id", "text"),
      tmp, nBuckets = 2)
    (2 to 9).foreach(i => Retrieval.appendToIndex(
      Seq((i.toLong, "alpha beta")).toDF("doc_id", "text"), tmp, nBuckets = 2))
    def parquetFiles() = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
      try s.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally s.close()
    }
    val queries = Map(1L -> "alpha beta")
    val before = Retrieval.searchIndex(spark, tmp, queries, nBuckets = 2)
      .as[(Long, Long)].collect().toSet
    val filesBefore = parquetFiles()
    Retrieval.compactIndex(spark, tmp)
    assert(parquetFiles() < filesBefore, "compaction must reduce file count")
    assert(Retrieval.searchIndex(spark, tmp, queries, nBuckets = 2)
      .as[(Long, Long)].collect().toSet == before)
    assert(before.map(_._2) == (1L to 9L).toSet)
  }

  test("searchIndex: duplicate postings never fake a conjunctive match; " +
      "compactIndex is re-runnable after a crashed swap") {
    import scala.jdk.CollectionConverters._
    val tmp = tempDir("graft-invidx-dup").toString
    // doc 1 contains ONLY alpha; re-ingesting it duplicates its
    // (alpha, 1) posting — with row counting, 'alpha beta' would have
    // matched doc 1 (2 rows = n_need) despite beta never occurring
    Retrieval.buildIndex(Seq((1L, "alpha"), (2L, "alpha beta"))
      .toDF("doc_id", "text"), tmp, nBuckets = 2)
    Retrieval.appendToIndex(Seq((1L, "alpha")).toDF("doc_id", "text"),
      tmp, nBuckets = 2)
    val got = Retrieval.searchIndex(spark, tmp, Map(1L -> "alpha beta"),
      nBuckets = 2).as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), s"duplicate posting faked a match: $got")
    // a prior compact that died mid-delete leaves postings.old behind —
    // the next compact must clear it and succeed, not throw on the move
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$tmp/postings.old/stale"))
    Retrieval.compactIndex(spark, tmp)
    val after = Retrieval.searchIndex(spark, tmp, Map(1L -> "alpha"),
      nBuckets = 2).as[(Long, Long)].collect().toSet
    assert(after == Set((1L, 1L), (1L, 2L)))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$tmp/postings.old")))
  }

  test("compactIndex and appendToIndex restore a swap that crashed " +
      "between its renames") {
    import java.nio.file.{Files, Paths}
    val tmp = tempDir("graft-invidx-crash").toString
    Retrieval.buildIndex(Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text"), tmp, nBuckets = 2)
    Retrieval.appendToIndex(Seq((3L, "alpha gamma")).toDF("doc_id", "text"),
      tmp, nBuckets = 2)
    val queries = Map(1L -> "alpha", 2L -> "beta gamma")
    def search() = Retrieval.searchIndex(spark, tmp, queries, nBuckets = 2)
      .as[(Long, Long)].collect().toSet
    val before = search()
    // the crash window: the rewrite is staged, the live postings moved
    // aside as the only copy, and the second rename never ran
    def crash() = Files.move(Paths.get(s"$tmp/postings"),
      Paths.get(s"$tmp/postings.old"))
    crash()
    spark.read.parquet(s"$tmp/postings.old").write.partitionBy("bucket")
      .parquet(s"$tmp/postings.compact")
    Retrieval.compactIndex(spark, tmp)
    assert(search() == before)
    assert(!Files.exists(Paths.get(s"$tmp/postings.old")))
    crash()
    Retrieval.appendToIndex(Seq((4L, "alpha")).toDF("doc_id", "text"),
      tmp, nBuckets = 2)
    assert(search() == before + ((1L, 4L)))
  }

  test("rrfFuse: hand-computed fusion, missing-doc convention, tie-break") {
    // list A ranks docs 1,2,3; list B ranks 2,1,9 — doc 2 is the
    // consensus pick: 1M/(60+2)+1M/(60+1) = 16129+16393 = 32522
    val a = Seq((7L, 1L, 1), (7L, 2L, 2), (7L, 3L, 3))
      .toDF("query_id", "doc_id", "rank")
    val b = Seq((7L, 2L, 1), (7L, 1L, 2), (7L, 9L, 3))
      .toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(a, b), "query_id", "doc_id", "rank",
        k0 = 60, topK = 10)
      .select("doc_id", "rrf_micros", "n_lists", "rank")
      .as[(Long, Long, Long, Int)].collect().sortBy(_._4).toSeq
    // docs 1 and 2 score identically by symmetry (ranks {1,2} across the
    // two lists) -> the tie resolves by ascending id, 1 before 2
    assert(got == Seq(
      (1L, 1000000L / 61 + 1000000L / 62, 2L, 1),
      (2L, 1000000L / 61 + 1000000L / 62, 2L, 2),
      (3L, 1000000L / 63, 1L, 3),
      (9L, 1000000L / 63, 1L, 4)))
  }

  test("rrfFuse: queries fuse independently; topK bounds each") {
    val a = (1 to 30).flatMap(r => Seq((1L, r.toLong, r), (2L, 100L + r, r)))
      .toDF("query_id", "doc_id", "rank")
    val out = Retrieval.rrfFuse(Seq(a), "query_id", "doc_id", "rank",
      k0 = 60, topK = 5)
    val by = out.groupBy("query_id").count()
      .as[(Long, Long)].collect().toMap
    assert(by == Map(1L -> 5L, 2L -> 5L))
    // ranks within a query are 1..5 by ascending source rank
    val q2 = out.where(col("query_id") === 2).orderBy("rank")
      .select("doc_id").as[Long].collect().toSeq
    assert(q2 == Seq(101L, 102L, 103L, 104L, 105L))
  }

  test("maxSim: every-token coverage beats a pooled-average-style match") {
    val docs = Seq(
      (1L, "alpha beta gamma"),        // covers all three query tokens
      (2L, "alpha alpha alpha beta"),  // misses gamma — late interaction
                                       // caps its third term below 1.0
      (3L, "delta epsilon zeta"))      // unrelated
      .toDF("doc_id", "text")
    val q = Seq((1L, "alpha"), (1L, "beta"), (1L, "gamma"))
      .toDF("query_id", "qtok")
    val got = Retrieval.maxSimTopK(docs, q, "doc_id", "text",
        "query_id", "qtok", dim = 8, k = 3)
      .orderBy("rank")
      .select("doc_id", "score_micros").as[(Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L), s"got $got")
    // exact-cover doc scores exactly 3 * 1e6 (each token maxsim = 1.0)
    assert(got.head._2 == 3000000L)
    assert(got(1)._2 < 3000000L && got(1)._2 > 2000000L,
      "two exact token matches + one sub-1.0 for the missing token")
    // duplicate doc tokens add nothing: MAX, not sum, over doc tokens
    val dupDoc = Seq((9L, "alpha alpha alpha alpha alpha beta gamma"))
      .toDF("doc_id", "text")
    val s9 = Retrieval.maxSimTopK(dupDoc, q, "doc_id", "text",
        "query_id", "qtok", dim = 8, k = 1)
      .select("score_micros").as[Long].head()
    assert(s9 == 3000000L)
  }
}
