package graft

import org.apache.spark.sql.functions._
import graft.ops.TextOps

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("word shingles: n-grams, short-doc fallback, set semantics") {
    val df = Seq("a b c d", "a b", "x y x y x y").toDF("text")
    val sh = df.select(TextOps.wordShingles(col("text"), 3).as("s"))
      .as[Seq[String]].collect()
    assert(sh(0) == Seq("a b c", "b c d"))
    assert(sh(1) == Seq("a b")) // shorter than n -> whole text
    val set = df.select(TextOps.shingleSet(col("text"), 2).as("s"))
      .as[Seq[String]].collect()
    assert(set(2).sorted == Seq("x y", "y x")) // distinct
  }

  test("language ID picks the stopword-dominant language") {
    val df = Seq(
      (0L, "the cat sat on the mat and it was happy with this"),
      (1L, "der hund ist nicht mit der katze und sie ist auch"),
      (2L, "le chat est dans la maison avec les enfants qui sont"),
      (3L, "el perro es de los ninos y no se va del parque"))
      .toDF("doc_id", "text")
    val r = TextOps.langId(df).select("doc_id", "lang_pred")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(r.toSeq == Seq((0L, "en"), (1L, "de"), (2L, "fr"), (3L, "es")))
  }

  test("quality signals compute expected ratios") {
    val df = Seq((0L, "one two three four five six, seven!")).toDF("doc_id", "text")
    val r = TextOps.qualitySignals(df).collect().head
    assert(r.getAs[Int]("n_tokens") == 7)
    assert(r.getAs[Double]("punct_ratio") > 0.0)
    assert(r.getAs[Boolean]("quality_ok"))
    val junk = Seq((1L, "ab cd")).toDF("doc_id", "text")
    assert(!TextOps.qualitySignals(junk).collect().head.getAs[Boolean]("quality_ok"))
  }

  test("token counts: whitespace and regex segmentation") {
    val df = Seq("hello world 42 foo-bar!").toDF("text")
    val r = TextOps.tokenCounts(df).select("n_tokens_ws", "n_tokens_re")
      .as[(Int, Int)].collect().head
    assert(r._1 == 4)
    // hello, world, 42, foo, -, bar, ! -> 7
    assert(r._2 == 7)
  }

  test("fingerprint is order-sensitive, winnow hash robust to edit") {
    val df = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "beta alpha gamma delta epsilon zeta eta theta"), // swapped words
      (2L, "alpha beta gamma delta epsilon zeta eta iota"))  // tail edit
      .toDF("doc_id", "text")
    val r = TextOps.fingerprints(df, window = 3)
      .select("doc_id", "fp_rolling", "fp_winnow")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(r(0)._2 != r(1)._2) // rolling hash sees order
    assert(r.forall(x => x._2 >= 0 && x._2 < 2147483647L)) // mod 2^31-1, ANSI-safe
    // deterministic
    val again = TextOps.fingerprints(df, window = 3)
      .select("fp_rolling").as[Long].collect().sorted
    assert(again.toSeq == r.map(_._2).sorted.toSeq)
  }

  test("chunkDocs windows with overlap; boundaries, counts, empty doc") {
    val df = Seq((1L, (1 to 10).map("w" + _).mkString(" "))).toDF("doc_id", "text")
    val r = TextOps.chunkDocs(df, "doc_id", "text", chunkSize = 4, overlap = 1)
      .orderBy("chunk_id").select("chunk_id", "chunk_text", "n_tokens")
      .as[(Int, String, Int)].collect()
    // stride 3 over 10 words: starts 0,3,6 (start 9 would emit a chunk
    // fully contained in chunk 2 — the redundant-tail case)
    assert(r.map(_._2).toSeq ==
      Seq("w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    assert(r.map(_._3).toSeq == Seq(4, 4, 4))
    // a doc shorter than chunkSize emits exactly ONE chunk
    val short = TextOps.chunkDocs(Seq((3L, "a b c")).toDF("doc_id", "text"),
      "doc_id", "text", 4, 1).select("chunk_text").as[String].collect()
    assert(short.toSeq == Seq("a b c"))
    // empty and NULL text both yield one ("", 0) chunk, not zero rows
    val empty = TextOps.chunkDocs(
      Seq((2L, Some("   ")), (4L, None)).toDF("doc_id", "text"),
      "doc_id", "text", 4, 1).select("chunk_text", "n_tokens")
      .as[(String, Int)].collect()
    assert(empty.toSeq == Seq(("", 0), ("", 0)))
    intercept[IllegalArgumentException] {
      TextOps.chunkDocs(df, "doc_id", "text", chunkSize = 4, overlap = 4)
    }
  }

  test("packSequences fills packs per shard by running token count") {
    val df = Seq(
      (1L, "a", 300), (2L, "a", 300), (3L, "a", 300), (4L, "a", 300),
      (10L, "b", 600))
      .toDF("doc_id", "source", "n_tokens")
    val r = TextOps.packSequences(df, "doc_id", "n_tokens", "source",
        capacity = 512)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    // shard a tokens-before: 0,300,600,900 -> packs 0,0,1,1; shard b independent
    assert(r == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 10L -> 0L))
  }

  test("PII redaction scrubs emails, IPv4s and digit runs; counts match") {
    val df = Seq(
      (0L, "mail me at jane.doe+x@corp.example.org or call 12345678901 " +
        "from host 192.168.1.100 please"),
      (1L, "no pii here, just words and the number 42"),
      (2L, "two mails a@b.io c@d.net one ip 10.0.0.1")).toDF("doc_id", "text")
    val r = graft.ops.TextOps.redactPii(df)
      .select("doc_id", "n_emails", "n_ipv4", "n_digit_runs", "text_redacted")
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._1)
    assert(r(0)._2 == 1 && r(0)._3 == 1 && r(0)._4 == 1)
    assert(r(0)._5 == "mail me at <EMAIL> or call <NUM> from host <IP> please")
    assert(r(1) == ((1L, 0, 0, 0, "no pii here, just words and the number 42")))
    assert(r(2)._2 == 2 && r(2)._3 == 1)
    assert(r(2)._5 == "two mails <EMAIL> <EMAIL> one ip <IP>")
  }

  test("decontamination flags n-gram overlap with the eval set, exact docs included") {
    val eval = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // shares the 8-gram "beta gamma ... iota" with the eval doc
      (10L, "prefix beta gamma delta epsilon zeta eta theta iota suffix tail"),
      // shares words but no full 8-gram
      (11L, "alpha beta gamma delta other epsilon zeta eta theta iota"),
      (12L, "completely unrelated words about distributed query engines here"),
      // shorter than 8 words on BOTH sides would compare whole texts;
      // here only corpus-side is short: its whole-text shingle is not an
      // eval 8-gram
      (13L, "alpha beta gamma")).toDF("doc_id", "text")
    val r = graft.ops.TextOps.contaminatedIds(corpus, eval, "doc_id", "text", 8)
      .as[Long].collect().sorted.toSeq
    assert(r == Seq(10L))
  }

  test("fuzzy decontamination flags a paraphrased near-copy the exact " +
    "8-gram pass misses") {
    val evalText = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val eval = Seq((0L, evalText)).toDF("doc_id", "text")
    val corpus = Seq(
      // words 3/11/19 edited — at least one edit inside EVERY verbatim
      // 8-gram window (20 words, starts 0..12), so the exact pass is
      // blind; the 3-shingle sets still share 11 of 25
      (10L, evalText.replace("delta", "D2").replace("mu", "M2")
        .replace("upsilon", "U2")),
      (11L, "completely unrelated text about distributed query engines " +
        "running broadcast joins over partitioned parquet at scale " +
        "with adaptive execution and shuffle reuse everywhere today"))
      .toDF("doc_id", "text")
    // the exact-8-gram pass misses the edit...
    assert(graft.ops.TextOps.contaminatedIds(
      corpus, eval, "doc_id", "text", 8).count() == 0)
    // ...the fuzzy pass catches it (and ONLY it), with an exact
    // integer jaccard: 18 shingles/side, the 7 shingles covering an
    // edited word differ -> 11 shared, union 25, 11/25 = 0.44
    val r = graft.ops.TextOps.fuzzyContaminatedIds(corpus, eval,
        "doc_id", "text", shingleN = 3, bands = 64, rowsPerBand = 1,
        threshold = 0.4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(r == Seq((10L, 0L, 440000L)), s"got $r")
  }

  test("fuzzy decontamination is deterministic across runs") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id".cast("long").as("doc_id"), $"text")
    val eval = docs.where($"doc_id" < 10)
    val corpus = docs.where($"doc_id" >= 10).unionByName(
      eval.select(($"doc_id" + 100000L).as("doc_id"), $"text"))
    def run() = graft.ops.TextOps.fuzzyContaminatedIds(
        corpus, eval, "doc_id", "text", threshold = 1.0)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val a = run(); val b = run()
    assert(a == b)
    assert(a.map(_._1) == (0 until 10).map(_ + 100000L),
      "every planted exact copy must be flagged, nothing else")
    assert(a.forall(_._3 == 1000000L))
  }

  test("indexed fuzzy decontamination: same answer as inline, corpus text never read") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id".cast("long").as("doc_id"), $"text")
    // eval is LOCAL (benchmark-sized by contract) so the probe plan's
    // only file scans can be the signature index itself
    val eval = docs.where($"doc_id" < 10)
      .as[(Long, String)].collect().toSeq.toDF("doc_id", "text")
    val corpus = docs.where($"doc_id" >= 10).unionByName(
      eval.select(($"doc_id" + 100000L).as("doc_id"), $"text"))
    val idx = tempDir("graft-sigidx-spec").toString
    graft.ops.Dedup.saveSignatureIndex(corpus, idx, "doc_id", "text")
    val probe = graft.ops.TextOps.fuzzyContaminatedIdsIndexed(
      spark, idx, eval, "doc_id", "text", threshold = 1.0)
    // answers match the inline path id-for-id
    val got = probe.as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val inline = graft.ops.TextOps.fuzzyContaminatedIds(
        corpus, eval, "doc_id", "text", threshold = 1.0)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == inline)
    assert(got.map(_._1) == (0 until 10).map(_ + 100000L))
    // plan golden (VERDICT r8 ask #7): every file scan in the probe's
    // FINAL adaptive plan reads the SIGNATURE index — the corpus
    // parquet (text) is never touched at probe time. (String-match on
    // the final plan, the ScanAudit convention: AQE wraps the physical
    // tree, so a typed collect on executedPlan sees no scans.)
    val fin = graft.tools.ScanAudit.finalPlan(probe)
    assert("FileScan parquet".r.findAllIn(fin).nonEmpty, fin)
    assert(fin.contains("graft-sigidx-spec"),
      s"probe plan does not read the signature index:\n$fin")
    assert(!fin.contains("documents.parquet"),
      s"probe plan re-reads corpus text:\n$fin")
  }

  test("sentences: abbreviation shield, terminator runs, restore") {
    import graft.ops.TextOps
    def seg(t: String): Seq[String] = Seq((1L, t)).toDF("id", "text")
      .select(TextOps.sentences($"text").as("s"))
      .as[Seq[String]].head()
    assert(seg("Dr. Smith left. Mrs. Jones stayed.") ==
      Seq("Dr. Smith left", "Mrs. Jones stayed"))
    assert(seg("Really?! Yes... Fine.") == Seq("Really", "Yes", "Fine"))
    assert(seg("no terminator here") == Seq("no terminator here"))
    assert(seg("e.g. one thing. i.e. another.") ==
      Seq("e.g. one thing", "i.e. another"))
    // a non-abbreviation word that merely starts like one still splits
    assert(seg("Stop. Go.") == Seq("Stop", "Go"))
    assert(seg("") == Seq.empty)
  }

  test("nspPairs: adjacent positives in order, keyed cross-doc negatives") {
    import graft.ops.TextOps
    val docs = Seq(
      (10L, "Alpha one. Beta two. Gamma three."),
      (11L, "Delta four. Epsilon five."),
      (13L, "Lone sentence no neighbor."),  // id 12 absent: no negative TO it
      (14L, "")).toDF("doc_id", "text")    // empty: contributes nothing
    val got = TextOps.nspPairs(docs)
      .as[(Long, Int, String, String, Boolean)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      (10L, -1, "Gamma three", "Delta four", false),
      (10L, 0, "Alpha one", "Beta two", true),
      (10L, 1, "Beta two", "Gamma three", true),
      (11L, 0, "Delta four", "Epsilon five", true)), s"got $got")
  }

  test("fimTransform: PSM pieces reassemble the original; short docs pass") {
    import graft.ops.TextOps
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").limit(40)
      .unionByName(Seq((999991L, "a b"), (999992L, ""))
        .toDF("doc_id", "text"))
    val rows = TextOps.fimTransform(docs).join(docs, "doc_id")
      .as[(Long, Int, Boolean, String, String)].collect()
    val psm = "(?s)^<PRE> (.*) <SUF> (.*) <MID> (.*)$".r
    rows.foreach { case (id, n, applied, fim, text) =>
      val orig = text.trim.split("\\s+").filter(_.nonEmpty).mkString(" ")
      if (!applied) assert(fim == orig && n < 3, s"doc $id")
      else fim match {
        case psm(pre, suf, mid) =>
          // prefix ++ middle ++ suffix == original token stream
          val rebuilt = Seq(pre, mid, suf).map(_.trim)
            .filter(_.nonEmpty).mkString(" ")
          assert(rebuilt == orig, s"doc $id failed to reassemble")
        case _ => fail(s"doc $id: not PSM shaped: $fim")
      }
    }
    assert(rows.count(_._3) > 30, "most fixture docs must apply FIM")
    assert(rows.exists(r => !r._3), "short docs pass through")
  }

  test("mlmMask: position counts line up, 80/10/10 in coarse proportion") {
    import graft.ops.TextOps
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").limit(60)
    val rows = TextOps.mlmMask(docs, selectPermille = 300)
      .join(docs, "doc_id")
      .as[(Long, Int, Int, String, String, String)].collect()
    var masks = 0; var selected = 0
    rows.foreach { case (id, n, nSel, masked, labels, text) =>
      val orig = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val out = masked.split(" ").filter(_.nonEmpty)
      assert(out.length == n && n == orig.length, s"doc $id length drift")
      assert(labels.split(" ").count(_.nonEmpty) == nSel)
      // every non-selected position is untouched; count [MASK]s
      masks += out.count(_ == "[MASK]"); selected += nSel
      out.zip(orig).foreach { case (o, g) =>
        if (o != g) assert(o == "[MASK]" || o.nonEmpty) }
    }
    assert(selected > 50, "enough positions selected to test proportions")
    // ~80% of selected become [MASK]; allow wide slack for 10% unchanged
    // masquerading as matches
    val frac = masks.toDouble / selected
    assert(frac > 0.6 && frac < 0.95, s"mask fraction $frac")
    val again = TextOps.mlmMask(docs, selectPermille = 300)
      .select("doc_id", "masked_joined").as[(Long, String)].collect().toMap
    assert(rows.forall(r => again(r._1) == r._4))
  }

  test("spanCorrupt: input+target reconstruct the original exactly") {
    import graft.ops.TextOps
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").limit(50)
    val rows = TextOps.spanCorrupt(docs, maskPermille = 300)
      .join(docs, "doc_id")
      .select("doc_id", "n_tokens", "n_masked", "n_spans",
        "input_joined", "target_joined", "text")
      .as[(Long, Int, Int, Int, String, String, String)].collect()
    assert(rows.nonEmpty && rows.exists(_._4 > 0), "some spans must occur")
    val sentinel = "<extra_id_(\\d+)>".r
    rows.foreach { case (id, n, nMasked, nSpans, in, tgt, text) =>
      // parse target into span-id -> tokens
      val spans = sentinel.findAllMatchIn(tgt).map(_.group(1).toInt).toSeq
      assert(spans == (0 until nSpans), s"doc $id: target sentinels $spans")
      val parts = sentinel.split(tgt).map(_.trim).toSeq // head is ""
      val spanToks = spans.zip(parts.drop(1)).toMap
      // replace sentinels in the input with their hidden tokens
      val rebuilt = sentinel.replaceAllIn(in,
        m => java.util.regex.Matcher.quoteReplacement(
          spanToks(m.group(1).toInt)))
      val orig = text.trim.split("\\s+").filter(_.nonEmpty).mkString(" ")
      assert(rebuilt == orig, s"doc $id failed to reconstruct")
      assert(spanToks.values.map(_.split(" ").length).sum == nMasked)
      assert(n == (if (text.trim.isEmpty) 0
        else text.trim.split("\\s+").length))
    }
    // deterministic across runs
    val again = TextOps.spanCorrupt(docs, maskPermille = 300)
      .select("doc_id", "input_joined").as[(Long, String)].collect().toMap
    assert(rows.forall(r => again(r._1) == r._5))
  }

  test("chunkBySentences: greedy fill, sentence integrity outranks cap") {
    import graft.ops.TextOps
    def chunks(t: String, max: Int) = TextOps.chunkBySentences(
        Seq((1L, t)).toDF("doc_id", "text"), maxTokens = max)
      .orderBy("chunk_id")
      .as[(Long, Int, Int, Int, String)].collect().toSeq
      .map(r => (r._2, r._3, r._4, r._5))
    // 4+4 fits an 8-budget, then 3+2
    assert(chunks("a b c d. e f g h. i j k. l m.", 8) == Seq(
      (0, 2, 8, "a b c d|e f g h"), (1, 2, 5, "i j k|l m")))
    // an oversized single sentence keeps its own chunk whole
    assert(chunks("one two three four five six. tail.", 4) == Seq(
      (0, 1, 6, "one two three four five six"), (1, 1, 1, "tail")))
    // the boundary itself: exactly max fits
    assert(chunks("a b. c d.", 4).map(_._2) == Seq(2))
    // empty doc: no chunks
    assert(chunks("", 4).isEmpty)
  }

  test("fixMojibake repairs exactly the provably-reversible cases, " +
    "idempotently") {
    import graft.ops.TextOps
    val rows = Seq(
      (1L, "cafÃ©"),                   // -> café
      (2L, "already café"),                 // real é: é alone is not
                                                 // a valid UTF-8 sequence
      (3L, "Ã©Ã¨"),          // -> éè (two repairs)
      (4L, "x Ã"),                          // truncated: untouched
      (5L, "ascii only"),
      (6L, null.asInstanceOf[String])).toDF("id", "text")
    val once = rows.select($"id", TextOps.fixMojibake($"text").as("f"))
    val got = once.as[(Long, String)].collect().toMap
    assert(got(1L) == "café", s"got ${got(1L)}")
    assert(got(2L) == "already café")
    assert(got(3L) == "éè")
    assert(got(4L) == "x Ã")
    assert(got(5L) == "ascii only")
    assert(got(6L) == null)
    // idempotent: a second pass changes nothing (café's é is no longer
    // a valid lone UTF-8 sequence)
    val twice = once.select($"id", TextOps.fixMojibake($"f").as("f"))
      .as[(Long, String)].collect().toMap
    assert(twice == got)
  }

  test("Aho-Corasick blocklist equals the contains-filter on nested and " +
    "overlapping terms") {
    // classic AC stress set: "he" inside "she" and "hers"; overlapping
    // occurrences; a term that is a prefix of another
    val terms = Seq("he", "she", "hers", "his", "ab", "abab")
      .toDF("term")
    val docs = Seq(
      (1L, "ushers"),          // matches he, she, hers
      (2L, "His HERS"),        // case-insensitive: his, he, hers
      (3L, "ababab"),          // overlapping: ab, abab
      (4L, "nothing relevant"),
      (5L, "")).toDF("doc_id", "text")
    val viaAc = graft.ops.TextOps.blocklistAC(docs, terms)
      .as[(Long, String, Int, Boolean)].collect().sortBy(_._1).toSeq
    val viaContains = graft.ops.TextOps.blocklist(docs, terms)
      .as[(Long, String, Int, Boolean)].collect().sortBy(_._1).toSeq
    assert(viaAc == viaContains, s"ac=$viaAc contains=$viaContains")
    assert(viaAc.head._2 == "he|hers|she")
    assert(viaAc(2)._2 == "ab|abab")
  }

  test("Aho-Corasick blocklist matches contains-filter on the fixture corpus") {
    val terms = Seq("the", "and then", "spark", "join", "xyzzy-absent")
      .toDF("term")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text")
    val a = graft.ops.TextOps.blocklistAC(docs, terms)
      .as[(Long, String, Int, Boolean)].collect().sortBy(_._1).toSeq
    val c = graft.ops.TextOps.blocklist(docs, terms)
      .as[(Long, String, Int, Boolean)].collect().sortBy(_._1).toSeq
    assert(a == c)
  }

  test("vocabulary counts term and document frequency per token") {
    val df = Seq((0L, "the cat sat"), (1L, "the THE dog"), (2L, "cat"))
      .toDF("doc_id", "text")
    val r = graft.ops.TextOps.vocabulary(df)
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    // lowercased: "the" appears 3x across 2 docs
    assert(r("the") == ((3L, 2L)))
    assert(r("cat") == ((2L, 2L)))
    assert(r("dog") == ((1L, 1L)))
    assert(r("sat") == ((1L, 1L)))
  }

  test("l2Normalize yields unit vectors; zero and null vectors pass through") {
    import graft.ops.Similarity
    val df = Seq(
      (0L, Some(Array(3f, 4f))),
      (1L, Some(Array(0f, 0f))),
      (2L, Option.empty[Array[Float]])).toDF("id", "v")
    val r = df.select(col("id"), Similarity.l2Normalize(col("v")).as("n"))
      .as[(Long, Option[Seq[Float]])].collect().sortBy(_._1)
    assert(r(0)._2.get == Seq(0.6f, 0.8f))
    assert(r(1)._2.get == Seq(0f, 0f))
    assert(r(2)._2.isEmpty)
    // normalized vector has norm 1 (within float rounding)
    val n = df.where(col("id") === 0).select(
      graft.functions.VectorExprs.dot(Similarity.l2Normalize(col("v")),
        Similarity.l2Normalize(col("v")))).as[Double].collect().head
    assert(math.abs(n - 1.0) < 1e-6)
  }

  test("tokenization maps by vocab rank, preserves order, OOVs to -1") {
    val docs = Seq((0L, "the cat sat on the mat"), (1L, "unknownword the"))
      .toDF("doc_id", "text")
    val vocab = graft.ops.TextOps.vocabulary(docs)
      .where(col("token") =!= "unknownword") // force an OOV
    val r = graft.ops.TextOps.tokenizeWithVocab(docs, vocab)
      .as[(Long, Seq[Int])].collect().toMap
    // ranks: tf desc then token asc -> the(3)=0, then cat/mat/on/sat by name
    assert(r(0L) == Seq(0, 1, 4, 3, 0, 2))
    assert(r(1L) == Seq(-1, 0))
  }

  test("tokenizeWithVocab maxVocab cap: in-budget ranks unchanged, the rest OOV") {
    val docs = Seq((0L, "the cat sat on the mat"), (1L, "unknownword the"))
      .toDF("doc_id", "text")
    val vocab = graft.ops.TextOps.vocabulary(docs)
      .where(col("token") =!= "unknownword")
    // cap below the vocab size: ids 0/1 keep their uncapped ranks
    // (the(0), cat(1)); mat/on/sat fall past the budget and join the
    // natural OOV at -1 — the contract that makes the ranking window
    // input <= maxVocab rows by plan
    val r = graft.ops.TextOps.tokenizeWithVocab(docs, vocab,
        maxVocab = 2)
      .as[(Long, Seq[Int])].collect().toMap
    assert(r(0L) == Seq(0, 1, -1, -1, 0, -1))
    assert(r(1L) == Seq(-1, 0))
    intercept[IllegalArgumentException] {
      graft.ops.TextOps.tokenizeWithVocab(docs, vocab, maxVocab = 0)
    }
  }

  test("unigram LM score equals the brute-force model; rare tokens score lower") {
    val docs = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "the the the the"),            // all-common: highest mean logp
      (2L, "zqx wvu qqq"))                // all-rare: lowest
      .toDF("doc_id", "text")
    val got = graft.ops.TextOps.lmScore(docs)
      .select("doc_id", "n_tokens", "mean_logp")
      .as[(Long, Long, Double)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    // brute-force unigram model with the op's exact quantization contract
    val toks = Map(
      0L -> "the cat sat on the mat".split("\\s+").toSeq,
      1L -> "the the the the".split("\\s+").toSeq,
      2L -> "zqx wvu qqq".split("\\s+").toSeq)
    val tf = toks.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val total = toks.values.map(_.size).sum.toDouble
    def logp(t: String) = BigDecimal(math.log(tf(t) / total))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = toks.view.mapValues { ts =>
      (ts.size.toLong, ts.map(logp).foldLeft(0.0)(_ + _) / ts.size)
    }.toMap
    assert(got == expect) // bit-exact, including the sequential fold order
    assert(got(1L)._2 > got(0L)._2 && got(0L)._2 > got(2L)._2)
  }

  test("bigram LM equals the brute-force model; backoff and fluency order hold") {
    val docs = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "the cat sat"),      // every bigram seen (shared with doc 0)
      (2L, "mat the cat"),      // "mat the" unseen -> backoff path
      (3L, "zqx"))              // single token: unigram position only
      .toDF("doc_id", "text")
    val got = graft.ops.TextOps.bigramLmScore(docs)
      .as[(Long, Long, Double)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    // brute-force with the op's exact quantization contract
    val toks = Map(
      0L -> Seq("the", "cat", "sat", "on", "the", "mat"),
      1L -> Seq("the", "cat", "sat"),
      2L -> Seq("mat", "the", "cat"),
      3L -> Seq("zqx"))
    val uni = toks.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val t = toks.values.map(_.size).sum.toDouble
    val big = toks.values.flatMap(ws => ws.zip(ws.drop(1)))
      .groupBy(identity).view.mapValues(_.size).toMap
    def micros(x: Double) = BigDecimal(math.log(x) * 1000000.0)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val expect = toks.view.mapValues { ws =>
      val first = micros(uni(ws.head) / t)
      val rest = ws.zip(ws.drop(1)).map { case (a, b) =>
        big.get((a, b)) match {
          case Some(cb) => micros(cb.toDouble / uni(a))
          case None => micros(0.4 * (uni(b) / t))
        }
      }
      val sum = (first +: rest).sum
      (ws.size.toLong, (sum.toDouble / 1000000.0) / ws.size)
    }.toMap
    assert(got == expect) // bit-exact micros contract
    // fluent repeated phrasing beats the doc that needed a backoff
    assert(got(1L)._2 > got(2L)._2)
  }

  test("bigram LM vs a separate model: backoff and OOV floor fire") {
    val model = Seq((0L, "the cat sat on the mat")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "the cat sat"),   // all bigrams model-seen
      (2L, "cat the sat"),   // same words, unseen ORDER -> backoff
      (3L, "zqx wvu"))       // fully OOV -> floor count 1 everywhere
      .toDF("doc_id", "text")
    val got = graft.ops.TextOps.bigramLmScore(docs, model = model)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    def micros(x: Double) = BigDecimal(math.log(x) * 1000000.0)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val t = 6.0 // model tokens
    // doc 1: ln(2/6) + ln(1/2) + ln(1/1)
    assert(got(1L) ==
      ((micros(2 / t) + micros(1.0 / 2) + micros(1.0)).toDouble / 1e6) / 3)
    // doc 2: ln(1/6) + backoff ln(.4*2/6) + backoff ln(.4*1/6)
    assert(got(2L) ==
      ((micros(1 / t) + micros(0.4 * (2 / t)) + micros(0.4 * (1 / t)))
        .toDouble / 1e6) / 3)
    // doc 3: OOV floor: ln(1/6) + backoff ln(.4*1/6)
    assert(got(3L) ==
      ((micros(1 / t) + micros(0.4 * (1 / t))).toDouble / 1e6) / 2)
    // seen phrasing > reordered > gibberish
    assert(got(1L) > got(2L) && got(2L) > got(3L))
  }

  test("tfidf top terms equal the brute-force model; k and ties respected") {
    val docs = Seq(
      (0L, "apple banana apple cherry"),
      (1L, "banana cherry cherry durian"),
      (2L, "apple apple apple elderberry"),
      (3L, "fig fig banana")).toDF("doc_id", "text")
    val got = TextOps.tfidfTopTerms(docs, k = 2)
      .as[(Long, String, Long, Double)].collect().toSet

    // brute force in plain Scala with the same quantization contract
    val toks = Map(
      0L -> Seq("apple", "banana", "apple", "cherry"),
      1L -> Seq("banana", "cherry", "cherry", "durian"),
      2L -> Seq("apple", "apple", "apple", "elderberry"),
      3L -> Seq("fig", "fig", "banana"))
    val n = toks.size.toDouble
    val df = toks.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, v) => t -> v.size }
    def q6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = toks.flatMap { case (id, ts) =>
      ts.groupBy(identity).toSeq
        .map { case (t, v) =>
          (id, t, v.size.toLong, q6(v.size * q6(math.log(n / df(t))))) }
        .sortBy { case (_, t, _, s) => (-s, t) }
        .take(2)
    }.toSet
    assert(got == want)
    // every doc contributes exactly k rows (it has >= k distinct terms)
    assert(got.groupBy(_._1).values.forall(_.size == 2))
  }

  test("collocations rank bigrams by PMI; minCount and single-word docs handled") {
    // "new york" always co-occurs (high PMI); "w" is everywhere, so any
    // bigram touching it scores low; rare bigrams fall to minCount
    val docs = (1 to 6).map(i => (i.toLong, "new york w w w w")) ++
      Seq((7L, "rare pair"), (8L, "solo")) // below minCount; 1-token doc
    val out = TextOps.collocations(docs.toDF("doc_id", "text"),
      minCount = 6, k = 3).as[(String, Long, Double)].collect()
    assert(out.head._1 == "new york" && out.head._2 == 6L)
    assert(!out.map(_._1).contains("rare pair"))
    // brute-force PMI for the winner with the same quantization:
    // unigrams 6*6 + 2 + 1 = 39, bigrams 6*5 + 1 = 31
    val (tUni, tBig) = (39.0, 31.0)
    def q6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = q6(math.log((6.0 / tBig) / ((6.0 / tUni) * (6.0 / tUni))))
    assert(out.head._3 == want)
    // PMI ordering is descending, ties on the bigram string
    assert(out.map(_._3).toSeq == out.map(_._3).toSeq.sorted.reverse)
  }

  test("md5 fingerprint variant: order-sensitive rolling, edit-robust winnow") {
    val df = Seq((0L, "alpha beta gamma delta epsilon zeta eta"),
      (1L, "beta alpha gamma delta epsilon zeta eta"), // swapped first words
      (2L, "alpha beta gamma delta epsilon zeta eta")).toDF("doc_id", "text")
    val r = graft.ops.TextOps.fingerprintsMd5(df)
      .select("doc_id", "fp_rolling", "fp_winnow")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(r(0)._2 == r(2)._2 && r(0)._3 == r(2)._3) // deterministic
    assert(r(0)._2 != r(1)._2) // rolling hash is order-sensitive
    assert(r.forall(t => t._2 >= 0 && t._2 < 2147483647L))
  }

  test("repetition signal flags duplicated n-grams, clean text scores 0") {
    val df = Seq(
      (0L, "spam spam spam spam spam spam"), // every 3-gram identical
      (1L, "all words here are fully distinct tokens"),
      (2L, "ab")).toDF("doc_id", "text") // shorter than n: one whole-text gram
    val r = graft.ops.TextOps.repetitionSignals(df)
      .select("doc_id", "n_grams", "dup_gram_frac")
      .as[(Long, Int, Double)].collect().sortBy(_._1)
    assert(r(0)._2 == 4 && r(0)._3 == 0.75) // 4 grams, 1 distinct
    assert(r(1)._3 == 0.0)
    assert(r(2)._2 == 1 && r(2)._3 == 0.0)
  }

  test("int8 quantize/dequantize bounds error by scale/2; cosine survives") {
    import graft.ops.Similarity
    val df = Seq(
      (0L, Array(0.31f, -0.84f, 0.02f, 0.55f, -0.17f, 0.93f, -0.44f, 0.08f)),
      (1L, Array(0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))).toDF("id", "v")
    val q = df.select(col("id"), col("v"),
      Similarity.quantizeInt8(col("v")).as("quant"))
    val rows = q.select(col("id"), col("v"), col("quant.scale").as("scale"),
        Similarity.dequantizeInt8(col("quant")).as("deq"))
      .as[(Long, Seq[Float], Double, Seq[Float])].collect().sortBy(_._1)
    val (_, v0, scale0, deq0) = rows(0)
    v0.zip(deq0).foreach { case (x, d) =>
      assert(math.abs(x - d) <= scale0 / 2 + 1e-9) }
    // zero vector: scale 0, all-zero reconstruction, no NaN/error
    assert(rows(1)._3 == 0.0 && rows(1)._4.forall(_ == 0f))
    val cos = q.where(col("id") === 0).select(
      graft.functions.VectorExprs.cosineSim(col("v"),
        Similarity.dequantizeInt8(col("quant")))).as[Double].collect().head
    assert(cos > 0.999)
  }

  test("unicode_normalize: NFC composes, NFKC folds, ASCII identity, nulls") {
    Graft.init(spark)
    import graft.functions.TextExprs
    val df = Seq((1L, "café"), (2L, "plain ascii"),
      (3L, null.asInstanceOf[String]), (4L, "ﬁle")).toDF("id", "s")
    val out = df.select(col("id"),
        TextExprs.unicodeNormalize(col("s"), "NFC").as("c"),
        TextExprs.unicodeNormalize(col("s"), "NFKC").as("k"))
      .as[(Long, Option[String], Option[String])]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L)._1 == Some("café")) // composed, 4 chars
    assert(out(1L)._1.get.length == 4)
    assert(out(2L) == (Some("plain ascii"), Some("plain ascii")))
    assert(out(3L) == (None, None))
    assert(out(4L)._1 == Some("ﬁle")) // NFC keeps the ligature
    assert(out(4L)._2 == Some("file"))     // NFKC folds it
    // SQL frontend surface
    val viaSql = spark.sql("SELECT unicode_normalize('café', 'NFC')")
      .as[String].collect().head
    assert(viaSql == "café")
    // a bad form fails analysis, not execution
    val e = intercept[Exception] {
      df.select(TextExprs.unicodeNormalize(col("s"), "NFX")).collect()
    }
    assert(e.getMessage.contains("NFC"))
    // the composite clean step: normalize + collapse + trim + lower
    val norm = Seq(("  Å   b  ", 0)).toDF("s", "z")
      .select(graft.ops.TextOps.normalizeText(col("s"))).as[String]
      .collect().head
    assert(norm == "å b")
  }

  test("line-level dedup drops corpus-frequent lines, keeps order, drops empty docs") {
    val docs = Seq(
      (1L, "cookie banner\nunique one\nfooter"),
      (2L, "cookie banner\nunique two\nfooter"),
      (3L, "cookie banner\nunique three\nfooter"),
      (4L, "cookie banner\nfooter")).toDF("doc_id", "text")
    // maxDf=2: both boilerplate lines appear in 4 docs > 2 -> dropped;
    // unique lines survive; doc 4 loses everything and disappears
    val r = TextOps.dedupLines(docs, "doc_id", "text", maxDf = 2)
      .as[(Long, String)].collect().toMap
    assert(r == Map(1L -> "unique one", 2L -> "unique two",
      3L -> "unique three"))
    // maxDf=4 keeps everything, in original line order
    val all = TextOps.dedupLines(docs, "doc_id", "text", maxDf = 4)
      .as[(Long, String)].collect().toMap
    assert(all(1L) == "cookie banner\nunique one\nfooter")
    assert(all(4L) == "cookie banner\nfooter")
    // df counts DISTINCT docs: a line repeated inside ONE doc is not
    // boilerplate and survives maxDf=1
    val rep = Seq((1L, "again\nagain\nmine"), (2L, "other"))
      .toDF("doc_id", "text")
    val kept = TextOps.dedupLines(rep, "doc_id", "text", maxDf = 1)
      .as[(Long, String)].collect().toMap
    assert(kept(1L) == "again\nagain\nmine")
  }

  test("array slice values match the joined-string surface (q_array_fns)") {
    // The q_array_fns query only emits first3_str (the driver's comparator
    // cannot hash array cells); the underlying array values are pinned here.
    val df = Seq((0L, "delta alpha charlie bravo alpha")).toDF("doc_id", "text")
    val ws = array_sort(array_distinct(split(col("text"), " ")))
    val r = df.select(
      slice(ws, 1, 3).as("first3"),
      array_join(slice(ws, 1, 3), "|").as("first3_str"))
      .as[(Seq[String], String)].collect().head
    assert(r._1 == Seq("alpha", "bravo", "charlie"))
    assert(r._2 == "alpha|bravo|charlie")
    assert(r._1.mkString("|") == r._2)
  }

  test("noveltyScores: first occurrence by arrival order, set " +
      "semantics per doc, short-doc gram convention") {
    val docs = Seq(
      (1L, "a b c d e f g h x"),          // both grams first here -> 1.0
      (2L, "a b c d e f g h y"),          // shares gram 1 with doc 1 -> 0.5
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8"),    // single novel gram -> 1.0
      (4L, "short text"),                 // < 8 words: whole doc is the gram
      (5L, "short text")                  // exact dup of doc 4 -> 0.0
    ).toDF("doc_id", "text")
    val got = TextOps.noveltyScores(docs, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(
      1L -> ((2L, 2L, 1.0)), 2L -> ((2L, 1L, 0.5)), 3L -> ((1L, 1L, 1.0)),
      4L -> ((1L, 1L, 1.0)), 5L -> ((1L, 0L, 0.0))), s"got $got")
    // repeated grams WITHIN a doc count once (set semantics)
    val rep = Seq((7L, "p1 p2 p3 p4 p5 p6 p7 p8 p1 p2 p3 p4 p5 p6 p7 p8"))
      .toDF("doc_id", "text")
    // 16 words = 9 windows, but window 9 repeats window 1 -> 8 distinct
    val r = TextOps.noveltyScores(rep, "doc_id", "text", 8).collect().head
    assert(r.getLong(1) == 8L, s"distinct grams ${r.getLong(1)}")
  }

  test("BPE merges match a plain-Scala reference implementation") {
    val corpus = Seq("low low low low low", "lower lower", "low lower",
      "newest newest newest", "widest widest", "aaa aaa", "n e w")
    val docs = corpus.toDF("text")

    // reference BPE over word counts, same tie-break and same greedy
    // left-to-right merge semantics as the engine
    def mergeSeq(s: Vector[String], l: String, r: String): Vector[String] =
      s.foldLeft(Vector.empty[String])((acc, x) =>
        if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
        else acc :+ x)
    var vocab: Map[Vector[String], Long] = corpus
      .flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) =>
        w.toVector.map(_.toString) -> ws.size.toLong }
    val expected = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var done = false
    (1 to 6).foreach { rank =>
      if (!done) {
        val pairs = vocab.toSeq.flatMap { case (syms, c) =>
          syms.zip(syms.tail).map(p => (p, c)) }
          .groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 >= 2L)
        if (pairs.isEmpty) done = true
        else {
          val ((l, r), c) = pairs.minBy { case ((l, r), c) => (-c, l, r) }
          expected += ((rank.toLong, l, r, c))
          vocab = vocab.toSeq.map { case (syms, c2) => (mergeSeq(syms, l, r), c2) }
            .groupMapReduce(_._1)(_._2)(_ + _)
        }
      }
    }
    val got = TextOps.bpeMerges(docs, "text", numMerges = 6)
      .as[(Long, String, String, Long)].collect().toSeq
      .sortBy(_._1)
    assert(got == expected.toSeq, s"got $got vs expected $expected")
    // the greedy fold is left-to-right non-overlapping: "aaa" under the
    // a+a rule contributes exactly one (a,a) merge site after round 1,
    // so the learned list never double-counts overlapped pairs (the
    // reference implements the identical fold — equality above covers
    // it; this pins the intent)
    assert(got.nonEmpty)

    // encode replays the learned rules: engine vs the same reference fold
    val rules = got.map(m => (m._2, m._3))
    val docs2 = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val enc = TextOps.bpeEncode(docs2, rules)
      .as[(Long, Seq[String], Long)].collect()
      .map(r => r._1 -> r._2).toMap
    val expEnc = corpus.zipWithIndex.map { case (t, i) =>
      i.toLong -> t.trim.split("\\s+").filter(_.nonEmpty).toSeq.flatMap { w =>
        rules.foldLeft(w.toVector.map(_.toString)) {
          case (syms, (l, r)) => mergeSeq(syms, l, r) }
      }
    }.toMap
    assert(enc == expEnc, s"encode mismatch: $enc vs $expEnc")
    // merged symbols actually appear (the corpus trains 'lo' or 'er'
    // early, so some token is multi-character)
    assert(enc.values.exists(_.exists(_.length > 1)))
  }

  test("bpeMerges: driver-side trainer equals the distributed loop rule " +
      "for rule (ties, accents, supplementary chars)") {
    // the corpus engineers the two seams that could diverge:
    // (1) a COUNT TIE between a supplementary-char pair (𝄞a) and a
    //     high-BMP pair (￮a) — UTF-16 String.compareTo orders them
    //     OPPOSITE to Spark's UTF-8 binary order, so a trainer using
    //     the JVM default comparator learns a different rule sequence;
    // (2) surrogate-pair splitting — Java's split("") breaks 𝄞 into
    //     two lone halves, Spark's split keeps code points whole
    val corpus = Seq(
      "aa ab aa ab cc aa",
      "résumé naïve résumé café café",
      "𝄞a 𝄞a ￮a ￮a",
      "the the the quick quick brown",
      "aaa aaa bbb ab ab")
    val docs = corpus.toDF("text")
    val fast = TextOps.bpeMerges(docs, numMerges = 40, minCount = 2)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    val slow = TextOps.bpeMergesDistributed(docs, numMerges = 40,
        minCount = 2)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(fast == slow, s"driver $fast vs distributed $slow")
    assert(fast.nonEmpty)
    // the engineered tie actually fires, and UTF-8 order wins it:
    // ￮ (EF BF AE) sorts before 𝄞 (F0 9D 84 9E)
    val tieRanks = fast.filter(m => m._2 == "𝄞" || m._2 == "￮")
    assert(tieRanks.map(_._2) == Seq("￮", "𝄞"),
      s"tie-break order wrong: $tieRanks")
    // the driver contract rejects oversized vocabularies with guidance
    val e = intercept[IllegalArgumentException] {
      TextOps.bpeMerges(docs, numMerges = 1, maxVocabRows = 2)
    }
    assert(e.getMessage.contains("bpeMergesDistributed"))
    // minCount = 0 would let the heap emit dead zero-count rules the
    // distributed loop can never produce (ADVICE r10) — rejected up
    // front, on both trainers
    intercept[IllegalArgumentException] {
      TextOps.bpeMerges(docs, numMerges = 1, minCount = 0) }
    intercept[IllegalArgumentException] {
      TextOps.bpeMergesDistributed(docs, numMerges = 1, minCount = 0) }
  }

  test("BPE tokenizer round-trips through save/load (rank order preserved)") {
    val rules = Seq(("e", "r"), ("er", "s"), ("a", "b"))
    val tmp = tempDir("graft-bpe").toString + "/rules"
    TextOps.saveBpe(rules, spark, tmp)
    assert(TextOps.loadBpe(spark, tmp) == rules)
    // the 4-column bpeMerges output written as-is also loads
    val docs = Seq((1L, "the merge merge merges")).toDF("doc_id", "text")
    val learned = TextOps.bpeMerges(docs, numMerges = 2, minCount = 2)
    learned.write.mode("overwrite").parquet(tmp)
    val loaded = TextOps.loadBpe(spark, tmp)
    assert(loaded == learned.orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq)
    // and a loaded tokenizer encodes identically to the in-session one
    val a = TextOps.bpeEncodeFast(docs, loaded).collect().map(_.toString).toSeq
    val b = TextOps.bpeEncodeFast(docs,
      learned.orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)
      .collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("codegen'd BPE expression equals the fold encoder on trained rules") {
    // fixture-trained rules: the real contract (trained lists are the
    // input class where rank-priority == sequential application)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .where(col("doc_id") < 200)
    val rules = TextOps.bpeMerges(docs, numMerges = 8)
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(rules.size == 8)
    val fold = TextOps.bpeEncode(docs, rules)
      .as[(Long, Seq[String], Long)].collect().sortBy(_._1).toSeq
    val fast = TextOps.bpeEncodeFast(docs, rules)
      .as[(Long, Seq[String], Long)].collect().sortBy(_._1).toSeq
    assert(fast == fold)

    // edge docs: empty, whitespace-only, overlap runs, cascading rules
    // (rule 2's left side is rule 1's output), single char, unicode
    val crafted = Seq(
      (0L, ""), (1L, "   "), (2L, "aaa aaaa ab"), (3L, "xyx"),
      (4L, "abab abcabc"), (5L, "a"), (6L, "café café")).toDF("doc_id", "text")
    val chain = Seq(("a", "b"), ("ab", "c"), ("a", "a"), ("é", "é"))
    val foldC = TextOps.bpeEncode(crafted, chain)
      .as[(Long, Seq[String], Long)].collect().sortBy(_._1).toSeq
    val fastC = TextOps.bpeEncodeFast(crafted, chain)
      .as[(Long, Seq[String], Long)].collect().sortBy(_._1).toSeq
    assert(fastC == foldC, s"$fastC vs $foldC")
    // and the chain actually fused: "abcabc" -> [abc, abc]
    assert(foldC.find(_._1 == 4L).get._2 == Seq("ab", "ab", "abc", "abc"))

    // null text propagates as a null token array
    val withNull = Seq((0L, Option("ab")), (1L, Option.empty[String]))
      .toDF("doc_id", "text")
    val rows = TextOps.bpeEncodeFast(withNull, chain).collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!rows(0L) && rows(1L))

    // the expression stays inside whole-stage codegen (the project that
    // computes bpe_encode carries the codegen-stage marker)
    val plan = TextOps.bpeEncodeFast(docs, rules)
      .queryExecution.executedPlan
    assert(plan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]))
    assert(plan.toString.linesIterator
      .exists(l => l.contains("bpe_encode") && l.contains("*(")),
      "the bpe_encode projection must sit inside a codegen stage")
  }

  test("blocklist annotates matched terms sorted, case-insensitively, shuffle-free") {
    val docs = Seq(
      (1L, "the BIG Table was slow"),
      (2L, "a big tablecloth"),          // substring still matches
      (3L, "clean document"),
      (4L, "big table and slow scan")).toDF("doc_id", "text")
    val terms = Seq("Big Table", "slow scan").toDF("term")
    val got = TextOps.blocklist(docs, terms)
      .as[(Long, String, Int, Boolean)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "big table", 1, true),
      (2L, "big table", 1, true),
      (3L, "", 0, false),
      (4L, "big table|slow scan", 2, true)))
    // scale shape: no shuffle on the document side — the only exchange
    // in the plan is the 1-row term-array broadcast
    val plan = TextOps.blocklist(docs, terms).queryExecution.executedPlan
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.size <= 1, s"document side must not shuffle:\n$plan")
  }

  test("distinctiveTerms: planted slice markers surface with the right sign") {
    import spark.implicits._
    // 'spam' saturates slice A, 'ham' saturates slice B; 'shared' is
    // common to both and must not dominate either direction
    val a = (1 to 20).map(i => (i.toLong, "spam spam shared filler" + i))
      .toDF("doc_id", "text")
    val b = (1 to 20).map(i => (100L + i, "ham ham shared filler" + i))
      .toDF("doc_id", "text")
    val top = TextOps.distinctiveTerms(a, b, k = 3, minCount = 5)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(top.head._1 == "spam" && top.head._2 == 40L && top.head._3 == 0L)
    assert(top.head._4 > 0, "A-distinctive terms carry positive z")
    // the B marker sits at the NEGATIVE extreme, below 'shared'
    val all = TextOps.distinctiveTerms(a, b, k = 100, minCount = 5)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(all.last._1 == "ham" && all.last._4 < 0)
    val shared = all.find(_._1 == "shared").get
    assert(math.abs(shared._4) < all.head._4.abs)
    // symmetry: swapping slices negates the planted markers' ordering
    val sw = TextOps.distinctiveTerms(b, a, k = 3, minCount = 5)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(sw.head._1 == "ham")
  }

  test("Luhn card detection: classic vectors, run-length gating") {
    val docs = Seq(
      (1L, "pay 4111111111111111 now"),
      (2L, "fake 4111111111111112 and short 12345"),
      (3L, "amex 378282246310005 visa 4532015112830366"),
      (4L, "no card digits here"),
      (5L, "too long 12345678901234567890 to be a card"))
      .toDF("doc_id", "text")
    val got = TextOps.detectCards(docs)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 1L, 1L, "4111111111111111")))
    assert(got(2L) == ((2L, 1L, 0L, "")))         // checksum off by one
    assert(got(3L) == ((3L, 2L, 2L, "378282246310005,4532015112830366")))
    assert(got(4L) == ((4L, 0L, 0L, "")))
    assert(got(5L) == ((5L, 0L, 0L, "")))         // 20 digits: gated out
    // cross-check the expression against a reference Luhn on random runs
    def refLuhn(s: String): Boolean = s.reverse.zipWithIndex.map {
      case (ch, i) =>
        val d = ch - '0'
        if (i % 2 == 1) { val x = d * 2; if (x > 9) x - 9 else x } else d
    }.sum % 10 == 0
    val runs = (0 until 40).map(i => f"${i * 7919196234577L % 10000000000000L}%016d")
    val exprGot = TextOps.detectCards(
        runs.zipWithIndex.map { case (r, i) => (i.toLong, r) }
          .toDF("doc_id", "text"))
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._3 == 1L)).toMap
    runs.zipWithIndex.foreach { case (r, i) =>
      assert(exprGot(i.toLong) == refLuhn(r), s"run $r") }
  }

  test("unigram segmentWord equals brute-force Viterbi over all " +
      "segmentations (score desc, ntok asc, path asc)") {
    import graft.functions.UnigramEncode
    val rnd = new scala.util.Random(31)
    val chars = Vector("a", "b", "c")
    for (trial <- 1 to 60) {
      // random vocab: all chars + random 2-4 length pieces, random scores
      val pieces = (chars.map(c => c -> (-(8 + rnd.nextInt(8))).toLong * 1000000L) ++
        (1 to 6).map { _ =>
          val len = 2 + rnd.nextInt(3)
          Vector.fill(len)(chars(rnd.nextInt(3))).mkString ->
            (-(4 + rnd.nextInt(10))).toLong * 1000000L
        }).distinct.groupBy(_._1).map(_._2.head).toSeq
      val vocab = pieces.toMap
      val word = Vector.fill(3 + rnd.nextInt(7))(chars(rnd.nextInt(3))).mkString
      val unk = UnigramEncode.DefaultUnkScore
      // brute force: enumerate all segmentations into vocab pieces or
      // 1-char <unk>, pick max (score, -ntok, lexicographic path)
      def segs(s: String): Seq[(Long, List[String])] =
        if (s.isEmpty) Seq((0L, Nil))
        else (1 to math.min(4, s.length)).flatMap { l =>
          val p = s.substring(0, l)
          val heads =
            (if (vocab.contains(p)) Seq((vocab(p), p)) else Nil) ++
              (if (l == 1) Seq((unk, "<unk>")) else Nil)
          heads.flatMap { case (sc, tok) =>
            segs(s.substring(l)).map { case (ts, tl) => (sc + ts, tok :: tl) }
          }
        }
      val all = segs(word)
      val bestScore = all.map(_._1).max
      val minTok = all.filter(_._1 == bestScore).map(_._2.length).min
      val expect = all.filter(e => e._1 == bestScore && e._2.length == minTok)
        .map(_._2.mkString("\u001f")).min
      val got = UnigramEncode.segmentWord(word,
        UnigramEncode.buildTable(pieces), unk).mkString("\u001f")
      assert(got == expect, s"trial $trial word $word vocab $pieces")
    }
  }

  test("unigramPieces: full char coverage, vocab bound, deterministic, " +
      "encode round-trips the corpus") {
    val docs = Seq(
      (1L, "spark scan sparkscan scan spark table tablescan"),
      (2L, "scan table spark sparkscan tablescan tablescan"),
      (3L, "spark spark scan table scantable")).toDF("doc_id", "text")
    val p1 = TextOps.unigramPieces(docs, "text", vocabSize = 24,
      maxPieceLen = 6, nIters = 2)
      .as[(String, Long, Long)].collect().toSeq
    val p2 = TextOps.unigramPieces(docs, "text", vocabSize = 24,
      maxPieceLen = 6, nIters = 2)
      .as[(String, Long, Long)].collect().toSeq
    assert(p1 == p2) // deterministic
    assert(p1.size <= 24)
    val pieceSet = p1.map(_._1).toSet
    // every seen character is a piece
    "sparkscantble".foreach(c => assert(pieceSet.contains(c.toString)))
    // scores are negative micro-log-probs, counts positive
    assert(p1.forall(p => p._2 < 0 && p._3 >= 1))
    // encode with the trained pieces: no <unk> on the training corpus,
    // and concatenated tokens rebuild each word
    val enc = TextOps.unigramEncodeFast(docs,
      p1.map(p => (p._1, p._2)), "doc_id", "text")
      .as[(Long, Seq[String], Long)].collect()
    val orig = Map(1L -> "spark scan sparkscan scan spark table tablescan",
      2L -> "scan table spark sparkscan tablescan tablescan",
      3L -> "spark spark scan table scantable")
    enc.foreach { case (id, toks, n) =>
      assert(n == toks.size)
      assert(!toks.contains("<unk>"), s"doc $id got <unk>: $toks")
      assert(toks.mkString == orig(id).replace(" ", ""), s"doc $id")
    }
    // unseen characters surface as <unk>
    val probe = Seq((9L, "zq spark")).toDF("doc_id", "text")
    val ptoks = TextOps.unigramEncodeFast(probe, p1.map(p => (p._1, p._2)))
      .as[(Long, Seq[String], Long)].collect().head._2
    assert(ptoks.take(2) == Seq("<unk>", "<unk>"))
  }
}
