package graft

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.functions._

import graft.sources.Warc

/** The WARC parser's contract: Content-Length framing (not delimiter
  * splitting), byte-exact bodies, longest-well-formed-prefix recovery on
  * truncated files, and multibyte length accounting. */
class WarcSpec extends SparkSpec {
  import spark.implicits._

  private def build(recs: (String, String)*): Array[Byte] =
    recs.map { case (id, body) =>
      s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <$id>\r\n" +
        s"WARC-Target-URI: https://x/$id\r\n" +
        s"Content-Length: ${body.getBytes(StandardCharsets.UTF_8).length}\r\n" +
        s"\r\n$body\r\n\r\n"
    }.mkString.getBytes(StandardCharsets.UTF_8)

  test("roundtrip: records written declaratively parse back bit-exact") {
    val docs = Seq((1L, "hello world"), (2L, "second doc")).toDF("id", "body")
    val blob = docs
      .select(Warc.record(lit("response"), concat(lit("r"), $"id"),
        concat(lit("u"), $"id"), $"body").as("rec"), $"id")
      .orderBy("id")
      .agg(concat_ws("", collect_list($"rec")).as("blob"))
      .select(lit(0L).as("fid"), $"blob".cast("binary").as("payload"))
    val parsed = Warc.parse(blob, "fid", "payload")
      .orderBy("record_id").collect()
    assert(parsed.map(_.getString(3)).toSeq == Seq("u1", "u2"))
    assert(parsed.map(_.getString(5)).toSeq == Seq("hello world", "second doc"))
    assert(parsed.map(_.getLong(4)).toSeq == Seq(11L, 10L))
  }

  test("length framing: a body containing the record terminator survives") {
    val tricky = "part one\r\n\r\nWARC/1.0\r\npart two"
    val blob = build(("a", tricky), ("b", "after"))
    val out = Warc.parseFile(0L, blob).toSeq
    assert(out.map(_.body) == Seq(tricky, "after"),
      "delimiter-split parsing would have broken record 'a' apart")
  }

  test("multibyte bodies: Content-Length counts BYTES, not characters") {
    val body = "naïve café — ☕"
    val blob = build(("m", body))
    val out = Warc.parseFile(0L, blob).toSeq
    assert(out.map(_.body) == Seq(body))
    assert(out.head.content_length ==
      body.getBytes(StandardCharsets.UTF_8).length)
    assert(out.head.content_length > body.length)
  }

  test("truncated tail: longest well-formed prefix parses, tail dropped") {
    val good = build(("a", "one"), ("b", "two"))
    val truncated = good ++ "WARC/1.0\r\nWARC-Type: response\r\nContent-Le"
      .getBytes(StandardCharsets.US_ASCII)
    assert(Warc.parseFile(0L, truncated).map(_.record_id).toSeq ==
      Seq("a", "b"))
  }

  test("overrunning Content-Length stops the file without a crash") {
    val lying = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Record-ID: <x>\r\nContent-Length: 9999\r\n\r\nshort")
      .getBytes(StandardCharsets.US_ASCII)
    assert(Warc.parseFile(0L, build(("a", "ok")) ++ lying)
      .map(_.record_id).toSeq == Seq("a"))
  }

  test("Content-Length near Long.MaxValue is malformed, not a crash") {
    // p + len + 4 wrapped negative and slipped the bounds check; the
    // new String(..., len.toInt, ...) then threw out of the task
    // (r11 self-review) — the walk must stop with the good prefix
    val huge = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Record-ID: <x>\r\nContent-Length: 9223372036854775807\r\n\r\nshort")
      .getBytes(StandardCharsets.US_ASCII)
    assert(Warc.parseFile(0L, build(("a", "ok")) ++ huge)
      .map(_.record_id).toSeq == Seq("a"))
    // a wrap landing on a small positive toInt must not mis-frame either
    val wrap = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Record-ID: <y>\r\nContent-Length: 4294967299\r\n\r\nabc")
      .getBytes(StandardCharsets.US_ASCII)
    assert(Warc.parseFile(0L, build(("a", "ok")) ++ wrap)
      .map(_.record_id).toSeq == Seq("a"))
  }

  test("header-bound values cannot inject header lines") {
    // an href captured from crawled markup can carry CRLF; written
    // verbatim it would smuggle a second Content-Length and poison
    // every later record in the file — record() folds CR/LF runs in
    // header fields to one space, and the archive stays walkable
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rec = Seq(("r1", "https://h/x\r\nContent-Length: 0\r\n", "body1"),
        ("r2", "https://h/clean", "body2"))
      .toDF("rid", "uri", "body")
      .select(Warc.record(lit("response"), col("rid"), col("uri"),
        col("body")).as("rec"))
      .as[String].collect().mkString.getBytes(StandardCharsets.UTF_8)
    val out = Warc.parseFile(0L, rec).toSeq
    assert(out.map(_.record_id) == Seq("r1", "r2"), s"got $out")
    assert(out.head.target_uri == "https://h/x Content-Length: 0")
    assert(out.map(_.body) == Seq("body1", "body2"))
  }

  test("missing Content-Length or bad magic ends the walk") {
    val noLen = ("WARC/1.0\r\nWARC-Type: response\r\n\r\nbody\r\n\r\n")
      .getBytes(StandardCharsets.US_ASCII)
    assert(Warc.parseFile(0L, noLen).isEmpty)
    val badMagic = "HARC/1.0\r\n".getBytes(StandardCharsets.US_ASCII)
    assert(Warc.parseFile(0L, badMagic).isEmpty)
  }

  test("non-response record types pass through with their label") {
    val info = ("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
      "WARC-Record-ID: <i>\r\nContent-Length: 4\r\n\r\ninfo\r\n\r\n")
      .getBytes(StandardCharsets.US_ASCII)
    val out = Warc.parseFile(7L, info).toSeq
    assert(out.map(r => (r.file_id, r.rec_type, r.body)) ==
      Seq((7L, "warcinfo", "info")))
  }

  test("the documented 100 TB path works: .warc files on disk land via " +
    "binaryFile and parse to records") {
    val dir = tempDir("warc-files")
    java.nio.file.Files.write(dir.resolve("crawl-00000.warc"),
      build(("a", "doc one"), ("b", "doc two")))
    java.nio.file.Files.write(dir.resolve("crawl-00001.warc"),
      build(("c", "doc three")))
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc").load(dir.toString)
      // binaryFile gives (path, modificationTime, length, content);
      // derive a numeric file id from the path tail
      .select(regexp_extract(col("path"), "crawl-(\\d+)\\.warc", 1)
        .cast("long").as("file_id"), col("content"))
    val got = Warc.parse(files, "file_id", "content")
      .select($"file_id", $"record_id", $"body")
      .as[(Long, String, String)].collect().toSet
    assert(got == Set((0L, "a", "doc one"), (0L, "b", "doc two"),
      (1L, "c", "doc three")))
  }

  test(".warc.gz: member-per-record gzip roundtrips; corrupt tail costs nothing") {
    import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
    val recs = Seq(
      (0L, 1L, "WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <a>\r\n" +
        "Content-Length: 5\r\n\r\nfirst\r\n\r\n"),
      (0L, 2L, "WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <b>\r\n" +
        "Content-Length: 6\r\n\r\nsecond\r\n\r\n"))
      .toDF("file_id", "ord", "rec")
    val files = Warc.gzipFiles(recs, "file_id", "rec", "ord")
    val payload = files.select("payload").as[Array[Byte]].head()
    // really two gzip members: the magic appears twice
    assert(payload.sliding(2).count(w =>
      (w(0) & 0xff) == 0x1f && (w(1) & 0xff) == 0x8b) >= 2)
    val clean = Warc.parseGzip(files, "file_id", "payload")
      .select($"record_id", $"body").as[(String, String)].collect().toSet
    assert(clean == Set(("a", "first"), ("b", "second")))
    // garbage appended after the members must not cost the good ones
    val dirty = files.select($"file_id",
      concat($"payload", lit("junk tail".getBytes(US_ASCII))).as("payload"))
    val got = Warc.parseGzip(dirty, "file_id", "payload")
      .select($"record_id").as[String].collect().toSet
    assert(got == Set("a", "b"))
    // and a single-member whole-blob gzip inflates to the same records
    val whole = {
      val out = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(out)
      recs.orderBy("ord").select("rec").as[String].collect()
        .foreach(r => gz.write(r.getBytes(UTF_8)))
      gz.finish()
      out.toByteArray
    }
    val one = Warc.parseGzip(Seq((0L, whole)).toDF("file_id", "payload"),
      "file_id", "payload").select($"record_id").as[String].collect().toSet
    assert(one == Set("a", "b"))
  }

  test("gzip bomb: inflation stops at the cap, prefix records survive") {
    import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
    // one good member, then a member inflating to ~10 MB of zeros;
    // with a 1 MB test cap the walk keeps the good record and stops
    val out = new java.io.ByteArrayOutputStream()
    val g1 = new java.util.zip.GZIPOutputStream(out)
    g1.write(("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <a>\r\n" +
      "Content-Length: 2\r\n\r\nok\r\n\r\n").getBytes(UTF_8))
    g1.finish()
    val g2 = new java.util.zip.GZIPOutputStream(out)
    g2.write(new Array[Byte](10 << 20)) // compresses to ~10 KB
    g2.finish()
    val inflated = Warc.inflateAll(out.toByteArray, maxBytes = 1 << 20)
    assert(inflated.length <= (1 << 20) + 8192, "cap must hold")
    assert(Warc.parseFile(0L, inflated).map(_.record_id).toSeq == Seq("a"))
  }

  test("q_warc_ingest recovers every sf0.001 document bit-exact") {
    val out = SparkEntry.queries("q_warc_ingest")(spark, sfDir)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", md5($"text".cast("binary")).as("want_md5"),
        octet_length($"text").cast("long").as("want_len"))
    val joined = out.join(docs, "doc_id")
    assert(joined.count() == docs.count(), "a document was lost in transit")
    assert(joined.where($"body_md5" =!= $"want_md5" ||
      $"content_length" =!= $"want_len").count() == 0)
  }
}
