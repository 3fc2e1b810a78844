package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ops.Multimodal
import Fixtures._

/** Web and crawl pipelines: WARC ingest, robots and frontier,
  * URL canonicalization, HTML extraction. */
private[graft] object WebQueries {

  /** Planted per-doc URL for the q_url_* queries: scheme/host case and an
    * explicit :443 flip by doc parity (so two raw FORMS of every logical
    * URL exist), per-doc tracking params and fragment (so stripping is
    * observable). Mirrored verbatim in the DuckDB oracles. */
  private def plantedUrl: Column = concat(
    when(col("doc_id") % 2 === 0, "HTTPS://").otherwise("https://"),
    upper(col("source")), lit(".Example.COM"),
    when(col("doc_id") % 2 === 0, ":443").otherwise(""),
    lit("/cat"), (col("doc_id") % 3).cast("string"),
    lit("/page"), (col("doc_id") % 5).cast("string"),
    lit("/?utm_source=feed&utm_campaign=c"), (col("doc_id") % 4).cast("string"),
    lit("&id="), (col("doc_id") % 5).cast("string"),
    lit("&gclid=g"), (col("doc_id") % 2).cast("string"),
    lit("#sec"), (col("doc_id") % 6).cast("string"))

  /** Planted per-doc HTML shell for q_html_extract: title, a tracker
    * script and style block (must vanish whole), 1-2 anchors varying by
    * doc, an entity-bearing footer. Mirrored verbatim in the oracle. */
  private def plantedHtml: Column = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast("string"),
    lit("</title><script type=\"text/javascript\">var t = "),
    (col("doc_id") % 97).cast("string"),
    lit(";</script><style>.c{color:red}</style></head><body><h1>Doc "),
    col("doc_id").cast("string"), lit("</h1><p>"), col("text"),
    lit("</p><a href=\"/next/"), (col("doc_id") % 10).cast("string"),
    lit("\">next page</a>"),
    when(col("doc_id") % 3 === 0, "<a href=\"/rel\">related</a>")
      .otherwise(""),
    lit("<div class=\"footer\">&copy; 2026 &amp; co &#39;ok&#39;" +
      "</div></body></html>"))

  /** Shared DuckDB replay of plantedHtml + Html.extract (the u and
    * s1..s4 CTEs) — used by the q_html_extract oracle and the
    * q_cc_pipeline composition oracle. Ends with s4(doc_id, html,
    * text_clean). */
  private lazy val HtmlReplayCtes: String =
    """WITH u AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id
        |    || '</title><script type="text/javascript">var t = '
        |    || (doc_id % 97)
        |    || ';</script><style>.c{color:red}</style></head><body><h1>Doc '
        |    || doc_id || '</h1><p>' || text
        |    || '</p><a href="/next/' || (doc_id % 10) || '">next page</a>'
        |    || (CASE WHEN doc_id % 3 = 0
        |         THEN '<a href="/rel">related</a>' ELSE '' END)
        |    || '<div class="footer">&copy; 2026 &amp; co &#39;ok&#39;'
        |    || '</div></body></html>' AS html
        |  FROM documents),
        |s1 AS (SELECT doc_id, html, regexp_replace(regexp_replace(
        |    regexp_replace(html, '(?i)<head[ >][\s\S]*?</head>', ' ', 'g'),
        |    '(?i)<script[^>]*>[\s\S]*?</script>', ' ', 'g'),
        |    '(?i)<style[^>]*>[\s\S]*?</style>', ' ', 'g') AS nos FROM u),
        |s2 AS (SELECT doc_id, html,
        |    regexp_replace(nos, '<[^>]*>', ' ', 'g') AS notags FROM s1),
        |s3 AS (SELECT doc_id, html,
        |    replace(replace(replace(replace(replace(replace(notags,
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&') AS dec FROM s2),
        |s4 AS (SELECT doc_id, html,
        |    trim(regexp_replace(dec, '\s+', ' ', 'g')) AS text_clean
        |  FROM s3)""".stripMargin + "\n"

  val queries: Seq[Query] = Seq(

    // WARC crawl ingest, end-to-end: build spec-shaped WARC records from
    // the documents table, concatenate them into per-bucket "files"
    // (records in doc_id order, a deliberately TRUNCATED half-record
    // planted at the tail of file 0), byte-walk the files back into
    // records with the Content-Length-framed parser, and prove every
    // document survived bit-exact (body md5 vs the oracle's md5 of the
    // source text). The truncated plant must vanish; bodies containing
    // "\r\n\r\n" would survive too (WarcSpec) because framing is by
    // length, not delimiter. sources/Warc.scala documents the 100 TB
    // shape (one ~1 GB file per row via binaryFile, flatMap to records).
    Query("q_warc_ingest", (s, dir) => {
      val docs = t(s, dir, "documents")
      val uri = concat(lit("https://"), lower(col("source")),
        lit(".example.com/doc/"), col("doc_id").cast("string"))
      val recs = docs.select((col("doc_id") % 20).as("file_id"), col("doc_id"),
        graft.sources.Warc.record(lit("response"),
          concat(lit("urn:graft:doc:"), col("doc_id").cast("string")),
          uri, col("text")).as("rec"))
      val files = recs.groupBy("file_id")
        .agg(concat_ws("", transform(
          array_sort(collect_list(struct(col("doc_id"), col("rec")))),
          x => x.getField("rec"))).as("blob"))
        .withColumn("blob", when(col("file_id") === 0,
          concat(col("blob"),
            lit("WARC/1.0\r\nWARC-Type: response\r\nContent-Le")))
          .otherwise(col("blob")))
        .select(col("file_id"), col("blob").cast("binary").as("payload"))
      graft.sources.Warc.parse(files, "file_id", "payload")
        .where(col("rec_type") === "response")
        .select(
          regexp_extract(col("record_id"), "urn:graft:doc:(\\d+)", 1)
            .cast("long").as("doc_id"),
          col("target_uri"), col("content_length"),
          md5(col("body").cast("binary")).as("body_md5"))
    },
      // raw line reader via read_text + newline split (read_csv would
      // try to PARSE the quotes/tabs the format promises not to touch);
      // the trailing-newline artifact is the one empty element filtered
      // replays the construction: the parser must recover every document
      // from the concatenated WARC blobs with the declared byte length and
      // a bit-exact body (md5 over the same UTF-8 bytes both engines);
      // the truncated tail plant appears in no row on either side
      """SELECT doc_id,
        |  'https://' || lower(source) || '.example.com/doc/' || doc_id
        |    AS target_uri,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS content_length,
        |  md5(text) AS body_md5
        |FROM documents""".stripMargin),

    // the .warc.gz sibling of q_warc_ingest — the format crawls
    // actually ship (Common Crawl): each record its own gzip member,
    // members concatenated per file; a garbage compressed tail is
    // planted on file 0 and must not cost the good members. Oracle
    // identical to q_warc_ingest's: every document recovered with
    // exact byte length and md5-identical body
    Query("q_warc_gzip", (s, dir) => {
      val docs = t(s, dir, "documents")
      val uri = concat(lit("https://"), lower(col("source")),
        lit(".example.com/doc/"), col("doc_id").cast("string"))
      val recs = docs.select((col("doc_id") % 20).as("file_id"),
        col("doc_id"),
        graft.sources.Warc.record(lit("response"),
          concat(lit("urn:graft:doc:"), col("doc_id").cast("string")),
          uri, col("text")).as("rec"))
      val files = graft.sources.Warc
        .gzipFiles(recs, "file_id", "rec", "doc_id")
        .withColumn("payload", when(col("file_id") === 0,
          concat(col("payload"),
            lit("not a gzip member".getBytes("US-ASCII"))))
          .otherwise(col("payload")))
      graft.sources.Warc.parseGzip(files, "file_id", "payload")
        .where(col("rec_type") === "response")
        .select(
          regexp_extract(col("record_id"), "urn:graft:doc:(\\d+)", 1)
            .cast("long").as("doc_id"),
          col("target_uri"), col("content_length"),
          md5(col("body").cast("binary")).as("body_md5"))
    },
      // the compressed roundtrip recovers the identical set (the garbage
      // member tail must cost nothing)
      """SELECT doc_id,
        |  'https://' || lower(source) || '.example.com/doc/' || doc_id
        |    AS target_uri,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS content_length,
        |  md5(text) AS body_md5
        |FROM documents""".stripMargin),

    // ---- LLM: the Common-Crawl-shaped pipeline, end to end ------------
    // html pages → WARC records → per-record gzip members → parse →
    // magic-byte sniff (must say text/html) → boilerplate-stripping
    // extraction → per-doc stats. The compressed container transport in
    // the middle must not perturb extraction by one byte: the oracle
    // replays build+extract directly and never sees a container
    Query("q_cc_pipeline", (s, dir) => {
      val docs = t(s, dir, "documents")
      val recs = docs.select((col("doc_id") % 20).as("file_id"),
        col("doc_id"),
        graft.sources.Warc.record(lit("response"),
          concat(lit("urn:graft:doc:"), col("doc_id").cast("string")),
          concat(lit("https://"), lower(col("source")),
            lit(".example.com/doc/"), col("doc_id").cast("string")),
          plantedHtml).as("rec"))
      val files = graft.sources.Warc
        .gzipFiles(recs, "file_id", "rec", "doc_id")
      val parsed = graft.sources.Warc
        .parseGzip(files, "file_id", "payload")
        .where(col("rec_type") === "response")
        .withColumn("sniffed",
          Multimodal.sniffKind(col("body").cast("binary")))
        .where(col("sniffed") === "text/html")
        .withColumn("doc_id",
          regexp_extract(col("record_id"), "urn:graft:doc:(\\d+)", 1)
            .cast("long"))
      graft.ops.Html.extract(parsed, "doc_id", "body")
        .select(col("doc_id"), col("n_links"), col("n_chars_clean"))
    },
      // the WARC/gzip transport in the middle must not perturb
      // extraction: same replay CTEs, stats-only projection
      (HtmlReplayCtes +
        """SELECT doc_id,
          |  CAST(len(regexp_extract_all(html, '(?i)<a href')) AS BIGINT)
          |    AS n_links,
          |  CAST(length(text_clean) AS BIGINT) AS n_chars_clean
          |FROM s4""".stripMargin)),

    // ---- LLM: robots.txt crawl admission (frontier gate) --------------
    // per-host robots.txt (planted: an evilbot group that must be
    // ignored, a * group disallowing /cat1/ with a longer Allow carving
    // /cat1/page3 back out, an empty Disallow that must drop out, and
    // ONE host with no robots at all -> crawl-by-default). Group
    // scoping, longest-prefix precedence, and allow-beats-disallow ties
    // are additionally pinned in RobotsSpec; the oracle replays the
    // expected verdicts from the plant's construction
    Query("q_robots_filter", (s, dir) => {
      val docs = t(s, dir, "documents")
      val urls = docs.select(col("doc_id"),
        concat(lower(col("source")), lit(".example.com")).as("host"),
        concat(lit("/cat"), (col("doc_id") % 3).cast("string"),
          lit("/page"), (col("doc_id") % 5).cast("string")).as("path"))
      val robots = docs.select(lower(col("source")).as("src")).distinct()
        .where(col("src") =!= "src4")
        .select(concat(col("src"), lit(".example.com")).as("host"),
          lit("# crawl policy\nUser-agent: evilbot\nDisallow: /\n\n" +
            "User-agent: *\nDisallow: /cat1/\nAllow: /cat1/page3\n" +
            "Disallow:\nDisallow: /private\n").as("txt"))
      val rules = graft.ops.Robots.parseRobots(robots, "host", "txt")
      graft.ops.Robots.filterAllowed(urls, rules, "host", "path", "doc_id")
        .select(col("doc_id"), col("host"), col("path"), col("allowed"))
    },
      // the plant's verdict table: src4 has no robots (crawl-by-default
      // true); on every other host only /cat1/* paths are gated, with
      // the longer Allow carving /cat1/page3 back out
      """SELECT doc_id,
        |  lower(source) || '.example.com' AS host,
        |  '/cat' || (doc_id % 3) || '/page' || (doc_id % 5) AS path,
        |  CASE WHEN lower(source) = 'src4' THEN true
        |       WHEN doc_id % 3 = 1 THEN doc_id % 5 = 3
        |       ELSE true END AS allowed
        |FROM documents""".stripMargin),

    // ---- LLM: crawl frontier (sitemap discovery → robots admission → --
    // politeness). The composed fetch-schedule table: per-host sitemap
    // <loc> extraction (entity unescape + whitespace trim exercised),
    // robots path gating, and Crawl-delay politeness (the evilbot
    // group's delay 99 must be ignored; the robots-less host falls to
    // the caller default). One row per discovered URL.
    Query("q_crawl_frontier", (s, dir) => {
      val docs = t(s, dir, "documents")
      val hosts = docs.select(lower(col("source")).as("src")).distinct()
        .select(concat(col("src"), lit(".example.com")).as("host"),
          col("src"))
      val robots = hosts.where(col("src") =!= "src4")
        .select(col("host"),
          lit("User-agent: evilbot\nDisallow: /\nCrawl-delay: 99\n\n" +
            "User-agent: *\nDisallow: /cat1/\nAllow: /cat1/page3\n" +
            "Crawl-delay: 2\n").as("txt"))
      val sitemap = hosts.select(col("host"), concat(
        lit("<?xml version=\"1.0\"?><urlset><url><loc>https://"),
        col("host"), lit("/cat0/page0</loc></url><url><loc> https://"),
        col("host"), lit("/cat1/page1 </loc></url><url><loc>https://"),
        col("host"), lit("/cat1/page3</loc></url><url><loc>https://"),
        col("host"), lit("/q?a=1&amp;b=2</loc></url></urlset>"))
        .as("xml"))
      val urls = graft.ops.Robots.sitemapUrls(sitemap, "host", "xml")
        .withColumn("path", regexp_replace(col("url"), "^https://[^/]+", ""))
      val rules = graft.ops.Robots.parseRobots(robots, "host", "txt")
      val delays = graft.ops.Robots.crawlDelays(robots, "host", "txt")
      graft.ops.Robots.filterAllowed(urls, rules, "host", "path", "url")
        .join(delays, Seq("host"), "left")
        .select(col("host"), col("path"), col("allowed"),
          coalesce(col("crawl_delay_s"), lit(1L)).as("crawl_delay_s"))
    },
      // the plant's expected frontier: 4 sitemap URLs per host (the
      // entity-escaped one unescapes to '&'), /cat1/page1 gated
      // everywhere robots exist, delay 2 from the * group (never the
      // evilbot 99), default 1 on the robots-less host
      """WITH h AS (SELECT DISTINCT lower(source) AS src FROM documents),
        |p AS (SELECT * FROM (VALUES
        |  ('/cat0/page0', true), ('/cat1/page1', false),
        |  ('/cat1/page3', true), ('/q?a=1&b=2', true))
        |  AS t(path, allowed_rule))
        |SELECT src || '.example.com' AS host, path,
        |  CASE WHEN src = 'src4' THEN true ELSE allowed_rule END AS allowed,
        |  CAST(CASE WHEN src = 'src4' THEN 1 ELSE 2 END AS BIGINT)
        |    AS crawl_delay_s
        |FROM h CROSS JOIN p""".stripMargin),

    // ---- LLM: politeness-scheduled fetch plan -------------------------
    // the frontier composition's last step: allowed URLs line up per
    // host (URL total order) and each gets a fetch offset of
    // slot * crawl_delay_s — policy turned into a schedule. One
    // host-keyed window over the admitted frontier
    Query("q_fetch_schedule", (s, dir) => {
      val frontier = SparkEntry.queries("q_crawl_frontier")(s, dir)
        .where(col("allowed"))
      frontier.withColumn("slot",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("host")).orderBy(col("path"))) - 1)
        .select(col("host"), col("path"),
          (col("slot") * col("crawl_delay_s")).as("fetch_offset_s"))
    },
      // replays the frontier verdicts, then the per-host slot arithmetic
      // on the same (host, path) total order
      """WITH h AS (SELECT DISTINCT lower(source) AS src FROM documents),
        |p AS (SELECT * FROM (VALUES
        |  ('/cat0/page0', true), ('/cat1/page1', false),
        |  ('/cat1/page3', true), ('/q?a=1&b=2', true))
        |  AS t(path, allowed_rule)),
        |f AS (
        |  SELECT src || '.example.com' AS host, path,
        |    CASE WHEN src = 'src4' THEN true ELSE allowed_rule END
        |      AS allowed,
        |    CAST(CASE WHEN src = 'src4' THEN 1 ELSE 2 END AS BIGINT)
        |      AS crawl_delay_s
        |  FROM h CROSS JOIN p)
        |SELECT host, path,
        |  (row_number() OVER (PARTITION BY host ORDER BY path) - 1)
        |    * crawl_delay_s AS fetch_offset_s
        |FROM f WHERE allowed""".stripMargin),

    // ---- LLM: site link graph from HTML -------------------------------
    // href extraction (regexp_extract_all) + target-keyed in-degree
    // aggregation over the same planted HTML shell as q_html_extract:
    // /next/0..9 each referenced by its doc_id%10 class, /rel by the
    // doc_id%3=0 class (ops/Html.linkGraph)
    Query("q_link_graph", (s, dir) =>
      graft.ops.Html.linkGraph(
        t(s, dir, "documents").select(col("doc_id"), plantedHtml.as("html")),
        "doc_id", "html"),
      // mirrors Html.linkGraph on the q_html_extract plant
      """WITH u AS (
        |  SELECT doc_id,
        |    '</p><a href="/next/' || (doc_id % 10) || '">next page</a>'
        |    || (CASE WHEN doc_id % 3 = 0
        |         THEN '<a href="/rel">related</a>' ELSE '' END) AS html
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, unnest(regexp_extract_all(html,
        |    '(?i)<a href="([^"]*)"', 1)) AS target
        |  FROM u)
        |SELECT target, count(*) AS n_refs,
        |  count(DISTINCT doc_id) AS n_docs
        |FROM l GROUP BY target""".stripMargin),

    // ---- LLM: HTML -> training-text extraction ------------------------
    // the crawl-to-corpus step (C4/CCNet): drop script/style whole, strip
    // tags, decode the high-volume entities, collapse whitespace — all
    // per-row codegen'd string expressions in the RE2-safe subset. The
    // fixture is plain text, so the query wraps each doc in a deterministic
    // HTML shell (title, tracker script, style block, anchors varying by
    // doc, entity-bearing footer) and the oracle replays the identical
    // chain on the identical plant (ops/Html.extract)
    Query("q_html_extract", (s, dir) =>
      graft.ops.Html.extract(
        t(s, dir, "documents").select(col("doc_id"), plantedHtml.as("html")),
        "doc_id", "html"),
      // mirrors Html.extract on the identical plant: same RE2-safe regex
      // chain ('g' flags — Spark replaces all matches by default), same
      // entity order (&amp; last), same whitespace collapse
      (HtmlReplayCtes +
        """SELECT doc_id,
          |  regexp_extract(html, '(?i)<title[^>]*>([^<]*)</title>', 1) AS title,
          |  CAST(len(regexp_extract_all(html, '(?i)<a href')) AS BIGINT)
          |    AS n_links,
          |  text_clean,
          |  CAST(length(text_clean) AS BIGINT) AS n_chars_clean
          |FROM s4""".stripMargin)),

    // ---- LLM: URL canonicalization (pre-content web dedup key) --------
    // The fixture has no URL column, so the query plants one per doc with
    // deliberate variance the canonicalizer must collapse: scheme/host
    // case flips and an explicit :443 by doc parity, per-doc utm/gclid
    // tracking params and fragments. Pure per-row regexp chain (RE2-safe
    // subset), no UDF — the oracle replays the identical chain in DuckDB
    // (ops/Urls.canonicalize)
    Query("q_url_canonical", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), plantedUrl.as("url"))
        .select(col("doc_id"), col("url"),
          graft.ops.Urls.canonicalize(col("url")).as("canonical_url")),
      // mirrors Urls.canonicalize: same plant, same RE2-safe regexp chain
      // (DuckDB regexp_replace needs the explicit 'g' flag where Spark's
      // replaces all matches by default; \1 vs $1 is replacement syntax,
      // same semantics)
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END)
        |    || upper(source) || '.Example.COM'
        |    || (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END)
        |    || '/cat' || (doc_id % 3) || '/page' || (doc_id % 5)
        |    || '/?utm_source=feed&utm_campaign=c' || (doc_id % 4)
        |    || '&id=' || (doc_id % 5) || '&gclid=g' || (doc_id % 2)
        |    || '#sec' || (doc_id % 6) AS url
        |  FROM documents),
        |s1 AS (SELECT doc_id, url,
        |  regexp_replace(url, '#.*$', '') AS nofrag FROM u),
        |s2 AS (SELECT doc_id, url,
        |  lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |    AS scheme,
        |  regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
        |  FROM s1),
        |s3 AS (SELECT doc_id, url, scheme,
        |  CASE WHEN scheme = 'http' THEN regexp_replace(
        |      lower(regexp_extract(rest, '^([^/?#]*)', 1)), ':80$', '')
        |    WHEN scheme = 'https' THEN regexp_replace(
        |      lower(regexp_extract(rest, '^([^/?#]*)', 1)), ':443$', '')
        |    ELSE lower(regexp_extract(rest, '^([^/?#]*)', 1)) END AS host,
        |  regexp_replace(rest, '^[^/?#]*', '') AS pathq0 FROM s2),
        |s4 AS (SELECT doc_id, url, scheme, host,
        |  regexp_replace(pathq0,
        |    '[?&](utm_[A-Za-z0-9_]+|gclid|fbclid)=[^&#]*', '', 'g') AS p1
        |  FROM s3),
        |s5 AS (SELECT doc_id, url, scheme, host,
        |  regexp_replace(regexp_replace(
        |    regexp_replace(p1, '^([^?&#]*)&', '\1?'),
        |    '[?&]+$', ''), '/$', '') AS pathq FROM s4)
        |SELECT doc_id, url, scheme || '://' || host || pathq AS canonical_url
        |FROM s5""".stripMargin),

    // ---- LLM: URL-level dedup (cheapest web dedup pass) ---------------
    // group by canonical form, keep-min id + duplicate count: the 500
    // planted URLs (x2 case/port/tracking variants by construction)
    // collapse to the (source, cat, page) key space
    // (ops/Urls.urlDedup)
    Query("q_url_dedup", (s, dir) =>
      graft.ops.Urls.urlDedup(
        t(s, dir, "documents").select(col("doc_id"), plantedUrl.as("url")),
        "url", "doc_id"),
      """WITH c AS (
        |  -- independent CLOSED FORM of the canonical key (no regex
        |  -- replay); the slash before '?' is the planted path's own
        |  SELECT doc_id,
        |    'https://' || lower(source) || '.example.com'
        |    || '/cat' || (doc_id % 3) || '/page' || (doc_id % 5)
        |    || '/?id=' || (doc_id % 5) AS canonical_url
        |  FROM documents)
        |SELECT canonical_url, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM c GROUP BY canonical_url""".stripMargin),

    // ---- LLM: cross-host mirror detection -----------------------------
    // every doc serves from its own source host; every doc_id%4==0 doc
    // ALSO serves from mirror.example.org — those (plus any natural
    // exact-text dups that happen to span hosts, replayed identically
    // by the oracle) are the mirrored set; payload never shuffles,
    // only 16-byte fingerprints (ops/Urls.mirrorReport)
    Query("q_mirror_report", (s, dir) => {
      val docs = t(s, dir, "documents")
      val own = docs.select(
        concat(lower(col("source")), lit(".example.com")).as("host"),
        col("text"))
      val mirrored = docs.where(col("doc_id") % 4 === 0)
        .select(lit("mirror.example.org").as("host"), col("text"))
      graft.ops.Urls.mirrorReport(own.unionByName(mirrored),
        "host", "text")
    },
      // replays the plant AND any natural cross-host exact-text dups:
      // distinct (host, md5) first, then the >=2-host groups
      """WITH pages AS (
        |  SELECT lower(source) || '.example.com' AS host, text
        |  FROM documents
        |  UNION ALL
        |  SELECT 'mirror.example.org' AS host, text
        |  FROM documents WHERE doc_id % 4 = 0),
        |fp AS (SELECT DISTINCT host, md5(text) AS content_fp FROM pages)
        |SELECT content_fp, CAST(count(*) AS BIGINT) AS n_hosts,
        |  string_agg(host, '|' ORDER BY host) AS hosts
        |FROM fp GROUP BY content_fp HAVING count(*) >= 2""".stripMargin),

    // ---- LLM: recrawl scheduling from observed change rates -----------
    // planted fetch history: 6 fetches per URL whose content version
    // advances every p = 1 + doc_id%4 fetches, so n_changes =
    // floor(5/p) in closed form — Spark counts TRANSITIONS through the
    // lag window over real fingerprints while the oracle never builds
    // one (ops/Urls.recrawlPriorities)
    Query("q_recrawl_priority", (s, dir) => {
      val docs = t(s, dir, "documents")
      val history = docs
        .select(col("doc_id").as("url_id"), col("text"),
          explode(sequence(lit(0), lit(5))).as("fetch_no"))
        .select(col("url_id"), col("fetch_no"),
          md5(concat(col("text"), lit(":v"),
            expr("fetch_no div (1 + url_id % 4)").cast("string"))
            .cast("binary")).as("content_fp"))
      graft.ops.Urls.recrawlPriorities(history,
        "url_id", "fetch_no", "content_fp")
    },
      // closed form of the plant: version advances every p fetches, so
      // over fetches 1..5 there are floor(5/p) transitions; the rate is
      // the same exact integer division both engines
      """SELECT doc_id AS url_id, CAST(6 AS BIGINT) AS n_fetches,
        |  CAST(5 // (1 + doc_id % 4) AS BIGINT) AS n_changes,
        |  (1000000 * (5 // (1 + doc_id % 4))) // 5 AS change_rate_micros
        |FROM documents""".stripMargin)
  )
}
