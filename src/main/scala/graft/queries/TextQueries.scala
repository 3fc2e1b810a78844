package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Frame, Raw}
import graft.engine.{Exprs => E}
import graft.ops.TextOps
import Fixtures._

/** Text cleaning, segmentation, training-objective transforms, policy
  * filters and corpus sampling. */
private[graft] object TextQueries {

  val queries: Seq[Query] = Seq(

    // ---- LLM: token counting ------------------------------------------
    Query("q_text_stats", (s, dir) =>
      TextOps.tokenCounts(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens_ws"), col("n_tokens_re")),
      """SELECT doc_id,
        |  (length(text) - length(replace(text, ' ', ''))) + 1 AS n_tokens_ws,
        |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_tokens_re
        |FROM documents""".stripMargin),

    // ---- LLM: overlapping token-window chunking -----------------------
    Query("q_chunk_docs", (s, dir) =>
      TextOps.chunkDocs(t(s, dir, "documents").where(col("doc_id") < 100),
          "doc_id", "text", chunkSize = 20, overlap = 5)
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("chunk_text"), col("n_tokens").cast("long").as("n_tokens")),
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |  FROM documents WHERE doc_id < 100),
        |c AS (
        |  SELECT doc_id, len(ws) AS n,
        |    unnest([{'cid': i,
        |             'txt': array_to_string(ws[i*15+1 : i*15+20], ' ')}
        |            for i in range(0, (greatest(len(ws) - 6, 0) // 15) + 1)]) AS u
        |  FROM w)
        |SELECT doc_id, u['cid'] AS chunk_id, u['txt'] AS chunk_text,
        |  CASE WHEN u['txt'] = '' THEN 0
        |       ELSE least(20, n - u['cid'] * 15) END AS n_tokens
        |FROM c""".stripMargin),

    // ---- LLM: sentence-aware chunking (the RAG chunker proper) --------
    // greedy-fill sentences into <=24-token chunks, never splitting a
    // sentence; planted multi-sentence docs exercise the boundary math
    // while the whole corpus rides along. The oracle replays sentence
    // split AND the greedy fold (struct-accumulator list_reduce with
    // the list_prepend seed trick) — TextOps.chunkBySentences
    Query("q_chunk_sentences", (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (1000001L, "S1 a b c. S2 d e f. S3 g h. S4 i."),
        (1000002L, "Tiny. Also tiny."),
        (1000003L, "One very long single sentence that cannot be split " +
          "even though it blows straight through the token budget " +
          "because sentence integrity outranks the cap. Short tail."))
        .toDF("doc_id", "text")
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).unionByName(planted)
      TextOps.chunkBySentences(docs, "doc_id", "text", maxTokens = 24)
    },
      // sentence split replay + the same greedy fold as a RECURSIVE CTE
      // over the sentence index (one assignment row per sentence — a
      // struct-with-list accumulator through list_reduce silently drops
      // the list in DuckDB 1.0, so the fold is unrolled relationally);
      // per-chunk assembly is a grouped string_agg in sentence order
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM (VALUES
        |    (CAST(1000001 AS BIGINT), 'S1 a b c. S2 d e f. S3 g h. S4 i.'),
        |    (1000002, 'Tiny. Also tiny.'),
        |    (1000003, 'One very long single sentence that cannot be split even though it blows straight through the token budget because sentence integrity outranks the cap. Short tail.'))
        |    AS t(doc_id, text)),
        |p AS (SELECT doc_id, regexp_replace(text,
        |  '(Mr|Mrs|Ms|Dr|Prof|St|vs|etc|e\.g|i\.e|No)\.',
        |  '\1' || chr(1), 'g') AS pt FROM d),
        |sp AS (SELECT doc_id, list_filter(list_transform(
        |    string_split_regex(pt, '[.!?]+(\s+|$)'),
        |    s -> trim(replace(s, chr(1), '.'))), s -> s <> '') AS sents
        |  FROM p),
        |tc AS (SELECT doc_id, sents, list_transform(sents,
        |    s -> CASE WHEN trim(s) = '' THEN 0
        |              ELSE len(string_split_regex(trim(s), '\s+')) END)
        |    AS counts
        |  FROM sp WHERE len(sents) > 0),
        |r AS (
        |  SELECT doc_id, 1 AS i, 0 AS idx, counts[1] AS used FROM tc
        |  UNION ALL
        |  SELECT r.doc_id, r.i + 1,
        |    CASE WHEN r.used + tc.counts[r.i + 1] > 24 AND r.used > 0
        |         THEN r.idx + 1 ELSE r.idx END,
        |    CASE WHEN r.used + tc.counts[r.i + 1] > 24 AND r.used > 0
        |         THEN tc.counts[r.i + 1]
        |         ELSE r.used + tc.counts[r.i + 1] END
        |  FROM r JOIN tc USING (doc_id) WHERE r.i < len(tc.counts))
        |SELECT r.doc_id, CAST(r.idx AS INT) AS chunk_id,
        |  CAST(count(*) AS INT) AS n_sentences,
        |  CAST(sum(tc.counts[r.i]) AS INT) AS n_tokens,
        |  string_agg(tc.sents[r.i], '|' ORDER BY r.i) AS chunk_joined
        |FROM r JOIN tc USING (doc_id)
        |GROUP BY r.doc_id, r.idx""".stripMargin),

    // ---- LLM: sentence segmentation (RAG/chunking pre-step) -----------
    // protect-split-restore (no lookbehind — RE2, the oracle's regex
    // subset, has none): abbreviation periods are shielded, the text
    // splits on terminator runs, placeholders restore. Planted cases
    // exercise abbreviations, terminator runs, and the no-terminator
    // doc; the whole corpus rides along (TextOps.sentences)
    Query("q_sentence_split", (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (1000001L, "Dr. Smith went home. Then he slept! Did he? Yes."),
        (1000002L, "One sentence with no terminator"),
        (1000003L, "e.g. this stays whole. But this is new."),
        (1000004L, "Multiple!!! Terminators?? One. Two."))
        .toDF("doc_id", "text")
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).unionByName(planted)
      val sents = TextOps.sentences(col("text"))
      docs.select(col("doc_id"), size(sents).as("n_sentences"),
        array_join(sents, "|").as("sentences_joined"))
    },
      // same protect-split-restore chain in RE2: group shield via \1 ||
      // chr(1), terminator-run split, placeholder restore, empty filter
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM (VALUES
        |    (CAST(1000001 AS BIGINT),
        |     'Dr. Smith went home. Then he slept! Did he? Yes.'),
        |    (1000002, 'One sentence with no terminator'),
        |    (1000003, 'e.g. this stays whole. But this is new.'),
        |    (1000004, 'Multiple!!! Terminators?? One. Two.'))
        |    AS t(doc_id, text)),
        |p AS (SELECT doc_id, regexp_replace(text,
        |  '(Mr|Mrs|Ms|Dr|Prof|St|vs|etc|e\.g|i\.e|No)\.',
        |  '\1' || chr(1), 'g') AS pt FROM d),
        |sp AS (SELECT doc_id, list_filter(list_transform(
        |    string_split_regex(pt, '[.!?]+(\s+|$)'),
        |    s -> trim(replace(s, chr(1), '.'))), s -> s <> '') AS sents
        |  FROM p)
        |SELECT doc_id, CAST(len(sents) AS INT) AS n_sentences,
        |  coalesce(array_to_string(sents, '|'), '') AS sentences_joined
        |FROM sp""".stripMargin),

    // ---- LLM: per-shard greedy sequence packing -----------------------
    Query("q_pack_sequences", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tokens", TextOps.nTokens(col("text")))
      TextOps.packSequences(docs, "doc_id", "n_tokens", "source",
          capacity = 512)
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"))
    },
      """WITH w AS (
        |  SELECT doc_id, source,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT source, doc_id, n_tokens,
        |    CAST(floor((sum(n_tokens) OVER (PARTITION BY source
        |        ORDER BY doc_id, n_tokens
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - n_tokens) / 512) AS BIGINT) AS pack_id
        |  FROM w)
        |SELECT source, pack_id, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM p GROUP BY source, pack_id""".stripMargin),

    // ---- LLM: quality scoring -----------------------------------------
    Query("q_quality", (s, dir) =>
      TextOps.qualitySignals(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("mean_word_len"),
          col("punct_ratio"), col("stopword_ratio"), col("quality_ok")),
      """WITH w AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |    string_split_regex(trim(text), '\s+') AS ws,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct
        |  FROM documents)
        |SELECT doc_id,
        |  len(ws) AS n_tokens,
        |  (n_chars - (len(ws) - 1)) * 1.0 / greatest(len(ws), 1) AS mean_word_len,
        |  punct * 1.0 / greatest(n_chars, 1) AS punct_ratio,
        |  len(list_intersect(list_distinct(ws), ['the','of','and','to','in','is','it','you','that','was','for','on','are','with','as','at','this','der','die','das','und','ist','ich','nicht','mit','ein','eine','zu','den','von','sie','auch','le','la','les','de','et','un','une','est','pour','que','dans','qui','pas','sur','avec','el','los','las','y','una','es','por','en','no','se','del','con','的','是','不','了','在','人','有','我','他','这'])) * 1.0
        |    / greatest(len(list_distinct(ws)), 1) AS stopword_ratio,
        |  len(ws) >= 5 AND len(ws) <= 100000
        |    AND (n_chars - (len(ws) - 1)) * 1.0 / greatest(len(ws), 1) >= 2
        |    AND (n_chars - (len(ws) - 1)) * 1.0 / greatest(len(ws), 1) <= 20 AS quality_ok
        |FROM w""".stripMargin),

    // ---- LLM: intra-doc repetition (duplicate 3-gram fraction) --------
    Query("q_repetition", (s, dir) =>
      TextOps.repetitionSignals(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_grams").cast("long").as("n_grams"),
          round(col("dup_gram_frac"), 6).as("dup_gram_frac")),
      // 3-gram construction mirrors TextOps.wordShingles (see q_decontam)
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ws) - 2 <= 0 THEN [array_to_string(ws, ' ')]
        |         ELSE [array_to_string(ws[i:i+2], ' ')
        |               FOR i IN generate_series(1, len(ws) - 2)] END AS grams
        |  FROM tok)
        |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        |  round((len(grams) - len(list_distinct(grams))) * 1.0
        |    / greatest(len(grams), 1), 6) AS dup_gram_frac
        |FROM g""".stripMargin),

    // ---- LLM: language ID (stopword-overlap heuristic) ----------------
    Query("q_lang_id", (s, dir) =>
      TextOps.langId(t(s, dir, "documents"))
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("n")),
      // lang-ID argmax mirrored via fixed-width score-string encoding:
      // greatest() over printf('%014.9f', score) || lang reproduces Spark's
      // struct(score, lang) max ordering including the tie-break on lang.
      """WITH w AS (
        |  SELECT doc_id,
        |    list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS dw
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, greatest(
        |    printf('%014.9f', len(list_intersect(dw, ['the','of','and','to','in','is','it','you','that','was','for','on','are','with','as','at','this'])) * 1.0 / greatest(len(dw),1)) || 'en',
        |    printf('%014.9f', len(list_intersect(dw, ['der','die','das','und','ist','ich','nicht','mit','ein','eine','zu','den','von','sie','auch'])) * 1.0 / greatest(len(dw),1)) || 'de',
        |    printf('%014.9f', len(list_intersect(dw, ['le','la','les','de','et','un','une','est','pour','que','dans','qui','pas','sur','avec'])) * 1.0 / greatest(len(dw),1)) || 'fr',
        |    printf('%014.9f', len(list_intersect(dw, ['el','los','las','de','y','un','una','es','por','que','en','no','se','del','con'])) * 1.0 / greatest(len(dw),1)) || 'es',
        |    printf('%014.9f', len(list_intersect(dw, ['的','是','不','了','在','人','有','我','他','这'])) * 1.0 / greatest(len(dw),1)) || 'zh') AS key
        |  FROM w)
        |SELECT substr(key, 15) AS lang_pred, count(*) AS n
        |FROM s GROUP BY 1""".stripMargin),

    // ---- LLM: Luhn-validated card detection --------------------------
    // a 16-digit run planted per doc (validity falls out of the digits,
    // neither engine knows it a priori — both run the same checksum);
    // candidates gate on run length 13-19 with no lookarounds, so the
    // RE2-based oracle regexp agrees with Spark's
    Query("q_pii_luhn", (s, dir) =>
      TextOps.detectCards(t(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"), lit(" card "),
          lpad((col("doc_id") * 7919 % 10000000000L).cast("string"),
            16, "4")).as("text"))),
      // the Luhn fold restated as a DuckDB list comprehension over the
      // reversed digit string — same per-position doubling, same mod-10
      """WITH d AS (
        |  SELECT doc_id, text || ' card ' ||
        |    lpad(CAST(doc_id * 7919 % 10000000000 AS VARCHAR), 16, '4')
        |    AS text
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    list_filter(regexp_extract_all(text, '\d+'),
        |      x -> length(x) BETWEEN 13 AND 19) AS cands
        |  FROM d),
        |v AS (
        |  SELECT doc_id, cands,
        |    list_filter(cands, cc -> list_sum(
        |      [CASE WHEN i % 2 = 0 THEN
        |         CASE WHEN (ascii(reverse(cc)[i]) - 48) * 2 > 9
        |              THEN (ascii(reverse(cc)[i]) - 48) * 2 - 9
        |              ELSE (ascii(reverse(cc)[i]) - 48) * 2 END
        |       ELSE ascii(reverse(cc)[i]) - 48 END
        |       FOR i IN generate_series(1, length(cc))]) % 10 = 0) AS valid
        |  FROM c)
        |SELECT doc_id, CAST(len(cands) AS BIGINT) AS n_candidates,
        |  CAST(len(valid) AS BIGINT) AS n_luhn_valid,
        |  coalesce(array_to_string(valid, ','), '') AS valid_numbers
        |FROM v""".stripMargin),

    // ---- LLM: PII redaction (emails / IPv4 / digit runs) --------------
    // The fixture text is synthetic and PII-free, so the query first
    // plants deterministic PII per doc (email + ip + account number
    // derived from doc_id — reproducible in SQL on both engines), then
    // redacts: the oracle checks real substitutions, not a no-op.
    Query("q_pii_redact", (s, dir) => {
      val withPii = t(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"), concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com from 10.0.0."),
          col("doc_id") % 256, lit(" id 1234567890")).as("text"))
      TextOps.redactPii(withPii) // counts cast long: DuckDB len() is BIGINT
        .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
          col("n_ipv4").cast("long").as("n_ipv4"),
          col("n_digit_runs").cast("long").as("n_digit_runs"),
          col("text_redacted"))
    },
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com from 10.0.0.'
        |      || (doc_id % 256) || ' id 1234567890' AS text
        |  FROM documents WHERE doc_id < 200)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ipv4,
        |  len(regexp_extract_all(text, '\b[0-9]{9,}\b')) AS n_digit_runs,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\b[0-9]{9,}\b', '<NUM>', 'g') AS text_redacted
        |FROM d""".stripMargin),

    // ---- LLM: Unicode normalization + canonical cleaning --------------
    // planted NFD sequences (combining marks) exercise the non-ASCII
    // path of the codegen'd unicode_normalize; the corpus rows take the
    // ASCII identity fast path
    Query("q_normalize", (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (100001L, "cafe\u0301  du   monde"),
        (100002L, "A\u030Angstro\u0308m UNITS"),
        (100003L, "  already clean  ")).toDF("doc_id", "text")
      t(s, dir, "documents").where(col("doc_id") < 50)
        .select(col("doc_id"), col("text")).unionByName(planted)
        .select(col("doc_id"), TextOps.normalizeText(col("text"))
          .as("text_norm"))
    },
      // chr(769)=U+0301 combining acute, chr(778)=U+030A ring,
      // chr(776)=U+0308 diaeresis — the same decomposed sequences the
      // Spark side plants; nfc_normalize is DuckDB's NFC
      """WITH d AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 50
        |  UNION ALL SELECT 100001, 'cafe' || chr(769) || '  du   monde'
        |  UNION ALL SELECT 100002,
        |    'A' || chr(778) || 'ngstro' || chr(776) || 'm UNITS'
        |  UNION ALL SELECT 100003, '  already clean  ')
        |SELECT doc_id,
        |  lower(trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g')))
        |    AS text_norm
        |FROM d""".stripMargin),

    // ---- LLM: encoding-damage repair (UTF-8-as-Latin-1 mojibake) ------
    // the classic web-corpus cleaning pass: re-encode/decode reverses
    // the damage exactly, guarded so it only fires when provably right
    // (Latin-1 range + marker + valid-UTF-8 roundtrip that shortens).
    // Planted cases cover repair, pass-through, invalid-marker, and
    // out-of-range texts; the oracle lists the expected outputs from
    // the construction (TextOps.fixMojibake)
    Query("q_mojibake", (s, dir) => {
      import s.implicits._
      val cases = Seq(
        (1L, "caf\u00c3\u00a9 corner"),            // cafAY -> cafe
        (2L, "plain ascii text"),                   // untouched
        (3L, "a\u00e2\u0080\u0099s quote"),        // a's curly quote
        (4L, "x \u00c3"),                           // invalid UTF-8: untouched
        (5L, "\u65e5\u672c \u00c3\u00a9"))         // CJK present: untouched
        .toDF("case_id", "text")
      cases.select(col("case_id"),
        TextOps.fixMojibake(col("text")).as("fixed"))
    },
      // expected outputs from the plant's construction: chr() codepoints
      // keep the oracle ASCII-clean
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'caf' || chr(233) || ' corner'),
        |  (2, 'plain ascii text'),
        |  (3, 'a' || chr(8217) || 's quote'),
        |  (4, 'x ' || chr(195)),
        |  (5, chr(26085) || chr(26412) || ' ' || chr(195) || chr(169))
        |) AS t(case_id, fixed)""".stripMargin),

    // ---- LLM: FIM transform (fill-in-the-middle, PSM order) -----------
    // the code-model preprocessing: deterministic cut points from two
    // md5 draws, <PRE> prefix <SUF> suffix <MID> middle serialization;
    // docs under 3 tokens pass through (TextOps.fimTransform)
    Query("q_fim_transform", (s, dir) =>
      TextOps.fimTransform(t(s, dir, "documents")),
      // same two draws, order-normalized; inclusive list slices with the
      // empty-slice coalesce (DuckDB NULL-on-empty join seam)
      """WITH tk AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS tk
        |  FROM documents),
        |x AS (SELECT doc_id, tk, len(tk) AS n,
        |  CAST((('0x' || substring(md5(doc_id || ':fim1'), 1, 8))::BIGINT
        |    % (len(tk) + 1)) AS INT) AS a,
        |  CAST((('0x' || substring(md5(doc_id || ':fim2'), 1, 8))::BIGINT
        |    % (len(tk) + 1)) AS INT) AS b
        |  FROM tk),
        |y AS (SELECT doc_id, tk, n,
        |    least(a, b) AS c1, greatest(a, b) AS c2 FROM x)
        |SELECT doc_id, CAST(n AS INT) AS n_tokens,
        |  n >= 3 AS fim_applied,
        |  CASE WHEN n < 3 THEN coalesce(array_to_string(tk, ' '), '')
        |  ELSE concat_ws(' ', '<PRE>',
        |    coalesce(array_to_string(tk[1:c1], ' '), ''),
        |    '<SUF>', coalesce(array_to_string(tk[c2+1:n], ' '), ''),
        |    '<MID>', coalesce(array_to_string(tk[c1+1:c2], ' '), ''))
        |  END AS fim_joined
        |FROM y""".stripMargin),

    // ---- LLM: BERT-style MLM masking (80/10/10) -----------------------
    // the masked-LM sibling of q_span_corrupt: select 15% of positions,
    // 80% -> [MASK], 10% -> random top-1000 vocab token, 10% unchanged;
    // labels carry the originals. Three independent md5 draws keyed on
    // (doc, position, role) make every choice replayable
    Query("q_mlm_mask", (s, dir) =>
      TextOps.mlmMask(t(s, dir, "documents"), "doc_id", "text",
        selectPermille = 150, vocabSize = 1000),
      // vocabulary replay (top-1000 by (tf desc, token), then lexsorted
      // array) + the same three per-position draws
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |top AS (SELECT token FROM (
        |    SELECT token, count(*) AS tf FROM tok GROUP BY token)
        |  ORDER BY tf DESC, token LIMIT 1000),
        |va AS (SELECT list_sort(list(token)) AS va FROM top),
        |tk AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(lower(text)), '\s+') END AS tk
        |  FROM documents),
        |x AS (SELECT doc_id, tk, len(tk) AS n, va FROM tk CROSS JOIN va),
        |y AS (SELECT doc_id, tk, n, va,
        |  [ (('0x' || substring(md5(doc_id || ':' || CAST(i - 1 AS VARCHAR)
        |      || ':m'), 1, 8))::BIGINT % 1000) < 150
        |    FOR i IN generate_series(1, n) ] AS sel
        |  FROM x)
        |SELECT doc_id, CAST(n AS INT) AS n_tokens,
        |  CAST(len(list_filter(sel, v -> v)) AS INT) AS n_selected,
        |  coalesce(array_to_string(
        |    [ CASE WHEN NOT sel[i] THEN tk[i]
        |        WHEN (('0x' || substring(md5(doc_id || ':'
        |            || CAST(i - 1 AS VARCHAR) || ':r'), 1, 8))::BIGINT % 10)
        |          <= 7 THEN '[MASK]'
        |        WHEN (('0x' || substring(md5(doc_id || ':'
        |            || CAST(i - 1 AS VARCHAR) || ':r'), 1, 8))::BIGINT % 10)
        |          = 8 THEN va[CAST((('0x' || substring(md5(doc_id || ':'
        |            || CAST(i - 1 AS VARCHAR) || ':v'), 1, 8))::BIGINT
        |            % len(va)) AS INT) + 1]
        |        ELSE tk[i] END
        |      FOR i IN generate_series(1, n) ], ' '), '') AS masked_joined,
        |  coalesce(array_to_string(
        |    [ tk[i] FOR i IN generate_series(1, n) IF sel[i] ], ' '), '')
        |    AS labels_joined
        |FROM y""".stripMargin),

    // ---- LLM: T5-style span corruption (denoising preprocessing) ------
    // deterministic position masking (md5 draw per (doc, position)),
    // adjacent masks merge to spans, exact T5 serialization:
    // input replaces spans with <extra_id_K>, target lists each
    // sentinel plus its hidden tokens (TextOps.spanCorrupt); the
    // oracle replays the definition with order-free prefix counts
    Query("q_span_corrupt", (s, dir) =>
      TextOps.spanCorrupt(t(s, dir, "documents"),
        "doc_id", "text", maskPermille = 150),
      // same masking definition, span ids via prefix run-start counts
      // (order-free — no fold needed relationally)
      """WITH tk AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS tk
        |  FROM documents),
        |m AS (SELECT doc_id, tk, len(tk) AS n,
        |  [ (('0x' || substring(md5(doc_id || ':' || CAST(i - 1 AS VARCHAR)),
        |      1, 8))::BIGINT % 1000) < 150
        |    FOR i IN generate_series(1, len(tk)) ] AS mk
        |  FROM tk),
        |ids AS (SELECT doc_id, tk, n, mk,
        |  [ CASE WHEN mk[i]
        |      THEN len(list_filter(generate_series(1, i),
        |             j -> mk[j] AND (j = 1 OR NOT mk[j - 1]))) - 1
        |      ELSE -1 END
        |    FOR i IN generate_series(1, n) ] AS ids
        |  FROM m),
        |fin AS (SELECT doc_id, tk, n, ids,
        |    coalesce(list_max(ids) + 1, 0) AS ns FROM ids)
        |SELECT doc_id, CAST(n AS INT) AS n_tokens,
        |  CAST(len(list_filter(ids, c -> c >= 0)) AS INT) AS n_masked,
        |  CAST(greatest(ns, 0) AS INT) AS n_spans,
        |  coalesce(array_to_string(list_filter(
        |    [ CASE WHEN ids[i] >= 0 AND (i = 1 OR ids[i - 1] <> ids[i])
        |        THEN '<extra_id_' || ids[i] || '>'
        |        WHEN ids[i] < 0 THEN tk[i] END
        |      FOR i IN generate_series(1, n) ], s -> s IS NOT NULL), ' '),
        |    '') AS input_joined,
        |  CASE WHEN ns <= 0 THEN '' ELSE array_to_string(
        |    [ '<extra_id_' || k || '> ' || array_to_string(
        |        [ tk[i] FOR i IN generate_series(1, n) IF ids[i] = k ], ' ')
        |      FOR k IN generate_series(0, ns - 1) ], ' ') END
        |    AS target_joined
        |FROM fin""".stripMargin),

    // ---- LLM: NSP pair construction (BERT preprocessing, with MLM) ----
    // positives = adjacent in-doc sentence pairs (per-row, no join);
    // negatives = last sentence vs the id+1 doc's first sentence — a
    // deterministic KEYED cross-document pick (a "random doc" would
    // need a single-partition global index or RNG state; refused).
    // Planted multi-sentence docs guarantee positives exist
    Query("q_nsp_pairs", (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (1000001L, "First things first. Then the middle part. Finally the end."),
        (1000002L, "Lead sentence here. Trailing sentence there."))
        .toDF("doc_id", "text")
      TextOps.nspPairs(t(s, dir, "documents")
        .select(col("doc_id"), col("text")).unionByName(planted))
    },
      // sentence replay + the same adjacent/neighbor constructions
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM (VALUES
        |    (CAST(1000001 AS BIGINT),
        |     'First things first. Then the middle part. Finally the end.'),
        |    (1000002, 'Lead sentence here. Trailing sentence there.'))
        |    AS t(doc_id, text)),
        |p AS (SELECT doc_id, regexp_replace(text,
        |  '(Mr|Mrs|Ms|Dr|Prof|St|vs|etc|e\.g|i\.e|No)\.',
        |  '\1' || chr(1), 'g') AS pt FROM d),
        |sp AS (SELECT doc_id, list_filter(list_transform(
        |    string_split_regex(pt, '[.!?]+(\s+|$)'),
        |    s -> trim(replace(s, chr(1), '.'))), s -> s <> '') AS sents
        |  FROM p),
        |nz AS (SELECT doc_id, sents FROM sp WHERE len(sents) > 0),
        |pos AS (SELECT doc_id, unnest(
        |    [{'pid': i - 1, 'a': sents[i], 'b': sents[i + 1]}
        |     FOR i IN generate_series(1, len(sents) - 1)]) AS u
        |  FROM nz WHERE len(sents) >= 2)
        |SELECT doc_id, CAST(u.pid AS INT) AS pair_id, u.a AS sent_a,
        |  u.b AS sent_b, true AS is_next FROM pos
        |UNION ALL
        |SELECT a.doc_id, CAST(-1 AS INT), a.sents[len(a.sents)],
        |  b.sents[1], false
        |FROM nz a JOIN nz b ON b.doc_id = a.doc_id + 1""".stripMargin),

    // ---- LLM: blocklist policy filter ---------------------------------
    // banned-phrase annotation: the term table broadcasts as one sorted
    // array and matching is a per-row codegen'd array filter — no
    // shuffle, linear in corpus size
    Query("q_blocklist", (s, dir) => {
      import s.implicits._
      val terms = Seq("slow scan", "big table", "hash merge",
        "stream batch", "forbidden phrase").toDF("term")
      TextOps.blocklist(t(s, dir, "documents"), terms)
    },
      // mirrors TextOps.wordShingles exactly: docs of <= n-1 words
      // contribute their whole text as one shingle; DuckDB's 1-based
      // INCLUSIVE slice ws[i:i+7] is Spark's slice(ws, i, 8)
      // left join on containment, '|'-joined sorted matches as the
      // sortable scalar
      """WITH terms(term) AS (VALUES ('slow scan'), ('big table'),
        |  ('hash merge'), ('stream batch'), ('forbidden phrase'))
        |SELECT d.doc_id,
        |  coalesce(string_agg(t.term, '|' ORDER BY t.term), '')
        |    AS matched_terms,
        |  CAST(count(t.term) AS INT) AS n_matched,
        |  count(t.term) > 0 AS blocked
        |FROM documents d LEFT JOIN terms t
        |  ON contains(lower(d.text), t.term)
        |GROUP BY d.doc_id""".stripMargin),

    // the same policy filter through the Aho-Corasick automaton — the
    // documented scale path when the blocklist outgrows the per-term
    // contains scan; same output columns, same oracle, one text pass
    // per document regardless of term count
    Query("q_blocklist_ac", (s, dir) => {
      import s.implicits._
      val terms = Seq("slow scan", "big table", "hash merge",
        "stream batch", "forbidden phrase").toDF("term")
      TextOps.blocklistAC(t(s, dir, "documents"), terms)
    },
      // identical semantics, automaton-matched on the Spark side
      """WITH terms(term) AS (VALUES ('slow scan'), ('big table'),
        |  ('hash merge'), ('stream batch'), ('forbidden phrase'))
        |SELECT d.doc_id,
        |  coalesce(string_agg(t.term, '|' ORDER BY t.term), '')
        |    AS matched_terms,
        |  CAST(count(t.term) AS INT) AS n_matched,
        |  count(t.term) > 0 AS blocked
        |FROM documents d LEFT JOIN terms t
        |  ON contains(lower(d.text), t.term)
        |GROUP BY d.doc_id""".stripMargin),

    // ---- LLM: weighted sampling (Efraimidis–Spirakis priorities) ------
    // longer documents win proportionally more often; the md5-derived
    // uniform, the priority formula and the 9-dp rounding are mirrored
    // in SQL, and the id tie-break makes the top-k a total order
    Query("q_weighted_sample", (s, dir) =>
      graft.ops.Sampling.weightedSample(t(s, dir, "documents"),
          "text", "doc_id", length(col("text")), k = 50)
        .select(col("doc_id"), col("priority")),
      """WITH p AS (
        |  SELECT doc_id,
        |    round(pow((CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT)
        |        + 1.0) / 4294967297.0,
        |      1.0 / length(text)), 9) AS priority
        |  FROM documents)
        |SELECT doc_id, priority FROM p
        |ORDER BY priority DESC, doc_id LIMIT 50""".stripMargin),

    // ---- LLM: per-source weighted sampling (stratified selection) -----
    Query("q_weighted_by_source", (s, dir) =>
      graft.ops.Sampling.weightedSampleByGroup(t(s, dir, "documents"),
          "text", "doc_id", "source", length(col("text")), k = 10)
        .select(col("source"), col("doc_id"), col("priority")),
      """WITH p AS (
        |  SELECT source, doc_id,
        |    round(pow((CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT)
        |        + 1.0) / 4294967297.0,
        |      1.0 / length(text)), 9) AS priority
        |  FROM documents),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY priority DESC, doc_id) AS pick
        |  FROM p)
        |SELECT source, doc_id, priority FROM r WHERE pick <= 10""".stripMargin),

    // ---- LLM: stable content-keyed train/test split -------------------
    Query("q_stable_split", (s, dir) =>
      graft.ops.Sampling.stableSplit(t(s, dir, "documents"), "text", 80)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars")),
      """WITH b AS (
        |  SELECT n_chars,
        |    CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 100 AS bkt
        |  FROM documents)
        |SELECT CASE WHEN bkt < 80 THEN 'train' ELSE 'test' END AS split,
        |  count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM b GROUP BY 1""".stripMargin),

    // ---- LLM: stratified sampling (per-source mixing weights) ---------
    Query("q_stratified", (s, dir) =>
      graft.ops.Sampling.stratifiedSample(t(s, dir, "documents"),
          "source", "text",
          Map("src0" -> 0, "src1" -> 25, "src2" -> 50), defaultPct = 100)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars")),
      """WITH b AS (
        |  SELECT source, n_chars,
        |    CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 100 AS bkt,
        |    CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 25
        |                WHEN 'src2' THEN 50 ELSE 100 END AS pct
        |  FROM documents)
        |SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM b WHERE bkt < pct GROUP BY source""".stripMargin),

    // ---- LLM: per-source quantile curation (keep each source's top
    // half by length) — percent_rank over a tie-free order, the
    // distribution-aware cut that absolute thresholds can't express
    Query("q_quality_quantile", (s, dir) =>
      Frame(t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars")))
        .window(Seq(E.col("source")),
          Seq((E.col("n_chars"), true), (E.col("doc_id"), true)),
          Seq(("percent_rank", E.lit(1), "pr")))
        .filter(Raw(col("pr") >= 0.5, "top half"))
        .project(E.col("doc_id"), E.col("source"), E.col("n_chars")).df,
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    percent_rank() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS pr
        |  FROM documents) WHERE pr >= 0.5""".stripMargin),

    // ---- LLM: source-weighted mixture to a token budget ---------------
    // 40k-char budget at 50/25/12.5/12.5 over four sources: src0 upsamples
    // to ~2.5 epochs, src2/src3 downsample to ~0.65, the rest drop out
    Query("q_mixture", (s, dir) =>
      Frame(t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars")))
        .mixtureToBudget("source", "doc_id", "n_chars",
          Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.125,
            "src3" -> 0.125),
          budgetTokens = 40000L).df,
      // weights sum to exactly 1.0 in double, so the engine's w/Σw and this
      // literal wt agree bit-for-bit; per-row double math is cross-engine
      // exact (see the dsum note)
      """WITH w(source, wt) AS (VALUES
        |  ('src0', 0.5), ('src1', 0.25), ('src2', 0.125), ('src3', 0.125)),
        |tot AS (SELECT source, sum(n_chars) AS t FROM documents
        |        GROUP BY source),
        |f AS (SELECT tot.source,
        |        CAST(40000 AS DOUBLE) * CAST(wt AS DOUBLE)
        |          / CAST(t AS DOUBLE) AS f
        |      FROM tot JOIN w USING (source))
        |SELECT doc_id, source, n_chars, n_copies FROM (
        |  SELECT d.doc_id, d.source, d.n_chars,
        |    CAST(floor(f) + CASE WHEN
        |      CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)
        |        || ':mix'), 1, 8) AS BIGINT) % 10000
        |        < (f - floor(f)) * 10000 THEN 1 ELSE 0 END AS BIGINT)
        |      AS n_copies
        |  FROM documents d JOIN f USING (source))
        |WHERE n_copies > 0""".stripMargin),

    // ---- LLM: preference-pair bootstrap (DPO data from heuristics) ----
    // within each source, pair the i-th most stopword-fluent doc with
    // the i-th least (exact integer score: 1e6 * |stopwords ∩ distinct
    // words| div |distinct words|), halves never overlapping, zero-gap
    // pairs dropped (Sampling.preferencePairs)
    Query("q_preference_pairs", (s, dir) => {
      val allStop = lit(TextOps.stopwords.values.flatten.toArray.distinct)
      val dw = array_distinct(TextOps.words(col("text")))
      val score = expr("1000000 * nInter div nDw")
      val scored = t(s, dir, "documents")
        .withColumn("nInter", size(array_intersect(dw, allStop)).cast("long"))
        .withColumn("nDw", greatest(size(dw), lit(1)).cast("long"))
        .select(col("source"), col("doc_id"), score.as("score_micros"))
      graft.ops.Sampling.preferencePairs(scored, "source", "doc_id",
        "score_micros", k = 3)
    },
      // same integer score and windows; halves capped at n div 2, equal
      // scores dropped
      """WITH w AS (
        |  SELECT doc_id, source,
        |    list_distinct(string_split_regex(trim(text), '\s+')) AS dw
        |  FROM documents),
        |s AS (SELECT doc_id, source,
        |  1000000 * CAST(len(list_intersect(dw, ['the','of','and','to','in','is','it','you','that','was','for','on','are','with','as','at','this','der','die','das','und','ist','ich','nicht','mit','ein','eine','zu','den','von','sie','auch','le','la','les','de','et','un','une','est','pour','que','dans','qui','pas','sur','avec','el','los','las','y','una','es','por','en','no','se','del','con','的','是','不','了','在','人','有','我','他','这'])) AS BIGINT)
        |    // CAST(greatest(len(dw), 1) AS BIGINT) AS score_micros
        |  FROM w),
        |r AS (SELECT *,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY score_micros DESC, doc_id) AS rb,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY score_micros ASC, doc_id DESC) AS rw,
        |  count(*) OVER (PARTITION BY source) // 2 AS half
        |  FROM s)
        |SELECT b.source, CAST(b.rb AS INT) AS pair_rank,
        |  b.doc_id AS chosen_id, b.score_micros AS chosen_score,
        |  q.doc_id AS rejected_id, q.score_micros AS rejected_score
        |FROM (SELECT * FROM r WHERE rb <= 3 AND rb <= half) b
        |JOIN (SELECT * FROM r WHERE rw <= 3 AND rw <= half) q
        |  ON b.source = q.source AND b.rb = q.rw
        |WHERE b.score_micros > q.score_micros""".stripMargin),

    // ---- LLM: temperature-based language rebalancing ------------------
    // the XLM-R multilingual sampling rule: keep language l with
    // p ∝ c_l^0.5 / c_l toward a 50% overall target, flattening the en-
    // heavy fixture (en 218 of 500) so low-resource langs keep share.
    // alpha fixed at the exactly-reproducible sqrt point; W folded in
    // sorted-group order; md5-bucket keep — the oracle recomputes the
    // identical probabilities and selection (ops/Sampling.temperatureSample)
    Query("q_temperature_sample", (s, dir) =>
      graft.ops.Sampling.temperatureSample(t(s, dir, "documents"),
        "lang", "doc_id", alphaHalves = 1, targetNum = 1, targetDen = 2)
        .select(col("doc_id"), col("lang")),
      // mirrors Sampling.temperatureSample: same sorted-order W fold
      // (list_reduce = left-assoc IEEE adds), same probability arithmetic
      // sequence, same md5 bucket selection
      """WITH c AS (
        |  SELECT lang AS g, CAST(count(*) AS BIGINT) AS c
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
        |bigw AS (
        |  SELECT list_reduce(
        |    list_prepend(CAST(0.0 AS DOUBLE),
        |      list(sqrt(CAST(c AS DOUBLE)) ORDER BY g)),
        |    (acc, x) -> acc + x) AS w FROM c),
        |p AS (
        |  SELECT g, least(CAST(1.0 AS DOUBLE),
        |    CAST((SELECT n * 1 // 2 FROM tot) AS DOUBLE)
        |      * sqrt(CAST(c AS DOUBLE)) / (SELECT w FROM bigw)
        |      / CAST(c AS DOUBLE)) AS p
        |  FROM c)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN p ON d.lang = p.g
        |WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)
        |    || ':temp'), 1, 8) AS BIGINT) % 10000 < p.p * 10000""".stripMargin),

    // ---- extension: deterministic training-order shuffle --------------
    // every document gets a reproducible epoch position from md5(id, seed)
    // — same permutation on any engine, any retry (ops/Sampling
    // .shuffleDeterministic); the oracle recomputes it as a row_number
    // over the same md5 ordering
    Query("q_corpus_shuffle", (s, dir) =>
      graft.ops.Sampling.shuffleDeterministic(
          t(s, dir, "documents").select(col("doc_id")), "doc_id", seed = 42L)
        .select(col("doc_id"), col("shuffle_pos")),
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY md5(doc_id::VARCHAR || ':42'), doc_id) - 1
        |    AS shuffle_pos
        |FROM documents""".stripMargin),

    // ---- LLM: corpus data card (per-source release manifest) ----------
    // the summary table a corpus release ships with: per source, doc and
    // token counts, char volume, dominant language (deterministic
    // (count, lang) argmax), and corpus share in exact micros — one
    // grouped aggregation plus a 1-row totals attach
    Query("q_data_card", (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("__nt", TextOps.nTokens(col("text")))
      val per = d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__nt")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"))
      val perLang = d.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("c"))
      val topLang = perLang
        .withColumn("__rn", row_number().over(Window
          .partitionBy(col("source"))
          .orderBy(col("c").desc, col("lang"))))
        .where(col("__rn") === 1)
        .select(col("source"), col("lang").as("top_lang"))
      per.join(topLang, Seq("source"))
        .crossJoin(broadcast(d.agg(count(lit(1)).as("__tot"))))
        .withColumn("share_micros", expr("(1000000L * n_docs) div __tot"))
        .drop("__tot")
    },
      // mirrors q_data_card: nTokens' empty-doc-is-zero convention, the
      // (count desc, lang) dominant-language total order, micros share
      """WITH d AS (
        |  SELECT source, lang, n_chars,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS n_tokens
        |  FROM documents),
        |per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars
        |  FROM d GROUP BY 1),
        |pl AS (SELECT source, lang, count(*) AS c FROM d GROUP BY 1, 2),
        |tl AS (
        |  SELECT source, lang AS top_lang FROM (
        |    SELECT source, lang, row_number() OVER (PARTITION BY source
        |      ORDER BY c DESC, lang) AS rn FROM pl)
        |  WHERE rn = 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM d)
        |SELECT per.source, per.n_docs, per.n_tokens, per.n_chars,
        |  tl.top_lang, (1000000 * per.n_docs) // tot.t AS share_micros
        |FROM per JOIN tl USING (source) CROSS JOIN tot""".stripMargin),

    // ---- LLM: ingestion rate limiting (max N docs per source-hour) ----
    // deterministic throttle: within each (source, hour) cell keep the
    // first N docs by (doc_id) total order — the crawler backpressure
    // rule stated as a window, reproducible on any engine. Fixture docs
    // have no timestamps, so the hour derives from doc_id (stated in
    // the oracle identically); caps bind naturally at sf0.01
    Query("q_rate_limit", (s, dir) =>
      t(s, dir, "documents")
        .withColumn("hour", (col("doc_id") % 7).cast("long"))
        .withColumn("__rn", row_number().over(Window
          .partitionBy(col("source"), col("hour"))
          .orderBy(col("doc_id"))))
        .where(col("__rn") <= 2)
        .select(col("source"), col("hour"), col("doc_id")),
      // mirrors q_rate_limit's window cap on the same derived hour
      """SELECT source, hour, doc_id FROM (
        |  SELECT source, doc_id % 7 AS hour, doc_id,
        |    row_number() OVER (PARTITION BY source, doc_id % 7
        |      ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 2""".stripMargin)
  )
}
