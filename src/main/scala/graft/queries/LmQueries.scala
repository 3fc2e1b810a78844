package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.TextOps
import Fixtures._

/** Vocabulary statistics, tokenizers, language models and model-based
  * quality scores. */
private[graft] object LmQueries {

  /** Planted unigram piece vocabulary for q_unigram_encode, shared
    * verbatim between the Spark encode and the DuckDB Viterbi replay:
    * every character the corpus + planted docs use EXCEPT z/x (those
    * exercise `<unk>`), plus multi-char pieces engineering a whole-word
    * win ('scan' beats [sc,an]), and an exact tie on 'abcd'
    * ([ab,cd] = [abc,d] = −16M with equal token counts — the
    * lexicographic tie-break must pick [ab,cd] on BOTH engines). */
  private val unigramVocab: Seq[(String, Long)] =
    "abcdefghijklmnopqrstuvwy".map(c => c.toString -> -15000000L) ++ Seq(
      "sc" -> -10000000L, "an" -> -10000000L, "scan" -> -6000000L,
      "jo" -> -7000000L, "in" -> -7000000L,
      "the" -> -6000000L, "query" -> -6000000L, "er" -> -9000000L,
      "ab" -> -8000000L, "cd" -> -8000000L, "abc" -> -1000000L)

  /** DuckDB replay of [[graft.ops.TextOps.bpeMerges]]'s training loop,
    * unrolled to `n` explicit CTE stages (the loop count is a compile-time
    * constant of the registered query, so unrolling is exact, not an
    * approximation). Words are carried as separator-framed symbol strings
    * ` sym  sym ` because SQL `replace()` is
    * exactly the greedy left-to-right non-overlapping single-rule merge
    * the Scala fold implements: the DOUBLE separator between symbols lets
    * a match consume one trailing separator and still leave the next
    * occurrence matchable ("abab" under a+b must merge BOTH pairs), while
    * the frame prevents false matches where one symbol merely ends/starts
    * with the rule's characters ("xa","b" must NOT match a+b). Every CTE
    * is MATERIALIZED: each stage is referenced twice (pair counts + next
    * vocab), so un-materialized inlining would re-derive the whole prefix
    * chain exponentially. Verified bit-exact vs the Spark run at sf0.01. */
  private def bpeTrainCtes(n: Int): String = {
    val sb = new StringBuilder(
      """w AS MATERIALIZED (
        |  SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
        |    FROM documents WHERE trim(coalesce(text, '')) <> '')
        |  WHERE word <> '' GROUP BY word),
        |v0 AS MATERIALIZED (
        |  SELECT chr(31) || array_to_string(string_split(word, ''),
        |    chr(31) || chr(31)) || chr(31) AS s, cnt FROM w)""".stripMargin)
    for (k <- 0 until n) sb ++= s""",
p$k AS MATERIALIZED (
  SELECT x.a[i] AS l, x.a[i + 1] AS r, CAST(sum(x.cnt) AS BIGINT) AS pair_count
  FROM (SELECT string_split(trim(s, chr(31)), chr(31) || chr(31)) AS a, cnt
        FROM v$k) AS x,
    unnest(generate_series(1, len(x.a) - 1)) AS t(i)
  GROUP BY 1, 2),
r${k + 1} AS MATERIALIZED (SELECT l, r, pair_count FROM p$k
  WHERE pair_count >= 2 ORDER BY pair_count DESC, l, r LIMIT 1),
v${k + 1} AS MATERIALIZED (
  SELECT replace(s,
      chr(31) || (SELECT l FROM r${k + 1}) || chr(31) || chr(31) || (SELECT r FROM r${k + 1}) || chr(31),
      chr(31) || (SELECT l FROM r${k + 1}) || (SELECT r FROM r${k + 1}) || chr(31)) AS s,
    cnt
  FROM v$k)"""
    sb.toString
  }

  /** DuckDB replay of [[graft.ops.Classifier]] training: `iters`
    * unrolled gradient-descent rounds (one CTE pair per round — micros
    * gradient sums, then the re-quantized weight row), followed by the
    * per-row scoring select. Mirrors the Scala expression trees
    * token-for-token: rational sigmoid, left-associated margin, 1e-6
    * quantization points. */
  private def qualityClassifierSql(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH f AS (
  SELECT doc_id,
    CAST(least(n_chars, 2000) AS DOUBLE) / 2000.0 AS x1,
    CAST(least(len(ws), 400) AS DOUBLE) / 400.0 AS x2,
    CAST(len(list_filter(ws, w -> w IN ('the','a','and','of','to')))
      AS DOUBLE) / CAST(greatest(len(ws), 1) AS DOUBLE) AS x3,
    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM (SELECT doc_id, lang, n_chars,
        string_split_regex(trim(lower(text)), '\s+') AS ws
        FROM documents)),
c AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
w0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""
    for (k <- 1 to iters) {
      sb ++= s""",
g$k AS (
  SELECT
    sum(CAST(round((sig - y) * 1.0 * 1000000.0, 0) AS BIGINT)) AS gb,
    sum(CAST(round((sig - y) * x1 * 1000000.0, 0) AS BIGINT)) AS ga,
    sum(CAST(round((sig - y) * x2 * 1000000.0, 0) AS BIGINT)) AS gc,
    sum(CAST(round((sig - y) * x3 * 1000000.0, 0) AS BIGINT)) AS gd
  FROM (
    SELECT y, x1, x2, x3, 0.5 + 0.5 * (z / (1.0 + abs(z))) AS sig
    FROM (SELECT f.*, ((b + w1 * x1) + w2 * x2) + w3 * x3 AS z
          FROM f CROSS JOIN w${k - 1}) zt) st),
w$k AS (
  SELECT
    round(b - 1.0 * ((CAST(gb AS DOUBLE) / 1000000.0) / n), 6) AS b,
    round(w1 - 1.0 * ((CAST(ga AS DOUBLE) / 1000000.0) / n), 6) AS w1,
    round(w2 - 1.0 * ((CAST(gc AS DOUBLE) / 1000000.0) / n), 6) AS w2,
    round(w3 - 1.0 * ((CAST(gd AS DOUBLE) / 1000000.0) / n), 6) AS w3
  FROM w${k - 1} CROSS JOIN g$k CROSS JOIN c)"""
    }
    sb ++= s"""
SELECT doc_id, round(0.5 + 0.5 * (z / (1.0 + abs(z))), 6) AS score,
  (round(0.5 + 0.5 * (z / (1.0 + abs(z))), 6) >= 0.5) AS pred
FROM (SELECT doc_id, ((b + w1 * x1) + w2 * x2) + w3 * x3 AS z
      FROM f CROSS JOIN w$iters) zt"""
    sb.toString
  }

  /** The learned-rules result set over [[bpeTrainCtes]]'s r1..rn. */
  private def bpeMergesSql(n: Int): String =
    "WITH " + bpeTrainCtes(n) + "\nSELECT * FROM (" +
      (1 to n).map(k =>
        s"""SELECT CAST($k AS BIGINT) AS merge_rank, l AS "left", r AS "right", pair_count FROM r$k""")
        .mkString("\nUNION ALL ") + ")"

  /** Training + encoding: replay the n learned rules over every word of
    * every document with the same framed-replace trick, then flatten to
    * the per-document token sequence. */
  /** Per-source fertility over the same replayed encoder as
    * [[bpeEncodeSql]]: exact integer char/token totals, one integer
    * division per source. */
  private def bpeFertilitySql(n: Int): String = {
    val replay = (1 to n).foldLeft(
      "chr(31) || array_to_string(string_split(w, ''), chr(31) || chr(31)) || chr(31)") {
      (e, k) =>
        s"replace($e, chr(31) || u.l$k || chr(31) || chr(31) || u.q$k || chr(31), " +
          s"chr(31) || u.l$k || u.q$k || chr(31))"
    }
    val ruleCols = (1 to n).map(k =>
      s"(SELECT l FROM r$k) AS l$k, (SELECT r FROM r$k) AS q$k").mkString(", ")
    "WITH " + bpeTrainCtes(n) + s""",
u AS MATERIALIZED (SELECT $ruleCols),
d AS (
  SELECT doc_id, source, n_chars,
    string_split_regex(trim(text), '\\s+') AS ws FROM documents),
e AS (
  SELECT d.doc_id, d.source, d.n_chars, flatten(list_transform(d.ws, w ->
    string_split(trim($replay, chr(31)), chr(31) || chr(31)))) AS toks
  FROM d, u)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  CAST(sum(len(toks)) AS BIGINT) AS sum_tokens,
  (1000000 * CAST(sum(n_chars) AS BIGINT))
    // CAST(sum(len(toks)) AS BIGINT) AS chars_per_token_micros
FROM e GROUP BY source"""
  }

  /** DuckDB replay of the unigram Viterbi encode over the PLANTED
    * vocabulary: the DP unrolls as one chained CTE per code-point
    * position (d1..dMaxWordLen), each taking the per-word best of the
    * ≤ maxPieceLen piece-extension candidates plus the always-available
    * `<unk>` single-character candidate, ordered exactly as the
    * expression's comparator: summed integer score desc, token count
    * asc, then the chr(31)-joined token path asc (binary string order
    * on both engines — chr(31) sits below every printable byte, so
    * path order IS token-list order). The objective is integer-only,
    * so nothing float-ordered crosses the replay. */
  private def unigramEncodeSql(maxWordLen: Int, maxPieceLen: Int): String = {
    val vocabValues = unigramVocab
      .map { case (p, sc) => s"('$p', CAST($sc AS BIGINT))" }
      .mkString(", ")
    val stages = (1 to maxWordLen).map { i =>
      val cands = (1 to math.min(maxPieceLen, i)).map { l =>
        s"""    SELECT d.w, d.sc + v.s AS sc, d.nt + 1 AS nt,
           |      CASE WHEN d.path = '' THEN v.piece
           |        ELSE d.path || chr(31) || v.piece END AS path
           |    FROM d${i - l} d JOIN v
           |      ON substring(d.w, ${i - l + 1}, $l) = v.piece
           |    WHERE len(d.w) >= $i""".stripMargin
      } :+
        s"""    SELECT d.w, d.sc - 50000000 AS sc, d.nt + 1 AS nt,
           |      CASE WHEN d.path = '' THEN '<unk>'
           |        ELSE d.path || chr(31) || '<unk>' END AS path
           |    FROM d${i - 1} d WHERE len(d.w) >= $i""".stripMargin
      s"""d$i AS (
         |  SELECT w, sc, nt, path FROM (
         |${cands.mkString("\n    UNION ALL\n")}) c
         |  QUALIFY row_number() OVER (PARTITION BY w
         |    ORDER BY sc DESC, nt ASC, path ASC) = 1)""".stripMargin
    }.mkString(",\n")
    val finals = (1 to maxWordLen)
      .map(i => s"SELECT * FROM d$i WHERE len(w) = $i")
      .mkString(" UNION ALL ")
    s"""WITH docs2 AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE text IS NOT NULL AND trim(text) <> ''
       |  UNION ALL SELECT * FROM (VALUES
       |    (300001, 'scanjoin thequery zx'),
       |    (300002, 'abcd scan order'),
       |    (300003, 'customer merge vector tablesort')) t(doc_id, text)),
       |v(piece, s) AS (SELECT * FROM (VALUES $vocabValues)),
       |tok AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM docs2),
       |wq AS (SELECT DISTINCT unnest(ws) AS w FROM tok),
       |d0 AS (SELECT w, CAST(0 AS BIGINT) AS sc, 0 AS nt, '' AS path
       |  FROM wq),
       |$stages,
       |seg AS (
       |  SELECT w, nt, replace(path, chr(31), '|') AS tp
       |  FROM ($finals)),
       |wx AS (
       |  SELECT doc_id, u.i AS i, u.w AS w FROM (
       |    SELECT doc_id, unnest([{'i': i, 'w': ws[i]}
       |      FOR i IN generate_series(1, len(ws))]) AS u
       |    FROM tok)),
       |j AS (SELECT wx.doc_id, wx.i, s.tp, s.nt
       |  FROM wx JOIN seg s ON wx.w = s.w)
       |SELECT doc_id,
       |  string_agg(tp, '|' ORDER BY i) AS tokens_joined,
       |  CAST(sum(nt) AS BIGINT) AS n_tokens
       |FROM j GROUP BY doc_id""".stripMargin
  }

  private def bpeEncodeSql(n: Int): String = {
    val replay = (1 to n).foldLeft(
      "chr(31) || array_to_string(string_split(w, ''), chr(31) || chr(31)) || chr(31)") {
      (e, k) =>
        s"replace($e, chr(31) || u.l$k || chr(31) || chr(31) || u.q$k || chr(31), " +
          s"chr(31) || u.l$k || u.q$k || chr(31))"
    }
    val ruleCols = (1 to n).map(k =>
      s"(SELECT l FROM r$k) AS l$k, (SELECT r FROM r$k) AS q$k").mkString(", ")
    "WITH " + bpeTrainCtes(n) + s""",
u AS MATERIALIZED (SELECT $ruleCols),
d AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents),
e AS (
  SELECT d.doc_id, flatten(list_transform(d.ws, w ->
    string_split(trim($replay, chr(31)), chr(31) || chr(31)))) AS toks
  FROM d, u)
SELECT doc_id, array_to_string(toks, '|') AS tokens_joined,
  CAST(len(toks) AS BIGINT) AS n_tokens
FROM e"""
  }

  val queries: Seq[Query] = Seq(

    // ---- LLM: vocabulary extraction (token -> tf / doc frequency) -----
    // top slice by (tf desc, token) for a deterministic result set
    Query("q_vocab", (s, dir) =>
      TextOps.vocabulary(t(s, dir, "documents"))
        .orderBy(col("tf").desc, col("token")).limit(100),
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents)
        |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df_docs
        |FROM t GROUP BY token ORDER BY tf DESC, token LIMIT 100""".stripMargin),

    // ---- LLM: Zipf's-law fit (corpus-health power-law exponent) -------
    // OLS of ln(tf) on ln(rank) over the top-1000 tokens: natural text
    // sits near slope -1, templated corpora flatten. Quantized logs +
    // DECIMAL moment sums make the fitted doubles engine-exact
    Query("q_zipf_fit", (s, dir) =>
      graft.ops.Freq.zipfFit(
        TextOps.vocabulary(t(s, dir, "documents"))
          .select(col("token"), col("tf")),
        "token", "tf", 1000),
      // the Zipf fit restated: same tokenizer as q_vocab, rank ties break
      // on the token, ln quantized to 9 decimals, moments summed in
      // DECIMAL(38,9) (exact for 9-decimal values), and the closed-form
      // OLS written with the same association order as the Spark side
      """WITH t AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT token, count(*) AS tf FROM t GROUP BY token),
        |top AS (SELECT token, tf FROM tf ORDER BY tf DESC, token LIMIT 1000),
        |rk AS (
        |  SELECT tf, row_number() OVER (ORDER BY tf DESC, token) AS rank
        |  FROM top),
        |q AS (
        |  SELECT round(ln(CAST(rank AS DOUBLE)), 9) AS x,
        |    round(ln(CAST(tf AS DOUBLE)), 9) AS y
        |  FROM rk),
        |s AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(round(x * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(round(y * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS syy
        |  FROM q),
        |f AS (
        |  SELECT n, n * sxy - sx * sy AS a, n * sxx - sx * sx AS b,
        |    n * syy - sy * sy AS c, sx, sy
        |  FROM s)
        |SELECT n, a / b AS slope,
        |  (sy - a / b * sx) / n AS intercept,
        |  a * a / (b * c) AS r2
        |FROM f""".stripMargin),

    // ---- LLM: per-source Zipf fit (templated-source triage) -----------
    // one slope per source from a group-KEYED rank window — no
    // single-partition stage anywhere, fully parallel at any source count
    Query("q_zipf_by_source", (s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = docs.select(col("source"),
          explode(TextOps.words(lower(col("text")))).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("tf"))
      graft.ops.Freq.zipfFitBy(counts, "source", "token", "tf", 500)
    },
      // per-source ranks partition the window by source; otherwise the
      // q_zipf_fit recipe verbatim
      """WITH t AS (
        |  SELECT source,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT source, token, count(*) AS tf FROM t GROUP BY 1, 2),
        |rk AS (
        |  SELECT source, tf, row_number() OVER (PARTITION BY source
        |    ORDER BY tf DESC, token) AS rank
        |  FROM tf
        |  QUALIFY rank <= 500),
        |q AS (
        |  SELECT source, round(ln(CAST(rank AS DOUBLE)), 9) AS x,
        |    round(ln(CAST(tf AS DOUBLE)), 9) AS y
        |  FROM rk),
        |s AS (
        |  SELECT source, count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(round(x * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(round(y * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS syy
        |  FROM q GROUP BY 1),
        |f AS (
        |  SELECT source, n, n * sxy - sx * sy AS a, n * sxx - sx * sx AS b,
        |    n * syy - sy * sy AS c
        |  FROM s)
        |SELECT source, n, a / b AS slope, a * a / (b * c) AS r2
        |FROM f""".stripMargin),

    // ---- LLM: Heaps'-law fit (vocabulary growth exponent) -------------
    // V(n) ~ K n^beta over the corpus in doc order: one exact-integer
    // point per document, same quantized OLS as the Zipf fit
    Query("q_heaps_fit", (s, dir) =>
      graft.ops.Freq.heapsFit(t(s, dir, "documents")),
      // the Heaps fit restated: cumulative tokens and cumulative
      // first-occurrence counts per doc (both exact integers), then the
      // same quantized OLS as q_zipf_fit
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |per_doc AS (SELECT doc_id, count(*) AS ntok FROM tok GROUP BY 1),
        |newv AS (
        |  SELECT d AS doc_id, count(*) AS vnew
        |  FROM (SELECT min(doc_id) AS d FROM tok GROUP BY token)
        |  GROUP BY 1),
        |pts AS (
        |  SELECT sum(p.ntok) OVER (ORDER BY p.doc_id) AS xn,
        |    sum(coalesce(v.vnew, 0)) OVER (ORDER BY p.doc_id) AS yv
        |  FROM per_doc p LEFT JOIN newv v USING (doc_id)),
        |q AS (
        |  SELECT round(ln(CAST(xn AS DOUBLE)), 9) AS x,
        |    round(ln(CAST(yv AS DOUBLE)), 9) AS y
        |  FROM pts),
        |s AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(round(x * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(round(y * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS syy
        |  FROM q),
        |f AS (
        |  SELECT n, n * sxy - sx * sy AS a, n * sxx - sx * sx AS b,
        |    n * syy - sy * sy AS c, sx, sy
        |  FROM s)
        |SELECT n, a / b AS slope,
        |  (sy - a / b * sx) / n AS intercept,
        |  a * a / (b * c) AS r2
        |FROM f""".stripMargin),

    // ---- LLM: per-source Heaps fit (duplicate-heavy-source triage) ----
    // one vocabulary-growth exponent per source, every window keyed on
    // the source — the grouped twin of q_heaps_fit
    Query("q_heaps_by_source", (s, dir) =>
      graft.ops.Freq.heapsFitBy(t(s, dir, "documents"), "source"),
      // the grouped Heaps fit: the q_heaps_fit construction with every
      // aggregate and window additionally keyed on source
      """WITH tok AS (
        |  SELECT source, doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |per_doc AS (
        |  SELECT source, doc_id, count(*) AS ntok
        |  FROM tok GROUP BY 1, 2),
        |newv AS (
        |  SELECT source, d AS doc_id, count(*) AS vnew
        |  FROM (SELECT source, min(doc_id) AS d FROM tok
        |        GROUP BY source, token)
        |  GROUP BY 1, 2),
        |pts AS (
        |  SELECT p.source,
        |    sum(p.ntok) OVER (PARTITION BY p.source
        |                      ORDER BY p.doc_id) AS xn,
        |    sum(coalesce(v.vnew, 0)) OVER (PARTITION BY p.source
        |                                   ORDER BY p.doc_id) AS yv
        |  FROM per_doc p LEFT JOIN newv v USING (source, doc_id)),
        |q AS (
        |  SELECT source, round(ln(CAST(xn AS DOUBLE)), 9) AS x,
        |    round(ln(CAST(yv AS DOUBLE)), 9) AS y
        |  FROM pts),
        |s AS (
        |  SELECT source, count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(round(x * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(round(y * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS syy
        |  FROM q GROUP BY 1),
        |f AS (
        |  SELECT source, n, n * sxy - sx * sy AS a, n * sxx - sx * sx AS b,
        |    n * syy - sy * sy AS c
        |  FROM s)
        |SELECT source, n, a / b AS slope, a * a / (b * c) AS r2
        |FROM f""".stripMargin),

    // ---- LLM: BPE tokenizer training (iterative pair merges) ----------
    // the first learned merge rule is SQL-expressible (one weighted
    // adjacent-character-pair count over the word-frequency table +
    // deterministic argmax), so it carries the oracle; the multi-merge
    // path is pinned by q_bpe_merges (its oracle replays eight merges)
    // and TextOpsSpec's reference-implementation comparison
    Query("q_bpe_first", (s, dir) =>
      TextOps.bpeMerges(t(s, dir, "documents"), numMerges = 1),
      // BPE merge #1: the arg-max weighted adjacent character pair over the
      // word-frequency table, tie-broken (count desc, left, right) exactly
      // as the engine pins it
      """WITH w AS (
        |  SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
        |    FROM documents WHERE trim(coalesce(text, '')) <> '')
        |  WHERE word <> '' GROUP BY word),
        |p AS (
        |  SELECT substring(word, i, 1) AS l, substring(word, i + 1, 1) AS r,
        |    CAST(sum(cnt) AS BIGINT) AS pair_count
        |  FROM w, unnest(generate_series(1, length(word) - 1)) AS t(i)
        |  GROUP BY 1, 2)
        |SELECT CAST(1 AS BIGINT) AS merge_rank, l AS "left", r AS "right",
        |  pair_count
        |FROM p WHERE pair_count >= 2
        |ORDER BY pair_count DESC, l, r LIMIT 1""".stripMargin),

    Query("q_bpe_merges", (s, dir) =>
      TextOps.bpeMerges(t(s, dir, "documents"), numMerges = 8),
      // full 8-round training replay (unrolled CTE stages; framed-replace
      // merge — see bpeTrainCtes) and the trained tokenizer applied to the
      // corpus: the two queries the r6 verdict flagged as oracle-less
      bpeMergesSql(8)),

    // apply half of the tokenizer: train 8 rules, replay them over the
    // corpus. The token array is emitted as a '|'-joined scalar plus its
    // length — an array<string> column crashes the driver comparator's
    // pandas sort (CORRECTNESS_r06: "unhashable type: numpy.ndarray"),
    // and the joined form carries strictly the same information. The
    // DuckDB oracle replays training AND encoding (bpeOracleCtes).
    Query("q_bpe_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextOps.bpeMerges(docs, numMerges = 8)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      // production path: the single codegen'd bpe_encode expression
      // (fold-equivalence pinned in TextOpsSpec; the oracle below replays
      // training+encode independently in DuckDB, so this row verifies the
      // expression end-to-end)
      graft.Graft.init(s)
      TextOps.bpeEncodeFast(docs, merges)
        .select(col("doc_id"),
          array_join(col("tokens"), "|").as("tokens_joined"),
          col("n_tokens"))
    },
      bpeEncodeSql(8)),

    // ---- LLM: tokenizer fertility report (chars per token by source) --
    // the metric a tokenizer release ships with: how many characters
    // one token buys, per corpus source — high fertility on a source
    // means the vocabulary serves it poorly (more tokens per text,
    // higher training cost). Encode with the 8-merge BPE, aggregate
    // exact integers, one integer division per source; the oracle
    // replays training AND encoding in SQL and aggregates identically
    Query("q_bpe_fertility", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextOps.bpeMerges(docs, numMerges = 8)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.Graft.init(s)
      TextOps.bpeEncodeFast(docs, merges)
        .join(docs.select(col("doc_id"), col("source"), col("n_chars")),
          Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          sum(col("n_tokens")).cast("long").as("sum_tokens"))
        .withColumn("chars_per_token_micros",
          expr("(1000000 * sum_chars) div sum_tokens"))
    },
      bpeFertilitySql(8)),

    // ---- LLM: unigram-LM (SentencePiece-style) Viterbi encode ----------
    // the second production subword family next to BPE: segmentation
    // maximizes summed integer micro-log-probs (ties: fewer tokens, then
    // UTF-8-lex token sequence), so the DuckDB oracle can replay the DP
    // EXACTLY as unrolled per-position stages. The vocabulary here is
    // PLANTED (shared verbatim with the oracle): it exercises a
    // whole-word piece beating its bigrams ('scan'), an engineered
    // exact-score tie ('abcd': [ab,cd] vs [abc,d], lex pick), and <unk>
    // on characters outside the inventory ('zx'). Training itself is
    // driver-side (unigramPieces — the bpeMerges collect contract) and
    // is pinned by TextOpsSpec's brute-force Viterbi parity instead of
    // an oracle (soft scores from ln() would put floats inside the DP
    // on the SQL side; the planted-vocab DP keeps the oracle integer).
    Query("q_unigram_encode", (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (300001L, "scanjoin thequery zx"),
        (300002L, "abcd scan order"),
        (300003L, "customer merge vector tablesort"))
        .toDF("doc_id", "text")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .where(col("text").isNotNull && trim(col("text")) =!= "")
        .unionByName(planted)
      graft.Graft.init(s)
      TextOps.unigramEncodeFast(docs, unigramVocab, "doc_id", "text")
        .select(col("doc_id"),
          array_join(col("tokens"), "|").as("tokens_joined"),
          col("n_tokens"))
    },
      // mirrors TextOps.unigramEncodeFast on the planted vocabulary: the
      // Viterbi DP unrolled per position; 9 covers the longest word
      // ('tablesort'), 5 the longest piece ('query')
      unigramEncodeSql(9, 5)),

    // ---- LLM: unigram LM quality score (model-based filter slot) ------
    // per-doc mean token log-prob under the corpus's own unigram model;
    // log-probs quantized to 1e-6 and folded in token order so both
    // engines produce the identical double (TextOps.lmScore)
    Query("q_lm_score", (s, dir) =>
      TextOps.lmScore(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("mean_logp")),
      // mirrors TextOps.lmScore exactly: quantized per-token ln, ordered
      // list fold (list_prepend seed trick, as in q_fingerprint_md5)
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, unnest(
        |    [{'i': i, 'token': ws[i]} FOR i IN generate_series(1, len(ws))]) AS u
        |  FROM tok),
        |v AS (
        |  SELECT u.token AS token, count(*) AS tf FROM e GROUP BY u.token),
        |t AS (SELECT sum(tf) AS total FROM v),
        |lp AS (
        |  SELECT token, round(ln(CAST(tf AS DOUBLE) / CAST(total AS DOUBLE)), 6)
        |    AS logp
        |  FROM v, t),
        |d AS (
        |  SELECT e.doc_id, list(lp.logp ORDER BY e.u.i) AS lps
        |  FROM e JOIN lp ON e.u.token = lp.token GROUP BY e.doc_id)
        |SELECT doc_id, CAST(len(lps) AS BIGINT) AS n_tokens,
        |  list_reduce(list_prepend(0.0, lps), (a, x) -> a + x) / len(lps)
        |    AS mean_logp
        |FROM d""".stripMargin),

    // ---- LLM: TF-IDF top-5 keywords per document ----------------------
    // idf quantized to 1e-6 before the single tf·idf multiply (lmScore
    // determinism contract); ties break on token ascending
    Query("q_tfidf", (s, dir) =>
      TextOps.tfidfTopTerms(t(s, dir, "documents"), k = 5),
      // mirrors TextOps.tfidfTopTerms: idf quantized to 1e-6 before the
      // single tf·idf multiply, rank ties broken on token ascending
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df_docs FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |idf AS (
        |  SELECT token,
        |    round(ln(CAST(n_docs AS DOUBLE) / CAST(df_docs AS DOUBLE)), 6)
        |      AS idf
        |  FROM df, n),
        |s AS (
        |  SELECT tf.doc_id, tf.token, tf.tf,
        |    round(CAST(tf.tf AS DOUBLE) * idf.idf, 6) AS tfidf
        |  FROM tf JOIN idf USING (token)),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rk
        |  FROM s)
        |SELECT doc_id, token, tf, tfidf FROM r WHERE rk <= 5""".stripMargin),

    // ---- LLM: bigram LM score with stupid backoff (CCNet-style --------
    // perplexity filter): position 1 scores ln(c(w1)/T), later positions
    // ln(cb/c1) for seen bigrams else ln(0.4*c(w)/T); every log-prob
    // quantized to integer micros and BIGINT-summed (TextOps.bigramLmScore)
    Query("q_bigram_lm", (s, dir) =>
      TextOps.bigramLmScore(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("mean_logp")),
      // mirrors TextOps.bigramLmScore: map-side slice+zip bigrams, micros
      // quantization per position, exact integer sum, backoff 0.4
      """WITH base AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS w FROM base),
        |uni AS (SELECT w, count(*) AS cu FROM tok GROUP BY w),
        |tot AS (SELECT sum(cu) AS t FROM uni),
        |pairs AS (
        |  SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM (
        |    SELECT doc_id,
        |      unnest(list_zip(ws[1:len(ws)-1], ws[2:])) AS p
        |    FROM base WHERE len(ws) >= 2)),
        |big AS (SELECT w1, w2, count(*) AS cb FROM pairs GROUP BY 1, 2),
        |first AS (
        |  SELECT doc_id, CAST(round(ln(CAST(cu AS DOUBLE)
        |      / CAST(t AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS m
        |  FROM (SELECT doc_id, ws[1] AS w FROM base WHERE len(ws) >= 1)
        |  JOIN uni USING (w) CROSS JOIN tot),
        |rest AS (
        |  SELECT p.doc_id,
        |    CASE WHEN b.cb IS NOT NULL THEN
        |      CAST(round(ln(CAST(b.cb AS DOUBLE) / CAST(u1.cu AS DOUBLE))
        |        * 1000000.0, 0) AS BIGINT)
        |    ELSE
        |      CAST(round(ln(0.4 * (CAST(u2.cu AS DOUBLE)
        |        / CAST(t AS DOUBLE))) * 1000000.0, 0) AS BIGINT)
        |    END AS m
        |  FROM pairs p
        |  LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
        |  JOIN uni u1 ON p.w1 = u1.w
        |  JOIN uni u2 ON p.w2 = u2.w
        |  CROSS JOIN tot),
        |s AS (SELECT * FROM first UNION ALL SELECT * FROM rest)
        |SELECT doc_id, count(*) AS n_tokens,
        |  (CAST(sum(m) AS DOUBLE) / 1000000.0) / CAST(count(*) AS DOUBLE)
        |    AS mean_logp
        |FROM s GROUP BY doc_id""".stripMargin),

    // ---- LLM: bigram LM scored against a SEPARATE model corpus --------
    // (the real CCNet shape: train on the reference slice, score
    // everything) — model = the src0 slice only, so unseen bigrams take
    // the 0.4-weighted unigram backoff and model-OOV words the count
    // floor of 1; quantization contract identical to q_bigram_lm
    Query("q_bigram_lm_oov", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.bigramLmScore(docs,
          model = docs.where(col("source") === "src0"))
        .select(col("doc_id"), col("n_tokens"), col("mean_logp"))
    },
      // mirrors TextOps.bigramLmScore with model = the src0 slice: left
      // joins against the model counts, count floor greatest(coalesce(c,0),1)
      // for model-OOV words, 0.4 backoff for unseen bigrams
      """WITH base AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |mbase AS (
        |  SELECT string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents WHERE source = 'src0'),
        |uni AS (
        |  SELECT w, count(*) AS cu FROM (SELECT unnest(ws) AS w FROM mbase)
        |  GROUP BY w),
        |tot AS (SELECT sum(cu) AS t FROM uni),
        |big AS (
        |  SELECT w1, w2, count(*) AS cb FROM (
        |    SELECT p[1] AS w1, p[2] AS w2 FROM (
        |      SELECT unnest(list_zip(ws[1:len(ws)-1], ws[2:])) AS p
        |      FROM mbase WHERE len(ws) >= 2))
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM (
        |    SELECT doc_id,
        |      unnest(list_zip(ws[1:len(ws)-1], ws[2:])) AS p
        |    FROM base WHERE len(ws) >= 2)),
        |first AS (
        |  SELECT doc_id, CAST(round(ln(
        |      CAST(greatest(coalesce(cu, 0), 1) AS DOUBLE)
        |      / CAST(t AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS m
        |  FROM (SELECT doc_id, ws[1] AS w FROM base WHERE len(ws) >= 1)
        |  LEFT JOIN uni USING (w) CROSS JOIN tot),
        |rest AS (
        |  SELECT p.doc_id,
        |    CASE WHEN b.cb IS NOT NULL THEN
        |      CAST(round(ln(CAST(b.cb AS DOUBLE) / CAST(u1.cu AS DOUBLE))
        |        * 1000000.0, 0) AS BIGINT)
        |    ELSE
        |      CAST(round(ln(0.4 * (CAST(greatest(coalesce(u2.cu, 0), 1)
        |        AS DOUBLE) / CAST(t AS DOUBLE))) * 1000000.0, 0) AS BIGINT)
        |    END AS m
        |  FROM pairs p
        |  LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
        |  LEFT JOIN uni u1 ON p.w1 = u1.w
        |  LEFT JOIN uni u2 ON p.w2 = u2.w
        |  CROSS JOIN tot),
        |s AS (SELECT * FROM first UNION ALL SELECT * FROM rest)
        |SELECT doc_id, count(*) AS n_tokens,
        |  (CAST(sum(m) AS DOUBLE) / 1000000.0) / CAST(count(*) AS DOUBLE)
        |    AS mean_logp
        |FROM s GROUP BY doc_id""".stripMargin),

    // ---- LLM: CCNet perplexity buckets (head / middle / tail) ----------
    // per-language ntile(3) over the bigram-LM score (q_bigram_lm's
    // exact construction): head = most-fluent third under the corpus's
    // own LM — the CCNet bucketing that decides what gets kept,
    // LM-filtered, or dropped; ordering is total (mean_logp, doc_id)
    Query("q_ccnet_buckets", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextOps.bigramLmScore(docs)
        .select(col("doc_id"), col("mean_logp"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("mean_logp").desc, col("doc_id"))
      docs.select(col("doc_id"), col("lang")).join(scored, Seq("doc_id"))
        .withColumn("nt", ntile(3).over(w))
        .select(col("doc_id"), col("lang"),
          when(col("nt") === 1, "head").when(col("nt") === 2, "middle")
            .otherwise("tail").as("bucket"))
    },
      // q_bigram_lm's exact scoring construction + per-language ntile(3)
      // on the (mean_logp DESC, doc_id) total order
      """WITH base AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS w FROM base),
        |uni AS (SELECT w, count(*) AS cu FROM tok GROUP BY w),
        |tot AS (SELECT sum(cu) AS t FROM uni),
        |pairs AS (
        |  SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM (
        |    SELECT doc_id,
        |      unnest(list_zip(ws[1:len(ws)-1], ws[2:])) AS p
        |    FROM base WHERE len(ws) >= 2)),
        |big AS (SELECT w1, w2, count(*) AS cb FROM pairs GROUP BY 1, 2),
        |first AS (
        |  SELECT doc_id, CAST(round(ln(CAST(cu AS DOUBLE)
        |      / CAST(t AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS m
        |  FROM (SELECT doc_id, ws[1] AS w FROM base WHERE len(ws) >= 1)
        |  JOIN uni USING (w) CROSS JOIN tot),
        |rest AS (
        |  SELECT p.doc_id,
        |    CASE WHEN b.cb IS NOT NULL THEN
        |      CAST(round(ln(CAST(b.cb AS DOUBLE) / CAST(u1.cu AS DOUBLE))
        |        * 1000000.0, 0) AS BIGINT)
        |    ELSE
        |      CAST(round(ln(0.4 * (CAST(u2.cu AS DOUBLE)
        |        / CAST(t AS DOUBLE))) * 1000000.0, 0) AS BIGINT)
        |    END AS m
        |  FROM pairs p
        |  LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
        |  JOIN uni u1 ON p.w1 = u1.w
        |  JOIN uni u2 ON p.w2 = u2.w
        |  CROSS JOIN tot),
        |sm AS (SELECT * FROM first UNION ALL SELECT * FROM rest),
        |scored AS (
        |  SELECT doc_id,
        |    (CAST(sum(m) AS DOUBLE) / 1000000.0) / CAST(count(*) AS DOUBLE)
        |      AS mean_logp
        |  FROM sm GROUP BY doc_id),
        |nt AS (
        |  SELECT d.doc_id, d.lang,
        |    ntile(3) OVER (PARTITION BY d.lang
        |      ORDER BY s.mean_logp DESC, d.doc_id) AS nt
        |  FROM documents d JOIN scored s USING (doc_id))
        |SELECT doc_id, lang,
        |  CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
        |    AS bucket
        |FROM nt""".stripMargin),

    // ---- LLM: trained linear quality classifier (fastText-style) ------
    // full-batch GD inside the engine: 5 rounds of one corpus-wide
    // aggregate each (gradients sum in exact micros), rational sigmoid
    // (no libm), then a pure per-row scoring pass; label = lang == 'en',
    // features = capped length, capped token count, stopword ratio
    // (ops/Classifier.train/score — oracle replays all 5 rounds)
    Query("q_quality_classifier", (s, dir) => {
      Graft.init(s)
      val docs = t(s, dir, "documents")
      // word + stopword counts in one fused byte scan (the interpreted
      // split + filter(isin) lambda ran on every GD pass); counts are
      // exact byte-compares, so features are bit-identical to the
      // split/size/filter formulation the oracle replays
      val st = graft.functions.TextExprs.wordStopStats(
        trim(lower(col("text"))), Seq("the", "a", "and", "of", "to"))
      val nWords = st.getField("n_words")
      val feats = Seq(
        least(col("n_chars"), lit(2000L)).cast("double") / lit(2000.0),
        least(nWords, lit(400)).cast("double") / lit(400.0),
        st.getField("n_stop").cast("double")
          / greatest(nWords, lit(1)).cast("double"))
      val y = when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0))
      val model = graft.ops.Classifier.train(docs, feats, y,
        iterations = 5, lr = 1.0)
      graft.ops.Classifier.score(docs, feats, model)
        .select(col("doc_id"), col("score"), col("pred"))
    },
      // replays Classifier.train's 5 GD rounds + the scoring pass (see
      // qualityClassifierSql)
      qualityClassifierSql(5)),

    // ---- LLM: DSIR importance resampling (Xie et al. 2023) ------------
    // hashed unigram+bigram bucket distributions (1024 md5 buckets,
    // add-one smoothing): target = the English slice, raw = the whole
    // corpus; every raw doc scored by its exact-integer-summed log
    // importance ratio, top-100 kept (Sampling.importanceResample)
    Query("q_dsir", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Sampling.importanceResample(docs,
        docs.where(col("lang") === "en"), nBuckets = 1024, k = 100)
    },
      // mirrors Sampling.importanceWeights: md5 feature buckets, add-one
      // smoothing over 1024 buckets, per-bucket micros-quantized log
      // difference, exact BIGINT per-doc sum, top-100 on (logw, doc_id)
      """WITH base AS (
        |  SELECT doc_id, lang,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, lang, unnest(list_concat(ws,
        |    list_transform(list_zip(ws[1:len(ws)-1], ws[2:]),
        |      p -> p[1] || ' ' || p[2]))) AS f
        |  FROM base),
        |fb AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substring(md5(f), 1, 8)) AS BIGINT) % 1024
        |      AS bucket
        |  FROM f),
        |tgt AS (SELECT bucket, count(*) AS ct FROM fb WHERE lang = 'en'
        |        GROUP BY 1),
        |rawc AS (SELECT bucket, count(*) AS cr FROM fb GROUP BY 1),
        |tts AS (SELECT sum(ct) AS tt FROM tgt),
        |trs AS (SELECT sum(cr) AS tr FROM rawc),
        |m AS (
        |  SELECT fb.doc_id,
        |    CAST(round(ln((CAST(coalesce(ct, 0) AS DOUBLE) + 1.0)
        |      / CAST(tt + 1024 AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
        |  - CAST(round(ln((CAST(cr AS DOUBLE) + 1.0)
        |      / CAST(tr + 1024 AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS m
        |  FROM fb LEFT JOIN tgt USING (bucket) JOIN rawc USING (bucket)
        |  CROSS JOIN tts CROSS JOIN trs),
        |d AS (SELECT doc_id, sum(m) AS sm FROM m GROUP BY 1)
        |SELECT doc_id, CAST(sm AS DOUBLE) / 1000000.0 AS logw
        |FROM d ORDER BY sm DESC, doc_id LIMIT 100""".stripMargin),

    // ---- LLM: tokenization against a top-1000 vocabulary --------------
    // tokens outside the top-1000 (by tf, token-tiebroken) map to -1
    // (OOV); output is scalar columns only (ids as a joined string — the
    // driver comparator can't hash array cells)
    Query("q_tokenize", (s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = TextOps.vocabulary(docs)
        .orderBy(col("tf").desc, col("token")).limit(1000)
      TextOps.tokenizeWithVocab(docs, vocab)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_ids"),
          size(filter(col("token_ids"), i => i === -1)).cast("long").as("n_oov"),
          array_join(transform(col("token_ids"), _.cast("string")), " ")
            .as("ids_str"))
    },
      """WITH tok AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |v AS (
        |  SELECT token, row_number() OVER (ORDER BY tf DESC, token) - 1 AS tok_id
        |  FROM (
        |    SELECT token, count(*) AS tf
        |    FROM (SELECT unnest(ws) AS token FROM tok) GROUP BY token)
        |  QUALIFY tok_id < 1000),
        |e AS (
        |  SELECT doc_id, unnest(
        |    [{'i': i, 'token': ws[i]} FOR i IN generate_series(1, len(ws))]) AS u
        |  FROM tok),
        |j AS (
        |  SELECT e.doc_id, e.u.i AS i, coalesce(v.tok_id, -1) AS tid
        |  FROM e LEFT JOIN v ON e.u.token = v.token)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ids,
        |  CAST(count(*) FILTER (tid = -1) AS BIGINT) AS n_oov,
        |  array_to_string(list(tid ORDER BY i), ' ') AS ids_str
        |FROM j GROUP BY doc_id""".stripMargin),

    // ---- LLM: PMI collocations (phrase mining, word2phrase step) ------
    // top-20 bigrams by pointwise mutual information among those seen
    // >= 5 times; ln quantized to 1e-6, ties break on the bigram string
    Query("q_collocations", (s, dir) =>
      TextOps.collocations(t(s, dir, "documents"), minCount = 5, k = 20),
      // mirrors TextOps.collocations: one tokenize, quantized ln, bigram
      // tie-break; DuckDB list comprehension builds the bigram events
      """WITH tok AS (
        |  SELECT string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |uni AS (SELECT unnest(ws) AS tok FROM tok),
        |ucnt AS (SELECT tok, count(*) AS c_tok FROM uni GROUP BY tok),
        |big AS (
        |  SELECT unnest([ws[i] || ' ' || ws[i+1]
        |                 FOR i IN generate_series(1, len(ws) - 1)]) AS b
        |  FROM tok WHERE len(ws) >= 2),
        |bcnt AS (SELECT b, count(*) AS cnt FROM big GROUP BY b),
        |tt AS (SELECT sum(c_tok) AS t_uni FROM ucnt),
        |bt AS (SELECT sum(cnt) AS t_big FROM bcnt),
        |j AS (
        |  SELECT b.b AS bigram, b.cnt,
        |    round(ln((CAST(b.cnt AS DOUBLE) / CAST(t_big AS DOUBLE)) /
        |      ((CAST(ux.c_tok AS DOUBLE) / CAST(t_uni AS DOUBLE)) *
        |       (CAST(uy.c_tok AS DOUBLE) / CAST(t_uni AS DOUBLE)))), 6)
        |      AS pmi
        |  FROM bcnt b, tt, bt
        |  JOIN ucnt ux ON string_split(b.b, ' ')[1] = ux.tok
        |  JOIN ucnt uy ON string_split(b.b, ' ')[2] = uy.tok
        |  WHERE b.cnt >= 5)
        |SELECT bigram, CAST(cnt AS BIGINT) AS cnt, pmi FROM j
        |ORDER BY pmi DESC, bigram LIMIT 20""".stripMargin),

    // ---- LLM: distinctive vocabulary between corpus slices ------------
    // Fightin'-Words log-odds z with add-one prior: which terms mark the
    // en slice against the rest — quantized lns, exact BIGINT counts,
    // top-40 by (z desc, term) (ops/TextOps.distinctiveTerms)
    Query("q_distinctive_terms", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.distinctiveTerms(docs.where(col("lang") === "en"),
        docs.where(col("lang") =!= "en"), k = 40)
    },
      // mirrors TextOps.distinctiveTerms: same add-one log-odds, same
      // 1e-6 ln quantization, same (z desc, term) total order
      """WITH ta AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE lang = 'en'),
        |tb AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE lang <> 'en'),
        |ca AS (SELECT term, count(*) AS cnt_a FROM ta GROUP BY 1),
        |cb AS (SELECT term, count(*) AS cnt_b FROM tb GROUP BY 1),
        |j AS (
        |  SELECT coalesce(ca.term, cb.term) AS term,
        |    CAST(coalesce(cnt_a, 0) AS BIGINT) AS cnt_a,
        |    CAST(coalesce(cnt_b, 0) AS BIGINT) AS cnt_b
        |  FROM ca FULL OUTER JOIN cb ON ca.term = cb.term),
        |tot AS (
        |  SELECT CAST(sum(cnt_a) AS BIGINT) AS tot_a,
        |    CAST(sum(cnt_b) AS BIGINT) AS tot_b,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM j),
        |z AS (
        |  SELECT term, cnt_a, cnt_b,
        |    round((round(ln(CAST(cnt_a + 1 AS DOUBLE)
        |        / CAST(tot_a + v - cnt_a - 1 AS DOUBLE)), 6)
        |      - round(ln(CAST(cnt_b + 1 AS DOUBLE)
        |        / CAST(tot_b + v - cnt_b - 1 AS DOUBLE)), 6))
        |      / sqrt(1.0 / CAST(cnt_a + 1 AS DOUBLE)
        |        + 1.0 / CAST(cnt_b + 1 AS DOUBLE)), 6) AS z_score
        |  FROM j CROSS JOIN tot
        |  WHERE cnt_a + cnt_b >= 5)
        |SELECT term, cnt_a, cnt_b, z_score FROM z
        |ORDER BY z_score DESC, term LIMIT 40""".stripMargin),

    // ---- LLM: source vocabulary overlap matrix ------------------------
    // pairwise distinct-term Jaccard between the 20 fixture sources —
    // term-keyed pair join bounded by |vocab| x C(20,2), exact micros
    // (ops/TextOps.sourceOverlap)
    Query("q_source_overlap", (s, dir) =>
      TextOps.sourceOverlap(t(s, dir, "documents"), "source"),
      // mirrors TextOps.sourceOverlap: same distinct (source, term)
      // universe, same truncating micros Jaccard
      """WITH gt AS (
        |  SELECT DISTINCT source AS g,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE source IS NOT NULL),
        |sz AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM gt GROUP BY 1),
        |pr AS (
        |  SELECT x.g AS src_a, y.g AS src_b,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM gt x JOIN gt y ON x.term = y.term AND x.g < y.g
        |  GROUP BY 1, 2)
        |SELECT pr.src_a, pr.src_b, sa.n AS n_a, sb.n AS n_b, pr.n_both,
        |  (1000000 * pr.n_both) // (sa.n + sb.n - pr.n_both)
        |    AS jaccard_micros
        |FROM pr
        |JOIN sz sa ON pr.src_a = sa.g
        |JOIN sz sb ON pr.src_b = sb.g""".stripMargin)
  )
}
