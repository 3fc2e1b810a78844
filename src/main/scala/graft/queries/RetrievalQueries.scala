package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Ivf, Pq, Similarity}
import graft.SparkEntry.scratchDir
import Fixtures._

/** Embeddings, ANN search, lexical and hybrid retrieval. */
private[graft] object RetrievalQueries {

  /** Driver-side fetch of the probe vector (vec_id=0) — a 1-row lookup,
    * the documented pattern for parameterizing an ANN probe. */
  private def queryVec(emb: DataFrame): Array[Float] =
    emb.where(col("vec_id") === 0).select(col("embedding"))
      .head.getSeq[Float](0).toArray

  /** DuckDB replay of [[graft.ops.Pq]]'s planted-codebook encode + ADC:
    * the codebook VALUES are the same dyadic formula `plantedModel`
    * states ((j*31 + i*17 + d*7) % 19 - 9) / 16 — exact in decimal text,
    * binary doubles and parquet floats alike — and every fold runs in
    * the shared list_reduce(list_prepend(0.0, …)) element order, so
    * distances match bit for bit. The LUT is the vec_id=0 row of the
    * same dists relation, exactly as the engine's driver-side lut
    * mirrors its own subDists fold. */
  private def pqAdcSql(dim: Int, m: Int, k: Int, topk: Int): String = {
    val dsub = dim / m
    val cbRows = (for (j <- 0 until m; i <- 0 until k) yield {
      // Locale.ROOT: the f"" interpolator uses the JVM default locale,
      // and a comma-decimal locale would corrupt the SQL list literals
      val vals = (0 until dsub)
        .map(d => String.format(java.util.Locale.ROOT, "%.4f",
          Double.box(((j * 31 + i * 17 + d * 7) % 19 - 9) / 16.0)))
        .mkString(", ")
      s"($j, $i, [$vals])"
    }).mkString(",\n    ")
    s"""WITH cb(j, i, c) AS (VALUES
    $cbRows),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
dists AS MATERIALIZED (
  SELECT e.vec_id, cb.j, cb.i,
    list_reduce(list_prepend(0.0,
      [(e.v[cb.j * $dsub + d] - cb.c[d]) * (e.v[cb.j * $dsub + d] - cb.c[d])
       FOR d IN generate_series(1, $dsub)]),
      (acc, x) -> acc + x) AS dist
  FROM e, cb),
codes AS (
  SELECT vec_id, j, i AS code FROM (
    SELECT vec_id, j, i,
      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, i) AS rn
    FROM dists) WHERE rn = 1),
lut AS (SELECT j, i, dist FROM dists WHERE vec_id = 0)
SELECT c.vec_id,
  array_to_string(list(c.code ORDER BY c.j), '|') AS codes_joined,
  list_reduce(list_prepend(0.0, list(l.dist ORDER BY c.j)),
    (acc, x) -> acc + x) AS adc_dist
FROM codes c JOIN lut l ON c.j = l.j AND c.code = l.i
GROUP BY c.vec_id
ORDER BY adc_dist, c.vec_id LIMIT $topk"""
  }

  val queries: Seq[Query] = Seq(

    // ---- LLM: embedding-space health report ---------------------------
    // per label: cluster size and mean cosine of members to their own
    // centroid, in fully quantized integer arithmetic (ops/Similarity
    // .labelCentroidReport — micros elements, exact BIGINT dots/norms,
    // one IEEE chain per vector)
    Query("q_label_centroids", (s, dir) =>
      graft.ops.Similarity.labelCentroidReport(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", dim = 64),
      // mirrors Similarity.labelCentroidReport: same micros quantization,
      // exact integer dots/norms, same IEEE cosine chain and final mean
      """WITH base AS (
        |  SELECT vec_id, label,
        |    [CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT)
        |      FOR x IN embedding] AS v
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |comp AS (
        |  SELECT label, d, CAST(sum(v[d]) AS BIGINT) AS sx
        |  FROM base, unnest(generate_series(1, 64)) AS t(d)
        |  GROUP BY 1, 2),
        |cent AS (
        |  SELECT label, list(sx ORDER BY d) AS cs FROM comp GROUP BY 1),
        |j AS (
        |  SELECT b.vec_id, b.label,
        |    CAST(list_sum([b.v[i] * c.cs[i]
        |      FOR i IN generate_series(1, 64)]) AS BIGINT) AS dot,
        |    CAST(list_sum([b.v[i] * b.v[i]
        |      FOR i IN generate_series(1, 64)]) AS BIGINT) AS nv,
        |    CAST(list_sum([c.cs[i] * c.cs[i]
        |      FOR i IN generate_series(1, 64)]) AS BIGINT) AS nc
        |  FROM base b JOIN cent c USING (label)),
        |cm AS (
        |  SELECT label, CAST(round(CAST(dot AS DOUBLE)
        |    / sqrt(CAST(nv AS DOUBLE) * CAST(nc AS DOUBLE))
        |    * 1000000.0, 0) AS BIGINT) AS cos_micros
        |  FROM j)
        |SELECT label, count(*) AS n,
        |  CAST(sum(cos_micros) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    / 1000000.0 AS mean_cos_to_centroid
        |FROM cm GROUP BY 1""".stripMargin),

    // ---- LLM: kNN classification eval (embedding quality harness) -----
    // the first 200 vectors classified by the majority label of their
    // 10 nearest corpus neighbors, reported as a confusion matrix
    // (ops/Similarity.knnClassify — broadcast eval, one corpus scan,
    // micros-quantized rank order shared with the oracle)
    Query("q_knn_confusion", (s, dir) => {
      Graft.init(s)
      val emb = t(s, dir, "embeddings")
      graft.ops.Similarity.knnClassify(emb,
        emb.where(col("vec_id") < 200), "vec_id", "embedding", "label",
        k = 10)
    },
      // mirrors Similarity.knnClassify: same micros-quantized rank order,
      // same (count DESC, label ASC) vote tie-break
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qv, label AS ql
        |  FROM embeddings WHERE vec_id < 200),
        |s AS (
        |  SELECT q.qid, q.ql, e.vec_id AS nid, e.label AS nl,
        |    CAST(round(list_cosine_similarity(
        |      CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
        |      * 1000000.0, 0) AS BIGINT) AS cos_micros
        |  FROM embeddings e JOIN q ON e.vec_id <> q.qid),
        |top AS (
        |  SELECT * FROM s QUALIFY row_number() OVER (
        |    PARTITION BY qid ORDER BY cos_micros DESC, nid) <= 10),
        |votes AS (
        |  SELECT qid, ql, nl, count(*) AS v FROM top GROUP BY 1, 2, 3),
        |pred AS (
        |  SELECT * FROM votes QUALIFY row_number() OVER (
        |    PARTITION BY qid ORDER BY v DESC, nl) = 1)
        |SELECT ql AS label_actual, nl AS label_predicted, count(*) AS n
        |FROM pred GROUP BY 1, 2""".stripMargin),

    // ---- LLM: late-interaction (ColBERT-style) MaxSim retrieval -------
    // token-level matching: score = Σ over query tokens of max over doc
    // tokens of cos(v(qt), v(dt)); probe = the first 4 tokens of doc 0.
    // Vectors are the md5-derived stub (featurizeStub convention — a
    // real encoder slots into the same column); the interaction
    // algebra (broadcast query tokens, micros-quantized cosines, exact
    // BIGINT max/Σ, windowed top-k) is the real contract and the
    // oracle replays ALL of it
    Query("q_maxsim", (s, dir) => {
      val docs = t(s, dir, "documents")
      val probe = docs.where(col("doc_id") === 0)
        .select(explode(slice(split(trim(lower(col("text"))), "\\s+"),
          1, 4)).as("qtok"))
        .select(lit(1L).as("query_id"), col("qtok"))
      graft.ops.Retrieval.maxSimTopK(docs, probe, "doc_id", "text",
        "query_id", "qtok", dim = 8, k = 10)
    },
      // full replay of the late-interaction pipeline: same md5 stub
      // vectors, same left-assoc 8-component IEEE chains, same micros
      // quantization, exact integer max/sum, same (score desc, doc_id)
      // top-k order
      """WITH qt AS (
        |  SELECT DISTINCT CAST(1 AS BIGINT) AS query_id, t AS qtok FROM (
        |    SELECT unnest(list_slice(
        |      string_split_regex(trim(lower(text)), '\s+'), 1, 4)) AS t
        |    FROM documents WHERE doc_id = 0) s),
        |dt AS (
        |  SELECT DISTINCT doc_id, dtok FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS dtok
        |    FROM documents) s WHERE dtok <> ''),
        |vq AS (SELECT query_id, qtok,
        |  [ ((('0x' || substring(md5(qtok || ':' || CAST(i AS VARCHAR)), 1, 8))
        |      ::BIGINT % 1000)) / 999.0 FOR i IN range(0, 8)] AS v
        |  FROM qt),
        |vd AS (SELECT doc_id, dtok,
        |  [ ((('0x' || substring(md5(dtok || ':' || CAST(i AS VARCHAR)), 1, 8))
        |      ::BIGINT % 1000)) / 999.0 FOR i IN range(0, 8)] AS v
        |  FROM dt),
        |pc AS (
        |  SELECT vq.query_id, vq.qtok, vd.doc_id,
        |    CAST(round((vq.v[1]*vd.v[1] + vq.v[2]*vd.v[2] + vq.v[3]*vd.v[3] + vq.v[4]*vd.v[4] + vq.v[5]*vd.v[5] + vq.v[6]*vd.v[6] + vq.v[7]*vd.v[7] + vq.v[8]*vd.v[8]) /
        |      (sqrt(vq.v[1]*vq.v[1] + vq.v[2]*vq.v[2] + vq.v[3]*vq.v[3] + vq.v[4]*vq.v[4] + vq.v[5]*vq.v[5] + vq.v[6]*vq.v[6] + vq.v[7]*vq.v[7] + vq.v[8]*vq.v[8]) * sqrt(vd.v[1]*vd.v[1] + vd.v[2]*vd.v[2] + vd.v[3]*vd.v[3] + vd.v[4]*vd.v[4] + vd.v[5]*vd.v[5] + vd.v[6]*vd.v[6] + vd.v[7]*vd.v[7] + vd.v[8]*vd.v[8])) * 1000000.0, 0) AS BIGINT) AS cm
        |  FROM vd CROSS JOIN vq
        |  WHERE (vq.v[1]*vq.v[1] + vq.v[2]*vq.v[2] + vq.v[3]*vq.v[3] + vq.v[4]*vq.v[4] + vq.v[5]*vq.v[5] + vq.v[6]*vq.v[6] + vq.v[7]*vq.v[7] + vq.v[8]*vq.v[8]) > 0 AND (vd.v[1]*vd.v[1] + vd.v[2]*vd.v[2] + vd.v[3]*vd.v[3] + vd.v[4]*vd.v[4] + vd.v[5]*vd.v[5] + vd.v[6]*vd.v[6] + vd.v[7]*vd.v[7] + vd.v[8]*vd.v[8]) > 0),
        |ms AS (SELECT query_id, qtok, doc_id, max(cm) AS maxsim
        |       FROM pc GROUP BY 1, 2, 3),
        |sc AS (SELECT query_id, doc_id, CAST(sum(maxsim) AS BIGINT)
        |         AS score_micros
        |       FROM ms GROUP BY 1, 2)
        |SELECT query_id, doc_id, score_micros, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score_micros DESC, doc_id) AS rank FROM sc)
        |WHERE rank <= 10""".stripMargin),

    // ---- LLM: hard-negative mining (contrastive training data) --------
    // per anchor (ids 0..4), the 3 most-similar corpus vectors BELOW
    // the 0.95 near-dup ceiling: the planted exact copies (+100000, 2x
    // scaled — cosine 1.0) and the anchor itself are excluded by the
    // ceiling alone, so the winners are the top NATURAL neighbors —
    // informative negatives, not disguised positives
    Query("q_hard_negatives", (s, dir) => {
      Graft.init(s)
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.where(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
            .as("embedding"))
      val anchors = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("anchor_id"), col("embedding").as("avec"))
      Similarity.hardNegatives(emb.unionByName(planted), "vec_id",
        "embedding", anchors, "anchor_id", "avec", k = 3, dupCeiling = 0.95)
    },
      // mirrors Similarity.hardNegatives over the planted corpus: brute
      // cosine per (anchor, vector), ceiling filter, per-anchor top-3
      """WITH planted AS (
        |  SELECT vec_id + 100000 AS vec_id,
        |    list_transform(embedding, x -> CAST(x * 2.0 AS FLOAT))
        |      AS embedding
        |  FROM embeddings WHERE vec_id < 50),
        |corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT * FROM planted),
        |a AS (
        |  SELECT vec_id AS anchor_id, embedding AS avec
        |  FROM embeddings WHERE vec_id < 5),
        |s AS (
        |  SELECT a.anchor_id, c.vec_id,
        |    list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                           CAST(a.avec AS DOUBLE[])) AS cos_raw
        |  FROM corpus c CROSS JOIN a),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY anchor_id
        |      ORDER BY cos_raw DESC, vec_id) AS rank
        |  FROM s WHERE cos_raw < 0.95)
        |SELECT anchor_id, vec_id, round(cos_raw, 4) AS cosine, rank
        |FROM r WHERE rank <= 3""".stripMargin),

    // ---- LLM: BM25 keyword retrieval (top-10 docs per query) ----------
    // three fixed keyword queries over the documents corpus; idf
    // quantized to 1e-6, per-term contributions quantized to integer
    // micros and BIGINT-summed (exact), ties break on doc_id — the
    // score is bit-identical on any engine (ops/Retrieval.bm25TopK)
    Query("q_bm25", (s, dir) => {
      import s.implicits._
      val qs = Seq(
        (1L, "vector hash join"), (2L, "slow scan filter"),
        (3L, "customer order stream")).toDF("query_id", "qtext")
      graft.ops.Retrieval.bm25TopK(t(s, dir, "documents"), qs, k = 10)
    },
      // mirrors Retrieval.bm25TopK token-for-token: Lucene-form idf
      // quantized to 1e-6, one fixed-shape double expression per matched
      // term quantized to integer micros, exact BIGINT sum, ties on doc_id
      """WITH q(query_id, qtext) AS (VALUES
        |    (CAST(1 AS BIGINT), 'vector hash join'),
        |    (CAST(2 AS BIGINT), 'slow scan filter'),
        |    (CAST(3 AS BIGINT), 'customer order stream')),
        |tok AS (
        |  SELECT doc_id,
        |    len(string_split_regex(trim(lower(text)), '\s+')) AS dl,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, dl, term, count(*) AS tf FROM tok GROUP BY 1, 2, 3),
        |dfw AS (
        |  SELECT *, count(*) OVER (PARTITION BY term) AS df_docs FROM tf),
        |stats AS (
        |  SELECT count(DISTINCT doc_id) AS n_docs, sum(tf) AS total_tokens
        |  FROM dfw),
        |qt AS (
        |  SELECT DISTINCT query_id,
        |    unnest(string_split_regex(trim(lower(qtext)), '\s+')) AS term
        |  FROM q),
        |s AS (
        |  SELECT qt.query_id, dfw.doc_id,
        |    sum(CAST(round(
        |      round(ln((CAST(n_docs AS DOUBLE) - CAST(df_docs AS DOUBLE)
        |          + 0.5) / (CAST(df_docs AS DOUBLE) + 0.5) + 1.0), 6)
        |      * (CAST(tf AS DOUBLE) * 2.2
        |         / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75
        |            * (CAST(dl AS DOUBLE) / (CAST(total_tokens AS DOUBLE)
        |               / CAST(n_docs AS DOUBLE))))))
        |      * 1000000.0, 0) AS BIGINT)) AS score_micros
        |  FROM dfw CROSS JOIN stats JOIN qt USING (term)
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY score_micros DESC, doc_id)
        |    AS rank FROM s)
        |SELECT query_id, doc_id,
        |  CAST(score_micros AS DOUBLE) / 1000000.0 AS score, rank
        |FROM r WHERE rank <= 10""".stripMargin),

    // ---- LLM: exact phrase search (quoted-query primitive) ------------
    // docs containing each phrase as CONSECUTIVE tokens: map-side
    // bigram candidates against the broadcast phrase bigrams, then an
    // exact substring confirm over candidate docs only (ops/Retrieval
    // .phraseSearch). The oracle skips the pruning and states the
    // final semantics directly — proving the index loses nothing
    Query("q_phrase_search", (s, dir) => {
      import s.implicits._
      val ps = Seq(
        (1L, "hash join"), (2L, "slow scan"),
        (3L, "customer order stream")).toDF("query_id", "phrase")
      graft.ops.Retrieval.phraseSearch(t(s, dir, "documents"), ps)
    },
      // states phraseSearch's FINAL semantics directly (consecutive-token
      // containment over the normalized token stream) with no bigram
      // pruning — a candidate the index missed would fail this oracle
      """WITH q(query_id, phrase) AS (VALUES
        |    (CAST(1 AS BIGINT), 'hash join'),
        |    (CAST(2 AS BIGINT), 'slow scan'),
        |    (CAST(3 AS BIGINT), 'customer order stream'))
        |SELECT q.query_id, d.doc_id
        |FROM documents d CROSS JOIN q
        |WHERE contains(
        |  ' ' || array_to_string(
        |    string_split_regex(trim(lower(d.text)), '\s+'), ' ') || ' ',
        |  ' ' || trim(lower(q.phrase)) || ' ')""".stripMargin),

    // ---- LLM: boolean AND retrieval (exact conjunctive match set) -----
    // the docs containing EVERY term of each query: corpus explodes to
    // distinct (doc, term), broadcast query-term join kills non-query
    // terms map-side, conjunction = matched-count == distinct-term
    // count (ops/Retrieval.booleanSearch). The 4-term query and the
    // query with a term the corpus lacks pin both pruning directions
    Query("q_bool_search", (s, dir) => {
      import s.implicits._
      val qs = Seq(
        (1L, "vector hash join"), (2L, "merge stream window filter"),
        (3L, "customer zzz-absent-term")).toDF("query_id", "qtext")
      graft.ops.Retrieval.booleanSearch(t(s, dir, "documents"), qs)
    },
      // mirrors Retrieval.booleanSearch: distinct doc terms join the
      // distinct query terms, docs whose matched-term count equals the
      // query's term count qualify
      """WITH q(query_id, qtext) AS (VALUES
        |    (CAST(1 AS BIGINT), 'vector hash join'),
        |    (CAST(2 AS BIGINT), 'merge stream window filter'),
        |    (CAST(3 AS BIGINT), 'customer zzz-absent-term')),
        |dt AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |qt AS (
        |  SELECT DISTINCT query_id,
        |    unnest(string_split_regex(trim(lower(qtext)), '\s+')) AS term
        |  FROM q),
        |n AS (SELECT query_id, count(*) AS n_terms FROM qt GROUP BY 1)
        |SELECT m.query_id, m.doc_id
        |FROM (
        |  SELECT qt.query_id, dt.doc_id, count(*) AS matched
        |  FROM dt JOIN qt USING (term) GROUP BY 1, 2) m
        |JOIN n USING (query_id)
        |WHERE m.matched = n.n_terms""".stripMargin),

    // ---- LLM: persisted inverted index -> bucket-pruned search --------
    // build the bucketed postings index (parquet partitionBy on
    // crc32(term) % 64), then run conjunctive search THROUGH the index:
    // only the query terms' partition directories are read (pruning
    // pinned in RetrievalSpec). The oracle states boolean-search
    // semantics with NO index — an index that loses a posting fails the
    // hash (ops/Retrieval.buildIndex/searchIndex)
    Query("q_index_search", (s, dir) => {
      val tmp = scratchDir("graft-invidx-q").toString
      graft.ops.Retrieval.buildIndex(t(s, dir, "documents"), tmp)
      graft.ops.Retrieval.searchIndex(s, tmp, Map(
        1L -> "vector hash join", 2L -> "merge stream window filter",
        3L -> "customer zzz-absent-term"))
    },
      // index-free statement of q_index_search's final semantics: same
      // query set as q_bool_search — a bucket-pruned read that lost a
      // posting would fail this hash
      """WITH q(query_id, qtext) AS (VALUES
        |    (CAST(1 AS BIGINT), 'vector hash join'),
        |    (CAST(2 AS BIGINT), 'merge stream window filter'),
        |    (CAST(3 AS BIGINT), 'customer zzz-absent-term')),
        |dt AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |qt AS (
        |  SELECT DISTINCT query_id,
        |    unnest(string_split_regex(trim(lower(qtext)), '\s+')) AS term
        |  FROM q),
        |n AS (SELECT query_id, count(*) AS n_terms FROM qt GROUP BY 1)
        |SELECT m.query_id, m.doc_id
        |FROM (
        |  SELECT qt.query_id, dt.doc_id, count(*) AS matched
        |  FROM dt JOIN qt USING (term) GROUP BY 1, 2) m
        |JOIN n USING (query_id)
        |WHERE m.matched = n.n_terms""".stripMargin),

    // ---- LLM: int8 quantization error bounds (all-double mirror) ------
    // the oracle recomputes quantize→dequantize in DOUBLE arithmetic on
    // both engines (float→double casts are exact, round() ties-away on
    // both), pinning scale and the max reconstruction error per vector
    Query("q_embed_quant", (s, dir) => {
      val v = col("embedding")
      val scale = array_max(transform(v, x => abs(x.cast("double")))) / lit(127d)
      val deq = transform(v, x => round(x.cast("double") / scale) * scale)
      val err = array_max(zip_with(v, deq,
        (x, d) => abs(x.cast("double") - d)))
      t(s, dir, "embeddings").select(col("vec_id"),
        round(scale, 6).as("scale"), round(err, 6).as("max_err"))
    },
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127 AS scale
        |  FROM e)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  round(list_max(list_transform(v,
        |    x -> abs(x - round(x / scale) * scale))), 6) AS max_err
        |FROM s""".stripMargin),

    // ---- LLM: JL random projection (embedding storage reduction) ------
    // 64 floats -> 16 exact BIGINT components via the md5-derived ±1
    // sign matrix (Similarity.randomProject); the oracle rebuilds the
    // matrix from the same md5 formula and replays the integer algebra,
    // so the row is bit-exact by construction. Joined to a sortable
    // scalar for the comparator (the dedupLines pattern).
    Query("q_random_project", (s, dir) =>
      Similarity.randomProject(t(s, dir, "embeddings"),
          "vec_id", "embedding", inDim = 64, outDim = 16)
        .select(col("vec_id"),
          array_join(col("proj"), "|").as("proj_joined")),
      // rebuilds the ±1 sign matrix from the identical md5 formula and
      // replays the micros-quantized integer projection — exact BIGINTs,
      // no float seam anywhere
      """WITH s AS (
        |  SELECT j.j, i.i,
        |    CASE WHEN ('0x' || substring(md5('rp:' || j.j || ':' || i.i), 1, 8))
        |              ::BIGINT % 2 = 0 THEN 1 ELSE -1 END AS sgn
        |  FROM generate_series(0, 15) j(j), generate_series(0, 63) i(i)),
        |e AS (
        |  SELECT vec_id, i.i,
        |    CAST(round(CAST(embedding[i.i + 1] AS DOUBLE) * 1000000.0, 0)
        |      AS BIGINT) AS x
        |  FROM embeddings, generate_series(0, 63) i(i)
        |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |p AS (
        |  SELECT vec_id, j, CAST(sum(sgn * x) AS BIGINT) AS pj
        |  FROM e JOIN s USING (i) GROUP BY vec_id, j)
        |SELECT vec_id,
        |  string_agg(CAST(pj AS VARCHAR), '|' ORDER BY j) AS proj_joined
        |FROM p GROUP BY vec_id""".stripMargin),

    // ---- LLM: embedding L2 norms (codegen'd self-dot, map-only) -------
    Query("q_embed_norm", (s, dir) => {
      Graft.init(s)
      t(s, dir, "embeddings").select(col("vec_id"),
        round(sqrt(graft.functions.VectorExprs.dot(col("embedding"),
          col("embedding"))), 4).as("l2_norm"))
    },
      """SELECT vec_id,
        |  round(sqrt(list_aggregate(
        |    list_transform(CAST(embedding AS DOUBLE[]), x -> x*x), 'sum')), 4)
        |    AS l2_norm
        |FROM embeddings""".stripMargin),

    // ---- LLM: cosine scoring against a query vector (exact, codegen'd) -
    Query("q_ann_cosine", (s, dir) => {
      Graft.init(s)
      val emb = t(s, dir, "embeddings")
      val q = queryVec(emb)
      emb.where(col("vec_id") < 200)
        .select(col("vec_id"),
          round(graft.functions.VectorExprs.cosineSim(col("embedding"),
            typedLit(q)), 4).as("cosine"))
    },
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                               CAST(q.embedding AS DOUBLE[])), 4) AS cosine
        |FROM embeddings e, q WHERE e.vec_id < 200""".stripMargin),

    // ---- LLM: brute-force exact top-k ANN -----------------------------
    Query("q_ann_topk", (s, dir) => {
      Graft.init(s)
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", queryVec(emb), 10)
        .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
    },
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, round(cos_raw, 4) AS cosine FROM (
        |  SELECT e.vec_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                           CAST(q.embedding AS DOUBLE[])) AS cos_raw
        |  FROM embeddings e, q) t
        |ORDER BY cos_raw DESC, vec_id LIMIT 10""".stripMargin),

    // ---- LLM: LSH-bucketed approximate top-k ANN (the scale path) -----
    // Planted-truth oracle (VERDICT r3 ask #3, pattern of
    // q_cosine_neardups): EXACT copies of the probe vector are planted at
    // ids 100000..100009. An identical vector has identical hyperplane
    // sign bits, so every planted copy lands in each of the probe's exact
    // buckets — recall is guaranteed, not probabilistic. 11 vectors then
    // score cosine 1.0 (the probe itself + 10 copies) and no natural
    // vector reaches 1.0 (max natural pairwise cosine in the fixture is
    // ~0.51), so top-10 by (cosine desc, id asc) is closed-form:
    // vec_id 0, then 100000..100008.
    Query("q_ann_lsh", (s, dir) => {
      Graft.init(s)
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val q = queryVec(emb)
      val planted = emb.where(col("vec_id") < 10)
        .select((col("vec_id") + 100000L).as("vec_id"),
          typedLit(q).as("embedding"))
      Similarity.lshTopK(emb.unionByName(planted), "vec_id", "embedding", q, 10)
        .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
    },
      // planted-truth closed forms (see the query comments): guaranteed-
      // recall exact copies at 100000..100009 + the probe itself fill the
      // top-10 at cosine 1.0, id-ascending
      """SELECT vec_id, 1.0 AS cosine FROM embeddings WHERE vec_id = 0
        |UNION ALL
        |SELECT vec_id + 100000 AS vec_id, 1.0 AS cosine
        |FROM embeddings WHERE vec_id < 9""".stripMargin),

    // ---- LLM: IVF ANN (k-means coarse quantizer + probe-limited scan) -
    // Routed through the PERSISTENT index lifecycle (Ivf.index -> save
    // partitioned-by-cluster -> load -> probe), so the verified path is
    // the one a real user runs and the probe partition-prunes instead of
    // recomputing assignments (VERDICT r3 ask #2). Same planted-truth
    // oracle as q_ann_lsh: identical copies share the probe's cluster by
    // construction (identical argmax input), recall is guaranteed, and
    // the top-10 is the same closed form.
    Query("q_ann_ivf", (s, dir) => {
      Graft.init(s)
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val q = queryVec(emb)
      val planted = emb.where(col("vec_id") < 10)
        .select((col("vec_id") + 100000L).as("vec_id"),
          typedLit(q).as("embedding"))
      val tmp = scratchDir("graft-ivf-q").toString
      Ivf.save(Ivf.index(emb.unionByName(planted), "vec_id", "embedding"), tmp)
      Ivf.probe(Ivf.load(s, tmp), q, 10)
        .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
    },
      """SELECT vec_id, 1.0 AS cosine FROM embeddings WHERE vec_id = 0
        |UNION ALL
        |SELECT vec_id + 100000 AS vec_id, 1.0 AS cosine
        |FROM embeddings WHERE vec_id < 9""".stripMargin),

    // ---- LLM: embedding near-dup pairs (banded sign-LSH + confirm) ----
    // The fixture corpus has no natural near-dups (max pairwise cosine
    // 0.51), so the query plants one duplicate per vec_id < 50 — a 2x
    // scaled copy, which preserves direction exactly: cosine 1.0,
    // identical sign bits on every hyperplane, hence guaranteed LSH
    // recall. Expected output is exactly those 50 pairs (oracle below).
    Query("q_cosine_neardups", (s, dir) => {
      Graft.init(s)
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.where(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
            .as("embedding"))
      Similarity.cosineNearDups(emb.unionByName(planted), "vec_id",
        "embedding", threshold = 0.9)
    },
      """SELECT vec_id AS id_a, vec_id + 100000 AS id_b, 1.0 AS cosine
        |FROM embeddings WHERE vec_id < 50""".stripMargin),

    // ---- LLM: k-nearest-neighbor join (top-k similar per document) ----
    // same planted direction-preserving copies as q_cosine_neardups:
    // each planted probe's rank-1 neighbor is its original at cosine 1.0
    // (identical sign bits => in-bucket; natural cosines max ~0.51)
    Query("q_knn", (s, dir) => {
      Graft.init(s)
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.where(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
            .as("embedding"))
      Similarity.knnJoin(emb.unionByName(planted), "vec_id", "embedding",
          k = 1)
        .where(col("qid") >= 100000L)
        .select(col("qid"), col("nid"), col("cosine"),
          col("rank").as("nn_rank"))
    },
      """SELECT vec_id + 100000 AS qid, vec_id AS nid, 1.0 AS cosine,
        |  CAST(1 AS BIGINT) AS nn_rank
        |FROM embeddings WHERE vec_id < 50""".stripMargin),

    // ---- LLM: SemDeDup-style semantic dedup (keep-first selection) ----
    // planted scaled copies (ids >= 100000) sit at cosine 1.0 from their
    // originals (identical sign bits => guaranteed candidate recall);
    // keep-first drops every planted copy (its original has the smaller
    // id) and no organic row (max natural pairwise cosine ~0.51 < 0.9),
    // so the survivor set is closed-form: exactly the original corpus
    Query("q_semantic_dedup", (s, dir) => {
      Graft.init(s)
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.where(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
            .as("embedding"))
      Similarity.semanticDedup(emb.unionByName(planted), "vec_id",
          "embedding", threshold = 0.9)
        .select(col("vec_id"))
    },
      // keep-first semantic dedup over the same planted corpus: every
      // planted copy (id >= 100000) is dropped against its original, no
      // organic row has a neighbor above 0.9 — survivors = the corpus
      """SELECT vec_id FROM embeddings""".stripMargin),

    // ---- LLM: semantic dedup, SELF-SIZED LSH granularity --------------
    // the same planted corpus through rowsPerBand = -1 (round 9): one
    // corpus count() picks r = ceil(log2(2n)) and bands = r. The
    // survivor set is granularity-INDEPENDENT (exact copies share every
    // band at any r; no organic pair reaches 0.9), so this shares
    // q_semantic_dedup's closed-form oracle — what it adds is coverage
    // of the auto path end-to-end, and a scaling-curve row that stays
    // near-linear where the fixed default grows ~9x per decade
    Query("q_semantic_dedup_auto", (s, dir) => {
      Graft.init(s)
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.where(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
            .as("embedding"))
      Similarity.semanticDedup(emb.unionByName(planted), "vec_id",
          "embedding", threshold = 0.9, rowsPerBand = -1)
        .select(col("vec_id"))
    },
      // granularity-independent planted truth (see the query comment)
      """SELECT vec_id FROM embeddings""".stripMargin),

    // ---- LLM: ANN recall harness (self-evaluating) --------------------
    // 10 exact copies of the probe planted at ids >= 100000: the exact
    // top-10 is the probe + 9 copies at cosine 1.0, every copy shares
    // every LSH band and lands in the probe's IVF cluster, so both
    // measured recalls are provably 1.0 — the oracle pins the closed
    // form while the measurement machinery runs for real
    Query("q_ann_recall", (s, dir) => {
      Graft.init(s)
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val q = queryVec(emb)
      val planted = emb.where(col("vec_id") < 10)
        .select((col("vec_id") + 100000L).as("vec_id"),
          typedLit(q).as("embedding"))
      Similarity.annRecall(emb.unionByName(planted), "vec_id", "embedding",
        q, k = 10)
    },
      // closed-form recall (see the query comment): both indexes find the
      // full exact top-10
      """SELECT CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_exact,
        |  1.0 AS lsh_recall, 1.0 AS ivf_recall""".stripMargin),

    // ---- LLM: product quantization + asymmetric-distance top-k --------
    // encode (per-subspace argmin over a planted codebook) + ADC scan,
    // the memory-bound ANN path: codes are m small ints per vector, the
    // query scores rows via LUT lookups without touching raw vectors.
    // The codebook is the deterministic dyadic formula both engines
    // state independently (Pq.plantedModel / pqAdcSql); the trained-
    // codebook path (Pq.train) is pinned in PqSpec.
    Query("q_pq_adc", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Pq.adcTopK(emb, "vec_id", "embedding",
        Pq.plantedModel(64, 4, 4), queryVec(emb), 10)
    },
      pqAdcSql(64, 4, 4, 10)),

    // ---- LLM: hybrid retrieval via reciprocal rank fusion -------------
    // BM25 top-20 (lexical) fused with cosine-to-probe top-20 (dense,
    // embeddings keyed 1:1 with doc ids in the fixture) by RRF — ranks
    // only, exact integer micros, so the fusion stage has zero float.
    // The semantic rank orders by the 4dp-rounded cosine with an id
    // tie-break (the q_ann_cosine determinism contract)
    // (ops/Retrieval.rrfFuse)
    Query("q_rrf_hybrid", (s, dir) => {
      import s.implicits._
      Graft.init(s)
      val qs = Seq((0L, "vector hash join")).toDF("query_id", "qtext")
      val lexical = graft.ops.Retrieval
        .bm25TopK(t(s, dir, "documents"), qs, k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val probe = queryVec(emb)
      val wsem = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("doc_id"))
      val semantic = emb
        .select(lit(0L).as("query_id"), col("vec_id").as("doc_id"),
          round(graft.functions.VectorExprs.cosineSim(col("embedding"),
            typedLit(probe)), 4).as("cosine"))
        .withColumn("rank", row_number().over(wsem))
        .where(col("rank") <= 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      graft.ops.Retrieval.rrfFuse(Seq(lexical, semantic),
        "query_id", "doc_id", "rank", k0 = 60, topK = 10)
    },
      // mirrors the q_rrf_hybrid composition: the q_bm25 oracle CTEs at
      // k=20 for the single query, the q_ann_cosine rounding contract for
      // the dense rank, then pure-integer RRF
      """WITH tok AS (
        |  SELECT doc_id,
        |    len(string_split_regex(trim(lower(text)), '\s+')) AS dl,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, dl, term, count(*) AS tf FROM tok GROUP BY 1, 2, 3),
        |dfw AS (
        |  SELECT *, count(*) OVER (PARTITION BY term) AS df_docs FROM tf),
        |stats AS (
        |  SELECT count(DISTINCT doc_id) AS n_docs, sum(tf) AS total_tokens
        |  FROM dfw),
        |qt AS (
        |  SELECT DISTINCT unnest(['vector', 'hash', 'join']) AS term),
        |s AS (
        |  SELECT dfw.doc_id,
        |    sum(CAST(round(
        |      round(ln((CAST(n_docs AS DOUBLE) - CAST(df_docs AS DOUBLE)
        |          + 0.5) / (CAST(df_docs AS DOUBLE) + 0.5) + 1.0), 6)
        |      * (CAST(tf AS DOUBLE) * 2.2
        |         / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75
        |            * (CAST(dl AS DOUBLE) / (CAST(total_tokens AS DOUBLE)
        |               / CAST(n_docs AS DOUBLE))))))
        |      * 1000000.0, 0) AS BIGINT)) AS score_micros
        |  FROM dfw CROSS JOIN stats JOIN qt USING (term)
        |  GROUP BY 1),
        |lex AS (
        |  SELECT doc_id, rank FROM (
        |    SELECT doc_id, row_number() OVER (
        |      ORDER BY score_micros DESC, doc_id) AS rank FROM s)
        |  WHERE rank <= 20),
        |qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |sem AS (
        |  SELECT doc_id, rank FROM (
        |    SELECT e.vec_id AS doc_id, row_number() OVER (
        |      ORDER BY round(list_cosine_similarity(
        |        CAST(e.embedding AS DOUBLE[]),
        |        CAST(qv.embedding AS DOUBLE[])), 4) DESC, e.vec_id) AS rank
        |    FROM embeddings e, qv)
        |  WHERE rank <= 20),
        |fused AS (
        |  SELECT doc_id,
        |    CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_micros,
        |    count(*) AS n_lists
        |  FROM (SELECT * FROM lex UNION ALL SELECT * FROM sem)
        |  GROUP BY doc_id)
        |SELECT CAST(0 AS BIGINT) AS query_id, doc_id, rrf_micros, n_lists,
        |  rank FROM (
        |  SELECT *, row_number() OVER (
        |    ORDER BY rrf_micros DESC, doc_id) AS rank FROM fused)
        |WHERE rank <= 10""".stripMargin),

    // ---- extension: diversity-balanced embedding sample ---------------
    // at most 4 vectors per sign-orthant of the first 6 embedding dims
    // (axis-aligned LSH — sign tests on stored values, zero float
    // arithmetic, so the whole selection replays in SQL), md5(id:seed)
    // priority within a bucket (ops/Sampling.diverseSample)
    Query("q_diverse_sample", (s, dir) =>
      graft.ops.Sampling.diverseSample(t(s, dir, "embeddings"),
        "vec_id", "embedding", signDims = 6, perBucket = 4),
      // mirrors Sampling.diverseSample: same sign-orthant key from the
      // stored floats (1-indexed arrays in DuckDB), same md5 priority
      """WITH b AS (
        |  SELECT vec_id,
        |    CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
        |       + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
        |       + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
        |       + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
        |       + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
        |      AS BIGINT) AS bucket,
        |    md5(vec_id::VARCHAR || ':42') AS pri
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) >= 6)
        |SELECT vec_id, bucket FROM b
        |QUALIFY row_number() OVER (
        |  PARTITION BY bucket ORDER BY pri, vec_id) <= 4""".stripMargin)
  )
}
