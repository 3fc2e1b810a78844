package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Fixtures._

/** Graph algorithms over the transaction and supplier graphs, and the
  * planar spatial joins. */
private[graft] object GraphQueries {

  /** DuckDB replay of Graph.pageRank on the undirected supplier<->
    * customer graph: the 5 iterations unrolled as chained CTE stages,
    * in the op's FIXED-POINT integer arithmetic — BIGINT nano-scale
    * ranks, truncating `(rank_n * 85) // (odeg * 100)` contributions
    * (`//` floors, `div` truncates: identical on the all-positive
    * ranks), exact BIGINT sums, one final divide to double. No float
    * appears inside the loop on either engine, so there is nothing to
    * round differently (a double→DECIMAL contribution variant measured
    * 473/16k rows off by 1e-8 at sf0.1). Graph CTEs are MATERIALIZED:
    * each stage re-references e/od/nodes, and inlining them per stage
    * would re-run the base join five times. */
  private def pageRankSql(iterations: Int, weighted: Boolean): String = {
    val contrib =
      if (weighted) "(r.pr_n * 85 * e.w) // (od.wsum * 100)"
      else "(r.pr_n * 85) // (od.odeg * 100)"
    val stages = (1 to iterations).map { k =>
      s"""r$k AS (
         |  SELECT n.node,
         |    150000000 + coalesce(s.csum, 0) AS pr_n
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node,
         |      CAST(sum($contrib) AS BIGINT) AS csum
         |    FROM e JOIN r${k - 1} r ON e.src = r.node
         |    JOIN od ON e.src = od.src
         |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    val graph =
      if (weighted)
        s"""pr_pairs AS MATERIALIZED (
           |  SELECT 's:' || CAST(l_suppkey AS VARCHAR) AS a,
           |    'c:' || CAST(o_custkey AS VARCHAR) AS b,
           |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS w
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |  GROUP BY 1, 2),
           |e AS MATERIALIZED (
           |  SELECT a AS src, b AS dst, w FROM pr_pairs
           |  UNION ALL SELECT b, a, w FROM pr_pairs),
           |od AS MATERIALIZED (
           |  SELECT src, CAST(sum(w) AS BIGINT) AS wsum FROM e
           |  GROUP BY src)""".stripMargin
      else
        s"""pr_pairs AS MATERIALIZED (
           |  SELECT DISTINCT 's:' || CAST(l_suppkey AS VARCHAR) AS a,
           |    'c:' || CAST(o_custkey AS VARCHAR) AS b
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |e AS MATERIALIZED (
           |  SELECT a AS src, b AS dst FROM pr_pairs
           |  UNION SELECT b, a FROM pr_pairs),
           |od AS MATERIALIZED (
           |  SELECT src, count(*) AS odeg FROM e GROUP BY src)""".stripMargin
    s"""WITH $graph,
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT src AS node FROM e
       |  UNION SELECT DISTINCT dst FROM e),
       |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS pr_n FROM nodes),
       |$stages
       |SELECT node, CAST(pr_n AS DOUBLE) / 1000000000.0 AS pr
       |FROM r$iterations""".stripMargin
  }

  private lazy val PageRankSql: String = pageRankSql(5, weighted = false)

  private lazy val PageRankWeightedSql: String = pageRankSql(5, weighted = true)

  /** Personalized (TrustRank) variant: the unrolled stages re-base each
    * node at its OWN `base_n` — `(seedShare * 15) // 100` on seeds, 0
    * elsewhere — instead of the uniform 0.15; `r0` starts as the seed
    * indicator vector scaled to `1e9 // |S|`. Same fixed-point BIGINT
    * discipline as [[pageRankSql]]. */
  private def personalizedPageRankSql(iterations: Int): String = {
    val stages = (1 to iterations).map { k =>
      s"""r$k AS (
         |  SELECT n.node, n.base_n + coalesce(s.csum, 0) AS pr_n
         |  FROM nodesb n LEFT JOIN (
         |    SELECT e.dst AS node,
         |      CAST(sum((r.pr_n * 85) // (od.odeg * 100)) AS BIGINT) AS csum
         |    FROM e JOIN r${k - 1} r ON e.src = r.node
         |    JOIN od ON e.src = od.src
         |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pr_pairs AS MATERIALIZED (
       |  SELECT DISTINCT 's:' || CAST(l_suppkey AS VARCHAR) AS a,
       |    'c:' || CAST(o_custkey AS VARCHAR) AS b
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM pr_pairs
       |  UNION SELECT b, a FROM pr_pairs),
       |od AS MATERIALIZED (
       |  SELECT src, count(*) AS odeg FROM e GROUP BY src),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT src AS node FROM e
       |  UNION SELECT DISTINCT dst FROM e),
       |seeds AS MATERIALIZED (
       |  SELECT DISTINCT 's:' || CAST(s_suppkey AS VARCHAR) AS node
       |  FROM supplier WHERE s_nationkey < 5),
       |sn AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM seeds),
       |nodesb AS MATERIALIZED (
       |  SELECT n.node,
       |    CASE WHEN s.node IS NULL THEN CAST(0 AS BIGINT)
       |         ELSE ((1000000000 // sn.ns) * 15) // 100 END AS base_n,
       |    CASE WHEN s.node IS NULL THEN CAST(0 AS BIGINT)
       |         ELSE 1000000000 // sn.ns END AS pr_n
       |  FROM nodes n LEFT JOIN seeds s ON n.node = s.node CROSS JOIN sn),
       |r0 AS (SELECT node, pr_n FROM nodesb),
       |$stages
       |SELECT node, CAST(pr_n AS DOUBLE) / 1000000000.0 AS pr
       |FROM r$iterations""".stripMargin
  }

  private lazy val PageRankPersonalizedSql: String = personalizedPageRankSql(5)

  /** Unrolled synchronous label propagation: stage k picks each node's
    * (count DESC, label ASC) argmax over in-neighbor labels from stage
    * k-1, keeping the old label when no messages arrive. Stages are
    * MATERIALIZED — each is referenced twice by its successor (message
    * source and fallback), so inlining would double the work per
    * round. No arithmetic anywhere: cross-engine exactness is the
    * total order alone. */
  private def labelPropagationSql(iterations: Int): String = {
    val stages = (1 to iterations).map { k =>
      s"""l$k AS MATERIALIZED (
         |  SELECT p.node, coalesce(w.lab, p.lab) AS lab
         |  FROM l${k - 1} p LEFT JOIN (
         |    SELECT dst AS node, lab FROM (
         |      SELECT dst, lab, row_number() OVER (PARTITION BY dst
         |          ORDER BY c DESC, lab ASC) AS rn
         |      FROM (SELECT e.dst, r.lab, count(*) AS c
         |        FROM e JOIN l${k - 1} r ON e.src = r.node
         |        GROUP BY e.dst, r.lab) g) t
         |    WHERE rn = 1) w ON p.node = w.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH sp AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sup
       |  FROM lineitem WHERE l_quantity > 45),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT CAST(x.sup AS VARCHAR) AS src,
       |    CAST(y.sup AS VARCHAR) AS dst
       |  FROM sp x JOIN sp y ON x.ok = y.ok AND x.sup <> y.sup),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT src AS node FROM e
       |  UNION SELECT DISTINCT dst FROM e),
       |l0 AS (SELECT node, node AS lab FROM nodes),
       |$stages
       |SELECT node, lab FROM l$iterations""".stripMargin
  }

  private lazy val CommunitiesSql: String = labelPropagationSql(5)

  /** Unrolled k-core peeling: stage j keeps nodes whose degree in the
    * stage-(j-1) survivor subgraph is ≥ k. The k-core is a unique
    * fixpoint (peel order can't change it), so the oracle just needs
    * ENOUGH stages to stabilize — the deepest cascade measured on the
    * fixture co-supplier graph is 8 rounds (k=18 empties sf0.1); 10
    * stages leave slack, and a too-shallow unroll would surface as a
    * hash mismatch, not a silent pass. */
  private def kCoreSql(k: Int, stages: Int): String = {
    val rounds = (1 to stages).map { j =>
      s"""c$j AS MATERIALIZED (
         |  SELECT src AS node FROM e
         |  WHERE src IN (SELECT node FROM c${j - 1})
         |    AND dst IN (SELECT node FROM c${j - 1})
         |  GROUP BY src HAVING count(*) >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH sp AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sup
       |  FROM lineitem WHERE l_quantity > 45),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT CAST(x.sup AS VARCHAR) AS src,
       |    CAST(y.sup AS VARCHAR) AS dst
       |  FROM sp x JOIN sp y ON x.ok = y.ok AND x.sup <> y.sup),
       |c0 AS (SELECT DISTINCT src AS node FROM e),
       |$rounds
       |SELECT src AS node, CAST(count(*) AS BIGINT) AS core_degree
       |FROM e
       |WHERE src IN (SELECT node FROM c$stages)
       |  AND dst IN (SELECT node FROM c$stages)
       |GROUP BY src""".stripMargin
  }

  private lazy val KCoreSql: String = kCoreSql(15, 10)

  /** Customers as deterministic integer micro-degree points for the geo
    * family: md5-derived uniform (x, y), the cross-engine bucketOf
    * convention widened to 12 hex digits (48 bits, exact in BIGINT). */
  private def geoPoints(s: SparkSession, dir: String): DataFrame = {
    def axis(tag: String, mod: Long) =
      conv(substring(md5(concat(col("c_custkey").cast("string"),
        lit(":" + tag)).cast("binary")), 1, 12), 16, 10)
        .cast("long") % mod
    t(s, dir, "customer").select(col("c_custkey").as("pid"),
      axis("x", 360000000L).as("x"), axis("y", 180000000L).as("y"))
  }

  val queries: Seq[Query] = Seq(

    // ---- extension: PageRank over the transaction graph ---------------
    // undirected supplier<->customer co-transaction graph (both edge
    // directions), 5 join+aggregate iterations in fixed-point BIGINT
    // nano-units (truncating integer division per edge, exact integer
    // sums) — bit-identical across engines AND partitionings
    Query("q_pagerank", (s, dir) => {
      // dedup BEFORE mirroring (half the distinct width) and BEFORE
      // stringification (the distinct shuffles 16-byte int pairs, not
      // concatenated strings); the mirrored union is then distinct by
      // construction — the s:/c: prefixes make the two directions
      // disjoint — so the op can skip its own parallel-edge collapse
      val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"), col("o_custkey").as("ck"))
        .distinct()
        .select(concat(lit("s:"), col("sk")).as("a"),
          concat(lit("c:"), col("ck")).as("b"))
      val edges = pairs.unionByName(
        pairs.select(col("b").as("a"), col("a").as("b")))
      graft.ops.Graph.pageRank(edges, "a", "b", iterations = 5,
        assumeDistinct = true)
    },
      // mirrors Graph.pageRank on the undirected supplier<->customer
      // graph: 5 unrolled iterations in fixed-point BIGINT nano-units —
      // no float inside the loop on either engine (see pageRankSql)
      PageRankSql),

    // ---- extension: multi-source BFS (blast radius) -------------------
    // min hop count from the nation-0 suppliers over the mirrored
    // supplier<->customer graph, capped at 3 hops: frontier expansion
    // with broadcast state, edges never shuffle (ops/Graph.bfsHops).
    // Pure set membership + integer levels — nothing to round
    Query("q_bfs_hops", (s, dir) => {
      val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"), col("o_custkey").as("ck"))
        .distinct()
        .select(concat(lit("s:"), col("sk")).as("a"),
          concat(lit("c:"), col("ck")).as("b"))
      val edges = pairs.unionByName(
        pairs.select(col("b").as("a"), col("a").as("b")))
      val seeds = t(s, dir, "supplier").where(col("s_nationkey") === 0)
        .select(concat(lit("s:"), col("s_suppkey")).as("seed"))
      graft.ops.Graph.bfsHops(edges, "a", "b", seeds, "seed", maxHops = 3)
    },
      // mirrors Graph.bfsHops as a bounded recursive CTE: UNION-dedup'd
      // (node, hops) pairs expand until the 3-hop cap, min(hops) per node
      // is exactly the frontier BFS's first-touch level
      """WITH RECURSIVE pr_pairs AS MATERIALIZED (
        |  SELECT DISTINCT 's:' || CAST(l_suppkey AS VARCHAR) AS a,
        |    'c:' || CAST(o_custkey AS VARCHAR) AS b
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS MATERIALIZED (
        |  SELECT a AS src, b AS dst FROM pr_pairs
        |  UNION SELECT b, a FROM pr_pairs),
        |seeds AS (
        |  SELECT DISTINCT 's:' || CAST(s_suppkey AS VARCHAR) AS node
        |  FROM supplier WHERE s_nationkey = 0),
        |d AS (
        |  SELECT node, 0 AS hops FROM seeds
        |  UNION
        |  SELECT e.dst, d.hops + 1 FROM d JOIN e ON e.src = d.node
        |  WHERE d.hops < 3)
        |SELECT node, CAST(min(hops) AS INT) AS hops
        |FROM d GROUP BY node""".stripMargin),

    // ---- extension: bounded weighted shortest paths -------------------
    // cheapest ≤2-hop route from the nation-0 suppliers over the
    // weighted supplier<->customer graph (weight = distinct shared
    // orders): fixed-round Bellman-Ford relaxation, exact BIGINT sums
    // (ops/Graph.shortestPaths)
    Query("q_shortest_paths", (s, dir) => {
      val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_suppkey").as("sk"), col("o_custkey").as("ck"))
        .agg(countDistinct(col("l_orderkey")).as("w"))
        .select(concat(lit("s:"), col("sk")).as("a"),
          concat(lit("c:"), col("ck")).as("b"), col("w"))
      val edges = pairs.unionByName(
        pairs.select(col("b").as("a"), col("a").as("b"), col("w")))
      val seeds = t(s, dir, "supplier").where(col("s_nationkey") === 0)
        .select(concat(lit("s:"), col("s_suppkey")).as("seed"))
      graft.ops.Graph.shortestPaths(edges, "a", "b", "w", seeds, "seed",
        maxHops = 2)
    },
      // mirrors Graph.shortestPaths: depth-capped recursive relaxation,
      // min(dist) per node over the enumerated path sums — parallel
      // edges pre-collapsed to their lightest, as in the op
      """WITH RECURSIVE sp_pairs AS MATERIALIZED (
        |  SELECT 's:' || CAST(l_suppkey AS VARCHAR) AS a,
        |    'c:' || CAST(o_custkey AS VARCHAR) AS b,
        |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |e0 AS (
        |  SELECT a AS src, b AS dst, w FROM sp_pairs
        |  UNION ALL SELECT b, a, w FROM sp_pairs),
        |e AS MATERIALIZED (
        |  SELECT src, dst, min(w) AS w FROM e0 GROUP BY 1, 2),
        |seeds AS (
        |  SELECT DISTINCT 's:' || CAST(s_suppkey AS VARCHAR) AS node
        |  FROM supplier WHERE s_nationkey = 0),
        |d AS (
        |  SELECT node, CAST(0 AS BIGINT) AS dist, 0 AS depth FROM seeds
        |  UNION
        |  SELECT e.dst, d.dist + e.w, d.depth + 1
        |  FROM d JOIN e ON e.src = d.node
        |  WHERE d.depth < 2)
        |SELECT node, min(dist) AS dist FROM d GROUP BY node""".stripMargin),

    // ---- extension: WEIGHTED PageRank ---------------------------------
    // same graph, edges weighted by the number of distinct shared
    // orders; rank splits across out-edges in weight proportion — the
    // whole loop stays in exact fixed-point integers because the
    // weights are integral
    Query("q_pagerank_weighted", (s, dir) => {
      val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_suppkey").as("sk"), col("o_custkey").as("ck"))
        .agg(countDistinct(col("l_orderkey")).as("w"))
        .select(concat(lit("s:"), col("sk")).as("a"),
          concat(lit("c:"), col("ck")).as("b"), col("w"))
      val edges = pairs.unionByName(
        pairs.select(col("b").as("a"), col("a").as("b"), col("w")))
      graft.ops.Graph.pageRank(edges, "a", "b", iterations = 5,
        assumeDistinct = true, weightCol = Some("w"))
    },
      // weighted variant: same unrolled fixed-point stages with
      // (pr_n * 85 * w) // (wsum * 100) contributions
      PageRankWeightedSql),

    // ---- extension: personalized PageRank (TrustRank) -----------------
    // teleport mass lands only on trusted seed suppliers (nations 0-4);
    // rank then measures proximity-to-trust — the corpus-curation prior
    // for separating reputable sources from spam farms
    Query("q_pagerank_personalized", (s, dir) => {
      val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"), col("o_custkey").as("ck"))
        .distinct()
        .select(concat(lit("s:"), col("sk")).as("a"),
          concat(lit("c:"), col("ck")).as("b"))
      val edges = pairs.unionByName(
        pairs.select(col("b").as("a"), col("a").as("b")))
      val seeds = t(s, dir, "supplier").where(col("s_nationkey") < 5)
        .select(concat(lit("s:"), col("s_suppkey")).as("node"))
      graft.ops.Graph.personalizedPageRank(edges, "a", "b",
        seeds, "node", iterations = 5, assumeDistinct = true)
    },
      // personalized variant: per-node base_n (seed share vs 0) and a
      // seed-indicator r0 replace the uniform constants
      PageRankPersonalizedSql),

    // ---- extension: communities (label propagation) -------------------
    // synchronous LPA with the (count DESC, label ASC) deterministic
    // tie-break over the co-supplier graph — which suppliers cluster
    // into the same dense co-occurrence neighborhood
    Query("q_communities", (s, dir) => {
      val sp = t(s, dir, "lineitem").where(col("l_quantity") > 45)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sup"))
        .distinct()
      val pairs = sp.as("x")
        .join(sp.as("y"),
          col("x.ok") === col("y.ok") && col("x.sup") =!= col("y.sup"))
        .select(col("x.sup").as("sa"), col("y.sup").as("sb"))
      graft.ops.Graph.labelPropagation(pairs, "sa", "sb", iterations = 5)
    },
      // synchronous LPA unrolled; determinism rests on the total-order
      // tie-break, not on any arithmetic convention
      CommunitiesSql),

    // ---- extension: connected components (generic graph) --------------
    // min-label propagation with convergence probe over the co-supplier
    // graph — which suppliers are transitively connected at all (the
    // coarse partition label propagation refines into communities)
    Query("q_graph_components", (s, dir) => {
      val sp = t(s, dir, "lineitem").where(col("l_quantity") > 45)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sup"))
        .distinct()
      val pairs = sp.as("x")
        .join(sp.as("y"),
          col("x.ok") === col("y.ok") && col("x.sup") =!= col("y.sup"))
        .select(col("x.sup").as("sa"), col("y.sup").as("sb"))
      graft.ops.Graph.connectedComponents(pairs, "sa", "sb")
    },
      // components are a graph INVARIANT: the oracle takes the true
      // reachability fixpoint via a recursive CTE — no need to mirror the
      // engine's round count
      """WITH RECURSIVE sp AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sup
        |  FROM lineitem WHERE l_quantity > 45),
        |e AS (
        |  SELECT DISTINCT CAST(x.sup AS VARCHAR) AS src,
        |    CAST(y.sup AS VARCHAR) AS dst
        |  FROM sp x JOIN sp y ON x.ok = y.ok AND x.sup <> y.sup),
        |reach(node, r) AS (
        |  SELECT DISTINCT src, src FROM e
        |  UNION
        |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.node)
        |SELECT node, min(r) AS component FROM reach GROUP BY node""".stripMargin),

    // ---- extension: k-core decomposition ------------------------------
    // peel-to-stability on the co-supplier graph at k=15: the dense
    // co-occurrence core (82/100 suppliers at sf0.01, 952/1000 at
    // sf0.1) that pendant edges can't fake their way into
    Query("q_kcore", (s, dir) => {
      val sp = t(s, dir, "lineitem").where(col("l_quantity") > 45)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sup"))
        .distinct()
      val pairs = sp.as("x")
        .join(sp.as("y"),
          col("x.ok") === col("y.ok") && col("x.sup") =!= col("y.sup"))
        .select(col("x.sup").as("sa"), col("y.sup").as("sb"))
      graft.ops.Graph.kCore(pairs, "sa", "sb", k = 15)
    },
      // the k-core is a unique fixpoint: 10 unrolled peel stages (≥ the
      // deepest measured cascade) reach it without mirroring the engine's
      // adaptive round count
      KCoreSql),

    // ---- extension: triangle counting ---------------------------------
    // co-supplier graph (suppliers sharing a high-quantity order),
    // degree-oriented wedge join — the orientation bounds wedge work by
    // arboricity, so a hub generates no wedges
    Query("q_triangles", (s, dir) => {
      val sp = t(s, dir, "lineitem").where(col("l_quantity") > 45)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))
        .distinct()
      val pairs = sp.as("x")
        .join(sp.as("y"),
          col("x.ok") === col("y.ok") && col("x.s") =!= col("y.s"))
        .select(col("x.s").as("sa"), col("y.s").as("sb"))
      graft.ops.Graph.triangleCount(pairs, "sa", "sb")
    },
      // triangle count is a graph INVARIANT — the oracle counts the same
      // set with the classic ordered 3-way self-join, no need to mirror
      // the engine's degree-oriented wedge internals
      """WITH sp AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s
        |  FROM lineitem WHERE l_quantity > 45),
        |und AS (
        |  SELECT DISTINCT least(x.s, y.s) AS a, greatest(x.s, y.s) AS b
        |  FROM sp x JOIN sp y ON x.ok = y.ok AND x.s <> y.s)
        |SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |FROM und e1
        |JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
        |JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b""".stripMargin),

    // ---- extension: link prediction (common neighbors + RA index) -----
    // distance-2 non-edges of the co-supplier graph, scored by shared-
    // neighbor count and the fixed-point Resource-Allocation index
    Query("q_link_predict", (s, dir) => {
      val sp = t(s, dir, "lineitem").where(col("l_quantity") > 45)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))
        .distinct()
      val pairs = sp.as("x")
        .join(sp.as("y"),
          col("x.ok") === col("y.ok") && col("x.s") =!= col("y.s"))
        .select(col("x.s").cast("string").as("sa"),
          col("y.s").cast("string").as("sb"))
      graft.ops.Graph.linkPredictions(pairs, "sa", "sb")
    },
      // mirrors Graph.linkPredictions: string-canonical undirected edges,
      // center-keyed wedges, fixed-point RA accumulation (1e9 // d), and
      // the existing-edge anti join
      """WITH sp AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s
        |  FROM lineitem WHERE l_quantity > 45),
        |und AS (
        |  SELECT DISTINCT
        |    least(CAST(x.s AS VARCHAR), CAST(y.s AS VARCHAR)) AS a,
        |    greatest(CAST(x.s AS VARCHAR), CAST(y.s AS VARCHAR)) AS b
        |  FROM sp x JOIN sp y ON x.ok = y.ok AND x.s <> y.s),
        |adj AS (
        |  SELECT a AS n, b AS nb FROM und
        |  UNION ALL SELECT b, a FROM und),
        |deg AS (SELECT n, count(*) AS d FROM adj GROUP BY n),
        |ctr AS (
        |  SELECT adj.n, adj.nb, deg.d FROM adj JOIN deg ON adj.n = deg.n
        |  WHERE deg.d <= 100000),
        |w AS (
        |  SELECT x.nb AS n1, y.nb AS n2, x.d AS d
        |  FROM ctr x JOIN ctr y ON x.n = y.n AND x.nb < y.nb),
        |s AS (
        |  SELECT n1, n2, CAST(count(*) AS BIGINT) AS common_neighbors,
        |    CAST(sum(1000000000 // d) AS BIGINT) AS ra_n
        |  FROM w GROUP BY n1, n2),
        |p AS (
        |  SELECT s.* FROM s LEFT JOIN und
        |    ON s.n1 = und.a AND s.n2 = und.b
        |  WHERE und.a IS NULL)
        |SELECT n1, n2, common_neighbors,
        |  CAST(ra_n AS DOUBLE) / 1000000000.0 AS ra_score
        |FROM p""".stripMargin),

    // ---- extension: graph degree table --------------------------------
    // directed supplier->customer edges; out/in/total degree per node
    Query("q_graph_degrees", (s, dir) =>
      graft.ops.Graph.degrees(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
          .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(concat(lit("s:"), col("l_suppkey")).as("a"),
            concat(lit("c:"), col("o_custkey")).as("b")),
        "a", "b"),
      // mirrors Graph.degrees on the directed supplier->customer edges
      """WITH e AS (
        |  SELECT DISTINCT 's:' || CAST(l_suppkey AS VARCHAR) AS src,
        |    'c:' || CAST(o_custkey AS VARCHAR) AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |o AS (SELECT src AS node, count(*) AS out_degree FROM e GROUP BY 1),
        |i AS (SELECT dst AS node, count(*) AS in_degree FROM e GROUP BY 1)
        |SELECT coalesce(o.node, i.node) AS node,
        |  coalesce(out_degree, 0) AS out_degree,
        |  coalesce(in_degree, 0) AS in_degree,
        |  coalesce(out_degree, 0) + coalesce(in_degree, 0) AS degree
        |FROM o FULL OUTER JOIN i ON o.node = i.node""".stripMargin),

    // ---- extension: planar radius self-join (spatial blocking) --------
    // all customer-point pairs within 2e6 micro-degrees: home-cell vs
    // exploded 3x3 neighborhood equi-join, exact BIGINT squared metric
    // (ops/Geo.radiusPairs — never a cross join). Points are md5-derived
    // micro-degree coordinates, reproduced coordinate-for-coordinate by
    // the oracle's brute-force quadratic
    Query("q_geo_radius", (s, dir) => {
      graft.ops.Geo.radiusPairs(geoPoints(s, dir), "pid", "x", "y",
        2000000L)
    },
      // brute-force quadratic over the same md5-derived points — the
      // cell-bucketed join must reproduce it pair-for-pair; the squared
      // metric is exact BIGINT on both engines
      """WITH p AS (
        |  SELECT c_custkey AS pid,
        |    CAST(('0x' || substring(md5(c_custkey::VARCHAR || ':x'), 1, 12))
        |      AS BIGINT) % 360000000 AS x,
        |    CAST(('0x' || substring(md5(c_custkey::VARCHAR || ':y'), 1, 12))
        |      AS BIGINT) % 180000000 AS y
        |  FROM customer)
        |SELECT a.pid AS a_id, b.pid AS b_id,
        |  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
        |FROM p a JOIN p b ON a.pid < b.pid
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |  <= 4000000000000""".stripMargin),

    // ---- extension: nearest-neighbor-within-radius (closest store) ----
    // rank-1 neighbor per anchor over the radius pairs, both
    // orientations ranked, ties on (dist2, neighbor id)
    Query("q_geo_nearest", (s, dir) => {
      graft.ops.Geo.nearestWithin(geoPoints(s, dir), "pid", "x", "y",
        5000000L)
    },
      """WITH p AS (
        |  SELECT c_custkey AS pid,
        |    CAST(('0x' || substring(md5(c_custkey::VARCHAR || ':x'), 1, 12))
        |      AS BIGINT) % 360000000 AS x,
        |    CAST(('0x' || substring(md5(c_custkey::VARCHAR || ':y'), 1, 12))
        |      AS BIGINT) % 180000000 AS y
        |  FROM customer),
        |pairs AS (
        |  SELECT a.pid AS a_id, b.pid AS b_id,
        |    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
        |  FROM p a JOIN p b ON a.pid < b.pid
        |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |    <= 25000000000000),
        |two_way AS (
        |  SELECT a_id AS id, b_id AS nn_id, dist2 FROM pairs
        |  UNION ALL
        |  SELECT b_id AS id, a_id AS nn_id, dist2 FROM pairs)
        |SELECT id, nn_id, dist2 FROM two_way
        |QUALIFY row_number() OVER (
        |  PARTITION BY id ORDER BY dist2, nn_id) = 1""".stripMargin)
  )
}
