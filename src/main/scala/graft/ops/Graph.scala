package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge DataFrames — the entity-graph
  * siblings of [[Dedup]]'s connected components: influence scoring over
  * the supplier↔customer transaction graph, link-graph centrality for
  * crawl prioritization, co-occurrence ranking.
  *
  * (Extension surface — the reference engine has no graph operators;
  * the shapes here follow the standard Spark join+aggregate PageRank
  * formulation, kept cross-engine reproducible with the decimal-
  * accumulator convention from [[Profile.covarianceMatrix]].)
  */
object Graph {

  /** PageRank by repeated join+aggregate: each iteration sends every
    * node's damped rank, split evenly across its out-edges, to its
    * neighbors, then re-bases at `1 - damping`. Nodes without out-edges
    * (dangling) contribute nothing — the classic simplified
    * formulation; ranks then sum to less than N, which is fine for the
    * RANKING use (influence ordering), and is what an engine comparing
    * against this must reproduce.
    *
    * Cross-engine determinism: the ENTIRE iteration runs in fixed-point
    * integer arithmetic — ranks are BIGINT nano-units (1e9 scale), each
    * per-edge contribution is one truncating integer division
    * `(rank_n * d) div (out_degree * 100)` (damping as d/100), and the
    * per-node sum is an exact BIGINT aggregate. No float appears until
    * the single final divide to double. Float formulations fail here in
    * practice: a double→DECIMAL contribution cast disagrees between
    * engines in the last decimal (Spark rounds the shortest string
    * repr, others round the exact binary value — measured at sf0.1,
    * 473/16k rows off by 1e-8), and integer arithmetic has no such
    * seam. Partitioning, summation order, and engine can never change
    * the answer.
    *
    * Scale shape per iteration: one src-keyed equi-join attaching
    * (rank, out_degree) to edges — both rank and degree tables are
    * node-sized, far below edge-sized, and broadcast when small — then
    * one dst-keyed partial+final aggregation. Nothing ever sits on the
    * driver; `iterations` is a fixed small constant (5–20), so the
    * lineage stays bounded. For 100 TB-scale edge sets the edge table
    * is the only big operand and it is never materialized more than
    * once per iteration. Headroom: rank_n * d * w must stay under 2⁶³,
    * i.e. rank × weight ≤ ~1e8 before the ANSI overflow guard trips
    * loudly — a graph would need ~1e8 nodes funneling into ONE hub (or
    * correspondingly massive integer weights) to get there.
    *
    * `broadcastState` (default true) broadcasts the rank/degree tables
    * into the edge join each round, so the EDGE table never shuffles —
    * the iteration cost collapses to one edge scan plus a partially-
    * aggregated node-sized shuffle (measured 2.8× at sf0.1: the
    * checkpointed tables carry no stats, so without the hint Catalyst
    * sort-merge-joins the edge side every round). Pass false for graphs
    * whose NODE count itself outgrows a broadcast (billions of nodes) —
    * the formulation degrades gracefully to shuffle joins.
    *
    * `assumeDistinct` skips the internal parallel-edge collapse for
    * callers that already dedup — e.g. a mirrored undirected graph
    * built as `distinct(pairs) ∪ mirror(distinct(pairs))` is distinct
    * by construction at half the dedup width, and re-running distinct
    * over the mirrored union would double the heaviest shuffle of the
    * whole op. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double = 0.85,
      broadcastState: Boolean = true,
      assumeDistinct: Boolean = false,
      weightCol: Option[String] = None,
      checkpointDir: Option[String] = None): DataFrame = {
    val d100 = dampingTo100(iterations, damping)
    val baseN = 1000000000L - d100 * 10000000L // (1 - damping) in nanos
    val (e, nodes, outDeg) =
      normalizedGraph(edges, srcCol, dstCol, assumeDistinct, weightCol,
        checkpointDir)
    val nodesB = nodes.withColumn("base_n", lit(baseN))
    val r0 = nodes.select(col("node"), lit(1000000000L).as("pr_n"))
    rankLoop(e, nodesB, r0, outDeg, iterations, d100, broadcastState,
      checkpointDir)
  }

  /** Personalized PageRank (TrustRank): teleport mass lands ONLY on the
    * `seeds` node set, split evenly, so rank measures proximity to the
    * seeds rather than global centrality. The corpus-curation use: seed
    * with allowlisted/trusted nodes (curated domains in a hyperlink
    * graph, vetted suppliers in a transaction graph) and rank every
    * node by how much trust flows to it — the Gyöngyi/Garcia-Molina
    * TrustRank recipe for separating reputable pages from spam farms,
    * which at training-data scale becomes a document-source quality
    * prior.
    *
    * Same exact fixed-point BIGINT loop as [[pageRank]] (nano-unit
    * ranks, truncating `div`, no float until the final divide); the
    * only changes are the initial vector (`1e9 div |S|` on seeds, 0
    * elsewhere) and the per-node re-base (`(seedShare * (100 - d))
    * div 100` on seeds, 0 elsewhere). The seed count enters the plan
    * as a broadcast 1-row aggregate — never a driver constant — so the
    * whole op stays one declarative plan. Seeds that never appear in
    * the edge set simply forfeit their teleport share (documented
    * TrustRank behavior); an EMPTY seed set fails loudly with ANSI
    * divide-by-zero rather than returning all-zero ranks. Scale shape,
    * `broadcastState`, `assumeDistinct`, and `weightCol` behave exactly
    * as in [[pageRank]]. */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, seedCol: String,
      iterations: Int, damping: Double = 0.85,
      broadcastState: Boolean = true,
      assumeDistinct: Boolean = false,
      weightCol: Option[String] = None): DataFrame = {
    val d100 = dampingTo100(iterations, damping)
    val (e, nodes, outDeg) =
      normalizedGraph(edges, srcCol, dstCol, assumeDistinct, weightCol)
    val sd = seeds.select(col(seedCol).cast("string").as("node"))
      .where(col("node").isNotNull).distinct()
      .withColumn("is_seed", lit(1)).localCheckpoint(true)
    val sn = sd.agg(count(lit(1)).cast("long").as("ns"))
    val nodesB = nodes
      .join(if (broadcastState) broadcast(sd) else sd, Seq("node"), "left")
      .crossJoin(broadcast(sn))
      .select(col("node"),
        when(col("is_seed").isNotNull,
          expr(s"((1000000000L div ns) * ${100 - d100}) div 100"))
          .otherwise(lit(0L)).as("base_n"),
        when(col("is_seed").isNotNull, expr("1000000000L div ns"))
          .otherwise(lit(0L)).as("pr_n"))
      .localCheckpoint(true)
    rankLoop(e, nodesB.select(col("node"), col("base_n")),
      nodesB.select(col("node"), col("pr_n")),
      outDeg, iterations, d100, broadcastState)
  }

  /** Community detection by synchronous label propagation (LPA,
    * Raghavan et al. 2007): every node starts labeled with itself; each
    * iteration every node adopts the most frequent label among its
    * in-neighbors, keeping its current label when it has none. After a
    * few rounds, labels pool inside densely connected regions — the
    * clustering pass behind source/domain grouping in a corpus (which
    * documents cite/link into the same neighborhood) without choosing k
    * in advance.
    *
    * Determinism is the whole design: classic LPA breaks frequency ties
    * randomly, which is useless under a cross-engine hash compare.
    * Here the winner is the TOTAL ORDER (count DESC, label ASC) —
    * binary string order, identical in every engine — and updates are
    * synchronous (all nodes step from the same snapshot), so engine,
    * partitioning, and retries can never change the result. Synchronous
    * LPA can oscillate with period 2 on bipartite-ish regions (the
    * known tradeoff vs the undeterministic asynchronous variant);
    * `iterations` is a fixed small constant, and the FIXED point of the
    * comparison is the labeling at that iteration count, oscillating or
    * not.
    *
    * Scale shape per iteration: one src-keyed equi-join attaching the
    * node-sized label table to edges (broadcast under
    * `broadcastState`, so the edge table never shuffles), one
    * (dst, label) partial+final count whose width is bounded by the
    * edge count, and one node-partitioned window to pick each node's
    * argmax — the window input is at most one row per distinct
    * (node, neighbor-label), itself bounded by degree. Nothing touches
    * the driver; lineage is truncated per round like [[pageRank]]. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, broadcastState: Boolean = true,
      assumeDistinct: Boolean = false): DataFrame = {
    require(iterations >= 1, s"need at least one iteration, got $iterations")
    val (e, nodes, _) =
      normalizedGraph(edges, srcCol, dstCol, assumeDistinct, None)
    def state(df: DataFrame): DataFrame =
      if (broadcastState) broadcast(df) else df
    var labels = nodes.select(col("node"), col("node").as("lab"))
    for (i <- 1 to iterations) {
      val counts = e
        .join(state(labels.select(col("node").as("src"), col("lab"))),
          Seq("src"))
        .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("c"))
      val winners = counts
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("dst"))
            .orderBy(col("c").desc, col("lab").asc)))
        .where(col("rn") === 1)
        .select(col("dst").as("node"), col("lab").as("newlab"))
      labels = labels.join(state(winners), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("newlab"), col("lab")).as("lab"))
      if (i < iterations) labels = labels.localCheckpoint(true)
    }
    labels
  }

  /** Weakly connected components over a generic string-keyed edge set:
    * each node's `component` is the MINIMUM node id (binary string
    * order) reachable through the undirected closure — the string-keyed
    * wrapper of [[minLabelComponents]], which [[Dedup.nearDupClusters]]
    * runs over long near-dup pair ids. Edge direction is ignored: edges
    * mirror internally before the loop.
    *
    * Cross-engine exactness is structural (a min over strings — no
    * arithmetic); the round count adapts to the graph and the driver
    * sees only a changed-count scalar per round. Under `broadcastState`
    * every node-sized label table joins as a broadcast, so the
    * symmetric edge set never shuffles for it. */
  def connectedComponents(edges: DataFrame, srcCol: String,
      dstCol: String, maxIters: Int = 20,
      broadcastState: Boolean = true): DataFrame =
    minLabelComponents(
        undirectedSym(edges, srcCol, dstCol, dropSelfLoops = false),
        maxIters, broadcastState, None)
      .select(col("id").as("node"), col("label").as("component"))

  /** Connected components of a mirrored, materialized `(src, dst)` edge
    * table (every edge present in both directions): one `(id, label)`
    * row per `src` node, `label` = the minimum id of its component.
    * The one loop behind [[connectedComponents]] and
    * [[Dedup.nearDupClusters]]; ids may be any ordered type.
    *
    * Algorithm: min-label propagation with Shiloach–Vishkin-style
    * hooking and shortcutting (Shiloach & Vishkin 1982; FastSV, Zhang
    * et al. 2020). A hop takes the min over neighbor labels; each
    * materialized round applies it TWICE and observes the changed-count
    * of hop 2 only. If the SECOND application changed nothing, hop 1's
    * output was already the fixed point (and hop 2 returned it
    * unchanged), so the loop terminates without the naive scheme's
    * extra confirmation round. Every round after the first starts with
    * a shortcut, `label := min(label, label(label))` — one node-sized
    * join that lets a label jump along the chain of labels already
    * found. From round 3 on, a hook comes first: a label is itself a
    * node, and it adopts the smallest label reached by any node it
    * labelled at the previous round's start (one node-sized aggregate
    * and join over the materialized labels, which carry that start
    * label as `prev`). Without the hook a minimum reached only through
    * nodes already labelled with a larger local minimum still crawls
    * two hops per round (a path whose ids descend away from its
    * minimum: 120 nodes needed over 40 rounds). With both, the distance
    * a minimum has travelled roughly doubles per round: a path
    * converges in O(log n) rounds, not the n/2 of plain two-hop
    * propagation (12 / 120 / 1000-node paths: 3 / 6 / 9 rounds with ids
    * in path order, 4 / 7 / 10 with ids descending away from the
    * minimum, 3 / 6 / 10 strided). Round 1 has nothing to jump to
    * (every label is its own id), so it is the plain two-hop round and
    * a graph of tiny components — the near-dup case, converged in round
    * 1 — pays nothing more.
    *
    * Correctness: labels only decrease and always name a node of the
    * same component (a neighbor's label, a label's label, or a label
    * its members reached). When hop 2 changes nothing, every label is
    * at most its neighbors' labels, so labels are constant across each
    * component and equal its minimum.
    *
    * Costs: what the two hops per round halve is the per-round fixed
    * cost — one driver job, one checkpoint materialization, one AQE
    * re-plan per TWO hops — which dominates for near-dup graphs (tiny
    * components, label tables orders of magnitude under the corpus;
    * measured 1.5 s → 0.7 s at sf0.1). The trade: hop 1's
    * un-checkpointed output feeds hop 2 twice (probe + base), and AQE
    * reuses only part of that subtree, so big graphs pay roughly one
    * extra label-sized (node-count, never edge-count) merge join per
    * round — measured a wash against a 1-hop loop at 4M symmetric edges
    * / 500k nodes / diameter 11 (21.4 s vs 22.1 s) — while every round
    * is still keyed shuffles only, never an all-pairs step. The
    * shortcut's join key is the label and the hook's grouping key a
    * label too, so one giant component is one hot key (the hook's
    * aggregate combines map-side; the shortcut's join broadcasts under
    * `broadcastState`, AQE's skew split handles it otherwise). The
    * driver-side work per round is ONE scalar (the changed-count), not
    * data.
    *
    * The changed-count rides the SAME job that materializes the round:
    * the round's result carries a per-row changed flag observed via
    * [[org.apache.spark.sql.Observation]], and the eager checkpoint is a
    * `withAction` (it posts the execution-end event observations listen
    * for) — so convergence detection costs zero extra passes, where a
    * separate next-vs-old join-and-count would re-shuffle the label
    * table once per round. Checkpoint (not persist): each round's plan
    * references the previous round's several times, so without
    * truncation the plan tree is exponential in the round count
    * (measured: OOM merely stringifying it around 30 rounds).
    * `checkpointDir` picks local (default) vs reliable truncation — see
    * [[Checkpoints.materialize]]. (Measured dead end: repartitioning
    * before the checkpoint to pre-co-partition the next round's join —
    * under AQE localCheckpoint's LogicalRDD comes back
    * UnknownPartitioning(0), so the exchange is re-inserted every round
    * anyway and the upfront shuffle is pure waste.) */
  private[ops] def minLabelComponents(sym: DataFrame, maxIters: Int,
      broadcastState: Boolean, checkpointDir: Option[String]): DataFrame = {
    def state(df: DataFrame): DataFrame =
      if (broadcastState) broadcast(df) else df
    // init labels are NOT checkpointed: the lineage is one distinct over
    // the already-materialized sym (depth 1 — no exponential-plan risk),
    // and skipping the eager materialization saves a whole driver job
    // before the first round. Mirrored ⇒ every node appears as a src
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    // one propagation hop: min over neighbor labels, kept only when it
    // beats the node's own label; `_chg` marks rows hop actually improved
    // (other columns ride along). count(when(...)) (not sum) so an empty
    // label table yields 0
    def hop(l: DataFrame): DataFrame = {
      val viaNeighbor = sym
        .join(state(l.select(col("id").as("dst"), col("label").as("nlabel"))),
          Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("nlabel")).as("nmin"))
      l.drop("_chg").join(state(viaNeighbor), Seq("id"), "left")
        .withColumn("_chg", coalesce(col("nmin") < col("label"), lit(false)))
        .withColumn("label",
          least(col("label"), coalesce(col("nmin"), col("label"))))
        .drop("nmin")
    }
    // a label is itself a node: it adopts the smallest label reached by
    // any node it labelled at the previous round's start (`prev`)
    def hook(l: DataFrame): DataFrame =
      l.join(state(l.groupBy(col("prev").as("id"))
          .agg(min(col("label")).as("h"))), Seq("id"), "left")
        .select(col("id"), least(col("label"), col("h")).as("label"))
    // every label names a node, so the inner join keeps every row; the
    // result is also the round's start label, `prev`
    def shortcut(l: DataFrame): DataFrame =
      l.join(state(l.select(col("id").as("label"), col("label").as("ll"))),
          Seq("label"))
        .select(col("id"), least(col("label"), col("ll")).as("label"))
        .withColumn("prev", col("label"))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val obs = org.apache.spark.sql.Observation()
      val start = i match {
        case 0 => labels // every label is its own id: nothing to jump to
        case 1 => shortcut(labels) // no `prev` yet
        case _ => shortcut(hook(labels))
      }
      val next = Checkpoints.materialize(
        hop(hop(start))
          .observe(obs, count(when(col("_chg"), lit(1))).as("changed")),
        checkpointDir)
        .drop("_chg")
      // hop 2's changed-count: zero means the second application was an
      // identity on hop 1's output — i.e. hop 1 had already reached the
      // per-component minimum and `next` equals it
      val changed = obs.get("changed").asInstanceOf[Long]
      labels = next
      converged = changed == 0
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $maxIters rounds; " +
        "raise maxIters")
    labels.select(col("id"), col("label"))
  }

  /** K-core decomposition: iteratively peel nodes whose UNDIRECTED
    * degree in the surviving subgraph falls below `k`, until stable.
    * The survivors are the k-core — the maximal subgraph where every
    * node keeps ≥ k neighbors — with each node's within-core degree.
    * The k-core is ORDER-INDEPENDENT (a unique fixpoint regardless of
    * peel order), so cross-engine agreement needs no arithmetic
    * convention and no matched round count: any engine that peels to
    * stability lands on the same node set. The curation reading: the
    * dense citation/link core a spam ring can't fake with pendant
    * edges — each round the probe sees only a survivor-count scalar.
    *
    * Scale shape per round: the symmetric edge set (checkpointed once)
    * semi-joins against the node-sized survivor table on BOTH
    * endpoints — broadcast under `broadcastState`, so the edges never
    * shuffle — then one src-keyed partial+final count. Rounds are
    * data-dependent but bounded by the peeling depth (`maxIters` guard
    * throws rather than returning a half-peeled non-core). */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxIters: Int = 30, broadcastState: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be at least 1, got $k")
    val sym = undirectedSym(edges, srcCol, dstCol, dropSelfLoops = true)
    def state(df: DataFrame): DataFrame =
      if (broadcastState) broadcast(df) else df
    def coreDegrees(alive: DataFrame): DataFrame = sym
      .join(state(alive.select(col("node").as("src"))), Seq("src"), "left_semi")
      .join(state(alive.select(col("node").as("dst"))), Seq("dst"), "left_semi")
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("core_degree"))
    var alive = sym.select(col("src").as("node")).distinct()
      .localCheckpoint(true)
    var nAlive = alive.count()
    // keep core_degree through each round's checkpoint: on the converged
    // round next == alive, so that round's degrees ARE the final
    // within-core degrees — the old select(node)-then-recompute shape
    // paid one extra full edge pass (two semi-joins + a keyed count)
    // after convergence to re-derive numbers it had just discarded
    // (review r12)
    var result = alive.withColumn("core_degree", lit(0L))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val next = coreDegrees(alive)
        .where(col("core_degree") >= k)
        .localCheckpoint(true)
      val nNext = next.count()
      converged = nNext == nAlive
      result = next
      alive = next.select(col("node"))
      nAlive = nNext
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"kCore did not stabilize in $maxIters rounds — a deeper peeling " +
        "cascade than expected; raise maxIters")
    result
  }

  /** Shared normalization of the mirrored undirected family (review
    * r12: this block had been copy-pasted into connectedComponents and
    * kCore with only the self-loop filter differing): string-cast,
    * null-filtered, mirrored to both directions, distinct, and
    * checkpointed once. `dropSelfLoops` = degree semantics (kCore — a
    * self-loop must not count toward core degree); components keep
    * them (harmless to connectivity). */
  private def undirectedSym(edges: DataFrame, srcCol: String,
      dstCol: String, dropSelfLoops: Boolean): DataFrame = {
    val base = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val eRaw = if (dropSelfLoops) base.where(col("src") =!= col("dst"))
      else base
    eRaw.union(eRaw.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
  }

  /** The canonical-pair form of the same normalization (triangles,
    * linkPredictions): one (a < b) row per undirected edge, self-loops
    * dropped, NOT checkpointed (both callers keep it inside a larger
    * plan). */
  private def canonicalUndirected(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e0 = edges
      .select(col(srcCol).cast("string").as("x"),
        col(dstCol).cast("string").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull &&
        col("x") =!= col("y"))
    e0.select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()
  }

  private def dampingTo100(iterations: Int, damping: Double): Int = {
    require(iterations >= 1, s"need at least one iteration, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1): $damping")
    val d100 = math.round(damping * 100).toInt
    require(math.abs(d100 / 100.0 - damping) < 1e-12,
      s"damping must have at most 2 decimals (got $damping) — it becomes " +
        "the exact integer ratio d/100 inside the fixed-point iteration")
    d100
  }

  /** Normalize edges to `(src, dst, w)` and derive the rank-loop
    * invariants `(edges, nodes, out-weight)`, each localCheckpointed
    * ONCE (the nearDupClusters convention): without truncation every
    * iteration's plan re-derives the deduped edge set and degree table
    * from the raw input — at sf0.1 that re-ran a 1.2M-row join+distinct
    * five times (measured ~5.5s; checkpointed ~2s). On a multi-node
    * cluster prefer reliable `checkpoint` with a checkpoint dir.
    *
    * WEIGHTED form (`weightCol`): rank splits across out-edges in
    * proportion to POSITIVE INTEGER weights — integers keep the
    * contribution `(pr_n * d * w) div (wsum * 100)` inside exact
    * fixed-point arithmetic (a fractional weight would reintroduce the
    * float seam the nano-unit loop exists to remove; pre-scale
    * fractional weights to integers at the caller). Parallel edges SUM
    * their weights in the normalize pass (unweighted edges dedup).
    * Non-positive weights fail the job rather than silently biasing
    * the stationary distribution (the weightedSample convention). */
  private def normalizedGraph(edges: DataFrame, srcCol: String,
      dstCol: String, assumeDistinct: Boolean,
      weightCol: Option[String],
      checkpointDir: Option[String] = None): (DataFrame, DataFrame, DataFrame) = {
    val eRaw = weightCol match {
      case None =>
        edges.select(col(srcCol).cast("string").as("src"),
          col(dstCol).cast("string").as("dst"), lit(1L).as("w"))
          .where(col("src").isNotNull && col("dst").isNotNull)
      case Some(wc) =>
        edges.select(col(srcCol).cast("string").as("src"),
          col(dstCol).cast("string").as("dst"),
          // the cast alone silently FLOORS fractional weights (1.9 -> 1
          // passes the > 0 test) — the integrality check makes the
          // "positive integers or fail loudly" contract actually hold
          when(col(wc).cast("long") > 0 &&
              col(wc).cast("double") === col(wc).cast("long").cast("double"),
              col(wc).cast("long"))
            .otherwise(expr(
              "raise_error('pageRank: edge weight must be a positive " +
                "integer')")).as("w"))
          .where(col("src").isNotNull && col("dst").isNotNull)
    }
    val e = (if (assumeDistinct) eRaw
             else if (weightCol.isEmpty)
               eRaw.select(col("src"), col("dst")).distinct()
                 .withColumn("w", lit(1L))
             else eRaw.groupBy(col("src"), col("dst"))
               .agg(sum(col("w")).as("w")))
    val eM = Checkpoints.materialize(e, checkpointDir)
    val nodes = Checkpoints.materialize(
      eM.select(col("src").as("node"))
        .union(eM.select(col("dst").as("node"))).distinct(), checkpointDir)
    val outDeg = Checkpoints.materialize(
      eM.groupBy(col("src")).agg(sum(col("w")).as("wsum")), checkpointDir)
    (eM, nodes, outDeg)
  }

  /** The shared fixed-point iteration: each round sends
    * `(pr_n * d * w) div (wsum * 100)` along every edge, sums exactly
    * in BIGINT, and re-bases every node at its `base_n` (uniform
    * `(1-d)` nanos for classic PageRank, seed-only shares for the
    * personalized form). */
  private def rankLoop(e: DataFrame, nodesB: DataFrame, r0: DataFrame,
      outDeg: DataFrame, iterations: Int, d100: Int,
      broadcastState: Boolean,
      checkpointDir: Option[String] = None): DataFrame = {
    def state(df: DataFrame): DataFrame =
      if (broadcastState) broadcast(df) else df
    var ranks = r0
    for (i <- 1 to iterations) {
      val contribs = e
        .join(state(ranks.withColumnRenamed("node", "src")), Seq("src"))
        .join(state(outDeg), Seq("src"))
        .select(col("dst").as("node"),
          expr(s"(pr_n * $d100 * w) div (wsum * 100)").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("csum"))
      ranks = nodesB.join(state(contribs), Seq("node"), "left")
        .select(col("node"),
          (col("base_n") + coalesce(col("csum"), lit(0L))).as("pr_n"))
      // rank lineage otherwise chains all prior rounds into one plan;
      // node-sized, so the eager materialization is cheap
      if (i < iterations)
        ranks = Checkpoints.materialize(ranks, checkpointDir)
    }
    ranks.select(col("node"),
      (col("pr_n").cast("double") / lit(1.0e9)).as("pr"))
  }

  /** Triangle enumeration over an UNDIRECTED graph (edge direction and
    * parallel/self edges are normalized away): one row per triangle,
    * corners ascending `(n1 < n2 < n3)`.
    *
    * Algorithm — the degree-oriented wedge join (the MapReduce-era
    * MPS/Cohen scheme): orient every edge from its lower-(degree, id)
    * endpoint to the higher, generate wedges only at each node's OUT-
    * neighbors, and close them with one equi-join back to the canonical
    * edge set. Orientation is the scale guard: a naive wedge count is
    * Σ d(v)² — a 10M-degree hub generates 10¹⁴ wedges — while oriented
    * out-degrees are bounded by graph arboricity (≈√|E| worst case), so
    * the hub generates none. Every step is an equi-join (src-keyed,
    * then (n1, n2)-keyed closure); no cartesian anywhere.
    *
    * Cross-engine exactness is structural: the output is a set of id
    * triples — no arithmetic at all. */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String):
      DataFrame = {
    val und = canonicalUndirected(edges, srcCol, dstCol)
    val deg = und.select(col("a").as("n"))
      .unionAll(und.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val dirE = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
      .select(when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val wedges = dirE.select(col("u"), col("v").as("n1"))
      .join(dirE.select(col("u"), col("v").as("n2")), Seq("u"))
      .where(col("n1") < col("n2"))
    wedges
      .join(und.select(col("a").as("n1"), col("b").as("n2")),
        Seq("n1", "n2"))
      .select(least(col("u"), col("n1")).as("t1"),
        when(col("u") < col("n1"), col("n1"))
          .when(col("u") > col("n2"), col("n2"))
          .otherwise(col("u")).as("t2"),
        greatest(col("u"), col("n2")).as("t3"))
  }

  /** Global triangle count — [[triangles]] collapsed to one row. */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String):
      DataFrame =
    triangles(edges, srcCol, dstCol).agg(count(lit(1)).as("n_triangles"))

  /** Link prediction over an undirected graph: every non-adjacent node
    * pair at distance 2, scored by shared-neighbor structure — the
    * missing-edge candidates an entity-resolution or recommendation
    * pass reviews. Two scores per pair: `common_neighbors` and
    * `ra_score`, the Resource-Allocation index Σ 1/degree(shared
    * neighbor) (Zhou et al. 2009 — like Adamic–Adar but down-weighting
    * by raw degree), which rewards pairs whose shared neighbors are
    * selective.
    *
    * RA is chosen over Adamic–Adar deliberately: 1/d is RATIONAL, so
    * the sum runs in fixed-point nano-units (`1e9 div d`, exact BIGINT
    * accumulation — the [[pageRank]] convention) and is bit-identical
    * on any engine; 1/ln(d) would put a libm ln seam inside a
    * multi-row sum.
    *
    * Scale: wedge generation is centered on the SHARED neighbor, so a
    * hub of degree d contributes d² candidate pairs — `maxDegree`
    * drops hub centers beyond the cap (default 100k) the way
    * repeatedSpans' df guard drops stop-shingles: a node connected to
    * everything predicts nothing anyway. All steps are keyed
    * equi-joins: adjacency build, degree attach, center-keyed wedge
    * self-join, (n1, n2) aggregation, and one anti join removing pairs
    * that are ALREADY edges. */
  def linkPredictions(edges: DataFrame, srcCol: String, dstCol: String,
      maxDegree: Long = 100000): DataFrame = {
    val und = canonicalUndirected(edges, srcCol, dstCol)
    val adj = und.select(col("a").as("n"), col("b").as("nb"))
      .unionAll(und.select(col("b").as("n"), col("a").as("nb")))
    val deg = adj.groupBy(col("n")).agg(count(lit(1)).as("d"))
    val ctr = adj.join(deg, Seq("n")).where(col("d") <= maxDegree)
    val wedges = ctr.select(col("n"), col("nb").as("n1"), col("d"))
      .join(ctr.select(col("n"), col("nb").as("n2")), Seq("n"))
      .where(col("n1") < col("n2"))
    wedges.groupBy(col("n1"), col("n2"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(expr("1000000000 div d")).as("ra_n"))
      .join(und.select(col("a").as("n1"), col("b").as("n2")),
        Seq("n1", "n2"), "left_anti")
      .select(col("n1"), col("n2"), col("common_neighbors"),
        (col("ra_n").cast("double") / lit(1.0e9)).as("ra_score"))
  }

  /** Degree table for a directed edge set: one row per node with its
    * out-, in-, and total degree (parallel edges collapse first, the
    * same contract as [[pageRank]]). One distinct pass plus two keyed
    * counts and one full-outer stitch — all node-sized after the
    * dedup. */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String):
      DataFrame = {
    val e = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val out = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_degree"))
    val in = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_degree"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"),
        (coalesce(col("out_degree"), lit(0L)) +
          coalesce(col("in_degree"), lit(0L))).as("degree"))
  }

  /** Bounded weighted shortest paths (multi-source Bellman-Ford): the
    * minimum total edge weight from any seed to each node over paths
    * of at most `maxHops` edges — trust distance over weighted links,
    * cheapest-route features, [[bfsHops]] with costs. Weights must be
    * positive integers (exact BIGINT sums — nothing to round); the
    * hop bound makes the iteration count fixed, so negative-cycle
    * pathologies can't occur and any engine running the same `maxHops`
    * relaxations lands on identical distances.
    *
    * Scale shape per relaxation: the checkpointed edge set joins the
    * FRONTIER — only the nodes whose distance improved last round
    * (review r12: relaxing from the whole distance table re-derived
    * identical candidates every round and ran all `maxHops` rounds
    * even on a diameter-3 graph); a node whose distance did not change
    * contributes exactly the candidates it contributed last round, so
    * frontier relaxation reaches the same per-round state as textbook
    * Bellman-Ford and may stop as soon as a round improves nothing —
    * the result is then final for any remaining hop budget. Frontier
    * and distance tables are node-sized (broadcast under
    * `broadcastState` — edges never shuffle); each active round pays
    * one dst-keyed min-aggregate of the frontier's out-edges plus a
    * node-sized merge. Output: (node, dist), seeds at 0. */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: DataFrame, seedCol: String,
      maxHops: Int, broadcastState: Boolean = true): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    val e = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"),
        when(col(weightCol).cast("long") > 0 &&
            col(weightCol).cast("double") ===
              col(weightCol).cast("long").cast("double"),
            col(weightCol).cast("long"))
          .otherwise(raise_error(lit(
            "shortestPaths: edge weights must be positive integers " +
              "(fractional weights would be silently floored)")))
          .as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      // parallel edges: only the lightest can ever win a relaxation
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
      .localCheckpoint(true)
    def state(df: DataFrame): DataFrame =
      if (broadcastState) broadcast(df) else df
    var dist = seeds.select(col(seedCol).cast("string").as("node"))
      .where(col("node").isNotNull).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint(true)
    var frontier = dist
    var h = 0
    var dry = frontier.limit(1).count() == 0 // no seeds → nothing to relax
    while (h < maxHops && !dry) {
      val candidates = e
        .join(state(frontier.select(col("node").as("src"),
          col("dist").as("sd"))), Seq("src"))
        .select(col("dst").as("node"), (col("sd") + col("w")).as("cand"))
        .groupBy(col("node")).agg(min(col("cand")).as("cand"))
      // improved = strictly better than the standing distance, or a
      // node seen for the first time — the next round's frontier
      val improved = candidates
        .join(state(dist.select(col("node"), col("dist").as("_old"))),
          Seq("node"), "left")
        .where(col("_old").isNull || col("cand") < col("_old"))
        .select(col("node"), col("cand").as("dist"))
        .localCheckpoint(true)
      dry = improved.limit(1).count() == 0
      if (!dry) {
        dist = dist.unionByName(improved)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
          .localCheckpoint(true)
        frontier = improved
      }
      h += 1
    }
    dist
  }

  /** Multi-source BFS: the minimum hop count from any seed to every
    * node reachable within `maxHops` edges — blast-radius analysis
    * ("everything within 3 hops of these compromised accounts"), crawl
    * frontier depth, trust-distance features. Directed; mirror the
    * edge set for undirected graphs (the [[pageRank]] fixture shape).
    *
    * Output: (node, hops INT), hop 0 = the seeds themselves (isolated
    * seeds included — distance 0 to yourself needs no edge). A node
    * first reached at hop h is never revisited, which IS the min-hop
    * distance — integer levels and set membership only, so any engine
    * agrees with no arithmetic convention needed.
    *
    * Scale shape per level: the checkpointed edge set equi-joins the
    * frontier on src — broadcast under `broadcastState`, so edges
    * never shuffle — then the new neighbor set anti-joins the settled
    * table (node-sized both sides). Levels run at most `maxHops`
    * times, with a limit(1) emptiness probe (one scalar to the driver)
    * stopping early when the frontier dries up. */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int,
      broadcastState: Boolean = true,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    val e = Checkpoints.materialize(edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct(), checkpointDir)
    def state(df: DataFrame): DataFrame =
      if (broadcastState) broadcast(df) else df
    var dist = Checkpoints.materialize(
      seeds.select(col(seedCol).cast("string").as("node"))
        .where(col("node").isNotNull).distinct()
        .withColumn("hops", lit(0)), checkpointDir)
    var frontier = dist.select("node")
    var h = 0
    var dry = frontier.limit(1).count() == 0
    while (h < maxHops && !dry) {
      val nbrs = e
        .join(state(frontier.select(col("node").as("src"))), Seq("src"))
        .select(col("dst").as("node")).distinct()
      val fresh = Checkpoints.materialize(nbrs
        .join(state(dist.select("node")), Seq("node"), "left_anti")
        .withColumn("hops", lit(h + 1)), checkpointDir)
      dry = fresh.limit(1).count() == 0
      if (!dry) {
        dist = Checkpoints.materialize(dist.unionByName(fresh),
          checkpointDir)
        frontier = fresh.select("node")
      }
      h += 1
    }
    dist
  }
}
