package graft

import org.apache.spark.sql.functions.lit
import graft.ops.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  // star: hub h points at leaves a,b,c and each leaf points back
  private def star = Seq(("h", "a"), ("h", "b"), ("h", "c"),
    ("a", "h"), ("b", "h"), ("c", "h")).toDF("src", "dst")

  test("degrees counts in/out per node, parallel edges collapsed") {
    val e = Seq(("a", "b"), ("a", "b"), ("a", "c"), ("b", "c"))
      .toDF("src", "dst")
    val got = Graph.degrees(e, "src", "dst")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("a", 2L, 0L, 2L),   // a->b counted once
      ("b", 1L, 1L, 2L),
      ("c", 0L, 2L, 2L)))  // sink: out_degree zero, still present
  }

  test("pageRank matches a local reference simulation exactly") {
    // reference walks the SAME fixed-point integer sequence: nano-scale
    // ranks, truncating per-edge division, exact integer sums
    def simulate(edges: Seq[(String, String)], iters: Int):
        Map[String, Double] = {
      val e = edges.distinct
      val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
      val odeg = e.groupBy(_._1).map { case (s, xs) => s -> xs.size }
      var pr = nodes.map(_ -> 1000000000L).toMap
      for (_ <- 1 to iters) {
        val sums = scala.collection.mutable.Map[String, Long]()
        for ((s, d) <- e) {
          val c = (pr(s) * 85L) / (odeg(s) * 100L)
          sums(d) = sums.getOrElse(d, 0L) + c
        }
        pr = nodes.map(n =>
          n -> (150000000L + sums.getOrElse(n, 0L))).toMap
      }
      pr.map { case (n, v) => n -> v.toDouble / 1.0e9 }
    }
    val edges = Seq(("h", "a"), ("h", "b"), ("h", "c"),
      ("a", "h"), ("b", "h"), ("c", "h"), ("a", "b"))
    val want = simulate(edges, 4)
    val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", 4)
      .as[(String, Double)].collect().toMap
    assert(got == want, s"got $got want $want")
  }

  test("pageRank ranks the hub above the leaves and is deterministic") {
    val r1 = Graph.pageRank(star, "src", "dst", 5)
      .as[(String, Double)].collect().toMap
    val r2 = Graph.pageRank(star, "src", "dst", 5)
      .as[(String, Double)].collect().toMap
    assert(r1 == r2)
    assert(r1("h") > r1("a") && r1("a") == r1("b") && r1("b") == r1("c"))
  }

  test("triangles enumerates each triangle once, corners ascending") {
    // K4 on a,b,c,d (4 triangles) plus a pendant edge d-e; input is
    // noisy: both directions, duplicates, a self-loop
    val e = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("a", "d"),
      ("b", "c"), ("b", "d"), ("c", "d"), ("c", "d"), ("d", "e"),
      ("e", "e")).toDF("src", "dst")
    val got = Graph.triangles(e, "src", "dst")
      .as[(String, String, String)].collect().toSeq
    assert(got.size == got.distinct.size)
    assert(got.toSet == Set(("a", "b", "c"), ("a", "b", "d"),
      ("a", "c", "d"), ("b", "c", "d")))
    assert(Graph.triangleCount(e, "src", "dst").as[Long].head() == 4L)
  }

  test("triangles: squares and stars have none; orientation kills hub wedges") {
    val square = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("src", "dst")
    assert(Graph.triangleCount(square, "src", "dst").as[Long].head() == 0L)
    // star hub: 50 leaves, no leaf-leaf edges -> zero wedges survive
    val hub = (1 to 50).map(i => ("hub", s"leaf$i")).toDF("src", "dst")
    assert(Graph.triangleCount(hub, "src", "dst").as[Long].head() == 0L)
  }

  test("linkPredictions scores distance-2 non-edges, never existing edges") {
    // square a-b-c-d: the two diagonals, each with 2 shared degree-2
    // neighbors -> common 2, ra 0.5+0.5; plus a pendant e off a whose
    // only candidates route through a (degree 3)
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "e"))
      .toDF("src", "dst")
    val got = Graph.linkPredictions(e, "src", "dst")
      .as[(String, String, Long, Double)].collect().toSet
    assert(got == Set(
      ("a", "c", 2L, 1.0),           // via b(2) and d(2)
      ("b", "d", 2L, 0.833333333),   // via c(2) + via a(3), truncating
      ("b", "e", 1L, 0.333333333),   // 1e9 div 3 fixed point, not 1/3
      ("d", "e", 1L, 0.333333333)))
    // no existing edge appears as a prediction
    assert(!got.exists(p => Set(("a","b"),("b","c"),("c","d"),("a","d"),
      ("a","e")).contains((p._1, p._2))))
  }

  test("linkPredictions maxDegree drops hub centers") {
    val hub = (1 to 20).map(i => ("hub", s"leaf$i")).toDF("src", "dst")
    assert(Graph.linkPredictions(hub, "src", "dst").count() == 190L)
    assert(Graph.linkPredictions(hub, "src", "dst", maxDegree = 10)
      .count() == 0L)
  }

  test("triangles and linkPredictions match brute force on random graphs") {
    for (seed <- Seq(1, 2, 3)) {
      val rng = new scala.util.Random(seed)
      val n = 30
      val edges = (for (_ <- 1 to 80) yield
        (s"v${rng.nextInt(n)}", s"v${rng.nextInt(n)}"))
        .filter(e => e._1 != e._2)
      val und = edges.map(e => if (e._1 < e._2) e else e.swap).distinct
      val adj = (und ++ und.map(_.swap)).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2).toSet }
      val nodes = adj.keys.toSeq.sorted
      val bruteTris = (for {
        i <- nodes; j <- nodes if i < j && adj(i)(j)
        k <- nodes if j < k && adj(i)(k) && adj(j)(k)
      } yield (i, j, k)).toSet
      val gotTris = Graph.triangles(edges.toDF("src", "dst"), "src", "dst")
        .as[(String, String, String)].collect().toSet
      assert(gotTris == bruteTris, s"seed $seed triangles")

      val deg = adj.map { case (k, v) => k -> v.size }
      val bruteLp = (for {
        i <- nodes; j <- nodes if i < j && !adj(i)(j)
        common = adj(i) intersect adj(j) if common.nonEmpty
      } yield (i, j, common.size.toLong,
        common.toSeq.map(c => 1000000000L / deg(c)).sum.toDouble / 1e9))
        .toSet
      val gotLp = Graph.linkPredictions(edges.toDF("src", "dst"),
          "src", "dst")
        .as[(String, String, Long, Double)].collect().toSet
      assert(gotLp == bruteLp, s"seed $seed link predictions")
    }
  }

  test("pageRank leaves dangling nodes at the base rank") {
    // x -> y, y has no out-edges: y never sends mass, x never receives
    val e = Seq(("x", "y")).toDF("src", "dst")
    val got = Graph.pageRank(e, "src", "dst", 3)
      .as[(String, Double)].collect().toMap
    assert(got("x") == 0.15)          // 1.0 - 0.85, rounded to 9dp
    assert(got("y") > got("x"))       // receives x's full damped rank
  }

  test("weighted pageRank splits rank in weight proportion, sums parallel edges") {
    // a sends to b with weight 3 and c with weight 1 (the c edge split
    // across two parallel rows that must sum): after one iteration
    //   b = 0.15 + (1e9*85*3) div (4*100) / 1e9 = 0.7875
    //   c = 0.15 + (1e9*85*1) div (4*100) / 1e9 = 0.3625
    val e = Seq(("a", "b", 3L), ("a", "c", 1L))
      .toDF("src", "dst", "w")
    val got = Graph.pageRank(e, "src", "dst", 1, weightCol = Some("w"))
      .as[(String, Double)].collect().toMap
    assert(got == Map("a" -> 0.15, "b" -> 0.7875, "c" -> 0.3625))
    val split = Seq(("a", "b", 3L), ("a", "c", 1L), ("a", "c", 0L))
    // parallel edges sum their weights (and the zero weight must fail,
    // so test summing with a positive split instead)
    val got2 = Graph.pageRank(
        Seq(("a", "b", 2L), ("a", "b", 1L), ("a", "c", 1L))
          .toDF("src", "dst", "w"),
        "src", "dst", 1, weightCol = Some("w"))
      .as[(String, Double)].collect().toMap
    assert(got2 == got)
    // non-positive weight fails loudly rather than biasing the ranks
    val bad = intercept[Exception] {
      Graph.pageRank(split.toDF("src", "dst", "w"),
        "src", "dst", 1, weightCol = Some("w")).collect()
    }
    assert(bad.getMessage != null)
    // unit weights reproduce the unweighted op exactly
    val star5 = star
    val unw = Graph.pageRank(star5, "src", "dst", 5)
      .as[(String, Double)].collect().toMap
    val w1 = Graph.pageRank(star5.withColumn("w", lit(1L)),
        "src", "dst", 5, weightCol = Some("w"))
      .as[(String, Double)].collect().toMap
    assert(unw == w1)
  }

  test("personalized pageRank teleports only to the seed set") {
    // single seed a, edge a->b, one iteration:
    //   seed share = 1e9; a = (1e9*15)//100 = 0.15
    //   b = 0 + (1e9*85*1) div (1*100) = 0.85
    val e = Seq(("a", "b")).toDF("src", "dst")
    val got = Graph.personalizedPageRank(e, "src", "dst",
        Seq("a").toDF("node"), "node", 1)
      .as[(String, Double)].collect().toMap
    assert(got == Map("a" -> 0.15, "b" -> 0.85))
    // two seeds split the teleport mass: share = 5e8 each;
    // c receives both damped shares: 2 * (5e8*85)//100 = 0.85
    val e2 = Seq(("a", "c"), ("b", "c")).toDF("src", "dst")
    val got2 = Graph.personalizedPageRank(e2, "src", "dst",
        Seq("a", "b").toDF("node"), "node", 1)
      .as[(String, Double)].collect().toMap
    assert(got2 == Map("a" -> 0.075, "b" -> 0.075, "c" -> 0.85))
    // a seed absent from the graph forfeits its share (TrustRank
    // semantics): same graph, phantom seed z halves a's and b's share
    val got3 = Graph.personalizedPageRank(e2, "src", "dst",
        Seq("a", "b", "z", "z").toDF("node"), "node", 1)
      .as[(String, Double)].collect().toMap
    val share = 1000000000L / 3
    val base = share * 15 / 100 / 1.0e9
    val c3 = 2 * (share * 85 / 100) / 1.0e9
    assert(got3 == Map("a" -> base, "b" -> base, "c" -> c3))
    assert(!got3.contains("z"))
  }

  test("labelPropagation pools labels inside dense regions") {
    // two triangles bridged by one edge c-x: hand-walking the
    // synchronous (count DESC, label ASC) updates converges by round 4
    // to community 'a' on {a,b,c} and 'c' on {x,y,z} — the bridge is
    // outvoted on both sides
    val tri = Seq(("a", "b"), ("a", "c"), ("b", "c"),
      ("x", "y"), ("x", "z"), ("y", "z"), ("c", "x"))
    val und = (tri ++ tri.map(_.swap)).toDF("src", "dst")
    val got = Graph.labelPropagation(und, "src", "dst", 5)
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "c", "y" -> "c", "z" -> "c"), s"got $got")
    // deterministic: re-run is identical
    val again = Graph.labelPropagation(und, "src", "dst", 5)
      .as[(String, String)].collect().toMap
    assert(again == got)
  }

  test("labelPropagation: disconnected components never share a label") {
    val e = Seq(("a", "b"), ("b", "a"), ("p", "q"), ("q", "p"),
      ("q", "r"), ("r", "q"))
    val got = Graph.labelPropagation(e.toDF("src", "dst"), "src", "dst", 4)
      .as[(String, String)].collect().toMap
    val left = Set("a", "b").map(got)
    val right = Set("p", "q", "r").map(got)
    assert(left.intersect(right).isEmpty)
    assert(left.subsetOf(Set("a", "b")) && right.subsetOf(Set("p", "q", "r")))
    // a node with no in-neighbors keeps its own label
    val dangle = Graph.labelPropagation(
        Seq(("s", "t")).toDF("src", "dst"), "src", "dst", 3)
      .as[(String, String)].collect().toMap
    assert(dangle("s") == "s" && dangle("t") == "s")
  }

  test("connectedComponents labels every node with its reachability min, ignoring direction") {
    // path a->b->c plus a back-edge-only pair (y->x): direction must
    // not matter, so c joins a's component and x joins y's under 'x'
    val e = Seq(("a", "b"), ("b", "c"), ("y", "x"))
      .toDF("src", "dst")
    val got = Graph.connectedComponents(e, "src", "dst")
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x"))
    // determinism + a longer chain that needs several rounds
    val chain = (0 to 9).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
      .toDF("src", "dst")
    val cc = Graph.connectedComponents(chain, "src", "dst")
      .as[(String, String)].collect().toMap
    assert(cc.values.toSet == Set("n00") && cc.size == 11)
  }

  test("a 1000-node string path converges within default maxIters") {
    // zero-padded ids keep string order = path order, so the minimum
    // sits at one end and has to travel the whole path, which plain
    // min-label propagation would need ~500 two-hop rounds for
    val path = (0 until 999).map(i => (f"n${i + 1}%04d", f"n$i%04d"))
      .toDF("src", "dst")
    val cc = Graph.connectedComponents(path, "src", "dst")
      .as[(String, String)].collect().toMap
    assert(cc.size == 1000 && cc.values.toSet == Set("n0000"))
  }

  test("kCore peels below-k nodes until the stable core remains") {
    // K4 {a,b,c,d} with a pendant p off a: the 3-core is exactly the
    // K4 (within-core degree 3 each); p and its edge peel away
    val k4 = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
      ("b", "d"), ("c", "d"), ("a", "p"))
    val got = Graph.kCore(k4.toDF("src", "dst"), "src", "dst", k = 3)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    // cascading peel: a 5-path has no 2-core — endpoints fall first,
    // then the exposed next-in-line, until nothing is left
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
    assert(Graph.kCore(path.toDF("src", "dst"), "src", "dst", k = 2)
      .count() == 0L)
    // the 1-core of the same path is the whole path (degrees 1/2)
    val one = Graph.kCore(path.toDF("src", "dst"), "src", "dst", k = 1)
      .as[(String, Long)].collect().toMap
    assert(one == Map("a" -> 1L, "b" -> 2L, "c" -> 2L, "d" -> 2L, "e" -> 1L))
  }

  test("shortestPaths: cheaper long route wins within the hop cap") {
    // a->b cost 10 direct, or a->x->b cost 2+3=5; a->c only via b
    val e = Seq(("a", "b", 10L), ("a", "x", 2L), ("x", "b", 3L),
      ("b", "c", 1L)).toDF("src", "dst", "w")
    val got = Graph.shortestPaths(e, "src", "dst", "w",
        Seq("a").toDF("node"), "node", maxHops = 3)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 0L, "x" -> 2L, "b" -> 5L, "c" -> 6L))
    // with only 2 hops the cheap 3-hop route to c is invisible: the
    // best <=2-hop path is a->b->c = 11
    val capped = Graph.shortestPaths(e, "src", "dst", "w",
        Seq("a").toDF("node"), "node", maxHops = 2)
      .as[(String, Long)].collect().toMap
    assert(capped == Map("a" -> 0L, "x" -> 2L, "b" -> 5L, "c" -> 11L))
  }

  test("shortestPaths: a hop budget far past the diameter changes " +
      "nothing (frontier early-exit, review r12)") {
    val e = Seq(("a", "b", 10L), ("a", "x", 2L), ("x", "b", 3L),
      ("b", "c", 1L)).toDF("src", "dst", "w")
    def run(hops: Int) = Graph.shortestPaths(e, "src", "dst", "w",
        Seq("a").toDF("node"), "node", maxHops = hops)
      .as[(String, Long)].collect().toMap
    // the frontier dries up after round 3; rounds 4..50 must not run
    // (this would previously execute 50 relaxation jobs) and the
    // result is identical
    assert(run(50) == run(3))
    // an empty seed set exits immediately with an empty result
    assert(Graph.shortestPaths(e, "src", "dst", "w",
      Seq.empty[String].toDF("node"), "node", maxHops = 10).count() == 0L)
  }

  test("shortestPaths: parallel edges collapse to lightest; multi-seed min") {
    val e = Seq(("a", "b", 7L), ("a", "b", 4L), ("z", "b", 1L))
      .toDF("src", "dst", "w")
    val got = Graph.shortestPaths(e, "src", "dst", "w",
        Seq("a", "z").toDF("node"), "node", maxHops = 2)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 0L, "z" -> 0L, "b" -> 1L))
  }

  test("shortestPaths rejects non-positive weights") {
    val e = Seq(("a", "b", 0L)).toDF("src", "dst", "w")
    val ex = intercept[Exception] {
      Graph.shortestPaths(e, "src", "dst", "w",
        Seq("a").toDF("node"), "node", maxHops = 1).collect()
    }
    assert(ex.getMessage.contains("positive"),
      s"unexpected: ${ex.getMessage}")
  }

  test("fractional weights fail loudly instead of silently flooring") {
    // cast(\"long\") alone floors 1.9 to 1 (> 0, guard passed) — a
    // biased distance/rank with no error (r11 self-review)
    val e = Seq(("a", "b", 1.9)).toDF("src", "dst", "w")
    val ex = intercept[Exception] {
      Graph.shortestPaths(e, "src", "dst", "w",
        Seq("a").toDF("node"), "node", maxHops = 1).collect()
    }
    assert(ex.getMessage.contains("positive integers"),
      s"unexpected: ${ex.getMessage}")
    val ex2 = intercept[Exception] {
      Graph.pageRank(e, "src", "dst", iterations = 1,
        weightCol = Some("w")).collect()
    }
    assert(ex2.getMessage.contains("positive"),
      s"unexpected: ${ex2.getMessage}")
    // integral-VALUED doubles are fine (exact long image)
    val ok = Seq(("a", "b", 2.0)).toDF("src", "dst", "w")
    assert(Graph.shortestPaths(ok, "src", "dst", "w",
      Seq("a").toDF("node"), "node", maxHops = 1).count() == 2L)
  }

  test("bfsHops: min hop per node, cap honored, isolated seed kept") {
    // chain a->b->c->d->e plus a shortcut a->c; seed {a, z} (z is not
    // in the graph at all)
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "c"))
      .toDF("src", "dst")
    val seeds = Seq("a", "z").toDF("node")
    val got = Graph.bfsHops(e, "src", "dst", seeds, "node", maxHops = 2)
      .as[(String, Int)].collect().toMap
    assert(got == Map("a" -> 0, "z" -> 0, "b" -> 1,
      "c" -> 1,   // the shortcut wins over a->b->c
      "d" -> 2))  // e is at hop 3, beyond the cap
  }

  test("bfsHops: multi-seed minimum and early frontier dry-up") {
    val e = Seq(("a", "b"), ("c", "b"), ("b", "d")).toDF("src", "dst")
    val got = Graph.bfsHops(e, "src", "dst",
        Seq("a", "c").toDF("node"), "node", maxHops = 10)
      .as[(String, Int)].collect().toMap
    // frontier dries at hop 2 long before the cap; b reached from both
    // seeds at hop 1 appears once
    assert(got == Map("a" -> 0, "c" -> 0, "b" -> 1, "d" -> 2))
  }

  test("bfsHops is directed: edges never traverse backwards") {
    val e = Seq(("a", "b"), ("c", "b")).toDF("src", "dst")
    val got = Graph.bfsHops(e, "src", "dst",
        Seq("a").toDF("node"), "node", maxHops = 5)
      .as[(String, Int)].collect().toMap
    assert(got == Map("a" -> 0, "b" -> 1)) // c unreachable via b<-c
  }

  test("personalized pageRank concentrates rank near the seeds") {
    // two disjoint stars; seeding only h1's component leaves the other
    // component at exactly zero everywhere
    val twoStars = star.unionByName(
      Seq(("h2", "x"), ("h2", "y"), ("x", "h2"), ("y", "h2"))
        .toDF("src", "dst"))
    val got = Graph.personalizedPageRank(twoStars, "src", "dst",
        Seq("h").toDF("node"), "node", 5)
      .as[(String, Double)].collect().toMap
    assert(got("h") > got("a"))
    assert(Set("h2", "x", "y").forall(got(_) == 0.0))
    assert(got.keySet == Set("h", "a", "b", "c", "h2", "x", "y"))
  }

  test("pageRank and bfsHops converge identically under reliable " +
      "checkpointing") {
    val dir = tempDir("graft-graph-ckpt").toString
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
      ("d", "a")).toDF("src", "dst")
    // the exact-integer rank loop makes equality BIT equality, so the
    // two truncation strategies are provably the same computation
    val prDefault = Graph.pageRank(e, "src", "dst", iterations = 6)
      .as[(String, Double)].collect().toMap
    val prReliable = Graph.pageRank(e, "src", "dst", iterations = 6,
        checkpointDir = Some(dir))
      .as[(String, Double)].collect().toMap
    assert(prReliable == prDefault)
    val seeds = Seq("a").toDF("node")
    val bfsDefault = Graph.bfsHops(e, "src", "dst", seeds, "node", 3)
      .as[(String, Int)].collect().toMap
    val bfsReliable = Graph.bfsHops(e, "src", "dst", seeds, "node", 3,
        checkpointDir = Some(dir))
      .as[(String, Int)].collect().toMap
    assert(bfsReliable == bfsDefault)
  }
}
