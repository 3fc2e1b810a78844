package graft

import org.apache.spark.sql.functions._
import graft.ops.Kmv

class KmvSpec extends SparkSpec {
  import spark.implicits._

  test("sketch: k smallest distinct hashes, multiplicity-invariant, sorted") {
    val distinct = (1 to 2000).map(_.toLong).toDF("k")
    val duplicated = ((1 to 2000) ++ (1 to 2000) ++ (1 to 300))
      .map(_.toLong).toDF("k")
    val s1 = Kmv.sketch(distinct, "k", 64).as[Long].collect()
    val s2 = Kmv.sketch(duplicated, "k", 64).as[Long].collect()
    assert(s1.toSeq == s2.toSeq)           // multiplicity never matters
    assert(s1.length == 64)
    assert(s1.toSet.size == 64)            // distinct hashes
    // the k smallest of ALL hashes: every non-member hash is larger
    val all = distinct.select(
      conv(substring(md5(concat(col("k").cast("string"), lit(":kmv"))),
        1, 15), 16, 10).cast("long").as("h")).as[Long].collect().toSet
    assert(s1.toSet == all.toSeq.sorted.take(64).toSet)
  }

  test("estimate: within KMV error bounds at k=64, exact under k, reproducible") {
    val df = (1 to 5000).map(_.toLong).toDF("k")
    val est = Kmv.estimate(Kmv.sketch(df, "k", 64), 64)
      .collect().head.getDouble(0)
    // sigma ~ 1/sqrt(62) = 12.7%; deterministic, so pin the accuracy
    // this hash achieves rather than a flaky bound
    assert(math.abs(est - 5000) / 5000 < 0.3, s"est $est")
    val again = Kmv.estimate(Kmv.sketch(df, "k", 64), 64)
      .collect().head.getDouble(0)
    assert(est == again)                   // bit-identical across runs
    // fewer distinct values than k: the count is exact
    val small = (1 to 40).map(_.toLong).toDF("k")
    val r = Kmv.estimate(Kmv.sketch(small, "k", 64), 64).collect().head
    assert(r.getDouble(0) == 40.0 && r.getInt(1) == 40)
  }

  test("merge(sketch(A), sketch(B)) IS sketch(A ∪ B), row for row") {
    val a = (1 to 3000).map(_.toLong).toDF("k")
    val b = (2000 to 6000).map(_.toLong).toDF("k")
    val merged = Kmv.merge(64, Kmv.sketch(a, "k", 64), Kmv.sketch(b, "k", 64))
      .as[Long].collect().toSeq
    val whole = Kmv.sketch(a.unionByName(b), "k", 64).as[Long].collect().toSeq
    assert(merged == whole)
  }

  test("jvmHash60 mirrors the SQL hash60 bit for bit") {
    val keys = (1 to 100).map(i => s"key-$i-${"x" * (i % 7)}") ++
      Seq("", " ", "unicode-é-試", "0", "-1")
    Seq(":kmv", ":hll").foreach { salt =>
      val sql = keys.toDF("k")
        .select(col("k"), graft.ops.Hll.hash60(col("k"), salt).as("h"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      keys.foreach { k =>
        assert(graft.ops.Hll.jvmHash60(k, salt) == sql(k), s"key $k salt $salt")
      }
    }
  }

  test("parameter contracts reject degenerate arguments") {
    val df = (1 to 10).map(_.toLong).toDF("k")
    intercept[IllegalArgumentException] { Kmv.sketch(df, "k", 1) }
    intercept[IllegalArgumentException] { Kmv.estimate(df.select(col("k").as("h")), 0) }
    intercept[IllegalArgumentException] { Kmv.rowSample(df, "k", 0) }
    intercept[IllegalArgumentException] { Kmv.rowSampleBy(df.withColumn("g", lit("a")), "g", "k", 0) }
    intercept[IllegalArgumentException] {
      Kmv.sampleQuantiles(df.select(col("k").cast("double").as("v")), "v", Seq(0))
    }
    intercept[IllegalArgumentException] {
      Kmv.sampleQuantiles(df.select(col("k").cast("double").as("v")), "v", Nil)
    }
    intercept[IllegalArgumentException] { Kmv.merge(8) }
  }

  test("null keys are not observations") {
    val df = (Seq[Option[Long]](None, None) ++ (1 to 30).map(i =>
      Some(i.toLong))).toDF("k")
    val r = Kmv.estimate(Kmv.sketch(df, "k", 64), 64).collect().head
    assert(r.getDouble(0) == 30.0)
  }

  test("sketchBy/estimateBy: per-group bottom-k matches per-group global sketches") {
    val df = (1 to 4000).map(i => (if (i % 3 == 0) "a" else "b", i.toLong))
      .toDF("g", "k")
    val grouped = Kmv.estimateBy(Kmv.sketchBy(df, "g", "k", 64), "g", 64)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getInt(2))).toMap
    for (g <- Seq("a", "b")) {
      val solo = Kmv.estimate(
          Kmv.sketch(df.where(col("g") === g), "k", 64), 64)
        .collect().head
      assert(grouped(g) == ((solo.getDouble(0), solo.getInt(1))), s"group $g")
    }
    // accuracy per group (a has ~1333 distinct, b ~2667)
    assert(math.abs(grouped("a")._1 - 1333) / 1333 < 0.35)
    assert(math.abs(grouped("b")._1 - 2667) / 2667 < 0.35)
  }

  test("rowSample: deterministic, mergeable, carries requested columns") {
    val df = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
    val s1 = Kmv.rowSample(df, "id", 50, "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val s2 = Kmv.rowSample(df, "id", 50, "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(s1 == s2)
    // bottom-k of the union == re-take of the halves' bottom-ks
    val lo = df.where(col("id") <= 500)
    val hi = df.where(col("id") > 500)
    val viaHalves = Kmv.rowSample(lo, "id", 50, "v")
      .unionByName(Kmv.rowSample(hi, "id", 50, "v"))
      .orderBy(col("h")).limit(50).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaHalves == s1)
  }

  test("rowSampleBy: per-group cap is deterministic, exact-k, and mergeable") {
    val df = (1 to 900).map(i => (i.toLong, s"g${i % 3}", i * 1.5))
      .toDF("id", "g", "v")
    val a = Kmv.rowSampleBy(df, "g", "id", 20)
    val rows = a.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // exactly k per group, deterministic
    val perGroup = rows.groupBy(_._2).view.mapValues(_.size).toMap
    assert(perGroup == Map("g0" -> 20, "g1" -> 20, "g2" -> 20))
    val again = Kmv.rowSampleBy(df, "g", "id", 20)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == again)
    // capping shards then re-capping the union == capping the whole
    val viaShards = Kmv.rowSampleBy(
      Kmv.rowSampleBy(df.where(col("id") <= 450), "g", "id", 20)
        .unionByName(Kmv.rowSampleBy(df.where(col("id") > 450), "g", "id", 20)),
      "g", "id", 20).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaShards == rows)
    // groups under the cap survive whole
    val small = Kmv.rowSampleBy(df.where(col("id") <= 30), "g", "id", 20)
    assert(small.count() == 30)
    // carried columns come through untouched
    assert(a.columns.toSeq == Seq("id", "g", "v"))
  }

  test("quantilesBy: per-group ranks match sampleQuantiles per group") {
    val df = (1 to 600).map(i => (i.toLong, s"g${i % 2}", (i * 7 % 100).toDouble))
      .toDF("id", "g", "v")
    val sample = Kmv.rowSampleBy(df, "g", "id", 40)
    val grouped = Kmv.quantilesBy(sample, "g", "v", Seq(25, 75))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getInt(3)))).toMap
    for (g <- Seq("g0", "g1")) {
      val solo = Kmv.sampleQuantiles(sample.where(col("g") === g), "v",
        Seq(25, 75)).collect().head
      assert(grouped(g) ==
        ((solo.getDouble(0), solo.getDouble(1), solo.getInt(2))), s"group $g")
      assert(grouped(g)._3 == 40)
    }
  }

  test("sampleQuantiles: integer lower-rank extraction, member values only") {
    // a known 4-row sample: sorted values (1.0, 2.0, 3.0, 4.0);
    // rank(p) = (p*4 + 99) div 100 -> p25=1, p50=2, p75=3, p95=4 (ranks)
    val sample = Seq((1L, 3.0), (2L, 1.0), (3L, 4.0), (4L, 2.0))
      .toDF("h", "v")
    val r = Kmv.sampleQuantiles(sample, "v", Seq(25, 50, 75, 95))
      .collect().head
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 2.0 &&
      r.getDouble(2) == 3.0 && r.getDouble(3) == 4.0 && r.getInt(4) == 4)
    // empty sample: null quantiles, zero count — not an error
    val e = Kmv.sampleQuantiles(sample.where(col("v") > 100), "v", Seq(50))
      .collect().head
    assert(e.isNullAt(0) && e.getInt(1) == 0)
    // sampled quantiles of a real column track the exact ones
    val o = (1 to 10000).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val q = Kmv.sampleQuantiles(Kmv.rowSample(o, "id", 1000, "v"),
      "v", Seq(50)).collect().head.getDouble(0)
    assert(math.abs(q - 5000.0) / 5000.0 < 0.1, s"p50 $q")
  }

  test("bottom_k aggregate: distinct k-smallest per group, sorted, " +
      "partition/merge-order invariant, null-skipping") {
    // 500 groups x ~40 values each with duplicates, spread over many
    // partitions — well past ObjectHashAggregate's sort-based fallback
    // threshold, so the partial/merge/serialize path and the fallback
    // path both execute
    graft.Graft.init(spark)
    val rows = for {
      g <- 0 until 500; i <- 0 until 40
    } yield (s"g$g", ((i * 7919 + g) % 25).toLong)
    val withNulls = rows.toDF("g", "v")
      .unionByName(Seq(("g0", null.asInstanceOf[java.lang.Long]))
        .toDF("g", "v"))
      .repartition(16)
    val got = withNulls.groupBy(col("g"))
      .agg(graft.functions.SketchExprs.bottomK(col("v"), 8).as("hs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val expect = rows.groupBy(_._1).view.mapValues(
      _.map(_._2).distinct.sorted.take(8)).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (g, e) =>
      assert(got(g) == e, s"group $g: ${got(g)} vs $e")
    }
    // groups with fewer than k distinct values return them all
    assert(got.values.forall(hs => hs.length <= 8 &&
      hs.toSeq == hs.toSeq.distinct.sorted))
  }

  test("setEstimates: exact Jaccard when both sets fit the sketch, " +
      "bounded error when they don't, disjoint -> zero") {
    import graft.ops.Kmv
    // small sets: merged sketch < k => exact set algebra
    val a = Seq.range(0, 40).map(i => Tuple1(s"k$i")).toDF("key")
    val b = Seq.range(25, 70).map(i => Tuple1(s"k$i")).toDF("key")
    val exact = Kmv.setEstimates(
      Kmv.sketch(a, "key", 256), Kmv.sketch(b, "key", 256), 256)
      .collect().head
    // |A ∪ B| = 70, |A ∩ B| = 15
    assert(exact.getDouble(0) == 70.0)
    assert(exact.getDouble(1) == 15.0 / 70.0)
    assert(exact.getDouble(2) == (15.0 / 70.0) * 70.0)
    assert(exact.getInt(3) == 70 && exact.getLong(4) == 15L)
    // disjoint sets: jaccard and intersection exactly zero
    val c = Seq.range(1000, 1050).map(i => Tuple1(s"k$i")).toDF("key")
    val dis = Kmv.setEstimates(
      Kmv.sketch(a, "key", 256), Kmv.sketch(c, "key", 256), 256)
      .collect().head
    assert(dis.getDouble(1) == 0.0 && dis.getDouble(2) == 0.0)
    // big overlapping sets at k=256: estimates land near truth
    val bigA = Seq.range(0, 8000).map(i => Tuple1(s"x$i")).toDF("key")
    val bigB = Seq.range(4000, 12000).map(i => Tuple1(s"x$i")).toDF("key")
    val est = Kmv.setEstimates(
      Kmv.sketch(bigA, "key", 256), Kmv.sketch(bigB, "key", 256), 256)
      .collect().head
    // truth: union 12000, jaccard 4000/12000, intersection 4000
    assert(math.abs(est.getDouble(0) - 12000.0) / 12000.0 < 0.25)
    assert(math.abs(est.getDouble(1) - 1.0 / 3.0) < 0.15)
    assert(math.abs(est.getDouble(2) - 4000.0) / 4000.0 < 0.40)
  }

  test("containment: exact 1.0 on a true subset, 0 on disjoint, " +
      "tracks |A∩B|/|A| on big sets") {
    import graft.ops.Kmv
    // A ⊂ B literally: every sampled A member is a B member -> exactly 1
    val a = Seq.range(0, 300).map(i => Tuple1(s"k$i")).toDF("key")
    val b = Seq.range(0, 5000).map(i => Tuple1(s"k$i")).toDF("key")
    val sub = Kmv.containment(
      Kmv.sketch(a, "key", 128), Kmv.sketch(b, "key", 128), 128)
      .collect().head
    assert(sub.getDouble(0) == 1.0, s"subset containment ${sub.getDouble(0)}")
    // reverse direction estimates |A|/|B| = 0.06
    assert(sub.getDouble(1) > 0.0 && sub.getDouble(1) < 0.25,
      s"reverse ${sub.getDouble(1)}")
    // disjoint: both directions exactly zero
    val c = Seq.range(9000, 9300).map(i => Tuple1(s"k$i")).toDF("key")
    val dis = Kmv.containment(
      Kmv.sketch(a, "key", 128), Kmv.sketch(c, "key", 128), 128)
      .collect().head
    assert(dis.getDouble(0) == 0.0 && dis.getDouble(1) == 0.0 &&
      dis.getLong(4) == 0L)
    // partial overlap at scale: C(A in B) truth = 4000/8000 = 0.5
    val bigA = Seq.range(0, 8000).map(i => Tuple1(s"x$i")).toDF("key")
    val bigB = Seq.range(4000, 12000).map(i => Tuple1(s"x$i")).toDF("key")
    val est = Kmv.containment(
      Kmv.sketch(bigA, "key", 256), Kmv.sketch(bigB, "key", 256), 256)
      .collect().head
    assert(math.abs(est.getDouble(0) - 0.5) < 0.2, s"est ${est.getDouble(0)}")
  }

  test("containmentBy matches global containment per group") {
    import graft.ops.Kmv
    val rows = for {
      g <- Seq("p1", "p2"); i <- 0 until 250
    } yield (g, s"$g-c${(i * 7) % 150}", i % 2)
    val df = rows.toDF("g", "key", "half")
    val skA = Kmv.sketchBy(df.where(col("half") === 0), "g", "key", 64)
    val skB = Kmv.sketchBy(df.where(col("half") === 1), "g", "key", 64)
    val grouped = Kmv.containmentBy(skA, skB, "g", 64)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    Seq("p1", "p2").foreach { g =>
      val ga = Kmv.sketch(df.where(col("half") === 0 && col("g") === g),
        "key", 64)
      val gb = Kmv.sketch(df.where(col("half") === 1 && col("g") === g),
        "key", 64)
      val e = Kmv.containment(ga, gb, 64).collect().head
      assert(grouped(g) == ((e.getDouble(0), e.getDouble(1), e.getLong(2),
        e.getLong(3), e.getLong(4))), s"group $g")
    }
  }

  test("setEstimatesBy: a NULL group is a real group (null-safe joins)") {
    import graft.ops.Kmv
    // both sides carry a NULL group with real overlap: the membership
    // joins must match its rows (<=>), not zero out n_both
    val a = (0 until 40).map(i => (null.asInstanceOf[String], s"k$i"))
      .toDF("g", "key")
    val b = (25 until 70).map(i => (null.asInstanceOf[String], s"k$i"))
      .toDF("g", "key")
    val got = Kmv.setEstimatesBy(
      Kmv.sketchBy(a, "g", "key", 256), Kmv.sketchBy(b, "g", "key", 256),
      "g", 256).collect()
    assert(got.length == 1 && got.head.isNullAt(0))
    val r = got.head
    // |A ∪ B| = 70, |A ∩ B| = 15 — exact (both under k)
    assert(r.getDouble(1) == 70.0 && r.getLong(5) == 15L,
      s"union ${r.getDouble(1)}, n_both ${r.getLong(5)}")
  }

  test("setEstimatesBy matches global setEstimates per group") {
    import graft.ops.Kmv
    val rows = for {
      g <- Seq("p1", "p2", "p3"); i <- 0 until 300
    } yield (g, s"$g-c${(i * 13) % 180}", i % 2)
    val df = rows.toDF("g", "key", "half")
    val skA = Kmv.sketchBy(df.where(col("half") === 0), "g", "key", 64)
    val skB = Kmv.sketchBy(df.where(col("half") === 1), "g", "key", 64)
    val grouped = Kmv.setEstimatesBy(skA, skB, "g", 64)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3),
          r.getInt(4), r.getLong(5)))).toMap
    Seq("p1", "p2", "p3").foreach { g =>
      val ga = Kmv.sketch(df.where(col("half") === 0 && col("g") === g),
        "key", 64)
      val gb = Kmv.sketch(df.where(col("half") === 1 && col("g") === g),
        "key", 64)
      val e = Kmv.setEstimates(ga, gb, 64).collect().head
      assert(grouped(g) == ((e.getDouble(0), e.getDouble(1),
        e.getDouble(2), e.getInt(3), e.getLong(4))), s"group $g")
    }
  }
}
