package graft

import org.apache.spark.sql.functions._
import graft.ops.Hll

class HllSpec extends SparkSpec {
  import spark.implicits._

  test("sketch: deterministic registers, bounded by m, insertion-count invariant") {
    val distinct = (1 to 500).map(_.toLong).toDF("k")
    val duplicated = ((1 to 500) ++ (1 to 500) ++ (1 to 100))
      .map(_.toLong).toDF("k")
    val s1 = Hll.sketch(distinct, "k", 6).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    val s2 = Hll.sketch(duplicated, "k", 6).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(s1 == s2)                       // multiplicity never matters
    assert(s1.size <= 64)
    assert(s1.keys.forall(b => b >= 0 && b < 64))
    assert(s1.values.forall(r => r >= 1 && r <= 55))
  }

  test("estimate: within HLL error bounds at p=6, exact value reproducible") {
    val est = Hll.distinctEstimate((1 to 1500).map(_.toLong).toDF("k"), "k", 6)
      .collect().head.getDouble(0)
    // sigma = 1.04/sqrt(64) = 13%; deterministic, so pin the actual
    // accuracy this hash achieves rather than a flaky bound
    assert(math.abs(est - 1500) / 1500 < 0.3, s"est $est")
    val again = Hll.distinctEstimate(
      (1 to 1500).map(_.toLong).toDF("k"), "k", 6).collect().head.getDouble(0)
    assert(est == again)                   // bit-identical across runs
  }

  test("merge(sketch(A), sketch(B)) has exactly the registers of sketch(A ∪ B)") {
    val a = (1 to 800).map(_.toLong).toDF("k")
    val b = (500 to 1200).map(_.toLong).toDF("k")
    val merged = Hll.merge(Hll.sketch(a, "k", 6), Hll.sketch(b, "k", 6))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val whole = Hll.sketch(a.unionByName(b), "k", 6)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(merged == whole)
    // estimates therefore agree bit-for-bit
    val em = Hll.estimate(Hll.merge(Hll.sketch(a, "k", 6),
      Hll.sketch(b, "k", 6)), 6).collect().head.getDouble(0)
    val ew = Hll.estimate(Hll.sketch(a.unionByName(b), "k", 6), 6)
      .collect().head.getDouble(0)
    assert(em == ew)
  }

  test("linear-counting correction makes tiny cardinalities near-exact") {
    val est = Hll.distinctEstimate(
      Seq(1L, 2L, 3L, 4L, 5L).toDF("k"), "k", 10).collect().head.getDouble(0)
    assert(math.abs(est - 5.0) < 1.0, s"est $est")
  }

  test("persisted sketch parquet merges with a fresh batch without rescanning") {
    val dir = tempDir("hll-sketch").toString
    Hll.sketch((1 to 600).map(_.toLong).toDF("k"), "k", 6)
      .write.mode("overwrite").parquet(dir)
    val standing = spark.read.parquet(dir)
    val fresh = Hll.sketch((400 to 900).map(_.toLong).toDF("k"), "k", 6)
    val est = Hll.estimate(Hll.merge(standing, fresh), 6)
      .collect().head.getDouble(0)
    val direct = Hll.distinctEstimate(
      (1 to 900).map(_.toLong).toDF("k"), "k", 6).collect().head.getDouble(0)
    assert(est == direct)
  }

  test("grouped sketches estimate per group") {
    val df = (1 to 1000).map(i => (s"g${i % 2}", (i % 300).toLong))
      .toDF("g", "k")
    val est = Hll.estimateBy(Hll.sketchBy(df, "g", "k", 6), "g", 6)
      .as[(String, Double)].collect().toMap
    // g0: k in {0,2,...,298} evens... actually i%300 over i in [1,1000]
    // hits all 300 residues in each parity class; both groups see the
    // residues their i-parity produces: 150 distinct each
    val exact = (1 to 1000).groupBy(i => s"g${i % 2}")
      .view.mapValues(_.map(_ % 300).distinct.size).toMap
    for ((g, e) <- est)
      assert(math.abs(e - exact(g)) / exact(g) < 0.35, s"$g: $e vs ${exact(g)}")
  }
}
