package graft

import org.apache.spark.sql.functions._
import graft.engine.Catalog
import graft.ops.Skew

/** Scale-mechanics operators: salting and bucketing. Correctness here is
  * "identical results to the naive formulation"; the scale property is
  * asserted on the physical plan. */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  // heavily skewed: one hot key with 5000 rows, 10 cold keys with 10 each
  private def skewed = (
    (1 to 5000).map(i => ("hot", i.toLong)) ++
    (1 to 10).flatMap(k => (1 to 10).map(i => (s"cold$k", i.toLong)))
  ).toDF("k", "v")

  test("salted aggregation equals plain aggregation") {
    val plain = skewed.groupBy("k")
      .agg(sum("v").as("s"), count(lit(1)).as("n"), min("v").as("mn"), max("v").as("mx"))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val salted = Skew.saltedSumCount(skewed, "k", "v", saltBuckets = 8)
      .select(col("k"), col("sum_v"), col("n"), col("min_v"), col("max_v"))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(salted == plain)
  }

  test("salted join equals plain join, including row multiplicity") {
    val sk = skewed
    val small = Seq(("hot", "H"), ("cold1", "C1"), ("missing", "M"))
      .toDF("sk", "label")
    val plain = sk.join(small, sk("k") === small("sk"))
      .groupBy("label").count().as[(String, Long)].collect().toSet
    val salted = Skew.saltedJoin(sk, small, "k", "sk", saltBuckets = 8)
      .groupBy("label").count().as[(String, Long)].collect().toSet
    assert(salted == plain)
    assert(plain.contains(("H", 5000L)))
  }

  test("AQE splits a skewed shuffle-join partition at runtime") {
    // the documented skew escape hatch beyond manual salting: one key
    // owning ~all rows of the left side must be detected and SPLIT by
    // AQE's runtime re-plan (skew=true on the join). Thresholds are
    // lowered so fixture-scale data crosses them; every conf is
    // restored afterwards.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "20KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "20KB")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val left = spark.range(0, 60000)
        .selectExpr("CAST(id % 600 = 0 AS INT) * 0 AS k", // ~all rows k=0
          "id AS payload", "repeat('x', 24) AS pad")
      val right = spark.range(0, 10).selectExpr("CAST(id AS INT) AS k",
        "id * 100 AS rv")
      val joined = left.join(right, "k")
      // materialize through the SAME QueryExecution we inspect — count()
      // would wrap the plan in its own execution and leave this one
      // un-finalized (isFinalPlan=false, no AQE re-plan to see)
      assert(joined.collect().length == 60000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE must mark the skewed join:\n$finalPlan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("partitioned writes enable partition pruning at read") {
    val dir = tempDir("graft-part").toString
    spark.read.parquet(s"$sfDir/events.parquet")
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    // one directory per event_type
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("event_type=")).sorted
    assert(dirs.length == 5)
    val q = spark.read.parquet(dir).where(col("event_type") === "purchase")
    val plan = q.queryExecution.executedPlan.toString()
    // the filter becomes a partition filter: only 1 of 5 directories read
    assert(plan.contains("PartitionFilters") &&
      plan.contains("event_type#") || plan.contains("isnotnull(event_type"))
    val scanned = q.queryExecution.executedPlan.collectLeaves().head
      .toString()
    assert(!scanned.contains("PushedFilters: [IsNotNull(event_type)"),
      "event_type must be pruned as a partition column, not a data filter")
    assert(q.count() ==
      spark.read.parquet(s"$sfDir/events.parquet")
        .where(col("event_type") === "purchase").count())
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // the 100 TB shape: a big-big shuffle join where one side carries a
    // selective filter — Spark injects a bloom filter built from the
    // filtered side into the other side's scan, so most fact rows drop
    // BEFORE the shuffle. Thresholds are lowered so the sf0.001 fixture
    // exercises the same rewrite a real cluster would apply at size.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // creationSideThreshold is a MAX (build side must be smaller),
      // applicationSideScanSizeThreshold a MIN (probe side must be bigger)
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val ord = spark.read.parquet(s"$sfDir/orders.parquet")
        .where(col("o_totalprice") > 400000.0) // selective build side
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"no runtime bloom filter:\n$plan")
      // and the rewrite never changes the answer
      val expect = li.join(ord.hint("broadcast"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect().toSet
      assert(joined.as[(String, Long)].collect().toSet == expect)
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("bucketed tables equi-join without a shuffle") {
    val c = new Catalog(spark)
    val customer = spark.read.parquet(s"$sfDir/customer.parquet")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    try {
      c.addBucketedTable("cust_b", customer, "c_custkey", 4)
      c.addBucketedTable("ord_b", orders, "o_custkey", 4)
      val joined = c.table("cust_b").df.join(c.table("ord_b").df,
        col("c_custkey") === col("o_custkey"))
      // same answer as the plain join
      val plainCount = customer.join(orders,
        customer("c_custkey") === orders("o_custkey")).count()
      assert(joined.count() == plainCount)
      // and the scale property: no shuffle on either side of the join
      val p = joined.queryExecution.executedPlan.toString()
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$p")
    } finally {
      spark.sql("DROP TABLE IF EXISTS cust_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }
}
