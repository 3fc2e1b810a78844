package graft

import org.apache.spark.sql.functions._
import graft.engine.Catalog
import graft.ops.Similarity

class IvfUdfSpec extends SparkSpec {
  import spark.implicits._

  // clustered synthetic embeddings: 4 well-separated direction clusters
  // of 12 vectors each in R^8 — IVF must recover the query's cluster
  private def clustered: Seq[(Long, Array[Float])] = {
    val base = Seq(
      Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f),
      Array(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f),
      Array(0f, 0f, 1f, 0f, 0f, 0f, 1f, 0f),
      Array(0f, 0f, 0f, 1f, 0f, 0f, 0f, 1f))
    // ids interleaved across clusters; the quantizer's farthest-point
    // init spreads one seed per direction cluster regardless of order
    // (see ivfTopK scaladoc on seeding)
    for (c <- 0 until 4; j <- 0 until 12) yield {
      val r = new java.util.Random(c * 100L + j)
      val v = base(c).map(x => x + (r.nextGaussian() * 0.05).toFloat)
      (j * 4L + c, v)
    }
  }

  test("IVF top-k agrees with brute force on clustered data") {
    val emb = clustered.toDF("vec_id", "embedding")
    val query = clustered.head._2
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", query, 5)
      .as[(Long, Double)].collect().map(_._1).toSeq
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", query, 5,
      nClusters = 4, nProbe = 1, iters = 2)
      .as[(Long, Double)].collect().map(_._1).toSeq
    // probing a single cluster already recovers the true top-5: the
    // query's neighbors all live in its own direction cluster
    assert(ivf == brute)
  }

  test("IVF is deterministic across runs") {
    val emb = clustered.toDF("vec_id", "embedding")
    val query = clustered.last._2
    def run() = Similarity.ivfTopK(emb, "vec_id", "embedding", query, 5,
      nClusters = 4, nProbe = 2, iters = 2)
      .as[(Long, Double)].collect().toSeq
    assert(run() == run())
  }

  test("IVF clamps when the corpus is smaller than the quantizer") {
    val tiny = clustered.take(3).toDF("vec_id", "embedding")
    val r = Similarity.ivfTopK(tiny, "vec_id", "embedding",
      clustered.head._2, 5, nClusters = 16, nProbe = 8, iters = 1)
      .as[(Long, Double)].collect()
    assert(r.nonEmpty && r.length <= 3)
  }

  test("persistent index round-trip: save/load/probe equals one-shot ivfTopK") {
    import graft.ops.Ivf
    val emb = clustered.toDF("vec_id", "embedding")
    val query = clustered.head._2
    val oneShot = Similarity.ivfTopK(emb, "vec_id", "embedding", query, 5,
      nClusters = 4, nProbe = 2, iters = 2).as[(Long, Double)].collect().toSeq
    val model = Ivf.index(emb, "vec_id", "embedding", nClusters = 4, iters = 2)
    val tmp = tempDir("graft-ivf-rt").toString
    Ivf.save(model, tmp)
    val loaded = Ivf.load(spark, tmp)
    // the quantizer survives the round-trip bit-exactly (float parquet)
    assert(loaded.centroids.map(_.toSeq).toSeq ==
      model.centroids.map(_.toSeq).toSeq)
    assert((loaded.idCol, loaded.vecCol) == ("vec_id", "embedding"))
    val probed = Ivf.probe(loaded, query, 5, 2).as[(Long, Double)].collect().toSeq
    assert(probed == oneShot)
  }

  test("incremental add lands in the saved index without touching old files") {
    import scala.jdk.CollectionConverters._
    import graft.ops.Ivf
    val emb = clustered.toDF("vec_id", "embedding")
    val query = clustered.head._2
    val tmp = tempDir("graft-ivf-add").toString
    Ivf.save(Ivf.index(emb, "vec_id", "embedding", nClusters = 4, iters = 2), tmp)
    def files(): Set[String] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp, "index"))
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .map(_.toString).toSet
      finally s.close()
    }
    val before = files()
    // new batch: an exact copy of the probe at a fresh id — it must land
    // in the probe's cluster and surface at rank 1 after reload
    val batch = Seq((999L, query)).toDF("vec_id", "embedding")
    Ivf.addToIndex(Ivf.load(spark, tmp), batch, tmp)
    assert(before.subsetOf(files()), "append must never rewrite old files")
    assert(files().size > before.size)
    val probed = Ivf.probe(Ivf.load(spark, tmp), query, 3, 2)
      .as[(Long, Double)].collect()
    // cosine 1.0 twice (original vec 0 and the added copy), id ascending
    assert(probed.take(2).map(_._1).toSet == Set(0L, 999L))
    assert(probed.take(2).forall(_._2 == 1.0))
    // wrong-dimension and wrong-element-type batches are rejected, not
    // silently appended into one cluster
    val wrongDim = Seq((1000L, Array(1f, 2f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Ivf.addToIndex(Ivf.load(spark, tmp), wrongDim, tmp) }
    val wrongType = Seq((1001L, query.map(_.toDouble)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Ivf.addToIndex(Ivf.load(spark, tmp), wrongType, tmp) }
    // a MIXED batch whose first row is correct must also be rejected
    // (ADVICE r6: head-only validation let the bad tail through)
    val mixed = Seq((1002L, query), (1003L, Array(1f, 2f)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Ivf.addToIndex(Ivf.load(spark, tmp), mixed, tmp) }
    assert(Ivf.load(spark, tmp).index
      .where(col("vec_id").isin(1002L, 1003L)).count() == 0,
      "a rejected batch must append nothing")
  }

  test("batched probe equals per-query probes on a loaded index") {
    import graft.ops.Ivf
    val emb = clustered.toDF("vec_id", "embedding")
    val tmp = tempDir("graft-ivf-batch").toString
    Ivf.save(Ivf.index(emb, "vec_id", "embedding", nClusters = 4, iters = 2), tmp)
    val model = Ivf.load(spark, tmp)
    val queries = Seq(0L -> clustered.head._2, 1L -> clustered(13)._2,
      2L -> clustered.last._2)
    val batched = Ivf.probeMany(model, queries, k = 5, nProbe = 2)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(r => (-r._3, r._2)).map(_._2).toSeq).toMap
    queries.foreach { case (qid, qv) =>
      val single = Ivf.probe(model, qv, 5, 2)
        .as[(Long, Double)].collect().map(_._1).toSeq
      assert(batched(qid) == single, s"qid=$qid diverged from single probe")
    }
  }

  test("probe rejects a query whose dimension differs from the index") {
    import graft.ops.Ivf
    val emb = clustered.toDF("vec_id", "embedding")
    val model = Ivf.index(emb, "vec_id", "embedding", nClusters = 2, iters = 1)
    intercept[IllegalArgumentException] {
      Ivf.probe(model, Array(1f, 2f, 3f), 5)
    }
  }

  test("UDF passthrough registers callable SQL functions") {
    val c = new Catalog(spark)
      .addCsvTable("ppl", s"$dataDir/people.csv")
      .registerUdf[Int, Int]("plus_ten", (x: Int) => x + 10)
      .registerUdf2[Double, Double, Double]("hypot2", (a: Double, b: Double) =>
        math.sqrt(a * a + b * b))
    val r = spark.sql(
      "SELECT plus_ten(age) AS a, hypot2(score, 3.0) AS h FROM ppl WHERE id = 1")
      .as[(Int, Double)].collect().head
    assert(r._1 == 31)
    assert(math.abs(r._2 - math.sqrt(87.5 * 87.5 + 9.0)) < 1e-12)
    assert(c.tableNames.contains("ppl"))
  }

  test("UDAF registration gets partial+final distributed execution") {
    new Catalog(spark).registerUdaf("geo_mean", GeoMeanAgg)
    Seq(("a", 2.0), ("a", 8.0), ("b", 5.0)).toDF("k", "v")
      .createOrReplaceTempView("gm_in")
    val r = spark.sql(
      "SELECT k, geo_mean(v) AS g FROM gm_in GROUP BY k ORDER BY k")
      .as[(String, Double)].collect()
    assert(math.abs(r(0)._2 - 4.0) < 1e-12) // sqrt(2*8)
    assert(math.abs(r(1)._2 - 5.0) < 1e-12)
    // runs over many partitions too (merge path exercised)
    val big = spark.range(1, 1001).selectExpr("CAST(id AS DOUBLE) AS v")
      .repartition(8)
    big.createOrReplaceTempView("gm_big")
    val g = spark.sql("SELECT geo_mean(v) FROM gm_big").as[Double].collect().head
    val expected = math.exp((1 to 1000).map(i => math.log(i)).sum / 1000.0)
    assert(math.abs(g - expected) < 1e-9)
  }
}

/** Geometric mean — not a Spark built-in, the canonical custom
  * aggregate; buffer is (sum of logs, count). Top-level so the closure
  * serializer ships only the aggregator, not the test suite. */
object GeoMeanAgg extends org.apache.spark.sql.expressions.Aggregator[
    Double, (Double, Long), Double] {
  def zero: (Double, Long) = (0.0, 0L)
  def reduce(b: (Double, Long), x: Double): (Double, Long) =
    (b._1 + math.log(x), b._2 + 1)
  def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
    (a._1 + b._1, a._2 + b._2)
  def finish(b: (Double, Long)): Double =
    if (b._2 == 0) Double.NaN else math.exp(b._1 / b._2)
  def bufferEncoder = org.apache.spark.sql.Encoders.tuple(
    org.apache.spark.sql.Encoders.scalaDouble,
    org.apache.spark.sql.Encoders.scalaLong)
  def outputEncoder = org.apache.spark.sql.Encoders.scalaDouble
}
