package graft

import org.apache.spark.sql.functions._
import graft.ops.Pq

class PqSpec extends SparkSpec {
  import spark.implicits._

  // 4 direction clusters in R^8, same construction as IvfUdfSpec: PQ
  // trained per-subspace must separate them well enough that ADC ranks
  // a vector's own cluster first
  private def clustered: Seq[(Long, Array[Float])] = {
    val base = Seq(
      Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f),
      Array(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f),
      Array(0f, 0f, 1f, 0f, 0f, 0f, 1f, 0f),
      Array(0f, 0f, 0f, 1f, 0f, 0f, 0f, 1f))
    for (c <- 0 until 4; j <- 0 until 12) yield {
      val r = new java.util.Random(c * 100L + j)
      (j * 4L + c, base(c).map(x => x + (r.nextGaussian() * 0.05).toFloat))
    }
  }

  test("planted-codebook encode is deterministic and code-ranged") {
    val emb = clustered.toDF("vec_id", "embedding")
    val model = Pq.plantedModel(8, 2, 4)
    val codes = Pq.encode(emb, "vec_id", "embedding", model)
      .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(codes.forall(_._2.length == 2))
    assert(codes.forall(_._2.forall(c => c >= 0 && c < 4)))
    val again = Pq.encode(emb, "vec_id", "embedding", model)
      .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(codes == again)
  }

  test("trained PQ + ADC recovers the true nearest cluster") {
    val emb = clustered.toDF("vec_id", "embedding")
    val model = Pq.train(emb, "vec_id", "embedding", m = 2, k = 4, iters = 2)
    assert(model.m == 2 && model.k == 4 && model.dsub == 4)
    // training is deterministic across runs
    val again = Pq.train(emb, "vec_id", "embedding", m = 2, k = 4, iters = 2)
    assert(model.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      again.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    // ADC top-12 for a cluster-0 query: the 12 cluster-0 vectors (ids
    // ≡ 0 mod 4) must dominate — PQ cells align with the direction
    // clusters, so at least 10 of 12 survive quantization
    val query = clustered.head._2
    val top = Pq.adcTopK(emb, "vec_id", "embedding", model, query, 12)
      .as[(Long, String, Double)].collect()
    assert(top.length == 12)
    assert(top.count(_._1 % 4 == 0) >= 10,
      s"cluster-0 hits: ${top.map(_._1).toSeq}")
    // distances ascend and the codes column is the joined form
    assert(top.map(_._3).toSeq == top.map(_._3).sorted.toSeq)
    assert(top.forall(_._2.split("\\|").length == 2))
  }

  test("codesTopK over persisted codes equals encode-then-score") {
    val emb = clustered.toDF("vec_id", "embedding")
    val model = Pq.plantedModel(8, 2, 4)
    val query = clustered.last._2
    val direct = Pq.adcTopK(emb, "vec_id", "embedding", model, query, 5)
      .collect().map(_.toString).toSeq
    // persist codes (the 100 TB layout: codes hot, vectors cold)
    val tmp = tempDir("graft-pq").toString + "/codes"
    Pq.encode(emb, "vec_id", "embedding", model).write.parquet(tmp)
    val stored = Pq.codesTopK(spark.read.parquet(tmp), "vec_id", model,
      query, 5).collect().map(_.toString).toSeq
    assert(stored == direct)
  }

  test("composed IVF-PQ pipeline agrees with brute force on clustered data") {
    val emb = clustered.toDF("vec_id", "embedding")
    val query = clustered.head._2
    val brute = graft.ops.Similarity
      .bruteForceTopK(emb, "vec_id", "embedding", query, 5)
      .as[(Long, Double)].collect().map(_._1).toSeq
    val ivfpq = Pq.ivfPqTopK(emb, "vec_id", "embedding", query, 5,
      nClusters = 4, nProbe = 2, m = 2, kSub = 4, refine = 3, iters = 2)
      .as[(Long, Double)].collect()
    // the exact re-rank stage makes the final scores true cosines, so
    // agreement with brute force is exact on well-separated clusters
    assert(ivfpq.map(_._1).toSeq == brute)
    assert(ivfpq.map(_._2).toSeq == ivfpq.map(_._2).sortBy(-_).toSeq)
  }

  test("train rejects a dimension not divisible by m") {
    val emb = clustered.toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Pq.train(emb, "vec_id", "embedding", m = 3, k = 2)
    }
  }

  test("mixed-dimension corpora are rejected; corrupt rows never rank first") {
    // train: whole-corpus validation, not first-row (the Ivf lesson)
    val mixed = (clustered :+ (999L, Array(1f, 2f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Pq.train(mixed, "vec_id", "embedding", m = 2, k = 4)
    }
    assert(e.getMessage.contains("mixed vector dimensions"))
    // ADC: a wrong-dimension row propagates a null score and is
    // EXCLUDED — without the filter, nulls-first ordering would crown
    // the corrupt row the #1 nearest neighbor
    val model = Pq.plantedModel(8, 2, 4)
    val top = Pq.adcTopK(mixed, "vec_id", "embedding", model,
      clustered.head._2, 48)
      .as[(Long, String, Double)].collect()
    assert(!top.map(_._1).contains(999L))
    assert(top.forall(r => !r._3.isNaN))
  }
}
