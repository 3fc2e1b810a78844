package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Similarity}

/** One function table, three ways to install it: a session built with
  * spark.sql.extensions=graft.GraftExtensions, a plain session after
  * Graft.init, and an extensions session after Graft.init. Each must
  * resolve every table name and answer the same SQL and ops alike. */
class ExtensionsSpec extends AnyFunSuite {

  /** Everything a session kind must answer; returns the answers so the
    * kinds can be compared. Dedup.exactSubstringDedup runs last: it
    * calls Graft.init itself. */
  private def observe(spark: SparkSession): Seq[String] = {
    import spark.implicits._
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    val missing = GraftExtensions.table.map(_._1).filterNot(reg.functionExists)
    assert(missing.isEmpty, s"unresolved: $missing")
    assert(GraftExtensions.table.size == 22)
    val r = spark.sql(
      """SELECT
        |  dot_f(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |        array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
        |  simhash64(array('a','b')) = simhash64(array('b','a')) AS bag,
        |  size(shingle_hash64('w1 w2 w3 w4', 3)) AS nsh,
        |  size(minhash_sig(shingle_hash64('w1 w2 w3 w4', 3), 8)) AS k,
        |  unicode_normalize('café', 'NFC') AS norm,
        |  bpe_encode('abab cab', concat('a', chr(0), 'b')) AS toks,
        |  unicode_normalize('cafe', concat('NF', 'C')) AS norm2
        |""".stripMargin).collect().head
    assert(r.getDouble(0) == 11.0)
    assert(r.getBoolean(1)) // simhash is bag-of-words
    assert(r.getInt(2) == 2) // two 3-grams in 4 words
    assert(r.getInt(3) == 8)
    assert(r.getString(4) == "café" && r.getString(4).length == 4)
    // one rule (a,b): "abab" -> [ab, ab], "cab" -> [c, ab]
    assert(r.getSeq[String](5) == Seq("ab", "ab", "c", "ab"))
    assert(r.getString(6) == "cafe")
    // a wrong-arity call names the function
    val arity = intercept[Exception](
      spark.sql("SELECT shingle_hash64('w1 w2 w3')").collect())
    assert(arity.getMessage.contains("shingle_hash64 expects 2"),
      arity.getMessage)
    // a constant argument given a column names the function and argument
    val nonConst = intercept[Exception](spark.sql(
      "SELECT unicode_normalize(s, f) FROM VALUES ('cafe', 'NFC') AS t(s, f)")
      .collect())
    assert(nonConst.getMessage.contains("unicode_normalize: form must be " +
      "a constant"), nonConst.getMessage)
    // sign_band_keys, through Similarity.bandKeys: each vector and its
    // scaled copy are cosine-1 pairs
    val rnd = new java.util.Random(7)
    val emb = (0 until 6).flatMap { i =>
      val v = Array.fill(8)(rnd.nextGaussian().toFloat)
      Seq((2L * i, v), (2L * i + 1, v.map(_ * 2f)))
    }.toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDups(emb, "vec_id", "embedding", 0.99,
        dim = 8).select("id_a", "id_b").as[(Long, Long)].collect().sorted
    assert((0 until 6).forall(i => pairs.contains((2L * i, 2L * i + 1))))
    // excise_spans, through Dedup.exactSubstringDedup
    val deduped = Dedup.exactSubstringDedup(Seq(
        (1L, "a b c d e f g h tail1 tail2"),
        (2L, "lead1 a b c d e f g h")).toDF("doc_id", "text"),
      "doc_id", "text", minLen = 8)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(deduped.map(_._2).toSeq == Seq("a b c d e f g h tail1 tail2",
      "lead1"))
    Seq(r.toString, pairs.mkString(","), deduped.mkString(","))
  }

  /** A fresh local session — a new SparkContext, since
    * spark.sql.extensions applies only to a newly built one — stopped
    * after `body` (later suites lazily getOrCreate their own). */
  private def withFreshSession[T](extensions: Boolean)(
      body: SparkSession => T): T = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.SessionReuseConf)
    val spark = (if (extensions)
      b.config("spark.sql.extensions", "graft.GraftExtensions") else b)
      .getOrCreate()
    try body(spark)
    finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("extensions, Graft.init, and both resolve the same function table") {
    val initOnly = withFreshSession(extensions = false)(s =>
      observe(Graft.init(s)))
    withFreshSession(extensions = true) { spark =>
      // newSession: a registry holding only what the extensions injected
      assert(observe(spark.newSession()) == initOnly)
      assert(observe(Graft.init(spark.newSession())) == initOnly)
    }
  }
}
