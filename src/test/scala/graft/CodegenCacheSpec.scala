package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.IntegerType
import graft.streaming.{StreamOps, ZEvent}

/** A long-lived session reuses its compiled classes
  * ([[GraftSession.SessionReuseConf]]): the codegen cache holds a working
  * set larger than Spark's default 100 entries, so a repeated pass over
  * it compiles nothing, and a stream started again compiles nothing. */
class CodegenCacheSpec extends SparkSpec {

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated set of 150 distinct generated classes compiles nothing") {
    spark // the session's static conf sizes the JVM-wide cache
    // each projection differs only by the int literal Spark inlines into
    // its source, so each is one distinct class; the offset keeps them
    // apart from anything another suite compiled in this JVM
    val n = 150
    def generateAll(): Unit = (0 until n).foreach { i =>
      GenerateUnsafeProjection.generate(Seq(
        Add(BoundReference(0, IntegerType, nullable = false),
          Literal(7340033 + i))))
    }

    val c0 = compiles()
    generateAll()
    val c1 = compiles()
    generateAll()
    val c2 = compiles()
    assert(c1 - c0 >= n, "the first pass must compile every class")
    assert(c2 - c1 == 0, s"the repeat recompiled ${c2 - c1} of $n classes")
  }

  test("a stateful stream started again in the same session compiles nothing") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // each stateful operator whose state holds an array or a collection,
    // with the output mode its sink needs
    val ops: Seq[(String, DataFrame => DataFrame, String)] = Seq(
      ("hllDistinct", StreamOps.hllDistinct(_, "g", "k").toDF(), "update"),
      ("kmvDistinct", StreamOps.kmvDistinct(_, "g", "k").toDF(), "update"),
      ("kmvQuantiles",
        StreamOps.kmvQuantiles(_, "g", "k", "k", Seq(50)).toDF(), "update"),
      ("rollingZscoreStream", in => StreamOps.rollingZscoreStream(
          in.select((col("k") % 3).as("user_id"), col("k").as("event_id"),
            col("k").as("sec"), col("k").cast("double").as("value"))
            .as[ZEvent]).toDF(), "append"))
    // started and drained over two micro-batches, so the second reads the
    // state the first wrote; the literal keeps its classes apart from
    // anything another suite compiled
    def startAndDrain(op: DataFrame => DataFrame, mode: String): Long = {
      val mem = MemoryStream[(String, Long)]
      val c0 = compiles()
      val q = op(mem.toDF().select(col("_1").as("g"), (col("_2") * 7340033L).as("k")))
        .writeStream.format("noop").outputMode(mode).start()
      try Seq(1 to 60, 61 to 120).foreach { batch =>
        mem.addData(batch.map(i => (s"g${i % 3}", i.toLong)))
        q.processAllAvailable()
      } finally q.stop()
      compiles() - c0
    }
    val counts = ops.map { case (name, op, mode) =>
      name -> (startAndDrain(op, mode), startAndDrain(op, mode))
    }
    assert(counts.forall(_._2._1 > 0), s"every first start must compile: $counts")
    assert(counts.forall(_._2._2 == 0),
      s"a second start compiled again (first, second): $counts")
  }
}
