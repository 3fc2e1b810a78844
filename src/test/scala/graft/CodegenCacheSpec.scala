package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.IntegerType

/** The codegen cache holds a working set larger than Spark's default
  * 100 entries ([[GraftSession.CodegenCacheEntries]]), so a repeated
  * pass over it compiles nothing. */
class CodegenCacheSpec extends SparkSpec {

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
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    val c0 = compiles()
    generateAll()
    val c1 = compiles()
    generateAll()
    val c2 = compiles()
    assert(c1 - c0 >= n, "the first pass must compile every class")
    assert(c2 - c1 == 0, s"the repeat recompiled ${c2 - c1} of $n classes")
  }
}
