package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("name", StringType), StructField("score", DoubleType),
    StructField("tags", ArrayType(StringType))))

  private def row(id: Long, name: String, score: java.lang.Double,
      tags: String*): InternalRow =
    new GenericInternalRow(Array[Any](id, UTF8String.fromString(name), score,
      new GenericArrayData(tags.map(UTF8String.fromString).toArray[Any])))

  private def digest(rows: Seq[InternalRow], s: StructType = schema) =
    Digest.partial(rows.iterator, s)

  private val rows = (1 to 50).map(i => row(i, s"n$i", i * 0.37, "a", s"t$i"))

  test("row order does not change the digest") {
    val d = digest(rows)
    assert(digest(rows.reverse) == d)
    assert(digest(scala.util.Random.shuffle(rows)) == d)
    assert(d.rows == 50)
  }

  test("partial digests add up to the digest of the whole") {
    val (a, b) = rows.splitAt(17)
    assert(digest(a) + digest(b) == digest(rows))
  }

  test("column order does not change the digest") {
    val swapped = StructType(schema.fields.reverse)
    val rev = rows.map(r => new GenericInternalRow(
      (0 until 4).reverse.map(i => r.get(i, schema(i).dataType)).toArray[Any]))
    assert(digest(rev, swapped) == digest(rows))
  }

  test("floats a few ulps apart digest alike") {
    val rnd = new scala.util.Random(7)
    val xs = Seq.fill(1000)(rnd.nextDouble() * math.pow(10, rnd.nextInt(12) - 4))
    val near = xs.count { x =>
      val up = Math.nextUp(Math.nextUp(x))
      Digest.number(x) == Digest.number(up) &&
        Digest.number(x) == Digest.number(Math.nextDown(x))
    }
    // a value can sit next to a rounding boundary; at 8 digits that is
    // about one in 10^7
    assert(near == 1000)
    assert(digest(Seq(row(1, "x", 0.1 + 0.2))) == digest(Seq(row(1, "x", 0.3))))
  }

  test("a real change in a value, a row or a string changes the digest") {
    val d = digest(rows)
    assert(digest(rows.updated(3, row(4, "n4", 4 * 0.37 * (1 + 1e-6), "a", "t4"))) != d)
    assert(digest(rows.updated(3, row(4, "n4x", 4 * 0.37, "a", "t4"))) != d)
    assert(digest(rows.updated(3, row(4, "n4", 4 * 0.37, "t4", "a"))) != d)
    assert(digest(rows.tail) != d)
    assert(digest(rows :+ rows.head) != d)
  }

  test("nulls, zeros and non-finite numbers have one spelling each") {
    assert(Digest.number(0.0) == Digest.number(-0.0))
    assert(Digest.number(Double.NaN) == "NaN")
    assert(Digest.number(1.0) == "1e0")
    assert(Digest.number(1234.5) == "12345e-1")
    assert(Digest.number(new java.math.BigDecimal("1234.50")) == Digest.number(1234.5))
    assert(digest(Seq(row(1, "x", null))) != digest(Seq(row(1, "x", 0.0))))
    assert(digest(Seq(row(1, "\\N", 1.0))) != digest(Seq(row(1, null, 1.0))))
  }
}
