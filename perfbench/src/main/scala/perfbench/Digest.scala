package perfbench

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-insensitive digest of a result: the row count plus the sum
  * (mod 2^64) of a 64-bit hash of each row's canonical text. Columns
  * are taken in lower-cased name order, as the oracle compare does, and
  * every non-integral number is rounded to `SigDigits` significant
  * digits (half-even on its exact binary value), so results that differ
  * only by float ulps digest alike while any real change in a value
  * does not. */
final case class Digest(cols: String, rows: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(cols, rows + o.rows, sum + o.sum)
  override def toString: String = f"$rows:$sum%016x"
}

object Digest {
  val SigDigits = 8
  private val mc = new MathContext(SigDigits, RoundingMode.HALF_EVEN)

  def empty(schema: StructType): Digest = Digest(colNames(schema), 0L, 0L)

  def colNames(schema: StructType): String =
    schema.fieldNames.map(_.toLowerCase).sorted.mkString(",")

  /** Digest of a frame, computed next to the data: one job over the
    * executed plan, nothing but the per-partition sums reach the driver. */
  def of(df: DataFrame): Digest = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd
      .mapPartitions(it => Iterator(partial(it, schema))).collect()
    parts.foldLeft(empty(schema))(_ + _)
  }

  def partial(rows: Iterator[InternalRow], schema: StructType): Digest = {
    val order = schema.fields.zipWithIndex
      .sortBy { case (f, _) => f.name.toLowerCase }
    val md = MessageDigest.getInstance("SHA-256")
    val sb = new java.lang.StringBuilder
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      sb.setLength(0)
      order.foreach { case (f, i) =>
        sb.append('|')
        value(if (r.isNullAt(i)) null else r.get(i, f.dataType), f.dataType, sb)
      }
      sum += hash64(md, sb.toString)
      n += 1
    }
    Digest(colNames(schema), n, sum)
  }

  private def hash64(md: MessageDigest, s: String): Long = {
    val h = md.digest(s.getBytes(UTF_8))
    var x = 0L
    var i = 0
    while (i < 8) { x = (x << 8) | (h(i) & 0xffL); i += 1 }
    x
  }

  /** Canonical text of a non-integral number. */
  def number(d: java.math.BigDecimal): String =
    if (d.signum == 0) "0"
    else {
      val r = d.round(mc).stripTrailingZeros
      s"${r.unscaledValue}e${-r.scale}"
    }

  def number(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else number(new java.math.BigDecimal(d))

  def value(v: Any, dt: DataType, sb: java.lang.StringBuilder): Unit =
    if (v == null) sb.append("\\N")
    else dt match {
      case BooleanType => sb.append(if (v.asInstanceOf[Boolean]) "t" else "f")
      case ByteType | ShortType | IntegerType | LongType =>
        sb.append(v.toString)
      case FloatType => sb.append(number(v.asInstanceOf[Float].toDouble))
      case DoubleType => sb.append(number(v.asInstanceOf[Double]))
      case _: DecimalType =>
        sb.append(number(v.asInstanceOf[Decimal].toJavaBigDecimal))
      case _: StringType => quote(v.toString, sb)
      case BinaryType =>
        sb.append("0x")
        v.asInstanceOf[Array[Byte]].foreach(b => sb.append(f"${b & 0xff}%02x"))
      case DateType => sb.append('d').append(v.toString)
      case TimestampType | TimestampNTZType => sb.append('t').append(v.toString)
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        (0 until a.numElements()).foreach { i =>
          if (i > 0) sb.append(',')
          value(if (a.isNullAt(i)) null else a.get(i, et), et, sb)
        }
        sb.append(']')
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        sb.append('{')
        st.fields.zipWithIndex.foreach { case (f, i) =>
          if (i > 0) sb.append(',')
          value(if (r.isNullAt(i)) null else r.get(i, f.dataType), f.dataType, sb)
        }
        sb.append('}')
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val entries = (0 until m.numElements()).map { i =>
          val e = new java.lang.StringBuilder
          value(m.keyArray().get(i, kt), kt, e)
          e.append("=>")
          value(if (m.valueArray().isNullAt(i)) null else m.valueArray().get(i, vt),
            vt, e)
          e.toString
        }.sorted
        sb.append('<').append(entries.mkString(",")).append('>')
      case _ => sb.append(v.toString)
    }

  private def quote(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '|' => sb.append("\\p")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
