package graft.functions

import org.apache.spark.sql.{Column, functions}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Order-preserving LONG image of a DOUBLE: the IEEE-754 bit pattern
  * with negative payloads flipped (the Lucene sortable-bits transform),
  * so `a < b  ⟺  sortable(a) < sortable(b)` under Spark's double total
  * order — including NaN, which canonicalizes to a pattern ABOVE +Inf,
  * exactly Spark's NaN-sorts-last convention.
  *
  * Why it exists: [[graft.ops.Profile.domainPrefix]] buckets a value
  * domain by high bits of a LONG key. Any fixed numeric quantization
  * (truncate, scale-by-4096, clamp) can be defeated by a domain that
  * concentrates unbounded distinct doubles inside one quantum (epoch
  * micros at 1e18, calibrated probabilities in [0.9998, 1]); the bit
  * pattern cannot — 4096 consecutive patterns contain AT MOST 4096
  * representable doubles, so per-bucket work is type-bounded for every
  * possible input distribution.
  *
  * Why a custom Expression: Spark exposes no double→raw-bits function;
  * a two-line static call with `defineCodeGen` stays inside whole-stage
  * codegen where a UDF would break the pipeline.
  *
  * (Extension surface — the reference engine has no numeric functions;
  * reference: src/logical_plan/logical_expr.rs:137-143.) */
case class SortableF64(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def dataType: DataType = LongType
  override def prettyName: String = "sortable_f64"

  // ImplicitCastInputTypes (not a hard checkInputDataTypes): SQL callers
  // hand this ints, floats and DECIMAL literals — `sortable_f64(0.5)`
  // types as DECIMAL(1,1) under Spark's literal rules — and all of them
  // should coerce to double exactly like the built-in double functions
  // do, instead of a hard TypeCheckFailure (ADVICE r8). (Return type
  // narrowed to Seq[DataType] — AbstractDataType is private[sql].)
  override def inputTypes: Seq[DataType] = Seq(DoubleType)

  override def nullSafeEval(input: Any): Any =
    SortableF64.compute(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SortableF64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SortableF64 =
    copy(child = newChild)
}

object SortableF64 {
  /** Static entry point shared by interpreted eval and generated code. */
  def compute(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d) // canonicalizes NaN
    b ^ ((b >> 63) & 0x7fffffffffffffffL)
  }
}

/** The inverse of [[SortableF64]]: the order-preserving long image back
  * to its double (bit-exact — the image is a bijection on IEEE bit
  * patterns, NaN canonicalization aside). Lets an operator SORT and
  * AGGREGATE on the integer image (exact, engine-portable order) and
  * still emit the original double — e.g. the bottom-k pair aggregate
  * carrying score images through a bounded exchange. */
case class SortableF64Inv(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sortable_f64_inv"
  override def inputTypes: Seq[DataType] = Seq(LongType)

  override def nullSafeEval(input: Any): Any =
    SortableF64Inv.compute(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SortableF64Inv.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SortableF64Inv =
    copy(child = newChild)
}

object SortableF64Inv {
  /** Static entry point shared by interpreted eval and generated code.
    * Same xor form as the forward map — it is an involution per sign
    * half: a non-negative image IS the bit pattern; a negative image
    * xors the magnitude bits back. */
  def compute(s: Long): Double =
    java.lang.Double.longBitsToDouble(s ^ ((s >> 63) & 0x7fffffffffffffffL))
}

/** The B Poissonized-bootstrap weights of one row, in ONE fused pass:
  * element r is the deterministic Poisson(1) draw for replicate r,
  * u = (conv(substring(md5(id || ':' || r || ':' || salt), 1, 8), 16,
  * 10) + 0.5) / 2^32 pushed through the literal inverse CDF — the
  * EXACT draw the DuckDB oracle replays (same digest bytes, same IEEE
  * division, same literal compares), so replicate means are
  * bit-identical to the string-concat formulation this replaces. The
  * fold form paid one md5 STRING build + hex round-trip + a 10-deep
  * when-chain per (row × replicate) — B = 200 multiplies everything —
  * where this streams id:r:salt bytes through a ThreadLocal digest.
  * Output: array<int> of length B (posexplode pos = replicate id). */
case class PoissonWeights(child: Expression, b: Int, salt: String)
    extends UnaryExpression {
  require(b >= 1 && b <= 100000, "replicate count must be in [1, 100000]")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "poisson_weights"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"poisson_weights requires a string id, got ${t.catalogString}")
    }

  override def nullSafeEval(id: Any): Any =
    PoissonWeights.compute(
      id.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], b, salt)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val saltRef = ctx.addReferenceObj("salt", salt, "java.lang.String")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PoissonWeights.compute($c, $b, $saltRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): PoissonWeights =
    copy(child = newChild)
}

object PoissonWeights {
  /** Poisson(1) cumulative pmf LITERALS — shared verbatim with
    * Profile.poisson1Cdf and the oracle SQL; draws above the last
    * entry take weight 10 (P ≈ 1e-7). */
  private val cdf: Array[Double] = Array(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712, 0.9999897508033253, 0.999998874797402,
    0.9999998885745216)

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(id: org.apache.spark.unsafe.types.UTF8String, b: Int,
      salt: String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val idBytes = id.getBytes
    val saltBytes = (":" + salt).getBytes("UTF-8")
    val d = md.get()
    val out = new Array[Int](b)
    var r = 0
    while (r < b) {
      d.reset()
      d.update(idBytes, 0, idBytes.length)
      d.update(':'.toByte)
      val digits = java.lang.Integer.toString(r)
      var k = 0
      while (k < digits.length) { d.update(digits.charAt(k).toByte); k += 1 }
      d.update(saltBytes, 0, saltBytes.length)
      val h = d.digest()
      val v = ((h(0) & 0xFFL) << 24) | ((h(1) & 0xFFL) << 16) |
        ((h(2) & 0xFFL) << 8) | (h(3) & 0xFFL)
      val u = (v.toDouble + 0.5) / 4294967296.0
      var w = 10
      var j = cdf.length - 1
      while (j >= 0) { if (u < cdf(j)) w = j; j -= 1 }
      out(r) = w
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Column wrappers for the numeric expressions; each needs
  * `Graft.init` or `GraftExtensions` on the active session. */
object NumericExprs {
  def sortableF64(x: Column): Column =
    functions.call_function("sortable_f64", x)
  def sortableF64Inv(s: Column): Column =
    functions.call_function("sortable_f64_inv", s)

  def poissonWeights(idStr: Column, b: Int, salt: String): Column =
    functions.call_function("poisson_weights", idStr,
      functions.lit(b), functions.lit(salt))
}
