package graft.functions

import org.apache.spark.sql.{Column, functions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StructField, StructType}

/** Native Catalyst expressions for embedding math over `array<float>`
  * columns (the `embeddings.embedding` column, FIXTURES.md §2).
  *
  * Why a custom Expression and not `zip_with`/`aggregate` higher-order
  * functions or a Scala UDF: higher-order functions run a per-element
  * lambda interpreter (the loop never enters whole-stage codegen) and a
  * UDF adds (de)serialization; a fused primitive loop with `doGenCode`
  * stays inside Tungsten codegen. This is the hot inner loop of every
  * similarity-search / near-dup query — executed O(candidates × dim).
  * Accumulation is in Double regardless of the Float input for precision.
  *
  * (The reference engine has no vector ops at all — this is extension
  * surface mandated by the 100 TB training-data-pipeline north star.)
  */
abstract class FloatVecBinary extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  protected def compute(a: ArrayData, b: ArrayData): Any

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
}

/** dot(a, b) — inner product in double precision. Mismatched lengths
  * yield NULL (a silent prefix-dot would corrupt every downstream
  * ANN/LSH score without any error surfacing). */
case class DotProduct(left: Expression, right: Expression) extends FloatVecBinary {
  override def prettyName: String = "dot_f"
  override protected def compute(a: ArrayData, b: ArrayData): Any = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0; var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** cosine(a, b) = dot / (|a|·|b|); 0.0 when either norm is 0; NULL on
  * mismatched lengths (see [[DotProduct]]). One fused pass computes the
  * dot product and both norms. */
case class CosineSimilarity(left: Expression, right: Expression) extends FloatVecBinary {
  override def prettyName: String = "cosine_sim"
  override protected def compute(a: ArrayData, b: ArrayData): Any = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val x = ctx.freshName("x")
      val y = ctx.freshName("y"); val den = ctx.freshName("den")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = (double) $a.getFloat($i);
         |    double $y = (double) $b.getFloat($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  double $den = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  ${ev.value} = ($den == 0.0) ? 0.0 : $dot / $den;
         |}
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Fused sign-LSH band keys: ALL bands·rowsPerBand hyperplane sign bits
  * of one vector in a single evaluation — the per-row candidate-
  * generation primitive of cosineNearDups / knnJoin / semanticDedup /
  * lshTopK. Output: array<struct<band:int, key:long>> (band b's key
  * packs bits [b·r, (b+1)·r)), bit-identical to the expression tree it
  * replaces (same double accumulation, same i-ascending sum order, same
  * `> 0` sign rule — IEEE multiply is commutative, so plane·vec ==
  * vec·plane exactly).
  *
  * Why fused (round 9): the previous formulation built bands·r SEPARATE
  * dot expressions — 64 at the (8, 8) default, but the self-sizing path
  * (`rowsPerBand = -1`) grows plane count as log²(n): 256 at the sf1
  * slice, 900 at the r = 30 cap. At that size the expression tree risks
  * Janino's 64 KB method limit (whole-stage codegen silently falls back
  * to interpreted eval — a 10× slowdown exactly on the 100 TB path that
  * needed the finer granularity), and each dot re-reads the vector with
  * per-element null checks. One static JIT-compiled loop has none of
  * those cliffs and one vector read per row.
  *
  * FAIL-FAST contract (unchanged from the tree it replaces): a NULL
  * vector or a length != the hyperplane dim THROWS — a silent NULL/zero
  * key would give every bad row the SAME bucket and quietly degenerate
  * the keyed self-join into an N² bucket. Callers filter NULLs first.
  *
  * The planes ride as a foldable array<array<float>> literal child, so
  * two identical banding subtrees stay semantically equal and AQE's
  * ReusedExchange keeps materializing the bucket table once. */
case class SignBandKeys(vec: Expression, planesLit: Expression,
    bands: Int, rowsPerBand: Int) extends Expression {
  override def children: Seq[Expression] = Seq(vec, planesLit)
  override def nullable: Boolean = false
  override def prettyName: String = "sign_band_keys"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("key", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (vec.dataType,
      planesLit.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(ArrayType(FloatType, _), _))
        if planesLit.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, foldable array<array<float>>), " +
        s"got (${vec.dataType.catalogString}, ${planesLit.dataType.catalogString})")
  }

  // decoded once per task from the literal child; dim from plane 0
  @transient private lazy val flatPlanes: Array[Float] = {
    val arr = planesLit.eval(null).asInstanceOf[ArrayData]
    val nPlanes = arr.numElements()
    require(nPlanes == bands * rowsPerBand,
      s"$prettyName: ${nPlanes} planes != $bands bands * $rowsPerBand rows")
    val d = arr.getArray(0).numElements()
    val flat = new Array[Float](nPlanes * d)
    var p = 0
    while (p < nPlanes) {
      val pl = arr.getArray(p)
      require(pl.numElements() == d, s"$prettyName: ragged plane matrix")
      var i = 0
      while (i < d) { flat(p * d + i) = pl.getFloat(i); i += 1 }
      p += 1
    }
    flat
  }
  @transient private lazy val dim: Int = flatPlanes.length / (bands * rowsPerBand)

  override def eval(input: InternalRow): Any =
    SignBandKeys.compute(vec.eval(input).asInstanceOf[ArrayData],
      flatPlanes, dim, bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pl = ctx.addReferenceObj("lshPlanes", flatPlanes, "float[]")
    val vecCode = vec.genCode(ctx)
    val resultCode =
      code"""
         |${vecCode.code}
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
         |  graft.functions.SignBandKeys.compute(
         |    ${vecCode.isNull} ? null : ${vecCode.value},
         |    $pl, $dim, $bands, $rowsPerBand);
       """.stripMargin
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SignBandKeys =
    copy(vec = newChildren(0), planesLit = newChildren(1))
}

object SignBandKeys {
  /** Static entry point shared by interpreted eval and generated code —
    * the whole banding inner loop, JIT-compiled once, immune to the
    * generated-method size limit. */
  def compute(vec: ArrayData, planes: Array[Float], dim: Int,
      bands: Int, rowsPerBand: Int): ArrayData = {
    if (vec == null || vec.numElements() != dim)
      throw new IllegalArgumentException(
        s"graft LSH: vector dimension != $dim (hyperplane dim); got length " +
          (if (vec == null) "NULL" else vec.numElements().toString))
    val keys = new Array[Long](bands)
    val total = bands * rowsPerBand
    var p = 0
    while (p < total) {
      var s = 0.0
      val off = p * dim
      var i = 0
      while (i < dim) {
        s += planes(off + i).toDouble * vec.getFloat(i).toDouble
        i += 1
      }
      if (s > 0) keys(p / rowsPerBand) |= 1L << (p % rowsPerBand)
      p += 1
    }
    val rows = new Array[Any](bands)
    var b = 0
    while (b < bands) { rows(b) = InternalRow(b, keys(b)); b += 1 }
    new GenericArrayData(rows)
  }
}

/** Fused Johnson–Lindenstrauss ±1 sign projection: outDim EXACT BIGINT
  * components of one vector in a single evaluation —
  * `comp[j] = Σ_i round(vec[i]·10⁶) · sign[j][i]`, the
  * [[graft.ops.Similarity.randomProject]] inner loop. The quantization
  * reproduces Spark's `round(double, 0)` bit-for-bit
  * (`BigDecimal.valueOf(d).setScale(0, HALF_UP).toDouble.toLong` — the
  * exact chain the Round expression + ANSI long cast ran), and each
  * element quantizes ONCE instead of once per output component.
  *
  * Why fused (round 9): the zip_with/aggregate formulation ran
  * outDim × inDim per-element LAMBDA INTERPRETER steps per row —
  * higher-order functions never enter whole-stage codegen (this file's
  * header note), so the 100 TB storage-path op (64→16 dims before
  * int8 quantization) paid a 1024-step interpreted loop per vector.
  * One static JIT-compiled loop replaces all of it.
  *
  * NULL or wrong-dimension vectors yield NULL (the caller drops them —
  * randomProject's documented contract — so a NULL here never
  * silently survives; it just keeps the filter order-independent). */
case class SignProject(vec: Expression, signsLit: Expression)
    extends BinaryExpression {
  override def left: Expression = vec
  override def right: Expression = signsLit
  override def prettyName: String = "sign_project"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (vec.dataType,
      signsLit.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(ArrayType(LongType, _), _))
        if signsLit.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, foldable array<array<long>>), " +
        s"got (${vec.dataType.catalogString}, ${signsLit.dataType.catalogString})")
  }

  @transient private lazy val (flatSigns: Array[Long], outDim: Int, inDim: Int) = {
    val arr = signsLit.eval(null).asInstanceOf[ArrayData]
    val o = arr.numElements()
    require(o > 0, s"$prettyName: empty sign matrix")
    val d = arr.getArray(0).numElements()
    val flat = new Array[Long](o * d)
    var j = 0
    while (j < o) {
      val row = arr.getArray(j)
      require(row.numElements() == d, s"$prettyName: ragged sign matrix")
      var i = 0
      while (i < d) { flat(j * d + i) = row.getLong(i); i += 1 }
      j += 1
    }
    (flat, o, d)
  }

  override def nullSafeEval(v: Any, s: Any): Any =
    SignProject.compute(v.asInstanceOf[ArrayData], flatSigns, inDim, outDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val signs = ctx.addReferenceObj("jlSigns", flatSigns, "long[]")
    nullSafeCodeGen(ctx, ev, (v, _) => {
      s"""
         |${ev.value} = graft.functions.SignProject.compute(
         |  $v, $signs, $inDim, $outDim);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): SignProject = copy(vec = l, signsLit = r)
}

object SignProject {
  /** Static entry shared by interpreted eval and generated code. */
  def compute(vec: ArrayData, signs: Array[Long], inDim: Int,
      outDim: Int): ArrayData = {
    if (vec == null || vec.numElements() != inDim) return null
    val q = new Array[Long](inDim)
    var i = 0
    while (i < inDim) {
      // Spark round(double, 0) then ANSI cast to long, bit-for-bit
      q(i) = java.math.BigDecimal
        .valueOf(vec.getFloat(i).toDouble * 1000000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP)
        .doubleValue().toLong
      i += 1
    }
    val out = new Array[Long](outDim)
    var j = 0
    while (j < outDim) {
      var s = 0L
      val off = j * inDim
      i = 0
      while (i < inDim) { s += q(i) * signs(off + i); i += 1 }
      out(j) = s
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Fused product-quantization encode: the m-entry PQ code of one
  * vector in a single evaluation — per subspace j, squared-L2 to each
  * of k broadcast centroids folded in element order (double
  * accumulation from 0.0, float elements cast exactly), argmin with a
  * FIRST-index tie-break. Bit-identical to the m×k
  * `aggregate(zip_with(...))` fold tree it replaces, which ran m·k
  * interpreted lambda folds per row (HOFs never enter codegen) — 2,048
  * of them at a production m = 8, k = 256. One static JIT loop reads
  * the vector once per subspace instead of once per centroid.
  *
  * NULL-propagation parity with the fold tree: a subspace whose slice
  * runs past the vector's end or touches a NULL element yields a NULL
  * code entry (downstream `codesTopK` excludes such rows); distances
  * are sums of squares, so the -0.0/+0.0 ordering seam cannot arise. */
case class PqEncode(vec: Expression, codebookLit: Expression)
    extends BinaryExpression {
  override def left: Expression = vec
  override def right: Expression = codebookLit
  override def prettyName: String = "pq_encode"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = (vec.dataType,
      codebookLit.dataType) match {
    case (ArrayType(FloatType, _),
        ArrayType(ArrayType(ArrayType(DoubleType, _), _), _))
        if codebookLit.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, foldable " +
        s"array<array<array<double>>>), got (${vec.dataType.catalogString}, " +
        s"${codebookLit.dataType.catalogString})")
  }

  // flat codebook: centroid (j, i) occupies [ (j*k + i)*dsub, +dsub )
  @transient private lazy val (flatBook: Array[Double], m: Int, k: Int,
      dsub: Int) = {
    val arr = codebookLit.eval(null).asInstanceOf[ArrayData]
    val mm = arr.numElements()
    val kk = arr.getArray(0).numElements()
    val dd = arr.getArray(0).getArray(0).numElements()
    val flat = new Array[Double](mm * kk * dd)
    var j = 0
    while (j < mm) {
      val cb = arr.getArray(j)
      require(cb.numElements() == kk, s"$prettyName: ragged codebook")
      var i = 0
      while (i < kk) {
        val c = cb.getArray(i)
        require(c.numElements() == dd, s"$prettyName: ragged centroid")
        var d = 0
        while (d < dd) { flat(((j * kk) + i) * dd + d) = c.getDouble(d); d += 1 }
        i += 1
      }
      j += 1
    }
    (flat, mm, kk, dd)
  }

  override def nullSafeEval(v: Any, c: Any): Any =
    PqEncode.compute(v.asInstanceOf[ArrayData], flatBook, m, k, dsub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val book = ctx.addReferenceObj("pqBook", flatBook, "double[]")
    nullSafeCodeGen(ctx, ev, (v, _) => {
      s"""
         |${ev.value} = graft.functions.PqEncode.compute(
         |  $v, $book, $m, $k, $dsub);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): PqEncode = copy(vec = l, codebookLit = r)
}

object PqEncode {
  /** Static entry shared by interpreted eval and generated code. */
  def compute(vec: ArrayData, book: Array[Double], m: Int, k: Int,
      dsub: Int): ArrayData = {
    if (vec == null) return null
    val n = vec.numElements()
    val codes = new Array[Any](m)
    var j = 0
    while (j < m) {
      val base = j * dsub
      // a subspace that runs past the vector or hits a NULL element
      // yields a NULL code (the fold tree's zip_with padding semantics)
      var usable = base + dsub <= n
      var d = 0
      while (usable && d < dsub) {
        if (vec.isNullAt(base + d)) usable = false
        d += 1
      }
      if (!usable) codes(j) = null
      else {
        var best = 0
        var bestDist = Double.NaN
        var i = 0
        while (i < k) {
          var acc = 0.0
          val off = ((j * k) + i) * dsub
          d = 0
          while (d < dsub) {
            val diff = vec.getFloat(base + d).toDouble - book(off + d)
            acc = acc + diff * diff
            d += 1
          }
          if (i == 0 || acc < bestDist) { best = i; bestDist = acc }
          i += 1
        }
        codes(j) = best
      }
      j += 1
    }
    new GenericArrayData(codes)
  }
}

/** Column-level wrappers over the functions [[graft.GraftExtensions.table]]
  * defines. They use `call_function`, so they resolve against the active
  * session's registry at analysis time: register with `Graft.init` (a
  * classic SparkSession) or, on a Spark Connect server, configure
  * `spark.sql.extensions=graft.GraftExtensions`. */
object VectorExprs {
  def dot(a: Column, b: Column): Column = functions.call_function("dot_f", a, b)
  def cosineSim(a: Column, b: Column): Column =
    functions.call_function("cosine_sim", a, b)
  def signBandKeys(vec: Column, planes: Array[Array[Float]], bands: Int,
      rowsPerBand: Int): Column =
    functions.call_function("sign_band_keys", vec,
      functions.typedLit(planes.map(_.toSeq).toSeq),
      functions.lit(bands), functions.lit(rowsPerBand))
  def signProject(vec: Column, signs: Array[Array[Long]]): Column =
    functions.call_function("sign_project", vec,
      functions.typedLit(signs.map(_.toSeq).toSeq))
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    functions.call_function("pq_encode", vec,
      functions.typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq))
}
