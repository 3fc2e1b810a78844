package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, functions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Sketch-shaped native aggregates.
  *
  * [[BottomKLongs]] is the exchange-bounding form of the grouped
  * bottom-k (KMV) selection: a `TypedImperativeAggregate` whose buffer
  * is the group's ≤ k smallest DISTINCT longs. Because it is a real
  * Catalyst aggregate, it gets PARTIAL aggregation for free — every
  * task collapses its slice of a group to ≤ k eight-byte values before
  * anything reaches the exchange, so the shuffle carries
  * tasks × groups-per-task × k longs instead of the full distinct
  * (group, hash) stream — and ObjectHashAggregateExec's sort-based
  * fallback bounds MEMORY at high group cardinality (past the fallback
  * threshold it sorts by group key and aggregates groups one at a
  * time), which is exactly the hazard that previously pushed
  * `Kmv.sketchBy` onto a two-level salted window. The window shape paid
  * for that safety by shipping every distinct (group, hash) pair
  * through its level-1 exchange; this aggregate keeps the safety AND
  * the partitions×k exchange the global sketch already has
  * (`Kmv.sketch`'s per-partition TreeSet pass — same lattice argument:
  * bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B))).
  *
  * Determinism: a pure order statistic over the input multiset — the
  * result is the sorted-ascending array of the k smallest distinct
  * values, independent of partitioning, merge order, and retries.
  * NULL inputs are not observations (count-distinct semantics).
  */
case class BottomKLongs(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.TreeSet[Long]] {

  require(k >= 1, s"bottom_k: k must be positive, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bottom_k"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bottom_k requires a bigint input, got ${t.catalogString}")
  }

  override def createAggregationBuffer(): scala.collection.mutable.TreeSet[Long] =
    scala.collection.mutable.TreeSet.empty[Long]

  /** Bounded insert: O(1) reject once the buffer is full (one compare
    * against the current max — the common case on a big group), O(log k)
    * when the candidate displaces the max. The TreeSet dedups, so the
    * buffer holds DISTINCT values — duplicates never crowd out true
    * bottom-k members. */
  private def insert(buf: scala.collection.mutable.TreeSet[Long],
      h: Long): Unit =
    if (buf.size < k) buf += h
    else if (h < buf.lastKey && !buf.contains(h)) {
      buf += h
      buf -= buf.lastKey
    }

  override def update(buf: scala.collection.mutable.TreeSet[Long],
      input: InternalRow): scala.collection.mutable.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) insert(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: scala.collection.mutable.TreeSet[Long],
      other: scala.collection.mutable.TreeSet[Long]): scala.collection.mutable.TreeSet[Long] = {
    other.foreach(insert(buf, _))
    buf
  }

  /** Sorted ascending — the TreeSet's own iteration order. */
  override def eval(buf: scala.collection.mutable.TreeSet[Long]): Any =
    new GenericArrayData(buf.toArray)

  override def serialize(buf: scala.collection.mutable.TreeSet[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.TreeSet[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = scala.collection.mutable.TreeSet.empty[Long]
    var i = 0
    while (i < n) { buf += bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKLongs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomKLongs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BottomKLongs =
    copy(child = newChildren.head)
}

/** The ORDERED sibling of [[BottomKLongs]]: the k lexicographically
  * smallest DISTINCT (sortKey, payload) long pairs per group, returned
  * as (s, p) structs in that order — the exchange-bounding form
  * of every "top/bottom k rows per group by some score" selection
  * (weighted sampling, per-group caps on a priority): partial buffers
  * of ≤ k pairs per (task, group) replace the group-partitioned
  * row_number window whose exchange carries every row. A descending
  * score rides as its negation; a double score rides through an
  * order-preserving integer image (a fixed-decimal rounding, or the
  * [[NumericExprs.SortableF64]] bit trick). Same determinism contract
  * as [[BottomKLongs]]: a pure order statistic, partitioning- and
  * merge-order-invariant; NULL in either child is not an observation. */
case class BottomKPairs(
    sortKey: Expression,
    payload: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.TreeSet[(Long, Long)]] {

  require(k >= 1, s"bottom_k_by: k must be positive, got $k")

  override def children: Seq[Expression] = Seq(sortKey, payload)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("s", LongType, nullable = false),
    StructField("p", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "bottom_k_by"

  override def checkInputDataTypes(): TypeCheckResult =
    (sortKey.dataType, payload.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"bottom_k_by requires (bigint, bigint), got " +
          s"(${a.catalogString}, ${b.catalogString})")
    }

  override def createAggregationBuffer(): scala.collection.mutable.TreeSet[(Long, Long)] =
    scala.collection.mutable.TreeSet.empty[(Long, Long)]

  private def insert(buf: scala.collection.mutable.TreeSet[(Long, Long)],
      p: (Long, Long)): Unit =
    if (buf.size < k) buf += p
    else if (Ordering[(Long, Long)].lt(p, buf.lastKey) && !buf.contains(p)) {
      buf += p
      buf -= buf.lastKey
    }

  override def update(buf: scala.collection.mutable.TreeSet[(Long, Long)],
      input: InternalRow): scala.collection.mutable.TreeSet[(Long, Long)] = {
    val s = sortKey.eval(input)
    val p = payload.eval(input)
    if (s != null && p != null)
      insert(buf, (s.asInstanceOf[Long], p.asInstanceOf[Long]))
    buf
  }

  override def merge(buf: scala.collection.mutable.TreeSet[(Long, Long)],
      other: scala.collection.mutable.TreeSet[(Long, Long)]): scala.collection.mutable.TreeSet[(Long, Long)] = {
    other.foreach(insert(buf, _))
    buf
  }

  /** (s, p) structs in (sortKey, payload)-ascending selection order —
    * array position IS the selection rank; the sort key rides along so
    * callers can recover the score it encodes (e.g. via
    * [[SortableF64Inv]]) without a join back. */
  override def eval(buf: scala.collection.mutable.TreeSet[(Long, Long)]): Any =
    new GenericArrayData(buf.toArray.map { case (s, p) =>
      InternalRow(s, p) })

  override def serialize(buf: scala.collection.mutable.TreeSet[(Long, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    buf.foreach { case (s, p) => bb.putLong(s); bb.putLong(p) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.TreeSet[(Long, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = scala.collection.mutable.TreeSet.empty[(Long, Long)]
    var i = 0
    while (i < n) { buf += ((bb.getLong, bb.getLong)); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomKPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BottomKPairs =
    copy(sortKey = newChildren(0), payload = newChildren(1))
}

/** Column wrappers (the [[ShingleExprs]] pattern: int params pass as
  * literals, read at function-build time; the analyzer wraps the
  * returned AggregateFunction in an AggregateExpression like any
  * built-in aggregate); each needs `Graft.init` or `GraftExtensions` on
  * the active session. */
object SketchExprs {
  def bottomK(values: Column, k: Int): Column =
    functions.call_function("bottom_k", values, functions.lit(k))
  def bottomKBy(sortKey: Column, payload: Column, k: Int): Column =
    functions.call_function("bottom_k_by", sortKey, payload,
      functions.lit(k))
}
