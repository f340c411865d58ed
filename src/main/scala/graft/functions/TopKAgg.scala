package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Exact grouped top-k as a NATIVE aggregate function (preference ladder
  * (b), the aggregate companion of [[VecDot]]/[[Md5Prefix60]]/[[ZOrder2]]):
  * a bounded min-heap per group, combined MAP-SIDE like any partial
  * aggregate.
  *
  * Why it exists: the window form of grouped top-k
  * (`row_number() OVER (PARTITION BY g ORDER BY v DESC) <= k`) must
  * shuffle EVERY row to its group's partition and sort there — at 100 TB
  * that is a full-data exchange for a k-row-per-group answer. The
  * aggregate form ships at most k doubles per (group, map task):
  * partial heaps fold in the scan stage, the exchange carries k-sized
  * states, and the final merge is k log k per group. Same answer,
  * shuffle bytes smaller by rows/k.
  *
  * Determinism: the result is the sorted-descending VALUE multiset —
  * ties are equal values, so any tie order yields the identical array;
  * the DuckDB oracle replays it with a rank window.
  */
case class TopKAgg(
    child: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.PriorityQueue[java.lang.Double]] {

  private lazy val k: Int = kExpr.eval(InternalRow.empty).asInstanceOf[Int]

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "topk_agg"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"topk_agg requires a DOUBLE value column, got ${child.dataType.catalogString}")
    else if (kExpr.dataType != IntegerType || !kExpr.foldable)
      TypeCheckResult.TypeCheckFailure("topk_agg requires a literal INT k")
    else if (kExpr.eval(InternalRow.empty).asInstanceOf[Int] < 1)
      TypeCheckResult.TypeCheckFailure("topk_agg requires k >= 1")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): java.util.PriorityQueue[java.lang.Double] =
    new java.util.PriorityQueue[java.lang.Double](k + 1)

  override def update(
      buf: java.util.PriorityQueue[java.lang.Double],
      input: InternalRow): java.util.PriorityQueue[java.lang.Double] = {
    val v = child.eval(input)
    if (v != null) offer(buf, v.asInstanceOf[Double])
    buf
  }

  override def merge(
      buf: java.util.PriorityQueue[java.lang.Double],
      other: java.util.PriorityQueue[java.lang.Double]): java.util.PriorityQueue[java.lang.Double] = {
    val it = other.iterator()
    while (it.hasNext) offer(buf, it.next())
    buf
  }

  private def offer(buf: java.util.PriorityQueue[java.lang.Double], v: Double): Unit = {
    // NaN is dropped like null: the primitive eviction test (`peek < v`,
    // always false for NaN), the boxed heap ordering (NaN greatest), and
    // the oracle's ORDER BY disagree on NaN — admitting one while the
    // heap is underfull would permanently occupy a top-k slot
    if (v.isNaN) return
    if (buf.size < k) buf.offer(v)
    else if (buf.peek() < v) { buf.poll(); buf.offer(v) }
  }

  override def eval(buf: java.util.PriorityQueue[java.lang.Double]): Any = {
    val arr = new Array[Double](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    java.util.Arrays.sort(arr)
    // descending
    val out = new Array[Any](arr.length)
    var j = 0
    while (j < arr.length) { out(j) = arr(arr.length - 1 - j); j += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.PriorityQueue[java.lang.Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putDouble(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[java.lang.Double] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { offer(buf, bb.getDouble); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(child = newChildren(0), kExpr = newChildren(1))
}

object TopKAggExprs {
  /** `topk_agg(value, k)` and `mink_agg(hash, k)` (k smallest LONGs — the
    * KMV state), with arity-checked builders, injected into every session
    * by [[graft.GraftExtensions]]. */
  val functions: Seq[graft.GraftExtensions.Function] = Seq(
    graft.GraftExtensions.function[TopKAgg]("topk_agg") { exprs =>
      require(exprs.length == 2, s"topk_agg expects 2 arguments, got ${exprs.length}")
      TopKAgg(exprs.head, exprs(1))
    },
    graft.GraftExtensions.function[MinKAgg]("mink_agg") { exprs =>
      require(exprs.length == 2, s"mink_agg expects 2 arguments, got ${exprs.length}")
      MinKAgg(exprs.head, exprs(1))
    })

  /** Registers both in a session built without the extension; a no-op
    * where they are already registered. */
  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.registerAbsent(spark, functions)
}

import org.apache.spark.sql.types.LongType

/** The k SMALLEST distinct LONG values per group — the KMV
  * (k-minimum-values) distinct sketch's state as a native aggregate, the
  * [[TopKAgg]] heap flipped (bounded MAX-heap, exact long arithmetic —
  * doubles would truncate 60-bit hashes to 53-bit mantissas). Per-group
  * distinct-count estimation becomes one map-side-combinable aggregate:
  * partial sketches fold in the scan stage and exchanges carry ≤k longs
  * per (group, task), replacing the exact COUNT(DISTINCT)'s expand.
  * DISTINCTNESS inside the heap matters (KMV is defined over the set of
  * distinct hashes), so equal values are offered once.
  *
  * The estimate `(k-1)·2^60 / v_k` is left to the CALLER — the sketch
  * output (the sorted min-k array) is exact integers, which is what lets
  * a DuckDB oracle replay the whole thing hash-identically. */
case class MinKAgg(
    child: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  private lazy val k: Int = kExpr.eval(InternalRow.empty).asInstanceOf[Int]

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "mink_agg"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"mink_agg requires a LONG hash column, got ${child.dataType.catalogString}")
    else if (kExpr.dataType != IntegerType || !kExpr.foldable)
      TypeCheckResult.TypeCheckFailure("mink_agg requires a literal INT k")
    else if (kExpr.eval(InternalRow.empty).asInstanceOf[Int] < 1)
      TypeCheckResult.TypeCheckFailure("mink_agg requires k >= 1")
    else TypeCheckResult.TypeCheckSuccess

  // TreeSet keeps the k smallest DISTINCT values: last() is the current
  // k-th minimum, evicted when a smaller new value arrives
  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def offer(buf: java.util.TreeSet[java.lang.Long], v: Long): Unit = {
    if (buf.size < k) buf.add(v)
    else if (buf.last() > v) { if (buf.add(v)) buf.remove(buf.last()) }
  }

  override def update(
      buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) offer(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(
      buf: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) offer(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Any](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out) // TreeSet iterates ascending: sorted min-k
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { offer(buf, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): MinKAgg =
    copy(child = newChildren(0), kExpr = newChildren(1))
}
