package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** A deletion-vector INDEX: per-file bitmaps of deleted row positions,
  * keyed by the sidecars' raw `__file` spelling. The manifest read path
  * builds it from `Manifests.dvIndex` — per-sidecar entries read on the
  * driver with parquet-hadoop and cached, so no Spark job runs — and
  * the change feed from its churned positions; past the
  * `graft.dv.indexMaxBytes` budget or on an unreadable sidecar footer
  * no index is built and callers take the `(__file, __pos)` join. It
  * ships to tasks inside the scan
  * stage's serialized plan — the Delta/Iceberg shape, where a DV is a
  * bitmap the SCAN consults, not a join the query pays. Lookup is one
  * hash probe + one bit test; the last file's bitmap is cached because
  * a parquet split feeds millions of rows from one file in a row.
  *
  * Mutable cache fields are task-local: each task deserializes its own
  * copy of the plan's reference objects, so there is no cross-thread
  * sharing to guard. */
final class DvIndex(bits: java.util.HashMap[UTF8String, java.util.BitSet])
    extends Serializable {

  @transient private var lastFile: UTF8String = _
  @transient private var lastBits: java.util.BitSet = _
  @transient private var lastHit: Boolean = false

  def contains(f: UTF8String, p: Long): Boolean = {
    if (lastFile == null || !lastFile.equals(f)) {
      lastFile = f.clone()
      lastBits = bits.get(f)
      lastHit = lastBits != null
    }
    lastHit && p >= 0 && p <= Int.MaxValue && lastBits.get(p.toInt)
  }

  def files: Int = bits.size()
}

/** `dv_contains(file, pos)` — true iff the deletion-vector index marks
  * the position deleted in that file. Rides the scan stage as an
  * ordinary codegen'd predicate (`NOT dv_contains(...)` filters live
  * rows), replacing the `(file, pos)` anti-join — no shuffle, no join
  * build side, cost one bit probe per row. The index is a plain member
  * (not a child expression): it ships with the serialized plan exactly
  * like [[VecArgmin]]'s decoded payload. */
case class DvContains(file: Expression, pos: Expression, index: DvIndex)
    extends BinaryExpression {

  override def left: Expression = file
  override def right: Expression = pos
  override def dataType: DataType = BooleanType
  override def prettyName: String = "dv_contains"

  override protected def nullSafeEval(f: Any, p: Any): Any =
    index.contains(f.asInstanceOf[UTF8String], p.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (f, p) => {
      val idx = ctx.addReferenceObj("dvIndex", index,
        classOf[DvIndex].getName)
      s"${ev.value} = $idx.contains($f, $p);"
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DvContains =
    copy(file = newLeft, pos = newRight)
}
