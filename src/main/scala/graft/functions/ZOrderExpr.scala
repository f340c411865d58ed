package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** Morton (Z-order) bit interleave of two 16-bit coordinates — the
  * multi-dimensional clustering key behind Delta/Iceberg-style OPTIMIZE
  * ZORDER BY: rows sorted by `z = interleave(x, y)` place points that are
  * close in BOTH dimensions into the same range partitions, so parquet
  * footer min/max stats prune 2-D box predicates that a single-column
  * sort can only prune in one dimension.
  *
  * Bit contract (the form a SQL oracle replays verbatim): inputs are
  * masked to their low 16 bits, and bit k of x lands at position 2k, bit
  * k of y at 2k+1:
  * `z = Σ_k ((x>>k)&1) << 2k  |  ((y>>k)&1) << (2k+1)`.
  * 16 bits per coordinate (65k buckets per dimension) is the practical
  * clustering resolution — coarser than the data, finer than the file
  * count — and keeps the key in a BIGINT.
  *
  * Codegen emits the branch-free magic-number spread (Hacker's Delight
  * §7-2 / the classic Morton tables) rather than a 16-iteration loop;
  * `nullSafeEval` mirrors it for interpreted paths. Both are
  * bit-identical to the Σ form the DuckDB oracle evaluates.
  */
case class ZOrder2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "z_order2"

  // analysis-time contract (ExpectsInputTypes' AbstractDataType signature
  // is private[sql], same note as Md5Prefix60): both args must be INT;
  // callers cast explicitly.
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == IntegerType && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"z_order2 requires (INT, INT) arguments, got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ZOrder2.interleave(a.asInstanceOf[Int], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val sx = ctx.freshName("sx")
      val sy = ctx.freshName("sy")
      def spread(v: String, in: String): String =
        s"""long $v = (long) ($in & 0xFFFF);
           |$v = ($v | ($v << 8)) & 0x00FF00FFL;
           |$v = ($v | ($v << 4)) & 0x0F0F0F0FL;
           |$v = ($v | ($v << 2)) & 0x33333333L;
           |$v = ($v | ($v << 1)) & 0x55555555L;""".stripMargin
      s"""
         |${spread(sx, x)}
         |${spread(sy, y)}
         |${ev.value} = $sx | ($sy << 1);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrder2 =
    copy(left = newLeft, right = newRight)
}

object ZOrder2 {
  /** Branch-free 16-bit spread: abcd... -> a0b0c0d0... */
  private def spread(v0: Int): Long = {
    var v = (v0 & 0xFFFF).toLong
    v = (v | (v << 8)) & 0x00FF00FFL
    v = (v | (v << 4)) & 0x0F0F0F0FL
    v = (v | (v << 2)) & 0x33333333L
    v = (v | (v << 1)) & 0x55555555L
    v
  }

  def interleave(x: Int, y: Int): Long = spread(x) | (spread(y) << 1)

  /** The Σ-form SQL replay of [[interleave]] over column expressions `x`
    * and `y` (DuckDB and Spark SQL share the shift/mask operators). */
  def interleaveSql(x: String, y: String): String =
    (0 until 16).map(k =>
      s"(CAST((($x) >> $k) & 1 AS BIGINT) << ${2 * k}) + " +
        s"(CAST((($y) >> $k) & 1 AS BIGINT) << ${2 * k + 1})")
      .mkString("(", " + ", ")")
}

object ZOrderExprs {
  /** `z_order2(x, y)` with an arity-checked builder, injected into every
    * session by [[graft.GraftExtensions]]. */
  val functions: Seq[graft.GraftExtensions.Function] = Seq(
    graft.GraftExtensions.function[ZOrder2]("z_order2") { exprs =>
      require(exprs.length == 2, s"z_order2 expects 2 arguments, got ${exprs.length}")
      ZOrder2(exprs.head, exprs(1))
    })

  /** Registers it in a session built without the extension; a no-op
    * where it is already registered. */
  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.registerAbsent(spark, functions)
}
