package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Native form of the portable 60-bit hash (preference ladder (b), like
  * [[VecDot]]): `conv(substring(md5(x), 1, 15), 16, 10)` materializes a
  * 32-char hex string, slices it, and re-parses it — three expression
  * nodes and two string allocations per row, in the hottest path of the
  * engine (one hash per shingle in MinHash, per token in SimHash, per
  * frame in media sampling). The first 15 hex digits of a digest ARE its
  * first 60 bits, so [[Md5Prefix60]] reads the value straight out of the
  * digest bytes: big-endian long of bytes 0-7, `>>> 4`.
  *
  * Numeric contract: bit-identical to the conv/substring formula (pinned
  * by HashExprsSpec on arbitrary strings) and therefore to the DuckDB
  * oracle replay `CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)` —
  * swapping it into oracle-checked queries keeps every hash green.
  */
case class Md5Prefix60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  // analysis-time contract: argument must be binary — a mistyped call
  // fails analysis instead of ClassCastException at runtime. (The
  // ExpectsInputTypes trait would also add an implicit cast, but its
  // AbstractDataType signature is private[sql], so an external
  // expression pins types via checkInputDataTypes; callers cast
  // explicitly, see Dedup.fastHash60.)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"md5_prefix60 requires a BINARY argument, got ${child.dataType.catalogString}")
  override def prettyName: String = "md5_prefix60"

  override protected def nullSafeEval(input: Any): Any = {
    val d = org.apache.commons.codec.digest.DigestUtils.md5(input.asInstanceOf[Array[Byte]])
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val d = ctx.freshName("digest")
      val v = ctx.freshName("v")
      s"""
         |byte[] $d = org.apache.commons.codec.digest.DigestUtils.md5($input);
         |long $v = 0L;
         |for (int _i = 0; _i < 8; _i++) { $v = ($v << 8) | (((long) $d[_i]) & 0xffL); }
         |${ev.value} = $v >>> 4;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix60 =
    copy(child = newChild)
}

object HashExprs {
  /** `md5_prefix60`, injected into every session by
    * [[graft.GraftExtensions]]. */
  val functions: Seq[graft.GraftExtensions.Function] = Seq(
    graft.GraftExtensions.function[Md5Prefix60]("md5_prefix60") { exprs =>
      require(exprs.length == 1,
        s"md5_prefix60 expects exactly 1 argument, got ${exprs.length}")
      Md5Prefix60(exprs.head)
    })

  /** Registers `md5_prefix60` in a session built without the extension;
    * a no-op where it is already registered. */
  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.registerAbsent(spark, functions)
}
