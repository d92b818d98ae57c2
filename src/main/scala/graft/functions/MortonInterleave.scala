package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Morton (Z-order) bit interleave: weave the low `bits` bits of two
  * non-negative longs into one 2·`bits`-bit key — x into the odd
  * positions, y into the even. The multi-dimensional clustering key
  * `ExtQueries.zorder` sorts by (Delta `OPTIMIZE ZORDER BY` / Iceberg
  * sort-order mechanism).
  *
  * One tight JIT-compiled loop replacing the composed column formula's
  * 2·`bits`-term shift/and/add expression tree — the same fusion as
  * [[SimHashLsh]]/[[HyperplaneLsh]]: Catalyst evaluates one static call
  * inside whole-stage codegen instead of carrying a 32-node subtree
  * through every projection. Pure integer bit arithmetic, no fold-order
  * or FP surface; the DuckDB oracle computes the identical value from
  * the expanded ((x >> i) & 1) * 2^(2i+1) sum (ExtOracles e_zorder). */
object Morton {
  def interleave(x: Long, y: Long, bits: Int): Long = {
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((x >> i) & 1L) << (2 * i + 1)
      z |= ((y >> i) & 1L) << (2 * i)
      i += 1
    }
    z
  }
}

/** Catalyst-native wrapper over [[Morton.interleave]] — a static call, so
  * it stays inside whole-stage codegen. Built by
  * [[GraftFunctions.mortonInterleave]]. */
case class MortonInterleave(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {

  require(bits > 0 && bits <= 31,
    s"morton_interleave: bits must be in 1..31 (the key is packed in a long), got $bits")

  override def dataType: DataType = LongType
  override def prettyName: String = "morton_interleave"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"morton_interleave expects (bigint, bigint), got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    Morton.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.Morton.interleave($a, $b, $bits)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MortonInterleave =
    copy(left = newLeft, right = newRight)
}
