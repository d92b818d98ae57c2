package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Charikar SimHash signature, all bits in ONE pass.
  *
  * For bit i of `bits`, count +1 per token hash with bit i set and −1 per
  * token hash (or null element) without it; the signature sets bit i iff
  * the count is positive. Replaces `bits` separate interpreted
  * `aggregate`-fold column expressions (one full pass over the token-hash
  * array per bit) with a single JIT-compiled double loop — the same
  * fusion that took the cosine-LSH signature off the bench top
  * ([[HyperplaneLsh]]).
  *
  * Determinism contract: pure integer arithmetic — bit tests and counter
  * compares only, so there is no fold-order surface; the DuckDB oracle's
  * `list_sum(list_transform(...))` per bit agrees exactly (ExtOracles
  * e_simhash_dedup). Null elements contribute −1 to every bit, matching
  * the HOF formulation's `otherwise(-1)` branch (the fixture has none —
  * defined behavior, not an exercised path).
  */
object SimHashLsh {

  def signature(arr: ArrayData, bits: Int): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](bits)
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val t = arr.getLong(j)
        var i = 0
        while (i < bits) {
          if (((t >> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
          i += 1
        }
      } else {
        var i = 0
        while (i < bits) { counts(i) -= 1; i += 1 }
      }
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < bits) {
      if (counts(i) > 0) sig |= (1L << i)
      i += 1
    }
    sig
  }
}

/** Catalyst-native expression wrapping [[SimHashLsh.signature]] — a static
  * call, so it stays inside whole-stage codegen like [[HyperplaneBands]].
  * Built by [[GraftFunctions.simhashBits]].
  */
case class SimHashBits(child: Expression, bits: Int) extends UnaryExpression {

  require(bits > 0 && bits <= 63,
    s"simhash_bits: bits must be in 1..63 (signature is packed in a long), got $bits")

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "simhash_bits"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash_bits expects array<bigint>, got $other")
    }
  }

  override def nullSafeEval(input: Any): Any =
    SimHashLsh.signature(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashLsh.signature($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): SimHashBits =
    copy(child = newChild)
}
