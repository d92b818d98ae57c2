package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** MinHash signature, all hash functions in ONE pass.
  *
  * For hash i of `numHashes`, the signature element is
  * min over shingle hashes h of `(h·A(i) + B(i)) mod P` — the classic
  * universal-hash MinHash estimator. Replaces `numHashes` separate
  * interpreted `array_min(transform(...))` column expressions (one full
  * pass over the shingle array per hash function) with a single
  * JIT-compiled double loop — the same fusion [[SimHashLsh]] applied to
  * the per-bit folds and [[HyperplaneLsh]] to the per-plane projections.
  *
  * Determinism contract: pure integer arithmetic — `h < P` and `A(i) < P`
  * keep every product under 2⁶² (no signed-64 overflow), so Java's `*`,
  * `+`, `%` here compute exactly what Spark's non-ANSI long operators and
  * the DuckDB oracle's interpolated literals compute
  * (ExtOracles.minhashSigCtes). A(i)/B(i) derive from the SAME pinned
  * formula ExtQueries.MinhashA/B re-export, so there is one derivation.
  * Null elements are skipped like `array_min` skips them; an empty or
  * all-null shingle array yields per-position nulls exactly as the HOF
  * formulation did (not an exercised path: shingle sets are never empty).
  */
object MinhashLsh {

  /** Max supported hash functions; the pinned coefficient tables are
    * precomputed to this length. */
  val MaxHashes = 64

  private val P = GraftFunctions.IntModulus
  val A: Array[Long] = Array.tabulate(MaxHashes)(i => (2L * i + 1) * 1000003L % P)
  val B: Array[Long] = Array.tabulate(MaxHashes)(i => (i + 1L) * 7368787L % P)

  def signature(arr: ArrayData, numHashes: Int): ArrayData = {
    val n = arr.numElements()
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var sawValid = false
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        sawValid = true
        val h = arr.getLong(j)
        var i = 0
        while (i < numHashes) {
          val v = (h * A(i) + B(i)) % P
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      j += 1
    }
    if (sawValid) new GenericArrayData(mins)
    else new GenericArrayData(Array.fill[Any](numHashes)(null))
  }
}

/** Catalyst-native expression wrapping [[MinhashLsh.signature]] — a static
  * call, so it stays inside whole-stage codegen like [[SimHashBits]].
  * Built by [[GraftFunctions.minhashSigs]].
  */
case class MinhashSigs(child: Expression, numHashes: Int) extends UnaryExpression {

  require(numHashes > 0 && numHashes <= MinhashLsh.MaxHashes,
    s"minhash_sigs: numHashes must be in 1..${MinhashLsh.MaxHashes}, got $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "minhash_sigs"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sigs expects array<bigint>, got $other")
    }
  }

  override def nullSafeEval(input: Any): Any =
    MinhashLsh.signature(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinhashLsh.signature($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinhashSigs =
    copy(child = newChild)
}
