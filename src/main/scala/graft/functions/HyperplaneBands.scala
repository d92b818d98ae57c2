package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Random-hyperplane LSH signature, all planes in ONE pass.
  *
  * Computes the sign bits of `planes` pinned pseudo-random hyperplane
  * projections of an embedding vector and packs them into `bands` bucket
  * values (`planes / bands` bits each) — the key the cosine-LSH operators
  * bucket-join on. Replaces `planes` separate interpreted `zip_with`+fold
  * column expressions with a single JIT-compiled double loop (the HOF
  * formulation fell out of whole-stage codegen and was the bench's hottest
  * scan; see ExtQueries cosine ops).
  *
  * Determinism contract: plane p's projection accumulates coefficients in
  * ascending dimension order starting from 0.0 — bit-identical to the DuckDB
  * oracle's `list_reduce(list_transform(range(0,dims), d -> c*x), (a,b)->a+b)`
  * (a left fold whose first term is `c₀x₀`; `0.0 + c₀x₀ == c₀x₀` in IEEE).
  * Coefficients derive arithmetically from the Knuth multiplicative constant
  * (`coef(p,d) = ((p·64+d)·2654435761 mod 2³¹)/2³¹ − 0.5`) so the oracle
  * reproduces them without shipping `planes × dims` literals.
  */
object HyperplaneLsh {

  /** Max planes/dims the pinned coefficient table supports; the `p·64+d`
    * seed stride is part of the cross-engine contract (changing it changes
    * every signature). */
  val MaxPlanes = 64
  val SeedStride = 64

  private val Coef: Array[Array[Double]] =
    Array.tabulate(MaxPlanes, SeedStride) { (p, d) =>
      ((p * SeedStride.toLong + d) * 2654435761L % 2147483648L).toDouble / 2.147483648e9 - 0.5
    }

  /** @return `bands` bucket values; null array elements contribute 0.0
    *         (the fixture has none — defined behavior, not a code path the
    *         oracle exercises). */
  def bandBuckets(arr: ArrayData, planes: Int, bands: Int, isFloat: Boolean): ArrayData = {
    val dims = arr.numElements()
    // EXACT-dims contract, enforced (not just documented): beyond SeedStride
    // the coefficient rows run out (AIOOBE on executors); below it the
    // projection is well-defined Spark-side but the oracle SQL hardcodes
    // range(0,64), whose out-of-range indexing yields NULL products, a NULL
    // fold, and a silently flipped sign bit — so BOTH directions fail loud.
    require(dims == SeedStride,
      s"hyperplane_bands: vector has $dims dims; the pinned coefficient table " +
        s"and the oracle's range(0,$SeedStride) derivation require exactly " +
        s"$SeedStride (change SeedStride AND the oracle derivation together)")
    val xs = new Array[Double](dims)
    var d = 0
    while (d < dims) {
      if (!arr.isNullAt(d)) xs(d) = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
      d += 1
    }
    val bits = planes / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var bv = 0L
      var r = 0
      while (r < bits) {
        val row = Coef(b * bits + r)
        var acc = 0.0
        var i = 0
        while (i < dims) { acc += row(i) * xs(i); i += 1 }
        if (acc > 0) bv |= (1L << r)
        r += 1
      }
      out(b) = bv
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** Catalyst-native expression wrapping [[HyperplaneLsh.bandBuckets]] — a
  * static call, so it stays inside whole-stage codegen like
  * [[ParseIso8601Duration]]. Built by [[GraftFunctions.hyperplaneBands]].
  */
case class HyperplaneBands(child: Expression, planes: Int, bands: Int)
    extends UnaryExpression {

  require(planes > 0 && planes <= HyperplaneLsh.MaxPlanes,
    s"hyperplane_bands: planes must be in 1..${HyperplaneLsh.MaxPlanes}, got $planes")
  require(bands > 0 && planes % bands == 0,
    s"hyperplane_bands: bands ($bands) must divide planes ($planes)")
  require(planes / bands <= 63,
    s"hyperplane_bands: ${planes / bands} bits per band does not fit a long bucket value")

  private def elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case other =>
      throw new IllegalArgumentException(
        s"hyperplane_bands: expected array<float|double> input, got $other")
  }
  private def isFloat: Boolean = elemType == FloatType

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "hyperplane_bands"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hyperplane_bands expects array<float> or array<double>, got $other")
    }
  }

  override def nullSafeEval(input: Any): Any =
    HyperplaneLsh.bandBuckets(input.asInstanceOf[ArrayData], planes, bands, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HyperplaneLsh.bandBuckets($c, $planes, $bands, $isFloat)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBands =
    copy(child = newChild)
}
