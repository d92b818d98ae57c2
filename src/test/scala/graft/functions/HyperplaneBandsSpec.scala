package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Unit + integration coverage for the fused LSH signature expression.
  * Ground truth is an independent re-derivation of the per-plane fold in
  * plain Scala (same coefficient formula, same left-fold order). */
class HyperplaneBandsSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  /** Independent reference: per-plane sequential fold, then pack sign bits
    * per band — deliberately NOT sharing code with HyperplaneLsh. */
  private def reference(xs: Array[Double], planes: Int, bands: Int): Array[Long] = {
    def coef(p: Int, d: Int): Double =
      ((p * 64L + d) * 2654435761L % 2147483648L).toDouble / 2.147483648e9 - 0.5
    val proj = Array.tabulate(planes) { p =>
      xs.indices.foldLeft(0.0)((acc, d) => acc + coef(p, d) * xs(d))
    }
    val bits = planes / bands
    Array.tabulate(bands) { b =>
      (0 until bits).foldLeft(0L)((bv, r) => if (proj(b * bits + r) > 0) bv | (1L << r) else bv)
    }
  }

  private val sample: Array[Double] =
    Array.tabulate(64)(d => math.sin(d * 1.7) * (if (d % 3 == 0) -1 else 1))

  test("eval matches the independent per-plane fold (64/4 and 32/4)") {
    for ((planes, bands) <- Seq((64, 4), (32, 4), (16, 2))) {
      val got = HyperplaneLsh
        .bandBuckets(new GenericArrayData(sample), planes, bands, isFloat = false)
        .toLongArray()
      assert(got === reference(sample, planes, bands), s"planes=$planes bands=$bands")
    }
  }

  test("float input truncates to float32 before projecting (matches oracle CAST)") {
    val floats = sample.map(_.toFloat)
    val got = HyperplaneLsh
      .bandBuckets(new GenericArrayData(floats), 64, 4, isFloat = true)
      .toLongArray()
    assert(got === reference(floats.map(_.toDouble), 64, 4))
  }

  test("column expression agrees with direct eval through codegen") {
    import spark.implicits._
    val df = Seq((1L, sample.map(_.toFloat)), (2L, sample.map(x => -x.toFloat)))
      .toDF("id", "e")
    val rows = df
      .select($"id", GraftFunctions.hyperplaneBands($"e", 64, 4).as("bvs"))
      .orderBy("id").collect()
    assert(rows(0).getSeq[Long](1).toArray === reference(sample, 64, 4))
    assert(rows(1).getSeq[Long](1).toArray === reference(sample.map(-_), 64, 4))
  }

  test("bucket values fit their band width") {
    val bvs = HyperplaneLsh
      .bandBuckets(new GenericArrayData(sample), 64, 4, isFloat = false).toLongArray()
    assert(bvs.forall(bv => bv >= 0 && bv < (1L << 16)))
  }

  test("invalid parameterizations fail fast") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val child = Literal.create(sample, org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType))
    intercept[IllegalArgumentException](HyperplaneBands(child, 128, 4)) // > MaxPlanes
    intercept[IllegalArgumentException](HyperplaneBands(child, 64, 3))  // not divisible
    intercept[IllegalArgumentException](HyperplaneBands(child, 0, 1))
  }

  // Dims contract boundary (ScalaCheck, plain Prop — no scalatestplus in the
  // offline cache): EXACTLY SeedStride dims succeed; anything else fails with
  // the pinned message, so a future dims bump cannot silently shear the
  // oracle's range(0,64) derivation (cross-engine sign-bit divergence).
  test("dims contract: exactly SeedStride succeeds, any other dim fails loud") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    assert(HyperplaneLsh.SeedStride == 64, "oracle SQL pins range(0,64)")
    // boundary success: 64 dims through both eval paths
    assert(HyperplaneLsh.bandBuckets(
      new GenericArrayData(sample), 64, 4, isFloat = false).numElements() == 4)

    val badDims = Gen.chooseNum(1, 200).suchThat(_ != HyperplaneLsh.SeedStride)
    val prop = Prop.forAll(badDims) { dims =>
      val xs = Array.tabulate(dims)(d => math.cos(d * 0.9))
      val e = intercept[IllegalArgumentException] {
        HyperplaneLsh.bandBuckets(new GenericArrayData(xs), 64, 4, isFloat = false)
      }
      e.getMessage.contains(s"vector has $dims dims") &&
        e.getMessage.contains("require exactly 64")
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50), prop)
    assert(res.passed, res.status.toString)
  }
}
