package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Unit + integration coverage for the fused MinHash signature expression.
  * Ground truth is an independent per-hash re-derivation in plain Scala —
  * deliberately NOT sharing code with MinhashLsh (the same
  * one-fold-per-hash shape the replaced HOF formulation used). */
class MinhashSigsSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private val P = GraftFunctions.IntModulus

  private def reference(hs: Seq[Long], numHashes: Int): Seq[Long] =
    (0 until numHashes).map { i =>
      val a = (2L * i + 1) * 1000003L % P
      val b = (i + 1L) * 7368787L % P
      hs.map(h => (h * a + b) % P).min
    }

  private val sample: Array[Long] =
    Array.tabulate(40)(j => (j * 2654435761L) % P)

  test("eval matches the independent per-hash fold") {
    for (n <- Seq(16, 1, 64)) {
      val got = MinhashLsh.signature(new GenericArrayData(sample), n)
      assert(got.toLongArray().toSeq === reference(sample.toSeq, n), s"numHashes=$n")
    }
  }

  test("empty array yields per-position nulls (array_min-of-empty parity)") {
    val got = MinhashLsh.signature(new GenericArrayData(Array.empty[Long]), 4)
    assert(got.numElements() === 4)
    (0 until 4).foreach(i => assert(got.isNullAt(i)))
  }

  test("column expression agrees with direct eval through codegen") {
    import spark.implicits._
    val other = sample.map(h => (h * 31L + 7L) % P)
    val rows = Seq((1L, sample), (2L, other))
      .toDF("id", "ds")
      .select($"id", GraftFunctions.minhashSigs($"ds", 16).as("sig"))
      .orderBy("id").collect()
    assert(rows(0).getSeq[Long](1) === reference(sample.toSeq, 16))
    assert(rows(1).getSeq[Long](1) === reference(other.toSeq, 16))
  }

  test("invalid parameterizations fail fast") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val child = Literal.create(sample, org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType))
    intercept[IllegalArgumentException](MinhashSigs(child, 65)) // > MaxHashes
    intercept[IllegalArgumentException](MinhashSigs(child, 0))
  }
}
