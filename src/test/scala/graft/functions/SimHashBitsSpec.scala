package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Unit + integration coverage for the fused SimHash signature expression.
  * Ground truth is an independent per-bit re-derivation in plain Scala —
  * deliberately NOT sharing code with SimHashLsh (the same one-fold-per-bit
  * shape the replaced HOF formulation used). */
class SimHashBitsSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def reference(hs: Seq[Long], bits: Int): Long =
    (0 until bits).foldLeft(0L) { (sig, i) =>
      val c = hs.map(t => if (((t >> i) & 1L) == 1L) 1 else -1).sum
      if (c > 0) sig | (1L << i) else sig
    }

  private val sample: Array[Long] =
    Array.tabulate(40)(j => (j * 2654435761L) % 2147483647L)

  test("eval matches the independent per-bit fold") {
    for (bits <- Seq(32, 16, 63)) {
      val got = SimHashLsh.signature(new GenericArrayData(sample), bits)
      assert(got === reference(sample.toSeq, bits), s"bits=$bits")
    }
  }

  test("empty array yields the all-zero signature (no positive counters)") {
    assert(SimHashLsh.signature(new GenericArrayData(Array.empty[Long]), 32) === 0L)
  }

  test("column expression agrees with direct eval through codegen") {
    import spark.implicits._
    val rows = Seq((1L, sample), (2L, sample.map(~_ & 0x7FFFFFFFL)))
      .toDF("id", "th")
      .select($"id", GraftFunctions.simhashBits($"th", 32).as("sim"))
      .orderBy("id").collect()
    assert(rows(0).getLong(1) === reference(sample.toSeq, 32))
    assert(rows(1).getLong(1) === reference(sample.map(~_ & 0x7FFFFFFFL).toSeq, 32))
  }

  test("invalid parameterizations fail fast") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val child = Literal.create(sample, org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType))
    intercept[IllegalArgumentException](SimHashBits(child, 64)) // > 63
    intercept[IllegalArgumentException](SimHashBits(child, 0))
  }
}
