package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Unit + integration coverage for the fused Morton-interleave expression.
  * Ground truth is an independent per-bit re-derivation — deliberately not
  * sharing code with [[Morton]] (the same expanded shift/multiply shape the
  * DuckDB oracle uses). */
class MortonInterleaveSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def reference(x: Long, y: Long, bits: Int): Long =
    (0 until bits).map { i =>
      ((x >> i) & 1L) * (1L << (2 * i + 1)) + ((y >> i) & 1L) * (1L << (2 * i))
    }.sum

  test("eval matches the expanded arithmetic form across the 16-bit grid edges") {
    val samples = Seq(0L, 1L, 2L, 3L, 5L, 255L, 256L, 32767L, 65535L)
    for (x <- samples; y <- samples; bits <- Seq(16, 8, 31)) {
      assert(Morton.interleave(x, y, bits) === reference(x, y, bits),
        s"x=$x y=$y bits=$bits")
    }
  }

  test("hand-computed values: interleave(3, 5, 16) weaves odd/even positions") {
    // x=0b11 -> bits 1,3 = 2+8; y=0b101 -> bits 0,4 = 1+16; total 27
    assert(Morton.interleave(3L, 5L, 16) === 27L)
    assert(Morton.interleave(0L, 0L, 16) === 0L)
    assert(Morton.interleave(65535L, 0L, 16) === 0xAAAAAAAAL)
    assert(Morton.interleave(0L, 65535L, 16) === 0x55555555L)
  }

  test("column expression agrees with direct eval through codegen") {
    import spark.implicits._
    val rows = Seq((1L, 3L, 5L), (2L, 65535L, 65535L), (3L, 1024L, 19723L))
      .toDF("id", "x", "y")
      .select($"id", GraftFunctions.mortonInterleave($"x", $"y", 16).as("z"))
      .orderBy("id").collect()
    assert(rows(0).getLong(1) === 27L)
    assert(rows(1).getLong(1) === 0xFFFFFFFFL)
    assert(rows(2).getLong(1) === Morton.interleave(1024L, 19723L, 16))
  }

  test("invalid parameterizations fail fast") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val c = Literal.create(1L, org.apache.spark.sql.types.LongType)
    intercept[IllegalArgumentException](MortonInterleave(c, c, 32)) // > 31
    intercept[IllegalArgumentException](MortonInterleave(c, c, 0))
  }
}
