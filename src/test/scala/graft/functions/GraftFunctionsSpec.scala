package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.functions.GraftFunctions._

/** Cross-engine primitives: the md5-based 60-bit hash (pinned against the
  * DuckDB formulation's known value), shingling edges, tokenization. */
class GraftFunctionsSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def eval1[T](c: org.apache.spark.sql.Column): T = {
    import spark.implicits._
    Seq(1).toDF("x").select(c.as("r")).collect()(0).getAs[T]("r")
  }

  test("hash64 matches DuckDB's CAST('0x'||substr(md5(x),1,15) AS BIGINT)") {
    // pinned value computed independently in DuckDB 1.0.0
    assert(eval1[Long](hash64(lit("hello world"))) === 426544247714475757L)
  }

  test("hash31 stays in [0, 2^31-1) so a*h+b cannot overflow signed 64-bit") {
    for (s <- Seq("", "a", "hello world", "the quick brown fox")) {
      val h = eval1[Long](hash31(lit(s)))
      assert(h >= 0L && h < IntModulus)
    }
  }

  test("tokens: trims before splitting so no empty leading token") {
    assert(eval1[Seq[String]](tokens(lit("  a  b c "))) === Seq("a", "b", "c"))
  }

  test("dsum/davg are exact-decimal-sum then one IEEE op") {
    import spark.implicits._
    val df = Seq(0.1, 0.2, 0.3).toDF("v")
    val r = df.agg(dsum(col("v")).as("s"), davg(col("v")).as("a")).collect()(0)
    assert(r.getAs[Double]("s") === 0.6)     // exact decimal sum, not 0.6000000000000001
    assert(r.getAs[Double]("a") === 0.6 / 3) // one deterministic IEEE division of the exact sum
  }

  test("kernel columns resolve in a session graft never touched") {
    // newSession() shares the SparkContext and GraftExtensions but no
    // session state: a kernel column must carry its expression, not a
    // function name looked up in some session's registry
    val fresh = spark.newSession()
    def frame(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      Seq((Seq.tabulate(64)(d => math.cos(d * 0.9)), Seq(7L, 3L, 5L), Seq(3L, 5L, 9L),
          Seq("a", "bb", "a", "ccc"), "some text", 5L, 9L, 1700000000123456789L, "PT1M2S"))
        .toDF("e", "a", "b", "tk", "s", "x", "y", "nanos", "iso")
    }
    val kernels = Seq(
      hyperplaneBands(col("e"), 64, 4), simhashBits(col("a"), 32), minhashSigs(col("a"), 16),
      mortonInterleave(col("x"), col("y"), 16), vecDot(col("e"), col("e")),
      vecDistSq(col("e"), col("e")), vecHamming(col("a"), col("b")), hash31Tokens(col("tk")),
      shinglePoly(col("a"), Seq(31L, 7L)), featureHashBuckets(col("a"), 16),
      bigramHashes(col("tk")), charQGrams(col("s"), 3), phashSim(col("s"), 64, 4, 1L << 32),
      windowHash64(col("tk"), 2, 1, clip = false), polyFold(col("a"), 31L, IntModulus),
      intersectCount(col("a"), col("b")), intersectCountSorted(array_sort(col("a")), col("b")),
      nanosToMicros(col("nanos")), isoDurationSeconds(col("iso")))
    val got = frame(fresh).select(kernels: _*)
    assert(got.columns.contains("vec_dot(e, e)"), got.columns.mkString(", "))
    val row = got.head()
    assert((0 until row.length).forall(!row.isNullAt(_)), row)
    assert(row == frame(spark).select(kernels: _*).head())
  }
}
