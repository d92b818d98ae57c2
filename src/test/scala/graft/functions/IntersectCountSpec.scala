package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._
import graft.SparkFixture

/** [[IntersectCount]] — the primitive Jaccard-verify counting kernel.
  * Ground truth is `size(array_intersect)` (the built-in it replaces) and a
  * plain Set intersection. */
class IntersectCountSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private val setGen: Gen[Seq[Long]] =
    Gen.listOf(Gen.chooseNum(-50L, 50L)).map(_.distinct.toSeq)

  test("matches Set intersection on random distinct arrays (ScalaCheck)") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val p = Prop.forAll(setGen, setGen) { (a: Seq[Long], b: Seq[Long]) =>
      SetOps.intersectCount(
        ArrayData.toArrayData(a.toArray), ArrayData.toArrayData(b.toArray)) ==
        a.toSet.intersect(b.toSet).size.toLong
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  test("column expression agrees with array_intersect through codegen, nulls flow") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),
      (2L, Seq.empty[Long], Seq(1L)),
      (3L, Seq(7L), Seq(7L)),
      (4L, (1L to 200L), (150L to 400L)))
      .map { case (id, a, b) => (id, a.toArray, b.toArray) }
      .toDF("id", "a", "b")
    val rows = df.select($"id",
        GraftFunctions.intersectCount($"a", $"b").as("c"),
        size(array_intersect($"a", $"b")).cast("long").as("want"))
      .orderBy("id").collect()
    rows.foreach(r => assert(r.getLong(1) === r.getLong(2), s"id=${r.getLong(0)}"))
    // null array → null result through the standard null-safe path
    val n = df.select(
      GraftFunctions.intersectCount(lit(null).cast("array<bigint>"), $"b")
        .as("c")).limit(1).collect().head
    assert(n.isNullAt(0))
  }

  test("sorted kernel matches the general kernel on sorted sets (ScalaCheck)") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val p = Prop.forAll(setGen, setGen) { (a: Seq[Long], b: Seq[Long]) =>
      SetOps.intersectCountSorted(
        ArrayData.toArrayData(a.sorted.toArray),
        ArrayData.toArrayData(b.sorted.toArray)) ==
        a.toSet.intersect(b.toSet).size.toLong
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  test("sorted column expression over array_sort'ed inputs agrees with " +
      "array_intersect, including nullable-element inputs") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(3L, 1L, 2L), Seq(4L, 2L, 3L)),
      (2L, Seq.empty[Long], Seq(1L)),
      (3L, (1L to 200L).toSeq, (150L to 400L).toSeq))
      .toDF("id", "a", "b")
      .select($"id", array_sort($"a").as("a"), array_sort($"b").as("b"))
    val rows = df.select($"id",
        GraftFunctions.intersectCountSorted($"a", $"b").as("c"),
        size(array_intersect($"a", $"b")).cast("long").as("want"))
      .orderBy("id").collect()
    rows.foreach(r => assert(r.getLong(1) === r.getLong(2), s"id=${r.getLong(0)}"))
    // nullable elements: array_sort puts null LAST; null∈both counts once
    val ndf = Seq(
      (1L, Seq[Option[Long]](None, Some(3L), Some(1L)),
        Seq[Option[Long]](Some(3L), None, Some(9L))),      // {3, null} → 2
      (2L, Seq[Option[Long]](None), Seq[Option[Long]](Some(5L))))  // ∅ → 0
      .toDF("id", "a", "b")
      .select($"id", array_sort($"a").as("a"), array_sort($"b").as("b"))
    val nrows = ndf.select($"id",
        GraftFunctions.intersectCountSorted($"a", $"b").as("c"))
      .orderBy("id").collect()
    assert(nrows.map(_.getLong(1)).toSeq === Seq(2L, 0L))
  }

  test("nullable-element inputs dispatch to the null-aware kernel and match " +
      "array_intersect set semantics exactly") {
    import spark.implicits._
    // arrays built with element-nullable types: null in both sides counts
    // once, null in one side counts zero, null slots never corrupt counts
    val df = Seq(
      (1L, Seq[Option[Long]](Some(1L), None, Some(3L)),
        Seq[Option[Long]](None, Some(3L), Some(9L))),      // {3, null} → 2
      (2L, Seq[Option[Long]](None), Seq[Option[Long]](Some(5L))), // ∅ → 0
      (3L, Seq[Option[Long]](Some(2L), Some(4L)),
        Seq[Option[Long]](Some(4L), None)),                 // {4} → 1
      (4L, Seq[Option[Long]](), Seq[Option[Long]](None)))   // ∅ → 0
      .toDF("id", "a", "b")
    assert(df.schema("a").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull)
    val rows = df.select($"id",
        GraftFunctions.intersectCount($"a", $"b").as("c"),
        size(array_intersect($"a", $"b")).cast("long").as("want"))
      .orderBy("id").collect()
    rows.foreach(r => assert(r.getLong(1) === r.getLong(2), s"id=${r.getLong(0)}"))
    assert(rows.map(_.getLong(1)).toSeq === Seq(2L, 0L, 1L, 0L))
  }

  test("plan: the kernel call sits inside whole-stage codegen") {
    // a local relation collapses to LocalTableScan with no codegen stage,
    // so drive the expression from a range source
    val df = spark.range(0, 4)
      .select(array(col("id"), col("id") + 1).as("a"), array(col("id")).as("b"))
      .select(GraftFunctions.intersectCount(col("a"), col("b")).as("c"))
    // the `*(n)` prefix is the executedPlan.toString marker for operators
    // inside a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [intersect_count"), plan.take(500))
    assert(df.collect().forall(_.getLong(0) == 1L))
  }
}
