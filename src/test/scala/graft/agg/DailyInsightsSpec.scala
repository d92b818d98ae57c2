package graft.agg

import java.sql.{Date, Timestamp}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.schema.TrendingVideo

/** A3–A5/F4 semantics on controlled inputs: half-even mean rounding at exact
  * .xx5 boundaries, ratio guard, pinned mode tie-break. */
class DailyInsightsSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private val d = Date.valueOf("2025-10-06")
  private val ts = Timestamp.valueOf("2025-10-05 10:00:00")

  private def video(region: String, id: String, likes: Long, views: Long = 1L,
                    cat: String = "1", date: Date = d): TrendingVideo =
    TrendingVideo(id, date, cat, "c", 0L, likes, views, 60L, "t", ts, region)

  test("means round HALF-EVEN at exact .xx5 (Python round parity)") {
    import spark.implicits._
    // X: likes sum 1 over 8 rows = 0.125 -> 0.12 (down to even)
    // Y: likes sum 3 over 8 rows = 0.375 -> 0.38 (up to even)
    val vids = (
      video("X", "x1", 1L) +: (2 to 8).map(i => video("X", s"x$i", 0L))
    ) ++ (
      video("Y", "y1", 3L) +: (2 to 8).map(i => video("Y", s"y$i", 0L))
    )
    val out = DailyInsights.compute(vids.toDS()).collect()
      .map(i => i.region -> i).toMap
    assert(out("X").average_likes === 0.12)
    assert(out("Y").average_likes === 0.38)
  }

  test("mode tie breaks toward lowest category id") {
    import spark.implicits._
    val vids = Seq(
      video("R", "a", 1L, cat = "7"),
      video("R", "b", 1L, cat = "5"),
      video("R", "c", 1L, cat = "9"))
    val out = DailyInsights.compute(vids.toDS()).collect()(0)
    assert(out.top_category_id === 5L)
  }

  test("null/non-numeric categories count in metrics but get no mode vote") {
    import spark.implicits._
    // two uncategorizable videos + one real category: metrics include all
    // three rows, the mode ignores the nulls, nothing crashes the encoder
    val vids = Seq(
      video("N", "a", 4L, cat = null),
      video("N", "b", 2L, cat = "oops"),
      video("N", "c", 6L, cat = "9"))
    val out = DailyInsights.compute(vids.toDS()).collect()(0)
    assert(out.total_likes === 12L)
    assert(out.average_likes === 4.0)
    assert(out.top_category_id === 9L)
    // a region-day with NO categorized videos degrades to -1, not a crash
    val allNull = Seq(video("M", "x", 1L, cat = null), video("M", "y", 2L, cat = "n/a"))
    val out2 = DailyInsights.compute(allNull.toDS()).collect()(0)
    assert(out2.top_category_id === -1L)
    assert(out2.total_likes === 3L)
  }

  test("zero total views -> engagement ratio 0, averages still defined") {
    import spark.implicits._
    val vids = Seq(video("Z", "z1", 5L, views = 0L), video("Z", "z2", 3L, views = 0L))
    val out = DailyInsights.compute(vids.toDS()).collect()(0)
    assert(out.engagement_ratio === 0.0)
    assert(out.total_views === 0L)
    assert(out.average_likes === 4.0)
  }

  test("mode is per (region, date) in one aggregate: count beats id, ties to lowest, nulls no vote") {
    import spark.implicits._
    val d2 = Date.valueOf("2025-10-07")
    val vids = Seq(
      // (A, d): 9 twice beats the lower id 5 once
      video("A", "a1", 1L, cat = "9"), video("A", "a2", 1L, cat = "9"),
      video("A", "a3", 1L, cat = "5"),
      // (A, d2): 8 and 6 tie at two; three uncategorizable rows outnumber both
      video("A", "a4", 2L, cat = "8", date = d2), video("A", "a5", 2L, cat = "8", date = d2),
      video("A", "a6", 2L, cat = "6", date = d2), video("A", "a7", 2L, cat = "6", date = d2),
      video("A", "a8", 2L, cat = null, date = d2), video("A", "a9", 2L, cat = "x", date = d2),
      video("A", "a10", 2L, cat = null, date = d2),
      // (B, d): 5 and 7 tie at one — pooled with (A, d) the mode would be 5
      // by count, so a leak across regions would also show in A's answer
      video("B", "b1", 4L, cat = "7"), video("B", "b2", 4L, cat = "5"),
      // (B, d2): no categorized row
      video("B", "b3", 8L, cat = null, date = d2))
    val out = DailyInsights.compute(vids.toDS()).collect()
      .map(i => (i.region, i.date) -> i).toMap
    assert(out.size === 4)
    assert(out(("A", d)).top_category_id === 9L)
    assert(out(("A", d2)).top_category_id === 6L)
    assert(out(("B", d)).top_category_id === 5L)
    assert(out(("B", d2)).top_category_id === -1L)
    assert(out.map { case (k, i) => k -> i.total_likes } ===
      Map(("A", d) -> 3L, ("A", d2) -> 14L, ("B", d) -> 8L, ("B", d2) -> 8L))
  }
}
