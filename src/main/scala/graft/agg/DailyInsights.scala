package graft.agg

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.avg2
import graft.schema.{DailyInsight, TrendingVideo}

/** A3–A6 + W1 + F4–F5: the daily per-region insight aggregate (reference:
  * dags/trending_daily_aggregates.py:52-93). The reference's per-region
  * Python loop becomes ONE scan feeding one fine-grained hash aggregate per
  * (region, date, category); the nine metrics roll up from it (sums of
  * partial sums, max of partial maxes — decimal partial sums keep the means
  * exact through the two levels) and the mode is one more aggregate of the
  * same roll-up, so the day's partition is read once and the result needs
  * no cache, window or join.
  *
  * Semantics pinned to the reference:
  *   - means rounded 2-dp HALF-EVEN (Python `round(mean, 2)`, :69,72,75) —
  *     via the shared [[avg2]] pattern, rounded while still exact decimal;
  *   - engagement ratio UNROUNDED, 0 when total_views = 0 (:79-84);
  *   - top category = mode of `category_id` cast to long (:87-88), ties →
  *     LOWEST id (pandas' tie order is insertion-dependent; SURVEY §7.6 #2);
  *   - rows with a missing/non-numeric category count toward every METRIC
  *     but get no vote in the mode (the reference would crash on them,
  *     :87 int() — graft degrades instead); a region-day with NO categorized
  *     videos gets top_category_id = -1, a value outside YouTube's id space
  *     (the column is non-nullable by schema).
  */
object DailyInsights {

  /** 2-dp half-even mean over two-level partial decimal sums. */
  private def avg2FromParts(partSum: org.apache.spark.sql.Column,
                            partN: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    bround(sum(partSum) / sum(partN), 2).cast("double")

  def compute(videos: Dataset[TrendingVideo]): Dataset[DailyInsight] = {
    val spark = videos.sparkSession
    import spark.implicits._

    // ONE fine-grained aggregate, rolled up once per (region, date).
    // try_cast, not cast: ANSI mode (Spark 4 default) would abort the whole
    // day on the first non-numeric category string
    val byCat = videos.toDF()
      .groupBy(col("region"), col("date"),
        expr("try_cast(category_id AS BIGINT)").as("cat"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("views_count")).as("s_views"),
        sum(col("views_count").cast("decimal(28,6)")).as("d_views"),
        max(col("views_count")).as("m_views"),
        sum(col("likes_count")).as("s_likes"),
        sum(col("likes_count").cast("decimal(28,6)")).as("d_likes"),
        max(col("likes_count")).as("m_likes"),
        sum(col("comments_count")).as("s_comments"),
        sum(col("comments_count").cast("decimal(28,6)")).as("d_comments"),
        max(col("comments_count")).as("m_comments"))

    byCat
      .groupBy(col("region"), col("date"))
      .agg(
        sum(col("s_views")).as("total_views"),
        avg2FromParts(col("d_views"), col("n")).as("average_views"),
        max(col("m_views")).as("highest_views"),
        sum(col("s_likes")).as("total_likes"),
        avg2FromParts(col("d_likes"), col("n")).as("average_likes"),
        max(col("m_likes")).as("highest_likes"),
        sum(col("s_comments")).as("total_comments"),
        avg2FromParts(col("d_comments"), col("n")).as("average_comments"),
        max(col("m_comments")).as("highest_comments"),
        // the mode in the same pass: the least (-n, cat) is the most
        // frequent category, ties to the lowest id; null categories get no
        // vote (min skips the null the `when` leaves them)
        min(when(col("cat").isNotNull, struct((-col("n")).as("neg_n"), col("cat").as("cat"))))
          .as("top"))
      .select(
        col("region"), col("date"),
        col("total_views"), col("average_views"), col("highest_views"),
        col("total_likes"), col("average_likes"), col("highest_likes"),
        col("total_comments"), col("average_comments"), col("highest_comments"),
        when(col("total_views") > 0,
          (col("total_likes") + lit(2) * col("total_comments"))
            .cast("double") / col("total_views") * lit(1000))
          .otherwise(lit(0.0)).as("engagement_ratio"),
        coalesce(col("top.cat"), lit(-1L)).as("top_category_id"))
      .as[DailyInsight]
  }
}
