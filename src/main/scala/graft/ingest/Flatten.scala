package graft.ingest

import java.sql.Date
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.isoDurationSeconds
import graft.schema.{Schemas, TrendingVideo}

/** S4 + P1–P3 + F1–F3 + U1: the reference's front door — the day's nested
  * JSON lake object flattened to `Dataset[TrendingVideo]` (reference:
  * dags/trending_daily_ingestion.py:142-184).
  *
  * The reference walks `items[]` per region in a per-row Python loop
  * (:154-178). Graft re-expresses it set-oriented:
  *
  *   1. `multiLine` JSON read with the DECLARED nested schema (no inference
  *      pass — at 100 TB a schema-inference read of the lake is a second
  *      full scan);
  *   2. region-map → rows: the region-keyed object becomes an exploded
  *      array of (region, response) structs, null responses filtered —
  *      the reference's skip-if-absent (:155);
  *   3. `explode(items)` — the UDTF/generator step;
  *   4. nested-field projection + the `.get(…, 0)` coalesces + ISO duration
  *      parse ([[graft.functions.ParseIso8601Duration]]) + Z-stripped
  *      timestamp normalize — all codegen'd column expressions.
  *
  * The per-region union of the reference (`pd.concat`, :182-184) disappears:
  * region is just a column, so the day is ONE distributed dataset and the
  * region count never bounds parallelism.
  */
object Flatten {

  /** Read one day's raw lake object with the declared nested schema.
    * FAILFAST: a malformed day file aborts the run (the reference's
    * `json.loads` raises likewise, trending_daily_ingestion.py:144) — with
    * PERMISSIVE the whole day would silently flatten to zero rows and the
    * idempotence guard would then block the corrected re-run. */
  def readRawDay(spark: SparkSession, path: String, regions: Seq[String]): DataFrame =
    spark.read
      .option("multiLine", value = true)
      .option("mode", "FAILFAST")
      .schema(Schemas.rawDaySchema(regions))
      .json(path)

  /** (region, item) rows from the region-keyed day object — the shared
    * explode step of [[flatten]] and [[nestedExtras]]. */
  private def itemsPerRegion(raw: DataFrame, regions: Seq[String]): DataFrame =
    raw.select(explode(array(regions.map(r =>
        struct(lit(r).as("region"), col(s"`$r`").as("resp"))): _*)).as("rr"))
      .filter(col("rr.resp").isNotNull)                       // skip-if-absent (:155)
      .select(col("rr.region").as("region"), explode(col("rr.resp.items")).as("v"))

  /** Flatten the raw day frame into the curated video rows.
    *
    * @param runDate the run date attached as the literal `date` column
    *                (P3; an explicit parameter — the reference captures
    *                "today" at DAG-parse time, a staleness bug we fix per
    *                SURVEY §7.6 #5). */
  def flatten(raw: DataFrame, regions: Seq[String], runDate: LocalDate): Dataset[TrendingVideo] = {
    val spark = raw.sparkSession
    import spark.implicits._
    val perRegion = itemsPerRegion(raw, regions)
    perRegion.select(
        col("v.id").as("id"),
        lit(Date.valueOf(runDate)).as("date"),
        col("v.snippet.categoryId").as("category_id"),
        col("v.snippet.channelId").as("channel_id"),
        coalesce(col("v.statistics.commentCount").cast("long"), lit(0L)).as("comments_count"),
        coalesce(col("v.statistics.likeCount").cast("long"), lit(0L)).as("likes_count"),
        coalesce(col("v.statistics.viewCount").cast("long"), lit(0L)).as("views_count"),
        isoDurationSeconds(col("v.contentDetails.duration")).as("duration"),
        col("v.snippet.title").as("title"),
        to_timestamp(regexp_replace(col("v.snippet.publishedAt"), "Z$", "")).as("publish_date"),
        col("region"))
      .as[TrendingVideo]
  }

  /** F10 (complete surface): the declared-but-optional nested fields the
    * curated rows drop — `snippet.tags` (array), `snippet.thumbnails`
    * (MAP-of-struct, accessed with `element_at`), and
    * `contentDetails.regionRestriction.blocked` (array) — projected
    * straight off the raw day frame (reference shape:
    * assets/2025-10-06.json:15-53,69-74). Null-safe: items without the
    * optional fields yield null columns, not errors. */
  def nestedExtras(raw: DataFrame, regions: Seq[String]): DataFrame =
    itemsPerRegion(raw, regions).select(
      col("region"),
      col("v.id").as("id"),
      col("v.snippet.tags").as("tags"),
      element_at(col("v.snippet.thumbnails"), "high").as("thumb_high"),
      col("v.contentDetails.regionRestriction.blocked").as("blocked"))

  /** Convenience: read + flatten in one call. */
  def ingestDay(spark: SparkSession, path: String, regions: Seq[String],
                runDate: LocalDate): Dataset[TrendingVideo] =
    flatten(readRawDay(spark, path, regions), regions, runDate)
}
