package graft.ingest

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.pipeline.Runner
import graft.schema.Schemas

/** SURVEY §5 #2: end-to-end fixture test on 2025-10-06-shaped synthetic data
  * (FIXTURES.md A1) — raw nested JSON → flatten → channel enrich → insights,
  * including the reference's edge cases: missing likeCount/commentCount → 0,
  * missing tags/regionRestriction, param region absent from the file
  * (skip-if-absent), duration forms PT…/P…DT…/P…W, run-twice idempotence. */
class IngestPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val runDate = LocalDate.parse("2025-10-06")
  private val regions = Seq("QA", "US", "DE", "GB") // GB absent from the file

  private val rawJson =
    """{
      |  "QA": {"kind": "youtube#videoListResponse", "etag": "e1", "items": [
      |    {"kind": "youtube#video", "id": "v1",
      |     "snippet": {"publishedAt": "2025-10-05T10:00:00Z", "channelId": "c1",
      |                 "title": "t1", "categoryId": "10", "tags": ["a", "b"],
      |                 "thumbnails": {
      |                   "default": {"url": "http://e/d.jpg", "width": 120, "height": 90},
      |                   "high": {"url": "http://e/h.jpg", "width": 480, "height": 360}}},
      |     "contentDetails": {"duration": "PT3M59S"},
      |     "statistics": {"viewCount": "100", "likeCount": "10", "commentCount": "5"}},
      |    {"kind": "youtube#video", "id": "v2",
      |     "snippet": {"publishedAt": "2025-10-05T11:30:00Z", "channelId": "c2",
      |                 "title": "t2", "categoryId": "10"},
      |     "contentDetails": {"duration": "P1DT1S"},
      |     "statistics": {"viewCount": "50"}},
      |    {"kind": "youtube#video", "id": "v3",
      |     "snippet": {"publishedAt": "2025-10-04T08:15:00Z", "channelId": "c1",
      |                 "title": "t3", "categoryId": "24"},
      |     "contentDetails": {"duration": "PT1H2M3S", "regionRestriction": {"blocked": ["US"]}},
      |     "statistics": {"viewCount": "30", "likeCount": "3", "commentCount": "0"}}]},
      |  "US": {"kind": "youtube#videoListResponse", "etag": "e2", "items": [
      |    {"kind": "youtube#video", "id": "v4",
      |     "snippet": {"publishedAt": "2025-10-01T00:00:00Z", "channelId": "c3",
      |                 "title": "t4", "categoryId": "24"},
      |     "contentDetails": {"duration": "P2W"},
      |     "statistics": {"viewCount": "0", "likeCount": "0", "commentCount": "0"}}]},
      |  "DE": {"kind": "youtube#videoListResponse", "etag": "e3", "items": [
      |    {"kind": "youtube#video", "id": "v5",
      |     "snippet": {"publishedAt": "2025-10-03T12:00:00Z", "channelId": "c1",
      |                 "title": "t5", "categoryId": "7"},
      |     "contentDetails": {"duration": "PT45S"},
      |     "statistics": {"viewCount": "10", "likeCount": "2", "commentCount": "1"}},
      |    {"kind": "youtube#video", "id": "v6",
      |     "snippet": {"publishedAt": "2025-10-02T09:00:00Z", "channelId": "c2",
      |                 "title": "t6", "categoryId": "5"},
      |     "contentDetails": {"duration": "PT30S"},
      |     "statistics": {"viewCount": "10", "likeCount": "1"}}]}
      |}""".stripMargin

  private def channelApi: DataFrame = {
    import spark.implicits._
    val rows = Seq(
      """{"id": "c1", "snippet": {"title": "Chan One", "country": "QA", "publishedAt": "2020-01-01T00:00:00Z"},
         "status": {"madeForKids": true},
         "statistics": {"subscriberCount": "1000", "viewCount": "50000", "videoCount": "10"},
         "brandingSettings": {"keywords": "news sports"}}""",
      """{"id": "c2", "snippet": {"title": "Chan Two", "publishedAt": "2021-06-15T12:00:00Z"},
         "statistics": {"subscriberCount": "20", "viewCount": "300", "videoCount": "2"},
         "brandingSettings": {"keywords": "music"}}""",
      """{"id": "c3", "snippet": {"title": "Chan Three", "country": "US", "publishedAt": "2019-03-03T03:03:03Z"},
         "status": {"madeForKids": false},
         "statistics": {"viewCount": "7"},
         "brandingSettings": {}}""")
    spark.read.schema(Schemas.channelResponseSchema).json(rows.toDS())
  }

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** A raw day file and an empty warehouse: (JSON path, warehouse dir). */
  private def landDay(): (String, String) = {
    val path = s"${tmpDir("graft-raw")}/2025-10-06.json"
    Files.writeString(Paths.get(path), rawJson)
    (path, tmpDir("graft-wh"))
  }

  /** `body`'s result and the number of Spark jobs it launched, counted by a
    * listener on the job group `body` runs under. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    def inGroup[U](g: String)(f: => U): U = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      val out = inGroup(group)(body)
      // the listener bus delivers in order: once the marker job is seen,
      // every job `body` started has been seen too
      inGroup(marker)(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!groups.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(marker), "listener never saw the marker job")
      (out, groups.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  test("flatten: nested JSON day -> typed video rows with reference edge cases") {
    val dir = tmpDir("graft-raw")
    Files.writeString(Paths.get(s"$dir/2025-10-06.json"), rawJson)
    val videos = Flatten.ingestDay(spark, s"$dir/2025-10-06.json", regions, runDate)
    val byId = videos.collect().map(v => v.id -> v).toMap

    assert(byId.size === 6)                              // GB skipped silently
    assert(byId("v1").duration === 239L)                 // PT3M59S
    assert(byId("v2").duration === 86401L)               // P1DT1S
    assert(byId("v3").duration === 3723L)                // PT1H2M3S
    assert(byId("v4").duration === 1209600L)             // P2W
    assert(byId("v2").likes_count === 0L)                // missing likeCount -> 0
    assert(byId("v2").comments_count === 0L)             // missing commentCount -> 0
    assert(byId("v6").comments_count === 0L)
    assert(byId("v1").region === "QA" && byId("v4").region === "US")
    assert(byId("v1").category_id === "10")              // numeric-as-string preserved
    assert(byId("v1").publish_date.toInstant.toString === "2025-10-05T10:00:00Z")
    assert(videos.collect().forall(_.date.toLocalDate == runDate))
  }

  test("lake: date-keyed raw-day write -> read-back round trip (S3)") {
    val direct = {
      val dir = tmpDir("graft-lake-direct")
      Files.writeString(Paths.get(s"$dir/2025-10-06.json"), rawJson)
      Flatten.ingestDay(spark, s"$dir/2025-10-06.json", regions, runDate)
        .collect().sortBy(_.id).toSeq
    }

    // raw-text form: payload bytes written verbatim under date=YYYY-MM-DD
    val lake = tmpDir("graft-lake")
    val dayDir = Lake.writeRawDayText(spark, rawJson, lake, runDate)
    assert(dayDir === s"$lake/date=2025-10-06")
    val viaText = Flatten
      .flatten(Lake.readRawDay(spark, lake, runDate, regions), regions, runDate)
      .collect().sortBy(_.id).toSeq
    assert(viaText === direct)

    // frame form: parsed raw frame re-serialized with df.write.json
    val lake2 = tmpDir("graft-lake2")
    Lake.writeRawDay(Lake.readRawDay(spark, lake, runDate, regions), lake2, runDate)
    val viaJson = Flatten
      .flatten(Lake.readRawDay(spark, lake2, runDate, regions), regions, runDate)
      .collect().sortBy(_.id).toSeq
    assert(viaJson === direct)

    // re-write of the same day overwrites (fixed object name), no duplication
    Lake.writeRawDayText(spark, rawJson, lake, runDate)
    assert(Flatten.flatten(Lake.readRawDay(spark, lake, runDate, regions),
      regions, runDate).count() === direct.size.toLong)
  }

  test("nested extras: tags array, thumbnails map access, blocked array (F10)") {
    val dir = tmpDir("graft-raw-nested")
    Files.writeString(Paths.get(s"$dir/2025-10-06.json"), rawJson)
    val raw = Flatten.readRawDay(spark, s"$dir/2025-10-06.json", regions)
    val df = Flatten.nestedExtras(raw, regions)
    val byId = df.collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(byId.size === 6)

    // tags array: present on v1, null where the optional field is absent
    assert(byId("v1").getAs[Seq[String]]("tags") === Seq("a", "b"))
    assert(byId("v2").isNullAt(byId("v2").fieldIndex("tags")))

    // thumbnails MAP access: element_at(map, 'high') -> struct(url,w,h)
    val th = byId("v1").getAs[org.apache.spark.sql.Row]("thumb_high")
    assert(th.getAs[String]("url") === "http://e/h.jpg")
    assert(th.getAs[Int]("width") === 480 && th.getAs[Int]("height") === 360)
    assert(byId("v2").isNullAt(byId("v2").fieldIndex("thumb_high")))

    // regionRestriction.blocked array: present on v3 only
    assert(byId("v3").getAs[Seq[String]]("blocked") === Seq("US"))
    assert(byId("v1").isNullAt(byId("v1").fieldIndex("blocked")))
  }

  test("pipeline: ingest + aggregate end-to-end, idempotent on re-run") {
    val rawDir = tmpDir("graft-raw2")
    val wh = tmpDir("graft-wh")
    val path = s"$rawDir/2025-10-06.json"
    Files.writeString(Paths.get(path), rawJson)

    val n1 = Runner.runIngestDay(spark, path, wh, runDate, regions, channelApi)
    assert(n1 === 6L)

    // channels: coalesce defaults per reference trending_daily_ingestion.py:99-107
    val chans = spark.read.parquet(s"$wh/channels").collect()
      .map(r => r.getAs[String]("id") -> r).toMap
    assert(chans.size === 3)
    assert(chans("c2").getAs[String]("country") === "Unkown")   // [sic]
    assert(chans("c2").getAs[Boolean]("made_for_kids") === false)
    assert(chans("c3").getAs[Long]("subscribers_count") === 0L)
    assert(chans("c3").getAs[String]("keywords") === "")
    assert(chans("c1").getAs[Long]("subscribers_count") === 1000L)

    // re-run: run-level idempotence (reference :47-55) — nothing duplicated
    val n2 = Runner.runIngestDay(spark, path, wh, runDate, regions, channelApi)
    assert(n2 === 0L)
    assert(spark.read.parquet(s"$wh/daily_trending_videos").count() === 6L)
    assert(spark.read.parquet(s"$wh/channels").count() === 3L)

    // aggregate day
    val a1 = Runner.runAggregateDay(spark, wh, runDate)
    assert(a1 === 3L) // QA, US, DE
    val ins = spark.read.parquet(s"$wh/daily_insights").collect()
      .map(r => r.getAs[String]("region") -> r).toMap

    val qa = ins("QA")
    assert(qa.getAs[Long]("total_views") === 180L)
    assert(qa.getAs[Double]("average_views") === 60.0)
    assert(qa.getAs[Long]("highest_views") === 100L)
    assert(qa.getAs[Double]("average_likes") === 4.33)   // 13/3 half-even 2dp
    assert(qa.getAs[Double]("average_comments") === 1.67)
    assert(qa.getAs[Double]("engagement_ratio") === 23.0 / 180L * 1000) // unrounded
    assert(qa.getAs[Long]("top_category_id") === 10L)

    val us = ins("US")
    assert(us.getAs[Long]("total_views") === 0L)
    assert(us.getAs[Double]("engagement_ratio") === 0.0) // div-0 guard
    assert(us.getAs[Long]("top_category_id") === 24L)

    val de = ins("DE")
    assert(de.getAs[Long]("top_category_id") === 5L)     // tie 5 vs 7 -> lowest
    assert(de.getAs[Double]("engagement_ratio") === 250.0)

    // aggregate re-run: skipped
    assert(Runner.runAggregateDay(spark, wh, runDate) === 0L)
    assert(spark.read.parquet(s"$wh/daily_insights").count() === 3L)
  }

  test("runner probe: dayExists reads the date directory; a loaded-day rerun launches no job") {
    val (path, wh) = landDay()
    val videosDir = s"$wh/daily_trending_videos"
    assert(!Runner.dayExists(spark, videosDir, runDate))               // no table yet

    // what a crashed write leaves behind: only `_`/`.`-prefixed entries
    val dayDir = Paths.get(videosDir, s"date=$runDate")
    Files.createDirectories(dayDir.resolve("_temporary/0"))
    Files.writeString(dayDir.resolve(".part-00000.parquet.crc"), "")
    assert(!Runner.dayExists(spark, videosDir, runDate))

    assert(Runner.runIngestDay(spark, path, wh, runDate, regions, channelApi) === 6L)
    assert(Runner.dayExists(spark, videosDir, runDate))
    assert(!Runner.dayExists(spark, videosDir, runDate.plusDays(1)))   // only another date
    assert(Runner.runAggregateDay(spark, wh, runDate) === 3L)

    val api = channelApi
    val (written, jobs) = jobsDuring {
      Runner.runIngestDay(spark, path, wh, runDate, regions, api) +
        Runner.runAggregateDay(spark, wh, runDate)
    }
    assert(written === 0L)
    assert(jobs === 0)
  }

  test("runAggregateDay leaves the caller's cached frames cached") {
    val (path, wh) = landDay()
    assert(Runner.runIngestDay(spark, path, wh, runDate, regions, channelApi) === 6L)
    val mine = spark.range(5).toDF("x").cache()
    assert(mine.count() === 5L)
    try {
      assert(Runner.runAggregateDay(spark, wh, runDate) === 3L)
      assert(mine.storageLevel !== StorageLevel.NONE)
    } finally mine.unpersist()
  }

  test("a day with no rows for the run's regions writes nothing and returns 0") {
    val (path, wh) = landDay()               // GB is absent from the file
    assert(Runner.runIngestDay(spark, path, wh, runDate, Seq("GB"), channelApi) === 0L)
    assert(Runner.runAggregateDay(spark, wh, runDate) === 0L)
  }
}
