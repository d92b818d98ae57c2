package perfbench

import java.math.RoundingMode
import java.time.LocalDate
import java.util.SplittableRandom
import graft.schema.{DailyInsight, ReportRow}

/** One generated trending video, as the expected-output side sees it. */
final case class Item(region: String, channel: String, category: String,
                      views: Long, likes: Option[Long], comments: Option[Long])

/** One generated lake day: the raw region-keyed JSON object, the channel-API
  * rows (JSON lines) for every channel trending that day, and the items. */
final case class LakeDay(date: LocalDate, json: String, channelApi: String,
                         items: Seq[Item], newChannels: Int, dayChannels: Int)

/** Seeded generator of the reference's lake shape (a day = one JSON object
  * keyed by region code, each a `videoListResponse` with `items`), including
  * its edge cases: missing likeCount/commentCount, missing tags and
  * regionRestriction, the PT…/P…DT… duration forms and a few non-numeric
  * category ids. Categories are skewed with the two most common ones equally
  * likely, so per-region modes tie often. A share `newChannelFrac` of each
  * day's videos comes from channels never seen before.
  *
  * Days must be drawn in order (`next()`); the same seed gives the same days. */
final class LakeGen(seed: Long, val regions: Seq[String], videosPerRegion: Int,
                    newChannelFrac: Double, start: LocalDate) {
  private val rnd = new SplittableRandom(seed)
  private var nChannels = 0
  private var dayIndex = 0

  private def pickCategory(): String = {
    if (rnd.nextDouble() < 0.01) return "n/a"
    var u = rnd.nextDouble() * LakeGen.CategoryWeightSum
    var i = 0
    while (u >= LakeGen.CategoryWeights(i)) { u -= LakeGen.CategoryWeights(i); i += 1 }
    LakeGen.Categories(i).toString
  }

  private def videoId(): String =
    (1 to 11).map(_ => LakeGen.IdChars.charAt(rnd.nextInt(LakeGen.IdChars.length))).mkString

  private def duration(): String = rnd.nextInt(4) match {
    case 0 => s"PT${rnd.nextInt(1, 60)}S"
    case 1 => s"PT${rnd.nextInt(1, 60)}M${rnd.nextInt(60)}S"
    case 2 => s"PT${rnd.nextInt(1, 4)}H${rnd.nextInt(60)}M${rnd.nextInt(60)}S"
    case _ => s"P${rnd.nextInt(1, 3)}DT${rnd.nextInt(1, 60)}S"
  }

  private def channelId(n: Int): String = f"UC$n%010d"

  /** The channel-API response for channel `n`: attributes depend only on
    * (seed, n), with optional fields sometimes absent. */
  private def channelJson(n: Int): String = {
    val r = new SplittableRandom(seed * 31 + n)
    val country = if (r.nextInt(10) == 0) "" else s""", "country": "${regions(r.nextInt(regions.size))}""""
    val kids = if (r.nextInt(4) == 0) "" else s""""status": {"madeForKids": ${r.nextBoolean()}}, """
    val subs = if (r.nextInt(8) == 0) "" else s""""subscriberCount": "${r.nextLong(1L, 50000000L)}", """
    val kw = if (r.nextInt(5) == 0) "{}" else s"""{"keywords": "kw${r.nextInt(100)} kw${r.nextInt(100)}"}"""
    s"""{"id": "${channelId(n)}", "snippet": {"title": "Channel $n"$country, """ +
      s""""publishedAt": "20${10 + r.nextInt(15)}-0${1 + r.nextInt(9)}-1${r.nextInt(10)}T0${r.nextInt(10)}:00:00Z"}, """ +
      kids + s""""statistics": {$subs"viewCount": "${r.nextLong(1L, 9000000000L)}", """ +
      s""""videoCount": "${r.nextInt(1, 5000)}"}, "brandingSettings": $kw}"""
  }

  def next(): LakeDay = {
    val date = start.plusDays(dayIndex.toLong)
    dayIndex += 1
    val items = Vector.newBuilder[Item]
    val seen = scala.collection.mutable.LinkedHashSet.empty[Int]
    var fresh = 0
    val sb = new StringBuilder(regions.size * videosPerRegion * 480)
    sb += '{'
    regions.zipWithIndex.foreach { case (region, ri) =>
      if (ri > 0) sb += ','
      sb ++= s"""\n"$region": {"kind": "youtube#videoListResponse", "etag": "e$ri", "nextPageToken": "CAUQAA", """
      sb ++= s""""pageInfo": {"totalResults": $videosPerRegion, "resultsPerPage": 50}, "items": ["""
      (0 until videosPerRegion).foreach { vi =>
        val ch =
          if (nChannels == 0 || rnd.nextDouble() < newChannelFrac) { nChannels += 1; fresh += 1; nChannels - 1 }
          else rnd.nextInt(nChannels)
        seen += ch
        val cat = pickCategory()
        val views = math.exp(11.0 + 1.5 * rnd.nextGaussian()).toLong
        val likes = if (rnd.nextInt(20) == 0) None else Some((views * (0.005 + 0.05 * rnd.nextDouble())).toLong)
        val comments = if (rnd.nextInt(14) == 0) None
          else Some((likes.getOrElse(views / 100) * (0.01 + 0.1 * rnd.nextDouble())).toLong)
        items += Item(region, channelId(ch), cat, views, likes, comments)
        val pub = date.minusDays(rnd.nextInt(6).toLong)
        val tags = if (rnd.nextInt(10) < 3) ""
          else (1 to rnd.nextInt(1, 5)).map(i => s""""tag${rnd.nextInt(50)}"""").mkString(""", "tags": [""", ", ", "]")
        val restr = if (rnd.nextInt(10) == 0) s""", "regionRestriction": {"blocked": ["${regions(rnd.nextInt(regions.size))}"]}""" else ""
        if (vi > 0) sb += ','
        sb ++= s"""\n {"kind": "youtube#video", "etag": "x$vi", "id": "${videoId()}", "snippet": {"""
        sb ++= f""""publishedAt": "${pub}T${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02dZ", """
        sb ++= s""""channelId": "${channelId(ch)}", "title": "Trending $region $vi", "description": "About video $vi", """
        sb ++= s""""thumbnails": {"default": {"url": "https://i.example/$vi/d.jpg", "width": 120, "height": 90}}, """
        sb ++= s""""channelTitle": "Channel $ch"$tags, "categoryId": "$cat", "liveBroadcastContent": "none"}, """
        sb ++= s""""contentDetails": {"duration": "${duration()}", "dimension": "2d", "definition": "hd", """
        sb ++= s""""caption": "false", "licensedContent": true$restr}, "statistics": {"viewCount": "$views""""
        likes.foreach(l => sb ++= s""", "likeCount": "$l"""")
        sb ++= """, "favoriteCount": "0""""
        comments.foreach(c => sb ++= s""", "commentCount": "$c"""")
        sb ++= "}}"
      }
      sb ++= "]}"
    }
    sb ++= "\n}\n"
    LakeDay(date, sb.result(), seen.iterator.map(channelJson).mkString("", "\n", "\n"),
      items.result(), fresh, seen.size)
  }
}

object LakeGen {
  val RegionCodes: Seq[String] = Seq("US", "GB", "DE", "FR", "QA", "JP", "IN", "BR", "CA", "MX",
    "KR", "IT", "ES", "AU", "NL", "SE", "PL", "TR", "EG", "SA")
  private val Categories = Array(10, 24, 20, 22, 17, 1, 28, 25, 26, 2, 15, 19, 23, 27, 29)
  private val CategoryWeights = Array(20.0, 20.0, 12.0, 10.0, 8.0, 6.0, 5.0, 4.0, 3.0, 3.0, 3.0, 2.0, 2.0, 1.0, 1.0)
  private val CategoryWeightSum = CategoryWeights.sum
  private val IdChars = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_"

  /** Spark's decimal mean: exact sum / n rounded to scale 6 half-up (the
    * decimal(38,6) quotient), then 2 dp half-even (`bround`). */
  private def mean2(sum: java.math.BigDecimal, n: Long): Double =
    sum.divide(java.math.BigDecimal.valueOf(n), 6, RoundingMode.HALF_UP)
      .setScale(2, RoundingMode.HALF_EVEN).doubleValue

  /** The expected `daily_insights` rows of one day, computed in plain Scala:
    * 2-dp half-even means, unrounded engagement ratio (0 when there are no
    * views), and the modal numeric category with ties to the lowest id
    * (-1 when no video has a numeric category). */
  def expectedInsights(date: LocalDate, items: Seq[Item]): Seq[DailyInsight] =
    items.groupBy(_.region).toSeq.sortBy(_._1).map { case (region, xs) =>
      val n = xs.size.toLong
      val views = xs.map(_.views); val likes = xs.map(_.likes.getOrElse(0L))
      val comments = xs.map(_.comments.getOrElse(0L))
      val tv = views.sum; val tl = likes.sum; val tc = comments.sum
      val cats = xs.flatMap(x => x.category.toLongOption)
      val top = if (cats.isEmpty) -1L
        else cats.groupBy(identity).toSeq.map { case (c, cs) => (c, cs.size) }
          .sortBy { case (c, k) => (-k, c) }.head._1
      DailyInsight(region, java.sql.Date.valueOf(date),
        tv, mean2(java.math.BigDecimal.valueOf(tv), n), views.max,
        tl, mean2(java.math.BigDecimal.valueOf(tl), n), likes.max,
        tc, mean2(java.math.BigDecimal.valueOf(tc), n), comments.max,
        if (tv > 0) (tl + 2 * tc).toDouble / tv * 1000 else 0.0,
        top)
    }

  /** The expected weekly report for the 7 days ending `end`: per region the
    * modal daily winner (ties to the lowest id), then the winner's days'
    * view and like totals ("{:,}" formatted) and their mean engagement
    * ratio (each ratio to 6 dp half-up, mean to 2 dp half-even). */
  def expectedReport(insights: Seq[DailyInsight], end: LocalDate): Seq[ReportRow] = {
    val from = java.sql.Date.valueOf(end.minusDays(6)); val to = java.sql.Date.valueOf(end)
    insights.filter(i => !i.date.before(from) && !i.date.after(to))
      .groupBy(_.region).toSeq.sortBy(_._1).map { case (region, days) =>
        val win = days.groupBy(_.top_category_id).toSeq
          .sortBy { case (c, ds) => (-ds.size, c) }.head._1
        val ws = days.filter(_.top_category_id == win)
        val er = ws.map(d => new java.math.BigDecimal(BigDecimal(d.engagement_ratio).toString)
          .setScale(6, RoundingMode.HALF_UP)).reduce(_ add _)
        ReportRow(region, win,
          String.format(java.util.Locale.US, "%,d", Long.box(ws.map(_.total_views).sum)),
          String.format(java.util.Locale.US, "%,d", Long.box(ws.map(_.total_likes).sum)),
          mean2(er, ws.size.toLong))
      }
  }
}
