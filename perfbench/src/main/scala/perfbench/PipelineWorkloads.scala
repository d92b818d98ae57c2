package perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.agg.{DailyInsights, WeeklyReport}
import graft.ingest.{Channels, Flatten}
import graft.pipeline.Runner
import graft.schema.{DailyInsight, Schemas, TrendingVideo}
import Bench.{clock, median}

/** One lake day written to disk, with what the pipeline should make of it. */
final case class DayFile(date: LocalDate, json: String, api: String, jsonBytes: Long,
                         rows: Long, dayChannels: Int)

/** The scheduled pipeline over one warehouse: lake JSON → `Runner`'s daily
  * ingest (flatten, channel anti-join, partitioned append) → daily insights
  * → weekly report, with the expected rows kept beside it. */
final class Pipeline(b: Bench, root: String, gen: LakeGen) {
  import b.spark
  import spark.implicits._
  private val lakeDir = s"$root/lake"
  val wh = s"$root/warehouse"
  val days = mutable.ArrayBuffer.empty[DayFile]
  val expected = mutable.ArrayBuffer.empty[DailyInsight]
  private var channels = 0L
  Files.createDirectories(Paths.get(lakeDir))

  /** Generate the next day into the lake (not part of any timed step). */
  def land(): DayFile = {
    val d = gen.next()
    val json = s"$lakeDir/${d.date}.json"
    val api = s"$lakeDir/${d.date}.channels.jsonl"
    Files.write(Paths.get(json), d.json.getBytes("UTF-8"))
    Files.write(Paths.get(api), d.channelApi.getBytes("UTF-8"))
    expected ++= LakeGen.expectedInsights(d.date, d.items)
    channels += d.newChannels
    val f = DayFile(d.date, json, api, d.json.length.toLong, d.items.size.toLong, d.dayChannels)
    days += f
    f
  }

  private def channelApi(f: DayFile) =
    spark.read.schema(Schemas.channelResponseSchema).json(f.api)

  def ingest(f: DayFile): Long =
    Runner.runIngestDay(spark, f.json, wh, f.date, gen.regions, channelApi(f))

  def aggregate(f: DayFile): Long = Runner.runAggregateDay(spark, wh, f.date)

  def insights = spark.read.parquet(s"$wh/daily_insights").as[DailyInsight]

  def report(end: LocalDate) = WeeklyReport.computeRows(insights, end)

  /** The channel dimension's ids as they stand (empty before the first day). */
  def knownIds(): Seq[String] =
    if (Files.exists(Paths.get(s"$wh/channels")))
      spark.read.parquet(s"$wh/channels").select(col("id")).as[String].collect().toSeq
    else Nil

  /** Layer probes of a traced day, run after the day's step so they cannot
    * warm it: the JSON scan + flatten alone, and the channel anti-join
    * against the dimension as it stood before the day (`known`). Returns the
    * new-channel count. */
  def probeIngestLayers(f: DayFile, known: Seq[String]): Long = {
    Trace.span("Flatten.ingestDay") {
      Flatten.ingestDay(spark, f.json, gen.regions, f.date).write.format("noop").mode("overwrite").save()
    }
    val videos = Flatten.ingestDay(spark, f.json, gen.regions, f.date).persist()
    videos.count()
    val n = Trace.span("Channels.newChannelIds") { Channels.newChannelIds(videos, known.toDF("id")).count() }
    videos.unpersist()
    n
  }

  /** Layer probes of a traced day, run after the day is written: the
    * existence probe the rerun path takes, and the insight aggregate alone. */
  def probeAggLayers(f: DayFile): Unit = {
    Trace.span("Runner.dayExists") { Runner.dayExists(spark, s"$wh/daily_trending_videos", f.date) }
    Trace.span("DailyInsights.compute") {
      val day = spark.read.parquet(s"$wh/daily_trending_videos")
        .filter(col("date") === lit(java.sql.Date.valueOf(f.date)))
        .select("id", "date", "category_id", "channel_id", "comments_count", "likes_count",
          "views_count", "duration", "title", "publish_date", "region").as[TrendingVideo]
      DailyInsights.compute(day).write.format("noop").mode("overwrite").save()
    }
    spark.catalog.clearCache()
  }

  /** Compare the warehouse with the expected rows (outside timed windows). */
  def verify(label: String): Unit = {
    b.check(s"$label: daily_insights rows") ({
      insights.collect().toSet == expected.toSet
    }, s"(${expected.size} expected)")
    b.check(s"$label: video rows per day") ({
      val got = spark.read.parquet(s"$wh/daily_trending_videos").groupBy("date").count()
        .as[(java.sql.Date, Long)].collect().map { case (d, n) => d.toLocalDate -> n }.toMap
      got == days.map(d => d.date -> d.rows).toMap
    })
    b.check(s"$label: channel dimension") ({
      val ch = spark.read.parquet(s"$wh/channels")
      val n = ch.count()
      n == channels && ch.select("id").distinct().count() == n
    }, s"($channels channels expected)")
  }

  def tableCounts(): Seq[Long] =
    Seq("daily_trending_videos", "daily_insights", "channels").map(t => spark.read.parquet(s"$wh/$t").count())
}

/** `daily_cadence`: the cron pipeline day after day, then its streaming form. */
object PipelineWorkloads {

  private final class DayStats {
    val day = mutable.ArrayBuffer.empty[Double]
    val rerun = mutable.ArrayBuffer.empty[Double]
    val report = mutable.ArrayBuffer.empty[Double]
    /** whether each day (in `day` order) was traced */
    val tracedDay = mutable.ArrayBuffer.empty[Boolean]
    val files = mutable.ArrayBuffer.empty[Double]
    val bytes = mutable.ArrayBuffer.empty[Double]
    val newRatio = mutable.ArrayBuffer.empty[Double]
    var jsonBytes = 0L
  }

  /** Ingest + aggregate one day as one timed step; on a traced day the
    * spans are on and the layer probes run after it (outside its time). */
  private def runDay(b: Bench, p: Pipeline, f: DayFile, traced: Boolean, st: DayStats): Unit = {
    val known = if (traced) p.knownIds() else Nil
    val before = if (traced) Bench.treeSize(p.wh) else (0L, 0L)
    Trace.active = traced
    val (_, t) = clock {
      b.op(s"day ${f.date}") {
        val n = Trace.span("Runner.runIngestDay")(p.ingest(f))
        val m = Trace.span("Runner.runAggregateDay")(p.aggregate(f))
        if (n != f.rows || m != p.expected.count(_.date.toLocalDate == f.date))
          throw new IllegalStateException(s"day ${f.date} wrote $n videos / $m insights")
      }
    }
    st.day += t
    st.tracedDay += traced
    st.jsonBytes += f.jsonBytes
    if (traced) {
      val after = Bench.treeSize(p.wh)
      st.bytes += (after._1 - before._1).toDouble
      st.files += (after._2 - before._2).toDouble
      st.newRatio += p.probeIngestLayers(f, known).toDouble / math.max(f.dayChannels, 1)
      p.probeAggLayers(f)
    }
    Trace.active = false
  }

  private def rerunDay(b: Bench, p: Pipeline, f: DayFile, st: DayStats): Unit = {
    val (_, t) = clock {
      b.op(s"rerun ${f.date}") {
        val n = p.ingest(f) + p.aggregate(f)
        if (n != 0) throw new IllegalStateException(s"rerun of ${f.date} wrote $n rows")
      }
    }
    st.rerun += t
  }

  private def runReport(b: Bench, p: Pipeline, end: LocalDate, traced: Boolean, st: DayStats): Unit = {
    Trace.active = traced
    val (rows, t) = clock {
      b.op(s"weekly report $end")(Trace.span("WeeklyReport.computeRows")(p.report(end)))
    }
    Trace.active = false
    st.report += t
    rows.foreach { got =>
      val want = LakeGen.expectedReport(p.expected.toSeq, end)
      b.check(s"weekly report $end rows")(got == want, s"got $got want $want")
    }
  }

  /** Days per measured cycle: ingest → aggregate each day, one weekly
    * report over the trailing 7 days, then a rerun of the cycle's days. Four
    * (not seven) keeps one cycle inside a run's time budget. */
  val CycleDays = 4

  /** `daily_cadence`: reference-shaped days (10 regions × 50 videos, 10%
    * new channels) in cycles of [[CycleDays]] days, each followed by the
    * weekly report and a rerun of its days (which must write nothing), then
    * the same cadence in its streaming form ([[StreamWorkload]]): landed
    * event files through ingest and the daily window, then the near-dup
    * gate. */
  def dailyCadence(b: Bench): Unit = {
    val regions = LakeGen.RegionCodes.take(10)
    val start = LocalDate.of(2025, 1, 6) // a Monday
    def gen(seed: Long) = new LakeGen(seed, regions, 50, 0.10, start)
    val staged = StreamWorkload.staged(b)

    val (_, warm) = clock {
      val w = new Pipeline(b, b.dir("warm"), gen(b.cfg.seed + 7919))
      val st = new DayStats
      val fs = Seq(w.land(), w.land())
      fs.foreach(f => runDay(b, w, f, traced = false, st))
      runReport(b, w, fs.last.date, traced = false, st)
      fs.foreach(f => rerunDay(b, w, f, st))
      b.teardown()
      StreamWorkload.warm(b, staged)
    }
    b.result.setup("warm_s") = warm
    b.result.attempted = 0; b.result.failed = 0; b.result.failures.clear()

    val p = new Pipeline(b, b.dir("cadence"), gen(b.cfg.seed))
    val st = new DayStats
    val passes = mutable.ArrayBuffer.empty[StreamWorkload.Pass]
    val t0 = System.nanoTime()
    var last = 0.0
    var cycles = 0
    while (cycles == 0 || (System.nanoTime() - t0) / 1e9 + last <= b.cfg.seconds) {
      val c0 = System.nanoTime()
      val fs = (1 to CycleDays).map(_ => p.land())
      fs.zipWithIndex.foreach { case (f, i) => runDay(b, p, f, b.cfg.trace && i % 2 == 1, st) }
      runReport(b, p, fs.last.date, b.cfg.trace, st)
      val counts = b.op("table counts")(p.tableCounts())
      fs.foreach(f => rerunDay(b, p, f, st))
      counts.foreach(c => b.check(s"rerun leaves counts unchanged (cycle ${cycles + 1})")(p.tableCounts() == c))
      passes += StreamWorkload.measure(b, staged, cycles)
      last = (System.nanoTime() - c0) / 1e9
      cycles += 1
    }
    b.result.phases("measure_s") = (System.nanoTime() - t0) / 1e9
    b.result.phases("verify_s") = clock(p.verify("cadence"))._2

    val r = b.result
    val files = passes.flatMap(_.window)
    val ops = st.day ++ st.report ++ st.rerun ++ files
    val gateS = passes.map(_.gateS).sum
    r.e2e("step_geomean_s") = (Bench.geomean((st.day ++ files).toSeq), "s")
    r.e2e("steps_per_s") = ((ops.size + passes.map(_.gateBatches).sum) / (ops.sum + gateS), "1/s")
    Bench.timing(r, "day", st.day.toSeq)
    Bench.timing(r, "rerun_day", st.rerun.toSeq)
    Bench.timing(r, "report", st.report.toSeq)
    StreamWorkload.report(b, passes.toSeq)
    r.report("cycles") = (cycles.toDouble, "count")
    if (b.cfg.trace) {
      val dayRatio = pipelineLayers(b, st)
      val fileRatio = StreamWorkload.layers(b, passes.head)
      r.layer("trace_overhead_frac") = (Bench.geomean(Seq(dayRatio, fileRatio)) - 1, "frac")
    }
  }

  /** Per-layer figures of the traced days (medians per day); returns
    * traced / untraced day time. */
  private def pipelineLayers(b: Bench, st: DayStats): Double = {
    val L = b.result.layer
    def secs(name: String) = Trace.named(name).map(_.seconds)
    val flat = Trace.named("Flatten.ingestDay")
    val jsonMb = st.jsonBytes.toDouble / st.day.size / 1e6
    L("ingest.flatten_s") = (median(flat.map(_.seconds)), "s")
    L("ingest.json_mb_per_s") = (if (flat.isEmpty) 0.0 else jsonMb / median(flat.map(_.seconds)), "MB/s")
    L("ingest.scan_tasks_per_day") = (median(flat.map(_("tasks"))), "count")
    L("ingest.scan_task_skew") = (median(flat.map(_.taskSkew)), "ratio")
    L("ingest.channel_antijoin_s") = (median(secs("Channels.newChannelIds")), "s")
    L("ingest.new_channel_ratio") = (median(st.newRatio.toSeq), "ratio")
    val ing = Trace.named("Runner.runIngestDay"); val agg = Trace.named("Runner.runAggregateDay")
    val both = ing.zip(agg)
    L("runner.ingest_day_s") = (median(ing.map(_.seconds)), "s")
    L("runner.aggregate_day_s") = (median(agg.map(_.seconds)), "s")
    L("runner.jobs_per_day") = (median(both.map { case (x, y) => x("jobs") + y("jobs") }), "count")
    L("runner.stages_per_day") = (median(both.map { case (x, y) => x("stages") + y("stages") }), "count")
    def verifyRead(s: Span) = s.counters.asScala.collect {
      case (k, v) if k.startsWith("job_s@count at Runner.scala") => v
    }.sum
    L("runner.verify_read_s") = (median(both.map { case (x, y) => verifyRead(x) + verifyRead(y) }), "s")
    L("runner.probe_s") = (median(secs("Runner.dayExists")), "s")
    L("runner.files_per_day") = (median(st.files.toSeq), "count")
    L("runner.bytes_written_per_day") = (median(st.bytes.toSeq), "bytes")
    L("agg.daily_insights_s") = (median(secs("DailyInsights.compute")), "s")
    val rep = Trace.named("WeeklyReport.computeRows")
    L("agg.weekly_report_s") = (median(rep.map(_.seconds)), "s")
    L("agg.shuffle_bytes") = (median(rep.map(_("shuffle_write_bytes"))), "bytes")
    Bench.overheadRatio(st.day.toSeq, st.tracedDay.toSeq)
  }
}
