package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import graft.agg.WeeklyReport
import graft.pipeline.Runner
import graft.schema.{DailyInsight, Schemas}

/** Usage example / smoke driver for the schema-faithful pipeline path:
  * a synthetic 2025-10-06-shaped day (FIXTURES.md A1) through ingest →
  * channel enrich → daily insights → weekly report HTML. Run with
  * `sbt "runMain graft.Demo"`. Writes only under java.io.tmpdir. */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    import spark.implicits._

    val day1 = """{"QA":{"kind":"youtube#videoListResponse","items":[
 {"id":"v1","snippet":{"publishedAt":"2025-10-05T10:00:00Z","channelId":"c1","title":"Big hit","categoryId":"10"},"contentDetails":{"duration":"PT3M59S"},"statistics":{"viewCount":"7909854","likeCount":"120000","commentCount":"9000"}},
 {"id":"v2","snippet":{"publishedAt":"2025-10-05T11:30:00Z","channelId":"c2","title":"No likes shown","categoryId":"10"},"contentDetails":{"duration":"P1DT1S"},"statistics":{"viewCount":"50000"}}]},
"US":{"kind":"youtube#videoListResponse","items":[
 {"id":"v3","snippet":{"publishedAt":"2025-10-01T00:00:00Z","channelId":"c3","title":"US vid","categoryId":"24"},"contentDetails":{"duration":"P2W"},"statistics":{"viewCount":"1000","likeCount":"10","commentCount":"1"}}]}}"""

    val chanApi = spark.read.schema(Schemas.channelResponseSchema).json(Seq(
      """{"id":"c1","snippet":{"title":"Chan One","country":"QA","publishedAt":"2020-01-01T00:00:00Z"},"status":{"madeForKids":false},"statistics":{"subscriberCount":"1000","viewCount":"50000","videoCount":"10"},"brandingSettings":{"keywords":"news"}}""",
      """{"id":"c2","snippet":{"title":"Chan Two","publishedAt":"2021-06-15T12:00:00Z"},"statistics":{"subscriberCount":"20","viewCount":"300","videoCount":"2"},"brandingSettings":{}}""",
      """{"id":"c3","snippet":{"title":"Chan Three","country":"US","publishedAt":"2019-03-03T03:03:03Z"},"statistics":{},"brandingSettings":{}}""",
      """{"id":"c4","snippet":{"title":"Chan Four (day2)","publishedAt":"2022-02-02T02:02:02Z"},"statistics":{"subscriberCount":"5"},"brandingSettings":{}}""").toDS())

    val root = Files.createTempDirectory("graft-demo").toString
    val wh = s"$root/warehouse"
    val regions = Seq("QA", "US", "GB") // GB absent from the file: skip-if-absent

    // S3: raw payload lands in the date-keyed lake first (replayable source
    // of truth), then ingest reads from the lake path
    val d1dir = graft.ingest.Lake.writeRawDayText(spark, day1, s"$root/lake",
      LocalDate.parse("2025-10-06"))
    println("== day 1 ingest: " + Runner.runIngestDay(spark, d1dir, wh,
      LocalDate.parse("2025-10-06"), regions, chanApi) + " rows")
    spark.read.parquet(s"$wh/daily_trending_videos").orderBy("id").show(false)
    spark.read.parquet(s"$wh/channels").orderBy("id").show(false)
    println("== re-run same day: " + Runner.runIngestDay(spark, d1dir, wh,
      LocalDate.parse("2025-10-06"), regions, chanApi) + " (0 = skipped)")
    println("== aggregate: " + Runner.runAggregateDay(spark, wh,
      LocalDate.parse("2025-10-06")) + " insight rows")
    spark.read.parquet(s"$wh/daily_insights").orderBy("region").show(false)

    // day 2 introduces ONE new channel c4; c1..c3 must not duplicate
    val day2 = day1.replace("\"channelId\":\"c3\"", "\"channelId\":\"c4\"")
      .replace("v1", "w1").replace("v2", "w2").replace("v3", "w3")
    val d2dir = graft.ingest.Lake.writeRawDayText(spark, day2, s"$root/lake",
      LocalDate.parse("2025-10-07"))
    println("== day 2 ingest: " + Runner.runIngestDay(spark, d2dir, wh,
      LocalDate.parse("2025-10-07"), regions, chanApi) + " rows")
    println("channels now: " + spark.read.parquet(s"$wh/channels").count() + " (expect 4)")

    val ins = spark.read.parquet(s"$wh/daily_insights").as[DailyInsight]
    val rows = WeeklyReport.computeRows(ins, LocalDate.parse("2025-10-07"))
    println(WeeklyReport.subject(LocalDate.parse("2025-10-07")))
    println(WeeklyReport.renderHtml(rows))

    // streaming slice: checkpointed AvailableNow ingest — run twice, the
    // second pass is a no-op (checkpoint = the reference's skip-if-present)
    val sin = Files.createDirectories(Paths.get(s"$root/stream-in")).toString
    val sout = s"$root/stream-out"
    val sckpt = s"$root/stream-ckpt"
    val evDf = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-02-01 10:00:00"), "click", 1.5),
      (2L, java.sql.Timestamp.valueOf("2024-02-01 11:00:00"), "view", 2.5),
      (3L, java.sql.Timestamp.valueOf("2024-02-02 09:00:00"), "click", 3.0))
      .toDF("event_id", "ts", "event_type", "value")
    evDf.coalesce(1).write.mode("append").parquet(sin)
    graft.streaming.Streaming.ingestAvailableNow(spark, sin, sout, sckpt, evDf.schema)
      .awaitTermination()
    println("== stream ingest pass 1: " + spark.read.parquet(sout).count() + " rows")
    graft.streaming.Streaming.ingestAvailableNow(spark, sin, sout, sckpt, evDf.schema)
      .awaitTermination()
    println("== stream ingest pass 2 (no new files): " + spark.read.parquet(sout).count() + " rows")

    // watermarked 1-day tumbling aggregate over the ingested stream
    val aggCkpt = s"$root/stream-agg-ckpt"
    val q = graft.streaming.Streaming
      .dailyAgg(spark.readStream.schema(evDf.schema).parquet(sout))
      .writeStream.format("memory").queryName("demo_daily_agg")
      .outputMode("complete").option("checkpointLocation", aggCkpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    println("== streaming daily aggregate:")
    spark.table("demo_daily_agg").orderBy("date", "event_type").show(false)

    // multimodal decode plumbing: binary payloads -> per-partition codec
    val media = graft.multimodal.MediaDecode.mediaFromDocuments(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(5))
    println("== media features (stub codec):")
    graft.multimodal.MediaDecode.extractFeatures(media).orderBy("doc_id").show(5, false)

    // LLM-data-curation slice: the end-to-end funnel's attrition report,
    // lexical search, and ANN rank fusion over the fixture tables
    val sf = "/root/testdata/sf0.001"
    println("== curation funnel attrition (originals + re-fetches + revisions):")
    graft.queries.ExtQueries.curationFunnel(spark, sf)
      .groupBy("stage").count().orderBy("stage").show(false)
    println("== BM25 lexical search, query 0 top-5:")
    graft.queries.ExtQueries.bm25Topk(spark, sf)
      .filter($"qid" === 0 && $"rank" <= 5).show(false)
    println("== ANN rank fusion (LSH+IVF+PQ+maxsim consensus), query 0 top-5:")
    graft.queries.ExtQueries.rankFusion(spark, sf)
      .filter($"qid" === 0 && $"rank" <= 5).show(false)
    println("== PageRank centrality over the knn similarity graph, top-5:")
    graft.queries.ExtQueries.pageRank(spark, sf)
      .orderBy($"mass".desc, $"vec_id").show(5, false)
    println("== LM-likelihood importance sampling + per-domain cap:")
    val imp = graft.queries.ExtQueries.importanceSample(spark, sf)
    println(s"   importance sampler kept ${imp.count()} documents")
    graft.queries.ExtQueries.domainCap(spark, sf)
      .groupBy("source").count().orderBy("source").show(false)
    println("== incoming batch vs corpus near-dedup (cross LSH join), 5 pairs:")
    graft.queries.ExtQueries.crossDedup(spark, sf).show(5, false)
    println("== soft dedup: near-dup clusters reweighted to unit mass:")
    graft.queries.ExtQueries.softDedup(spark, sf)
      .groupBy("n_dups").count().orderBy("n_dups").show(false)
    println("== BPE trainer: the 10 learned merge rules (note compound merges):")
    graft.queries.ExtQueries.bpeTrain(spark, sf).show(false)
    println("== tokenizer parity: per-language fertility under the trained BPE:")
    graft.queries.ExtQueries.tokFertility(spark, sf).show(false)
    println("== NB language classifier: held-out confusion matrix:")
    graft.queries.ExtQueries.nbEval(spark, sf).show(false)
    println("== snake shard packing: per-shard token loads (balanced by length):")
    graft.queries.ExtQueries.shardPack(spark, sf)
      .groupBy("shard").sum("n_tokens").orderBy("shard").show(false)
    println("== phrase search over the shingle index:")
    graft.queries.ExtQueries.phraseSearch(spark, sf)
      .groupBy("phrase").count().orderBy("phrase").show(false)
    println("== dataset datasheet (the release card, all numbers graded):")
    graft.queries.ExtQueries.datasheet(spark, sf).show(20, false)
    println("== event-warehouse analytics: ordered funnel + cohort retention day-1:")
    graft.queries.ExtQueries.funnel(spark, sf).show(false)
    graft.queries.ExtQueries.retention(spark, sf)
      .filter($"day_offset" === 1).orderBy("cohort").show(5, false)
    println("== A/B readout (hash-parity arms, two-proportion z):")
    graft.queries.ExtQueries.abTest(spark, sf).show(false)
    println("== daily volume anomalies (integer-exact 2-sigma flags):")
    graft.queries.ExtQueries.anomalyDays(spark, sf)
      .filter($"is_anomaly").show(10, false)
    println("== weighted priority sample (HT estimate sums ~ corpus total):")
    graft.queries.ExtQueries.prioritySample(spark, sf)
      .agg(org.apache.spark.sql.functions.count($"doc_id").as("k"),
        org.apache.spark.sql.functions.sum($"est_w").as("ht_total_estimate"),
        org.apache.spark.sql.functions.sum($"w").as("sampled_raw_weight"))
      .show(false)
    println("== exact heavy hitters via the Misra-Gries candidate pass:")
    graft.queries.ExtQueries.heavyHitters(spark, sf).show(5, false)
    println("== margin-mined bitext pairs (accepted = margin >= 1.05):")
    graft.queries.ExtQueries.bitextMine(spark, sf)
      .groupBy("accepted").count().show(false)
    println("== edit-distance join (Ed-Join prefix filtering, tau=8):")
    graft.queries.ExtQueries.editJoin(spark, sf).show(false)
    println("== PCA top-eigenpair (exact Gram + 12 power steps; head dims):")
    graft.queries.ExtQueries.pcaPower(spark, sf).show(5, false)
    println("== per-source length-distribution drift (TV vs corpus mix):")
    graft.queries.ExtQueries.domainDrift(spark, sf)
      .orderBy($"tv".desc).show(5, false)
    println("== IVF-PQ residual index vs exact top-k (first query):")
    graft.queries.ExtQueries.cosineTopkIvfPq(spark, sf)
      .filter($"qid" === 0).show(false)
    println("== knn-graph random walks (first 2 walks):")
    graft.queries.ExtQueries.randWalk(spark, sf)
      .filter($"walk_id" < 2).show(false)
    println("== Count-Min sketch audit (largest overcounts):")
    graft.queries.ExtQueries.countMin(spark, sf)
      .orderBy($"overcount".desc).show(5, false)
    println("== fill-in-the-middle transform (first FIM row):")
    graft.queries.ExtQueries.fimSplit(spark, sf)
      .filter($"fim").show(1, false)
    println("== shingle novelty curve (first/last 3 docs by id):")
    val nov = graft.queries.ExtQueries.novelty(spark, sf)
    nov.show(3, false)
    nov.orderBy($"doc_id".desc).show(3, false)
    println("== HITS over the knn graph (top authorities):")
    graft.queries.ExtQueries.hits(spark, sf)
      .orderBy($"auth".desc).show(5, false)
    println("== skip-gram walk pairs (heaviest co-occurrences):")
    graft.queries.ExtQueries.walkPairs(spark, sf)
      .orderBy($"n_pairs".desc, $"node", $"ctx").show(5, false)
    println("== modularity of the propagated labels over the knn graph:")
    graft.queries.ExtQueries.modularity(spark, sf).show(false)
    println("== token-budget allocation (quality-ranked greedy):")
    graft.queries.ExtQueries.tokenBudget(spark, sf)
      .orderBy($"keep_rate".desc, $"source").show(8, false)
    spark.catalog.clearCache() // funnel/fusion/graph ops persist intermediates

    // malformed day file: observe the failure mode
    Files.writeString(Paths.get(s"$root/bad.json"), "this is not json {{{")
    try {
      val n = Runner.runIngestDay(spark, s"$root/bad.json", wh,
        LocalDate.parse("2025-10-08"), regions, chanApi)
      println(s"== malformed day: appended $n rows")
    } catch {
      case e: Exception =>
        println("== malformed day threw: " + e.getClass.getSimpleName)
    }
    spark.stop()
  }
}
