package graft.streaming

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Tombstone propagation into the standing stream-gate indexes — the
  * streaming half of the GDPR cascade (test-gated per SURVEY §5; the
  * batch half is oracle-gated via `e_index_delete`). Pins:
  *
  *  - NEAR-DUP GATE: after a mid-stream tombstone batch, verdicts equal
  *    restart-with-survivors (a fresh gate over the survivor
  *    corpus), and a probe whose ONLY match was the deleted document
  *    stops matching — live, in the same stream, no restart;
  *  - KNN ATTACH GATE: after a tombstone batch, the attach output equals
  *    the full rebuild-over-survivors reference under the SAME quantizer
  *    (the `e_index_delete` repair ≡ rebuild theorem, re-pinned end to
  *    end through the gate), no emitted edge references a deleted id,
  *    and the fixture forces real promotions (a naive anti-join of the
  *    standing adjacency would be WRONG — the rescore is load-bearing);
  *  - deletes apply before the same batch's adds (the CDC convention);
  *  - an `op` that is neither "add" nor "delete" fails the query, naming
  *    the value, in every gate (the filtered vector gate: neither "query"
  *    nor "delete");
  *  - an op-less stream skips the tombstone probe: fewer jobs than the
  *    same rows tagged "add".
  */
class StreamingDeleteSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val dir = "/root/testdata/sf0.001"

  test("near-dup gate: tombstone == restart-with-survivors; unique match dies") {
    import spark.implicits._
    import graft.queries.ExtQueries
    val off = ExtQueries.VariantIdOffset
    val in = Files.createTempDirectory("graft-ndgd-in").toString
    val ckpt = Files.createTempDirectory("graft-ndgd-ckpt").toString
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val docs = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    val variants = docs.map { case (id, t) =>
      (id + off, t.trim.split("\\s+").drop(5).mkString(" "))
    }.sortBy(_._1)

    // ground truth from the graded batch detector: per variant, its
    // matching corpus ids
    val pairs = ExtQueries.crossDedup(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    spark.catalog.clearCache()
    val matchesOf = pairs.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    // a probe whose ONLY match is one corpus doc — deleting that doc must
    // flip its verdict to clean
    val (probeId, onlyMatch) = matchesOf.collectFirst {
      case (b, as) if as.size == 1 => (b, as.head)
    }.getOrElse(fail("no unique-match probe on this fixture"))
    val probes = variants.filter { case (id, _) =>
      id == probeId || matchesOf.get(id).exists(_.contains(onlyMatch))
    }.take(8) ++ variants.filterNot { case (id, _) =>
      matchesOf.contains(id) }.take(2)

    def addDf(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => ("add", id, t) }.toDF("op", "doc_id", "text")
    // batch 1: probes against the full corpus; batch 2: tombstone the
    // matched doc (no adds); batch 3: the same probes again
    addDf(probes.toSeq).coalesce(1).write.mode("append").parquet(in)
    Seq(("delete", onlyMatch, "")).toDF("op", "doc_id", "text")
      .coalesce(1).write.mode("append").parquet(in)
    addDf(probes.toSeq).coalesce(1).write.mode("append").parquet(in)

    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Option[Long]]]
    Streaming.startNearDupGate(
      spark.readStream.schema(addDf(probes.take(1).toSeq).schema)
        .option("maxFilesPerTrigger", 1).parquet(in),
      corpus, ckpt) { verdicts =>
      perBatch += verdicts.collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    }.awaitTermination()
    spark.catalog.clearCache()
    assert(perBatch.length == 3, s"micro-batch count: ${perBatch.length}")
    assert(perBatch(1).isEmpty, "a pure tombstone batch emits no verdicts")

    // batch 1 = full-corpus truth; batch 3 = the same truth minus the
    // deleted doc (the local model of the repair)
    val want1 = probes.map { case (id, _) =>
      id -> matchesOf.get(id).map(_.min) }.toMap
    val want3 = probes.map { case (id, _) =>
      id -> matchesOf.get(id).map(_ - onlyMatch).filter(_.nonEmpty).map(_.min)
    }.toMap
    assert(perBatch(0) == want1, "pre-tombstone verdicts")
    assert(perBatch(2) == want3, "post-tombstone verdicts")
    assert(want1(probeId).contains(onlyMatch) && want3(probeId).isEmpty,
      "the unique-match probe must go clean after the tombstone")

    // restart-with-survivors parity: a FRESH gate over the survivor corpus,
    // fed an op-less stream, must produce batch 3's verdicts exactly
    val in2 = Files.createTempDirectory("graft-ndgd-in2").toString
    val ckpt2 = Files.createTempDirectory("graft-ndgd-ckpt2").toString
    probes.toSeq.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in2)
    var restart = Map.empty[Long, Option[Long]]
    Streaming.startNearDupGate(
      spark.readStream.schema(probes.toSeq.toDF("doc_id", "text").schema)
        .parquet(in2),
      corpus.filter(col("doc_id") =!= onlyMatch), ckpt2) { verdicts =>
      restart = verdicts.collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    }.awaitTermination()
    spark.catalog.clearCache()
    assert(perBatch(2) == restart, "tombstone path == restart-with-survivors")
  }

  test("knn attach gate: tombstone repair == rebuild-over-survivors; rescore is load-bearing") {
    import graft.queries.ExtQueries
    val off = ExtQueries.VariantIdOffset
    val in = Files.createTempDirectory("graft-kagd-in").toString
    val ckpt = Files.createTempDirectory("graft-kagd-ckpt").toString
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val adds = corpus.filter(pmod(col("vec_id"), lit(10L)) === 0)
      .select((col("vec_id") + lit(off)).as("vec_id"), col("embedding"))
    val ids = adds.select("vec_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length / 2)
    val (a1, a2) = (adds.filter(col("vec_id") < cut),
      adds.filter(col("vec_id") >= cut))
    // the e_index_delete request rule (DeleteEveryMod = 13, private to
    // graft.queries — its spec pins deletions that change top-k answers)
    val dels = corpus.filter(pmod(col("vec_id"), lit(13L)) === 0)

    def withOp(df: org.apache.spark.sql.DataFrame, op: String) =
      df.select(lit(op).as("op"), col("vec_id"), col("embedding"))
    withOp(a1, "add").coalesce(1).write.mode("append").parquet(in)
    withOp(dels, "delete").coalesce(1).write.mode("append").parquet(in)
    withOp(a2, "add").coalesce(1).write.mode("append").parquet(in)

    type Edge = (Long, Long, Double, Int)
    def edges(rows: Array[org.apache.spark.sql.Row]): Set[Edge] =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Set[Edge]]
    Streaming.startKnnAttachGate(
      spark.readStream.schema(withOp(a1, "add").schema)
        .option("maxFilesPerTrigger", 1).parquet(in),
      corpus, ckpt) { adj => perBatch += edges(adj.collect()) }
      .awaitTermination()
    spark.catalog.clearCache()
    assert(perBatch.length == 3, s"micro-batch count: ${perBatch.length}")
    assert(perBatch(1).isEmpty, "a pure tombstone batch attaches nothing")

    // references under the SAME quantizer (quantizer retrain is
    // e_index_retrain's separate concern — a rebuild keeps assignments)
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val cents = ExtQueries.seedCentroidsOf(corpus).persist()
    val assignedAll = ExtQueries.knnAssign(corpus, cents).persist(sl)
    val standingAll = ExtQueries.knnAdjacency(assignedAll).persist(sl)
    val delIds = dels.select("vec_id").collect().map(_.getLong(0)).toSet
    val survAssigned = assignedAll
      .filter(!col("vec_id").isin(delIds.toSeq: _*)).persist(sl)
    val survStanding = ExtQueries.knnAdjacency(survAssigned).persist(sl)

    val want1 = edges(ExtQueries.knnAttach(assignedAll, standingAll,
      ExtQueries.knnAssign(a1, cents)).collect())
    val want3 = edges(ExtQueries.knnAttach(survAssigned, survStanding,
      ExtQueries.knnAssign(a2, cents)).collect())
    assert(perBatch(0) == want1, "pre-tombstone attach parity")
    assert(perBatch(2) == want3,
      "post-tombstone attach must equal rebuild-over-survivors")
    assert(perBatch(2).forall { case (s, n, _, _) =>
      !delIds.contains(s) && !delIds.contains(n) },
      "no emitted edge may reference a deleted id")

    // the rescore is load-bearing: a naive anti-join of the standing
    // adjacency is NOT the survivor rebuild (deletions promote new
    // neighbors into vacated top-k slots on this fixture)
    val naive = edges(standingAll
      .filter(!col("src").isin(delIds.toSeq: _*) &&
        !col("nbr").isin(delIds.toSeq: _*)).collect())
    val rebuilt = edges(survStanding.collect())
    assert(naive != rebuilt,
      "fixture must force promotions — otherwise the repair proves nothing")
    Seq(cents, assignedAll, standingAll, survAssigned, survStanding)
      .foreach(_.unpersist())
    spark.catalog.clearCache()
  }

  test("gates: an op that is neither add nor delete fails the query, naming it") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val text0 = docs.select("text").as[String].head()
    // each stream: one valid add, then one row with an unknown op
    val textRows = Seq(("add", 90001L, text0), ("upsert", 90002L, text0))
      .toDF("op", "doc_id", "text")
    def vecRow(op: String, first: Column) = vecs.orderBy(first).limit(1)
      .select(lit(op).as("op"), (col("vec_id") + lit(90000L)).as("vec_id"),
        col("embedding"))
    val vecRows = vecRow("add", col("vec_id").asc)
      .unionByName(vecRow("upsert", col("vec_id").desc))
    for ((name, msg) <- Seq(
        "near-dup" -> failure(textRows, docs, Streaming.startNearDupGate(_, _, _)),
        "media-dup" -> failure(textRows, docs, Streaming.startMediaDupGate(_, _, _)),
        "knn-attach" -> failure(vecRows, vecs, Streaming.startKnnAttachGate(_, _, _))))
      assert(msg.contains("unknown op 'upsert'"), s"$name gate: $msg")
  }

  test("filtered vector gate: an op that is neither query nor delete fails, naming it") {
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding", "label")
    // one valid query, then one row with an op this gate does not serve
    def row(op: String, first: Column) = vecs.orderBy(first).limit(1)
      .select(lit(op).as("op"), col("vec_id"), col("embedding"), col("label"))
    val msg = failure(row("query", col("vec_id").asc)
        .unionByName(row("add", col("vec_id").desc)), vecs,
      Streaming.startFilteredVectorGateWithDeletes(_, _, _))
    assert(msg.contains("unknown op 'add'"), msg)
  }

  private type Gate = (DataFrame, DataFrame, String) => (DataFrame => Unit) => StreamingQuery

  /** Runs `gate` over a stream of `rows` against `corpus`; the query must
    * fail and emit nothing. Returns its cause chain's messages. */
  private def failure(rows: DataFrame, corpus: DataFrame, gate: Gate): String = {
    val in = Files.createTempDirectory("graft-opgd-in").toString
    val ckpt = Files.createTempDirectory("graft-opgd-ckpt").toString
    rows.coalesce(1).write.mode("append").parquet(in)
    var emitted = 0L
    val q = gate(spark.readStream.schema(rows.schema).parquet(in), corpus, ckpt) {
      out => emitted += out.collect().length
    }
    val e = intercept[StreamingQueryException](q.awaitTermination())
    spark.catalog.clearCache()
    assert(emitted == 0, "the failing batch must emit no verdicts")
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
  }

  test("near-dup gate: an op-less stream skips the tombstone probe") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val rows = corpus.as[(Long, String)].take(6).toSeq.map { case (id, t) =>
      (id + graft.queries.ExtQueries.VariantIdOffset,
        t.trim.split("\\s+").drop(5).mkString(" "))
    }
    // jobs of one gate run, counted by the streaming query id every
    // micro-batch job carries as a local property
    def jobsOf(stream: DataFrame): (Int, Set[Long]) = {
      val in = Files.createTempDirectory("graft-ndgj-in").toString
      val ckpt = Files.createTempDirectory("graft-ndgj-ckpt").toString
      stream.coalesce(1).write.mode("append").parquet(in)
      val sc = spark.sparkContext
      val seen = new ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          Option(e.properties)
            .flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
            .orElse(Option(e.properties)
              .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
            .foreach(seen.add)
      }
      sc.addSparkListener(listener)
      try {
        var ids = Set.empty[Long]
        val q = Streaming.startNearDupGate(
          spark.readStream.schema(stream.schema).parquet(in), corpus, ckpt) { v =>
          ids ++= v.select("doc_id").as[Long].collect()
        }
        q.awaitTermination()
        spark.catalog.clearCache()
        // the listener bus delivers in order: once the marker job is seen,
        // every job of the query has been seen too
        val marker = s"marker-${java.util.UUID.randomUUID()}"
        sc.setJobGroup(marker, marker)
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
        while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
        assert(seen.contains(marker), "listener never saw the marker job")
        (seen.asScala.count(_ == q.id.toString), ids)
      } finally sc.removeSparkListener(listener)
    }
    val (plain, plainIds) = jobsOf(rows.toDF("doc_id", "text"))
    val (tagged, taggedIds) = jobsOf(
      rows.map { case (id, t) => ("add", id, t) }.toDF("op", "doc_id", "text"))
    assert(plainIds == rows.map(_._1).toSet && taggedIds == plainIds,
      "one verdict per incoming document either way")
    assert(plain > 0 && plain < tagged,
      s"op-less run launched $plain jobs, the op = add run $tagged")
  }
}
