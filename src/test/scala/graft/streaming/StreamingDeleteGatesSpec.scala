package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Tombstone propagation into the remaining standing stream-gate indexes
  * (round 17 — the near-dup and knn-attach gates got theirs in round 16).
  * Pins:
  *
  *  - MEDIA DUP GATE: after a mid-stream tombstone batch, verdicts equal
  *    restart-with-survivors (a fresh gate over the survivor
  *    corpus), and a probe whose ONLY perceptual match was the deleted
  *    document stops matching — live, no restart;
  *  - FILTERED VECTOR GATE: the delete-aware gate is the ADAPTIVE serve,
  *    and its per-(cell, label) count table is MAINTAINED incrementally;
  *    after a tombstone batch the serve equals the shared-body adaptive
  *    reference over survivors with RECOUNTED stats under the SAME
  *    quantizer — and the maintenance is load-bearing: with the
  *    pre-delete (stale) counts the plan under-probes a thinned cell and
  *    serves DIFFERENT (wrong) results, the mis-probe counterexample;
  *  - a query served entirely from the thinned cell before the delete
  *    stops being served those vectors after it;
  *  - deletes apply before the same batch's adds/queries (CDC).
  */
class StreamingDeleteGatesSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val dir = "/root/testdata/sf0.001"

  test("media dup gate: tombstone == restart-with-survivors; unique match dies") {
    import spark.implicits._
    import graft.queries.ExtQueries
    val in = Files.createTempDirectory("graft-mdgd-in").toString
    val ckpt = Files.createTempDirectory("graft-mdgd-ckpt").toString
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val docs = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    // exact re-uploads — each matches its source at hamming 0
    val probes = docs.take(30).map { case (id, t) => (90000L + id, t) }

    // ground truth from the shared phash derivation (the batch screen)
    val pairs = ExtQueries.phashPairs(
        ExtQueries.phashBands(ExtQueries.phashSignatures(
          docs.toSeq.toDF("doc_id", "text"))),
        ExtQueries.phashBands(ExtQueries.phashSignatures(
          probes.toSeq.toDF("doc_id", "text"))), lit(true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    spark.catalog.clearCache()
    val matchesOf = pairs.groupBy(_._2).view
      .mapValues(_.map(t => (t._1, t._3)).toSet).toMap
    val (probeId, onlyMatch) = matchesOf.collectFirst {
      case (b, as) if as.size == 1 => (b, as.head._1)
    }.getOrElse(fail("no unique-match probe on this fixture"))

    def df(rows: Seq[(String, Long, String)]) =
      rows.toDF("op", "doc_id", "text")
    df(probes.map { case (id, t) => ("add", id, t) }.toSeq)
      .coalesce(1).write.mode("append").parquet(in)
    df(Seq(("delete", onlyMatch, "")))
      .coalesce(1).write.mode("append").parquet(in)
    df(probes.map { case (id, t) => ("add", id, t) }.toSeq)
      .coalesce(1).write.mode("append").parquet(in)

    val perBatch =
      scala.collection.mutable.ArrayBuffer.empty[Map[Long, Option[(Long, Long)]]]
    Streaming.startMediaDupGate(
      spark.readStream.schema(df(Seq(("add", 0L, ""))).schema)
        .option("maxFilesPerTrigger", 1).parquet(in),
      corpus, ckpt) { verdicts =>
      perBatch += verdicts.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some((r.getLong(2), r.getLong(3))))).toMap
    }.awaitTermination()
    spark.catalog.clearCache()
    assert(perBatch.length == 3, s"micro-batch count: ${perBatch.length}")
    assert(perBatch(1).isEmpty, "a pure tombstone batch emits no verdicts")

    val want1 = probes.map { case (id, _) =>
      id -> matchesOf.get(id).map(_.min) }.toMap
    val want3 = probes.map { case (id, _) =>
      id -> matchesOf.get(id).map(_.filterNot(_._1 == onlyMatch))
        .filter(_.nonEmpty).map(_.min)
    }.toMap
    assert(perBatch(0) == want1, "pre-tombstone verdicts")
    assert(perBatch(2) == want3, "post-tombstone verdicts")
    assert(want1(probeId).exists(_._1 == onlyMatch) && want3(probeId).isEmpty,
      "the unique-match probe must go clean after the tombstone")

    // restart-with-survivors parity: a fresh gate fed an op-less stream
    val in2 = Files.createTempDirectory("graft-mdgd-in2").toString
    val ckpt2 = Files.createTempDirectory("graft-mdgd-ckpt2").toString
    probes.toSeq.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in2)
    var restart = Map.empty[Long, Option[(Long, Long)]]
    Streaming.startMediaDupGate(
      spark.readStream.schema(probes.toSeq.toDF("doc_id", "text").schema)
        .parquet(in2),
      corpus.filter(col("doc_id") =!= onlyMatch), ckpt2) { verdicts =>
      restart = verdicts.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some((r.getLong(2), r.getLong(3))))).toMap
    }.awaitTermination()
    spark.catalog.clearCache()
    assert(perBatch(2) == restart, "tombstone path == restart-with-survivors")
  }

  test("filtered vector gate: maintained counts == recount; stale counts mis-probe") {
    import graft.queries.ExtQueries
    val in = Files.createTempDirectory("graft-fvgd-in").toString
    val ckpt = Files.createTempDirectory("graft-fvgd-ckpt").toString
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding", "label")
    val qdf = corpus.filter(col("vec_id") < 8)
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    // the gate's own quantizer + full assignment, for choosing the
    // tombstone set and building references (SAME quantizer throughout)
    val (asg0, cents0) = ExtQueries.ivfLabeledIndex(corpus)
    val cents = cents0.persist()
    val fullAsg = asg0.persist(sl)
    val fullCounts = ExtQueries.ivfCellCounts(fullAsg).persist()

    // probe query: qid 4 (arrives in batch 3 too); thin its rank-1 cell
    val q4 = qdf.filter(col("vec_id") === 4)
    val sched4 = ExtQueries.ivfProbeScheduleFrom(fullCounts, cents, q4)
      .select(col("cell").cast("long"), col("crank").cast("long"),
        col("m"), col("tgt").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._2)
    val (cell1, _, m1, tgt4) = sched4.head
    assert(m1 >= 2, s"rank-1 cell too thin to demonstrate ($m1)")
    val targetK = math.min(m1, 5L).toInt
    val delIds = fullAsg
      .filter(col("cell") === cell1 && col("label") === tgt4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(delIds.nonEmpty)

    def withOp(df: DataFrame, op: String) =
      df.select(lit(op).as("op"), col("vec_id"), col("embedding"), col("label"))
    withOp(qdf, "query").coalesce(1).write.mode("append").parquet(in)
    withOp(corpus.filter(col("vec_id").isin(delIds.toSeq: _*)), "delete")
      .coalesce(1).write.mode("append").parquet(in)
    withOp(qdf, "query").coalesce(1).write.mode("append").parquet(in)

    type Served = (Long, Long, Double, Int)
    def served(rows: Array[Row]): Set[Served] =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Set[Served]]
    Streaming.startFilteredVectorGateWithDeletes(
      spark.readStream.schema(withOp(qdf, "query").schema)
        .option("maxFilesPerTrigger", 1).parquet(in),
      corpus, ckpt, targetK = targetK, spillMax = 0L) { out =>
      perBatch += served(out.collect())
    }.awaitTermination()
    spark.catalog.clearCache()
    assert(perBatch.length == 3, s"micro-batch count: ${perBatch.length}")
    assert(perBatch(1).isEmpty, "a pure tombstone batch serves nothing")

    // shared-body adaptive reference over a given (assignment, counts)
    def reference(asg: DataFrame, counts: DataFrame): Set[Served] = {
      val qcum = ExtQueries.ivfProbeScheduleFrom(counts, cents, qdf)
      val qplan = ExtQueries.ivfAdaptivePlanOf(qcum, targetK, 0L)
      val probe = qcum.join(broadcast(qplan), Seq("qid"))
        .filter(col("crank") <= col("eff_nprobe"))
        .select(col("qid"), col("qe"), col("nq"), col("tgt"), col("cell"))
      served(ExtQueries.ivfFilterServe(asg, probe).collect())
    }
    val survAsg = fullAsg.filter(!col("vec_id").isin(delIds.toSeq: _*))
      .persist(sl)
    val survCounts = ExtQueries.ivfCellCounts(survAsg).persist()
    val want1 = reference(fullAsg, fullCounts)
    val want3 = reference(survAsg, survCounts)
    assert(perBatch(0) == want1, "pre-tombstone serve parity")
    assert(perBatch(2) == want3,
      "post-tombstone serve must equal survivors + RECOUNTED stats")
    assert(perBatch(2).forall { case (_, cid, _, _) => !delIds.contains(cid) },
      "no served candidate may be a deleted id")

    // the probe query was served ONLY from the thinned cell before the
    // delete (eff_nprobe hit the target in cell 1), and none after
    val q4Before = perBatch(0).collect { case (4L, cid, _, _) => cid }
    assert(q4Before.nonEmpty && q4Before.forall(delIds.contains),
      "probe query must have been served from the thinned cell")
    assert(perBatch(2).collect { case (4L, cid, _, _) => cid }
      .forall(!delIds.contains(_)), "deleted vectors must stop serving")

    // MIS-PROBE counterexample: the STALE plan (pre-delete counts) over
    // the survivor index serves something different — the count
    // maintenance is load-bearing, not bookkeeping
    val stale = reference(survAsg, fullCounts)
    assert(stale != want3,
      "stale counts must mis-probe on this fixture — otherwise the " +
        "maintained-count claim is unfalsifiable here")
    Seq(cents, fullAsg, fullCounts, survAsg, survCounts).foreach(_.unpersist())
    spark.catalog.clearCache()
  }
}
