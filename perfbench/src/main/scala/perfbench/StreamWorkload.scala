package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.functions.GraftFunctions.dsum
import graft.queries.{ExtQueries, RefQueries}
import graft.streaming.Streaming
import Bench.{clock, median}

/** The streaming form of the daily cadence: events arrive as files, sorted
  * by `ts`; each file landing triggers one `Streaming.ingestAvailableNow`
  * run and one watermarked `Streaming.dailyAgg` append run over the ingested
  * table. Then re-crawl variants of the document corpus arrive as files and
  * one `Streaming.startNearDupGate` run screens them, one file per
  * micro-batch. */
object StreamWorkload {
  final class Staged(val eventFiles: Seq[Path], val variantFiles: Seq[Path],
                     val schema: StructType, val variantSchema: StructType)

  /** The staged inputs under `<data>/stream`: events in `ts` order (ts a
    * TIMESTAMP), and re-crawl variants of the corpus documents. */
  def staged(b: Bench): Staged = {
    def files(sub: String) = {
      val st = Files.list(b.cfg.data.resolve(s"stream/$sub"))
      try st.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
      finally st.close()
    }
    val (ev, vs) = (files("events"), files("variants"))
    new Staged(ev, vs, b.spark.read.parquet(ev.head.toString).schema,
      b.spark.read.parquet(vs.head.toString).schema)
  }

  final class Pass {
    val ingest = mutable.ArrayBuffer.empty[Double]
    /** file landed → the window run returns (ingest + window) */
    val window = mutable.ArrayBuffer.empty[Double]
    /** whether each file (in `window` order) was traced */
    val tracedFile = mutable.ArrayBuffer.empty[Boolean]
    /** (ingest, window) run ids of the traced files */
    val tracedRuns = mutable.ArrayBuffer.empty[(java.util.UUID, java.util.UUID)]
    var gateS = 0.0
    var gateDocs = 0L
    var gateBatches = 0
    var gateRun: Option[java.util.UUID] = None
    val verdicts = mutable.ArrayBuffer.empty[Row]
  }

  /** One pass in fresh directories: `files` event files, then the gate over
    * `gateFiles` variant files. */
  private def runPass(b: Bench, s: Staged, root: String, files: Int, gateFiles: Int, trace: Boolean): Pass = {
    import b.spark
    val p = new Pass
    val in = s"$root/in"; val curated = s"$root/curated"; val windows = s"$root/windows"
    Files.createDirectories(Paths.get(in))
    s.eventFiles.take(files).zipWithIndex.foreach { case (f, i) =>
      Files.copy(f, Paths.get(f"$in/part-$i%05d.parquet"))
      val traced = trace && i % 2 == 1
      Trace.active = traced
      val (ri, ti) = clock {
        b.op(s"ingest file $i") {
          val q = Streaming.ingestAvailableNow(spark, in, curated, s"$root/ckpt_ingest", s.schema)
          q.awaitTermination(); q.runId
        }
      }
      val (rw, tw) = clock {
        b.op(s"window file $i") {
          val q = Streaming.dailyAgg(spark.readStream.schema(s.schema).parquet(curated))
            .writeStream.format("parquet").outputMode("append")
            .option("path", windows).option("checkpointLocation", s"$root/ckpt_window")
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination(); q.runId
        }
      }
      Trace.active = false
      p.ingest += ti
      p.window += ti + tw
      p.tracedFile += traced
      if (traced) for (a <- ri; w <- rw) p.tracedRuns += ((a, w))
    }

    val gateIn = s"$root/gate_in"
    Files.createDirectories(Paths.get(gateIn))
    s.variantFiles.take(gateFiles).zipWithIndex.foreach { case (f, i) =>
      Files.copy(f, Paths.get(f"$gateIn/part-$i%05d.parquet"))
    }
    val corpus = RefQueries.table(spark, b.cfg.data.toString, "documents").select(col("doc_id"), col("text"))
    Trace.active = trace
    val (_, tg) = clock {
      b.op("near-dup gate") {
        Trace.span("Streaming.startNearDupGate") {
          val q: StreamingQuery = Streaming.startNearDupGate(
            spark.readStream.schema(s.variantSchema).option("maxFilesPerTrigger", 1).parquet(gateIn),
            corpus, s"$root/ckpt_gate") { verdicts =>
            val rows = verdicts.collect()
            p.verdicts.synchronized { p.verdicts ++= rows; p.gateBatches += 1 }
          }
          q.awaitTermination()
          p.gateRun = Some(q.runId)
        }
      }
    }
    Trace.active = false
    p.gateS = tg
    p.gateDocs = p.verdicts.size.toLong
    p
  }

  /** Stream output = input, windows = the batch aggregate over the closed
    * days, gate verdicts = the batch cross-dedup. */
  private def verify(b: Bench, s: Staged, root: String, files: Int, p: Pass): Unit = {
    import b.spark
    import spark.implicits._
    val input = s.eventFiles.take(files).map(f => spark.read.parquet(f.toString)).reduce(_ unionByName _)
    val curated = spark.read.parquet(s"$root/curated")
    b.check("stream output rows = input rows")(curated.count() == input.count())
    b.check("stream event ids = input event ids")(
      curated.select("event_id").exceptAll(input.select("event_id")).isEmpty &&
        input.select("event_id").exceptAll(curated.select("event_id")).isEmpty)
    val got = spark.read.parquet(s"$root/windows").select("date", "event_type", "n", "total_value")
      .as[(java.sql.Date, String, Long, Double)].collect().toSet
    val maxTs = input.agg(max(col("ts"))).as[java.sql.Timestamp].head()
    val watermark = maxTs.toInstant.minusSeconds(3600)
    val want = input.groupBy(to_date(col("ts")).as("date"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .as[(java.sql.Date, String, Long, Double)].collect()
      .filter { case (d, _, _, _) =>
        !d.toLocalDate.plusDays(1).atStartOfDay(java.time.ZoneOffset.UTC).toInstant.isAfter(watermark)
      }.toSet
    b.check("emitted windows = batch groupBy over closed days")(got == want && got.nonEmpty,
      s"(${got.size} emitted, ${want.size} expected)")
    val pairs = ExtQueries.crossDedup(spark, b.cfg.data.toString)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    b.teardown()
    val gateIds = spark.read.parquet(s"$root/gate_in").select("doc_id").as[Long].collect().toSet
    val wantV = gateIds.map { id =>
      val m = pairs.filter(_._2 == id).map(_._1)
      id -> (if (m.isEmpty) None else Some(m.min))
    }.toMap
    val gotV = p.verdicts.map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2))))
    b.check("gate verdicts = batch cross-dedup")(
      gotV.size == wantV.size && gotV.toMap == wantV && p.verdicts.forall(r => r.getBoolean(1) == !r.isNullAt(2)),
      s"(${gotV.size} verdicts, ${wantV.size} expected)")
  }

  /** Warm-up: one landed file and one gate file, in their own directories. */
  def warm(b: Bench, s: Staged): Unit = {
    runPass(b, s, b.dir("stream_warm"), 1, 1, trace = false)
    b.teardown()
  }

  /** One measured pass (every staged file, then the gate) in fresh
    * directories; the first pass of a run is also checked. */
  def measure(b: Bench, s: Staged, index: Int): Pass = {
    val root = b.dir(s"stream$index")
    val p = runPass(b, s, root, s.eventFiles.size, s.variantFiles.size, b.cfg.trace)
    b.teardown()
    if (index == 0) b.result.phases("stream_verify_s") = clock(verify(b, s, root, s.eventFiles.size, p))._2
    p
  }

  /** The stream's own figures on the report line. */
  def report(b: Bench, passes: Seq[Pass]): Unit = {
    val r = b.result
    Bench.timing(r, "ingest_trigger", passes.flatMap(_.ingest))
    Bench.timing(r, "window_trigger", passes.flatMap(_.window))
    r.report("gate_docs_per_s") = (passes.map(_.gateDocs).sum / passes.map(_.gateS).sum, "docs/s")
  }

  /** Per-layer figures of a traced pass; returns traced / untraced file time. */
  def layers(b: Bench, p: Pass): Double = {
    val L = b.result.layer
    val prog = p.tracedRuns.flatMap { case (a, w) => Trace.progressOf(a) ++ Trace.progressOf(w) }
    val windowProg = p.tracedRuns.map { case (_, w) => Trace.progressOf(w) }
    def dur(k: String) = median(prog.map(x => Option(x.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).toSeq)
    L("stream.trigger_ms") = (dur("triggerExecution"), "ms")
    L("stream.add_batch_ms") = (dur("addBatch"), "ms")
    L("stream.query_planning_ms") = (dur("queryPlanning"), "ms")
    L("stream.wal_commit_ms") = (dur("walCommit"), "ms")
    L("stream.commit_offsets_ms") = (dur("commitOffsets"), "ms")
    L("stream.latest_offset_ms") = (dur("latestOffset"), "ms")
    L("stream.no_data_batches") = (median(windowProg.map(_.count(_.numInputRows == 0).toDouble).toSeq), "count")
    val lastState = windowProg.flatMap(_.lastOption).lastOption
    L("stream.state_rows") = (lastState.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0), "count")
    L("stream.state_mem_bytes") = (lastState.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0), "bytes")
    val gate = p.gateRun.map(Trace.progressOf).getOrElse(Nil).filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").doubleValue / 1000)
    val span = Trace.named("Streaming.startNearDupGate").headOption
    val batches = math.max(p.gateBatches, 1)
    L("gate.index_build_s") = (if (gate.size > 1) gate.head - median(gate.tail) else 0.0, "s")
    L("gate.batch_s") = (median(gate), "s")
    L("gate.jobs_per_batch") = (span.map(_("jobs")).getOrElse(0.0) / batches, "count")
    L("gate.shuffle_bytes_per_batch") = (span.map(_("shuffle_write_bytes")).getOrElse(0.0) / batches, "bytes")
    Bench.overheadRatio(p.window.toSeq, p.tracedFile.toSeq)
  }
}
