package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.functions.GraftFunctions.dsum

/** §2.9: the reference's cron-driven daily batches re-expressed as Structured
  * Streaming (SURVEY.md §2.9 mapping). The reference has no streaming engine —
  * its cadence is cron (trending_daily_ingestion.py:223) and its exactly-once
  * guarantee is the skip-if-present branch (:47-55). Here:
  *
  *   - the daily ingest becomes a checkpointed file-source stream with
  *     `Trigger.AvailableNow()` — the checkpoint IS the idempotence guard
  *     (re-running processes nothing; new files process exactly once), and
  *     AvailableNow gives the scheduled-batch cadence without a long-lived
  *     cluster;
  *   - the daily aggregate becomes a watermarked 1-day tumbling window,
  *     replacing the existence-check branch with late-data semantics.
  *
  * At scale: the file source lists incrementally (maxFilesPerTrigger bounds
  * a catch-up run), state is per (window × group) — bounded by design — and
  * the watermark caps state retention.
  */
object Streaming {

  /** Checkpointed exactly-once ingest: files dropped into `inDir` append to
    * the curated table once, across any number of restarts. */
  def ingestAvailableNow(spark: SparkSession, inDir: String, outDir: String,
                         checkpointDir: String, schema: StructType): StreamingQuery =
    spark.readStream
      .schema(schema)
      .parquet(inDir)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Watermarked tumbling 1-day aggregate over an event stream — the
    * streaming form of the daily-insights scan (reference
    * trending_daily_aggregates.py:52-93). Late rows within 1 hour of the
    * watermark still land in their day; later ones are dropped instead of
    * corrupting an already-published day (the reference simply never
    * reprocesses a day). Partial aggregation still applies map-side; state
    * is one row per (day × group). */
  def dailyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .select(
        to_date(col("w.start")).as("date"),
        col("event_type"), col("n"), col("total_value"))

  /** Watermarked tumbling 7-DAY aggregate — the weekly report's scan as a
    * streaming window (SURVEY §2.9 third mapping; reference
    * weekly_report.py:24-27 scans Monday..Sunday). `startTime = "4 days"`
    * aligns window boundaries to MONDAY: epoch day zero (1970-01-01) is a
    * Thursday, so unaligned 7-day windows would start Thursdays and split
    * every reference week across two windows. Same state shape as
    * [[dailyAgg]] — one row per (week × group); the longer window only
    * delays finalization, it does not grow state. */
  def weeklyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "7 days", "7 days", "4 days").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .select(
        to_date(col("w.start")).as("week_start"),
        col("event_type"), col("n"), col("total_value"))

  /** One event of a user's stream, for the stateful sessionizer. */
  case class SessionEvent(user_id: Long, event_id: Long, ts: Timestamp)
  /** One closed session. */
  case class Session(user_id: Long, session_id: Long,
                     session_start: Timestamp, session_end: Timestamp, n_events: Long)
  /** Carry-over state between micro-batches: the user's open session. */
  case class SessionState(nextId: Long, start: Timestamp, end: Timestamp, n: Long)

  /** Custom stateful sessionization via `flatMapGroupsWithState` — the
    * KeyValueGroupedDataset surface the windowed built-ins can't express
    * (session boundaries depend on inter-event GAPS, not fixed windows).
    * Events within a micro-batch arrive unordered per key, so each batch
    * sorts its group slice by the FULL timestamp (millis + nanos — getTime
    * alone truncates the microsecond component and would mis-order
    * sub-millisecond events); the open session carries across batches in
    * [[SessionState]].
    *
    * Output semantics: a CHANGELOG, not a final table. A session row is
    * emitted when it CLOSES (a later event proves the gap), and the
    * still-open session is emitted as a snapshot at the end of each batch
    * that touched it — so when input spans several micro-batches, an open
    * session appears once per batch with growing n_events. Downstream
    * consumers keep the LAST row per (user_id, session_id); [[latestSessions]]
    * is that compaction. This is the upsert shape real sinks want — an
    * append sink that must never see a key twice should instead close
    * sessions by event-time timeout and accept that open sessions are
    * withheld until the watermark passes.
    *
    * At scale: state is ONE small record per active user, and the shuffle
    * carries events grouped by user — the same partitioning the batch form
    * needs for its window. Parity with the batch formulation
    * ([[graft.queries.RefQueries.sessionize]]) after compaction is
    * test-pinned, including a multi-batch run. */
  def sessionize(events: Dataset[SessionEvent]): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val sorted = it.toVector
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
          var closed = Vector.empty[Session]
          var cur = state.getOption
          for (e <- sorted) {
            cur = cur match {
              case None => Some(SessionState(1L, e.ts, e.ts, 1L))
              // floorDiv, not /: the same pre-epoch contract as the funnel's
              // micros conversion below — truncation toward zero would round
              // negative-epoch sub-second timestamps the WRONG way and flip
              // the gap test right at the 1800 s boundary.
              case Some(s) if Math.floorDiv(e.ts.getTime, 1000L)
                  - Math.floorDiv(s.end.getTime, 1000L) > 1800 =>
                closed :+= Session(user, s.nextId, s.start, s.end, s.n)
                Some(SessionState(s.nextId + 1, e.ts, e.ts, 1L))
              case Some(s) =>
                Some(s.copy(end = e.ts, n = s.n + 1))
            }
          }
          cur.foreach(state.update)
          closed.iterator ++ cur.map(s => Session(user, s.nextId, s.start, s.end, s.n)).iterator
      }
  }

  /** Native SESSION-WINDOW aggregation — the BUILT-IN form of
    * [[sessionize]] (the built-ins-first discipline: Spark 3.2+ ships
    * `session_window`, so the gap-based grouping itself no longer needs
    * custom state code; [[sessionize]] remains the surface for semantics
    * the built-in cannot express — emitting a CHANGELOG row per touched
    * session every micro-batch, custom carry-over state, per-session
    * ids). Emits one row per closed session: (user_id, session_start,
    * session_end = LAST EVENT's time, n_events) — the end is re-derived
    * from the window bound (`w.end` = last event + gap) so both forms
    * report the same physical quantity.
    *
    * BOUNDARY CONVENTION, pinned by the parity spec: `session_window`
    * starts a NEW session when the inter-event gap is ≥ the gap
    * parameter, while [[sessionize]] splits strictly-greater — the two
    * agree everywhere except gaps exactly equal to the parameter (the
    * spec's fixture exercises both sides of the boundary, not the
    * boundary itself, and documents the off-by-one).
    *
    * At scale: state is one (user × open session) merged range — the
    * built-in merges sessions inside the state store natively; the
    * watermark closes sessions and bounds retention. Works identically
    * as a batch aggregation (no watermark needed) — the spec drives
    * stream AND batch forms against the custom operator. */
  def sessionWindows(events: DataFrame, gapSeconds: Int,
      horizon: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapSeconds seconds").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("w.start").as("session_start"),
        (col("w.end") - expr(s"INTERVAL $gapSeconds SECONDS")).as("session_end"),
        col("n_events"))

  /** Compact the [[sessionize]] changelog to its latest snapshot per
    * (user, session): the row with the highest n_events wins (a session
    * only ever grows within an id). */
  def latestSessions(changelog: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("n_events").desc)
    changelog.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Streaming exact dedup — the continuous-ingest form of
    * [[graft.queries.ExtQueries.exactDedup]]: first-seen-wins on the same
    * cross-engine 60-bit content fingerprint, so a document crawled twice
    * (in one batch or months apart) ships once. `dropDuplicates` keys state
    * on the HASH only — state is \|distinct contents\| × 12 bytes, never the
    * text, and survives restarts through the checkpoint (exactly-once across
    * re-crawls is the point).
    *
    * Survivor semantics differ from the batch form BY DESIGN: a stream keeps
    * the FIRST ARRIVAL (it cannot know a lower id arrives later); the batch
    * form keeps the min id. The surviving fingerprint SET is identical —
    * parity-tested against the batch operator. At a bounded dedup horizon,
    * use [[dedupStreamWithinWatermark]] so the watermark evicts state
    * instead of growing it forever; at corpus scale also switch the state
    * store to RocksDB (`spark.sql.streaming.stateStore.providerClass` =
    * RocksDBStateStoreProvider) — \|distinct contents\| hashes outgrow the
    * default in-heap HDFS-backed store long before they trouble a local
    * RocksDB with changelog checkpointing. */
  def dedupStream(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.GraftFunctions.hash64(col("text")).as("content_hash"))
      .dropDuplicates("content_hash")

  /** BOUNDED-STATE streaming dedup — [[dedupStream]] for the realistic
    * contract "re-crawls of the same document land within `horizon` of each
    * other": `dropDuplicatesWithinWatermark` keys state on the same 60-bit
    * content fingerprint but lets the event-time watermark EVICT each
    * fingerprint once no duplicate can still arrive for it, so state is
    * O(distinct contents per horizon window), not O(distinct contents
    * ever) — the difference between a state store that reaches steady state
    * and one that grows for the life of the crawl.
    *
    * Semantics at the horizon boundary, pinned by the spec: a duplicate
    * whose event time falls within `horizon` of the retained first arrival
    * is dropped; once the watermark (max seen event time − `horizon`)
    * passes the first arrival's eviction point, the SAME content arriving
    * again is treated as new and re-emitted. Eviction lags one micro-batch
    * (cleanup at each batch's end runs with the watermark derived from the
    * PREVIOUS batch's max event time — standard Structured Streaming
    * watermark propagation), which only ever errs toward deduplicating
    * MORE, never toward emitting a duplicate early. That re-emission is
    * the deliberate trade for bounded state — exact forever-dedup is
    * [[dedupStream]].
    *
    * @param docs    streaming frame with `doc_id`, `text`, and an event-time
    *                `ts` column (the crawl/ingest time)
    * @param horizon watermark delay, e.g. "30 days": the maximum event-time
    *                gap between duplicates that must still dedup */
  def dedupStreamWithinWatermark(docs: DataFrame, horizon: String): DataFrame =
    docs
      .withWatermark("ts", horizon)
      .select(col("doc_id"), col("ts"),
        graft.functions.GraftFunctions.hash64(col("text")).as("content_hash"))
      .dropDuplicatesWithinWatermark("content_hash")

  /** Stream-static enrichment: every arriving document picks up its
    * source's curation profile (tier, quality rate — the
    * [[graft.queries.ExtQueries.domainStats]] shape) from a STATIC
    * dimension, the standard "annotate the firehose with slowly-changing
    * reference data" join. Stateless by construction — Spark re-plans the
    * static side per micro-batch, so a refreshed dimension table is picked
    * up on the next trigger without restarting the query, and no streaming
    * state accumulates (unlike stream-stream joins, which buffer both
    * sides).
    *
    * At scale: the dimension is |sources| rows — broadcast, so the document
    * stream never shuffles; a left join keeps documents from never-seen
    * sources flowing (nulls, not drops: a curation pipeline must not lose
    * data because the profile table lags the crawl). */
  def enrichStream(docs: DataFrame, sourceDim: DataFrame): DataFrame =
    docs.join(broadcast(sourceDim), Seq("source"), "left")

  /** Online quality gating — the Gopher-rule battery applied AT INGEST so
    * rejected documents never reach the lake: the stream runs the batch
    * operator's OWN [[graft.queries.ExtQueries.qualitySignals]] body (one
    * definition — the online gate and the offline
    * `e_quality_filter` grade cannot drift; parity is additionally pinned
    * end-to-end by the spec). Stateless by construction: every signal is a
    * per-document projection, so no streaming state accumulates, any
    * trigger/micro-batch boundary yields identical verdicts, and the gate
    * composes freely with [[dedupStreamWithinWatermark]] upstream or
    * [[enrichStream]] downstream.
    *
    * At scale this placement is the point: dropping (or tagging) rejects
    * in-flight means the lake write, the warehouse append, and every
    * downstream batch pass size to the KEPT corpus — the quality cut is
    * paid once at the edge instead of re-filtered by each consumer. */
  def qualityGateStream(docs: DataFrame): DataFrame =
    graft.queries.ExtQueries.qualitySignals(docs)

  // ---- stream-stream score attachment -------------------------------------

  /** STREAM-STREAM interval join — the async-annotation shape every
    * large-scale ingest grows: documents arrive on one stream, and a
    * scoring service (quality model, toxicity classifier, embedding
    * encoder) publishes (doc_id, score) on ANOTHER stream some time later.
    * The join attaches each score to its document when the score's event
    * time lands within [doc ts, doc ts + `window`]; LEFT-OUTER semantics
    * emit unscored documents (null score) once the watermark proves no
    * score can still arrive — the missing-score accounting a pipeline
    * needs to alert on a lagging scorer, rather than silently dropping
    * unscored docs (inner) or waiting forever (no watermark).
    *
    * State/scale: both sides buffer only rows newer than their watermark
    * (`horizon`), and the interval condition lets Spark evict a buffered
    * document as soon as the score stream's watermark passes its
    * `ts + window` — state is O(arrival rate × horizon), the bounded
    * contract, not O(stream length). The join keys on doc_id first, so
    * the shuffle co-partitions both streams by id — the same layout the
    * warehouse append uses downstream.
    *
    * @param docs    streaming (doc_id, ts, ...) frame
    * @param scores  streaming (doc_id, sts, score) frame
    * @param horizon watermark delay for both streams (max lateness)
    * @param window  how long after the doc's ts a score may arrive, as a
    *                SQL interval literal body, e.g. "1 hour" */
  def attachScoresStream(docs: DataFrame, scores: DataFrame,
      horizon: String, window: String): DataFrame =
    docs.withWatermark("ts", horizon).as("d")
      .join(scores.withWatermark("sts", horizon).as("s"),
        expr(s"d.doc_id = s.doc_id AND " +
          s"s.sts >= d.ts AND s.sts <= d.ts + INTERVAL $window"),
        "leftOuter")
      .select(col("d.doc_id").as("doc_id"), col("d.ts").as("ts"),
        col("s.score").as("score"), col("s.sts").as("scored_at"))

  // ---- foreachBatch queries -----------------------------------------------

  /** The one foreachBatch skeleton every `start*` query below runs
    * through: append output, `ckpt` as the checkpoint (the exactly-once
    * guard), and `Trigger.AvailableNow` (process what has landed, then
    * stop — the scheduled-batch cadence without a long-lived cluster).
    * `body` receives each micro-batch and its id. */
  private def startBatches(in: DataFrame, ckpt: String)
      (body: (DataFrame, Long) => Unit): StreamingQuery =
    in.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch(body)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Drop a standing frame: unpersist it and free the blocks behind it if
    * it was localCheckpointed (a swapped-in index generation; a no-op for
    * a plainly persisted frame). */
  private def retire(frame: Dataset[_]): Unit = {
    frame.unpersist()
    graft.operators.IterStorage.release(frame.toDF())
  }

  /** Retire `frames` when `query` terminates (success or failure), then
    * deregister the listener — the cleanup contract for gates that build a
    * standing cached index at stream start: repeated gate runs in a
    * long-lived session hold exactly one live index each, never an
    * accumulation. `frames` is by-name, so it releases whatever frames are
    * standing AT termination (after a tombstone swap, the repaired ones).
    *
    * The listener can only be registered AFTER `start()` (it needs the
    * query id), so a fast-terminating query — `AvailableNow` over an
    * empty or already-consumed source finishes in milliseconds — may post
    * its terminated event BEFORE registration. The post-registration
    * `isActive` check closes that window: if the query already died, the
    * cleanup runs inline; the atomic guard makes the
    * check-then-event double-fire release exactly once. Returns `query`. */
  private def releaseOnTermination(query: StreamingQuery,
      frames: => Seq[Dataset[_]]): StreamingQuery = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val spark = query.sparkSession
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    def release(): Unit =
      if (released.compareAndSet(false, true)) frames.foreach(retire)
    lazy val listener: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == query.id) {
          release()
          spark.streams.removeListener(listener)
        }
    }
    spark.streams.addListener(listener)
    if (!query.isActive) {
      release()
      spark.streams.removeListener(listener)
    }
    query
  }

  /** The tombstone control path shared by the standing-index gates
    * ([[startNearDupGate]], [[startMediaDupGate]], [[startKnnAttachGate]]).
    * The `op` column is optional and read from the batch's schema:
    *
    *   - without it every row is an add, and `screen` gets the batch as
    *     it came — no persist and no tombstone probe, so an add-only
    *     stream pays nothing for the delete path;
    *   - with it, the `key` ids of `"delete"` rows go to `drop` (which
    *     removes them from the standing index) BEFORE `screen` gets the
    *     `"add"` rows — the CDC convention, so one batch can retire a
    *     corpus document and screen against its absence. Any other `op`
    *     value, null included, fails the query with a message naming it
    *     (raised inside the adds scan, so the check costs no job of its
    *     own): a gate owes one verdict per incoming document, and a row
    *     that is neither would otherwise vanish without one.
    *
    * `drop` runs only when the batch holds a tombstone; it should swap
    * the standing frames EAGERLY ([[without]]) so later batches never
    * re-derive lineage through dropped cache. */
  private def splitOps(batch: DataFrame, key: String)(drop: DataFrame => Unit)
      (screen: DataFrame => Unit): Unit =
    if (!batch.columns.contains("op")) screen(batch)
    else {
      val b = batch.persist()
      try {
        val tomb = b.filter(col("op") === "delete").select(col(key))
        if (!tomb.isEmpty) drop(tomb)
        screen(b.filter(opIs("add")))
      } finally b.unpersist()
    }

  /** True on rows whose `op` is `served`, false on `"delete"` rows; any
    * other value, null included, fails the scan that evaluates it with a
    * message naming the value — so a gate checks its stream's ops inside
    * the scan it runs anyway, with no job of its own. */
  private def opIs(served: String): Column =
    when(col("op") === "delete", false)
      .when(col("op") === served, true)
      .otherwise(raise_error(concat(lit("unknown op '"),
        coalesce(col("op"), lit("null")),
        lit("': gate stream rows must be \"" + served + "\" or \"delete\""))))

  /** `frame` without the rows whose `key` is in `tomb`, eagerly
    * localCheckpointed: the swap TRUNCATES lineage at the survivor frame,
    * so a lost cached block after the batch commits can never recompute
    * through the expired foreachBatch source or the retired previous
    * index generation (persist + count would keep that lineage). */
  private def without(frame: DataFrame, tomb: DataFrame, key: String): DataFrame =
    frame.join(broadcast(tomb), Seq(key), "left_anti").localCheckpoint(true)

  // ---- change capture -----------------------------------------------------

  /** The published `v=<id>` versions under `dir`, ascending — the one
    * listing rule of the versioned-state exactly-once device
    * ([[startChangeCapture]], [[startMergeApply]], [[startFeedApply]],
    * [[startFeedApplyMinmax]]). Listed through the Hadoop FileSystem API,
    * so versioned directories work on any supported filesystem
    * (HDFS/S3A/local), not only `java.io` paths. Empty when the directory
    * does not exist yet. */
  private def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Nil
    else fs.listStatus(path).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("v="))
      .flatMap(_.stripPrefix("v=").toLongOption)
      .sorted
  }

  /** Highest published version strictly below `beforeId` under `dir` —
    * the predecessor a batch, or its replay, reads. None when no prior
    * version exists: the first batch's empty-base case. */
  private def latestVersionBefore(spark: SparkSession, dir: String,
      beforeId: Long): Option[Long] =
    versions(spark, dir).filter(_ < beforeId).maxOption

  /** Streaming change capture — the continuous form of
    * [[graft.queries.ExtQueries.snapshotDiff]], for the crawl pipeline
    * whose upstream delivers periodic FULL snapshots (the common contract
    * for partner dumps and re-crawls): each micro-batch is one snapshot,
    * and `foreachBatch` diffs it against the warehouse's retained
    * fingerprints to emit a per-id added/changed/unchanged/removed
    * changelog, then publishes the snapshot's fingerprints for the next
    * batch. The diff itself IS the batch operator's
    * [[graft.queries.ExtQueries.fingerprintDiff]] — shared derivation, so
    * stream/batch parity holds by construction (and is spec-pinned
    * end-to-end anyway).
    *
    * Exactly-once across restarts: fingerprints are published to a
    * VERSIONED subdirectory keyed by the micro-batch id (`v=<batchId>`) and
    * the previous state is the highest version BELOW the current id — so a
    * replayed batch (after a crash between emit and checkpoint commit)
    * overwrites its own version and diffs against the same predecessor,
    * converging to the same changelog instead of compounding. Nothing is
    * overwritten in place; the read side never races the write side.
    *
    * At scale: state is the fingerprint table — |corpus| slim (id, hash)
    * rows, the same intermediate every incremental-crawl store keeps — and
    * the diff is one full-outer join of id-keyed frames per snapshot;
    * document text never reaches the join. `emit` receives the changelog
    * frame and must materialize it (write/collect) before returning, the
    * standard foreachBatch contract. */
  def startChangeCapture(snapshots: DataFrame, fingerprintDir: String,
      ckpt: String)(emit: DataFrame => Unit): StreamingQuery =
    startBatches(snapshots, ckpt) { (batch, batchId) =>
      val spark = batch.sparkSession
      // consumed by the diff AND the fingerprint publish — persist so the
      // snapshot hashes once, not once per consumer
      val cur = batch
        .select(col("doc_id"),
          graft.functions.GraftFunctions.hash64(col("text")).as("h_cur"))
        .persist()
      try {
        val prevVersion = latestVersionBefore(spark, fingerprintDir, batchId)
        val prev = prevVersion match {
          case Some(v) => spark.read.parquet(s"$fingerprintDir/v=$v")
            .select(col("doc_id"), col("h").as("h_prev"))
          case None => cur.select(col("doc_id"), col("h_cur").as("h_prev")).limit(0)
        }
        emit(graft.queries.ExtQueries.fingerprintDiff(cur, prev))
        cur.select(col("doc_id"), col("h_cur").as("h"))
          .write.mode("overwrite").parquet(s"$fingerprintDir/v=$batchId")
      } finally cur.unpersist()
    }

  /** Streaming CDC MERGE-APPLY — the continuous form of
    * [[graft.queries.ExtQueries.mergeApply]] and the APPLY half of the
    * capture/apply replication loop ([[startChangeCapture]] EMITS a
    * changelog; this CONSUMES one): each micro-batch is a keyed change set
    * (op ∈ D/U/I, with the full row for U/I), merged against the current
    * snapshot into the next snapshot version. The winner pick IS the batch
    * operator's [[graft.queries.ExtQueries.mergeWinners]] — one
    * definition, so stream/batch MERGE semantics cannot drift (and parity
    * is spec-pinned end-to-end anyway).
    *
    * Exactly-once across restarts: snapshots publish to versioned
    * subdirectories (`v=<batchId>`) and the base is the highest version
    * BELOW the current batch id — the [[startChangeCapture]] device: a
    * replayed batch overwrites its own version and merges against the
    * same predecessor, converging instead of compounding.
    *
    * At scale: each micro-batch shuffles |base| + |batch| slim rows once
    * on the merge key — the key-sort a table-format MERGE intrinsically
    * runs; the versioned directory IS the copy-on-write table history
    * (time travel for free, compaction via `e_compaction_plan`). `emit`
    * receives the committed next snapshot and must materialize it before
    * returning — the standard foreachBatch contract.
    *
    * RETENTION (`retainLast`): the VACUUM half of the lifecycle
    * `e_vacuum_plan` prices — after each batch's version commits, only
    * the newest `retainLast` versions are kept and older snapshot
    * directories are deleted (time travel below the floor is destroyed,
    * exactly as the dry-run's `n_versions_dropped` axis states). The
    * default retains everything. `retainLast` must be ≥ 2: a REPLAYED
    * micro-batch (crash between commit and checkpoint) re-merges against
    * the highest version below its id, so the predecessor must survive
    * retention — retention runs AFTER the new version commits, so the
    * replay invariant holds at every crash point. */
  def startMergeApply(changes: DataFrame, snapshotDir: String, ckpt: String,
      retainLast: Int = Int.MaxValue)(emit: DataFrame => Unit): StreamingQuery = {
    require(retainLast >= 2,
      s"retainLast must keep the current AND predecessor versions, got $retainLast")
    startBatches(changes, ckpt) { (batch, batchId) =>
      val spark = batch.sparkSession
      val dataCols = Seq("doc_id", "text", "lang", "source", "n_chars")
      val prevVersion = latestVersionBefore(spark, snapshotDir, batchId)
      val prev = prevVersion match {
        case Some(v) => spark.read.parquet(s"$snapshotDir/v=$v")
        case None => batch.select(dataCols.map(col): _*).limit(0)
      }
      val rows = prev
        .select(lit(0).as("src") +: lit("B").as("op") +: dataCols.map(col): _*)
        .unionByName(batch.select(lit(1).as("src") +: col("op") +: dataCols.map(col): _*))
      graft.queries.ExtQueries.mergeWinners(rows)
        .write.mode("overwrite").parquet(s"$snapshotDir/v=$batchId")
      emit(spark.read.parquet(s"$snapshotDir/v=$batchId"))
      if (retainLast != Int.MaxValue)
        versions(spark, snapshotDir).dropRight(retainLast).foreach { v =>
          val old = new org.apache.hadoop.fs.Path(s"$snapshotDir/v=$v")
          old.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(old, true)
        }
    }
  }

  /** Streaming MATERIALIZED-VIEW maintenance — the continuous form of
    * [[graft.queries.ExtQueries.feedApply]] and the consumer half of the
    * CDC loop at AGGREGATE grain ([[startChangeCapture]] emits a
    * changelog, [[startMergeApply]] maintains the TABLE; this maintains a
    * standing aggregate): each micro-batch is a change-feed slice
    * (`change_type` ∈ insert/delete/update_preimage/update_postimage with
    * the row payload), folded into the stored (lang, source) monoid state
    * by signed retract-then-apply deltas — the state updates with
    * |changes| work per trigger, never re-reading the base table, which
    * is the entire economics of a streaming materialized view. The sign
    * rule IS the batch operator's
    * [[graft.queries.ExtQueries.feedSign]] — one definition, so the
    * backfill path and the continuous path fold the same algebra (parity
    * spec-pinned per version against `e_feed_apply` anyway).
    *
    * `init` seeds the state with the base snapshot's partials (in
    * production: the stored state table's bootstrap — one batch aggregate
    * run once); the STATE stores raw partials (n_docs, sum_chars) and
    * `emit` receives the FINALIZED view (mean at read time — the
    * [[graft.queries.ExtQueries.incrAgg]] discipline). Groups folded to
    * zero count drop from the state, matching the batch key's contract.
    *
    * Exactly-once across restarts: the [[startMergeApply]] versioned-state
    * device — state publishes to `v=<batchId>`, the fold base is the
    * highest version BELOW the current batch id (or `init` when none), so
    * a replayed batch overwrites its own version and folds against the
    * same predecessor, converging instead of double-applying retractions.
    *
    * At scale: per trigger, ONE map-side-combined aggregate of the batch
    * to ≤|groups| delta rows + a |groups|-row full-outer fold — state
    * I/O is |groups| rows regardless of feed volume. */
  def startFeedApply(feed: DataFrame, init: DataFrame, stateDir: String,
      ckpt: String)(emit: DataFrame => Unit): StreamingQuery =
    startBatches(feed, ckpt) { (batch, batchId) =>
      val spark = batch.sparkSession
      val deltas = batch.select(col("lang"), col("source"),
          graft.queries.ExtQueries.feedSign.as("sgn"), col("n_chars"))
        .groupBy(col("lang"), col("source"))
        .agg(sum(col("sgn")).as("d_docs"),
          sum(col("sgn") * col("n_chars")).as("d_chars"))
      val prev = latestVersionBefore(spark, stateDir, batchId) match {
        case Some(v) => spark.read.parquet(s"$stateDir/v=$v")
        case None => init.select(col("lang"), col("source"),
          col("n_docs"), col("sum_chars"))
      }
      prev.join(deltas, Seq("lang", "source"), "full_outer")
        .select(col("lang"), col("source"),
          (coalesce(col("n_docs"), lit(0L))
            + coalesce(col("d_docs"), lit(0L))).as("n_docs"),
          (coalesce(col("sum_chars"), lit(0L))
            + coalesce(col("d_chars"), lit(0L))).as("sum_chars"))
        .filter(col("n_docs") > 0)
        .write.mode("overwrite").parquet(s"$stateDir/v=$batchId")
      emit(spark.read.parquet(s"$stateDir/v=$batchId")
        .withColumn("avg_chars",
          col("sum_chars").cast("double") / col("n_docs").cast("double")))
    }

  /** Streaming RETRACTABLE-EXTREMUM maintenance — the lazy max/min twin
    * of [[startFeedApply]] and the continuous form of the batch
    * `e_feed_apply_minmax` operator: each micro-batch of change-feed
    * rows folds into the stored per-(lang, source) (n_docs, max, min)
    * state through the batch key's OWN
    * [[graft.queries.ExtQueries.minmaxFold]] (one trigger rule — batch
    * backfill and continuous maintenance cannot drift), and the re-scan
    * a retracted extremum forces reads the gate's OWN maintained table
    * state — the stream keeps the row-level snapshot current from the
    * same feed (delete/update_preimage remove, insert/update_postimage
    * upsert), so the fallback never leaves the state store. Emits the
    * maintained extremum view per trigger with the per-group `rescans`
    * bill.
    *
    * Exactly-once across restarts: the [[startMergeApply]]
    * versioned-state device on BOTH stores (`table/v=<id>`,
    * `agg/v=<id>`) — a replayed batch overwrites its own versions and
    * folds against the same predecessors.
    *
    * At scale: per trigger ONE map-side-combined delta aggregate +
    * a \|groups\|-row fold; the table state costs \|changes\| upserts
    * per trigger (the stored table a production pipeline maintains
    * anyway); ONLY triggered groups re-read it, semi-join-restricted
    * inside the shared fold. */
  def startFeedApplyMinmax(feed: DataFrame, initTable: DataFrame,
      initAgg: DataFrame, stateDir: String, ckpt: String)
      (emit: DataFrame => Unit): StreamingQuery =
    startBatches(feed, ckpt) { (batch, batchId) =>
      import graft.queries.ExtQueries
      val spark = batch.sparkSession
      val b = batch.persist()
      try {
        val prevT = latestVersionBefore(spark, s"$stateDir/table", batchId) match {
          case Some(v) => spark.read.parquet(s"$stateDir/table/v=$v")
          case None => initTable.select(col("doc_id"), col("lang"),
            col("source"), col("n_chars"))
        }
        val prevA = latestVersionBefore(spark, s"$stateDir/agg", batchId) match {
          case Some(v) => spark.read.parquet(s"$stateDir/agg/v=$v")
          case None => initAgg.select(col("lang"), col("source"),
            col("n_docs"), col("max_chars"), col("min_chars"))
        }
        // table maintenance: retractions remove, images upsert (the
        // upsert anti-join makes a replayed postimage idempotent)
        val removes = b
          .filter(col("change_type").isin("delete", "update_preimage"))
          .select(col("doc_id"))
        val upserts = b
          .filter(col("change_type").isin("insert", "update_postimage"))
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        prevT.join(removes, Seq("doc_id"), "left_anti")
          .join(upserts.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .unionByName(upserts)
          .write.mode("overwrite").parquet(s"$stateDir/table/v=$batchId")
        val tbl = spark.read.parquet(s"$stateDir/table/v=$batchId")
        val aggs = ExtQueries.minmaxDeltaAggs
        val deltas = b.groupBy(col("lang"), col("source"))
          .agg(aggs.head, aggs.tail: _*)
        ExtQueries.minmaxFold(prevA, deltas, tbl)
          .write.mode("overwrite").parquet(s"$stateDir/agg/v=$batchId")
        emit(spark.read.parquet(s"$stateDir/agg/v=$batchId"))
      } finally b.unpersist()
    }

  /** Streaming MEDIA near-duplicate gate — the perceptual-hash twin of
    * [[startNearDupGate]] and the continuous form of
    * [[graft.queries.ExtQueries.mediaDedup]]: each micro-batch of incoming
    * media payloads is screened against a STANDING corpus signature index
    * (perceptual band keys, built ONCE at stream start and persisted),
    * emitting one verdict row per incoming document —
    * `(doc_id, is_media_dup, match_id, hamming)`, match_id the smallest
    * corpus id within Hamming ≤ τ and hamming that match's distance.
    *
    * The signature/band/verify derivations ARE the batch operator's
    * ([[graft.queries.ExtQueries.phashSignatures]] → `phashBands` →
    * `phashPairs`) — one definition, so the continuous and batch media
    * screens cannot drift (parity spec-pinned).
    *
    * Tombstones: the `op` column is optional. Without it every row is
    * screened. With it, `"add"` rows are screened and `"delete"` rows
    * remove their doc_ids from the standing signature index mid-stream
    * (the perceptual index keeps no derived per-node state, so the
    * anti-join IS the whole repair, and the band projection re-derives
    * from the swapped signature frame); deletes apply before the same
    * batch's adds, and any other `op` value fails the query
    * ([[splitOps]]). Parity vs restart-with-survivors and a live "deleted
    * media stops matching" case are spec-pinned.
    *
    * At scale: the corpus index is FOUR LONGS per document (the cheapest
    * standing index in the repo — minhash keeps whole shingle sets for its
    * verify; the perceptual verify needs only the signature itself), so it
    * persists once and broadcasts cheaply; each micro-batch shuffles only
    * its own |batch|·bands slim rows into the bucket join, and payload
    * bytes never cross the wire. `emit` must materialize the verdict frame
    * before returning — the standard foreachBatch contract. */
  def startMediaDupGate(docs: DataFrame, corpus: DataFrame, ckpt: String)
      (emit: DataFrame => Unit): StreamingQuery = {
    import graft.queries.ExtQueries
    var corpusSigs = ExtQueries
      .phashSignatures(corpus.select(col("doc_id"), col("text")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var corpusBands = ExtQueries.phashBands(corpusSigs)
    releaseOnTermination(startBatches(docs, ckpt) { (batch, _) =>
      splitOps(batch, "doc_id") { tomb =>
        val newSigs = without(corpusSigs, tomb, "doc_id")
        retire(corpusSigs)
        corpusSigs = newSigs
        corpusBands = ExtQueries.phashBands(newSigs)
      } { adds =>
        // persisted: probed by the gate join AND the verdict assembly
        val bSigs = ExtQueries.phashSignatures(
          adds.select(col("doc_id"), col("text"))).persist()
        try {
          val matches = ExtQueries
            .phashPairs(corpusBands, ExtQueries.phashBands(bSigs), lit(true))
            .groupBy(col("doc_b").as("doc_id"))
            // smallest matching corpus id (the startNearDupGate convention),
            // carrying ITS hamming — struct min is lexicographic on (id, h)
            .agg(min(struct(col("doc_a"), col("hamming"))).as("m"))
          emit(bSigs.select(col("doc_id"))
            .join(matches, Seq("doc_id"), "left")
            .select(col("doc_id"),
              col("m").isNotNull.as("is_media_dup"),
              col("m.doc_a").as("match_id"),
              col("m.hamming").as("hamming")))
        } finally bSigs.unpersist()
      }
    }, Seq(corpusSigs))
  }

  /** Streaming NEAR-duplicate gate — the continuous form of
    * [[graft.queries.ExtQueries.crossDedup]], and the near-miss upgrade of
    * [[dedupStream]]'s exact-fingerprint screen: every micro-batch of
    * incoming documents is checked against a STANDING corpus index
    * (minhash band keys + shingle sets, built ONCE at stream start and
    * persisted across batches), emitting one verdict row per incoming
    * document — `(doc_id, is_near_dup, match_id)`, match_id the smallest
    * corpus id whose exact-verified Jaccard clears 0.5.
    *
    * The candidate+verify dataflow IS the batch operator's
    * [[graft.queries.ExtQueries.crossNearDupPairs]] core — one definition,
    * so the continuous and batch incremental-dedup paths cannot drift
    * (spec-pinned against [[graft.queries.ExtQueries.crossDedup]] anyway).
    *
    * Tombstones close the streaming half of the GDPR cascade
    * (`e_delete_apply` / `e_index_delete` are the batch half). The `op`
    * column is optional. Without it every row is screened. With it,
    * `"add"` rows are screened and `"delete"` rows remove their doc_ids
    * from the standing index mid-stream (shingle and band rows anti-joined
    * out — the index keeps no derived per-node state, so the anti-join IS
    * the whole repair), without the restart-with-survivors a static index
    * forces; deletes apply before the same batch's adds, and any other
    * `op` value fails the query ([[splitOps]]). A tombstone costs one
    * eager anti-join of the standing frames, paid once per control batch.
    * Parity is spec-pinned: after a tombstone batch, verdicts equal a
    * fresh gate started over the survivor corpus.
    *
    * At scale this is precisely the "static bucketed index" story the batch
    * operator's scaladoc promises: the corpus side shingles/bands/persists
    * once, each micro-batch shuffles only its own |batch|·bands slim rows
    * into the bucket join, and the per-batch shingle frame is dropped when
    * its batch commits (`persist = false` on the batch banding; the batch
    * shingle persist is released in the same foreachBatch scope). `emit`
    * must materialize the verdict frame before returning — the standard
    * foreachBatch contract. */
  def startNearDupGate(docs: DataFrame, corpus: DataFrame, ckpt: String)
      (emit: DataFrame => Unit): StreamingQuery = {
    import graft.queries.ExtQueries
    var corpusShd = ExtQueries.shingleSets(corpus.select(col("doc_id"), col("text")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // persisted inside minhashBands (persist = true default)
    var corpusBands = ExtQueries.minhashBands(corpusShd)
    releaseOnTermination(startBatches(docs, ckpt) { (batch, _) =>
      splitOps(batch, "doc_id") { tomb =>
        val newShd = without(corpusShd, tomb, "doc_id")
        val newBands = without(corpusBands, tomb, "doc_id")
        retire(corpusShd); retire(corpusBands)
        corpusShd = newShd; corpusBands = newBands
      } { adds =>
        val bShd = ExtQueries.shingleSets(adds.select(col("doc_id"), col("text")))
          .persist()
        try {
          val bBands = ExtQueries.minhashBands(bShd, persist = false)
          val matches = ExtQueries
            .crossNearDupPairs(corpusBands, corpusShd, bBands, bShd)
            .groupBy(col("doc_b").as("doc_id"))
            .agg(min(col("doc_a")).as("match_id"))
          emit(adds.select(col("doc_id"))
            .join(matches, Seq("doc_id"), "left")
            .select(col("doc_id"),
              col("match_id").isNotNull.as("is_near_dup"), col("match_id")))
        } finally bShd.unpersist()
      }
    }, Seq(corpusShd, corpusBands))
  }

  /** Streaming FILTERED vector serving — the continuous form of
    * [[graft.queries.ExtQueries.ivfFilter]]: a STATIC labeled IVF index
    * (cell assignment + centroid table, built ONCE at stream start from
    * the corpus frame and persisted across batches) serves every
    * micro-batch of incoming query vectors with the predicate pushed
    * INSIDE the index — per query, the [[graft.queries.ExtQueries.IvfFilterNprobe]]
    * nearest cells are probed, in-cell candidates are predicate-filtered
    * BEFORE scoring, and the bounded-state top-k per query is emitted as
    * `(qid, cid, score, rank)`.
    *
    * Index build, probe schedule and serve are the batch operator's OWN
    * [[graft.queries.ExtQueries.ivfLabeledIndex]] /
    * [[graft.queries.ExtQueries.ivfFilterProbes]] /
    * [[graft.queries.ExtQueries.ivfFilterServe]] — one definition, so the
    * continuous and batch filtered-serving paths cannot drift
    * (spec-pinned against the batch key anyway, the [[startNearDupGate]]
    * discipline).
    *
    * At scale: the corpus assigns once and never shuffles again; each
    * micro-batch contributes only its |batch|·nprobe-row probe list,
    * which BROADCASTS into the persisted index scan; per-query state is
    * the aggregator's bounded top-k buffer — nothing streams between
    * batches, so state is zero across triggers. `emit` must materialize
    * the verdict frame before returning — the standard foreachBatch
    * contract. */
  def startFilteredVectorGate(queries: DataFrame, corpus: DataFrame, ckpt: String)
      (emit: DataFrame => Unit): StreamingQuery = {
    import graft.queries.ExtQueries
    val (assigned, cents) = ExtQueries.ivfLabeledIndex(corpus)
    val idx = assigned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centTable = cents.persist()
    releaseOnTermination(startBatches(queries, ckpt) { (batch, _) =>
      emit(ExtQueries.ivfFilterServe(idx,
        ExtQueries.ivfFilterProbes(
          batch.select(col("vec_id"), col("embedding"), col("label")),
          centTable)))
    }, Seq(idx, centTable))
  }
  /** Delete-aware ADAPTIVE filtered vector serving — the tombstone
    * control path for the richest standing index in the streaming layer,
    * and the production upgrade of [[startFilteredVectorGate]]'s fixed
    * nprobe: the standing state is the labeled IVF assignment, the seed
    * centroid table (the quantizer stays fixed on delete — retraining is
    * `e_index_retrain`'s separate concern) AND the per-(cell, label)
    * candidate-count table the guaranteed-k adaptive plan decides from
    * ([[graft.queries.ExtQueries.ivfFilterAdaptive]]'s schedule — the
    * SAME [[graft.queries.ExtQueries.ivfProbeScheduleFrom]] /
    * [[graft.queries.ExtQueries.ivfAdaptivePlanOf]] bodies, so the
    * continuous and batch adaptive plans cannot drift).
    *
    * Stream rows carry `op` — `"query"` rows serve; `"delete"` rows
    * tombstone corpus vec_ids: the assignment anti-joins, and the COUNT
    * TABLE IS MAINTAINED INCREMENTALLY — the deleted rows' own (cell,
    * label) groups decrement it (never a recount; zeroed cells drop).
    * The maintenance is load-bearing, not bookkeeping: the adaptive plan
    * walks cells until the counts promise the target k, so a STALE count
    * over-promises a thinned cell and the plan under-probes — serving
    * fewer than the guaranteed k. Any other `op`, null included, fails
    * the query naming the value ([[opIs]], checked inside the queries
    * scan, so it costs no job). Maintained ≡ recounted and the
    * mis-probe counterexample are both spec-pinned, along with parity vs
    * the batch adaptive serve over survivors. The probe knobs are
    * parameters (production defaults) — at the gate fixture scale every
    * per-label candidate total sits under the production spill bound, so
    * the spec drives `spillMax = 0` to exercise the genuinely adaptive
    * regime (the batch operator's own corner-knob pattern).
    *
    * At scale: a tombstone costs one anti-join of the slim assignment
    * plus a ≤\|cells\|·\|labels\|-row metadata fold — never a corpus
    * re-assignment; the swap is the eager-localCheckpoint discipline.
    * Queries pay the batch operator's own bill: the plan runs on COUNTS,
    * probes broadcast, the corpus never reshuffles. */
  def startFilteredVectorGateWithDeletes(queries: DataFrame,
      corpus: DataFrame, ckpt: String,
      targetK: Int = graft.queries.ExtQueries.IvfAdaptiveTargetK,
      spillMax: Long = graft.queries.ExtQueries.IvfAdaptiveSpillMax)
      (emit: DataFrame => Unit): StreamingQuery = {
    import graft.queries.ExtQueries
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val (assignedRaw, cents0) = ExtQueries.ivfLabeledIndex(corpus)
    val centTable = cents0.persist()
    var idx = assignedRaw.persist(sl)
    var counts = ExtQueries.ivfCellCounts(idx).persist(sl)
    releaseOnTermination(startBatches(queries, ckpt) { (batch, _) =>
      val b = batch.persist()
      try {
        val tomb = b.filter(col("op") === "delete").select(col("vec_id"))
        if (!tomb.isEmpty) {
          // decrement from the deleted rows' OWN assignment — the
          // incremental fold, certified against a recount by the spec
          val dec = idx.join(broadcast(tomb), Seq("vec_id"), "left_semi")
            .groupBy(col("cell"), col("label"))
            .agg(count(lit(1)).as("d"))
          val newIdx = without(idx, tomb, "vec_id")
          val newCounts = counts.join(broadcast(dec), Seq("cell", "label"),
              "left")
            .select(col("cell"), col("label"),
              (col("m") - coalesce(col("d"), lit(0L))).as("m"))
            .filter(col("m") > 0)
            .localCheckpoint(true)
          retire(idx); retire(counts)
          idx = newIdx; counts = newCounts
        }
        val q = b.filter(opIs("query"))
          .select(col("vec_id"), col("embedding"), col("label"))
        val qcum = ExtQueries.ivfProbeScheduleFrom(counts, centTable, q)
        val qplan = ExtQueries.ivfAdaptivePlanOf(qcum, targetK, spillMax)
        val probe = qcum.join(broadcast(qplan), Seq("qid"))
          .filter(col("crank") <= col("eff_nprobe"))
          .select(col("qid"), col("qe"), col("nq"), col("tgt"), col("cell"))
        emit(ExtQueries.ivfFilterServe(idx, probe))
      } finally b.unpersist()
    }, Seq(idx, counts, centTable))
  }

  /** Streaming incremental-kNN ATTACH gate — the continuous form of
    * [[graft.queries.ExtQueries.incrKnn]] (the daily embedding-batch
    * attach), per the [[startFilteredVectorGate]] discipline: the STATIC
    * quantizer (seed centroid table), assigned corpus and STANDING
    * adjacency are built ONCE at stream start and persisted; each
    * micro-batch of arriving `(vec_id, embedding)` vectors is assigned to
    * its cells, scored only against batch-receiving cells' members (plus
    * co-batch arrivals), and the TOUCHED-node adjacency — new nodes' full
    * top-k plus existing nodes whose lists the arrivals change — is
    * emitted as `(src, nbr, score, rank)`.
    *
    * Assignment, scoring and the attach merge are the batch operator's OWN
    * [[graft.queries.ExtQueries.knnAssign]] /
    * [[graft.queries.ExtQueries.knnAttach]] — one definition, so the
    * continuous and daily attach paths cannot drift (parity is spec-pinned
    * against the shared core across ≥2 micro-batches anyway).
    *
    * Tombstones: the `op` column is optional. Without it every row
    * attaches. With it, `"add"` rows attach and `"delete"` rows tombstone
    * `vec_id`s out of the standing assignment and adjacency; deletes apply
    * before the same batch's adds, and any other `op` value fails the
    * query ([[splitOps]]). Deletion here is not a plain anti-join: a node
    * whose top-k contained a deleted neighbor must be RESCORED against
    * survivors (the deletion can promote a node from outside the old
    * top-k). The repair body is the graded `e_index_delete` key's own
    * [[graft.queries.ExtQueries.knnRepairEdges]] — one definition, so the
    * batch GDPR cascade and the mid-stream delete path cannot drift; that
    * key's oracle certifies repair ≡ rebuild-over-survivors, which is
    * exactly the parity the gate's spec re-pins end to end. Repair cost
    * is |touched|·|cell| rescored pairs per control batch, never a corpus
    * rebuild and never a stream restart.
    *
    * At scale: the standing index is |corpus| slim assigned rows plus the
    * |corpus|·k adjacency — persisted once, never reshuffled; each
    * micro-batch contributes |batch|·|cell| scored pairs (proportional to
    * the BATCH, never |corpus|²) and its per-batch assignment is released
    * when the batch commits; per-node top-k is the bounded-state
    * aggregator, so only slim (src, nbr, score) rows ever shuffle. Nothing
    * streams between batches — each batch attaches against the standing
    * graph independently (merging successive batches into the standing
    * adjacency is the sink's compaction, exactly as in production where
    * the adjacency is a stored table the attach job appends to). `emit`
    * must materialize the verdict frame before returning — the standard
    * foreachBatch contract. */
  def startKnnAttachGate(batches: DataFrame, corpus: DataFrame, ckpt: String)
      (emit: DataFrame => Unit): StreamingQuery = {
    import graft.queries.ExtQueries
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val cents = ExtQueries.seedCentroidsOf(corpus).persist()
    var corpusAssigned = ExtQueries.knnAssign(corpus, cents).persist(sl)
    var standing = ExtQueries.knnAdjacency(corpusAssigned).persist(sl)
    releaseOnTermination(startBatches(batches, ckpt) { (batch, _) =>
      splitOps(batch, "vec_id") { tomb =>
        val newAssigned = without(corpusAssigned, tomb, "vec_id")
        val newStanding = ExtQueries.knnRepairEdges(newAssigned, standing,
          tomb.select(col("vec_id").as("del_id"))).localCheckpoint(true)
        retire(corpusAssigned); retire(standing)
        corpusAssigned = newAssigned; standing = newStanding
      } { adds =>
        // persisted: both the batch-node scoring and the touched-cell
        // screen consume the assignment; released when the batch commits
        val batchAssigned = ExtQueries.knnAssign(
          adds.select(col("vec_id"), col("embedding")), cents).persist()
        try emit(ExtQueries.knnAttach(corpusAssigned, standing, batchAssigned))
        finally batchAssigned.unpersist()
      }
    }, Seq(cents, corpusAssigned, standing))
  }

  // ---- trending tokens ----------------------------------------------------

  /** Watermarked per-window token counts over a document stream — the
    * reference pipeline's core product (a trending report) as a continuous
    * query instead of a cron batch: tokens explode scan-side, counts
    * aggregate into tumbling `every` windows, and APPEND mode emits each
    * (window_start, token, n) row exactly once — in the micro-batch whose
    * watermark closes its window.
    *
    * At scale: aggregation state is |open windows| × |distinct tokens|
    * partial counts (map-side combined), never documents; `horizon` bounds
    * how long a window stays open, so state reaches steady state. */
  def tokenWindowCounts(docs: DataFrame, horizon: String, every: String): DataFrame =
    docs
      .withWatermark("ts", horizon)
      .select(col("ts"),
        explode(graft.functions.GraftFunctions.tokens(col("text"))).as("token"))
      .groupBy(window(col("ts"), every), col("token"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("token"), col("n"))

  /** Batch-side finalizer for [[startTrending]]: top-`k` tokens per closed
    * window, ties pinned (count DESC, token ASC). Runs inside foreachBatch
    * over FINALIZED windows only — a closed window's rows all land in the
    * same micro-batch (windowed state flushes atomically once the watermark
    * passes), so the per-window ranking is always complete, never partial.
    * The ranking window partitions by window_start: group size is bounded
    * by one window's distinct tokens, and only closed windows' counts —
    * not the document stream — reach it. */
  def trendingTokens(closedCounts: DataFrame, k: Int): DataFrame = {
    val byWindow = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window_start")).orderBy(col("n").desc, col("token").asc)
    closedCounts
      .withColumn("rank", row_number().over(byWindow))
      .filter(col("rank") <= k)
  }

  /** Continuous trending-tokens report: [[tokenWindowCounts]] wired through
    * foreachBatch → [[trendingTokens]] → `write`. The sink callback receives
    * one top-k frame per micro-batch, containing exactly the windows that
    * batch closed (possibly none). Checkpointed: each window's report is
    * produced exactly once across restarts. */
  def startTrending(docs: DataFrame, horizon: String, every: String, k: Int,
      ckpt: String)(write: DataFrame => Unit): StreamingQuery =
    startBatches(tokenWindowCounts(docs, horizon, every), ckpt) { (batch, _) =>
      write(trendingTokens(batch, k))
    }

  /** Streaming heavy-hitter WATCHLIST per tumbling window — the
    * [[graft.functions.MisraGriesAggregator]] sketch run inside the
    * watermarked window aggregate: per closed window, the total token
    * count and the ≤ k−1 candidate tokens guaranteed to include every
    * token with in-window frequency > n/k. This is the bounded-state
    * sibling of [[tokenWindowCounts]]: the exact path's state per open
    * window is that window's whole distinct-token map (fine for bounded
    * vocabularies, unaffordable for open domains — URLs, ids, n-grams),
    * while the sketch holds k−1 counters per window REGARDLESS of domain
    * size. The tradeoff is the batch operator's
    * ([[graft.queries.ExtQueries.heavyHitters]]) by design: candidates may
    * include hangers-on, never miss a true heavy hitter — the downstream
    * exact recount (batch pass 2 over the lake, where the window's rows
    * are at rest) finalizes, so the stream emits the WATCHLIST, not the
    * verdict. Survival across Spark's partial-buffer merge tree is the
    * aggregator's PODS'12 merge guarantee — the same property the
    * ScalaCheck spec drives with random merge trees. */
  def heavyHitterWindows(docs: DataFrame, horizon: String, every: String,
      k: Int): DataFrame = {
    val agg = new graft.functions.MisraGriesAggregator(k)
    val mg = udaf(agg, agg.inputEncoder)
    docs
      .withWatermark("ts", horizon)
      .select(col("ts"),
        explode(graft.functions.GraftFunctions.tokens(col("text"))).as("token"))
      .groupBy(window(col("ts"), every))
      .agg(count(lit(1)).as("n_total"), mg(col("token")).as("candidates"))
      .select(col("window.start").as("window_start"), col("n_total"),
        col("candidates"))
  }

  /** Continuous heavy-hitter watchlist: [[heavyHitterWindows]] wired to a
    * checkpointed append sink — one row per closed window, produced exactly
    * once across restarts ([[startTrending]]'s contract). */
  def startHeavyHitters(docs: DataFrame, horizon: String, every: String,
      k: Int, ckpt: String)(write: DataFrame => Unit): StreamingQuery =
    startBatches(heavyHitterWindows(docs, horizon, every, k), ckpt) { (batch, _) =>
      write(batch)
    }

  /** Streaming Count-Min grid per tumbling window — the online form of
    * [[graft.queries.ExtQueries.countMin]]'s sketch, and the sketch whose
    * LINEARITY makes windowed operation honest: per closed window the
    * emitted (r, b, cnt) cells are a plain counting aggregate over the
    * window's token stream, so two windows' grids ADD cell-wise into any
    * coarser horizon (hourly grids sum into the daily grid, daily into the
    * lake's — bit-exactly, because every cell is an integer count), which
    * Misra-Gries candidates cannot do (merging watchlists re-approximates).
    * Point estimates are served downstream exactly as in the batch
    * operator: min over the d cells of a token's buckets, never under the
    * window-local truth. Buckets come from the batch operator's OWN
    * [[graft.queries.ExtQueries.cmBuckets]] — one derivation, so the
    * online and offline grids can never hash differently.
    *
    * State per open window is the d·w cell grid REGARDLESS of vocabulary
    * ([[heavyHitterWindows]]'s bounded-state discipline, with w·d ≈ 2k
    * counters instead of k−1 — the price of answering ARBITRARY point
    * queries instead of only "who is heavy"); map-side combined; `horizon`
    * bounds open windows. */
  def countMinWindows(docs: DataFrame, horizon: String, every: String): DataFrame =
    docs
      .withWatermark("ts", horizon)
      .select(col("ts"),
        explode(graft.functions.GraftFunctions.tokens(col("text"))).as("token"))
      .select(col("ts"),
        posexplode(graft.queries.ExtQueries.cmBuckets(col("token"))))
      .groupBy(window(col("ts"), every), col("pos"), col("col"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("pos").as("r"), col("col").as("b"), col("cnt"))

  /** Continuous Count-Min grids: [[countMinWindows]] wired to a
    * checkpointed append sink — each closed window's cells emitted exactly
    * once across restarts ([[startTrending]]'s contract). */
  def startCountMin(docs: DataFrame, horizon: String, every: String,
      ckpt: String)(write: DataFrame => Unit): StreamingQuery =
    startBatches(countMinWindows(docs, horizon, every), ckpt) { (batch, _) =>
      write(batch)
    }

  /** Streaming length-distribution histogram per tumbling window — the
    * online half of the drift monitor: per (window, token-length bucket)
    * document counts, bucketed by the batch operator's OWN
    * [[graft.queries.ExtQueries.lengthBucket]] (one definition — the
    * online histogram and `e_domain_drift`'s offline one cannot bucket
    * differently). State per open window is ≤ 16 bucket counters,
    * map-side combined; `horizon` bounds open windows. */
  def driftWindows(docs: DataFrame, horizon: String, every: String): DataFrame =
    docs
      .withWatermark("ts", horizon)
      .select(col("ts"), graft.queries.ExtQueries.lengthBucket(col("text")).as("b"))
      .groupBy(window(col("ts"), every), col("b"))
      .agg(count(lit(1)).as("o"))
      .select(col("window.start").as("window_start"), col("b"), col("o"))

  /** Batch-side finalizer for [[startDriftMonitor]]: per closed window,
    * the exact total-variation distance of that window's length histogram
    * against a STATIC reference histogram `reference` (`b`, `c_b`) — the
    * warehouse corpus distribution, typically `e_domain_drift`'s input
    * aggregated once. The arithmetic mirrors the batch operator exactly:
    * TV numerators Σ|o_b·N_ref − c_b·n_w| in exact integers over a DENSE
    * bucket grid, one IEEE divide for the reported distance, the same
    * integer-encoded argmax for the worst bucket. The grid here spans the
    * full 0..[[graft.queries.ExtQueries.DriftMaxBucket]] bucket domain
    * (bounded by construction), so a window observing a bucket the
    * reference lacks still contributes o_b·N_ref — the asymmetric case the
    * batch operator's self-referential mix cannot produce but an external
    * reference can.
    *
    * Runs inside foreachBatch over FINALIZED windows only (the
    * [[trendingTokens]] contract: a closed window's rows flush atomically),
    * so every emitted TV is complete, never partial.
    *
    * OVERFLOW BOUND (shared with the batch operator — stated in
    * [[graft.queries.ExtQueries.domainDrift]]'s scaladoc): the argmax
    * encoding term·16 + (15−b) needs each term |o_b·N_ref − c_b·n_w| < 2⁵⁹,
    * which holds while n_w·N_ref < 2⁵⁹ ≈ 5.8·10¹⁷ (a window of 10⁹ docs
    * against a 5·10⁸-doc reference). Past that, pre-scale both histograms
    * by a common divisor before calling — TV is scale-invariant, so the
    * distance and argmax are unchanged. */
  def windowDrift(closedCounts: DataFrame, reference: DataFrame): DataFrame = {
    val maxB = graft.queries.ExtQueries.DriftMaxBucket
    val nw = closedCounts.groupBy(col("window_start")).agg(sum(col("o")).as("n_w"))
    val refTot = reference.agg(sum(col("c_b")).as("n_ref"))
    val grid = nw
      .crossJoin(broadcast(
        closedCounts.sparkSession.range(0, maxB + 1)
          .select(col("id").cast("int").as("b"))))
      .join(closedCounts, Seq("window_start", "b"), "left")
      .na.fill(0L, Seq("o"))
      .join(broadcast(reference), Seq("b"), "left")
      .na.fill(0L, Seq("c_b"))
      .crossJoin(broadcast(refTot))
      .withColumn("term",
        abs(col("o") * col("n_ref") - col("c_b") * col("n_w")))
    grid.groupBy(col("window_start"))
      .agg(min(col("n_w")).as("n_docs"), min(col("n_ref")).as("n_ref"),
        sum(col("term")).as("tv_num"),
        max(col("term") * lit(16L) + (lit(maxB.toLong) - col("b"))).as("enc"))
      .select(col("window_start"), col("n_docs"), col("tv_num"),
        (col("tv_num").cast("double")
          / (lit(2.0) * col("n_docs").cast("double") * col("n_ref").cast("double")))
          .as("tv"),
        (lit(maxB) - pmod(col("enc"), lit(16L)).cast("int")).as("top_bucket"),
        expr("enc div 16").as("top_term"))
  }

  /** Continuous distribution-drift monitor: [[driftWindows]] wired through
    * foreachBatch → [[windowDrift]] against the broadcast static reference
    * → `write` — the alert feed a data-mixing team points at ingest (a
    * window whose TV jumps means the crawl mix changed NOW, not at the
    * next offline `e_domain_drift` run). Checkpointed: each window's
    * verdict is produced exactly once across restarts. */
  def startDriftMonitor(docs: DataFrame, reference: DataFrame, horizon: String,
      every: String, ckpt: String)(write: DataFrame => Unit): StreamingQuery =
    startBatches(driftWindows(docs, horizon, every), ckpt) { (batch, _) =>
      write(windowDrift(batch, reference))
    }

  /** One input event for [[funnelStream]]. */
  case class FunnelEvent(user_id: Long, event_id: Long, ts: Timestamp,
      event_type: String)
  /** One step-advance record: user reached `step` (1-based) at `at_us`. */
  case class FunnelProgress(user_id: Long, step: Int, event_type: String,
      at_us: Long)
  /** Carry-over per-user funnel position: highest step reached and its
    * conversion time in epoch micros. */
  case class FunnelState(step: Int, tUs: Long)

  /** The pure funnel walk: fold TIME-ORDERED (event_type, us) pairs into
    * the carried state, returning the advanced state and the emitted
    * progress rows. Factored out of the stream so the property spec can
    * drive the same function the stream runs — including the micro-batch
    * COMPOSITION law (walking a sequence in arbitrarily-split ordered
    * chunks with carried state ≡ walking it in one pass), which is exactly
    * the guarantee checkpointed state must provide. */
  private[graft] def funnelWalk(user: Long, start: FunnelState,
      ordered: Seq[(String, Long)]): (FunnelState, Vector[FunnelProgress]) = {
    val steps = graft.queries.ExtQueries.FunnelSteps
    var s = start
    var out = Vector.empty[FunnelProgress]
    for ((et, us) <- ordered) {
      if (s.step < steps.length && et == steps(s.step) && us > s.tUs) {
        s = FunnelState(s.step + 1, us)
        out :+= FunnelProgress(user, s.step, et, us)
      }
    }
    (s, out)
  }

  /** Streaming ordered-funnel progression — the ONLINE form of
    * [[graft.queries.ExtQueries.funnel]]: the same strictly-after rule
    * (step k's conversion is the first step-k event later than step k−1's
    * conversion time), run as a per-user state machine that emits a
    * [[FunnelProgress]] row the moment a user advances. The batch form
    * answers "how many converted"; this answers it continuously, which is
    * what a launch-day dashboard actually consumes.
    *
    * In-batch ordering: events arrive unordered per key within a
    * micro-batch, so each group slice sorts by full timestamp + event_id
    * (the [[sessionize]] device) before the walk; across batches the state
    * carries (step, t). Events that arrive LATE across a batch boundary —
    * after a later event already advanced the step — are ignored, the
    * standard at-the-watermark tradeoff of every online funnel (the batch
    * operator over the full log is the reconciliation).
    *
    * At scale: state is TWO numbers per user (the smallest state of any
    * stateful op here); the shuffle groups by user_id — the batch form's
    * partitioning; emitted rows are step advances only (≤ |steps| per user
    * ever), so the sink sees a trickle, not the event stream. */
  def funnelStream(events: Dataset[FunnelEvent]): Dataset[FunnelProgress] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val ordered = it.toVector
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            .map(e => (e.event_type,
              // floorDiv, not /: truncation-toward-zero would diverge from
              // the batch funnel's unix_micros (floor) on pre-epoch
              // timestamps with sub-second parts.
              Math.floorDiv(e.ts.getTime, 1000L) * 1000000L +
                e.ts.getNanos / 1000))
          val (s, out) = funnelWalk(user,
            state.getOption.getOrElse(FunnelState(0, Long.MinValue)), ordered)
          state.update(s)
          out.iterator
      }
  }
}
