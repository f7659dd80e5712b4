package graft.streaming

import graft.compile.RuleCompiler
import graft.resume.Checkpoint
import graft.schema.Schema
import graft.validate.Validator
import graft.verdict.Verdict
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery, Trigger}

/** Structured-Streaming validation: the micro-batch analog of the
  * reference's fixed-interval recompute tick
  * (app/.../HomeViewModel.kt:61-81) and 30s tumbling window
  * (rust/src/lib.rs:192, app/.../TotpUtil.kt:32-41).
  *
  * All rule evaluation is the SAME compiled Column expressions as the
  * batch path (stateless projections — streaming-safe by construction);
  * only the windowed rollup adds event-time state, bounded by the
  * watermark.
  */
object StreamingValidator {

  /** Running per-key totals held in state (ST4). */
  final case class KeyTotals(nRows: Long, nViolations: Long, nErrors: Long)

  /** One output row per touched/expired key per micro-batch. */
  final case class KeyVerdict(
      key: String,
      n_rows: Long,
      n_violations: Long,
      n_errors: Long,
      pass: Boolean,
      expired: Boolean)

  /** Tumbling-window violation-rate verdicts per partition column:
    * `(window, partitionCol, n_rows, n_violations, pass)`. The
    * watermark bounds state so the query runs indefinitely.
    */
  def windowedVerdicts(
      stream: DataFrame,
      schema: Schema,
      tsCol: String,
      partitionCol: String,
      windowLength: String = "30 seconds",
      watermarkDelay: String = "1 minute"
  ): DataFrame =
    Validator.annotate(stream, schema)
      .withColumn("__n_err", RuleCompiler.errorCount(schema))
      // Event time must be TIMESTAMP (parquet often yields TIMESTAMP_NTZ;
      // session TZ is pinned UTC so the cast is deterministic).
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLength), col(partitionCol))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("n_violations").cast("long")).as("n_violations"),
        // pass = no failing-channel (≥ error) violations, same as batch
        (sum(col("__n_err").cast("long")) === 0L).as("pass"))

  /** Streaming exact dedup — the live-ingest mirror of
    * [[graft.unique.Uniqueness.dedup]]: drops rows whose `keyCols`
    * (typically the content hash) were already seen, with state bounded
    * by the watermark (`dropDuplicatesWithinWatermark` — a duplicate
    * arriving within `watermarkDelay` of the original is always caught;
    * older state is evicted, the batch uniqueness check remains the
    * exactness backstop). Without the bound, dedup state on an endless
    * stream grows with distinct-key cardinality — the watermark makes
    * it O(keys per delay window).
    */
  def streamingDedup(
      stream: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      watermarkDelay: String = "10 minutes"): DataFrame =
    stream
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Gap-based SESSION-window verdicts for live pipelines: events
    * of one `partitionCol` value belong to a session while consecutive
    * gaps stay under `gapDuration`; the watermark closes sessions (in
    * append mode a session row is emitted once the watermark passes its
    * end — state stays bounded on an endless stream).
    *
    * Output: `(session_window: struct<start,end>, partitionCol, n_rows,
    * n_violations, pass)` — one verdict per session.
    *
    * Boundary semantics: Spark's `session_window` is end-EXCLUSIVE (a
    * session ends at lastEvent + gap, and an event exactly at the
    * boundary starts a NEW session).
    */
  def sessionWindowedVerdicts(
      stream: DataFrame,
      schema: Schema,
      tsCol: String,
      partitionCol: String,
      gapDuration: String = "30 minutes",
      watermarkDelay: String = "1 minute"): DataFrame =
    Validator.annotate(stream, schema)
      .withColumn("__n_err", RuleCompiler.errorCount(schema))
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gapDuration), col(partitionCol))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("n_violations").cast("long")).as("n_violations"),
        (sum(col("__n_err").cast("long")) === 0L).as("pass"))

  /** ST4/ST6 — stateful keyed verdict view: maintains, per key, the
    * RUNNING violation totals across micro-batches (the analog of the
    * reference's keyed `otpCodes` view updated in place per tick,
    * app/.../HomeViewModel.kt:46-47, 96-99), with optional
    * processing-time TTL expiry (`ttlMs > 0`): a key idle longer than
    * the TTL emits one final `expired = true` row and its state is
    * dropped — the elapsed-time invalidation semantics of
    * app/.../SecurityUtil.kt:78-98 (ST6), and the mechanism that keeps
    * state bounded on an unbounded key space.
    *
    * Use from a streaming query with `outputMode("update")`. The
    * transition function is [[updateKeyTotals]] — pure and unit-tested
    * against `TestGroupState` (timeout path included).
    */
  def statefulKeyedVerdicts(
      stream: DataFrame,
      schema: Schema,
      keyCol: String,
      ttlMs: Long = 0L): Dataset[KeyVerdict] = {
    val spark = stream.sparkSession
    import spark.implicits._
    // Null keys group under the null String key directly — a sentinel
    // string would collide with a genuine key of the same value and
    // merge two keys' running state.
    val perRow = Validator.annotate(stream, schema)
      .withColumn("__n_err", RuleCompiler.errorCount(schema))
      .select(
        col(keyCol).cast("string").as("key"),
        col("n_violations").cast("long"),
        col("__n_err").cast("long"))
      .as[(String, Long, Long)]
    val timeout =
      if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    perRow
      .groupByKey(_._1)
      .mapGroupsWithState[KeyTotals, KeyVerdict](timeout) {
        (key, rows, state) => updateKeyTotals(key, rows, state, ttlMs)
      }
  }

  /** The ST4 state transition — kept separate so TestGroupState can
    * drive it (including the timed-out branch) without a running query.
    */
  def updateKeyTotals(
      key: String,
      rows: Iterator[(String, Long, Long)],
      state: GroupState[KeyTotals],
      ttlMs: Long): KeyVerdict =
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      KeyVerdict(key, s.nRows, s.nViolations, s.nErrors,
        pass = s.nErrors == 0, expired = true)
    } else {
      var n = 0L; var v = 0L; var e = 0L
      rows.foreach { r => n += 1; v += r._2; e += r._3 }
      val prev = state.getOption.getOrElse(KeyTotals(0L, 0L, 0L))
      val next = KeyTotals(prev.nRows + n, prev.nViolations + v, prev.nErrors + e)
      state.update(next)
      if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
      KeyVerdict(key, next.nRows, next.nViolations, next.nErrors,
        pass = next.nErrors == 0, expired = false)
    }

  /** ST3 — batched verdict sink: each micro-batch runs the SAME batch
    * verdict rollup and publishes it through the [[Checkpoint]] commit
    * protocol (verdict parquet first, manifest row after — the commit
    * point). The processing-time trigger is the analog of the
    * reference's 500 ms save debounce (app/.../HomeViewModel.kt:83-91):
    * mutations accumulate and one batched write covers them.
    *
    * Replay-idempotent: verdicts are written `partitionBy(run_id)` with
    * dynamic overwrite, so a crashed batch replayed by Structured
    * Streaming under the same batch id OVERWRITES its own partial rows
    * instead of appending duplicates, and the manifest commit is
    * skipped when that run_id is already committed. The manifest (the
    * only thing re-read per batch) stays O(batches × partitions) tiny
    * rows — the verdict data itself is never re-read.
    */
  def verdictSink(
      stream: DataFrame,
      schema: Schema,
      partitionCol: String,
      outDir: String,
      trigger: Trigger = Trigger.ProcessingTime("500 milliseconds")
  ): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/_stream_checkpoint")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val runId = s"batch-$batchId"
        val t0 = System.currentTimeMillis()
        val alreadyCommitted = !Checkpoint
          .processed(batch.sparkSession, outDir)
          .where(col("run_id") === runId)
          .isEmpty
        if (!alreadyCommitted) {
          // One computation feeds both the data write and the manifest
          // entries (small frame: one row per partition value).
          val verdicts = Verdict.compute(batch, schema, partitionCol)
            .withColumn("run_id", lit(runId))
            .persist()
          try {
            verdicts.write
              .mode(SaveMode.Overwrite)
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("run_id")
              .parquet(s"$outDir/verdicts")
            val entries = verdicts.select(
              Checkpoint.partitionKey(partitionCol).as("partition"),
              col("run_id"), col("n_rows"), col("n_bad_rows"),
              col("n_violations"), col("pass"),
              lit(System.currentTimeMillis() - t0).as("wall_ms"),
              lit(System.currentTimeMillis()).as("completed_at"))
            Checkpoint.commit(batch.sparkSession, outDir, entries)
          } finally verdicts.unpersist(false)
        }
        ()
      }
      .start()

  /** Live drift monitoring: score each micro-batch against the STORED
    * baseline sketch ([[graft.index.IndexStore.buildDriftBaseline]])
    * and land `(…groups, n_cur, n_base, psi, ks, batch_id)` rows in a
    * metrics table — the streaming mirror of the north rule's
    * KS/PSI-against-baseline check. Per batch only the batch is
    * scanned (the baseline side is O(groups × bins) stored rows), and
    * replay is idempotent: metrics partition by `batch_id` with
    * dynamic overwrite, so a recovered batch rewrites its own
    * partition instead of duplicating rows (same pattern as
    * `verdictSink`).
    */
  def driftSink(
      stream: DataFrame,
      baselinePath: String,
      metricsPath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("500 milliseconds")
  ): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.index.IndexStore.driftAgainstBaseline(batch, baselinePath)
          .withColumn("batch_id", lit(batchId))
          .write
          .mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(metricsPath)
        ()
      }
      .start()

  /** Live table-level gates: evaluate an expectation suite
    * ([[graft.verdict.Expectations]]) on each micro-batch and land the
    * verdict rows `(…groups, check, column, observed, lo, hi, pass,
    * batch_id)` in a metrics table — "did this batch shrink 40%? did a
    * null rate double?" answered continuously. Same replay-idempotence
    * contract as [[driftSink]]: partition by `batch_id` with dynamic
    * overwrite, so a recovered batch rewrites its own partition.
    *
    * `approxDistinct` defaults to TRUE here (the opposite of the batch
    * API): a per-batch sink re-evaluates continuously, where the exact
    * path's Expand amplification is an ongoing tax — but a `distinct`
    * bound sitting near the sketch's error margin needs `false` to
    * match batch semantics exactly.
    */
  def expectationsSink(
      stream: DataFrame,
      expects: Seq[graft.verdict.Expectations.Expect],
      groupCols: Seq[String],
      metricsPath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("500 milliseconds"),
      approxDistinct: Boolean = true
  ): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.verdict.Expectations
          .evaluate(batch, expects, groupCols, approxDistinct)
          .withColumn("batch_id", lit(batchId))
          .write
          .mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(metricsPath)
        ()
      }
      .start()

  /** HISTORY-aware streaming gates ([[expectationsSink]] × the
    * baseline-relative suite): each micro-batch's `*_rel` checks gate
    * its metrics against the PREVIOUS batch's stored observations
    * ("did this batch shrink 40% vs the last one?"), then the batch's
    * ABSOLUTE observations are recorded as the new latest snapshot in
    * the [[graft.index.IndexStore]] expectation store at `storePath`
    * (base metrics derived from the declared rel checks — the caller
    * writes ONE suite). Batch 0 has no history and FAILS every bounded
    * relative check — the engine-wide no-signal rule; gating begins at
    * batch 1.
    *
    * Replay idempotence (a batch re-run after crash recovery): the
    * gate EXCLUDES the current batch's own snapshot id, so a batch
    * whose snapshot landed before the crash still re-gates against its
    * predecessor; the verdict write dynamic-overwrites its `batch_id`
    * partition; and the snapshot write dynamic-overwrites its
    * `snapshot_id` partition (a half-written snapshot is fully
    * rewritten, never duplicated). The store is single-writer — this
    * query must be its only appender (IndexStore scaladoc).
    *
    * History is BOUNDED: after each batch's snapshot lands, all but
    * the `historyKeep` highest-seq snapshots are pruned — a per-batch
    * writer would otherwise grow the store (and every latest-snapshot
    * discovery scan) without limit.
    */
  def relativeExpectationsSink(
      stream: DataFrame,
      relExpects: Seq[graft.verdict.Expectations.Expect],
      groupCols: Seq[String],
      storePath: String,
      metricsPath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("500 milliseconds"),
      approxDistinct: Boolean = true,
      historyKeep: Int = 64
  ): StreamingQuery = {
    // historyKeep = 1 would break replay idempotence: batch N appends
    // its snapshot, prune deletes N-1, and a replay of N (crash before
    // the checkpoint commit) — which gates with its OWN snapshot
    // excluded — finds an empty store and overwrites N's correct
    // metrics with first-run all-fail rows. Keeping ≥ 2 guarantees the
    // predecessor survives every replay window.
    require(historyKeep >= 2,
      s"historyKeep must be >= 2 (got $historyKeep): a replayed batch " +
        "re-gates against its predecessor, which keep-1 pruning deletes")
    import graft.verdict.Expectations.Expect
    val baseChecks = relExpects
      .map(e => (Expect.baseKind(e.check), e.column)).distinct
      .map { case (k, c) => Expect(k, c) }
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sid = s"batch_$batchId"
        graft.index.IndexStore
          .expectationsAgainstBaseline(batch, relExpects, groupCols,
            storePath, approxDistinct, excludeSnapshotId = sid)
          .withColumn("batch_id", lit(batchId))
          .write
          .mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(metricsPath)
        graft.index.IndexStore.appendExpectationSnapshot(
          batch, baseChecks, groupCols, storePath, sid, approxDistinct)
        graft.index.IndexStore.pruneExpectationSnapshots(
          batch.sparkSession, storePath, historyKeep)
        ()
      }
      .start()
  }
}
