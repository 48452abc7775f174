package graft.control

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.apply.Backfill
import graft.lake.LakeTable
import graft.pipeline.Pipeline

/** Point-in-time engine status — the payload of the reference's HTTP
  * status/metrics endpoints (reference: src/control/handlers.rs:103-312),
  * assembled from snapshot metadata only (no Spark jobs: row counts come
  * from the snapshot's cumulative per-bucket counters).
  */
case class ControlStatus(
    running: Boolean,
    snapshotVersion: Long,
    batchId: Long,
    endLsn: Long,
    schemaVersion: Int,
    backfillDone: Int,
    rowCount: Long, // incl. tombstones (A3 estimate)
    lastBatchWallMs: Long,
    lastBatchSkippedEvolutions: Long, // full history: lake.lineageDf
    // A9 rate/lag (reference metrics_sampler.rs:1-67): last batch's
    // events/sec and event-time lag; -1/-1 before any progress
    eventsPerSec: Double = -1.0,
    lagMs: Long = -1L,
    // backfill progress detail (reference per-table snapshot progress,
    // handlers.rs:255-291): total planned chunks, -1 = no chunk source
    backfillTotal: Int = -1,
    // snapshot gate (reference snapshot_pause, handlers.rs:233-253):
    // true = backfill chunks held while the CDC stream keeps flowing
    snapshotPaused: Boolean = false,
    // reference state_str/stage_str (handlers.rs:314-331): state is the
    // engine lifecycle (running/paused/draining), stage says whether a
    // snapshot (backfill) is still interleaving with the cdc stream
    state: String = "paused",
    stage: String = "cdc",
    // current size of the streaming checkpoint's dedup state store (bytes
    // on disk under <checkpoint>/state) — the one unbounded-in-lsn-range
    // resource, surfaced so operators know WHEN to POST /rebase
    dedupStateBytes: Long = -1L,
    // true once dedupStateBytes crosses the configured rebase threshold
    rebaseRecommended: Boolean = false,
    // multi-table deployments: one row per destination lake (reference
    // per-table progress, handlers.rs:255-291); empty for single-table
    tables: Seq[TableStatus] = Seq.empty)

/** Per-destination-table status row (multi-table deployments). */
case class TableStatus(
    name: String,
    snapshotVersion: Long,
    batchId: Long,
    endLsn: Long,
    schemaVersion: Int,
    rowCount: Long,
    lastBatchWallMs: Long)

/** The verb surface [[HttpControl]] serves — implemented by the
  * single-table [[Control]] and the multi-table [[MultiControl]].
  */
trait EngineControl {
  def status(): ControlStatus
  def metrics: MetricsSampler
  def isRunning: Boolean
  // lock-free (volatile) so the HTTP facade can turn a verb that would
  // block on the drain-held control lock into an immediate 409
  def isDraining: Boolean
  def pause(): Unit
  def resume(): Unit
  def drain(): Unit
  def stop(): Unit
  def reload(newMaxFilesPerTrigger: Option[Int] = None): Unit
  def triggerSnapshotIfPaused(): Boolean
  def pauseSnapshot(): Unit
  def resumeSnapshot(): Unit
  def rebaseIfPaused(): Boolean
  def close(): Unit
}

/** Memoized dedup-state size, shared by both control planes: `progressTs`
  * keys the memo to the micro-batch that last committed (state only moves
  * per batch), `epoch` guards against publishing a size computed across a
  * concurrent rebase's checkpoint drop.
  */
private[control] case class StateBytesMemo(
    bytes: Long, expiresAt: Long, progressTs: Long, epoch: Long)

private[control] object StateBytesMemo {
  val invalid: StateBytesMemo = StateBytesMemo(-1L, 0L, -1L, -1L)
}

/** The ONE state-size memo implementation both control planes use
  * (Control and MultiControl previously carried verbatim copies of this
  * concurrency-sensitive logic — a fix applied to one and not the other
  * would diverge silently).
  *
  * /status may be polled at dashboard frequency, and a recursive listing
  * of a multi-GB state dir per poll is real I/O against object storage —
  * memoize for a few seconds. State only changes when a micro-batch
  * commits, so the memo key also carries the latest progress timestamp: a
  * fresh batch invalidates immediately instead of serving a stale size
  * for up to 5 s. [[invalidate]] (called by pause/drain/rebase, which
  * hold the control lock — the non-atomic volatile bump is single-writer)
  * bumps the epoch BEFORE dropping the memo, so a poll that began its
  * listing before the verb publishes into the OLD epoch and is discarded
  * — /status can never resurrect a pre-drop size from an in-flight
  * computation.
  */
private[control] final class StateBytesTracker(
    spark: SparkSession, checkpointDir: String) {
  @volatile private var epoch: Long = 0L
  @volatile private var memo: StateBytesMemo = StateBytesMemo.invalid

  def invalidate(): Unit = {
    epoch += 1
    memo = StateBytesMemo.invalid
  }

  def bytesNow(latestProgressTs: Long): Long = {
    val now = System.currentTimeMillis()
    val e = epoch
    val m = memo
    if (m.bytes >= 0 && now < m.expiresAt && latestProgressTs == m.progressTs &&
        e == m.epoch) m.bytes
    else {
      val b = CheckpointOps.stateBytes(spark, checkpointDir)
      if (epoch == e) memo = StateBytesMemo(b, now + 5000L, latestProgressTs, e)
      b
    }
  }
}

/** Checkpoint-dir helpers shared by both control planes. */
private[control] object CheckpointOps {
  import org.apache.hadoop.fs.Path

  /** Bytes on disk under `<checkpoint>/state` — the dedup state store. */
  def stateBytes(spark: SparkSession, checkpointDir: String): Long = {
    val p = new Path(checkpointDir, "state")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0L
    var total = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) total += it.next().getLen
    total
  }

  /** Drop the streaming checkpoint (offsets + dedup state), keeping the
    * sink. Safe ONLY because (a) redelivered pre-endLsn events die on the
    * sink's `lsn > endLsn` replay guard and (b) the persisted batch-id
    * offset ([[graft.pipeline.Pipeline.batchIdOffset]]) keeps commit ids
    * monotone across the fresh checkpoint. Callers must verify the sink
    * HAS a position first.
    */
  def dropCheckpoint(spark: SparkSession, checkpointDir: String): Unit = {
    val p = new Path(checkpointDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    ()
  }
}

/** The engine control plane: pause / resume / drain / stop / status plus
  * the on-demand snapshot trigger — the Spark collapse of the reference's
  * axum control server (reference: src/control/mod.rs:19-32,
  * src/control/handlers.rs:103-291). Pause/resume map to stopping and
  * restarting the streaming query against the SAME checkpoint (Structured
  * Streaming's offset WAL makes the restart exactly-once); drain runs
  * Trigger.AvailableNow to the end of the available log and returns.
  *
  * Single-controller assumption, like the reference daemon's one control
  * loop; methods are synchronized for in-process safety.
  */
final class Control(
    spark: SparkSession,
    binlogDir: String,
    lake: LakeTable,
    checkpointDir: String,
    maxFilesPerTrigger: Int = 1,
    transportDedup: Boolean = true,
    chunkSource: Option[Backfill.ChunkSource] = None,
    // inline lake maintenance (compact + vacuum on the commit thread)
    maintenance: Option[Pipeline.Maintenance] = None,
    // dedup-state size (bytes under <checkpoint>/state) above which
    // status() flags rebaseRecommended; 0 = never recommend. Sizing: the
    // stride-64 measurement (BENCH.md) puts bitmap state at ~122 GB per
    // 10^12-byte WAL window at shift 14 — a daemon tailing byte-stride
    // LSNs should set this to what its executors can actually hold.
    rebaseThresholdBytes: Long = 0L) extends EngineControl {

  // @volatile so status()/isRunning never block on the control lock —
  // drain() holds it for the whole backlog, and the observability
  // endpoints must answer during exactly that window
  @volatile private var query: Option[StreamingQuery] = None

  // reloadable knobs (the reference's config-reload verb re-reads sync
  // settings without dropping replication state, handlers.rs:103-223);
  // applied at the next (re)start against the SAME checkpoint
  @volatile private var filesPerTrigger: Int = maxFilesPerTrigger

  // Snapshot gate (reference snapshot_pause/resume, handlers.rs:233-253):
  // consulted by the pipeline's foreachBatch before EACH interleaved
  // backfill chunk, so a pause takes effect at the next chunk boundary
  // while the CDC stream keeps flowing — exactly the reference split
  // between the replication loop and the snapshot task. @volatile, not
  // the control lock: the flag is read from the streaming thread.
  @volatile private var snapshotPausedFlag: Boolean = false

  def snapshotPaused: Boolean = snapshotPausedFlag

  /** Hold further backfill chunks (the stream keeps flowing). Idempotent;
    * takes effect at the next chunk boundary within the current batch.
    */
  def pauseSnapshot(): Unit = snapshotPausedFlag = true

  /** Let backfill chunks interleave again. Idempotent. */
  def resumeSnapshot(): Unit = snapshotPausedFlag = false

  /** Per-batch rate/lag observations (A9), fed by the streaming listener
    * bus for this engine's query; [[metricsDf]] exposes the history, the
    * latest sample surfaces in [[status]].
    */
  val metrics = new MetricsSampler("graft-cdc")
  spark.streams.addListener(metrics)

  def metricsDf: org.apache.spark.sql.DataFrame = metrics.metricsDf(spark)

  def isRunning: Boolean = query.exists(_.isActive)

  /** Start (or resume after [[pause]]) continuous processing. */
  def resume(): Unit = synchronized {
    if (!isRunning)
      query = Some(Pipeline.start(spark, binlogDir, lake, checkpointDir,
        filesPerTrigger, availableNow = false,
        transportDedup = transportDedup, chunkSource = chunkSource,
        backfillGate = () => !snapshotPausedFlag,
        maintenance = maintenance))
  }

  /** Config reload (reference handlers.rs:103-223): apply new settings and
    * restart the query against the SAME checkpoint — offsets, dedup state
    * and lake position all carry over; only the runtime knobs change. A
    * paused engine stays paused (the new config takes effect at the next
    * [[resume]]).
    */
  def reload(newMaxFilesPerTrigger: Option[Int] = None): Unit = synchronized {
    // validate BEFORE pausing: a bad knob must reject the reload, not
    // leave a running engine silently stopped
    newMaxFilesPerTrigger.foreach(n =>
      require(n > 0, s"maxFilesPerTrigger must be positive, got $n"))
    val wasRunning = isRunning
    pause()
    newMaxFilesPerTrigger.foreach(filesPerTrigger = _)
    if (wasRunning) resume()
  }

  /** Graceful pause: the in-flight micro-batch finishes and commits, then
    * the query stops. State (offsets + lake snapshot) stays consistent, so
    * [[resume]] continues exactly where it left off.
    */
  def pause(): Unit = synchronized {
    query.foreach(_.stop())
    query = None
    stateBytes.invalidate()
  }

  // surfaced as status().state while drain() holds the control lock (the
  // status endpoint stays lock-free, so it must read a flag, not the lock)
  @volatile private var drainingFlag: Boolean = false

  def isDraining: Boolean = drainingFlag

  /** Drain: process everything currently in the log, then stop — distinct
    * from [[pause]], which stops at the next batch boundary regardless of
    * backlog. Completes any pending backfill chunks too.
    */
  def drain(): Unit = synchronized {
    pause()
    drainingFlag = true
    try Pipeline.runAvailable(spark, binlogDir, lake, checkpointDir,
      filesPerTrigger, transportDedup, chunkSource,
      backfillGate = () => !snapshotPausedFlag,
      maintenance = maintenance)
    finally {
      drainingFlag = false
      stateBytes.invalidate()
    }
  }

  def stop(): Unit = pause()

  /** On-demand snapshot trigger (T11, reference handlers.rs:103-180):
    * reset the backfill cursor so every chunk re-applies against the
    * CURRENT source state under the current stream position. Data-safe
    * against live rows because chunk rows merge LSN-guarded (tie-wins at
    * the chunk's low watermark) — a re-snapshot refreshes drifted rows and
    * never regresses newer ones. The query must be paused first, though:
    * this method commits a snapshot version from the control thread, and a
    * concurrently-committing micro-batch would race it for version N+1 —
    * the loser's IllegalStateException would kill whichever thread lost
    * (the same single-writer rule applies to `vacuum`/`compact`). Chunks
    * run interleaved once the stream resumes (or immediately via
    * [[drain]]).
    */
  def triggerSnapshot(): Unit = synchronized {
    require(chunkSource.isDefined, "no chunk source configured")
    require(!isRunning,
      "pause() the stream before triggerSnapshot(): a control-thread commit" +
        " races the stream's own commits for the next snapshot version")
    val snap = lake.snapshot()
    if (snap.backfillDone != 0) lake.commitBackfillProgress(snap, 0)
  }

  /** Atomic paused-check + trigger for the HTTP facade: the handler's old
    * `if (isRunning) 409 else triggerSnapshot()` pair let a concurrent
    * POST /resume slip between check and trigger — holding the control
    * lock across both (resume() synchronizes on the same lock) closes
    * that window. Returns false (→ 409) when the stream is running.
    */
  def triggerSnapshotIfPaused(): Boolean = synchronized {
    if (isRunning) false
    else { triggerSnapshot(); true }
  }

  /** Live dedup-state retirement (the rebase the runner's
    * `--rebase-checkpoint` flag did only at process start): drop the
    * streaming checkpoint — offsets AND the dedup state store — while the
    * engine is paused, keeping the lake. The next [[resume]] starts a
    * fresh checkpoint whose batch ids are shifted past the lake's highest
    * committed id ([[Pipeline.batchIdOffset]]), and any events the source
    * redelivers below the lake's endLsn die on the per-key `lsn > endLsn`
    * MERGE guard — replay equality is preserved with ZERO carried dedup
    * state. Refused while running (the query owns the checkpoint) and on
    * a lake with no applied position (nothing would guard replays).
    */
  def rebaseCheckpoint(): Unit = synchronized {
    require(!isRunning,
      "pause() the stream before rebaseCheckpoint(): the running query " +
        "owns the checkpoint")
    require(lake.snapshot().endLsn >= 0,
      "refusing to rebase: the lake has no applied position " +
        "(nothing would guard replayed events)")
    stateBytes.invalidate() // in-flight polls must not publish a pre-drop size
    CheckpointOps.dropCheckpoint(spark, checkpointDir)
    stateBytes.invalidate() // ...nor a partial size computed mid-delete
  }

  private val stateBytes = new StateBytesTracker(spark, checkpointDir)

  /** Atomic paused-check + rebase for the HTTP facade (same race shape as
    * [[triggerSnapshotIfPaused]]). Returns false (→ 409) when running.
    */
  def rebaseIfPaused(): Boolean = synchronized {
    if (isRunning) false
    else { rebaseCheckpoint(); true }
  }

  def status(): ControlStatus = {
    val snap = lake.snapshot()
    val stateBytesNow =
      stateBytes.bytesNow(metrics.latest.map(_.tsMs).getOrElse(-1L))
    ControlStatus(
      running = isRunning,
      snapshotVersion = snap.version,
      batchId = snap.batchId,
      endLsn = snap.endLsn,
      schemaVersion = snap.schemaVersion,
      backfillDone = snap.backfillDone,
      rowCount = snap.rowCount,
      lastBatchWallMs = snap.lineage.map(_.wallMs).getOrElse(-1L),
      lastBatchSkippedEvolutions =
        snap.lineage.map(_.skippedEvolutions).getOrElse(0L),
      eventsPerSec = metrics.latest.map(_.eventsPerSec).getOrElse(-1.0),
      lagMs = metrics.latest.map(_.lagMs).getOrElse(-1L),
      backfillTotal = chunkSource.map(_.numChunks).getOrElse(-1),
      snapshotPaused = snapshotPausedFlag,
      state = if (drainingFlag) "draining"
        else if (isRunning) "running" else "paused",
      stage = if (chunkSource.exists(_.numChunks > snap.backfillDone))
        "snapshot" else "cdc",
      dedupStateBytes = stateBytesNow,
      rebaseRecommended =
        rebaseThresholdBytes > 0 && stateBytesNow > rebaseThresholdBytes)
  }

  /** Detach the metrics listener (call when discarding this Control). */
  def close(): Unit = spark.streams.removeListener(metrics)
}
