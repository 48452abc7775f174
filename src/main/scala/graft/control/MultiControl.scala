package graft.control

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.lake.LakeTable
import graft.pipeline.Pipeline

/** Control plane for multi-table daemons ([[Pipeline.startMulti]]): the
  * same verb surface as the single-table [[Control]], with per-table
  * progress rows in status — the reference's status endpoint reports one
  * row per synced table (reference: src/control/handlers.rs:255-291,
  * per-table snapshot/sync progress). One streaming query fans out to all
  * destination lakes, so pause/resume/drain/reload/rebase act on the whole
  * table set at once, exactly like the reference daemon's single control
  * loop over its table list.
  *
  * Aggregate status fields take the conservative view across lakes:
  * `batchId`/`endLsn` are the MIN (a batch is only "done" once every table
  * committed it — the same accounting as the raw-append sink's normalize
  * watermark), `rowCount` is the sum.
  */
final class MultiControl(
    spark: SparkSession,
    binlogDir: String,
    lakes: Map[String, LakeTable],
    checkpointDir: String,
    maxFilesPerTrigger: Int = 1,
    transportDedup: Boolean = true,
    maintenance: Option[Pipeline.Maintenance] = None,
    rebaseThresholdBytes: Long = 0L) extends EngineControl {

  require(lakes.nonEmpty, "MultiControl needs at least one destination lake")

  @volatile private var query: Option[StreamingQuery] = None
  @volatile private var filesPerTrigger: Int = maxFilesPerTrigger
  @volatile private var drainingFlag: Boolean = false

  val metrics = new MetricsSampler("graft-cdc-multi")
  spark.streams.addListener(metrics)

  def isRunning: Boolean = query.exists(_.isActive)

  def isDraining: Boolean = drainingFlag

  def resume(): Unit = synchronized {
    if (!isRunning)
      query = Some(Pipeline.startMulti(spark, binlogDir, lakes, checkpointDir,
        filesPerTrigger, availableNow = false,
        transportDedup = transportDedup,
        maintenance = maintenance))
  }

  def pause(): Unit = synchronized {
    query.foreach(_.stop())
    query = None
    stateBytes.invalidate()
  }

  def stop(): Unit = pause()

  def drain(): Unit = synchronized {
    pause()
    drainingFlag = true
    try Pipeline.startMulti(spark, binlogDir, lakes, checkpointDir,
      filesPerTrigger, availableNow = true,
      transportDedup = transportDedup,
      maintenance = maintenance).awaitTermination()
    finally {
      drainingFlag = false
      stateBytes.invalidate()
    }
  }

  def reload(newMaxFilesPerTrigger: Option[Int] = None): Unit = synchronized {
    newMaxFilesPerTrigger.foreach(n =>
      require(n > 0, s"maxFilesPerTrigger must be positive, got $n"))
    val wasRunning = isRunning
    pause()
    newMaxFilesPerTrigger.foreach(filesPerTrigger = _)
    if (wasRunning) resume()
  }

  /** No chunked backfill in the multi-table pipeline (backfill targets one
    * table); the verb fails loudly like a single-table engine with no
    * chunk source.
    */
  def triggerSnapshotIfPaused(): Boolean =
    throw new IllegalArgumentException(
      "no chunk source configured (multi-table pipeline has no backfill)")

  def pauseSnapshot(): Unit = ()
  def resumeSnapshot(): Unit = ()

  /** Live dedup-state retirement across the whole table set — same
    * semantics as [[Control.rebaseCheckpoint]]: every lake's `lsn >
    * endLsn` guard suppresses redelivery, and the batch-id offset is
    * anchored to the MAX committed id across lakes
    * ([[Pipeline.startMulti]]), so no lake can swallow a post-rebase
    * batch. Requires every lake to have an applied position.
    */
  def rebaseCheckpoint(): Unit = synchronized {
    require(!isRunning,
      "pause() the stream before rebaseCheckpoint(): the running query " +
        "owns the checkpoint")
    require(lakes.values.forall(_.snapshot().endLsn >= 0),
      "refusing to rebase: a destination lake has no applied position " +
        "(nothing would guard its replayed events)")
    stateBytes.invalidate() // in-flight polls must not publish a pre-drop size
    CheckpointOps.dropCheckpoint(spark, checkpointDir)
    stateBytes.invalidate() // ...nor a partial size computed mid-delete
  }

  // the shared tracker (see StateBytesTracker): keyed on the latest batch
  // progress, epoch-guarded, invalidated by pause/drain/rebase
  private val stateBytes = new StateBytesTracker(spark, checkpointDir)

  def rebaseIfPaused(): Boolean = synchronized {
    if (isRunning) false
    else { rebaseCheckpoint(); true }
  }

  def status(): ControlStatus = {
    val snaps = lakes.toSeq.sortBy(_._1).map { case (n, lk) =>
      n -> lk.snapshot()
    }
    val tableRows = snaps.map { case (n, s) =>
      TableStatus(n, s.version, s.batchId, s.endLsn, s.schemaVersion,
        s.rowCount, s.lineage.map(_.wallMs).getOrElse(-1L))
    }
    val stateBytesNow =
      stateBytes.bytesNow(metrics.latest.map(_.tsMs).getOrElse(-1L))
    ControlStatus(
      running = isRunning,
      snapshotVersion = snaps.map(_._2.version).max,
      batchId = snaps.map(_._2.batchId).min,
      endLsn = snaps.map(_._2.endLsn).min,
      schemaVersion = snaps.map(_._2.schemaVersion).max,
      backfillDone = 0,
      rowCount = snaps.map(_._2.rowCount).sum,
      lastBatchWallMs = tableRows.map(_.lastBatchWallMs).max,
      lastBatchSkippedEvolutions =
        snaps.map(_._2.lineage.map(_.skippedEvolutions).getOrElse(0L)).sum,
      eventsPerSec = metrics.latest.map(_.eventsPerSec).getOrElse(-1.0),
      lagMs = metrics.latest.map(_.lagMs).getOrElse(-1L),
      state = if (drainingFlag) "draining"
        else if (isRunning) "running" else "paused",
      dedupStateBytes = stateBytesNow,
      rebaseRecommended =
        rebaseThresholdBytes > 0 && stateBytesNow > rebaseThresholdBytes,
      tables = tableRows)
  }

  def close(): Unit = spark.streams.removeListener(metrics)
}
