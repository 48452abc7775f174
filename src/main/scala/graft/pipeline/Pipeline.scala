package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.apply.{Backfill, MergeApply, MultiApply}
import graft.lake.LakeTable
import graft.model.Schemas

/** Wiring of the end-to-end streaming pipeline — the Spark collapse of the
  * reference's engine run loop (reference: src/engine/mod.rs:108-288):
  *
  *   readStream(binlog segments) → IntervalDedup (lsn transport dedup)
  *   → foreachBatch { reconcile → dedup/LWW → COW MERGE → lineage commit }
  *
  * Exactly-once: Structured Streaming WALs source offsets before running a
  * batch (`checkpointLocation`), and the batchId-guarded lineage commit makes
  * a replayed batch a no-op — the Spark form of the reference's
  * checkpoint-before-ack invariant (src/engine/replication/postgres.rs:86-125)
  * plus idempotent LWW MERGE (docs/architecture.md "effectively-once").
  *
  * Pause/resume/drain (reference control plane, src/control/mod.rs:19-32)
  * map to `query.stop()` + restart against the same checkpoint, and
  * `Trigger.AvailableNow` as drain.
  */
object Pipeline {

  /** Effectively-once across checkpoint REBASE (the dedup-state lifecycle
    * escape hatch, [[graft.dedup.IntervalDedup]] scaladoc): batch ids
    * restart at 0 on a fresh checkpoint, but the sink's batchId guard (A8)
    * treats any id at or below the stored one as a replay — so a rebase
    * against a non-empty lake would silently swallow the first N real
    * batches. Fix: at a checkpoint's FIRST start, persist (inside the
    * checkpoint dir) the offset between this checkpoint's batch ids and
    * the sink's highest committed id; every apply then uses
    * `streamingBatchId + offset`. Same-checkpoint restarts re-read the
    * stored offset, so replays keep their effective id and stay no-ops;
    * a fresh checkpoint over a fresh sink gets offset 0 (unchanged
    * behavior); only the rebase case shifts. Pre-existing checkpoints
    * without the file resume at offset 0 (their ids already line up).
    */
  private[graft] def batchIdOffset(
      spark: SparkSession, checkpointDir: String,
      committedBatchId: Long): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(checkpointDir)
    val fs = dir.getFileSystem(conf)
    val f = new org.apache.hadoop.fs.Path(dir, "graft-batchid-offset")
    def readOffset(): Long = {
      val in = fs.open(f)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      // recomputing on parse failure would be WRONG (the fresh-checkpoint
      // heuristic no longer holds once batches committed under this
      // offset), so fail with the remedy instead of a bare NumberFormat
      try text.toLong
      catch {
        case _: NumberFormatException => throw new IllegalStateException(
          s"corrupt batch-id offset file $f (content '$text'): restore it " +
            "to the original offset, or rebase onto a fresh checkpoint")
      }
    }
    if (fs.exists(f)) readOffset()
    else {
      val offsetsDir = new org.apache.hadoop.fs.Path(dir, "offsets")
      val freshCheckpoint =
        !fs.exists(offsetsDir) || fs.listStatus(offsetsDir).isEmpty
      val off = if (freshCheckpoint) math.max(0L, committedBatchId + 1) else 0L
      fs.mkdirs(dir)
      // tmp + no-overwrite rename: a crash between create and write must
      // not leave an empty offset file that bricks every later start
      val tmp = new org.apache.hadoop.fs.Path(dir,
        s".tmp-batchid-${java.util.UUID.randomUUID().toString.take(8)}")
      val o = fs.create(tmp, true)
      try o.write(off.toString.getBytes("UTF-8")) finally o.close()
      if (new graft.lake.AtomicFs(fs, conf).renameNoOverwrite(tmp, f)) off
      else readOffset() // lost the publish race: the winner's value rules
    }
  }

  /** The transport-dedup front end shared by every query shape:
    * [[graft.dedup.IntervalDedup]] at its default shift — interval-
    * compressed state, O(lsn-range buckets) instead of O(events). No
    * watermark: it needs none for state GC, and an event-time watermark
    * here would DROP late input rows instead of deduping them.
    */
  private def dedupStage(src: DataFrame, transportDedup: Boolean): DataFrame =
    (if (transportDedup) graft.dedup.IntervalDedup.stage(src) else src)
      // per-batch max event time via CollectMetrics: feeds the A9 lag metric
      .observe("graft_event_time", max(col("ts")).as("max_ts"))

  /** Inline lake maintenance on the commit thread (the COW analog of the
    * reference normalizer's DELETE-after-processing cleanup loop,
    * src/connectors/sinks/postgres/normalizer.rs:169-216): every
    * `everyBatches` micro-batches, one bucket-selective compaction pass
    * (bounded by `maxBucketsPerPass`, resumable — the next pass walks the
    * remaining dirty buckets) plus a vacuum of superseded snapshot metas
    * and unreferenced files. Tombstones at or below the stream's applied
    * endLsn are dropped: safe because (a) the `lsn > endLsn` replay guard
    * means no stream event at or below it can ever re-apply, and (b)
    * backfill chunks re-read the CURRENT source state, which no longer
    * contains deleted keys — neither path can resurrect a compacted
    * delete. Runs on the foreachBatch thread, so it serializes with
    * commits and the lake's single-writer rule holds by construction (a
    * long-lived daemon never needs an external maintenance job racing it).
    */
  case class Maintenance(
      everyBatches: Int = 16,
      fileThreshold: Int = 4,
      maxBucketsPerPass: Int = 64,
      keepVersions: Int = 2,
      vacuumGraceMs: Long = 86400000L) {
    require(everyBatches > 0, "everyBatches must be positive")
  }

  private def maintainNow(ss: SparkSession, lake: LakeTable,
      m: Maintenance): Unit = {
    val snap = lake.snapshot()
    lake.compact(ss, snap.endLsn, m.fileThreshold, m.maxBucketsPerPass)
    lake.vacuum(m.keepVersions, m.vacuumGraceMs)
    // the per-commit lineage appends (one small json per batch) must not
    // accumulate one file per commit forever — fold them here too
    lake.compactLineage()
    ()
  }

  private def maintain(ss: SparkSession, lake: LakeTable, batchId: Long,
      m: Maintenance): Unit =
    if (batchId > 0 && batchId % m.everyBatches == 0)
      maintainNow(ss, lake, m)

  /** Start the CDC query over a binlog segment directory.
    *
    * @param maxFilesPerTrigger micro-batch admission control — the analog of
    *   the reference's FLUSH_SIZE batching (src/pipeline/mod.rs:57-127,
    *   default 10,000 rows / 5,000 ms).
    * @param availableNow true = drain all available segments then stop
    *   (tests/bench); false = continuous 5s trigger (the daemon shape).
    * @param transportDedup enable the cross-batch stateful dedup stage
    *   ([[graft.dedup.IntervalDedup]] keyed by the source offset) — state
    *   is one bitmap container per touched lsn-range bucket, bounded at
    *   10^10-event scale by the checkpoint-rebase path.
    * @param chunkSource when set, concurrent chunked backfill (reference T7):
    *   after each micro-batch apply, up to `chunksPerBatch` pending snapshot
    *   chunks are merged under the stream's current applied position as
    *   their low watermark. Progress persists in the lake snapshot
    *   (`backfillDone`), so a restart resumes at the next chunk.
    * @param applyShufflePartitions when set, `spark.sql.shuffle.partitions`
    *   is switched to this value INSIDE foreachBatch, before the apply plan
    *   is built. This decouples the two partition-count decisions a real
    *   deployment makes independently: the stateful dedup's state-store
    *   partition count is locked into the checkpoint at query start (Spark
    *   records it in the offset log; it cannot follow cluster resizes), so
    *   it is sized once for the query's lifetime from the session conf —
    *   while the per-batch MERGE jobs should track the CURRENT executor
    *   count. Without this, growing the cluster N→4N either leaves the
    *   merge under-partitioned or is impossible without a new checkpoint.
    */
  def start(
      spark: SparkSession,
      binlogDir: String,
      lake: LakeTable,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1,
      availableNow: Boolean = true,
      transportDedup: Boolean = true,
      chunkSource: Option[Backfill.ChunkSource] = None,
      chunksPerBatch: Int = 1,
      applyShufflePartitions: Option[Int] = None,
      // consulted before each interleaved backfill step: false pauses the
      // snapshot while the CDC stream keeps flowing (reference
      // snapshot_pause, handlers.rs:233-245)
      backfillGate: () => Boolean = () => true,
      maintenance: Option[Maintenance] = None): StreamingQuery = {
    graft.model.SessionTuning.tune(spark) // engine entry point: own session tuning
    val src0 = spark.readStream
      .schema(Schemas.changeEvent)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(binlogDir)
    val src = dedupStage(src0, transportDedup)
    val idOff = batchIdOffset(spark, checkpointDir, lake.snapshot().batchId)
    src.writeStream
      .queryName("graft-cdc")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ss = batch.sparkSession
        applyShufflePartitions.foreach(n =>
          ss.conf.set("spark.sql.shuffle.partitions", n.toString))
        MergeApply.applyBatch(ss, lake, batch, batchId + idOff)
        // interleaved concurrent backfill: chunks progress between stream
        // batches (the reference's snapshot/stream scheduling,
        // src/engine/mod.rs:199-254)
        chunkSource.foreach { src =>
          var n = 0
          while (n < chunksPerBatch && backfillGate() &&
            Backfill.step(ss, lake, src)) n += 1
        }
        maintenance.foreach(maintain(ss, lake, batchId + idOff, _))
        ()
      }
      .trigger(if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime("5 seconds"))
      .start()
  }

  /** Sink-generic variant of [[start]]: the same source/dedup front end
    * feeding any [[graft.sink.Sink]] from the factory (reference:
    * create_sink dispatch, src/connectors/sinks/mod.rs:57-148). Sink
    * errors propagate — the query fails loudly, the offset WAL is not
    * advanced past the failed batch, and a restart replays it exactly
    * (reference invariant src/pipeline/mod.rs:169-185).
    */
  def startWithSink(
      spark: SparkSession,
      binlogDir: String,
      sink: graft.sink.Sink,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1,
      availableNow: Boolean = true,
      transportDedup: Boolean = true,
      applyShufflePartitions: Option[Int] = None,
      // inline sink maintenance cadence (sink.maintain on the commit
      // thread every N batches — for raw-append: normalize fold + staged-
      // dir compaction + tmp reaping); 0 = off. Same single-writer shape
      // as the merge path's Maintenance.
      maintenanceEvery: Int = 0): StreamingQuery = {
    graft.model.SessionTuning.tune(spark) // engine entry point: own session tuning
    val src0 = spark.readStream
      .schema(Schemas.changeEvent)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(binlogDir)
    val src = dedupStage(src0, transportDedup)
    val idOff = batchIdOffset(spark, checkpointDir, sink.lastBatchId(spark))
    src.writeStream
      .queryName("graft-cdc-sink")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ss = batch.sparkSession
        applyShufflePartitions.foreach(n =>
          ss.conf.set("spark.sql.shuffle.partitions", n.toString))
        sink.applyBatch(ss, batch, batchId + idOff)
        val bid = batchId + idOff
        if (maintenanceEvery > 0 && bid > 0 && bid % maintenanceEvery == 0)
          sink.maintain(ss)
      }
      .trigger(if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime("5 seconds"))
      .start()
  }

  /** Multi-table variant of [[start]]: the stream carries a `table` column
    * and each micro-batch fans out to one MERGE per tracked destination
    * table (reference: per-table normalizer,
    * src/connectors/sinks/postgres/normalizer.rs:231-240). Untracked tables
    * are dropped (P1 tracked-table filter).
    */
  def startMulti(
      spark: SparkSession,
      binlogDir: String,
      lakes: Map[String, LakeTable],
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1,
      availableNow: Boolean = true,
      transportDedup: Boolean = true,
      maintenance: Option[Maintenance] = None,
      // same decoupling as start(): the dedup state partition count is
      // checkpoint-locked, the per-table MERGEs must track the CURRENT
      // executor count across cluster resizes
      applyShufflePartitions: Option[Int] = None): StreamingQuery = {
    graft.model.SessionTuning.tune(spark) // engine entry point: own session tuning
    val src0 = spark.readStream
      .schema(Schemas.changeEventMulti)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(binlogDir)
    val src = dedupStage(src0, transportDedup)
    val idOff = batchIdOffset(spark, checkpointDir,
      lakes.values.map(_.snapshot().batchId).foldLeft(-1L)(math.max))
    val maintOrder = lakes.keys.toSeq.sorted
    src.writeStream
      .queryName("graft-cdc-multi")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyShufflePartitions.foreach(n => batch.sparkSession.conf
          .set("spark.sql.shuffle.partitions", n.toString))
        MultiApply.applyBatch(batch.sparkSession, lakes, batch, batchId + idOff)
        // staggered maintenance: ONE lake per eligible batch, round-robin
        // over the tracked tables, so the commit-thread tax stays
        // O(one table) no matter how wide the fan-out — every lake still
        // gets a pass every everyBatches × numTables batches
        maintenance.foreach { m =>
          val bid = batchId + idOff
          if (bid > 0 && bid % m.everyBatches == 0 && maintOrder.nonEmpty) {
            val name = maintOrder(
              ((bid / m.everyBatches) % maintOrder.size).toInt)
            maintainNow(batch.sparkSession, lakes(name), m)
          }
        }
        ()
      }
      .trigger(if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime("5 seconds"))
      .start()
  }

  /** Run to completion over currently-available segments (drain). When a
    * `chunkSource` is given, any backfill chunks still pending after the
    * stream drains are completed before returning.
    */
  def runAvailable(
      spark: SparkSession,
      binlogDir: String,
      lake: LakeTable,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1,
      transportDedup: Boolean = true,
      chunkSource: Option[Backfill.ChunkSource] = None,
      chunksPerBatch: Int = 1,
      applyShufflePartitions: Option[Int] = None,
      backfillGate: () => Boolean = () => true,
      maintenance: Option[Maintenance] = None): Unit = {
    val q = start(spark, binlogDir, lake, checkpointDir, maxFilesPerTrigger,
      availableNow = true, transportDedup = transportDedup,
      chunkSource = chunkSource, chunksPerBatch = chunksPerBatch,
      applyShufflePartitions = applyShufflePartitions,
      backfillGate = backfillGate,
      maintenance = maintenance)
    q.awaitTermination()
    chunkSource.foreach { src =>
      while (backfillGate() && Backfill.step(spark, lake, src)) ()
    }
  }
}
