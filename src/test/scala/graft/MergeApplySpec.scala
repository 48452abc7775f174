package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.apply.MergeApply
import graft.binlog.{BinlogGen, GenConfig, OracleFold}
import graft.lake.LakeTable
import graft.model.{ChangeEvent, Op, Schemas, Transcript}

class MergeApplySpec extends SparkSpec {
  import spark.implicits._

  private def ts(lsn: Long) = new Timestamp(BinlogGen.BaseMs + lsn * 1000L)

  private def ev(lsn: Long, op: Int, conv: String, turn: Int,
      role: String = "user", text: String = null, tool: String = null,
      unchanged: Boolean = false, ddl: String = null): ChangeEvent =
    ChangeEvent(lsn, op, conv, turn, role, text, tool, ts(lsn), unchanged, lsn / 4, ddl)

  /** Engine final live state, sorted like the oracle. */
  private def liveState(lake: LakeTable): Vector[Transcript] =
    lake.read(spark)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "_lsn", "_op")
      .as[Transcript].collect().toVector.sortBy(t => (t.conv_id, t.turn_idx))

  private def newLake(buckets: Int = 8): LakeTable = {
    val lake = LakeTable(spark, tmpDir("lake"))
    lake.create(Schemas.transcript, buckets)
    lake
  }

  private def applyAll(lake: LakeTable, batches: Seq[Seq[ChangeEvent]]): Unit =
    batches.zipWithIndex.foreach { case (b, i) =>
      MergeApply.applyBatch(spark, lake, spark.createDataset(b).toDF(), i.toLong)
    }

  test("single batch insert/update/delete matches oracle fold") {
    val events = Seq(
      ev(2, Op.Insert, "c1", 0, text = "hello"),
      ev(4, Op.Insert, "c1", 1, text = "world"),
      ev(6, Op.Update, "c1", 0, role = "assistant", text = "hello2"),
      ev(8, Op.Delete, "c1", 1),
      ev(10, Op.Insert, "c2", 0, text = "x", tool = "tool_1"))
    val lake = newLake()
    applyAll(lake, Seq(events))
    assert(liveState(lake) == OracleFold.finalState(events))
  }

  test("unchanged-text update keeps prior text (TOAST semantics)") {
    val events = Seq(
      ev(2, Op.Insert, "c1", 0, text = "original"),
      ev(4, Op.Update, "c1", 0, role = "assistant", unchanged = true))
    val lake = newLake()
    applyAll(lake, Seq(events))
    val got = liveState(lake)
    assert(got.head.text == "original" && got.head.role == "assistant")
    assert(got == OracleFold.finalState(events))
  }

  test("unchanged-text resolves across batches against the stored row") {
    val b1 = Seq(ev(2, Op.Insert, "c1", 0, text = "v1"))
    val b2 = Seq(
      ev(4, Op.Update, "c1", 0, unchanged = true),
      ev(6, Op.Update, "c1", 0, role = "tool", unchanged = true))
    val lake = newLake()
    applyAll(lake, Seq(b1, b2))
    assert(liveState(lake) == OracleFold.finalState(b1 ++ b2))
  }

  test("delete-then-insert and insert-then-delete within one batch") {
    val events = Seq(
      ev(2, Op.Insert, "c1", 0, text = "a"),
      ev(4, Op.Delete, "c1", 0),
      ev(6, Op.Insert, "c1", 0, text = "b"),   // revived
      ev(8, Op.Insert, "c1", 1, text = "gone"),
      ev(10, Op.Delete, "c1", 1))
    val lake = newLake()
    applyAll(lake, Seq(events))
    val got = liveState(lake)
    assert(got.map(t => (t.turn_idx, t.text)) == Vector((0, "b")))
    assert(got == OracleFold.finalState(events))
  }

  test("update on missing key inserts (reference NOT MATCHED arm)") {
    val events = Seq(ev(2, Op.Update, "c9", 5, text = "late-upd"))
    val lake = newLake()
    applyAll(lake, Seq(events))
    assert(liveState(lake) == OracleFold.finalState(events))
  }

  test("late lower-lsn event is suppressed, including after delete (tombstone)") {
    val b1 = Seq(
      ev(10, Op.Update, "c1", 0, text = "new"),
      ev(12, Op.Delete, "c1", 1))
    val b2 = Seq(
      ev(2, Op.Insert, "c1", 0, text = "old"), // stale vs lsn 10
      ev(4, Op.Insert, "c1", 1, text = "resurrect")) // stale vs tombstone 12
    val lake = newLake()
    applyAll(lake, Seq(b1, b2))
    val got = liveState(lake)
    assert(got.map(t => (t.turn_idx, t.text)) == Vector((0, "new")))
    assert(got == OracleFold.finalState(b1 ++ b2))
  }

  test("duplicate lsn replays collapse (transport dedup)") {
    val e = ev(2, Op.Insert, "c1", 0, text = "once")
    val events = Seq(e, e, e, ev(4, Op.Update, "c1", 0, text = "twice"),
      ev(4, Op.Update, "c1", 0, text = "twice"))
    val lake = newLake()
    applyAll(lake, Seq(events))
    assert(liveState(lake) == OracleFold.finalState(events))
  }

  test("replayed batchId is a no-op (exactly-once guard)") {
    val b = Seq(ev(2, Op.Insert, "c1", 0, text = "a"))
    val lake = newLake()
    val df = spark.createDataset(b).toDF()
    MergeApply.applyBatch(spark, lake, df, 0L)
    val v1 = lake.snapshot().version
    MergeApply.applyBatch(spark, lake, df, 0L) // replay
    assert(lake.snapshot().version == v1)
    assert(liveState(lake) == OracleFold.finalState(b))
  }

  test("multi-batch stream equals oracle on generated fixture") {
    val cfg = GenConfig(seed = 7, numConvs = 40, eventsPerConv = 30,
      hotConvs = 2, hotFactor = 5)
    val events = BinlogGen.events(cfg)
    val batches = events.grouped(200).map(_.toSeq).toSeq
    val lake = newLake()
    applyAll(lake, batches)
    assert(liveState(lake) == OracleFold.finalState(events))
  }

  test("seed + stream from cut lsn (snapshot/backfill handoff)") {
    val cfg = GenConfig(seed = 11, numConvs = 20, eventsPerConv = 20)
    val events = BinlogGen.events(cfg)
    val (seedEvents, streamEvents) = events.splitAt(events.size / 2)
    val cut = seedEvents.map(_.lsn).max
    val seedRows = OracleFold.finalState(seedEvents)
    val lake = newLake()
    MergeApply.seed(spark, lake,
      spark.createDataset(seedRows).toDF()
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts"), cut)
    // stream replays some pre-cut events (at-least-once) — must be no-ops
    val replayTail = seedEvents.takeRight(10)
    applyAll(lake, Seq(replayTail ++ streamEvents.take(100),
      streamEvents.drop(100)))
    val got = liveState(lake)
    val want = OracleFold.finalState(events)
    // seeded rows carry _lsn = cut, so compare payload-only
    assert(got.map(t => (t.conv_id, t.turn_idx, t.text, t.tool)) ==
      want.map(t => (t.conv_id, t.turn_idx, t.text, t.tool)))
  }

  test("explicit null in an update overwrites (null != unchanged)") {
    val events = Seq(
      ev(2, Op.Insert, "c1", 0, text = "a", tool = "tool_9"),
      ev(4, Op.Update, "c1", 0, text = "b", tool = null)) // tool cleared
    val lake = newLake()
    applyAll(lake, Seq(events)) // intra-batch path (max_by null-arg)
    assert(liveState(lake).head.tool == null)
    assert(liveState(lake) == OracleFold.finalState(events))
    val lake2 = newLake()
    applyAll(lake2, Seq(events.take(1), events.drop(1))) // cross-batch path
    assert(liveState(lake2).head.tool == null)
  }

  test("compaction drops old tombstones and preserves live state; time travel") {
    val b1 = Seq(ev(2, Op.Insert, "c1", 0, text = "a"),
      ev(4, Op.Insert, "c1", 1, text = "b"))
    val b2 = Seq(ev(6, Op.Delete, "c1", 1))
    val lake = newLake(4)
    applyAll(lake, Seq(b1, b2))
    val beforeVersion = lake.snapshot().version
    val live = liveState(lake)
    assert(lake.read(spark, includeTombstones = true).count() == 2) // 1 live + 1 tomb
    lake.compact(spark, horizonLsn = 6)
    assert(lake.read(spark, includeTombstones = true).count() == 1) // tomb GC'd
    assert(liveState(lake) == live) // live state unchanged
    // time travel: pre-compaction version still readable
    assert(lake.readVersion(spark, beforeVersion, includeTombstones = true)
      .count() == 2)
    // a tombstone above the horizon survives compaction
    val lake2 = newLake(4)
    applyAll(lake2, Seq(b1, b2))
    lake2.compact(spark, horizonLsn = 5)
    assert(lake2.read(spark, includeTombstones = true).count() == 2)
  }

  test("lineage records counts and offsets per commit") {
    val b1 = Seq(ev(2, Op.Insert, "c1", 0, text = "a"),
      ev(4, Op.Insert, "c1", 1, text = "b"))
    val b2 = Seq(ev(6, Op.Update, "c1", 0, text = "a2"),
      ev(8, Op.Delete, "c1", 1),
      ev(10, Op.Insert, "c2", 0, text = "c"))
    val lake = newLake()
    applyAll(lake, Seq(b1, b2))
    val lin = lake.lineageDf(spark).orderBy("batch_id")
      .select("batch_id", "start_lsn", "end_lsn", "inserted", "updated", "deleted")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(lin == Seq((0L, 2L, 4L, 2L, 0L, 0L), (1L, 6L, 10L, 1L, 1L, 1L)))
    // A3: the snapshot's cumulative per-bucket counters equal the physical
    // row count (incl. the tombstone) with zero file IO
    assert(lake.snapshot().rowCount ==
      lake.read(spark, includeTombstones = true).count())
  }

  test("lineage is an append-only table: O(1) meta reads, survives vacuum") {
    val lake = newLake(4)
    val batches = (0 until 6).map(i =>
      Seq(ev(2L * i + 2, Op.Insert, s"c$i", 0, text = s"t$i")))
    applyAll(lake, batches)
    // reading the full lineage history opens ZERO snapshot metas — it is
    // one distributed scan of the _lineage table, not an O(versions)
    // driver decode loop (the round-4 audit finding)
    val r0 = lake.metaFileReads
    val full = lake.lineageDf(spark).collect()
    assert(lake.metaFileReads == r0,
      s"lineageDf opened ${lake.metaFileReads - r0} metas")
    assert(full.length == batches.size)
    // vacuum GCs old metas but lineage history is retained in full
    lake.vacuum(keepVersions = 1, graceMs = 0L)
    assert(lake.snapshotVersions().size == 1)
    val after = lake.lineageDf(spark)
      .select("batch_id", "inserted").as[(Long, Long)].collect().toSeq.sorted
    assert(after == (0 until 6).map(i => (i.toLong, 1L)),
      s"lineage history lost after vacuum: $after")
    // lineage compaction folds per-commit files into one; reads unchanged,
    // and a crash window (combined + one surviving original) stays exact
    // thanks to the snapshot_version dedup
    assert(lake.compactLineage() == 6)
    assert(lake.compactLineage() == 0) // converged: single file left
    val fsys = new org.apache.hadoop.fs.Path(lake.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lfiles = fsys.listStatus(
      new org.apache.hadoop.fs.Path(lake.root, "_lineage"))
    assert(lfiles.length == 1)
    // simulate the crash window: re-plant one original alongside the
    // combined file — the duplicated row must not double-count
    val dup = lake.lineageDf(spark).filter($"batch_id" === 2L)
      .toJSON.collect().mkString("", "\n", "\n")
    val o = fsys.create(new org.apache.hadoop.fs.Path(lake.root,
      "_lineage/v000000000004.json"), true)
    o.write(dup.getBytes("UTF-8")); o.close()
    assert(lake.lineageDf(spark).count() == 6)
    assert(lake.lineageDf(spark)
      .select("batch_id", "inserted").as[(Long, Long)].collect().toSeq.sorted
      == after)
  }

  test("lineage of a just-created lake is empty, with the committed columns") {
    val lake = newLake(4)
    val empty = lake.lineageDf(spark)
    assert(empty.count() == 0)
    applyAll(lake, Seq(Seq(ev(2, Op.Insert, "c1", 0, text = "a"))))
    val committed = lake.lineageDf(spark)
    assert(committed.count() == 1)
    assert(empty.schema == committed.schema && empty.columns.length == 11,
      s"${empty.schema} vs ${committed.schema}")
  }

  test("a truncated lineage file neither corrupts neighbors nor fakes rows") {
    val lake = newLake(4)
    applyAll(lake, (0 until 4).map(i =>
      Seq(ev(2L * i + 2, Op.Insert, s"c$i", 0, text = s"t$i"))))
    val fsys = new org.apache.hadoop.fs.Path(lake.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a legacy pre-atomic-append crash: v3's row cut mid-record,
    // no trailing newline
    val p = new org.apache.hadoop.fs.Path(lake.root, "_lineage/v000000000003.json")
    val half = scala.io.Source.fromInputStream(fsys.open(p)).mkString.take(30)
    val o = fsys.create(p, true)
    o.write(half.getBytes("UTF-8")); o.close()
    // PERMISSIVE read turns the fragment into an all-null row: filtered out
    val rows = lake.lineageDf(spark)
      .select("batch_id").as[Long].collect().toSeq.sorted
    assert(rows == Seq(0L, 2L, 3L), s"unexpected lineage rows $rows")
    // compaction splices a newline after the truncated part, so the NEXT
    // file's record survives intact in the combined file
    assert(lake.compactLineage() == 4)
    val after = lake.lineageDf(spark)
      .select("batch_id").as[Long].collect().toSeq.sorted
    assert(after == Seq(0L, 2L, 3L), s"rows lost/corrupted by compaction: $after")
  }

  test("vacuum deletes orphans and pre-horizon versions, never live data") {
    val lake = newLake(4)
    applyAll(lake, Seq(
      Seq(ev(2, Op.Insert, "c1", 0, text = "a"),
        ev(4, Op.Insert, "c2", 0, text = "b")),
      Seq(ev(6, Op.Update, "c1", 0, text = "a2"))))
    val live = liveState(lake)
    val versions = lake.snapshotVersions().sorted
    val fsys = new org.apache.hadoop.fs.Path(lake.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def plant(rel: String): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(lake.root, rel)
      fsys.mkdirs(p.getParent)
      val out = fsys.create(p, true); out.write(1); out.close()
      p
    }
    // a crashed-commit leftover at a long-superseded version: sweepable
    val orphan = plant("data/c2-dead/_bucket=0/part-orphan.parquet")
    // an unreferenced file whose commit version is at/after the oldest
    // retained snapshot — could be an IN-FLIGHT commit's data, written
    // before its meta appears — must survive regardless of mtime/grace
    val inflight = plant("data/c999-next/_bucket=0/part-inflight.parquet")

    val (metas, files) = lake.vacuum(keepVersions = 1, graceMs = 0L)
    assert(metas == versions.size - 1)
    assert(files >= 1)                        // at least the orphan
    assert(!fsys.exists(orphan))
    assert(fsys.exists(inflight))             // post-horizon: never swept
    assert(liveState(lake) == live)           // live state untouched
    assert(lake.snapshotVersions().size == 1) // time-travel horizon bounded
    // a fresh commit after vacuum still works
    MergeApply.applyBatch(spark, lake, spark.createDataset(
      Seq(ev(8, Op.Insert, "c3", 0, text = "c"))).toDF(), 5L)
    assert(liveState(lake).size == live.size + 1)
  }

  test("a ddl column name unsafe for the meta format degrades to a counted skip") {
    // 'a|b' would commit fine as `coladd=a|b|<lsn>` and then brick every
    // subsequent readSnapshot (3-way split MatchError) — it must be
    // rejected as a counted evolution skip, like an incompatible type
    val lake = newLake(4)
    val snap = MergeApply.applyBatch(spark, lake, spark.createDataset(Seq(
      ev(2, Op.Insert, "c1", 0, text = "a"),
      ev(3, Op.SchemaChange, null, 0, role = null,
        ddl = "add:a|b:\"string\""))).toDF(), 0L)
    assert(snap.lineage.exists(_.skippedEvolutions == 1L))
    assert(!snap.schema.fieldNames.exists(_.contains("|")))
    // the meta round-trips: a FRESH handle decodes the committed snapshot
    val reread = LakeTable(spark, lake.root).snapshot()
    assert(reread.version == snap.version)
    assert(liveState(lake).map(_.conv_id) == Vector("c1"))
  }
}
