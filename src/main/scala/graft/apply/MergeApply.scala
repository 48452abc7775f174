package graft.apply

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.lake.{LakeTable, LineageEntry, Snapshot}
import graft.model.{Op, Schemas}
import graft.schema.{AddColumn, Reconcile, WidenColumn}

/** The micro-batch apply: the Spark-side collapse of the reference's
  * WAL-handler → Pipeline → Normalizer thread trio into one `foreachBatch`
  * body (reference: src/pipeline/mod.rs:57-127,
  * src/connectors/sinks/postgres/normalizer.rs:102-359):
  *
  *   reconcile schema → transport dedup → LWW reduce → partition-pruned
  *   copy-on-write MERGE → atomic lineage commit (idempotent by batchId).
  *
  * MERGE arm semantics follow the generated SQL of the reference
  * (reference: src/connectors/sinks/postgres/merge_generator.rs:128-189):
  *   NOT MATCHED ∧ op≠DELETE → INSERT;  MATCHED ∧ op=DELETE → DELETE;
  *   MATCHED ∧ op≠DELETE → UPDATE with per-column "unchanged" coalesce
  *   against the target row; plus the cross-batch late-event guard
  *   `src.lsn > dst._lsn` (reference T8 policy, wal_handler.rs:134-136).
  */
object MergeApply {

  private val audit = Seq("_lsn", "_op")

  /** Parse op=SchemaChange ddl strings: "add:<col>:<DataType.json>" or
    * "widen:<col>:<DataType.json>" (the Spark analog of pgoutput Relation
    * messages, reference: src/source/parser.rs:33-38,210-241).
    */
  private[graft] def parseDdl(s: String): (String, String, DataType) = {
    val a = s.split(":", 3)
    (a(0), a(1), DataType.fromJson(a(2)))
  }

  /** Apply one micro-batch of change events to the lake table. Returns the
    * committed snapshot (unchanged if the batch replays an already-applied
    * batchId — exactly-once via the lineage guard, reference invariant
    * src/engine/replication/postgres.rs:86-125).
    */
  def applyBatch(
      spark: SparkSession,
      lake: LakeTable,
      batch: DataFrame,
      batchId: Long): Snapshot = {
    val t0 = System.currentTimeMillis()
    val snap = lake.snapshot()
    if (batchId <= snap.batchId) return snap // replayed batch → no-op

    // ---- 0. single pre-scan: ddl rows + touched buckets + source stats ----
    // one aggregation job instead of three separate scans of the batch
    // (ddl collect, bucket distinct, observe min/max/count).
    // `isData` embeds the per-event stale guard (reference should_emit,
    // src/control/state.rs:375-395): an event at or below the table's
    // applied position — an at-least-once redelivery that outlived the
    // dedup state (a rebase) — must not reach the LWW reduce, where it could
    // resurrect a column value a fresher same-batch event didn't carry.
    val isData = col("op") < Op.SchemaChange && col("lsn") > snap.endLsn
    val pre = batch.select(
      collect_list(when(col("op") === Op.SchemaChange,
        struct(col("lsn"), col("ddl")))).as("ddls"),
      collect_set(when(isData,
        lake.bucketExpr(snap.numBuckets))).as("buckets"),
      count(when(isData, 1)).as("events"),
      min(when(isData, col("lsn"))).as("start_lsn"),
      max(when(isData, col("lsn"))).as("end_lsn"))
      .head()
    val ddlRows = pre.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getLong(0), parseDdl(r.getString(1)))).sortBy(_._1)
    val touched = pre.getSeq[Int](1).toSet
    val startLsn = if (pre.isNullAt(3)) -1L else pre.getLong(3)
    val endLsn = if (pre.isNullAt(4)) -1L else pre.getLong(4)
    val tableSchema = snap.schema
    val declared = StructType(tableSchema.fields.filterNot(f => audit.contains(f.name)))

    val batchTypes = batch.schema.fields.map(f => f.name -> f.dataType).toMap
    var incoming = StructType(declared.fields.map { f =>
      batchTypes.get(f.name).fold(f)(dt => f.copy(dataType = dt))
    })
    var newColAdds = Map.empty[String, Long]
    // Meta-format safety: a column name reaches the snapshot meta as a
    // `coladd=<name>|<lsn>` line and inside line-oriented schema json — a
    // name carrying '|' or a newline would COMMIT fine and then brick
    // every later readSnapshot (MatchError in the decoder, table
    // unreadable until hand-edited). Such ddl degrades to a counted skip
    // (E5), exactly like an incompatible type change.
    def metaSafeName(n: String): Boolean =
      n != null && n.nonEmpty &&
        !n.exists(c => c == '|' || c == '\n' || c == '\r')
    var unsafeDdl = 0L
    for ((lsn, (kind, name, dt)) <- ddlRows) kind match {
      case _ if !metaSafeName(name) => unsafeDdl += 1
      case "add" =>
        if (!incoming.fieldNames.contains(name))
          incoming = incoming.add(StructField(name, dt, nullable = true))
        // Record the add-lsn even when the table was pre-created with the
        // column: the SOURCE only started emitting it at this lsn, so
        // earlier events must not count as carrying it (the reference's
        // Relation-message column registry, src/pipeline/schema_cache.rs:
        // 31-100, keys existence off the stream, not the sink schema).
        // First add wins; a replayed/duplicate ddl can't move it.
        if (!snap.colAddLsn.contains(name) && !newColAdds.contains(name))
          newColAdds += (name -> lsn)
      case "widen" =>
        incoming = StructType(incoming.fields.map(f =>
          if (f.name == name) f.copy(dataType = dt) else f))
      case _ => // unknown ddl kind: ignore (forward compatibility)
    }
    val plan = Reconcile(declared, incoming)
    // E5 degraded mode: incompatible type changes keep the old type (the
    // data casts below null what can't convert) and are COUNTED, not fatal
    val skippedEvo = unsafeDdl +
      plan.actions.count(_.isInstanceOf[graft.schema.RejectChange]).toLong
    val merged = StructType(plan.merged.fields ++
      tableSchema.fields.filter(f => audit.contains(f.name)))
    val payload = Schemas.payloadCols(merged)
    val addLsn = snap.colAddLsn ++ newColAdds

    // ---- 2. dedup + LWW reduce ----
    val data0 = batch.filter(isData)
    // ensure every declared payload column exists physically, with merged type
    val data = payload.foldLeft(data0) { (df, c) =>
      val target = merged(c).dataType
      if (df.columns.contains(c)) df.withColumn(c, col(c).cast(target))
      else df.withColumn(c, lit(null).cast(target))
    }.withColumn("turn_idx", col("turn_idx").cast(merged("turn_idx").dataType))

    // No explicit dropDuplicates here: the LWW reduce is idempotent under
    // duplicated rows (same lsn ⇒ identical row ⇒ same max_by winner), so an
    // extra shuffle on lsn would buy nothing. Cross-batch redelivery is
    // handled by the streaming IntervalDedup stage, the batchId guard, the
    // per-event `lsn > snap.endLsn` filter in `isData`, and the per-key
    // _lsn guard in the MERGE (defense in depth).
    val ups = Dedup.lwwReduce(data, payload, addLsn)

    if (touched.isEmpty) {
      // heartbeat / ddl-only batch: still advance batchId + schema
      // (reference T9: no-op batches advance lineage, record.rs:38-40)
      return lake.commitEmpty(snap, batchId,
        if (plan.changed) Some(merged) else None, newColAdds, skippedEvo)
    }

    // ---- 3. partition-pruned COW MERGE ----
    val (result, mergeObs) = mergeRows(spark, lake, snap, ups, touched,
      merged, payload)
    lake.commitRewrite(spark, snap, touched, result, batchId,
      endLsn = -1L, // filled from observation below via lineage
      lineage = LineageEntry(batchId, 0, 0, 0, 0, 0, 0, Map.empty),
      newSchema = if (plan.changed) Some(merged) else None,
      newColAdds = newColAdds,
      lineageFn = Some { () =>
        val m = mergeObs.get
        LineageEntry(batchId, startLsn, endLsn,
          m("ins").asInstanceOf[Long], m("upd").asInstanceOf[Long],
          m("del").asInstanceOf[Long],
          System.currentTimeMillis() - t0, Map.empty, skippedEvo)
      })
  }

  /** The COW MERGE core: full-outer join `ups` (one row per key: lsn, op,
    * payload values + `<c>__carried` flags) against the touched buckets of
    * `snap`, apply the per-row LWW / late-event guard, and return the new
    * contents of those buckets plus an Observation exposing ins/upd/del
    * counts after materialization. Shared by the streaming apply and the
    * concurrent-backfill chunk apply (reference: the generated MERGE of
    * merge_generator.rs:128-189 + the chunk reconciliation of
    * active_chunks.rs:74-330 collapse to this one dataflow).
    */
  private[graft] def mergeRows(
      spark: SparkSession,
      lake: LakeTable,
      snap: Snapshot,
      ups: DataFrame,
      touched: Set[Int],
      merged: StructType,
      payload: Seq[String],
      chunkTieWins: Boolean = false): (DataFrame, Observation) = {
    val target = lake.readBuckets(spark, snap, touched, Some(merged))
    val t = target.as("t")
    val u = ups.as("u")
    val cond = Schemas.keys.map(k => t(k) === u(k)).reduce(_ && _)
    val joined = t.join(u, cond, "full_outer")

    val uExists = u("lsn").isNotNull
    val tExists = t("_lsn").isNotNull
    val tLive = tExists && t("_op") =!= Op.Delete
    // Backfill chunk rows reflect the full source STATE at their lsn (LW),
    // which dominates any target row applied at or before LW — ties go to
    // the chunk. Stream events are point changes — ties go to the target.
    val stale = uExists && tExists &&
      (if (chunkTieWins) u("lsn") < t("_lsn") else u("lsn") <= t("_lsn"))
    val fresh = uExists && !stale
    val isDel = u("op") === Op.Delete

    // DELETE keeps a tombstone row (_op=2, payload nulled): its _lsn guard
    // protects against a late lower-lsn INSERT resurrecting the key.
    // Live reads filter tombstones out (LakeTable.read); compaction can GC
    // them once the source can no longer replay below their lsn.
    val rowClass = when(!uExists, lit("kept"))
      .when(stale, lit("stale"))
      .when(isDel && tLive, lit("deleted"))
      .when(isDel, lit("del_miss"))
      .when(tLive, lit("updated"))
      .otherwise(lit("inserted"))

    val mergeObs = Observation()
    val classified = joined
      .withColumn("_class", rowClass)
      .observe(mergeObs,
        sum(when(col("_class") === "inserted", 1L).otherwise(0L)).as("ins"),
        sum(when(col("_class") === "updated", 1L).otherwise(0L)).as("upd"),
        sum(when(col("_class") === "deleted", 1L).otherwise(0L)).as("del"))

    val keyCols = Schemas.keys.map(k =>
      coalesce(u(k), t(k)).cast(merged(k).dataType).as(k))
    val payloadCols = payload.map { c =>
      when(fresh && isDel, lit(null))
        .when(fresh, when(u(s"${c}__carried"), u(c)).otherwise(t(c)))
        .otherwise(t(c)).cast(merged(c).dataType).as(c)
    }
    val auditCols = Seq(
      when(fresh, u("lsn")).otherwise(t("_lsn")).as("_lsn"),
      when(fresh, u("op")).otherwise(t("_op")).as("_op"))

    (classified.select(keyCols ++ payloadCols ++ auditCols: _*), mergeObs)
  }

  /** Bulk seed/backfill: load an initial table state recording the stream
    * cut LSN (the reference's snapshot low/high-watermark handoff collapses
    * to an LSN cut when the stream starts after the seed — reference T6,
    * src/engine/snapshot/worker.rs:353-503). Rows get `_lsn = cutLsn`, so
    * any replayed change event at or before the cut is suppressed by the
    * MERGE's late-event guard (the should_emit dedup,
    * src/control/state.rs:375-395).
    */
  def seed(
      spark: SparkSession,
      lake: LakeTable,
      rows: DataFrame,
      cutLsn: Long): Snapshot = {
    val t0 = System.currentTimeMillis()
    val snap = lake.snapshot()
    val payload = Schemas.payloadCols(snap.schema)
    val data = rows
      .select((Schemas.keys ++ payload).map(c =>
        col(c).cast(snap.schema(c).dataType).as(c)): _*)
      .withColumn("_lsn", lit(cutLsn))
      .withColumn("_op", lit(Op.Insert))
    val obs = Observation()
    val observed = data.observe(obs, count(lit(1)).as("n"))
    val all = (0 until snap.numBuckets).toSet
    lake.commitRewrite(spark, snap, all, observed, snap.batchId,
      endLsn = cutLsn,
      lineage = LineageEntry(snap.batchId, cutLsn, cutLsn, 0, 0, 0, 0, Map.empty),
      lineageFn = Some { () =>
        LineageEntry(snap.batchId, cutLsn, cutLsn,
          obs.get("n").asInstanceOf[Long], 0, 0,
          System.currentTimeMillis() - t0, Map.empty)
      })
  }
}
