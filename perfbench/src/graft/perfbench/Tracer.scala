package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

import graft.lake.LakeTable

/** Spans and counts of one traced drain, recorded in memory from outside
  * the engine and written out at the end:
  *   - a SparkListener: SQL executions, jobs (which carry the micro-batch id
  *     as the `streaming.sql.batchId` local property), stages with task
  *     CPU / GC / shuffle / spill / IO and `StateStoreRDD` detection;
  *   - a QueryExecutionListener: each action's name, duration and executed
  *     plan (adaptive flag, Exchange count, join strategy, files scanned);
  *   - streaming progress: micro-batch walls and state-operator metrics;
  *   - `LakeTable.failpoint`: commit-step timestamps (recorded, never
  *     thrown) and the lake's manifest / meta read counters at each commit;
  *   - the benchmark's own calls: chunk planning, chunk selects, lookups.
  *
  * Times are epoch milliseconds with sub-millisecond fractions.
  */
object Tracer {
  private val epochMs = System.currentTimeMillis()
  private val epochNs = System.nanoTime()
  def now(): Double = epochMs + (System.nanoTime() - epochNs) / 1e6

  val BatchKey = "streaming.sql.batchId"

  case class Span(id: String, name: String, start: Double, end: Double,
      parent: String, batch: Long, detail: String = "") {
    def ms: Double = end - start
    def json: String = {
      def s(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      s"""{"id": ${s(id)}, "name": ${s(name)}, "start": ${f"$start%.3f"}, """ +
        s""""end": ${f"$end%.3f"}, "parent": ${s(parent)}, "batch": $batch, """ +
        s""""detail": ${s(detail)}}"""
    }
  }

  case class Exec(id: Long, root: Long, start: Double, var end: Double,
      var qe: Long = -1L)
  case class Action(id: Long, func: String, ms: Double, adaptive: Boolean,
      exchanges: Int, joins: Seq[String], filesRead: Long, rddRows: Long)
  case class Job(id: Int, start: Double, var end: Double, exec: Long,
      batch: Long, stages: Seq[Int])
  case class Stage(id: Int, start: Double, end: Double, tasks: Int,
      stateStore: Boolean, cpuNs: Long, gcMs: Long, spill: Long,
      shuffleWrite: Long, shuffleRead: Long, output: Long)
  case class Commit(t: Double, batch: Long, version: Long, touched: Int,
      buckets: Int, rowsRewritten: Long, filesTouched: Int, liveFiles: Int,
      backfillDone: Int, manifestReads: Long, metaReads: Long,
      dataAt: Double, manifestsAt: Double)
  case class Chunk(i: Int, batch: Long, lw: Long, start: Double, end: Double,
      var rows: Long = 0L)
}

final class Tracer(spark: SparkSession, out: Option[String]) {
  import Tracer._

  private val execs = mutable.LinkedHashMap[Long, Exec]()
  private val actions = mutable.LinkedHashMap[Long, Action]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.LinkedHashMap[Int, Stage]()
  private val commits = ArrayBuffer[Commit]()
  private val chunksSel = ArrayBuffer[Chunk]()
  private val own = ArrayBuffer[Span]()
  private var phase0 = 0.0
  private val pending = mutable.Map[String, Double]()

  /** Guard failures found while reporting (a wrong result, not a speed). */
  val errors = ArrayBuffer[String]()

  private object Plans extends AdaptiveSparkPlanHelper

  private def batchOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(BatchKey))).map(_.toLong).getOrElse(-1L)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = Job(e.jobId, e.time.toDouble, e.time.toDouble, exec,
        batchOf(e.properties), e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages(i.stageId) = Stage(i.stageId,
        i.submissionTime.getOrElse(0L).toDouble,
        i.completionTime.getOrElse(0L).toDouble, i.numTasks,
        i.rddInfos.exists(_.name.contains("StateStoreRDD")),
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.jvmGCTime,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.outputMetrics.bytesWritten)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        execs(s.executionId) = Exec(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId), s.time.toDouble, s.time.toDouble)
      }
      case x: SparkListenerSQLExecutionEnd => synchronized {
        execs.get(x.executionId).foreach { e =>
          e.end = x.time.toDouble
          e.qe = org.apache.spark.sql.BenchSql.queryExecutionId(x)
        }
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.executedPlan
      def metric(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
      val a = Action(qe.id, func, durationNs / 1e6,
        Plans.find(plan)(_.isInstanceOf[AdaptiveSparkPlanExec]).isDefined,
        Plans.collect(plan) { case x: Exchange => x }.size,
        Plans.collect(plan) { case j if j.nodeName.endsWith("Join") => j.nodeName },
        Plans.collect(plan) { case s: FileSourceScanExec => metric(s, "numFiles") }.sum,
        Plans.collect(plan) { case r: RDDScanExec => metric(r, "numOutputRows") }.sum)
      Tracer.this.synchronized { actions(qe.id) = a }
    }
    def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Engine-side observation handle: a separate table handle, so reading
    * commit stats never warms the engine's own manifest cache or counters.
    */
  private var observer: LakeTable = _

  private def onFailpoint(engine: LakeTable)(name: String): Unit = {
    val t = now()
    val batch = Option(spark.sparkContext.getLocalProperty(BatchKey))
      .map(_.toLong).getOrElse(-1L)
    name match {
      case "after-write-data" | "after-write-manifests" =>
        synchronized { pending(name) = t; () }
      case "after-meta-rename" =>
        val s = observer.snapshot()
        val touched = s.lineage.map(_.bucketRows).getOrElse(Map.empty)
        synchronized {
          commits += Commit(t, batch, s.version, touched.size, s.numBuckets,
            touched.values.sum, s.files.count(f => touched.contains(f.bucket)),
            s.files.size, s.backfillDone, engine.manifestFileReads,
            engine.metaFileReads,
            pending.remove("after-write-data").getOrElse(t),
            pending.remove("after-write-manifests").getOrElse(t))
          ()
        }
      case _ =>
    }
  }

  def attach(lake: LakeTable): Unit = {
    observer = LakeTable(spark, lake.root)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    lake.failpoint = onFailpoint(lake)
  }

  def detach(lake: LakeTable): Unit = {
    lake.failpoint = null
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def phaseStart(): Unit = synchronized { phase0 = now() }

  def span(name: String, start: Double, end: Double, batch: Long,
      detail: String): Unit = synchronized {
    own += Span(s"$name:${own.size}", name, start, end, "run", batch, detail)
    ()
  }

  def chunkSelected(i: Int, lw: Long, start: Double, end: Double): Unit = {
    val batch = Option(spark.sparkContext.getLocalProperty(BatchKey))
      .map(_.toLong).getOrElse(-1L)
    synchronized { chunksSel += Chunk(i, batch, lw, start, end); () }
  }

  /** Fill in the row count of every selected chunk (chunk, low watermark). */
  def countChunkRows(count: (Int, Long) => Long): Unit = synchronized {
    chunksSel.foreach(c => c.rows = count(c.i, c.lw))
  }

  // ------------------------------------------------------------ reporting

  private def med(xs: Iterable[Double]) = Main.median(xs.toSeq)
  private def ratio[A, B](a: A, b: B)(implicit na: Numeric[A], nb: Numeric[B]): Double =
    if (nb.toDouble(b) == 0) 0.0 else na.toDouble(a) / nb.toDouble(b)

  /** Total time covered by a set of intervals. */
  private def covered(iv: Seq[(Double, Double)]): Double =
    iv.sortBy(_._1).foldLeft((0.0, Double.MinValue)) { case ((sum, reach), (a, b)) =>
      if (b <= reach) (sum, reach)
      else (sum + b - math.max(a, reach), b)
    }._1

  /** One phase of a micro-batch's foreachBatch body: the stream apply,
    * a backfill chunk, or inline maintenance.
    */
  private case class Phase(kind: String, batch: Long, start: Double, end: Double,
      commit: Option[Commit], chunk: Option[Chunk]) {
    def id: String = s"$kind:$batch:${start.toLong}"
  }

  /** The phase of a batch running at time t (phases are half-open). */
  private def phaseAt(phases: Seq[Phase], batch: Long, t: Double): Option[Phase] =
    phases.find(ph => ph.batch == batch && t >= ph.start && t < ph.end)

  /** Per-layer metrics of the traced drain; writes every span, keyed by
    * micro-batch id, to the trace file.
    */
  def metrics(progress: Seq[StreamingQueryProgress], untracedEps: Double,
      tracedEps: Double, exp: Oracle.Expected,
      lake: LakeTable): Seq[(String, Double, String)] = synchronized {
    val batches = progress.filter(_.numInputRows > 0)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val batchSpan = batches.map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      p.batchId -> Span(s"batch:${p.batchId}", "pipeline.micro_batch", start,
        start + dur(p, "triggerExecution"), "run", p.batchId,
        s"rows=${p.numInputRows}")
    }.toMap

    // SQL executions of each batch: jobs carry the batch id; the root is
    // the streaming engine's addBatch execution around foreachBatch
    val execBatch: Map[Long, Long] = jobs.values
      .filter(j => j.exec >= 0 && batchSpan.contains(j.batch))
      .map(j => j.exec -> j.batch).toMap
    val rootOf: Map[Long, Exec] = execBatch.keys.flatMap(execs.get)
      .flatMap(e => execs.get(e.root).map(r => execBatch(e.id) -> r)).toMap
    val nested = execs.values.filter(e => execBatch.contains(e.id) && e.root != e.id)
      .toSeq.sortBy(_.start)
    def batchOfExec(e: Exec) = execBatch(e.id)

    // phases: the apply ends at the batch's first commit; a chunk runs from
    // its source select to the next commit; the rest of a batch that
    // committed again is maintenance
    val phases: Seq[Phase] = batches.flatMap { p =>
      val b = p.batchId
      val root = rootOf.get(b)
      val start = root.map(_.start).getOrElse(batchSpan(b).start)
      val end = root.map(_.end).getOrElse(batchSpan(b).end)
      val cs = commits.filter(_.batch == b).sortBy(_.t)
      val sel = chunksSel.filter(_.batch == b).sortBy(_.start)
      cs.headOption.toSeq.flatMap { apply =>
        val chunkPhases = sel.map { c =>
          val k = cs.find(_.t >= c.end)
          Phase("chunk", b, c.start, k.map(_.t).getOrElse(c.end), k, Some(c))
        }
        val afterApply = (chunkPhases.map(_.end) :+ apply.t).max
        val later = cs.filter(_.t > afterApply)
        val maint = later.headOption.map { c =>
          val from = nested.find(e => batchOfExec(e) == b && e.start > afterApply)
            .map(_.start).getOrElse(afterApply)
          Phase("maintenance", b, from, end, Some(c), None)
        }
        val applyEnd = (chunkPhases.map(_.start) ++ maint.map(_.start) :+ end).min
        Phase("apply", b, start, applyEnd, Some(apply), None) +: (chunkPhases ++ maint)
      }
    }
    def phaseOf(e: Exec): Option[Phase] = phaseAt(phases, batchOfExec(e), e.start)
    def execsIn(kind: String) = nested.filter(e => phaseOf(e).exists(_.kind == kind))
    // jobs by start time, so jobs outside any SQL execution count too
    def jobsIn(kind: String) = jobs.values
      .filter(j => phaseAt(phases, j.batch, j.start).exists(_.kind == kind)).toSeq
    def stagesOf(js: Seq[Job]) = js.flatMap(_.stages).flatMap(stages.get)

    val applyPh = phases.filter(_.kind == "apply")
    val chunkPh = phases.filter(_.kind == "chunk")
    val maintPh = phases.filter(_.kind == "maintenance")
    val applyExecs = execsIn("apply")
    val applyJobs = jobsIn("apply")
    val applyStages = stagesOf(applyJobs)
    val applyActs = applyExecs.flatMap(e => actions.get(e.qe))
    val nBatches = batches.size.toDouble
    val inRows = batches.map(_.numInputRows).sum.toDouble
    val perBatchExecs = applyExecs.groupBy(batchOfExec).view.mapValues(_.sortBy(_.start)).toMap
    val prescan = perBatchExecs.values.flatMap(_.headOption)
    val dedupOut = prescan.flatMap(e => actions.get(e.qe)).map(_.rddRows).sum.toDouble
    val statePasses = batches.map(p => stagesOf(jobs.values
      .filter(_.batch == p.batchId).toSeq).count(_.stateStore).toDouble)
    val lastState = batches.lastOption.flatMap(_.stateOperators.headOption)
    val unattributed = applyPh.map { ph =>
      val es = applyExecs.filter(e => batchOfExec(e) == ph.batch).map(e => (e.start, e.end))
      val c = ph.commit.get
      (ph.end - ph.start) - covered(es) - (c.t - c.dataAt)
    }
    val streamCommits = applyPh.flatMap(_.commit)
    val chunkCommits = chunkPh.flatMap(ph => ph.commit.map(ph.chunk.get -> _))
    val lookupSpans = own.filter(_.name == "lookup")
    val lookupActs = execs.values.filter(e => lookupSpans.exists(s =>
      e.start >= s.start - 1 && e.end <= s.end + 1)).flatMap(e => actions.get(e.qe))
    val allStages = stages.values.filter(_.start >= phase0)
    def perCommitDelta(f: Commit => Long): Seq[Double] = {
      val cs = commits.sortBy(_.t)
      cs.zip(cs.drop(1)).map { case (a, b) => (f(b) - f(a)).toDouble }.toSeq
    }
    // the transport dedup must drop exactly the injected redeliveries
    if (inRows - dedupOut != exp.duplicates)
      errors += s"dedup dropped ${inRows - dedupOut} rows, injected ${exp.duplicates}"
    val commitMs = batches.map(dur(_, "triggerExecution"))
    val backfillS = chunkCommits.lastOption.map(_._2.t - phase0).getOrElse(0.0) / 1000.0

    writeSpans(batchSpan, rootOf, nested, phases, execBatch)

    Seq(
      ("pipeline.micro_batches", nBatches, "count"),
      ("pipeline.commit_ms_p90", Main.quantile(commitMs, 0.9), "ms"),
      ("pipeline.trigger_overhead_ms", med(batches.map(p =>
        dur(p, "triggerExecution") - dur(p, "addBatch"))), "ms"),
      ("pipeline.planning_ms", med(batches.map(dur(_, "queryPlanning"))), "ms"),
      ("dedup.stateful_passes_per_batch", med(statePasses), "count"),
      ("dedup.state_update_ms", med(batches.flatMap(_.stateOperators.headOption)
        .map(_.allUpdatesTimeMs.toDouble)), "ms"),
      ("dedup.state_commit_ms", med(batches.flatMap(_.stateOperators.headOption)
        .map(_.commitTimeMs.toDouble)), "ms"),
      ("dedup.state_rows", lastState.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count"),
      ("dedup.state_mem_mb", lastState.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0), "MB"),
      ("dedup.drop_share", ratio(inRows - dedupOut, inRows), "ratio"),
      ("apply.wall_ms", med(applyPh.map(ph => ph.end - ph.start)), "ms"),
      ("apply.prescan_ms", med(prescan.map(e => e.end - e.start)), "ms"),
      ("apply.merge_write_ms", med(perBatchExecs.values.map(es =>
        covered(es.drop(1).map(e => (e.start, e.end))))), "ms"),
      ("apply.unattributed_ms", med(unattributed), "ms"),
      ("apply.jobs_per_commit", ratio(applyJobs.size, nBatches), "count"),
      ("apply.stages_per_commit", ratio(applyStages.size, nBatches), "count"),
      ("apply.tasks_per_commit", ratio(applyStages.map(_.tasks).sum, nBatches), "count"),
      ("apply.adaptive_share", ratio(applyActs.count(_.adaptive), applyActs.size), "ratio"),
      ("apply.exchanges_per_commit", ratio(applyActs.map(_.exchanges).sum, nBatches), "count"),
      ("apply.shuffle_bytes_per_event", ratio(applyStages.map(_.shuffleWrite).sum, inRows), "B/event"),
      ("lake.touched_bucket_share", med(streamCommits.map(c => ratio(c.touched, c.buckets))), "ratio"),
      ("lake.rows_rewritten_per_event", ratio(streamCommits.map(_.rowsRewritten).sum, inRows), "rows/event"),
      ("lake.files_written_per_commit", med(streamCommits.map(_.filesTouched.toDouble)), "count"),
      ("lake.bytes_written_per_commit", ratio(applyStages.map(_.output).sum, nBatches), "B"),
      ("lake.manifest_ms", med(commits.map(c => c.manifestsAt - c.dataAt)), "ms"),
      ("lake.meta_commit_ms", med(commits.map(c => c.t - c.manifestsAt)), "ms"),
      ("lake.manifest_reads", med(perCommitDelta(_.manifestReads)), "count"),
      ("lake.meta_reads", med(perCommitDelta(_.metaReads)), "count"),
      ("lake.maintenance_ms", med(maintPh.map(ph => ph.end - ph.start)), "ms"),
      ("lake.maintenance_rows_rewritten", med(maintPh.flatMap(_.commit)
        .map(_.rowsRewritten.toDouble)), "count"),
      ("lake.live_files", lake.snapshot().files.size.toDouble, "count"),
      ("lake.files_read_per_lookup", ratio(lookupActs.map(_.filesRead).sum, lookupSpans.size), "count"),
      ("backfill.backfill_s", backfillS, "s"),
      ("backfill.plan_ms", own.filter(_.name == "backfill.plan").map(_.ms).sum, "ms"),
      ("backfill.source_select_ms", med(chunksSel.map(c => c.end - c.start)), "ms"),
      ("backfill.chunk_commit_ms", med(chunkCommits.map { case (c, k) => k.t - c.end }), "ms"),
      ("backfill.buckets_per_chunk", med(chunkCommits.map(_._2.touched.toDouble)), "count"),
      ("backfill.rows_rewritten_per_chunk_row", ratio(
        chunkCommits.map(_._2.rowsRewritten).sum, chunksSel.map(_.rows).sum), "ratio"),
      ("spark.task_cpu_s", allStages.map(_.cpuNs).sum / 1e9, "s"),
      ("spark.gc_s", allStages.map(_.gcMs).sum / 1e3, "s"),
      ("spark.spill_bytes", allStages.map(_.spill).sum.toDouble, "B"),
      ("trace.events_per_s_untraced", untracedEps, "events/s"),
      ("trace.events_per_s_traced", tracedEps, "events/s"),
      ("trace.overhead_share", ratio(untracedEps - tracedEps, untracedEps), "ratio"))
  }

  /** Span tree: micro-batch → addBatch execution → phase (apply / chunk /
    * maintenance) → SQL execution → job → stage, plus commit steps and the
    * benchmark's own calls. Every span carries its micro-batch id.
    */
  private def writeSpans(batchSpan: Map[Long, Span], rootOf: Map[Long, Exec],
      nested: Seq[Exec], phases: Seq[Phase], execBatch: Map[Long, Long]): Unit =
    out.foreach { path =>
      val spans = ArrayBuffer[Span]()
      spans ++= batchSpan.values.toSeq.sortBy(_.start)
      for ((b, r) <- rootOf)
        spans += Span(s"sql:${r.id}", "pipeline.add_batch", r.start, r.end, s"batch:$b", b)
      for (ph <- phases)
        spans += Span(ph.id, s"phase.${ph.kind}", ph.start, ph.end,
          rootOf.get(ph.batch).map(r => s"sql:${r.id}").getOrElse(s"batch:${ph.batch}"),
          ph.batch, ph.commit.map(c => s"version=${c.version} touched=${c.touched}/${c.buckets}").getOrElse(""))
      for (e <- nested) {
        val b = execBatch(e.id)
        val ph = phaseAt(phases, b, e.start)
        val a = actions.get(e.qe)
        spans += Span(s"sql:${e.id}", "sql." + a.map(_.func).getOrElse("execution"),
          e.start, e.end, ph.map(_.id).getOrElse(s"sql:${e.root}"), b,
          a.map(x => s"adaptive=${x.adaptive} exchanges=${x.exchanges} " +
            s"joins=${x.joins.mkString("+")}").getOrElse(""))
        for (j <- jobs.values if j.exec == e.id) {
          spans += Span(s"job:${j.id}", "spark.job", j.start, j.end, s"sql:${e.id}", b)
          for (st <- j.stages.flatMap(stages.get) if st.start > 0)
            spans += Span(s"stage:${st.id}",
              if (st.stateStore) "spark.stage.state_store" else "spark.stage",
              st.start, st.end, s"job:${j.id}", b, s"tasks=${st.tasks}")
        }
      }
      for (ph <- phases; c <- ph.commit) {
        spans += Span(s"lake.manifest:${c.version}", "lake.manifest", c.dataAt,
          c.manifestsAt, ph.id, ph.batch)
        spans += Span(s"lake.meta_commit:${c.version}", "lake.meta_commit",
          c.manifestsAt, c.t, ph.id, ph.batch,
          s"manifest_reads=${c.manifestReads} meta_reads=${c.metaReads}")
      }
      for (ph <- phases; c <- ph.chunk)
        spans += Span(s"backfill.source_select:${c.i}", "backfill.source_select",
          c.start, c.end, ph.id, ph.batch, s"rows=${c.rows}")
      spans ++= own.filter(_.name != "backfill.source_select")
      Files.write(Paths.get(path),
        spans.map(_.json).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      ()
    }
}
