package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.apply.{Backfill, MergeApply}
import graft.lake.LakeTable
import graft.model.Schemas
import graft.pipeline.Pipeline

/** The measured process: one workload, one seed, one run.
  *
  * Phases: session start → warm-up drain on a throwaway lake (the
  * workload's own batch shape) → lake create / seed → timed closed-loop
  * drain through
  * `Pipeline.runAvailable` → point lookups → oracle gate. A traced run
  * then drains again on a fresh lake with every listener attached, and
  * once more untraced, for the tracing overhead.
  *
  * Writes one JSON result object to `--result`.
  */
object Main {

  /** Streaming progress of every micro-batch: the interface
    * `commit_ms_*` is read from, and the only listener of untraced runs.
    */
  final class Progress extends StreamingQueryListener {
    val events = ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: QueryProgressEvent): Unit =
      events.synchronized { events += e.progress; () }
    def take(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
      events.synchronized { val r = events.toList; events.clear(); r }
  }

  case class Drain(wallS: Double, commitMs: Seq[Double], records: Long,
      commits: Long, progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      src: Option[FileChunkSource])

  case class Lookups(ms: Seq[Double], failed: Int)

  def main(args: Array[String]): Unit = {
    val o = Args(args)
    val result = new Main(o).run()
    Files.write(Paths.get(o("result")), result.getBytes(StandardCharsets.UTF_8))
    System.exit(0)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]); 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Process CPU seconds, all threads. */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Host CPU ticks from /proc/stat: (stolen by the hypervisor, total). */
  def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong)
    (f(7), f.take(8).sum)
  }

  def dirBytes(spark: SparkSession, dirs: String*): Long = dirs.map { d =>
    val p = new Path(d)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }.sum
}

final class Main(o: Args) {
  import Main._

  private val workload = o("workload")
  private val work = o("work")
  private val input = o("input")
  private val traced = o("trace") == "1"
  private val buckets = o.int("buckets")
  private val filesPerTrigger = o.int("max_files_per_trigger")
  private val maintenance = o.get("maintenance_every").map(_.toInt).filter(_ > 0)
    .map(n => Pipeline.Maintenance(everyBatches = n,
      vacuumGraceMs = o.long("vacuum_grace_ms")))

  private val spark: SparkSession = SparkSession.builder()
    .master(s"local[${o("cores")}]")
    .appName(s"perfbench-$workload")
    // CdcRunner's session: what is measured is what ships
    .config("spark.sql.shuffle.partitions", o("state_partitions"))
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "false")
    .config("spark.sql.streaming.checkpointFileManagerClass",
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
    .config("spark.sql.streaming.maxBatchesToRetainInMemory", "1")
    // keep every file the run writes inside its work directory
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  private val progress = new Progress
  spark.streams.addListener(progress)

  /** Create a lake for an input; seed it when the input's base rows are
    * the lake's initial state (the trickle workload).
    */
  private def prepare(lakeDir: String, in: String, exp: Oracle.Expected): LakeTable = {
    val lake = LakeTable(spark, lakeDir)
    lake.create(if (exp.stats("schema") == "no_tool") Schemas.transcriptNoTool
      else Schemas.transcript, buckets)
    if (exp.stats("base_use") == "seed")
      MergeApply.seed(spark, lake,
        spark.read.parquet(s"$in/base.parquet").drop("_lsn"),
        exp.stats("cut_lsn").toLong)
    lake
  }

  /** Backfill chunks: one per micro-batch, so the load overlaps the stream. */
  private def chunkSource(in: String, exp: Oracle.Expected,
      tracer: Option[Tracer]): Option[FileChunkSource] =
    if (exp.stats("base_use") != "backfill") None
    else Some(FileChunkSource.plan(spark, in,
      (exp.segments + filesPerTrigger - 1) / filesPerTrigger, tracer))

  /** One closed-loop drain of every segment in `in`'s binlog into `lake`.
    * Backfill chunks are planned inside the timing.
    */
  private def drain(lake: LakeTable, in: String, ckpt: String,
      exp: Oracle.Expected, tracer: Option[Tracer]): Drain = {
    val v0 = lake.snapshot().version
    progress.take()
    val t0 = System.nanoTime()
    tracer.foreach(_.phaseStart())
    val src = chunkSource(in, exp, tracer)
    Pipeline.runAvailable(spark, s"$in/binlog", lake, ckpt,
      maxFilesPerTrigger = filesPerTrigger, chunkSource = src,
      maintenance = maintenance)
    val wall = (System.nanoTime() - t0) / 1e9
    BenchBus.drain(spark.sparkContext)
    val prog = progress.take()
    val commitMs = prog.filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").doubleValue)
    // source records: stream events (redeliveries included) plus the rows
    // of a backfilled source table
    val records = exp.sourceEvents +
      (if (exp.stats("base_use") == "backfill") exp.stats("base_rows").toLong else 0L)
    Drain(wall, commitMs, records, lake.snapshot().version - v0, prog, src)
  }

  /** Closed-loop point lookups by conv_id on one reader thread; counts
    * the lookups whose rows differ from the oracle's.
    */
  private def lookups(lake: LakeTable, keys: Seq[(String, Long, Long)],
      tracer: Option[Tracer]): Lookups = {
    val ms = ArrayBuffer[Double]()
    var failed = 0
    val reader = new Thread(() => {
      for ((key, n, h) <- keys) {
        val t0 = System.nanoTime()
        val start = Tracer.now()
        val ok =
          try {
            val rows = Oracle.project(lake.read(spark)
              .filter(col("conv_id") === key)).collect().map(Oracle.cells)
            rows.length == n && Oracle.hash(rows) == h
          } catch { case _: Exception => false }
        ms += (System.nanoTime() - t0) / 1e6
        tracer.foreach(_.span("lookup", start, Tracer.now(), -1L, key))
        if (!ok) failed += 1
      }
    }, "perfbench-reader")
    reader.start()
    reader.join()
    Lookups(ms.toSeq, failed)
  }

  private val t0Ms = ManagementFactory.getRuntimeMXBean.getStartTime
  private def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - t0Ms) / 1000.0}%7.2f s  $msg")

  private def fresh(dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** Warm-up: one drain of the warm-up input (a fixed seed, the workload's
    * own batch shape) on a throwaway lake, then its lookups. The input's
    * segment count fixes the number of warm-up micro-batches. Returns the
    * warm-up commit times.
    */
  private def warmUp(): Seq[Double] = {
    val in = o("warm_input")
    val exp = Oracle.load(in)
    val dir = s"$work/warm"
    val lake = prepare(s"$dir/lake", in, exp)
    val d = drain(lake, in, s"$dir/ckpt", exp, None)
    lookups(lake, exp.lookups, None)
    fresh(dir)
    d.commitMs
  }

  def run(): String = {
    log("session up")
    val warm = warmUp()
    log(s"warm-up commits: ${warm.map(m => f"$m%.0f").mkString(", ")} ms")
    val in = input
    val exp = Oracle.load(in)
    val lake = prepare(s"$work/run/lake", in, exp)
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0
    log("timed drain starts")
    // CPU and steal put a slow run in context: the host is shared
    val (steal0, ticks0) = cpuTicks()
    val cpu0 = processCpuS()
    val d = drain(lake, in, s"$work/run/ckpt", exp, None)
    val (steal1, ticks1) = cpuTicks()
    log(f"drain done: ${d.wallS}%.2f s, ${d.commitMs.size} micro-batches, " +
      f"process cpu ${processCpuS() - cpu0}%.1f s, " +
      f"host steal ${(steal1 - steal0).toDouble / math.max(1L, ticks1 - ticks0)}%.3f")
    val look = lookups(lake, exp.lookups, None)
    val rssMb = peakRssMb()
    log("lookups done")
    val errors = ArrayBuffer[String]()
    errors ++= Oracle.check(spark, lake, exp)
    val storedBytes = dirBytes(spark, s"$work/run/lake", s"$work/run/ckpt")
    log("oracle gate done")

    var attempted = d.commits + exp.lookups.size
    var failed = look.failed.toLong
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("events_per_s", d.records / d.wallS, "events/s"),
        ("commit_ms_p50", median(d.commitMs), "ms"),
        ("lookup_ms_p50", median(look.ms), "ms"),
        ("setup_s", setupS, "s"),
        ("peak_rss_mb", rssMb, "MB"),
        ("stored_bytes_per_row", storedBytes.toDouble / math.max(1L, exp.rows), "B/row"))
      else {
        // the traced drain runs on a fresh lake with every listener on;
        // its overhead baseline is the mean of the untraced drains before
        // and after it
        val tracer = new Tracer(spark, o.get("trace_out"))
        val tlake = prepare(s"$work/traced/lake", in, exp)
        tracer.attach(tlake)
        val td = drain(tlake, in, s"$work/traced/ckpt", exp, Some(tracer))
        val tlook = lookups(tlake, exp.lookups, Some(tracer))
        tracer.detach(tlake)
        BenchBus.drain(spark.sparkContext)
        // chunk sizes are counted untraced, after the drain
        td.src.foreach(s => tracer.countChunkRows(s.rows(spark, _, _)))
        errors ++= Oracle.check(spark, tlake, exp).map("traced: " + _)
        val alake = prepare(s"$work/after/lake", in, exp)
        val ad = drain(alake, in, s"$work/after/ckpt", exp, None)
        errors ++= Oracle.check(spark, alake, exp).map("after: " + _)
        attempted += td.commits + exp.lookups.size + ad.commits
        failed += tlook.failed
        val m = tracer.metrics(td.progress,
          (d.records / d.wallS + ad.records / ad.wallS) / 2, td.records / td.wallS,
          exp, tlake)
        errors ++= tracer.errors
        m
      }
    val correct = errors.isEmpty && failed == 0
    if (!correct) {
      errors.foreach(e => System.err.println(s"[perfbench] oracle: $e"))
      failed = attempted
    }
    spark.stop()
    log(s"$workload done: correct $correct")
    val ms = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** The backfill workload's source database stand-in. Plans key-range chunks
  * with the engine's `Backfill.planChunkBounds`, and answers each chunk from
  * the source table's state at the chunk's low watermark, which `Gen`
  * folded with `OracleFold` before the run. `chunkRows` only builds the
  * read of that prepared file; its scan runs in the engine's first chunk
  * job, as a lazy database read would. No source-side fold, collect or
  * session setting lands in the measured drain.
  */
final class FileChunkSource(in: String, bounds: Seq[String], val numChunks: Int,
    @transient tracer: Option[Tracer]) extends Backfill.ChunkSource {

  private def read(spark: SparkSession, chunk: Int, lwLsn: Long): DataFrame = {
    val file = Paths.get(in, "source", s"lw-$lwLsn.parquet")
    require(Files.exists(file), s"no prepared source state at lsn $lwLsn")
    spark.read.schema(FileChunkSource.columns).parquet(file.toString)
      .filter(Backfill.chunkPredicate(bounds, "conv_id", chunk))
  }

  def chunkRows(spark: SparkSession, chunk: Int, lwLsn: Long): DataFrame = {
    val start = Tracer.now()
    val rows = read(spark, chunk, lwLsn)
    tracer.foreach(_.chunkSelected(chunk, lwLsn, start, Tracer.now()))
    rows
  }

  /** Rows of one selected chunk (a Spark job: call it outside the drain). */
  def rows(spark: SparkSession, chunk: Int, lwLsn: Long): Long =
    read(spark, chunk, lwLsn).count()
}

object FileChunkSource {
  val columns = "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP"

  def plan(spark: SparkSession, in: String, numChunks: Int,
      tracer: Option[Tracer]): FileChunkSource = {
    val start = Tracer.now()
    val bounds = Backfill.planChunkBounds(spark.read.parquet(s"$in/base.parquet"),
      "conv_id", numChunks)
    tracer.foreach(_.span("backfill.plan", start, Tracer.now(), -1L, ""))
    new FileChunkSource(in, bounds, numChunks, tracer)
  }
}
