package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.util.Random

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

import graft.binlog.{BinlogGen, GenConfig, OracleFold}
import graft.model.{ChangeEvent, Op, Transcript}

/** Workload input generator. Runs in its own JVM without Spark, before the
  * measured process starts, so neither its time nor its memory reaches any
  * metric. Everything derives from (workload, seed, size, batch size).
  *
  * Writes, under `--out`:
  *   - `binlog/seg-NNNNN.parquet`: the change log, one file per segment,
  *     with strictly increasing mtimes (replay order);
  *   - `base.parquet`: pre-existing table rows: the trickle lake's seed,
  *     or the bulk workload's backfill source table;
  *   - `source/lw-<lsn>.parquet` (bulk workload): the backfill source
  *     table's state at each low watermark the drain will select chunks
  *     under, so no source-side work runs inside the measured drain;
  *   - `oracle.txt`: `OracleFold.finalState` summary — live rows, the
  *     order-insensitive content hash and the expected rows of every lookup
  *     key;
  *   - `DONE`, written last, marks a complete cache entry.
  */
object Gen {

  /** One generated input: segments of events, optional base rows, and the
    * oracle's expected final state.
    */
  case class Input(
      segments: Seq[Seq[ChangeEvent]],
      base: Seq[Transcript],
      finalState: Vector[Transcript],
      duplicates: Long,
      lookupKeys: Seq[String],
      stats: Map[String, String],
      sourceStates: Seq[(Long, Vector[Transcript])] = Nil)

  def main(args: Array[String]): Unit = {
    val o = Args(args)
    val out = o("out")
    write(generate(o("workload"), o.long("seed"), o.prefixed("gen.")), out)
    Files.write(Paths.get(out, "DONE"), Array.emptyByteArray)
  }

  def generate(workload: String, seed: Long, p: Args): Input = workload match {
    case "tail_bulk" => bulk(seed, p)
    case "tail_trickle" => trickle(seed, p)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def split[A](xs: Seq[A], n: Int): Seq[Seq[A]] = {
    val per = math.ceil(xs.size.toDouble / n).toInt
    xs.grouped(math.max(1, per)).toSeq
  }

  /** Few large segments over every conversation (BinlogGen's strided
    * interleave), 3 hot conversations, one `add:tool` ddl after the cut,
    * and at-least-once redelivery: each segment after the first repeats a
    * contiguous slice of its predecessor. The log up to the cut is not
    * streamed: its fold is the source table that is backfilled while the
    * stream applies the rest on the same keys.
    *
    * A chunk is selected after each micro-batch under the lake's applied
    * position, the largest data lsn streamed so far; with a fixed
    * `maxFilesPerTrigger` that is known here, so the source table's state
    * at each of those positions is folded now, outside the measured run.
    */
  def bulk(seed: Long, p: Args): Input = {
    val convs = p.int("convs")
    val epc = p.int("events_per_conv")
    val segs = p.int("segments")
    // the ddl sits three quarters into the non-hot lsn range, after the cut
    val at = 2L * convs * epc * 3 / 4
    val addLsn = at - at % 2 + 1
    val cfg = GenConfig(seed = seed, numConvs = convs, eventsPerConv = epc,
      hotConvs = 3, hotFactor = p.int("hot_factor"), addToolAtLsn = Some(addLsn))
    val events = BinlogGen.events(cfg)
    val (pre, post) = events.splitAt((events.size * p.double("cut_share")).toInt)
    require(pre.last.lsn < addLsn, "the ddl must follow the cut")
    val base = OracleFold.finalState(pre)
    val redeliver = p.double("redelivery")
    val rnd = new Random(seed ^ 0x5deece66dL)
    val clean = split(post, segs)
    var dups = 0L
    val withDups = clean.indices.map { i =>
      if (i == 0) clean(i)
      else {
        val prev = clean(i - 1)
        val n = math.round(prev.size * redeliver).toInt
        val from = rnd.nextInt(math.max(1, prev.size - n))
        dups += n
        clean(i) ++ prev.slice(from, from + n)
      }
    }
    val fold = (evs: Seq[ChangeEvent]) =>
      OracleFold.finalState(asInserts(base) ++ evs, Map("tool" -> addLsn))
    val lws = withDups.grouped(p.int("max_files_per_trigger"))
      .map(_.flatten.filter(_.op < Op.SchemaChange).map(_.lsn).max)
      .scanLeft(-1L)((a, b) => math.max(a, b)).drop(1).toSeq.distinct
    val fin = fold(post)
    Input(withDups, base, fin, dups, lookupKeys(fin, rnd, p.int("lookups")),
      Map("events" -> post.size.toString, "cut_lsn" -> pre.last.lsn.toString,
        "base_rows" -> base.size.toString, "base_use" -> "backfill",
        "schema" -> "no_tool"),
      lws.map(lw => lw -> fold(post.filter(_.lsn <= lw))))
  }

  /** A large seeded base table, then many tiny segments confined to a
    * slowly moving window of recently active conversations.
    */
  def trickle(seed: Long, p: Args): Input = {
    val convs = p.int("base_convs")
    val window = p.int("window")
    val step = p.int("window_step")
    val segs = p.int("segments")
    val perSeg = p.int("events_per_segment")
    val rnd = new Random(seed)
    val roles = Array("user", "assistant", "system", "tool")
    def text(c: String, t: Int, lsn: Long) =
      s"text-$c-$t-v$lsn-" + rnd.alphanumeric.take(16).mkString
    def tool() = if (rnd.nextDouble() < 0.3) s"tool_${rnd.nextInt(8)}" else null
    val cid = (c: Int) => f"conv_$c%08d"
    val alive = Array.fill(convs)(scala.collection.mutable.ArrayBuffer[Int]())
    val nextTurn = new Array[Int](convs)
    var lsn = 0L
    val base = scala.collection.mutable.ArrayBuffer[Transcript]()
    for (c <- 0 until convs; t <- 0 until 2 + rnd.nextInt(5)) {
      lsn += 2
      base += Transcript(cid(c), t, roles(rnd.nextInt(4)), text(cid(c), t, lsn),
        tool(), new Timestamp(BinlogGen.BaseMs + lsn * 1000L), lsn, Op.Insert)
      alive(c) += t
      nextTurn(c) = t + 1
    }
    val cut = lsn
    var xid = seed * 31
    val segments = (0 until segs).map { s =>
      val lo = s * step
      (0 until perSeg).map { _ =>
        lsn += 2
        if (rnd.nextInt(8) == 0) xid += 1
        val c = (lo + rnd.nextInt(window)) % convs
        val conv = cid(c)
        val ts = new Timestamp(BinlogGen.BaseMs + lsn * 1000L)
        val roll = rnd.nextDouble()
        val al = alive(c)
        if (al.isEmpty || roll >= 0.4) {
          val t = nextTurn(c); nextTurn(c) += 1; al += t
          ChangeEvent(lsn, Op.Insert, conv, t, roles(rnd.nextInt(4)),
            text(conv, t, lsn), tool(), ts, text_unchanged = false, xid, null)
        } else if (roll < 0.3) {
          val t = al(rnd.nextInt(al.size))
          val unchanged = rnd.nextDouble() < 0.15
          ChangeEvent(lsn, Op.Update, conv, t, roles(rnd.nextInt(4)),
            if (unchanged) null else text(conv, t, lsn), tool(), ts,
            text_unchanged = unchanged, xid, null)
        } else {
          val i = rnd.nextInt(al.size)
          val t = al(i)
          al(i) = al.last; al.remove(al.size - 1)
          ChangeEvent(lsn, Op.Delete, conv, t, null, null, null, ts,
            text_unchanged = false, xid, null)
        }
      }
    }
    val fin = OracleFold.finalState(asInserts(base.toSeq) ++ segments.flatten)
    // half the lookups hit the recently active window, half the cold base
    val last = (segs - 1) * step
    val hot = (0 until p.int("lookups") / 2)
      .map(_ => cid((last + rnd.nextInt(window)) % convs))
    val cold = (0 until p.int("lookups") - hot.size).map(_ => cid(rnd.nextInt(convs)))
    Input(segments, base.toSeq, fin, 0L, hot ++ cold,
      Map("events" -> (segs.toLong * perSeg).toString, "cut_lsn" -> cut.toString,
        "base_rows" -> base.size.toString, "base_use" -> "seed",
        "schema" -> "full"))
  }

  /** Base rows enter the oracle fold as inserts at their own lsn (every
    * base lsn is at or below the cut, and unique per key).
    */
  private def asInserts(rows: Seq[Transcript]): Seq[ChangeEvent] =
    rows.map(r => ChangeEvent(r._lsn, Op.Insert, r.conv_id, r.turn_idx, r.role,
      r.text, r.tool, r.ts, text_unchanged = false, 0L, null))

  private def lookupKeys(fin: Vector[Transcript], rnd: Random, n: Int) = {
    val convs = fin.map(_.conv_id).distinct
    (0 until n).map(_ => convs(rnd.nextInt(convs.size)))
  }

  // ------------------------------------------------------------ writing

  private val eventSchema: MessageType = Types.buildMessage()
    .required(INT64).named("lsn")
    .required(INT32).named("op")
    .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("conv_id")
    .optional(INT32).named("turn_idx")
    .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("role")
    .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("text")
    .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("tool")
    .optional(INT64).as(LogicalTypeAnnotation.timestampType(true,
      LogicalTypeAnnotation.TimeUnit.MICROS)).named("ts")
    .optional(BOOLEAN).named("text_unchanged")
    .optional(INT64).named("xid")
    .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("ddl")
    .named("change_event")

  private val baseSchema: MessageType = Types.buildMessage()
    .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("conv_id")
    .required(INT32).named("turn_idx")
    .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("role")
    .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("text")
    .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("tool")
    .optional(INT64).as(LogicalTypeAnnotation.timestampType(true,
      LogicalTypeAnnotation.TimeUnit.MICROS)).named("ts")
    .required(INT64).named("_lsn")
    .named("base_row")

  private def writeParquet(path: String, schema: MessageType,
      rows: Iterator[Group]): Unit = {
    val conf = new Configuration()
    val w = ExampleParquetWriter.builder(new Path(path))
      .withConf(conf).withType(schema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try rows.foreach(w.write) finally w.close()
    // the local FS writes a checksum sidecar; the readers don't need it
    Files.deleteIfExists(Paths.get(path).resolveSibling(
      "." + Paths.get(path).getFileName + ".crc"))
  }

  private def put(g: Group, f: String, s: String): Unit =
    if (s != null) g.add(f, s)

  def write(in: Input, dir: String): Unit = {
    val binlog = Paths.get(dir, "binlog")
    Files.createDirectories(binlog)
    val ev = new SimpleGroupFactory(eventSchema)
    in.segments.zipWithIndex.foreach { case (seg, i) =>
      val file = binlog.resolve(f"seg-$i%05d.parquet")
      writeParquet(file.toString, eventSchema, seg.iterator.map { e =>
        val g = ev.newGroup()
        g.add("lsn", e.lsn); g.add("op", e.op)
        put(g, "conv_id", e.conv_id)
        if (e.conv_id != null) g.add("turn_idx", e.turn_idx)
        put(g, "role", e.role); put(g, "text", e.text); put(g, "tool", e.tool)
        g.add("ts", e.ts.getTime * 1000L)
        g.add("text_unchanged", e.text_unchanged)
        g.add("xid", e.xid)
        put(g, "ddl", e.ddl)
        g
      })
      Files.setLastModifiedTime(file, java.nio.file.attribute.FileTime
        .fromMillis(BinlogGen.BaseMs + i * 1000L))
    }
    val bf = new SimpleGroupFactory(baseSchema)
    def writeRows(path: java.nio.file.Path, rows: Seq[Transcript]): Unit =
      writeParquet(path.toString, baseSchema, rows.iterator.map { r =>
        val g = bf.newGroup()
        g.add("conv_id", r.conv_id); g.add("turn_idx", r.turn_idx)
        put(g, "role", r.role); put(g, "text", r.text); put(g, "tool", r.tool)
        g.add("ts", r.ts.getTime * 1000L)
        g.add("_lsn", r._lsn)
        g
      })
    if (in.base.nonEmpty) writeRows(Paths.get(dir, "base.parquet"), in.base)
    if (in.sourceStates.nonEmpty) Files.createDirectories(Paths.get(dir, "source"))
    for ((lw, rows) <- in.sourceStates)
      writeRows(Paths.get(dir, "source", s"lw-$lw.parquet"), rows)
    val lookups = in.lookupKeys.map { k =>
      val rows = in.finalState.filter(_.conv_id == k).map(Oracle.cells)
      s"lookup=$k|${rows.size}|${Oracle.hash(rows)}"
    }
    val events = in.segments.map(_.size.toLong).sum
    val lines = Seq(
      s"rows=${in.finalState.size}",
      s"hash=${Oracle.hash(in.finalState.map(Oracle.cells))}",
      s"source_events=$events",
      s"duplicates=${in.duplicates}",
      s"segments=${in.segments.size}") ++
      in.stats.toSeq.sorted.map { case (k, v) => s"$k=$v" } ++ lookups
    Files.write(Paths.get(dir, "oracle.txt"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal `--key value` argument map. */
case class Args(m: Map[String, String]) {
  def apply(k: String): String =
    m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def get(k: String): Option[String] = m.get(k)
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def double(k: String): Double = apply(k).toDouble
  /** The entries under `prefix`, with the prefix removed. */
  def prefixed(prefix: String): Args = Args(m.collect {
    case (k, v) if k.startsWith(prefix) => k.stripPrefix(prefix) -> v
  })
}

object Args {
  def apply(args: Array[String]): Args = {
    require(args.length % 2 == 0, s"expected --key value pairs: ${args.mkString(" ")}")
    Args(args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad option $k")
      k.stripPrefix("--") -> v
    }.toMap)
  }
}
