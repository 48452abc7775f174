package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.lake.LakeTable
import graft.model.Transcript

/** The correctness gate. The generator folds the same input with
  * `OracleFold.finalState` and stores a summary; the benchmark compares the
  * final lake against it: live row count, an order-insensitive content hash
  * over (conv_id, turn_idx, role, text, tool), each lookup's rows, and that
  * the lineage's stream commits carry strictly increasing batch ids.
  */
object Oracle {
  val columns: Seq[String] = Seq("conv_id", "turn_idx", "role", "text", "tool")

  def cells(t: Transcript): Seq[String] =
    Seq(t.conv_id, t.turn_idx.toString, t.role, t.text, t.tool)

  def cells(r: Row): Seq[String] =
    (0 until r.length).map(i => if (r.isNullAt(i)) null else r.get(i).toString)

  /** Sum of two independent 32-bit row hashes packed in a Long: equal for
    * equal multisets of rows, in any order.
    */
  def hash(rows: Iterable[Seq[String]]): Long = rows.iterator.map { r =>
    val s = r.map(c => if (c == null) "\u0000" else c).mkString("\u0001")
    (MurmurHash3.stringHash(s, 17).toLong << 32) ^
      (MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL)
  }.sum

  case class Expected(rows: Long, hash: Long, sourceEvents: Long,
      duplicates: Long, segments: Int, stats: Map[String, String],
      lookups: Seq[(String, Long, Long)])

  def load(dir: String): Expected = {
    val lines = Files.readAllLines(Paths.get(dir, "oracle.txt"),
      StandardCharsets.UTF_8).asScala.filter(_.nonEmpty)
    val (lk, kv) = lines.partition(_.startsWith("lookup="))
    val m = kv.map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    Expected(m("rows").toLong, m("hash").toLong, m("source_events").toLong,
      m("duplicates").toLong, m("segments").toInt, m,
      lk.map { l =>
        val Array(k, n, h) = l.stripPrefix("lookup=").split('|')
        (k, n.toLong, h.toLong)
      }.toSeq)
  }

  /** Lake rows projected onto the compared columns (a lake created before
    * a column's add ddl reads it back as null).
    */
  def project(df: DataFrame): DataFrame =
    df.select(columns.map(c =>
      if (df.columns.contains(c)) col(c).cast("string") else
        org.apache.spark.sql.functions.lit(null).cast("string").as(c)): _*)

  /** Mismatches between the final lake and the oracle (empty = pass). */
  def check(spark: SparkSession, lake: LakeTable, exp: Expected): Seq[String] = {
    val rows = project(lake.read(spark)).collect().map(cells)
    val errs = Seq.newBuilder[String]
    if (rows.length != exp.rows)
      errs += s"live rows ${rows.length} != oracle ${exp.rows}"
    val h = hash(rows)
    if (h != exp.hash) errs += s"content hash $h != oracle ${exp.hash}"
    errs ++= lineageErrors(spark, lake)
    errs.result()
  }

  /** Stream commits (the lineage rows that advance the applied position)
    * must carry strictly increasing batch ids, and no commit may carry a
    * batch id below an earlier one.
    */
  def lineageErrors(spark: SparkSession, lake: LakeTable): Seq[String] = {
    val lin = lake.lineageDf(spark).select("snapshot_version", "batch_id", "end_lsn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    var maxBatch = Long.MinValue
    var lastStreamBatch = Long.MinValue
    var pos = -1L
    val errs = Seq.newBuilder[String]
    for ((v, b, end) <- lin) {
      if (b < maxBatch) errs += s"lineage v$v batch id $b below earlier $maxBatch"
      if (end > pos) {
        if (b <= lastStreamBatch && b >= 0)
          errs += s"lineage v$v stream commit repeats batch id $b"
        lastStreamBatch = math.max(lastStreamBatch, b)
        pos = end
      }
      maxBatch = math.max(maxBatch, b)
    }
    errs.result()
  }
}
