package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.apply.MergeApply
import graft.lake.{DataFileEntry, LineageEntry, Snapshot, SnapshotCodec}
import graft.schema._

/** Pure-logic unit tests (no Spark jobs) mirroring the reference's dense
  * inline-test spots: schema diffs (schema_evolution.rs:282-512) and
  * snapshot/position codecs (position.rs:141-271).
  */
class UnitSpec extends AnyFunSuite {

  private val base = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("text", StringType)))

  test("reconcile: identical schema → no actions") {
    val p = Reconcile(base, base)
    assert(p.actions.isEmpty && !p.changed && p.merged == base)
  }

  test("reconcile: add is automatic and appended nullable") {
    val inc = base.add(StructField("tool", StringType, nullable = false))
    val p = Reconcile(base, inc)
    assert(p.actions == Seq(AddColumn(StructField("tool", StringType, true))))
    assert(p.merged.fields.last.name == "tool" && p.merged.fields.last.nullable)
  }

  test("reconcile: widening int→long is applied, narrowing rejected") {
    val widen = StructType(base.fields.map(f =>
      if (f.name == "turn_idx") f.copy(dataType = LongType) else f))
    val p1 = Reconcile(base, widen)
    assert(p1.actions == Seq(WidenColumn("turn_idx", IntegerType, LongType)))
    assert(p1.merged("turn_idx").dataType == LongType)
    val p2 = Reconcile(widen, base) // long → int would lose data
    assert(p2.actions == Seq(RejectChange("turn_idx", LongType, IntegerType)))
    assert(p2.merged("turn_idx").dataType == LongType) // old type kept
  }

  test("reconcile: drop is ignored, dead column kept (reference policy)") {
    val inc = StructType(base.fields.filterNot(_.name == "text"))
    val p = Reconcile(base, inc)
    assert(p.actions == Seq(IgnoreDrop("text")))
    assert(p.merged.fieldNames.contains("text") && !p.changed)
  }

  test("reconcile: intra-batch combined add+widen+drop") {
    val inc = StructType(Seq(
      StructField("conv_id", StringType),
      StructField("turn_idx", LongType),
      StructField("tool", StringType)))
    val p = Reconcile(base, inc)
    assert(p.actions.toSet == Set(
      WidenColumn("turn_idx", IntegerType, LongType),
      IgnoreDrop("text"),
      AddColumn(StructField("tool", StringType, true))))
    assert(p.merged.fieldNames.toSeq ==
      Seq("conv_id", "turn_idx", "text", "tool"))
  }

  test("snapshot codec roundtrips all fields") {
    val s = Snapshot(7L, 3L, 2, 999L, 16,
      Map(1 -> base, 2 -> base.add(StructField("tool", StringType))),
      Map("tool" -> 501L),
      Some(LineageEntry(3L, 10L, 999L, 5L, 2L, 1L, 1234L, Map(0 -> 7L, 3 -> 2L))),
      Seq(DataFileEntry(0, 1, "data/b=0/v1-0.parquet"),
        DataFileEntry(3, 2, "data/b=3/v7-0.parquet")))
    assert(SnapshotCodec.decode(SnapshotCodec.encode(s), "test") == s)
  }

  test("snapshot codec ignores unknown keys (forward compatibility)") {
    val s = Snapshot(1L, -1L, 1, -1L, 8, Map(1 -> base), Map.empty, None, Nil)
    val decoded = SnapshotCodec.decode(
      SnapshotCodec.encode(s) + "futurefield=whatever\n", "test")
    assert(decoded == s)
  }

  test("snapshot codec: a line without '=' fails actionably, naming the file") {
    val s = Snapshot(1L, -1L, 1, -1L, 8, Map(1 -> base), Map.empty, None, Nil)
    val e = intercept[IllegalStateException] {
      SnapshotCodec.decode(SnapshotCodec.encode(s) + "garbage\n",
        "_log/v000000000001.meta")
    }
    assert(e.getMessage.contains("_log/v000000000001.meta") &&
      e.getMessage.contains("garbage") &&
      e.getMessage.contains("re-create the table"), e.getMessage)
  }

  test("ddl parse: add and widen with spark type json") {
    assert(MergeApply.parseDdl("add:tool:\"string\"") ==
      ("add", "tool", StringType))
    assert(MergeApply.parseDdl("widen:turn_idx:\"long\"") ==
      ("widen", "turn_idx", LongType))
  }
}
