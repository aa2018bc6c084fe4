package graft.similarity

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class SeedingSpec extends SparkTestBase {
  import spark.implicits._

  private def ranked(rows: Array[Row]): Seq[(Long, Row)] =
    rows.toSeq.map(r => (r.getLong(0), r.getStruct(1)))

  test("k lowest ids ranked dense 0-based, payload carried, one corpus pass") {
    val df = Seq((30L, "c"), (10L, "a"), (20L, "b"), (40L, "d"))
      .toDF("id", "payload")
    val out = ranked(Seeding.seedRows(df, "id", struct($"id", $"payload"), 3))
    assert(out === Seq((0L, Row(10L, "a")), (1L, Row(20L, "b")), (2L, Row(30L, "c"))))
  }

  test("NULL ids are excluded instead of silently consuming a seed slot") {
    // a NULL would win the ordering, then vanish from every downstream
    // lookup — a silently missing seed/cell
    val df = Seq((Some(5L), "x"), (None, "n"), (Some(1L), "y"), (Some(9L), "z"))
      .toDF("id", "payload")
    val out = Seeding.seedRows(df, "id", $"id", 2).map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((0L, 1L), (1L, 5L)))
  }

  test("string ids rank by lexicographic order (no numeric cast anywhere)") {
    val df = Seq(("doc-b", 2), ("doc-a", 1), ("doc-c", 3)).toDF("id", "v")
    val out = Seeding.seedRows(df, "id", $"id", 2).map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq === Seq((0L, "doc-a"), (1L, "doc-b")))
  }

  test("duplicate ids share a rank; ranks stay dense over distinct ids") {
    val df = Seq((1L, "a"), (1L, "a2"), (2L, "b")).toDF("id", "payload")
    val out = ranked(Seeding.seedRows(df, "id", struct($"id", $"payload"), 3))
    assert(out.filter(_._2.getLong(0) == 1L).map(_._1).toSet === Set(0L))
    assert(out.filter(_._2.getLong(0) == 2L).map(_._1).toSet === Set(1L))
    assert(out.map(_._2.getString(1)).toSet === Set("a", "a2", "b"))
  }
}
