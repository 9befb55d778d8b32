package graft

import graft.operators.{Dedup, MergeLog}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class LogRow(id: Long, v: String)
case class LogDelta(id: Long, v: String, version: Long, deleted: Boolean)

class MergeLogSpec extends SparkSpec {
  import spark.implicits._

  private def snap = Seq(LogRow(1, "a"), LogRow(2, "b"), LogRow(3, "c"),
    LogRow(4, "d")).toDF()

  private def state(dir: String) =
    rows(MergeLog.read(spark, dir, "id").orderBy($"id"))
      .map(r => (r.getLong(0), r.getString(1)))

  test("readAsOf replays any past delta state; compaction bounds the horizon") {
    val dir = Scratch.dir("mergelog_asof")
    MergeLog.init(snap, dir)
    def asOf(k: Long) = rows(MergeLog.readAsOf(spark, dir, "id", k)
      .orderBy($"id")).map(r => (r.getLong(0), r.getString(1)))
    MergeLog.appendDelta(
      Seq(LogDelta(2, "b1", 1, false)).toDF(), dir, Some(0L))
    MergeLog.appendDelta(
      Seq(LogDelta(3, "c", 2, true), LogDelta(5, "e", 2, false)).toDF(),
      dir, Some(1L))
    val afterD0 = Seq((1L, "a"), (2L, "b1"), (3L, "c"), (4L, "d"))
    val afterD1 = Seq((1L, "a"), (2L, "b1"), (4L, "d"), (5L, "e"))
    assert(asOf(0L) == afterD0)
    assert(asOf(1L) == afterD1)
    assert(asOf(99L) == afterD1) // beyond the log = current state
    // compaction absorbs the segments: the horizon moves forward
    MergeLog.compact(spark, dir, "id")
    MergeLog.appendDelta(
      Seq(LogDelta(6, "f", 3, false)).toDF(), dir, Some(2L))
    assert(asOf(2L) == afterD1 :+ (6L, "f"))
    intercept[IllegalStateException](asOf(0L))
  }

  test("a folded id stays below the horizon with no delta retained; auto ids start above it") {
    val dir = Scratch.dir("mergelog_line")
    MergeLog.init(snap, dir)
    def asOf(k: Long) = rows(MergeLog.readAsOf(spark, dir, "id", k)
      .orderBy($"id")).map(r => (r.getLong(0), r.getString(1)))
    MergeLog.appendDelta(Seq(LogDelta(2, "b1", 1, false)).toDF(), dir, Some(0L))
    MergeLog.appendDelta(Seq(LogDelta(5, "e", 2, false)).toDF(), dir, Some(1L))
    assert(MergeLog.compact(spark, dir, "id") == 2L)
    intercept[IllegalStateException](asOf(0L))
    intercept[IllegalStateException](MergeLog.diff(spark, dir, "id", 1L, 1L))
    val folded = state(dir)
    // a replay of folded batch 1 lands nothing; the next auto id is 2
    MergeLog.appendDelta(Seq(LogDelta(5, "XX", 9, false)).toDF(), dir, Some(1L))
    assert(state(dir) == folded)
    assert(MergeLog.appendDelta(Seq(LogDelta(6, "f", 3, false)).toDF(), dir) == 2L)
    assert(asOf(2L) == folded :+ (6L, "f"))
  }

  test("read = base ⊕ all delta segments, resolved by row version") {
    val dir = Scratch.dir("mergelog_rw")
    MergeLog.init(snap, dir)
    assert(state(dir) == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    val d1 = Seq(LogDelta(2, "b1", 1, false), LogDelta(5, "e", 1, false)).toDF()
    val d2 = Seq(LogDelta(2, "b2", 2, false), LogDelta(3, "c", 3, true)).toDF()
    MergeLog.appendDelta(d1, dir)
    MergeLog.appendDelta(d2, dir)
    val expected = rows(
      Dedup.mergeUpsert(snap, d1.unionByName(d2), "id").orderBy($"id"))
      .map(r => (r.getLong(0), r.getString(1)))
    assert(state(dir) == expected)
    assert(state(dir) == Seq((1L, "a"), (2L, "b2"), (4L, "d"), (5L, "e")))
  }

  test("compact preserves the read result, retires deltas, bumps the base") {
    val dir = Scratch.dir("mergelog_compact")
    MergeLog.init(snap, dir)
    MergeLog.appendDelta(
      Seq(LogDelta(1, "a9", 7, false), LogDelta(4, "d", 8, true)).toDF(), dir)
    val before = state(dir)
    val newBase = MergeLog.compact(spark, dir, "id")
    assert(newBase == 1L)
    assert(state(dir) == before)
    assert(!new java.io.File(s"$dir/delta").exists() ||
      new java.io.File(s"$dir/delta").listFiles().isEmpty)
    // replaying an absorbed delta against the compacted base is a
    // read-level no-op: the base already holds its final values
    MergeLog.appendDelta(
      Seq(LogDelta(1, "a9", 7, false), LogDelta(4, "d", 8, true)).toDF(), dir)
    assert(state(dir) == before)
  }

  test("vacuum reclaims pre-compaction bases; reads and further appends unaffected") {
    val dir = Scratch.dir("mergelog_vacuum")
    MergeLog.init(snap, dir)
    MergeLog.appendDelta(
      Seq(LogDelta(1, "a9", 7, false), LogDelta(4, "d", 8, true)).toDF(), dir)
    MergeLog.compact(spark, dir, "id")
    MergeLog.appendDelta(Seq(LogDelta(2, "b2", 9, false)).toDF(), dir)
    MergeLog.compact(spark, dir, "id") // bases v=0, v=1, v=2 on disk
    val before = state(dir)
    assert(new java.io.File(s"$dir/base").list().sorted.toSeq ==
      Seq("v=0", "v=1", "v=2"))
    assert(MergeLog.vacuum(spark, dir) == 2)
    assert(new java.io.File(s"$dir/base").list().toSeq == Seq("v=2"))
    assert(state(dir) == before)
    // vacuum again: nothing left to reclaim; the log keeps working
    assert(MergeLog.vacuum(spark, dir) == 0)
    MergeLog.appendDelta(Seq(LogDelta(5, "e", 10, false)).toDF(), dir)
    assert(state(dir) != before)
  }

  test("appendDelta with an explicit id is idempotent (streaming replay)") {
    val dir = Scratch.dir("mergelog_idem")
    MergeLog.init(snap, dir)
    val d = Seq(LogDelta(2, "b1", 1, false)).toDF()
    assert(MergeLog.appendDelta(d, dir, Some(5L)) == 5L)
    val after = state(dir)
    // same batch id re-delivered with different payload: must not land
    assert(MergeLog.appendDelta(
      Seq(LogDelta(2, "XX", 9, false)).toDF(), dir, Some(5L)) == 5L)
    assert(state(dir) == after)
  }

  test("torn delta dir (no _SUCCESS) is not committed: replay rewrites it") {
    val dir = Scratch.dir("mergelog_torn")
    MergeLog.init(snap, dir)
    // simulate a crash mid-write: the d=5 dir exists with a partial part
    // file but no _SUCCESS marker
    val torn = new java.io.File(s"$dir/delta/d=5")
    assert(torn.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/delta/d=5/part-00000.parquet"),
      Array[Byte](1, 2, 3))
    // the torn segment must be invisible to readers
    assert(state(dir) == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // replaying batch 5 must rewrite, not skip-as-committed
    assert(MergeLog.appendDelta(
      Seq(LogDelta(2, "b1", 1, false)).toDF(), dir, Some(5L)) == 5L)
    assert(new java.io.File(s"$dir/delta/d=5/_SUCCESS").exists())
    assert(state(dir) == Seq((1L, "a"), (2L, "b1"), (3L, "c"), (4L, "d")))
    // and now that it IS committed, a second replay is a no-op
    assert(MergeLog.appendDelta(
      Seq(LogDelta(2, "XX", 9, false)).toDF(), dir, Some(5L)) == 5L)
    assert(state(dir) == Seq((1L, "a"), (2L, "b1"), (3L, "c"), (4L, "d")))
  }

  test("torn base dir from a crashed compact is skipped and reclaimed") {
    val dir = Scratch.dir("mergelog_tornbase")
    MergeLog.init(snap, dir)
    MergeLog.appendDelta(Seq(LogDelta(2, "b1", 1, false)).toDF(), dir)
    // simulate a compact that died after creating base/v=1 sans marker
    assert(new java.io.File(s"$dir/base/v=1").mkdirs())
    // readers stay on the committed v=0 ⊕ deltas
    assert(state(dir) == Seq((1L, "a"), (2L, "b1"), (3L, "c"), (4L, "d")))
    // a retried compact reclaims v=1 and commits it
    assert(MergeLog.compact(spark, dir, "id") == 1L)
    assert(new java.io.File(s"$dir/base/v=1/_SUCCESS").exists())
    assert(state(dir) == Seq((1L, "a"), (2L, "b1"), (3L, "c"), (4L, "d")))
  }

  test("upsertSink: micro-batches land as delta segments, CDC state is exact") {
    val dir = Scratch.dir("mergelog_stream")
    MergeLog.init(snap, dir)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[LogDelta]
    val q = MergeLog.upsertSink(input.toDF(), dir)
      .option("checkpointLocation", Scratch.dir("mergelog_ckpt"))
      .start()
    try {
      input.addData(LogDelta(2, "b1", 1, false), LogDelta(6, "f", 1, false))
      q.processAllAvailable()
      input.addData(LogDelta(6, "f2", 2, false), LogDelta(1, "a", 3, true))
      q.processAllAvailable()
    } finally q.stop()
    assert(state(dir) == Seq((2L, "b1"), (3L, "c"), (4L, "d"), (6L, "f2")))
  }

  test("deltaSchema appends the CDC columns to the base schema") {
    val s = MergeLog.deltaSchema(snap.schema)
    assert(s.fieldNames.toSeq == Seq("id", "v", "version", "deleted"))
    assert(!s("version").nullable && !s("deleted").nullable)
  }

  private def diffRows(dir: String, from: Long, to: Long) =
    rows(MergeLog.diff(spark, dir, "id", from, to).orderBy($"id"))
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))

  test("diff: insert/update/delete between as-of states; rewrites excluded") {
    val dir = Scratch.dir("mergelog_diff")
    MergeLog.init(snap, dir)
    // d=0: update 2, rewrite 3 to its SAME value (must not be a change)
    MergeLog.appendDelta(Seq(LogDelta(2, "b1", 1, false),
      LogDelta(3, "c", 1, false)).toDF(), dir, Some(0L))
    // d=1: insert 5, delete 4, second update of 2
    MergeLog.appendDelta(Seq(LogDelta(5, "e", 2, false),
      LogDelta(4, "d", 2, true), LogDelta(2, "b2", 2, false)).toDF(),
      dir, Some(1L))
    // d=2: late LOW-version row for 2 — loses to version 2, no change
    MergeLog.appendDelta(Seq(LogDelta(2, "b0", 0, false)).toDF(),
      dir, Some(2L))
    assert(diffRows(dir, -1L, 2L) == Seq((2L, "b2", "update"),
      (4L, "d", "delete"), (5L, "e", "insert")))
    assert(diffRows(dir, 0L, 1L) == Seq((2L, "b2", "update"),
      (4L, "d", "delete"), (5L, "e", "insert")))
    assert(diffRows(dir, 1L, 2L) == Seq.empty) // the late row changed nothing
    assert(diffRows(dir, 0L, 0L) == Seq.empty)
    // tombstone of a key absent from the old state is not a change
    MergeLog.appendDelta(Seq(LogDelta(9, "x", 3, true)).toDF(), dir, Some(3L))
    assert(diffRows(dir, 2L, 3L) == Seq.empty)
  }

  test("diff equals the brute-force compare of the two as-of reads") {
    val dir = Scratch.dir("mergelog_diff_brute")
    MergeLog.init(snap, dir)
    MergeLog.appendDelta(Seq(LogDelta(1, "a1", 1, false),
      LogDelta(2, "b", 1, true)).toDF(), dir, Some(0L))
    MergeLog.appendDelta(Seq(LogDelta(2, "b9", 2, false),
      LogDelta(3, "c", 2, true), LogDelta(7, "g", 2, false),
      LogDelta(1, "a2", 2, false)).toDF(), dir, Some(1L))
    for ((f, t) <- Seq((-1L, 0L), (-1L, 1L), (0L, 1L))) {
      def st(k: Long) =
        if (k == -1L) rows(snap).map(r => (r.getLong(0), r.getString(1))).toMap
        else rows(MergeLog.readAsOf(spark, dir, "id", k))
          .map(r => (r.getLong(0), r.getString(1))).toMap
      val (os, ns) = (st(f), st(t))
      val want = (os.keySet ++ ns.keySet).toSeq.sorted.flatMap { k =>
        (os.get(k), ns.get(k)) match {
          case (None, Some(v))              => Some((k, v, "insert"))
          case (Some(v), None)              => Some((k, v, "delete"))
          case (Some(a), Some(b)) if a != b => Some((k, b, "update"))
          case _                            => None
        }
      }
      assert(diffRows(dir, f, t) == want, s"diff($f, $t)")
    }
  }

  test("diff horizon: from=-1 needs an uncompacted log; compacted from throws") {
    val dir = Scratch.dir("mergelog_diff_hz")
    MergeLog.init(snap, dir)
    MergeLog.appendDelta(Seq(LogDelta(2, "b1", 1, false)).toDF(), dir, Some(0L))
    MergeLog.compact(spark, dir, "id")
    MergeLog.appendDelta(Seq(LogDelta(3, "c1", 2, false)).toDF(), dir, Some(1L))
    intercept[IllegalStateException](MergeLog.diff(spark, dir, "id", -1L, 1L))
    intercept[IllegalStateException](MergeLog.diff(spark, dir, "id", 0L, 1L))
    assert(diffRows(dir, 1L, 1L) == Seq.empty)
  }
}
