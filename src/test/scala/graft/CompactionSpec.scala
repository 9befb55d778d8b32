package graft

import graft.sources.Compaction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def mkData = (1L to 600L).map(i =>
    (i, s"text-$i", Seq("en", "zh", "de")((i % 3).toInt))).toDF(
    "id", "payload", "lang")

  private def parquetFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap {
      case d if d.isDirectory => parquetFiles(d)
      case f if f.getName.endsWith(".parquet") => Seq(f)
      case _ => Nil
    }

  test("g11 restatement: only the restated day's partitions change, byte-for-byte") {
    import java.nio.file.{Files, Paths, Path}
    import scala.jdk.CollectionConverters._
    def snapshot(dir: String, skipDay: String): Seq[(String, Long, Long)] = {
      val root = Paths.get(dir)
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString)
        .filterNot(_.contains(s"day=$skipDay"))
        .map(rel => (rel, Files.size(root.resolve(rel)),
          Files.getLastModifiedTime(root.resolve(rel)).toMillis))
        .toSeq.sortBy(_._1)
      finally s.close()
    }
    val dir = "/root/testdata/sf0.001"
    val base = Scratch.dir("g11_files")
    val ev = Tables.load(spark, dir, "events").select(
      to_date(col("ts")).as("day"), col("event_type"), col("value"),
      col("user_id"))
    queries.CorpusQueries.g11Land(ev, base)
    queries.CorpusQueries.g11Summary(spark, base, None)
      .write.mode("overwrite").partitionBy("day").parquet(s"$base/summary")
    val d0 = ev.groupBy().agg(min(col("day")).as("day"))
    val d0Name = d0.head().getDate(0).toString
    val storeBefore = snapshot(s"$base/store", d0Name)
    val sumBefore = snapshot(s"$base/summary", d0Name)
    assert(storeBefore.nonEmpty && sumBefore.nonEmpty)
    // the restatement + single-day re-derive (the g11 query's tail)
    ev.join(broadcast(d0), "day").filter(col("user_id") % 2 === 0)
      .write.mode("overwrite").partitionBy("day")
      .option("partitionOverwriteMode", "dynamic").parquet(s"$base/store")
    queries.CorpusQueries.g11Summary(spark, base, Some(d0))
      .write.mode("overwrite").partitionBy("day")
      .option("partitionOverwriteMode", "dynamic").parquet(s"$base/summary")
    // every OTHER day's files: identical paths, sizes, mtimes
    assert(snapshot(s"$base/store", d0Name) == storeBefore,
      "restating one day must not rewrite any other store partition")
    assert(snapshot(s"$base/summary", d0Name) == sumBefore,
      "re-deriving one day must not rewrite any other summary partition")
    // and the restated day itself DID change in both stores
    def dayFiles(dir: String): Set[String] = {
      val root = Paths.get(dir, s"day=$d0Name")
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.getFileName.toString).toSet
      finally s.close()
    }
    assert(dayFiles(s"$base/store").nonEmpty)
    // the corrected day has fewer rows than the original feed's day
    val restated = spark.read.parquet(s"$base/store")
      .filter(col("day") === lit(d0Name).cast("date")).count()
    val original = ev.join(broadcast(d0), "day").count()
    assert(restated < original && restated > 0,
      s"restated=$restated original=$original")
  }

  test("writeSized round-trips losslessly through hive-style partitions") {
    val out = Scratch.dir("compaction_rt")
    Compaction.writeSized(mkData, out, Seq("lang"), $"id",
      targetRows = 50L, spread = 2)
    val schema = StructType.fromDDL("id LONG, payload STRING, lang STRING")
    val back = Compaction.readSized(spark, out, schema)
      .select($"id", $"payload", $"lang").orderBy($"id")
    assert(rows(back).map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      == rows(mkData.orderBy($"id"))
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))))
  }

  test("writeSized bounds every file at targetRows and keeps file counts sane") {
    val out = Scratch.dir("compaction_caps")
    Compaction.writeSized(mkData, out, Seq("lang"), $"id",
      targetRows = 50L, spread = 2)
    val langDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("lang="))
    assert(langDirs.map(_.getName).sorted.toSeq
      == Seq("lang=de", "lang=en", "lang=zh"))
    langDirs.foreach { d =>
      val files = parquetFiles(d)
      val perFile = files.map(f =>
        spark.read.parquet(f.getAbsolutePath).count())
      // hard cap from maxRecordsPerFile
      assert(perFile.forall(_ <= 50L), s"${d.getName}: $perFile")
      // 200 rows per lang at cap 50 ⇒ at least 4 files; the 2-bucket
      // fan-out over ≤4 shuffle tasks caps the split count at 8
      assert(files.size >= 4 && files.size <= 8,
        s"${d.getName}: ${files.size} files")
      assert(perFile.sum == 200L)
    }
  }

  test("g3 layout: two-level (lang, bin_range) partitioning prunes and caps") {
    // the g3 shape: per-doc packed layout written under
    // lang=<v>/bin_range=<r>/ — a reader of one shard lists only its
    // directories
    val laid = (1L to 300L).map(i => (i, Seq("en", "zh")((i % 2).toInt),
        (i / 25L), (i / 25L) / 8L, 10L + i % 5, i * 10L))
      .toDF("doc_id", "lang", "bin", "bin_range", "n_tok", "start_tok")
    val out = Scratch.dir("compaction_g3")
    Compaction.writeSized(laid, out, Seq("lang", "bin_range"), $"doc_id",
      targetRows = 40L, spread = 2)
    val langDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("lang="))
    assert(langDirs.map(_.getName).sorted.toSeq == Seq("lang=en", "lang=zh"))
    langDirs.foreach { ld =>
      val rangeDirs = ld.listFiles().filter(f =>
        f.isDirectory && f.getName.startsWith("bin_range="))
      assert(rangeDirs.nonEmpty, ld.getName)
      rangeDirs.foreach { rd =>
        val perFile = parquetFiles(rd).map(f =>
          spark.read.parquet(f.getAbsolutePath).count())
        assert(perFile.forall(_ <= 40L), s"${rd.getName}: $perFile")
      }
    }
    // pruning: a single (lang, bin_range) directory read touches only
    // its own rows
    val shard = spark.read
      .schema(StructType.fromDDL(
        "doc_id LONG, bin LONG, n_tok LONG, start_tok LONG"))
      .parquet(s"$out/lang=en/bin_range=0")
    assert(shard.count() ==
      laid.filter($"lang" === "en" && $"bin_range" === 0L).count())
  }

  test("zValue interleaves bits; z-order files are tiles, 1D-sorted files are stripes") {
    // bit interleave on hand-checked values: x=0b101 (5), y=0b011 (3)
    // → z bits: x0@0, y0@1, x1@2, y1@3, x2@4, y2@5 = 0b011011 wrong?
    // x=101: bits (0,1,2)=(1,0,1); y=011: bits=(1,1,0)
    // z = 1·1 + 1·2 + 0·4 + 1·8 + 1·16 + 0·32 = 27
    val z = col0[Long](Seq((5L, 3L)).toDF("x", "y")
      .select(Compaction.zValue($"x", $"y", 3)))
    assert(z.head == 27L)
    // layout property: a 64×64 grid written z-ordered gives per-file
    // ranges bounded on BOTH dims; the same data sorted by x alone
    // gives full-width y stripes
    val grid = spark.range(64L * 64L)
      .select(($"id" / 64).cast("long").as("x"),
        pmod($"id" * 2654435761L, lit(64L)).as("y"))
    def fileRanges(path: String): Seq[(Long, Long)] =
      rows(spark.read.parquet(path)
          .groupBy(input_file_name())
          .agg((max($"x") - min($"x")).as("xr"), (max($"y") - min($"y")).as("yr")))
        .map(r => (r.getLong(1), r.getLong(2)))
    val zOut = Scratch.dir("zorder_z")
    Compaction.writeZOrdered(grid, zOut, $"x", $"y", bits = 6,
      targetRows = 256L, numFiles = 16)
    val sOut = Scratch.dir("zorder_s")
    grid.repartitionByRange(16, $"x").sortWithinPartitions($"x")
      .write.mode("overwrite").option("maxRecordsPerFile", 256L).parquet(sOut)
    val zr = fileRanges(zOut)
    val sr = fileRanges(sOut)
    def avg(v: Seq[Long]): Double = v.sum.toDouble / v.size
    // 1D sort: y spans the full 0..63 in every file; z-order: bounded
    // tiles on both dims
    assert(avg(sr.map(_._2)) > 55.0, sr)
    assert(avg(zr.map(_._2)) < 32.0, zr)
    assert(avg(zr.map(_._1)) < 32.0, zr)
    // round trip: the layout write loses no rows
    assert(spark.read.parquet(zOut).count() == 64L * 64L)
  }

  test("writeSized bucket co-location is deterministic across runs") {
    // file names differ run to run (task/attempt ids), so compare the
    // STRUCTURE: which ids share a shuffle bucket. xxhash64(id) % spread
    // is a pure function of the key — never row position or rand — so
    // the grouping must be identical.
    def buckets(out: String): Map[String, Set[Long]] =
      spark.read.parquet(out).select($"id", input_file_name())
        .collect()
        .groupBy(_.getString(1))
        .map { case (f, rs) => (f, rs.map(_.getLong(0)).toSet) }
        .values.toSeq
        // canonicalize: name each file group by its smallest id
        .map(ids => (ids.min.toString, ids)).toMap
    val out1 = Scratch.dir("compaction_d1")
    val out2 = Scratch.dir("compaction_d2")
    // spread=1, huge cap ⇒ exactly one file per (lang, bucket) group, so
    // the file partition of ids is exactly the bucket partition
    Compaction.writeSized(mkData, out1, Seq("lang"), $"id", 100000L, 1)
    Compaction.writeSized(mkData, out2, Seq("lang"), $"id", 100000L, 1)
    assert(buckets(out1) == buckets(out2))
    val expected = rows(mkData.groupBy($"lang")
        .agg(collect_set($"id").as("ids")).select($"ids"))
      .map(_.getSeq[Long](0).toSet)
      .map(ids => (ids.min.toString, ids)).toMap
    assert(buckets(out1) == expected)
  }

  private def dataFiles(root: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(root))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.length()).toMap
  }

  test("dynamic partition overwrite replaces ONLY the restated partition's files") {
    val store = Scratch.dir("compaction_dyn") + "/t"
    Seq((1, "a", 10L), (2, "a", 20L), (3, "b", 30L), (4, "c", 40L))
      .toDF("id", "p", "v")
      .write.mode("overwrite").partitionBy("p").parquet(store)
    val before = dataFiles(store)
    // restate p=a only; p=b / p=c files must survive IDENTICALLY (same
    // paths, same bytes) — static overwrite would wipe the whole store
    Seq((9, "a", 99L)).toDF("id", "p", "v")
      .write.mode("overwrite").partitionBy("p")
      .option("partitionOverwriteMode", "dynamic").parquet(store)
    val after = dataFiles(store)
    val untouchedBefore = before.filterNot(_._1.contains("p=a"))
    val untouchedAfter = after.filterNot(_._1.contains("p=a"))
    assert(untouchedBefore == untouchedAfter,
      s"non-restated partitions changed:\n$untouchedBefore\nvs\n$untouchedAfter")
    assert(before.keys.exists(_.contains("p=a")) &&
      after.keys.exists(_.contains("p=a")) &&
      before.filter(_._1.contains("p=a")) != after.filter(_._1.contains("p=a")),
      "restated partition was not replaced")
    val got = spark.read.parquet(store).orderBy($"id")
      .select($"id", $"p", $"v").collect().toSeq.map(r =>
        (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(got == Seq((3, "b", 30L), (4, "c", 40L), (9, "a", 99L)))
  }

  test("schema evolution on read: appending a column costs zero IO on landed files") {
    val store = Scratch.dir("compaction_evo") + "/t"
    Seq((1L, "en"), (2L, "fr")).toDF("id", "lang")
      .write.mode("overwrite").parquet(store)
    val before = dataFiles(store)
    Seq((3L, "en", 0.5)).toDF("id", "lang", "q")
      .write.mode("append").parquet(store)
    val after = dataFiles(store)
    // the v1 files are bit-identical post-append: evolution is read-side
    assert(before.forall { case (p, len) => after.get(p).contains(len) },
      s"v1 files rewritten:\n$before\nvs\n$after")
    val merged = spark.read.option("mergeSchema", "true").parquet(store)
    assert(merged.schema.fieldNames.contains("q"))
    val rs = merged.orderBy($"id")
      .select($"id", $"q").collect().toSeq
      .map(r => (r.getLong(0), Option(r.get(1))))
    // old files surface NULL for the new column
    assert(rs == Seq((1L, None), (2L, None), (3L, Some(0.5))))
  }
}
