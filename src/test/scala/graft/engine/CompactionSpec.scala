package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Engine.compactArchive]] (K1e): small-file compaction over landed
  * archives — rows/content preserved exactly, hive layout preserved
  * per partition, already-compact directories byte-untouched, manifest
  * re-written and re-audited, row formats rejected.
  */
class CompactionSpec extends SparkSpec {

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-compact-$tag").toString

  private def listData(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] = {
      val cs = Option(f.listFiles()).getOrElse(Array.empty).toSeq
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
      cs.filter(_.isFile) ++ cs.filter(_.isDirectory).flatMap(walk)
    }
    walk(new java.io.File(dir))
  }

  test("flat archive: many small files -> few, content identical, audit clean") {
    import spark.implicits._
    val dest = freshDir("flat")
    val df = (0L until 5000L).map(i => (i, s"v$i", i % 97)).toDF("id", "s", "k")
    df.repartition(20).write.mode("overwrite").parquet(dest)
    val eng = new Engine(spark)
    eng.writeManifest(dest, Format.Parquet)
    val beforeFiles = listData(dest)
    assert(beforeFiles.size == 20)
    val beforeRows = spark.read.parquet(dest).sort("id").collect().toSeq

    val r = eng.compactArchive(dest, Format.Parquet, targetBytes = 1L << 30)
    assert(r.partitionsCompacted == 1 && r.filesBefore == 20 && r.filesAfter == 1)
    assert(r.rows == 5000L)
    assert(listData(dest).size == 1)
    // content preserved exactly (values AND schema)
    val afterRows = spark.read.parquet(dest).sort("id").collect().toSeq
    assert(afterRows == beforeRows)
    // manifest was re-written for the new layout and audits clean
    assert(eng.verifyManifest(dest).isEmpty)
  }

  test("hive-partitioned archive: compacted per partition, layout preserved") {
    import spark.implicits._
    val dest = freshDir("hive")
    val df = (0L until 3000L).map(i => (i, s"p${i % 3}", s"v$i")).toDF("id", "part", "s")
    df.repartition(10).write.mode("overwrite").partitionBy("part").parquet(dest)
    val eng = new Engine(spark)
    val partDirs = new java.io.File(dest).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(partDirs == Set("part=p0", "part=p1", "part=p2"))
    val before = spark.read.parquet(dest).sort("id")
      .select("id", "part", "s").collect().toSeq

    val r = eng.compactArchive(dest, Format.Parquet, targetBytes = 1L << 30)
    assert(r.partitionsCompacted == 3)
    assert(r.filesAfter == 3, s"one file per partition, got ${r.filesAfter}")
    // the partition directories (and so partition pruning) survive
    val partDirs2 = new java.io.File(dest).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(partDirs2 == partDirs)
    val after = spark.read.parquet(dest).sort("id")
      .select("id", "part", "s").collect().toSeq
    assert(after == before)
  }

  test("already-compact directory is left byte-untouched") {
    import spark.implicits._
    val dest = freshDir("noop")
    (0L until 100L).map(i => (i, s"v$i")).toDF("id", "s")
      .coalesce(1).write.mode("overwrite").parquet(dest)
    val eng = new Engine(spark)
    val before = listData(dest).map(f => (f.getName, f.lastModified, f.length))
    val r = eng.compactArchive(dest, Format.Parquet, targetBytes = 1L << 30)
    assert(r.partitionsCompacted == 0 && r.filesBefore == r.filesAfter)
    assert(listData(dest).map(f => (f.getName, f.lastModified, f.length)) == before,
      "no-op compaction must not rewrite anything")
  }

  test("continuous landing then compaction: per-batch objects merge, audit stays clean") {
    // the lifecycle the two pieces exist for: a continuous landing
    // accumulates one small object per batch; the maintenance job
    // compacts them and the manifest audit certifies the result
    import spark.implicits._
    val dest = freshDir("stream")
    val eng = new Engine(spark, ArchiveConfig(format = Format.Parquet))
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z"))
    (0 until 4).foreach { b =>
      val batch = Seq((b * 2L, ts, 10L, "click", 1.0), (b * 2L + 1, ts, 11L, "click", 1.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      eng.archiveDF(batch, dest, s"events-$b")
    }
    assert(listData(dest).size == 4, "one object per batch")
    eng.writeManifest(dest, Format.Parquet)
    val before = spark.read.parquet(dest).sort("event_id").collect().toSeq
    assert(before.size == 8)

    val r = eng.compactArchive(dest, Format.Parquet, targetBytes = 1L << 30)
    assert(r.filesBefore == 4 && r.filesAfter == 1 && r.rows == 8L)
    assert(spark.read.parquet(dest).sort("event_id").collect().toSeq == before)
    assert(eng.verifyManifest(dest).isEmpty)
  }

  test("row formats are rejected at the format stage") {
    val eng = new Engine(spark)
    val e = intercept[ArchiveException] {
      eng.compactArchive(freshDir("csv"), Format.Csv)
    }
    assert(e.getMessage.contains("format"))
  }
}
