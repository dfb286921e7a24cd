package graft.engine

import graft.SparkSpec

import java.nio.file.Files
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** A2 `ArchiveWithContext` semantics (chiv.go:32–34): a running
  * archive can be cancelled mid-flight; cancellation surfaces as the
  * stage-prefixed error (NOT chiv's silent truncation, chiv.go:166–
  * 168 — see the archiveDFCancellable Scaladoc for the deliberate
  * divergence) and the destination object is never committed.
  */
class CancellationSpec extends SparkSpec {

  test("cancel() aborts a running archive with a stage-prefixed error, no object committed") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-cancel").toString
    // A row source that cannot finish quickly: ~80 s of executor
    // sleep across 4 partitions. Cancellation must land mid-job.
    val slow = org.apache.spark.sql.functions.udf { (i: Long) =>
      Thread.sleep(100L); i
    }
    val df = spark.range(0, 3200, 1, 4).toDF("id")
      .withColumn("id", slow($"id"))
    val job = new Engine(spark).archiveDFCancellable(df, out, "slow")
    Thread.sleep(1500) // let the staged write start
    assert(!job.isCompleted)
    val t0 = System.nanoTime()
    job.cancel("test cancel")
    val e = intercept[ArchiveException] { job.await(60.seconds) }
    val waited = (System.nanoTime() - t0) / 1e9
    // stage-prefixed, prompt, the exact key never appeared, and the
    // staged parts were discarded (no leaked <dest>.staging bytes)
    assert(e.getMessage.startsWith("graft: "))
    assert(waited < 30.0, s"cancellation took ${waited}s")
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/slow.csv")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/slow.csv.staging")))
  }

  test("executor-side formatter failures surface as the download stage, staging cleaned") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-cancel").toString
    val boom = org.apache.spark.sql.functions.udf { (i: Long) =>
      if (i == 7L) throw new IllegalStateException("bad row") else i
    }
    val df = spark.range(0, 16, 1, 4).toDF("id")
      .withColumn("id", boom($"id"))
    val e = intercept[ArchiveException] {
      new Engine(spark).archiveDF(df, out, "boom")
    }
    // the UDF fails inside the staged write job; the failure is a row-
    // production (chiv download-leg) error, not an upload error
    assert(e.getMessage.startsWith("graft: download:"), e.getMessage)
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/boom.csv")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/boom.csv.staging")))
  }

  test("failed columnar single-object archive leaves no staging directory") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-cancel").toString
    val boom = org.apache.spark.sql.functions.udf { (i: Long) =>
      if (i == 3L) throw new IllegalStateException("bad row") else i
    }
    val df = spark.range(0, 8, 1, 2).toDF("id").withColumn("id", boom($"id"))
    val e = intercept[ArchiveException] {
      new Engine(spark, ArchiveConfig(format = Format.Parquet))
        .archiveDF(df, out, "colboom")
    }
    assert(e.getMessage.startsWith("graft: "))
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/colboom.parquet")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/colboom.parquet.staging")))
  }

  test("cancelling one archive leaves a concurrent sibling untouched (job-group isolation)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-cancel").toString
    val slow = org.apache.spark.sql.functions.udf { (i: Long) =>
      Thread.sleep(25L); i
    }
    val eng = new Engine(spark)
    val victim = eng.archiveDFCancellable(
      spark.range(0, 1600, 1, 4).toDF("id").withColumn("id", slow($"id")), out, "victim")
    val sibling = eng.archiveDFCancellable(
      spark.range(0, 160, 1, 4).toDF("id").withColumn("id", slow($"id")), out, "sibling")
    Thread.sleep(500)
    victim.cancel("only the victim")
    intercept[ArchiveException] { victim.await(60.seconds) }
    // the sibling's job group was not cancelled: it must finish clean
    val dest = sibling.await(120.seconds)
    assert(dest.endsWith("/sibling.csv"))
    assert(Files.readAllLines(java.nio.file.Paths.get(dest)).size == 161) // header + 160
  }

  test("single-object output is byte-identical across partitionings (seam framing)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-seams").toString
    val rows = (1 to 17).map(i => (i.toLong, s"v$i"))
    for (fmt <- Seq(Format.Csv, Format.JsonArray, Format.Yaml)) {
      val eng = new Engine(spark, ArchiveConfig(format = fmt))
      // 1 partition vs many (some empty after the filter) must
      // concatenate to the same bytes: separators only BETWEEN
      // non-empty parts, header/array framing once
      val base = rows.toDF("id", "v").where($"id" =!= 4L)
      val one = eng.archiveDF(base.coalesce(1), out, s"one_${fmt.extension}")
      val many = eng.archiveDF(base.repartition(8, $"id"), out, s"many_${fmt.extension}")
      val a = Files.readAllBytes(java.nio.file.Paths.get(one))
      val b = Files.readAllBytes(java.nio.file.Paths.get(many))
      // row ORDER may differ across partitionings; byte-length and the
      // sorted line/entry multiset must match exactly
      assert(a.length == b.length, s"$fmt byte length")
      def canon(bytes: Array[Byte]): Seq[String] = {
        val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        if (fmt == Format.JsonArray) {
          assert(s.startsWith("[{") && s.endsWith("}]"), s"$fmt framing")
          s.stripPrefix("[{").stripSuffix("}]").split("\\},\\{").toSeq.sorted
        } else s.split("\n").toSeq.sorted
      }
      assert(canon(a) == canon(b), s"$fmt content multiset")
    }
  }

  /** Archives 8 slow partitions as a `format` single object, or a
    * sharded archive, over a previous archive at
    * `faulty://<dir>/t.<extension>` (an object, or a directory of one
    * shard) with `fault` injected (see [[FaultyFileSystem]]): the
    * archive fails as an upload error, the staged job has ended, no
    * staging residue is left, and the key still holds the previous
    * bytes.
    */
  private def assertFaultLeavesKeyUntouched(fault: String, format: Format = Format.Csv,
      sharded: Boolean = false): Unit = {
    import spark.implicits._
    withFault(fault) {
      val out = Files.createTempDirectory("graft-faulty")
      val key = out.resolve(s"t.${format.extension}")
      val previous = if (sharded) Files.createDirectories(key).resolve("part-00000") else key
      Files.writeString(previous, "previous archive\n")
      // 8 slow partitions on 4 cores: tasks are still running and
      // queued when a fault hits the concat
      val slow = org.apache.spark.sql.functions.udf { (i: Long) =>
        Thread.sleep(20L); i
      }
      val df = spark.range(0, 160, 1, 8).toDF("id").withColumn("id", slow($"id"))
      val e = intercept[ArchiveException] {
        new Engine(spark, ArchiveConfig(format = format, sharded = sharded))
          .archiveDF(df, s"faulty://$out", "t")
      }
      assert(e.getMessage.startsWith("graft: upload: "), e.getMessage)
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
      Thread.sleep(1000) // time for a surviving task to recreate staging
      val names = out.toFile.list().toList
      assert(names == List(s"t.${format.extension}"), s"residue: $names")
      assert(Files.readString(previous) == "previous archive\n")
      if (sharded) assert(key.toFile.list().toList == List("part-00000"), key.toFile.list().toList)
    }
  }

  /** Runs `body` with the `faulty` scheme registered and `fault` injected. */
  private def withFault(fault: String)(body: => Unit): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.faulty.impl", classOf[FaultyFileSystem].getName)
    hconf.setBoolean("fs.faulty.impl.disable.cache", true)
    hconf.set("fs.faulty.fault", fault)
    try body
    finally {
      hconf.unset("fs.faulty.impl")
      hconf.unset("fs.faulty.impl.disable.cache")
      hconf.unset("fs.faulty.fault")
    }
  }

  test("a driver-side concat failure cancels the staged job: no staging residue, no active job, key untouched") {
    assertFaultLeavesKeyUntouched("create")
  }

  test("a staged part whose read fails mid-copy: upload error, no staging residue, no active job, key untouched") {
    assertFaultLeavesKeyUntouched("read")
  }

  test("a failed commit rename restores the previous object at the key, no staging residue") {
    assertFaultLeavesKeyUntouched("rename")
    assertFaultLeavesKeyUntouched("rename", Format.Parquet)
  }

  test("a failed commit rename of a sharded re-archive restores the previous archive, no staging residue") {
    for (format <- Seq(Format.Csv, Format.JsonArray, Format.Parquet))
      assertFaultLeavesKeyUntouched("rename", format, sharded = true)
  }

  test("a commit whose restore rename fails too keeps the previous object under staging and names it") {
    import spark.implicits._
    withFault("restore") {
      val out = Files.createTempDirectory("graft-restore")
      Files.writeString(out.resolve("t.csv"), "previous archive\n")
      val e = intercept[ArchiveException] {
        new Engine(spark).archiveDF(Seq(1L, 2L).toDF("id"), s"faulty://$out", "t")
      }
      val names = out.toFile.list().toList
      assert(names.size == 1 && names.head.startsWith("t.csv.staging-"), s"left: $names")
      assert(e.getMessage.startsWith("graft: upload: ") && e.getMessage.contains(names.head), e.getMessage)
      assert(Files.readString(out.resolve(names.head).resolve("_previous")) == "previous archive\n")
      // the periodic reap then puts it back at the key
      val findings = new Engine(spark).vacuumStaging(out.toString, graceMs = 0L)
      assert(findings.exists(_.startsWith("restored: ")), findings.mkString("; "))
      assert(out.toFile.list().toList == List("t.csv"), out.toFile.list().toList)
      assert(Files.readString(out.resolve("t.csv")) == "previous archive\n")
    }
  }

  /** Every file under `dir`, by its path relative to `dir`, with its bytes. */
  private def snapshot(dir: java.nio.file.Path): Map[String, Seq[Byte]] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => dir.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap

  test("a sharded re-archive whose row fails leaves the previous archive byte-identical, no staging residue, no active job") {
    import spark.implicits._
    val boom = org.apache.spark.sql.functions.udf { (i: Long) =>
      if (i == 7L) throw new IllegalStateException("bad row") else i
    }
    for (format <- Seq(Format.Csv, Format.JsonArray, Format.Parquet)) {
      val out = Files.createTempDirectory("graft-reshard")
      val engine = new Engine(spark, ArchiveConfig(format = format, sharded = true))
      val key = java.nio.file.Paths.get(engine.archiveDF(spark.range(0, 16, 1, 4).toDF("id"), out.toString, "t"))
      val before = snapshot(key)
      assert(before.keys.count(_.startsWith("part-")) >= 2, s"$format fixture degenerate: $before")
      val e = intercept[ArchiveException] {
        engine.archiveDF(spark.range(0, 16, 1, 4).toDF("id").withColumn("id", boom($"id")), out.toString, "t")
      }
      if (format == Format.JsonArray) assert(e.getMessage.startsWith("graft: download:"), e.getMessage)
      else assert(e.getMessage.startsWith("graft: "), e.getMessage)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty, s"$format: job still active")
      Thread.sleep(1000) // time for a surviving task to recreate staging
      assert(out.toFile.list().toList == List(key.getFileName.toString),
        s"$format residue: ${out.toFile.list().toList}")
      assert(snapshot(key) == before, s"$format: the previous archive changed")
    }
  }

  test("a sharded commit onto a key recreated mid-commit fails, never nesting the archive in the key") {
    import spark.implicits._
    withFault("race") {
      val out = Files.createTempDirectory("graft-race")
      val key = out.resolve("t.json")
      Files.writeString(Files.createDirectories(key).resolve("part-00000"), "previous archive\n")
      val e = intercept[ArchiveException] {
        new Engine(spark, ArchiveConfig(format = Format.JsonArray, sharded = true))
          .archiveDF(Seq(1L, 2L).toDF("id"), s"faulty://$out", "t")
      }
      assert(e.getMessage.startsWith("graft: upload: ") && e.getMessage.contains("recreated"), e.getMessage)
      // the concurrent archive holds the key, and nothing of this one is left
      assert(out.toFile.list().toList == List("t.json"), out.toFile.list().toList)
      assert(key.toFile.list().toList == List("concurrent"), key.toFile.list().toList)
    }
  }

  test("a single-object archive onto a directory fails and leaves the directory as it was") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-dirkey")
    val shard = out.resolve("d.csv").resolve("part-00000.csv")
    Files.createDirectories(shard.getParent)
    Files.writeString(shard, "id\n1\n")
    val e = intercept[ArchiveException] {
      new Engine(spark).archiveDF(Seq(1L, 2L).toDF("id"), out.toString, "d")
    }
    assert(e.getMessage.startsWith("graft: upload: "), e.getMessage)
    assert(Files.readString(shard) == "id\n1\n")
    assert(out.toFile.list().toList == List("d.csv"), out.toFile.list().toList)
  }

  test("cancellable API completes normally when not cancelled") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-cancel").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val job = new Engine(spark).archiveDFCancellable(df, out, "ok")
    val dest = job.await(60.seconds)
    assert(dest.endsWith("/ok.csv"))
    val bytes = new String(Files.readAllBytes(java.nio.file.Paths.get(dest)))
    assert(bytes == "id,v\n1,a\n2,b\n")
    job.cancel() // after completion: a no-op
    assert(job.isCompleted)
  }
}
