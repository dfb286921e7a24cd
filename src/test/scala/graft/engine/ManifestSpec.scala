package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** K1d landing-verification manifest: `_MANIFEST.json` records every
  * landed data file with its size plus the re-read row count, and
  * `verifyManifest` re-audits the directory against it — missing
  * shard, size drift, row drift, and intrusive extra files must all
  * surface; a pristine landing must verify clean.
  */
class ManifestSpec extends SparkSpec {

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-manifest").toString

  test("manifest records the landed shards and a clean landing verifies empty") {
    val engine = new Engine(spark, ArchiveConfig(
      format = Format.Csv, sharded = true))
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .repartition(4)
    val dest = engine.archiveDF(src, freshDir(), "orders")
    val m = engine.writeManifest(dest)
    assert(m.rows == src.count())
    assert(m.files.nonEmpty && m.files.forall(_.bytes > 0))
    assert(m.files.map(_.path) == m.files.map(_.path).sorted)
    // the manifest itself and committer metadata are not data files
    assert(m.files.forall(f => !f.path.startsWith("_") && !f.path.startsWith(".")))
    assert(engine.verifyManifest(dest).isEmpty)
  }

  test("shard loss, size drift, and extra files are detected") {
    val engine = new Engine(spark, ArchiveConfig(
      format = Format.Csv, sharded = true))
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .repartition(4)
    val dest = engine.archiveDF(src, freshDir(), "orders")
    engine.writeManifest(dest)

    val dir = new java.io.File(dest)
    val shards = dir.listFiles.filter(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(shards.length >= 2, "fixture degenerate: need >= 2 shards")

    // size drift: truncate one shard
    val clipped = shards.head
    val raf = new java.io.RandomAccessFile(clipped, "rw")
    try raf.setLength(clipped.length() - 10) finally raf.close()
    // shard loss: delete another
    val lost = shards(1)
    assert(lost.delete())
    // intrusion: a file the landing never wrote
    val stray = new java.io.File(dir, "part-stray.csv")
    java.nio.file.Files.writeString(stray.toPath, "o_orderkey\n1\n")

    val problems = engine.verifyManifest(dest)
    assert(problems.exists(_.startsWith(s"size drift: ${clipped.getName}")), problems)
    assert(problems.exists(_ == s"missing file: ${lost.getName}"), problems)
    assert(problems.exists(_ == s"unexpected file: ${stray.getName}"), problems)
    assert(problems.exists(_.startsWith("row drift:")), problems)
  }

  test("manifest row count survives a hive-partitioned layout") {
    val engine = new Engine(spark, ArchiveConfig(
      format = Format.Parquet, sharded = true, partitionBy = Seq("o_orderpriority")))
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val dest = engine.archiveDF(src, freshDir(), "orders")
    val m = engine.writeManifest(dest, Format.Parquet)
    assert(m.rows == src.count())
    // partition-layout data files live in subdirectories
    assert(m.files.exists(_.path.contains("/")))
    // the recount format comes from the MANIFEST, not the verifying
    // engine's config: a default-config consumer (who doesn't know how
    // the archive was written — that's what the manifest records)
    // audits a parquet landing clean
    assert(new Engine(spark).verifyManifest(dest).isEmpty)
  }

  /** A sharded CSV landing of sf0.001 orders with its manifest, and the
    * manifest's path.
    */
  private def landManifested(engine: Engine): (String, java.nio.file.Path) = {
    val src = spark.read.parquet(s"$sf0001/orders.parquet").repartition(4)
    val dest = engine.archiveDF(src, freshDir(), "orders")
    engine.writeManifest(dest)
    (dest, java.nio.file.Paths.get(dest, Engine.ManifestName))
  }

  private def dataFiles(dest: String): Seq[String] =
    new java.io.File(dest).list().toSeq.filter(n => !n.startsWith("_") && !n.startsWith(".")).sorted

  /** Replaces the manifest's text as a tool outside Hadoop would,
    * leaving any checksum sidecar of the local filesystem in place.
    */
  private def overwrite(manifest: java.nio.file.Path, text: String): Unit =
    java.nio.file.Files.writeString(manifest, text)

  /** The manifest's JSON re-serialized compactly, as any JSON tool
    * may rewrite it, after `edit`.
    */
  private def rewriteCompact(manifest: java.nio.file.Path)(
      edit: com.fasterxml.jackson.databind.node.ObjectNode => Unit = _ => ()): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val tree = mapper.readTree(manifest.toFile).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    edit(tree)
    overwrite(manifest, mapper.writeValueAsString(tree))
  }

  test("a manifest re-serialized as compact JSON audits clean, and repair deletes nothing") {
    val engine = new Engine(spark, ArchiveConfig(format = Format.Csv, sharded = true))
    val (dest, manifest) = landManifested(engine)
    val shards = dataFiles(dest)
    assert(shards.size >= 2, "fixture degenerate: need >= 2 shards")
    rewriteCompact(manifest)()
    assert(!java.nio.file.Files.readString(manifest).contains(": "), "fixture: manifest not compact")
    assert(engine.verifyManifest(dest).isEmpty)
    assert(engine.repairArchive(dest).isEmpty)
    assert(dataFiles(dest) == shards)
  }

  test("a compact manifest whose row count is off by one gives exactly one row-drift finding") {
    val engine = new Engine(spark, ArchiveConfig(format = Format.Csv, sharded = true))
    val (dest, manifest) = landManifested(engine)
    rewriteCompact(manifest)(m => m.put("rows", m.get("rows").asLong + 1))
    val findings = engine.verifyManifest(dest)
    assert(findings.size == 1 && findings.head.startsWith("row drift: recorded "), findings)
  }

  test("a truncated manifest is one 'manifest unreadable' finding, and repair refuses it") {
    val engine = new Engine(spark, ArchiveConfig(format = Format.Csv, sharded = true))
    val (dest, manifest) = landManifested(engine)
    val shards = dataFiles(dest)
    val json = java.nio.file.Files.readString(manifest)
    overwrite(manifest, json.take(json.length / 2))
    val findings = engine.verifyManifest(dest)
    assert(findings.size == 1 && findings.head.startsWith("manifest unreadable: "), findings)
    val e = intercept[ArchiveException] { engine.repairArchive(dest) }
    assert(e.getMessage.contains("refusing to repair"))
    assert(dataFiles(dest) == shards)
  }

  test("a manifest in the original hand-rendered byte format still verifies clean") {
    val engine = new Engine(spark, ArchiveConfig(format = Format.Csv, sharded = true))
    val (dest, manifest) = landManifested(engine)
    val m = engine.writeManifest(dest)
    val files = m.files.map(f => s"""{"bytes": ${f.bytes}, "path": "${f.path}"}""").mkString(", ")
    overwrite(manifest,
      s"""{"files": [$files], "format": "csv", "n_files": ${m.files.size}, "rows": ${m.rows}, """ +
        s""""total_bytes": ${m.files.map(_.bytes).sum}}""")
    assert(engine.verifyManifest(dest).isEmpty)
  }

  test("a directory without a manifest reports exactly that") {
    val engine = new Engine(spark, ArchiveConfig(
      format = Format.Csv, sharded = true))
    val dest = engine.archiveDF(
      spark.read.parquet("/root/testdata/sf0.001/region.parquet"),
      freshDir(), "region")
    val problems = engine.verifyManifest(dest)
    assert(problems.size == 1 && problems.head.startsWith("manifest missing:"))
  }
}
