package graft.engine

import graft.SparkSpec

/** [[Engine.vacuumStaging]]: the periodic reap policy for crash-leaked
  * staging residue — aged `.staging-*`/`.compact-*` dirs reaped, fresh
  * ones (a concurrent archive mid-flight) spared by the grace window,
  * everything that is not graft staging byte-untouched.
  */
class VacuumSpec extends SparkSpec {

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-vacuum-$tag").toString

  private def mkTree(root: String, rel: String, files: (String, String)*): java.io.File = {
    val d = new java.io.File(root, rel)
    d.mkdirs()
    assert(d.isDirectory)
    files.foreach { case (n, c) =>
      java.nio.file.Files.writeString(d.toPath.resolve(n), c)
    }
    d
  }

  test("crash-leaked staging dirs are reaped; everything else is byte-untouched") {
    val root = freshDir("reap")
    // the two graft staging shapes, as a hard driver kill leaves them
    val leak1 = mkTree(root, "lineitem.csv.staging-0123abcd", "part-00000" -> "a,b\n1,2\n")
    val leak2 = mkTree(root, "dt=2024-01-01/.compact-deadbeef", "part-00000.parquet" -> "x")
    // bystanders: real data, a hidden committer dir, a foreign temp dir
    mkTree(root, "dt=2024-01-01", "part-00000.parquet" -> "data")
    mkTree(root, "_temporary/0", "task" -> "spark-owned")
    java.nio.file.Files.writeString(
      new java.io.File(root, "lineitem.csv").toPath, "a,b\n1,2\n")

    val findings = new Engine(spark).vacuumStaging(root, graceMs = 0L)
    assert(findings.count(_.startsWith("reaped: ")) == 2, findings.mkString("; "))
    assert(!leak1.exists() && !leak2.exists())
    // the sweep touched nothing else
    assert(new java.io.File(root, "lineitem.csv").exists())
    assert(new java.io.File(root, "dt=2024-01-01/part-00000.parquet").exists())
    assert(new java.io.File(root, "_temporary/0/task").exists())
  }

  test("a staging dir younger than the grace window is spared, and reported") {
    val root = freshDir("grace")
    val live = mkTree(root, "out.parquet.staging-ffff0000", "part-00000" -> "in flight")
    val findings = new Engine(spark).vacuumStaging(root) // default 24 h grace
    assert(findings.exists(f => f.startsWith("spared") && f.contains("staging-ffff0000")),
      findings.mkString("; "))
    assert(findings.forall(!_.startsWith("reaped: ")))
    assert(live.exists() && new java.io.File(live, "part-00000").exists())
  }

  test("age is the NEWEST touch inside the dir: an old dir a writer is still filling is spared") {
    val root = freshDir("newest")
    val d = mkTree(root, "out.csv.staging-11112222", "part-00000" -> "old")
    // age the dir and its first file far past any grace…
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    assert(d.setLastModified(old))
    assert(new java.io.File(d, "part-00000").setLastModified(old))
    // …then a concurrent task commits a fresh part file into it
    java.nio.file.Files.writeString(d.toPath.resolve("part-00001"), "fresh")
    val findings = new Engine(spark).vacuumStaging(root, graceMs = 3600L * 1000)
    assert(findings.exists(_.startsWith("spared")), findings.mkString("; "))
    assert(d.exists())
    // with every entry aged, the same dir is reaped
    assert(new java.io.File(d, "part-00001").setLastModified(old))
    assert(d.setLastModified(old))
    val second = new Engine(spark).vacuumStaging(root, graceMs = 3600L * 1000)
    assert(second.exists(_.startsWith("reaped: ")), second.mkString("; "))
    assert(!d.exists())
  }

  test("a staging dir holding the only copy of the previous archive restores it onto its key") {
    val root = freshDir("restore")
    // killed between the commit's move aside and its rename: no key
    val obj = mkTree(root, "t.csv.staging-x", "_previous" -> "a,b\n1,2\n", "_object" -> "a,b\n3,4\n")
    val dir = mkTree(root, "d.json.staging-y/_previous", "part-00000" -> "{\"a\":1}\n").getParentFile
    // the key is there: `_previous` is a superseded copy, reaped as before
    val old = mkTree(root, "u.csv.staging-z", "_previous" -> "old\n")
    java.nio.file.Files.writeString(new java.io.File(root, "u.csv").toPath, "new\n")

    val findings = new Engine(spark).vacuumStaging(root, graceMs = 0L)
    assert(findings.count(_.startsWith("restored: ")) == 2, findings.mkString("; "))
    assert(findings.count(_.startsWith("reaped: ")) == 3, findings.mkString("; "))
    assert(!obj.exists() && !dir.exists() && !old.exists())
    def read(rel: String) = java.nio.file.Files.readString(new java.io.File(root, rel).toPath)
    assert(read("t.csv") == "a,b\n1,2\n")
    assert(read("d.json/part-00000") == "{\"a\":1}\n")
    assert(read("u.csv") == "new\n")
  }

  test("a clean tree yields no findings; a missing root is a stage-tagged error") {
    val root = freshDir("clean")
    mkTree(root, "dt=2024-01-01", "part-00000.parquet" -> "data")
    assert(new Engine(spark).vacuumStaging(root).isEmpty)
    val e = intercept[ArchiveException] {
      new Engine(spark).vacuumStaging(root + "/no/such/dir")
    }
    assert(e.getMessage.contains("upload"))
  }
}
