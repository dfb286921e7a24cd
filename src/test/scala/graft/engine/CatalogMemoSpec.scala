package graft.engine

import graft.SparkSpec

import java.nio.file.{Files, Path}

/** [[CatalogMemo.buildOnce]]'s success-only rule over a temp source
  * directory: a hit never rebuilds, a content change does, and only a
  * build that returns normally with a value the caller keeps is
  * recorded.
  */
class CatalogMemoSpec extends SparkSpec {

  private def sourceDir(): Path = {
    val dir = Files.createTempDirectory("graft-memo-src")
    Files.write(dir.resolve("part-0.txt"), "a\n".getBytes)
    dir
  }

  /** A memo whose builds are counted and return the build number. */
  private class Counted(keep: Int => Boolean = _ => true) {
    val memo = new CatalogMemo[Int]
    var builds = 0
    def apply(dir: Path): Int =
      memo.buildOnce(spark, dir.toString, keep) { _ => builds += 1; builds }
  }

  test("a hit returns the recorded value without calling build") {
    val dir = sourceDir()
    val c = new Counted
    assert(c(dir) == 1)
    assert(c(dir) == 1)
    assert(c.builds == 1)
  }

  test("adding a file changes the content key, so the value is rebuilt") {
    val dir = sourceDir()
    val c = new Counted
    val before = CatalogMemo.contentKey(dir.toString, spark.sparkContext.hadoopConfiguration)
    assert(c(dir) == 1)
    Files.write(dir.resolve("part-1.txt"), "b\n".getBytes)
    assert(CatalogMemo.contentKey(dir.toString, spark.sparkContext.hadoopConfiguration) != before)
    assert(c(dir) == 2)
    assert(c(dir) == 2)
  }

  test("a build that throws records nothing; the next call builds again") {
    val dir = sourceDir()
    val memo = new CatalogMemo[String]
    var calls = 0
    intercept[IllegalStateException] {
      memo.buildOnce(spark, dir.toString) { _ =>
        calls += 1; throw new IllegalStateException("second write failed")
      }
    }
    assert(memo.buildOnce(spark, dir.toString) { _ => calls += 1; "built" } == "built")
    assert(memo.buildOnce(spark, dir.toString) { _ => calls += 1; "again" } == "built")
    assert(calls == 2)
  }

  test("a value the caller does not keep is returned but not recorded") {
    val dir = sourceDir()
    val memo = new CatalogMemo[Seq[Int]]
    var calls = 0
    def train(result: Seq[Int]): Seq[Int] =
      memo.buildOnce(spark, dir.toString, keep = _.nonEmpty) { _ => calls += 1; result }
    assert(train(Seq.empty).isEmpty) // empty training result: not kept
    assert(train(Seq(7)) == Seq(7))
    assert(train(Seq(9)) == Seq(7))
    assert(calls == 2)
  }
}
