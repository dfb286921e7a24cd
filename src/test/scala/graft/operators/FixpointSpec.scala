package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** The loop combinators' contract: where `iterate` truncates, that
  * every loop ends on a checkpoint leaf (the plan lock's `Scan` for
  * g01 and the other loop entries depends on it), how often `until`
  * tests for convergence, and its named error at the cap. Plus the
  * source lint that keeps every truncation behind [[Fixpoint]].
  */
class FixpointSpec extends SparkSpec {

  private def truncated(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LogicalRDD]

  private def start: DataFrame = spark.range(4).toDF("id")

  private def bump(df: DataFrame): DataFrame = df.select((col("id") + 1).as("id"))

  test("iterate truncates init, then at the final round and every 3rd with 2+ rounds left") {
    val expected = Map(1 -> Set(1), 2 -> Set(2), 3 -> Set(3), 4 -> Set(4),
      5 -> Set(3, 5), 6 -> Set(3, 6), 7 -> Set(3, 7), 8 -> Set(3, 6, 8))
    for ((rounds, at) <- expected) {
      // round i's input is truncated iff round i - 1 (0 = init) was
      val inputs = scala.collection.mutable.ArrayBuffer[Boolean]()
      val out = Fixpoint.iterate(spark, start, rounds) { state =>
        inputs += truncated(state)
        bump(state)
      }
      assert(inputs.size == rounds)
      assert(inputs.head, s"rounds=$rounds: init not truncated")
      val seen = (2 to rounds).filter(i => inputs(i - 1)).map(_ - 1).toSet ++
        (if (truncated(out)) Set(rounds) else Set.empty)
      assert(seen == at, s"rounds=$rounds")
      assert(out.collect().map(_.getLong(0)).sorted.toSeq == (rounds until rounds + 4))
    }
  }

  test("until tests convergence once per round, on the truncated state") {
    var steps = 0
    val checked = scala.collection.mutable.ArrayBuffer[Boolean]()
    val out = Fixpoint.until(spark, start, 10, "spec loop") { state =>
      steps += 1
      bump(state)
    } { state =>
      checked += truncated(state)
      state.where(col("id") === 3L).isEmpty
    }
    assert(steps == 4 && checked == Seq(true, true, true, true))
    assert(truncated(out))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(4L, 5L, 6L, 7L))
  }

  test("until raises a named IllegalStateException at its round cap") {
    var steps = 0
    val e = intercept[IllegalStateException] {
      Fixpoint.until(spark, start, 3, "spec loop") { state =>
        steps += 1
        bump(state)
      }(_ => false)
    }
    assert(steps == 3)
    assert(e.getMessage.contains("spec loop") && e.getMessage.contains("3 rounds"),
      e.getMessage)
  }

  test("a spark.graft.checkpointDir that is not a path raises an error naming the key") {
    spark.conf.set("spark.graft.checkpointDir", "")
    try {
      val e = intercept[IllegalArgumentException](Fixpoint.truncate(spark, start))
      assert(e.getMessage.contains("spark.graft.checkpointDir"), e.getMessage)
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("only Fixpoint.scala checkpoints or localCheckpoints in src/main") {
    val pattern = """localCheckpoint|\.checkpoint\(""".r
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found")
    val stream = java.nio.file.Files.walk(root)
    val offenders =
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala
          .filter(p => p.toString.endsWith(".scala") &&
            p.getFileName.toString != "Fixpoint.scala")
          .flatMap { p =>
            java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
              case (line, i) if pattern.findFirstIn(line).isDefined =>
                s"$p:${i + 1}: ${line.trim}"
            }
          }.toList
      } finally stream.close()
    assert(offenders.isEmpty,
      s"lineage truncation outside Fixpoint:\n  ${offenders.mkString("\n  ")}")
  }
}
