package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: UTC, small shuffle fan-out, graft
  * extensions loaded the library way.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()

  /** The smallest testdata scale (TESTDATA.md). */
  val sf0001: String = "/root/testdata/sf0.001"

  /** Runs `body` and returns its value with the number of Spark jobs
    * it submitted, counted by a listener once the bus has drained.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit = {
    // one JVM-wide session across suites; do not stop between suites
    super.afterAll()
  }
}
