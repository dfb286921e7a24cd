package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval of a traced pass. Times are epoch milliseconds,
  * the clock Spark stamps its job events with. `parent` is -1 for an
  * item span.
  */
final case class Span(id: Int, parent: Int, name: String, startMs: Long, endMs: Long) {
  def ms: Long = endMs - startMs
}

/** Driver-side span recorder. Spans live in memory until the run ends. */
final class Spans {
  val all: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var next = 0

  def newId(): Int = { next += 1; next }

  def record(id: Int, parent: Int, name: String)(body: => Unit): Unit = {
    val t0 = System.currentTimeMillis()
    try body
    finally all += Span(id, parent, name, t0, System.currentTimeMillis())
  }
}

/** Counts of one traced pass, attributed to item and phase spans through
  * the `perfbench.span` local property ("<span id>") that the benchmark
  * sets before each call into the program. Stages and tasks attribute to
  * the job that submitted them. Fed by the listener bus thread; read
  * only after [[org.apache.spark.PerfbenchBus.drain]].
  */
final class Tracer extends SparkListener {
  import Tracer.Job
  final class Counts {
    var stages, skipped, tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, inputRows, inputBytes = 0L
  }

  val jobs: mutable.Map[Int, Job] = mutable.Map.empty
  val counts: mutable.Map[Int, Counts] = mutable.Map.empty // by span id
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val submitted = mutable.Set.empty[Int]
  var cachedBytes = 0L

  def reset(): Unit = synchronized {
    jobs.clear(); counts.clear(); stageSpan.clear(); submitted.clear(); cachedBytes = 0L
  }

  private def of(span: Int) = counts.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = Job(e.jobId, span, e.time, -1L, e.stageIds)
    e.stageIds.foreach(s => if (!stageSpan.contains(s)) stageSpan(s) = span)
    of(span).stages += e.stageIds.size
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      of(j.span).skipped += j.stages.count(s => !submitted(s))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitted += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    if (!e.taskInfo.successful) c.failedTasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputRows += m.inputMetrics.recordsRead
      c.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) cachedBytes += b.memSize + b.diskSize
  }
}

object Tracer {
  val Key = "perfbench.span"

  final case class Job(id: Int, span: Int, startMs: Long, var endMs: Long, stages: Seq[Int])

  /** Milliseconds of [from, to) covered by the union of `intervals`. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var end = from
    clipped.foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total
  }
}
