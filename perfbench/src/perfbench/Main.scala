package perfbench

import graft.engine.{ArchiveConfig, Engine, Format, RowFormatter}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: one closed-loop client over one workload.
  *
  * Set-up starts the session, waits for the seeded inputs that
  * `perfbench/run.py` generates meanwhile (`--inputs` names the file it
  * writes when they are complete) and runs one untimed warm pass. Then
  * full passes over the workload's items, in a seeded order, run until
  * `--seconds` have passed; each item starts after the previous one
  * returned, with Spark caches cleared, as `graft.Bench` does. Results go
  * to `--result` as JSON; run.py adds the oracle row-count checks and
  * prints the final line.
  *
  * Untraced runs attach no listener. A traced run times untraced passes
  * first, then attaches a [[Tracer]] for at least two traced passes, which
  * give the per-layer metrics, and also checks each op entry's result
  * digest before and after its passes.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      runDir: String, inputs: String, result: String, spansOut: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("run-dir"), kv("inputs"), kv("result"), kv("spans"))
    require(Workloads.names.contains(a.workload), s"unknown workload ${a.workload}")
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse")
      .config("spark.local.dir", s"${a.runDir}/local")
      // a pass needs more generated classes than the default 100 entries
      // hold; evictions would recompile a seed-dependent share of them
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try new Run(spark, a, cores, t0).run()
    finally spark.stop()
  }
}

/** Named workloads and their items. */
object Workloads {
  val names: Seq[String] = Seq("archive", "ops")

  /** Non-loop registry entries: d08 and d17, whose 25 jobs each come from
    * the AQE stages of the timed action, and one cheap entry from each of
    * the e, m, p, q, s and x families.
    */
  val onePass: Seq[String] = Seq(
    "d08_dfcap_jaccard", "d17_containment", "e05_json_extract", "m02_decode_pipeline",
    "p02_null_fill", "q20_case_expr", "s01_cosine_topk", "x02_langid")

  /** Fixpoint-loop entries that run their loop on every call (no memo):
    * per-round plan analysis, checkpoint jobs and a shuffle per round.
    */
  val iterative: Seq[String] = Seq("q46_tree_closure", "g08_label_propagation")

  /** The `ops` workload: both kinds in one pass. */
  val ops: Seq[String] = onePass ++ iterative

  /** Archive items: (object key, table, config). Single objects in all
    * three row formats over a wide numeric table, an event table whose
    * JSON `props` must be quoted and escaped, and the synthetic edge-case
    * table with a NULL placeholder; sharded CSV and Parquet of lineitem.
    */
  val archives: Seq[(String, String, ArchiveConfig => ArchiveConfig)] = {
    def single(table: String, f: Format, nul: Option[String] = None) =
      (s"$table.${f.extension}", table,
        (c: ArchiveConfig) => c.copy(format = f, key = Some(s"$table.${f.extension}"), nullValue = nul))
    Seq(Format.Csv, Format.JsonArray, Format.Yaml).flatMap(f =>
      Seq(single("lineitem", f), single("events", f), single("synthetic", f, Some("NULL")))) ++
      Seq(Format.Csv, Format.Parquet).map(f => (s"lineitem_sharded_${f.extension}", "lineitem",
        (c: ArchiveConfig) => c.copy(format = f, sharded = true, key = Some(s"lineitem_sharded_${f.extension}"))))
  }
}

/** One execution of one item. */
private final case class Exec(item: String, pass: Int, seconds: Double, rows: Long, kind: String,
    fnCpuNs: Long, phasesMs: Map[String, Long], outBytes: Long, ok: Boolean = true, cpuS: Double = 0.0)

private final class Run(spark: SparkSession, a: Main.Args, cores: Int, t0: Long) {
  private val sc = spark.sparkContext
  private val dataDir = s"${a.runDir}/data"
  private val outDir = s"${a.runDir}/out"
  private val spans = new Spans
  private val threadMx = ManagementFactory.getThreadMXBean
  private val failures = mutable.ArrayBuffer.empty[String]
  private val isArchive = a.workload == "archive"

  private var rowsOf: Map[String, Long] = Map.empty
  /** Row count of each op entry in the warm pass. */
  private val expectedRows = mutable.Map.empty[String, Long]
  /** (bytes, CRC32) each archive object must have. */
  private val expectedObject = mutable.Map.empty[String, (Long, Long)]

  def run(): Unit = {
    val sessionS = (System.nanoTime() - t0) / 1e9
    val inputs = Paths.get(a.inputs)
    while (!Files.exists(inputs)) Thread.sleep(5)
    rowsOf = "\"(\\w+)\": (\\d+)".r.findAllMatchIn(Files.readString(inputs))
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    val inputsS = (System.nanoTime() - t0) / 1e9 - sessionS
    val items = if (isArchive) Workloads.archives.map(_._1) else Workloads.ops
    val warmStart = System.nanoTime()
    pass(items, 0, warmPass = true)
    val warmS = (System.nanoTime() - warmStart) / 1e9
    val setupS = (System.nanoTime() - t0) / 1e9
    say(f"setup: session ${sessionS}%.3f s, then inputs ready after ${inputsS}%.3f s, warm pass ${warmS}%.3f s")
    if (isArchive) archiveReferences()
    sentinel() // its first call compiles; later ones measure contention
    val digests = if (a.trace && !isArchive) items.map(n => n -> digest(n)).toMap else Map.empty[String, Long]

    val sentinels = mutable.ArrayBuffer.empty[Double]
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    metrics("setup_s") = (setupS, "s")
    var executed = Seq.empty[Exec]
    val walls = mutable.ArrayBuffer.empty[Double]
    val heaps = mutable.ArrayBuffer.empty[Double]
    var tracer: Option[Tracer] = None
    val layerPasses = mutable.ArrayBuffer.empty[Map[String, Double]]
    val countsPerPass = mutable.ArrayBuffer.empty[Seq[Long]]
    val jobSpans = mutable.ArrayBuffer.empty[Span]

    def timedPass(n: Int): Seq[Exec] = {
      sentinels += sentinel()
      tracer.foreach { t => PerfbenchBus.drain(sc); t.reset() }
      val firstSpan = spans.all.size
      val ex = pass(items, n, warmPass = false)
      val wall = ex.map(_.seconds).sum // the client's busy time; checks between items excluded
      walls += wall
      heaps += oldGenAfterGcMb()
      tracer.foreach { t =>
        PerfbenchBus.drain(sc)
        val m = layers(t, spans.all.drop(firstSpan).toSeq, ex, wall)
        layerPasses += m
        jobSpans ++= t.jobs.values.toSeq.sortBy(_.id).map(j =>
          Span(spans.newId(), j.span, s"job ${j.id}", j.startMs, math.max(j.endMs, j.startMs)))
        countsPerPass += Seq("scheduler.jobs", "scheduler.stages", "scheduler.stages_skipped",
          "scheduler.tasks").map(k => m(k).toLong)
      }
      ex
    }

    val measureStart = System.nanoTime()
    def elapsed = (System.nanoTime() - measureStart) / 1e9
    var passNo = 1
    if (a.trace) {
      while (passNo <= Run.MinPasses) { executed ++= timedPass(passNo); passNo += 1 }
      val untracedWall = median(walls.toSeq)
      val t = new Tracer
      sc.addSparkListener(t)
      tracer = Some(t)
      walls.clear()
      while (passNo <= Run.MinPasses + 2 || elapsed < a.seconds) { executed ++= timedPass(passNo); passNo += 1 }
      sc.removeSparkListener(t)
      tracer = None
      layerPasses.head.keys.foreach { k =>
        metrics(k) = (median(layerPasses.map(_(k)).toSeq), Run.unitOf(k))
      }
      Formatters.nsPerRow(spark, dataDir).foreach { case (k, v) => metrics(k) = (v, "ns") }
      metrics("trace.overhead_ratio") = (median(walls.toSeq) / untracedWall - 1.0, "ratio")
      say(s"traced pass counts (jobs, stages, skipped, tasks): " +
        countsPerPass.map(_.mkString("(", ",", ")")).mkString(" "))
      Files.writeString(Paths.get(a.spansOut), (spans.all ++ jobSpans).map(s =>
        s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs}}""")
        .mkString("", "\n", "\n"))
    } else {
      while (passNo <= Run.MinPasses || elapsed < a.seconds) { executed ++= timedPass(passNo); passNo += 1 }
    }
    val measureS = elapsed
    sentinels += sentinel()
    val badDigest = digests.collect { case (name, before) if digest(name) != before =>
      failures += s"$name: result digest changed over the passes"
      name
    }.toSet
    executed = executed.map(e => if (badDigest(e.item)) e.copy(ok = false) else e)

    val secs = executed.map(_.seconds).sorted
    if (!a.trace) {
      // each item's median over the passes: a burst of contention that hits
      // one pass of an item is set aside, whichever item and pass it hits
      val typical = executed.groupBy(_.item).values.map(es => (median(es.map(_.seconds)), es.head.rows)).toSeq
      metrics("wall_s") = (typical.map(_._1).sum, "s")
      metrics("cpu_s") = (executed.groupBy(_.item).values.map(es => median(es.map(_.cpuS))).sum, "s")
      metrics("item_geomean_s") = (math.exp(typical.map(t => math.log(t._1)).sum / typical.size), "s")
      metrics("rows_per_s") = (typical.map(_._2).sum / typical.map(_._1).sum, "1/s")
      metrics("heap_peak_mb") = (heaps.max, "MB")
    } else {
      metrics.remove("setup_s")
      metrics("contention.sentinel_s") = (median(sentinels.toSeq), "s")
    }
    say(f"${a.workload}: ${walls.size} passes in ${measureS}%.2f s, ${executed.size} items; " +
      Run.tail(secs).fold("")(t => f"item p${t._1 * 100}%.0f ${t._2}%.3f s (the highest with 10 items beyond it); ") +
      s"contention sentinel before each pass and after the last ${sentinels.map(x => f"$x%.3f").mkString("[", ", ", "]")} s; " +
      s"failed ${executed.count(!_.ok)}/${executed.size}")
    executed.groupBy(_.item).toSeq.sortBy(_._1).foreach { case (name, es) =>
      say(f"item $name%-24s median ${median(es.map(_.seconds))}%.3f s, cpu ${median(es.map(_.cpuS))}%.3f s, " +
        s"rows ${es.head.rows}; passes " + es.map(e => f"${e.seconds}%.3f").mkString(" "))
    }
    failures.foreach(f => say(s"FAILED $f"))
    writeResult(metrics.toSeq, executed)
  }

  // ---- items ----

  private def pass(items: Seq[String], n: Int, warmPass: Boolean): Seq[Exec] = {
    val order = new scala.util.Random(a.seed * 1000003L + n).shuffle(items)
    order.map { name =>
      spark.sharedState.cacheManager.clearCache()
      val item = spans.newId()
      val cpu = javaThreadsCpuNs()
      val t = System.nanoTime()
      val ran = scala.util.Try {
        var ex: Exec = null
        spans.record(item, -1, name) {
          ex = if (isArchive) archive(name, item) else op(name, item)
        }
        ex.copy(pass = n, seconds = (System.nanoTime() - t) / 1e9,
          cpuS = javaThreadsCpuNs().iterator.map { case (id, ns) => ns - cpu.getOrElse(id, 0L) }.sum / 1e9)
      }
      val e = ran.getOrElse(Exec(name, n, (System.nanoTime() - t) / 1e9, 0L, "failed", 0L, Map.empty, 0L))
      if (warmPass) say(f"warm $name ${e.seconds}%.3f s")
      val problems = ran.failed.toOption.map(x => s"${x.getClass.getSimpleName}: ${x.getMessage}").toSeq ++
        (if (ran.isSuccess) check(e, warmPass) else Nil)
      problems.foreach(p => failures += s"$name pass $n: $p".take(400))
      if (isArchive && ran.isSuccess) e.copy(outBytes = expectedObject.get(name).fold(0L)(_._1), ok = problems.isEmpty)
      else e.copy(ok = problems.isEmpty)
    }
  }

  private def phase[T](parent: Int, name: String)(body: => T): T = {
    val id = spans.newId()
    sc.setLocalProperty(Tracer.Key, id.toString)
    var out: Option[T] = None
    try spans.record(id, parent, name) { out = Some(body) }
    finally sc.setLocalProperty(Tracer.Key, null)
    out.get
  }

  private def op(name: String, item: Int): Exec = {
    val q = graft.Registry.byName(name)
    val cpu0 = threadMx.getCurrentThreadCpuTime
    val df = phase(item, "fn")(q.fn(spark, dataDir))
    val fnCpu = threadMx.getCurrentThreadCpuTime - cpu0
    val agg = phase(item, "plan") { val c = df.groupBy().count(); c.queryExecution.executedPlan; c }
    val rows = phase(item, "execute")(agg.collect()(0).getLong(0))
    val phases = agg.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
    Exec(name, 0, 0.0, rows, "op", fnCpu, phases, 0L)
  }

  private def archive(key: String, item: Int): Exec = {
    val (_, table, cfg) = Workloads.archives.find(_._1 == key).get
    val engine = new Engine(spark)
    phase(item, "execute")(engine.archive(dataDir, table, outDir, cfg))
    Exec(key, 0, 0.0, rowsOf(table), if (cfg(ArchiveConfig()).sharded) "sharded" else "single",
      0L, Map.empty, 0L)
  }

  /** Order-insensitive digest of an entry's result: the sum of its
    * per-row 64-bit hashes.
    */
  private def digest(name: String): Long = {
    spark.sharedState.cacheManager.clearCache()
    val df = graft.Registry.byName(name).fn(spark, dataDir)
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.MapType => to_json(col(s"`${f.name}`"))
        case _ => col(s"`${f.name}`")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val s = df.select(sum(h.cast("decimal(38,0)"))).collect()(0).getDecimal(0)
    if (s == null) 0L else s.longValue()
  }

  // ---- checks ----

  /** Problems with one item's output. The warm pass records each op
    * entry's row count; every archive must leave no `.staging-*` residue
    * and no Spark job running.
    */
  private def check(e: Exec, warmPass: Boolean): Seq[String] =
    if (!isArchive) {
      if (warmPass) { expectedRows(e.item) = e.rows; Nil }
      else if (expectedRows.get(e.item).contains(e.rows)) Nil
      else Seq(s"row count ${e.rows}, warm pass had ${expectedRows.get(e.item)}")
    } else {
      PerfbenchBus.drain(sc)
      val residue = Option(new java.io.File(outDir).list()).toSeq.flatten.filter(_.contains(".staging-"))
      val active = sc.statusTracker.getActiveJobIds()
      val got = objectDigest(s"$outDir/${e.item}")
      (if (residue.nonEmpty) Seq(s"staging residue ${residue.mkString(",")}") else Nil) ++
        (if (active.nonEmpty) Seq(s"jobs still active ${active.mkString(",")}") else Nil) ++
        expectedObject.get(e.item).filter(_ != got).map(want => s"object (bytes, crc32) $got, expected $want")
    }

  /** (bytes, CRC32) of an archive object; a sharded object is the
    * concatenation of its part files in name order.
    */
  private def objectDigest(dest: String): (Long, Long) = {
    val p = Paths.get(dest.stripPrefix("file:"))
    val files = if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
    else Seq(p)
    val crc = new java.util.zip.CRC32
    var bytes = 0L
    files.foreach { f => val b = Files.readAllBytes(f); crc.update(b); bytes += b.length }
    (bytes, crc.getValue)
  }

  /** Expected (bytes, CRC32) of each single object, rendered partition by
    * partition from the source table in scan order and joined here; sharded
    * objects are held to their warm-pass bytes, whose row count is read
    * back once.
    */
  private def archiveReferences(): Unit = Workloads.archives.foreach { case (key, table, cfgFn) =>
    val cfg = cfgFn(ArchiveConfig())
    val df = spark.read.parquet(s"$dataDir/$table.parquet")
    if (!cfg.sharded) {
      val fmt = RowFormatter.of(cfg.format)
      val crc = new java.util.zip.CRC32
      var bytes = 0L
      def put(b: Array[Byte]): Unit = { crc.update(b); bytes += b.length }
      put(fmt.open(df.schema).getBytes(StandardCharsets.UTF_8))
      val sep = fmt.separator.getBytes(StandardCharsets.UTF_8)
      Run.renderParts(df, fmt, cfg.nullValue).filter(_.nonEmpty).zipWithIndex.foreach { case (part, i) =>
        if (i > 0) put(sep)
        put(part)
      }
      put(fmt.close.getBytes(StandardCharsets.UTF_8))
      expectedObject(key) = (bytes, crc.getValue)
      val got = objectDigest(s"$outDir/$key")
      if (got != expectedObject(key)) failures += s"$key warm pass: object $got, expected ${expectedObject(key)}"
    } else {
      val back = cfg.format match {
        case Format.Parquet => spark.read.parquet(s"$outDir/$key")
        case _ => spark.read.option("header", "true").csv(s"$outDir/$key")
      }
      val n = back.count()
      if (n != rowsOf(table)) failures += s"$key warm pass: $n rows read back, table has ${rowsOf(table)}"
      expectedObject(key) = objectDigest(s"$outDir/$key")
    }
  }

  // ---- measurements ----

  /** graft.Bench's contention probe: fixed synthetic compute, no I/O. */
  private def sentinel(): Double = {
    val t = System.nanoTime()
    spark.range(64000000L).selectExpr("sum(xxhash64(id) % 1000)").collect()
    (System.nanoTime() - t) / 1e9
  }

  /** CPU time of every live Java thread (driver, scheduler, task threads)
    * by thread id. JIT compiler and GC threads are not Java threads, so
    * their CPU, which here is mostly the JIT still compiling Spark, is left
    * out.
    */
  private def javaThreadsCpuNs(): Map[Long, Long] =
    threadMx.getAllThreadIds.iterator.map(id => id -> threadMx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  private def oldGenAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
      .map(p => Option(p.getCollectionUsage).orElse(Option(p.getUsage)).map(_.getUsed).getOrElse(0L))
      .sum / 1e6
  }

  /** Per-layer metrics of one traced pass. */
  private def layers(t: Tracer, ss: Seq[Span], ex: Seq[Exec], wall: Double): Map[String, Double] = t.synchronized {
    val items = ss.filter(_.parent == -1)
    val phaseOf = ss.filter(_.parent != -1).map(s => s.id -> s).toMap
    val jobs = t.jobs.values.toSeq
    val jobIntervals = jobs.map(j => (j.startMs, math.max(j.endMs, j.startMs)))
    val c = t.counts.values
    def sumC(f: t.Counts => Long) = c.iterator.map(f).sum.toDouble
    val archiveItems = items.filter(i => ex.exists(e => e.item == i.name && e.kind != "op"))
    def jobsIn(s: Span) = jobIntervals.filter { case (st, _) => st >= s.startMs && st <= s.endMs }
    def rate(kind: String) = {
      val e = ex.filter(_.kind == kind)
      if (e.isEmpty) 0.0 else e.map(_.rows).sum / e.map(_.seconds).sum
    }
    Map(
      "operators.fn_s" -> ss.filter(_.name == "fn").map(_.ms).sum / 1e3,
      "operators.fn_self_s" -> ss.filter(_.name == "fn")
        .map(f => f.ms - Tracer.covered(jobIntervals, f.startMs, f.endMs)).sum / 1e3,
      "operators.fn_cpu_s" -> ex.map(_.fnCpuNs).sum / 1e9,
      "operators.fn_jobs" -> jobs.count(j => phaseOf.get(j.span).exists(_.name == "fn")).toDouble,
      "plans.analysis_s" -> ex.map(_.phasesMs.getOrElse("analysis", 0L)).sum / 1e3,
      "plans.optimization_s" -> ex.map(_.phasesMs.getOrElse("optimization", 0L)).sum / 1e3,
      "plans.planning_s" -> ex.map(_.phasesMs.getOrElse("planning", 0L)).sum / 1e3,
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> sumC(_.stages),
      "scheduler.stages_skipped" -> sumC(_.skipped),
      "scheduler.tasks" -> sumC(_.tasks),
      "scheduler.failed_tasks" -> sumC(_.failedTasks),
      "scheduler.driver_gap_s" -> items.map(i => i.ms - Tracer.covered(jobIntervals, i.startMs, i.endMs)).sum / 1e3,
      "tasks.run_s" -> sumC(_.runMs) / 1e3,
      "tasks.cpu_s" -> sumC(_.cpuNs) / 1e9,
      "tasks.gc_s" -> sumC(_.gcMs) / 1e3,
      "tasks.core_busy_ratio" -> sumC(_.runMs) / 1e3 / (cores * wall),
      "shuffle.read_mb" -> sumC(_.shuffleRead) / 1e6,
      "shuffle.write_mb" -> sumC(_.shuffleWrite) / 1e6,
      "shuffle.spill_mb" -> sumC(_.spill) / 1e6,
      "cache.stored_mb" -> t.cachedBytes / 1e6,
      "sources.input_rows" -> sumC(_.inputRows),
      "sources.input_mb" -> sumC(_.inputBytes) / 1e6,
      "engine.pre_job_s" -> archiveItems.map(i => jobsIn(i).map(_._1).minOption.fold(i.ms)(_ - i.startMs)).sum / 1e3,
      "engine.job_s" -> archiveItems.map(i => Tracer.covered(jobIntervals, i.startMs, i.endMs)).sum / 1e3,
      "engine.tail_s" -> archiveItems.map(i => jobsIn(i).map(_._2).maxOption.fold(0L)(i.endMs - _)).sum / 1e3,
      "engine.parts" -> jobs.map(_.span).distinct
        .filter(s => phaseOf.get(s).exists(p => archiveItems.exists(_.id == p.parent)))
        .map(s => t.counts.get(s).fold(0L)(_.tasks)).sum.toDouble,
      "engine.out_mb" -> ex.map(_.outBytes).sum / 1e6,
      "engine.single_rows_per_s" -> rate("single"),
      "engine.sharded_rows_per_s" -> rate("sharded"))
  }

  // ---- output ----

  private def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    if (v.isEmpty) 0.0 else (v((v.size - 1) / 2) + v(v.size / 2)) / 2
  }

  private def say(s: String): Unit = println(s"perfbench: $s")

  private def writeResult(metrics: Seq[(String, (Double, String))], executed: Seq[Exec]): Unit = {
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""
    val m = metrics.map { case (k, (v, u)) => s"${str(k)}:{\"value\":${Run.num(v)},\"unit\":${str(u)}}" }
    val oracles = if (isArchive) Nil else executed.groupBy(_.item).toSeq.sortBy(_._1).map { case (name, es) =>
      val sql = graft.Registry.byName(name).oracle.map(str).getOrElse("null")
      s"""{"name":${str(name)},"sql":$sql,"rows":${expectedRows.getOrElse(name, -1L)},"items":${es.size}}"""
    }
    val json = s"""{"metrics":{${m.mkString(",")}},"attempted":${executed.size},""" +
      s""""failed_items":${executed.count(!_.ok)},""" +
      s""""failures":${failures.map(str).mkString("[", ",", "]")},"oracles":${oracles.mkString("[", ",", "]")},""" +
      s""""data_dir":${str(dataDir)}}"""
    Files.writeString(Paths.get(a.result), json + "\n")
  }
}

private object Run {
  /** Timed passes per run at least: the first still runs slower than the
    * rest while the JIT settles, and a median of three sets it aside.
    */
  val MinPasses = 3

  def unitOf(metric: String): String = metric.split('.').last match {
    case s if s.endsWith("_mb") => "MB"
    case s if s.endsWith("_per_s") => "1/s"
    case s if s.endsWith("_s") => "s"
    case s if s.endsWith("_ratio") => "ratio"
    case _ => "count"
  }

  /** (p, value) of the p90, or, with fewer than 100 samples, of the
    * highest percentile that has at least ten samples beyond it; None
    * below 21 samples, where that would not exceed the median.
    */
  def tail(sorted: Seq[Double]): Option[(Double, Double)] = {
    val n = sorted.size
    val rank = if (n >= 100) math.ceil(0.9 * n).toInt else n - 10
    if (n < 21) None else Some((rank.toDouble / n, sorted(rank - 1)))
  }

  /** Each partition's rows rendered by `fmt` and joined by its separator. */
  def renderParts(df: DataFrame, fmt: RowFormatter, nullValue: Option[String]): Array[Array[Byte]] = {
    val schema = df.schema
    df.rdd.mapPartitions { rows =>
      val out = new java.io.ByteArrayOutputStream
      val sep = fmt.separator.getBytes(StandardCharsets.UTF_8)
      rows.zipWithIndex.foreach { case (r, i) =>
        if (i > 0) out.write(sep)
        out.write(fmt.row(schema, r, nullValue).getBytes(StandardCharsets.UTF_8))
      }
      Iterator.single(out.toByteArray)
    }.collect()
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
