package graft.engine

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, Path}
import org.apache.spark.SerializableWritable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, encoderFor}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.charset.StandardCharsets
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Promise}
import scala.jdk.CollectionConverters._

/** The archiver: read → project → null-overlay → format → sink, the
  * reference's whole pipeline (chiv.go:87–198) re-expressed on Spark.
  *
  * API parity (SURVEY.md §2.7): `archive` ≈ `Archive(db, s3, table,
  * bucket, opts)`; `archiveDF` ≈ `ArchiveRows` (bring-your-own-query,
  * chiv.go:45–52); constructor config + per-call overrides replicate
  * the option-overlay semantics (chiv.go:67–79, 87–91).
  *
  * Sink semantics: the reference streams one S3 object per archive
  * through an io.Pipe (bounded memory, chiv.go:127–143). Here:
  *   - parity mode: one exact-named object — partitions format in
  *     parallel to staged byte files, then the driver concatenates
  *     them byte-for-byte to the exact key (bounded memory, pure I/O
  *     on the sequential leg).
  *   - sharded mode (`sharded = true`): the 100 TB path — executors
  *     write part files in parallel into a staged directory, which is
  *     then committed onto `<key>/` as a whole; CSV gets a header per
  *     part, JSON degrades to JSON-lines (array framing has no
  *     parallel equivalent).
  * Both modes land through one staged commit ([[landObject]]): a
  * failed archive leaves the previous one at the key.
  * Any `hadoop fs` scheme works as destination (file://, hdfs://,
  * s3a://); writes go through the Hadoop FileSystem API.
  */
final class Engine(spark: SparkSession, base: ArchiveConfig = ArchiveConfig()) {

  /** Archive a named table from `source` (the Spark-world `Archive`).
    * A `jdbc:` source is the reference's own shape — a full-table scan
    * against a live database (chiv.go:200–215, `SELECT <cols> FROM
    * <table>`), with Spark pushing projection/predicates into the
    * cursor; anything else is a parquet data directory.
    */
  def archive(source: String, table: String, destDir: String,
      config: ArchiveConfig => ArchiveConfig = identity): String = {
    val df = stage("query") {
      if (source.startsWith("jdbc:"))
        graft.sources.Sources.jdbcTable(spark, source, table)
      else graft.sources.Sources.parquet(spark, s"$source/$table.parquet")
    }
    archiveDF(df, destDir, table, config)
  }

  /** Archive any DataFrame (≈ ArchiveRows: the caller brings the
    * query; key defaults to literal "table", chiv.go:224–226).
    */
  def archiveDF(df: DataFrame, destDir: String, table: String = "table",
      config: ArchiveConfig => ArchiveConfig = identity): String = {
    val cfg = config(base) // option overlay: per-call copy shadows base
    val projected = project(df, cfg)
    val key = cfg.resolvedKey(table)
    val dest = s"${destDir.stripSuffix("/")}/$key"
    if (cfg.sharded) writeSharded(projected, cfg, dest)
    else writeSingleObject(projected, cfg, dest)
    dest
  }

  /** ArchiveWithContext (A2, chiv.go:32–34): the same archive, but
    * cancellable mid-flight. chiv threads a `context.Context` through
    * the row loop (chiv.go:166–168); the Spark analogue is a job
    * group — every job the archive submits is tagged, and `cancel()`
    * kills the running stages cluster-wide (`interruptOnCancel` sends
    * a thread interrupt to executor tasks).
    *
    * One deliberate divergence: chiv's per-row check returns `nil` on
    * cancellation, so a cancelled context can yield a silently
    * truncated but "successful" object (SURVEY §3.1 note (a)). At
    * 100 TB a truncated-but-green archive is data corruption, so here
    * cancellation surfaces as a stage-prefixed [[ArchiveException]]
    * and the destination archive is never committed — the final object
    * or directory appears only via a rename after a complete write, and
    * staged parts are discarded with the job (the archive's jobs are
    * waited for, bounded, until their tasks end before staging is
    * removed; see [[cancelAndDrain]]).
    */
  def archiveDFCancellable(df: DataFrame, destDir: String, table: String = "table",
      config: ArchiveConfig => ArchiveConfig = identity): ArchiveJob = {
    val group = s"graft-archive-$table-${java.util.UUID.randomUUID()}"
    val promise = scala.concurrent.Promise[String]()
    val runner = new Thread(() => {
      try {
        // job-group tags are thread-local: every action archiveDF
        // runs from this thread inherits the group
        spark.sparkContext.setJobGroup(group, s"graft archive $table",
          interruptOnCancel = true)
        try promise.success(archiveDF(df, destDir, table, config))
        finally spark.sparkContext.clearJobGroup()
      } catch {
        case e: ArchiveException => promise.failure(e)
        case e: Throwable =>
          // "download" is only the fallback label for pre-stage
          // plumbing failures
          promise.failure(taggedCause(e).getOrElse(new ArchiveException("download", e)))
      }
    }, group)
    runner.setDaemon(true)
    runner.start()
    new ArchiveJob(spark, group, promise.future)
  }

  /** True for formats written by Spark's columnar writers rather than
    * the row formatters.
    */
  private def columnar(f: Format): Boolean =
    f == Format.Parquet || f == Format.Orc

  private def writeSingleObject(df: DataFrame, cfg: ArchiveConfig, dest: String): Unit = {
    if (cfg.partitionBy.nonEmpty)
      throw new ArchiveException("upload", new IllegalArgumentException(
        "partitionBy requires sharded mode: one exact-named object cannot carry a directory layout"))
    if (columnar(cfg.format)) return writeColumnarSingle(df, cfg, dest)
    val fmt = RowFormatter.of(cfg.format)
    landObject(dest) { (fs, staging) =>
      // the job stages one part per partition; ONE sequential driver-side
      // byte concatenation then joins them into the object: pure I/O at
      // filesystem copy speed (no row decode, no per-partition job
      // scheduling), preserving header / array framing at the seams.
      // Single-object output is driver-bound by contract (one named
      // object); sharded mode is the scale path.
      //
      // The concat overlaps the job: it copies part i as soon as part i
      // is committed, strictly in partition order. It writes a temp
      // object INSIDE staging: a failure mid-copy can never leave a
      // truncated-but-plausible object at the exact key
      val tmp = new Path(staging, "_object")
      formatParts(df, cfg, fs, staging, lines = false) { parts =>
        val out = new java.io.BufferedOutputStream(fs.create(tmp, true), 1 << 20)
        try {
          out.write(fmt.open(df.schema).getBytes(StandardCharsets.UTF_8))
          var first = true
          for ((hasRows, i) <- parts.zipWithIndex if hasRows()) {
            if (!first && fmt.separator.nonEmpty)
              out.write(fmt.separator.getBytes(StandardCharsets.UTF_8))
            val in = fs.open(new Path(f"$staging/part-$i%05d"))
            try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 1 << 20, false)
            finally in.close()
            first = false
          }
          out.write(fmt.close.getBytes(StandardCharsets.UTF_8))
        } finally out.close()
      }
      tmp
    }
  }

  /** Formats `df`'s rows in `cfg`'s row format in one Spark job over the
    * one planned query's binary rows: partition i goes to
    * `<dir>/part-NNNNN` ([[StagedPart.writer]]), its rows joined by the
    * format's separator or, with `lines`, one line per row. `consume`
    * runs on the driver while the job does; it gets one call per
    * partition, in partition order, that waits for that partition's
    * part to be committed and says whether it has rows. The job is
    * left to the landing's failure handling ([[cleaningStagingOnFailure]]),
    * which cancels it and waits for its tasks on any failure, its own or
    * `consume`'s.
    *
    * As in Spark's own file writers, an input of no partitions runs as
    * one empty partition, and partition 0 always leaves a part: a sharded
    * archive of no rows is one empty shard.
    */
  private def formatParts(df: DataFrame, cfg: ArchiveConfig, fs: FileSystem, dir: Path,
      lines: Boolean)(consume: Seq[() => Boolean] => Unit): Unit = {
    // the DataFrame's own Row encoder, made on the driver: tasks format
    // the one planned query's binary rows, and a cell or a custom format
    // that needs a Row gets it from this encoder (OPTIMIZATION_r09.md §11)
    val encoder = encoderFor(df.encoder)
    // the conf is broadcast, not captured in the task closure: each task
    // deserializes its closure, which on 4 vCPUs in local mode cost every
    // archive about 15 ms more than the broadcast
    val bcConf = spark.sparkContext.broadcast(
      new SerializableWritable(spark.sparkContext.hadoopConfiguration))
    val rows = stage("download") {
      val planned = df.queryExecution.toRdd
      if (planned.getNumPartitions > 0) planned
      else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
    }
    if (!fs.mkdirs(dir))
      throw new java.io.IOException(s"cannot create $dir")
    // The job runs inside the caller's upload stage: its writes land on
    // the destination filesystem, so an unwritable destination is an
    // upload error (chiv parity); row-production and formatter errors
    // carry their own stage from the task. A task commits its part
    // before it delivers its result, so a delivered result means the
    // part is complete.
    val n = rows.getNumPartitions
    val hasRows = Array.fill(n)(Promise[Boolean]())
    val fut = spark.sparkContext.submitJob[InternalRow, Boolean, Unit](rows,
      StagedPart.writer(dir.toString, bcConf, RowFormatter.of(cfg.format), df.schema,
        cfg.nullValue, encoder, lines),
      0 until n, (i, any) => hasRows(i).success(any), ())
    fut.onComplete(_.failed.foreach(e => hasRows.foreach(_.tryFailure(e))))(ExecutionContext.global)
    // a failed job fails the awaited promise; stage() unwraps the task's
    // ArchiveException
    consume(hasRows.toSeq.map(p => () => Await.result(p.future, Duration.Inf)))
  }

  /** Lands one archive at `dest`, a single object or a sharded
    * directory. `write` puts the archive in a fresh staging directory
    * and returns its path, a file or a directory; the archive is then
    * committed onto the key ([[commit]]) and staging removed, the
    * previous archive with it. Any failure removes staging and surfaces
    * as an upload error, unless it already carries its own stage.
    *
    * Staging is invocation-unique, `<dest>.staging-<uuid>`: two
    * concurrent archives to the SAME destination (trivial via
    * archiveDFCancellable) must not interleave staged parts or delete
    * each other's staging on their own failure path; the last-wins race
    * is then confined to the final commit. That commit moves the
    * previous archive aside and then renames — a two-step window in
    * which a concurrent committer can recreate the target (the loser's
    * commit then fails with IllegalStateException rather than
    * corrupting) and a reader can briefly observe the destination
    * missing; a single-step rename-with-overwrite (where the filesystem
    * offers one) would close it. The trade-off vs a fixed name: a hard
    * driver kill (no cleanup path runs) leaks a uniquely-named staging
    * dir instead of being overwritten by the next run — the same
    * residual class as Spark's own `_temporary` attempt dirs;
    * [[vacuumStaging]] is the periodic reap policy (see docs/S3A.md for
    * the object-store variant, where committing a sharded archive
    * copies each of its files once).
    */
  private def landObject(dest: String)(write: (FileSystem, Path) => Path): Unit = {
    val staging = new Path(dest + Engine.StagingInfix + java.util.UUID.randomUUID())
    cleaningStagingOnFailure(staging) {
      stage("upload") {
        val target = new Path(dest)
        val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
        commit(fs, write(fs, staging), target, staging)
        fs.delete(staging, true)
      }
    }
  }

  /** Rename `staged` onto `target`. A previous archive at `target` is
    * first moved aside into `staging` and moved back if the rename
    * fails, so a failed commit leaves the key as it was; the caller's
    * removal of `staging` deletes it once the new archive is in place.
    * A staged directory (a sharded archive) replaces an object or a
    * directory; a staged file (a single object) over a directory is
    * refused, never moved aside and deleted.
    *
    * Hadoop's `rename` moves its source INTO a destination that is an
    * existing directory. A concurrent archive that recreates the key
    * between the move aside and the rename would so get this archive
    * nested inside its own; a check after the rename finds it there,
    * moves it back into staging and fails the commit, leaving the other
    * archive at the key. (`FileContext.rename` with `Rename.NONE` refuses
    * up front instead, but needs an `AbstractFileSystem` binding for the
    * scheme; the check works on every `FileSystem`.)
    */
  private def commit(fs: FileSystem, staged: Path, target: Path, staging: Path): Unit = {
    val aside = new Path(staging, Engine.Previous)
    val moved = fs.exists(target) && {
      if (fs.getFileStatus(target).isDirectory && fs.getFileStatus(staged).isFile)
        throw new IllegalStateException(s"$target is a directory, not an object")
      if (!fs.rename(target, aside))
        throw new IllegalStateException(s"rename $target -> $aside failed")
      true
    }
    var done = false
    try {
      if (!fs.rename(staged, target))
        throw new IllegalStateException(s"rename $staged -> $target failed")
      val nested = new Path(target, staged.getName)
      if (fs.exists(nested)) {
        fs.rename(nested, staged)
        throw new IllegalStateException(s"$target was recreated during the commit")
      }
      done = true
    } finally {
      if (!done && moved && !fs.exists(target) && !fs.rename(aside, target))
        throw new IllegalStateException(s"restoring $target from $aside failed")
    }
  }

  /** Cancel the jobs tagged `tag` and wait until each has ended: the
    * status tracker shows it finished and none of its tasks still
    * running, so staging is not removed under a task's writes (a task of
    * Spark's own writers can still be creating its file after its job
    * has failed). Bounded at 30 s, since the tracker is fed
    * asynchronously; while the tracker has reported no job for the tag,
    * none counts as started after 1 s (Spark skips a job of an already
    * cancelled group without reporting it). A task whose start reaches
    * the tracker only after the job's end is not waited for; the
    * row-format tasks' non-recursive create keeps it from recreating
    * staging.
    */
  private def cancelAndDrain(tag: String): Unit = {
    spark.sparkContext.cancelJobsWithTag(tag)
    val tracker = spark.sparkContext.statusTracker
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    def running(id: Int) = tracker.getJobInfo(id).exists { job =>
      job.status == org.apache.spark.JobExecutionStatus.RUNNING ||
        job.stageIds.exists(st => tracker.getStageInfo(st).exists(_.numActiveTasks > 0))
    }
    def busy = {
      val ids = tracker.getJobIdsForTag(tag)
      if (ids.isEmpty) elapsedS < 1.0 else ids.exists(running)
    }
    while (busy && elapsedS < 30.0) Thread.sleep(10)
  }

  /** Run `body`, tagging every Spark job it submits; on ANY failure
    * cancel those jobs and wait for them to end ([[cancelAndDrain]]),
    * best-effort delete the staging path (failed or cancelled archives
    * must not leak staged bytes), then rethrow. A staging path that
    * holds the only copy of the previous archive ([[orphanedKey]]: the
    * commit moved it aside and could not restore it) is kept instead,
    * and the error names it.
    */
  private def cleaningStagingOnFailure[T](staging: Path)(body: => T): T = {
    val sc = spark.sparkContext
    val jobs = s"graft-staging-${java.util.UUID.randomUUID()}"
    sc.addJobTag(jobs)
    try body catch {
      case e: Throwable =>
        cancelAndDrain(jobs)
        val kept = try {
          val fs = staging.getFileSystem(sc.hadoopConfiguration)
          orphanedKey(fs, staging).isDefined || { fs.delete(staging, true); false }
        } catch { case _: Exception => false }
        if (kept) throw new ArchiveException("upload", new IllegalStateException(
          s"$staging kept: it holds the only copy of the previous archive (${e.getMessage})", e))
        throw e
    } finally sc.removeJobTag(jobs)
  }

  /** The key of the staging path `<key>.staging-<uuid>` when that path
    * holds the previous archive [[commit]] moved aside and the key is
    * absent: `_previous` is then the archive's only copy, to be
    * restored, never deleted.
    */
  private def orphanedKey(fs: FileSystem, staging: Path): Option[Path] = {
    val at = staging.getName.indexOf(Engine.StagingInfix)
    Option.when(at > 0)(new Path(staging.getParent, staging.getName.take(at)))
      .filter(key => fs.exists(new Path(staging, Engine.Previous)) && !fs.exists(key))
  }

  /** Columnar single object: one part file written by Spark's writer
    * into staging, then committed to the exact key (the classic
    * exact-name pattern; on S3A the rename is a server-side copy).
    */
  private def writeColumnarSingle(df: DataFrame, cfg: ArchiveConfig, dest: String): Unit =
    landObject(dest) { (fs, staging) =>
      val one = df.coalesce(1).write.mode("overwrite")
      cfg.format match {
        case Format.Orc => one.orc(staging.toString)
        case _ => one.parquet(staging.toString)
      }
      fs.listStatus(staging).map(_.getPath).find(_.getName.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(s"no part file under $staging"))
    }

  /** A sharded archive: a directory of part files, landed at `dest` by
    * the same staged commit as a single object ([[landObject]]), so a
    * failed archive leaves the previous one at the key. Spark's writers
    * write Parquet, ORC and CSV shards, with a hive-style
    * `cfg.partitionBy` layout when set (partition values move into the
    * directory path and downstream scans prune on them). The row
    * formats write `part-NNNNN` shards, one line per row
    * ([[formatParts]]).
    */
  private def writeSharded(df: DataFrame, cfg: ArchiveConfig, dest: String): Unit = {
    if (cfg.partitionBy.nonEmpty && !columnar(cfg.format) && cfg.format != Format.Csv)
      throw new ArchiveException("upload", new IllegalArgumentException(
        s"partitionBy is not supported for row-formatted ${cfg.format} shards " +
          "(partition values live in the path, not the rows) — use parquet/orc/csv"))
    landObject(dest) { (fs, staging) =>
      val obj = new Path(staging, "_object")
      def laidOut(w: org.apache.spark.sql.DataFrameWriter[Row]) =
        if (cfg.partitionBy.nonEmpty) w.partitionBy(cfg.partitionBy: _*) else w
      cfg.format match {
        case Format.Parquet => laidOut(df.write).parquet(obj.toString)
        case Format.Orc => laidOut(df.write).orc(obj.toString)
        case Format.Csv =>
          // Spark's codegen'd CSV writer: header per part, Go-style
          // minimal quoting, placeholder via nullValue option.
          laidOut(df.write
            .option("header", "true")
            .option("nullValue", cfg.nullValue.getOrElse(""))
            .option("emptyValue", "")
            // lossless in sharded mode: always print microseconds
            // (single-object parity mode omits a zero fraction; the
            // writer option cannot express that conditionality)
            .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"))
            .csv(obj.toString)
        case _ => formatParts(df, cfg, fs, obj, lines = true)(_.foreach(_()))
      }
      obj
    }
  }

  /** Bucketed-table sink (K1c — the storage-LAYOUT half of the 100 TB
    * story, complementing K1b's directory layout): write the archive
    * output hash-bucketed by `bucketCol` into `buckets` buckets (and
    * sorted within each file on the same key), registered in the
    * catalog as `tableName`. Every future equi-join or aggregation on
    * the bucket key against this table is then EXCHANGE-FREE on this
    * side — the scan itself reports hashpartitioning(bucketCol,
    * buckets), so Catalyst plans a sort-merge join with no shuffle of
    * the archived data (BucketedArchiveSpec pins the plan; q37 is the
    * oracle-checked query). At 100 TB that converts the dominant
    * repeated cost of a fact table — reshuffling it under every join —
    * into a one-time layout cost at archive write.
    *
    * Columnar formats only: bucket metadata lives in the catalog +
    * file layout, which row formatters (CSV/JSON/YAML objects) cannot
    * carry. Buckets should be sized like shuffle partitions at the
    * target scale (e.g. ~128-256 MB of rows each); both join sides
    * must agree on the bucket count (or differ by an integer factor
    * with spark.sql.bucketing.coalesceBucketsInJoin.enabled).
    */
  def archiveBucketed(df: DataFrame, tableName: String, bucketCol: String,
      buckets: Int, config: ArchiveConfig => ArchiveConfig = identity): Unit = {
    require(buckets > 0, s"graft: buckets must be positive, got $buckets")
    val cfg = config(base)
    val projected = project(df, cfg)
    val fmt = tableFormat(cfg, "bucketed")
    stage("upload") {
      dropTable(tableName)
      projected.write.format(fmt).mode("overwrite")
        .bucketBy(buckets, bucketCol)
        .sortBy(bucketCol)
        .saveAsTable(tableName)
    }
  }

  /** Hive-style PARTITIONED catalog table — the layout that turns a
    * partition-key predicate (static or runtime/DPP) into skipped
    * directories instead of read-and-discard. The catalog-table twin
    * of [[archiveDF]]'s sharded file sink (same `partitionBy` layout,
    * plus catalog metadata so joins can dynamic-partition-prune);
    * complements [[archiveBucketed]] (exchange elimination) and
    * [[archiveClustered]] (row-group skipping) — three layouts, three
    * different scan/shuffle levers. Same DROP + orphan-location
    * handling as the bucketed sink.
    */
  def archivePartitioned(df: DataFrame, tableName: String, partCol: String,
      config: ArchiveConfig => ArchiveConfig = identity): Unit = {
    val cfg = config(base)
    val projected = project(df, cfg)
    val fmt = tableFormat(cfg, "partitioned")
    stage("upload") {
      dropTable(tableName)
      projected.write.format(fmt).mode("overwrite")
        .partitionBy(partCol)
        .saveAsTable(tableName)
    }
  }

  /** Z-order-clustered columnar archive — the data-SKIPPING half of
    * storage layout, complementing [[archiveBucketed]]'s co-location
    * half: rows are range-partitioned and sorted by the bit-interleave
    * of two filter columns, so every Parquet row group covers a small
    * RECTANGLE of the (a, b) value space and its min/max footer stats
    * prune 2-D range predicates on EITHER or BOTH columns — a plain
    * sort on `a` alone would leave `b`'s min/max spanning the whole
    * domain in every row group. A Parquet bloom filter on an optional
    * point-lookup column prunes equality probes the sorted stats
    * can't. Row-group size is deliberately small (128 KiB) so skipping
    * granularity is fine; at 100 TB the same layout writes ~128 MB row
    * groups and the pruning arithmetic is identical. The reference's
    * only layout lever is the S3 object key (chiv.go:224–233); this is
    * the columnar-era equivalent. Pruning is evidenced by scan-metric
    * A/B in ZorderSpec.
    */
  def archiveClustered(df: DataFrame, tableName: String, colA: String,
      colB: String, rangePartitions: Int = 8,
      bloomCol: Option[String] = None): Unit = {
    require(rangePartitions > 0,
      s"graft: rangePartitions must be positive, got $rangePartitions")
    // Range-normalize each key to a 16-bit code BEFORE interleaving:
    // interleaving raw low bits would alias values 2^16 apart into the
    // same Z position and the pruning would collapse once a key domain
    // exceeds 65535. The min/max pair per column is one tiny write-time
    // aggregate (two driver scalars per column — the same class of
    // stat the Parquet footer itself stores); the code is
    // (v−min)·65535 / span with integral arithmetic, monotone per
    // column, so row-group min/max stats stay faithful to the raw
    // values. (span·65535 needs |span| < 2^47 — any realistic key.)
    import org.apache.spark.sql.functions.{lit, max => fmax, min => fmin}
    val st = df.agg(
      fmin(df.col(colA).cast("long")), fmax(df.col(colA).cast("long")),
      fmin(df.col(colB).cast("long")), fmax(df.col(colB).cast("long"))).collect()(0)
    def bounds(i: Int): (Long, Long) =
      if (st.isNullAt(i)) (0L, 1L) // empty input: any constant code
      else (st.getLong(i), math.max(1L, st.getLong(i + 1) - st.getLong(i)))
    val (aMin, aSpan) = bounds(0)
    val (bMin, bSpan) = bounds(2)
    def code(c: org.apache.spark.sql.Column, mn: Long, span: Long) =
      (c.cast("long") - lit(mn)) * lit(65535L) / lit(span)
    val z = Engine.zOrder(
      code(df.col(colA), aMin, aSpan), code(df.col(colB), bMin, bSpan))
    stage("upload") {
      dropTable(tableName)
      val w = df.withColumn("z", z)
        .repartitionByRange(rangePartitions, org.apache.spark.sql.functions.col("z"))
        .sortWithinPartitions("z")
        .write.format("parquet").mode("overwrite")
        .option("parquet.block.size", 128 * 1024)
      bloomCol.foldLeft(w)((w, c) =>
          w.option(s"parquet.bloom.filter.enabled#$c", "true"))
        .saveAsTable(tableName)
    }
  }

  private def stage[T](name: String)(body: => T): T =
    try body catch {
      case e: ArchiveException => throw e
      case e: Exception => throw taggedCause(e).getOrElse(new ArchiveException(name, e))
    }

  /** The first [[ArchiveException]] in `e`'s cause chain. A task-side
    * one (e.g. a formatter failure tagged "download" on the executor)
    * reaches the driver wrapped in a SparkException and keeps its
    * original stage. (If the executor's exception chain failed Java
    * serialization, Spark drops the cause and the error keeps the
    * caller's label — a less precise stage, never a lost error.)
    */
  private def taggedCause(e: Throwable): Option[ArchiveException] =
    Iterator.iterate(e.getCause)(_.getCause).takeWhile(_ != null)
      .collectFirst { case ae: ArchiveException => ae }

  /** `df` narrowed to `cfg.columns`, when set. */
  private def project(df: DataFrame, cfg: ArchiveConfig): DataFrame = stage("columns") {
    if (cfg.columns.nonEmpty) df.select(cfg.columns.map(df.col): _*) else df
  }

  /** The writer format of a catalog-table sink. Format.Csv is
    * ArchiveConfig's untouched default — a caller who never chose a
    * format gets the columnar default, parquet. A row format fails in
    * the "format" stage (a negotiation failure, not a column-projection
    * one), naming the archive kind `what`.
    */
  private def tableFormat(cfg: ArchiveConfig, what: String): String = cfg.format match {
    case Format.Orc => "orc"
    case Format.Parquet | Format.Csv => "parquet"
    case other =>
      throw new ArchiveException("format", new IllegalArgumentException(
        s"$what archive requires a columnar format (parquet/orc), got $other"))
  }

  /** Re-archive must win over any previous state. DROP handles a live
    * catalog entry (and deletes its managed location); the explicit
    * location delete handles the ORPHAN case — a previous process wrote
    * the table, the in-memory catalog forgot it at exit, and the
    * warehouse directory survived, which makes saveAsTable fail with
    * LOCATION_ALREADY_EXISTS.
    */
  private def dropTable(tableName: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    val loc = new Path(spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(tableName)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Every file under `root`, at any depth, with its path relative to
    * `root`: one recursive listing, which an object store serves flat
    * instead of one request per directory.
    */
  private def filesUnder(fs: FileSystem, root: Path): Seq[(String, FileStatus)] = {
    val prefix = fs.makeQualified(root).toUri.getPath.stripSuffix("/") + "/"
    val it = fs.listFiles(root, true)
    val files = Seq.newBuilder[(String, FileStatus)]
    while (it.hasNext) {
      val st = it.next()
      files += st.getPath.toUri.getPath.stripPrefix(prefix) -> st
    }
    files.result()
  }

  /** The files under `root` whose relative path has no hidden name
    * ('_'/'.') at any level: not committer metadata, the manifest
    * itself, `_temporary` staging or staging residue. Spark's own
    * readers skip them, files and directories alike; a straggler task
    * can recreate `_temporary`, so recording its contents would
    * guarantee later false "missing file" alarms.
    */
  private def dataFiles(fs: FileSystem, root: Path): Seq[(String, FileStatus)] =
    filesUnder(fs, root).filterNot(_._1.split('/').exists(n => n.startsWith("_") || n.startsWith(".")))

  /** The manifest at `path`, or the finding that it cannot be read: not
    * JSON, or without `files`, `format` or `rows`.
    */
  private def readManifest(fs: FileSystem, path: Path): Either[String, ArchiveManifest] =
    try {
      val in = Engine.unchecked(fs).open(path)
      val json = try Engine.Json.readTree(in) finally in.close()
      def field(node: JsonNode, name: String, ok: JsonNode => Boolean): JsonNode =
        Option(node.get(name)).filter(ok)
          .getOrElse(throw new IllegalArgumentException(s"no valid '$name'"))
      val files = field(json, "files", _.isArray).elements().asScala.map(f => ShardEntry(
        field(f, "path", _.isTextual).textValue, field(f, "bytes", _.isIntegralNumber).longValue))
      Right(ArchiveManifest(field(json, "format", _.isTextual).textValue, files.toSeq,
        field(json, "rows", _.isIntegralNumber).longValue))
    } catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"manifest unreadable: ${String.valueOf(e.getMessage).take(160)}")
    }

  /** Landing-verification MANIFEST (K1d): after a sharded archive
    * lands, record WHAT landed — every data file with its byte size,
    * plus the total row count read back through the format's own
    * reader — as `_MANIFEST.json` inside the destination. This is the
    * missing half of the sink contract at 100 TB: the committer
    * guarantees atomic task output, but nothing downstream can later
    * prove the directory is still the archive that was written (a
    * lost shard, a half-replaced file, or a stray compaction all read
    * as "some rows" without one). chiv's single-object sink gets this
    * for free from S3 ETags (chiv.go:217–244); a sharded layout needs
    * an explicit manifest — the same role Delta/Iceberg metadata
    * plays, in one self-contained JSON.
    *
    * The row count is ONE scan of the landed data (how any landing is
    * verified anyway); at scale it parallelizes like any read.
    * Supported for the formats Spark can re-read structurally
    * (parquet/orc/csv); row-formatted custom shards record bytes
    * only (rows = -1), because their row framing is format-private.
    * The JSON is written with Jackson, keys sorted and file paths
    * sorted, so identical landings produce byte-identical manifests.
    * The audit parses it as JSON, so a rewrite that keeps its content
    * (compact whitespace, say) still audits clean, and a manifest that
    * is not JSON or lacks `files`, `format` or `rows` is itself a
    * finding, which [[repairArchive]] refuses.
    */
  def writeManifest(dest: String, format: Format = base.format): ArchiveManifest = {
    val path = new Path(dest, Engine.ManifestName)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = dataFiles(fs, new Path(dest)).map { case (rel, st) => ShardEntry(rel, st.getLen) }
      .sortBy(_.path)
    val m = ArchiveManifest(format.extension, files, recountable.get(format).fold(-1L)(_(dest)))
    val json = Engine.Json.createObjectNode()
    val listed = json.putArray("files")
    m.files.foreach(f => listed.addObject().put("bytes", f.bytes).put("path", f.path))
    json.put("format", m.format).put("n_files", m.files.size).put("rows", m.rows)
      .put("total_bytes", m.files.map(_.bytes).sum)
    val tmp = new Path(dest, s".${Engine.ManifestName}.tmp")
    val out = Engine.unchecked(fs).create(tmp, true)
    try out.write(Engine.Json.writeValueAsBytes(json)) finally out.close()
    // delete-then-rename is NOT an atomic replace on object stores: a
    // concurrent reader can observe the manifest briefly missing
    // between the two calls (HDFS rename-over-existing would close the
    // window, but S3A has no atomic rename at all). Re-manifesting a
    // LIVE-read archive should version the destination instead — the
    // same discipline CatalogMemo.contentKey documents for sources.
    if (fs.exists(path) && !fs.delete(path, false))
      throw new ArchiveException("upload",
        new IllegalStateException(
          s"existing manifest $path could not be removed before replace"))
    if (!fs.rename(tmp, path))
      throw new ArchiveException("upload",
        new IllegalStateException(s"manifest rename $tmp -> $path failed"))
    m
  }

  /** [[writeManifest]] then [[verifyManifest]]: a landing that fails
    * its own fresh audit throws (stage `upload`, naming `what` was
    * landed) rather than reporting success.
    */
  def writeManifestAudited(dest: String, format: Format,
      what: String): ArchiveManifest = {
    val m = writeManifest(dest, format)
    val findings = verifyManifest(dest)
    if (findings.nonEmpty)
      throw new ArchiveException("upload", new IllegalStateException(
        s"$what failed its manifest audit: ${findings.mkString("; ")}"))
    m
  }

  /** Re-audit a landed archive against its `_MANIFEST.json`: returns
    * the discrepancies (missing manifest, missing/extra/resized data
    * files, row-count drift), empty when the landing is intact. The
    * check any consumer should run before trusting a directory it did
    * not just write — which is exactly why the RECOUNT format comes
    * from the manifest itself, never from the caller's config: the
    * consumer doesn't know how the archive was written, the manifest
    * records it.
    */
  def verifyManifest(dest: String): Seq[String] = audit(dest).swap.getOrElse(Seq.empty)

  /** `dest`'s manifest when the archive matches it, else the
    * [[verifyManifest]] findings. An unreadable manifest is one
    * finding: nothing else can be checked against it.
    */
  private def audit(dest: String): Either[Seq[String], ArchiveManifest] = {
    val root = new Path(dest)
    val path = new Path(root, Engine.ManifestName)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Left(Seq(s"manifest missing: $path"))
    val recorded = readManifest(fs, path) match {
      case Left(unreadable) => return Left(Seq(unreadable))
      case Right(m) => m
    }
    val rec = recorded.files.map(f => f.path -> f.bytes).toMap
    val act = dataFiles(fs, root).map { case (rel, st) => rel -> st.getLen }.toMap
    val missing = (rec.keySet -- act.keySet).toSeq.sorted.map(p => s"missing file: $p")
    val extra = (act.keySet -- rec.keySet).toSeq.sorted.map(p => s"unexpected file: $p")
    val resized = rec.keySet.intersect(act.keySet).toSeq.sorted
      .filter(p => rec(p) != act(p))
      .map(p => s"size drift: $p recorded ${rec(p)} B, found ${act(p)} B")
    // a tampered shard can make the re-read THROW (e.g. the local
    // filesystem's CRC sidecar detects the corruption before the
    // format does) — an audit reports that as a finding, it never
    // propagates a crash out of a verification call. rows = -1 means
    // the writing format's row framing is private (custom row
    // formatters) — nothing to recount.
    val rows =
      if (recorded.rows == -1L) Seq.empty
      else recountable.collectFirst { case (f, count) if f.extension == recorded.format => count } match {
        case None =>
          Seq(s"row drift: manifest format '${recorded.format}' is not recountable here")
        case Some(count) =>
          try {
            val n = count(dest)
            if (recorded.rows != n)
              Seq(s"row drift: recorded ${recorded.rows}, found $n")
            else Seq.empty
          } catch {
            // NonFatal only: a corrupt/unreadable shard is an audit
            // finding, but OutOfMemoryError / linkage errors must
            // still propagate — swallowing them would report a dying
            // JVM as benign "row drift"
            case scala.util.control.NonFatal(e) =>
              Seq(s"row drift: recount failed: ${String.valueOf(e.getMessage).take(160)}")
          }
      }
    val findings = missing ++ extra ++ resized ++ rows
    Either.cond(findings.isEmpty, recorded, findings)
  }

  /** The gate in front of a step that rewrites a landed archive: the
    * archive's manifest when it passes its audit, None when it has no
    * manifest. One that fails its audit is refused, the step named by
    * `verb`: re-running a step over crash residue would certify it, so
    * the findings must be repaired first.
    */
  private def auditGate(dest: String, verb: String): Option[ArchiveManifest] = {
    val path = new Path(dest, Engine.ManifestName)
    if (!path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)) None
    else audit(dest) match {
      case Right(m) => Some(m)
      case Left(findings) =>
        throw new ArchiveException("upload", new IllegalStateException(
          s"refusing to $verb an archive that fails its manifest audit " +
            s"(repair the findings first): ${findings.mkString("; ")}"))
    }
  }

  /** COMPACT a landed sharded archive's small data files (K1e) — the
    * standing maintenance job of every large lake: streaming/
    * incremental landings accumulate files far below the efficient
    * scan unit, and a 100 TB table of 1 MB files pays ~128× the
    * open/seek/footer overhead per scan of the same bytes in 128 MB
    * files. Per LEAF DIRECTORY (so a hive-`partitionBy` layout is
    * compacted partition-by-partition and the layout — including
    * partition pruning — is preserved exactly): read the directory's
    * data files, `coalesce` to ⌈bytes/targetBytes⌉ outputs (NARROW —
    * concatenation, no shuffle, no re-sort: existing within-file
    * ordering, e.g. a Z-order clustering, survives), stage under a
    * hidden `.compact-*` dir (invisible to readers), verify the
    * staged row count equals the source files' BEFORE touching
    * anything, then swap: staged files RENAME IN first, old files
    * delete after. That order is crash-safe in the direction that
    * matters — a crash mid-swap leaves EXTRA files (transient
    * over-count a [[verifyManifest]] audit flags as `unexpected
    * file`), never lost data; the transient anomaly window is the
    * same non-atomic-directory reality [[writeManifest]] documents,
    * and a LIVE-read archive should be compacted into a versioned
    * destination instead. Correspondingly, a MANIFESTED archive that
    * fails its audit is REFUSED up front: re-running compaction over
    * crash residue would count the old and renamed-in copies as one
    * source, certify the doubled rows, and launder the anomaly into
    * a clean manifest — the audit findings must be repaired (delete
    * the flagged extras) before compaction will touch the directory. Only columnar formats (parquet/orc) are
    * compactable — they re-write losslessly from their own typed
    * schema; row formats' framing is format-private (the
    * [[recountable]] contract). A directory already at or below its
    * target file count is left byte-untouched. If the archive
    * carries a manifest, it is re-written and re-audited after the
    * swap — a compaction that fails its own audit throws rather than
    * reporting success.
    */
  def compactArchive(dest: String, format: Format = base.format,
      targetBytes: Long = 128L * 1024 * 1024): CompactionReport = {
    require(targetBytes > 0, s"graft: targetBytes must be positive, got $targetBytes")
    val fmt = format match {
      case Format.Parquet => "parquet"
      case Format.Orc => "orc"
      case other => throw new ArchiveException("format",
        new IllegalArgumentException(
          s"compaction requires a columnar format (parquet/orc), got $other"))
    }
    def read(paths: Seq[Path]): DataFrame =
      spark.read.format(fmt).load(paths.map(_.toString): _*)
    val root = new Path(dest)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // refuse crash residue (see scaladoc): compacting a directory that
    // fails its own audit would certify doubled rows as clean
    val manifested = auditGate(dest, "compact").isDefined
    // leaf dirs with visible data files
    val leaves = dataFiles(fs, root).map(_._2).groupBy(_.getPath.getParent).toSeq
      .sortBy(_._1.toString)
    var before = 0
    var after = 0
    var parts = 0
    var bytes = 0L
    var rows = 0L
    stage("upload") {
      for ((dir, files) <- leaves) {
        val dirBytes = files.map(_.getLen).sum
        val nOut = math.max(1L, (dirBytes + targetBytes - 1) / targetBytes).toInt
        before += files.size
        bytes += dirBytes
        if (nOut >= files.size) after += files.size // already compact
        else {
          val srcPaths = files.map(_.getPath)
          val srcRows = read(srcPaths).count()
          val staging = new Path(dir, Engine.CompactPrefix + java.util.UUID.randomUUID())
          cleaningStagingOnFailure(staging) {
            read(srcPaths).coalesce(nOut)
              .write.format(fmt).save(staging.toString)
            val staged = dataFiles(fs, staging).map(_._2.getPath)
            val stagedRows = read(staged).count()
            if (stagedRows != srcRows)
              throw new IllegalStateException(
                s"compaction row drift in $dir: source $srcRows, staged $stagedRows")
            // swap: new files in FIRST (crash leaves extras, never loss)
            staged.foreach { p =>
              if (!fs.rename(p, new Path(dir, p.getName)))
                throw new IllegalStateException(s"compaction rename failed: $p")
            }
            srcPaths.foreach { p =>
              if (!fs.delete(p, false))
                throw new IllegalStateException(
                  s"compacted source could not be removed: $p")
            }
            after += staged.length
            rows += srcRows
            parts += 1
          }
          fs.delete(staging, true)
        }
      }
    }
    if (manifested) writeManifestAudited(dest, format, "compaction")
    CompactionReport(parts, before, after, bytes, rows)
  }

  /** K1f: RETENTION — expire whole hive partitions of a landed
    * archive, the lifecycle step after landing (K1b/K1d), compaction
    * (K1e), and audit: continuous ingestion without expiry grows
    * without bound, and row-level deletes are the one thing an
    * immutable-object layout can't do cheaply — partition-level drops
    * are the unit of retention every warehouse actually uses (drop
    * `dt=` directories past the policy, never rewrite surviving
    * data). The keep predicate sees each partition directory's VALUE
    * string exactly as the writer encoded it into the `col=value`
    * directory name (simple values — dates, hours, ids — round-trip
    * verbatim; hive percent-escaping of special characters is NOT
    * undone here, the same contract the layout itself exposes).
    *
    * Discipline mirrors [[compactArchive]]: a manifested archive must
    * pass its audit BEFORE expiry (refusing to "retention" away crash
    * residue a repair should look at), the manifest is re-written for
    * the surviving layout afterwards — with the format the OLD
    * manifest recorded, never caller-supplied — and the new manifest
    * must itself audit clean. Expired bytes are counted before
    * deletion so the report states what was reclaimed. A crash
    * between partition deletes and the re-manifest is fail-safe: the
    * audit surfaces the already-deleted shards as findings rather
    * than anything silently passing. No partition directories for
    * `partCol` at all is an error, not a no-op — a typo'd column
    * must not "succeed" as zero expiry (the SPARK_GRAFT_ONLY rule).
    */
  def expireArchive(dest: String, partCol: String,
      keep: String => Boolean): RetentionReport = {
    val root = new Path(dest)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldFormat: Option[Format] = auditGate(dest, "expire").map { m =>
      // a manifested archive whose format we cannot recount
      // (json/yaml/custom) could not have its manifest re-written
      // after the deletes — silently leaving a stale manifest that
      // still lists the expired shards. Refuse up front, the
      // compactArchive philosophy: never certify what can't be
      // re-audited.
      recountable.keys.find(_.extension == m.format).getOrElse(
        throw new ArchiveException("format", new IllegalArgumentException(
          s"cannot expire a manifested '${m.format}' archive — the " +
            "manifest could not be re-written for the surviving layout; " +
            "remove or re-manifest it in a recountable format first")))
    }
    val prefix = partCol + "="
    // listing inside stage(): a missing/unreadable dest must surface
    // as the stage-prefixed ArchiveException every Engine entry point
    // promises, not a raw FileNotFoundException
    val parts = stage("upload") {
      fs.listStatus(root).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
    }
    if (parts.isEmpty)
      throw new ArchiveException("upload", new IllegalArgumentException(
        s"no '$prefix<value>' partition directories under $dest — " +
          "wrong partition column, or an unpartitioned archive"))
    var expired = 0
    var kept = 0
    var files = 0
    var bytes = 0L
    stage("upload") {
      for (st <- parts) {
        val value = st.getPath.getName.stripPrefix(prefix)
        if (keep(value)) kept += 1
        else {
          val gone = filesUnder(fs, st.getPath).map(_._2.getLen)
          if (!fs.delete(st.getPath, true))
            throw new ArchiveException("upload", new IllegalStateException(
              s"expired partition could not be removed: ${st.getPath}"))
          expired += 1
          files += gone.size
          bytes += gone.sum
        }
      }
    }
    val remaining: Option[Long] =
      oldFormat.map(writeManifestAudited(dest, _, "retention").rows)
    RetentionReport(expired, kept, files, bytes, remaining)
  }

  /** REPAIR a manifested archive that fails its audit with EXTRA
    * files only — the one finding class a machine may safely fix:
    * `unexpected file` is exactly what a crash mid-[[compactArchive]]
    * swap leaves (new files renamed in, old sources not yet deleted —
    * the crash-safe direction, extras never loss), and deleting the
    * un-manifested extras restores the audited state byte-for-byte.
    * Every OTHER finding class is REFUSED: a missing or resized shard
    * means data the manifest promised is gone or changed — deleting
    * or re-manifesting over that would LAUNDER loss into a clean
    * audit, so those need a human (or a re-land), never a repair
    * call. Returns the repaired paths; re-audits after, and throws if
    * the archive still fails (repair must not report success it
    * didn't achieve).
    */
  def repairArchive(dest: String): Seq[String] = {
    val root = new Path(dest)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val findings = verifyManifest(dest)
    if (findings.isEmpty) return Seq.empty
    val extras = findings.filter(_.startsWith("unexpected file: "))
      .map(_.stripPrefix("unexpected file: "))
    // extras inflate the recount, so a 'row drift' finding rides along
    // with them — it is recomputed by the post-repair audit below,
    // which throws if the drift was NOT the extras' doing. Everything
    // else (missing/resized/manifest missing) is refused outright.
    val nonRepairable = findings.filterNot(f =>
      f.startsWith("unexpected file: ") ||
        (extras.nonEmpty && f.startsWith("row drift:")))
    if (nonRepairable.nonEmpty || extras.isEmpty)
      throw new ArchiveException("upload", new IllegalStateException(
        "refusing to repair: findings other than extra files need a human " +
          s"(deleting/re-manifesting would launder them): ${findings.mkString("; ")}"))
    stage("upload") {
      extras.foreach { rel =>
        val p = new Path(root, rel)
        if (!fs.delete(p, false))
          throw new ArchiveException("upload", new IllegalStateException(
            s"extra file could not be removed: $p"))
      }
    }
    val post = verifyManifest(dest)
    if (post.nonEmpty)
      throw new ArchiveException("upload", new IllegalStateException(
        s"repair did not restore a clean audit: ${post.mkString("; ")}"))
    extras.map(e => s"removed extra: $e")
  }

  /** Reap crash-leaked staging residue under `root` — the periodic
    * policy [[landObject]]'s scaladoc promises: a hard driver
    * kill (no cleanup path runs) leaks a uniquely-named
    * `<dest>.staging-<uuid>` dir (any archive, single-object or
    * sharded, with the previous archive inside once its commit began) or
    * `.compact-<uuid>` dir ([[compactArchive]]), the same residual
    * class as Spark's own `_temporary` attempt dirs. Sweep rules:
    *   - only paths matching those two graft-owned staging name
    *     shapes are ever deleted — `_temporary` and every other
    *     hidden or data path is untouched (a foreign writer's
    *     staging is not ours to reap);
    *   - a staging path younger than `graceMs` is SPARED: age is the
    *     newest modification time anywhere inside it (a live archive
    *     is actively creating part files, so its newest touch is
    *     always recent — mtime is the only signal a concurrent
    *     writer leaves on a filesystem);
    *   - a reaped `<key>.staging-<uuid>` that holds `_previous` while
    *     the key is absent holds the only copy of the previous archive
    *     (a kill between the commit's move aside and its rename):
    *     `_previous` is first renamed back onto the key;
    *   - findings are returned like [[verifyManifest]] (restored/
    *     reaped/spared per path, surfaced to the caller, never just
    *     logged).
    */
  def vacuumStaging(root: String,
      graceMs: Long = Engine.DefaultVacuumGraceMs): Seq[String] = {
    require(graceMs >= 0, s"graft: graceMs must be non-negative, got $graceMs")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val now = System.currentTimeMillis()
    def isStaging(name: String): Boolean =
      name.contains(Engine.StagingInfix) || name.startsWith(Engine.CompactPrefix)
    def newestTouch(st: FileStatus): Long =
      if (!st.isDirectory) st.getModificationTime
      else (st.getModificationTime +:
        fs.listStatus(st.getPath).toSeq.map(newestTouch)).max
    def sweep(st: FileStatus): Seq[String] =
      if (isStaging(st.getPath.getName)) {
        val age = now - newestTouch(st)
        if (age < graceMs)
          Seq(s"spared (within grace): ${st.getPath} — newest touch ${age} ms ago")
        else {
          val restored = orphanedKey(fs, st.getPath).toSeq.map { key =>
            if (!fs.rename(new Path(st.getPath, Engine.Previous), key))
              throw new IllegalStateException(s"previous archive could not be restored: $key")
            s"restored: $key"
          }
          if (!fs.delete(st.getPath, true))
            throw new ArchiveException("upload", new IllegalStateException(
              s"staging residue could not be removed: ${st.getPath}"))
          restored :+ s"reaped: ${st.getPath}"
        }
      } else if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(sweep)
      else Seq.empty
    stage("upload") { fs.listStatus(rootPath).toSeq.flatMap(sweep) }
  }

  /** The `dt=YYYY-MM-DD`-style common case of [[expireArchive]]:
    * drop partitions whose value sorts strictly below the cutoff.
    * Lexicographic compare is exactly right for the zero-padded
    * date/hour encodings partition layouts use — which is WHY they
    * zero-pad.
    */
  def expireArchiveBefore(dest: String, partCol: String,
      cutoff: String): RetentionReport =
    expireArchive(dest, partCol, _ >= cutoff)

  /** The formats Spark re-reads structurally, each with its row count
    * of an archive: the only formats whose manifest records rows and
    * whose audit recounts them. A custom row format's framing is
    * format-private, so its manifest records rows = -1.
    */
  private val recountable: Map[Format, String => Long] = Map(
    Format.Parquet -> ((dest: String) => spark.read.parquet(dest).count()),
    Format.Orc -> ((dest: String) => spark.read.orc(dest).count()),
    // multiLine: quoted embedded newlines (which the sharded CSV
    // writer emits) must count as ONE row, not one per physical line;
    // the audit pays the non-splittable read for an exact count
    Format.Csv -> ((dest: String) =>
      spark.read.option("header", "true").option("multiLine", "true").csv(dest).count()))
}

/** Handle on a cancellable in-flight archive (A2). `cancel()` is the
  * `context.CancelFunc`; `await()` is the blocking `Archive...` call
  * returning the destination key or throwing the stage-prefixed
  * error (first error wins, exactly like chiv's errgroup join,
  * chiv.go:142).
  */
final class ArchiveJob private[engine] (
    spark: SparkSession, val group: String,
    val result: scala.concurrent.Future[String]) {

  /** Cancel every Spark job this archive submitted — running stages
    * are interrupted AND jobs the archive has not yet submitted (the
    * upload leg after the staged write) fail fast, so a cancel
    * between stages cannot half-commit. Idempotent; a no-op after
    * completion.
    */
  def cancel(reason: String = "archive cancelled"): Unit =
    spark.sparkContext.cancelJobGroupAndFutureJobs(group, reason)

  def isCompleted: Boolean = result.isCompleted

  /** Block for the destination key, or throw the ArchiveException. */
  def await(timeout: scala.concurrent.duration.Duration =
      scala.concurrent.duration.Duration.Inf): String =
    scala.concurrent.Await.result(result, timeout)
}

object Engine {
  val ManifestName = "_MANIFEST.json"

  /** The two staging name shapes [[Engine.vacuumStaging]] reaps:
    * `<dest>.staging-<uuid>` next to an archive's key, and
    * `.compact-<uuid>` inside a directory [[Engine.compactArchive]]
    * rewrites.
    */
  private val StagingInfix = ".staging-"
  private val CompactPrefix = ".compact-"

  /** Where [[Engine.commit]] moves the previous archive aside, inside
    * the staging path.
    */
  private val Previous = "_previous"

  /** Reads and writes `_MANIFEST.json`. */
  private val Json = new com.fasterxml.jackson.databind.ObjectMapper

  /** The filesystem `_MANIFEST.json` is read and written through: under
    * a checksummed one (Hadoop's local filesystem), its raw filesystem,
    * so the manifest gets no `.crc` sidecar and one rewritten by a tool
    * outside Hadoop still reads. `setVerifyChecksum`/`setWriteChecksum`
    * would change the cached `FileSystem` every caller shares.
    */
  private def unchecked(fs: FileSystem): FileSystem = fs match {
    case checked: ChecksumFileSystem => checked.getRawFileSystem
    case other => other
  }

  /** [[Engine.vacuumStaging]]'s default grace window: comfortably
    * longer than any plausible in-flight archive, short enough that a
    * daily sweep clears yesterday's crashes.
    */
  val DefaultVacuumGraceMs: Long = 24L * 60 * 60 * 1000

  /** Z-order (Morton) key: bit-interleave of the low 16 bits of two
    * long-castable columns — a(i) lands at bit 2i+1, b(i) at bit 2i.
    * Built as a 32-term OR chain of shift/mask Column ops: pure
    * codegen'd projection, evaluated once per row at WRITE time only.
    *
    * This is the PRIMITIVE: inputs must already fit 16 bits and be
    * non-negative — [[Engine.archiveClustered]] feeds it range-
    * normalized (v−min)·65535/span codes, so any key domain maps onto
    * the full 16-bit grid (raw values beyond 2^16 would alias). 65k
    * positions per axis is more than the row-group count at any
    * plausible table size, which is all a CLUSTERING key needs (ties
    * within a row group cost nothing).
    */
  def zOrder(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    val al = a.cast("long")
    val bl = b.cast("long")
    (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i))
    }
  }

}

final case class ShardEntry(path: String, bytes: Long)

/** [[Engine.compactArchive]]'s outcome: leaf directories actually
  * rewritten, file counts across ALL leaf dirs (compacted or not),
  * total data bytes seen, and rows verified through the compacted
  * directories' before/after recount.
  */
final case class CompactionReport(partitionsCompacted: Int,
    filesBefore: Int, filesAfter: Int, bytes: Long, rows: Long)

/** [[Engine.expireArchive]]'s outcome: partitions dropped/surviving,
  * data files and bytes reclaimed, and — for a manifested archive —
  * the surviving row count the re-written manifest records (None when
  * the archive carries no manifest to recount against).
  */
final case class RetentionReport(partitionsExpired: Int,
    partitionsKept: Int, filesExpired: Int, bytesExpired: Long,
    rowsRemaining: Option[Long])

final case class ArchiveManifest(format: String, files: Seq[ShardEntry], rows: Long)

/** The task side of a row-formatted archive. Spark's closure cleaner
  * reads the class file that defines each closure it ships, so these
  * closures live in this small object rather than in [[Engine]]
  * (OPTIMIZATION_r09.md §11).
  */
private object StagedPart {

  /** Formats the task's partition of binary rows into
    * `<staging>/part-<partition>`, joined by `fmt`'s separator or, with
    * `lines`, one line per row ([[RowFormatter.writer]]), and returns
    * whether the part has any row. A part without rows is dropped,
    * except partition 0's.
    */
  def writer(staging: String, conf: Broadcast[SerializableWritable[Configuration]],
      fmt: RowFormatter, schema: StructType, nullValue: Option[String],
      encoder: ExpressionEncoder[Row], lines: Boolean): Iterator[InternalRow] => Boolean =
    it => {
      val sep = if (lines) "" else fmt.separator
      val task = org.apache.spark.TaskContext.get()
      val idx = task.partitionId()
      // Task-commit protocol: write to an attempt-unique file, then
      // commit with a rename. Without it, speculative or zombie
      // attempts of the same partition interleave bytes in one
      // open staging file — silent corruption the driver cannot
      // see. A lost rename race means an identical-bytes attempt
      // already committed (partitions format deterministically),
      // so the loser just discards its file.
      val attempt = new Path(f"$staging/part-$idx%05d.attempt-${task.taskAttemptId()}")
      val committed = new Path(f"$staging/part-$idx%05d")
      val fs = attempt.getFileSystem(conf.value.value)
      var any = false
      // non-recursive: staging is made by the driver, so a task
      // that runs after a failed archive removed it fails here
      // instead of recreating it
      val out = new RowOut(fs.createFile(attempt).overwrite(true).build(), encoder)
      try {
        // row production + formatting are chiv's download leg —
        // tag their failures at the source so the driver rethrows
        // the right stage; `out` tags its writes to the staging
        // file as upload errors (destination-filesystem I/O)
        try {
          val write = RowFormatter.writer(fmt, schema, nullValue, lines)
          while (it.hasNext) {
            if (any) out.text.append(sep)
            write(out, it.next())
            any = true
          }
        } catch {
          case e: ArchiveException => throw e
          case e: Exception => throw new ArchiveException("download", e)
        }
      } finally out.close()
      // a killed task must not commit: after a job abort the driver
      // deletes staging, and a straggler's late rename would
      // recreate it (narrows the race; full protection against
      // zombies is a committer-level guarantee Spark itself also
      // only approximates)
      if ((!any && idx != 0) || task.isInterrupted()) fs.delete(attempt, false)
      else if (!fs.rename(attempt, committed)) fs.delete(attempt, false)
      any
    }
}
