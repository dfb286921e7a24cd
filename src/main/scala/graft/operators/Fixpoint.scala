package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}

/** The driver-side loop discipline, written once. Every iterative
  * operator (the g family, q46, d06/d16, x14/x28) cuts its lineage
  * here, because Catalyst analyses every copy of an untruncated loop
  * plan and that cost grows per round (OPTIMIZATION_r09.md §1).
  *
  * Truncation is EAGER: a lazy checkpoint hands an unpersisted RDD to
  * the concurrent AQE stages of a round that reads its state twice,
  * and both recompute it (§1). Each eager truncation is one scheduled
  * job, so fixed-round loops truncate on a measured cadence (§8).
  *
  * Mode: `spark.graft.checkpointDir` (or a checkpoint dir already set
  * on the context) switches every loop to reliable `checkpoint()`,
  * whose files survive executor loss; otherwise blocks stay
  * executor-local. Reliable files are reclaimed only when the cluster
  * sets `spark.cleaner.referenceTracking.cleanCheckpoints=true`;
  * without it, point the key at a TTL'd path.
  */
object Fixpoint {

  /** One eager truncation of `ds`. The mode comes from the caller's
    * session `s`, not `ds.sparkSession`: a `childSession` loop session
    * does not inherit runtime-set SQL conf. A set key must hold a
    * Hadoop path, whether or not the context already has a dir.
    */
  def truncate[T](s: SparkSession, ds: Dataset[T]): Dataset[T] = {
    val sc = s.sparkContext
    s.conf.getOption("spark.graft.checkpointDir").foreach { dir =>
      try new org.apache.hadoop.fs.Path(dir)
      catch { case e: IllegalArgumentException => throw new IllegalArgumentException(
        s"graft: spark.graft.checkpointDir must be a path, got '$dir': ${e.getMessage}", e) }
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
    }
    if (sc.getCheckpointDir.isDefined) ds.checkpoint() else ds.localCheckpoint()
  }

  /** The r9 cadence (§8): the final round, and every 3rd round while
    * at least two rounds remain, so plan depth between truncations
    * stays ≤ 4 for any budget.
    */
  private def truncatesAt(round: Int, rounds: Int): Boolean =
    round == rounds || (round % 3 == 0 && rounds - round >= 2)

  /** A fixed-round loop: `rounds` applications of `step` to the
    * truncated `init`, truncated on the [[truncatesAt]] cadence; the
    * result always ends truncated.
    */
  def iterate[T](s: SparkSession, init: Dataset[T], rounds: Int)(
      step: Dataset[T] => Dataset[T]): Dataset[T] =
    (1 to rounds).foldLeft(truncate(s, init)) { (state, round) =>
      val next = step(state)
      if (truncatesAt(round, rounds)) truncate(s, next) else next
    }

  /** A convergence loop: applies `step` to the truncated `init` and
    * truncates every round, since `done` counts the state and the
    * truncation is what materializes it. `done` runs exactly once per
    * round, on the truncated state; the first state it accepts is the
    * result. Raises an `IllegalStateException` naming `what` when
    * `maxRounds` rounds pass without convergence.
    */
  def until[T](s: SparkSession, init: Dataset[T], maxRounds: Int, what: String)(
      step: Dataset[T] => Dataset[T])(done: Dataset[T] => Boolean): Dataset[T] = {
    @scala.annotation.tailrec
    def loop(state: Dataset[T], round: Int): Dataset[T] =
      if (round >= maxRounds)
        throw new IllegalStateException(
          s"graft: $what did not converge in $maxRounds rounds")
      else {
        val next = truncate(s, step(state))
        if (done(next)) next else loop(next, round + 1)
      }
    loop(truncate(s, init), 0)
  }
}
