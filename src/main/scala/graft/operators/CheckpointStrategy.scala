package graft.operators

import org.apache.spark.sql.DataFrame

/** How an iterative operator cuts its lineage between rounds.
  *
  * Iterative plans (connected components, power iteration) double in
  * size every round unless the chain is cut, so each round must
  * materialize. [[CheckpointStrategy.rounds]] is the one bounded round
  * loop that owns those cuts and their releases (the graph loops and
  * BPE training run on it; the star CC loop fuses its lazy cut with its
  * per-round count and keeps its own fixpoint loop). The question left
  * to the strategy is where the blocks live:
  *
  *  - [[CheckpointStrategy.Local]]: `localCheckpoint()` — blocks stay in
  *    executor storage, NON-replicated. Fastest, right default for
  *    local[*] and short loops, but on a real cluster an executor loss
  *    mid-loop loses blocks that have no lineage to recompute from, and
  *    the job dies.
  *  - [[CheckpointStrategy.Reliable]]: `checkpoint()` into a
  *    fault-tolerant directory (HDFS/S3) — each round's state survives
  *    executor loss; the cluster-grade choice for long iterative jobs at
  *    100 TB, at the cost of a write+read of the round's state.
  */
sealed trait CheckpointStrategy {
  def cut(df: DataFrame): DataFrame

  /** Lineage cut whose materialization is DEFERRED to the caller's next
    * action on the returned frame. An eager [[cut]] runs one job to
    * persist the round's state and the loop's convergence check runs a
    * second over the persisted blocks; when the caller's very next step
    * IS an action on the cut frame (the per-round `count` of the star
    * CC loop), the lazy form folds both into one job — one fewer
    * job-scheduling round trip per iteration, which on a
    * many-tiny-round loop is the dominant cost. Callers that do NOT
    * immediately act on the frame must keep using [[cut]]: an
    * unmaterialized lazy cut does not break lineage until something
    * computes it. [[release]] works unchanged on both forms. */
  def cutLazy(df: DataFrame): DataFrame = cut(df)

  /** Free a frame produced by [[cut]] once the loop will never read it
    * again. A localCheckpoint's blocks otherwise live for the WHOLE
    * session: across a many-query session (bench, soak, a long-lived
    * query server) every loop round's orphaned blocks accumulate in
    * executor storage and starve later queries' storage+execution
    * memory — measured as CC-loop queries running 6-8× slower deep
    * into a 182-query soak than in isolation. Calling release on a
    * frame that might still be read is a correctness bug (checkpointed
    * blocks have no lineage to recompute from). */
  def release(df: DataFrame): Unit

  /** The round loop of every bounded iterative operator: `n` rounds of
    * `step` from `init`, with one lineage cut per round. The loop cuts
    * `init`, then each round's new state, and frees the state a round
    * replaced only once the new one is cut, so at most two rounds' state
    * is ever held. It also frees every intermediate the round cut
    * through [[CheckpointStrategy.Round.cutLazy]], after the round's
    * state is cut. A round that returns its own state unchanged (`eq`)
    * is a fixpoint and ends the loop early.
    *
    * The returned state stays cut: the caller reads it, and releases it
    * when it no longer needs it. Loop-invariant inputs a caller cuts
    * before the loop (an edge list) are the caller's to release after
    * it. */
  def rounds(init: DataFrame, n: Int)(step: CheckpointStrategy.Round => DataFrame): DataFrame = {
    @annotation.tailrec
    def loop(state: DataFrame, i: Int): DataFrame =
      if (i > n) state
      else {
        val round = new CheckpointStrategy.Round(state, i, this)
        val next = step(round)
        if (next eq state) { round.cuts.foreach(release); state }
        else {
          val cutNext = cut(next)
          release(state)
          round.cuts.foreach(release)
          loop(cutNext, i + 1)
        }
      }
    loop(cut(init), 1)
  }
}

object CheckpointStrategy {

  /** One round of [[CheckpointStrategy.rounds]]: the state it reads, its
    * 1-based index, and lazy cuts of its own intermediates. */
  final class Round private[CheckpointStrategy] (val state: DataFrame, val index: Int,
      ckpt: CheckpointStrategy) {
    private[CheckpointStrategy] val cuts =
      scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** [[CheckpointStrategy.cutLazy]] of an intermediate the round's new
      * state reads: the loop's eager cut of that state materializes it
      * in the same job, and the loop frees it right after. */
    def cutLazy(df: DataFrame): DataFrame = {
      val c = ckpt.cutLazy(df)
      cuts += c
      c
    }
  }

  case object Local extends CheckpointStrategy {
    override def cut(df: DataFrame): DataFrame = df.localCheckpoint()
    override def cutLazy(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)
    // Dataset.unpersist only uncaches CacheManager-registered plans;
    // localCheckpoint persists the underlying RDD directly, so freeing
    // the blocks means unpersisting THAT RDD. A cut frame's analyzed
    // plan is a LogicalRDD leaf wrapping it — walk the plan (covers
    // frames derived from a cut, too) and unpersist every checkpointed
    // RDD found. Blocking, so the loop's next round allocates against
    // genuinely-freed storage rather than racing async removal.
    override def release(df: DataFrame): Unit = {
      df.queryExecution.analyzed.foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking = true): Unit
        case _ => ()
      }
      df.unpersist(): Unit
    }
  }

  final case class Reliable(dir: String) extends CheckpointStrategy {
    override def cut(df: DataFrame): DataFrame = {
      val sc = df.sparkSession.sparkContext
      // idempotent: only (re)set when it differs, so two operators
      // sharing a dir don't churn the session-global setting
      if (!sc.getCheckpointDir.contains(dir)) sc.setCheckpointDir(dir)
      df.checkpoint()
    }
    override def cutLazy(df: DataFrame): DataFrame = {
      val sc = df.sparkSession.sparkContext
      if (!sc.getCheckpointDir.contains(dir)) sc.setCheckpointDir(dir)
      df.checkpoint(eager = false)
    }
    // reliable checkpoints live as files in `dir`, not executor memory;
    // retention is the caller's (or the dir's lifecycle's) concern
    override def release(df: DataFrame): Unit = ()
  }
}
