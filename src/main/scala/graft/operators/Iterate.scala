package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.struct
import org.apache.spark.sql.graft.Bridge

/** The round loop shared by the checkpointed iterative operators (bfs,
  * k-core, HITS, PageRank, both connected-components variants) — the
  * one routine that owns the run loop, the barrier and the teardown,
  * like the reference's `MR_Run`.
  *
  * Each round's frame is materialized by ONE eager `localCheckpoint`,
  * and the caller's `metrics` ride that same job as observed metrics
  * (CollectMetrics is a row no-op), so a stop test never costs a job of
  * its own. The checkpoint is what keeps lineage O(1): a frame that
  * feeds the next round twice (join + carry) would otherwise double the
  * plan per round. Only checkpoints made here are released, each once
  * `keep` newer rounds exist — the init frame stays the caller's. On a
  * cluster with an unreliable driver disk, reliable `checkpoint()` to a
  * shared FS is the drop-in equivalent.
  */
object Iterate {

  /** A materialized round: its frame and the row of `metrics` observed
    * while checkpointing it (empty when no metrics were asked for). The
    * init round's `metric` is the caller's seed for the first stop test.
    */
  final case class Round(frame: DataFrame, metric: Row) {
    /** The first metric, for the count/max stop tests. */
    def long: Long = metric.getLong(0)
  }

  /** `kept`: the last `keep` rounds, oldest first, whose checkpoints are
    * still live; `rounds`: rounds run; `converged`: `stop` fired.
    */
  final case class Result(kept: Seq[Round], rounds: Int, converged: Boolean) {
    def frame: DataFrame = kept.last.frame
  }

  /** Runs `step(previous round, round number from 1)` until `stop(previous,
    * current)` holds or `maxRounds` rounds have run. `stop` sees both
    * rounds while their checkpoints are still live.
    */
  def apply(init: Round, maxRounds: Int, metrics: Seq[Column] = Nil,
      stop: (Round, Round) => Boolean = (_, _) => false, keep: Int = 1)(
      step: (Round, Int) => DataFrame): Result = {
    require(maxRounds >= 1 && keep >= 1)
    @tailrec def loop(prev: Round, live: List[Round], r: Int): Result = {
      val cur = checkpoint(step(prev, r), metrics)
      val done = stop(prev, cur)
      val (kept, superseded) = (cur :: live).splitAt(keep)
      superseded.foreach(d => Bridge.unpersistLocalCheckpoint(d.frame))
      if (done || r == maxRounds) Result(kept.reverse, r, done)
      else loop(cur, kept, r + 1)
    }
    loop(init, Nil, 1)
  }

  private def checkpoint(df: DataFrame, metrics: Seq[Column]): Round =
    if (metrics.isEmpty) Round(df.localCheckpoint(), Row.empty)
    else {
      val obs = Observation()
      val ck = df.observe(obs, struct(metrics: _*).as("m")).localCheckpoint()
      Round(ck, obs.get("m").asInstanceOf[Row])
    }
}
