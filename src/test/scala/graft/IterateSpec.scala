package graft

import graft.operators.{Dedup, Iterate, PageRank}
import graft.queries.Graph
import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** [[Iterate]] on toy frames — rounds, convergence, the one-job round and
  * block release — plus the job counts of the loops ported onto it.
  */
class IterateSpec extends SparkSuite {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** A one-row counter climbing to 3 and then holding: the fixpoint
    * shows at round 4 (the first round that changes nothing).
    */
  private def climb(maxRounds: Int, keep: Int = 1): Iterate.Result = {
    val init = spark.range(1).select(lit(0L).as("x"))
    Iterate(Iterate.Round(init, Row(0L)), maxRounds, metrics = Seq(max(col("x"))),
        stop = (prev, cur) => cur.long == prev.long, keep = keep) { (prev, _) =>
      prev.frame.select(least(col("x") + 1L, lit(3L)).as("x"))
    }
  }

  private def value(res: Iterate.Result): Long = res.frame.head().getLong(0)

  test("a convergent loop reports its rounds and converged = true") {
    val res = climb(maxRounds = 10)
    assert(res.rounds == 4 && res.converged && value(res) == 3L)
    assert(res.kept.map(_.long) == Seq(3L))
  }

  test("hitting maxRounds reports converged = false") {
    val res = climb(maxRounds = 2)
    assert(res.rounds == 2 && !res.converged && value(res) == 2L)
  }

  test("each round is one job: the stop metric rides the checkpoint job") {
    val (res, jobs) = JobCounter(spark)(climb(maxRounds = 10))
    assert(jobs == res.rounds, s"$jobs jobs for ${res.rounds} rounds")
  }

  test("after return only the kept rounds' checkpoints stay persisted") {
    def liveCheckpoints(r: Iterate.Result): Set[Int] = r.kept.flatMap(_.frame.queryExecution
      .analyzed.collect { case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id }).toSet
    for (keep <- Seq(1, 2)) {
      val before = persisted
      val res = climb(maxRounds = 10, keep = keep)
      val added = persisted -- before
      assert(added.size == keep && added == liveCheckpoints(res), s"keep=$keep: $added")
      res.kept.foreach(r => org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(r.frame))
    }
  }

  // Job counts of the ported loops on fixed toy inputs (local[4], four
  // shuffle partitions). kcore, PageRank and HITS run exactly the jobs of
  // their hand-rolled predecessors; both CC variants run one job fewer
  // per round, because the stop metric (change count / edge fingerprint)
  // now rides the checkpoint job instead of a separate aggregate job —
  // before: label propagation 36 / 60 jobs, star contraction 37 / 45.
  test("loop job counts per round are pinned") {
    import spark.implicits._
    def jobs(body: => DataFrame): Int = JobCounter(spark)(body)._2
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 7L))
    val edges = (und ++ und.map(p => (p._2, p._1))).toDF("src", "dst").persist()
    edges.count()
    // 3 per peel round; round 4 is the fixpoint and round 5 never runs
    assert((1 to 5).map(r => jobs(Graph.kcoreOf(edges, k = 2, rounds = r))) ==
      Seq(4, 7, 10, 13, 13))
    // 8 fused rounds per checkpoint: 17 iterations are blocks 8 + 8 + 1
    assert(Seq(8, 10, 17).map(i => jobs(PageRank.run(edges, i, validate = false))) ==
      Seq(23, 26, 34))
    edges.unpersist()
    def chain(n: Long) = (0L until n).map(i => (i, i + 1)).toDF("id1", "id2")
    assert(Seq(4L, 8L).map(n => jobs(Dedup.connectedComponents(chain(n)))) == Seq(31, 51))
    assert(Seq(4L, 8L).map(n => jobs(Dedup.connectedComponentsStar(chain(n)))) == Seq(33, 40))
    // HITS: six half-rounds, artifacts warmed first (the bench posture)
    Graph.edgeTable(spark, sf0001).count()
    Graph.degreeTable(spark, sf0001).count()
    Graph.hubSeedAndNodes(spark, sf0001)
    assert(jobs(Graph.hitsScores(spark, sf0001)) == 21)
  }
}
