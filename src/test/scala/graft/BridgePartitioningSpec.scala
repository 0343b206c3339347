package graft

import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Pins [[Bridge.localCheckpointHashPartitioned]] (r18): the declared
  * layout must (1) change nothing about the data, (2) actually remove
  * the downstream exchange a keyed aggregate would otherwise insert,
  * and (3) group correctly — a wrong declaration would silently
  * mis-aggregate, which is the failure mode the contract guards: an
  * input not laid out by exactly the declared repartition is rejected
  * before any job runs.
  */
class BridgePartitioningSpec extends SparkSuite {

  private def df = {
    import spark.implicits._
    (1L to 1000L).map(i => (i % 37, i)).toDF("k", "v")
  }

  test("declared-partitioning checkpoint preserves rows exactly") {
    val plain = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val ck = Bridge.localCheckpointHashPartitioned(
      df.repartition(4, col("k")), 4, "k")
    val got = ck.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq == plain.toSeq)
    Bridge.unpersistLocalCheckpoint(ck)
  }

  test("keyed aggregate over the declared layout runs exchange-free and exact") {
    val ck = Bridge.localCheckpointHashPartitioned(
      df.repartition(4, col("k")), 4, "k")
    val agg = ck.groupBy(col("k")).agg(sum(col("v")).as("s"))
    // no shuffle between the checkpointed scan and the aggregate: the
    // executed plan must contain NO shuffle exchange at all (the scan
    // satisfies the aggregate's clustering; with an undeclared layout
    // EnsureRequirements inserts hashpartitioning(k))
    agg.queryExecution.toRdd.count() // force AQE finalization
    val finalPlan = agg.queryExecution.executedPlan.toString
    assert(!finalPlan.contains("Exchange hashpartitioning"),
      s"expected no shuffle exchange above the declared layout:\n$finalPlan")
    // and the grouped sums are exactly the brute-force ones — a wrongly
    // declared layout would split groups across partitions and emit
    // duplicate keys with partial sums
    val got = agg.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = (1L to 1000L).groupBy(_ % 37).map { case (k, vs) => k -> vs.sum }
    assert(got.size == want.size && got == want)
    Bridge.unpersistLocalCheckpoint(ck)
  }

  test("a subset-keyed aggregate (group on layout key + another) also skips the exchange") {
    val ck = Bridge.localCheckpointHashPartitioned(
      df.withColumn("k2", col("v") % 5).repartition(4, col("k")), 4, "k")
    val agg = ck.groupBy(col("k"), col("k2")).agg(count(lit(1)).as("n"))
    agg.queryExecution.toRdd.count()
    val finalPlan = agg.queryExecution.executedPlan.toString
    assert(!finalPlan.contains("Exchange hashpartitioning"),
      s"hash(k) clusters (k, k2) — no exchange expected:\n$finalPlan")
    val got = agg.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val want = (1L to 1000L).groupBy(i => (i % 37, i % 5))
      .map { case (k, vs) => k -> vs.size.toLong }
    assert(got == want)
    Bridge.unpersistLocalCheckpoint(ck)
  }

  private def rejectedWithoutJobs(input: DataFrame, n: Int, cols: String*): Unit = {
    val (ex, jobs) = JobCounter(spark) {
      intercept[IllegalArgumentException](Bridge.localCheckpointHashPartitioned(input, n, cols: _*))
    }
    assert(ex.getMessage.contains("expected repartition"))
    assert(jobs == 0, s"the contract check ran $jobs job(s) before rejecting")
  }

  test("a layout on a different column is rejected before any job runs") {
    rejectedWithoutJobs(df.repartition(4, col("v")), 4, "k")
  }

  test("a layout with a different partition count is rejected before any job runs") {
    rejectedWithoutJobs(df.repartition(8, col("k")), 4, "k")
  }

  test("an input with no repartition on top is rejected before any job runs") {
    rejectedWithoutJobs(df.repartition(4, col("k")).filter(col("v") > 0), 4, "k")
  }
}
