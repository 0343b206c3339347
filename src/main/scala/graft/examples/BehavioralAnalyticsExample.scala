package graft.examples

import graft.queries.{Graph, Journey}
import graft.streaming.Sessions
import org.apache.spark.sql.functions._

/** End-to-end behavioral analytics over the events stream — the
  * round-4 continuation operators composed the way a product-analytics
  * job would run them nightly:
  *
  *   1. sessionize the raw stream (gaps-and-islands), then demonstrate
  *      the INCREMENTAL fold of the latest day into the "materialized"
  *      table (touched users only)
  *   2. funnel conversion + first-order transition matrix
  *   3. SCD2 customer-status history from the orders change log
  *   4. supplier/part centrality (integer fixed-point PageRank)
  *   5. per-day summary parquet out, partitioned for pruned reads
  *
  * Every stage is shuffle-bounded on user/dimension keys; the only
  * iterative driver involvement is PageRank's fixed 3 rounds.
  * Usage: runMain graft.examples.BehavioralAnalyticsExample <sfDir> <outDir>
  */
object BehavioralAnalyticsExample {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-behavior"
    val spark = graft.GraftSession.getOrCreate(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
    spark.sparkContext.setLogLevel("WARN")

    // 1. sessions: full build (persisted — counted here AND written in
    // step 5; without the persist the dominant stage runs twice), then
    // the incremental fold (same result, touched-users-only work); the
    // session's stop releases it
    val sessions = graft.MaterializedCaches.persistOnce(Sessions.sessionize(spark, sfDir))
    val nSessions = sessions.count()
    val incremental = Sessions.sessionizeIncremental(spark, sfDir)
    require(incremental.count() == nSessions,
      "incremental fold must match the full recompute")

    // 2. funnel + transitions
    val funnelRow = Journey.funnel(spark, sfDir).head()
    val transitions = Journey.transitionMatrix(spark, sfDir)

    // 3. SCD2 history
    val scd2 = Journey.scd2Build(spark, sfDir)

    // 4. centrality
    val topNodes = Graph.pagerank(spark, sfDir)

    // 5. write the day's artifacts, partitioned where downstream prunes
    sessions.write.mode("overwrite").parquet(s"$outDir/sessions")
    transitions.write.mode("overwrite").parquet(s"$outDir/transitions")
    scd2.write.mode("overwrite").parquet(s"$outDir/scd2")
    topNodes.write.mode("overwrite").parquet(s"$outDir/centrality")
    // Sessions.events owns the schema-adaptive exact epoch derivation
    // (Tables.epochUs branches on the footer's physical ts type) —
    // going through it rather than Tables.events + a local projection
    // keeps this block correct across testdata timestamp-encoding drifts
    Sessions.events(spark, sfDir)
      .withColumn("day", to_date(timestamp_micros(col("ts_us"))))
      .drop("ts_ms", "ts_us")
      .write.mode("overwrite").partitionBy("day")
      .parquet(s"$outDir/events_by_day")

    println(s"sessions=$nSessions funnel=" +
      s"${funnelRow.getLong(0)}/${funnelRow.getLong(1)}/" +
      s"${funnelRow.getLong(2)}/${funnelRow.getLong(3)} -> $outDir")
    spark.stop()
  }
}
