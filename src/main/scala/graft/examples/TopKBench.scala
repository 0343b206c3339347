package graft.examples

import graft.plans.TopKPerGroup
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Micro-benchmark: custom heap-based TopKPerGroup vs the built-in
  * window+filter formulation, on lineitem at the given sf.
  * Usage: runMain graft.examples.TopKBench [sfDir]
  */
object TopKBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    // a plain session, not GraftSession: its RewriteWindowTopK rule would
    // plan the "window" arm below as TopKPerGroup too, and the bench
    // would compare the operator with itself
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val li = Tables.lineitem(spark, sfDir)
    li.count() // warm file index

    def time(name: String)(f: => Long): Unit = {
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        val n = f
        println(f"[topk-bench] $name%-12s run$i ${(System.nanoTime() - t0) / 1e9}%7.3f s (rows=$n)")
      }
    }
    // group by suppkey (many groups) — k=5 of ~600 rows per group at sf0.1
    time("custom-heap") {
      TopKPerGroup(li, Seq("l_suppkey"),
        Seq(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc), 5).count()
    }
    time("window") {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      li.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5).count()
    }
    spark.stop()
  }
}
