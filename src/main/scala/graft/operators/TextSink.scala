package graft.operators

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's partitioned text sink (A10, `distwc.c:31-34`): one
  * `result-<p>.txt` per non-empty partition, lines `"key: value"`, keys in
  * ascending byte order within each file, partition = djb2(key) % P
  * (`mapreduce.c:113`).
  *
  * One shuffle total: [[MRJob.djb2Sorted]] (the byte-exact
  * [[graft.functions.Djb2Partitioner]], keys in strcmp order) makes
  * physical partition == reference partition id, then each executor
  * streams its own partition straight to its file — no driver collect, so
  * the pattern scales to a real cluster writing to a shared filesystem.
  * Empty partitions produce no file, like the reference (the reducer only
  * opens `result-<p>.txt` when it has a key to write).
  */
object TextSink {

  /** Write `df` (must have `key` and `value` columns) as the reference's
    * result files under `dir`. Returns the written file paths in
    * partition order.
    */
  def write(spark: SparkSession, df: DataFrame, dir: String, numPartitions: Int): Seq[String] = {
    Files.createDirectories(Paths.get(dir))
    import spark.implicits._
    val kv = df.selectExpr("CAST(key AS STRING)", "CAST(value AS STRING)")
      .as[(String, String)].rdd
    MRJob.djb2Sorted(kv, numPartitions).foreachPartition { rows =>
      if (rows.hasNext) {
        val pid = TaskContext.getPartitionId()
        // stream row-by-row: a skewed multi-GB partition must not be
        // buffered in one in-memory StringBuilder before writing
        val w = Files.newBufferedWriter(Paths.get(dir, s"result-$pid.txt"),
          StandardCharsets.UTF_8,
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        try rows.foreach { case (k, v) =>
          w.write(k); w.write(": "); w.write(v); w.write("\n")
        } finally w.close()
      }
    }
    (0 until numPartitions).map(p => new File(dir, s"result-$p.txt").getPath)
      .filter(p => new File(p).exists())
  }
}
