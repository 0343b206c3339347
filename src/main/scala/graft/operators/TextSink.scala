package graft.operators

import java.io.{BufferedOutputStream, File}
import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.functions.Djb2
import org.apache.spark.{SparkException, TaskContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}

/** The reference's partitioned text sink (A10, `distwc.c:31-34`): one
  * `result-<p>.txt` per non-empty partition, lines `"key: value"`, keys in
  * ascending byte order within each file, partition = djb2(key) % P
  * (`mapreduce.c:113`).
  *
  * One shuffle total, planned by Catalyst: `repartitionById` routes each
  * row to partition `djb2(key) % P` (the codegen'd [[Djb2.djb2Pid]]), so
  * physical partition == reference partition id, and
  * `sortWithinPartitions(key)` orders each partition in UTF8_BINARY
  * order, which is C `strcmp` order on the UTF-8 bytes. Each executor
  * then streams its partition's `UTF8String` bytes straight to its file
  * — no JVM strings, no driver collect, so the pattern scales to a real
  * cluster writing to a shared filesystem. Empty partitions produce no
  * file, like the reference (the reducer only opens `result-<p>.txt`
  * when it has a key to write).
  */
object TextSink {

  private val Separator = ": ".getBytes("UTF-8")

  /** The writer's own null check; only this is unwrapped from the failed
    * job, so an exception of the user's upstream code keeps its context.
    */
  private final class NullColumn(msg: String) extends IllegalArgumentException(msg)

  /** Write `df` (must have `key` and `value` columns) as the reference's
    * result files under `dir`. Returns the written file paths in
    * partition order. A null key or value fails the write with an
    * `IllegalArgumentException` naming the column.
    */
  def write(spark: SparkSession, df: DataFrame, dir: String, numPartitions: Int): Seq[String] = {
    Files.createDirectories(Paths.get(dir))
    val kv = df.selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")
    val sorted = kv
      // a null key has no djb2 partition; partition 0 takes it and its
      // writer rejects it below
      .repartitionById(numPartitions,
        coalesce(Djb2.djb2Pid(col("key"), numPartitions).cast("int"), lit(0)))
      .sortWithinPartitions("key")
    try sorted.queryExecution.toRdd.foreachPartition { rows =>
      if (rows.hasNext) {
        val pid = TaskContext.getPartitionId()
        // stream row-by-row: a skewed multi-GB partition must not be
        // buffered in memory before writing
        val out = new BufferedOutputStream(Files.newOutputStream(
          Paths.get(dir, s"result-$pid.txt"),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING), 1 << 16)
        try rows.foreach { r =>
          if (r.isNullAt(0)) throw new NullColumn(
            s"TextSink: null in column `key` (partition $pid)")
          if (r.isNullAt(1)) throw new NullColumn(
            s"TextSink: null in column `value` for key '${r.getUTF8String(0)}'")
          r.getUTF8String(0).writeTo(out); out.write(Separator)
          r.getUTF8String(1).writeTo(out); out.write('\n')
        } finally out.close()
      }
    } catch {
      case e: SparkException if e.getCause.isInstanceOf[NullColumn] =>
        throw e.getCause
    }
    (0 until numPartitions).map(p => new File(dir, s"result-$p.txt").getPath)
      .filter(p => new File(p).exists())
  }
}
