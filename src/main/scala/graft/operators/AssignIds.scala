package graft.operators

import graft.MaterializedCaches.persistOnce
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.LongType

/** Scalable global row numbering — contiguous 1-based ids in a total
  * order WITHOUT the single-partition trap.
  *
  * The naive formulation (`row_number().over(Window.orderBy(...))` with no
  * PARTITION BY) funnels the entire dataset through ONE task — the
  * canonical 100 TB anti-pattern (Spark itself warns on it). This operator
  * keeps the computation distributed: `repartitionByRange` + in-partition
  * sort lays the data out globally range-ordered across N partitions, then
  * the classic two-job zipWithIndex pattern (count rows per partition,
  * prefix-sum the counts into per-partition offsets, add the local index)
  * assigns exactly the ids the global window would — each partition
  * numbers its own rows independently after one tiny O(N) driver-side
  * prefix sum. An RDD seam is the honest tool here (reference analogue:
  * the per-partition sequential walk of `mapreduce.c:169-188`): the id
  * depends on physical row position, which no Catalyst expression exposes.
  *
  * Ids are deterministic as long as `order` is a total order (make it
  * one): range boundaries only move rows between partitions, never change
  * the global sequence.
  */
object AssignIds {

  /** The distributed layout stage: globally range-ordered, sorted within
    * each partition — N-way parallel, never a single-partition sort.
    * Exposed so plan guards can assert the shape (the zipWithIndex seam
    * below hides it behind a Scan ExistingRDD in the final plan).
    */
  private[graft] def layout(df: DataFrame, order: Seq[Column]): DataFrame =
    df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)

  /** `df` with an extra `idCol` column holding 1-based contiguous ids in
    * `order`. One range exchange + per-partition sort; no global sort on
    * a single task anywhere.
    *
    * The laid-out frame is persisted INSIDE the operator (r18):
    * zipWithIndex runs an extra count job and then the main pass, so an
    * unpersisted input paid the range exchange + in-partition sort (and
    * the whole upstream plan) TWICE — every consumer did, layout_prune
    * three times over. The cache also narrows the old caveat ("a
    * non-deterministic upstream could disagree between the two jobs and
    * yield duplicate/skipped ids"): normally both jobs read one
    * materialization, but `persist` is best-effort — blocks lost with an
    * executor are recomputed, and a non-deterministic upstream can then
    * still diverge between the jobs, so a deterministic `df` remains the
    * caller's obligation. The temporary is released by the enclosing
    * [[graft.MaterializedCaches.scoped]], the PrefixSum precedent.
    */
  def byOrder(df: DataFrame, order: Seq[Column], idCol: String): DataFrame = {
    val spark = df.sparkSession
    val sorted = persistOnce(layout(df, order)) // MEMORY_AND_DISK, the default
    val schema = sorted.schema.add(idCol, LongType, nullable = false)
    val withId = sorted.rdd.zipWithIndex().map { case (row, i) =>
      Row.fromSeq(row.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(withId, schema)
  }
}
