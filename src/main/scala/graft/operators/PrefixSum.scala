package graft.operators

import graft.MaterializedCaches.persistOnce
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exclusive prefix sum — the generalization of
  * [[AssignIds]] from prefix-COUNT to prefix-SUM, kept entirely inside
  * the DataFrame plan (no RDD seam).
  *
  * The naive formulation (`sum(v).over(Window.orderBy(...))` with no
  * PARTITION BY) funnels the whole dataset through ONE task — the same
  * single-partition trap AssignIds exists to avoid. This operator runs
  * the classic two-level scan distributed:
  *
  *   1. range-layout the rows on `order` (`repartitionByRange`), tagging
  *      each with its physical partition id;
  *   2. aggregate one sum per partition — a ≤`shuffle.partitions`-row
  *      table — and turn it into exclusive per-partition offsets with a
  *      broadcast theta-self-join over that constant-bounded table
  *      (never a global window, which would warn and serialize);
  *   3. add the offset to a partition-LOCAL running sum
  *      (`Window.partitionBy(pid)`) — N-way parallel.
  *
  * The range-laid input feeds both the offset branch and the main
  * branch; it is persist()ed so both consumers structurally share one
  * materialization (see the inline comment — this is a correctness
  * requirement on the partition ids, not a performance nicety).
  *
  * REQUIRES `order` to be a TOTAL order over `df` for deterministic
  * output: rows tied on `order` would receive arbitrary relative
  * positions in the ROWS-frame running sum. Non-deterministic inputs
  * (sample, rand) should be persisted first, as with [[AssignIds]].
  */
object PrefixSum {

  /** `df` plus `out` = sum of `value` over all rows strictly before the
    * row in `order` (exclusive scan; first row gets 0). `value` must be
    * integral — the sums stay in BIGINT.
    */
  def exclusive(df: DataFrame, order: Seq[Column], value: Column, out: String): DataFrame = {
    val pid = "_ps_pid"
    // persist() makes single evaluation a GUARANTEE, not a hope: both the
    // offset branch and the main branch reference `laid`, and `_ps_pid`
    // (spark_partition_id over freshly sampled range bounds) must agree
    // across them. Exchange reuse usually delivers that, but a wider
    // input schema can let column pruning specialize the two subtrees
    // until they no longer canonicalize equal — then each branch
    // range-partitions with independently sampled bounds and the offsets
    // silently mis-join (the same defeat mode the tf_idf plan comment
    // documents). With the cache, both consumers read ONE InMemoryRelation
    // (one RDD, one set of partition ids) no matter how pruning rewrites
    // the reads. The temporary is released by the enclosing
    // MaterializedCaches.scoped; a caller that rebuilds the same plan
    // reads the same entry.
    val laid = persistOnce(df.repartitionByRange(order: _*)
      .withColumn(pid, spark_partition_id()))
    val sums = laid.groupBy(col(pid)).agg(sum(value).cast("long").as("_ps_sum"))
    // exclusive offsets: collapse the ≤P-row sums table (P = shuffle
    // partition count, constant-bounded like the scalar count exchange)
    // into ONE sorted array row and fold the prefix per element — `sums`
    // is referenced exactly once, so the range exchange below has two
    // consumers total and AQE's stage cache materializes it once
    // (`a` is a materialized attribute, not an expression-built array,
    // so the repeated references do not re-evaluate the child)
    val offs = sums
      .agg(sort_array(collect_list(struct(col(pid).as("p"), col("_ps_sum").as("v")))).as("a"))
      .select(explode(expr(
        """transform(a, (x, i) -> named_struct(
          |  'p', x.p,
          |  'off', aggregate(slice(a, 1, i), 0L, (acc, y) -> acc + y.v)))""".stripMargin)).as("o"))
      .select(col("o.p").as(pid), col("o.off").as("_ps_off"))
    val w = Window.partitionBy(col(pid)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    laid.join(broadcast(offs), pid)
      .withColumn(out,
        (coalesce(sum(value).over(w), lit(0L)) + col("_ps_off")).cast("long"))
      .drop(pid, "_ps_off")
  }
}
