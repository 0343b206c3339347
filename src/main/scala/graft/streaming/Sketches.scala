package graft.streaming

import graft.operators.{Dedup, HeavyHitters}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming face of the heavy-hitters sketch — the deployment shape of
  * `heavy_hitters`: a k-counter Misra-Gries summary MAINTAINED across
  * ingest batches (MG summaries merge associatively — Agarwal et al.
  * 2012, the property [[HeavyHitters.merge]] implements — so per-batch
  * summaries fold into one whose candidate set still contains every key
  * above the N/(k+1) global threshold, N = ALL tokens ingested so far).
  * The maintained state is ≤ k rows at ANY stream length, so unlike the
  * drift monitor's vocabulary-sized count table there is nothing to
  * bucket: the whole-state overwrite per batch IS O(k). On demand,
  * [[heavyHittersFrom]] runs the exact verify pass over the ingested
  * corpus against the maintained candidates — the same closure that
  * makes the batch query oracle-able, so the streamed answer equals
  * batch `heavy_hitters` exactly (StreamingSpec pins it across a
  * restart).
  */
object Sketches {

  private def stateSchema = new org.apache.spark.sql.types.StructType()
    .add("cand", "string").add("c", "long").add("last_batch", "long")

  // not Tables.parquet: every batch rewrites stateDir in place
  private def readState(spark: SparkSession, stateDir: String): DataFrame =
    try spark.read.parquet(stateDir).select(col("cand"), col("c"), col("last_batch"))
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema)
    }

  /** One batch's merge into the maintained summary — split out so the
    * idempotence contract is testable. Replay guard: the state rows
    * carry the last applied batch id; a replayed batch (foreachBatch is
    * at-least-once) is a no-op. Returns true when the state was
    * rewritten.
    */
  private[graft] def applySummaryBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, stateDir: String, k: Int): Boolean = {
    import spark.implicits._
    val prevRows = readState(spark, stateDir).collect() // bounded: <= k rows
    if (prevRows.nonEmpty && prevRows.head.getLong(2) >= batchId) return false
    val prev = prevRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val delta = HeavyHitters.summarize(
      batch.select(explode(Dedup.tokensNE(col("text"))).as("t")).as[String], k)
    val merged = HeavyHitters.merge(prev, delta, k)
    merged.toSeq.map { case (x, c) => (x, c, batchId) }
      .toDF("cand", "c", "last_batch")
      .coalesce(1).write.mode("overwrite").parquet(stateDir)
    true
  }

  /** Maintain the k-counter summary of the document stream's tokens
    * under `stateDir`. Restart-safe: AvailableNow replays only
    * unprocessed files, and the last_batch guard makes a crash-replay
    * of a committed batch a no-op.
    */
  def streamingHeavyHitterSummary(spark: SparkSession, sfDir: String,
      streamDir: String, stateDir: String, ckpt: String,
      k: Int): StreamingQuery = {
    val schema = Tables.documents(spark, sfDir).schema
    spark.readStream.schema(schema).parquet(streamDir)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applySummaryBatch(spark, batch, batchId, stateDir, k)
        ()
      }
      .start()
  }

  /** The exact heavy-hitter report of `docs` against the MAINTAINED
    * candidate summary — [[HeavyHitters.verified]]'s closure, so the
    * result equals the batch two-pass query exactly whenever the
    * summary covers the same ingested corpus.
    */
  def heavyHittersFrom(spark: SparkSession, docs: DataFrame,
      stateDir: String, k: Int): DataFrame = {
    import spark.implicits._
    HeavyHitters.verified(
      docs.select(explode(Dedup.tokensNE(col("text"))).as("t")).as[String],
      readState(spark, stateDir).select(col("cand")), k)
  }
}
