package graft.queries

import graft.sources.{RawIngest, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Raw-ingest queries — the oracle-gated first mile from crawl-dump
  * bytes into the `documents` shape (VERDICT r15 gap #1). Each query
  * stages the documents table as raw JSONL/CSV shards (the producing
  * dump job's cost, idempotent per session — see
  * [[graft.sources.RawIngest]]), reads them back through the
  * schema-CONTRACTED reader, and is hash-compared against DuckDB
  * reading the SAME raw bytes (`read_json`/`read_csv` on `{OUT}`) —
  * row/hash parity from raw text to table, both engines parsing the
  * identical files. Corrupt-line behavior (FAILFAST kill, PERMISSIVE
  * reject census) is spec-gated on planted garbage in
  * RawIngestSpec.
  */
object Ingest {

  private val cols = Seq(col("doc_id"), col("text"), col("lang"),
    col("source"), col("n_chars"))

  /** JSONL round-trip: staged shards → contracted FAILFAST reader. */
  def ingestJsonl(s: SparkSession, d: String): DataFrame =
    RawIngest.jsonl(s, RawIngest.stageJsonl(s, d))
      .select(cols: _*).orderBy(col("doc_id"))

  /** GZIP-compressed JSONL round-trip — the crawl-dump arrival shape
    * (VERDICT r16 gap #1): staged `part-*.json.gz` shards → the same
    * contracted FAILFAST reader (Hadoop resolves the codec from the
    * extension; the contract is identical to the uncompressed path).
    * Scale posture: gzip is NOT splittable — one task per shard, so
    * parallelism rides the producer's shard size (see
    * [[graft.sources.RawIngest.stageJsonlGz]]); DuckDB reads the same
    * gzipped bytes natively for the oracle.
    */
  def ingestJsonlGz(s: SparkSession, d: String): DataFrame =
    RawIngest.jsonl(s, RawIngest.stageJsonlGz(s, d))
      .select(cols: _*).orderBy(col("doc_id"))

  /** The recompression rung: gzip JSONL → zstd parquet → read back —
    * the one-time pass that converts crawl-arrival shards into the
    * splittable, column-prunable layout every downstream query should
    * read (see SCALE.md round-17). The oracle reads the SAME zstd
    * parquet bytes natively.
    */
  def ingestRecompress(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, RawIngest.stageRecompressed(s, d))
      .select(cols: _*).orderBy(col("doc_id"))

  /** CSV round-trip: staged RFC-4180 shards → contracted reader. */
  def ingestCsv(s: SparkSession, d: String): DataFrame =
    RawIngest.csv(s, RawIngest.stageCsv(s, d))
      .select(cols: _*).orderBy(col("doc_id"))

  /** Ingest health card over the PERMISSIVE JSONL read — the
    * accepted/rejected counters a production ingest alerts on (zero
    * rejects on the clean staging; the reject path itself is pinned on
    * planted garbage in RawIngestSpec).
    */
  def ingestJsonlCensus(s: SparkSession, d: String): DataFrame =
    RawIngest.rejectCensus(
      RawIngest.jsonlWithRejects(s, RawIngest.stageJsonl(s, d)))

  /** CSV twin of [[ingestJsonlCensus]] — the same alerting card on the
    * other raw format (corrupt-line behavior spec-gated on planted
    * garbage in RawIngestSpec).
    */
  def ingestCsvCensus(s: SparkSession, d: String): DataFrame =
    RawIngest.rejectCensus(
      RawIngest.csvWithRejects(s, RawIngest.stageCsv(s, d)))

  /** Ingest CONTRACT-DRIFT card — the data-quality check a production
    * ingest runs right after parsing (parse success ≠ content health):
    * per source, row count, rows whose carried `n_chars` disagrees with
    * the actual text length, and rows with any NULL contract field.
    * Runs on the RAW-PARSED frame (the contracted JSONL reader), not
    * the curated parquet — that is the point: the check gates what just
    * arrived. One aggregate over the parse; at 100 TB it rides the
    * ingest scan for free.
    */
  def ingestContractCheck(s: SparkSession, d: String): DataFrame =
    RawIngest.jsonl(s, RawIngest.stageJsonl(s, d))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))
          .as("n_chars_drift"),
        sum(when(col("doc_id").isNull || col("text").isNull ||
          col("lang").isNull || col("n_chars").isNull, 1L).otherwise(0L))
          .as("n_null_fields"))
      .orderBy(col("source"))

  /** One micro-batch of the streaming ingest, idempotent under
    * redelivery: accepted rows and reject forensics each land in their
    * own `batch_id=<id>/` partition dir with OVERWRITE (the
    * streamingQualityScores exactly-once shape) — a batch retried after
    * a crash between the write and the checkpoint commit rewrites the
    * same deterministic paths. StreamingSpec pins the redelivery case.
    */
  def applyIngestBatch(batch: DataFrame, batchId: Long, outDir: String): Unit = {
    batch.filter(col("_corrupt").isNull)
      .select(cols: _*)
      .write.mode("overwrite").parquet(s"$outDir/accepted/batch_id=$batchId")
    batch.filter(col("_corrupt").isNotNull)
      .select(col("_corrupt"), col("doc_id")) // doc_id rides along: a
      // corrupt-column-only scan is disallowed (always NULL here)
      .write.mode("overwrite").parquet(s"$outDir/rejects/batch_id=$batchId")
  }

  /** STREAMING raw-JSONL ingest — the deployment shape of
    * [[ingestJsonl]] (production tails a landing directory; each
    * arriving shard parses under the frozen contract): PERMISSIVE
    * parse, accepted rows to the documents-shaped table, corrupt lines
    * preserved verbatim for forensics, both idempotent per batchId. A
    * batch costs O(batch bytes) at any corpus size — the corpus is
    * never rescanned. StreamingSpec pins stream-then-read equal to the
    * batch contracted parse across a restart, the reject forensics,
    * and redelivery idempotence.
    */
  def streamingJsonlIngest(spark: SparkSession, streamDir: String,
      outDir: String, ckpt: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.types.{StringType, StructField}
    spark.readStream
      .schema(RawIngest.DocSchema.add(StructField("_corrupt", StringType)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(streamDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyIngestBatch(batch, batchId, outDir)
      }
      .start()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ingest_jsonl" -> ingestJsonl,
    "ingest_jsonl_gz" -> ingestJsonlGz,
    "ingest_recompress" -> ingestRecompress,
    "ingest_csv" -> ingestCsv,
    "ingest_jsonl_census" -> ingestJsonlCensus,
    "ingest_csv_census" -> ingestCsvCensus,
    "ingest_contract_check" -> ingestContractCheck,
  )

  private val DocCols =
    "columns={'doc_id':'BIGINT','text':'VARCHAR','lang':'VARCHAR'," +
      "'source':'VARCHAR','n_chars':'BIGINT'}"

  def oracleSql: Map[String, String] = Map(
    "ingest_jsonl" ->
      s"""SELECT doc_id, text, lang, source, n_chars
         |FROM read_json('{OUT}/.raw/jsonl/*.json',
         |  format='newline_delimited', $DocCols)
         |ORDER BY doc_id""".stripMargin,
    "ingest_jsonl_gz" ->
      s"""SELECT doc_id, text, lang, source, n_chars
         |FROM read_json('{OUT}/.raw/jsonl_gz/*.json.gz',
         |  format='newline_delimited', compression='gzip', $DocCols)
         |ORDER BY doc_id""".stripMargin,
    "ingest_recompress" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM read_parquet('{OUT}/.raw/recompressed/*.parquet')
        |ORDER BY doc_id""".stripMargin,
    "ingest_csv" ->
      s"""SELECT doc_id, text, lang, source, n_chars
         |FROM read_csv('{OUT}/.raw/csv/*.csv', header=false, $DocCols)
         |ORDER BY doc_id""".stripMargin,
    "ingest_jsonl_census" ->
      """SELECT count(*)::BIGINT AS n_accepted, 0::BIGINT AS n_rejected,
        |  count(doc_id)::BIGINT AS n_with_id
        |FROM read_json('{OUT}/.raw/jsonl/*.json',
        |  format='newline_delimited')""".stripMargin,
    "ingest_csv_census" ->
      s"""SELECT count(*)::BIGINT AS n_accepted, 0::BIGINT AS n_rejected,
         |  count(doc_id)::BIGINT AS n_with_id
         |FROM read_csv('{OUT}/.raw/csv/*.csv', header=false, $DocCols)""".stripMargin,
    "ingest_contract_check" ->
      s"""SELECT source, count(*)::BIGINT AS n_rows,
         |  sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)::BIGINT
         |    AS n_chars_drift,
         |  sum(CASE WHEN doc_id IS NULL OR text IS NULL OR lang IS NULL
         |    OR n_chars IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_fields
         |FROM read_json('{OUT}/.raw/jsonl/*.json',
         |  format='newline_delimited', $DocCols)
         |GROUP BY source ORDER BY source""".stripMargin,
  )
}
