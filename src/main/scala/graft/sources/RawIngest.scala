package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Raw-ingest first mile: schema-contracted JSONL and CSV document
  * readers — the crawl-dump shape every real LLM pipeline starts from
  * (the reference's only source is raw local text, `distwc.c:9`; this
  * is that source generalized to structured raw records).
  *
  * Contract (the [[Tables.epochUs]] drift-hardening posture applied to
  * raw text):
  *
  *  - **The schema is DECLARED, never inferred.** Schema inference is a
  *    full extra pass over the data (fatal at 100 TB) and silently
  *    re-types columns when a batch's values drift; the contracted
  *    reader pins the physical type per column and fails loudly.
  *  - **Two modes per format, both first-class:** [[jsonl]]/[[csv]]
  *    are FAILFAST (a corrupt line kills the ingest — the gate for
  *    curated re-ingest), [[jsonlWithRejects]]/[[csvWithRejects]] keep
  *    corrupt lines in a `_corrupt` column (PERMISSIVE) so the ingest
  *    job can ship a reject census instead of dying on one bad shard —
  *    the production crawl posture where some corruption is certain.
  *  - **Splittable at scale:** uncompressed JSONL/CSV are line-split by
  *    Spark into `maxPartitionBytes` tasks — parallelism rides the byte
  *    count, not the file count (unlike the Avro container source).
  *
  * Staging ([[stageJsonl]]/[[stageCsv]]) writes the documents table as
  * raw shards so the round-trip is oracle-gated end to end: Spark
  * stages, the contracted reader reads back, and DuckDB's
  * `read_json_auto`/`read_csv` read the SAME raw bytes — row/hash
  * parity from raw text into the `documents` shape. Verify points the
  * staging root at `<outDir>/.raw` (`graft.raw.dir` system property)
  * so the oracle can address the files as `{OUT}/.raw/...` — the
  * dot-dir is load-bearing: it keeps staging invisible to the driver's
  * glob over `{OUT}` results; outside Verify the root is a
  * JVM-lifetime temp dir.
  */
object RawIngest {

  /** The documents-table ingest contract. Nullable columns: a missing
    * JSON field must read as NULL (and be caught by downstream
    * completeness checks), not fabricate a default.
    */
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def rawRoot: Option[String] = sys.props.get("graft.raw.dir")

  private lazy val tempRoot: String = graft.TempArtifacts.create("graft-raw")

  /** Staging dir for a format: under Verify's `graft.raw.dir` the path
    * is exactly `<root>/<fmt>` (one sfDir per Verify run, and the
    * oracle addresses it as a fixed `{OUT}/.raw/<fmt>` glob); outside
    * Verify it is keyed by the sfDir's name so multi-sf test JVMs
    * don't overwrite each other's staging.
    */
  private def stageDir(fmt: String, sfDir: String): String = rawRoot match {
    case Some(r) => s"$r/$fmt"
    case None =>
      val key = new java.io.File(sfDir).getName
      s"$tempRoot/$fmt-$key"
  }

  private val staged = new graft.SessionCache[String]("rawIngest.staged")

  /** Write format `fmt`'s staging once per (session, sfDir) via `write`
    * and return its dir.
    */
  private def stage(s: SparkSession, sfDir: String, fmt: String)(write: String => Unit): String =
    staged.getOrElseUpdate((s, s"$fmt:$sfDir"), {
      val dir = stageDir(fmt, sfDir)
      write(dir)
      dir
    })

  /** Stage the documents table as raw JSONL shards (idempotent per
    * session+sfDir). The write cost belongs to the producing dump job
    * — the ingest queries measure the READ path after the first pass.
    */
  def stageJsonl(s: SparkSession, sfDir: String): String =
    stage(s, sfDir, "jsonl")(Tables.documents(s, sfDir).write.mode("overwrite").json(_))

  /** Stage the documents table as GZIP-compressed JSONL shards
    * (`part-*.json.gz`) — the shape crawl dumps actually arrive in.
    *
    * Splittability: gzip is a stream cipher of the whole shard — a
    * byte range cannot be decompressed without everything before it —
    * so Spark runs ONE TASK PER SHARD regardless of
    * `maxPartitionBytes`. At 100 TB the parallelism therefore rides
    * the producer's shard size: size shards to ~100–500 MB compressed
    * (the CommonCrawl WET posture), or recompress once into a
    * splittable layout (parquet/zstd) if the corpus is re-read often.
    * zstd for TEXT writes is environment-blocked here (libhadoop built
    * without zstd — probed round 17); gzip's `GzipCodec` is pure-JVM
    * `java.util.zip` and always available.
    */
  def stageJsonlGz(s: SparkSession, sfDir: String): String =
    stage(s, sfDir, "jsonl_gz")(Tables.documents(s, sfDir).write.mode("overwrite")
      .option("compression", "gzip").json(_))

  /** Recompress the gzip JSONL staging into zstd PARQUET — the
    * documented scale recommendation made runnable: one pass through
    * the contracted reader, out the columnar splittable layout
    * (parquet zstd rides zstd-jni — available here, unlike the Hadoop
    * TEXT-codec seam). After this pass, re-reads are byte-range
    * parallel AND column-pruned; the gzip one-task-per-shard constraint
    * is paid exactly once.
    */
  def stageRecompressed(s: SparkSession, sfDir: String): String =
    stage(s, sfDir, "recompressed")(jsonl(s, stageJsonlGz(s, sfDir)).write.mode("overwrite")
      .option("compression", "zstd").parquet(_))

  /** Stage the documents table as raw headerless CSV shards. */
  def stageCsv(s: SparkSession, sfDir: String): String =
    stage(s, sfDir, "csv")(Tables.documents(s, sfDir).write.mode("overwrite")
      .option("header", "false").option("quote", "\"").option("escape", "\"").csv(_))

  /** FAILFAST JSONL read under a declared schema — a corrupt line or a
    * type-incompatible field kills the job loudly (the AvroSource
    * codec-seam contract).
    */
  def jsonl(s: SparkSession, path: String,
      schema: StructType = DocSchema): DataFrame =
    s.read.schema(schema).option("mode", "FAILFAST").json(path)

  /** PERMISSIVE JSONL read: parseable rows carry NULL `_corrupt`;
    * corrupt lines carry the raw line there with every contract column
    * NULL — feed [[rejectCensus]] or filter on it.
    */
  def jsonlWithRejects(s: SparkSession, path: String,
      schema: StructType = DocSchema): DataFrame =
    s.read.schema(schema.add(StructField("_corrupt", StringType)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)

  /** FAILFAST headerless CSV read under a declared schema (RFC-4180
    * quoting: embedded delimiters/newlines/quotes ride `"` quoting with
    * `""` escapes — the staging writer and DuckDB's `read_csv` agree).
    *
    * `multiLine=true` is the RFC-correct default (quoted newlines span
    * lines) but costs intra-file splitting — each file parses as one
    * task. A 100 TB layout whose records are known newline-free sets
    * `multiLine=false` to get byte-range splitting back; the fixture
    * staging is newline-free either way.
    */
  def csv(s: SparkSession, path: String,
      schema: StructType = DocSchema, multiLine: Boolean = true): DataFrame =
    s.read.schema(schema).option("mode", "FAILFAST")
      .option("header", "false").option("quote", "\"").option("escape", "\"")
      .option("multiLine", multiLine.toString)
      .csv(path)

  /** PERMISSIVE CSV read with the `_corrupt` reject column. */
  def csvWithRejects(s: SparkSession, path: String,
      schema: StructType = DocSchema, multiLine: Boolean = true): DataFrame =
    s.read.schema(schema.add(StructField("_corrupt", StringType)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("header", "false").option("quote", "\"").option("escape", "\"")
      .option("multiLine", multiLine.toString)
      .csv(path)

  /** One-row ingest health card over a `_corrupt`-carrying frame:
    * accepted/rejected counts plus rows carrying a doc_id — the
    * numbers a production ingest alerts on. One aggregate, no shuffle
    * beyond it. (`n_with_id` also keeps a contract column in the
    * required schema: Spark refuses scans whose referenced columns are
    * ONLY the internal corrupt-record column.)
    */
  def rejectCensus(df: DataFrame): DataFrame =
    df.agg(
      sum(when(col("_corrupt").isNull, 1L).otherwise(0L)).as("n_accepted"),
      sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L)).as("n_rejected"),
      count(col("doc_id")).as("n_with_id"))
}
