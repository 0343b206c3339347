package graft.queries

import graft.sources.Tables
import graft.streaming.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared plumbing of the three [[Pipeline]] modules: the documents
  * reader and the DuckDB token-split fragment every oracle builds on.
  * Mixed in FIRST so its vals initialize before any module's oracle
  * map interpolates them.
  */
private[queries] trait PipelineBase {

  private[queries] def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  // DuckDB fragments shared by several oracles (single-sourced in Shared)
  private[queries] val ToksNE = Shared.ToksNE
}

/** Tier C — LLM-data-pipeline operators over the `documents`,
  * `embeddings`, and `events` tables: dedup (exact + 3 near-dup
  * families), similarity search, text analysis, multimodal metadata,
  * sessionization (SURVEY.md §2 tier C).
  *
  * Oracle discipline: SQL-expressible ops carry a DuckDB oracle whose
  * floating-point reductions use the *same sequential left fold* as the
  * Spark side (list_reduce <-> aggregate), making doubles bit-identical.
  * LSH-based ops (minhash/simhash/embedding near-dup) are not SQL-
  * expressible and take the driver's rows-only check; their correctness
  * is pinned by ScalaTest specs instead.
  */
object Pipeline extends PipelineDedup with PipelineAnn with PipelineMedia {

  /** Builds every cached shared input (session table, IVF centroids,
    * pair lists) — Bench calls this untimed: these are materialized
    * artifacts consumers read, and their build cost is measured by the
    * producing queries themselves (sessionize, dedup_near, ngram_jaccard).
    */
  def warmMaterializedInputs(s: SparkSession, d: String): Unit = {
    Sessions.sessionTable(s, d).count()
    centroids(s, d).count()
    shingleHashTable(s, d).count()
    minhashPairTable(s, d).count()
    ngramJaccardPairs(s, d).count()
    ccLabels(s, d).count()
    kmeansModel(s, d)
    pqModel(s, d)
    pqIndexPath(s, d)
    // raw-ingest staging shards: the producing dump job's artifact —
    // the ingest queries measure the contracted READ path
    graft.sources.RawIngest.stageJsonl(s, d)
    graft.sources.RawIngest.stageCsv(s, d)
    ()
  }

  /** The full tier-C query surface — the three modules' maps, disjoint
    * by construction (composition checked in PipelineModulesSpec).
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    dedupQueries ++ annQueries ++ mediaQueries

  /** DuckDB oracles for every SQL-expressible query above. */
  val oracleSql: Map[String, String] =
    dedupOracles ++ annOracles ++ mediaOracles
}
