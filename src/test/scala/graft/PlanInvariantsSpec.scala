package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.functions.{count, lit}

/** Repo-wide physical-plan invariants over EVERY declared query — the
  * scale-discipline gate: a future query (or a Spark planner change)
  * that introduces an unbounded cartesian stage should fail CI, not
  * surface as a 100 TB incident. Plans are built at sf0.001; building a
  * plan is cheap and runs no data jobs for almost all queries (the
  * known exceptions run small driver jobs: AssignIds' zipWithIndex,
  * triangle_count's broadcast gate count).
  */
class PlanInvariantsSpec extends SparkSuite {

  /** Queries whose plan legitimately contains a nested-loop stage, each
    * with the reason it is bounded by DECLARATION (constant-size side —
    * a one-row scalar, a <=32-row bucket table, or the documented
    * bounded oracle-twin id slice). Additions require the same written
    * justification.
    */
  private val boundedNestedLoop: Map[String, String] = Map(
    "ngram_jaccard" -> "doc_id<500 bounded twin, theta self-join by declaration",
    "ngram_containment" -> "doc_id<500 bounded twin",
    "neardup_knn" -> "bounded twin scaffold (doc_id<500)",
    "simhash_hamming" -> "bounded exact pair twin",
    "embedding_cosine_pairs" -> "bounded exact pair twin",
    "dedup_clusters" -> "bounded ngram pair input (doc_id<500)",
    "dedup_clusters_star" -> "bounded ngram pair input (doc_id<500)",
    "dedup_kept" -> "bounded ngram pair input (doc_id<500)",
    "source_dedup_matrix" -> "bounded ngram pair input (doc_id<500)",
    "scalar_subquery" -> "one-row scalar threshold join",
    "pareto_front" -> "<=32-row bucket-prefix broadcast theta-join",
    "equidepth_histogram" -> "<=16-row bucket boundary broadcast join",
    "decile_lift" -> "<=10-row decile prefix broadcast theta-join",
    "quality_model_calibration" ->
      "one-row N scalar broadcast for decile assignment (the decile_lift rank posture)",
    "cumulative_users" -> "bounded day-count prefix broadcast theta-join",
    "trend_7d" -> "bounded day-count value-range broadcast theta-join",
    "overlap_join" -> "range-bucketed interval join; residual theta on bucket",
    "range_join" -> "range-bucketed join; residual theta on bucket",
    "asof_nearest" -> "bucketed as-of; residual theta on bucket",
    "weighted_sample" -> "one-row scalar threshold",
    "token_budget_sample" -> "one-row running-budget scalar",
    "embedding_topk" -> "one-row query-vector broadcast",
    "ann_filtered_topk" -> "one-row query-vector broadcast (pre-filtered candidates)",
    "ann_filtered_topk_ivf" ->
      "one-row query-vector + <=nprobe-row centroid broadcasts (filtered probe)",
    "ann_filtered_recall" ->
      "composes the two filtered top-k probes; same one-row scalar crosses",
    "split_leakage" -> "one-row pair-total scalar broadcast onto the <=6-cell table",
    "embedding_topk_ivf" -> "<=nprobe-row centroid set broadcast",
    "embedding_neardup" -> "hyperplane-LSH bucket join; scalar hyperplanes",
    "typo_pairs" -> "one-row scalar (vocab-size) broadcast",
    "contamination_check" -> "one-row scalar corpus-size broadcast",
    "decontaminate_train" -> "one-row scalar corpus-size broadcast (mirrored roles)",
    "semdedup_threshold_curve" ->
      "7-rung threshold broadcast theta-join onto the 1-col max-sim frame + 1-row total scalar",
    "fold_strategy_compare" ->
      "bounded ngram pair artifact (doc_id<500) input + 1-row aggregate stack card",
    "assoc_rules" -> "one-row basket-total scalar broadcast",
    "benford_test" -> "one-row row-count scalar broadcast",
    "hll_intersect" -> "one-row exact-count x one-row sketch-estimate join",
    "lsh_recall" ->
      "bounded ngram pair input (doc_id<500) + one-row x one-row count join",
    "lsh_precision" ->
      "bounded ngram pair input (doc_id<500) + one-row x one-row count join",
    "bigram_pmi" -> "one-row corpus-total scalar broadcast",
    "bm25" -> "one-row corpus-stats scalar broadcast",
    "cross_join_dims" -> "THE declared cross-join operator; both sides dimension tables",
    "doc_surprisal" -> "one-row corpus-total scalar broadcast",
    "dq_checks" -> "one-row check aggregate x one-row orphan count crosses",
    "funnel" -> "one-row per-stage count scalar crosses",
    "hll_merge" -> "one-row exact x one-row merged-estimate cross",
    "psi_drift" -> "one-row period-total scalar broadcast",
    "quantile_transform" -> "one-row N scalar broadcast",
    "skew_join" -> "bounded literal salt-range side by declaration",
    "lang_id_ngram" ->
      "bounded language-dimension fan-out (distinct langs, ~5 rows) broadcast side",
    "tf_idf" -> "one-row corpus-size scalar broadcast",
    "token_allocation" -> "one-row budget scalar broadcast",
    "triangle_count" -> "three one-row census aggregates crossed",
    "vocab_idf" -> "one-row corpus-size scalar broadcast",
    "weekday_index" -> "one-row overall-average scalar broadcast",
    "anomaly_days" -> "one-row median/MAD scalar broadcasts",
    "q22_no_recent_orders" -> "one-row average-balance scalar broadcast",
    "feature_chi2" -> "one-row corpus-count scalar broadcast",
    "ivf_recall" -> "composes embedding_topk/_ivf's one-row query-vector broadcasts",
    "q11_important_stock" -> "one-row global-total scalar broadcast",
    "embedding_topk_ivf_tuned" ->
      "one-row query-vector broadcast (the embedding_topk_ivf shape at nprobe=8)",
    "ivf_recall_tuned" ->
      "composes embedding_topk/_ivf_tuned's one-row query-vector broadcasts",
    "ivf_recall_curve" ->
      "one-row query-vector + bounded ncells-row cell-rank/ncells broadcasts",
    "token_kl_drift" -> "one-row corpus-totals scalar broadcast",
    "heavy_hitters" -> "one-row corpus-total scalar broadcast",
    "hard_negatives" -> "8-row anchor-batch broadcast (contrastive mining fan-out)",
    "bq_topk" -> "one-row query-code broadcast",
    "bq_recall" -> "composes embedding_topk/bq_topk's one-row query broadcasts",
    "bq_rerank_topk" ->
      "one-row query code/vector + 100-id shortlist broadcasts",
    "bq_rerank_recall" ->
      "composes embedding_topk/bq_rerank_topk's bounded broadcasts",
    "sq8_recall" -> "composes embedding_topk's one-row query-vector broadcast",
    "ann_pareto" -> "union of the recall contracts' bounded one-row crosses",
    "rfm_segments" ->
      "one-row max-day + one-row customer-count scalar broadcasts (x3 ranks)",
    "embedding_anisotropy" ->
      "one-row mean-vector-norm scalar broadcast onto the one-row norm census",
    "vocab_coverage" ->
      "bounded 10-row power-of-2 ladder + one-row total scalar broadcast",
    "knn_label_consistency" ->
      "bounded audit-batch broadcast (<=100 anchors via the vec_id cap)",
    "theil_sen" ->
      "calendar-bounded daily-table theta self-join + one-row count scalar",
    "ks_test" -> "one-row population-count scalar broadcast",
    "winsorize" -> "one-row count + one-row clip-threshold scalar broadcasts",
    "cusum_changepoint" -> "one-row global-mean scalar broadcast",
    "heaps_law" ->
      "bounded checkpoint literal (~log2(n_docs) rows) + one-row fit scalar",
    "mutual_info" -> "one-row corpus-total scalar broadcast",
    "rich_club" -> "bounded 10-row degree-cutoff ladder broadcast",
    "ts_motif" ->
      "calendar-bounded daily-table window build + window-pair theta joins",
    "fano_factor" -> "one-row hour-span scalar broadcast",
    "hhi_sources" -> "one-row corpus-total scalar broadcast",
    "sax_symbols" -> "one-row origin + one-row moment scalar broadcasts",
    "crosscorr_events" -> "bounded 8-row lag-ladder broadcast",
    "log_odds_tokens" -> "one-row cohort-marginal scalar broadcast",
    "calendar_gaps" ->
      "calendar-bounded day table + two one-row scalar broadcasts",
    "intrinsic_dim" ->
      "bounded 500-anchor sample broadcast (knn-audit batch posture)",
    "dataset_card" -> "two one-row census scalar broadcasts",
    "effective_sources" -> "one-row corpus-total scalar broadcast",
    "dsir_weights" -> "one-row model-totals scalar broadcast onto the 64-bucket model",
    "rp_recall" -> "composes embedding_topk's one-row query-vector broadcast",
    "bootstrap_ci" -> "one-row replicate-array x one-row point-estimate cross",
    "retrieval_ndcg" ->
      "composes bm25's one-row corpus-stats broadcast + one-row DCG x IDCG cross",
    "decayed_revenue" -> "one-row max-day anchor scalar broadcast",
    "ams_f2" -> "one-row sketch-state x one-row exact-F2 cross",
    "lang_id_agreement" ->
      "one-row marginal-product scalar broadcast onto the one-row agreement",
    "mutual_knn" -> "bounded exact pair twin (vec_id<1000 both sides)",
    "perplexity_filter" -> "one-row doc-count scalar broadcast onto the rank",
    "perplexity_by_source" ->
      "reads the cached per-doc scores (one-row count cross inside the build)",
    "quality_model_roc" ->
      "bounded <=257-row threshold-grid broadcast + one-row P/N scalar cross",
    "duplicate_span_ladder" ->
      "three one-row rung-count x coverage x total scalar crosses",
    "mixture_weights" ->
      "bounded 3-row temperature-rung broadcast + one-row per-rung total broadcast",
    "domain_census" -> "one-row corpus-total scalar broadcast",
    "hits_scores" ->
      "one-row round-max normalization scalar cross per half-round (plan-stable form)",
  )

  /** Every declared query, built once at sf0.001 for the every-query
    * checks below (or the exception its build threw).
    */
  private lazy val built: Seq[(String, Either[Exception, DataFrame])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try Right(fn(spark, sf0001)) catch { case e: Exception => Left(e) })
    }

  test("no declared query plans an unbounded cartesian stage") {
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    built.foreach { case (name, df) =>
      val plan =
        try df.fold(e => throw e, _.queryExecution.executedPlan.toString)
        catch { case e: Exception => s"PLAN-BUILD-FAILED: $e" }
      val nested = plan.contains("CartesianProduct") ||
        plan.contains("BroadcastNestedLoopJoin")
      if (plan.startsWith("PLAN-BUILD-FAILED"))
        offenders += s"$name: ${plan.take(200)}"
      else if (nested && !boundedNestedLoop.contains(name))
        offenders += s"$name: nested-loop stage without declared bound"
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("every query that loses joins under count() is consumed fully by the bench") {
    // the quality_model_score lesson (r15): Catalyst eliminates an outer
    // join on a unique key whose right side no column references, so a
    // bare count() would time less than any real consumer pays — such a
    // query must be in Bench.materializeFully (consumed via toRdd)
    def joins(p: LogicalPlan): Int = p.collect { case j: Join => j }.size
    val underCounted = built.collect { case (name, Right(df))
        if joins(df.agg(count(lit(1))).queryExecution.optimizedPlan) <
          joins(df.queryExecution.optimizedPlan) => name }
    val missing = underCounted.filterNot(Bench.materializeFully)
    assert(missing.isEmpty,
      s"joins vanish under count() but not in Bench.materializeFully: $missing")
  }

  test("every allowlisted bounded nested-loop query still exists") {
    val declared = SparkEntry.queries.keySet
    val stale = boundedNestedLoop.keys.filterNot(declared.contains)
    assert(stale.isEmpty, s"allowlist entries for undeclared queries: $stale")
  }

  test("dup_rate_by_source does not force-broadcast the dropped-doc side") {
    // the dropped near-duplicate set is duplicate-fraction-sized (30-50%
    // of a real crawl), so a broadcast HINT on it is a 100 TB driver OOM;
    // the join must stay unhinted (AQE may still broadcast at runtime
    // when the measured size fits — that is fine and not what this
    // guards). A hint would survive into the optimized logical plan as
    // `strategy=broadcast`.
    val plan = SparkEntry.queries("dup_rate_by_source")(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("strategy=broadcast"),
      s"dropped-set join carries a broadcast hint:\n${plan.take(800)}")
  }
}
