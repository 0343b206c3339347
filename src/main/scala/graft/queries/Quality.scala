package graft.queries

import graft.MaterializedCaches.{persistOnce, persisting}
import graft.operators.Dedup
import graft.streaming.Sessions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-quality operators in the Gopher/C4 style: per-document rule
  * batteries a pretraining pipeline uses to drop boilerplate and
  * degenerate text, plus the mergeable-sketch pattern that makes corpus
  * statistics cheap at 100 TB (per-shard sketch, byte-mergeable union —
  * never a global distinct).
  *
  * Every ratio test is integer cross-multiplied (`10*sum_len >= 30*n`,
  * never `sum_len/n >= 3.0`) so both engines compare exact BIGINTs —
  * the repo-wide oracle-parity convention.
  */
object Quality {

  private def docs(s: SparkSession, d: String): DataFrame =
    graft.sources.Tables.documents(s, d)

  /** Stopwords for the synthetic corpus's vocabulary (the reference's
    * sample corpus is 21 words of filler prose; the driver's documents
    * table uses a Spark-ish vocabulary where 'a' and 'the' play the
    * stopword role).
    */
  private[graft] val Stopwords = Seq("a", "the")

  // --- Gopher-style rule battery ---------------------------------------

  /** Per-document quality filter battery — the Gopher rules re-expressed
    * over the synthetic corpus: token-count bounds, mean-word-length
    * band, minimum stopword incidence (prose-ness), top-token dominance
    * (repetition), distinct-token ratio. Two hash aggregations
    * (doc×token, then doc), map-side combinable, no window, no sort
    * until the final presentation ORDER BY — at 100 TB this is two
    * shuffles on keys that never concentrate (doc_id is unique).
    */
  def qualityFilters(s: SparkSession, d: String): DataFrame =
    qualityFlags(s, d).orderBy(col("doc_id"))

  /** [[qualityFilters]] without the presentation sort — the per-doc flag
    * frame consumers join against ([[sourceMixReport]], and the cross-
    * family [[Safety]] curation funnel); a global sort below a join
    * would be wasted work Catalyst cannot always remove.
    */
  private[queries] def qualityFlags(s: SparkSession, d: String): DataFrame =
    flagsOfCounts(tokenCounts(docs(s, d)))

  /** The (doc_id, tok, c) per-document token-count aggregate both the
    * rule battery AND the hashed-ratio featurizer derive from — exposed
    * so [[qmTrainModel]] can compute it once (r18: training previously
    * ran the corpus token explode + first shuffle twice, once per
    * consumer).
    */
  private[graft] def tokenCounts(dd: DataFrame): DataFrame =
    dd.select(col("doc_id"), explode(Dedup.tokensNE(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))

  private def flagsOfCounts(g: DataFrame): DataFrame = {
    val p = g.groupBy(col("doc_id")).agg(
      sum(col("c")).as("n"),
      count(lit(1)).as("n_uniq"),
      max(col("c")).as("maxc"),
      sum(length(col("tok")) * col("c")).as("sum_len"),
      coalesce(sum(when(col("tok").isin(Stopwords: _*), col("c"))), lit(0L)).as("n_stop"))
    val okLen = col("n").between(5L, 100000L)
    val okWordlen = (lit(10L) * col("sum_len") >= lit(30L) * col("n")) &&
      (lit(10L) * col("sum_len") <= lit(100L) * col("n"))
    val okStop = lit(50L) * col("n_stop") >= col("n")
    val okRep = lit(5L) * col("maxc") < col("n")
    val okUniq = lit(10L) * col("n_uniq") >= col("n")
    p.select(col("doc_id"), col("n"), col("n_uniq"), col("maxc"),
      okLen.as("ok_len"), okWordlen.as("ok_wordlen"), okStop.as("ok_stop"),
      okRep.as("ok_rep"), okUniq.as("ok_uniq"),
      (okLen && okWordlen && okStop && okRep && okUniq).as("kept"))
  }

  // --- Trained quality classifier --------------------------------------

  /** Threshold-grid resolution of the trained scorer: 257 integer rungs
    * spanning the observed score range. Errors per rung come from ONE
    * broadcast sweep over the score frame (the semdedup_threshold_curve
    * posture) — never a global sort/window — so threshold training
    * stays two shuffle-bounded aggregates at any corpus size.
    */
  private[queries] val QmGrid = 256L

  /** Hashed-ratio feature rows (doc_id, bucket, x): the hashing-trick
    * space `hashed_features` already declares (tokenHash31 mod 64),
    * with term counts normalized to integer per-mille of the doc's
    * token count — the battery's rules are RATIO tests, so the
    * learnable signal is in ratios, not raw counts (a raw-count model
    * mostly learns document length; measured during design). Built
    * over the shared [[tokenCounts]] grain: per-bucket term frequency
    * recovered exactly as Σ c over the bucket's tokens (identical to
    * counting raw occurrences — marginals-from-the-cube).
    */
  private def qmFeaturesOfCounts(g: DataFrame): DataFrame = {
    val tf = g
      .select(col("doc_id"),
        (graft.functions.TextFns.tokenHash31(col("tok")) % 64).cast("int")
          .as("bucket"), col("c"))
      .groupBy(col("doc_id"), col("bucket")).agg(sum(col("c")).as("tf"))
    val n = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("n"))
    tf.join(n, "doc_id")
      .select(col("doc_id"), col("bucket"), expr("1000 * tf div n").as("x"))
  }

  // (training labels — the Gopher battery's own kept verdict as ±1, the
  // standard bootstrap for a production quality scorer — are folded
  // inline from flagsOfCounts over the shared tokenCounts build; see
  // qmTrainModel / qmScoredFrame)

  /** Train the quality scorer: a nearest-class-centroid (Rocchio)
    * direction over the hashed-ratio features plus an empirically
    * trained decision threshold — returns (w[64], theta).
    *
    * Why not a perceptron/logistic: measured during design — the
    * full-batch perceptron (the only order-invariant integer-exact
    * perceptron; per-row SGD order is not reproducible on a shuffled
    * corpus) oscillates between the all-kept and all-dropped states on
    * these imbalanced conjunction labels (88% kept) and lands on the
    * majority class (kappa 0) at every round count and feature scaling
    * tried; logistic needs exp(), which no integer lattice carries.
    * The Rocchio direction + 1-D grid ERM is deterministic,
    * order-invariant (all sums over sets), exactly integer (floor-div
    * centroids, the kmeans_centroids convention), and measured
    * kappa ≈ 0.52–0.64 on the fixtures against the battery.
    *
    * Distributed shape: ONE (y, bucket) aggregate builds both class
    * centroids (≤128 rows collected); ONE map pass scores the corpus
    * against the 64-weight broadcast; ONE bounded 257-rung broadcast
    * sweep picks theta = argmin(training errors, tie → smallest) — no
    * global sort, no window, no driver-side loop over rows. At 100 TB
    * every stage is a map or a bounded-key aggregate.
    */
  private[queries] def qmTrainModel(s: SparkSession, d: String): (Array[Long], Long) = {
    // r18: labels and features both fold the SAME (doc_id, tok, c)
    // aggregate ([[tokenCounts]], persisted) — the old shape ran the
    // corpus token explode + its shuffle twice, once per consumer
    // (guide §2.3/§2.4). The label frame stays persisted too: it feeds
    // the feature join, the class counts AND the score pass. All
    // training temporaries are released before the model returns.
    val g = tokenCounts(docs(s, d))
    val labels = flagsOfCounts(g).select(col("doc_id"),
      when(col("kept"), 1L).otherwise(-1L).as("y"))
    val fl = qmFeaturesOfCounts(g).join(labels, "doc_id")
    persisting(g, labels, fl) {
      // r18: class centroids and class counts ride ONE collect (they
      // were two driver jobs for two bounded aggregates over already-
      // persisted frames — the job floor, not the data, was the cost);
      // the count rows carry bucket = -1 as the discriminant.
      val trained = fl.groupBy(col("y"), col("bucket"))
        .agg(sum(col("x")).as("v"))
        .unionByName(labels.groupBy(col("y"))
          .agg(count(lit(1)).as("v")).select(col("y"), lit(-1).as("bucket"), col("v")))
        .collect() // bounded: ≤ 2 × 64 + 2 rows
      val cents = trained.filter(_.getInt(1) >= 0)
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      val cnts = trained.filter(_.getInt(1) < 0)
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      val (nPos, nNeg) = (cnts.getOrElse(1L, 0L), cnts.getOrElse(-1L, 0L))
      // single-class corpus → zero direction (scores all 0, theta from
      // the degenerate grid): the model abstains rather than divides
      val w = Array.tabulate(64) { b =>
        if (nPos == 0L || nNeg == 0L) 0L
        else cents.getOrElse((1L, b), 0L) / nPos - cents.getOrElse((-1L, b), 0L) / nNeg
      }
      val sc = qmScoresOf(labels, fl.drop("y"), w)
      persisting(sc) {
        // r18: the 257-rung grid is derived IN-PLAN from a broadcast
        // 1-row min/max aggregate of the persisted score frame — the
        // same theta lattice (smin − 1 + id·span div 256, span =
        // smax − smin + 2), but smin/smax never visit the driver and
        // the whole ERM sweep is ONE job instead of two.
        val grid = sc.agg(min(col("s")).as("smin"), max(col("s")).as("smax"))
          .select(explode(sequence(lit(0L), lit(QmGrid))).as("id"),
            col("smin"), col("smax"))
          .select(expr(s"smin - 1 + id * (smax - smin + 2) div $QmGrid").as("theta"))
        val best = sc.crossJoin(broadcast(grid))
          .groupBy(col("theta"))
          .agg(sum(when(col("y") === 1L && col("s") <= col("theta"), 1L)
            .when(col("y") === -1L && col("s") > col("theta"), 1L)
            .otherwise(0L)).as("err"))
          .orderBy(col("err"), col("theta")).limit(1)
          .collect()(0) // one row: the trained threshold
        (w, best.getLong(0))
      }
    }
  }

  /** Score frame (doc_id, y, s) for a weight vector: one map pass —
    * s = Σ_b x_b · w_b against the 64-weight literal; docs whose token
    * set is empty of features score the bare 0 via the left join.
    */
  private def qmScoresOf(labels: DataFrame, feats: DataFrame,
      w: Array[Long]): DataFrame = {
    val dots = feats
      .groupBy(col("doc_id"))
      .agg(sum(col("x") * element_at(typedLit(w), col("bucket") + 1)).as("dot"))
    labels.join(dots, Seq("doc_id"), "left")
      .select(col("doc_id"), col("y"), coalesce(col("dot"), lit(0L)).as("s"))
  }

  private val qmCache = new graft.SessionCache[(Array[Long], Long)]("quality.qmModel")

  private[graft] def qmModel(s: SparkSession, d: String): (Array[Long], Long) =
    qmCache.getOrElseUpdate((s, d), qmTrainModel(s, d))

  /** The trained quality model as rows — dim 0..63 are the Rocchio
    * direction over the hashed-ratio features (integer per-mille
    * lattice), dim 64 is the trained decision threshold. The PRODUCING
    * query: it deliberately re-runs training (the kmeans_centroids
    * convention — build cost is measured here, consumers read the
    * cached artifact). The DuckDB oracle re-derives the entire chain —
    * battery labels, hashed ratios, floor-div centroids, score pass,
    * 257-rung ERM — from the raw documents and must land on the
    * identical 65 integers.
    */
  def qualityModelTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (w, theta) = qmTrainModel(s, d)
    qmCache.put((s, d), (w, theta))
    (w.zipWithIndex.map { case (v, b) => (b, v) } :+ (64, theta))
      .toSeq.toDF("dim", "value").orderBy(col("dim"))
  }

  /** Model-based quality scores — the trained complement to
    * [[qualityFilters]]: per doc, the integer score under the trained
    * direction and the keep verdict `s > theta`. One map pass against
    * the broadcast 64-weight model at any corpus size (the scorer a
    * 100 TB pipeline actually ships — the battery labels only the
    * training sample; the model scores everything).
    */
  def qualityModelScore(s: SparkSession, d: String): DataFrame = {
    val (w, theta) = qmModel(s, d)
    qmScoreDocs(s, docs(s, d), w, theta).orderBy(col("doc_id"))
  }

  /** The trained scorer's ROC card (VERDICT r15 item #8): TPR/FPR in
    * exact bp at every DISTINCT threshold of the same 257-rung grid the
    * ERM sweep trained on — the model-eval read published beside
    * calibration and agreement, closing the evaluation loop (pick an
    * operating point by eye, not by re-running a sweep). Positives =
    * the battery's kept verdict; predicted-kept = score > theta (the
    * [[qmScoreDocs]] decision rule). One broadcast cross of the ≤257-row
    * grid against the scored frame + one grouped aggregate; the grid
    * bounds come from a 1-row min/max collect (the kmeans scalar
    * posture). The oracle recomputes from this run's own
    * quality_model_score and quality_filters dumps ({OUT} — scores and
    * labels are already gated there; the ROC adds only arithmetic).
    * Monotonicity (TP and FP non-increasing in theta) is spec-pinned.
    */
  def qualityModelRoc(s: SparkSession, d: String): DataFrame = {
    val (w, theta0) = qmModel(s, d)
    // inner join of labels and scored docs — the exact frame the {OUT}
    // oracle joins, so the domains agree by construction; labels and
    // scores fold ONE shared tokenCounts build (r18 — previously two
    // full token explodes)
    val g = persistOnce(tokenCounts(docs(s, d)))
    val sc = persistOnce(flagsOfCounts(g)
      .select(col("doc_id"), when(col("kept"), 1L).otherwise(-1L).as("y"))
      .join(qmScoreCounts(g, w, theta0)
        .select(col("doc_id"), col("score").as("s")), "doc_id"))
    // r18: the grid derives IN-PLAN from a broadcast 1-row min/max of
    // the persisted score frame (the qmTrainModel pattern) — same theta
    // lattice, one driver job fewer
    val grid = sc.agg(min(col("s")).as("smin"), max(col("s")).as("smax"))
      .select(explode(sequence(lit(0L), lit(QmGrid))).as("id"),
        col("smin"), col("smax"))
      .select(expr(s"smin - 1 + id * (smax - smin + 2) div $QmGrid").as("theta"))
      .distinct()
    val pn = broadcast(sc.agg(
      sum(when(col("y") === 1L, 1L).otherwise(0L)).as("p"),
      sum(when(col("y") === -1L, 1L).otherwise(0L)).as("n")))
    sc.crossJoin(broadcast(grid))
      .groupBy(col("theta"))
      .agg(
        sum(when(col("y") === 1L && col("s") > col("theta"), 1L)
          .otherwise(0L)).as("n_tp"),
        sum(when(col("y") === -1L && col("s") > col("theta"), 1L)
          .otherwise(0L)).as("n_fp"))
      .crossJoin(pn)
      .select(col("theta"), col("n_tp"), col("n_fp"),
        expr("10000 * n_tp div greatest(p, 1L)").as("tpr_bp"),
        expr("10000 * n_fp div greatest(n, 1L)").as("fpr_bp"))
      .orderBy(col("theta"))
  }

  /** Model-vs-battery agreement — the [[langIdAgreement]] evaluation
    * pair (accuracy + Cohen's kappa, exact integer rationals) on the
    * trained scorer's confusion against the rule battery it was
    * trained on: the one-row card that says whether the model learned
    * the rules or collapsed to the majority class (kappa corrects for
    * chance agreement under the 88%-kept marginals — the number raw
    * accuracy hides). DECIMAL(38,0) promotion on the marginal products
    * (the langIdAgreement posture): n² overflows int64 near ~3e9 docs.
    */
  def qualityModelAgreement(s: SparkSession, d: String): DataFrame = {
    val (w, theta) = qmModel(s, d)
    val sc = qmScoredFrame(s, d, w)
      .select(col("y"), (col("s") > theta).as("pred"))
    sc.agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1L && col("pred"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("y") === -1L && col("pred"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") === 1L && !col("pred"), 1L).otherwise(0L)).as("fn"),
        sum(when(col("y") === -1L && !col("pred"), 1L).otherwise(0L)).as("tn"))
      // src = Σ row_marginal · col_marginal over the two classes
      .withColumn("src", expr(
        "CAST(tp + fn AS DECIMAL(38,0)) * (tp + fp)" +
          " + CAST(tn + fp AS DECIMAL(38,0)) * (tn + fn)"))
      .select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
        expr("(10000 * CAST(tp + tn AS DECIMAL(38,0))) div n").as("acc_bp"),
        // n² = src ⇔ a degenerate one-class marginal on either axis:
        // kappa is undefined there — report 0 (the fold_strategy_compare
        // guard posture; DuckDB's // would raise where Spark NULLs)
        expr("""CASE WHEN CAST(n AS DECIMAL(38,0)) * n = src THEN 0L
          |ELSE (1000000 * (CAST(tp + tn AS DECIMAL(38,0)) * n - src))
          | div (CAST(n AS DECIMAL(38,0)) * n - src) END""".stripMargin)
          .as("kappa_micro"))
  }

  /** Score an arbitrary document frame under a frozen (w, theta) — the
    * single definition behind the batch query and the streaming ingest
    * scorer, so the two can never drift. Docs with ≥1 token have ≥1
    * feature row, so the grouped dot covers the battery domain exactly.
    */
  private[graft] def qmScoreDocs(s: SparkSession, dd: DataFrame,
      w: Array[Long], theta: Long): DataFrame =
    qmScoreCounts(tokenCounts(dd), w, theta)

  private def qmScoreCounts(g: DataFrame,
      w: Array[Long], theta: Long): DataFrame =
    qmFeaturesOfCounts(g)
      .groupBy(col("doc_id"))
      .agg(sum(col("x") * element_at(typedLit(w), col("bucket") + 1)).as("score"))
      .select(col("doc_id"), col("score"), (col("score") > theta).as("pred_kept"))

  /** The evaluation frame (doc_id, y, s) under a frozen direction, with
    * labels and features folded from ONE shared [[tokenCounts]] build
    * (r18: the eval queries each ran the corpus token explode twice —
    * once inside the battery labels, once inside the featurizer).
    */
  private def qmScoredFrame(s: SparkSession, d: String,
      w: Array[Long]): DataFrame = {
    val g = persistOnce(tokenCounts(docs(s, d)))
    val labels = flagsOfCounts(g).select(col("doc_id"),
      when(col("kept"), 1L).otherwise(-1L).as("y"))
    qmScoresOf(labels, qmFeaturesOfCounts(g), w)
  }

  /** STREAMING quality scoring — the deployment shape of
    * [[qualityModelScore]] (the ivf_ingest posture on the text column:
    * production trains the scorer rarely and scores every arriving
    * batch against the FROZEN model): each ingest batch is featurized
    * and scored map-side against the broadcast 64-weight model and
    * appended to the scored-output table; the corpus is never
    * rescanned, and a batch costs O(batch tokens) at any corpus size.
    * StreamingSpec pins stream-then-read equal to the batch scorer
    * across a restart, and pins the redelivery-idempotence contract.
    *
    * Exactly-once sink: each micro-batch lands in its own
    * `batch_id=<id>/` partition dir with OVERWRITE — a batch retried
    * after a crash between the parquet write and the checkpoint commit
    * rewrites the same deterministic path instead of appending a
    * duplicate (the [[graft.streaming.MaintainedCounts]] batchId-gate
    * posture, applied to an append-shaped sink). Readers scan the root
    * and get the batch id as a provenance partition column for free.
    */
  def qmApplyScoredBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, outDir: String, w: Array[Long], theta: Long): Unit =
    qmScoreDocs(spark, batch, w, theta)
      .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")

  def streamingQualityScores(spark: SparkSession, sfDir: String,
      streamDir: String, outDir: String, ckpt: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val (w, theta) = qmModel(spark, sfDir) // trained once on the base corpus
    val schema = graft.sources.Tables.documents(spark, sfDir).schema
    spark.readStream.schema(schema).parquet(streamDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        qmApplyScoredBatch(spark, batch, batchId, outDir, w, theta)
      }
      .start()
  }

  /** Score-decile CALIBRATION card — the reliability read published
    * next to a trained scorer before anyone filters on it: docs ranked
    * by model score (desc, doc_id tie-break) and cut into 10
    * equal-count deciles by the DISTRIBUTED global rank
    * ([[graft.operators.AssignIds.byOrder]] — range exchange, never a
    * SinglePartition window; the decile_lift machinery), then per
    * decile the battery's observed keep rate in exact bp. A
    * well-ranked model reads monotone-decreasing keep rates; a flat
    * column means the score carries no signal at that end. One rank
    * job + one 10-key aggregate at any corpus size.
    */
  def qualityModelCalibration(s: SparkSession, d: String): DataFrame = {
    val (w, _) = qmModel(s, d)
    // persisted (r18): AssignIds' RDD seam evaluates its input twice
    // (zipWithIndex count + main pass) and the N scalar is a third
    // consumer — without storage the whole label+feature+score chain
    // ran three times (the perplexity_filter lesson).
    val sc = persistOnce(qmScoredFrame(s, d, w))
    val ranked = graft.operators.AssignIds.byOrder(
      sc, Seq(col("s").desc, col("doc_id")), "rn")
    val n = broadcast(sc.groupBy().agg(count(lit(1)).as("N")))
    ranked.crossJoin(n)
      .selectExpr("y", "s", "CAST((rn - 1) * 10 div N AS INT) AS decile")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_kept"),
        sum(col("s")).as("sum_score"))
      .select(col("decile"), col("n_docs"), col("n_kept"),
        expr("10000 * n_kept div n_docs").as("kept_bp"), col("sum_score"))
      .orderBy(col("decile"))
  }

  /** Per-SOURCE dataset card — the table that decides source mixing
    * weights in corpus assembly: document and token volume, exact-dup
    * incidence, and the Gopher-battery keep rate per source. One join of
    * the per-doc flag frame ([[qualityFlags]] — no interposed sort)
    * against the source column, one aggregate; token-less documents
    * count as docs with kept=false (LEFT join + coalesce — a source of
    * empty docs must look bad, not invisible). Exact integers
    * throughout; keep rate in basis points.
    */
  def sourceMixReport(s: SparkSession, d: String): DataFrame = {
    val q = qualityFlags(s, d).select(col("doc_id"), col("n"), col("kept"))
    docs(s, d).select(col("doc_id"), col("source"), col("text"))
      .join(q, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("n"), lit(0L))).as("total_tokens"),
        sum(when(coalesce(col("kept"), lit(false)), 1L).otherwise(0L)).as("n_kept"),
        (count(lit(1)) - countDistinct(col("text"))).as("n_dup_docs"))
      .selectExpr("source", "n_docs", "total_tokens",
        "total_tokens div n_docs AS mean_tokens",
        "n_kept", "n_kept * 10000 div n_docs AS kept_bp", "n_dup_docs")
      .orderBy(col("source"))
  }

  // --- per-document n-gram repetition ----------------------------------

  /** Top-bigram dominance per document (the Gopher "duplicated n-gram
    * fraction" signal): the most frequent adjacent pair and the share of
    * bigram slots it occupies; repetitive when `5*maxc >= nb` (>= 20%).
    *
    * MAP-ONLY: bigrams are zipped from the token list's own tail,
    * space-joined, sorted in-row, and the argmax comes from the native
    * codegen'd [[graft.functions.SketchExprs.topRun]] run-length scan —
    * no (doc, bigram) explode, no two-level aggregation, NO shuffle at
    * any scale (the first formulation shuffled every bigram twice; this
    * one touches each row once). Tie-break contract: the smallest
    * SPACE-JOINED bigram string wins (topRun picks the first maximal
    * run of the sorted strings) and the oracle tie-breaks on the same
    * joined string — exact for arbitrary token bytes, where a (w1, w2)
    * tuple order would diverge whenever a token contains a character
    * below 0x20 (legal under whitespace-only tokenization).
    */
  def repetitionNgram(s: SparkSession, d: String): DataFrame = {
    val t = docs(s, d).select(col("doc_id"), Dedup.tokensNE(col("text")).as("ts"))
      .select(col("doc_id"), col("ts"), size(col("ts")).as("l"))
      .filter(col("l") >= 2)
    val bigrams = zip_with(
      slice(col("ts"), lit(1), col("l") - 1), slice(col("ts"), lit(2), col("l") - 1),
      (a, b) => concat_ws(" ", a, b))
    t.withColumn("tr", graft.functions.SketchExprs.topRun(sort_array(bigrams)))
      .select(col("doc_id"), (col("l") - 1).cast("long").as("nb"),
        col("tr.c").cast("long").as("maxc"),
        split_part(col("tr.w"), lit(" "), lit(1)).as("w1"),
        split_part(col("tr.w"), lit(" "), lit(2)).as("w2"),
        (lit(5L) * col("tr.c") >= (col("l") - 1)).as("repetitive"))
      .orderBy(col("doc_id"))
  }

  // --- mergeable distinct-count sketches -------------------------------

  /** The mergeable-sketch pattern end-to-end: one HLL sketch of user_id
    * per event_type shard, then a byte-level `hll_union_agg` merge and a
    * single estimate — never a global COUNT(DISTINCT) shuffle. This is
    * how corpus-wide cardinalities are kept fresh at 100 TB (per-file
    * sketches merged in O(shards)). The estimate is checked against the
    * exact count with the library's published error contract (HLL_SKETCH
    * default lgK=12 ⇒ well under 5% at any corpus size); like
    * approx_distinct, the CONTRACT is the oracle row: the exact count
    * plus the within-bounds flag, both engines computing the same
    * BIGINT + literal-true pair.
    */
  def hllMerge(s: SparkSession, d: String): DataFrame = {
    val ev = Sessions.events(s, d).select(col("event_type"), col("user_id"))
    val per = ev.groupBy(col("event_type")).agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = per.agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = ev.agg(countDistinct(col("user_id")).as("n_exact"))
    exact.crossJoin(merged)
      .select(col("n_exact"),
        (abs(col("est") - col("n_exact")) * lit(20L) <= col("n_exact"))
          .as("merged_within_5pct"))
  }

  /** Sketch-based distinct-set INTERSECTION — the second mergeable-sketch
    * identity ([[hllMerge]] is union): |A∩B| estimated by
    * inclusion-exclusion over three HLL estimates (|A| + |B| − |A∪B|),
    * never a distinct-join shuffle. This is how audience-overlap /
    * cross-split-leakage counts stay O(sketch bytes) at 100 TB: per-type
    * sketches are maintained incrementally (per-file, merged in
    * O(shards)); the overlap of any two is three register reads.
    * Inclusion-exclusion COMPOUNDS the three estimates' errors, so the
    * published contract is looser than the union's (10% vs 5%) and the
    * oracle row is the same shape as approx_distinct/hll_merge: the
    * exact BIGINT plus the within-bounds flag, both engines computing
    * the identical pair. Here: users who both viewed AND purchased.
    */
  def hllIntersect(s: SparkSession, d: String): DataFrame = {
    val ev = Sessions.events(s, d).select(col("event_type"), col("user_id"))
      .filter(col("event_type").isin("view", "purchase"))
    val sk = ev.groupBy(col("event_type")).agg(hll_sketch_agg(col("user_id")).as("sk"))
    val est = sk.agg(
      max(when(col("event_type") === "view", hll_sketch_estimate(col("sk")))).as("est_a"),
      max(when(col("event_type") === "purchase", hll_sketch_estimate(col("sk")))).as("est_b"),
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_u"))
    val exact = ev.filter(col("event_type") === "view").select(col("user_id")).distinct()
      .join(ev.filter(col("event_type") === "purchase").select(col("user_id")).distinct(),
        "user_id")
      .agg(count(lit(1)).as("n_exact"))
    // Degenerate-input guards (oracle parity): an event type absent from
    // the fixture makes its max(when(...)) NULL — coalesce every estimate
    // to 0 so the flag never goes NULL against the oracle's TRUE; and at
    // n_exact = 0 the 10% relative band degenerates to exact equality, so
    // publish the vacuous pass instead (lsh_recall's n_true = 0 posture).
    val ea = coalesce(col("est_a"), lit(0L))
    val eb = coalesce(col("est_b"), lit(0L))
    val eu = coalesce(col("est_u"), lit(0L))
    exact.crossJoin(est)
      .select(col("n_exact"),
        when(col("n_exact") === 0, lit(true))
          .otherwise(abs(ea + eb - eu - col("n_exact")) * lit(10L)
            <= col("n_exact")).as("intersect_within_10pct"))
  }

  // --- k-nearest-neighbor doc graph ------------------------------------

  /** Top-3 most similar documents per document by exact shingle Jaccard
    * (the k-NN similarity graph curation uses for near-dup review and
    * diversity sampling). Reuses the bounded-id pair scaffold the
    * ngram_jaccard/containment twins share, symmetrizes it, and picks
    * each doc's top-3 through the custom [[graft.plans.TopKPerGroup]]
    * heap plan — per-group bounded heaps, no per-group sort at any
    * scale. At 100 TB the pair generator swaps to the LSH candidate
    * stream (Dedup.minhash) and this stage is unchanged — that's the
    * point of splitting candidate generation from k-NN selection.
    */
  def neardupKnn(s: SparkSession, d: String): DataFrame = {
    val pairs = Pipeline.boundedShinglePairs(s, d)
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("hs1")) + size(col("hs2")) - col("inter")), 6))
      .select(col("id1"), col("id2"), col("jaccard"))
    val sym = pairs.select(col("id1").as("doc_id"), col("id2").as("nbr"), col("jaccard"))
      .union(pairs.select(col("id2").as("doc_id"), col("id1").as("nbr"), col("jaccard")))
    graft.plans.TopKPerGroup(sym, Seq("doc_id"),
        Seq(col("jaccard").desc, col("nbr")), 3)
      .orderBy(col("doc_id"), col("jaccard").desc, col("nbr"))
  }

  // --- benchmark contamination -----------------------------------------

  /** Train-vs-test contamination check over the FULL corpus: a test-split
    * document is flagged when ≥20% of its distinct 3-gram shingles occur
    * anywhere in the train split (the standard n-gram-overlap
    * decontamination pass before benchmark evaluation). Deliberately NOT
    * pairwise: test shingles semi-join the distinct train shingle set —
    * O(total shingles) with one hash join, no doc×doc stage, so the same
    * plan runs at 100 TB (the train shingle set shards across executors;
    * a bloom pre-filter slots in front of the join if it outgrows
    * memory). Splits reuse train_test_split's deterministic doc_id hash.
    */
  def contaminationCheck(s: SparkSession, d: String): DataFrame = {
    val sets = Dedup.shingleHashSets(docs(s, d))
      .withColumn("split", Pipeline.splitColumn(col("doc_id")))
    val train = sets.filter(col("split") === "train")
      .select(explode(col("hs")).as("h")).distinct()
    // the exploded branch must reference hs EXACTLY ONCE: hs is an
    // expression-built array, and a second reference (e.g. carrying
    // size(hs) alongside the explode) duplicates the whole shingle
    // pipeline per row — measured 0.3 s -> 9 s at sf0.1. The separate
    // map-only base branch below looks like a third scan but is the
    // fast shape: column pruning strips it to one array build per doc
    val test = sets.filter(col("split") === "test")
      .select(col("doc_id"), explode(col("hs")).as("h"))
    val matched = test.join(train, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matched"))
    sets.filter(col("split") === "test")
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_sh"))
      .join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        (lit(5L) * coalesce(col("n_matched"), lit(0L)) >= col("n_sh"))
          .as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** The decontamination EDIT in the direction production actually runs
    * it: [[contaminationCheck]] flags test docs already leaked into
    * train, but the pass an LLM pipeline ships is the REVERSE — drop
    * TRAIN documents that leak benchmark content (the eval set is
    * fixed; the training corpus is what gets edited). A train doc is
    * dropped when ≥20% of its distinct 3-gram shingles occur anywhere
    * in the test split. Same deliberately-non-pairwise shape with the
    * roles swapped: train shingles semi-join the distinct TEST shingle
    * set — and because the eval side is tiny at any corpus size, the
    * membership set is genuinely broadcastable at 100 TB (the opposite
    * asymmetry of contamination_check, where the train set shards).
    * Emits every train doc with its match accounting + dropped flag —
    * the survivors ARE the decontaminated corpus, the flag is the audit.
    */
  def decontaminateTrain(s: SparkSession, d: String): DataFrame = {
    val sets = Dedup.shingleHashSets(docs(s, d))
      .withColumn("split", Pipeline.splitColumn(col("doc_id")))
    val testSh = sets.filter(col("split") === "test")
      .select(explode(col("hs")).as("h")).distinct()
    // same single-reference explode discipline as contaminationCheck:
    // hs is expression-built; a second reference re-runs the shingle
    // pipeline per exploded row
    val train = sets.filter(col("split") === "train")
      .select(col("doc_id"), explode(col("hs")).as("h"))
    val matched = train.join(testSh, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matched"))
    sets.filter(col("split") === "train")
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_sh"))
      .join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        (lit(5L) * coalesce(col("n_matched"), lit(0L)) >= col("n_sh"))
          .as("dropped"))
      .orderBy(col("doc_id"))
  }

  // --- unigram LM surprisal --------------------------------------------

  /** Per-document unigram surprisal (−Σ ln p(token), the LM-likelihood
    * quality signal perplexity filters threshold on). The corpus unigram
    * model is one hash aggregate; each token's log-probability is
    * quantized to integer micro-nats (`round(ln(c/N)·1e6)` — the same
    * fixed double expression on both engines, then BIGINT), so the
    * per-document sum is an ORDER-INDEPENDENT integer — a raw double
    * sum over tokens would be aggregation-order-dependent and neither
    * reproducible nor oracle-comparable. Vocab rides a broadcast; the
    * doc aggregate shuffles on doc_id only.
    */
  def docSurprisal(s: SparkSession, d: String): DataFrame = {
    val t = docs(s, d)
      .select(col("doc_id"), explode(Dedup.tokensNE(col("text"))).as("tok"))
    val v = t.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val tot = v.agg(sum(col("c")).as("n"))
    val lp = v.crossJoin(broadcast(tot))
      .select(col("tok"),
        round(log(col("c").cast("double") / col("n")) * 1000000).cast("long")
          .as("lp_micro"))
    t.join(broadcast(lp), "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), (-sum(col("lp_micro"))).as("surprisal_micro"))
      .orderBy(col("doc_id"))
  }

  /** Per-document surprisal under the corpus BIGRAM model — the
    * conditional complement of [[docSurprisal]]'s unigram scoring (the
    * fluency signal quality filters actually want: a doc of common
    * words in impossible ORDER scores high here, not there).
    * P(w2|w1) = c(w1,w2)/c(w1,·) over bigram slots; each bigram's
    * log-prob is rounded ONCE to integer micro-nats (the docSurprisal
    * convention — the only double is one ln per distinct bigram) and
    * doc scores are exact integer sums. The bigram LM table is
    * vocabulary²-bounded, hence the broadcast probe; the occurrence
    * stream is persisted within the query (it feeds the two LM
    * aggregates and the probe — the setsim_join lesson).
    */
  def bigramSurprisal(s: SparkSession, d: String): DataFrame = {
    val t = docs(s, d).select(col("doc_id"), Dedup.tokensNE(col("text")).as("ts"))
      .select(col("doc_id"), col("ts"), size(col("ts")).as("l"))
      .filter(col("l") >= 2)
    val b = persistOnce(t.select(col("doc_id"), explode(zip_with(
        slice(col("ts"), lit(1), col("l") - 1), slice(col("ts"), lit(2), col("l") - 1),
        (a, bb) => struct(a.as("w1"), bb.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2")))
    val c12 = b.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = b.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val lp = c12.join(c1, "w1")
      .select(col("w1"), col("w2"),
        round(log(col("c12").cast("double") / col("c1")) * 1000000)
          .cast("long").as("lp_micro"))
    b.join(broadcast(lp), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), (-sum(col("lp_micro"))).as("surprisal_micro"))
      .orderBy(col("doc_id"))
  }

  /** CCNet-style perplexity filter — the production LM quality signal
    * one rung above [[bigramSurprisal]]: per-document perplexity under
    * an INTERPOLATED trigram model (λ = 0.6/0.3/0.1 over the trigram,
    * bigram and unigram conditionals, all estimated on the same
    * trigram-slot event stream so every conditional is well-defined),
    * then the corpus ranked into head/middle/tail perplexity tertiles
    * with tail docs dropped — exactly the CCNet bucketing (Wenzek et
    * al. 2020), which filters on RELATIVE perplexity because an
    * absolute threshold drifts with domain.
    *
    * Integer discipline: one double expression per DISTINCT trigram
    * (the docSurprisal convention — identical IEEE op order in the
    * oracle), rounded once to micro-nats; doc sums are exact integer
    * aggregates and the per-token perplexity is an integer div. The
    * tertile rank is the distributed [[graft.operators.AssignIds]]
    * range exchange — never a single-partition window.
    *
    * Scale: the LM tables are distinct-trigram-bounded, so the lp
    * probe is a SHUFFLE join on the trigram key (a 100 TB corpus's
    * trigram table dwarfs any broadcast budget — deliberately NOT the
    * bigram table's vocab²-broadcast shape); everything else is hash
    * aggregates plus the rank exchange. Docs with <3 tokens carry no
    * trigram slot and are dropped (they go to the length battery, not
    * the LM).
    */
  def perplexityFilter(s: SparkSession, d: String): DataFrame =
    // the PRODUCER deliberately bypasses the cache (the
    // quality_model_train convention: build cost is measured here;
    // consumers read the cached artifact)
    perplexityScoredUncached(s, d).orderBy(col("doc_id"))

  /** Per-doc perplexity scores + tertile verdicts, cached per
    * (session, dir) — the artifact [[perplexityBySource]] aggregates
    * without re-running the trigram chain (the ngramPairCache posture:
    * the producing query measures the build; consumers read storage).
    */
  private val pplCache = new graft.DfCache("quality.pplScores")

  private def perplexityScored(s: SparkSession, d: String): DataFrame =
    pplCache.getOrElseUpdate((s, d), perplexityScoredUncached(s, d))

  private def perplexityScoredUncached(s: SparkSession, d: String): DataFrame = {
    val t = docs(s, d).select(col("doc_id"), Dedup.tokensNE(col("text")).as("ts"))
      .select(col("doc_id"), col("ts"), size(col("ts")).as("l"))
      .filter(col("l") >= 3)
    val tri = t.select(col("doc_id"), explode(zip_with(
        zip_with(
          slice(col("ts"), lit(1), col("l") - 2),
          slice(col("ts"), lit(2), col("l") - 2),
          (a, b) => struct(a.as("w1"), b.as("w2"))),
        slice(col("ts"), lit(3), col("l") - 2),
        (ab, c) => struct(ab.getField("w1").as("w1"),
          ab.getField("w2").as("w2"), c.as("w3")))).as("tg"))
      .select(col("doc_id"), col("tg.w1").as("w1"),
        col("tg.w2").as("w2"), col("tg.w3").as("w3"))
    persistOnce(tri) // feeds the c123 aggregate + the probe (the setsim lesson)
    // Every LM marginal is a re-aggregation of c123 itself (c12 = Σ_w3,
    // c23 = Σ_w1, c2 = Σ_{w1,w3}, c3 = Σ_{w1,w2}, n = Σ all) — counts
    // identical by definition, so the slot stream is shuffled ONCE for
    // the LM build instead of five times (r17 optimization: 6 full
    // shuffles of the exploded trigram frame → 2, the probe being the
    // other). c123 is deliberately NOT persisted: the five consumers
    // share its (w1,w2,w3) exchange via ReusedExchange inside the one
    // plan, which keeps the branches parallel — an explicit persist
    // serialized them behind the cache materialization and measured
    // SLOWER (6.2 vs 3.3 s isolated, OPTIMIZATION_r17.md).
    val c123 = tri.groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c123"))
    val c12 = c123.groupBy(col("w1"), col("w2")).agg(sum(col("c123")).as("c12"))
    val c23 = c123.groupBy(col("w2"), col("w3")).agg(sum(col("c123")).as("c23"))
    val c2 = c123.groupBy(col("w2")).agg(sum(col("c123")).as("c2"))
    val c3 = c123.groupBy(col("w3")).agg(sum(col("c123")).as("c3"))
    val n = c123.agg(sum(col("c123")).as("nn"))
    val lp = c123.join(c12, Seq("w1", "w2")).join(c23, Seq("w2", "w3"))
      .join(c2, Seq("w2")).join(c3, Seq("w3")).crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("w3"),
        round(log(
          lit(0.6) * (col("c123").cast("double") / col("c12")) +
          lit(0.3) * (col("c23").cast("double") / col("c2")) +
          lit(0.1) * (col("c3").cast("double") / col("nn"))) * 1000000)
          .cast("long").as("lp_micro"))
    // r18: persisted — the scored frame is doc-sized but its subtree is
    // the query's most expensive stage (the trigram probe join + the
    // 5-way LM join tree), and it has THREE evaluations without storage:
    // AssignIds' zipWithIndex count job, the RDD-seam main pass (an RDD
    // boundary shares no exchanges across jobs), and the nd scalar.
    // Guide §5 persist-when-reused; isolated A/B at sf0.1: 4.85 s
    // (full-bench baseline) -> ~1.2 s.
    val sc = tri.join(lp, Seq("w1", "w2", "w3"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_slots"), (-sum(col("lp_micro"))).as("surprisal_micro"))
      .selectExpr("doc_id", "n_slots",
        "surprisal_micro div n_slots AS ppl_micro")
    persistOnce(sc)
    val ranked = graft.operators.AssignIds.byOrder(
      sc, Seq(col("ppl_micro"), col("doc_id")), "rn")
    val nd = broadcast(sc.groupBy().agg(count(lit(1)).as("nd")))
    ranked.crossJoin(nd)
      .selectExpr("doc_id", "n_slots", "ppl_micro",
        "CASE (rn - 1) * 3 div nd WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket",
        "(rn - 1) * 3 div nd < 2 AS kept")
  }

  /** Perplexity-by-source card — the source-mix signal CCNet-style
    * filtering actually feeds back into corpus assembly: per source,
    * doc count, exact mean per-token perplexity (integer div of the
    * micro-nat sum) and the share of docs in the dropped tail (bp).
    * One 10-ish-key aggregate over the cached per-doc artifact
    * ([[perplexityScored]]); the oracle recomputes from this run's own
    * perplexity_filter dump joined to documents — scores are already
    * gated there, this card adds only arithmetic.
    */
  def perplexityBySource(s: SparkSession, d: String): DataFrame =
    perplexityScored(s, d)
      .join(docs(s, d).select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ppl_micro")).as("sum_ppl_micro"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"))
      .select(col("source"), col("n_docs"),
        expr("sum_ppl_micro div n_docs").as("mean_ppl_micro"),
        col("n_dropped"),
        expr("10000 * n_dropped div n_docs").as("dropped_bp"))
      .orderBy(col("source"))

  /** Temperature-scaled source sampling weights — the data-MIXING knob
    * every multilingual/multi-source training run tunes (GPT-3 §2.2,
    * XLM-R: sample source s with p ∝ tokens_s^(1/T); T=1 is natural
    * proportions, higher T flattens toward uniform so small sources are
    * up-sampled): for T ∈ {1, 2, 4}, each source's exact token count
    * and its sampling weight in micro-units. The one double is
    * pow(tokens, 1/T), rounded ONCE to integer micros per (source, T);
    * normalization is then an integer div against the integer rung sum
    * (a raw double Σ over sources would be aggregation-order-dependent
    * — the docSurprisal discipline applied to the mixing table). One
    * token aggregate + a 3-rung broadcast cross + one bounded window-
    * free sum join; source count is tiny at any corpus size.
    */
  def mixtureWeights(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d)
      .select(col("source"), size(Dedup.tokensNE(col("text"))).as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
    val rungs = s.range(0, 3)
      .select(expr("CAST(1 << id AS BIGINT)").as("t")) // T = 1, 2, 4
    val p = toks.crossJoin(broadcast(rungs))
      .select(col("source"), col("t"), col("n_tokens"),
        round(pow(col("n_tokens").cast("double"),
          lit(1.0) / col("t").cast("double")) * 1000000)
          .cast("long").as("p_micro"))
    val tot = p.groupBy(col("t")).agg(sum(col("p_micro")).as("tot"))
    p.join(broadcast(tot), Seq("t"))
      .select(col("source"), col("t"), col("n_tokens"),
        expr("1000000 * p_micro div tot").as("weight_micro"))
      .orderBy(col("source"), col("t"))
  }

  /** Tokenizer fertility per language — average learned-BPE subwords per
    * word in exact basis points (the tokenizer-health metric every
    * multilingual pipeline tracks: high fertility = the vocabulary
    * under-serves that language, inflating sequence lengths and cost).
    * One explode of the pre-tokenizer's alpha runs joined against the
    * broadcast (vocabulary-sized) word→subword-count table — the same
    * encoder table the oracle reads from the bpe_word_tokens dump.
    */
  def bpeFertility(s: SparkSession, d: String): DataFrame = {
    val merges = bpeMerges(s, d)
    val wt = docs(s, d).select(
        explode(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0))).as("word"))
      .distinct()
      .select(col("word"), graft.functions.Bpe.countSubwords(col("word"), merges)
        .as("n_tokens"))
    docs(s, d).select(col("lang"),
        explode(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0))).as("word"))
      .join(broadcast(wt), "word")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_tokens")).as("n_subwords"))
      .selectExpr("lang", "n_words", "n_subwords",
        "n_subwords * 10000 div n_words AS fertility_bp")
      .orderBy(col("lang"))
  }

  // --- one-pass dataset card -------------------------------------------

  /** The corpus "dataset card" numbers in ONE scan: doc/char/token
    * totals, language and source cardinalities, length extremes, and
    * the exact-duplicate rate (docs minus distinct text hashes). All
    * single-aggregate — no window, no join; the multi-distinct plan is
    * Spark's expand-based exact count, fine at any scale for
    * low-cardinality dims and replaced by [[hllMerge]]-style sketches
    * when the dimension explodes.
    */
  def corpusStats(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        size(Dedup.tokensNE(col("text"))).cast("long").as("n_tok"),
        sha2(col("text"), 256).as("h"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tok")).as("total_tokens"),
        min(col("n_tok")).as("min_tokens"),
        max(col("n_tok")).as("max_tokens"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_exact_dups"))

  // --- positional inverted index ---------------------------------------

  /** Positional inverted index for a fixed term set: term → (doc,
    * 1-based position list, tf) — the IR structure phrase/proximity
    * search consumes (the plain `inverted_index` carries doc ids only).
    * posexplode + one (term, doc) aggregate; the term filter prunes
    * before the shuffle, so the shuffle carries matching postings only.
    * The position list is serialized to a ','-joined string
    * (driver-sortable-output convention; see inverted_index).
    */
  def positionalIndex(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"),
        posexplode(Dedup.tokensNE(col("text"))).as(Seq("pos0", "tok")))
      .filter(col("tok").isin("spark", "query"))
      .groupBy(col("tok"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos0") + 1)).as("posArr"),
        count(lit(1)).as("tf"))
      .select(col("tok"), col("doc_id"),
        Shared.csv(col("posArr")).as("positions"),
        col("tf"))
      .orderBy(col("tok"), col("doc_id"))

  /** Exact phrase retrieval ("join part filter") through the positional
    * inverted index — the consumer of [[positionalIndex]]'s structure:
    * three posting streams aligned by (doc_id, normalized position) with
    * two co-partitioned equi-joins (all three shuffles are on the same
    * (doc_id, p) key, so at scale the exchanges reuse one partitioning),
    * then one count per document. This is index-based retrieval — the
    * full-text `contains` scan never runs, which is the point at 100 TB:
    * the posting streams for three terms are minuscule next to the
    * corpus. Occurrence positions are 1-based like the index's.
    */
  def phraseSearch(s: SparkSession, d: String): DataFrame = {
    val pos = docs(s, d).select(col("doc_id"),
      posexplode(Dedup.tokensNE(col("text"))).as(Seq("pos0", "tok")))
    def postings(w: String, off: Int) = pos.filter(col("tok") === w)
      .select(col("doc_id"), (col("pos0") - off).as("p"))
    postings("join", 0)
      .join(postings("part", 1), Seq("doc_id", "p"))
      .join(postings("filter", 2), Seq("doc_id", "p"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        (min(col("p")) + 1).cast("long").as("first_pos"))
      .orderBy(col("doc_id"))
  }

  // --- bigram language-model continuations ------------------------------

  /** Top-3 continuations per token by corpus bigram count (the greedy
    * next-token table of a bigram LM) through the TopKPerGroup heap —
    * per-group bounded heaps over the (w1, w2) counts, no per-group
    * sort. Ties break lexicographically.
    */
  def bigramLmTopk(s: SparkSession, d: String): DataFrame = {
    val t = docs(s, d).select(Dedup.tokensNE(col("text")).as("ts"))
      .select(col("ts"), size(col("ts")).as("l")).filter(col("l") >= 2)
    val bg = t.select(explode(zip_with(
        slice(col("ts"), lit(1), col("l") - 1), slice(col("ts"), lit(2), col("l") - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val counts = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    graft.plans.TopKPerGroup(counts, Seq("w1"),
        Seq(col("c").desc, col("w2")), 3)
      .orderBy(col("w1"), col("c").desc, col("w2"))
  }

  // --- edit-distance-1 similarity join ----------------------------------

  /** Edit-distance-≤1 vocabulary pairs via the SymSpell
    * deletion-neighborhood join — the scalable string-similarity-join
    * shape: each word expands to {itself} ∪ its single-deletion
    * variants (length+1 keys per word), candidates are equi-join
    * bucket-mates on a shared variant, and only candidates pay the
    * exact levenshtein check. Complete for distance ≤ 1 (substitution ⇒
    * shared deletion at the edited position; deletion ⇒ the shorter
    * word IS a variant of the longer). No all-pairs stage at any
    * vocabulary size — the quadratic NOT-EXISTS-free oracle is only
    * feasible because the test vocabulary is tiny.
    *
    * The synthetic vocabulary has no natural distance-1 pairs, so known
    * positives are PLANTED (drop-last-char variants of every word of
    * length ≥ 4 — the pii_scrub testing pattern: deterministic, exact
    * expected output).
    */
  def typoPairs(s: SparkSession, d: String): DataFrame = {
    val vocab = docs(s, d)
      .select(explode(Dedup.tokensNE(col("text"))).as("w")).distinct()
    val planted = vocab.filter(length(col("w")) >= 4)
      .select(expr("substring(w, 1, length(w) - 1)").as("w")).distinct()
    val v = vocab.union(planted).distinct()
    // {word} ∪ single-deletion variants, as (variant, word) postings
    val postings = v.select(col("w"), explode(concat(array(col("w")),
      expr("transform(sequence(1, length(w)), i -> " +
        "concat(substring(w, 1, i - 1), substring(w, i + 1, length(w) - i)))")))
      .as("variant")).distinct()
    val cand = postings.as("a")
      .join(postings.as("b"), Seq("variant"))
      .filter(col("a.w") < col("b.w"))
      .select(col("a.w").as("w1"), col("b.w").as("w2")).distinct()
    // compute levenshtein ONCE as a projected column and filter on that —
    // filter-then-select re-evaluated the O(|w1|·|w2|) DP per row twice
    cand
      .select(col("w1"), col("w2"),
        levenshtein(col("w1"), col("w2")).cast("long").as("dist"))
      .filter(col("dist") <= 1)
      .orderBy(col("w1"), col("w2"))
  }

  // --- learned-BPE token counting ---------------------------------------

  private val bpeMergeCache = new graft.SessionCache[Array[String]]("quality.bpeMerges")

  /** The learned BPE merge table for testdata dir `d` — trained once per
    * session and reused by every consumer (the trained-artifact posture of
    * the IVF centroids: in production the tokenizer is trained once and
    * shipped to every job). The distributed part is the word-frequency
    * aggregation (a groupBy/count over all alpha runs); the merge loop
    * runs driver-side over the bounded top-4096 vocabulary cut — see
    * [[graft.functions.Bpe]] for why that split is the standard one.
    * Vocabulary ties break on (count desc, word asc): deterministic.
    */
  def bpeMerges(s: SparkSession, d: String): Array[String] =
    bpeMergeCache.getOrElseUpdate((s, d), {
      val words = docs(s, d).select(
          explode(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(4096)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      graft.functions.Bpe.train(words, 200)
    })

  /** Subword token counting, the budget currency of an LLM corpus: the
    * GPT-2-style pre-tokenizer regex splits text into alpha runs, single
    * digits, and single punctuation marks; alpha runs are charged their
    * REAL learned-BPE segment count under [[bpeMerges]] (round-5's
    * `ceil(len/4)` approximation is gone) and everything else 1.
    * Map-only: one codegen'd expression pass per row, no shuffle before
    * the final presentation sort. The DuckDB oracle recomputes the sum
    * from raw text joined against the [[bpeWordTokens]] dump (Verify
    * substitutes the dump path), whose per-word counts are in turn
    * pinned exactly by BpeSpec's independent encoder formulation.
    */
  def tokenCountBpe(s: SparkSession, d: String): DataFrame =
    tokenCountBpeOf(docs(s, d), bpeMerges(s, d)).orderBy(col("doc_id"))

  /** The counting battery over any (doc_id, text) frame — split out so
    * specs can pin known strings without a parquet detour.
    */
  private[graft] def tokenCountBpeOf(in: DataFrame, merges: Array[String]): DataFrame =
    in.select(col("doc_id"),
      size(regexp_extract_all(col("text"),
        lit(graft.functions.Bpe.PreTokenRe), lit(0))).cast("long").as("n_pieces"),
      graft.functions.Bpe.countSubwords(col("text"), merges).as("n_subwords"))

  /** (word, n_tokens) for EVERY distinct alpha run in the corpus — the
    * materialized encoder table the DuckDB oracles join against
    * (corpus-complete by construction: built from the same pre-tokenizer
    * alpha pattern). Rows-only in the driver gate (BPE encoding is not
    * SQL-expressible); BpeSpec pins every row against the independent
    * apply-merges-in-learned-order encoder.
    */
  def bpeWordTokens(s: SparkSession, d: String): DataFrame = {
    val merges = bpeMerges(s, d)
    docs(s, d).select(
        explode(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0))).as("word"))
      .distinct()
      .select(col("word"),
        graft.functions.Bpe.countSubwords(col("word"), merges).as("n_tokens"))
      .orderBy(col("word"))
  }

  // --- byte-fallback token currency --------------------------------------

  /** Deterministic multilingual augmentation: the fixture corpus is pure
    * ASCII, so the byte-fallback currency would be vacuously equal to
    * the char currency on it. Both engines append the SAME non-ASCII
    * suffix per doc_id from the same parquet bytes — CJK (3 B/char),
    * Cyrillic (2 B/char), typographic punctuation (2–3 B), kana
    * (3 B/char), and one rung left UNCHANGED so the old-currency
    * equality stays pinned inside the same query. No suffix contains an
    * `[A-Za-z]` char, so every alpha run in the augmented corpus is
    * already in the [[bpeWordTokens]] encoder dump — the oracle's
    * LEFT JOIN stays total. BMP-only on purpose: Java regex and RE2
    * agree that a negated char class consumes one code POINT there.
    */
  private def mlText: Column = concat(col("text"),
    when(col("doc_id") % 5 === 0, lit(" 数据处理与分析"))
      .when(col("doc_id") % 5 === 1, lit(" привет мир"))
      .when(col("doc_id") % 5 === 2, lit(" — © ® €"))
      .when(col("doc_id") % 5 === 3, lit(" こんにちは"))
      .otherwise(lit("")))

  /** The DuckDB twin of [[mlText]]. */
  private val MlTextSql =
    """text || CASE doc_id % 5
      |  WHEN 0 THEN ' 数据处理与分析'
      |  WHEN 1 THEN ' привет мир'
      |  WHEN 2 THEN ' — © ® €'
      |  WHEN 3 THEN ' こんにちは'
      |  ELSE '' END""".stripMargin

  /** [[tokenCountBpe]] re-read in the BYTE-FALLBACK currency over the
    * multilingual-augmented corpus: alpha runs charge learned-BPE
    * segments (unchanged — ASCII letters are 1 byte), every other piece
    * charges its UTF-8 byte length (the GPT-2 posture for scripts the
    * vocabulary never saw). Carries the old flat-1 currency alongside
    * so the undercount is visible per doc. Map-only codegen'd pass; the
    * oracle recomputes both currencies from the same augmented text
    * joined against the bpe_word_tokens dump, with `strlen` as the
    * byte charge.
    */
  def tokenCountBpeBytes(s: SparkSession, d: String): DataFrame = {
    val merges = bpeMerges(s, d)
    docs(s, d).select(col("doc_id"), mlText.as("text2"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("text2"),
          lit(graft.functions.Bpe.PreTokenRe), lit(0))).cast("long")
          .as("n_pieces"),
        graft.functions.Bpe.countSubwords(col("text2"), merges)
          .as("n_subwords"),
        graft.functions.Bpe.countSubwordsBytes(col("text2"), merges)
          .as("n_subwords_bytes"))
      .orderBy(col("doc_id"))
  }

  /** [[bpeFertility]] in the byte currency over ALL pre-token pieces of
    * the augmented corpus (not just alpha runs): per language, total
    * pieces, total byte-currency subwords, and fertility in exact bp —
    * the multilingual-health reading the flat-1 charge was blind to
    * (a kana-heavy language now reads ~3× the fertility of ASCII).
    * One map-only pass + one aggregate.
    */
  def bpeFertilityBytes(s: SparkSession, d: String): DataFrame = {
    val merges = bpeMerges(s, d)
    docs(s, d).select(col("lang"), mlText.as("text2"))
      .select(col("lang"),
        size(regexp_extract_all(col("text2"),
          lit(graft.functions.Bpe.PreTokenRe), lit(0))).cast("long")
          .as("p"),
        graft.functions.Bpe.countSubwordsBytes(col("text2"), merges).as("b"))
      .groupBy(col("lang"))
      .agg(sum(col("p")).as("n_pieces"), sum(col("b")).as("n_subwords_bytes"))
      .selectExpr("lang", "n_pieces", "n_subwords_bytes",
        "n_subwords_bytes * 10000 div n_pieces AS fertility_bp")
      .orderBy(col("lang"))
  }

  // --- corpus-law diagnostics -------------------------------------------

  /** Zipf's-law fit of the corpus rank-frequency curve: OLS slope and
    * intercept of ln(count) over ln(rank) — the one-number vocabulary
    * health check (natural corpora sit near slope −1; a synthetic or
    * template-heavy corpus drifts toward 0). Ranks are assigned by the
    * distributed [[graft.operators.AssignIds]] numbering (count desc,
    * token asc — deterministic under ties), never a single-partition
    * window: the vocabulary of a 100 TB corpus is itself a big table.
    * Each token contributes integer micro-nat ln values (one rounded
    * ln per token, the doc_surprisal convention), the moment sums are
    * exact BIGINTs, and the only doubles are ONE fixed final
    * expression tree per output column — identical IEEE op order in
    * both engines. (At extreme vocabularies the micro-nat moment sums
    * would move to DECIMAL(38,0) — the stats_agg note applies.)
    */
  /** The dataset card — the one-row summary a curation run publishes
    * with every release (the Datasheets/model-card discipline applied
    * to the corpus): doc/source/lang censuses, exact token and char
    * mass, unigram vocabulary, mean doc length, language share, and
    * the exact-duplicate rate. Three aggregates over ONE staged
    * tokenized scan (census + distinct-vocab + distinct-text), joined
    * as one-row scalars — no fact-table rescans; every number exact
    * integer/bp so the card is bit-stable across reruns. Composes the
    * same definitions the dedicated queries gate (tokens = the
    * reference tokenizer; dup rate = the sha-exact family's identity).
    */
  def datasetCard(s: SparkSession, d: String): DataFrame = {
    val t = docs(s, d).select(col("doc_id"), col("source"), col("lang"),
      col("n_chars"), col("text"), Dedup.tokensNE(col("text")).as("ts"))
    val dAgg = t.agg(count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum(col("n_chars").cast("long")).as("total_chars"),
      sum(size(col("ts")).cast("long")).as("n_tokens"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
    val v = t.select(explode(col("ts")).as("tok"))
      .agg(countDistinct(col("tok")).as("vocab"))
    val x = t.agg(countDistinct(col("text")).as("n_distinct_texts"))
    dAgg.crossJoin(broadcast(v)).crossJoin(broadcast(x)) // one-row scalars
      .selectExpr("n_docs", "n_sources", "n_langs", "total_chars",
        "n_tokens", "vocab",
        "n_tokens div n_docs AS mean_doc_tokens",
        "10000 * n_en div n_docs AS en_share_bp",
        "10000 * (n_docs - n_distinct_texts) div n_docs AS exact_dup_bp")
  }

  /** Effective number of sources (the perplexity of the source mix,
    * exp of Shannon entropy) — the diversity twin of [[hhiSources]]'
    * concentration: a 20-source corpus where one source dominates has
    * eff ≈ 1; this near-uniform fixture reads exactly 20.000. Per-
    * source −p·ln p terms in integer nano-nats, each rounded ONCE from
    * exact counts against the broadcast total (the token_kl
    * partitioning-invariance discipline), exact integer sum, one exp
    * at the end. One bounded source aggregate at any corpus size.
    */
  def effectiveSources(s: SparkSession, d: String): DataFrame = {
    val m = docs(s, d).groupBy(col("source")).agg(count(lit(1)).as("n"))
    val t = broadcast(m.agg(sum(col("n")).as("nt")))
    m.crossJoin(t) // one-row total scalar
      .select(expr("CAST(round(-(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE))" +
        " * ln(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)) * 1000000000)" +
        " AS BIGINT)").as("term"))
      .agg(count(lit(1)).as("n_sources"), sum(col("term")).as("h_nano"))
      .select(col("n_sources"), col("h_nano"),
        expr("CAST(round(exp(CAST(h_nano AS DOUBLE) / 1000000000) * 1000)" +
          " AS BIGINT)").as("eff_sources_milli"))
  }

  /** Fighting-words log-odds (Monroe, Colaresi & Quinn 2008, the
    * Dirichlet-prior z-scored log-odds-ratio): WHICH tokens
    * distinguish one source cohort from another — the token-level
    * companion to [[mutualInfo]]'s cell-level dependence number, and
    * the standard "distinctive vocabulary" screen before mixing
    * corpora. Cohorts = even vs odd source index; per token, δ =
    * ln-odds difference with +1 smoothing and σ² ≈ 1/(a+1) + 1/(b+1);
    * output is the top-10 by |z| with the (|z| desc, token) total
    * order. Counts are exact integers against one broadcast marginal
    * scalar; z is a per-token fixed double tree (partitioning-
    * invariant), rounded once to micro units.
    */
  def logOddsTokens(s: SparkSession, d: String): DataFrame = {
    val t = docs(s, d).select(
      expr("CAST(substring(source, 4) AS BIGINT) % 2 = 0").as("ga"),
      explode(Dedup.tokensNE(col("text"))).as("tok"))
    val c = t.groupBy(col("tok")).agg(
      sum(when(col("ga"), 1L).otherwise(0L)).as("a"),
      sum(when(!col("ga"), 1L).otherwise(0L)).as("b"))
    val n = broadcast(c.agg(sum(col("a")).as("na"), sum(col("b")).as("nb")))
    c.crossJoin(n) // one-row marginal scalar
      .selectExpr("tok", "a", "b",
        """ln(CAST(a + 1 AS DOUBLE) / CAST(na - a + 1 AS DOUBLE))
          |- ln(CAST(b + 1 AS DOUBLE) / CAST(nb - b + 1 AS DOUBLE)) AS delta"""
          .stripMargin,
        "sqrt(1.0 / (a + 1) + 1.0 / (b + 1)) AS sig")
      .select(col("tok"), col("a"), col("b"),
        expr("CAST(round(delta / sig * 1000000) AS BIGINT)").as("z_micro"),
        abs(col("delta") / col("sig")).as("az"))
      .orderBy(col("az").desc, col("tok"))
      .limit(10)
      .select(col("tok"), col("a"), col("b"), col("z_micro"))
  }

  /** Herfindahl–Hirschman concentration of source char mass — the one-
    * number "is the corpus dominated by a few sources?" check next to
    * [[Insights.giniSpend]]'s Lorenz view and the per-source
    * mixture/temperature weights: HHI = Σ share² in exact integer
    * basis-point arithmetic (floor shares — both engines identical),
    * 10^8 = monopoly, 10^8/k = uniform over k. One bounded source
    * aggregate + a broadcast total at any corpus size.
    */
  def hhiSources(s: SparkSession, d: String): DataFrame = {
    val m = docs(s, d).groupBy(col("source"))
      .agg(sum(col("n_chars").cast("long")).as("mass"))
    val t = broadcast(m.agg(sum(col("mass")).as("total")))
    m.crossJoin(t) // one-row total scalar
      .select(expr("10000 * mass div total").as("sbp"))
      .agg(count(lit(1)).as("n_sources"),
        sum(col("sbp") * col("sbp")).as("hhi"),
        max(col("sbp")).as("top_share_bp"))
  }

  /** Source×language mutual-information profile — the dependence screen
    * a corpus pipeline runs on its metadata dimensions before
    * stratifying ("is lang balanced within every source, or do sources
    * specialize?"): per observed cell, the pointwise MI
    * ln(p(s,l)/(p(s)p(l))) in integer nano-nats plus its contribution
    * to total MI. The token_kl_drift discipline: every log term is
    * computed from EXACT integer counts against broadcast marginals and
    * rounded ONCE — the per-cell rows are partitioning-invariant and
    * total MI is their exact integer sum (the cell table is bounded by
    * sources×langs at any corpus size). Contribution = n·pmi div N on
    * int64 — fine through ~1e9 docs/cell, DECIMAL beyond (the
    * q1_pricing note).
    */
  def mutualInfo(s: SparkSession, d: String): DataFrame = {
    val c = docs(s, d).groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
    val ms = c.groupBy(col("source")).agg(sum(col("n")).as("ns"))
    val ml = c.groupBy(col("lang")).agg(sum(col("n")).as("nl"))
    val nn = broadcast(c.agg(sum(col("n")).as("nt")))
    c.join(ms, "source").join(ml, "lang").crossJoin(nn) // one-row total
      .select(col("source"), col("lang"), col("n"),
        expr("CAST(round(ln((CAST(n AS DOUBLE) * CAST(nt AS DOUBLE))" +
          " / (CAST(ns AS DOUBLE) * CAST(nl AS DOUBLE))) * 1000000000)" +
          " AS BIGINT)").as("pmi_nano"),
        col("nt"))
      .select(col("source"), col("lang"), col("n"), col("pmi_nano"),
        expr("n * pmi_nano div nt").as("contrib_nano"))
      .orderBy(col("source"), col("lang"))
  }

  /** Heaps-law vocabulary-growth fit (Heaps 1978) — the companion to
    * [[zipfFit]] in the corpus-linguistics battery: V(n) ≈ K·n^β over
    * doubling document prefixes. The curve answers the budgeting
    * question zipf can't ("how much NEW vocabulary does the next 10×
    * of crawl buy?") and a β collapsing toward 0 flags template/
    * boilerplate corpora. Vocabulary = distinct token 3-grams (the
    * fixture's 31-token unigram vocab saturates instantly; the 3-gram
    * space genuinely grows, β ≈ 0.90 at sf0.01). ONE pass builds both
    * curve ingredients — per-gram FIRST-SEEN doc (min doc_id) and
    * per-doc gram mass — so a prefix's vocabulary is just "grams first
    * seen before P" and no prefix is rescanned; checkpoints (powers of
    * two up to n_docs, plus n_docs) join in as a bounded broadcast
    * literal. Log-log least squares runs on micro-int quantized logs
    * (the zipf_fit convention — exact integer sums, partitioning-
    * invariant) over the bounded checkpoint table; β rides back on
    * every row. Doc ids are dense 0..n−1 (the fixture contract), so
    * "first P docs" = doc_id < P in both engines.
    */
  def heapsLaw(s: SparkSession, d: String): DataFrame = {
    val sh = docs(s, d)
      .select(col("doc_id"), Dedup.tokensNE(col("text")).as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("ts")) - lit(2)),
        i => concat_ws(" ", element_at(col("ts"), i),
          element_at(col("ts"), i + lit(1)),
          element_at(col("ts"), i + lit(2))))).as("g"))
    val nDocs = docs(s, d).count() // bounded: one metadata-cheap scalar
    val ps = ((3 to 40).map(1L << _).filter(_ < nDocs) :+ nDocs)
    import s.implicits._
    val psDf = broadcast(ps.toDF("p"))
    val vocab = sh.groupBy(col("g")).agg(min(col("doc_id")).as("fd"))
      .join(psDf, col("fd") < col("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("vocab_size"))
    val ntok = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
      .join(psDf, col("doc_id") < col("p"))
      .groupBy(col("p")).agg(sum(col("nt")).as("n_tokens"))
    val curve = vocab.join(ntok, "p")
      .select(col("p"), col("n_tokens"), col("vocab_size"),
        round(log(col("n_tokens").cast("double")) * 1e6).cast("long").as("lx"),
        round(log(col("vocab_size").cast("double")) * 1e6).cast("long").as("ly"))
    val fit = curve.agg(count(lit(1)).as("k"),
        sum(col("lx")).as("sx"), sum(col("ly")).as("sy"),
        sum(col("lx") * col("lx")).as("sxx"),
        sum(col("lx") * col("ly")).as("sxy"))
      .selectExpr(
        """round((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
          |  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          | / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
          |  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS beta_6dp"""
          .stripMargin)
    curve.crossJoin(broadcast(fit)) // one-row fit scalar
      .select(col("p").as("prefix_docs"), col("n_tokens"),
        col("vocab_size"), col("beta_6dp"))
      .orderBy(col("prefix_docs"))
  }

  def zipfFit(s: SparkSession, d: String): DataFrame = {
    val v = docs(s, d)
      .select(explode(Dedup.tokensNE(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val ranked = graft.operators.AssignIds.byOrder(
      v, Seq(col("c").desc, col("tok")), "rank")
    ranked
      .select(col("c"),
        round(log(col("rank").cast("double")) * 1000000).cast("long").as("lr"),
        round(log(col("c").cast("double")) * 1000000).cast("long").as("lc"))
      .agg(count(lit(1)).as("n_vocab"), sum(col("c")).as("n_tokens"),
        sum(col("lr")).as("sx"), sum(col("lc")).as("sy"),
        sum(col("lr") * col("lr")).as("sxx"),
        sum(col("lr") * col("lc")).as("sxy"))
      .selectExpr("n_vocab", "n_tokens",
        """round((CAST(n_vocab AS DOUBLE) * CAST(sxy AS DOUBLE)
          |  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          | / (CAST(n_vocab AS DOUBLE) * CAST(sxx AS DOUBLE)
          |  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope_micro""".stripMargin,
        """round((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
          |  - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
          | / (CAST(n_vocab AS DOUBLE) * CAST(sxx AS DOUBLE)
          |  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS intercept_micro""".stripMargin)
  }

  /** χ² feature selection of (token, language) associations — the
    * classifier-feature ranking step of a corpus pipeline: for every
    * observed (lang, token) pair, the chi-square statistic of the 2×2
    * doc-level presence contingency (docs of that lang containing the
    * token vs the three complements). All four cell counts and the
    * cross-product difference a·e − b·c are exact BIGINTs (the
    * cancellation-sensitive part; at extreme corpus sizes it moves to
    * DECIMAL — the outlier_zscore lesson), and χ² itself is one fixed
    * double tree at 6 dp. Presence is per-doc DISTINCT (array_distinct
    * before the explode — χ² over raw token occurrences would let one
    * spammy doc dominate). Degenerate margins (a token in every doc, a
    * single-language corpus) are filtered on exact integers — their χ²
    * is 0/0. Plan shape: one doc-level explode aggregate on (tok,
    * lang); the token margin derives from it by a second small
    * aggregate; language margins and N ride broadcasts.
    */
  def featureChi2(s: SparkSession, d: String): DataFrame = {
    val pres = docs(s, d)
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(Dedup.tokensNE(col("text")))).as("tok"))
    val a = pres.groupBy(col("tok"), col("lang")).agg(count(lit(1)).as("a"))
    val tTok = a.groupBy(col("tok")).agg(sum(col("a")).as("t"))
    val lLang = docs(s, d).groupBy(col("lang")).agg(count(lit(1)).as("ldocs"))
    val nTot = docs(s, d).agg(count(lit(1)).as("n"))
    a.join(tTok, "tok")
      .join(broadcast(lLang), "lang")
      .crossJoin(broadcast(nTot))
      .filter(col("t") > 0 && col("t") < col("n") &&
        col("ldocs") > 0 && col("ldocs") < col("n"))
      .selectExpr("lang", "tok", "a",
        "a * (n - t - ldocs + a) - (t - a) * (ldocs - a) AS diff",
        "t", "ldocs", "n")
      .selectExpr("lang", "tok", "a AS n_docs",
        """round(CAST(n AS DOUBLE) * CAST(diff AS DOUBLE) * CAST(diff AS DOUBLE)
          | / (CAST(t AS DOUBLE) * CAST(n - t AS DOUBLE)
          |    * CAST(ldocs AS DOUBLE) * CAST(n - ldocs AS DOUBLE)), 6) AS chi2""".stripMargin)
      .orderBy(col("lang"), col("tok"))
  }

  /** Top-5 character trigrams per language — the classic n-gram
    * language-ID feature table (what lang_id's heuristic would be
    * trained from at scale). Word-interior trigrams only (words ≥ 3
    * chars), counted in one hash aggregate; the per-language top-5
    * rides the heap-based TopKPerGroup operator, never a per-group
    * sort — the trigram table of a 100 TB multilingual corpus is
    * large, and only k rows per language survive.
    */
  /** The top-5-per-language trigram table without the presentation
    * ordering — shared by [[charNgramProfile]] (the declared feature
    * table) and [[langIdNgram]] (the classifier that consumes it), so
    * the model the classifier scores against can never drift from the
    * model the profile publishes.
    */
  private def ngramProfile(s: SparkSession, d: String): DataFrame = {
    val counts = docs(s, d)
      .select(col("lang"), explode(Dedup.tokensNE(col("text"))).as("w"))
      .filter(length(col("w")) >= 3)
      .select(col("lang"), explode(expr(
        "transform(sequence(1, length(w) - 2), i -> substring(w, i, 3))")).as("tri"))
      .groupBy(col("lang"), col("tri")).agg(count(lit(1)).as("c"))
    graft.plans.TopKPerGroup(counts, Seq("lang"),
        Seq(col("c").desc, col("tri").asc), k = 5)
      .select(col("lang"), col("tri"), col("c"))
  }

  def charNgramProfile(s: SparkSession, d: String): DataFrame =
    ngramProfile(s, d).orderBy(col("lang"), col("c").desc, col("tri"))

  /** The TRAINED n-gram language classifier [[charNgramProfile]] is the
    * model for (closing the loop the profile's scaladoc promises): each
    * doc scores every candidate language by how many of its word-interior
    * trigram OCCURRENCES appear in that language's top-5 profile, and
    * predicts the argmax (ties and the no-trigram case fall to the
    * alphabetically first language — deterministic). Output is the
    * per-doc evaluation row (actual, predicted, score, hit) — the
    * confusion-matrix input a corpus-curation run aggregates.
    *
    * Scale shape: the profile is 5 rows × |langs| — broadcast; scoring
    * is one map-side join + one (doc, lang) aggregate; the candidate
    * fan-out is |langs| per doc (a broadcast nested loop over a tiny
    * dimension); the argmax rides the TopKPerGroup heap at k=1. No
    * all-corpus shuffle beyond the (doc_id, lang)-keyed count.
    */
  def langIdNgram(s: SparkSession, d: String): DataFrame = {
    // r18: ONE trigram explode feeds both the model and the scoring
    // probe. The old shape ran the full corpus explode twice (once
    // inside ngramProfile's (lang, tri) counts, once for the per-doc
    // probe) and pushed the raw position stream into the profile join;
    // now the positions collapse to the (doc_id, lang, tri) grain with
    // map-side partial aggregation first (guide §2.3 aggregate-before-
    // shuffle), the profile counts re-aggregate that cube (Σ over
    // doc_id — counts identical by definition), and the probe joins
    // distinct doc-trigram rows, with occurrence counts recovered as
    // Σ c. The persisted base is a query-local temporary.
    val tris = persistOnce(docs(s, d)
      .select(col("doc_id"), col("lang"), explode(Dedup.tokensNE(col("text"))).as("w"))
      .filter(length(col("w")) >= 3)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(1, length(w) - 2), i -> substring(w, i, 3))")).as("tri"))
      .groupBy(col("doc_id"), col("lang"), col("tri")).agg(count(lit(1)).as("c")))
    // same (lang, tri) counts and the same (c desc, tri asc) top-5 as
    // [[ngramProfile]] — the classifier's model cannot drift from the
    // published profile because both are the identical aggregate
    val prof = graft.plans.TopKPerGroup(
        tris.groupBy(col("lang"), col("tri")).agg(sum(col("c")).as("c")),
        Seq("lang"), Seq(col("c").desc, col("tri").asc), k = 5)
      .select(col("lang").as("cand_lang"), col("tri"))
    val scores = tris.join(broadcast(prof), "tri")
      .groupBy(col("doc_id"), col("cand_lang")).agg(sum(col("c")).as("score"))
    val langs = docs(s, d).select(col("lang").as("cand_lang")).distinct()
    val full = docs(s, d).select(col("doc_id"), col("lang"))
      .crossJoin(broadcast(langs))
      .join(scores, Seq("doc_id", "cand_lang"), "left")
      .na.fill(0L, Seq("score"))
    graft.plans.TopKPerGroup(full, Seq("doc_id"),
        Seq(col("score").desc, col("cand_lang").asc), k = 1)
      .select(col("doc_id"), col("lang"), col("cand_lang").as("pred_lang"),
        col("score"), (col("cand_lang") === col("lang")).as("correct"))
      .orderBy(col("doc_id"))
  }

  // --- registration -----------------------------------------------------

  /** Unigram-distribution drift between two corpus snapshots (even vs odd
    * doc_id — the incremental-ingest split convention), reported as the
    * top-20 tokens by |KL contribution|: the monitor a production feed
    * runs per ingest batch to catch a source going off-distribution
    * before it trains. KL(P_A‖P_B) with add-1 smoothing over the union
    * vocabulary; each token's contribution p·ln(p/q) is computed from
    * exact integer counts against two broadcast scalars and rounded ONCE
    * to integer nano-nats (the docSurprisal micro-nat posture, three
    * more digits because per-token contributions are ~1e-4), so the
    * report is identical on any partitioning. One token hash-aggregate +
    * a broadcast one-row total + TakeOrdered top-20 — two shuffles at
    * any corpus size.
    */
  def tokenKlDrift(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d)
      .select((col("doc_id") % 2 === 0).as("in_a"),
        explode(graft.operators.Dedup.tokensNE(col("text"))).as("tok"))
    klReportOf(toks.groupBy(col("tok")).agg(
      sum(when(col("in_a"), 1L).otherwise(0L)).as("c_a"),
      sum(when(!col("in_a"), 1L).otherwise(0L)).as("c_b")))
  }

  /** The KL report over a prepared (tok, c_a, c_b) count table — shared
    * by the batch query above and the streaming drift monitor
    * ([[graft.streaming.Drift]]), so both publish the identical math.
    */
  private[graft] def klReportOf(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"),
      count(lit(1)).as("v"))
    val p = (col("c_a") + 1).cast("double") / (col("n_a") + col("v"))
    val q = (col("c_b") + 1).cast("double") / (col("n_b") + col("v"))
    counts.crossJoin(broadcast(tot))
      .select(col("tok"), col("c_a"), col("c_b"),
        round(lit(1e9) * p * log(p / q)).cast("long").as("kl_contrib_nano"))
      .orderBy(abs(col("kl_contrib_nano")).desc, col("tok"))
      .limit(20)
  }

  /** Distinct-n diversity ratios per source (the distinct-1/distinct-2
    * metrics text-generation and corpus papers publish): distinct n-gram
    * count over total n-gram occurrences, in exact bp. Low distinct-2 on
    * a source is boilerplate/template spam — the cheap screen that runs
    * before any pairwise dedup. Two count/count-distinct aggregates
    * (partial map-side) joined on the bounded source dimension; a source
    * with no bigrams publishes the vacuous 10000 (the lsh_recall
    * zero-truth posture, mirrored in the oracle).
    */
  def distinctNgrams(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d)
      .select(col("source"), graft.operators.Dedup.tokensNE(col("text")).as("ts"))
    val uni = toks.select(col("source"), explode(col("ts")).as("g"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n1"), countDistinct(col("g")).as("d1"))
    val bi = toks.filter(size(col("ts")) >= 2)
      .select(col("source"), explode(transform(
        sequence(lit(1), size(col("ts")) - 1),
        i => concat_ws(" ", element_at(col("ts"), i),
          element_at(col("ts"), i + 1)))).as("g"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n2"), countDistinct(col("g")).as("d2"))
    uni.join(bi, Seq("source"), "left")
      .select(col("source"), col("n1"), col("d1"),
        when(col("n1") === 0, lit(10000L))
          .otherwise(expr("10000 * d1 div n1")).as("distinct1_bp"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        coalesce(col("d2"), lit(0L)).as("d2"),
        when(coalesce(col("n2"), lit(0L)) === 0, lit(10000L))
          .otherwise(expr("10000 * d2 div n2")).as("distinct2_bp"))
      .orderBy(col("source"))
  }

  /** Cross-document boilerplate 5-gram screen — the CCNet-style shared-
    * span removal signal (Wenzek et al. 2020 dedupe repeated paragraphs
    * across shards; this corpus has no line structure, so the unit is
    * the token 5-gram): a 5-gram occurring in ≥ 3 DISTINCT documents is
    * boilerplate, and the per-source report (position share in bp +
    * distinct boilerplate grams) is the dashboard that decides whether
    * a source needs span-level cleaning before training. Scale shape:
    * the distinct-doc count is a two-level hash aggregate ((gram,
    * doc_id) pre-distinct keeps partial aggregation alive — never a
    * count_distinct over raw positions), and the position↔boilerplate
    * membership test is a plain sort-merge join on the gram key — the
    * boilerplate set is corpus-sized in the worst case (the
    * dup_rate_by_source lesson: membership sets larger than a
    * dimension must NOT be broadcast). Three shuffles at any corpus
    * size; integer bp division.
    */
  def boilerplateNgrams(s: SparkSession, d: String): DataFrame = {
    val t = docs(s, d)
      .select(col("doc_id"), col("source"), Dedup.tokensNE(col("text")).as("ts"))
      .filter(size(col("ts")) >= 5)
    // persisted: g feeds both the ≥3-docs census and the per-source
    // probe — two full explodes otherwise (the boilerplateScrub note)
    val g = persistOnce(t.select(col("doc_id"), col("source"),
      explode(transform(sequence(lit(1), size(col("ts")) - 4),
        i => concat_ws(" ", element_at(col("ts"), i),
          element_at(col("ts"), i + 1), element_at(col("ts"), i + 2),
          element_at(col("ts"), i + 3), element_at(col("ts"), i + 4)))).as("g")))
    val boiler = g.select(col("g"), col("doc_id")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 3)
      .select(col("g"))
    // r17 optimization: the probe joins the ≥3-doc set against the
    // (gram, source) OCCURRENCE COUNTS, not the raw position stream —
    // per-source sums are identical (n_pos = Σ np, boiler positions =
    // Σ np over boilerplate grams), but the join input shrinks from
    // every 5-gram position to the distinct (g, source) pairs and the
    // position-level frame is shuffled once (the pre-aggregate) with
    // map-side partial aggregation instead of raw into the join.
    val gs = g.groupBy(col("g"), col("source")).agg(count(lit(1)).as("np"))
    gs.join(boiler.withColumn("is_b", lit(1L)), Seq("g"), "left")
      .groupBy(col("source"))
      .agg(sum(col("np")).as("n_pos"),
        sum(when(col("is_b").isNotNull, col("np")).otherwise(0L)).as("n_boiler_pos"),
        countDistinct(when(col("is_b").isNotNull, col("g"))).as("n_boiler_grams"))
      .select(col("source"), col("n_pos"), col("n_boiler_pos"),
        expr("10000 * n_boiler_pos div n_pos").as("boiler_bp"),
        col("n_boiler_grams"))
      .orderBy(col("source"))
  }

  /** The SCRUB [[boilerplateNgrams]] motivates — the operator that
    * actually EDITS the corpus (CCNet-style shared-span removal made a
    * rewrite, not just a dashboard): every token position covered by
    * any boilerplate 5-gram occurrence (same ≥3-distinct-docs rule as
    * the report) is dropped, and the document is re-emitted as the
    * ordered remaining tokens plus the removal accounting. Every doc
    * appears — fully-scrubbed docs emit empty text, short docs pass
    * through untouched. Scale shape: the boilerplate set is built with
    * the same two-level hash aggregate as the report; coverage is one
    * sort-merge join on the gram key + one positional anti-join — the
    * membership set is corpus-sized in the worst case and is never
    * broadcast (the dup_rate_by_source lesson); the per-doc
    * re-assembly sorts only within a doc (collect_list of a ≤doc-length
    * struct, the bounded-group contract).
    */
  def boilerplateScrub(s: SparkSession, d: String): DataFrame = {
    // persisted: t feeds the gram explode, the positional re-tokenize
    // AND the final accounting join; g feeds the boilerplate census AND
    // the coverage probe — without storage each consumer re-runs the
    // whole tokenize/explode (the tf_idf lesson; measured after the
    // r16 consumption correction exposed the true cost).
    val t = persistOnce(docs(s, d).select(col("doc_id"), Dedup.tokensNE(col("text")).as("ts")))
    val g = persistOnce(t.filter(size(col("ts")) >= 5)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("ts")) - 4),
        i => struct(i.as("i"), concat_ws(" ", element_at(col("ts"), i),
          element_at(col("ts"), i + 1), element_at(col("ts"), i + 2),
          element_at(col("ts"), i + 3), element_at(col("ts"), i + 4)).as("g")))).as("sg"))
      .select(col("doc_id"), col("sg.i").as("i"), col("sg.g").as("g")))
    val boiler = g.select(col("g"), col("doc_id")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 3).select(col("g"))
    // r17 optimization: the scrub itself is per-doc array work against
    // the doc's own covered-position set — the token stream is NEVER
    // shuffled. The old shape exploded every token into rows, exploded
    // every covered position into rows, corpus-wide-distinct'd them,
    // anti-joined on (doc_id, p) and re-assembled each doc with a
    // collect_list + array_sort: three token-level shuffles plus a
    // per-doc sort, all to compute something each doc can answer
    // locally once it knows its duplicated-span start offsets (≤ len
    // per doc — the bounded-group contract; per-token membership
    // tests are O(covered) over a ≤doc-length array). Only the start
    // offsets of duplicated grams move: one groupBy(doc_id) of the
    // census join's hits.
    val covered = g.join(boiler, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(array_sort(array_distinct(flatten(collect_list(
        sequence(col("i"), col("i") + 4))))).as("cps"))
    t.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_toks"),
        coalesce(col("cps"), typedLit(Array.empty[Int])).as("cps"),
        col("ts"))
      .select(col("doc_id"), col("n_toks"),
        size(col("cps")).cast("long").as("n_removed"),
        // r18 (the r17 verdict's residual): surviving positions via ONE
        // hash-based array_except(sequence(1, n), cps) — O(n + |covered|)
        // per doc — instead of the per-token array_contains scan, which
        // was O(n × |covered|) on a heavily-duplicated long doc.
        // array_except preserves left-operand order and sequence(1, n)
        // is duplicate-free, so the surviving positions (and therefore
        // the joined token text) are byte-identical.
        // (empty-doc guard: sequence(1, 0) is a DESCENDING [1, 0] in
        // Spark, whose positions would not index ts — the CASE keeps
        // the old filter()'s empty-array behaviour)
        when(size(col("ts")) === 0, lit("")).otherwise(
          array_join(transform(
            array_except(sequence(lit(1), size(col("ts"))), col("cps")),
            p => element_at(col("ts"), p)), " ")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Filter-cascade survival funnel — the report a curation pipeline
    * publishes BEFORE committing a rule battery: documents surviving
    * each Gopher rule applied in declared order (length → word-length
    * → stopword → repetition → uniqueness), with the per-stage drop
    * in bp of the PREVIOUS stage's survivors. `quality_filters` says
    * which rules fired per doc; this says where the corpus actually
    * dies, which is what decides rule thresholds and ordering.
    * Single-sourced on [[qualityFlags]] (the oracle shares the same
    * battery CTE), one aggregate over the flag frame, a 6-row result
    * at any corpus size.
    */
  def filterFunnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val f = qualityFlags(s, d)
    val stages = Seq(
      ("1_all", lit(true)),
      ("2_len", col("ok_len")),
      ("3_wordlen", col("ok_len") && col("ok_wordlen")),
      ("4_stop", col("ok_len") && col("ok_wordlen") && col("ok_stop")),
      ("5_rep", col("ok_len") && col("ok_wordlen") && col("ok_stop")
        && col("ok_rep")),
      ("6_uniq", col("kept")))
    val counts = f.agg(
      sum(when(stages.head._2, 1L).otherwise(0L)).as("c0"),
      stages.tail.zipWithIndex.map { case ((_, c), i) =>
        sum(when(c, 1L).otherwise(0L)).as(s"c${i + 1}")
      }: _*).collect()(0) // 1-row funnel scalars
    val ns = (0 until stages.size).map(counts.getLong)
    stages.zipWithIndex.map { case ((name, _), i) =>
      val prev = if (i == 0) ns(0) else ns(i - 1)
      (name, ns(i), if (prev == 0) 0L else 10000L * (prev - ns(i)) / prev)
    }.toDF("stage", "n_surviving", "drop_bp").orderBy(col("stage"))
  }

  /** Vocabulary coverage curve — the tokenizer-budget question made a
    * table ("how big a vocabulary covers X% of the token mass?" — the
    * number that sizes a word-level vocab and explains why subword
    * tokenizers exist: the curve's tail IS the OOV problem): share of
    * all token occurrences covered by the k most frequent types, for
    * k on the power-of-2 ladder. Scale shape: one vocabulary count
    * aggregate, the global frequency rank via the DISTRIBUTED
    * AssignIds range exchange ((count desc, token) total order), and
    * the bounded ~log₂|V|-row ladder fans out as a broadcast
    * theta-join (the rich_club posture). Exact integers; zipf_fit
    * models this same distribution, heaps_law its growth — this is
    * the operational read. */
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vc = docs(s, d)
      .select(explode(Dedup.tokensNE(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val ranked = graft.operators.AssignIds.byOrder(vc,
      Seq(col("c").desc, col("tok")), "rn")
    val tot = vc.agg(sum(col("c")).as("total"), count(lit(1)).as("n_vocab"))
    // ONE broadcast theta-join over the ranked table (the rich_club
    // ladder idiom): each rank row fans out to every cutoff it covers,
    // so the AssignIds range-exchange subtree evaluates once — a
    // per-cutoff union of aggregates would re-run it |ladder| times.
    // rn starts at 1, so every k >= 1 keeps >= 1 row on a non-empty
    // vocabulary and the group-by never drops a ladder rung.
    val ks = broadcast((0 to 9).map(1L << _).toDF("k"))
    val ladder = ranked.join(ks, col("rn") <= col("k"))
      .groupBy(col("k")).agg(sum(col("c")).as("covered"))
    // Left-join the ladder back onto the full rung set: on an EMPTY
    // vocabulary the theta-join above emits zero rows, but the contract
    // (and the DuckDB oracle's ks CROSS JOIN tot LEFT JOIN r) is all 10
    // rungs with covered = 0. On any non-empty vocabulary rn starts at
    // 1, so every rung already survives and this join is the identity.
    // Both sides are ≤ 10 rows — the broadcast is a constant.
    val full = ks.join(broadcast(ladder), Seq("k"), "left")
    full.crossJoin(broadcast(tot))
      .select(col("k"), least(col("k"), col("n_vocab")).as("n_types"),
        coalesce(col("covered"), lit(0L)).as("n_tokens_covered"),
        expr("10000 * coalesce(covered, 0) div total").as("share_bp"))
      .orderBy(col("k"))
  }

  /** Pairwise source-vocabulary overlap — the redundancy matrix at
    * SOURCE granularity (source_dedup_matrix reports doc-level
    * copying; this reports whether two sources even speak the same
    * vocabulary — the signal that decides if they compete for the
    * same mixture slot or cover different domains): exact Jaccard of
    * the per-source distinct-token sets, in bp, for every source
    * pair. Scale shape: the (token, source) distinct table is
    * vocabulary-bounded; intersections come from ONE explode of each
    * token's ≤|sources| sorted source list into ordered pairs (the
    * dedup bucket posture — never a vocab×vocab self-join), unions
    * via |A|+|B|−|A∩B| from the broadcast dimension-sized vocab
    * sizes. Output is sources²/2 rows — dimension scale at any
    * corpus size.
    */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    val ts = docs(s, d)
      .select(col("source"), explode(Dedup.tokensNE(col("text"))).as("tok"))
      .distinct()
    val sizes = ts.groupBy(col("source")).agg(count(lit(1)).as("nv"))
    val inter = ts.groupBy(col("tok"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) > 1)
      .select(explode(expr(
        "flatten(transform(ss, (a, i) -> transform(slice(ss, i + 2," +
          " size(ss)), b -> struct(a AS s1, b AS s2))))")).as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("source").as("s1"), col("nv").as("n1"))), "s1")
      .join(broadcast(sizes.select(col("source").as("s2"), col("nv").as("n2"))), "s2")
      .select(col("s1"), col("s2"), col("n_common"),
        expr("10000 * n_common div (n1 + n2 - n_common)").as("jaccard_bp"))
      .orderBy(col("s1"), col("s2"))
  }

  /** Ingest-order n-gram novelty — the "what does this document ADD"
    * screen behind dedup-aware data valuation (a doc whose 8-grams all
    * appeared in earlier docs contributes nothing a memorizing model
    * hasn't seen; the planted near-duplicates read exactly 0 bp):
    * per doc, the fraction of its 8-gram positions whose gram's FIRST
    * occurrence (min doc_id — ingest order) is this doc. One gram
    * aggregate for the first-occurrence table + one sort-merge join
    * back (first-occurrence is corpus-sized — never broadcast, the
    * dup_rate_by_source lesson) + a per-doc aggregate; exact bp.
    * Complements [[distinctNgrams]] (within-source diversity) and
    * `duplicate_spans` (who copied what) with the marginal-value view.
    */
  def ngramNovelty(s: SparkSession, d: String): DataFrame = {
    val g = docs(s, d)
      .select(col("doc_id"), col("source"), Dedup.tokensNE(col("text")).as("ts"))
      .filter(size(col("ts")) >= 8)
      .select(col("doc_id"), col("source"),
        explode(transform(sequence(lit(1), size(col("ts")) - 7),
          i => concat_ws(" ", (0 to 7).map(k =>
            element_at(col("ts"), i + k)): _*))).as("g"))
    // r18: first-occurrence as a gram-partitioned window MIN instead of
    // a self-join against a separate min-aggregate. The old shape
    // evaluated the 8-gram explode TWICE (the aggregate side and the
    // join side — no common-subtree reuse across join inputs) and
    // shuffled three times (groupBy g, join g, groupBy doc); the window
    // computes fd on the one g-keyed exchange the first occurrence
    // fundamentally needs, so the explode runs once and the query is
    // two exchanges total (guide §2.4 — share one exchange between
    // operations keyed the same way). min-over-partition == the joined
    // min-aggregate row-for-row.
    val w = Window.partitionBy(col("g"))
    g.withColumn("fd", min(col("doc_id")).over(w))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("source"), col("n_grams"), col("n_novel"),
        expr("10000 * n_novel div n_grams").as("novelty_bp"))
      .orderBy(col("doc_id"))
  }

  /** TextTiling-style topic-boundary detection (Hearst 1997, the
    * block-comparison core): cut each ≥40-token document into 10-token
    * blocks, score every inter-block gap by the exact Jaccard (in bp)
    * of the adjacent blocks' distinct-token bags, and report the
    * LOWEST-cohesion gap — the position a segmentation pass would cut
    * first (RAG chunkers use exactly this signal to cut at topic
    * shifts instead of fixed strides; compare [[Curation]]'s
    * chunk_windows/chunk_overlap fixed cuts). Map-only per-doc block
    * algebra (slice + array_intersect/union — no joins at all), then
    * the per-doc argmin on the TopKPerGroup heap; (sim asc, gap)
    * tie-break keeps the cut deterministic.
    */
  def topicBoundaries(s: SparkSession, d: String): DataFrame = {
    val gaps = docs(s, d)
      .select(col("doc_id"), Dedup.tokensNE(col("text")).as("ts"))
      .filter(size(col("ts")) >= 40)
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(1), expr("size(ts) div 10") - 1)).as("gap"))
      .select(col("doc_id"), col("gap"),
        expr("array_distinct(slice(ts, (gap - 1) * 10 + 1, 10))").as("b1"),
        expr("array_distinct(slice(ts, gap * 10 + 1, 10))").as("b2"))
      .select(col("doc_id"), col("gap"),
        expr("10000 * size(array_intersect(b1, b2))" +
          " div size(array_union(b1, b2))").as("sim_bp"))
    graft.plans.TopKPerGroup(gaps, Seq("doc_id"),
        Seq(col("sim_bp").asc, col("gap")), 1)
      .select(col("doc_id"), col("gap").cast("long").as("boundary_gap"),
        col("sim_bp"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-wide heavy-hitter bigrams — the boilerplate-phrase screen
    * at bounded memory: which bigrams occupy more than 1/1024 of all
    * bigram slots, found via the two-pass Misra-Gries shape
    * ([[graft.operators.HeavyHitters]] — per-partition k-counter
    * summaries whose union provably contains every key above N/(k+1),
    * then exact counts of the broadcast candidates only). The final
    * `cnt > N div k` closure makes the output exact and
    * partitioning-invariant whatever superset pass 1 produced, so the
    * DuckDB oracle is the plain HAVING query; what the operator buys at
    * 100 TB is the aggregate state bound — tasks×k candidate rows
    * through the shuffle instead of the full bigram cardinality
    * (vocabulary², which at web scale does not fit a hash aggregate).
    */
  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = docs(s, d).select(Dedup.tokensNE(col("text")).as("ts"),
        size(Dedup.tokensNE(col("text"))).as("l"))
      .filter(col("l") >= 2)
    val bigrams = t.select(explode(zip_with(
        slice(col("ts"), lit(1), col("l") - 1), slice(col("ts"), lit(2), col("l") - 1),
        (a, b) => concat_ws(" ", a, b))).as("bg"))
      .select(col("bg")).as[String]
    graft.operators.HeavyHitters.topOver(bigrams, k = 1024)
      .select(col("item").as("bigram"), col("cnt"))
      .orderBy(col("bigram"))
  }

  /** The (seed, multiplier) spec of the d=4 independent polynomial
    * hashes behind [[cmsEstimate]] — the same djb2-family mod-2^31
    * arithmetic both engines already pin for `hashed_features`, with
    * per-row constants so the rows are independent.
    */
  private val CmsHashes = Seq((5381L, 33L), (4241L, 31L), (7919L, 37L), (104729L, 29L))
  private val CmsWidth = 16

  /** Count-min sketch point estimates — the mergeable approximate
    * COUNTER completing the sketch family (HLL = distinct cardinality,
    * Misra-Gries = exact-threshold heavy keys, CM = per-key frequency
    * without storing keys): a d=4 × w=16 cell grid where cell (j, b)
    * sums every token whose j-th polynomial hash lands in bucket b, and
    * a key's estimate is the MIN over its d cells. The grid is 64 longs
    * at ANY corpus size — per-partition grids sum cell-wise (map-side
    * combine is literally the merge operation), which is why CM is the
    * standard distributed/streaming counter. Published per token:
    * exact count, estimate, and the overcount (est − exact ≥ 0 always —
    * the one-sided error CM guarantees deterministically; the ε = e/w
    * magnitude bound is probabilistic and is what w buys at production
    * size). w=16 on the fixture's 31-token vocabulary forces real
    * collisions so the overcount column demonstrates the error
    * structure instead of degenerating to zero. Everything is exact
    * integer arithmetic — DuckDB re-runs the identical grid.
    */
  def cmsEstimate(s: SparkSession, d: String): DataFrame = {
    val M = lit(2147483648L) // 2^31, the fingerprint modulus both engines pin
    def h(t: org.apache.spark.sql.Column, seed: Long, mult: Long) =
      (aggregate(split(t, ""), lit(seed),
        (acc, ch) => (acc * mult + ascii(ch)) % M) % CmsWidth).cast("int")
    val toks = docs(s, d).select(explode(Dedup.tokensNE(col("text"))).as("t"))
    def buckets(t: org.apache.spark.sql.Column) =
      posexplode(array(CmsHashes.map { case (s0, m) => h(t, s0, m) }: _*))
    // r18: the grid is built from the exact per-token counts, not the
    // raw occurrence stream — cell (j, b) = Σ c_exact over tokens
    // hashing to b under h_j, identical to counting occurrences
    // directly (marginals-from-the-cube, guide §2.3). The d×w hashes
    // (an interpreted aggregate-over-characters HOF each) now run once
    // per DISTINCT token instead of once per occurrence, the corpus is
    // exploded once instead of twice, and the exact aggregate is shared
    // by both consumers via the cache (query-local).
    val exact = persistOnce(toks.groupBy(col("t")).agg(count(lit(1)).as("c_exact")))
    val cells = exact.select(col("c_exact"), buckets(col("t")).as(Seq("row_id", "bucket")))
      .groupBy(col("row_id"), col("bucket")).agg(sum(col("c_exact")).as("c"))
    exact.select(col("t"), col("c_exact"),
        buckets(col("t")).as(Seq("row_id", "bucket")))
      .join(broadcast(cells), Seq("row_id", "bucket"))
      .groupBy(col("t"), col("c_exact")).agg(min(col("c")).as("c_est"))
      .select(col("t").as("tok"), col("c_exact"), col("c_est"),
        (col("c_est") - col("c_exact")).as("overcount"))
      .orderBy(col("tok"))
  }

  /** AMS second-frequency-moment sketch (Alon–Matias–Szegedy 1996 —
    * the F2 estimator that sizes self-joins and detects skew in one
    * constant-size summary): Z_r = Σ_t s_r(t)·c(t) under d = 4
    * independent ±1 sign hashes (the same djb2-family (seed, mult)
    * rows the count-min grid pins — sign = parity of the hash), est =
    * mean of the four Z_r², published beside the EXACT F2 = Σ c(t)²
    * with the error in bp. Each Z_r is ONE map-side-combinable sum
    * over token occurrences (the sketch state is 4 longs at any
    * corpus size — the HLL/MG/CMS mergeability discipline; E[Z²] = F2
    * exactly, which the spec checks on the fixture); the exact side
    * is the usual two-level count aggregate. All integers end to end.
    * Sign extraction folds the hash through an ODD prime before the
    * parity bit: the raw mod-2^31 djb2 parity collapses to the
    * character-sum parity for every odd multiplier (a·m+b ≡ a+b mod 2
    * and 2^31 is even), which would make all four "independent" rows
    * the SAME estimator — a measured bug, fixed here; the odd-prime
    * fold mixes every hash bit into the sign.
    */
  def amsF2(s: SparkSession, d: String): DataFrame = {
    val M = lit(2147483648L)
    def sign(t: org.apache.spark.sql.Column, seed: Long, mult: Long) =
      when(aggregate(split(t, ""), lit(seed),
        (acc, ch) => (acc * mult + ascii(ch)) % M)
        % lit(1000000007L) % 2 === 0, lit(1L))
        .otherwise(lit(-1L))
    val toks = docs(s, d).select(explode(Dedup.tokensNE(col("text"))).as("t"))
    val zCols = CmsHashes.zipWithIndex.map { case ((s0, m), i) =>
      sum(sign(col("t"), s0, m)).as(s"z$i")
    }
    val z = toks.agg(zCols.head, zCols.tail: _*)
    val exact = toks.groupBy(col("t")).agg(count(lit(1)).as("c"))
      .agg(sum((col("c") * col("c")).cast("decimal(38,0)")).as("f2"))
    z.crossJoin(broadcast(exact))
      .select(col("f2"),
        expr("(CAST(z0 AS DECIMAL(38,0)) * z0 + CAST(z1 AS DECIMAL(38,0)) * z1" +
          " + CAST(z2 AS DECIMAL(38,0)) * z2 + CAST(z3 AS DECIMAL(38,0)) * z3)" +
          " div 4").as("est"))
      .select(expr("CAST(f2 AS BIGINT)").as("exact_f2"),
        expr("CAST(est AS BIGINT)").as("est_f2"),
        expr("CAST((10000 * abs(CAST(est AS DECIMAL(38,0)) - f2)) div f2 AS BIGINT)")
          .as("err_bp"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ams_f2" -> amsF2,
    "filter_funnel" -> filterFunnel,
    "source_overlap" -> sourceOverlap,
    "vocab_coverage" -> vocabCoverage,
    "ngram_novelty" -> ngramNovelty,
    "topic_boundaries" -> topicBoundaries,
    "cms_estimate" -> cmsEstimate,
    "boilerplate_ngrams" -> boilerplateNgrams,
    "boilerplate_scrub" -> boilerplateScrub,
    "heavy_hitters" -> heavyHitters,
    "token_kl_drift" -> tokenKlDrift,
    "distinct_ngrams" -> distinctNgrams,
    "quality_filters" -> qualityFilters,
    "quality_model_train" -> qualityModelTrain,
    "quality_model_score" -> qualityModelScore,
    "quality_model_agreement" -> qualityModelAgreement,
    "quality_model_calibration" -> qualityModelCalibration,
    "quality_model_roc" -> qualityModelRoc,
    "source_mix_report" -> sourceMixReport,
    "repetition_ngram" -> repetitionNgram,
    "hll_merge" -> hllMerge,
    "hll_intersect" -> hllIntersect,
    "neardup_knn" -> neardupKnn,
    "contamination_check" -> contaminationCheck,
    "decontaminate_train" -> decontaminateTrain,
    "doc_surprisal" -> docSurprisal,
    "bigram_surprisal" -> bigramSurprisal,
    "perplexity_filter" -> perplexityFilter,
    "perplexity_by_source" -> perplexityBySource,
    "mixture_weights" -> mixtureWeights,
    "bpe_fertility" -> bpeFertility,
    "corpus_stats" -> corpusStats,
    "positional_index" -> positionalIndex,
    "phrase_search" -> phraseSearch,
    "bigram_lm_topk" -> bigramLmTopk,
    "typo_pairs" -> typoPairs,
    "token_count_bpe" -> tokenCountBpe,
    "token_count_bpe_bytes" -> tokenCountBpeBytes,
    "bpe_fertility_bytes" -> bpeFertilityBytes,
    "bpe_word_tokens" -> bpeWordTokens,
    "zipf_fit" -> zipfFit,
    "heaps_law" -> heapsLaw,
    "mutual_info" -> mutualInfo,
    "hhi_sources" -> hhiSources,
    "log_odds_tokens" -> logOddsTokens,
    "dataset_card" -> datasetCard,
    "effective_sources" -> effectiveSources,
    "feature_chi2" -> featureChi2,
    "char_ngram_profile" -> charNgramProfile,
    "lang_id_ngram" -> langIdNgram,
  )

  private val ToksNE = Shared.ToksNE

  /** The Gopher-battery per-doc CTE block (t, g, p), single-sourced so
    * the quality_filters and source_mix_report oracles (and [[Safety]]'s
    * curation-funnel oracle) can never drift from each other (the Spark
    * side shares [[qualityFlags]] the same way).
    */
  private[queries] val QualityBatteryCte =
    s"""t AS (SELECT doc_id, unnest($ToksNE) AS tok FROM documents),
       |g AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
       |p AS (SELECT doc_id, sum(c)::BIGINT AS n, count(*)::BIGINT AS n_uniq,
       |        max(c)::BIGINT AS maxc, sum(length(tok) * c)::BIGINT AS sum_len,
       |        coalesce(sum(c) FILTER (WHERE tok IN ('a', 'the')), 0)::BIGINT AS n_stop
       |      FROM g GROUP BY 1)""".stripMargin

  /** The trained-quality-model chain, single-sourced for its three
    * oracles: battery labels (±1), hashed per-mille ratios, floor-div
    * class centroids (w = 0 on a one-class corpus, the LEFT JOIN ON
    * true spelling so the 64 rows survive a missing class), the score
    * pass, and the 257-rung threshold ERM — every stage the exact
    * integer arithmetic the Spark side runs.
    */
  private val QmChainCte: String =
    s"""$QualityBatteryCte,
       |lab AS (SELECT doc_id, CASE WHEN (n BETWEEN 5 AND 100000)
       |    AND (10 * sum_len >= 30 * n AND 10 * sum_len <= 100 * n)
       |    AND (50 * n_stop >= n) AND (5 * maxc < n) AND (10 * n_uniq >= n)
       |  THEN 1::BIGINT ELSE (-1)::BIGINT END AS y FROM p),
       |hb AS (SELECT doc_id,
       |    (list_reduce(list_prepend(5381::BIGINT,
       |       list_transform(string_split(tok, ''), c -> ord(c)::BIGINT)),
       |       (a, b) -> (a * 33 + b) % 2147483648) % 64)::INT AS bucket
       |  FROM t),
       |tfq AS (SELECT doc_id, bucket, count(*)::BIGINT AS tf FROM hb GROUP BY 1, 2),
       |nn AS (SELECT doc_id, sum(tf)::BIGINT AS nt FROM tfq GROUP BY 1),
       |fx AS (SELECT tfq.doc_id, bucket, (1000 * tf // nt)::BIGINT AS x
       |       FROM tfq JOIN nn USING (doc_id)),
       |fl AS (SELECT fx.doc_id, fx.bucket, fx.x, lab.y
       |       FROM fx JOIN lab USING (doc_id)),
       |cc AS (SELECT y, count(*)::BIGINT AS c FROM lab GROUP BY 1),
       |ct AS (SELECT y, bucket, sum(x)::BIGINT AS sx FROM fl GROUP BY 1, 2),
       |wv AS (SELECT b.i - 1 AS bucket,
       |    (CASE WHEN cp.c IS NULL OR cn.c IS NULL THEN 0
       |          ELSE coalesce(sp.sx, 0) // cp.c - coalesce(sn.sx, 0) // cn.c
       |     END)::BIGINT AS w
       |  FROM range(1, 65) b(i)
       |  LEFT JOIN (SELECT c FROM cc WHERE y = 1) cp ON true
       |  LEFT JOIN (SELECT c FROM cc WHERE y = -1) cn ON true
       |  LEFT JOIN (SELECT bucket, sx FROM ct WHERE y = 1) sp
       |    ON sp.bucket = b.i - 1
       |  LEFT JOIN (SELECT bucket, sx FROM ct WHERE y = -1) sn
       |    ON sn.bucket = b.i - 1),
       |sc AS (SELECT lab.doc_id, lab.y,
       |    coalesce(sum(fx.x * wv.w), 0)::BIGINT AS s
       |  FROM lab LEFT JOIN fx USING (doc_id)
       |  LEFT JOIN wv ON wv.bucket = fx.bucket
       |  GROUP BY 1, 2),
       |mm AS (SELECT min(s) AS smin, max(s) AS smax FROM sc),
       |grid AS (SELECT (smin - 1 + j.i * (smax - smin + 2) // 256)::BIGINT AS theta
       |         FROM range(0, 257) j(i) CROSS JOIN mm),
       |er AS (SELECT theta, sum(CASE WHEN y = 1 AND s <= theta THEN 1
       |                              WHEN y = -1 AND s > theta THEN 1
       |                              ELSE 0 END)::BIGINT AS err
       |       FROM grid CROSS JOIN sc GROUP BY 1),
       |th AS (SELECT theta FROM er ORDER BY err, theta LIMIT 1)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "quality_model_train" ->
      s"""WITH $QmChainCte
         |SELECT dim, value FROM (
         |  SELECT bucket::INT AS dim, w::BIGINT AS value FROM wv
         |  UNION ALL SELECT 64, theta FROM th)
         |ORDER BY dim""".stripMargin,
    "quality_model_score" ->
      s"""WITH $QmChainCte
         |SELECT sc.doc_id, sc.s AS score, sc.s > th.theta AS pred_kept
         |FROM sc CROSS JOIN th ORDER BY doc_id""".stripMargin,
    "quality_model_roc" ->
      """WITH sc AS (SELECT q.doc_id,
        |    CASE WHEN f.kept THEN 1 ELSE -1 END AS y, q.score AS s
        |  FROM read_parquet('{OUT}/quality_model_score/*.parquet') q
        |  JOIN read_parquet('{OUT}/quality_filters/*.parquet') f USING (doc_id)),
        |mm AS (SELECT min(s) AS smin, max(s) AS smax FROM sc),
        |grid AS (SELECT DISTINCT
        |    smin - 1 + (t.i * (smax - smin + 2)) // 256 AS theta
        |  FROM mm, range(0, 257) t(i)),
        |pn AS (SELECT sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)::BIGINT AS p,
        |    sum(CASE WHEN y = -1 THEN 1 ELSE 0 END)::BIGINT AS n FROM sc)
        |SELECT theta::BIGINT AS theta,
        |  sum(CASE WHEN y = 1 AND s > theta THEN 1 ELSE 0 END)::BIGINT AS n_tp,
        |  sum(CASE WHEN y = -1 AND s > theta THEN 1 ELSE 0 END)::BIGINT AS n_fp,
        |  (10000 * sum(CASE WHEN y = 1 AND s > theta THEN 1 ELSE 0 END)
        |     // greatest(any_value(p), 1))::BIGINT AS tpr_bp,
        |  (10000 * sum(CASE WHEN y = -1 AND s > theta THEN 1 ELSE 0 END)
        |     // greatest(any_value(n), 1))::BIGINT AS fpr_bp
        |FROM sc CROSS JOIN grid CROSS JOIN pn
        |GROUP BY theta ORDER BY theta""".stripMargin,
    "quality_model_calibration" ->
      s"""WITH $QmChainCte,
         |rk AS (SELECT y, s,
         |    row_number() OVER (ORDER BY s DESC, doc_id) AS rn,
         |    count(*) OVER () AS nr
         |  FROM sc),
         |dq AS (SELECT ((rn - 1) * 10 // nr)::INT AS decile, y, s FROM rk)
         |SELECT decile, count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |  (10000 * sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) // count(*))::BIGINT
         |    AS kept_bp,
         |  sum(s)::BIGINT AS sum_score
         |FROM dq GROUP BY 1 ORDER BY decile""".stripMargin,
    "quality_model_agreement" ->
      s"""WITH $QmChainCte,
         |cf AS (SELECT count(*)::BIGINT AS n,
         |    sum(CASE WHEN y = 1 AND s > theta THEN 1 ELSE 0 END)::BIGINT AS tp,
         |    sum(CASE WHEN y = -1 AND s > theta THEN 1 ELSE 0 END)::BIGINT AS fp,
         |    sum(CASE WHEN y = 1 AND s <= theta THEN 1 ELSE 0 END)::BIGINT AS fn,
         |    sum(CASE WHEN y = -1 AND s <= theta THEN 1 ELSE 0 END)::BIGINT AS tn
         |  FROM sc CROSS JOIN th),
         |k AS (SELECT n, tp, fp, fn, tn,
         |    ((tp + fn)::HUGEINT * (tp + fp)
         |     + (tn + fp)::HUGEINT * (tn + fn)) AS src
         |  FROM cf)
         |SELECT n, tp, fp, fn, tn,
         |  (10000 * (tp + tn)::HUGEINT // n)::BIGINT AS acc_bp,
         |  (CASE WHEN n::HUGEINT * n = src THEN 0
         |        ELSE (1000000 * ((tp + tn)::HUGEINT * n - src))
         |             // (n::HUGEINT * n - src) END)::BIGINT AS kappa_micro
         |FROM k""".stripMargin,
    "ams_f2" ->
      s"""WITH t AS (SELECT unnest($ToksNE) AS tok FROM documents),
         |hp AS (SELECT * FROM (VALUES (0, 5381, 33), (1, 4241, 31),
         |        (2, 7919, 37), (3, 104729, 29)) v(row_id, seed, mult)),
         |sg AS (SELECT hp.row_id,
         |    CASE WHEN list_reduce(list_prepend(hp.seed::BIGINT,
         |       list_transform(string_split(t.tok, ''), c -> ord(c)::BIGINT)),
         |       (a, b) -> (a * hp.mult + b) % 2147483648)
         |       % 1000000007 % 2 = 0
         |    THEN 1 ELSE -1 END AS s
         |  FROM t CROSS JOIN hp),
         |z AS (SELECT row_id, sum(s)::HUGEINT AS z FROM sg GROUP BY 1),
         |est AS (SELECT sum(z * z) // 4 AS est FROM z),
         |ex AS (SELECT sum(c * c)::HUGEINT AS f2
         |       FROM (SELECT count(*)::BIGINT AS c FROM t GROUP BY tok))
         |SELECT f2::BIGINT AS exact_f2, est::BIGINT AS est_f2,
         |  ((10000 * abs(est - f2)) // f2)::BIGINT AS err_bp
         |FROM est, ex""".stripMargin,
    "filter_funnel" ->
      s"""WITH $QualityBatteryCte,
         |fl AS (SELECT doc_id,
         |    (n BETWEEN 5 AND 100000) AS ok_len,
         |    (10 * sum_len >= 30 * n AND 10 * sum_len <= 100 * n) AS ok_wordlen,
         |    (50 * n_stop >= n) AS ok_stop,
         |    (5 * maxc < n) AS ok_rep,
         |    (10 * n_uniq >= n) AS ok_uniq
         |  FROM p),
         |c AS (SELECT count(*)::BIGINT AS c0,
         |    sum(CASE WHEN ok_len THEN 1 ELSE 0 END)::BIGINT AS c1,
         |    sum(CASE WHEN ok_len AND ok_wordlen THEN 1 ELSE 0 END)::BIGINT AS c2,
         |    sum(CASE WHEN ok_len AND ok_wordlen AND ok_stop
         |        THEN 1 ELSE 0 END)::BIGINT AS c3,
         |    sum(CASE WHEN ok_len AND ok_wordlen AND ok_stop AND ok_rep
         |        THEN 1 ELSE 0 END)::BIGINT AS c4,
         |    sum(CASE WHEN ok_len AND ok_wordlen AND ok_stop AND ok_rep
         |        AND ok_uniq THEN 1 ELSE 0 END)::BIGINT AS c5
         |  FROM fl)
         |SELECT stage, ns AS n_surviving,
         |  (CASE WHEN prev = 0 THEN 0
         |        ELSE 10000 * (prev - ns) // prev END)::BIGINT AS drop_bp
         |FROM (SELECT unnest(['1_all', '2_len', '3_wordlen', '4_stop',
         |               '5_rep', '6_uniq']) AS stage,
         |             unnest([c0, c1, c2, c3, c4, c5]) AS ns,
         |             unnest([c0, c0, c1, c2, c3, c4]) AS prev
         |      FROM c)
         |ORDER BY stage""".stripMargin,
    "vocab_coverage" ->
      s"""WITH t AS (SELECT unnest($ToksNE) AS tok FROM documents),
         |vc AS (SELECT tok, count(*)::BIGINT AS c FROM t GROUP BY 1),
         |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rn FROM vc),
         |tot AS (SELECT sum(c)::BIGINT AS total, count(*)::BIGINT AS n_vocab
         |        FROM vc),
         |ks AS (SELECT unnest([1, 2, 4, 8, 16, 32, 64, 128, 256, 512])::BIGINT
         |         AS k)
         |SELECT k, least(k, n_vocab)::BIGINT AS n_types,
         |  coalesce(sum(r.c), 0)::BIGINT AS n_tokens_covered,
         |  (10000 * coalesce(sum(r.c), 0) // total)::BIGINT AS share_bp
         |FROM ks CROSS JOIN tot LEFT JOIN r ON r.rn <= ks.k
         |GROUP BY k, n_vocab, total ORDER BY k""".stripMargin,
    "source_overlap" ->
      s"""WITH ts AS (SELECT DISTINCT source, unnest($ToksNE) AS tok
         |            FROM documents),
         |sz AS (SELECT source, count(*)::BIGINT AS nv FROM ts GROUP BY 1),
         |inter AS (SELECT a.source AS s1, b.source AS s2,
         |    count(*)::BIGINT AS n_common
         |  FROM ts a JOIN ts b ON a.tok = b.tok AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT s1, s2, n_common,
         |  (10000 * n_common // (z1.nv + z2.nv - n_common))::BIGINT AS jaccard_bp
         |FROM inter JOIN sz z1 ON z1.source = inter.s1
         |JOIN sz z2 ON z2.source = inter.s2
         |ORDER BY s1, s2""".stripMargin,
    "ngram_novelty" ->
      s"""WITH t AS (SELECT doc_id, source, $ToksNE AS ts FROM documents),
         |g AS (SELECT doc_id, source,
         |        unnest(list_transform(range(1, len(ts) - 6),
         |          i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' '
         |               || ts[i+3] || ' ' || ts[i+4] || ' ' || ts[i+5] || ' '
         |               || ts[i+6] || ' ' || ts[i+7])) AS g
         |      FROM t WHERE len(ts) >= 8),
         |f AS (SELECT g, min(doc_id) AS fd FROM g GROUP BY 1)
         |SELECT doc_id, source, count(*)::BIGINT AS n_grams,
         |  sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
         |  (10000 * sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END)
         |     // count(*))::BIGINT AS novelty_bp
         |FROM g JOIN f USING (g) GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    "topic_boundaries" ->
      s"""WITH t AS (SELECT doc_id, $ToksNE AS ts FROM documents),
         |gp AS (SELECT doc_id,
         |         unnest(range(1, len(ts) // 10)) AS gap, ts
         |       FROM t WHERE len(ts) >= 40),
         |sim AS (SELECT doc_id, gap,
         |    (10000 * len(list_intersect(
         |       list_distinct(ts[(gap - 1) * 10 + 1 : (gap - 1) * 10 + 10]),
         |       list_distinct(ts[gap * 10 + 1 : gap * 10 + 10])))
         |     // len(list_distinct(ts[(gap - 1) * 10 + 1 : (gap - 1) * 10 + 10]
         |          || ts[gap * 10 + 1 : gap * 10 + 10])))::BIGINT AS sim_bp
         |  FROM gp)
         |SELECT doc_id, gap::BIGINT AS boundary_gap, sim_bp FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY doc_id ORDER BY sim_bp, gap) AS rn FROM sim)
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "cms_estimate" ->
      s"""WITH t AS (SELECT unnest($ToksNE) AS tok FROM documents),
         |hp AS (SELECT * FROM (VALUES (0, 5381, 33), (1, 4241, 31),
         |        (2, 7919, 37), (3, 104729, 29)) v(row_id, seed, mult)),
         |hh AS (SELECT t.tok, hp.row_id,
         |    (list_reduce(list_prepend(hp.seed::BIGINT,
         |       list_transform(string_split(t.tok, ''), c -> ord(c)::BIGINT)),
         |       (a, b) -> (a * hp.mult + b) % 2147483648) % 16)::INT AS bucket
         |  FROM t CROSS JOIN hp),
         |cells AS (SELECT row_id, bucket, count(*) AS c FROM hh GROUP BY 1, 2),
         |v AS (SELECT DISTINCT tok, row_id, bucket FROM hh),
         |est AS (SELECT v.tok, min(cells.c) AS c_est
         |        FROM v JOIN cells USING (row_id, bucket) GROUP BY 1),
         |exact AS (SELECT tok, count(*) AS c_exact FROM t GROUP BY 1)
         |SELECT e.tok, e.c_exact::BIGINT AS c_exact, est.c_est::BIGINT AS c_est,
         |  (est.c_est - e.c_exact)::BIGINT AS overcount
         |FROM exact e JOIN est USING (tok) ORDER BY tok""".stripMargin,
    "heavy_hitters" ->
      s"""WITH t AS (SELECT $ToksNE AS ts FROM documents),
         |b AS (SELECT unnest(list_transform(range(1, len(ts)),
         |        i -> ts[i] || ' ' || ts[i+1])) AS bg
         |      FROM t WHERE len(ts) >= 2),
         |tot AS (SELECT count(*) AS n FROM b)
         |SELECT bg AS bigram, count(*)::BIGINT AS cnt
         |FROM b, tot GROUP BY bg, tot.n HAVING count(*) > tot.n // 1024
         |ORDER BY bigram""".stripMargin,
    "boilerplate_ngrams" ->
      s"""WITH t AS (SELECT doc_id, source, $ToksNE AS ts FROM documents),
         |g AS (SELECT doc_id, source,
         |        unnest(list_transform(range(1, len(ts) - 3),
         |          i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' '
         |               || ts[i+3] || ' ' || ts[i+4])) AS g
         |      FROM t WHERE len(ts) >= 5),
         |b AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd
         |                     FROM g GROUP BY 1) WHERE nd >= 3)
         |SELECT source, count(*)::BIGINT AS n_pos,
         |  sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_boiler_pos,
         |  (10000 * sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END)
         |     // count(*))::BIGINT AS boiler_bp,
         |  count(DISTINCT CASE WHEN b.g IS NOT NULL THEN g.g END)::BIGINT
         |    AS n_boiler_grams
         |FROM g LEFT JOIN b USING (g) GROUP BY source ORDER BY source""".stripMargin,
    // same gram unit + >=3-distinct-docs rule as the report; coverage =
    // every position inside a boilerplate gram occurrence
    "boilerplate_scrub" ->
      s"""WITH t AS (SELECT doc_id, $ToksNE AS ts FROM documents),
         |g AS (SELECT doc_id, i, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
         |        || ' ' || ts[i+3] || ' ' || ts[i+4] AS g
         |      FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 3)) AS i
         |            FROM t WHERE len(ts) >= 5)),
         |b AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd
         |                     FROM g GROUP BY 1) WHERE nd >= 3),
         |cov AS (SELECT DISTINCT doc_id, i + r.off AS p
         |        FROM g JOIN b USING (g), range(0, 5) r(off)),
         |tok AS (SELECT doc_id, unnest(ts) AS tok,
         |          unnest(range(1, len(ts) + 1)) AS p FROM t),
         |k AS (SELECT tok.doc_id, count(*)::BIGINT AS n_kept,
         |        string_agg(tok.tok, ' ' ORDER BY tok.p) AS txt
         |      FROM tok LEFT JOIN cov
         |        ON tok.doc_id = cov.doc_id AND tok.p = cov.p
         |      WHERE cov.p IS NULL GROUP BY 1)
         |SELECT t.doc_id, len(ts)::BIGINT AS n_toks,
         |  (len(ts) - coalesce(k.n_kept, 0))::BIGINT AS n_removed,
         |  coalesce(k.txt, '') AS clean_text
         |FROM t LEFT JOIN k ON t.doc_id = k.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    "distinct_ngrams" ->
      s"""WITH t AS (SELECT source, $ToksNE AS ts FROM documents),
         |u AS (SELECT source, count(*)::BIGINT AS n1,
         |        count(DISTINCT g)::BIGINT AS d1
         |      FROM (SELECT source, unnest(ts) AS g FROM t) GROUP BY 1),
         |b AS (SELECT source, count(*)::BIGINT AS n2,
         |        count(DISTINCT g)::BIGINT AS d2
         |      FROM (SELECT source, unnest(list_transform(range(1, len(ts)),
         |              i -> ts[i] || ' ' || ts[i+1])) AS g
         |            FROM t WHERE len(ts) >= 2) GROUP BY 1)
         |SELECT u.source AS source, n1, d1,
         |  (CASE WHEN n1 = 0 THEN 10000 ELSE 10000 * d1 // n1 END)::BIGINT AS distinct1_bp,
         |  coalesce(n2, 0)::BIGINT AS n2, coalesce(d2, 0)::BIGINT AS d2,
         |  (CASE WHEN coalesce(n2, 0) = 0 THEN 10000
         |        ELSE 10000 * d2 // n2 END)::BIGINT AS distinct2_bp
         |FROM u LEFT JOIN b USING (source) ORDER BY source""".stripMargin,
    "token_kl_drift" ->
      s"""WITH t AS (SELECT doc_id % 2 = 0 AS in_a, unnest($ToksNE) AS tok
         |           FROM documents),
         |c AS (SELECT tok,
         |        sum(CASE WHEN in_a THEN 1 ELSE 0 END)::BIGINT AS c_a,
         |        sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END)::BIGINT AS c_b
         |      FROM t GROUP BY 1),
         |s AS (SELECT sum(c_a)::BIGINT AS n_a, sum(c_b)::BIGINT AS n_b,
         |             count(*)::BIGINT AS v FROM c)
         |SELECT tok, c_a, c_b,
         |  CAST(round(1e9 * ((c_a + 1)::DOUBLE / (n_a + v))
         |    * ln(((c_a + 1)::DOUBLE / (n_a + v))
         |         / ((c_b + 1)::DOUBLE / (n_b + v)))) AS BIGINT) AS kl_contrib_nano
         |FROM c, s
         |ORDER BY abs(kl_contrib_nano) DESC, tok LIMIT 20""".stripMargin,
    "source_mix_report" ->
      s"""WITH $QualityBatteryCte,
         |qf AS (SELECT doc_id, n,
         |         ((n BETWEEN 5 AND 100000)
         |          AND (10 * sum_len >= 30 * n AND 10 * sum_len <= 100 * n)
         |          AND (50 * n_stop >= n) AND (5 * maxc < n)
         |          AND (10 * n_uniq >= n)) AS kept FROM p)
         |SELECT d.source, count(*)::BIGINT AS n_docs,
         |  sum(coalesce(qf.n, 0))::BIGINT AS total_tokens,
         |  (sum(coalesce(qf.n, 0)) // count(*))::BIGINT AS mean_tokens,
         |  count(*) FILTER (WHERE coalesce(qf.kept, false))::BIGINT AS n_kept,
         |  (count(*) FILTER (WHERE coalesce(qf.kept, false)) * 10000
         |    // count(*))::BIGINT AS kept_bp,
         |  (count(*) - count(DISTINCT d.text))::BIGINT AS n_dup_docs
         |FROM documents d LEFT JOIN qf USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "quality_filters" ->
      s"""WITH $QualityBatteryCte
         |SELECT doc_id, n, n_uniq, maxc,
         |  (n BETWEEN 5 AND 100000) AS ok_len,
         |  (10 * sum_len >= 30 * n AND 10 * sum_len <= 100 * n) AS ok_wordlen,
         |  (50 * n_stop >= n) AS ok_stop,
         |  (5 * maxc < n) AS ok_rep,
         |  (10 * n_uniq >= n) AS ok_uniq,
         |  ((n BETWEEN 5 AND 100000) AND (10 * sum_len >= 30 * n AND 10 * sum_len <= 100 * n)
         |    AND (50 * n_stop >= n) AND (5 * maxc < n) AND (10 * n_uniq >= n)) AS kept
         |FROM p ORDER BY doc_id""".stripMargin,
    "repetition_ngram" ->
      s"""WITH t AS (SELECT doc_id, $ToksNE AS ts FROM documents),
         |x AS (SELECT doc_id, ts, len(ts) AS l FROM t WHERE len(ts) >= 2),
         |bg AS (SELECT doc_id, unnest(ts[1:l-1]) AS w1, unnest(ts[2:l]) AS w2 FROM x),
         |g AS (SELECT doc_id, w1, w2, count(*) AS c FROM bg GROUP BY 1, 2, 3),
         |r AS (SELECT doc_id, w1, w2, c,
         |        -- tie-break on the SPACE-JOINED string, matching the Spark
         |        -- side's sorted-string topRun pick exactly for ANY bytes
         |        -- (tuple order (w1, w2) would diverge when a token contains
         |        -- a character below 0x20 — legal under whitespace-only
         |        -- tokenization)
         |        row_number() OVER (PARTITION BY doc_id
         |          ORDER BY c DESC, w1 || ' ' || w2) AS rn,
         |        sum(c) OVER (PARTITION BY doc_id) AS nb
         |      FROM g)
         |SELECT doc_id, nb::BIGINT AS nb, c::BIGINT AS maxc, w1, w2,
         |  (5 * c >= nb) AS repetitive
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "hll_merge" ->
      """SELECT count(DISTINCT user_id)::BIGINT AS n_exact,
        |  TRUE AS merged_within_5pct
        |FROM events""".stripMargin,
    "hll_intersect" ->
      """SELECT count(*)::BIGINT AS n_exact, TRUE AS intersect_within_10pct
        |FROM (SELECT user_id FROM events WHERE event_type = 'view'
        |      INTERSECT
        |      SELECT user_id FROM events WHERE event_type = 'purchase')""".stripMargin,
    "neardup_knn" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(ts)-1),
         |           i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh
         |  FROM (SELECT doc_id, $ToksNE AS ts FROM documents WHERE doc_id < 500)
         |  WHERE len(ts) >= 3),
         |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
         |        round(len(list_intersect(a.sh, b.sh))::DOUBLE
         |              / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
         |      FROM t a JOIN t b ON a.doc_id < b.doc_id),
         |sym AS (SELECT id1 AS doc_id, id2 AS nbr, jaccard FROM p
         |        UNION ALL SELECT id2, id1, jaccard FROM p),
         |r AS (SELECT doc_id, nbr, jaccard,
         |        row_number() OVER (PARTITION BY doc_id
         |          ORDER BY jaccard DESC, nbr) AS rn
         |      FROM sym)
         |SELECT doc_id, nbr, jaccard FROM r WHERE rn <= 3
         |ORDER BY doc_id, jaccard DESC, nbr""".stripMargin,
    "contamination_check" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(ts)-1),
         |           i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh
         |  FROM (SELECT doc_id, $ToksNE AS ts FROM documents)
         |  WHERE len(ts) >= 3),
         |s AS (SELECT doc_id, sh,
         |        CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid'
         |             ELSE 'test' END AS split
         |      FROM (SELECT doc_id, sh,
         |              ((doc_id % 2147483647) * 2654435761) % 100 AS b FROM t)),
         |tr AS (SELECT DISTINCT unnest(sh) AS h FROM s WHERE split = 'train'),
         |te AS (SELECT doc_id, len(sh)::BIGINT AS n_sh, unnest(sh) AS h
         |       FROM s WHERE split = 'test'),
         |m AS (SELECT te.doc_id, count(*)::BIGINT AS n_matched
         |      FROM te JOIN tr USING (h) GROUP BY 1),
         |base AS (SELECT doc_id, max(n_sh)::BIGINT AS n_sh FROM te GROUP BY 1)
         |SELECT b.doc_id, b.n_sh, coalesce(m.n_matched, 0)::BIGINT AS n_matched,
         |  (5 * coalesce(m.n_matched, 0) >= b.n_sh) AS contaminated
         |FROM base b LEFT JOIN m USING (doc_id) ORDER BY doc_id""".stripMargin,
    // contamination_check with the roles swapped: train docs audited
    // against the distinct TEST shingle set
    "decontaminate_train" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(ts)-1),
         |           i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh
         |  FROM (SELECT doc_id, $ToksNE AS ts FROM documents)
         |  WHERE len(ts) >= 3),
         |s AS (SELECT doc_id, sh,
         |        CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid'
         |             ELSE 'test' END AS split
         |      FROM (SELECT doc_id, sh,
         |              ((doc_id % 2147483647) * 2654435761) % 100 AS b FROM t)),
         |te AS (SELECT DISTINCT unnest(sh) AS h FROM s WHERE split = 'test'),
         |tr AS (SELECT doc_id, len(sh)::BIGINT AS n_sh, unnest(sh) AS h
         |       FROM s WHERE split = 'train'),
         |m AS (SELECT tr.doc_id, count(*)::BIGINT AS n_matched
         |      FROM tr JOIN te USING (h) GROUP BY 1),
         |base AS (SELECT doc_id, max(n_sh)::BIGINT AS n_sh FROM tr GROUP BY 1)
         |SELECT b.doc_id, b.n_sh, coalesce(m.n_matched, 0)::BIGINT AS n_matched,
         |  (5 * coalesce(m.n_matched, 0) >= b.n_sh) AS dropped
         |FROM base b LEFT JOIN m USING (doc_id) ORDER BY doc_id""".stripMargin,
    "char_ngram_profile" ->
      s"""WITH w AS (SELECT lang, unnest($ToksNE) AS w FROM documents),
         |t AS (SELECT lang, unnest(list_transform(range(1, length(w) - 1),
         |        i -> substr(w, i, 3))) AS tri
         |      FROM w WHERE length(w) >= 3),
         |c AS (SELECT lang, tri, count(*)::BIGINT AS c FROM t GROUP BY 1, 2),
         |r AS (SELECT lang, tri, c,
         |        row_number() OVER (PARTITION BY lang ORDER BY c DESC, tri) AS rn
         |      FROM c)
         |SELECT lang, tri, c FROM r WHERE rn <= 5
         |ORDER BY lang, c DESC, tri""".stripMargin,
    "lang_id_ngram" ->
      s"""WITH w AS (SELECT lang, unnest($ToksNE) AS w FROM documents),
         |t AS (SELECT lang, unnest(list_transform(range(1, length(w) - 1),
         |        i -> substr(w, i, 3))) AS tri
         |      FROM w WHERE length(w) >= 3),
         |c AS (SELECT lang, tri, count(*)::BIGINT AS c FROM t GROUP BY 1, 2),
         |prof AS (SELECT lang AS cand_lang, tri FROM (
         |    SELECT lang, tri,
         |      row_number() OVER (PARTITION BY lang ORDER BY c DESC, tri) AS rn
         |    FROM c) WHERE rn <= 5),
         |dw AS (SELECT doc_id, unnest($ToksNE) AS w FROM documents),
         |dt AS (SELECT doc_id, unnest(list_transform(range(1, length(w) - 1),
         |        i -> substr(w, i, 3))) AS tri
         |       FROM dw WHERE length(w) >= 3),
         |sc AS (SELECT d.doc_id, p.cand_lang, count(*)::BIGINT AS score
         |       FROM dt d JOIN prof p USING (tri) GROUP BY 1, 2),
         |langs AS (SELECT DISTINCT lang AS cand_lang FROM documents),
         |f AS (SELECT d.doc_id, d.lang, l.cand_lang,
         |        coalesce(sc.score, 0)::BIGINT AS score
         |      FROM documents d CROSS JOIN langs l
         |      LEFT JOIN sc ON sc.doc_id = d.doc_id AND sc.cand_lang = l.cand_lang),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY score DESC, cand_lang) AS rn FROM f)
         |SELECT doc_id, lang, cand_lang AS pred_lang, score,
         |  (cand_lang = lang) AS correct
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "effective_sources" ->
      """WITH m AS (SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY 1),
        |t AS (SELECT sum(n)::BIGINT AS nt FROM m),
        |h AS (SELECT sum(CAST(round(-(n::DOUBLE / nt::DOUBLE)
        |          * ln(n::DOUBLE / nt::DOUBLE) * 1000000000) AS BIGINT))::BIGINT AS h_nano,
        |        count(*)::BIGINT AS n_sources
        |      FROM m, t)
        |SELECT n_sources, h_nano,
        |  CAST(round(exp(h_nano::DOUBLE / 1000000000) * 1000) AS BIGINT) AS eff_sources_milli
        |FROM h""".stripMargin,
    "dataset_card" ->
      s"""WITH t AS (SELECT doc_id, source, lang, n_chars, text, $ToksNE AS ts FROM documents),
         |d AS (SELECT count(*)::BIGINT AS n_docs, count(DISTINCT source)::BIGINT AS n_sources,
         |        count(DISTINCT lang)::BIGINT AS n_langs, sum(n_chars)::BIGINT AS total_chars,
         |        sum(len(ts))::BIGINT AS n_tokens,
         |        sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_en FROM t),
         |v AS (SELECT count(DISTINCT tok)::BIGINT AS vocab FROM (SELECT unnest(ts) AS tok FROM t)),
         |x AS (SELECT count(DISTINCT text)::BIGINT AS n_distinct_texts FROM documents)
         |SELECT n_docs, n_sources, n_langs, total_chars, n_tokens, vocab,
         |  (n_tokens // n_docs)::BIGINT AS mean_doc_tokens,
         |  (10000 * n_en // n_docs)::BIGINT AS en_share_bp,
         |  (10000 * (n_docs - n_distinct_texts) // n_docs)::BIGINT AS exact_dup_bp
         |FROM d, v, x""".stripMargin,
    "log_odds_tokens" ->
      s"""WITH t AS (SELECT CAST(substr(source, 4) AS BIGINT) % 2 = 0 AS ga,
         |             unnest($ToksNE) AS tok FROM documents),
         |c AS (SELECT tok, sum(CASE WHEN ga THEN 1 ELSE 0 END)::BIGINT AS a,
         |        sum(CASE WHEN NOT ga THEN 1 ELSE 0 END)::BIGINT AS b FROM t GROUP BY 1),
         |n AS (SELECT sum(a)::BIGINT AS na, sum(b)::BIGINT AS nb FROM c),
         |z AS (SELECT tok, a, b,
         |        ln((a + 1)::DOUBLE / (na - a + 1)::DOUBLE)
         |        - ln((b + 1)::DOUBLE / (nb - b + 1)::DOUBLE) AS delta,
         |        sqrt(1.0/(a+1) + 1.0/(b+1)) AS sig
         |      FROM c, n)
         |SELECT tok, a, b, CAST(round(delta / sig * 1000000) AS BIGINT) AS z_micro
         |FROM z ORDER BY abs(delta / sig) DESC, tok LIMIT 10""".stripMargin,
    "hhi_sources" ->
      """WITH m AS (SELECT source, sum(n_chars)::BIGINT AS mass FROM documents GROUP BY 1),
        |t AS (SELECT sum(mass)::BIGINT AS total FROM m)
        |SELECT count(*)::BIGINT AS n_sources,
        |  sum((10000 * mass // total) * (10000 * mass // total))::BIGINT AS hhi,
        |  max(10000 * mass // total)::BIGINT AS top_share_bp
        |FROM m, t""".stripMargin,
    "mutual_info" ->
      """WITH c AS (SELECT source, lang, count(*)::BIGINT AS n FROM documents GROUP BY 1, 2),
        |ms AS (SELECT source, sum(n)::BIGINT AS ns FROM c GROUP BY 1),
        |ml AS (SELECT lang, sum(n)::BIGINT AS nl FROM c GROUP BY 1),
        |nn AS (SELECT sum(n)::BIGINT AS nt FROM c)
        |SELECT c.source, c.lang, n,
        |  CAST(round(ln((n::DOUBLE * nt::DOUBLE) / (ns::DOUBLE * nl::DOUBLE)) * 1000000000) AS BIGINT) AS pmi_nano,
        |  (n * CAST(round(ln((n::DOUBLE * nt::DOUBLE) / (ns::DOUBLE * nl::DOUBLE)) * 1000000000) AS BIGINT)) // nt AS contrib_nano
        |FROM c JOIN ms USING (source) JOIN ml USING (lang), nn
        |ORDER BY source, lang""".stripMargin,
    "heaps_law" ->
      s"""WITH t AS (SELECT doc_id, $ToksNE AS ts FROM documents),
         |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)-1),
         |         i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g
         |       FROM t WHERE len(ts) >= 3),
         |fs AS (SELECT g, min(doc_id) AS fd FROM sh GROUP BY 1),
         |pd AS (SELECT doc_id, count(*)::BIGINT AS nt FROM sh GROUP BY 1),
         |nd AS (SELECT count(*)::BIGINT AS n FROM documents),
         |pw AS (SELECT unnest(range(3, 41)) AS k),
         |ps AS (SELECT DISTINCT p FROM (
         |         SELECT (1::BIGINT << k) AS p FROM pw, nd WHERE (1::BIGINT << k) < n
         |         UNION SELECT n FROM nd)),
         |vt AS (SELECT p, count(*)::BIGINT AS vocab_size FROM ps, fs WHERE fd < p GROUP BY p),
         |ntk AS (SELECT p, sum(nt)::BIGINT AS n_tokens FROM ps, pd WHERE doc_id < p GROUP BY p),
         |curve AS (SELECT p, n_tokens, vocab_size,
         |            CAST(round(ln(n_tokens::DOUBLE) * 1000000) AS BIGINT) AS lx,
         |            CAST(round(ln(vocab_size::DOUBLE) * 1000000) AS BIGINT) AS ly
         |          FROM vt JOIN ntk USING (p)),
         |fit AS (SELECT count(*)::BIGINT AS k, sum(lx)::BIGINT AS sx, sum(ly)::BIGINT AS sy,
         |          sum(lx*lx)::BIGINT AS sxx, sum(lx*ly)::BIGINT AS sxy FROM curve)
         |SELECT p AS prefix_docs, n_tokens, vocab_size,
         |  round((k::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
         |   / (k::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6) AS beta_6dp
         |FROM curve, fit ORDER BY prefix_docs""".stripMargin,
    "zipf_fit" ->
      s"""WITH t AS (SELECT unnest($ToksNE) AS tok FROM documents),
         |v AS (SELECT tok, count(*)::BIGINT AS c FROM t GROUP BY 1),
         |r AS (SELECT tok, c,
         |        row_number() OVER (ORDER BY c DESC, tok) AS rank FROM v),
         |m AS (SELECT c,
         |        CAST(round(ln(rank::DOUBLE) * 1000000) AS BIGINT) AS lr,
         |        CAST(round(ln(c::DOUBLE) * 1000000) AS BIGINT) AS lc FROM r),
         |a AS (SELECT count(*)::BIGINT AS n_vocab, sum(c)::BIGINT AS n_tokens,
         |        sum(lr)::BIGINT AS sx, sum(lc)::BIGINT AS sy,
         |        sum(lr * lr)::BIGINT AS sxx, sum(lr * lc)::BIGINT AS sxy
         |      FROM m)
         |SELECT n_vocab, n_tokens,
         |  round((CAST(n_vocab AS DOUBLE) * CAST(sxy AS DOUBLE)
         |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |   / (CAST(n_vocab AS DOUBLE) * CAST(sxx AS DOUBLE)
         |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope_micro,
         |  round((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
         |    - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
         |   / (CAST(n_vocab AS DOUBLE) * CAST(sxx AS DOUBLE)
         |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS intercept_micro
         |FROM a""".stripMargin,
    "feature_chi2" ->
      s"""WITH pres AS (SELECT DISTINCT doc_id, lang, unnest($ToksNE) AS tok
         |              FROM documents),
         |a AS (SELECT tok, lang, count(*)::BIGINT AS a FROM pres GROUP BY 1, 2),
         |tt AS (SELECT tok, sum(a)::BIGINT AS t FROM a GROUP BY 1),
         |ll AS (SELECT lang, count(*)::BIGINT AS ldocs FROM documents GROUP BY 1),
         |nn AS (SELECT count(*)::BIGINT AS n FROM documents),
         |x AS (SELECT lang, tok, a,
         |        (a * (n - t - ldocs + a) - (t - a) * (ldocs - a))::BIGINT AS diff,
         |        t, ldocs, n
         |      FROM a JOIN tt USING (tok) JOIN ll USING (lang) CROSS JOIN nn
         |      WHERE t > 0 AND t < n AND ldocs > 0 AND ldocs < n)
         |SELECT lang, tok, a AS n_docs,
         |  round(CAST(n AS DOUBLE) * CAST(diff AS DOUBLE) * CAST(diff AS DOUBLE)
         |   / (CAST(t AS DOUBLE) * CAST(n - t AS DOUBLE)
         |      * CAST(ldocs AS DOUBLE) * CAST(n - ldocs AS DOUBLE)), 6) AS chi2
         |FROM x ORDER BY lang, tok""".stripMargin,
    "doc_surprisal" ->
      s"""WITH t AS (SELECT doc_id, unnest($ToksNE) AS tok FROM documents),
         |v AS (SELECT tok, count(*)::BIGINT AS c FROM t GROUP BY 1),
         |tot AS (SELECT sum(c)::BIGINT AS n FROM v),
         |lp AS (SELECT tok, CAST(round(ln(c::DOUBLE / n) * 1000000) AS BIGINT)
         |         AS lp_micro FROM v CROSS JOIN tot)
         |SELECT t.doc_id, count(*)::BIGINT AS n_tok,
         |  (-sum(lp.lp_micro))::BIGINT AS surprisal_micro
         |FROM t JOIN lp USING (tok) GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "bigram_surprisal" ->
      s"""WITH d0 AS (SELECT doc_id, ts, len(ts) AS l
         |            FROM (SELECT doc_id, $ToksNE AS ts FROM documents)
         |            WHERE len(ts) >= 2),
         |b AS (SELECT doc_id, unnest(ts[1:l-1]) AS w1, unnest(ts[2:l]) AS w2
         |      FROM d0),
         |c12 AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM b GROUP BY 1, 2),
         |c1 AS (SELECT w1, count(*)::BIGINT AS c1 FROM b GROUP BY 1),
         |lp AS (SELECT w1, w2,
         |         CAST(round(ln(c12::DOUBLE / c1) * 1000000) AS BIGINT) AS lp_micro
         |       FROM c12 JOIN c1 USING (w1))
         |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         |  (-sum(lp_micro))::BIGINT AS surprisal_micro
         |FROM b JOIN lp USING (w1, w2) GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "mixture_weights" ->
      s"""WITH toks AS (SELECT source, sum(len($ToksNE))::BIGINT AS n_tokens
         |              FROM documents GROUP BY source),
         |rungs AS (SELECT unnest([1, 2, 4])::BIGINT AS t),
         |p AS (SELECT source, t, n_tokens,
         |        CAST(round(pow(n_tokens::DOUBLE, 1.0 / t::DOUBLE) * 1000000)
         |          AS BIGINT) AS p_micro
         |      FROM toks CROSS JOIN rungs),
         |tot AS (SELECT t, sum(p_micro)::BIGINT AS tot FROM p GROUP BY t)
         |SELECT source, t, n_tokens,
         |  (1000000 * p_micro // tot)::BIGINT AS weight_micro
         |FROM p JOIN tot USING (t)
         |ORDER BY source, t""".stripMargin,
    "perplexity_by_source" ->
      """WITH p AS (SELECT doc_id, ppl_micro, kept
        |  FROM read_parquet('{OUT}/perplexity_filter/*.parquet')),
        |j AS (SELECT d.source, p.ppl_micro, p.kept
        |  FROM p JOIN documents d USING (doc_id))
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  (sum(ppl_micro) // count(*))::BIGINT AS mean_ppl_micro,
        |  sum(CASE WHEN kept THEN 0 ELSE 1 END)::BIGINT AS n_dropped,
        |  (10000 * sum(CASE WHEN kept THEN 0 ELSE 1 END) // count(*))::BIGINT
        |    AS dropped_bp
        |FROM j GROUP BY source ORDER BY source""".stripMargin,
    "perplexity_filter" ->
      s"""WITH d0 AS (SELECT doc_id, ts, len(ts) AS l
         |            FROM (SELECT doc_id, $ToksNE AS ts FROM documents)
         |            WHERE len(ts) >= 3),
         |tri AS (SELECT doc_id, unnest(ts[1:l-2]) AS w1,
         |               unnest(ts[2:l-1]) AS w2, unnest(ts[3:l]) AS w3
         |        FROM d0),
         |c123 AS (SELECT w1, w2, w3, count(*)::BIGINT AS c123 FROM tri GROUP BY 1,2,3),
         |c12 AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM tri GROUP BY 1,2),
         |c23 AS (SELECT w2, w3, count(*)::BIGINT AS c23 FROM tri GROUP BY 1,2),
         |c2 AS (SELECT w2, count(*)::BIGINT AS c2 FROM tri GROUP BY 1),
         |c3 AS (SELECT w3, count(*)::BIGINT AS c3 FROM tri GROUP BY 1),
         |n AS (SELECT count(*)::BIGINT AS nn FROM tri),
         |lp AS (SELECT w1, w2, w3,
         |         CAST(round(ln(0.6 * (c123::DOUBLE / c12)
         |                     + 0.3 * (c23::DOUBLE / c2)
         |                     + 0.1 * (c3::DOUBLE / nn)) * 1000000) AS BIGINT)
         |           AS lp_micro
         |       FROM c123 JOIN c12 USING (w1, w2) JOIN c23 USING (w2, w3)
         |            JOIN c2 USING (w2) JOIN c3 USING (w3) CROSS JOIN n),
         |sc AS (SELECT doc_id, count(*)::BIGINT AS n_slots,
         |         ((-sum(lp_micro)) // count(*))::BIGINT AS ppl_micro
         |       FROM tri JOIN lp USING (w1, w2, w3) GROUP BY 1),
         |rk AS (SELECT doc_id, n_slots, ppl_micro,
         |         row_number() OVER (ORDER BY ppl_micro, doc_id) AS rn,
         |         count(*) OVER () AS nd
         |       FROM sc)
         |SELECT doc_id, n_slots, ppl_micro,
         |  CASE ((rn - 1) * 3) // nd WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
         |    ELSE 'tail' END AS bucket,
         |  ((rn - 1) * 3) // nd < 2 AS kept
         |FROM rk ORDER BY doc_id""".stripMargin,
    "bpe_fertility" ->
      """WITH w AS (SELECT lang,
        |    unnest(regexp_extract_all(text, '[A-Za-z]+')) AS word FROM documents),
        |wt AS (SELECT word, n_tokens
        |       FROM read_parquet('{OUT}/bpe_word_tokens/*.parquet'))
        |SELECT lang, count(*)::BIGINT AS n_words,
        |  sum(wt.n_tokens)::BIGINT AS n_subwords,
        |  ((sum(wt.n_tokens) * 10000) // count(*))::BIGINT AS fertility_bp
        |FROM w JOIN wt USING (word)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "corpus_stats" ->
      s"""SELECT count(*)::BIGINT AS n_docs,
         |  count(DISTINCT lang)::BIGINT AS n_langs,
         |  count(DISTINCT source)::BIGINT AS n_sources,
         |  sum(n_chars)::BIGINT AS total_chars,
         |  sum(len($ToksNE))::BIGINT AS total_tokens,
         |  min(len($ToksNE))::BIGINT AS min_tokens,
         |  max(len($ToksNE))::BIGINT AS max_tokens,
         |  (count(*) - count(DISTINCT sha256(text)))::BIGINT AS n_exact_dups
         |FROM documents""".stripMargin,
    "positional_index" ->
      s"""WITH t AS (SELECT doc_id, unnest($ToksNE) AS tok,
         |             generate_subscripts($ToksNE, 1) AS pos FROM documents)
         |SELECT tok, doc_id, array_to_string(list(pos ORDER BY pos), ',') AS positions,
         |  count(*)::BIGINT AS tf
         |FROM t WHERE tok IN ('spark', 'query')
         |GROUP BY tok, doc_id ORDER BY tok, doc_id""".stripMargin,
    "phrase_search" ->
      s"""WITH t AS (SELECT doc_id, unnest($ToksNE) AS tok,
         |             generate_subscripts($ToksNE, 1) AS pos FROM documents),
         |p1 AS (SELECT doc_id, pos AS p FROM t WHERE tok = 'join'),
         |p2 AS (SELECT doc_id, pos - 1 AS p FROM t WHERE tok = 'part'),
         |p3 AS (SELECT doc_id, pos - 2 AS p FROM t WHERE tok = 'filter')
         |SELECT doc_id, count(*)::BIGINT AS n_hits,
         |  min(p)::BIGINT AS first_pos
         |FROM p1 JOIN p2 USING (doc_id, p) JOIN p3 USING (doc_id, p)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "bigram_lm_topk" ->
      s"""WITH d AS (SELECT ts, len(ts) AS l
         |           FROM (SELECT $ToksNE AS ts FROM documents) WHERE len(ts) >= 2),
         |b AS (SELECT w1, w2, count(*)::BIGINT AS c
         |      FROM (SELECT unnest(ts[1:l-1]) AS w1, unnest(ts[2:l]) AS w2 FROM d)
         |      GROUP BY 1, 2),
         |r AS (SELECT w1, w2, c,
         |        row_number() OVER (PARTITION BY w1 ORDER BY c DESC, w2) AS rn
         |      FROM b)
         |SELECT w1, w2, c FROM r WHERE rn <= 3 ORDER BY w1, c DESC, w2""".stripMargin,
    "typo_pairs" ->
      s"""WITH t AS (SELECT DISTINCT unnest($ToksNE) AS w FROM documents),
         |p AS (SELECT DISTINCT substr(w, 1, length(w) - 1) AS w FROM t
         |      WHERE length(w) >= 4),
         |v AS (SELECT w FROM t UNION SELECT w FROM p)
         |SELECT a.w AS w1, b.w AS w2, levenshtein(a.w, b.w)::BIGINT AS dist
         |FROM v a JOIN v b ON a.w < b.w AND levenshtein(a.w, b.w) <= 1
         |ORDER BY w1, w2""".stripMargin,
    "token_count_bpe" ->
      s"""WITH ${Shared.BpeDocTokCte},
         |p AS (SELECT doc_id,
         |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\r]'))::BIGINT
         |      AS n_pieces
         |  FROM documents)
         |SELECT p.doc_id, p.n_pieces, n.n_tok AS n_subwords
         |FROM p JOIN bpe_n n USING (doc_id) ORDER BY doc_id""".stripMargin,
    // both byte-currency twins recompute from the multilingual-augmented
    // text joined against the bpe_word_tokens dump; strlen = UTF-8 bytes
    "token_count_bpe_bytes" ->
      s"""WITH a AS (SELECT doc_id, $MlTextSql AS text2 FROM documents),
         |u AS (SELECT doc_id, unnest(regexp_extract_all(text2,
         |    '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\r]')) AS tok FROM a),
         |w AS (SELECT word, n_tokens
         |      FROM read_parquet('{OUT}/bpe_word_tokens/*.parquet')),
         |c AS (SELECT u.doc_id, count(*)::BIGINT AS n_pieces,
         |    sum(CASE WHEN regexp_full_match(u.tok, '[A-Za-z]+')
         |        THEN w.n_tokens ELSE 1 END)::BIGINT AS n_subwords,
         |    sum(CASE WHEN regexp_full_match(u.tok, '[A-Za-z]+')
         |        THEN w.n_tokens ELSE strlen(u.tok) END)::BIGINT
         |      AS n_subwords_bytes
         |  FROM u LEFT JOIN w ON u.tok = w.word GROUP BY u.doc_id)
         |SELECT d.doc_id, coalesce(c.n_pieces, 0)::BIGINT AS n_pieces,
         |  coalesce(c.n_subwords, 0)::BIGINT AS n_subwords,
         |  coalesce(c.n_subwords_bytes, 0)::BIGINT AS n_subwords_bytes
         |FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "bpe_fertility_bytes" ->
      s"""WITH a AS (SELECT lang, $MlTextSql AS text2 FROM documents),
         |u AS (SELECT lang, unnest(regexp_extract_all(text2,
         |    '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\r]')) AS tok FROM a),
         |w AS (SELECT word, n_tokens
         |      FROM read_parquet('{OUT}/bpe_word_tokens/*.parquet')),
         |g AS (SELECT lang, count(*)::BIGINT AS n_pieces,
         |    sum(CASE WHEN regexp_full_match(u.tok, '[A-Za-z]+')
         |        THEN w.n_tokens ELSE strlen(u.tok) END)::BIGINT
         |      AS n_subwords_bytes
         |  FROM u LEFT JOIN w ON u.tok = w.word GROUP BY lang)
         |SELECT lang, n_pieces, n_subwords_bytes,
         |  (n_subwords_bytes * 10000 // n_pieces)::BIGINT AS fertility_bp
         |FROM g ORDER BY lang""".stripMargin,
  )
}
