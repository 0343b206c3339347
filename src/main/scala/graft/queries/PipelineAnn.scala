package graft.queries

import graft.MaterializedCaches.persisting
import graft.functions.VectorFns
import graft.operators.{Dedup, Kmeans, Pq}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tier-C ANN / embedding-serving queries: brute-force cosine top-k,
  * IVF (trained Lloyd's) with tuned nprobe, residual IVFADC PQ,
  * re-rank ladders, bq/sq8/rp quantization rungs, recall contracts and
  * the pareto/error roll-ups, plus the embedding-space diagnostics
  * (intrinsic dim, PCA power iteration, anisotropy, MMD/mean drift,
  * kNN label consistency, mutual-kNN mining). One of the three
  * cohesive modules [[Pipeline]] composes.
  */
private[queries] trait PipelineAnn extends PipelineBase { this: Pipeline.type =>

  /** Brute-force cosine top-20 for query vector vec_id=0 (the exact
    * baseline; the LSH-bucketed scale path is dedup_embedding).
    */
  def embeddingTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(VectorFns.cosine(col("embedding"), col("q_emb")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(20)
  }

  /** FILTERED vector search — top-k under a metadata predicate (here:
    * the candidate's document is English), the serving feature every
    * production vector store leads with (RAG over one tenant/language/
    * date range). Strategy is PRE-filter: the predicate joins in and
    * shrinks the candidate set BEFORE any score is computed — correct
    * at any selectivity, where post-filtering (search-then-drop) under-
    * fills k whenever selectivity < k/corpus and silently returns fewer
    * than k results. At 100 TB the same shape composes with the IVF
    * probe (filter the probed cells' candidate stream, over-fetch by
    * 1/selectivity before the exact re-rank); the declared query is the
    * exact filtered scan the recall contracts would measure against.
    */
  def annFilteredTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val allowed = docs(s, d).filter(col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
    emb.filter(col("vec_id") =!= 0)
      .join(allowed, "vec_id") // pre-filter: candidates shrink before scoring
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(VectorFns.cosine(col("embedding"), col("q_emb")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(20)
  }

  /** [[annFilteredTopk]]'s predicate applied INSIDE the tuned IVF probe
    * (nprobe = 8, [[embeddingTopkIvfTuned]]'s operating point): the
    * 100 TB deployment shape of filtered search — the predicate table
    * joins the probed cells' candidate stream BEFORE scoring, so the
    * probe scans nprobe/ncells of the index and the filter pays only on
    * that slice. Recall loss relative to the exact filtered scan comes
    * only from unprobed cells, which is exactly what
    * [[annFilteredRecall]] publishes.
    */
  def annFilteredTopkIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val qd = q.select(transform(col("q_emb"), x => x.cast("double")).as("qd"))
    val cellRank = centroids(s, d).crossJoin(broadcast(qd))
      .select(col("label"),
        round(VectorFns.cosineDouble(col("centroid"), col("qd")), 6).as("cell_sim"))
      .orderBy(col("cell_sim").desc, col("label"))
      .limit(8)
      .select(col("label"))
    val allowed = docs(s, d).filter(col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
    emb.join(broadcast(cellRank), "label")
      .join(allowed, "vec_id")
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(VectorFns.cosine(col("embedding"), col("q_emb")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(20)
  }

  /** Recall@20 of the filtered IVF probe against the exact filtered
    * scan — the contract a filtered-search deployment publishes beside
    * the unfiltered one (ivf_recall_tuned): filtering can only SHRINK
    * per-cell candidate sets, so this is the number that tells you
    * whether the nprobe chosen for unfiltered traffic still holds under
    * the predicate. Oracle recomputes the overlap from this run's own
    * dumps of both sides (the ivf_recall closure).
    */
  def annFilteredRecall(s: SparkSession, d: String): DataFrame =
    recallOf(annFilteredTopk(s, d), annFilteredTopkIvf(s, d))

  /** The filtered ladder's PRODUCTION operating point — the over-fetch
    * move [[annFilteredTopkIvf]]'s scaladoc names, made a measured
    * query: probe (nprobe=3 trained cells from the materialized
    * `cell=<cid>` index, [[ivfPqRerank]]'s stage 1) → ADC shortlist
    * OVER-FETCHED by 2·k/selectivity → exact integer-L2 re-rank UNDER
    * THE PREDICATE. The compressed index is predicate-AGNOSTIC (4-byte
    * codes carry no metadata — the common deployment, where rebuilding
    * per-tenant indexes is off the table), so the predicate can only be
    * applied after the index scan; a plain top-k shortlist would then
    * under-fill k whenever selectivity < k/shortlist, which is exactly
    * what the 1/selectivity over-fetch prevents. Selectivity comes from
    * one bounded corpus-stats aggregate (a serving layer reads table
    * statistics); the predicate itself pays only on the O(shortlist)
    * re-rank slice. [[annFilteredRerankRecall]] publishes what the
    * composition costs vs the exact filtered scan.
    */
  def annFilteredRerank(s: SparkSession, d: String): DataFrame = {
    val nprobe = 3
    val k = 20
    val emb = Tables.embeddings(s, d)
    val model = kmeansModel(s, d)
    val qv = queryVec(s, d)
    val probed = model.zipWithIndex.map { case (c, cid) =>
      var dsum = 0L; var i = 0
      while (i < c.length) { val dd = qv(i) - c(i); dsum += dd * dd; i += 1 }
      (dsum, cid)
    }.sorted.take(nprobe).map(_._2)
    val dt = Pq.distTables(pqModel(s, d), model, qv)
    // the over-fetch operating point: 2x margin on k/selectivity,
    // integer arithmetic so the oracle lands on the same count.
    // bounded: one 2-column corpus-stats row (table statistics).
    val stats = docs(s, d).agg(count(lit(1)).as("n"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("na")).collect()(0)
    val nShort = (2L * k * stats.getLong(0) / stats.getLong(1)).toInt
    val shortlist = Tables.parquet(s, pqIndexPath(s, d))
      .filter(col("cell").isin(probed.toIndexedSeq: _*))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        Pq.adcScorePacked(col("cell"), col("code32"), dt).as("adc"))
      .orderBy(col("adc"), col("vec_id"))
      .limit(nShort)
      .select(col("vec_id"))
    val allowed = docs(s, d).filter(col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
    Kmeans.quantized(emb)
      .join(broadcast(shortlist), "vec_id") // O(shortlist) rows from here on
      .join(allowed, "vec_id") // the predicate pays only on that slice
      .select(col("vec_id"),
        graft.functions.SketchExprs.nearestCentroid(col("v"), Array(qv))
          .getField("dist").as("dist_micro2"))
      .orderBy(col("dist_micro2"), col("vec_id"))
      .limit(k)
  }

  /** Recall@20 of the over-fetched filtered re-rank against the EXACT
    * filtered integer-L2 scan — the row that completes the filtered
    * recall ladder the way [[pqRerankRecall]] completes the unfiltered
    * one: it prices the whole composition (unprobed cells + ADC loss +
    * predicate-after-index) in one published number. Oracle recomputes
    * the overlap from this run's own rerank dump (the recall-family
    * closure).
    */
  def annFilteredRerankRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val qv = queryVec(s, d)
    val allowed = docs(s, d).filter(col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
    val exact = Kmeans.quantized(emb)
      .filter(col("vec_id") =!= 0)
      .join(allowed, "vec_id")
      .select(col("vec_id"),
        graft.functions.SketchExprs.nearestCentroid(col("v"), Array(qv))
          .getField("dist").as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(20)
      .select(col("vec_id"))
    recallOf(exact, annFilteredRerank(s, d))
  }

  /** Per-cell IVF centroids in exact integer space (explode dims, sum
    * longs, divide once — double sums are NOT order-stable across
    * partitions, integer sums are). Computed once per (session, sfDir)
    * and persisted: the coarse quantizer is index-build state, not
    * per-query work — at 100 TB it is trained/materialized once and
    * every top-k probe reuses it.
    */
  private[queries] val centroidCache = new graft.DfCache("pipeline.centroids")

  def centroids(s: SparkSession, d: String): DataFrame =
    centroidCache.getOrElseUpdate((s, d), {
      val flat = Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"))
        .agg(sum(round(col("x") * 1e7).cast("long")).as("s"), count(lit(1)).as("n"))
        .select(col("label"), col("dim"), (col("s").cast("double") / col("n")).as("c"))
      flat.groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("dc"))
        .select(col("label"), transform(col("dc"), e => e.getField("c")).as("centroid"))
    })

  /** IVF-style top-k: the scale path for similarity search. Rank coarse
    * cells (label) by query-to-centroid cosine ([[centroids]] — built
    * once, reused across queries), brute-force only the top `nprobe`
    * cells. At 100 TB this turns a full-corpus scan into a scan of
    * nprobe/ncells of the data; cells here are the shipped cluster
    * labels (a k-means coarse quantizer in production). Bit-identical
    * run-to-run and to the DuckDB oracle (exact-integer centroids).
    */
  def embeddingTopkIvf(s: SparkSession, d: String): DataFrame =
    embeddingTopkIvfAt(s, d, nprobe = 3)

  /** The tuned IVF operating point (nprobe = 8 of the fixture's 10 label
    * cells): the r9 recall contracts published honest-but-low numbers at
    * the default nprobe = 3 (25% at sf0.01 — the query's 20 true
    * neighbors spread across cells on this synthetic corpus); this
    * declared point demonstrates the knob's recall/cost curve actually
    * works — measured 25% -> 65% -> 90% recall@20 at nprobe 3 -> 6 -> 8,
    * so [[ivfRecallTuned]] publishes >= 80% while still skipping 20% of
    * the corpus. At 100 TB the same knob trades probe bytes for recall
    * with no code change.
    */
  def embeddingTopkIvfTuned(s: SparkSession, d: String): DataFrame =
    embeddingTopkIvfAt(s, d, nprobe = 8)

  private[queries] def embeddingTopkIvfAt(s: SparkSession, d: String,
      nprobe: Int): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    // rank cells by query-centroid cosine (centroid is double[], query float[])
    val qd = q.select(transform(col("q_emb"), x => x.cast("double")).as("qd"))
    val cellRank = centroids(s, d).crossJoin(broadcast(qd))
      .select(col("label"),
        round(VectorFns.cosineDouble(col("centroid"), col("qd")), 6).as("cell_sim"))
      .orderBy(col("cell_sim").desc, col("label"))
      .limit(nprobe)
      .select(col("label"))
    // brute-force only the probed cells
    emb.join(broadcast(cellRank), "label")
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(VectorFns.cosine(col("embedding"), col("q_emb")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(20)
  }

  /** Recall@20 of the IVF probe against the exact brute-force scan —
    * the index-quality contract every ANN deployment publishes (an
    * index that silently drops true neighbors is worse than no index).
    * One LEFT SEMI join of the two declared top-k lists; recall in
    * exact integer basis points. The oracle recomputes the overlap
    * from this Verify run's own dumps of both sides ({OUT}
    * substitution — the bpe_word_tokens pattern), so the contract is
    * checked against what was actually produced, not a re-derivation.
    */
  def ivfRecall(s: SparkSession, d: String): DataFrame =
    recallOf(embeddingTopk(s, d), embeddingTopkIvf(s, d))

  /** Recall@20 of the TUNED IVF operating point ([[embeddingTopkIvfTuned]],
    * nprobe = 8 of the fixture's 10 cells): the published proof that the
    * nprobe knob moves
    * recall where the contract needs it (>= 80% on the fixture, vs the
    * honest-but-low default-point number ivf_recall publishes). Same
    * oracle closure: DuckDB recomputes the overlap from this run's own
    * dumps of both top-k lists.
    */
  def ivfRecallTuned(s: SparkSession, d: String): DataFrame =
    recallOf(embeddingTopk(s, d), embeddingTopkIvfTuned(s, d))

  /** The WHOLE recall/cost curve of the IVF probe — one row per nprobe
    * (1..ncells): recall@20 as a function of cells probed, the published
    * operating-curve every ANN index ships so consumers can pick their
    * point ([[embeddingTopkIvf]] sits at nprobe=3, the tuned point at 8).
    *
    * Exactness shortcut (spec-pinned against the actual probe in
    * PipelineSpec): a member of the exact top-20 appears in the IVF
    * top-20 iff its cell is probed — within any probed subset containing
    * it, fewer than 20 vectors beat it, and the (sim desc, vec_id)
    * comparator is total so the rank boundary has no ties. So the curve
    * needs NO per-nprobe rescans: rank the cells once (bounded: ncells
    * rows on one partition), attach each true neighbor's cell rank, and
    * count ranks <= nprobe — O(ncells + k) work after the one exact scan,
    * at any corpus size.
    */
  def ivfRecallCurve(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val qd = q.select(transform(col("q_emb"), x => x.cast("double")).as("qd"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cell_sim").desc, col("label"))
    val cellRank = centroids(s, d).crossJoin(broadcast(qd))
      .select(col("label"),
        round(VectorFns.cosineDouble(col("centroid"), col("qd")), 6).as("cell_sim"))
      .select(col("label"), row_number().over(w).as("cell_rank"))
    val nc = cellRank.agg(max(col("cell_rank")).as("ncells"))
    embeddingTopk(s, d).select(col("vec_id"))
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .join(broadcast(cellRank), "label")
      .crossJoin(broadcast(nc))
      .select(explode(sequence(lit(1), col("ncells"))).as("np"), col("cell_rank"))
      .select(col("np").cast("long").as("nprobe"), col("cell_rank"))
      .groupBy(col("nprobe"))
      .agg(sum(when(col("cell_rank") <= col("nprobe"), 1L).otherwise(0L)).as("n_hit"))
      .select(col("nprobe"), col("n_hit"),
        expr("10000 * n_hit div 20").as("recall_bp"))
      .orderBy(col("nprobe"))
  }

  private[queries] def recallOf(exactTopk: DataFrame, annTopk: DataFrame): DataFrame =
    exactTopk.select(col("vec_id"))
      .join(annTopk.select(col("vec_id").as("v2")),
        col("vec_id") === col("v2"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
      .select(lit(20L).as("k"), col("n_hit"),
        expr("10000 * n_hit div 20").as("recall_bp"))

  /** The coarse quantizer's cell count — the ONE definition every
    * consumer of [[kmeansModel]] derives its cell domain from: the
    * Scala train call, [[KmeansTrainCte]]'s init LIMIT, and the
    * ivf_ingest oracle's `range(0, k)` all interpolate this constant,
    * so the cell domain cannot silently drift between the engine and
    * the oracle if k is ever retuned.
    */
  private[queries] val CoarseK = 8

  /** Trained k-means model per (session, dir) — the coarse-quantizer
    * training run ([[graft.operators.Kmeans]]): 2 Lloyd rounds at
    * k=[[CoarseK]] over the integer-micro lattice, cached like the BPE
    * merge table (trained once, shipped to every consumer).
    */
  /** The benchmark query vector (vec_id = 0) on the integer-micro
    * lattice, collected once per (session, dir) — the hubSeedAndNodes
    * scalar posture (r18): ten ANN queries each re-collected the
    * IDENTICAL bounded 1-row array as a separate driver job while
    * building their plan, and composite queries (ann_pareto, the ivf
    * profile pair) paid that job once per composed sub-query. A serving
    * layer parses the query vector once per request; here the fixture's
    * one query IS session state, like the hub seed.
    */
  private val qvCache = new graft.SessionCache[Array[Long]]("pipeline.queryVec")

  private[queries] def queryVec(s: SparkSession, d: String): Array[Long] =
    qvCache.getOrElseUpdate((s, d),
      Kmeans.quantized(Tables.embeddings(s, d).filter(col("vec_id") === 0))
        .select(col("v")).collect()(0).getSeq[Long](0).toArray) // bounded: 1 row

  /** Run independent training/probe builders from a small driver thread
    * pool (guide §2.6: Spark schedules concurrent jobs FIFO, so the
    * second chain's tiny Lloyd jobs back-fill the first's scheduling
    * gaps). Output order = input order; bodies must be independent.
    */
  private def parTrains[A, B](items: Seq[A])(body: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(items.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(items.map(a =>
        scala.concurrent.Future(body(a)))),
      scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
  }

  /** Corpus vector count, collected once per (session, dir) — the same
    * scalar posture: the index-sizing queries and the semantic-dedup
    * quantizer all size k from the identical count job.
    */
  private val embCountCache = new graft.SessionCache[Long]("pipeline.embCount")

  private[queries] def embCount(s: SparkSession, d: String): Long =
    embCountCache.getOrElseUpdate((s, d), Tables.embeddings(s, d).count())

  private val kmeansCache = new graft.SessionCache[Array[Array[Long]]]("pipeline.kmeansModel")

  def kmeansModel(s: SparkSession, d: String): Array[Array[Long]] =
    kmeansCache.getOrElseUpdate((s, d),
      graft.operators.Kmeans.train(Tables.embeddings(s, d), k = CoarseK, iters = 2))

  /** The SEMANTIC-dedup quantizer per (session, dir) — the k ≈ √n
    * sizing SemDeDup prescribes (Abbas et al. 2023: cluster count
    * grows with the corpus, keeping cells ~√n wide so the within-cell
    * pair pass is O(n^1.5), never O(n²/k) — the FAISS/IVFADC rule
    * [[graft.operators.Kmeans.ncellsFor]], whose trade
    * `ivf_size_profile` publishes measured). Trained separately from
    * [[kmeansModel]]: the serving index keeps its fixed-k profile (its
    * PQ codebooks and recall curves are calibrated against it), while
    * the dedup family's cell budget must scale with the corpus or the
    * verify stage becomes the corpus's one quadratic pass.
    */
  private val semanticCache =
    new graft.SessionCache[Array[Array[Long]]]("pipeline.semanticModel")

  def semanticModel(s: SparkSession, d: String): Array[Array[Long]] =
    semanticCache.getOrElseUpdate((s, d), {
      val emb = Tables.embeddings(s, d)
      graft.operators.Kmeans.train(emb,
        k = graft.operators.Kmeans.ncellsFor(embCount(s, d)), iters = 2)
    })

  /** The trained coarse-quantizer centroids, one row per (cluster, dim)
    * in integer micros — the REAL k-means behind what embedding_topk_ivf
    * models with shipped labels. The DuckDB oracle re-runs both unrolled
    * Lloyd rounds from the raw embeddings (init, two assignment passes,
    * two floor-average updates with the empty-cluster coalesce) and must
    * land on the identical lattice.
    */
  def kmeansCentroids(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the PRODUCING query: it deliberately re-runs training (the
    // sessionize/dedup_near convention — the build cost is measured by
    // the producer, consumers read the warmed artifact), refreshing the
    // cache for kmeans_assign
    val model = graft.operators.Kmeans.train(Tables.embeddings(s, d), k = CoarseK, iters = 2)
    kmeansCache.put((s, d), model)
    model.zipWithIndex.flatMap { case (c, cid) =>
      c.zipWithIndex.map { case (v, dim) => (cid, dim, v) }
    }.toSeq.toDF("cluster_id", "dim", "c_micro")
      .orderBy(col("cluster_id"), col("dim"))
  }

  /** Every vector's cell under the TRAINED quantizer (the index-build
    * assignment pass): nearest final centroid by exact integer squared
    * L2, cluster-id tie-break, distance reported in micro^2.
    */
  def kmeansAssign(s: SparkSession, d: String): DataFrame =
    graft.operators.Kmeans.quantized(Tables.embeddings(s, d))
      .select(col("vec_id"), graft.operators.Kmeans.nearest(kmeansModel(s, d)).as("nc"))
      .select(col("vec_id"), col("nc.cid").cast("long").as("cluster_id"),
        col("nc.dist").as("dist_micro2"))
      .orderBy(col("vec_id"))

  /** Incremental IVF index INGEST — the dedup_incremental posture on
    * the vector index (production IVF serving trains the coarse
    * quantizer rarely and assigns every arriving batch against the
    * FROZEN model): a bounded arrival batch (vec_id < 500, the audit
    * convention) is assigned to its nearest trained cell by exact
    * integer squared L2 ([[kmeansAssign]]'s argmin, O(batch × k), the
    * corpus never rescanned), then collapsed to the per-cell delta
    * census an index-health monitor reads — which cells grew, and at
    * what quantization cost (Σ dist). All k cells are emitted (0-added
    * cells included): a batch that loads one cell is the skew signal
    * that triggers re-training. At 100 TB: the model is a broadcast
    * scalar, the batch a few thousand rows — the whole op is
    * O(batch × k) regardless of index size.
    */
  def ivfIngest(s: SparkSession, d: String): DataFrame = {
    val model = kmeansModel(s, d)
    val added = graft.operators.Kmeans.quantized(
        Tables.embeddings(s, d).filter(col("vec_id") < 500))
      .select(graft.operators.Kmeans.nearest(model).as("nc"))
      .select(col("nc.cid").cast("long").as("cluster_id"), col("nc.dist").as("d"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_added"), sum(col("d")).as("sum_dist_micro2"))
    s.range(model.length.toLong).select(col("id").as("cluster_id"))
      .join(added, Seq("cluster_id"), "left")
      .select(col("cluster_id"),
        coalesce(col("n_added"), lit(0L)).as("n_added"),
        coalesce(col("sum_dist_micro2"), lit(0L)).as("sum_dist_micro2"))
      .orderBy(col("cluster_id"))
  }

  /** Trained RESIDUAL PQ codebooks per (session, dir) — M independent
    * k-means runs over the sliced residuals v − coarse_centroid(cell(v))
    * (true IVFADC, Jégou 2011 §IV.A — see [[Pq]]), cached like
    * [[kmeansModel]] (trained once, shipped to every encode/score
    * consumer). Depends on the coarse model: training consumes
    * [[kmeansModel]]'s cells.
    */
  private val pqCache = new graft.SessionCache[Array[Array[Array[Long]]]]("pipeline.pqModel")

  def pqModel(s: SparkSession, d: String): Array[Array[Array[Long]]] =
    pqCache.getOrElseUpdate((s, d),
      Pq.train(Tables.embeddings(s, d), kmeansModel(s, d)))

  /** The M=4 trained RESIDUAL PQ codebooks, one row per (sub, cluster,
    * dim) in integer micros — the quantization model behind
    * [[embeddingTopkPq]]. The DuckDB oracle re-derives the coarse
    * cells (the unrolled Lloyd chain), subtracts each vector's cell
    * center to get the residual table, then re-runs all four unrolled
    * per-subspace Lloyd trainings over the residuals (the
    * kmeans_centroids contract, ×M via a subspace-spec cross join) and
    * must land on the identical lattice. Producer convention:
    * deliberately re-trains and refreshes the cache (the
    * kmeans_centroids pattern — the build cost is measured here,
    * consumers read the warmed model).
    */
  def pqCodebooks(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val model = Pq.train(Tables.embeddings(s, d), kmeansModel(s, d))
    pqCache.put((s, d), model)
    model.zipWithIndex.flatMap { case (cb, sub) =>
      cb.zipWithIndex.flatMap { case (c, cid) =>
        c.zipWithIndex.map { case (v, dim) => (sub, cid, dim, v) }
      }
    }.toSeq.toDF("sub", "cluster_id", "dim", "c_micro")
      .orderBy(col("sub"), col("cluster_id"), col("dim"))
  }

  /** Every vector's coarse cell + M residual PQ codes (the index-build
    * encode pass) in long form (vec_id, cell, sub, code) for oracle
    * inspection — the compact array-typed artifact the ADC scan reads is
    * [[Pq.codesWide]], this is its posexplode. The cell column is part
    * of the index entry now that codes are residuals: a code is only
    * decodable relative to its cell center.
    */
  def pqCodes(s: SparkSession, d: String): DataFrame =
    Pq.codesWide(Tables.embeddings(s, d), kmeansModel(s, d), pqModel(s, d))
      .select(col("vec_id"), col("cell"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .select(col("vec_id"), col("cell"), col("sub"),
        col("code").cast("int").as("code"))
      .orderBy(col("vec_id"), col("sub"))

  /** Residual-PQ/ADC top-20 for query vec_id=0 by approximate squared
    * L2: the query's per-cell ncells×M×k distance table is a broadcast
    * literal (cell-center term folded in — true IVFADC scoring) and
    * every corpus vector costs M table lookups on its cell + codes —
    * map-only scan + TakeOrderedAndProject, no shuffle, no join. The
    * query re-derives the codes inline so it is self-contained; at
    * 100 TB the [[Pq.codesWide]] table is the materialized index
    * artifact and the scan reads ONLY it (4 bytes/vector + cell), never
    * the raw vectors — the 64× I/O reduction that is PQ's reason to
    * exist. Exact-integer micro² end to end; oracle recomputes the ADC
    * sum from this run's own centroid/codebook/code dumps ({OUT}
    * substitution).
    */
  def embeddingTopkPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val coarse = kmeansModel(s, d)
    val model = pqModel(s, d)
    val qv = queryVec(s, d)
    val dt = Pq.distTables(model, coarse, qv)
    Pq.codesWide(emb, coarse, model)
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        Pq.adcScore(col("cell"), col("codes"), dt).as("adc_micro2"))
      .orderBy(col("adc_micro2"), col("vec_id"))
      .limit(20)
  }

  /** Recall@20 of the PQ/ADC scan against the EXACT squared-L2 top-20
    * on the same integer lattice — the quality contract of the
    * compressed index (the ivf_recall pattern for the PQ half). The
    * exact side reuses the codegen'd argmin kernel at k=1 (the query
    * vector as the only "centroid" — its dist field IS the exact
    * distance).
    */
  /** The exact integer-L2 top-20 on the micro lattice — the truth side
    * shared by the PQ-family recall contracts.
    */
  private[queries] def exactL2Topk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val qv = queryVec(s, d)
    Kmeans.quantized(emb)
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        graft.functions.SketchExprs.nearestCentroid(col("v"), Array(qv))
          .getField("dist").as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(20)
      .select(col("vec_id"))
  }

  def pqRecall(s: SparkSession, d: String): DataFrame = {
    val pq = embeddingTopkPq(s, d).select(col("vec_id").as("v2"))
    exactL2Topk(s, d).join(pq, col("vec_id") === col("v2"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
      .select(lit(20L).as("k"), col("n_hit"),
        expr("10000 * n_hit div 20").as("recall_bp"))
  }

  /** Two-stage PQ retrieval — ADC shortlist, exact re-rank (the standard
    * production ANN serving shape: the compressed index cheaply proposes
    * a shortlist, full-precision vectors re-rank only the shortlist).
    * Stage 1 is [[embeddingTopkPq]]'s zero-shuffle ADC map scan widened
    * to top-100; stage 2 broadcasts the 100-id shortlist back onto the
    * raw vectors and computes exact integer L2 for those 100 rows only.
    * At 100 TB stage 1 reads 4 B/vector of codes and stage 2 reads 100
    * full vectors — the re-rank's cost is O(shortlist), independent of
    * corpus size, which is why serving stacks can afford exactness at
    * the top. [[pqRerankRecall]] publishes the recovered recall vs the
    * raw ADC top-20's ([[pqRecall]]).
    */
  def pqRerankTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val coarse = kmeansModel(s, d)
    val model = pqModel(s, d)
    val qv = queryVec(s, d)
    val dt = Pq.distTables(model, coarse, qv)
    val shortlist = Pq.codesWide(emb, coarse, model)
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        Pq.adcScore(col("cell"), col("codes"), dt).as("adc_micro2"))
      .orderBy(col("adc_micro2"), col("vec_id"))
      .limit(100)
      .select(col("vec_id"))
    Kmeans.quantized(emb)
      .join(broadcast(shortlist), "vec_id")
      .select(col("vec_id"),
        graft.functions.SketchExprs.nearestCentroid(col("v"), Array(qv))
          .getField("dist").as("dist_micro2"))
      .orderBy(col("dist_micro2"), col("vec_id"))
      .limit(20)
  }

  /** Recall@20 of the two-stage probe — the published proof that an
    * O(shortlist) exact re-rank recovers most of what 4-byte ADC alone
    * loses (pq_recall's honest number). Oracle recomputed from this
    * run's own dumps, the recall-family closure.
    */
  def pqRerankRecall(s: SparkSession, d: String): DataFrame = {
    val rr = pqRerankTopk(s, d).select(col("vec_id").as("v2"))
    exactL2Topk(s, d).join(rr, col("vec_id") === col("v2"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
      .select(lit(20L).as("k"), col("n_hit"),
        expr("10000 * n_hit div 20").as("recall_bp"))
  }

  /** The composed IVF-PQ query — both index halves together, each
    * trained (the production ANN shape: Jégou et al.'s IVFADC): rank
    * the TRAINED coarse cells ([[kmeansModel]]) by the query's exact
    * integer L2 distance, keep nprobe=3, and ADC-score only vectors
    * assigned to those cells. Cell ranking is 8 driver-side distances
    * (the model is k×dims — already a driver object); the scan is
    * map-only (assignment argmin + cell filter + M table lookups) into
    * TakeOrderedAndProject — zero shuffle. At 100 TB the assignment and
    * codes are the materialized index artifacts partitioned BY cell, so
    * the probe reads nprobe/ncells of the 4-byte code column and
    * nothing else — the combined ~500× scan reduction that makes
    * billion-vector ANN serve from a cluster at all.
    */
  def ivfPqTopk(s: SparkSession, d: String): DataFrame = {
    val nprobe = 3
    val emb = Tables.embeddings(s, d)
    val model = kmeansModel(s, d)
    val pq = pqModel(s, d)
    val qv = queryVec(s, d)
    val probed = model.zipWithIndex.map { case (c, cid) =>
      var dsum = 0L; var i = 0
      while (i < c.length) { val dd = qv(i) - c(i); dsum += dd * dd; i += 1 }
      (dsum, cid)
    }.sorted.take(nprobe).map(_._2)
    val dt = Pq.distTables(pq, model, qv)
    Pq.codesWide(emb, model, pq)
      .filter(col("vec_id") =!= 0)
      .filter(col("cell").isin(probed.toIndexedSeq: _*))
      .select(col("vec_id"),
        Pq.adcScore(col("cell"), col("codes"), dt).as("adc_micro2"))
      .orderBy(col("adc_micro2"), col("vec_id"))
      .limit(20)
  }

  /** Path of the MATERIALIZED cell-partitioned IVF-PQ index for `d` —
    * the artifact [[ivfPqTopk]]'s scaladoc promises, made physical:
    * one `cell=<cid>` directory per trained coarse cell holding only
    * (vec_id, code32) — the M byte codes bit-packed into one int, so a
    * vector's index entry is literally 4 bytes + id. Written once per
    * session through [[graft.sources.Layout.writePartitioned]] (the
    * partitionedOrders convention: the ingest job writes, every consumer
    * reads back).
    * At 100 TB this layout is why IVF probes are cheap: an unprobed
    * cell's directory is never even LISTED into the scan.
    */
  private val pqIndexCache = new graft.SessionCache[String]("pipeline.pqIndexPath")

  def pqIndexPath(s: SparkSession, d: String): String =
    // a later SparkSession in the same JVM must not silently reuse an
    // index written under a retired session
    pqIndexCache.getOrElseUpdate((s, d), {
      val dir = graft.TempArtifacts.create("graft-pq-index")
      val coarse = kmeansModel(s, d)
      val pq = pqModel(s, d)
      val idx = Pq.codesWide(Tables.embeddings(s, d), coarse, pq)
        .select(col("vec_id"), col("cell"),
          Pq.packCodes(col("codes")).as("code32"))
      graft.sources.Layout.writePartitioned(idx, dir, "cell")
      dir
    })

  /** [[ivfPqTopk]] served from the MATERIALIZED index: the probed-cell
    * predicate lands in the scan's PartitionFilters (directory pruning,
    * plan-guarded in PqSpec), so the 5 unprobed cells' files are never
    * opened and the scan reads only (vec_id, codes) — the physical
    * realization of "read nprobe/ncells of the 4-byte code column".
    * Must return exactly [[ivfPqTopk]]'s rows (same oracle SQL).
    */
  def ivfPqPruned(s: SparkSession, d: String): DataFrame = {
    val nprobe = 3
    val model = kmeansModel(s, d)
    val qv = queryVec(s, d)
    val probed = model.zipWithIndex.map { case (c, cid) =>
      var dsum = 0L; var i = 0
      while (i < c.length) { val dd = qv(i) - c(i); dsum += dd * dd; i += 1 }
      (dsum, cid)
    }.sorted.take(nprobe).map(_._2)
    val dt = Pq.distTables(pqModel(s, d), model, qv)
    Tables.parquet(s, pqIndexPath(s, d))
      .filter(col("cell").isin(probed.toIndexedSeq: _*))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        Pq.adcScorePacked(col("cell"), col("code32"), dt).as("adc_micro2"))
      .orderBy(col("adc_micro2"), col("vec_id"))
      .limit(20)
  }

  /** The COMPLETE production probe — every index lever composed: trained
    * coarse cells pruned at the DIRECTORY level (unprobed cells never
    * open, via the materialized `cell=<cid>` index), ADC over the probed
    * cells' 4-byte codes proposing a top-100 shortlist, and exact
    * integer-L2 re-ranking of ONLY the broadcast shortlist. This is the
    * query a 100 TB vector deployment actually serves: scan cost =
    * nprobe/ncells × 4 B/vector for stage 1 plus a constant 100 full
    * vectors for stage 2, at any corpus width. Oracle = the IVF-PQ ADC
    * CTE with the shortlist widened to 100, then the exact re-rank.
    */
  def ivfPqRerank(s: SparkSession, d: String): DataFrame = {
    val nprobe = 3
    val emb = Tables.embeddings(s, d)
    val model = kmeansModel(s, d)
    val qv = queryVec(s, d)
    val probed = model.zipWithIndex.map { case (c, cid) =>
      var dsum = 0L; var i = 0
      while (i < c.length) { val dd = qv(i) - c(i); dsum += dd * dd; i += 1 }
      (dsum, cid)
    }.sorted.take(nprobe).map(_._2)
    val dt = Pq.distTables(pqModel(s, d), model, qv)
    val shortlist = Tables.parquet(s, pqIndexPath(s, d))
      .filter(col("cell").isin(probed.toIndexedSeq: _*))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        Pq.adcScorePacked(col("cell"), col("code32"), dt).as("adc"))
      .orderBy(col("adc"), col("vec_id"))
      .limit(100)
      .select(col("vec_id"))
    Kmeans.quantized(emb)
      .join(broadcast(shortlist), "vec_id")
      .select(col("vec_id"),
        graft.functions.SketchExprs.nearestCentroid(col("v"), Array(qv))
          .getField("dist").as("dist_micro2"))
      .orderBy(col("dist_micro2"), col("vec_id"))
      .limit(20)
  }

  /** MMR-diversified re-ranking (Carbonell & Goldstein 1998) of the
    * exact top-20 — the standard retrieval post-process that trades raw
    * relevance for coverage: greedily select 10 of the 20 candidates
    * maximizing λ·sim(q,c) − (1−λ)·max_{s∈selected} sim(c,s) at λ=0.5
    * ((score desc, vec_id) tie-break). The distributed part is the
    * candidate retrieval ([[embeddingTopk]]'s scan); the selection loop
    * runs on the DRIVER over the bounded 20-row list — exactly where a
    * serving layer runs it, and the k×dims-bounded-fold posture the
    * kmeans/BPE trainers already declare. Pairwise sims use the same
    * sequential left-fold + 6-dp rounding the cosine family pins in
    * both engines; the oracle replays the greedy selection as a
    * recursive CTE over this run's own top-20 dump and must land on the
    * identical picks and scores. On this fixture MMR genuinely
    * reorders (PqSpec pins the diversity effect, not just the
    * mechanics).
    */
  def mmrRerank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val kSel = 10
    val cand = embeddingTopk(s, d).collect() // bounded: 20 rows by construction
    val simqM = cand.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ids = cand.map(_.getLong(0))
    val vecs = Tables.embeddings(s, d).filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap // bounded: 20
    def sim6(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val pair = (for {
      (a, va) <- vecs.toSeq; (b, vb) <- vecs.toSeq if a != b
    } yield ((a, b), sim6(va, vb))).toMap
    val picked = scala.collection.mutable.ArrayBuffer[(Int, Long, Double)]()
    val remaining = scala.collection.mutable.SortedSet(ids: _*)
    for (t <- 1 to kSel) {
      val best = remaining.toSeq.map { c =>
        val maxRel =
          if (picked.isEmpty) 0.0
          else picked.map { case (_, sid, _) => pair((c, sid)) }.max
        (c, 0.5 * simqM(c) - 0.5 * maxRel)
      }.minBy { case (c, sc) => (-sc, c) }
      picked += ((t, best._1, best._2))
      remaining -= best._1
    }
    picked.toSeq.map { case (t, id, sc) =>
      (t, id, BigDecimal(sc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("rank", "vec_id", "mmr_score")
  }

  /** BATCHED multi-query ANN — how offline vector serving actually
    * runs: 8 query vectors (vec_id < 8) probe the materialized IVF-PQ
    * index TOGETHER. Each query ranks cells driver-side and keeps
    * nprobe=3; the scan reads the UNION of all probed cells ONCE
    * (directory-pruned — one pass instead of 8), the broadcast
    * (qid, cell) probe list fans each row out to exactly the queries
    * that probed its cell, and ADC scores come from one flattened
    * queries×ncells×M×K literal (2048 longs — still a broadcast
    * scalar) indexed by (qid, row cell, code). Per-query top-20 lands
    * on the TopKPerGroup heap. At 100 TB this is the amortization that
    * makes offline ANN jobs (hard-negative mining, dedup sweeps,
    * recommendation backfills) feasible: scan cost is
    * |union cells|/ncells of the 4-byte code column for the WHOLE
    * batch, not per query. Oracle re-derives probes from the unrolled
    * Lloyd chain and ADC from the run's own dumps.
    */
  def ivfPqBatch(s: SparkSession, d: String): DataFrame = {
    val nprobe = 3
    val emb = Tables.embeddings(s, d)
    val coarse = kmeansModel(s, d)
    val pq = pqModel(s, d)
    val ncells = coarse.length
    import s.implicits._
    val qvs = Kmeans.quantized(emb.filter(col("vec_id") < 8))
      .select(col("vec_id"), col("v")).collect() // bounded: 8 rows
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
    def sqd(a: Array[Long], b: Array[Long]): Long = {
      var s0 = 0L; var i = 0
      while (i < a.length) { val dd = a(i) - b(i); s0 += dd * dd; i += 1 }
      s0
    }
    val probes = qvs.flatMap { case (qid, qv) =>
      coarse.zipWithIndex.map { case (c, cid) => (sqd(qv, c), cid) }
        .sorted.take(nprobe).map(p => (qid, p._2))
    }.toSeq
    val unionCells = probes.map(_._2).distinct.sorted
    // qid-major flattened per-query per-cell ADC tables
    val flat = typedLit(qvs.flatMap { case (_, qv) =>
      Pq.distTables(pq, coarse, qv).flatten.flatten
    }.toSeq)
    val score = (0 until Pq.M).map { m =>
      element_at(flat,
        ((col("qid") * ncells + col("cell")) * lit(Pq.M * Pq.K) + lit(m * Pq.K)
          + shiftright(col("code32"), 8 * m).bitwiseAND(lit(0xFF))).cast("int") + 1)
    }.reduce(_ + _)
    val scored = Tables.parquet(s, pqIndexPath(s, d))
      .filter(col("cell").isin(unionCells: _*)) // directory pruning
      .join(broadcast(probes.toDF("qid", "cell")), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), score.as("adc_micro2"))
    graft.plans.TopKPerGroup(scored, Seq("qid"),
        Seq(col("adc_micro2"), col("vec_id")), 20)
      .orderBy(col("qid"), col("adc_micro2"), col("vec_id"))
  }

  /** Sign-bit binary codes (1 bit/dim, packed into two 32-bit halves so
    * neither engine shifts into the sign bit — DuckDB raises on
    * `1::BIGINT << 63`): the training-free end of the quantization
    * ladder the PQ family anchors. 64 dims → 8 bytes/vector (32×
    * compression vs float32), map-only encode, no shuffle. Codes sum
    * single-bit terms, so the integer sum IS the bitwise OR and both
    * engines agree exactly.
    */
  private[queries] def bqCoded(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      expr("aggregate(transform(slice(embedding, 1, 32), " +
        "(x, i) -> IF(x > 0, shiftleft(1L, i), 0L)), 0L, (a, b) -> a + b)")
        .as("code_lo"),
      expr("aggregate(transform(slice(embedding, 33, 32), " +
        "(x, i) -> IF(x > 0, shiftleft(1L, i), 0L)), 0L, (a, b) -> a + b)")
        .as("code_hi"))

  /** Binary-quantization top-k: Hamming distance over the 8-byte sign
    * codes, the cheapest ANN scan the serving stacks ship (8 bytes +
    * two XOR/popcounts per vector — at 100 TB the scan reads 1/32 of
    * the float bytes and the distance is branch-free codegen). Raw BQ
    * recall is honest-but-low ([[bqRecall]] publishes it; the
    * production posture is [[bqRerankTopk]]'s exact re-rank, same
    * two-stage shape as pq_rerank_topk). Ties broken by vec_id — the
    * total comparator both engines share.
    */
  def bqTopk(s: SparkSession, d: String): DataFrame = {
    val c = bqCoded(Tables.embeddings(s, d))
    val q = c.filter(col("vec_id") === 0)
      .select(col("code_lo").as("ql"), col("code_hi").as("qh"))
    c.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        (expr("bit_count(code_lo ^ ql)") + expr("bit_count(code_hi ^ qh)"))
          .cast("long").as("hamming"))
      .orderBy(col("hamming"), col("vec_id"))
      .limit(20)
  }

  /** Recall@20 of the raw Hamming scan vs the exact brute-force top-20
    * (ivf_recall's {OUT} posture: checked against this run's own dumps).
    */
  def bqRecall(s: SparkSession, d: String): DataFrame =
    recallOf(embeddingTopk(s, d), bqTopk(s, d))

  /** The production BQ probe: Hamming shortlist of 100 (the 8-byte scan
    * does the corpus-wide work) → exact float cosine re-rank of ONLY
    * the broadcast shortlist — O(shortlist) full-precision cost at any
    * corpus width, the same two-stage contract as [[pqRerankTopk]] but
    * with a training-free stage 1. [[bqRerankRecall]] publishes the
    * lift over [[bqRecall]]'s raw codes.
    */
  def bqRerankTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val c = bqCoded(emb)
    val q = c.filter(col("vec_id") === 0)
      .select(col("code_lo").as("ql"), col("code_hi").as("qh"))
    val shortlist = c.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        (expr("bit_count(code_lo ^ ql)") + expr("bit_count(code_hi ^ qh)"))
          .as("hamming"))
      .orderBy(col("hamming"), col("vec_id"))
      .limit(100)
      .select(col("vec_id"))
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    emb.join(broadcast(shortlist), "vec_id")
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        round(VectorFns.cosine(col("embedding"), col("q_emb")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(20)
  }

  /** Recall@20 of the two-stage BQ probe — the published lift the
    * 8-byte index buys back with a constant 100 full-precision reads.
    */
  def bqRerankRecall(s: SparkSession, d: String): DataFrame =
    recallOf(embeddingTopk(s, d), bqRerankTopk(s, d))

  /** Scalar quantization at 8 bits/dim (the FAISS ScalarQuantizer
    * QT_8bit posture — Jégou et al.'s uniform per-dim quantizer): the
    * middle rung of the quantization ladder between the 1-bit sign
    * codes ([[bqTopk]]) and full floats — 64 bytes/vector, 4×
    * compression, NO codebook training. "Training" is one 64-row
    * min/max aggregate (per-dim bounds on the shared micro lattice —
    * exact integers, so both engines derive identical scales); encode
    * is map-only against the broadcast bounds (dims-bounded driver
    * fold, the kmeans-model posture); distance is integer L2 in code
    * space — all-integer end to end, so ties and order are total. At
    * 100 TB: scan reads 1/4 of the float bytes with zero index-build
    * jobs; [[sq8Recall]] publishes what the 8-bit grid keeps (8500 bp
    * at sf0.01 vs PQ's 4-byte-code 5000 — the byte-budget/recall trade
    * a deployment picks between).
    */
  /** The per-dim (min, range) SQ8 grid bounds, collected once per
    * (session, dir) — the kmeansCache model posture (r18): this IS the
    * quantizer's trained state ("training is one 64-row min/max
    * aggregate"), and sq8_topk, sq8_recall and quantization_error each
    * re-ran the full corpus posexplode aggregate to re-derive it.
    */
  private val sq8BoundsCache =
    new graft.SessionCache[Array[(Int, Long, Long)]]("pipeline.sq8Bounds")

  private[queries] def sq8Bounds(s: SparkSession, d: String): Array[(Int, Long, Long)] =
    sq8BoundsCache.getOrElseUpdate((s, d),
      Kmeans.quantized(Tables.embeddings(s, d))
        .select(posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("dim"))
        .agg(min(col("x")).as("mn"),
          greatest(max(col("x")) - min(col("x")), lit(1L)).as("rng"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)) // bounded: dims rows

  def sq8Topk(s: SparkSession, d: String): DataFrame = {
    val v = Kmeans.quantized(Tables.embeddings(s, d))
    val mm = sq8Bounds(s, d)
    val minsSql = mm.map(_._2).mkString("array(", "L,", "L)")
    val rngsSql = mm.map(_._3).mkString("array(", "L,", "L)")
    // all operands non-negative (x - min >= 0, rng >= 1), so Spark's
    // truncating `div` and DuckDB's flooring `//` agree
    val coded = v.select(col("vec_id"), expr(
      s"transform(v, (x, i) -> ((x - element_at($minsSql, i + 1)) * 255)" +
        s" div element_at($rngsSql, i + 1))").as("code"))
    // the query's code folds driver-side from the cached query vector
    // against the same bounds — the identical truncating-div arithmetic
    // on the identical lattice values, one collect job fewer (r18)
    val qv = queryVec(s, d)
    val qc = mm.map { case (i, mn, rng) => (qv(i) - mn) * 255L / rng }
    val qcSql = qc.mkString("array(", "L,", "L)")
    coded.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), expr(
        s"aggregate(zip_with(code, $qcSql, (a, b) -> (a - b) * (a - b))," +
          " 0L, (acc, e) -> acc + e)").as("qdist"))
      .orderBy(col("qdist"), col("vec_id"))
      .limit(20)
  }

  /** Recall@20 of the 8-bit scalar-quantized scan vs the exact top-20. */
  def sq8Recall(s: SparkSession, d: String): DataFrame =
    recallOf(embeddingTopk(s, d), sq8Topk(s, d))

  /** The deterministic ±1 Johnson–Lindenstrauss projection matrix
    * (16×64) shared by [[rpTopk]] and its oracle: sign(o, i) from the
    * weighted_sample Knuth-hash arithmetic on the flattened index —
    * pure integer ops, so both engines materialize the identical
    * matrix without an RNG (Achlioptas 2003: ±1 entries satisfy the JL
    * lemma with the same distortion bound as Gaussians).
    */
  private[graft] def rpSign(o: Int, i: Int): Long =
    if ((((o * 64L + i) % 2147483647L) * 2654435761L) % 1000000007L % 2L == 0L) 1L
    else -1L

  /** Random-projection ANN (the JL rung BELOW scalar quantization on
    * the compression ladder): project 64-dim micro vectors to 16 dims
    * through the deterministic ±1 matrix ([[rpSign]]) and scan in the
    * projected space — 4× fewer distance multiplies and 16 longs per
    * vector, with NO training step at all (the property that makes
    * random projection the bootstrap index while kmeans/PQ artifacts
    * build). Projection is exact integer arithmetic (Σ ±v_i), distance
    * is exact integer L2 in projected space, so order and ties are
    * total in both engines. Map-only over the corpus + a 20-row
    * top-k; [[rpRecall]] publishes what 16 JL dims keep of the true
    * cosine top-20.
    */
  def rpTopk(s: SparkSession, d: String): DataFrame = {
    val v = Kmeans.quantized(Tables.embeddings(s, d))
    val signsSql = (0 until 16).map { o =>
      (0 until 64).map(i => s"${rpSign(o, i)}L").mkString("array(", ",", ")")
    }.mkString("array(", ",", ")")
    val proj = v.select(col("vec_id"), expr(
      s"transform($signsSql, r -> aggregate(zip_with(v, r," +
        " (x, s) -> x * s), 0L, (acc, e) -> acc + e))").as("p"))
    // the query's projection folds driver-side from the cached query
    // vector through the same deterministic ±1 matrix — identical exact
    // integer sums, one collect job fewer (r18)
    val qv = queryVec(s, d)
    val qp = (0 until 16).map(o =>
      (0 until 64).map(i => qv(i) * rpSign(o, i)).sum)
    val qpSql = qp.mkString("array(", "L,", "L)")
    proj.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), expr(
        s"aggregate(zip_with(p, $qpSql, (a, b) -> (a - b) * (a - b))," +
          " 0L, (acc, e) -> acc + e)").as("pdist"))
      .orderBy(col("pdist"), col("vec_id"))
      .limit(20)
  }

  /** Recall@20 of the 16-dim JL-projected scan vs the exact top-20. */
  def rpRecall(s: SparkSession, d: String): DataFrame =
    recallOf(embeddingTopk(s, d), rpTopk(s, d))

  /** The ANN Pareto table — every lossy encoding's recall@20 contract
    * and its storage cost in ONE frame (the decision table a serving
    * deployment actually reads: raw floats are 256 B/vec; each row
    * says what a cheaper encoding keeps of the true cosine top-20).
    * Composes the existing per-method recall queries (their scan
    * semantics stay single-sourced) and labels them with the physical
    * bytes; [[quantizationError]] is the companion distortion view of
    * the same ladder. The two-stage rows price the re-rank trick:
    * same bytes scanned, +100 full-precision reads, recall restored.
    */
  def annPareto(s: SparkSession, d: String): DataFrame = {
    val rows = Seq(
      ("pq4", 4L, pqRecall(s, d)),
      ("pq4_rerank", 4L, pqRerankRecall(s, d)),
      ("bq8", 8L, bqRecall(s, d)),
      ("bq8_rerank", 8L, bqRerankRecall(s, d)),
      ("sq8_64", 64L, sq8Recall(s, d)),
      ("rp16_128", 128L, rpRecall(s, d)))
    rows.map { case (m, b, df) =>
      df.select(lit(m).as("method"), lit(b).as("bytes_per_vec"),
        col("recall_bp"))
    }.reduce(_ union _).orderBy(col("method"))
  }

  /** The byte-budget distortion table — mean squared reconstruction
    * error (exact integer micro², per vector) for every lossy encoding
    * the index stack ships: residual PQ (4 B/vec — error is the exact
    * sum of the per-subspace argmin distances against the trained
    * codebooks), 1-bit sign codes (8 B/vec — reconstruction ±s_j with
    * s_j the per-dim exact floor-average magnitude), and 8-bit scalar
    * quantization (64 B/vec — grid round-trip against the derived
    * min/range bounds). The recall contracts ([[pqRecall]],
    * [[bqRecall]], [[sq8Recall]]) grade each method on ONE query;
    * this grades the encodings themselves corpus-wide — the two
    * numbers a deployment weighs per byte spent. All three errors are
    * map-only scans against broadcast-literal models + one aggregate;
    * DECIMAL(38,0) accumulators (per-vector error reaches ~1e15
    * micro²). DuckDB recomputes sq8/bq from the raw table and replays
    * PQ from this run's own centroid/codebook/code dumps ({OUT}).
    */
  def quantizationError(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = Kmeans.quantized(emb)
    def row(method: String, bytes: Long, errCol: DataFrame) =
      errCol.agg(count(lit(1)).as("n_vecs"),
          sum(col("err").cast("decimal(38,0)")).as("se"))
        .select(lit(method).as("method"), lit(bytes).as("bytes_per_vec"),
          col("n_vecs"), expr("CAST(se div n_vecs AS BIGINT)").as("mse_micro2"))
    // pq: the per-subspace argmin distance IS the reconstruction error
    val model = pqModel(s, d)
    val pqE = Pq.residuals(emb, kmeansModel(s, d)).select(
      (0 until Pq.M).map(m => graft.functions.SketchExprs
        .nearestCentroid(slice(col("v"), m * Pq.SubDim + 1, Pq.SubDim), model(m))
        .getField("dist")).reduce(_ + _).as("err"))
    // sq8: grid round-trip against the derived per-dim bounds (the
    // cached sq8Bounds model state — identical aggregate, r18)
    val mm = sq8Bounds(s, d)
    val minsSql = mm.map(_._2).mkString("array(", "L,", "L)")
    val rngsSql = mm.map(_._3).mkString("array(", "L,", "L)")
    val sq8E = q.select(expr(
      s"""aggregate(transform(v, (x, i) ->
         |    (x - (element_at($minsSql, i + 1)
         |       + (((x - element_at($minsSql, i + 1)) * 255)
         |          div element_at($rngsSql, i + 1))
         |       * element_at($rngsSql, i + 1) div 255))
         |    * (x - (element_at($minsSql, i + 1)
         |       + (((x - element_at($minsSql, i + 1)) * 255)
         |          div element_at($rngsSql, i + 1))
         |       * element_at($rngsSql, i + 1) div 255))),
         |  CAST(0 AS BIGINT), (acc, e) -> acc + e)""".stripMargin).as("err"))
    // bq: per-dim exact floor-average magnitude as the sign amplitude
    val sAbs = q.select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(sum(abs(col("x"))).as("sa"), count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1) / r.getLong(2)))
      .sortBy(_._1) // bounded: dims rows
    val ampSql = sAbs.map(_._2).mkString("array(", "L,", "L)")
    val bqE = q.select(expr(
      s"""aggregate(zip_with(v, $ampSql, (x, s) ->
         |    (x - (CASE WHEN x >= 0 THEN s ELSE -s END))
         |    * (x - (CASE WHEN x >= 0 THEN s ELSE -s END))),
         |  CAST(0 AS BIGINT), (acc, e) -> acc + e)""".stripMargin).as("err"))
    row("pq", 4L, pqE)
      .union(row("bq", 8L, bqE))
      .union(row("sq8", 64L, sq8E))
      .orderBy(col("method"))
  }

  /** Per-cell health report of the trained coarse quantizer — the
    * index-build diagnostic every ANN deployment publishes (cell
    * balance drives probe cost; a degenerate mega-cell defeats the
    * nprobe/ncells scan reduction): vectors per cell, floor-average
    * assignment distance, and the majority shipped label with its
    * purity in exact bp (how well the unsupervised cells recover the
    * corpus's labeled structure). Two bounded hash aggregates + the
    * TopKPerGroup argmax at k=1.
    */
  def kmeansProfile(s: SparkSession, d: String): DataFrame = {
    val asg = kmeansAssign(s, d)
      .join(Tables.embeddings(s, d).select(col("vec_id"), col("label")), "vec_id")
    // decimal(38,0) sum: per-vector dist_micro2 reaches ~1e15 on the micro
    // lattice, so an int64 sum silently wraps past ~9e3 worst-case vectors
    // per cell (DuckDB's oracle promotes to HUGEINT); the decimal
    // accumulator matches the oracle at any cell size and `div` brings
    // the average back to int64.
    val tot = asg.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("dist_micro2").cast("decimal(38,0)")).as("sd"))
    val lab = asg.groupBy(col("cluster_id"), col("label"))
      .agg(count(lit(1)).as("lc"))
    val top = graft.plans.TopKPerGroup(lab, Seq("cluster_id"),
        Seq(col("lc").desc, col("label").asc), k = 1)
      .select(col("cluster_id"), col("label").cast("int").as("top_label"), col("lc"))
    tot.join(top, "cluster_id")
      .select(col("cluster_id"), col("n_vecs"),
        expr("sd div n_vecs").as("avg_dist_micro2"),
        col("top_label"),
        expr("10000 * lc div n_vecs").as("purity_bp"))
      .orderBy(col("cluster_id"))
  }

  /** The index-sizing trade made measurable — one row per candidate
    * coarse-quantizer size: the shipped default (ncells = 8) and the
    * √n rule ([[graft.operators.Kmeans.ncellsFor]] — the FAISS/IVFADC
    * sizing, 22 cells on the 500-vector fixture). Each size trains its
    * own quantizer (the producer convention: this query deliberately
    * pays both training costs so the bench row shows the trade), probes
    * at the SAME scan fraction as the default operating point
    * (nprobe = max(1, 3·ncells/8) — 3-of-8), brute-forces exact integer
    * L2 within the probed cells only, and reports recall@20 against the
    * global exact scan. The published story: at equal scan fraction,
    * more cells = finer pruning boundaries (and cheaper per-probe scans
    * of ~nprobe·√n vectors), bought with k× training and ranking cost.
    * Oracle re-runs BOTH unrolled Lloyd chains in DuckDB — the √n one
    * with a data-derived init LIMIT — and must land on identical rows.
    */
  def ivfSizeProfile(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val n = embCount(s, d) // bounded scalar, collected once per session
    val qv = queryVec(s, d)
    val exact = exactL2Topk(s, d)
    // r18: the two candidate quantizers are INDEPENDENT training chains
    // (different k over the same frame) whose Lloyd rounds are small
    // sequential driver jobs — submitted from two driver threads they
    // back-fill each other's scheduling gaps (guide §2.6 overlap
    // independent jobs), so the query pays max(train) wall instead of
    // the sum. Results are order-pinned by the ladder Seq. Both chains
    // train on one frame persisted here, so neither releases it under
    // the other.
    val q = Kmeans.quantized(emb)
    val rows = persisting(q)(parTrains(Seq(8, Kmeans.ncellsFor(n))) { k =>
      val model = Kmeans.trainQ(q, k = k, iters = 2)
      val nprobe = math.max(1, 3 * k / 8)
      val probed = model.zipWithIndex.map { case (c, cid) =>
        var dsum = 0L; var i = 0
        while (i < c.length) { val dd = qv(i) - c(i); dsum += dd * dd; i += 1 }
        (dsum, cid)
      }.sorted.take(nprobe).map(_._2)
      val ivf = q.filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          Kmeans.nearest(model).getField("cid").as("cid"),
          graft.functions.SketchExprs.nearestCentroid(col("v"), Array(qv))
            .getField("dist").as("dist"))
        .filter(col("cid").isin(probed.toIndexedSeq: _*))
        .orderBy(col("dist"), col("vec_id"))
        .limit(20)
        .select(col("vec_id"))
      exact.join(ivf, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(k).cast("int").as("ncells"),
          lit(nprobe).cast("int").as("nprobe"), col("n_hit"),
          expr("10000 * n_hit div 20").as("recall_bp"))
    })
    rows.reduce(_ union _).orderBy(col("ncells"))
  }

  /** Sample-trained vs full-trained coarse quantizer — the measured
    * card behind the declared 100 TB posture ("the quantizer trains on
    * a bounded sample"; FAISS's own guidance trains on 30–256 points
    * per centroid, not the corpus): both quantizers use the SAME
    * k = √n budget, one trained on the full corpus, one on the
    * deterministic 1-in-4 stride (vec_id % 4 = 0 — order-free, no RNG),
    * probed identically at the 3k/8 scan fraction against the same
    * exact top-20 truth. The two recall rows price exactly what the 4×
    * cheaper training gives up — the number that justifies
    * sample-training before anyone ships it. Training cost is the
    * card's point; the probes are the ivf_size_profile machinery.
    */
  def ivfSampleTrain(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val n = embCount(s, d) // bounded scalar, collected once per session
    val k = graft.operators.Kmeans.ncellsFor(n)
    val nprobe = math.max(1, 3 * k / 8)
    val qv = queryVec(s, d)
    val exact = exactL2Topk(s, d)
    // r18: the full-corpus and 1-in-4-sample trainings are independent
    // chains — two driver threads overlap their per-round jobs (guide
    // §2.6), max(train) wall instead of the sum; order pinned by Seq.
    val rows = parTrains(Seq(
      "full" -> emb,
      "sample" -> emb.filter(col("vec_id") % 4 === 0)
    )) { case (name, trainSet) =>
      val model = Kmeans.train(trainSet, k = k, iters = 2)
      val probed = model.zipWithIndex.map { case (c, cid) =>
        var dsum = 0L; var i = 0
        while (i < c.length) { val dd = qv(i) - c(i); dsum += dd * dd; i += 1 }
        (dsum, cid)
      }.sorted.take(nprobe).map(_._2)
      val ivf = Kmeans.quantized(emb).filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          Kmeans.nearest(model).getField("cid").as("cid"),
          graft.functions.SketchExprs.nearestCentroid(col("v"), Array(qv))
            .getField("dist").as("dist"))
        .filter(col("cid").isin(probed.toIndexedSeq: _*))
        .orderBy(col("dist"), col("vec_id"))
        .limit(20)
        .select(col("vec_id"))
      exact.join(ivf, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(name).as("train_set"), lit(k).cast("int").as("ncells"),
          lit(nprobe).cast("int").as("nprobe"), col("n_hit"),
          expr("10000 * n_hit div 20").as("recall_bp"))
    }
    rows.reduce(_ union _).orderBy(col("train_set"))
  }

  /** Contrastive hard-negative mining — the training-pair op behind
    * every embedding-model fine-tune (and the reason ANN indexes sit in
    * training stacks at all): for each anchor, the most-similar vectors
    * with a DIFFERENT label are the hardest negatives — the examples a
    * contrastive loss learns most from (easy random negatives saturate
    * immediately). 8 anchors (vec_id < 8, a bounded broadcast) fan out
    * over the corpus map-only; the cross-label filter and codegen'd
    * cosine run per row; per-anchor top-5 lands on the TopKPerGroup
    * heap (never a global sort), then a 5-row-per-anchor bounded window
    * assigns the published rank. At 100 TB the anchor set is a batch of
    * training queries and the scan is the brute-force baseline — the
    * IVF/PQ probes above are the drop-in accelerated path once recall
    * is tuned (that is the point of publishing their recall contracts).
    */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val anchors = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("a_emb"),
        col("label").as("a_label"))
    val scored = emb.crossJoin(broadcast(anchors))
      .filter(col("label") =!= col("a_label"))
      .select(col("anchor_id"), col("vec_id"),
        round(VectorFns.cosine(col("embedding"), col("a_emb")), 6).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id")).orderBy(col("sim").desc, col("vec_id"))
    graft.plans.TopKPerGroup(scored, Seq("anchor_id"),
        Seq(col("sim").desc, col("vec_id")), 5)
      .withColumn("rank", row_number().over(w)) // bounded: 5 rows/anchor
      .orderBy(col("anchor_id"), col("rank"))
  }

  /** Two-NN intrinsic-dimension estimate (Facco et al. 2017) — the
    * embedding-health diagnostic that tells an indexing/compression
    * stack how much structure the vectors actually have (ID ≪ ambient
    * dims justifies aggressive PQ/SQ budgets; ID ≈ dims means the
    * space is noise-like): ID = n / Σ ln(r2/r1) over each sampled
    * point's two nearest neighbors. The sample is BOUNDED (vec_id <
    * 500 — the knn_label_consistency batch posture; the neighbor pool
    * stays the full corpus, and at 100 TB the 2-NN lookups come from
    * the batched IVF-PQ probe), distances are exact integer micro² L2,
    * each point's ln term is rounded ONCE to nano-nats (token_kl's
    * partitioning-invariance discipline) and the fold is an exact
    * integer sum. Fixture read: ID ≈ 35 of 64 ambient dims.
    */
  def intrinsicDim(s: SparkSession, d: String): DataFrame = {
    val q = Kmeans.quantized(Tables.embeddings(s, d))
    // bounded 500-anchor sample collected as a literal model (the
    // kmeans-codebook posture); distances to ALL anchors come from ONE
    // generated loop per corpus row (CentroidDistsExpr — the HOF
    // zip_with/aggregate spelling interpreted every lambda step:
    // measured 19 s vs sub-second generated at sf0.1)
    val samp = q.filter(col("vec_id") < 500)
      .select(col("vec_id"), col("v")).collect()
      .sortBy(_.getLong(0))
    val ids = samp.map(_.getLong(0))
    val anchors = samp.map(_.getSeq[Long](1).toArray)
    val idLit = typedLit(ids.toSeq)
    val d2 = q
      .select(col("vec_id").as("j"),
        posexplode(graft.functions.SketchExprs.centroidDists(col("v"), anchors))
          .as(Seq("idx", "d2")))
      .select(element_at(idLit, col("idx") + 1).as("i"), col("j"), col("d2"))
      .filter(col("i") =!= col("j") && col("d2") > 0)
    graft.plans.TopKPerGroup(d2, Seq("i"), Seq(col("d2"), col("j")), 2)
      .groupBy(col("i")).agg(min(col("d2")).as("d1"), max(col("d2")).as("d2x"))
      .select(expr("CAST(round(0.5 * ln(CAST(d2x AS DOUBLE)" +
        " / CAST(d1 AS DOUBLE)) * 1000000000) AS BIGINT)").as("term"))
      .agg(count(lit(1)).as("n"), sum(col("term")).as("slog_nano"))
      .select(col("n"), col("slog_nano"),
        expr("1000 * n * 1000000000 div slog_nano").as("id_milli"))
  }

  /** Top principal component by 3 deterministic power iterations — the
    * embedding-health companion to [[intrinsicDim]] (the leading PCA
    * loading tells a compression/indexing stack where the variance
    * lives; a single dominant axis means SQ/PQ budgets should be
    * anisotropic, and the projection is the 1-D visualization every
    * embedding dashboard draws). v_{t+1} ∝ Σ_i c_i (c_i · v_t) over
    * mean-centered micro-lattice vectors c_i = x_i − μ (μ is the exact
    * integer floor-average — the kmeans_centroids convention). Scale
    * shape: each iteration is ONE map-only pass + a 64-row aggregate
    * (the per-row dot against the broadcast-literal direction, then a
    * per-dim sum) — the classic distributed matrix-free power method;
    * nothing data-sized ever leaves the executors. Parity discipline:
    * per-row dots are exact BIGINT, the per-dim accumulators are exact
    * DECIMAL(38,0) (Spark) ≡ HUGEINT (DuckDB) — order-free integer
    * sums — and the only doubles are the 64-element normalization fold
    * each round, run in ONE fixed dim order on both engines
    * (floor(x+0.5) spelling = Java Math.round). Direction vectors live
    * on the milli lattice (|v| ≈ 1000), so dots stay far under 2^63.
    */
  def pcaPower(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dims = 64
    val q = Kmeans.quantized(Tables.embeddings(s, d))
    persisting(q) {
      val mu = new Array[Long](dims)
      q.select(posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("dim")).agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect() // bounded: dims rows
        .foreach(r => mu(r.getInt(0)) = r.getLong(1) / r.getLong(2))
      // ones direction: 1000/sqrt(64) = 125 exactly on the milli lattice
      var v = Array.fill(dims)(125L)
      for (_ <- 1 to 3) {
        val muL = typedLit(mu.toSeq)
        val vL = typedLit(v.toSeq)
        val centered = q.select(transform(col("v"),
          (x, j) => x - element_at(muL, j + 1)).as("c"))
        val dotted = centered.select(col("c"),
          aggregate(zip_with(col("c"), vL, (a, b) => a * b), lit(0L),
            (acc, y) => acc + y).as("dot"))
        val w = new Array[java.math.BigDecimal](dims)
        dotted
          .select(posexplode(col("c")).as(Seq("dim", "cx")), col("dot"))
          .groupBy(col("dim"))
          .agg(sum(col("cx").cast(org.apache.spark.sql.types.DecimalType(38, 0))
            * col("dot")).as("w"))
          .collect() // bounded: dims rows
          .foreach(r => w(r.getInt(0)) = r.getDecimal(1))
        val wd = w.map(_.doubleValue)
        val norm = math.sqrt(wd.foldLeft(0.0)((a, x) => a + x * x))
        v = wd.map(x => math.round(1000.0 * x / norm))
      }
      v.zipWithIndex.map { case (x, j) => (j, x) }.toSeq
        .toDF("dim", "loading_milli").orderBy(col("dim"))
    }
  }

  /** Greedy k-center coreset (Gonzalez 1985 farthest-point traversal —
    * the coverage-maximizing data-selection rule: each round picks the
    * point FARTHEST from everything chosen so far, so 8 points span
    * the embedding space's extremes where random/weighted sampling
    * oversamples the dense core; the selected radius sequence is the
    * 2-approximation of the optimal k-center cost). 8 rounds, each ONE
    * map-only scan (the codegen'd all-anchor distance loop against the
    * ≤8 chosen centers as a broadcast literal) + a 1-row TakeOrdered
    * argmax with (dist desc, vec_id) tie-break — exact integer micro²
    * distances, fully deterministic, k scans of the corpus at any
    * size (the honest Gonzalez cost; a production run maintains the
    * running min-distance column incrementally to make each round
    * O(n·dims) against ONE new center). DuckDB unrolls the same 8
    * rounds (the kmeans precedent). Output: (round, chosen vec_id,
    * radius = its min distance to the earlier centers — the coverage
    * radius achieved by the first `round` centers).
    */
  def kcenterCoreset(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = Kmeans.quantized(Tables.embeddings(s, d))
    persisting(q) {
      val seed = q.orderBy(col("vec_id")).limit(1).collect()(0)
      var picked =
        Vector((seed.getLong(0), seed.getSeq[Long](1).toArray, 0L))
      for (_ <- 1 to 7) {
        val cents = picked.map(_._2).toArray
        val next = q.select(col("vec_id"), col("v"),
            graft.functions.SketchExprs.nearestCentroid(col("v"), cents)
              .getField("dist").as("mind2"))
          .orderBy(col("mind2").desc, col("vec_id")).limit(1)
          .collect()(0) // bounded: 1 row
        picked :+= ((next.getLong(0), next.getSeq[Long](1).toArray,
          next.getLong(2)))
      }
      picked.zipWithIndex.map { case ((id, _, r), t) => (t, id, r) }
        .toSeq.toDF("round", "vec_id", "radius_micro2")
        .orderBy(col("round"))
    }
  }

  /** k-NN label-consistency audit (the Confident-Learning-style
    * mislabel screen a training-data pipeline runs before fine-tuning
    * on labeled embeddings): for each vector of a deterministic 4%
    * audit sample (vec_id % 25 — a label audit runs on a sample, the
    * neighbor pool stays the FULL corpus), the 10 exact-cosine nearest
    * neighbors vote; a vector whose neighborhood disagrees with its
    * own label (n_agree near 0) is the mislabel candidate a human
    * reviews first. Same broadcast-anchor fan-out as [[hardNegatives]]
    * (map-only scan, |audit|×n candidate rows, per-anchor top-10 on
    * the TopKPerGroup heap); the audit batch is BOUNDED (≤100 anchors
    * via the vec_id cap — a broadcast must be batch-sized, never
    * sample-fraction-sized), so the full-corpus audit is this query
    * mapped over batches, and at 100 TB the exact scan swaps for the
    * batched IVF-PQ probe ([[ivfPqBatch]]) with no change to the vote.
    * 6-dp rounded sims + vec_id tie-break keep the neighbor sets
    * identical in both engines.
    */
  def knnLabelConsistency(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val audit = emb.filter(col("vec_id") % 25 === 0 && col("vec_id") < 2500)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val scored = emb.crossJoin(broadcast(audit))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("q_label"), col("vec_id"), col("label"),
        round(VectorFns.cosine(col("embedding"), col("q_emb")), 6).as("sim"))
    graft.plans.TopKPerGroup(scored, Seq("qid"),
        Seq(col("sim").desc, col("vec_id")), 10)
      .groupBy(col("qid"), col("q_label"))
      .agg(sum(when(col("label") === col("q_label"), 1L).otherwise(0L))
        .as("n_agree"))
      .select(col("qid").as("vec_id"), col("q_label").as("label"),
        col("n_agree"), expr("10000 * n_agree div 10").as("agree_bp"))
      .orderBy(col("n_agree"), col("vec_id"))
  }

  /** Embedding-space anisotropy (Ethayarajh 2019's diagnostic, exact):
    * for near-unit vectors the expected cosine of a RANDOM pair is
    * ≈ ‖μ‖²/E‖x‖² — a space where that ratio is high has all vectors
    * crowded into a cone, which crushes cosine retrieval contrast (the
    * reason embedding stacks monitor it and apply mean-centering /
    * whitening before indexing; compare [[pcaPower]], which finds the
    * cone's axis). Published as exact integers on the micro lattice:
    * μ is the per-dim floor-average (kmeans convention), ‖μ‖² and the
    * mean ‖x‖² are exact micro² (DECIMAL(38,0) accumulators), and the
    * ratio is exact bp. One posexplode aggregate (64 bounded rows) +
    * one map-only norm pass; two shuffles at any corpus size.
    */
  def embeddingAnisotropy(s: SparkSession, d: String): DataFrame = {
    val q = Kmeans.quantized(Tables.embeddings(s, d))
    val mu2 = q.select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .select(expr("sx div n").as("m"))
      .agg(sum((col("m") * col("m")).cast("decimal(38,0)")).as("mu2"))
    val norms = q.select(expr(
        "aggregate(transform(v, x -> x * x), CAST(0 AS BIGINT)," +
          " (acc, e) -> acc + e)").as("n2"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("n2").cast("decimal(38,0)")).as("sn2"))
    norms.crossJoin(broadcast(mu2))
      .select(col("n_vecs"),
        expr("CAST(mu2 AS BIGINT)").as("mu_norm2_micro2"),
        expr("CAST(sn2 div n_vecs AS BIGINT)").as("mean_norm2_micro2"),
        expr("CAST((10000 * mu2) div (sn2 div n_vecs) AS BIGINT)")
          .as("anisotropy_bp"))
  }

  /** Mutual nearest-neighbor pairs between the even/odd embedding
    * snapshots — the margin-free core of bitext/pair mining (Artetxe &
    * Schwenk 2019 mine parallel sentences as MUTUAL cross-lingual
    * neighbors: x picks y AND y picks x — one-directional top-1 is
    * noise-dominated, mutuality is the precision filter; the same
    * shape mines image-text and paraphrase pairs). Exact cosine at 6
    * dp with vec_id tie-breaks keeps both argmaxes total; the two
    * directions run as TopKPerGroup heaps over one scored fan-out.
    * BOUNDED twin (vec_id < 1000 — the embedding_cosine_pairs
    * posture): the declared semantics at 100 TB replace the bounded
    * exact fan-out with the batched ANN probe ([[ivfPqBatch]]) per
    * direction, mutuality join unchanged.
    */
  def mutualKnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).filter(col("vec_id") < 1000)
    val x = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("x_id"), col("embedding").as("xe"))
    val y = emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("y_id"), col("embedding").as("ye"))
    val scored = x.crossJoin(y).select(col("x_id"), col("y_id"),
      round(VectorFns.cosine(col("xe"), col("ye")), 6).as("sim"))
    val tx = graft.plans.TopKPerGroup(scored, Seq("x_id"),
      Seq(col("sim").desc, col("y_id")), 1)
    val ty = graft.plans.TopKPerGroup(scored, Seq("y_id"),
        Seq(col("sim").desc, col("x_id")), 1)
      .select(col("x_id"), col("y_id"))
    tx.join(ty, Seq("x_id", "y_id"))
      .select(col("x_id"), col("y_id"), col("sim"))
      .orderBy(col("x_id"))
  }

  /** Linear-time kernel MMD between the even/odd vec_id embedding
    * snapshots (Gretton et al. 2012 §6, the MMD_l estimator — the
    * distribution-level two-sample test that catches drift a
    * per-label centroid shift ([[embeddingDrift]]) misses, e.g. a
    * variance blow-up with unmoved means): h(i) = k(x1,x2) + k(y1,y2)
    * − k(x1,y2) − k(x2,y1) over disjoint quadruples, MMD_l = mean h.
    * The quadruple pairing is BY ARITHMETIC (vec_id div 4 groups, pos
    * = vec_id % 4) — no RNG, reshard-stable — and the kernel is the
    * quadratic polynomial (d/1e6 + 1e6)² on exact integer micro² dots
    * (an exp/RBF kernel would hang engine parity on last-ulp libm
    * behavior per pair; the polynomial keeps every h exact integer).
    * One hash aggregate to assemble quadruples + one map + one global
    * sum — linear time, unlike the O(n²) full MMD. Near 0 on an iid
    * split; systematically positive under real drift.
    */
  def mmdDrift(s: SparkSession, d: String): DataFrame = {
    val q = Kmeans.quantized(Tables.embeddings(s, d))
    val quad = q
      .select(expr("vec_id div 4").as("i"),
        struct(expr("vec_id % 4").as("pos"), col("v")).as("pv"))
      .groupBy(col("i"))
      .agg(sort_array(collect_list(col("pv"))).as("g"))
      .filter(size(col("g")) === 4) // only complete quadruples test
      .select(col("g")(0).getField("v").as("x1"),
        col("g")(1).getField("v").as("y1"),
        col("g")(2).getField("v").as("x2"),
        col("g")(3).getField("v").as("y2"))
    def dot(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (x, y) -> x * y)," +
        " CAST(0 AS BIGINT), (acc, e) -> acc + e)"
    def kk(c: String) = s"(($c div 1000000 + 1000000) * ($c div 1000000 + 1000000))"
    quad
      .select(expr(dot("x1", "x2")).as("dxx"), expr(dot("y1", "y2")).as("dyy"),
        expr(dot("x1", "y2")).as("dxy1"), expr(dot("x2", "y1")).as("dxy2"))
      .select(expr(s"${kk("dxx")} + ${kk("dyy")} - ${kk("dxy1")} - ${kk("dxy2")}")
        .as("h"))
      .agg(count(lit(1)).as("n_quads"),
        sum(col("h").cast("decimal(38,0)")).as("sh"))
      .select(col("n_quads"), expr("CAST(sh div n_quads AS BIGINT)").as("mmd_l"))
  }

  /** Embedding-space drift monitor — the vector analog of
    * `token_kl_drift`: per label, the squared L2 shift between the even-
    * and odd-vec_id snapshots' centroids, in exact micro² (the
    * embedding-distribution check a production feature store runs when
    * a new encoder version or data source lands — a label whose
    * centroid moved is the one to re-index/re-tune first). Centroid
    * components are exact integer floor-averages on the micro lattice
    * (the kmeans_centroids convention — double means are not
    * order-stable across partitions, integer sums are), so the report
    * is partitioning-invariant and DuckDB re-runs it identically. One
    * posexplode aggregate over (snapshot, label, dim) — 2·labels·64
    * rows — then a label-local fold; two shuffles at any corpus size.
    */
  def embeddingDrift(s: SparkSession, d: String): DataFrame = {
    val q = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1e6).cast("long")).as("v"))
    val cent = q.select((col("vec_id") % 2 === 0).as("snapa"), col("label"),
        posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("snapa"), col("label"), col("dim"))
      .agg(expr("sum(x) div count(*)").as("c"))
    val shift = cent.filter(col("snapa"))
      .select(col("label"), col("dim"), col("c").as("ca"))
      .join(cent.filter(!col("snapa"))
        .select(col("label").as("lb"), col("dim").as("db"), col("c").as("cb")),
        col("label") === col("lb") && col("dim") === col("db"))
      .groupBy(col("label"))
      .agg(sum((col("ca") - col("cb")) * (col("ca") - col("cb")))
        .as("shift_micro2"))
    val counts = q.groupBy(col("label"))
      .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("n_b"))
    counts.join(shift, "label")
      .select(col("label"), col("n_a"), col("n_b"), col("shift_micro2"))
      .orderBy(col("label"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): partition the
    * corpus by the TRAINED k-means cells ([[semanticModel]] — k ≈ √n,
    * the paper's own sizing) and drop any vector that has a within-cell
    * neighbor with exact cosine ≥ 0.35 (6-dp rounded, the
    * embedding_cosine_pairs threshold) and a smaller vec_id —
    * keep-lowest-id, the deterministic representative rule. The cluster
    * equi-join bounds candidate pairs to O(Σ cell²); with k riding √n
    * that is O(n^1.5) on balanced cells — sub-quadratic at any corpus
    * size, where a fixed k degrades to O(n²/k) — and the method trades
    * the LSH families' hash buckets for learned cells, catching
    * paraphrase-level duplicates surface hashes miss. Cell assignment
    * is the map-only codegen argmin; the only shuffle is the equi-join
    * on cluster_id.
    */
  def dedupSemantic(s: SparkSession, d: String): DataFrame = {
    val model = semanticModel(s, d)
    val emb = Tables.embeddings(s, d)
    val cells = emb.select(col("vec_id"),
      graft.functions.SketchExprs.nearestCentroid(
        transform(col("embedding"), x => round(x.cast("double") * 1e6).cast("long")),
        model).getField("cid").cast("long").as("cluster_id"))
    // the ONE bounded within-cell pair generator (skew-sharded equi-join,
    // Dedup.embeddingNearDupPairsFrom) feeds the whole semantic family
    val dropped = graft.operators.Dedup
      .embeddingNearDupPairsFrom(emb, model, minCos = 0.35)
      .select(col("id2").as("vec_id")).distinct()
      .withColumn("dup", lit(true))
    cells.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"), col("dup").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  /** The SemDeDup THRESHOLD CURVE — the tuning read published before
    * committing [[dedupSemantic]]'s cosine threshold (Abbas et al. 2023
    * §4 sweep the threshold and pick by downstream loss; the curve of
    * drop-rate vs threshold is the artifact that decision reads): for
    * each rung t ∈ {0.20, 0.25, …, 0.50}, how many vectors the keep-min
    * rule would drop. ONE within-cell pair pass (the dedup_semantic
    * candidate structure, O(Σ cell²), never all-pairs) reduced to each
    * vector's MAX similarity to any lower-id same-cell neighbor — the
    * 7-rung fan-out then reads that 1-column frame, so sweeping costs
    * one extra bounded theta-join, not 7 pair passes. Thresholds
    * compare in exact micro-units (sim is 6dp-rounded on both engines).
    * All rungs emit (0-drop rungs included — the vocab_coverage
    * posture); curve(0.35) reconciles with dedup_semantic by spec.
    */
  def semdedupThresholdCurve(s: SparkSession, d: String): DataFrame = {
    val model = semanticModel(s, d)
    val emb = Tables.embeddings(s, d)
    // the shared bounded pair generator at the LOWEST rung (0.20) — one
    // pair pass serves all 7 rungs; sims below every rung are never hits
    val maxLower = graft.operators.Dedup
      .embeddingNearDupPairsFrom(emb, model, minCos = 0.20)
      .select(col("id2").as("vec_id"), col("cos_sim").as("sim"))
      .groupBy(col("vec_id")).agg(max(col("sim")).as("max_sim"))
    val rungs = s.range(4, 11).select((col("id") * 5).cast("int").as("t_pct"))
    val hits = broadcast(rungs).join(maxLower,
        round(col("max_sim") * 1e6).cast("long") >= col("t_pct").cast("long") * 10000L)
      .groupBy(col("t_pct")).agg(count(lit(1)).as("nd"))
    val tot = emb.agg(count(lit(1)).as("n_total"))
    rungs.join(hits, Seq("t_pct"), "left").crossJoin(broadcast(tot))
      .select(col("t_pct"), coalesce(col("nd"), lit(0L)).as("n_dropped"),
        (col("n_total") - coalesce(col("nd"), lit(0L))).as("n_kept"),
        expr("10000 * coalesce(nd, 0) div n_total").as("drop_bp"))
      .orderBy(col("t_pct"))
  }

  /** SEMANTIC train/test contamination — the embedding-level leak check
    * that n-gram [[graft.queries.Quality]] `contamination_check` cannot
    * see (a paraphrased eval question shares no shingles with its
    * training twin but sits next to it in embedding space): every
    * (test, train) pair in the SAME trained coarse cell with exact
    * cosine ≥ 0.35 is a suspected leak, reported as drill-down pairs.
    * Test split = vec_id % 10 == 0 (the deterministic 10% holdout
    * convention). The cell equi-join bounds candidates to O(Σ cell²)
    * like [[dedupSemantic]] — never test × train all-pairs — with the
    * same declared recall caveat: a cross-cell semantic match is missed
    * (mitigated in production by probing nprobe > 1 cells per test
    * vector, the IVF knob this index family already publishes curves
    * for). The oracle re-runs the Lloyd chain and applies the identical
    * cell restriction, so the declared semantics are exactly gated.
    */
  def semanticContamination(s: SparkSession, d: String): DataFrame = {
    val model = semanticModel(s, d)
    val cells = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"),
      graft.functions.SketchExprs.nearestCentroid(
        transform(col("embedding"), x => round(x.cast("double") * 1e6).cast("long")),
        model).getField("cid").as("cid"))
    val test = cells.filter(col("vec_id") % 10 === 0)
      .select(col("cid"), col("vec_id").as("test_id"), col("embedding").as("et"))
    val train = cells.filter(col("vec_id") % 10 =!= 0)
      .select(col("cid"), col("vec_id").as("train_id"), col("embedding").as("er"))
    test.join(train, Seq("cid"))
      .select(col("test_id"), col("train_id"),
        round(VectorFns.cosine(col("et"), col("er")), 6).as("sim"))
      .filter(col("sim") >= 0.35)
      .orderBy(col("test_id"), col("train_id"))
  }

  /** Within-cell embedding near-dup pairs under the √n SEMANTIC
    * quantizer (approximate recall, exact cosine verify) — the pair
    * drill-down of [[dedupSemantic]], reading the same cached
    * [[semanticModel]] so the train cost is paid once per (session,
    * dir) across the family.
    */
  def embeddingNearDup(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingNearDupFrom(Tables.embeddings(s, d), semanticModel(s, d))

  /** Incremental-ingest EMBEDDING near-dup gate — the
    * image/audio/video `*_dedup_incremental` posture on the vector
    * modality (VERDICT r15 gap #3): an arriving batch (vec_id < 500,
    * the bounded-audit convention) is assigned to the FROZEN √n cells
    * ([[semanticModel]] — trained once, never re-fit per batch: the
    * ivf_ingest contract), exact-cosine-checked against the
    * already-ingested corpus (vec_id ≥ 500) WITHIN its assigned cell,
    * and admitted only if no corpus neighbor reads ≥ 0.35 (6-dp, the
    * dedup_semantic threshold). Left-anti semantics like
    * image_dedup_incremental: the gate emits the NEW vectors.
    *
    * Scale: the corpus side is the materialized `cell=<cid>` index
    * layout this family already ships ([[ivfIngest]]), so a batch
    * costs O(batch × cell width) — assign (map-only codegen argmin),
    * one cell equi-join against the pruned index partitions, one
    * anti-join; the corpus is never rescanned or reshuffled. Same
    * declared recall caveat as [[dedupSemantic]]: a cross-cell twin is
    * missed (probe nprobe > 1 cells to trade cost for recall).
    * IncrementalGateSpec pins gate(batch | corpus) ≡ the full
    * recompute on the union restricted to batch ids.
    */
  def embeddingNeardupIncremental(s: SparkSession, d: String): DataFrame =
    embeddingNeardupIncrementalFrom(Tables.embeddings(s, d),
      semanticModel(s, d))

  /** [[embeddingNeardupIncremental]] on a caller-supplied frame and
    * frozen model — the spec entry point (planted twins across the
    * batch/corpus boundary).
    */
  private[graft] def embeddingNeardupIncrementalFrom(emb: DataFrame,
      model: Array[Array[Long]], boundary: Long = 500L,
      minCos: Double = 0.35): DataFrame = {
    val cells = emb.select(col("vec_id"), col("embedding"),
      graft.functions.SketchExprs.nearestCentroid(
        transform(col("embedding"), x => round(x.cast("double") * 1e6).cast("long")),
        model).getField("cid").cast("long").as("cell"))
    val batch = cells.filter(col("vec_id") < boundary)
    val corpus = cells.filter(col("vec_id") >= boundary)
      .select(col("cell"), col("embedding").as("e2"))
    val dup = batch.join(corpus, Seq("cell"))
      .filter(round(graft.functions.VectorFns.cosine(col("embedding"), col("e2")), 6)
        >= minCos)
      .select(col("vec_id")).distinct()
    batch.join(dup, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
      .orderBy(col("vec_id"))
  }

  /** Bounded exact-cosine twin of embedding_neardup's verify stage: all
    * (id1 < id2) pairs of the vec_id < 300 slice with rounded cosine >=
    * 0.35 (the declared near-dup threshold), recomputed by DuckDB with
    * the same sequential left-fold the codegen'd CosineSimExpr runs —
    * the embedding_topk parity discipline, extended to pairs.
    */
  def embeddingCosinePairs(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).filter(col("vec_id") < 300)
    val a = emb.select(col("vec_id").as("id1"), col("embedding").as("e1"))
    val b = emb.select(col("vec_id").as("id2"), col("embedding").as("e2"))
    a.join(b, col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        round(VectorFns.cosine(col("e1"), col("e2")), 6).as("sim"))
      .filter(col("sim") >= 0.35)
      .orderBy(col("id1"), col("id2"))
  }

  /** Shared sign-bit binary-code CTE body (two 32-bit halves — DuckDB
    * raises on `1::BIGINT << 63`): the single definition the bq_topk
    * and bq_rerank_topk oracles build on, mirroring [[bqCoded]] bit for
    * bit (single-bit terms make the integer sum the bitwise OR).
    */
  private[queries] val BqCodesCte: String =
    """SELECT vec_id,
      |  list_reduce(list_transform(range(1,33), i ->
      |    CASE WHEN embedding[i] > 0 THEN 1::BIGINT << (i-1) ELSE 0::BIGINT END),
      |    (a,b) -> a+b) AS code_lo,
      |  list_reduce(list_transform(range(33,65), i ->
      |    CASE WHEN embedding[i] > 0 THEN 1::BIGINT << (i-33) ELSE 0::BIGINT END),
      |    (a,b) -> a+b) AS code_hi
      |FROM embeddings""".stripMargin

  /** dedup_clusters oracle: recursive-CTE transitive closure over the
    * exact-Jaccard pairs. A def (oracleSql initializes first); shared
    * verbatim by dedup_clusters_star — the two CC algorithms must
    * produce identical clusters.
    */
  /** The unrolled 2-round Lloyd's training chain both kmeans oracles
    * share (a def — the oracleSql map initializes first). Mirrors
    * [[graft.operators.Kmeans.train]] exactly: integer-micro lattice,
    * lowest-vec_id init, (dist, cid) tie-break, floor-average update,
    * empty clusters keeping the previous centroid via the scaffold
    * coalesce. Dims are 1-based here (DuckDB list indexing); outputs
    * convert to the 0-based Spark convention.
    */
  /** [[KmeansTrainCte]] with a parameterizable init LIMIT (a SQL
    * expression — [[SemKSql]] passes the data-derived √n scalar), so
    * the fixed-k index family and the √n semantic-dedup family unroll
    * the SAME two Lloyd rounds from one definition.
    */
  private[queries] def KmeansTrainCteK(limitSql: String): String =
    s"""e AS (SELECT vec_id,
      |    list_transform(embedding, x -> round(x::DOUBLE * 1000000)::BIGINT) AS v
      |  FROM embeddings),
      |i0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
      |  FROM e ORDER BY vec_id LIMIT $limitSql),
      |c0 AS (SELECT cid, t.i AS dim, cv[t.i] AS c
      |  FROM i0 CROSS JOIN range(1, 65) t(i)),
      |d1 AS (SELECT e.vec_id, c.cid,
      |    sum((e.v[c.dim] - c.c) * (e.v[c.dim] - c.c)) AS dist
      |  FROM e CROSS JOIN c0 c GROUP BY 1, 2),
      |a1 AS (SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |    FROM d1) WHERE rn = 1),
      |u1 AS (SELECT a.cid, t.i AS dim, sum(e.v[t.i]) // count(*) AS c
      |  FROM a1 a JOIN e USING (vec_id) CROSS JOIN range(1, 65) t(i)
      |  GROUP BY 1, 2),
      |c1 AS (SELECT c0.cid, c0.dim, coalesce(u1.c, c0.c) AS c
      |  FROM c0 LEFT JOIN u1 USING (cid, dim)),
      |d2 AS (SELECT e.vec_id, c.cid,
      |    sum((e.v[c.dim] - c.c) * (e.v[c.dim] - c.c)) AS dist
      |  FROM e CROSS JOIN c1 c GROUP BY 1, 2),
      |a2 AS (SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |    FROM d2) WHERE rn = 1),
      |u2 AS (SELECT a.cid, t.i AS dim, sum(e.v[t.i]) // count(*) AS c
      |  FROM a2 a JOIN e USING (vec_id) CROSS JOIN range(1, 65) t(i)
      |  GROUP BY 1, 2),
      |c2 AS (SELECT c1.cid, c1.dim, coalesce(u2.c, c1.c) AS c
      |  FROM c1 LEFT JOIN u2 USING (cid, dim))""".stripMargin

  private[queries] def KmeansTrainCte: String = KmeansTrainCteK(CoarseK.toString)

  /** The √n cell count as a DuckDB scalar — [[graft.operators.Kmeans
    * .ncellsFor]] re-derived from the data by the oracle itself (the
    * ivf_size_profile sqrtK convention), so the semantic family's cell
    * domain is single-sourced on both engines: k can never silently
    * diverge between the Scala train call and the SQL unroll.
    */
  private[queries] val SemKSql =
    "(SELECT greatest(2, round(sqrt(count(*))))::INT FROM e)"

  /** One unrolled power-iteration round for the pca_power oracle:
    * d$t (per-row dot against the previous direction), w$t (per-dim
    * exact integer accumulator), n$t (fixed-dim-order double
    * normalization fold), v$t (milli-lattice direction). Mirrors
    * [[pcaPower]]'s round exactly — floor(x+0.5) IS Java Math.round.
    */
  private[queries] def PcaIterCte(t: Int): String = {
    val src = if (t == 1) "c" else s"c, v${t - 1}"
    val prev = if (t == 1) "125" else "v[j]"
    s"""d$t AS (SELECT c, list_reduce(list_transform(range(1, 65),
       |    j -> c[j] * $prev), (a, b) -> a + b) AS dot FROM $src),
       |w$t AS (SELECT t.i AS dim, sum(c[t.i]::HUGEINT * dot) AS w
       |  FROM d$t CROSS JOIN range(1, 65) t(i) GROUP BY 1),
       |n$t AS (SELECT sqrt(list_reduce(list_transform(
       |    list(w::DOUBLE ORDER BY dim), x -> x * x), (a, b) -> a + b)) AS nrm
       |  FROM w$t),
       |v$t AS (SELECT list(CAST(floor(1000 * w::DOUBLE / nrm + 0.5) AS BIGINT)
       |    ORDER BY dim) AS v FROM w$t, n$t)""".stripMargin
  }

  /** One unrolled Gonzalez round for the kcenter_coreset oracle: m$t
    * (min distance to the centers chosen so far), p$t (the farthest
    * point, (mind2 desc, vec_id) tie-break), cs$t (the accumulated
    * center table). Mirrors [[kcenterCoreset]]'s round exactly.
    */
  private[queries] def KcenterRoundCte(t: Int): String =
    s"""m$t AS (SELECT e.vec_id, min(list_reduce(list_transform(range(1, 65),
       |    j -> (e.v[j] - c.v[j]) * (e.v[j] - c.v[j])), (a, b) -> a + b)) AS mind2
       |  FROM e CROSS JOIN cs${t - 1} c GROUP BY e.vec_id),
       |p$t AS (SELECT m.vec_id, e.v, $t AS round, m.mind2 AS radius
       |  FROM m$t m JOIN e USING (vec_id)
       |  ORDER BY m.mind2 DESC, m.vec_id LIMIT 1),
       |cs$t AS (SELECT * FROM cs${t - 1} UNION ALL
       |  SELECT vec_id, v, round, radius FROM p$t)""".stripMargin

  /** [[KmeansTrainCte]] generalized for the index-sizing profile: the
    * same unrolled 2-round Lloyd chain with CTE names prefixed `p` and
    * a parameterizable init LIMIT (a SQL expression — the √n profile
    * passes a data-derived scalar subquery), extended with the final
    * assignment pass, the query-ranked probe at the 3-of-8 scan
    * fraction, the within-probe exact top-20, and the recall hit count
    * vs the global `ex` truth. Requires `e` (quantized vectors), `q`
    * (query vector) and `ex` (global exact top-20) in scope.
    */
  private[queries] def kmeansChainK(p: String, limitSql: String,
      src: String = "e"): String =
    s"""${p}i0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
       |  FROM $src ORDER BY vec_id LIMIT $limitSql),
       |${p}c0 AS (SELECT cid, t.i AS dim, cv[t.i] AS c
       |  FROM ${p}i0 CROSS JOIN range(1, 65) t(i)),
       |${p}d1 AS (SELECT e.vec_id, c.cid,
       |    sum((e.v[c.dim] - c.c) * (e.v[c.dim] - c.c)) AS dist
       |  FROM $src e CROSS JOIN ${p}c0 c GROUP BY 1, 2),
       |${p}a1 AS (SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM ${p}d1) WHERE rn = 1),
       |${p}u1 AS (SELECT a.cid, t.i AS dim, sum(e.v[t.i]) // count(*) AS c
       |  FROM ${p}a1 a JOIN e USING (vec_id) CROSS JOIN range(1, 65) t(i)
       |  GROUP BY 1, 2),
       |${p}c1 AS (SELECT c0.cid, c0.dim, coalesce(u1.c, c0.c) AS c
       |  FROM ${p}c0 c0 LEFT JOIN ${p}u1 u1 USING (cid, dim)),
       |${p}d2 AS (SELECT e.vec_id, c.cid,
       |    sum((e.v[c.dim] - c.c) * (e.v[c.dim] - c.c)) AS dist
       |  FROM $src e CROSS JOIN ${p}c1 c GROUP BY 1, 2),
       |${p}a2 AS (SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM ${p}d2) WHERE rn = 1),
       |${p}u2 AS (SELECT a.cid, t.i AS dim, sum(e.v[t.i]) // count(*) AS c
       |  FROM ${p}a2 a JOIN e USING (vec_id) CROSS JOIN range(1, 65) t(i)
       |  GROUP BY 1, 2),
       |${p}c2 AS (SELECT c1.cid, c1.dim, coalesce(u2.c, c1.c) AS c
       |  FROM ${p}c1 c1 LEFT JOIN ${p}u2 u2 USING (cid, dim)),
       |${p}d3 AS (SELECT e.vec_id, c.cid,
       |    sum((e.v[c.dim] - c.c) * (e.v[c.dim] - c.c)) AS dist
       |  FROM e CROSS JOIN ${p}c2 c GROUP BY 1, 2),
       |${p}a3 AS (SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM ${p}d3) WHERE rn = 1),
       |${p}qc AS (SELECT c.cid, sum((c.c - q.v[c.dim]) * (c.c - q.v[c.dim])) AS d
       |  FROM ${p}c2 c CROSS JOIN q GROUP BY 1),
       |${p}probe AS (SELECT cid FROM ${p}qc ORDER BY d, cid
       |  LIMIT greatest(1, (3 * ($limitSql)) // 8)),
       |${p}ivf AS (SELECT vec_id FROM (
       |    SELECT e.vec_id,
       |      sum((e.v[t.i] - q.v[t.i]) * (e.v[t.i] - q.v[t.i])) AS dist
       |    FROM e JOIN ${p}a3 USING (vec_id) JOIN ${p}probe USING (cid)
       |    CROSS JOIN q CROSS JOIN range(1, 65) t(i)
       |    WHERE e.vec_id <> 0 GROUP BY 1)
       |  ORDER BY dist, vec_id LIMIT 20),
       |${p}hit AS (SELECT count(*) AS n_hit FROM ex JOIN ${p}ivf USING (vec_id))""".stripMargin

  /** The unrolled RESIDUAL per-subspace Lloyd chain the PQ oracles
    * share — true IVFADC: first the coarse chain ([[KmeansTrainCte]] →
    * `c2`) plus its assignment pass (`ka3`) derive each vector's
    * residual v − coarse_centroid(cell) into `er`; then the per-subspace
    * chain ([[KmeansTrainCte]] generalized with a `sub` dimension via a
    * 4-row subspace spec, CTEs prefixed `p` to avoid colliding with the
    * coarse chain's names) trains over the residuals: init is the same
    * 8 lowest vec_ids (their residual subvectors), every
    * distance/update carries `sub`, and the full 64-long residual is
    * indexed at sub·16 + dim instead of sliced. Mirrors [[Pq.train]]'s
    * M independent trainings exactly (k=8, 2 rounds, (dist, cid)
    * tie-break, floor-average, empty-cluster coalesce). Final
    * codebooks: `pc2`; residual table: `er` (vec_id, cell, v).
    */
  private[queries] def PqTrainCte: String =
    s"""$KmeansTrainCte,
      |kd3 AS (SELECT e.vec_id, c.cid,
      |    sum((e.v[c.dim] - c.c) * (e.v[c.dim] - c.c)) AS dist
      |  FROM e CROSS JOIN c2 c GROUP BY 1, 2),
      |ka3 AS (SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |    FROM kd3) WHERE rn = 1),
      |ccl AS (SELECT cid, list(c ORDER BY dim) AS cv FROM c2 GROUP BY cid),
      |er AS (SELECT e.vec_id, ka3.cid AS cell,
      |    list_transform(range(1, 65), i -> e.v[i] - ccl.cv[i]) AS v
      |  FROM e JOIN ka3 USING (vec_id) JOIN ccl ON ka3.cid = ccl.cid),
      |subs AS (SELECT * FROM (VALUES (0), (1), (2), (3)) s(sub)),
      |pi0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
      |  FROM er ORDER BY vec_id LIMIT 8),
      |pc0 AS (SELECT s.sub, i.cid, t.i AS dim, i.cv[s.sub * 16 + t.i] AS c
      |  FROM pi0 i CROSS JOIN subs s CROSS JOIN range(1, 17) t(i)),
      |pd1 AS (SELECT er.vec_id, c.sub, c.cid,
      |    sum((er.v[c.sub * 16 + c.dim] - c.c) * (er.v[c.sub * 16 + c.dim] - c.c)) AS dist
      |  FROM er CROSS JOIN pc0 c GROUP BY 1, 2, 3),
      |pa1 AS (SELECT vec_id, sub, cid FROM (
      |    SELECT vec_id, sub, cid,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
      |    FROM pd1) WHERE rn = 1),
      |pu1 AS (SELECT a.sub, a.cid, t.i AS dim,
      |    sum(er.v[a.sub * 16 + t.i]) // count(*) AS c
      |  FROM pa1 a JOIN er USING (vec_id) CROSS JOIN range(1, 17) t(i)
      |  GROUP BY 1, 2, 3),
      |pc1 AS (SELECT pc0.sub, pc0.cid, pc0.dim, coalesce(pu1.c, pc0.c) AS c
      |  FROM pc0 LEFT JOIN pu1 USING (sub, cid, dim)),
      |pd2 AS (SELECT er.vec_id, c.sub, c.cid,
      |    sum((er.v[c.sub * 16 + c.dim] - c.c) * (er.v[c.sub * 16 + c.dim] - c.c)) AS dist
      |  FROM er CROSS JOIN pc1 c GROUP BY 1, 2, 3),
      |pa2 AS (SELECT vec_id, sub, cid FROM (
      |    SELECT vec_id, sub, cid,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
      |    FROM pd2) WHERE rn = 1),
      |pu2 AS (SELECT a.sub, a.cid, t.i AS dim,
      |    sum(er.v[a.sub * 16 + t.i]) // count(*) AS c
      |  FROM pa2 a JOIN er USING (vec_id) CROSS JOIN range(1, 17) t(i)
      |  GROUP BY 1, 2, 3),
      |pc2 AS (SELECT pc1.sub, pc1.cid, pc1.dim, coalesce(pu2.c, pc1.c) AS c
      |  FROM pc1 LEFT JOIN pu2 USING (sub, cid, dim))""".stripMargin

  /** The composed IVF-PQ probe oracle (a def — oracleSql initializes
    * first), shared verbatim by `ivf_pq_topk` (inline) and
    * `ivf_pq_pruned` (materialized cell-partitioned index): the two
    * layouts must be answer-identical. Trained assignment + probe from
    * the unrolled Lloyd chain; ADC from this run's own dumps.
    */
  /** The IVF-PQ probe's ADC stage as a CTE block (through `sc`): shared
    * by the plain probe oracles (top-20 of `sc`) and the re-rank oracle
    * (top-100 of `sc`, then exact re-rank).
    */
  private[queries] def IvfPqAdcCte: String =
    s"""$KmeansTrainCte,
       |d3 AS (SELECT e.vec_id, c.cid,
       |    sum((e.v[c.dim] - c.c) * (e.v[c.dim] - c.c)) AS dist
       |  FROM e CROSS JOIN c2 c GROUP BY 1, 2),
       |a3 AS (SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d3)
       |  WHERE rn = 1),
       |q AS (SELECT v FROM e WHERE vec_id = 0),
       |qc AS (SELECT c.cid, sum((c.c - q.v[c.dim]) * (c.c - q.v[c.dim])) AS d
       |       FROM c2 c CROSS JOIN q GROUP BY 1),
       |probe AS (SELECT cid FROM qc ORDER BY d, cid LIMIT 3),
       |cand AS (SELECT a3.vec_id FROM a3 JOIN probe USING (cid)
       |         WHERE a3.vec_id <> 0),
       |cb AS (SELECT sub, cluster_id, dim, c_micro
       |       FROM read_parquet('{OUT}/pq_codebooks/*.parquet')),
       |dt AS (SELECT cc.cid AS cell, cb.sub, cb.cluster_id,
       |    sum((q.v[cb.sub * 16 + cb.dim + 1] - cc.c - cb.c_micro)
       |        * (q.v[cb.sub * 16 + cb.dim + 1] - cc.c - cb.c_micro)) AS d2
       |  FROM cb JOIN c2 cc ON cc.dim = cb.sub * 16 + cb.dim + 1
       |  CROSS JOIN q GROUP BY 1, 2, 3),
       |co AS (SELECT c.vec_id, c.cell, c.sub, c.code
       |       FROM read_parquet('{OUT}/pq_codes/*.parquet') c
       |       JOIN cand USING (vec_id)),
       |sc AS (SELECT co.vec_id, sum(dt.d2)::BIGINT AS adc
       |       FROM co JOIN dt ON co.cell = dt.cell AND co.sub = dt.sub
       |                      AND co.code = dt.cluster_id
       |       GROUP BY 1)""".stripMargin

  private[queries] def IvfPqOracle: String =
    s"""WITH $IvfPqAdcCte
       |SELECT vec_id, adc AS adc_micro2 FROM sc
       |ORDER BY adc, vec_id LIMIT 20""".stripMargin

  private[queries] def IvfPqRerankOracle: String =
    s"""WITH $IvfPqAdcCte,
       |sl AS (SELECT vec_id FROM sc ORDER BY adc, vec_id LIMIT 100)
       |SELECT vec_id, dist_micro2 FROM (
       |  SELECT e.vec_id,
       |    sum((e.v[t.i] - q.v[t.i]) * (e.v[t.i] - q.v[t.i]))::BIGINT AS dist_micro2
       |  FROM e JOIN sl USING (vec_id) CROSS JOIN q CROSS JOIN range(1, 65) t(i)
       |  GROUP BY 1)
       |ORDER BY dist_micro2, vec_id LIMIT 20""".stripMargin

  /** The IVF probe oracle, parameterized on nprobe — one template for the
    * default (3) and tuned (8) operating points: DuckDB re-derives the
    * integer-lattice centroids, ranks cells by query cosine, and
    * brute-forces only the probed cells, exactly as the Spark plan does.
    */
  private[queries] def ivfTopkOracle(nprobe: Int, filtered: Boolean = false): String = {
    val allowedCte =
      if (filtered) "allowed AS (SELECT doc_id FROM documents WHERE lang = 'en'),\n" else ""
    val allowedJoin = if (filtered) " JOIN allowed a ON e.vec_id = a.doc_id" else ""
    s"""WITH $allowedCte
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qd AS (SELECT list_transform(qe, x -> x::DOUBLE) AS v FROM q),
       |flat AS (
       |  SELECT label, i AS dim,
       |    sum(CAST(round(embedding[i] * 1e7) AS BIGINT))::BIGINT AS s,
       |    count(*)::BIGINT AS n
       |  FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
       |cent AS (
       |  SELECT label, list(s::DOUBLE / n ORDER BY dim) AS centroid
       |  FROM flat GROUP BY label),
       |cellrank AS (
       |  SELECT label FROM (
       |    SELECT cent.label,
       |      round(
       |        list_reduce(list_transform(range(1,65), i -> centroid[i] * qd.v[i]), (a,b) -> a+b)
       |        / (sqrt(list_reduce(list_transform(range(1,65), i -> centroid[i] * centroid[i]), (a,b) -> a+b))
       |           * sqrt(list_reduce(list_transform(range(1,65), i -> qd.v[i] * qd.v[i]), (a,b) -> a+b))), 6) AS cell_sim
       |    FROM cent, qd)
       |  ORDER BY cell_sim DESC, label LIMIT $nprobe)
       |SELECT vec_id, sim FROM (
       |  SELECT e.vec_id,
       |    round(
       |      list_reduce(list_transform(range(1,65), i -> e.embedding[i]::DOUBLE * q.qe[i]::DOUBLE), (a,b) -> a+b)
       |      / (sqrt(list_reduce(list_transform(range(1,65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE), (a,b) -> a+b))
       |         * sqrt(list_reduce(list_transform(range(1,65), i -> q.qe[i]::DOUBLE * q.qe[i]::DOUBLE), (a,b) -> a+b))), 6) AS sim
       |  FROM embeddings e JOIN cellrank USING (label)$allowedJoin, q
       |  WHERE e.vec_id <> 0)
       |ORDER BY sim DESC, vec_id LIMIT 20""".stripMargin
  }

  private[queries] val annQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embedding_topk" -> embeddingTopk,
    "ann_filtered_topk" -> annFilteredTopk,
    "ann_filtered_topk_ivf" -> annFilteredTopkIvf,
    "ann_filtered_recall" -> annFilteredRecall,
    "ann_filtered_rerank" -> annFilteredRerank,
    "ann_filtered_rerank_recall" -> annFilteredRerankRecall,
    "ivf_recall" -> ivfRecall,
    "embedding_topk_ivf" -> embeddingTopkIvf,
    "embedding_topk_ivf_tuned" -> embeddingTopkIvfTuned,
    "ivf_recall_tuned" -> ivfRecallTuned,
    "ivf_recall_curve" -> ivfRecallCurve,
    "kmeans_centroids" -> kmeansCentroids,
    "kmeans_assign" -> kmeansAssign,
    "ivf_ingest" -> ivfIngest,
    "pq_codebooks" -> pqCodebooks,
    "pq_codes" -> pqCodes,
    "embedding_topk_pq" -> embeddingTopkPq,
    "pq_recall" -> pqRecall,
    "pq_rerank_topk" -> pqRerankTopk,
    "pq_rerank_recall" -> pqRerankRecall,
    "ivf_pq_topk" -> ivfPqTopk,
    "ivf_pq_pruned" -> ivfPqPruned,
    "ivf_pq_rerank" -> ivfPqRerank,
    "ivf_pq_batch" -> ivfPqBatch,
    "bq_topk" -> bqTopk,
    "bq_recall" -> bqRecall,
    "bq_rerank_topk" -> bqRerankTopk,
    "bq_rerank_recall" -> bqRerankRecall,
    "sq8_topk" -> sq8Topk,
    "sq8_recall" -> sq8Recall,
    "rp_topk" -> rpTopk,
    "rp_recall" -> rpRecall,
    "kcenter_coreset" -> kcenterCoreset,
    "quantization_error" -> quantizationError,
    "ann_pareto" -> annPareto,
    "knn_label_consistency" -> knnLabelConsistency,
    "intrinsic_dim" -> intrinsicDim,
    "pca_power" -> pcaPower,
    "mmr_rerank" -> mmrRerank,
    "kmeans_profile" -> kmeansProfile,
    "ivf_size_profile" -> ivfSizeProfile,
    "ivf_sample_train" -> ivfSampleTrain,
    "hard_negatives" -> hardNegatives,
    "embedding_drift" -> embeddingDrift,
    "mmd_drift" -> mmdDrift,
    "mutual_knn" -> mutualKnn,
    "embedding_anisotropy" -> embeddingAnisotropy,
    "semantic_contamination" -> semanticContamination,
    "dedup_semantic" -> dedupSemantic,
    "semdedup_threshold_curve" -> semdedupThresholdCurve,
    "embedding_neardup" -> embeddingNearDup,
    "embedding_neardup_incremental" -> embeddingNeardupIncremental,
    "embedding_cosine_pairs" -> embeddingCosinePairs,
  )

  private[queries] val annOracles: Map[String, String] = Map(
    "ivf_recall" ->
      """SELECT 20::BIGINT AS k, count(*)::BIGINT AS n_hit,
        |  (10000 * count(*) // 20)::BIGINT AS recall_bp
        |FROM read_parquet('{OUT}/embedding_topk/*.parquet') e
        |JOIN read_parquet('{OUT}/embedding_topk_ivf/*.parquet') i USING (vec_id)""".stripMargin,
    "bq_topk" ->
      s"""WITH c AS ($BqCodesCte),
         |q AS (SELECT code_lo AS ql, code_hi AS qh FROM c WHERE vec_id = 0)
         |SELECT vec_id,
         |  (bit_count(xor(code_lo, ql)) + bit_count(xor(code_hi, qh)))::BIGINT AS hamming
         |FROM c, q WHERE vec_id <> 0
         |ORDER BY hamming, vec_id LIMIT 20""".stripMargin,
    "bq_recall" ->
      """SELECT 20::BIGINT AS k, count(*)::BIGINT AS n_hit,
        |  (10000 * count(*) // 20)::BIGINT AS recall_bp
        |FROM read_parquet('{OUT}/embedding_topk/*.parquet') e
        |JOIN read_parquet('{OUT}/bq_topk/*.parquet') b USING (vec_id)""".stripMargin,
    "bq_rerank_topk" ->
      s"""WITH c AS ($BqCodesCte),
         |q AS (SELECT code_lo AS ql, code_hi AS qh FROM c WHERE vec_id = 0),
         |sl AS (
         |  SELECT vec_id FROM c, q WHERE vec_id <> 0
         |  ORDER BY bit_count(xor(code_lo, ql)) + bit_count(xor(code_hi, qh)), vec_id
         |  LIMIT 100),
         |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, sim FROM (
         |  SELECT e.vec_id,
         |    round(
         |      list_reduce(list_transform(range(1,65), i -> e.embedding[i]::DOUBLE * qv.qe[i]::DOUBLE), (a,b) -> a+b)
         |      / (sqrt(list_reduce(list_transform(range(1,65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE), (a,b) -> a+b))
         |         * sqrt(list_reduce(list_transform(range(1,65), i -> qv.qe[i]::DOUBLE * qv.qe[i]::DOUBLE), (a,b) -> a+b))), 6) AS sim
         |  FROM embeddings e JOIN sl USING (vec_id), qv)
         |ORDER BY sim DESC, vec_id LIMIT 20""".stripMargin,
    "bq_rerank_recall" ->
      """SELECT 20::BIGINT AS k, count(*)::BIGINT AS n_hit,
        |  (10000 * count(*) // 20)::BIGINT AS recall_bp
        |FROM read_parquet('{OUT}/embedding_topk/*.parquet') e
        |JOIN read_parquet('{OUT}/bq_rerank_topk/*.parquet') b USING (vec_id)""".stripMargin,
    "sq8_topk" ->
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000000)::BIGINT) AS v
        |  FROM embeddings),
        |mm AS (SELECT i AS dim, min(v[i]) AS mn,
        |         greatest(max(v[i]) - min(v[i]), 1) AS rng
        |       FROM v, range(1,65) t(i) GROUP BY i),
        |m2 AS (SELECT list(mn ORDER BY dim) AS mins, list(rng ORDER BY dim) AS rngs FROM mm),
        |c AS (SELECT vec_id,
        |        list_transform(range(1,65), i -> ((v[i] - mins[i]) * 255) // rngs[i]) AS code
        |      FROM v, m2),
        |q AS (SELECT code AS qc FROM c WHERE vec_id = 0)
        |SELECT vec_id,
        |  list_reduce(list_transform(range(1,65), i -> (code[i]-qc[i])*(code[i]-qc[i])), (a,b)->a+b)::BIGINT AS qdist
        |FROM c, q WHERE vec_id <> 0
        |ORDER BY qdist, vec_id LIMIT 20""".stripMargin,
    "sq8_recall" ->
      """SELECT 20::BIGINT AS k, count(*)::BIGINT AS n_hit,
        |  (10000 * count(*) // 20)::BIGINT AS recall_bp
        |FROM read_parquet('{OUT}/embedding_topk/*.parquet') e
        |JOIN read_parquet('{OUT}/sq8_topk/*.parquet') s USING (vec_id)""".stripMargin,
    "rp_topk" -> {
      val signs = (0 until 16).map(o =>
        (0 until 64).map(i => rpSign(o, i)).mkString("[", ",", "]"))
        .mkString("[", ",", "]")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding,
         |    x -> round(x::DOUBLE * 1000000)::BIGINT) AS v FROM embeddings),
         |p AS (SELECT vec_id, list_transform($signs, r ->
         |        list_reduce(list_transform(range(1, 65), i -> v[i] * r[i]),
         |          (a, b) -> a + b)) AS p
         |      FROM e),
         |q AS (SELECT p AS qp FROM p WHERE vec_id = 0)
         |SELECT vec_id,
         |  list_reduce(list_transform(range(1, 17),
         |    o -> (p[o] - qp[o]) * (p[o] - qp[o])), (a, b) -> a + b)::BIGINT AS pdist
         |FROM p, q WHERE vec_id <> 0 ORDER BY pdist, vec_id LIMIT 20""".stripMargin
    },
    "rp_recall" ->
      """SELECT 20::BIGINT AS k, count(*)::BIGINT AS n_hit,
        |  (10000 * count(*) // 20)::BIGINT AS recall_bp
        |FROM read_parquet('{OUT}/embedding_topk/*.parquet') e
        |JOIN read_parquet('{OUT}/rp_topk/*.parquet') s USING (vec_id)""".stripMargin,
    "kcenter_coreset" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding,
         |    x -> round(x::DOUBLE * 1000000)::BIGINT) AS v FROM embeddings),
         |cs0 AS (SELECT vec_id, v, 0 AS round, 0::BIGINT AS radius
         |        FROM e ORDER BY vec_id LIMIT 1),
         |${(1 to 7).map(KcenterRoundCte).mkString(",\n")}
         |SELECT round::INT AS round, vec_id,
         |  radius::BIGINT AS radius_micro2
         |FROM cs7 ORDER BY round""".stripMargin,
    // the Pareto table re-reads this run's own recall dumps — the
    // ladder's contracts stay single-sourced
    "ann_pareto" ->
      """SELECT method, bytes_per_vec, recall_bp FROM (
        |  SELECT 'pq4' AS method, 4::BIGINT AS bytes_per_vec, recall_bp
        |  FROM read_parquet('{OUT}/pq_recall/*.parquet')
        |  UNION ALL SELECT 'pq4_rerank', 4, recall_bp
        |  FROM read_parquet('{OUT}/pq_rerank_recall/*.parquet')
        |  UNION ALL SELECT 'bq8', 8, recall_bp
        |  FROM read_parquet('{OUT}/bq_recall/*.parquet')
        |  UNION ALL SELECT 'bq8_rerank', 8, recall_bp
        |  FROM read_parquet('{OUT}/bq_rerank_recall/*.parquet')
        |  UNION ALL SELECT 'sq8_64', 64, recall_bp
        |  FROM read_parquet('{OUT}/sq8_recall/*.parquet')
        |  UNION ALL SELECT 'rp16_128', 128, recall_bp
        |  FROM read_parquet('{OUT}/rp_recall/*.parquet'))
        |ORDER BY method""".stripMargin,
    // pq replayed from this run's own centroid/codebook/code dumps
    // ({OUT}); sq8/bq grids recomputed from the raw table
    "quantization_error" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding,
        |    x -> round(x::DOUBLE * 1000000)::BIGINT) AS v FROM embeddings),
        |cc AS (SELECT cluster_id, dim, c_micro
        |       FROM read_parquet('{OUT}/kmeans_centroids/*.parquet')),
        |cb AS (SELECT sub, cluster_id, dim, c_micro
        |       FROM read_parquet('{OUT}/pq_codebooks/*.parquet')),
        |pcd AS (SELECT vec_id, cell, sub, code
        |        FROM read_parquet('{OUT}/pq_codes/*.parquet')),
        |perr AS (SELECT c.vec_id,
        |    sum((e.v[cb.sub * 16 + cb.dim + 1] - cc.c_micro - cb.c_micro)
        |        * (e.v[cb.sub * 16 + cb.dim + 1] - cc.c_micro - cb.c_micro)) AS err
        |  FROM pcd c
        |  JOIN cb ON cb.sub = c.sub AND cb.cluster_id = c.code
        |  JOIN cc ON cc.cluster_id = c.cell AND cc.dim = cb.sub * 16 + cb.dim
        |  JOIN e ON e.vec_id = c.vec_id
        |  GROUP BY 1),
        |prow AS (SELECT 'pq' AS method, 4::BIGINT AS bytes_per_vec,
        |    count(*)::BIGINT AS n_vecs, (sum(err) // count(*))::BIGINT AS mse_micro2
        |  FROM perr),
        |mm AS (SELECT t.i AS dim, min(v[t.i]) AS mn,
        |         greatest(max(v[t.i]) - min(v[t.i]), 1) AS rng
        |       FROM e CROSS JOIN range(1, 65) t(i) GROUP BY 1),
        |m2 AS (SELECT list(mn ORDER BY dim) AS mins, list(rng ORDER BY dim) AS rngs
        |       FROM mm),
        |serr AS (SELECT list_reduce(list_transform(range(1, 65), i ->
        |      (v[i] - (mins[i] + (((v[i] - mins[i]) * 255) // rngs[i])
        |         * rngs[i] // 255))
        |      * (v[i] - (mins[i] + (((v[i] - mins[i]) * 255) // rngs[i])
        |         * rngs[i] // 255))), (a, b) -> a + b) AS err
        |  FROM e, m2),
        |srow AS (SELECT 'sq8' AS method, 64::BIGINT, count(*)::BIGINT,
        |    (sum(err) // count(*))::BIGINT FROM serr),
        |am AS (SELECT t.i AS dim, sum(abs(v[t.i])) // count(*) AS s
        |       FROM e CROSS JOIN range(1, 65) t(i) GROUP BY 1),
        |a2 AS (SELECT list(s ORDER BY dim) AS amps FROM am),
        |berr AS (SELECT list_reduce(list_transform(range(1, 65), i ->
        |      (v[i] - (CASE WHEN v[i] >= 0 THEN amps[i] ELSE -amps[i] END))
        |      * (v[i] - (CASE WHEN v[i] >= 0 THEN amps[i] ELSE -amps[i] END))),
        |    (a, b) -> a + b) AS err
        |  FROM e, a2),
        |brow AS (SELECT 'bq' AS method, 8::BIGINT, count(*)::BIGINT,
        |    (sum(err) // count(*))::BIGINT FROM berr)
        |SELECT * FROM prow UNION ALL SELECT * FROM brow
        |UNION ALL SELECT * FROM srow ORDER BY method""".stripMargin,
    "embedding_anisotropy" ->
      """WITH e AS (SELECT list_transform(embedding,
        |    x -> round(x::DOUBLE * 1000000)::BIGINT) AS v FROM embeddings),
        |mu AS (SELECT t.i AS dim, sum(v[t.i]) // count(*) AS m
        |  FROM e CROSS JOIN range(1, 65) t(i) GROUP BY 1),
        |m2 AS (SELECT sum(m * m)::HUGEINT AS mu2 FROM mu),
        |nr AS (SELECT count(*)::BIGINT AS n_vecs,
        |    sum(list_reduce(list_transform(range(1, 65), j -> v[j] * v[j]),
        |      (a, b) -> a + b))::HUGEINT AS sn2
        |  FROM e)
        |SELECT n_vecs, mu2::BIGINT AS mu_norm2_micro2,
        |  (sn2 // n_vecs)::BIGINT AS mean_norm2_micro2,
        |  ((10000 * mu2) // (sn2 // n_vecs))::BIGINT AS anisotropy_bp
        |FROM nr, m2""".stripMargin,
    "mutual_knn" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 1000),
        |p AS (SELECT a.vec_id AS x_id, b.vec_id AS y_id,
        |    round(
        |      list_reduce(list_transform(range(1,65), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (u,v) -> u+v)
        |      / (sqrt(list_reduce(list_transform(range(1,65), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE), (u,v) -> u+v))
        |         * sqrt(list_reduce(list_transform(range(1,65), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (u,v) -> u+v))), 6) AS sim
        |  FROM e a, e b WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
        |tx AS (SELECT x_id, y_id, sim FROM (
        |    SELECT *, row_number() OVER (PARTITION BY x_id ORDER BY sim DESC, y_id) AS rn
        |    FROM p) WHERE rn = 1),
        |ty AS (SELECT x_id, y_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY y_id ORDER BY sim DESC, x_id) AS rn
        |    FROM p) WHERE rn = 1)
        |SELECT tx.x_id, tx.y_id, tx.sim
        |FROM tx JOIN ty USING (x_id, y_id) ORDER BY x_id""".stripMargin,
    "mmd_drift" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding,
        |    x -> round(x::DOUBLE * 1000000)::BIGINT) AS v FROM embeddings),
        |g AS (SELECT vec_id // 4 AS i, vec_id % 4 AS pos, v FROM e),
        |q AS (SELECT i,
        |        max(CASE WHEN pos = 0 THEN v END) AS x1,
        |        max(CASE WHEN pos = 1 THEN v END) AS y1,
        |        max(CASE WHEN pos = 2 THEN v END) AS x2,
        |        max(CASE WHEN pos = 3 THEN v END) AS y2
        |      FROM g GROUP BY i HAVING count(*) = 4),
        |dd AS (SELECT
        |    list_reduce(list_transform(range(1, 65), j -> x1[j] * x2[j]), (a, b) -> a + b) AS dxx,
        |    list_reduce(list_transform(range(1, 65), j -> y1[j] * y2[j]), (a, b) -> a + b) AS dyy,
        |    list_reduce(list_transform(range(1, 65), j -> x1[j] * y2[j]), (a, b) -> a + b) AS dxy1,
        |    list_reduce(list_transform(range(1, 65), j -> x2[j] * y1[j]), (a, b) -> a + b) AS dxy2
        |  FROM q),
        |h AS (SELECT
        |    (dxx // 1000000 + 1000000) * (dxx // 1000000 + 1000000)
        |    + (dyy // 1000000 + 1000000) * (dyy // 1000000 + 1000000)
        |    - (dxy1 // 1000000 + 1000000) * (dxy1 // 1000000 + 1000000)
        |    - (dxy2 // 1000000 + 1000000) * (dxy2 // 1000000 + 1000000) AS h
        |  FROM dd)
        |SELECT count(*)::BIGINT AS n_quads,
        |  (sum(h) // count(*))::BIGINT AS mmd_l FROM h""".stripMargin,
    "pca_power" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding,
         |    x -> round(x::DOUBLE * 1000000)::BIGINT) AS v FROM embeddings),
         |mu0 AS (SELECT t.i AS dim, sum(v[t.i]) // count(*) AS m
         |  FROM e CROSS JOIN range(1, 65) t(i) GROUP BY 1),
         |muv AS (SELECT list(m ORDER BY dim) AS mu FROM mu0),
         |c AS (SELECT list_transform(range(1, 65), j -> v[j] - mu[j]) AS c
         |      FROM e, muv),
         |${PcaIterCte(1)},
         |${PcaIterCte(2)},
         |${PcaIterCte(3)}
         |SELECT (t.i - 1)::INT AS dim, v[t.i]::BIGINT AS loading_milli
         |FROM v3 CROSS JOIN range(1, 65) t(i) ORDER BY dim""".stripMargin,
    "intrinsic_dim" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000000)::BIGINT) AS v
        |  FROM embeddings),
        |p AS (SELECT a.vec_id AS i, b.vec_id AS j,
        |        list_reduce(list_transform(range(1,65), k -> (a.v[k]-b.v[k])*(a.v[k]-b.v[k])), (x,y)->x+y) AS d2
        |      FROM e a JOIN e b ON a.vec_id <> b.vec_id
        |      WHERE a.vec_id < 500),
        |r AS (SELECT i, d2, row_number() OVER (PARTITION BY i ORDER BY d2, j) AS rn
        |      FROM p WHERE d2 > 0),
        |t AS (SELECT i, max(CASE WHEN rn = 1 THEN d2 END) AS d1,
        |        max(CASE WHEN rn = 2 THEN d2 END) AS d2x
        |      FROM r WHERE rn <= 2 GROUP BY 1),
        |s AS (SELECT count(*)::BIGINT AS n,
        |        sum(CAST(round(0.5 * ln(d2x::DOUBLE / d1::DOUBLE) * 1000000000) AS BIGINT))::BIGINT AS slog_nano
        |      FROM t)
        |SELECT n, slog_nano, (1000 * n * 1000000000 // slog_nano)::BIGINT AS id_milli FROM s""".stripMargin,
    "knn_label_consistency" ->
      """WITH a AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel
        |           FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 2500),
        |s AS (SELECT qid, qlabel, vec_id, label, sim,
        |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
        |      FROM (SELECT a.qid, a.qlabel, e.vec_id, e.label,
        |        round(
        |          list_reduce(list_transform(range(1,65), i -> e.embedding[i]::DOUBLE * a.qe[i]::DOUBLE), (x,y) -> x+y)
        |          / (sqrt(list_reduce(list_transform(range(1,65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE), (x,y) -> x+y))
        |             * sqrt(list_reduce(list_transform(range(1,65), i -> a.qe[i]::DOUBLE * a.qe[i]::DOUBLE), (x,y) -> x+y))), 6) AS sim
        |        FROM embeddings e, a WHERE e.vec_id <> a.qid))
        |SELECT qid AS vec_id, qlabel AS label,
        |  sum(CASE WHEN s.label = s.qlabel THEN 1 ELSE 0 END)::BIGINT AS n_agree,
        |  (10000 * sum(CASE WHEN s.label = s.qlabel THEN 1 ELSE 0 END) // 10)::BIGINT AS agree_bp
        |FROM s WHERE rn <= 10
        |GROUP BY 1, 2 ORDER BY n_agree, vec_id""".stripMargin,
    // dedup_minhash / dedup_simhash / embedding_neardup: LSH — rows-only
    // (their verify stages are oracle-pinned by the bounded twins below
    // plus ngram_jaccard).
    "kmeans_centroids" ->
      s"""WITH $KmeansTrainCte
        |SELECT cid::INT AS cluster_id, (dim - 1)::INT AS dim, c::BIGINT AS c_micro
        |FROM c2 ORDER BY cluster_id, dim""".stripMargin,
    "kmeans_assign" ->
      s"""WITH $KmeansTrainCte,
        |d3 AS (SELECT e.vec_id, c.cid,
        |    sum((e.v[c.dim] - c.c) * (e.v[c.dim] - c.c)) AS dist
        |  FROM e CROSS JOIN c2 c GROUP BY 1, 2),
        |a3 AS (SELECT vec_id, cid, dist,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d3)
        |SELECT vec_id, cid::BIGINT AS cluster_id, dist::BIGINT AS dist_micro2
        |FROM a3 WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // the ingest batch assigned against the SAME trained lattice the
    // kmeans_assign oracle re-derives; per-cell census over all 8 cells
    "ivf_ingest" ->
      s"""WITH $KmeansTrainCte,
        |bd AS (SELECT e.vec_id, c.cid,
        |    sum((e.v[c.dim] - c.c) * (e.v[c.dim] - c.c)) AS dist
        |  FROM e CROSS JOIN c2 c WHERE e.vec_id < 500 GROUP BY 1, 2),
        |ba AS (SELECT vec_id, cid, dist,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM bd),
        |w AS (SELECT cid, count(*)::BIGINT AS n_added,
        |    sum(dist)::BIGINT AS sum_dist_micro2
        |  FROM ba WHERE rn = 1 GROUP BY cid)
        |SELECT r.i::BIGINT AS cluster_id, coalesce(n_added, 0)::BIGINT AS n_added,
        |  coalesce(sum_dist_micro2, 0)::BIGINT AS sum_dist_micro2
        |FROM range(0, $CoarseK) r(i) LEFT JOIN w ON r.i = w.cid
        |ORDER BY cluster_id""".stripMargin,
    "pq_codebooks" ->
      s"""WITH $PqTrainCte
        |SELECT sub::INT AS sub, cid::INT AS cluster_id, (dim - 1)::INT AS dim,
        |  c::BIGINT AS c_micro
        |FROM pc2 ORDER BY sub, cluster_id, dim""".stripMargin,
    "pq_codes" ->
      s"""WITH $PqTrainCte,
        |pd3 AS (SELECT er.vec_id, er.cell, c.sub, c.cid,
        |    sum((er.v[c.sub * 16 + c.dim] - c.c) * (er.v[c.sub * 16 + c.dim] - c.c)) AS dist
        |  FROM er CROSS JOIN pc2 c GROUP BY 1, 2, 3, 4),
        |pa3 AS (SELECT vec_id, cell, sub, cid,
        |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn FROM pd3)
        |SELECT vec_id, cell::INT AS cell, sub::INT AS sub, cid::INT AS code
        |FROM pa3 WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin,
    // ADC twins: the codebooks are independently re-trained above; the
    // ADC sum and recall are recomputed from this run's own dumps ({OUT}
    // substitution, the ivf_recall pattern) so the scoring contract is
    // checked against what was actually produced
    "embedding_topk_pq" ->
      """WITH q AS (SELECT list_transform(embedding,
        |      x -> round(x::DOUBLE * 1000000)::BIGINT) AS v
        |  FROM embeddings WHERE vec_id = 0),
        |cc AS (SELECT cluster_id, dim, c_micro
        |       FROM read_parquet('{OUT}/kmeans_centroids/*.parquet')),
        |cb AS (SELECT sub, cluster_id, dim, c_micro
        |       FROM read_parquet('{OUT}/pq_codebooks/*.parquet')),
        |dt AS (SELECT cc.cluster_id AS cell, cb.sub, cb.cluster_id AS code,
        |    sum((q.v[cb.sub * 16 + cb.dim + 1] - cc.c_micro - cb.c_micro)
        |        * (q.v[cb.sub * 16 + cb.dim + 1] - cc.c_micro - cb.c_micro)) AS d2
        |  FROM cb JOIN cc ON cc.dim = cb.sub * 16 + cb.dim, q GROUP BY 1, 2, 3),
        |c AS (SELECT vec_id, cell, sub, code
        |      FROM read_parquet('{OUT}/pq_codes/*.parquet') WHERE vec_id <> 0),
        |sc AS (SELECT c.vec_id, sum(dt.d2)::BIGINT AS adc
        |       FROM c JOIN dt ON c.cell = dt.cell AND c.sub = dt.sub
        |                     AND c.code = dt.code
        |       GROUP BY 1)
        |SELECT vec_id, adc AS adc_micro2 FROM sc
        |ORDER BY adc, vec_id LIMIT 20""".stripMargin,
    "pq_rerank_topk" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000000)::BIGINT) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |cc AS (SELECT cluster_id, dim, c_micro
        |       FROM read_parquet('{OUT}/kmeans_centroids/*.parquet')),
        |cb AS (SELECT sub, cluster_id, dim, c_micro
        |       FROM read_parquet('{OUT}/pq_codebooks/*.parquet')),
        |dt AS (SELECT cc.cluster_id AS cell, cb.sub, cb.cluster_id AS code,
        |    sum((q.qv[cb.sub * 16 + cb.dim + 1] - cc.c_micro - cb.c_micro)
        |        * (q.qv[cb.sub * 16 + cb.dim + 1] - cc.c_micro - cb.c_micro)) AS d2
        |  FROM cb JOIN cc ON cc.dim = cb.sub * 16 + cb.dim, q GROUP BY 1, 2, 3),
        |c AS (SELECT vec_id, cell, sub, code
        |      FROM read_parquet('{OUT}/pq_codes/*.parquet') WHERE vec_id <> 0),
        |sl AS (SELECT c.vec_id FROM c
        |       JOIN dt ON c.cell = dt.cell AND c.sub = dt.sub
        |              AND c.code = dt.code
        |       GROUP BY 1 ORDER BY sum(dt.d2), c.vec_id LIMIT 100)
        |SELECT vec_id, dist_micro2 FROM (
        |  SELECT e.vec_id,
        |    sum((e.v[t.i] - q.qv[t.i]) * (e.v[t.i] - q.qv[t.i]))::BIGINT AS dist_micro2
        |  FROM e JOIN sl USING (vec_id) CROSS JOIN q CROSS JOIN range(1, 65) t(i)
        |  GROUP BY 1)
        |ORDER BY dist_micro2, vec_id LIMIT 20""".stripMargin,
    "pq_rerank_recall" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000000)::BIGINT) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |ex AS (SELECT vec_id FROM (
        |    SELECT e.vec_id,
        |      sum((e.v[t.i] - q.qv[t.i]) * (e.v[t.i] - q.qv[t.i])) AS dist
        |    FROM e CROSS JOIN q CROSS JOIN range(1, 65) t(i)
        |    WHERE e.vec_id <> 0 GROUP BY 1)
        |  ORDER BY dist, vec_id LIMIT 20),
        |rr AS (SELECT vec_id FROM read_parquet('{OUT}/pq_rerank_topk/*.parquet'))
        |SELECT 20::BIGINT AS k, count(*)::BIGINT AS n_hit,
        |  (10000 * count(*) // 20)::BIGINT AS recall_bp
        |FROM ex JOIN rr USING (vec_id)""".stripMargin,
    "pq_recall" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000000)::BIGINT) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |ex AS (SELECT vec_id FROM (
        |    SELECT e.vec_id,
        |      sum((e.v[t.i] - q.qv[t.i]) * (e.v[t.i] - q.qv[t.i])) AS dist
        |    FROM e CROSS JOIN q CROSS JOIN range(1, 65) t(i)
        |    WHERE e.vec_id <> 0 GROUP BY 1)
        |  ORDER BY dist, vec_id LIMIT 20),
        |pq AS (SELECT vec_id FROM read_parquet('{OUT}/embedding_topk_pq/*.parquet'))
        |SELECT 20::BIGINT AS k, count(*)::BIGINT AS n_hit,
        |  (10000 * count(*) // 20)::BIGINT AS recall_bp
        |FROM ex JOIN pq USING (vec_id)""".stripMargin,
    "embedding_drift" ->
      """WITH e AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000000)::BIGINT) AS v
        |  FROM embeddings),
        |x AS (SELECT (vec_id % 2 = 0) AS snapa, label, t.i AS dim, v[t.i] AS x
        |  FROM e CROSS JOIN range(1, 65) t(i)),
        |c AS (SELECT snapa, label, dim, sum(x) // count(*) AS c
        |  FROM x GROUP BY 1, 2, 3),
        |sh AS (SELECT a.label, sum((a.c - b.c) * (a.c - b.c))::BIGINT AS shift_micro2
        |  FROM c a JOIN c b ON a.label = b.label AND a.dim = b.dim
        |  WHERE a.snapa AND NOT b.snapa GROUP BY 1),
        |n AS (SELECT label,
        |    sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |    sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b
        |  FROM embeddings GROUP BY 1)
        |SELECT label, n_a, n_b, shift_micro2
        |FROM n JOIN sh USING (label) ORDER BY label""".stripMargin,
    "hard_negatives" ->
      """WITH a AS (SELECT vec_id AS anchor_id, embedding AS a_emb, label AS a_label
        |  FROM embeddings WHERE vec_id < 8),
        |s AS (SELECT a.anchor_id, e.vec_id,
        |    round(
        |      list_reduce(list_transform(range(1,65), i -> e.embedding[i]::DOUBLE * a.a_emb[i]::DOUBLE), (x,y) -> x+y)
        |      / (sqrt(list_reduce(list_transform(range(1,65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE), (x,y) -> x+y))
        |         * sqrt(list_reduce(list_transform(range(1,65), i -> a.a_emb[i]::DOUBLE * a.a_emb[i]::DOUBLE), (x,y) -> x+y))), 6) AS sim
        |  FROM embeddings e CROSS JOIN a WHERE e.label <> a.a_label),
        |r AS (SELECT anchor_id, vec_id, sim,
        |    row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, vec_id) AS rank
        |  FROM s)
        |SELECT anchor_id, vec_id, sim, rank::INT AS rank
        |FROM r WHERE rank <= 5 ORDER BY anchor_id, rank""".stripMargin,
    "ivf_size_profile" -> {
      val sqrtK = "(SELECT greatest(2, round(sqrt(count(*))))::INT FROM e)"
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000000)::BIGINT) AS v
         |  FROM embeddings),
         |q AS (SELECT v FROM e WHERE vec_id = 0),
         |ex AS (SELECT vec_id FROM (
         |    SELECT e.vec_id,
         |      sum((e.v[t.i] - q.v[t.i]) * (e.v[t.i] - q.v[t.i])) AS dist
         |    FROM e CROSS JOIN q CROSS JOIN range(1, 65) t(i)
         |    WHERE e.vec_id <> 0 GROUP BY 1)
         |  ORDER BY dist, vec_id LIMIT 20),
         |${kmeansChainK("s8", "8")},
         |${kmeansChainK("sq", sqrtK)}
         |SELECT * FROM (
         |  SELECT 8::INT AS ncells, 3::INT AS nprobe, n_hit::BIGINT AS n_hit,
         |    (10000 * n_hit // 20)::BIGINT AS recall_bp FROM s8hit
         |  UNION ALL
         |  SELECT $sqrtK AS ncells,
         |    greatest(1, (3 * $sqrtK) // 8)::INT AS nprobe,
         |    n_hit::BIGINT, (10000 * n_hit // 20)::BIGINT FROM sqhit)
         |ORDER BY ncells""".stripMargin
    },
    // two full unrolled Lloyd chains at the same sqrt(n) k — one from
    // the full corpus, one from the 1-in-4 stride sample — probed
    // identically; smp aliases into the chain as the training source
    "ivf_sample_train" -> {
      val sqrtK = "(SELECT greatest(2, round(sqrt(count(*))))::INT FROM e)"
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> round(x::DOUBLE * 1000000)::BIGINT) AS v
         |  FROM embeddings),
         |smp AS (SELECT * FROM e WHERE vec_id % 4 = 0),
         |q AS (SELECT v FROM e WHERE vec_id = 0),
         |ex AS (SELECT vec_id FROM (
         |    SELECT e.vec_id,
         |      sum((e.v[t.i] - q.v[t.i]) * (e.v[t.i] - q.v[t.i])) AS dist
         |    FROM e CROSS JOIN q CROSS JOIN range(1, 65) t(i)
         |    WHERE e.vec_id <> 0 GROUP BY 1)
         |  ORDER BY dist, vec_id LIMIT 20),
         |${kmeansChainK("fu", sqrtK)},
         |${kmeansChainK("sm", sqrtK, "smp")}
         |SELECT * FROM (
         |  SELECT 'full' AS train_set, $sqrtK AS ncells,
         |    greatest(1, (3 * $sqrtK) // 8)::INT AS nprobe,
         |    n_hit::BIGINT AS n_hit, (10000 * n_hit // 20)::BIGINT AS recall_bp
         |  FROM fuhit
         |  UNION ALL
         |  SELECT 'sample', $sqrtK,
         |    greatest(1, (3 * $sqrtK) // 8)::INT,
         |    n_hit::BIGINT, (10000 * n_hit // 20)::BIGINT FROM smhit)
         |ORDER BY train_set""".stripMargin
    },
    // identical oracle for the inline and materialized-index probes:
    // the layout change must be answer-invariant
    "ivf_pq_topk" -> IvfPqOracle,
    "ivf_pq_pruned" -> IvfPqOracle,
    "ivf_pq_rerank" -> IvfPqRerankOracle,
    "mmr_rerank" ->
      """WITH RECURSIVE
        |cand AS (SELECT vec_id, sim FROM read_parquet('{OUT}/embedding_topk/*.parquet')),
        |ce AS (SELECT c.vec_id, c.sim, e.embedding
        |       FROM cand c JOIN embeddings e USING (vec_id)),
        |pair AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
        |    round(
        |      list_reduce(list_transform(range(1,65), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (x,y) -> x+y)
        |      / (sqrt(list_reduce(list_transform(range(1,65), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE), (x,y) -> x+y))
        |         * sqrt(list_reduce(list_transform(range(1,65), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (x,y) -> x+y))), 6) AS s
        |  FROM ce a JOIN ce b ON a.vec_id <> b.vec_id),
        |sel(step, vid, score, picked) AS (
        |  (SELECT 1, vec_id, 0.5*sim, [vec_id] FROM cand
        |   ORDER BY 0.5*sim DESC, vec_id LIMIT 1)
        |  UNION ALL
        |  SELECT sel.step + 1, t.vec_id, t.sc, list_append(sel.picked, t.vec_id)
        |  FROM sel, LATERAL (
        |    SELECT c.vec_id,
        |      0.5*c.sim - 0.5*(SELECT max(p.s) FROM pair p
        |                       WHERE p.id1 = c.vec_id
        |                         AND list_contains(sel.picked, p.id2)) AS sc
        |    FROM cand c WHERE NOT list_contains(sel.picked, c.vec_id)
        |    ORDER BY sc DESC, c.vec_id LIMIT 1) t
        |  WHERE sel.step < 10)
        |SELECT step::INT AS rank, vid AS vec_id, round(score, 6) AS mmr_score
        |FROM sel ORDER BY rank""".stripMargin,
    "ivf_pq_batch" ->
      s"""WITH $KmeansTrainCte,
         |d3 AS (SELECT e.vec_id, c.cid,
         |    sum((e.v[c.dim] - c.c) * (e.v[c.dim] - c.c)) AS dist
         |  FROM e CROSS JOIN c2 c GROUP BY 1, 2),
         |a3 AS (SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d3)
         |  WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 8),
         |qc AS (SELECT q.qid, c.cid,
         |    sum((c.c - q.v[c.dim]) * (c.c - q.v[c.dim])) AS d
         |  FROM c2 c CROSS JOIN q GROUP BY 1, 2),
         |probe AS (SELECT qid, cid FROM (
         |    SELECT qid, cid,
         |      row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS rn FROM qc)
         |  WHERE rn <= 3),
         |cb AS (SELECT sub, cluster_id, dim, c_micro
         |       FROM read_parquet('{OUT}/pq_codebooks/*.parquet')),
         |dt AS (SELECT q.qid, cc.cid AS cell, cb.sub, cb.cluster_id AS code,
         |    sum((q.v[cb.sub * 16 + cb.dim + 1] - cc.c - cb.c_micro)
         |        * (q.v[cb.sub * 16 + cb.dim + 1] - cc.c - cb.c_micro)) AS d2
         |  FROM cb JOIN c2 cc ON cc.dim = cb.sub * 16 + cb.dim + 1
         |  CROSS JOIN q GROUP BY 1, 2, 3, 4),
         |co AS (SELECT vec_id, cell, sub, code
         |       FROM read_parquet('{OUT}/pq_codes/*.parquet')),
         |cand AS (SELECT p.qid, a3.vec_id FROM a3 JOIN probe p USING (cid)
         |         WHERE a3.vec_id <> p.qid),
         |sc AS (SELECT cand.qid, co.vec_id, sum(dt.d2)::BIGINT AS adc
         |  FROM cand JOIN co USING (vec_id)
         |  JOIN dt ON dt.qid = cand.qid AND dt.cell = co.cell
         |         AND dt.sub = co.sub AND dt.code = co.code
         |  GROUP BY 1, 2)
         |SELECT qid, vec_id, adc AS adc_micro2 FROM (
         |  SELECT qid, vec_id, adc,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn
         |  FROM sc) WHERE rn <= 20
         |ORDER BY qid, adc_micro2, vec_id""".stripMargin,
    "kmeans_profile" ->
      s"""WITH $KmeansTrainCte,
        |d3 AS (SELECT e.vec_id, c.cid,
        |    sum((e.v[c.dim] - c.c) * (e.v[c.dim] - c.c)) AS dist
        |  FROM e CROSS JOIN c2 c GROUP BY 1, 2),
        |a3 AS (SELECT vec_id, cid, dist FROM (
        |    SELECT vec_id, cid, dist,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d3)
        |  WHERE rn = 1),
        |j AS (SELECT a3.vec_id, a3.cid, a3.dist, b.label
        |      FROM a3 JOIN embeddings b USING (vec_id)),
        |tot AS (SELECT cid, count(*)::BIGINT AS n_vecs, sum(dist)::BIGINT AS sd
        |        FROM j GROUP BY 1),
        |lab AS (SELECT cid, label, count(*)::BIGINT AS lc FROM j GROUP BY 1, 2),
        |top AS (SELECT cid, label AS top_label, lc FROM (
        |    SELECT cid, label, lc,
        |      row_number() OVER (PARTITION BY cid ORDER BY lc DESC, label) AS rn
        |    FROM lab) WHERE rn = 1)
        |SELECT t.cid::BIGINT AS cluster_id, t.n_vecs,
        |  (t.sd // t.n_vecs)::BIGINT AS avg_dist_micro2,
        |  top.top_label::INT AS top_label,
        |  (10000 * top.lc // t.n_vecs)::BIGINT AS purity_bp
        |FROM tot t JOIN top USING (cid) ORDER BY cluster_id""".stripMargin,
    "dedup_semantic" ->
      s"""WITH ${KmeansTrainCteK(SemKSql)},
        |d3 AS (SELECT e.vec_id, c.cid,
        |    sum((e.v[c.dim] - c.c) * (e.v[c.dim] - c.c)) AS dist
        |  FROM e CROSS JOIN c2 c GROUP BY 1, 2),
        |asg AS (SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d3)
        |  WHERE rn = 1),
        |em AS (SELECT a.vec_id, a.cid, b.embedding
        |       FROM asg a JOIN embeddings b USING (vec_id)),
        |p AS (SELECT x.vec_id AS id1, y.vec_id AS id2,
        |    round(
        |      list_reduce(list_transform(range(1,65), i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE), (u,w) -> u+w)
        |      / (sqrt(list_reduce(list_transform(range(1,65), i -> x.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE), (u,w) -> u+w))
        |         * sqrt(list_reduce(list_transform(range(1,65), i -> y.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE), (u,w) -> u+w))), 6) AS sim
        |  FROM em x JOIN em y ON x.cid = y.cid AND x.vec_id < y.vec_id),
        |drp AS (SELECT DISTINCT id2 FROM p WHERE sim >= 0.35)
        |SELECT a.vec_id, a.cid::BIGINT AS cluster_id,
        |  (a.vec_id NOT IN (SELECT id2 FROM drp)) AS kept
        |FROM asg a ORDER BY a.vec_id""".stripMargin,
    // same cell/pair chain as dedup_semantic, reduced to per-vector max
    // similarity then swept over the 7 threshold rungs in micro-units
    "semdedup_threshold_curve" ->
      s"""WITH ${KmeansTrainCteK(SemKSql)},
        |d3 AS (SELECT e.vec_id, c.cid,
        |    sum((e.v[c.dim] - c.c) * (e.v[c.dim] - c.c)) AS dist
        |  FROM e CROSS JOIN c2 c GROUP BY 1, 2),
        |asg AS (SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d3)
        |  WHERE rn = 1),
        |em AS (SELECT a.vec_id, a.cid, b.embedding
        |       FROM asg a JOIN embeddings b USING (vec_id)),
        |p AS (SELECT x.vec_id AS id1, y.vec_id AS id2,
        |    round(
        |      list_reduce(list_transform(range(1,65), i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE), (u,w) -> u+w)
        |      / (sqrt(list_reduce(list_transform(range(1,65), i -> x.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE), (u,w) -> u+w))
        |         * sqrt(list_reduce(list_transform(range(1,65), i -> y.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE), (u,w) -> u+w))), 6) AS sim
        |  FROM em x JOIN em y ON x.cid = y.cid AND x.vec_id < y.vec_id),
        |ml AS (SELECT id2 AS vec_id, max(sim) AS max_sim FROM p GROUP BY 1),
        |r AS (SELECT (i * 5)::INT AS t_pct FROM range(4, 11) t(i)),
        |hc AS (SELECT t_pct, count(*)::BIGINT AS nd
        |       FROM r JOIN ml ON round(ml.max_sim * 1000000) >= r.t_pct * 10000
        |       GROUP BY 1),
        |n AS (SELECT count(*)::BIGINT AS n_total FROM asg)
        |SELECT r.t_pct, coalesce(hc.nd, 0)::BIGINT AS n_dropped,
        |  (n.n_total - coalesce(hc.nd, 0))::BIGINT AS n_kept,
        |  (10000 * coalesce(hc.nd, 0) // n.n_total)::BIGINT AS drop_bp
        |FROM r LEFT JOIN hc USING (t_pct) CROSS JOIN n ORDER BY t_pct""".stripMargin,
    "semantic_contamination" ->
      s"""WITH ${KmeansTrainCteK(SemKSql)},
        |d3 AS (SELECT e.vec_id, c.cid,
        |    sum((e.v[c.dim] - c.c) * (e.v[c.dim] - c.c)) AS dist
        |  FROM e CROSS JOIN c2 c GROUP BY 1, 2),
        |asg AS (SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d3)
        |  WHERE rn = 1),
        |em AS (SELECT a.vec_id, a.cid, b.embedding
        |       FROM asg a JOIN embeddings b USING (vec_id))
        |SELECT test_id, train_id, sim FROM (
        |  SELECT x.vec_id AS test_id, y.vec_id AS train_id,
        |    round(
        |      list_reduce(list_transform(range(1,65), i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE), (u,w) -> u+w)
        |      / (sqrt(list_reduce(list_transform(range(1,65), i -> x.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE), (u,w) -> u+w))
        |         * sqrt(list_reduce(list_transform(range(1,65), i -> y.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE), (u,w) -> u+w))), 6) AS sim
        |  FROM em x JOIN em y ON x.cid = y.cid
        |  WHERE x.vec_id % 10 = 0 AND y.vec_id % 10 <> 0)
        |WHERE sim >= 0.35 ORDER BY test_id, train_id""".stripMargin,
    "embedding_neardup_incremental" ->
      s"""WITH ${KmeansTrainCteK(SemKSql)},
        |d3 AS (SELECT e.vec_id, c.cid,
        |    sum((e.v[c.dim] - c.c) * (e.v[c.dim] - c.c)) AS dist
        |  FROM e CROSS JOIN c2 c GROUP BY 1, 2),
        |asg AS (SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d3)
        |  WHERE rn = 1),
        |em AS (SELECT a.vec_id, a.cid, b.embedding
        |       FROM asg a JOIN embeddings b USING (vec_id)),
        |dup AS (SELECT DISTINCT b.vec_id
        |  FROM em b JOIN em c ON b.cid = c.cid
        |  WHERE b.vec_id < 500 AND c.vec_id >= 500
        |    AND round(
        |      list_reduce(list_transform(range(1,65), i -> b.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE), (u,w) -> u+w)
        |      / (sqrt(list_reduce(list_transform(range(1,65), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (u,w) -> u+w))
        |         * sqrt(list_reduce(list_transform(range(1,65), i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE), (u,w) -> u+w))), 6) >= 0.35)
        |SELECT b.vec_id, b.cid::BIGINT AS cell FROM em b
        |WHERE b.vec_id < 500 AND b.vec_id NOT IN (SELECT vec_id FROM dup)
        |ORDER BY b.vec_id""".stripMargin,
    "embedding_cosine_pairs" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300)
        |SELECT id1, id2, sim FROM (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2,
        |    round(
        |      list_reduce(list_transform(range(1,65), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (x,y) -> x+y)
        |      / (sqrt(list_reduce(list_transform(range(1,65), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE), (x,y) -> x+y))
        |         * sqrt(list_reduce(list_transform(range(1,65), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (x,y) -> x+y))), 6) AS sim
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |WHERE sim >= 0.35 ORDER BY id1, id2""".stripMargin,
    "embedding_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, sim FROM (
        |  SELECT e.vec_id,
        |    round(
        |      list_reduce(list_transform(range(1,65), i -> e.embedding[i]::DOUBLE * q.qe[i]::DOUBLE), (a,b) -> a+b)
        |      / (sqrt(list_reduce(list_transform(range(1,65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE), (a,b) -> a+b))
        |         * sqrt(list_reduce(list_transform(range(1,65), i -> q.qe[i]::DOUBLE * q.qe[i]::DOUBLE), (a,b) -> a+b))), 6) AS sim
        |  FROM embeddings e, q WHERE e.vec_id <> 0)
        |ORDER BY sim DESC, vec_id LIMIT 20""".stripMargin,
    "embedding_topk_ivf" -> ivfTopkOracle(nprobe = 3),
    "embedding_topk_ivf_tuned" -> ivfTopkOracle(nprobe = 8),
    "ann_filtered_topk_ivf" -> ivfTopkOracle(nprobe = 8, filtered = true),
    "ann_filtered_recall" ->
      """SELECT 20::BIGINT AS k, count(*)::BIGINT AS n_hit,
        |  (10000 * count(*) // 20)::BIGINT AS recall_bp
        |FROM read_parquet('{OUT}/ann_filtered_topk/*.parquet') e
        |JOIN read_parquet('{OUT}/ann_filtered_topk_ivf/*.parquet') i USING (vec_id)""".stripMargin,
    // the IVF-PQ ADC stage (probe + {OUT} codes/codebooks closure),
    // shortlist widened to the same 2*k/selectivity over-fetch the
    // Spark side derives from corpus stats, exact re-rank only under
    // the predicate — predicate-agnostic index, filtered serving
    "ann_filtered_rerank" ->
      (s"WITH $IvfPqAdcCte,\n" +
        """allowed AS (SELECT doc_id FROM documents WHERE lang = 'en'),
          |params AS (SELECT (2 * 20 * (SELECT count(*) FROM documents))
          |    // (SELECT count(*) FROM allowed) AS nshort),
          |sl AS (SELECT vec_id FROM (
          |    SELECT vec_id, row_number() OVER (ORDER BY adc, vec_id) AS rn FROM sc)
          |  WHERE rn <= (SELECT nshort FROM params))
          |SELECT vec_id, dist_micro2 FROM (
          |  SELECT e.vec_id,
          |    sum((e.v[t.i] - q.v[t.i]) * (e.v[t.i] - q.v[t.i]))::BIGINT AS dist_micro2
          |  FROM e JOIN sl USING (vec_id)
          |  JOIN allowed a ON e.vec_id = a.doc_id
          |  CROSS JOIN q CROSS JOIN range(1, 65) t(i)
          |  GROUP BY 1)
          |ORDER BY dist_micro2, vec_id LIMIT 20""".stripMargin),
    "ann_filtered_rerank_recall" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> round(x::DOUBLE * 1000000)::BIGINT) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |allowed AS (SELECT doc_id FROM documents WHERE lang = 'en'),
        |ex AS (SELECT vec_id FROM (
        |    SELECT e.vec_id,
        |      sum((e.v[t.i] - q.qv[t.i]) * (e.v[t.i] - q.qv[t.i])) AS dist
        |    FROM e JOIN allowed a ON e.vec_id = a.doc_id
        |    CROSS JOIN q CROSS JOIN range(1, 65) t(i)
        |    WHERE e.vec_id <> 0 GROUP BY 1)
        |  ORDER BY dist, vec_id LIMIT 20),
        |rr AS (SELECT vec_id FROM read_parquet('{OUT}/ann_filtered_rerank/*.parquet'))
        |SELECT 20::BIGINT AS k, count(*)::BIGINT AS n_hit,
        |  (10000 * count(*) // 20)::BIGINT AS recall_bp
        |FROM ex JOIN rr USING (vec_id)""".stripMargin,
    "ann_filtered_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |allowed AS (SELECT doc_id FROM documents WHERE lang = 'en')
        |SELECT vec_id, sim FROM (
        |  SELECT e.vec_id,
        |    round(
        |      list_reduce(list_transform(range(1,65), i -> e.embedding[i]::DOUBLE * q.qe[i]::DOUBLE), (a,b) -> a+b)
        |      / (sqrt(list_reduce(list_transform(range(1,65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE), (a,b) -> a+b))
        |         * sqrt(list_reduce(list_transform(range(1,65), i -> q.qe[i]::DOUBLE * q.qe[i]::DOUBLE), (a,b) -> a+b))), 6) AS sim
        |  FROM embeddings e JOIN allowed a ON e.vec_id = a.doc_id, q
        |  WHERE e.vec_id <> 0)
        |ORDER BY sim DESC, vec_id LIMIT 20""".stripMargin,
    "ivf_recall_curve" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |qd AS (SELECT list_transform(qe, x -> x::DOUBLE) AS v FROM q),
        |flat AS (
        |  SELECT label, i AS dim,
        |    sum(CAST(round(embedding[i] * 1e7) AS BIGINT))::BIGINT AS s,
        |    count(*)::BIGINT AS n
        |  FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
        |cent AS (SELECT label, list(s::DOUBLE / n ORDER BY dim) AS centroid
        |         FROM flat GROUP BY label),
        |cr AS (
        |  SELECT label, row_number() OVER (ORDER BY cell_sim DESC, label) AS cell_rank FROM (
        |    SELECT cent.label,
        |      round(
        |        list_reduce(list_transform(range(1,65), i -> centroid[i] * qd.v[i]), (a,b) -> a+b)
        |        / (sqrt(list_reduce(list_transform(range(1,65), i -> centroid[i] * centroid[i]), (a,b) -> a+b))
        |           * sqrt(list_reduce(list_transform(range(1,65), i -> qd.v[i] * qd.v[i]), (a,b) -> a+b))), 6) AS cell_sim
        |    FROM cent, qd)),
        |tl AS (SELECT cr.cell_rank FROM read_parquet('{OUT}/embedding_topk/*.parquet') t
        |       JOIN embeddings e USING (vec_id) JOIN cr ON e.label = cr.label),
        |probes AS (SELECT unnest(generate_series(1, (SELECT max(cell_rank) FROM cr))) AS i)
        |SELECT nprobe, n_hit, (10000 * n_hit // 20)::BIGINT AS recall_bp FROM (
        |  SELECT i::BIGINT AS nprobe, sum(CASE WHEN cell_rank <= i THEN 1 ELSE 0 END)::BIGINT AS n_hit
        |  FROM probes CROSS JOIN tl GROUP BY 1) ORDER BY nprobe""".stripMargin,
    "ivf_recall_tuned" ->
      """SELECT 20::BIGINT AS k, count(*)::BIGINT AS n_hit,
        |  (10000 * count(*) // 20)::BIGINT AS recall_bp
        |FROM read_parquet('{OUT}/embedding_topk/*.parquet') e
        |JOIN read_parquet('{OUT}/embedding_topk_ivf_tuned/*.parquet') i USING (vec_id)""".stripMargin,
  )
}
