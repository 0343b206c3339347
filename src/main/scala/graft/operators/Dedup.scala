package graft.operators

import graft.MaterializedCaches.{persistOnce, persisting}
import graft.functions.{Djb2, TextFns, VectorFns}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators for the LLM-data-pipeline tier
  * (SURVEY.md §2 tier C). All are pure DataFrame programs — every stage is
  * a shuffle-bounded groupBy/join, no driver-side loops, no cartesian
  * products — so the shapes hold at 100 TB:
  *
  *   - exact:   one hash-groupBy (map-side partial agg).
  *   - MinHash: shingle -> 64-perm signature -> 16x4 LSH bands ->
  *              bucket-join candidates -> exact-Jaccard verify. Work is
  *              O(candidates), not O(n^2).
  *   - SimHash: shingle djb2 -> 64-bit sign-aggregate -> 4x16-bit block
  *              join (pigeonhole-exact for hamming <= 3) -> bit_count
  *              verify.
  *   - embedding: random-hyperplane LSH tables -> bucket-join -> exact
  *              cosine verify.
  *
  * Known scale caveat (standard LSH behavior): a bucket holding k near-
  * identical members yields O(k^2) candidate pairs — inherent to "return
  * the duplicate pairs" semantics. The VERIFIED pair producers
  * ([[minhash]]/[[minhashPairs]]) handle this LOSSLESSLY and ON BY
  * DEFAULT via pivot pruning (see [[minhashPairsFrom]]): above
  * `giantBucketThreshold` members, a bucket first exact-verifies every
  * member against one hub pivot (k-1 Jaccard computations, not k²), then
  * generates only the pairs the Jaccard-distance triangle inequality
  * cannot rule out — the output pair set is provably identical to
  * uncapped all-pairs (pinned by DedupSpec), while a FALSE pileup (a
  * bucket whose members mostly aren't mutual near-dups — the common
  * failure on real crawls) collapses from O(k²) verifications to O(k) +
  * O(true pairs). The RAW candidate dump ([[minhashCandidates]]) keeps
  * the older opt-in lossy star cap (`starBucketThreshold`), because raw
  * candidates carry no Jaccard to prune on. Pipelines that only need a
  * representative per cluster should aggregate buckets instead (see
  * [[Dedup.exact]]'s keep-min pattern).
  */
object Dedup {

  /** Non-empty tokens of a text column. */
  def tokensNE(text: Column): Column =
    filter(TextFns.tokens(text), t => t =!= "")

  /** LSH bucket collects are ObjectHashAggregates over high-cardinality
    * keys; Spark's default sort-based fallback threshold (128 groups per
    * task) turns every one of them into a sort — measured 2x slower at
    * sf0.1. Raised to 1M groups/task — comfortably above any real
    * bucket-key cardinality per task (bucket count scales with input
    * rows, but so does task count, so groups/task stays bounded when
    * shuffle partitions are sized to the data), yet small enough that
    * sort-based spill safety re-engages well before 1M tiny collect_set
    * buffers threaten executor memory on skewed keys. Applied ONLY when
    * the conf was never explicitly set on the session (checked against
    * the explicit-settings map, not the value — a user deliberately
    * pinning Spark's default must win, and the check survives Spark
    * changing its default). The override is necessarily session-visible:
    * the conf is read at execution time, after this builder returned its
    * lazy DataFrame, so a save/restore scope around plan construction
    * would not cover the actual run.
    */
  private def tuneBucketAgg(df: DataFrame): Unit = {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    if (!org.apache.spark.sql.graft.Bridge.isConfExplicitlySet(df.sparkSession, key))
      df.sparkSession.conf.set(key, "1000000")
  }

  /** Exact dedup: sha256 of the raw text, keep the smallest doc_id per
    * hash group (single hash-groupBy; partial aggregation map-side).
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(sha2(col("text"), 256).as("text_sha"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("text_sha"))

  // --- MinHash + LSH --------------------------------------------------------

  private val MinhashPerms = 64
  private val Bands = 16 // 16 bands x 4 rows
  private val P31 = 2147483647L // 2^31 - 1 (prime); a*h stays < 2^62

  /** Deterministic permutation constants (seeded — stable across runs). */
  private lazy val perms: Array[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Array.fill(MinhashPerms)((rnd.nextInt(Int.MaxValue - 1).toLong + 1,
      rnd.nextInt(Int.MaxValue).toLong))
  }

  /** doc_id -> distinct shingle array (docs with >= 3 tokens only).
    *
    * Staged projections on purpose: `element_at` on an expression-built
    * array re-evaluates the whole child expression per access (HOFs are
    * interpreted, no common-subexpression reuse), turning shingling into
    * O(n_tokens^2) per row. Materializing the token array as a column
    * first makes each `element_at` an O(1) attribute access — measured
    * 20x faster at sf0.1.
    */
  def shingleSets(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokensNE(col("text")).as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"), array_distinct(
        transform(sequence(lit(1), size(col("ts")) - lit(2)), i =>
          concat_ws(" ", element_at(col("ts"), i), element_at(col("ts"), i + 1),
            element_at(col("ts"), i + 2)))).as("sh"))

  /** doc_id -> sorted 64-bit shingle-hash array: the shared verify-side
    * set representation. Hash-set Jaccard equals string-set Jaccard up to
    * ~2^-64 collisions and set sizes are identical — the same equivalence
    * ngram_jaccard's DuckDB oracle pins — while the pairwise intersect
    * becomes a native sorted-merge loop instead of interpreted string-set
    * ops (~50x at sf0.1).
    */
  def shingleHashSets(docs: DataFrame): DataFrame =
    shingleSets(docs)
      .select(col("doc_id"),
        array_sort(transform(col("sh"), s => xxhash64(s))).as("hs"))

  /** doc_id -> 64-long MinHash signature array.
    * Map-only: base hashes per shingle, then the whole 64-perm signature
    * in one native codegen'd loop ([[graft.functions.SketchExprs]]) — no
    * shuffle, no 64-column aggregate (measured ~10x over both).
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    signaturesFrom(shingleHashSets(docs))

  private def signaturesFrom(hsets: DataFrame): DataFrame =
    hsets
      // 31-bit base hash: the 64-bit hash masked (keeps a*h within int64);
      // staged projection — do not inline into the signature expression
      .select(col("doc_id"), transform(col("hs"), h =>
        h.bitwiseAND(lit(0x7FFFFFFFL))).as("h31"))
      .select(col("doc_id"), graft.functions.SketchExprs.minhashSig(
        col("h31"), perms.map(_._1), perms.map(_._2), P31).as("sig"))

  /** Candidate pairs from 16-band LSH over the signatures.
    * `starBucketThreshold`: opt-in giant-bucket cap (see class doc).
    */
  def minhashCandidates(docs: DataFrame,
      starBucketThreshold: Int = Int.MaxValue): DataFrame =
    candidatesFrom(minhashSignatures(docs), starBucketThreshold)

  /** One row per (doc, LSH band): the band's 4 signature slots hashed to
    * a bucket key. Shared by the symmetric pair generator and the
    * incremental (new-vs-old) join.
    */
  private def bandKeys(sigs: DataFrame): DataFrame = {
    val bands = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((b * 4 + 1 to b * 4 + 4).map(i => element_at(col("sig"), i)): _*).as("bh"))
    }
    sigs
      .select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
  }

  /** The (doc_id, band, bh) LSH band-key table for a corpus — the
    * materialized bucket artifact both the symmetric and the incremental
    * candidate joins probe. Declared as a dumpable query so the DuckDB
    * oracle can recompute band COLLISIONS from it independently (the
    * simhash_signatures pattern: the hash itself is not SQL-expressible,
    * the join semantics over it are).
    */
  def minhashBandKeys(docs: DataFrame): DataFrame =
    bandKeys(minhashSignatures(docs))

  /** The candidate stage of [[minhashIncremental]] alone — (new_id,
    * old_id) band collisions before the exact-Jaccard verify — so the
    * asymmetric probe's join semantics are oracle-pinnable via the band
    * dump.
    */
  def minhashIncrementalCandidates(newDocs: DataFrame, oldDocs: DataFrame): DataFrame = {
    val bNew = bandKeys(minhashSignatures(newDocs)).select(
      col("doc_id").as("new_id"), col("band"), col("bh"))
    val bOld = bandKeys(minhashSignatures(oldDocs)).select(
      col("doc_id").as("old_id"), col("band"), col("bh"))
    bNew.join(bOld, Seq("band", "bh"))
      .select(col("new_id"), col("old_id")).distinct()
  }

  private def candidatesFrom(sigs: DataFrame, starBucketThreshold: Int): DataFrame = {
    tuneBucketAgg(sigs)
    bandKeys(sigs)
      .groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(pairsOf(col("ids"), starBucketThreshold)).as("p"))
      .select(col("p.id1"), col("p.id2"))
      .distinct()
  }

  /** Candidate pairs from a sorted id array: all (id1 < id2) pairs up to
    * `starThreshold` members, hub-and-spoke (min-id hub, k-1 rows) above
    * it. The star form caps the O(k^2) blow-up of near-identical-document
    * pileups but can lose pairs whose hub fails downstream verification —
    * callers default it OFF (Int.MaxValue) and expose it as a scale knob.
    */
  private[graft] def pairsOf(ids: Column, starThreshold: Int): Column =
    when(size(ids) > starThreshold,
      transform(slice(ids, lit(2), size(ids)), y =>
        struct(element_at(ids, 1).as("id1"), y.as("id2"))))
    .otherwise(
      flatten(transform(ids, (x, i) =>
        transform(slice(ids, i + 2, size(ids)), y =>
          struct(x.as("id1"), y.as("id2"))))))

  /** Near-dup pairs: LSH candidates verified with exact Jaccard >= minJac
    * over the shingle-hash sets (two hash joins on doc_id — no n^2 stage;
    * intersect is the native sorted-merge expression). Giant buckets take
    * the lossless pivot-pruned path (see [[minhashPairsFrom]]).
    */
  def minhash(docs: DataFrame, minJac: Double = 0.5,
      giantBucketThreshold: Int = DefaultGiantBucket): DataFrame =
    minhashPairs(docs, minJac, giantBucketThreshold).orderBy(col("id1"), col("id2"))

  /** [[minhash]] over a pre-built shingle-hash set table (see
    * [[minhashPairsFrom]] for why consumers pass the corpus artifact).
    */
  def minhashFrom(hsets: DataFrame, minJac: Double = 0.5,
      giantBucketThreshold: Int = DefaultGiantBucket): DataFrame =
    minhashPairsFrom(hsets, minJac, giantBucketThreshold)
      .orderBy(col("id1"), col("id2"))

  /** [[minhash]] without the deterministic output sort — the input for
    * consumers that immediately reshuffle (connected components,
    * aggregation): Catalyst does NOT eliminate an explicit global sort
    * below a distinct/aggregate, so feeding the sorted variant would pay
    * a wasted range-partition + sort of the whole pair list.
    */
  /** Incremental near-dup gate: (new_id, old_id, jaccard) for every NEW
    * document whose MinHash/LSH buckets collide with an OLD-corpus
    * document and whose exact Jaccard passes — the daily-ingest filter
    * ("drop incoming docs already represented in the corpus"). The join
    * is asymmetric: new band keys probe old band keys, so the work is
    * O(|new batch|) bucket lookups, never a rescan of old-vs-old pairs.
    * At 100 TB the old side's band keys are a materialized artifact
    * (written once per corpus build, bucketed on (band, bh)); each
    * ingest batch computes only its own signatures and equi-joins in.
    */
  def minhashIncremental(newDocs: DataFrame, oldDocs: DataFrame,
      minJac: Double = 0.5): DataFrame = {
    val hsNew = shingleHashSets(newDocs)
    val hsOld = shingleHashSets(oldDocs)
    val bNew = bandKeys(signaturesFrom(hsNew)).select(
      col("doc_id").as("new_id"), col("band"), col("bh"))
    val bOld = bandKeys(signaturesFrom(hsOld)).select(
      col("doc_id").as("old_id"), col("band"), col("bh"))
    bNew.join(bOld, Seq("band", "bh"))
      .select(col("new_id"), col("old_id")).distinct()
      .join(hsNew.select(col("doc_id").as("new_id"), col("hs").as("hs1")), "new_id")
      .join(hsOld.select(col("doc_id").as("old_id"), col("hs").as("hs2")), "old_id")
      .withColumn("inter",
        graft.functions.SketchExprs.sortedIntersectCount(col("hs1"), col("hs2")))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("hs1")) + size(col("hs2")) - col("inter")), 6))
      .filter(col("jaccard") >= minJac)
      .select(col("new_id"), col("old_id"), col("jaccard"))
  }

  def minhashPairs(docs: DataFrame, minJac: Double = 0.5,
      giantBucketThreshold: Int = DefaultGiantBucket): DataFrame =
    minhashPairsFrom(shingleHashSets(docs), minJac, giantBucketThreshold)

  /** Bucket-size bound above which the verified pair producers switch
    * from all-pairs candidate explode to the lossless pivot-pruned path.
    * 64 keeps the all-pairs explode under 2,016 candidates per bucket —
    * cheap — while any pileup beyond it pays O(k) hub verifications
    * instead of O(k²).
    */
  val DefaultGiantBucket = 64

  /** Member bound above which a giant bucket is triangle-pre-sharded
    * before the pivot probe (see [[minhashPairsFrom]]): caps the width
    * of any collect_set row in the dedup path at ~2x this, independent
    * of bucket size.
    */
  val DefaultShardAbove = 1 << 20

  /** [[minhashPairs]] over a pre-built (possibly persisted) shingle-hash
    * set table — the production posture: the set table is the corpus
    * artifact every dedup consumer (signatures, candidate verify, hub
    * probes) reads, built once, not re-derived per stage.
    *
    * Buckets with <= `giantBucketThreshold` members explode all pairs
    * (the classic path). Bigger buckets go through PIVOT PRUNING:
    *
    *  1. hub = smallest doc_id; compute exact J(hub, m) for every member
    *     (k-1 sorted-merge intersects, not k²);
    *  2. Jaccard distance d = 1-J is a metric, so for any members y, z:
    *     d(y,z) >= |d(y,hub) - d(z,hub)|, i.e. a pair can only reach
    *     J(y,z) >= minJac if |J(y,hub) - J(z,hub)| <= 1-minJac. Members
    *     sort by J(hub,·) within the bucket row and only pairs inside
    *     that sliding window are emitted as candidates;
    *  3. every emitted candidate is still exact-verified like any other.
    *
    * The pruning is therefore LOSSLESS — the verified output equals the
    * uncapped all-pairs output (DedupSpec pins set equality on the
    * fixture) — while a false pileup (members collide in a band but are
    * not mutual near-dups) collapses from O(k²) to O(k) verifications. A
    * TRUE pileup of k mutual near-dups still emits O(k²) pairs: that is
    * the declared output, not overhead.
    *
    * PRE-SHARD (closes the old ~10M-member single-row residual bound):
    * a bucket's members collect into one row for the window pass, so a
    * bucket beyond `shardAbove` members is first split by a SECONDARY
    * hash (xxhash64 of the doc_id — independent of the band hash that
    * built the bucket) into S = ceil(k/shardAbove) shards, and every
    * shard PAIR (g1 <= g2) becomes its own sub-bucket holding both
    * shards' members — the triangle scheme for skewed self-joins. Any
    * candidate pair co-occurs in exactly sub-bucket (min(g_a,g_b),
    * max(g_a,g_b)), so the split is lossless (ScaleSpec pins equality
    * with the unsharded output on a synthetic mega-bucket); row width is
    * bounded by ~2·shardAbove members at ANY bucket size; each member is
    * replicated S times and hub-verified S times — O(k²/shardAbove)
    * work, sub-quadratic for every k below shardAbove² (~10¹² at the
    * default). Pairs double-generated across overlapping sub-buckets
    * collapse in the candidate distinct below.
    */
  def minhashPairsFrom(hsets: DataFrame, minJac: Double = 0.5,
      giantBucketThreshold: Int = DefaultGiantBucket,
      shardAbove: Int = DefaultShardAbove): DataFrame = {
    val sigs = signaturesFrom(hsets)
    if (giantBucketThreshold == Int.MaxValue)
      return verifyPairs(candidatesFrom(sigs, Int.MaxValue), hsets, minJac)
    tuneBucketAgg(sigs)
    // persisted split point (the q20_volume_supplier single-evaluation
    // posture): the bucket aggregate feeds both the small-bucket explode
    // and the giant-bucket hub probe; without the persist the whole
    // scan->shingle->sign->band aggregate would run twice. The persist
    // must outlive this call (the returned DataFrame is lazy): a query-
    // local temporary, released by the enclosing MaterializedCaches.scoped.
    val buckets = persistOnce(bandKeys(sigs)
      .groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1))
    val small = buckets.filter(size(col("ids")) <= giantBucketThreshold)
      .select(explode(pairsOf(col("ids"), Int.MaxValue)).as("p"))
      .select(col("p.id1"), col("p.id2"))
    val giant0 = buckets.filter(size(col("ids")) > giantBucketThreshold)
    val direct = giant0.filter(size(col("ids")) <= shardAbove)
      .select(concat_ws("#", col("band"), col("bh")).as("bkey"), col("ids"))
    // triangle pre-shard of the over-bound buckets (see the scaladoc)
    val sharded = giant0.filter(size(col("ids")) > shardAbove)
      .select(col("band"), col("bh"),
        ceil(size(col("ids")).cast("double") / shardAbove).cast("int").as("ns"),
        explode(col("ids")).as("id"))
      .withColumn("g", pmod(xxhash64(col("id")), col("ns")).cast("int"))
      .select(col("band"), col("bh"), col("id"), col("g"),
        explode(sequence(lit(0), col("ns") - 1)).as("j"))
      .groupBy(col("band"), col("bh"),
        least(col("g"), col("j")).as("g1"), greatest(col("g"), col("j")).as("g2"))
      .agg(sort_array(collect_set(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(concat_ws("#", col("band"), col("bh"), col("g1"), col("g2"))
        .as("bkey"), col("ids"))
    val giant = pivotPrunedCandidates(direct.union(sharded), hsets, minJac)
    verifyPairs(small.union(giant).distinct(), hsets, minJac)
  }

  /** Exact-Jaccard verification of candidate (id1, id2) pairs against the
    * shingle-hash set table: two hash joins on doc_id, native sorted-merge
    * intersect, filter at minJac. Shared by the all-pairs and pivot paths.
    */
  private def verifyPairs(cand: DataFrame, hsets: DataFrame,
      minJac: Double): DataFrame =
    cand
      .join(hsets.select(col("doc_id").as("id1"), col("hs").as("hs1")), "id1")
      .join(hsets.select(col("doc_id").as("id2"), col("hs").as("hs2")), "id2")
      .withColumn("inter",
        graft.functions.SketchExprs.sortedIntersectCount(col("hs1"), col("hs2")))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("hs1")) + size(col("hs2")) - col("inter")), 6))
      .filter(col("jaccard") >= minJac)
      .select(col("id1"), col("id2"), col("jaccard"))

  /** The giant-bucket candidate generator of [[minhashPairsFrom]]: exact
    * hub Jaccards, then the triangle-inequality window over the members
    * sorted by J(hub,·). The window bound carries +1e-9 slack so double
    * rounding can never prune a boundary pair (the final verify is exact,
    * so over-inclusion is merely a few extra verifications).
    *
    * Input `giantBuckets`: (bkey, ids) with ids sorted, size > thr —
    * bkey is the opaque (band, bh[, shard-pair]) bucket identity string.
    */
  private def pivotPrunedCandidates(giantBuckets: DataFrame, hsets: DataFrame,
      minJac: Double): DataFrame = {
    val window = lit(1.0 - minJac + 1e-9)
    giantBuckets
      .select(col("bkey"), element_at(col("ids"), 1).as("hub"),
        explode(slice(col("ids"), lit(2), size(col("ids")))).as("m"))
      .join(hsets.select(col("doc_id").as("hub"), col("hs").as("hsh")), "hub")
      .join(hsets.select(col("doc_id").as("m"), col("hs").as("hsm")), "m")
      .withColumn("inter",
        graft.functions.SketchExprs.sortedIntersectCount(col("hsh"), col("hsm")))
      .withColumn("jh", col("inter").cast("double") /
        (size(col("hsh")) + size(col("hsm")) - col("inter")))
      .groupBy(col("bkey"), col("hub"))
      .agg(collect_list(struct(col("jh"), col("m"))).as("ms0"))
      // the hub itself re-enters the member list at J = 1.0, so hub-spoke
      // pairs fall out of the same window generator as spoke-spoke pairs
      .select(sort_array(concat(col("ms0"),
        array(struct(lit(1.0).as("jh"), col("hub").as("m"))))).as("ms"))
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(
          filter(slice(col("ms"), i + 2, size(col("ms"))),
            y => y.getField("jh") - x.getField("jh") <= window),
          y => struct(
            least(x.getField("m"), y.getField("m")).as("id1"),
            greatest(x.getField("m"), y.getField("m")).as("id2")))))).as("p"))
      .select(col("p.id1"), col("p.id2"))
  }

  /** Connected components over an undirected pair list (min-label
    * propagation): every vertex converges to the smallest id reachable
    * from it — the cluster representative. This is the collapse step a
    * real dedup pipeline needs after pair generation: near-dup PAIRS are
    * not deduplicatable per se; transitive groups are (keep the rep, drop
    * the rest).
    *
    * Each round is two shuffle-bounded ops (join + min-aggregate); rounds
    * needed = graph diameter (near-dup clusters are near-cliques, so 2-3
    * in practice, never more than O(log n) with the pair lists LSH
    * produces). The driver only coordinates round boundaries — all data
    * work is distributed; each round is one [[Iterate]] checkpoint whose
    * change count is an observed metric, released when superseded, so
    * lineage stays O(1). (GraphX/Pregel is the same loop; plain
    * DataFrames keep it Catalyst-optimized and dependency-free.)
    */
  def connectedComponents(pairs: DataFrame, idCol1: String = "id1",
      idCol2: String = "id2", maxIter: Int = 50): DataFrame = {
    // persist the pair input BEFORE the symmetric union (persisting caches
    // in argument order): the union's two branches otherwise re-execute
    // the (potentially very expensive) pair pipeline twice inside the
    // first edges materialization
    val p0 = pairs.select(col(idCol1).as("src"), col(idCol2).as("dst"))
    val edges = p0.union(p0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    persisting(p0, edges) {
      // each round MUST truncate lineage (the [[Iterate]] checkpoint), not
      // just cache: the logical plan otherwise doubles per round (labels
      // is referenced twice) and the 2^rounds plan tree OOMs the driver
      // long before the data does. The round carries the previous label
      // through the checkpoint, so the change count is an observed
      // metric of the same job instead of a second labels join.
      val labels0 = edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id"))
      val res = Iterate(Iterate.Round(labels0, Row.empty), maxIter,
          metrics = Seq(count(when(col("label") =!= col("prev"), 1))),
          stop = (_, cur) => cur.long == 0) { (prev, _) =>
        val labels = prev.frame.select(col("id"), col("label"))
        val nbrMin = edges
          .join(labels.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id")).agg(min(col("label")).as("nbr_label"))
        labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"),
            col("label").as("prev"))
      }
      if (!res.converged) org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(res.frame)
      require(res.converged, s"connectedComponents did not converge in $maxIter rounds")
      res.frame.select(col("id"), col("label"))
    }
  }

  /** Connected components by alternating large-star / small-star
    * contraction — O(log n) rounds regardless of graph shape, vs
    * [[connectedComponents]]'s rounds = diameter. Same output contract
    * (id, label = component min).
    *
    * Use THIS variant when long chains are plausible (transitive-similar
    * document runs, adversarial inputs): a chain of length > maxIter
    * aborts label propagation but contracts here in ~2 log2(n)
    * alternations. Label propagation stays the default for near-dup
    * graphs (near-cliques, diameter 2-3: fewer, cheaper rounds).
    *
    * Per alternation (public algorithm, Kiveris et al., "Connected
    * Components in MapReduce and Beyond"):
    *   - large-star: every node links its LARGER neighbors to the
    *     minimum of its neighborhood (incl. itself);
    *   - small-star: orient edges large->small; every node links its
    *     smaller neighbors and itself to that minimum.
    * Both are one groupBy + one equi-join — shuffle-bounded, skew-safe
    * (a giant star's hub row aggregates, never materializes a list).
    * Convergence: the edge multiset is a fixpoint of both steps; checked
    * with a count + unordered hash-xor (collision odds ~2^-64 per
    * round; at the fixpoint edges are exactly (member, root) stars).
    */
  def connectedComponentsStar(pairs: DataFrame, idCol1: String = "id1",
      idCol2: String = "id2", maxIter: Int = 60): DataFrame = {
    val p0 = pairs.select(col(idCol1).as("src"), col(idCol2).as("dst"))
      .filter(col("src") =!= col("dst"))

    // large-star expects symmetric edges; emits (v, min(N(u)+u)) for v>u
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val m = sym.groupBy(col("src"))
        .agg(least(min(col("dst")), col("src")).as("m"))
      sym.join(m, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }

    // small-star orients large->small; links smaller nbrs and self to min
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val m = oriented.groupBy(col("src"))
        .agg(least(min(col("dst")), col("src")).as("m"))
      oriented.join(m, "src")
        .select(explode(array(col("dst"), col("src"))).as("v"), col("m"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("src"), col("m").as("dst"))
        .distinct()
    }

    // fingerprint (count, bit_xor of edge hashes), observed on each
    // round's checkpoint job. bit_xor, not sum: order-independent over
    // the DISTINCT edge set and cannot overflow (ANSI mode makes a
    // summed-hash fingerprint a hard error at scale). The init round's
    // -1 count never matches, so round 1 always runs on.
    val fingerprint = Seq(count(lit(1)), expr("bit_xor(xxhash64(src, dst))"))
    // The fingerprint is a cheap screen; on a match, confirm the
    // fixpoint EXACTLY once (counts already equal via the fingerprint
    // and both sides are distinct sets, so a one-sided empty except is
    // set equality) — a ~2^-64 hash collision would otherwise
    // terminate early with silently wrong clusters.
    val res = persisting(p0) {
      Iterate(Iterate.Round(p0, Row(-1L, 0L)), maxIter, fingerprint,
          stop = (prev, cur) => cur.metric == prev.metric && cur.frame.except(prev.frame).isEmpty) {
        (prev, _) => smallStar(largeStar(prev.frame))
      }
    }
    if (!res.converged) {
      // release the final round's checkpoint blocks on the failure path too
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(res.frame)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds")
    }
    val edges = res.frame
    // fixpoint edges are (member, root) stars; roots label themselves
    edges.select(col("src").as("id"), col("dst").as("label"))
      .union(edges.select(col("dst").as("id"), col("dst").as("label")))
      .distinct()
  }

  // --- SimHash --------------------------------------------------------------

  /** doc_id -> 64-bit SimHash over djb2 shingle hashes (the reference's
    * own hash function as a native codegen'd expression, Djb2.scala;
    * bit-vote loop likewise native, SketchExprs.scala). Map-only.
    */
  def simhashes(docs: DataFrame): DataFrame =
    shingleSets(docs)
      .select(col("doc_id"), transform(col("sh"), s => Djb2.djb2(s)).as("hs"))
      .select(col("doc_id"), graft.functions.SketchExprs.simhash64(col("hs")).as("simhash"))

  /** Near-dup pairs with hamming distance <= maxHamming (default 3).
    * Block-join is exact for <= 3 (4 disjoint 16-bit blocks: any pair
    * within hamming 3 shares at least one block, pigeonhole) — exactness
    * holds at the default starBucketThreshold; opting into the cap trades
    * it away for bounded giant-bucket work (see class doc).
    */
  def simhash(docs: DataFrame, maxHamming: Int = 3,
      starBucketThreshold: Int = Int.MaxValue): DataFrame = {
    tuneBucketAgg(docs)
    val sh = simhashes(docs)
    val blocks = (0 until 4).map { b =>
      struct(lit(b).as("blk"),
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL)).as("v"))
    }
    sh.select(struct(col("doc_id"), col("simhash")).as("rec"),
        explode(array(blocks: _*)).as("bk"))
      .groupBy(col("bk.blk"), col("bk.v"))
      .agg(sort_array(collect_set(col("rec"))).as("recs"))
      .filter(size(col("recs")) > 1)
      .select(explode(pairsOf(col("recs"), starBucketThreshold)).as("p"))
      .select(col("p.id1.doc_id").as("id1"), col("p.id2.doc_id").as("id2"),
        bit_count(col("p.id1.simhash").bitwiseXOR(col("p.id2.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(col("id1"), col("id2"))
  }

  // --- Embedding near-dup (random hyperplane LSH) --------------------------

  private val Tables = 8
  private val PlanesPerTable = 12

  /** Deterministic Gaussian hyperplanes: Tables x PlanesPerTable x dim. */
  private def hyperplanes(dim: Int): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(12345)
    Array.fill(Tables, PlanesPerTable, dim)(rnd.nextGaussian())
  }

  /** Exact-cosine verify of a candidate pair set: two hash joins to fetch
    * the vectors, one native codegen'd cosine per pair. The joins are
    * PINNED to shuffle-hash building the VECTOR side: the candidate
    * frame sits above a bucket aggregate + pair explode, so Catalyst
    * estimates it at the aggregate's row count (≈ #buckets) while its
    * true size is Σ bucket² pairs — auto-broadcast then picks the pair
    * side as the build relation and dies building a multi-hundred-
    * million-row hashed relation ("Not enough memory to build and
    * broadcast", reproduced at sf3: the r13 bench ghost). The pair list
    * must only ever be STREAMED; the keyed vector slice is the side a
    * join may materialize.
    */
  private def cosineVerify(emb: DataFrame, candidates: DataFrame, minCos: Double): DataFrame =
    candidates
      .join(emb.select(col("vec_id").as("id1"), col("embedding").as("e1"))
        .hint("shuffle_hash"), "id1")
      .join(emb.select(col("vec_id").as("id2"), col("embedding").as("e2"))
        .hint("shuffle_hash"), "id2")
      .withColumn("cos_sim", round(VectorFns.cosine(col("e1"), col("e2")), 6))
      .filter(col("cos_sim") >= minCos)
      .select(col("id1"), col("id2"), col("cos_sim"))
      .orderBy(col("id1"), col("id2"))

  /** Members of any one cell a single join task may hold before the
    * triangle shard splits it (see [[embeddingNearDupFrom]]): 4096
    * keeps a worst-case sub-bucket's pair work at ~(2·4096)²/2 ≈ 34M
    * cosines — a few seconds per task — while balanced √n cells stay
    * far below it (ns = 1, zero replication) at any realistic corpus.
    */
  val DefaultCellShard = 4096

  /** IVF-style near-dup: candidates are pairs within the same coarse
    * cell of a k-means quantizer TRAINED HERE at k = `ncells` (default
    * 0 → the √n rule, [[Kmeans.ncellsFor]] — the FAISS/IVFADC sizing),
    * exactly the SemDeDup recipe (Abbas et al. 2023: cluster count
    * grows with the corpus). Consumers holding a cached/shared model
    * (the dedup_semantic family) call [[embeddingNearDupFrom]] directly.
    */
  def embeddingNearDup(emb: DataFrame, minCos: Double = 0.35,
      ncells: Int = 0,
      shardAbove: Int = DefaultCellShard): DataFrame = {
    val k = if (ncells > 0) ncells else Kmeans.ncellsFor(emb.count())
    embeddingNearDupFrom(emb, Kmeans.train(emb, k, iters = 2),
      minCos, shardAbove)
  }

  /** Within-cell exact-cosine near-dup pairs under an already-trained
    * coarse quantizer — the verify stage of the SemDeDup recipe. With
    * balanced √n-wide cells the pair pass is O(n^1.5) — sub-quadratic
    * at any corpus size, where a FIXED cell count degrades to O(n²/k).
    *
    * The candidate generator is a cell equi-JOIN, never a per-cell
    * collect (pairs stream through the join; no row ever holds a cell),
    * with the triangle shard built in UNIFORMLY: every member carries
    * shard g = xxhash64(vec_id) mod ns (ns = ceil(cell_size /
    * shardAbove), from a broadcast ≤k-row cell census) and replicates
    * into its ns shard-PAIR keys (cell, min(g,j), max(g,j)); the join
    * on those keys emits a cross-shard pair in exactly the one
    * sub-bucket (min(g_a,g_b), max(g_a,g_b)) and a same-shard pair once
    * under the `g1 = g2 = g` guard — exact-once by construction, no
    * dedup-distinct, and no join task ever holds more than ~2·shardAbove
    * members of one cell. Balanced cells have ns = 1: the scheme
    * degenerates to the plain equi-join with zero replication, so the
    * skew guard is free until a cell actually piles up. Exact cosine
    * (6-dp, the embedding_cosine_pairs rounding) verifies every
    * candidate — approximate recall (within-cell by declared
    * semantics), exact precision.
    *
    * Use this for moderate thresholds, where sign-LSH bit-match
    * probabilities are too low to retain recall; use
    * [[embeddingNearDupLsh]] for true near-duplicates (cos >= ~0.9).
    */
  def embeddingNearDupFrom(emb: DataFrame, model: Array[Array[Long]],
      minCos: Double = 0.35,
      shardAbove: Int = DefaultCellShard): DataFrame =
    embeddingNearDupPairsFrom(emb, model, minCos, shardAbove)
      .orderBy(col("id1"), col("id2"))

  /** [[embeddingNearDupFrom]] without the presentation sort — the pair
    * frame consumers aggregate (dedup_semantic's drop set, the
    * threshold curve's per-vector max); a global sort below an
    * aggregate is wasted work.
    */
  def embeddingNearDupPairsFrom(emb: DataFrame, model: Array[Array[Long]],
      minCos: Double = 0.35,
      shardAbove: Int = DefaultCellShard): DataFrame = {
    val c = emb.select(col("vec_id"), col("embedding"),
      graft.functions.SketchExprs.nearestCentroid(
        transform(col("embedding"), x => round(x.cast("double") * 1e6).cast("long")),
        model).getField("cid").as("cell"))
    val ns = c.groupBy(col("cell"))
      .agg(ceil(count(lit(1)).cast("double") / shardAbove).cast("int").as("ns"))
    // persisted: the shard frame feeds BOTH sides of the self-join and
    // each side would otherwise re-run the scan + argmin assignment
    // (the image_neardup lesson); a query-local temporary.
    val sh = c.join(broadcast(ns), "cell")
      .withColumn("g", pmod(xxhash64(col("vec_id")), col("ns")).cast("int"))
      .select(col("cell"), col("g"),
        explode(sequence(lit(0), col("ns") - 1)).as("j"),
        col("vec_id"), col("embedding"))
      .select(col("cell"),
        least(col("g"), col("j")).as("g1"), greatest(col("g"), col("j")).as("g2"),
        col("g"), col("vec_id"), col("embedding"))
    persistOnce(sh)
    val a = sh.select(col("cell"), col("g1"), col("g2"), col("g").as("ga"),
      col("vec_id").as("id1"), col("embedding").as("e1"))
    val b = sh.select(col("cell"), col("g1"), col("g2"), col("g").as("gb"),
      col("vec_id").as("id2"), col("embedding").as("e2"))
    a.join(b, Seq("cell", "g1", "g2"))
      .filter(col("id1") < col("id2"))
      .filter(col("ga") =!= col("gb") ||
        (col("g1") === col("ga") && col("g2") === col("ga")))
      .select(col("id1"), col("id2"),
        round(VectorFns.cosine(col("e1"), col("e2")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** High-threshold near-dup via random-hyperplane LSH: 8 tables x 12
    * planes. At cos >= 0.9 (angle <= 25.8 deg, per-bit match ~0.86) a pair
    * collides in at least one table with ~75% probability; candidates are
    * then exactly cosine-verified (approximate recall, exact precision —
    * the standard ANN trade; a brute-force cross-join is refused at this
    * scale).
    */
  def embeddingNearDupLsh(emb: DataFrame, dim: Int, minCos: Double = 0.9,
      starBucketThreshold: Int = Int.MaxValue): DataFrame = {
    tuneBucketAgg(emb)
    val planes = hyperplanes(dim)
    val tableKeys = (0 until Tables).map { t =>
      struct(lit(t).as("tbl"),
        VectorFns.lshSignature(col("embedding"), planes(t)).as("sig"))
    }
    val candidates = emb
      .select(col("vec_id"), explode(array(tableKeys: _*)).as("tk"))
      .groupBy(col("tk.tbl"), col("tk.sig"))
      .agg(sort_array(collect_set(col("vec_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(pairsOf(col("ids"), starBucketThreshold)).as("p"))
      .select(col("p.id1"), col("p.id2"))
      .distinct()
    cosineVerify(emb, candidates, minCos)
  }
}
