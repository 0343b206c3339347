package graft.queries

import graft.operators.Dedup
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 coverage: the remaining training-data-curation operators
  * (sequence packing, PII redaction, stratified sampling, BM25 ranking,
  * bigram collocations via PMI, n-gram containment) and relational gaps
  * (EXISTS subqueries, interpolated percentiles, struct round-trips,
  * correlated LATERAL top-k).
  *
  * The reference has none of this (it is a 640-LoC MapReduce kernel,
  * `mapreduce.c:41-213`); these generalize its map→shuffle→reduce shape
  * into the operations a 100 TB curation pipeline runs daily. Oracle
  * parity follows the repo conventions: exact integer cents, BIGINT
  * counts, doubles only as a final fixed expression tree with identical
  * IEEE op order on both engines, total ORDER BY.
  */
object Curation {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  private def sql(s: SparkSession, d: String, tables: Seq[String], q: String): DataFrame =
    Shared.sql(s, d, tables, q)

  // --- sequence packing -------------------------------------------------

  /** Fixed-boundary sequence packing: documents (in deterministic doc_id
    * order) are laid end-to-end per source shard and cut into CTX-token
    * bins — the standard pre-tokenization packing pass before LLM
    * training. The window is partitioned by `source`, so at 100 TB each
    * shard packs independently in parallel; there is no global sort.
    * (A doc longer than CTX overflows its bin — boundary packing, not
    * doc splitting.)
    */
  def packSequences(s: SparkSession, d: String, ctx: Long = 2048L): DataFrame = {
    // sequence lengths in the real token currency (learned BPE)
    val t = docs(s, d).select(col("source"), col("doc_id"),
      graft.functions.Bpe.countSubwords(
        col("text"), Quality.bpeMerges(s, d)).as("n_tok"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("bin_id", expr(s"cum_before div $ctx"))
      .groupBy(col("source"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("source"), col("bin_id"))
  }

  /** Global concat-and-chunk: the OTHER standard pretraining layout.
    * [[packSequences]] packs whole docs into per-source bins (boundary
    * packing, parallel by shard); this one lays the WHOLE corpus
    * end-to-end in doc_id order and cuts fixed 4096-char context
    * windows straight through document boundaries (GPT-style chunking —
    * a window may span several docs, a long doc may span several
    * windows). The global character offset is the scale crux: it is an
    * exclusive prefix sum over corpus order, computed distributed by
    * [[graft.operators.PrefixSum]] (range layout + per-partition sums +
    * broadcast offset table — never the single-partition global
    * window). Each doc then explodes to the windows it overlaps
    * (`sequence(off div W, (off+len-1) div W)`) and one hash aggregate
    * profiles every window. Chars stand in for tokens so the oracle is
    * pure integer arithmetic; production runs the same plan on the
    * learned-BPE counts ([[Quality.tokenCountBpe]]'s currency).
    */
  def chunkWindows(s: SparkSession, d: String): DataFrame = {
    val W = 4096L
    val dd = docs(s, d).filter(col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars"))
    graft.operators.PrefixSum.exclusive(dd, Seq(col("doc_id")), col("n_chars"), "off")
      .select(col("doc_id"), col("n_chars"), col("off"),
        explode(sequence(expr(s"off div $W"),
          expr(s"(off + n_chars - 1) div $W"))).as("window_id"))
      .withColumn("chars_in",
        least(col("window_id") * W + W, col("off") + col("n_chars"))
          - greatest(col("window_id") * W, col("off")))
      .groupBy(col("window_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("chars_in")).as("n_chars"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("window_id"))
  }

  /** Sliding-window RAG chunking — [[chunkWindows]] with overlap: the
    * corpus laid end-to-end in doc_id order is cut into W=4096-char
    * windows every S=2048 chars (stride < width, the standard retrieval
    * chunking so no passage is ever split across ALL the chunks that
    * could retrieve it; each char lands in exactly W/S = 2 windows).
    * Same distributed [[graft.operators.PrefixSum]] layout; the only
    * new math is the window-id range a doc overlaps: t from
    * greatest(0, (off − W + S) div S) to (off + n − 1) div S — the
    * truncating-division forms agree between Spark `div` and DuckDB
    * `//` because the clamped lower bound only evaluates truncation on
    * the positive branch. Per-window totals deliberately double-count
    * chars (overlap is the point); n_chars sums to ~W/S × corpus chars.
    */
  def chunkOverlap(s: SparkSession, d: String): DataFrame = {
    val W = 4096L
    val S = 2048L
    val dd = docs(s, d).filter(col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars"))
    graft.operators.PrefixSum.exclusive(dd, Seq(col("doc_id")), col("n_chars"), "off")
      .select(col("doc_id"), col("n_chars"), col("off"),
        explode(sequence(
          greatest(lit(0L), expr(s"(off - $W + $S) div $S")),
          expr(s"(off + n_chars - 1) div $S"))).as("window_id"))
      .withColumn("chars_in",
        least(col("window_id") * S + W, col("off") + col("n_chars"))
          - greatest(col("window_id") * S, col("off")))
      .filter(col("chars_in") > 0)
      .groupBy(col("window_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("chars_in")).as("n_chars"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("window_id"))
  }

  // --- deterministic corpus shuffle -------------------------------------

  /** Seed of the declared training epoch; a new epoch = a new seed. */
  private val ShuffleSeed = 42L

  /** Seed of training epoch `e`: the historical 42 at epoch 0, stepped
    * by a large odd constant per epoch — each epoch is a DIFFERENT
    * deterministic permutation of the same corpus (multi-epoch training
    * must not replay one order, but every run of a given epoch must
    * reproduce it exactly). Plain BIGINT arithmetic both engines share.
    */
  private def epochSeed(epoch: Int): Long = ShuffleSeed + 1000003L * epoch

  /** Seeded deterministic shuffle key — a DOUBLE Lehmer/MINSTD scatter
    * (((doc_id + seed) * 48271 mod 2^31-1) * 48271 mod 2^31-1) chosen
    * over xxhash64 because BOTH engines compute it identically in plain
    * BIGINT arithmetic (the oracle discipline; a Spark-private hash
    * would leave the ORDER unpinnable). TWO steps, not one: a single
    * Lehmer step only re-orders on wraparound, so for small doc_ids it
    * is rank-preserving — the "shuffle" was the identity and a new seed
    * was the SAME permutation (caught round 17 by the epoch-distinctness
    * spec); the first step lands every key deep in the ring, the second
    * wraps. Max intermediate (2^31-2) * 48271 ≈ 1.0e14 — no BIGINT
    * overflow. Collisions across doc_ids are possible (mod 2^31-1), so
    * every consumer totals the order with a doc_id tie-break. Epoch `e`
    * uses [[epochSeed]](e).
    */
  private def shuffleKeyAt(epoch: Int): org.apache.spark.sql.Column =
    ((col("doc_id") + lit(epochSeed(epoch))) * lit(48271L) % lit(2147483647L)) *
      lit(48271L) % lit(2147483647L)

  /** The deterministic corpus shuffle between curation and packing — the
    * standard pretraining step every data-order ablation depends on:
    * reproducible global sequence positions (1-based, contiguous) in
    * seeded-hash order. The global numbering is [[AssignIds.byOrder]]'s
    * distributed rank (range layout + per-partition zipWithIndex), never
    * a single-partition window; a 100 TB corpus shuffles in one range
    * exchange.
    */
  def trainingOrder(s: SparkSession, d: String): DataFrame =
    trainingOrderAt(s, d, 0)

  /** Epoch-parameterized [[trainingOrder]] — the multi-epoch feed:
    * epoch e's order is the [[shuffleKeyAt]] permutation under
    * [[epochSeed]](e). CurationSpec pins that epochs are complete
    * permutations of the same corpus AND provably distinct from each
    * other; the `training_order_epoch2` twin hash-gates epoch 2.
    */
  def trainingOrderAt(s: SparkSession, d: String, epoch: Int): DataFrame = {
    val keyed = docs(s, d).select(col("doc_id"), col("n_chars"))
      .withColumn("shuffle_key", shuffleKeyAt(epoch))
    graft.operators.AssignIds.byOrder(
        keyed, Seq(col("shuffle_key"), col("doc_id")), "seq_id")
      .select(col("seq_id"), col("doc_id"), col("shuffle_key"), col("n_chars"))
      .orderBy(col("seq_id"))
  }

  /** [[chunkWindows]] consuming the SHUFFLED layout — the chunk pass as
    * it actually runs in training (curate → shuffle → pack/chunk): the
    * same distributed PrefixSum cuts 4096-char windows straight through
    * doc boundaries, but corpus order is [[shuffleKeyAt]]'s epoch
    * permutation (single-sourced with [[trainingOrder]], so the declared
    * order and its consumer cannot drift). min/max_doc profile window
    * membership — under a shuffled order there is no "first" doc.
    */
  def trainingChunks(s: SparkSession, d: String): DataFrame =
    trainingChunksAt(s, d, 0)

  /** Epoch-parameterized [[trainingChunks]]: the chunk pass over epoch
    * e's permutation — each epoch cuts DIFFERENT windows through the
    * same corpus (the window contents change because the concatenation
    * order does). `training_chunks_epoch2` hash-gates epoch 2.
    */
  def trainingChunksAt(s: SparkSession, d: String, epoch: Int): DataFrame = {
    val W = 4096L
    val dd = docs(s, d).filter(col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars"))
      .withColumn("sk", shuffleKeyAt(epoch))
    graft.operators.PrefixSum.exclusive(
        dd, Seq(col("sk"), col("doc_id")), col("n_chars"), "off")
      .select(col("doc_id"), col("n_chars"), col("off"),
        explode(sequence(expr(s"off div $W"),
          expr(s"(off + n_chars - 1) div $W"))).as("window_id"))
      .withColumn("chars_in",
        least(col("window_id") * W + W, col("off") + col("n_chars"))
          - greatest(col("window_id") * W, col("off")))
      .groupBy(col("window_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("chars_in")).as("n_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("window_id"))
  }

  // --- PII redaction ----------------------------------------------------

  // private[graft]: CurationSpec audits residual patterns with the SAME
  // regexes (a drifted copy would silently weaken the test)
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  private[graft] val PhoneRe = "[+][0-9]{1,2}-[0-9]{3}-[0-9]{4}"
  private[graft] val NumRe = "[0-9]{5,}"

  /** PII redaction: scrub emails, phone numbers and long numeric ids
    * from text, reporting per-document match counts and the hash of the
    * scrubbed output. The synthetic corpus contains no PII, so each doc
    * is audited against deterministically PLANTED markers (email + phone
    * + numeric id derived from doc_id) appended inside the query — the
    * standard way to test a redactor: known positives, exact expected
    * output. Map-only and codegen'd; scales embarrassingly.
    */
  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val aug = concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or +1-555-"),
      lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
      lit(" ref "), (col("doc_id") + lit(1000000L)).cast("string"))
    val scrubbed = regexp_replace(
      regexp_replace(regexp_replace(col("aug"), EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"),
      NumRe, "<NUM>")
    docs(s, d).select(col("doc_id"), aug.as("aug"))
      .select(col("doc_id"),
        regexp_count(col("aug"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("aug"), lit(PhoneRe)).cast("long").as("n_phones"),
        regexp_count(col("aug"), lit(NumRe)).cast("long").as("n_ids"),
        scrubbed.as("sc"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ids"),
        length(col("sc")).as("n_chars"), sha2(col("sc"), 256).as("sha"))
      .orderBy(col("doc_id"))
  }

  // --- stratified sampling ----------------------------------------------

  /** Stratified corpus sampling with per-language quotas: the dominant
    * language is downsampled (20%), the rest kept at 50%, membership
    * decided by the same deterministic doc_id hash as train_test_split —
    * stable under resharding, no RNG state, no shuffle beyond the final
    * per-stratum count.
    */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val bucket = pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L), lit(100L))
    val rate = when(col("lang") === "en", lit(20L)).otherwise(lit(50L))
    docs(s, d).groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        count(when(bucket < rate, lit(1))).as("n_sampled"))
      .orderBy(col("lang"))
  }

  // --- BM25 ranking -------------------------------------------------------

  /** BM25 relevance of every document for a fixed query term set — the
    * retrieval-quality scorer a curation pipeline runs to mine topical
    * subsets. Both tf and df are exact integers; the only doubles are
    * the final fixed expression tree (k1=1.2, b=0.75), identical on both
    * engines. Term/doc-frequency pass is two hash aggregations; the
    * corpus-level scalars ride a broadcast.
    */
  def bm25(s: SparkSession, d: String): DataFrame = {
    val t = docs(s, d)
      .select(col("doc_id"), Dedup.tokensNE(col("text")).as("ts"))
      .select(col("doc_id"), col("ts"), size(col("ts")).cast("long").as("dl"))
    val stats = t.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
    val terms = s.createDataFrame(Seq(Tuple1("spark"), Tuple1("vector"))).toDF("term")
    val tf = t.crossJoin(broadcast(terms))
      .select(col("doc_id"), col("dl"), col("term"),
        graft.functions.SketchExprs.countEq(col("ts"), col("term")).cast("long").as("tf"))
      .filter(col("tf") > 0)
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("dft"))
    tf.join(broadcast(dfT), "term").crossJoin(broadcast(stats))
      .withColumn("sco",
        log(lit(1.0) + (col("n") - col("dft") + lit(0.5)) / (col("dft") + lit(0.5))) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * (col("dl") / (col("sumdl").cast("double") / col("n"))))))
      .groupBy(col("doc_id")).agg(round(sum(col("sco")), 6).as("bm25"))
      .orderBy(col("doc_id"))
  }

  /** Hybrid retrieval — the lexical and dense rankings fused by
    * reciprocal-rank fusion (Cormack et al. 2009, the standard RAG
    * retrieval shape): [[bm25]]'s term scores rank one list, exact
    * query-vector cosine ranks the other, and each doc's fused score is
    * Σ 1/(60 + rank) over the lists it appears in — kept exact as
    * integer parts-per-billion (`1e9 div (60+rank)`, absent list
    * contributes 0) so the fusion is bit-stable and oracle-matchable.
    *
    * Scale shape: both global rankings ride the distributed
    * [[graft.operators.AssignIds]] numbering (range exchange +
    * per-partition sort — never a single-partition window over a
    * corpus-sized list); the fusion itself is one keyed full-outer
    * join; top-20 is TakeOrdered. At 100 TB the two rank tables are
    * per-query intermediate artifacts of candidate size (the lexical
    * list is already sparse — only docs containing a query term), and
    * the dense side swaps to the IVF-PQ probe without touching the
    * fusion.
    */
  def hybridSearch(s: SparkSession, d: String): DataFrame = {
    val lex = graft.operators.AssignIds.byOrder(bm25(s, d),
        Seq(col("bm25").desc, col("doc_id").asc), "lex_rank")
      .select(col("doc_id"), col("lex_rank"))
    val emb = graft.sources.Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val sims = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        round(graft.functions.VectorFns.cosine(col("embedding"), col("q_emb")), 6)
          .as("sim"))
    val dense = graft.operators.AssignIds.byOrder(sims,
        Seq(col("sim").desc, col("doc_id").asc), "vec_rank")
      .select(col("doc_id"), col("vec_rank"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf_ppb",
        coalesce(expr("1000000000 div (60 + lex_rank)"), lit(0L)) +
          coalesce(expr("1000000000 div (60 + vec_rank)"), lit(0L)))
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"),
        col("rrf_ppb"))
      .orderBy(col("rrf_ppb").desc, col("doc_id"))
      .limit(20)
  }

  // --- bigram collocations (PMI) ------------------------------------------

  /** Bigram collocation mining: pointwise mutual information of adjacent
    * token pairs occurring >= 5 times. Bigrams come from zipping each
    * token list with its own tail (two slices, no self-join); unigram
    * and bigram totals derive from the list lengths, so the whole query
    * is two hash aggregations plus a broadcast of the totals.
    */
  def bigramPmi(s: SparkSession, d: String): DataFrame = {
    val t = docs(s, d).select(Dedup.tokensNE(col("text")).as("ts"))
      .select(col("ts"), size(col("ts")).as("l")).filter(col("l") >= 2)
    val uni = t.select(explode(col("ts")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val bg = t.select(explode(zip_with(
        slice(col("ts"), lit(1), col("l") - 1), slice(col("ts"), lit(2), col("l") - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val big = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= 5)
    val totals = t.agg(sum(col("l")).as("n1t"), sum(col("l") - 1).as("n2t"))
    big.join(broadcast(uni.select(col("w").as("w1"), col("c1").as("ca"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("c1").as("cb"))), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c12"),
        round(log((col("c12") / col("n2t")) /
          ((col("ca") / col("n1t")) * (col("cb") / col("n1t")))), 6).as("pmi"))
      .orderBy(col("w1"), col("w2"))
  }

  // --- n-gram containment ---------------------------------------------------

  /** Asymmetric near-dup detection: shingle-set CONTAINMENT (|A∩B|/|A|),
    * which catches a document embedded inside a larger one — Jaccard
    * misses those because the union is dominated by the big doc. Same
    * bounded-id oracle-able slice and native sorted-merge intersect as
    * ngram_jaccard.
    */
  def ngramContainment(s: SparkSession, d: String): DataFrame = {
    Pipeline.boundedShinglePairs(s, d)
      .withColumn("cont12", round(col("inter").cast("double") / size(col("hs1")), 6))
      .withColumn("cont21", round(col("inter").cast("double") / size(col("hs2")), 6))
      .filter(greatest(col("cont12"), col("cont21")) >= 0.6)
      .select(col("id1"), col("id2"), col("cont12"), col("cont21"))
      .orderBy(col("id1"), col("id2"))
  }

  // --- relational gaps --------------------------------------------------------

  /** EXISTS / NOT EXISTS correlated subqueries (Catalyst rewrites them
    * to semi/anti joins — plan-guarded in ScaleSpec's spirit by the
    * equi-join shape, no per-row subquery execution).
    */
  def existsSubquery(s: SparkSession, d: String): DataFrame =
    sql(s, d, Seq("customer", "orders"),
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)

  /** Interpolated percentiles + median per group (the continuous
    * counterpart of percentile_disc): quarter positions on integral
    * quantities make the linear interpolation IEEE-exact on both
    * engines, so no rounding is needed.
    */
  def percentileCont(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        expr("median(l_quantity)").as("med"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** Struct round-trip: build a struct, take its lexicographic MIN per
    * group (struct ordering = field-by-field), extract the fields back
    * out. The oracle states the same pick as a row_number window — two
    * different operators, one answer.
    */
  def structFuncs(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "orders")
      .select(col("o_orderpriority"),
        struct(round(col("o_totalprice") * 100).cast("long").as("c"),
          col("o_orderkey").as("k")).as("m"))
      .groupBy(col("o_orderpriority"))
      .agg(min(col("m")).as("mn"), count(lit(1)).as("n"))
      .select(col("o_orderpriority"), col("mn.c").as("min_cents"),
        col("mn.k").as("min_okey"), col("n"))
      .orderBy(col("o_orderpriority"))

  /** Correlated LATERAL subquery with ORDER BY + LIMIT: top-2 orders per
    * customer, the SQL-standard spelling of per-group top-k (Catalyst
    * decorrelates it into a ranked window — same engine path as
    * RewriteWindowTopK's input shape, arrived at from SQL).
    *
    * Scale note: Spark's decorrelation emits the subquery ORDER BY as a
    * GLOBAL sort below the window and drops the window's own order spec,
    * so per-key order would rely on the shuffle preserving sorted order —
    * true in local mode, not contractual on a cluster's fetch interleave.
    * RewriteWindowTopK recognizes exactly that shape, recovers the order
    * from the Sort, and plans the heap operator (TopKPerGroupExec) with
    * the order made explicit — deterministic at any scale, and the global
    * range-exchange + sort disappears (plan-guarded in SharedRewriteSpec).
    */
  def lateralTopk(s: SparkSession, d: String): DataFrame = {
    graft.plans.TopKPerGroup.ensureRule(s)
    sql(s, d, Seq("customer", "orders"),
      """SELECT c.c_custkey, t.okey, t.cents
        |FROM customer c,
        |LATERAL (SELECT o_orderkey AS okey,
        |                CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |         FROM orders
        |         WHERE o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c_custkey, cents DESC, okey""".stripMargin)
  }

  /** Second string battery: translate/split_part/left/right/repeat/
    * instr/startswith/endswith (everything DuckDB also has — initcap,
    * soundex, next_day have no DuckDB twin and stay spec-only territory).
    */
  def stringFuncs2(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "part").selectExpr(
      "p_partkey",
      "translate(p_name, 'ae', '43') AS tr",
      "split_part(p_type, ' ', 2) AS typ2",
      "left(p_name, 5) AS l5",
      "right(p_name, 4) AS r4",
      "repeat(p_brand, 2) AS rep",
      "CAST(instr(p_name, 'a') AS BIGINT) AS ia",
      "startswith(p_type, 'S') AS sw",
      "endswith(p_name, 'e') AS ew")
      .orderBy(col("p_partkey"))

  /** Second array battery: set ops (sorted for cross-engine order
    * independence), flatten, sequence, overlap, position, max. The
    * greatest(...,1) floor keeps `sequence` ascending for empty token
    * lists (Spark's sequence(1,0) would run DESCENDING to [1,0] while
    * DuckDB's range(1,1) is empty). Array-typed results are serialized
    * to ','-joined strings — the repo's driver-sortable-output
    * convention (the harness row-sorts in pandas, where array cells are
    * unhashable; see inverted_index).
    */
  def arrayFuncs2(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), Dedup.tokensNE(col("text")).as("ts"))
      .select(col("doc_id"),
        Shared.csv(expr("array_sort(array_intersect(ts, array('spark','data','merge')))")).as("inter"),
        Shared.csv(expr("array_sort(array_except(ts, array('spark','data','merge')))")).as("exc"),
        Shared.csv(expr("flatten(array(slice(ts, 1, 2), slice(ts, 3, 2)))")).as("fl"),
        Shared.csv(expr("sequence(CAST(1 AS BIGINT), CAST(greatest(least(size(ts), 5), 1) AS BIGINT))")).as("seq"),
        expr("arrays_overlap(ts, array('spark','data','merge'))").as("ov"),
        expr("array_position(ts, 'data')").as("pos"),
        expr("array_max(ts)").as("mx"))
      .orderBy(col("doc_id"))

  /** Second date battery: last_day / add_months (both engines clamp to
    * month end), ISO week, day-of-year, make_date — dates exported as
    * epoch days (the repo's date-parity convention).
    */
  def dateFuncs2(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "orders").select(col("o_orderkey"),
      datediff(last_day(col("o_orderdate").cast("date")), lit("1970-01-01"))
        .cast("long").as("ld_days"),
      datediff(add_months(col("o_orderdate").cast("date"), 2), lit("1970-01-01"))
        .cast("long").as("m2_days"),
      weekofyear(col("o_orderdate").cast("date")).as("woy"),
      dayofyear(col("o_orderdate").cast("date")).as("doy"),
      datediff(make_date(lit(2024), month(col("o_orderdate")), lit(1)), lit("1970-01-01"))
        .cast("long").as("md_days"))
      .orderBy(col("o_orderkey"))

  /** Modern SQL-surface sugar both engines grew: GROUP BY ALL (group by
    * every non-aggregate select item) + ORDER BY ALL (total order over
    * the whole select list) — one shared query text, zero dialect
    * translation.
    */
  def groupByAll(s: SparkSession, d: String): DataFrame =
    sql(s, d, Seq("lineitem"),
      """SELECT l_returnflag, l_linestatus,
        |  count(*) AS n,
        |  sum(CAST(l_quantity AS BIGINT)) AS qty
        |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin)

  // --- registration ---------------------------------------------------------

  /** Data-mixing budget allocation by the largest-remainder method:
    * split a global token budget across sources proportionally to their
    * token counts, exactly — floor quotas first, then the leftover
    * slots to the largest fractional remainders (rank ties by source).
    * All integer arithmetic (quota = B·n div N, remainder = B·n mod N),
    * so the allocation is exact, reproducible, and sums to the budget
    * by construction. The rank runs over one row per SOURCE — a
    * dimension-sized window, not a data-sized one.
    */
  def tokenAllocation(s: SparkSession, d: String, budget: Long = 100000L): DataFrame = {
    // budgets are charged in the REAL token currency: learned-BPE
    // subword counts (Quality.bpeMerges), not whitespace tokens
    val t = docs(s, d)
      .select(col("source"), graft.functions.Bpe.countSubwords(
        col("text"), Quality.bpeMerges(s, d)).as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("n_tok"))
    val tot = t.agg(sum(col("n_tok")).as("total"))
    val q = t.crossJoin(broadcast(tot))
      .withColumn("quota", expr(s"($budget * n_tok) div total"))
      .withColumn("rem", expr(s"($budget * n_tok) % total"))
    val wAll = Window.partitionBy(lit(1))
    val wRank = Window.orderBy(col("rem").desc, col("source"))
    q.withColumn("slots_left", lit(budget) - sum(col("quota")).over(wAll))
      .withColumn("rn", row_number().over(wRank))
      .select(col("source"), col("n_tok"),
        (col("quota") + when(col("rn") <= col("slots_left"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy(col("source"))
  }

  /** Weighted sampling without replacement (Efraimidis–Spiridakis A-ES):
    * top-20 documents by the key ln(u)/w — equivalent in order to
    * u^(1/w), so inclusion probability is proportional to the weight
    * (n_chars here) — with u derived from the SAME deterministic doc_id
    * hash arithmetic as train_test_split (portable integer ops, no
    * engine RNG). One map pass + a global top-k; reshard-stable,
    * rerun-stable, and mergeable (union the per-shard top-20s, take the
    * top-20 again — the property that makes A-ES the distributed
    * weighted-reservoir algorithm).
    */
  // private[graft]: the mergeability spec derives per-shard top-ks from
  // the SAME key expression it audits (a drifted copy would silently
  // weaken the test — the repo-wide single-source convention)
  private[graft] def aesKey: org.apache.spark.sql.Column = {
    val u = ((pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L),
      lit(1000000007L))) + lit(1L)).cast("double") / lit(1000000008.0)
    round(log(u) / col("n_chars"), 9)
  }

  def weightedSample(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), col("n_chars"), aesKey.as("key"))
      .orderBy(col("key").desc, col("doc_id"))
      .limit(20)

  /** Deterministic span corruption (the T5/denoising-objective data
    * transform): token position i of doc D is masked iff
    * (D + i) % 7 == 0 — a pure-arithmetic rule, so the corruption is
    * reproducible across engines, runs, and partitionings (a seeded
    * RNG would be none of those). Consecutive masked positions form
    * the corrupted spans. Map-only: one indexed transform over each
    * doc's token array; the masked text is re-joined with single
    * spaces (the corpus delimiter). Spark's transform index is
    * 0-based; the DuckDB twin drives a 1-based range with i-1 —
    * pinned by the oracle hash.
    */
  def spanMasking(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), Dedup.tokensNE(col("text")).as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_tok"),
        expr("""transform(ts, (t, i) ->
                 CASE WHEN (doc_id + i) % 7 = 0 THEN '<mask>' ELSE t END)""")
          .as("ms"))
      .select(col("doc_id"), col("n_tok"),
        size(filter(col("ms"), t => t === "<mask>")).cast("long").as("n_masked"),
        concat_ws(" ", col("ms")).as("masked_text"))
      .orderBy(col("doc_id"))

  /** Temperature-scaled source-mixture weights (the multilingual/multi-
    * source sampling rule of mT5/XLM-R: w_s ∝ p_s^α with α = 0.7, so
    * low-resource sources are upsampled relative to their raw share).
    * One hash aggregate for the per-source token counts, then the whole
    * α-power normalization runs on ONE bounded row: the per-source
    * shares collect into a source-sorted struct array (bounded by the
    * number of sources — dimension scale at any corpus size) and the
    * normalizer is a sequential left fold over that sorted array, so
    * the double sum has ONE fixed evaluation order on any partitioning
    * (the zipf_fit single-final-double-tree posture). Published in
    * integer ppb; DuckDB re-runs the identical fold via list_reduce.
    */
  def mixtureTemperature(s: SparkSession, d: String): DataFrame = {
    val ts = docs(s, d)
      .select(col("source"), size(Dedup.tokensNE(col("text"))).cast("long").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
    ts.agg(
        sort_array(collect_list(struct(col("source"), col("n_tokens")))).as("arr"),
        sum(col("n_tokens")).as("tot"))
      .withColumn("nums", transform(col("arr"), e =>
        pow(e.getField("n_tokens").cast("double") / col("tot"), lit(0.7))))
      .withColumn("den", aggregate(col("nums"), lit(0.0), (a, x) => a + x))
      .select(explode(arrays_zip(col("arr"), col("nums"))).as("z"),
        col("tot"), col("den"))
      .select(col("z.arr.source").as("source"),
        col("z.arr.n_tokens").as("n_tokens"),
        round(lit(1e9) * col("z.arr.n_tokens") / col("tot")).cast("long")
          .as("share_ppb"),
        round(lit(1e9) * col("z.nums") / col("den")).cast("long")
          .as("weight_ppb"))
      .orderBy(col("source"))
  }

  /** Power-of-2 token-length histogram — the batching/bucketing report a
    * training feed publishes before length-bucketed batch assembly
    * (sequence packing efficiency is driven by this distribution).
    * Bucket = floor(log2(n_tokens)) computed EXACTLY as the bit width of
    * the integer count (length of the base-2 rendering minus one) — both
    * engines render binary identically, where a double log2 can land on
    * either side of an exact power. Zero-token docs take bucket -1 with
    * a [0,0] range. One map-side-combinable aggregate over a map-only
    * projection.
    */
  def lengthBuckets(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(size(Dedup.tokensNE(col("text"))).cast("long").as("nt"))
      .select(col("nt"),
        when(col("nt") === 0, lit(-1L))
          .otherwise((length(bin(col("nt"))) - 1).cast("long")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .select(col("bucket"),
        when(col("bucket") < 0, lit(0L))
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT))"))
          .as("lo"),
        when(col("bucket") < 0, lit(0L))
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT) + 1) - 1"))
          .as("hi"),
        col("n_docs"), col("n_tokens"))
      .orderBy(col("bucket"))

  /** Prefix-cache hit-rate estimate — the serving-cost report behind
    * prompt/KV-prefix caching (a request whose leading tokens match an
    * already-computed prefix reuses that KV state; the hit rate is the
    * fraction of requests served from cache if each DISTINCT 32-token
    * prefix is computed once): documents grouped by their exact
    * 32-token prefix, cache_hits = Σ(group size − 1), hit_bp over all
    * docs, plus the duplicate-prefix census. One hash aggregate on the
    * prefix key + a bounded fold; exact integers. High hit rates here
    * are the same planted-duplicate signal the dedup family measures —
    * seen from the inference-cost side.
    */
  def prefixCacheHits(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(concat_ws(" ",
        slice(Dedup.tokensNE(col("text")), 1, 32)).as("prefix"))
      .groupBy(col("prefix")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_prefixes"),
        coalesce(sum(when(col("n") > 1, col("n"))), lit(0L)).as("n_shared_docs"),
        coalesce(sum(when(col("n") > 1, col("n") - 1)), lit(0L)).as("cache_hits"))
      .select(col("n_docs"), col("n_prefixes"), col("n_shared_docs"),
        col("cache_hits"),
        expr("10000 * cache_hits div n_docs").as("hit_bp"))

  /** NDCG@10 of the HYBRID (RRF-fused) ranking against lexically
    * graded relevance (Järvelin & Kekäläinen 2002) — the retrieval-
    * quality number that turns the repo's ranking stack into an
    * EVALUATED stack, and a genuinely informative one: relevance is
    * graded by capped query-term frequency (rel = min(Σtf, 4), both
    * engines recompute it from the raw text), so the pure-lexical
    * ranking would score ~1 by construction and what the metric
    * exposes is exactly what the dense RRF leg trades away (~8979 bp
    * at sf0.01 — the cost of fusing a semantically-blind synthetic
    * embedding into a lexical query). DCG@10 reads [[hybridSearch]]'s
    * fused top-10, IDCG@10 reads the corpus-ideal top-10; discount
    * terms are rounded ONCE per rank to nano (10 bounded terms,
    * identical `1e9·g·ln(2)/ln(rank+1)` spelling in both engines —
    * the oracle reads the hybrid_search dump, single-sourcing the
    * fusion), sums are exact integers. Scale shape: the ideal top-10
    * is distributed TakeOrdered (never a corpus-wide window); the
    * rank-assigning row_number windows run on 10-row results.
    */
  def retrievalNdcg(s: SparkSession, d: String): DataFrame = {
    val gain = expr("CAST(round(1e9 * (shiftleft(CAST(1 AS BIGINT)," +
      " CAST(rel AS INT)) - 1) * ln(2) / ln(rank + 1)) AS BIGINT)")
    val rel = docs(s, d)
      .select(col("doc_id"), Dedup.tokensNE(col("text")).as("ts"))
      .select(col("doc_id"),
        least(graft.functions.SketchExprs.countEq(col("ts"), lit("spark"))
          + graft.functions.SketchExprs.countEq(col("ts"), lit("vector")),
          lit(4L)).cast("long").as("rel"))
    val top = hybridSearch(s, d)
      .orderBy(col("rrf_ppb").desc, col("doc_id")).limit(10)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("rrf_ppb").desc, col("doc_id")))) // bounded: 10 rows
      .join(rel, "doc_id")
    val dcg = top.select(gain.as("g")).agg(sum(col("g")).as("dcg_nano"))
    val idcg = rel.orderBy(col("rel").desc, col("doc_id")).limit(10)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("rel").desc, col("doc_id")))) // bounded: 10 rows
      .select(gain.as("g")).agg(sum(col("g")).as("idcg_nano"))
    dcg.crossJoin(broadcast(idcg))
      .select(lit(10L).as("k"), col("dcg_nano"), col("idcg_nano"),
        expr("10000 * dcg_nano div idcg_nano").as("ndcg_bp"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling" — the data-selection
    * rule behind most curated pre-training mixes): score every raw
    * document by how target-like its hashed n-gram bag is,
    * log p_T(doc) − log p_R(doc) under bag-of-hashed-unigram models
    * fit on the target slice (lang = 'en' here — the distribution to
    * match) and on the raw corpus. Resampling by these weights IS the
    * selection step; this query publishes the weights themselves (the
    * artifact a pipeline materializes so multiple budgets can resample
    * without refitting). Scale shape: the model fit is one
    * map-side-combinable bucket aggregate (64 hashed buckets — the
    * hashed_features space), the model is DIMENSION-sized and
    * broadcast, and scoring is one map-only join + per-doc integer
    * sum — two shuffles at any corpus size. Parity discipline:
    * add-1-smoothed log-ratios are ONE ln of an exact BIGINT-product
    * ratio, rounded ONCE per bucket to nano-nats (the token_kl_drift
    * convention), so per-doc weights are exact integer sums —
    * partitioning-invariant and DuckDB-identical.
    */
  def dsirWeights(s: SparkSession, d: String): DataFrame = {
    // r18 persisted: the feature cube feeds the model aggregate AND
    // the scoring probe — without storage the corpus token explode +
    // hash ran once per consumer (three evaluations)
    val tf = graft.MaterializedCaches.persistOnce(docs(s, d)
      .select(col("doc_id"), col("lang"),
        explode(Dedup.tokensNE(col("text"))).as("t"))
      .select(col("doc_id"), col("lang"),
        (graft.functions.TextFns.tokenHash31(col("t")) % 64).cast("int")
          .as("bucket"))
      .groupBy(col("doc_id"), col("lang"), col("bucket"))
      .agg(count(lit(1)).as("tf")))
    // r18: raw and target counts fold in ONE pass over the cube (a
    // conditional sum replaces the second aggregate + left join; a
    // bucket with no target rows sums the empty branch to 0, exactly
    // the old join's fill)
    val model = tf.groupBy(col("bucket"))
      .agg(sum(col("tf")).as("c_r"),
        sum(when(col("lang") === "en", col("tf")).otherwise(0L)).as("c_t"))
    val totals = model.agg(sum(col("c_r")).as("n_r"), sum(col("c_t")).as("n_t"))
    val lr = model.crossJoin(broadcast(totals))
      .select(col("bucket"),
        expr("CAST(round(1e9 * ln(CAST((c_t + 1) * (n_r + 64) AS DOUBLE)" +
          " / CAST((c_r + 1) * (n_t + 64) AS DOUBLE))) AS BIGINT)")
          .as("lr_nano"))
    tf.join(broadcast(lr), Seq("bucket"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("tf")).as("n_tok"),
        sum(col("tf") * col("lr_nano")).as("w_nano"))
      .orderBy(col("doc_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dsir_weights" -> dsirWeights,
    "retrieval_ndcg" -> retrievalNdcg,
    "prefix_cache_hits" -> prefixCacheHits,
    "mixture_temperature" -> mixtureTemperature,
    "length_buckets" -> lengthBuckets,
    "span_masking" -> spanMasking,
    "weighted_sample" -> weightedSample,
    "token_allocation" -> ((s, d) => tokenAllocation(s, d)),
    "pack_sequences" -> ((s, d) => packSequences(s, d)),
    "chunk_windows" -> chunkWindows,
    "chunk_overlap" -> chunkOverlap,
    "training_order" -> trainingOrder,
    "training_order_epoch2" -> ((s, d) => trainingOrderAt(s, d, 2)),
    "training_chunks" -> trainingChunks,
    "training_chunks_epoch2" -> ((s, d) => trainingChunksAt(s, d, 2)),
    "pii_scrub" -> piiScrub,
    "stratified_sample" -> stratifiedSample,
    "bm25" -> bm25,
    "hybrid_search" -> hybridSearch,
    "bigram_pmi" -> bigramPmi,
    "ngram_containment" -> ngramContainment,
    "exists_subquery" -> existsSubquery,
    "percentile_cont" -> percentileCont,
    "struct_funcs" -> structFuncs,
    "lateral_topk" -> lateralTopk,
    "string_funcs2" -> stringFuncs2,
    "array_funcs2" -> arrayFuncs2,
    "date_funcs2" -> dateFuncs2,
    "group_by_all" -> groupByAll,
  )

  // parity-critical DuckDB fragments (ToksNE single-sourced in Shared)
  private val ToksNE = Shared.ToksNE

  /** The BM25 scoring chain through the per-doc summed score (`bms`) —
    * single-sourced so the `bm25` and `hybrid_search` oracles can never
    * drift (a def: the oracleSql map initializes first).
    */
  private def Bm25Cte: String =
    s"""d AS (SELECT doc_id, ts, len(ts)::BIGINT AS dl
       |     FROM (SELECT doc_id, $ToksNE AS ts FROM documents)),
       |st AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sumdl FROM d),
       |q AS (SELECT unnest(['spark', 'vector']) AS term),
       |tf AS (SELECT doc_id, dl, term,
       |         len(list_filter(ts, x -> x = term))::BIGINT AS tf
       |       FROM d, q),
       |tfp AS (SELECT * FROM tf WHERE tf > 0),
       |dft AS (SELECT term, count(*)::BIGINT AS dft FROM tfp GROUP BY term),
       |sc AS (SELECT doc_id,
       |         ln(1.0 + (n - dft + 0.5) / (dft + 0.5)) * (tf * 2.2)
       |           / (tf + 1.2 * (0.25 + 0.75 * (dl / (sumdl::DOUBLE / n)))) AS sco
       |       FROM tfp JOIN dft USING (term) CROSS JOIN st),
       |bms AS (SELECT doc_id, round(sum(sco), 6) AS bm25
       |        FROM sc GROUP BY doc_id)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "prefix_cache_hits" ->
      s"""WITH p AS (SELECT coalesce(array_to_string(($ToksNE)[1:32], ' '), '')
         |             AS prefix
         |           FROM documents),
         |g AS (SELECT prefix, count(*)::BIGINT AS n FROM p GROUP BY 1),
         |a AS (SELECT sum(n)::BIGINT AS n_docs, count(*)::BIGINT AS n_prefixes,
         |    coalesce(sum(CASE WHEN n > 1 THEN n END), 0)::BIGINT AS n_shared_docs,
         |    coalesce(sum(CASE WHEN n > 1 THEN n - 1 END), 0)::BIGINT AS cache_hits
         |  FROM g)
         |SELECT n_docs, n_prefixes, n_shared_docs, cache_hits,
         |  (10000 * cache_hits // n_docs)::BIGINT AS hit_bp FROM a""".stripMargin,
    // reads this run's own hybrid_search dump ({OUT} substitution, the
    // ivf_recall pattern) so the fused ranking is single-sourced
    "retrieval_ndcg" ->
      s"""WITH tf AS (SELECT doc_id, term,
         |    len(list_filter(ts, x -> x = term))::BIGINT AS tf
         |  FROM (SELECT doc_id, $ToksNE AS ts FROM documents),
         |       (SELECT unnest(['spark', 'vector']) AS term)),
         |rel AS (SELECT doc_id, least(sum(tf), 4)::BIGINT AS rel
         |        FROM tf GROUP BY doc_id),
         |top AS (SELECT doc_id, rrf_ppb
         |        FROM read_parquet('{OUT}/hybrid_search/*.parquet')
         |        ORDER BY rrf_ppb DESC, doc_id LIMIT 10),
         |rk AS (SELECT rel, row_number() OVER (ORDER BY rrf_ppb DESC, doc_id) AS rank
         |       FROM top JOIN rel USING (doc_id)),
         |dcg AS (SELECT sum(CAST(round(1e9 * ((1::BIGINT << rel::INT) - 1)
         |    * ln(2) / ln(rank + 1)) AS BIGINT))::BIGINT AS dcg_nano FROM rk),
         |irk AS (SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS rank
         |        FROM rel ORDER BY rel DESC, doc_id LIMIT 10),
         |idcg AS (SELECT sum(CAST(round(1e9 * ((1::BIGINT << rel::INT) - 1)
         |    * ln(2) / ln(rank + 1)) AS BIGINT))::BIGINT AS idcg_nano FROM irk)
         |SELECT 10::BIGINT AS k, dcg_nano, idcg_nano,
         |  (10000 * dcg_nano // idcg_nano)::BIGINT AS ndcg_bp
         |FROM dcg, idcg""".stripMargin,
    "dsir_weights" ->
      s"""WITH t AS (SELECT doc_id, lang, unnest($ToksNE) AS tok FROM documents),
         |h AS (SELECT doc_id, lang,
         |    (list_reduce(list_prepend(5381::BIGINT,
         |       list_transform(string_split(tok, ''), c -> ord(c)::BIGINT)),
         |       (a, b) -> (a * 33 + b) % 2147483648) % 64)::INT AS bucket
         |  FROM t),
         |tf AS (SELECT doc_id, lang, bucket, count(*)::BIGINT AS tf
         |       FROM h GROUP BY 1, 2, 3),
         |cr AS (SELECT bucket, sum(tf)::BIGINT AS c_r FROM tf GROUP BY 1),
         |ct AS (SELECT bucket, sum(tf)::BIGINT AS c_t FROM tf
         |       WHERE lang = 'en' GROUP BY 1),
         |m AS (SELECT cr.bucket, c_r, coalesce(c_t, 0)::BIGINT AS c_t
         |      FROM cr LEFT JOIN ct USING (bucket)),
         |tot AS (SELECT sum(c_r)::BIGINT AS n_r, sum(c_t)::BIGINT AS n_t FROM m),
         |lr AS (SELECT bucket,
         |    CAST(round(1e9 * ln(((c_t + 1) * (n_r + 64))::DOUBLE
         |      / ((c_r + 1) * (n_t + 64))::DOUBLE)) AS BIGINT) AS lr_nano
         |  FROM m CROSS JOIN tot)
         |SELECT tf.doc_id, tf.lang, sum(tf)::BIGINT AS n_tok,
         |  sum(tf * lr_nano)::BIGINT AS w_nano
         |FROM tf JOIN lr USING (bucket) GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    "mixture_temperature" ->
      s"""WITH ts AS (SELECT source, sum(len($ToksNE))::BIGINT AS n_tokens
         |            FROM documents GROUP BY 1),
         |p AS (SELECT list(struct_pack(source := source, n := n_tokens)
         |               ORDER BY source) AS arr,
         |             sum(n_tokens)::BIGINT AS tot FROM ts),
         |n AS (SELECT arr, tot,
         |        list_transform(arr, e -> pow(e.n::DOUBLE / tot, 0.7)) AS nums
         |      FROM p),
         |dn AS (SELECT arr, tot, nums,
         |         list_reduce(nums, (a, b) -> a + b) AS den FROM n),
         |u AS (SELECT unnest(arr) AS e, unnest(nums) AS num, tot, den FROM dn)
         |SELECT e.source AS source, e.n AS n_tokens,
         |  CAST(round(1e9 * e.n / tot) AS BIGINT) AS share_ppb,
         |  CAST(round(1e9 * num / den) AS BIGINT) AS weight_ppb
         |FROM u ORDER BY source""".stripMargin,
    "length_buckets" ->
      s"""WITH t AS (SELECT len($ToksNE)::BIGINT AS nt FROM documents),
         |b AS (SELECT nt, CASE WHEN nt = 0 THEN -1
         |                      ELSE length(bin(nt)) - 1 END::BIGINT AS bucket
         |      FROM t)
         |SELECT bucket,
         |  (CASE WHEN bucket < 0 THEN 0 ELSE 1::BIGINT << bucket END)::BIGINT AS lo,
         |  (CASE WHEN bucket < 0 THEN 0
         |        ELSE (1::BIGINT << (bucket + 1)) - 1 END)::BIGINT AS hi,
         |  count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS n_tokens
         |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin,
    "span_masking" ->
      s"""WITH t AS (SELECT doc_id, ${Shared.ToksNE} AS ts FROM documents),
         |m AS (SELECT doc_id, len(ts)::BIGINT AS n_tok,
         |        list_transform(range(1, len(ts) + 1),
         |          i -> CASE WHEN (doc_id + i - 1) % 7 = 0
         |               THEN '<mask>' ELSE ts[i] END) AS ms
         |      FROM t)
         |SELECT doc_id, n_tok,
         |  len(list_filter(ms, x -> x = '<mask>'))::BIGINT AS n_masked,
         |  coalesce(array_to_string(ms, ' '), '') AS masked_text
         |FROM m ORDER BY doc_id""".stripMargin,
    "weighted_sample" ->
      """WITH x AS (SELECT doc_id, n_chars,
        |    ((((doc_id % 2147483647) * 2654435761) % 1000000007) + 1)::DOUBLE
        |      / 1000000008 AS u
        |  FROM documents)
        |SELECT doc_id, n_chars, round(ln(u) / n_chars, 9) AS key
        |FROM x ORDER BY key DESC, doc_id LIMIT 20""".stripMargin,
    "token_allocation" ->
      s"""WITH ${Shared.BpeDocTokCte},
         |t AS (SELECT source, sum(n_tok)::BIGINT AS n_tok
         |           FROM bpe_n GROUP BY 1),
         |tot AS (SELECT sum(n_tok)::BIGINT AS total FROM t),
         |q AS (SELECT source, n_tok,
         |        (100000 * n_tok) // total AS quota,
         |        (100000 * n_tok) % total AS rem
         |      FROM t CROSS JOIN tot),
         |r AS (SELECT *, 100000 - sum(quota) OVER () AS slots_left,
         |        row_number() OVER (ORDER BY rem DESC, source) AS rn
         |      FROM q)
         |SELECT source, n_tok,
         |  (quota + CASE WHEN rn <= slots_left THEN 1 ELSE 0 END)::BIGINT AS alloc
         |FROM r ORDER BY source""".stripMargin,
    "pack_sequences" ->
      s"""WITH ${Shared.BpeDocTokCte},
         |t AS (SELECT source, doc_id, n_tok FROM bpe_n),
         |b AS (SELECT source, doc_id, n_tok,
         |        coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |      FROM t)
         |SELECT source, (cum_before // 2048)::BIGINT AS bin_id,
         |  count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens
         |FROM b GROUP BY 1, 2 ORDER BY source, bin_id""".stripMargin,
    "chunk_windows" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    coalesce(sum(n_chars) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
        |  FROM documents WHERE n_chars > 0),
        |e AS (
        |  SELECT doc_id, n_chars, off,
        |    unnest(generate_series(off // 4096, (off + n_chars - 1) // 4096))::BIGINT AS window_id
        |  FROM d)
        |SELECT window_id, count(*)::BIGINT AS n_docs,
        |  sum(least(window_id * 4096 + 4096, off + n_chars)
        |      - greatest(window_id * 4096, off))::BIGINT AS n_chars,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM e GROUP BY window_id ORDER BY window_id""".stripMargin,
    "chunk_overlap" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    coalesce(sum(n_chars) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
        |  FROM documents WHERE n_chars > 0),
        |e AS (
        |  SELECT doc_id, n_chars, off,
        |    unnest(generate_series(greatest(0, (off - 4096 + 2048) // 2048),
        |      (off + n_chars - 1) // 2048))::BIGINT AS window_id
        |  FROM d),
        |f AS (
        |  SELECT doc_id, window_id,
        |    least(window_id * 2048 + 4096, off + n_chars)
        |      - greatest(window_id * 2048, off) AS chars_in
        |  FROM e)
        |SELECT window_id, count(*)::BIGINT AS n_docs,
        |  sum(chars_in)::BIGINT AS n_chars,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM f WHERE chars_in > 0 GROUP BY window_id ORDER BY window_id""".stripMargin,
    "training_order" ->
      """WITH k AS (SELECT doc_id, n_chars,
        |    (((doc_id + 42) * 48271) % 2147483647) * 48271 % 2147483647
        |      AS shuffle_key
        |  FROM documents)
        |SELECT row_number() OVER (ORDER BY shuffle_key, doc_id)::BIGINT AS seq_id,
        |  doc_id, shuffle_key::BIGINT AS shuffle_key, n_chars
        |FROM k ORDER BY seq_id""".stripMargin,
    // epoch 2 seed = 42 + 2 * 1000003 (see epochSeed)
    "training_order_epoch2" ->
      """WITH k AS (SELECT doc_id, n_chars,
        |    (((doc_id + 2000048) * 48271) % 2147483647) * 48271 % 2147483647
        |      AS shuffle_key
        |  FROM documents)
        |SELECT row_number() OVER (ORDER BY shuffle_key, doc_id)::BIGINT AS seq_id,
        |  doc_id, shuffle_key::BIGINT AS shuffle_key, n_chars
        |FROM k ORDER BY seq_id""".stripMargin,
    "training_chunks_epoch2" ->
      """WITH k AS (SELECT doc_id, n_chars,
        |    (((doc_id + 2000048) * 48271) % 2147483647) * 48271 % 2147483647
        |      AS sk
        |  FROM documents WHERE n_chars > 0),
        |d AS (SELECT doc_id, n_chars,
        |    coalesce(sum(n_chars) OVER (ORDER BY sk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
        |  FROM k),
        |e AS (SELECT doc_id, n_chars, off,
        |    unnest(generate_series(off // 4096, (off + n_chars - 1) // 4096))::BIGINT AS window_id
        |  FROM d)
        |SELECT window_id, count(*)::BIGINT AS n_docs,
        |  sum(least(window_id * 4096 + 4096, off + n_chars)
        |      - greatest(window_id * 4096, off))::BIGINT AS n_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM e GROUP BY window_id ORDER BY window_id""".stripMargin,
    "training_chunks" ->
      """WITH k AS (SELECT doc_id, n_chars,
        |    (((doc_id + 42) * 48271) % 2147483647) * 48271 % 2147483647 AS sk
        |  FROM documents WHERE n_chars > 0),
        |d AS (SELECT doc_id, n_chars,
        |    coalesce(sum(n_chars) OVER (ORDER BY sk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
        |  FROM k),
        |e AS (SELECT doc_id, n_chars, off,
        |    unnest(generate_series(off // 4096, (off + n_chars - 1) // 4096))::BIGINT AS window_id
        |  FROM d)
        |SELECT window_id, count(*)::BIGINT AS n_docs,
        |  sum(least(window_id * 4096 + 4096, off + n_chars)
        |      - greatest(window_id * 4096, off))::BIGINT AS n_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM e GROUP BY window_id ORDER BY window_id""".stripMargin,
    "pii_scrub" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id::VARCHAR || '@mail.example.com or +1-555-'
        |      || lpad((doc_id % 10000)::VARCHAR, 4, '0')
        |      || ' ref ' || (doc_id + 1000000)::VARCHAR AS aug
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}'))::BIGINT AS n_emails,
        |    len(regexp_extract_all(aug, '[+][0-9]{1,2}-[0-9]{3}-[0-9]{4}'))::BIGINT AS n_phones,
        |    len(regexp_extract_all(aug, '[0-9]{5,}'))::BIGINT AS n_ids,
        |    regexp_replace(regexp_replace(regexp_replace(aug,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '[+][0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |      '[0-9]{5,}', '<NUM>', 'g') AS sc
        |  FROM a)
        |SELECT doc_id, n_emails, n_phones, n_ids,
        |  length(sc)::INT AS n_chars, sha256(sc) AS sha
        |FROM s ORDER BY doc_id""".stripMargin,
    "stratified_sample" ->
      """SELECT lang, count(*)::BIGINT AS n_total,
        |  count(*) FILTER (WHERE ((doc_id % 2147483647) * 2654435761) % 100
        |    < CASE WHEN lang = 'en' THEN 20 ELSE 50 END)::BIGINT AS n_sampled
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "bm25" ->
      s"""WITH $Bm25Cte
         |SELECT doc_id, bm25 FROM bms ORDER BY doc_id""".stripMargin,
    "hybrid_search" ->
      s"""WITH $Bm25Cte,
         |lex AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank FROM bms),
         |qe AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
         |sims AS (SELECT e.vec_id AS doc_id,
         |    round(list_reduce(list_transform(range(1,65), i -> e.embedding[i]::DOUBLE * qe.q_emb[i]::DOUBLE), (a,b) -> a+b)
         |      / (sqrt(list_reduce(list_transform(range(1,65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE), (a,b) -> a+b))
         |         * sqrt(list_reduce(list_transform(range(1,65), i -> qe.q_emb[i]::DOUBLE * qe.q_emb[i]::DOUBLE), (a,b) -> a+b))), 6) AS sim
         |  FROM embeddings e, qe WHERE e.vec_id <> 0),
         |dense AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY sim DESC, doc_id) AS vec_rank FROM sims),
         |f AS (SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         |        coalesce(l.lex_rank, 0)::BIGINT AS lex_rank,
         |        coalesce(v.vec_rank, 0)::BIGINT AS vec_rank,
         |        (coalesce(1000000000 // (60 + l.lex_rank), 0)
         |         + coalesce(1000000000 // (60 + v.vec_rank), 0))::BIGINT AS rrf_ppb
         |      FROM lex l FULL OUTER JOIN dense v ON l.doc_id = v.doc_id)
         |SELECT doc_id, lex_rank, vec_rank, rrf_ppb
         |FROM f ORDER BY rrf_ppb DESC, doc_id LIMIT 20""".stripMargin,
    "bigram_pmi" ->
      s"""WITH d AS (SELECT ts, len(ts) AS l
         |           FROM (SELECT $ToksNE AS ts FROM documents) WHERE len(ts) >= 2),
         |u AS (SELECT w, count(*)::BIGINT AS c1
         |      FROM (SELECT unnest(ts) AS w FROM d) GROUP BY w),
         |b AS (SELECT w1, w2, count(*)::BIGINT AS c12
         |      FROM (SELECT unnest(ts[1:l-1]) AS w1, unnest(ts[2:l]) AS w2 FROM d)
         |      GROUP BY 1, 2 HAVING count(*) >= 5),
         |s AS (SELECT sum(l)::BIGINT AS n1t, sum(l - 1)::BIGINT AS n2t FROM d)
         |SELECT w1, w2, c12,
         |  round(ln((c12 / n2t) / ((a.c1 / n1t) * (bb.c1 / n1t))), 6) AS pmi
         |FROM b JOIN u a ON b.w1 = a.w JOIN u bb ON b.w2 = bb.w CROSS JOIN s
         |ORDER BY w1, w2""".stripMargin,
    "ngram_containment" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(ts)-1),
         |           i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh
         |  FROM (SELECT doc_id, $ToksNE AS ts FROM documents WHERE doc_id < 500)
         |  WHERE len(ts) >= 3)
         |SELECT id1, id2, cont12, cont21 FROM (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2,
         |    round(len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh), 6) AS cont12,
         |    round(len(list_intersect(a.sh, b.sh))::DOUBLE / len(b.sh), 6) AS cont21
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id)
         |WHERE greatest(cont12, cont21) >= 0.6 ORDER BY id1, id2""".stripMargin,
    "exists_subquery" ->
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "percentile_cont" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75,
        |  median(l_quantity) AS med,
        |  count(*)::BIGINT AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "struct_funcs" ->
      """WITH r AS (
        |  SELECT o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS c, o_orderkey AS k,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders)
        |SELECT o_orderpriority, c AS min_cents, k AS min_okey, n::BIGINT AS n
        |FROM r WHERE rn = 1 ORDER BY o_orderpriority""".stripMargin,
    "lateral_topk" ->
      """SELECT c.c_custkey, t.okey, t.cents
        |FROM customer c,
        |LATERAL (SELECT o_orderkey AS okey,
        |                CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |         FROM orders
        |         WHERE o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c_custkey, cents DESC, okey""".stripMargin,
    "string_funcs2" ->
      """SELECT p_partkey,
        |  translate(p_name, 'ae', '43') AS tr,
        |  split_part(p_type, ' ', 2) AS typ2,
        |  left(p_name, 5) AS l5,
        |  right(p_name, 4) AS r4,
        |  repeat(p_brand, 2) AS rep,
        |  instr(p_name, 'a')::BIGINT AS ia,
        |  starts_with(p_type, 'S') AS sw,
        |  ends_with(p_name, 'e') AS ew
        |FROM part ORDER BY p_partkey""".stripMargin,
    "array_funcs2" ->
      s"""WITH t AS (SELECT doc_id, $ToksNE AS ts FROM documents)
         |SELECT doc_id,
         |  coalesce(array_to_string(list_sort(list_intersect(ts, ['spark','data','merge'])), ','), '') AS inter,
         |  coalesce(array_to_string(list_sort(list_distinct(list_filter(ts,
         |    x -> NOT list_contains(['spark','data','merge'], x)))), ','), '') AS exc,
         |  coalesce(array_to_string(flatten([ts[1:2], ts[3:4]]), ','), '') AS fl,
         |  coalesce(array_to_string(range(1, greatest(least(len(ts), 5), 1) + 1), ','), '') AS seq,
         |  len(list_intersect(ts, ['spark','data','merge'])) > 0 AS ov,
         |  coalesce(list_position(ts, 'data'), 0)::BIGINT AS pos,
         |  list_aggregate(ts, 'max') AS mx
         |FROM t ORDER BY doc_id""".stripMargin,
    "date_funcs2" ->
      """SELECT o_orderkey,
        |  date_diff('day', DATE '1970-01-01', last_day(o_orderdate::DATE))::BIGINT AS ld_days,
        |  date_diff('day', DATE '1970-01-01',
        |    (o_orderdate::DATE + INTERVAL 2 MONTH)::DATE)::BIGINT AS m2_days,
        |  week(o_orderdate::DATE)::INT AS woy,
        |  dayofyear(o_orderdate::DATE)::INT AS doy,
        |  date_diff('day', DATE '1970-01-01',
        |    make_date(2024, month(o_orderdate)::INT, 1))::BIGINT AS md_days
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "group_by_all" ->
      """SELECT l_returnflag, l_linestatus,
        |  count(*) AS n,
        |  sum(CAST(l_quantity AS BIGINT))::BIGINT AS qty
        |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin,
  )
}
