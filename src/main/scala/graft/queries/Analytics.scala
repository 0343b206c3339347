package graft.queries

import graft.functions.TextFns
import graft.operators.Skew
import graft.sources.Tables
import graft.streaming.Sessions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3 analytics coverage beyond Relational: aggregate FILTER
  * clauses, navigation window functions (first/last/nth value,
  * percent_rank/cume_dist), histogram binning via width_bucket,
  * math-function battery, time-series gap-fill (resampling), the
  * TF-IDF family (IDF vocabulary build + per-doc top terms via
  * TopKPerGroup), incremental-ingest dedup, declared skew-salted
  * aggregation/join queries, an approximate-distinct query whose
  * oracle checks the HLL error contract, Z-order codes, cohort
  * retention, string/map-type aggregation batteries, and the Spark 4
  * surfaces: recursive CTE funnel chains and VARIANT extraction.
  *
  * Oracle-parity conventions are Core's (exact cents, BIGINT counts,
  * total ORDER BY; doubles only as a final fixed expression tree over
  * exact integers — identical IEEE op order both engines). Like the
  * rest of the repo, `CAST(l_quantity AS BIGINT)` leans on TPC-H's
  * integral quantities (1..50): Spark truncates double→bigint while
  * DuckDB rounds, so the idiom is only parity-safe on integral values
  * (money goes through round() into cents precisely because of this).
  * `ln` and
  * `sqrt` appear under round(..., 6): sqrt is IEEE-correctly-rounded
  * everywhere; ln can differ by 1 ulp across libms, but a 1e-15 absolute
  * wiggle against a 5e-7 rounding boundary makes a flip vanishingly
  * unlikely (and the gate would catch it loudly, not silently).
  */
object Analytics {

  // parity-critical helpers single-sourced in Shared
  private def sql(s: SparkSession, d: String, tables: Seq[String], q: String): DataFrame =
    Shared.sql(s, d, tables, q)

  /** Aggregate FILTER clauses: per-flag totals with per-aggregate
    * predicates — one scan, one shuffle, partial-agg friendly (the
    * alternative, one self-join per predicate, re-scans the fact table
    * once per metric).
    */
  def filteredAgg(s: SparkSession, d: String): DataFrame =
    sql(s, d, Seq("lineitem"),
      """SELECT l_returnflag,
        |  count(*) AS n_all,
        |  count(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    FILTER (WHERE l_discount > 0.05) AS cents_discounted,
        |  count(*) FILTER (WHERE l_linestatus = 'F') AS n_finished
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** Navigation window battery: first/last/nth value over an explicit
    * full frame (the default frame stops at CURRENT ROW — last_value
    * would degenerate to the current row), plus percent_rank/cume_dist.
    * The ORDER BY key (qty DESC, okey, linenumber) is a total order, so
    * every navigation value is tie-deterministic.
    */
  def windowNav(s: SparkSession, d: String): DataFrame =
    sql(s, d, Seq("lineitem"),
      """SELECT l_returnflag, l_orderkey, l_linenumber, qty,
        |  first_value(l_orderkey) OVER w AS first_okey,
        |  last_value(l_orderkey) OVER wf AS last_okey,
        |  nth_value(l_orderkey, 3) OVER wf AS third_okey,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd
        |FROM (SELECT l_returnflag, l_orderkey, l_linenumber,
        |        CAST(l_quantity AS BIGINT) AS qty FROM lineitem)
        |WINDOW w AS (PARTITION BY l_returnflag
        |             ORDER BY qty DESC, l_orderkey, l_linenumber),
        |  wf AS (PARTITION BY l_returnflag
        |         ORDER BY qty DESC, l_orderkey, l_linenumber
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY l_returnflag, qty DESC, l_orderkey, l_linenumber""".stripMargin)

  /** Histogram binning: 16 equal buckets over order price cents via
    * width_bucket. Bounds are powers of two (width 2^22 cents), so the
    * bucket division is IEEE-exact and the oracle can state the same
    * binning as pure integer division. Max sf-independent price is
    * ~50M cents < 2^26, so the overflow bucket stays empty at any sf.
    */
  def histogram(s: SparkSession, d: String): DataFrame =
    sql(s, d, Seq("orders"),
      """WITH x AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT CAST(width_bucket(CAST(cents AS DOUBLE), CAST(0 AS DOUBLE),
        |         CAST(67108864 AS DOUBLE), 16) AS INT) AS bucket,
        |  count(*) AS n, min(cents) AS min_cents, max(cents) AS max_cents
        |FROM x GROUP BY bucket ORDER BY bucket""".stripMargin)

  /** Spearman rank correlation between per-order revenue and total
    * quantity — the robust companion to [[Relational]]'s Pearson
    * (stats_agg): monotone association free of the price outliers that
    * drag a moment correlation. Ranks are AVERAGE ranks carried as
    * exact integers (2×rank: r2 = 2·cum_before + cnt + 1 — doubling
    * clears the tie fraction, and Pearson is shift/scale-invariant so
    * ρ is unchanged), built from grouped value counts + one distributed
    * [[graft.operators.PrefixSum]] per variable (no single-task
    * window); rows join back to their ranks by value and ρ folds from
    * exact DECIMAL(38,0) sums (Σr2x·r2y reaches ~4n³ — int64 dies at
    * ~1e6 rows) as ONE fixed double tree at 6 dp.
    */
  def spearmanCorr(s: SparkSession, d: String): DataFrame = {
    val x = Tables.lineitem(s, d).groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("px"),
        sum(col("l_quantity").cast("long")).as("qy"))
    def r2Of(v: String): DataFrame = {
      val g = x.groupBy(col(v)).agg(count(lit(1)).as("c"))
      graft.operators.PrefixSum.exclusive(g, Seq(col(v)), col("c"), "cx")
        .select(col(v), (lit(2L) * col("cx") + col("c") + 1L).as(s"r2$v"))
    }
    x.join(r2Of("px"), "px").join(r2Of("qy"), "qy")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(r2px AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(r2qy AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(r2px * r2px AS DECIMAL(38,0))")).as("sxx"),
        sum(expr("CAST(r2qy * r2qy AS DECIMAL(38,0))")).as("syy"),
        sum(expr("CAST(r2px * r2qy AS DECIMAL(38,0))")).as("sxy"))
      .selectExpr("n",
        """round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          |  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          |  / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          |     * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
          |AS rho_6dp""".stripMargin)
  }

  /** Winsorized-mean report of order prices — the robust-preprocessing
    * companion to feature_scale/outlier_zscore: clip at the exact 5th/
    * 95th percentiles and publish the clip thresholds, both means, and
    * the clipped-row census. Percentiles come from the grouped
    * value-count table + one distributed [[graft.operators.PrefixSum]]
    * scan (the k-th smallest = min value whose running count reaches
    * ceil(q·n) — no single-task window, no collect); thresholds ride
    * back as a one-row broadcast scalar into ONE final aggregate. All
    * integer cents end to end.
    */
  def winsorize(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
    val g = o.groupBy(col("cents")).agg(count(lit(1)).as("c"))
    val cum = graft.operators.PrefixSum
      .exclusive(g, Seq(col("cents")), col("c"), "cx")
      .select(col("cents"), (col("cx") + col("c")).as("cum"))
    val n = o.agg(count(lit(1)).as("n"))
    val p = cum.crossJoin(broadcast(n)) // one-row count scalar
      .agg(
        min(when(col("cum") >= expr("(5 * n + 99) div 100"), col("cents"))).as("p05"),
        min(when(col("cum") >= expr("(95 * n + 99) div 100"), col("cents"))).as("p95"))
    o.crossJoin(broadcast(p)) // one-row threshold scalar
      .agg(count(lit(1)).as("n"), min(col("p05")).as("p05"),
        min(col("p95")).as("p95"),
        expr("sum(cents) div count(1)").as("mean_cents"),
        expr("sum(least(greatest(cents, p05), p95)) div count(1)")
          .as("mean_winsorized"),
        sum(when(col("cents") < col("p05"), 1L).otherwise(0L)).as("n_clipped_low"),
        sum(when(col("cents") > col("p95"), 1L).otherwise(0L)).as("n_clipped_high"))
  }

  /** Two-sample Kolmogorov–Smirnov test between the even- and odd-key
    * order populations — the bin-free companion to [[psiDrift]] in the
    * drift battery (PSI needs a binning choice; KS compares the full
    * ECDFs, the standard check that an A/B bucketing hash didn't skew a
    * metric's distribution). One hash aggregate collapses the corpus to
    * per-distinct-value conditional counts, the two running ECDFs come
    * from chained [[graft.operators.PrefixSum]] scans over the value
    * order (distributed rank — no single-task window), and D = max
    * |F₁−F₂| folds in one aggregate. ECDF steps are two exact-integer
    * divisions per distinct value (identical IEEE ops both engines;
    * bounded [0,1] at any corpus size — no overflow, unlike the integer
    * cross-product form), rounded once to micro units.
    */
  def ksTest(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      (col("o_orderkey") % 2 === 0).as("a"))
    val g = o.groupBy(col("cents")).agg(
      sum(when(col("a"), 1L).otherwise(0L)).as("ca"),
      sum(when(!col("a"), 1L).otherwise(0L)).as("cb"))
    val cum = graft.operators.PrefixSum.exclusive(
      graft.operators.PrefixSum.exclusive(g, Seq(col("cents")), col("ca"), "cax"),
      Seq(col("cents")), col("cb"), "cbx")
    val n = broadcast(o.agg(
      sum(when(col("a"), 1L).otherwise(0L)).as("n1"),
      sum(when(!col("a"), 1L).otherwise(0L)).as("n2")))
    cum.crossJoin(n) // one-row population-count scalar
      .select(col("n1"), col("n2"),
        abs(((col("cax") + col("ca")).cast("double") / col("n1")) -
          ((col("cbx") + col("cb")).cast("double") / col("n2"))).as("dd"))
      .groupBy(col("n1"), col("n2"))
      .agg(expr("CAST(round(max(dd) * 1000000) AS BIGINT)").as("d_micro"))
  }

  /** Population stability index between two periods — the drift monitor
    * an ML-ops pipeline runs on every feature before retraining ("did
    * the price distribution move?"). Reference period = orders through
    * 1997, current = 1998 on; 16 fixed integer cents bins (the
    * [[histogram]] binning) so bucketing is map-only; one hash
    * aggregate counts both periods per bucket (conditional counts, not
    * two scans); totals join back as a broadcast 1-row scalar. Counts
    * are Laplace-smoothed (+1 per bucket) so one-sided buckets stay
    * finite; the only doubles are the final fixed expression tree
    * `(p_cur − p_ref) · ln(p_cur / p_ref)` rounded to 9 dp — the
    * weighted_sample ln-parity convention.
    */
  def psiDrift(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      (year(col("o_orderdate")) <= 1997).as("is_ref"))
    val counts = o
      .select(least(expr("cents div 4194304"), lit(15L)).as("bucket"), col("is_ref"))
      .groupBy(col("bucket"))
      .agg(count(when(col("is_ref"), lit(1))).as("n_ref"),
        count(when(!col("is_ref"), lit(1))).as("n_cur"))
    val tot = counts.agg(sum(col("n_ref")).as("tot_ref"), sum(col("n_cur")).as("tot_cur"))
    val pr = (col("n_ref") + 1L).cast("double") / (col("tot_ref") + 16L).cast("double")
    val pc = (col("n_cur") + 1L).cast("double") / (col("tot_cur") + 16L).cast("double")
    counts.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        round((pc - pr) * log(pc / pr), 9).as("psi_contrib"))
      .orderBy(col("bucket"))
  }

  /** Math scalar battery over balance cents: abs/sign, IEEE-exact sqrt,
    * ln, power-of-two shift, positive modulus.
    */
  def mathFuncs(s: SparkSession, d: String): DataFrame =
    sql(s, d, Seq("customer"),
      """WITH x AS (SELECT c_custkey,
        |             CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer)
        |SELECT c_custkey, abs(bal) AS abs_bal, CAST(sign(bal) AS INT) AS sgn,
        |  round(sqrt(CAST(abs(bal) AS DOUBLE)), 6) AS sqrt_bal,
        |  round(ln(CAST(abs(bal) + 1 AS DOUBLE)), 6) AS ln_bal,
        |  CAST(shiftleft(1, CAST(c_custkey % 16 AS INT)) AS BIGINT) AS pow2,
        |  pmod(bal, 97) AS mod97
        |FROM x ORDER BY c_custkey""".stripMargin)

  /** Time-series gap-fill (resampling): per-user hourly event counts
    * with missing hours materialized as zeros between each user's first
    * and last event hour. The dense hour axis comes from sequence() +
    * explode — generated per user, never collected; the join back to
    * observed counts is a plain shuffled equi-join. user_id < 50 bounds
    * the output for the gate; the shape is sf-independent.
    */
  def gapFill(s: SparkSession, d: String): DataFrame = {
    val hourMs = 3600000L
    val ev = Sessions.events(s, d)
      .filter(col("user_id") < 50)
      .select(col("user_id"), (expr("ts_ms div 3600000") * hourMs).as("hour_ms"))
    val counts = ev.groupBy(col("user_id"), col("hour_ms"))
      .agg(count(lit(1)).as("n_obs"))
    // span bounds aggregate over counts; Catalyst's redundant-aggregate
    // removal collapses this to a direct min/max over the (pruned,
    // filter-pushed) scan — the cheap branch of the self-join shape. A
    // production pipeline would persist `counts` as an artifact instead.
    val hours = counts.groupBy(col("user_id"))
      .agg(min(col("hour_ms")).as("lo"), max(col("hour_ms")).as("hi"))
      .select(col("user_id"),
        explode(sequence(col("lo"), col("hi"), lit(hourMs))).as("hour_ms"))
    hours.join(counts, Seq("user_id", "hour_ms"), "left")
      .select(col("user_id"), col("hour_ms"),
        coalesce(col("n_obs"), lit(0L)).as("n"))
      .orderBy(col("user_id"), col("hour_ms"))
  }

  /** IDF vocabulary build: per-token document frequency over the whole
    * corpus plus smoothed inverse document frequency — the statistic
    * behind TF-IDF quality filters and stopword lists. One explode +
    * one hash aggregate (map-side combined); the corpus size joins in
    * as a broadcast scalar.
    */
  def vocabIdf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = docs.select(
      explode(array_distinct(filter(TextFns.tokens(col("text")),
        t => length(t) > 0))).as("tok"))
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    dfreq.crossJoin(broadcast(n))
      .select(col("tok"), col("df"), col("n_docs"),
        round(log((col("n_docs") + 1).cast("double") /
          (col("df") + 1).cast("double")), 6).as("idf"))
      .orderBy(col("tok"))
  }

  /** Incremental-ingest dedup: a replayed ingest window (doc_id >= 250)
    * kept only where its content hash is unseen in the already-ingested
    * corpus (doc_id < 300 — the ranges OVERLAP, modeling an ingest
    * restart from an earlier checkpoint, so the 250-299 slice is
    * guaranteed already-seen and must drop). A left-anti join on sha256
    * is the cheapest ingest-time gate before any near-dup pass; at
    * scale the corpus side is a bucketed table on the hash
    * ([[graft.sources.Layout]]) so each batch anti-joins without
    * re-shuffling the corpus.
    */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val corpus = docs.filter(col("doc_id") < 300)
      .select(sha2(col("text"), 256).as("seen_sha"))
    val batch = docs.filter(col("doc_id") >= 250)
      .select(col("doc_id"), sha2(col("text"), 256).as("text_sha"))
    batch.join(corpus, col("text_sha") === col("seen_sha"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** TF-IDF capstone: top-3 terms per document by tf × smoothed idf,
    * composing the vocab pipeline ([[vocabIdf]]) with the custom
    * TopKPerGroup heap operator — per-doc term selection with no
    * per-group sort at any scale. Term frequency and document frequency
    * come from ONE occurrence explode + (doc,tok) aggregate evaluated
    * once: `tf` is persist()ed so its two consumers (the scored branch
    * and the dfreq rollup) structurally share one materialization —
    * round 6 kept a no-op column reference to preserve canonical
    * equality for AQE exchange reuse instead, but that coupling is
    * fragile under pruning and was the round-7 profile's suspect (the
    * same lesson as PrefixSum: when two branches MUST see one
    * evaluation, say so with storage, not plan-shape hope). idf joins back as an
    * EXPLICIT broadcast: dfreq is vocabulary-sized (sublinear in the
    * corpus — partial aggregation collapses it map-side) while tf is
    * data-sized; left to its size estimates at sf0.01 AQE broadcast the
    * wrong (data-sized) side, a plan that dies at 100 TB.
    */
  def tfIdf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val occ = docs.select(col("doc_id"),
      explode(filter(TextFns.tokens(col("text")), t => length(t) > 0)).as("tok"))
    val tf = graft.MaterializedCaches.persistOnce(occ.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(dfreq), "tok").crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"), col("tf"),
        (col("tf").cast("double") *
          round(log((col("n_docs") + 1).cast("double") /
            (col("df") + 1).cast("double")), 6)).as("score"))
    graft.plans.TopKPerGroup(scored, Seq("doc_id"),
      Seq(col("score").desc, col("tok").asc), 3)
      .orderBy(col("doc_id"), col("score").desc, col("tok"))
  }

  /** Funnel chains via Spark 4's recursive CTE: for every purchase,
    * walk BACK through the same user's immediately-preceding events
    * while gaps stay under 30 minutes, reporting the chain length — the
    * "how many touches led to this purchase" funnel metric. The
    * recursion follows a lag()-built linked list, so it is linear and
    * time-monotone (terminates under UNION ALL — Spark's recursive CTEs
    * reject UNION-distinct, which rules out cyclic closures; the depth
    * cap is belt-and-braces, mirrored in the oracle).
    *
    * Scale note: because the walk follows a linear lag-link, the same
    * metric reduces to ONE gaps-and-islands window pass (break at
    * >30 min gap, chain_len = position in island, capped) — proved
    * equivalent in AnalyticsSpec ("the 100 TB path"). The recursive CTE
    * stays as the declared query for SQL-surface coverage; a production
    * run at scale uses the windowed form.
    */
  private val evChainCache = new graft.DfCache("analytics.evChain")

  def eventChain(s: SparkSession, d: String): DataFrame = {
    // the lag()-linked event list is persisted once per (session, sfDir):
    // every recursion level joins it, and an inlined CTE would re-run
    // the full window per level (~20x the work). Same materialized-input
    // posture as Sessions.sessionTable / Pipeline's pair caches.
    val ev = evChainCache.getOrElseUpdate((s, d), {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
      Sessions.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_ms"), col("event_type"),
          lag(col("event_id"), 1).over(w).as("prev_id"),
          lag(col("ts_ms"), 1).over(w).as("prev_ts"))
    })
    ev.createOrReplaceTempView("graft_ev_chain")
    s.sql(
      """WITH RECURSIVE
        |chain(purchase_id, cur_id, depth) AS (
        |  SELECT event_id, event_id, CAST(0 AS BIGINT) FROM graft_ev_chain
        |  WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT c.purchase_id, e.prev_id, c.depth + 1
        |  FROM chain c JOIN graft_ev_chain e ON e.event_id = c.cur_id
        |  WHERE e.prev_id IS NOT NULL AND e.ts_ms - e.prev_ts <= 1800000
        |    AND c.depth < 64)
        |SELECT purchase_id, max(depth) AS chain_len
        |FROM chain GROUP BY purchase_id ORDER BY purchase_id""".stripMargin)
  }

  /** VARIANT-type battery (Spark 4 semi-structured path): the JSON props
    * column parsed once into a variant, fields typed out via
    * variant_get — same aggregate shape as the string-path events_json,
    * so the oracle states it over plain JSON extraction.
    */
  def variantFuncs(s: SparkSession, d: String): DataFrame =
    Sessions.events(s, d)
      .select(col("event_type"), parse_json(col("props")).as("v"))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'long')").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"))

  /** String aggregation: per-flag sorted distinct statuses joined into
    * one string. collect_set + array_sort + array_join is the
    * deterministic formulation (bare collect_list order is
    * partition-dependent and never hash-comparable).
    */
  def listAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(array_join(array_sort(collect_set(col("l_linestatus"))), ",")
        .as("statuses"))
      .orderBy(col("l_returnflag"))

  /** Map-type battery over a real aggregate: per-document term-count map
    * via map_from_entries(collect_list(struct)), probed with
    * try_element_at (ANSI element_at hard-errors on a missing map key)
    * and size(). The oracle states the same scalars without maps —
    * conditional aggregate + distinct count.
    */
  def mapFuncs(s: SparkSession, d: String): DataFrame = {
    val occ = Tables.documents(s, d).select(col("doc_id"),
      explode(filter(TextFns.tokens(col("text")), t => length(t) > 0)).as("tok"))
    occ.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("tok"), col("cnt")))).as("m"))
      .select(col("doc_id"),
        try_element_at(col("m"), lit("the")).as("the_cnt"),
        size(col("m")).as("n_toks"))
      .orderBy(col("doc_id"))
  }

  /** Cohort retention: users grouped by first-seen day (the cohort),
    * counted per day-offset of later activity — the standard
    * product-analytics matrix. Two hash aggregates (user-day activity,
    * then per-user min) and one shuffled self-join on user_id; day
    * arithmetic is exact integer division of epoch ms.
    */
  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    val dayMs = 86400000L
    val active = Sessions.events(s, d)
      .select(col("user_id"), expr("ts_ms div 86400000").as("day"))
      .distinct()
    val cohort = active.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    active.join(cohort, "user_id")
      .groupBy((col("cohort_day") * dayMs).as("cohort_ms"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_ms"), col("day_offset"))
  }

  /** Z-order (Morton) code of the (partkey, suppkey) pair — the
    * clustering key [[graft.sources.Layout.writeZOrdered]] sorts on.
    * Declared as a query so the bit-interleave arithmetic itself is
    * oracle-verified: DuckDB computes the identical spread-and-merge
    * from [[graft.functions.ZOrder.morton2Sql]].
    */
  def zorderCode(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        pmod(col("l_partkey"), lit(1048576L)).as("px"),
        pmod(col("l_suppkey"), lit(1048576L)).as("py"))
      .withColumn("z", graft.functions.ZOrder.morton2(col("px"), col("py")))
      .orderBy(col("z"), col("l_orderkey"), col("l_linenumber"))

  /** Zone-map pruning effectiveness across physical layouts — the
    * data-layout decision [[zorderCode]] encodes, MEASURED: the same
    * rows laid out three ways (ingest order, sorted by the filter
    * column, hash-scattered), cut into 1024-row zones (the parquet
    * row-group analog), each zone summarized by its min/max ship day
    * (exactly what parquet footers store), then a 90-day predicate
    * ([10000, 10090)) replayed against the zone maps. prune_bp is the
    * fraction of zones a reader SKIPS — the number that decides
    * whether a 100 TB scan reads terabytes or gigabytes. Fixture
    * read: sorted prunes 9491 bp, ingest AND hashed prune 0 — this
    * corpus's ingest order carries no date correlation, so every
    * unsorted zone spans the whole calendar; the honest lesson is
    * that without an explicit sort (or real ingest-time ordering)
    * zone maps buy nothing. Each layout is one distributed AssignIds
    * rank (range exchange — never a single-partition sort) + a zone
    * aggregate; exact integers end to end.
    */
  def layoutPrune(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey").as("ok"),
      col("l_linenumber").as("ln"),
      expr("unix_millis(CAST(l_shipdate AS TIMESTAMP)) div 86400000").as("day"))
    val layouts = Seq(
      ("ingest", Seq(col("ok"), col("ln"))),
      ("shipdate_sorted", Seq(col("day"), col("ok"), col("ln"))),
      ("hashed", Seq(pmod(col("ok") * lit(2654435761L), lit(1000000007L)),
        col("ok"), col("ln"))))
    layouts.map { case (name, ord) =>
      graft.operators.AssignIds.byOrder(li, ord, "rn")
        .select(expr("(rn - 1) div 1024").as("grp"), col("day"))
        .groupBy(col("grp"))
        .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
        .agg(count(lit(1)).as("n_zones"),
          sum(when(col("mx") >= 10000 && col("mn") < 10090, 1L).otherwise(0L))
            .as("n_scanned"))
        .select(lit(name).as("layout"), col("n_zones"), col("n_scanned"),
          expr("10000 * (n_zones - n_scanned) div n_zones").as("prune_bp"))
    }.reduce(_ union _).orderBy(col("layout"))
  }

  /** Declared two-phase salted aggregation (Skew.saltedCount): the
    * return-flag domain has 3 hot keys — exactly the aggregation-skew
    * shape AQE does not re-plan. The oracle proves the salted two-phase
    * result equals a direct GROUP BY.
    */
  def skewAgg(s: SparkSession, d: String): DataFrame =
    Skew.saltedCount(
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber")),
      col("l_returnflag"))
      .select(col("key").as("l_returnflag"), col("cnt"))
      .orderBy(col("l_returnflag"))

  /** Declared salted broadcast join (Skew.saltedBroadcastJoin): customer
    * fact rows against the 25-row nation dim — a hot probe key spreads
    * over the salt range while semantics stay an inner equi-join.
    */
  def skewJoin(s: SparkSession, d: String): DataFrame =
    Skew.saltedBroadcastJoin(Tables.customer(s, d), Tables.nation(s, d),
      "c_nationkey", "n_nationkey")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        sum(round(col("c_acctbal") * 100).cast("long")).as("bal_cents"))
      .orderBy(col("n_name"))

  /** Approximate distinct with its error contract as the oracle row: the
    * HLL++ sketch (rsd=0.01) must land within 5% of the exact count, so
    * the exported `within_5pct` flag is constant-true — which is exactly
    * what the DuckDB oracle states. At 100 TB the sketch is the only
    * option (exact distinct is a full shuffle of the key domain); the
    * gate pins its accuracy, not just its existence.
    */
  def approxDistinct(s: SparkSession, d: String): DataFrame = {
    // the exact and approximate counts run as SEPARATE aggregates joined
    // on the 3-row output: mixing them in one agg makes Catalyst thread
    // the ~1.6k-column HLL buffer through the distinct-expand path — one
    // sketch per (flag, orderkey) group, catastrophic at scale
    val li = Tables.lineitem(s, d)
    val exact = li.groupBy(col("l_returnflag"))
      .agg(count_distinct(col("l_orderkey")).as("n_exact"))
    val approx = li.groupBy(col("l_returnflag").as("rf"))
      .agg(approx_count_distinct(col("l_orderkey"), 0.01).as("n_approx"))
    exact.join(broadcast(approx), col("l_returnflag") === col("rf"))
      .select(col("l_returnflag"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")).cast("double") <=
          col("n_exact").cast("double") * 0.05).cast("int").as("within_5pct"))
      .orderBy(col("l_returnflag"))
  }

  /** Approximate-percentile contract, the quantile twin of
    * [[approxDistinct]]: the sketch median (accuracy 10000 → rank error
    * ≤ 0.01%) must land inside the exact [p45, p55] rank band, so the
    * exported flag is constant-true and the oracle states exactly that
    * plus the exact median. At 100 TB the sketch is the only way to get
    * quantiles without a per-group global sort.
    */
  def approxQuantile(s: SparkSession, d: String): DataFrame =
    sql(s, d, Seq("lineitem"),
      """WITH x AS (SELECT l_returnflag AS rf,
        |             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |           FROM lineitem),
        |r AS (SELECT rf, cents,
        |        row_number() OVER (PARTITION BY rf ORDER BY cents) AS rn,
        |        count(*) OVER (PARTITION BY rf) AS n FROM x),
        |exact AS (SELECT rf,
        |    max(CASE WHEN rn = (9 * n + 19) div 20 THEN cents END) AS p45,
        |    max(CASE WHEN rn = (n + 1) div 2 THEN cents END) AS p50,
        |    max(CASE WHEN rn = (11 * n + 19) div 20 THEN cents END) AS p55
        |  FROM r GROUP BY rf),
        |appr AS (SELECT rf, approx_percentile(cents, 0.5, 10000) AS ap FROM x GROUP BY rf)
        |SELECT exact.rf, p50 AS p50_exact,
        |  CAST(ap BETWEEN p45 AND p55 AS INT) AS within_band
        |FROM exact JOIN appr ON exact.rf = appr.rf
        |ORDER BY rf""".stripMargin)

  /** ANSI-safe scalar battery: Spark 4 runs with ANSI ON, so the try_*
    * family is how a pipeline expresses "null, not job-abort" for bad
    * cells — division by zero and unparseable casts here; the oracle
    * states the same nulls via CASE / TRY_CAST.
    */
  def tryFuncs(s: SparkSession, d: String): DataFrame =
    sql(s, d, Seq("customer"),
      """WITH x AS (SELECT c_custkey, c_name,
        |             CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer)
        |SELECT c_custkey,
        |  round(try_divide(CAST(bal AS DOUBLE), CAST(c_custkey % 5 AS DOUBLE)), 6)
        |    AS per_bucket,
        |  try_cast(c_name AS DOUBLE) AS name_num,
        |  try_cast(substring(c_name, 10) AS BIGINT) AS id_num
        |FROM x ORDER BY c_custkey""".stripMargin)

  /** Rolling median — an aggregate Spark's window functions genuinely
    * lack (no percentile/median over a moving frame): composed from
    * `collect_list` over a 10-row frame + `sort_array` + middle-element
    * arithmetic. Exact on the integral quantities (the even-count case
    * averages two BIGINTs — exactly representable in a double, matching
    * DuckDB's `median(...) OVER` to the bit). Frame state is bounded by
    * the frame length, so at 100 TB memory per window is O(10) — this
    * composition is the right shape for any small-frame order statistic.
    *
    * Ordering: the synthetic lineitem has DUPLICATE (orderkey,
    * linenumber) keys, so q completes the frame order — rows tied on
    * all four keys are identical tuples, and permuting identical rows
    * cannot change any frame's multiset, so the result multiset stays
    * engine-independent.
    */
  def windowPercentile(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
      col("l_quantity").cast("long").as("q"),
      datediff(col("l_shipdate").cast("date"), to_date(lit("1970-01-01")))
        .cast("long").as("sday"))
    val w = Window.partitionBy(col("l_partkey"))
      .orderBy(col("sday"), col("l_orderkey"), col("l_linenumber"), col("q"))
      .rowsBetween(-9, 0)
    li.withColumn("a", sort_array(collect_list(col("q")).over(w)))
      .withColumn("n", size(col("a")))
      .withColumn("med",
        when(expr("n % 2 = 1"),
          expr("element_at(a, CAST((n + 1) div 2 AS INT))").cast("double"))
        .otherwise(
          (expr("element_at(a, CAST(n div 2 AS INT))") +
            expr("element_at(a, CAST(n div 2 + 1 AS INT))"))
            .cast("double") / 2.0))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("med"))
      // duplicate (orderkey, linenumber) keys exist — partkey + med make
      // the presentation order total, per the repo-wide convention
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("med"))
  }

  /** Boolean/conditional aggregate battery: count_if, bool_and/bool_or,
    * every/any equivalents — the remaining ANSI aggregate surface. One
    * hash aggregate, trivially partial-aggregated.
    */
  def aggFuncs2(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count_if(col("l_discount") > 0.05).as("n_disc"),
        bool_and(col("l_quantity") >= 1.0).as("all_q1"),
        bool_or(col("l_tax") > 0.07).as("any_hitax"),
        count_if(col("l_linestatus") === "F").as("n_f"))
      .orderBy(col("l_returnflag"))

  /** Z-score outlier detection with EXACT arithmetic: the 1.5σ test
    * `(x-μ)² > (1.5σ)²` cross-multiplied into integers —
    * `4(nx-s)² > 9(n·sq - s²)` over cents — so both engines compare the
    * same exact numbers (a double σ would make the boundary rows
    * engine-dependent). DECIMAL(38,0) carries the ~1e27 intermediates
    * (BIGINT would wrap; in ANSI mode, throw). Two passes over orders:
    * a 3-row moment aggregate (broadcast back) + one filtered count —
    * the standard scalable shape for anomaly scoring.
    */
  def outlierZscore(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderstatus").as("st"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val dec = col("cents").cast("decimal(38,0)")
    val g = o.groupBy(col("st")).agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(dec).cast("decimal(38,0)").as("s"),
      sum(dec * dec).cast("decimal(38,0)").as("sq"))
    val dev = col("n") * dec - col("s")
    val isOut = (lit(4) * dev * dev) > (lit(9) * (col("n") * col("sq") - col("s") * col("s")))
    o.join(g, "st")
      .groupBy(col("st")).agg(
        count(lit(1)).as("n_rows"),
        count(when(isOut, lit(1))).as("n_outliers"),
        min(when(isOut, col("cents"))).as("min_outlier_cents"))
      .orderBy(col("st"))
  }

  /** 2-D skyline (Pareto front): the price/size points no other part
    * dominates. NOT the O(n²) dominance join — after a per-x dedupe
    * (max y per distinct x), the TWO-PASS RANGE-PARTITIONED SWEEP:
    * distinct-x rows are width-bucketed into 32 contiguous x ranges, so
    * the strictly-greater-x running max splits into (a) a per-BUCKET
    * window (descending x, RANGE to 1 PRECEDING so equal-x peers stay
    * excluded) — partition-sized, never global — and (b) the carried
    * max of all higher buckets, a 32-row prefix table computed by a
    * broadcast self-join over the BUCKET COUNT (constant-bounded, like
    * the scalar count exchange — not data-sized; no global window
    * anywhere in the plan) and broadcast back. A point
    * survives iff its y beats both. This removes the last data-sized
    * global window outside bounded slices (round-5 verdict item 8). The
    * DuckDB oracle is the INDEPENDENT quadratic NOT EXISTS dominance
    * test on the bounded slice, so the sweep is cross-checked, not
    * mirrored.
    */
  def paretoFront(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d).filter(col("p_partkey") < 2000)
      .select(round(col("p_retailprice") * 100).cast("long").as("cents"),
        col("p_size").cast("long").as("size"))
    val g = p.groupBy(col("cents")).agg(max(col("size")).as("size"))
    // contiguous x ranges: hi+1 keeps width_bucket's bounds valid even
    // when all x are equal, and no row lands in the overflow bucket
    val mm = broadcast(g.agg(min(col("cents")).as("lo"),
      (max(col("cents")) + 1).as("hi")))
    val b = g.crossJoin(mm)
      .withColumn("bucket", width_bucket(col("cents"), col("lo"), col("hi"), lit(32)))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("cents").desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val withIn = b.withColumn("mx_in", max(col("size")).over(wIn))
    // buckets are disjoint half-open ranges, so every x in a higher
    // bucket is strictly greater than every x in a lower one; the
    // ≤32-row bucket-max table makes "max over higher buckets" a
    // broadcast theta-self-join, not a single-partition window
    val bmaxes = b.groupBy(col("bucket")).agg(max(col("size")).as("bmax"))
    val prefix = bmaxes.select(col("bucket").as("bkt"))
      .join(broadcast(bmaxes), col("bucket") > col("bkt"), "left")
      .groupBy(col("bkt").as("bucket")).agg(max(col("bmax")).as("mx_above"))
    withIn.join(broadcast(prefix), "bucket")
      .filter(col("size") > greatest(
        coalesce(col("mx_in"), lit(Long.MinValue)),
        coalesce(col("mx_above"), lit(Long.MinValue))))
      .select(col("cents"), col("size"))
      .orderBy(col("cents"))
  }

  /** Equi-DEPTH histogram (16 equal-count buckets over order cents) —
    * the complement of `histogram`'s equal-width bucketing. DISTRIBUTED
    * formulation: the global rank comes from [[graft.operators.AssignIds
    * .byOrder]] (range exchange + in-partition sort — never a
    * SinglePartition window; plan-guarded in AnalyticsSpec), and the
    * bucket is computed from the rank with ntile's exact integer rule —
    * N rows, B=16, q=N div B, r=N mod B: the first r buckets take q+1
    * rows, the rest q. Matches `ntile(16) OVER (ORDER BY cents,
    * o_orderkey)` (the DuckDB oracle) row-for-row, without funnelling
    * all rows through one task. q=0 (N<16) is safe: then r=N so the
    * CASE's q-dividing branch is never evaluated (CaseWhen is lazy).
    * At 100 TB the exact variant is this one; the approximate variant
    * (approx_percentile cutpoints + map-only width_bucket) trades the
    * rank exchange for one pass — see approx_quantile.
    */
  def equidepthHistogram(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(
      round(col("o_totalprice") * 100).cast("long").as("cents"), col("o_orderkey"))
    val withRn = graft.operators.AssignIds.byOrder(
      o, Seq(col("cents"), col("o_orderkey")), "rn")
    val n = broadcast(o.groupBy().agg(count(lit(1)).as("N")))
    withRn.crossJoin(n)
      .selectExpr("cents", "rn", "N div 16 AS q", "N % 16 AS r")
      .selectExpr("cents",
        """CAST(CASE WHEN rn <= r * (q + 1) THEN (rn - 1) div (q + 1) + 1
          |     ELSE r + (rn - r * (q + 1) - 1) div q + 1 END AS INT)
          |  AS bucket""".stripMargin)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
      .orderBy(col("bucket"))
  }

  /** Trailing-value feature vectors (the classic ML lag-feature prep):
    * each event carries its user's previous 3 event values as an array,
    * in frame order. One window shuffle on user_id, frame state O(3).
    * Spark's `collect_list` over an empty frame yields `[]` where
    * DuckDB's `list()` yields NULL — the oracle coalesces, pinning that
    * edge explicitly. The vector is serialized to a ','-joined string
    * (driver-sortable-output convention; empty frame → '').
    */
  def lagFeatures(s: SparkSession, d: String): DataFrame = {
    val ev = Sessions.events(s, d).select(col("event_id"), col("user_id"),
      col("ts_ms"), round(col("value") * 100).cast("long").as("cents"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(-3, -1)
    ev.select(col("event_id"), collect_list(col("cents")).over(w).as("featArr"))
      .select(col("event_id"), Shared.csv(col("featArr")).as("feat"))
      .orderBy(col("event_id"))
  }

  /** Per-group z-score feature scaling: exact integer moments (the
    * outlier_zscore pattern), then ONE fixed double expression tree —
    * `(x − s/n) / sqrt(sq/n − (s/n)²)`, rounded — evaluated identically
    * on both engines. Broadcast 5-row moment table back over the
    * events; map-only after the aggregate.
    */
  def featureScale(s: SparkSession, d: String): DataFrame = {
    val ev = Sessions.events(s, d).select(col("event_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("cents"))
    // moments stay DECIMAL(38,0) all the way to the final double cast —
    // sq ~ rows x cents^2 clears BIGINT long before the 100 TB regime,
    // and a silent decimal->long wrap/null here would diverge from the
    // oracle exactly at scale (the outlier_zscore lesson)
    val dec = col("cents").cast("decimal(38,0)")
    val g = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"), sum(dec).cast("decimal(38,0)").as("s"),
      sum(dec * dec).cast("decimal(38,0)").as("sq"))
    val mean = col("s").cast("double") / col("n")
    val z = (col("cents") - mean) /
      sqrt(col("sq").cast("double") / col("n") - mean * mean)
    ev.join(broadcast(g), "event_type")
      .select(col("event_id"), round(z, 6).as("z"))
      .orderBy(col("event_id"))
  }

  /** Median absolute deviation per order status — the robust dispersion
    * measure outlier pipelines prefer over σ (a single corrupt price
    * moves σ unboundedly, MAD not at all). Exact integers end-to-end:
    * the discrete median via the distributed row_number idiom (the
    * percentile_disc pattern — no per-group collect), then the same
    * idiom again over |x − med|. Two window passes on a 3-value key.
    */
  def madStats(s: SparkSession, d: String): DataFrame =
    Shared.sql(s, d, Seq("orders"),
      """WITH x AS (SELECT o_orderstatus AS st,
        |             CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |r AS (SELECT st, cents,
        |        row_number() OVER (PARTITION BY st ORDER BY cents) AS rn,
        |        count(*) OVER (PARTITION BY st) AS n FROM x),
        |m AS (SELECT st, max(CASE WHEN rn = (n + 1) div 2 THEN cents END) AS med
        |      FROM r GROUP BY st),
        |d AS (SELECT x.st, abs(x.cents - m.med) AS dev FROM x JOIN m ON x.st = m.st),
        |r2 AS (SELECT st, dev,
        |         row_number() OVER (PARTITION BY st ORDER BY dev) AS rn,
        |         count(*) OVER (PARTITION BY st) AS n FROM d)
        |SELECT r2.st, max(m.med) AS med_cents,
        |       max(CASE WHEN rn = (n + 1) div 2 THEN dev END) AS mad_cents
        |FROM r2 JOIN m ON r2.st = m.st GROUP BY r2.st ORDER BY r2.st""".stripMargin)

  /** Join-key skew diagnostics over lineitem's three join columns: key
    * cardinality, the heaviest key's row count, and an integer
    * cross-multiplied skew flag (heaviest key > 1% of rows). This is
    * the profiling query run before choosing salting/AQE strategies —
    * three hash aggregates, one per column, unioned.
    */
  def skewReport(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    def profile(c: String) = li.groupBy(col(c).as("k")).agg(count(lit(1)).as("cnt"))
      .agg(count(lit(1)).as("n_keys"),
        max(col("cnt")).as("max_key_rows"), sum(col("cnt")).as("n_rows"))
      .select(lit(c).as("col_name"), col("n_keys"), col("max_key_rows"),
        col("n_rows"), (col("max_key_rows") * 100L > col("n_rows")).as("skewed"))
    profile("l_orderkey")
      .unionByName(profile("l_partkey"))
      .unionByName(profile("l_suppkey"))
      .orderBy(col("col_name"))
  }

  /** Deterministic per-group mode (most frequent value, ties to the
    * smallest value): count per (group, value), then the TopKPerGroup
    * heap at k=1 — no per-group sort, and the deterministic tie-break
    * both engines can state (Spark's native `mode()` is explicitly
    * tie-nondeterministic, so it can never be oracle-gated). Profiles
    * the modal document source per language.
    */
  def modePerGroup(s: SparkSession, d: String): DataFrame = {
    val c = Tables.documents(s, d)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
    graft.plans.TopKPerGroup(c, Seq("lang"), Seq(col("n").desc, col("source")), 1)
      .orderBy(col("lang"))
  }

  /** Global contiguous row ids in a total order via
    * [[graft.operators.AssignIds]] — the scalable replacement for the
    * single-partition `row_number() OVER (ORDER BY ...)` window (which
    * funnels all 100 TB through one task). Range exchange + in-partition
    * sort + the two-job partition-offset count; the oracle IS that
    * global window, pinning id-for-id equivalence.
    */
  def assignIds(s: SparkSession, d: String): DataFrame =
    graft.operators.AssignIds.byOrder(
      Tables.orders(s, d).select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents")),
      Seq(col("cents").desc, col("o_orderkey")), "rid")
      .select(col("o_orderkey"), col("cents"), col("rid"))
      .orderBy(col("rid"))

  /** Order-independent table fingerprints — the data-validation primitive
    * a pipeline runs after every copy/migrate/backfill step ("same rows
    * on both sides?") without sorting anything: per row, a 60-bit value
    * from sha256 over a canonical '|'-joined string of the row's exact
    * integer projection, XOR-folded per table. XOR is commutative, so
    * the fingerprint is partition- and order-agnostic (map-side
    * combinable, one tiny aggregate per table); 15 hex digits keep the
    * value inside BIGINT on both engines. Doubles enter only as exact
    * cents — float formatting never reaches the hash.
    */
  def tableChecksum(s: SparkSession, d: String): DataFrame = {
    def h(c: org.apache.spark.sql.Column) =
      conv(substring(sha2(c, 256), 1, 15), 16, 10).cast("long")
    def fp(name: String, df: DataFrame, canonical: org.apache.spark.sql.Column) =
      df.select(h(canonical).as("hv"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(hv)").as("fingerprint"))
        .select(lit(name).as("tbl"), col("n_rows"), col("fingerprint"))
    fp("customer", Tables.customer(s, d),
      concat_ws("|", col("c_custkey"), col("c_name"), col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long")))
      .unionByName(fp("orders", Tables.orders(s, d),
        concat_ws("|", col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long"))))
      .unionByName(fp("lineitem", Tables.lineitem(s, d),
        concat_ws("|", col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long"),
          round(col("l_extendedprice") * 100).cast("long"))))
      .orderBy(col("tbl"))
  }

  /** Pearson correlation + OLS slope of quantity vs price per return
    * flag — the regr_slope/corr aggregate family, but oracle-exact: Spark's
    * native corr()/regr_slope() accumulate doubles in partition order
    * (non-reproducible bit-for-bit), so the moments are exact
    * DECIMAL(38,0) sums instead and the statistics are ONE fixed double
    * expression tree evaluated identically on both engines (the
    * feature_scale discipline). Map-side combinable, one aggregate.
    */
  def corrAgg(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_returnflag"),
      col("l_quantity").cast("long").as("x"),
      round(col("l_extendedprice") * 100).cast("long").as("y"))
    val dx = col("x").cast("decimal(38,0)")
    val dy = col("y").cast("decimal(38,0)")
    val g = li.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("n"),
      sum(dx).cast("decimal(38,0)").as("sx"),
      sum(dy).cast("decimal(38,0)").as("sy"),
      sum(dx * dx).cast("decimal(38,0)").as("sxx"),
      sum(dy * dy).cast("decimal(38,0)").as("syy"),
      sum(dx * dy).cast("decimal(38,0)").as("sxy"))
    val n = col("n").cast("double")
    def dbl(c: String) = col(c).cast("double")
    val cov = n * dbl("sxy") - dbl("sx") * dbl("sy")
    val vx = n * dbl("sxx") - dbl("sx") * dbl("sx")
    val vy = n * dbl("syy") - dbl("sy") * dbl("sy")
    g.select(col("l_returnflag"), col("n"),
        round(cov / (sqrt(vx) * sqrt(vy)), 6).as("corr"),
        round(cov / vx, 6).as("slope"))
      .orderBy(col("l_returnflag"))
  }

  /** Q2 revenue per month over the MONTH-PARTITIONED orders artifact
    * ([[graft.sources.Layout.partitionedOrders]]) joined with a runtime-
    * filtered quarter dim — the declared exercise of DYNAMIC partition
    * pruning, the second half of the first-line 100 TB scan reducer
    * (static PartitionFilters are spec-guarded in LayoutSpec): the dim's
    * `quarter = 2` filter is not a literal month predicate, so only a
    * DynamicPruningExpression on the fact scan (reusing the broadcast
    * result) keeps the 9 non-Q2 partition directories from being read
    * at all. Plan-guarded in LayoutSpec. The dim is a 12-row calendar
    * derived with integer arithmetic — no date parsing parity risk.
    */
  def dppJoin(s: SparkSession, d: String): DataFrame = {
    val fact = Tables.parquet(s, graft.sources.Layout.partitionedOrders(s, d))
    val dim = s.range(1, 13).select(col("id").cast("int").as("omonth"),
      expr("CAST((id - 1) DIV 3 + 1 AS INT)").as("quarter"))
    fact.join(broadcast(dim.filter(col("quarter") === 2)), Seq("omonth"))
      .groupBy(col("omonth"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("revenue"))
      .orderBy(col("omonth"))
  }

  /** Whole-table column profiler (the first query any data-management
    * stack runs on an unknown table — Deequ/`ANALYZE`-style): per column,
    * row/null/exact-distinct counts and min/max, in ONE pass over the
    * table. Values are normalized to the repo's parity currencies first
    * (cents, epoch ms) so min/max stringify identically on both engines;
    * numeric min/max is computed on the NATIVE value and cast to string
    * only in the output (lexicographic "10"<"9" never happens). The six
    * exact `count(DISTINCT)`s plan as one Expand (×7 row multiplication
    * feeding partial aggregates — the standard exact-profiling trade;
    * the one-pass approximate alternative is `approx_count_distinct`,
    * exercised by approx_distinct). Output is 6 rows via `stack`.
    */
  def columnProfile(s: SparkSession, d: String): DataFrame = {
    val cols: Seq[(String, Column)] = Seq(
      "o_custkey" -> col("o_custkey"),
      "o_orderdate" -> unix_millis(col("o_orderdate").cast("timestamp")),
      "o_orderkey" -> col("o_orderkey"),
      "o_orderpriority" -> col("o_orderpriority"),
      "o_orderstatus" -> col("o_orderstatus"),
      "o_totalprice" -> round(col("o_totalprice") * 100).cast("long"))
    // nulls + native-typed min/max in ONE distinct-free pass (map-side
    // combinable; min/max computed on the NATIVE value and stringified
    // only in the output — lexicographic "10"<"9" never happens) ...
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { case (n, c) =>
      Seq(sum(when(c.isNull, 1L).otherwise(0L)).as(s"nn_$n"),
        min(c).cast("string").as(s"mn_$n"),
        max(c).cast("string").as(s"mx_$n"))
    }
    val stackArgs = cols.map { case (n, _) =>
      s"'$n', nn_$n, mn_$n, mx_$n" }.mkString(", ")
    val basic = Tables.orders(s, d).agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), expr(s"stack(${cols.size}, $stackArgs)" +
        " AS (col_name, n_nulls, min_v, max_v)"))
    // ... and the six exact distinct counts through the stacked
    // two-level aggregate (value-stringified (col, val) rows → count per
    // pair → count per col), the entropy_profile shape: two map-side-
    // combinable hash aggregates instead of one Expand(×7)-fed
    // multi-countDistinct, which shuffles every expanded row to a
    // distinct aggregate keyed by six wide columns (measured ~8x slower)
    val stackVals = cols.map { case (n, _) => s"'$n', v_$n" }.mkString(", ")
    val nd = Tables.orders(s, d)
      .select(cols.map { case (n, c) => c.cast("string").as(s"v_$n") }: _*)
      .select(expr(s"stack(${cols.size}, $stackVals) AS (col_name, val)"))
      .filter(col("val").isNotNull)
      .groupBy(col("col_name"), col("val")).agg(count(lit(1)).as("c"))
      .groupBy(col("col_name")).agg(count(lit(1)).as("n_distinct"))
    basic.join(nd, Seq("col_name"), "left")
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        col("min_v"), col("max_v"))
      .orderBy(col("col_name"))
  }

  private val decileCache = new graft.DfCache("analytics.deciles")

  /** Decile gains table (the ML-ops lift report behind every targeting
    * model): customers ranked by total order spend, cut into 10
    * equal-count buckets by the DISTRIBUTED global rank
    * ([[graft.operators.AssignIds.byOrder]] — range exchange, never a
    * SinglePartition window; same machinery as equidepth_histogram,
    * decile rule `(rn−1)·10 div N`), then per-decile customer count,
    * spend, and share/cumulative-share in exact basis points. The
    * ≤10-row decile table is persisted (its three consumers — shares,
    * cumulative prefix, total — would otherwise re-run the rank job)
    * and the cumulative prefix is a broadcast theta-self-join over it,
    * the equidepth/pareto bounded-prefix pattern.
    */
  def decileLift(s: SparkSession, d: String): DataFrame = {
    val bucketed = decileCache.getOrElseUpdate((s, d), {
      val spend = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val ranked = graft.operators.AssignIds.byOrder(
        spend, Seq(col("cents").desc, col("o_custkey")), "rn")
      val n = broadcast(spend.groupBy().agg(count(lit(1)).as("N")))
      ranked.crossJoin(n)
        .selectExpr("cents", "CAST((rn - 1) * 10 div N AS INT) AS decile")
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("cents"))
    })
    val cum = bucketed.select(col("decile").as("dk"))
      .join(broadcast(bucketed), col("decile") <= col("dk"))
      .groupBy(col("dk")).agg(sum(col("cents")).as("cum_cents"))
    val tot = broadcast(bucketed.agg(sum(col("cents")).as("total")))
    bucketed.join(broadcast(cum), col("decile") === col("dk")).crossJoin(tot)
      .selectExpr("decile", "n_customers", "cents",
        "(cents * 10000) div total AS share_bp",
        "(cum_cents * 10000) div total AS cum_share_bp")
      .orderBy(col("decile"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "column_profile" -> columnProfile,
    "decile_lift" -> decileLift,
    "dpp_join" -> dppJoin,
    "corr_agg" -> corrAgg,
    "table_checksum" -> tableChecksum,
    "mode_per_group" -> modePerGroup,
    "assign_ids" -> assignIds,
    "mad_stats" -> madStats,
    "skew_report" -> skewReport,
    "lag_features" -> lagFeatures,
    "feature_scale" -> featureScale,
    "equidepth_histogram" -> equidepthHistogram,
    "pareto_front" -> paretoFront,
    "outlier_zscore" -> outlierZscore,
    "window_percentile" -> windowPercentile,
    "agg_funcs2" -> aggFuncs2,
    "approx_quantile" -> approxQuantile,
    "try_funcs" -> tryFuncs,
    "filtered_agg" -> filteredAgg,
    "window_nav" -> windowNav,
    "histogram" -> histogram,
    "psi_drift" -> psiDrift,
    "ks_test" -> ksTest,
    "winsorize" -> winsorize,
    "spearman_corr" -> spearmanCorr,
    "math_funcs" -> mathFuncs,
    "gap_fill" -> gapFill,
    "vocab_idf" -> vocabIdf,
    "tf_idf" -> tfIdf,
    "dedup_incremental" -> dedupIncremental,
    "zorder_code" -> zorderCode,
    "layout_prune" -> layoutPrune,
    "cohort_retention" -> cohortRetention,
    "list_agg" -> listAgg,
    "map_funcs" -> mapFuncs,
    "event_chain" -> eventChain,
    "variant_funcs" -> variantFuncs,
    "skew_agg" -> skewAgg,
    "skew_join" -> skewJoin,
    "approx_distinct" -> approxDistinct,
  )

  private val ToksNE = Shared.ToksNE

  val oracleSql: Map[String, String] = Map(
    "column_profile" ->
      """WITH o AS (SELECT o_custkey,
        |  epoch_ms(o_orderdate) AS o_orderdate_n, o_orderkey,
        |  o_orderpriority, o_orderstatus,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS o_totalprice_n
        |FROM orders)
        |SELECT 'o_custkey' AS col_name, count(*)::BIGINT AS n_rows,
        |  count(*) FILTER (WHERE o_custkey IS NULL)::BIGINT AS n_nulls,
        |  count(DISTINCT o_custkey)::BIGINT AS n_distinct,
        |  min(o_custkey)::VARCHAR AS min_v, max(o_custkey)::VARCHAR AS max_v
        |FROM o
        |UNION ALL SELECT 'o_orderdate', count(*),
        |  count(*) FILTER (WHERE o_orderdate_n IS NULL),
        |  count(DISTINCT o_orderdate_n),
        |  min(o_orderdate_n)::VARCHAR, max(o_orderdate_n)::VARCHAR FROM o
        |UNION ALL SELECT 'o_orderkey', count(*),
        |  count(*) FILTER (WHERE o_orderkey IS NULL),
        |  count(DISTINCT o_orderkey),
        |  min(o_orderkey)::VARCHAR, max(o_orderkey)::VARCHAR FROM o
        |UNION ALL SELECT 'o_orderpriority', count(*),
        |  count(*) FILTER (WHERE o_orderpriority IS NULL),
        |  count(DISTINCT o_orderpriority),
        |  min(o_orderpriority), max(o_orderpriority) FROM o
        |UNION ALL SELECT 'o_orderstatus', count(*),
        |  count(*) FILTER (WHERE o_orderstatus IS NULL),
        |  count(DISTINCT o_orderstatus),
        |  min(o_orderstatus), max(o_orderstatus) FROM o
        |UNION ALL SELECT 'o_totalprice', count(*),
        |  count(*) FILTER (WHERE o_totalprice_n IS NULL),
        |  count(DISTINCT o_totalprice_n),
        |  min(o_totalprice_n)::VARCHAR, max(o_totalprice_n)::VARCHAR FROM o
        |ORDER BY col_name""".stripMargin,
    "decile_lift" ->
      """WITH spend AS (SELECT o_custkey,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT cents, row_number() OVER
        |        (ORDER BY cents DESC, o_custkey) AS rn,
        |        count(*) OVER () AS n FROM spend),
        |b AS (SELECT ((rn - 1) * 10 // n)::INT AS decile,
        |        count(*)::BIGINT AS n_customers, sum(cents)::BIGINT AS cents
        |      FROM r GROUP BY 1)
        |SELECT decile, n_customers, cents,
        |  ((cents * 10000) // sum(cents) OVER ())::BIGINT AS share_bp,
        |  ((sum(cents) OVER (ORDER BY decile) * 10000)
        |    // sum(cents) OVER ())::BIGINT AS cum_share_bp
        |FROM b ORDER BY decile""".stripMargin,
    "mad_stats" ->
      """WITH x AS (SELECT o_orderstatus AS st,
        |             CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |r AS (SELECT st, cents,
        |        row_number() OVER (PARTITION BY st ORDER BY cents) AS rn,
        |        count(*) OVER (PARTITION BY st) AS n FROM x),
        |m AS (SELECT st, max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS med
        |      FROM r GROUP BY st),
        |d AS (SELECT x.st, abs(x.cents - m.med) AS dev FROM x JOIN m ON x.st = m.st),
        |r2 AS (SELECT st, dev,
        |         row_number() OVER (PARTITION BY st ORDER BY dev) AS rn,
        |         count(*) OVER (PARTITION BY st) AS n FROM d)
        |SELECT r2.st, max(m.med)::BIGINT AS med_cents,
        |       max(CASE WHEN rn = (n + 1) // 2 THEN dev END)::BIGINT AS mad_cents
        |FROM r2 JOIN m ON r2.st = m.st GROUP BY r2.st ORDER BY r2.st""".stripMargin,
    "corr_agg" ->
      """WITH li AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y FROM lineitem),
        |g AS (SELECT l_returnflag, count(*)::BIGINT AS n,
        |        sum(x)::DECIMAL(38,0) AS sx, sum(y)::DECIMAL(38,0) AS sy,
        |        sum(x::DECIMAL(38,0) * x)::DECIMAL(38,0) AS sxx,
        |        sum(y::DECIMAL(38,0) * y)::DECIMAL(38,0) AS syy,
        |        sum(x::DECIMAL(38,0) * y)::DECIMAL(38,0) AS sxy
        |      FROM li GROUP BY 1)
        |SELECT l_returnflag, n,
        |  round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |    / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |       * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6) AS corr,
        |  round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |    / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6) AS slope
        |FROM g ORDER BY l_returnflag""".stripMargin,
    "table_checksum" ->
      """WITH c AS (SELECT ('0x' || substr(sha256(concat_ws('|', c_custkey, c_name,
        |    c_mktsegment, CAST(round(c_acctbal * 100) AS BIGINT))), 1, 15))::BIGINT AS hv
        |  FROM customer),
        |o AS (SELECT ('0x' || substr(sha256(concat_ws('|', o_orderkey, o_custkey,
        |    o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT))), 1, 15))::BIGINT AS hv
        |  FROM orders),
        |l AS (SELECT ('0x' || substr(sha256(concat_ws('|', l_orderkey, l_linenumber,
        |    CAST(l_quantity AS BIGINT),
        |    CAST(round(l_extendedprice * 100) AS BIGINT))), 1, 15))::BIGINT AS hv
        |  FROM lineitem)
        |SELECT 'customer' AS tbl, count(*)::BIGINT AS n_rows,
        |  bit_xor(hv)::BIGINT AS fingerprint FROM c
        |UNION ALL SELECT 'orders', count(*), bit_xor(hv) FROM o
        |UNION ALL SELECT 'lineitem', count(*), bit_xor(hv) FROM l
        |ORDER BY tbl""".stripMargin,
    "mode_per_group" ->
      """WITH c AS (SELECT lang, source, count(*)::BIGINT AS n
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang
        |        ORDER BY n DESC, source) AS rn FROM c)
        |SELECT lang, source, n FROM r WHERE rn = 1 ORDER BY lang""".stripMargin,
    "assign_ids" ->
      """SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  row_number() OVER (ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
        |    o_orderkey)::BIGINT AS rid
        |FROM orders ORDER BY rid""".stripMargin,
    "skew_report" ->
      """WITH p AS (
        |  SELECT 'l_orderkey' AS col_name, count(*)::BIGINT AS cnt
        |  FROM lineitem GROUP BY l_orderkey
        |  UNION ALL
        |  SELECT 'l_partkey', count(*) FROM lineitem GROUP BY l_partkey
        |  UNION ALL
        |  SELECT 'l_suppkey', count(*) FROM lineitem GROUP BY l_suppkey)
        |SELECT col_name, count(*)::BIGINT AS n_keys, max(cnt)::BIGINT AS max_key_rows,
        |  sum(cnt)::BIGINT AS n_rows, (max(cnt) * 100 > sum(cnt)) AS skewed
        |FROM p GROUP BY col_name ORDER BY col_name""".stripMargin,
    "lag_features" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id,
        |  coalesce(array_to_string(list(cents) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), ','), '') AS feat
        |FROM ev ORDER BY event_id""".stripMargin,
    "feature_scale" ->
      """WITH ev AS (SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |g AS (SELECT event_type, count(*)::BIGINT AS n,
        |        sum(cents)::DECIMAL(38,0) AS s,
        |        sum(cents::DECIMAL(38,0) * cents)::DECIMAL(38,0) AS sq FROM ev GROUP BY 1)
        |SELECT ev.event_id,
        |  round((ev.cents - s::DOUBLE / n)
        |        / sqrt(sq::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n)), 6) AS z
        |FROM ev JOIN g USING (event_type) ORDER BY event_id""".stripMargin,
    "dpp_join" ->
      """WITH o AS (SELECT CAST(month(o_orderdate) AS INT) AS omonth,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |d AS (SELECT (range + 1)::INT AS omonth, (range // 3 + 1)::INT AS quarter
        |      FROM range(12))
        |SELECT omonth, count(*)::BIGINT AS n, sum(cents)::BIGINT AS revenue
        |FROM o JOIN d USING (omonth) WHERE quarter = 2
        |GROUP BY omonth ORDER BY omonth""".stripMargin,
    "equidepth_histogram" ->
      """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey FROM orders),
        |b AS (SELECT cents, ntile(16) OVER (ORDER BY cents, o_orderkey) AS bucket FROM o)
        |SELECT bucket, count(*)::BIGINT AS n, min(cents)::BIGINT AS min_cents,
        |  max(cents)::BIGINT AS max_cents
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "pareto_front" ->
      """WITH p AS (SELECT CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
        |    p_size::BIGINT AS size FROM part WHERE p_partkey < 2000),
        |g AS (SELECT cents, max(size)::BIGINT AS size FROM p GROUP BY 1)
        |SELECT cents, size FROM g a WHERE NOT EXISTS (
        |  SELECT 1 FROM g b WHERE b.cents >= a.cents AND b.size >= a.size
        |    AND (b.cents > a.cents OR b.size > a.size))
        |ORDER BY cents""".stripMargin,
    "outlier_zscore" ->
      """WITH o AS (SELECT o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |g AS (SELECT st, count(*)::DECIMAL(38,0) AS n, sum(cents)::DECIMAL(38,0) AS s,
        |        sum(cents::DECIMAL(38,0) * cents)::DECIMAL(38,0) AS sq
        |      FROM o GROUP BY 1)
        |SELECT o.st, count(*)::BIGINT AS n_rows,
        |  count(*) FILTER (WHERE 4*(g.n*o.cents - g.s)*(g.n*o.cents - g.s)
        |                       > 9*(g.n*g.sq - g.s*g.s))::BIGINT AS n_outliers,
        |  min(o.cents) FILTER (WHERE 4*(g.n*o.cents - g.s)*(g.n*o.cents - g.s)
        |                       > 9*(g.n*g.sq - g.s*g.s))::BIGINT AS min_outlier_cents
        |FROM o JOIN g ON o.st = g.st GROUP BY o.st ORDER BY o.st""".stripMargin,
    "window_percentile" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey,
        |    l_quantity::BIGINT AS q,
        |    (l_shipdate::DATE - DATE '1970-01-01')::BIGINT AS sday FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_partkey,
        |  median(q) OVER (PARTITION BY l_partkey
        |    ORDER BY sday, l_orderkey, l_linenumber, q
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)::DOUBLE AS med
        |FROM li ORDER BY l_orderkey, l_linenumber, l_partkey, med""".stripMargin,
    "agg_funcs2" ->
      """SELECT l_returnflag,
        |  count(*) FILTER (WHERE l_discount > 0.05)::BIGINT AS n_disc,
        |  bool_and(l_quantity >= 1.0) AS all_q1,
        |  bool_or(l_tax > 0.07) AS any_hitax,
        |  count(*) FILTER (WHERE l_linestatus = 'F')::BIGINT AS n_f
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "approx_quantile" ->
      """WITH x AS (SELECT l_returnflag AS rf,
        |             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |           FROM lineitem),
        |r AS (SELECT rf, cents,
        |        row_number() OVER (PARTITION BY rf ORDER BY cents) AS rn,
        |        count(*) OVER (PARTITION BY rf) AS n FROM x)
        |SELECT rf, max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS p50_exact,
        |  1::INT AS within_band
        |FROM r GROUP BY rf ORDER BY rf""".stripMargin,
    "try_funcs" ->
      """WITH x AS (SELECT c_custkey, c_name,
        |             CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer)
        |SELECT c_custkey,
        |  round(CASE WHEN c_custkey % 5 = 0 THEN NULL
        |        ELSE bal::DOUBLE / (c_custkey % 5)::DOUBLE END, 6) AS per_bucket,
        |  TRY_CAST(c_name AS DOUBLE) AS name_num,
        |  TRY_CAST(substring(c_name, 10) AS BIGINT) AS id_num
        |FROM x ORDER BY c_custkey""".stripMargin,
    "filtered_agg" ->
      """SELECT l_returnflag,
        |  count(*)::BIGINT AS n_all,
        |  (count(*) FILTER (WHERE l_quantity > 25))::BIGINT AS n_heavy,
        |  (sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |     FILTER (WHERE l_discount > 0.05))::BIGINT AS cents_discounted,
        |  (count(*) FILTER (WHERE l_linestatus = 'F'))::BIGINT AS n_finished
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "window_nav" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, qty,
        |  first_value(l_orderkey) OVER w AS first_okey,
        |  last_value(l_orderkey) OVER wf AS last_okey,
        |  nth_value(l_orderkey, 3) OVER wf AS third_okey,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd
        |FROM (SELECT l_returnflag, l_orderkey, l_linenumber,
        |        CAST(l_quantity AS BIGINT) AS qty FROM lineitem)
        |WINDOW w AS (PARTITION BY l_returnflag
        |             ORDER BY qty DESC, l_orderkey, l_linenumber),
        |  wf AS (PARTITION BY l_returnflag
        |         ORDER BY qty DESC, l_orderkey, l_linenumber
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY l_returnflag, qty DESC, l_orderkey, l_linenumber""".stripMargin,
    // same binning stated as pure integer division (bucket width 2^22)
    "histogram" ->
      """WITH x AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT (cents // 4194304 + 1)::INT AS bucket, count(*)::BIGINT AS n,
        |  min(cents)::BIGINT AS min_cents, max(cents)::BIGINT AS max_cents
        |FROM x GROUP BY bucket ORDER BY bucket""".stripMargin,
    "math_funcs" ->
      """WITH x AS (SELECT c_custkey,
        |             CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer)
        |SELECT c_custkey, abs(bal)::BIGINT AS abs_bal, sign(bal)::INT AS sgn,
        |  round(sqrt((abs(bal))::DOUBLE), 6) AS sqrt_bal,
        |  round(ln((abs(bal) + 1)::DOUBLE), 6) AS ln_bal,
        |  (1::BIGINT << (c_custkey % 16))::BIGINT AS pow2,
        |  (((bal % 97) + 97) % 97)::BIGINT AS mod97
        |FROM x ORDER BY c_custkey""".stripMargin,
    "spearman_corr" ->
      """WITH x AS (SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS px,
        |             sum(CAST(l_quantity AS BIGINT))::BIGINT AS qy
        |           FROM lineitem GROUP BY l_orderkey),
        |gx AS (SELECT px, count(*)::BIGINT AS c FROM x GROUP BY 1),
        |cx AS (SELECT px, 2 * (sum(c) OVER (ORDER BY px) - c) + c + 1 AS r2px FROM gx),
        |gy AS (SELECT qy, count(*)::BIGINT AS c FROM x GROUP BY 1),
        |cy AS (SELECT qy, 2 * (sum(c) OVER (ORDER BY qy) - c) + c + 1 AS r2qy FROM gy),
        |j AS (SELECT r2px, r2qy FROM x JOIN cx USING (px) JOIN cy USING (qy)),
        |s AS (SELECT count(*)::BIGINT AS n, sum(r2px) AS sx, sum(r2qy) AS sy,
        |        sum(r2px*r2px) AS sxx, sum(r2qy*r2qy) AS syy, sum(r2px*r2qy) AS sxy FROM j)
        |SELECT n, round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |  / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |     * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6) AS rho_6dp
        |FROM s""".stripMargin,
    "winsorize" ->
      """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |n AS (SELECT count(*)::BIGINT AS n FROM o),
        |r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM o),
        |p AS (SELECT
        |  (SELECT cents FROM r, n WHERE rn = greatest(1, (5 * n + 99) // 100)) AS p05,
        |  (SELECT cents FROM r, n WHERE rn = greatest(1, (95 * n + 99) // 100)) AS p95)
        |SELECT n, p05, p95,
        |  (SELECT sum(cents) // count(*) FROM o)::BIGINT AS mean_cents,
        |  (SELECT sum(least(greatest(cents, p05), p95)) // count(*) FROM o, p)::BIGINT AS mean_winsorized,
        |  (SELECT count(*) FROM o, p WHERE cents < p05)::BIGINT AS n_clipped_low,
        |  (SELECT count(*) FROM o, p WHERE cents > p95)::BIGINT AS n_clipped_high
        |FROM n, p""".stripMargin,
    "ks_test" ->
      """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |             o_orderkey % 2 = 0 AS a FROM orders),
        |g AS (SELECT cents,
        |        sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS ca,
        |        sum(CASE WHEN NOT a THEN 1 ELSE 0 END)::BIGINT AS cb
        |      FROM o GROUP BY 1),
        |c AS (SELECT cents,
        |        sum(ca) OVER (ORDER BY cents) AS cuma,
        |        sum(cb) OVER (ORDER BY cents) AS cumb FROM g),
        |n AS (SELECT sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS n1,
        |        sum(CASE WHEN NOT a THEN 1 ELSE 0 END)::BIGINT AS n2 FROM o)
        |SELECT n1, n2,
        |  CAST(round(max(abs(cuma::DOUBLE / n1 - cumb::DOUBLE / n2)) * 1000000) AS BIGINT) AS d_micro
        |FROM c, n GROUP BY n1, n2""".stripMargin,
    "psi_drift" ->
      """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    (year(o_orderdate) <= 1997) AS is_ref FROM orders),
        |b AS (SELECT least(cents // 4194304, 15) AS bucket, is_ref FROM o),
        |c AS (SELECT bucket,
        |        count(*) FILTER (is_ref)::BIGINT AS n_ref,
        |        count(*) FILTER (NOT is_ref)::BIGINT AS n_cur
        |      FROM b GROUP BY bucket),
        |t AS (SELECT sum(n_ref)::BIGINT AS tot_ref, sum(n_cur)::BIGINT AS tot_cur FROM c)
        |SELECT bucket, n_ref, n_cur,
        |  round(((n_cur + 1)::DOUBLE / (tot_cur + 16)::DOUBLE
        |         - (n_ref + 1)::DOUBLE / (tot_ref + 16)::DOUBLE)
        |        * ln(((n_cur + 1)::DOUBLE / (tot_cur + 16)::DOUBLE)
        |             / ((n_ref + 1)::DOUBLE / (tot_ref + 16)::DOUBLE)), 9) AS psi_contrib
        |FROM c CROSS JOIN t ORDER BY bucket""".stripMargin,
    "gap_fill" ->
      """WITH ev AS (SELECT user_id,
        |              (epoch_us(ts) // 3600000000) * 3600000 AS hour_ms
        |            FROM events WHERE user_id < 50),
        |c AS (SELECT user_id, hour_ms, count(*)::BIGINT AS n FROM ev GROUP BY 1, 2),
        |s AS (SELECT user_id, min(hour_ms) AS lo, max(hour_ms) AS hi FROM ev GROUP BY 1),
        |h AS (SELECT user_id, unnest(generate_series(lo, hi, 3600000)) AS hour_ms FROM s)
        |SELECT h.user_id, h.hour_ms::BIGINT AS hour_ms, coalesce(c.n, 0)::BIGINT AS n
        |FROM h LEFT JOIN c ON h.user_id = c.user_id AND h.hour_ms = c.hour_ms
        |ORDER BY 1, 2""".stripMargin,
    "vocab_idf" ->
      s"""WITH t AS (SELECT unnest(list_distinct($ToksNE)) AS tok FROM documents),
         |d AS (SELECT tok, count(*)::BIGINT AS df FROM t GROUP BY 1),
         |n AS (SELECT count(*)::BIGINT AS n_docs FROM documents)
         |SELECT tok, df, n_docs,
         |  round(ln((n_docs + 1)::DOUBLE / (df + 1)::DOUBLE), 6) AS idf
         |FROM d, n ORDER BY tok""".stripMargin,
    "dedup_incremental" ->
      """SELECT doc_id, sha256(text) AS text_sha FROM documents d
        |WHERE doc_id >= 250 AND NOT EXISTS (
        |  SELECT 1 FROM documents e
        |  WHERE e.doc_id < 300 AND sha256(e.text) = sha256(d.text))
        |ORDER BY doc_id""".stripMargin,
    "tf_idf" ->
      s"""WITH occ AS (SELECT doc_id, unnest($ToksNE) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM occ GROUP BY 1, 2),
         |df AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
         |sc AS (SELECT doc_id, tok, tf,
         |         tf::DOUBLE * round(ln((n_docs + 1)::DOUBLE / (df + 1)::DOUBLE), 6) AS score
         |       FROM tf JOIN df USING (tok), n),
         |r AS (SELECT *, row_number() OVER
         |        (PARTITION BY doc_id ORDER BY score DESC, tok) AS rn FROM sc)
         |SELECT doc_id, tok, tf, score FROM r WHERE rn <= 3
         |ORDER BY doc_id, score DESC, tok""".stripMargin,
    "event_chain" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) // 1000 AS ts_ms, event_type,
        |    lag(event_id) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000, event_id) AS prev_id,
        |    lag(epoch_us(ts) // 1000) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000, event_id) AS prev_ts
        |  FROM events),
        |chain(purchase_id, cur_id, depth) AS (
        |  SELECT event_id, event_id, 0::BIGINT FROM ev
        |  WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT c.purchase_id, e.prev_id, c.depth + 1
        |  FROM chain c JOIN ev e ON e.event_id = c.cur_id
        |  WHERE e.prev_id IS NOT NULL AND e.ts_ms - e.prev_ts <= 1800000
        |    AND c.depth < 64)
        |SELECT purchase_id, max(depth)::BIGINT AS chain_len
        |FROM chain GROUP BY purchase_id ORDER BY purchase_id""".stripMargin,
    "variant_funcs" ->
      """SELECT event_type, count(*)::BIGINT AS cnt,
        |  sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "list_agg" ->
      """SELECT l_returnflag, string_agg(s, ',' ORDER BY s) AS statuses
        |FROM (SELECT DISTINCT l_returnflag, l_linestatus AS s FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "map_funcs" ->
      s"""WITH occ AS (SELECT doc_id, unnest($ToksNE) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*)::BIGINT AS cnt FROM occ GROUP BY 1, 2)
         |SELECT doc_id, max(CASE WHEN tok = 'the' THEN cnt END)::BIGINT AS the_cnt,
         |  count(*)::INT AS n_toks
         |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "cohort_retention" ->
      """WITH active AS (SELECT DISTINCT user_id,
        |                  (epoch_us(ts) // 86400000000) AS day FROM events),
        |cohort AS (SELECT user_id, min(day) AS cohort_day FROM active GROUP BY 1)
        |SELECT (cohort_day * 86400000)::BIGINT AS cohort_ms,
        |  (day - cohort_day)::BIGINT AS day_offset, count(*)::BIGINT AS n_users
        |FROM active JOIN cohort USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "zorder_code" ->
      s"""SELECT l_orderkey, l_linenumber, px, py,
         |  ${graft.functions.ZOrder.morton2Sql("px", "py")}::BIGINT AS z
         |FROM (SELECT l_orderkey, l_linenumber,
         |        (l_partkey % 1048576)::BIGINT AS px,
         |        (l_suppkey % 1048576)::BIGINT AS py FROM lineitem)
         |ORDER BY z, l_orderkey, l_linenumber""".stripMargin,
    "layout_prune" -> {
      def layout(name: String, ord: String) =
        s"""SELECT '$name' AS layout, count(*)::BIGINT AS n_zones,
           |  sum(CASE WHEN mx >= 10000 AND mn < 10090 THEN 1 ELSE 0 END)::BIGINT
           |    AS n_scanned,
           |  (10000 * (count(*) - sum(CASE WHEN mx >= 10000 AND mn < 10090
           |     THEN 1 ELSE 0 END)) // count(*))::BIGINT AS prune_bp
           |FROM (SELECT (rn - 1) // 1024 AS grp, min(day) AS mn, max(day) AS mx
           |      FROM (SELECT day, row_number() OVER (ORDER BY $ord) AS rn FROM li)
           |      GROUP BY 1)""".stripMargin
      s"""WITH li AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
         |    epoch_ms(l_shipdate) // 86400000 AS day FROM lineitem)
         |SELECT * FROM (
         |${layout("ingest", "ok, ln")}
         |UNION ALL
         |${layout("shipdate_sorted", "day, ok, ln")}
         |UNION ALL
         |${layout("hashed", "(ok * 2654435761) % 1000000007, ok, ln")})
         |ORDER BY layout""".stripMargin
    },
    "skew_agg" ->
      """SELECT l_returnflag, count(*)::BIGINT AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "skew_join" ->
      """SELECT n_name, count(*)::BIGINT AS n_cust,
        |  sum(CAST(round(c_acctbal * 100) AS BIGINT))::BIGINT AS bal_cents
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey)::BIGINT AS n_exact,
        |  1::INT AS within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
  )
}
