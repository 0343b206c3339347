package graft.queries

import graft.functions.{Djb2, TextFns}
import graft.sources.{ReferenceCorpus, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tier A/B queries (SURVEY.md §2): the reference's flagship word count and
  * the declared relational query inventory, each paired with an equivalent
  * DuckDB oracle SQL for the driver's hash-compare gate.
  *
  * Conventions (SURVEY.md §2 determinism rules):
  *   - every query ends in a total ORDER BY;
  *   - counts are BIGINT; money aggregates are exact integer cents
  *     (`round(x*100)::BIGINT` summed as int64 — no float-sum drift);
  *   - derived doubles only via bit-deterministic ops on exact ints.
  */
object Core {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)

  /** Tokens of documents.text, one row per token, empties preserved
    * (reference semantics, distwc.c:14-18).
    */
  def tokenStream(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), TextFns.explodedTokens(col("text")).as("token"))

  // DuckDB fragment mirroring tokenStream
  private val TokSql =
    "SELECT doc_id, unnest(string_split_regex(text, '[ \t\n\r]')) AS token FROM documents"

  /** The reference's flagship query (distwc.c): word count over documents. */
  def wordcount(s: SparkSession, d: String): DataFrame =
    tokenStream(s, d)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("token"))

  /** Word count over the reference's sample corpus, whole-file reads
    * (A1/A2; golden invariant: 21 words x 5000, FIXTURES.md §1). Reads
    * [[ReferenceCorpus]], the seeded in-repo stand-in that holds every §1
    * invariant, so the query needs no files outside the checkout.
    */
  def wordcountFiles(s: SparkSession, d: String): DataFrame =
    s.read.option("wholetext", "true")
      .text(ReferenceCorpus.dir)
      .select(TextFns.explodedTokens(col("value")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("token"))

  /** (djb2(token) % 10, token, cnt) — partition-layout parity with the
    * reference (A5, mapreduce.c:154-160). No SQL oracle (checked in the
    * Djb2Spec golden test against FIXTURES.md §1 instead).
    */
  def partitionedWc(s: SparkSession, d: String): DataFrame =
    wordcount(s, d)
      .withColumn("partition_id", Djb2.djb2Pid(col("token"), 10))
      .select(col("partition_id"), col("token"), col("cnt"))
      .orderBy(col("partition_id"), col("token"))

  /** DISTINCT on key — A7 unique-key iteration semantics. */
  def distinctTokens(s: SparkSession, d: String): DataFrame =
    tokenStream(s, d).select(col("token")).distinct().orderBy(col("token"))

  /** Generalized count reducer (A9): count by group. */
  def groupedCount(s: SparkSession, d: String): DataFrame =
    li(s, d).groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag"))

  /** The user-defined-reducer (UDAF) surface run through the oracle
    * gate: quantity-weighted mean line price per return flag via the
    * typed [[graft.operators.MRAggregators.WeightedMeanCents]]
    * Aggregator — the reference's reducer hook (`mapreduce.h:6`)
    * expressed so Catalyst runs it WITH partial aggregation (two longs
    * per group cross the shuffle, not every row; the mapGroups
    * formulation of the same fold ships the whole group).
    */
  def weightedAvgAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg = new graft.operators.MRAggregators.WeightedMeanCents
    li(s, d)
      .select(col("l_returnflag"), col("l_quantity").cast("long"),
        round(col("l_extendedprice") * 100).cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, q, c) => (q, c) }
      .agg(agg.toColumn.name("wavg_cents"))
      .toDF("l_returnflag", "wavg_cents")
      .orderBy(col("l_returnflag"))
  }

  /** TPC-H Q1-shape aggregate (arbitrary-reducer capability, A7-A9).
    * Money kept as exact integer cents; avg derived from exact ints.
    */
  def groupedAgg(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("base_cents"),
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("long")).as("disc_cents"),
        count(lit(1)).as("cnt"))
      .withColumn("avg_qty", col("sum_qty").cast("double") / col("cnt"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Filter + projection — pushed down to the parquet scan.
    * ORDER BY covers every output column: the synthetic lineitem has
    * duplicate (l_orderkey, l_linenumber) pairs (118k at sf0.1), so a
    * partial sort key leaves content-bearing ties in engine-dependent
    * order and the hash-compare flakes.
    */
  def filterProject(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .filter(col("l_quantity") > 30)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))

  /** orders ⨝ customer — the MR tagged-union join pattern as a native join.
    * NO broadcast hint on purpose: customer grows linearly with scale
    * factor (~15 B rows at the 100 TB north star), so a forced broadcast
    * would OOM there. AQE picks broadcast-hash at small sf from runtime
    * size stats and degrades to shuffled-hash/sort-merge as customer
    * grows — the graceful path a pinned hint forecloses. (Explicit
    * `broadcast()` stays reserved for true fixed-size dims: nation=25,
    * region=5 in dimJoin.)
    */
  def repartitionJoin(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      .orderBy(col("c_mktsegment"))

  /** token -> sorted distinct doc ids (classic MR inverted index; A8).
    * The posting list is emitted as a comma-joined string, not an array:
    * the driver's oracle compare hashes cell values and array cells are
    * unhashable on the pandas side (round-1 FAIL), and a flat string is
    * also what the reference's text sink would print.
    */
  def invertedIndex(s: SparkSession, d: String): DataFrame =
    tokenStream(s, d)
      .groupBy(col("token"))
      .agg(array_join(
        transform(sort_array(collect_set(col("doc_id"))), _.cast("string")),
        ",").as("doc_ids"))
      .orderBy(col("token"))

  /** Top 20 tokens by count (reducer + global sort/limit). */
  def topK(s: SparkSession, d: String): DataFrame =
    tokenStream(s, d)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(20)

  /** Set ops (implicit multi-file UNION ALL generalized): nations that have
    * customers INTERSECT nations that have suppliers, minus heavy ones.
    */
  def setOps(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
    val supp = Tables.supplier(s, d).select(col("s_nationkey").as("nationkey"))
    cust.intersect(supp).union(cust.except(supp)).distinct().orderBy(col("nationkey"))
  }

  /** ROLLUP aggregate — grouping-set capability beyond the reference. */
  def rollupAgg(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), sum(col("l_quantity").cast("long")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Window-function battery: lag/lead/rank/dense_rank/ntile over the
    * per-supplier shipment order (complements window_running's
    * row_number + running sum).
    */
  def windowFuncs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"))
    li(s, d)
      .withColumn("qty", col("l_quantity").cast("long"))
      .withColumn("rn", row_number().over(w))
      .withColumn("prev_qty", lag(col("qty"), 1).over(w))
      .withColumn("next_qty", lead(col("qty"), 1).over(w))
      .withColumn("qty_rank", rank().over(
        Window.partitionBy(col("l_suppkey")).orderBy(col("qty"))))
      .withColumn("qty_dense", dense_rank().over(
        Window.partitionBy(col("l_suppkey")).orderBy(col("qty"))))
      .withColumn("quartile", ntile(4).over(w))
      .select(col("l_suppkey"), col("rn"), col("qty"), col("prev_qty"),
        col("next_qty"), col("qty_rank"), col("qty_dense"), col("quartile"))
      .orderBy(col("l_suppkey"), col("rn"))
  }

  /** Multi-way dimension join: suppliers per region (nation ⨝ region ⨝
    * supplier), all broadcast-able dims, plus part-type counts — touches
    * every remaining dimension table.
    */
  def dimJoin(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        count_distinct(col("n_name")).as("n_nations"))
      .orderBy(col("r_name"))

  /** Parts rollup by brand — the last untouched table. */
  def partStats(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("p_size").cast("long")).as("total_size"),
        sum(round(col("p_retailprice") * 100).cast("long")).as("price_cents"))
      .orderBy(col("p_brand"))

  /** Outer join: every customer with their order count (0 when none). */
  def outerJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy(col("c_custkey"))

  /** Date/time scalar functions: monthly order rollup. */
  def dateFuncs(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("y"), col("m"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
      .orderBy(col("y"), col("m"))

  /** String scalar functions over customer names. */
  def stringFuncs(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(col("c_custkey"),
        upper(col("c_name")).as("uname"),
        length(col("c_name")).as("name_len"),
        substring(col("c_name"), 1, 5).as("name_pfx"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
        reverse(col("c_name")).as("rname"),
        levenshtein(col("c_name"), col("c_mktsegment")).as("lev"))
      .orderBy(col("c_custkey"))

  /** Semi/anti joins: customers with orders vs customers without. */
  def semiAntiJoin(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val orders = Tables.orders(s, d).select(col("o_custkey"))
    val withOrders = cust.join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("has_orders").as("status"))
    val withoutOrders = cust.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("no_orders").as("status"))
    withOrders.unionByName(withoutOrders).orderBy(col("c_custkey"))
  }

  /** Pivot: events per user by type, explicit value list so the output
    * column set is fixed at plan time (required for a stable schema at
    * any scale — dynamic pivot values force an extra collect).
    */
  def pivotEvents(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    graft.streaming.Sessions.events(s, d)
      .groupBy(col("user_id"))
      .pivot(col("event_type"), types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
      .orderBy(col("user_id"))
  }

  /** Top 3 lineitems per return flag via the custom heap-based
    * TopKPerGroup operator (graft.plans) — no per-group sort at any
    * scale; ties broken totally by (orderkey, linenumber).
    */
  def topKPerGroup(s: SparkSession, d: String): DataFrame = {
    val picked = graft.plans.TopKPerGroup(
      li(s, d), Seq("l_returnflag"),
      Seq(col("l_quantity").desc, col("l_orderkey").asc, col("l_linenumber").asc),
      k = 3)
    picked.select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("qty"))
      .orderBy(col("l_returnflag"), col("qty").desc, col("l_orderkey"), col("l_linenumber"))
  }

  /** CUBE aggregate — all grouping-set combinations. */
  def cubeAgg(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), sum(col("l_quantity").cast("long")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Window functions: per-supplier running quantity + row number. */
  def windowRunning(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // qty tie-break: (shipdate, orderkey, linenumber) is NOT unique in the
    // synthetic data; without it rn assignment among content-differing
    // ties is engine-dependent
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"))
    li(s, d)
      .withColumn("qty", col("l_quantity").cast("long"))
      .withColumn("rn", row_number().over(w))
      .withColumn("running_qty",
        sum(col("qty")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        // epoch millis, not raw timestamp: avoids tz-awareness mismatches
        // between Spark's TIMESTAMP_NTZ parquet read and DuckDB's TIMESTAMP.
        // NTZ -> LTZ cast uses the UTC session tz, so epoch values agree.
        unix_millis(col("l_shipdate").cast("timestamp")).as("ship_ms"),
        col("qty"), col("rn"), col("running_qty"))
      .orderBy(col("l_suppkey"), col("rn"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wordcount" -> wordcount,
    "wordcount_files" -> wordcountFiles,
    "partitioned_wc" -> partitionedWc,
    "distinct_tokens" -> distinctTokens,
    "grouped_count" -> groupedCount,
    "grouped_agg" -> groupedAgg,
    "filter_project" -> filterProject,
    "repartition_join" -> repartitionJoin,
    "inverted_index" -> invertedIndex,
    "top_k" -> topK,
    "set_ops" -> setOps,
    "rollup_agg" -> rollupAgg,
    "cube_agg" -> cubeAgg,
    "window_running" -> windowRunning,
    "topk_per_group" -> topKPerGroup,
    "semi_anti_join" -> semiAntiJoin,
    "pivot_events" -> pivotEvents,
    "outer_join" -> outerJoin,
    "date_funcs" -> dateFuncs,
    "string_funcs" -> stringFuncs,
    "dim_join" -> dimJoin,
    "part_stats" -> partStats,
    "window_funcs" -> windowFuncs,
    "weighted_avg_agg" -> weightedAvgAgg,
  )

  /** A def, so initialising `Core` does not write the corpus. */
  def oracleSql: Map[String, String] = Map(
    "weighted_avg_agg" ->
      """SELECT l_returnflag,
        |  (sum(CAST(l_quantity AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT))
        |     // sum(CAST(l_quantity AS BIGINT)))::BIGINT AS wavg_cents
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "wordcount" ->
      s"""SELECT token, count(*)::BIGINT AS cnt FROM ($TokSql) GROUP BY token ORDER BY token""",
    // concatenated, not s"""…""": an interpolator would turn the regex's
    // \t\n\r escapes into raw characters
    "wordcount_files" ->
      ("""SELECT token, count(*)::BIGINT AS cnt
        | FROM (SELECT unnest(string_split_regex(content, '[ \t\n\r]')) AS token
        |       FROM read_text('""" + ReferenceCorpus.dir + """/*.txt'))
        | GROUP BY token ORDER BY token""").stripMargin,
    // partitioned_wc: omitted — djb2 not pure-SQL; golden-tested instead.
    "distinct_tokens" ->
      s"""SELECT DISTINCT token FROM ($TokSql) ORDER BY token""",
    "grouped_count" ->
      "SELECT l_returnflag, count(*)::BIGINT AS cnt FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    "grouped_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(CAST(l_quantity AS BIGINT))::BIGINT AS sum_qty,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS base_cents,
        |  sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT))::BIGINT AS disc_cents,
        |  count(*)::BIGINT AS cnt,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty
        | FROM lineitem
        | WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        | GROUP BY l_returnflag, l_linestatus
        | ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
        | FROM lineitem WHERE l_quantity > 30
        | ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag""".stripMargin,
    "repartition_join" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS n_orders,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS total_cents
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "inverted_index" ->
      s"""SELECT token, string_agg(doc_id, ',' ORDER BY doc_id) AS doc_ids
         | FROM (SELECT DISTINCT token, doc_id FROM ($TokSql))
         | GROUP BY token ORDER BY token""".stripMargin,
    "top_k" ->
      s"""SELECT token, count(*)::BIGINT AS cnt FROM ($TokSql)
         | GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin,
    "set_ops" ->
      """SELECT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  INTERSECT
        |  SELECT s_nationkey AS nationkey FROM supplier
        |  UNION
        |  (SELECT c_nationkey AS nationkey FROM customer
        |   EXCEPT
        |   SELECT s_nationkey AS nationkey FROM supplier)
        | ) ORDER BY nationkey""".stripMargin,
    "rollup_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS cnt,
        |  sum(CAST(l_quantity AS BIGINT))::BIGINT AS sum_qty
        | FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        | ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "window_funcs" ->
      """SELECT l_suppkey, rn, qty, prev_qty, next_qty, qty_rank, qty_dense, quartile FROM (
        |  SELECT l_suppkey, CAST(l_quantity AS BIGINT) AS qty,
        |    (row_number() OVER w)::INT AS rn,
        |    lag(CAST(l_quantity AS BIGINT)) OVER w AS prev_qty,
        |    lead(CAST(l_quantity AS BIGINT)) OVER w AS next_qty,
        |    (rank() OVER (PARTITION BY l_suppkey ORDER BY CAST(l_quantity AS BIGINT)))::INT AS qty_rank,
        |    (dense_rank() OVER (PARTITION BY l_suppkey ORDER BY CAST(l_quantity AS BIGINT)))::INT AS qty_dense,
        |    (ntile(4) OVER w)::INT AS quartile
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity))
        |ORDER BY l_suppkey, rn""".stripMargin,
    "dim_join" ->
      """SELECT r_name, count(*)::BIGINT AS n_suppliers,
        |  count(DISTINCT n_name)::BIGINT AS n_nations
        | FROM supplier
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        | GROUP BY r_name ORDER BY r_name""".stripMargin,
    "part_stats" ->
      """SELECT p_brand, count(*)::BIGINT AS n_parts,
        |  sum(CAST(p_size AS BIGINT))::BIGINT AS total_size,
        |  sum(CAST(round(p_retailprice * 100) AS BIGINT))::BIGINT AS price_cents
        | FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "outer_join" ->
      """SELECT c_custkey, count(o_orderkey)::BIGINT AS n_orders
        | FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        | GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "date_funcs" ->
      """SELECT year(o_orderdate)::INT AS y, month(o_orderdate)::INT AS m,
        |  count(*)::BIGINT AS n,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS total_cents
        | FROM orders GROUP BY y, m ORDER BY y, m""".stripMargin,
    "string_funcs" ->
      """SELECT c_custkey, upper(c_name) AS uname, length(c_name)::INT AS name_len,
        |  substring(c_name, 1, 5) AS name_pfx,
        |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
        |  reverse(c_name) AS rname,
        |  levenshtein(c_name, c_mktsegment)::INT AS lev
        | FROM customer ORDER BY c_custkey""".stripMargin,
    "semi_anti_join" ->
      """SELECT c_custkey, 'has_orders' AS status FROM customer
        | WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' AS status FROM customer
        | WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "pivot_events" ->
      """SELECT user_id,
        |  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
        |  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error,
        |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
        |  sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
        |  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view
        | FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "topk_per_group" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, qty FROM (
        |  SELECT l_returnflag, l_orderkey, l_linenumber,
        |    CAST(l_quantity AS BIGINT) AS qty,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_quantity DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem)
        | WHERE rn <= 3
        | ORDER BY l_returnflag, qty DESC, l_orderkey, l_linenumber""".stripMargin,
    "cube_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS cnt,
        |  sum(CAST(l_quantity AS BIGINT))::BIGINT AS sum_qty
        | FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        | ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, epoch_ms(l_shipdate) AS ship_ms, qty,
        |  row_number() OVER w AS rn,
        |  (sum(qty) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS running_qty
        | FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
        |         CAST(l_quantity AS BIGINT) AS qty FROM lineitem)
        | WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, qty)
        | ORDER BY l_suppkey, rn""".stripMargin,
  )
}
