package graft.queries

import graft.MaterializedCaches.persistOnce
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Commerce/product-analytics insight queries — the reporting layer a
  * data team runs ON TOP of the relational core: market-basket
  * association rules, OHLC downsampling, A/B contingency testing,
  * column/entropy profiling, the data-quality expectation battery,
  * growth series (DAU/WAU/cumulative via distinct-window-elimination
  * identities), decile lift and quantile transforms on the distributed
  * rank, trend decomposition with a MAD anomaly screen, Benford and
  * weekday forensics, dwell and conversion-latency behavioral metrics.
  * All outputs are exact integers (cents / basis points / epoch-ms)
  * except declared statistics (chi-square, entropy), which follow the
  * repo convention of ONE fixed double expression tree rounded to a
  * stated precision (psi_drift's pattern). The daily-revenue table is a
  * shared cached artifact ([[dailyRevenue]]) read by the three
  * time-series queries.
  */
object Insights {

  /** Orders with more distinct parts than this are dropped from pair
    * generation — same declared hub cap as the co-purchase graph
    * ([[Graph]].BasketCap): a k-part basket emits k(k−1)/2 pairs, and a
    * pathological mega-basket must not quadratically dominate the
    * explode. No-op at TPC-H shape (≤7 lines/order); mirrored in the
    * oracle.
    */
  private val BasketCap = 64

  /** Market-basket association rules over (order, part) baskets — the
    * classic retail co-occurrence report: for each part pair appearing
    * together in ≥2 orders, exact support / confidence (both directions)
    * / lift in integer basis points (lift in ppm). Pair counts come from
    * the dedup-family basket machinery (group the fact table by order,
    * explode ordered pairs from the sorted in-row part list —
    * [[graft.operators.Dedup.pairsOf]]) so there is NO fact-table
    * self-join; per-item supports are one hash aggregate joined onto the
    * (much smaller) qualifying-pair table, and the basket total is a
    * broadcast scalar. Top-100 by (n_uv, u, v) plans as
    * TakeOrderedAndProject — the driver never sees an unbounded result.
    */
  def assocRules(s: SparkSession, d: String): DataFrame = {
    // persisted: the distinct (order, part) table feeds three consumers
    // (pair explode, item supports, basket total) and is itself a
    // shuffle — recomputing it per reference would triple the query's
    // base cost
    val lp = persistOnce(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct())
    val pairs = lp.groupBy(col("ok"))
      .agg(sort_array(collect_list(col("pk"))).as("pks"))
      .filter(size(col("pks")) > 1 && size(col("pks")) <= BasketCap)
      .select(explode(graft.operators.Dedup.pairsOf(col("pks"), Int.MaxValue)).as("p"))
      .select(col("p.id1").as("u"), col("p.id2").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("n_uv"))
      .filter(col("n_uv") >= 2)
    // r18: the top-100 cut moves BEFORE the support joins — membership
    // is decided by (n_uv, u, v) alone, so joining supports onto the
    // 100 surviving rows instead of every qualifying pair is
    // result-identical (the final ORDER BY restores presentation
    // order). The old shape broadcast the full qualifying-pair set and
    // ran both support probes over it; now the pair stream ends at a
    // TakeOrdered(100) and the item table (persisted — it used to be
    // aggregated once per join side) joins 100 rows.
    val item = persistOnce(lp.groupBy(col("pk")).agg(count(lit(1)).as("n_item")))
    val n = broadcast(lp.agg(countDistinct(col("ok")).as("N")))
    pairs
      .orderBy(col("n_uv").desc, col("u"), col("v"))
      .limit(100)
      .join(item.select(col("pk").as("u"), col("n_item").as("n_u")), "u")
      .join(item.select(col("pk").as("v"), col("n_item").as("n_v")), "v")
      .crossJoin(n)
      .selectExpr("u", "v", "n_uv", "n_u", "n_v",
        "n_uv * 10000 div N AS support_bp",
        "n_uv * 10000 div n_u AS conf_uv_bp",
        "n_uv * 10000 div n_v AS conf_vu_bp",
        "n_uv * N * 1000000 div (n_u * n_v) AS lift_ppm")
      .orderBy(col("n_uv").desc, col("u"), col("v"))
  }

  /** Hourly OHLC bars per event type — the time-series downsampling
    * resample every metrics store performs before charting: open/close
    * are the cents value of the (ts, event_id)-first/last event in the
    * bucket via min/max over a (ts_ms, event_id, cents) struct (struct
    * ordering is lexicographic in BOTH engines, and (ts_ms, event_id)
    * is unique, so ties cannot reach the value field), high/low/volume
    * are plain aggregates. ONE hash aggregate with map-side partials —
    * no window, no second pass; at 100 TB the bucket count is
    * hours×types, constant in data size.
    */
  def ohlcBars(s: SparkSession, d: String): DataFrame = {
    val k = struct(col("ts_ms"), col("event_id"), col("cents"))
    graft.streaming.Sessions.events(s, d)
      .select(col("event_type").as("etype"), col("ts_ms"),
        col("event_id"), round(col("value") * 100).cast("long").as("cents"))
      .withColumn("bar_ms", expr("ts_ms div 3600000 * 3600000"))
      .groupBy(col("etype"), col("bar_ms"))
      .agg(min(k).as("o"), max(k).as("c"),
        max(col("cents")).as("high_c"), min(col("cents")).as("low_c"),
        count(lit(1)).as("n_events"), sum(col("cents")).as("vol_c"))
      .select(col("etype"), col("bar_ms"), col("o.cents").as("open_c"),
        col("high_c"), col("low_c"), col("c.cents").as("close_c"),
        col("n_events"), col("vol_c"))
      .orderBy(col("etype"), col("bar_ms"))
  }

  /** A/B contingency test — variant assignment by user-id parity (the
    * deterministic stand-in for a bucketing hash), success = the event
    * is a purchase; one conditional aggregate produces the full 2×2
    * table in a single pass (no groupBy+pivot), conversion rates in
    * exact basis points, and the 1-dof chi-square statistic as one
    * double expression tree rounded to 6 dp (the integer cross-products
    * overflow int64 beyond ~sf1, so the statistic is double by design —
    * same convention as psi_drift). Output is a single row.
    */
  def abChisq(s: SparkSession, d: String): DataFrame = {
    val a = col("user_id") % 2 === 0
    val p = col("event_type") === "purchase"
    graft.streaming.Sessions.events(s, d).agg(
        sum(when(a, 1L).otherwise(0L)).as("n_a"),
        sum(when(a && p, 1L).otherwise(0L)).as("x_a"),
        sum(when(!a, 1L).otherwise(0L)).as("n_b"),
        sum(when(!a && p, 1L).otherwise(0L)).as("x_b"))
      .selectExpr("n_a", "x_a", "n_b", "x_b",
        "x_a * 10000 div n_a AS conv_a_bp",
        "x_b * 10000 div n_b AS conv_b_bp",
        """round(CAST(n_a + n_b AS DOUBLE)
          |  * pow(CAST(x_a AS DOUBLE) * CAST(n_b - x_b AS DOUBLE)
          |        - CAST(x_b AS DOUBLE) * CAST(n_a - x_a AS DOUBLE), 2)
          |  / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
          |     * CAST(x_a + x_b AS DOUBLE)
          |     * CAST(n_a + n_b - x_a - x_b AS DOUBLE)), 6) AS chi2_6dp"""
          .stripMargin)
  }

  /** Per-column Shannon entropy of the orders table — the information
    * content companion to column_profile (low entropy flags constant /
    * near-constant columns; entropy == log2(n) flags keys). Values are
    * normalized to the repo's parity currencies and stringified, stacked
    * to (col_name, val) rows, counted exactly, then folded with
    * H = (ln N − Σ c·ln c / N) / ln 2 — all counting is exact integers;
    * doubles appear only in the final fixed expression tree at 6 dp
    * (after the /N the summation-order wobble of Σ c·ln c is ~1e-11,
    * three orders below the rounding step). Two hash aggregates, both
    * map-side combinable; the 6× stack multiplication is the same
    * exact-profiling trade column_profile documents.
    */
  def entropyProfile(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).selectExpr(
      "CAST(o_custkey AS STRING) AS c1",
      "CAST(unix_millis(CAST(o_orderdate AS TIMESTAMP)) AS STRING) AS c2",
      "CAST(o_orderkey AS STRING) AS c3",
      "o_orderpriority AS c4", "o_orderstatus AS c5",
      "CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING) AS c6")
    o.select(expr("stack(6, 'o_custkey', c1, 'o_orderdate', c2, " +
        "'o_orderkey', c3, 'o_orderpriority', c4, 'o_orderstatus', c5, " +
        "'o_totalprice', c6) AS (col_name, val)"))
      .groupBy(col("col_name"), col("val")).agg(count(lit(1)).as("c"))
      .groupBy(col("col_name"))
      .agg(sum(col("c")).as("n_vals"), count(lit(1)).as("n_distinct"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("sclnc"))
      .selectExpr("col_name", "n_vals", "n_distinct",
        "round((ln(CAST(n_vals AS DOUBLE)) - sclnc / CAST(n_vals AS DOUBLE))" +
          " / ln(2.0D), 6) AS entropy_6dp")
      .orderBy(col("col_name"))
  }

  /** Lag-1 and lag-7 autocorrelation of daily order revenue — the
    * seasonality screen run before any forecasting model (a high lag-7
    * value means weekly cycle). The daily series is one hash aggregate
    * (bounded by distinct days, constant in data size at fixed history);
    * each lag is an equi-self-join on shifted day — co-partitioned,
    * never a window over the raw fact table — and the Pearson term uses
    * the exact-decimal moment sums + one fixed double tree that corr_agg
    * pinned (the two queries must stay formula-identical).
    */
  def autocorrDaily(s: SparkSession, d: String): DataFrame = {
    // the same cached daily artifact trend_7d reads — the four
    // self-join branches below would otherwise each re-aggregate orders
    val daily = dailyRevenue(s, d)
    def at(lag: Long): DataFrame = {
      val j = daily.select(col("day"), col("cents").as("x"))
        .join(daily.select((col("day") - lag).as("day"), col("cents").as("y")),
          "day")
      val dx = col("x").cast("decimal(38,0)")
      val dy = col("y").cast("decimal(38,0)")
      val g = j.agg(count(lit(1)).as("n"),
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
      g.select(lit(lag).as("lag"), col("n"),
        round(cov / (sqrt(vx) * sqrt(vy)), 6).as("acf"))
    }
    at(1L).union(at(7L)).orderBy(col("lag"))
  }

  /** Declarative data-quality battery (the Deequ/`CHECK`-constraint
    * posture): seven named expectations over orders/lineitem/customer —
    * not-null, single- and composite-key uniqueness, two referential-
    * integrity checks, accepted values, a value range — each reported as
    * (check, n_checked, n_violations, passed). The five intra-table
    * checks fold into ONE conditional aggregate per table (no
    * per-check passes); the two FK checks are left-anti hash joins (the
    * plan that stays shuffle-bounded at 100 TB — never a NOT IN that
    * plans as a nested loop). The composite-key row deliberately FAILS
    * on the driver testdata (lineitem carries duplicate
    * (l_orderkey, l_linenumber) pairs) — a battery that can only pass
    * verifies nothing.
    */
  def dqChecks(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val ordersAgg = o.agg(count(lit(1)).as("n"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("v_null"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_uniq"),
        sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
          .as("v_vals"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("v_range"))
      .selectExpr(
        "stack(4, 'orders.o_custkey not_null', n, v_null," +
          " 'orders.o_orderkey unique', n, v_uniq," +
          " 'orders.o_orderstatus accepted_values', n, v_vals," +
          " 'orders.o_totalprice positive', n, v_range)" +
          " AS (check_name, n_checked, n_violations)")
    val liAgg = li.agg(count(lit(1)).as("n"),
        (count(lit(1)) -
          countDistinct(col("l_orderkey"), col("l_linenumber"))).as("v_ck"))
      .selectExpr("stack(1, 'lineitem.(l_orderkey,l_linenumber) unique', n, v_ck)" +
        " AS (check_name, n_checked, n_violations)")
    def fk(fact: DataFrame, factKey: String, dim: DataFrame, dimKey: String,
        name: String): DataFrame = {
      val nAll = fact.agg(count(lit(1)).as("n_checked"))
      val orphans = fact.join(dim.select(col(dimKey).as(factKey)).distinct(),
          Seq(factKey), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
      nAll.crossJoin(orphans)
        .select(lit(name).as("check_name"), col("n_checked"), col("n_violations"))
    }
    val fkCust = fk(o, "o_custkey", Tables.customer(s, d), "c_custkey",
      "orders.o_custkey fk customer")
    val fkOrd = fk(li, "l_orderkey", o, "o_orderkey",
      "lineitem.l_orderkey fk orders")
    ordersAgg.unionByName(liAgg).unionByName(fkCust).unionByName(fkOrd)
      .withColumn("passed", col("n_violations") === 0L)
      .orderBy(col("check_name"))
  }

  /** Daily active-and-cumulative user counts — the growth dashboard's
    * running-distinct series. The naive formulation (count(DISTINCT)
    * over an unbounded preceding window) re-scans history per day and
    * cannot scale; the one-pass identity is: a user contributes to the
    * cumulative count from their FIRST day — so one aggregate computes
    * each user's first day, a second counts new users per day, and the
    * running total is a broadcast theta-self-join over the ≤(history
    * days) rows (the decile_lift/pareto bounded-prefix pattern — no
    * SinglePartition window over anything data-sized).
    */
  def cumulativeUsers(s: SparkSession, d: String): DataFrame = {
    val ev = graft.streaming.Sessions.events(s, d)
      .select(col("user_id"), expr("ts_ms div 86400000").as("day"))
    val dau = ev.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("n_active"))
    val newPerDay = ev.groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_new"))
    val base = persistOnce(dau.join(newPerDay, Seq("day"), "left")
      .select(col("day"), col("n_active"), coalesce(col("n_new"), lit(0L)).as("n_new")))
    val cum = base.select(col("day").as("dk"))
      .join(broadcast(base.select(col("day"), col("n_new"))), col("day") <= col("dk"))
      .groupBy(col("dk")).agg(sum(col("n_new")).as("cum_users"))
    base.join(broadcast(cum), col("day") === col("dk"))
      .select(col("day"), col("n_active"), col("n_new"), col("cum_users"))
      .orderBy(col("day"))
  }

  /** Per-event-type dwell time — milliseconds until the same user's next
    * event (the engagement metric behind time-spent attribution): one
    * lead() over the per-user (ts, event_id) order — a KEYED window,
    * partition-parallel at any scale — then exact integer aggregates per
    * type (avg as sum div n; never double division).
    */
  def dwellTimes(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    graft.streaming.Sessions.events(s, d)
      .select(col("user_id"), col("event_type").as("etype"),
        col("ts_ms"), col("event_id"))
      .withColumn("dwell_ms", lead(col("ts_ms"), 1).over(w) - col("ts_ms"))
      .filter(col("dwell_ms").isNotNull)
      .groupBy(col("etype"))
      .agg(count(lit(1)).as("n"), sum(col("dwell_ms")).as("sum_ms"),
        max(col("dwell_ms")).as("max_ms"))
      .selectExpr("etype", "n", "sum_ms div n AS avg_ms", "max_ms")
      .orderBy(col("etype"))
  }

  /** Rolling 7-day active users per day (the WAU curve) — the
    * distinct-count-over-sliding-window problem. The scalable identity:
    * distinct (user, day) pairs each EXPAND to the ≤7 window days they
    * contribute to (`explode(sequence(day, day+6))` — map-side, ×7,
    * linear), then one exact distinct aggregate per window day; output
    * restricted to days that exist. Never a count(DISTINCT) window
    * re-scanning 7 days of history per day, which at 100 TB reads every
    * event seven times through a sort.
    */
  def rollingActiveUsers(s: SparkSession, d: String): DataFrame = {
    val ud = persistOnce(graft.streaming.Sessions.events(s, d)
      .select(col("user_id"), expr("ts_ms div 86400000").as("day")).distinct())
    val wau = ud
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("wday"))
      .groupBy(col("wday")).agg(countDistinct(col("user_id")).as("wau_7d"))
    ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      .join(wau, col("day") === col("wday"))
      .select(col("day"), col("dau"), col("wau_7d"))
      .orderBy(col("day"))
  }

  /** Benford first-digit screen over order amounts (the forensic-
    * accounting anomaly test): observed leading-digit shares of the
    * cents column against the Benford expectation
    * round(log10(1+1/d)·10⁴) bp. Counting is one hash aggregate on the
    * leading character; the expectation is a 9-value constant expression
    * identical in both engines (margins to the rounding boundary are
    * ~1e-2 bp, twelve orders above double noise).
    */
  def benfordTest(s: SparkSession, d: String): DataFrame = {
    val total = broadcast(Tables.orders(s, d).agg(count(lit(1)).as("n_total")))
    Tables.orders(s, d)
      .select(substring(round(col("o_totalprice") * 100).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .crossJoin(total)
      .selectExpr("digit", "n", "n * 10000 div n_total AS obs_bp",
        "CAST(round(ln(1.0D + 1.0D / CAST(digit AS DOUBLE)) / ln(10.0D)" +
          " * 10000) AS BIGINT) AS exp_bp")
      .orderBy(col("digit"))
  }

  /** Day-of-week revenue seasonality index — average order value per
    * weekday against the overall average, in basis points (the direct
    * companion to autocorr_daily's lag-7 signal). Weekday comes from
    * pure epoch-day arithmetic ((day+4) mod 7, 0=Sunday — no date
    * formatting parity risk); the index divides the two FLOOR integer
    * averages, a declared exact-integer contract. One aggregate plus a
    * broadcast scalar.
    */
  def weekdayIndex(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(
      expr("(unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000 + 4) % 7")
        .as("dow"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val overall = broadcast(o.agg(
      expr("sum(cents) div count(1)").as("avg_all")))
    o.groupBy(col("dow"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
      .crossJoin(overall)
      .selectExpr("dow", "n_orders", "cents",
        "cents div n_orders AS avg_cents",
        "(cents div n_orders) * 10000 div avg_all AS index_bp")
      .orderBy(col("dow"))
  }

  private val dailyCache = new graft.DfCache("insights.daily")

  private[graft] def dailyRevenue(s: SparkSession, d: String): DataFrame =
    dailyCache.getOrElseUpdate((s, d), {
      Tables.orders(s, d)
        .groupBy(expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000")
          .as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    })

  /** Centered 7-day moving-average trend + residual of daily revenue —
    * the decomposition step before any seasonality claim (weekday_index
    * and autocorr_daily read the residual story). The daily series is
    * bounded by calendar days, so the centered window runs as a
    * broadcast VALUE-range theta-self-join over it (|day−d| ≤ 3 — day
    * gaps shrink the window honestly) with exact floor-average cents;
    * no global window, no second scan of the fact table (the daily
    * table is the same cached artifact all three time-series queries
    * share).
    */
  def trend7d(s: SparkSession, d: String): DataFrame = {
    val daily = dailyRevenue(s, d)
    val tr = daily.select(col("day").as("dk"))
      .join(broadcast(daily), abs(col("day") - col("dk")) <= 3)
      .groupBy(col("dk"))
      .agg(expr("sum(cents) div count(1)").as("trend_cents"))
    daily.join(broadcast(tr), col("day") === col("dk"))
      .selectExpr("day", "cents", "trend_cents",
        "cents - trend_cents AS residual_cents")
      .orderBy(col("day"))
  }

  /** Theil–Sen robust trend of daily revenue (Theil 1950 / Sen 1968 —
    * the median of all pairwise slopes): the slope estimate a reporting
    * layer trusts when the OLS line is dragged by outlier days (up to
    * 29% contamination tolerance). The day dimension is CALENDAR-
    * bounded, so the pair stage is days² (millions at decades of
    * history), never corpus² — the corpus-sized work is the one daily
    * aggregate ([[dailyRevenue]], the shared cached artifact); pairs
    * come from a broadcast theta-self-join on the bounded daily table
    * (trend_7d's posture) and the MEDIAN selection runs on the
    * distributed [[graft.operators.PrefixSum]] rank over (slope, d1,
    * d2) — no single-task global window, no collect. Slopes are one
    * IEEE double division of exact integers (identical op order in both
    * engines); only the published value is rounded, to micro-cents/day.
    * Lower median at even counts — the (n+1) div 2 pick both engines
    * share.
    */
  def theilSen(s: SparkSession, d: String): DataFrame = {
    val daily = dailyRevenue(s, d)
    val pairs = daily.select(col("day").as("d1"), col("cents").as("c1"))
      .join(broadcast(daily.select(col("day").as("d2"), col("cents").as("c2"))),
        col("d1") < col("d2"))
      .select(((col("c2") - col("c1")).cast("double") /
        (col("d2") - col("d1")).cast("double")).as("slope"),
        col("d1"), col("d2"))
    val ranked = graft.operators.PrefixSum.exclusive(
      pairs, Seq(col("slope"), col("d1"), col("d2")), lit(1L), "rn")
    val n = daily.agg(count(lit(1)).as("n_days"))
      .select(col("n_days"), expr("n_days * (n_days - 1) div 2").as("n_pairs"))
    ranked.crossJoin(broadcast(n)) // one-row count scalar
      .filter(col("rn") === expr("(n_pairs + 1) div 2 - 1")) // 0-based rank
      .select(col("n_days"), col("n_pairs"),
        expr("CAST(round(slope * 1000000) AS BIGINT)").as("slope_micro"))
  }

  /** Calendar-completeness report of the order stream — the
    * freshness/continuity DQ check a reporting layer runs before
    * trusting any daily metric: present/missing day counts over the
    * observed span, the longest empty run, and where the longest run
    * starts. Gaps come from one lag over the CALENDAR-BOUNDED distinct-
    * day table (thousands of rows at any corpus size — the dailyRevenue
    * artifact posture); the argmax gap joins back through a one-row
    * scalar so no second scan of the fact table happens. No gaps →
    * first_gap_start is NULL in both engines.
    */
  def calendarGaps(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
    val l = dailyRevenue(s, d).select(col("day"))
      .select(col("day"),
        (col("day") - lag(col("day"), 1).over(w) - 1).as("gap"),
        (lag(col("day"), 1).over(w) + 1).as("gs"))
    val base = l.agg(count(lit(1)).as("n_present"),
      (max(col("day")) - min(col("day")) + 1 - count(lit(1))).as("n_missing"),
      coalesce(max(col("gap")), lit(0L)).as("longest_gap"))
    val first = l.join(broadcast(base),
        col("gap") === col("longest_gap") && col("longest_gap") > 0)
      .agg(min(col("gs")).as("first_gap_start"))
    base.crossJoin(broadcast(first)) // two one-row scalars
  }

  /** SAX symbolization of the weekly revenue series (Lin/Keogh 2003 —
    * PAA + Gaussian-quantile breakpoints, alphabet {a,b,c,d}): the
    * discretization step that turns a numeric series into the string
    * the motif/anomaly text machinery can index (the repo's shingle
    * and fingerprint families apply directly to the symbol stream).
    * PAA = exact integer floor-average of each complete 7-day segment;
    * z-normalization uses the population moments from exact Σ/Σ²
    * (one fixed double tree per segment); breakpoints ±0.6745 are the
    * standard-normal quartiles. One aggregate + a broadcast moment
    * scalar over the calendar-bounded segment table.
    */
  def saxSymbols(s: SparkSession, d: String): DataFrame = {
    val daily = dailyRevenue(s, d)
    val d0 = broadcast(daily.agg(min(col("day")).as("d0")))
    val seg = daily.crossJoin(d0) // one-row origin scalar
      .groupBy(expr("(day - d0) div 7").as("seg"))
      .agg(expr("sum(cents) div count(1)").as("paa"), count(lit(1)).as("c"))
      .filter(col("c") === 7)
      .select(col("seg"), col("paa"))
    val st = broadcast(seg.agg(count(lit(1)).as("n"),
      sum(expr("CAST(paa AS DECIMAL(38,0))")).as("s"),
      sum(expr("CAST(paa * paa AS DECIMAL(38,0))")).as("ss")))
    seg.crossJoin(st) // one-row moment scalar
      .selectExpr("seg", "paa",
        """CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
          |  - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
          |    * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS vr""".stripMargin,
        "CAST(paa AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS ctr")
      // a one-segment (or constant) series has zero variance: z pins to 0
      // ('c') rather than dividing by zero — mirrored in the oracle
      .selectExpr("seg", "paa",
        "CASE WHEN vr <= 0 THEN 0.0 ELSE ctr / sqrt(vr) END AS zz")
      .selectExpr("seg", "paa",
        """CASE WHEN zz < -0.6745 THEN 'a' WHEN zz < 0 THEN 'b'
          |WHEN zz < 0.6745 THEN 'c' ELSE 'd' END AS symbol""".stripMargin)
      .orderBy(col("seg"))
  }

  /** Lead/lag cross-correlation between daily view and purchase counts
    * — the "does browsing lead buying, and by how many days?" question
    * (the bivariate companion to autocorr_daily): Pearson r of
    * (views_d, purchases_{d+lag}) for lags 0..7, each from exact
    * integer sums via ONE fan-out of the bounded lag ladder over the
    * calendar-bounded daily count tables. The arg-max lag is the
    * attribution window a marketing model starts from.
    */
  def crosscorrEvents(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = graft.streaming.Sessions.events(s, d)
      .select(col("event_type").as("etype"), expr("ts_ms div 86400000").as("day"))
    def daySeries(t: String) = e.filter(col("etype") === t)
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val lags = broadcast((0L to 7L).toDF("lag"))
    daySeries("view").select(col("day"), col("c").as("xv"))
      .crossJoin(lags) // bounded 8-row lag ladder
      .join(daySeries("purchase").select(col("day").as("dy"), col("c").as("yv")),
        col("dy") === col("day") + col("lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n"), sum(col("xv")).as("sx"), sum(col("yv")).as("sy"),
        sum(col("xv") * col("xv")).as("sxx"), sum(col("yv") * col("yv")).as("syy"),
        sum(col("xv") * col("yv")).as("sxy"))
      .selectExpr("lag", "n",
        """round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          |  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          |  / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          |     * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
          |AS r_6dp""".stripMargin)
      .orderBy(col("lag"))
  }

  /** Fano factor (variance/mean of hourly event counts) per event type
    * — the burstiness index a traffic/capacity model starts from: ≈1
    * is Poisson, ≫1 is bursty, ≪1 is regular. The hour grid includes
    * EMPTY hours (a silent hour is burstiness evidence — computed via
    * the global hour-span scalar, zeros never materialized); moments
    * are exact integer Σc/Σc² over the bucket counts; the ratio is one
    * fixed double tree at 6 dp. Two hash aggregates + a broadcast
    * scalar at any stream length. The fixture publishes the honest
    * read: all five types sit at ≈1 — the synthetic arrivals are
    * Poisson-ish.
    */
  def fanoFactor(s: SparkSession, d: String): DataFrame = {
    val e = graft.streaming.Sessions.events(s, d)
      .select(col("event_type").as("etype"),
        expr("ts_ms div 3600000").as("hr"))
    val b = e.groupBy(col("etype"), col("hr")).agg(count(lit(1)).as("c"))
    val span = broadcast(e.agg(
      (max(col("hr")) - min(col("hr")) + 1).as("nh")))
    b.groupBy(col("etype"))
      .agg(sum(col("c")).as("sc"), sum(col("c") * col("c")).as("scc"))
      .crossJoin(span) // one-row hour-span scalar
      .selectExpr("etype AS event_type", "nh", "sc AS n_events",
        """round((CAST(scc AS DOUBLE) / CAST(nh AS DOUBLE)
          |  - (CAST(sc AS DOUBLE) / CAST(nh AS DOUBLE))
          |    * (CAST(sc AS DOUBLE) / CAST(nh AS DOUBLE)))
          |  / (CAST(sc AS DOUBLE) / CAST(nh AS DOUBLE)), 6) AS fano_6dp"""
          .stripMargin)
      .orderBy(col("event_type"))
  }

  /** One-way ANOVA F across order priorities (price ~ priority) — the
    * categorical×continuous dependence test completing the battery
    * next to ab_chisq (cat×cat) and ks_test (two-sample continuous):
    * does a metadata dimension explain variance in a metric? All
    * moments are exact integer/decimal sums per group (cents² in
    * DECIMAL(38,0) — the corpus-scale posture); the only doubles are
    * the between/within decomposition folded over the SORTED bounded
    * group array (the mixture_temperature discipline: one fixed
    * left-to-right evaluation order in both engines), rounded once at
    * 6 dp. One hash aggregate + a k-row fold at any corpus size.
    */
  def anovaF(s: SparkSession, d: String): DataFrame = {
    val g = Tables.orders(s, d)
      .select(col("o_orderpriority").as("grp"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(cents AS DECIMAL(38,0))")).as("s"),
        sum(expr("CAST(cents * cents AS DECIMAL(38,0))")).as("ss"))
    g.agg(count(lit(1)).as("k"), sum(col("n")).as("nt"),
        sum(col("s")).as("st"),
        sort_array(collect_list(struct(col("grp"), col("n"), col("s"),
          col("ss")))).as("a"))
      .selectExpr("k", "nt",
        """aggregate(a, CAST(0.0 AS DOUBLE), (acc, x) ->
          |  acc + CAST(x.s AS DOUBLE) * CAST(x.s AS DOUBLE)
          |        / CAST(x.n AS DOUBLE)) AS sgs""".stripMargin,
        """aggregate(a, CAST(0.0 AS DOUBLE), (acc, x) ->
          |  acc + CAST(x.ss AS DOUBLE)) AS sst""".stripMargin,
        "CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nt AS DOUBLE) AS corr")
      .selectExpr("k", "nt AS n",
        """round(((sgs - corr) / (k - 1))
          |  / ((sst - sgs) / (nt - k)), 6) AS f_6dp""".stripMargin)
  }

  /** Top motif of the daily-revenue series — the closest pair of
    * non-overlapping 7-day windows by exact integer squared distance
    * (the matrix-profile question at its core: "which two weeks looked
    * most alike?"). Windows assemble from the calendar-bounded daily
    * table via the trend_7d broadcast range-join posture (only
    * gap-free 7-day windows qualify); the pair scan is days² over the
    * BOUNDED day dimension, never corpus-sized; revenue is downscaled
    * to exact kilocents first so the 7-term SSD stays in int64 at any
    * plausible daily volume (cents² already brushes 2^63 at sf0.1).
    * Total (ssd, d1, d2) tie-break; one TakeOrdered row out.
    */
  def tsMotif(s: SparkSession, d: String): DataFrame = {
    val daily = dailyRevenue(s, d)
      .select(col("day"), expr("cents div 1000").as("kc"))
    val w = daily.select(col("day").as("d0"))
      .join(broadcast(daily), col("day").between(col("d0"), col("d0") + 6))
      .groupBy(col("d0"))
      .agg(sort_array(collect_list(struct(col("day"), col("kc")))).as("vs"),
        count(lit(1)).as("c"))
      .filter(col("c") === 7)
      .select(col("d0").as("d"), expr("transform(vs, x -> x.kc)").as("v"))
    w.select(col("d").as("d1"), col("v").as("v1"))
      .join(broadcast(w.select(col("d").as("d2"), col("v").as("v2"))),
        col("d2") >= col("d1") + 7)
      .select(col("d1"), col("d2"), expr(
        "aggregate(zip_with(v1, v2, (a, b) -> (a - b) * (a - b)), 0L," +
          " (acc, e) -> acc + e)").as("ssd_kc2"))
      .orderBy(col("ssd_kc2"), col("d1"), col("d2"))
      .limit(1)
  }

  /** CUSUM changepoint scan of daily revenue (Page 1954) — the
    * level-shift detector next to [[trend7d]]'s smoother and
    * anomalyDays' point screen: the day where the cumulative sum of
    * deviations from the global mean peaks in magnitude is the
    * maximum-likelihood single changepoint of a mean shift. Mean is the
    * exact integer floor-average (one broadcast scalar); the running
    * cusum is one distributed [[graft.operators.PrefixSum]] scan over
    * the calendar-bounded daily table; the argmax is a top-1 with the
    * (s_abs desc, day) total tie-break — exact integers end to end.
    */
  def cusumChangepoint(s: SparkSession, d: String): DataFrame = {
    val daily = dailyRevenue(s, d)
    val m = broadcast(daily.agg(expr("sum(cents) div count(1)").as("mu"),
      count(lit(1)).as("n_days")))
    val dev = daily.crossJoin(m) // one-row mean scalar
      .select(col("day"), (col("cents") - col("mu")).as("dev"), col("n_days"))
    graft.operators.PrefixSum.exclusive(dev, Seq(col("day")), col("dev"), "csx")
      .select(col("n_days"), col("day").as("change_day"),
        abs(col("csx") + col("dev")).as("s_abs"))
      .orderBy(col("s_abs").desc, col("change_day"))
      .limit(1)
  }

  /** Gini coefficient of customer spend — the concentration number a
    * curation pipeline also runs per-source on token mass (is 1% of
    * the crawl contributing 90% of tokens?), here on the relational
    * fixture's customer dimension. Rank comes from the distributed
    * [[graft.operators.PrefixSum]] over the (cents, custkey) total
    * order (tied values contribute a rank-sum that is invariant to
    * tie order, so the statistic is well-defined); Σx and Σi·x are
    * exact DECIMAL(38,0) sums (corpus-scale Σi·x outgrows int64 —
    * per-row i·x does not); the classic (2Σi·x − (n+1)Σx)/(nΣx) folds
    * as ONE fixed double tree rounded to micro units.
    */
  def giniSpend(s: SparkSession, d: String): DataFrame = {
    val sp = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    graft.operators.PrefixSum
      .exclusive(sp, Seq(col("cents"), col("o_custkey")), lit(1L), "rx")
      .select(col("cents"), (col("rx") + 1).as("rn"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(cents AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(rn * cents AS DECIMAL(38,0))")).as("six"))
      .selectExpr("n",
        """CAST(round((2.0 * CAST(six AS DOUBLE)
          |  - CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE))
          |  / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) * 1000000) AS BIGINT)
          |AS gini_micro""".stripMargin)
  }

  /** RFM customer segmentation — the classic commerce cohorting
    * (Recency/Frequency/Monetary quartile codes, segment "444" = most
    * recent + most frequent + highest spend): per customer, days since
    * last order, order count, and total cents; each dimension quartile-
    * coded 1–4 via the DISTRIBUTED AssignIds rank (range exchange —
    * never a SinglePartition window; the quantile_transform posture ×3)
    * under a total deterministic order (best first, custkey tie-break);
    * segment = 100·R + 10·F + M. Output is the segment census with the
    * exact average spend — the table a CRM campaign targets from. Three
    * ranks + three co-partitioned joins on custkey + one bounded
    * aggregate at any corpus size.
    */
  def rfmSegments(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_custkey").as("ck"),
      expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000").as("day"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val mx = o.agg(max(col("day")).as("mx"))
    val rfm = o.groupBy(col("ck")).agg(max(col("day")).as("last_day"),
        count(lit(1)).as("freq"), sum(col("cents")).as("mon"))
      .crossJoin(broadcast(mx))
      .select(col("ck"), (col("mx") - col("last_day")).as("rec"),
        col("freq"), col("mon"))
    val n = broadcast(rfm.groupBy().agg(count(lit(1)).as("nt")))
    // best-first total orders; quartile 4 = best
    def quart(name: String, ord: Seq[org.apache.spark.sql.Column]) =
      graft.operators.AssignIds.byOrder(rfm, ord, "rn")
        .crossJoin(n)
        .selectExpr("ck", s"4 - ((rn - 1) * 4 div nt) AS q_$name")
    val qr = quart("r", Seq(col("rec").asc, col("ck").asc))
    val qf = quart("f", Seq(col("freq").desc, col("ck").asc))
    val qm = quart("m", Seq(col("mon").desc, col("ck").asc))
    rfm.join(qr, "ck").join(qf, "ck").join(qm, "ck")
      .select((col("q_r") * 100 + col("q_f") * 10 + col("q_m")).as("segment"),
        col("mon"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_customers"), sum(col("mon")).as("total_cents"))
      .select(col("segment").cast("long").as("segment"), col("n_customers"),
        col("total_cents"),
        expr("total_cents div n_customers").as("avg_cents"))
      .orderBy(col("segment"))
  }

  /** Rank-uniformizing quantile transform of customer spend — the
    * leakage-free ML preprocessing step (sklearn's QuantileTransformer
    * shape): each customer's total spend mapped to its empirical
    * quantile in exact basis points, `(rn−1)·10⁴ div (N−1)` under the
    * total (cents desc, custkey) order. The global rank is the
    * DISTRIBUTED [[graft.operators.AssignIds.byOrder]] range exchange —
    * never a SinglePartition window — and N is a broadcast scalar; ties
    * in spend break deterministically on custkey, the declared contract
    * both engines share.
    */
  def quantileTransform(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val ranked = graft.operators.AssignIds.byOrder(
      spend, Seq(col("cents").desc, col("o_custkey")), "rn")
    val n = broadcast(spend.groupBy().agg(count(lit(1)).as("n_total")))
    ranked.crossJoin(n)
      .selectExpr("o_custkey", "cents",
        "(rn - 1) * 10000 div greatest(n_total - 1, 1) AS q_bp")
      .orderBy(col("o_custkey"))
  }

  /** View→purchase conversion-latency histogram (hours) — the funnel's
    * TIME dimension (the funnel query reports who converts; this
    * reports how long it takes). First view and first at-or-after-view
    * purchase per user via two co-partitioned min-aggregates on
    * user_id, delta bucketed to hours; output is bounded by the
    * latency range.
    */
  def conversionLag(s: SparkSession, d: String): DataFrame = {
    val ev = graft.streaming.Sessions.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts_ms"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("view_ms"))
    ev.filter(col("event_type") === "purchase")
      .join(v, "user_id")
      .filter(col("ts_ms") >= col("view_ms"))
      .groupBy(col("user_id"), col("view_ms"))
      .agg(min(col("ts_ms")).as("purchase_ms"))
      .selectExpr("(purchase_ms - view_ms) div 3600000 AS lag_hours")
      .groupBy(col("lag_hours")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("lag_hours"))
  }

  /** Robust anomaly screen over the decomposed daily-revenue series:
    * days whose trend residual sits more than 2 MADs from the median
    * residual (the outlier rule that survives the outliers themselves —
    * a mean/stddev screen is dragged by the very anomalies it hunts).
    * Reuses trend_7d's broadcast value-range trend; both medians are
    * exact order statistics through the DISTRIBUTED AssignIds rank
    * (never a SinglePartition window), each reduced to a one-row
    * broadcast scalar. All arithmetic exact integer cents.
    */
  def anomalyDays(s: SparkSession, d: String): DataFrame = {
    val daily = dailyRevenue(s, d)
    val tr = daily.select(col("day").as("dk"))
      .join(broadcast(daily), abs(col("day") - col("dk")) <= 3)
      .groupBy(col("dk"))
      .agg(expr("sum(cents) div count(1)").as("trend_cents"))
    val res = persistOnce(daily.join(broadcast(tr), col("day") === col("dk"))
      .select(col("day"), col("cents"), col("trend_cents"),
        (col("cents") - col("trend_cents")).as("residual_cents")))
    // medianOf runs two driver actions (the rank build + count) per call,
    // so anomaly_days launches 4 small jobs beyond the final one. That is
    // BOUNDED BY DESIGN: the input is the daily-revenue rollup — one row
    // per calendar day, ~400 rows at any corpus scale — so the extra jobs
    // are constant-sized and never grow with the fact data.
    def medianOf(df: DataFrame, c: String, as: String): DataFrame = {
      val vs = df.select(col(c).as("v"))
      val ranked = graft.operators.AssignIds.byOrder(vs, Seq(col("v")), "rn")
      val n = vs.count()
      broadcast(ranked.filter(col("rn") === lit((n + 1) / 2))
        .select(col("v").as(as)))
    }
    val med = medianOf(res, "residual_cents", "med")
    val dev = res.crossJoin(med)
      .select(abs(col("residual_cents") - col("med")).as("dv"))
    val mad = medianOf(dev, "dv", "mad")
    res.crossJoin(med).crossJoin(mad)
      .filter(abs(col("residual_cents") - col("med")) > lit(2L) * col("mad"))
      .select(col("day"), col("cents"), col("trend_cents"), col("residual_cents"))
      .orderBy(col("day"))
  }

  /** Poisson-bootstrap confidence interval for the mean order value —
    * THE distributed bootstrap (Chamandy et al. 2012, "Estimating
    * uncertainty for massive data streams": classical resampling needs
    * n draws WITH replacement per replicate — a global shuffle per
    * replicate — but Poisson(1) per-row weights are an exact-in-
    * expectation approximation that needs ONE map-only pass emitting
    * all B replicates). Weights come from the inverse Poisson CDF on
    * the deterministic (key, replicate) Knuth hash — integer
    * thresholds hardcoded on the 1000000007 modulus basis, no engine
    * RNG — so every engine, run, and partitioning produces the same
    * resample. 32 replicates: one 32×-fan-out map pass + a 32-row
    * aggregate; replicate means are exact (decimal Σ(w·cents) div Σw
    * in micro-dollars); the CI is the (2nd, 31st) order statistics of
    * the 32 sorted replicate means (a ~94 % interval). At 100 TB the
    * fan-out is the honest bootstrap cost and everything stays
    * map-side-combinable.
    */
  def bootstrapCi(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val reps = o
      .select(col("k"), col("cents"),
        explode(sequence(lit(0L), lit(31L))).as("b"))
      .withColumn("u",
        expr("((k * 32 + b) % 2147483647) * 2654435761 % 1000000007"))
      // inverse Poisson(1) CDF: floor(cum_pmf * 1000000007) thresholds
      .withColumn("w", expr(
        "CASE WHEN u < 367879443 THEN 0 WHEN u < 735758887 THEN 1" +
          " WHEN u < 919698609 THEN 2 WHEN u < 981011849 THEN 3" +
          " WHEN u < 996340160 THEN 4 WHEN u < 999405822 THEN 5" +
          " ELSE 6 END"))
      .groupBy(col("b"))
      .agg(sum((col("w") * col("cents")).cast("decimal(38,0)")).as("swc"),
        sum(col("w")).as("sw"))
      .select(expr("(swc * 10000) div sw").as("m"))
      .agg(sort_array(collect_list(col("m"))).as("ms")) // bounded: 32 rows
    val point = o.agg(
      expr("(CAST(sum(cents) AS DECIMAL(38,0)) * 10000) div count(*)")
        .as("point_micro"))
    reps.crossJoin(broadcast(point))
      .select(lit(32L).as("b_reps"), col("point_micro"),
        element_at(col("ms"), 2).as("lo_micro"),
        element_at(col("ms"), 31).as("hi_micro"))
  }

  /** Unnormalized integer Haar wavelet transform of the first 32
    * calendar days of revenue — the multi-resolution screen beside the
    * single-scale tools (trend_7d smooths ONE width, autocorr_daily
    * tests ONE lag; the Haar pyramid localizes at which time scale and
    * where the energy sits, e.g. a level-3 detail spike = an 8-day
    * regime shift at that offset). Integer lifting (sum/difference,
    * no √2) keeps every coefficient an exact cent value; missing days
    * enter as honest zeros. The transform itself runs on the
    * calendar-bounded daily artifact (32 rows collected — the
    * medianOf/anomaly_days bounded-by-design posture); the only
    * data-sized work is the shared [[dailyRevenue]] aggregate. Output:
    * 16+8+4+2+1 detail rows (levels 1–5) + the level-5 approx (total
    * mass), 32 rows.
    */
  def haarTransform(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val got = dailyRevenue(s, d).orderBy(col("day")).limit(32)
      .collect().map(r => (r.getLong(0), r.getLong(1))) // bounded: 32 days
    val d0 = got.map(_._1).min
    val series = Array.fill(32)(0L)
    got.foreach { case (day, c) =>
      val i = (day - d0).toInt; if (i < 32) series(i) = c
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    var approx = series
    for (level <- 1 to 5) {
      val half = approx.length / 2
      val nxt = Array.tabulate(half)(i => approx(2 * i) + approx(2 * i + 1))
      val det = Array.tabulate(half)(i => approx(2 * i) - approx(2 * i + 1))
      det.zipWithIndex.foreach { case (c, i) => out += ((level, i, c)) }
      approx = nxt
    }
    out += ((6, 0, approx(0))) // the final approx = total 32-day mass
    out.toSeq.toDF("level", "idx", "coeff_cents")
      .orderBy(col("level"), col("idx"))
  }

  /** Exponentially time-decayed revenue per customer nation — the
    * recency-weighted KPI behind "who matters NOW" dashboards, with
    * the decay kept EXACT: a 30-day half-life as integer bit shifts
    * (w_nano = 1e9 >> (age_days div 30), shift capped at 62 → older
    * epochs weigh exactly 0) instead of a per-row exp() whose last-ulp
    * behavior differs across engines. The anchor is the corpus max
    * day (one scalar), weights multiply exact cents into DECIMAL(38,0)
    * accumulators, and the report divides back to cents. One fact
    * aggregate + a dimension join; the decayed total is
    * map-side-combinable at any scale (each row's weight is a pure
    * function of its own date).
    */
  def decayedRevenue(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_custkey"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
      expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000").as("day"))
    val mx = o.agg(max(col("day")).as("mx"))
    val cust = Tables.customer(s, d)
      .select(col("c_custkey").as("o_custkey"), col("c_nationkey").as("nk"))
    val nat = Tables.nation(s, d)
      .select(col("n_nationkey").as("nk"), col("n_name").as("nation"))
    o.crossJoin(broadcast(mx))
      .withColumn("w_nano", expr(
        "CASE WHEN (mx - day) div 30 > 62 THEN CAST(0 AS BIGINT)" +
          " ELSE shiftright(CAST(1000000000 AS BIGINT)," +
          " CAST((mx - day) div 30 AS INT)) END"))
      // customer scales with the corpus (150k×sf rows) — no broadcast
      // hint (the dup_rate_by_source lesson); nation is 25 rows, hinted
      .join(cust, "o_custkey").join(broadcast(nat), "nk")
      .groupBy(col("nation"))
      .agg(sum(col("cents")).as("raw_cents"),
        sum((col("cents") * col("w_nano")).cast("decimal(38,0)")).as("dw"))
      .select(col("nation"), col("raw_cents"),
        expr("dw div 1000000000").as("decayed_cents"))
      .orderBy(col("nation"))
  }

  /** 7-day Holt linear-trend forecast of daily revenue — the first
    * actual FORECAST in the time-series battery (trend_7d smooths,
    * autocorr_daily diagnoses, ts_motif retrieves; this extrapolates):
    * double-exponential smoothing with the recurrences kept on the
    * exact integer lattice (α = 2/10, β = 1/10 as integer
    * multiply-then-`div`, so level/trend are bit-stable and the DuckDB
    * twin replays them in a recursive CTE — no float drift across
    * ~hundreds of sequential steps). The fold runs over the PRESENT
    * days of the calendar-bounded daily artifact in day order (the
    * anomaly_days bounded-by-design posture: one row per day at any
    * corpus scale); the only data-sized work is the shared
    * [[dailyRevenue]] aggregate. Output: h = 1..7, forecast = l_T +
    * h·b_T.
    */
  def holtForecast(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val days = dailyRevenue(s, d).orderBy(col("day"))
      .collect().map(_.getLong(1)) // bounded: calendar days
    var l = days.head
    var b = 0L
    days.tail.foreach { c =>
      val lPrev = l
      l = (2 * c + 8 * (l + b)) / 10
      b = ((l - lPrev) + 9 * b) / 10
    }
    (1L to 7L).map(h => (h, l + h * b)).toDF("h", "forecast_cents")
      .orderBy(col("h"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "holt_forecast" -> holtForecast,
    "haar_transform" -> haarTransform,
    "decayed_revenue" -> decayedRevenue,
    "bootstrap_ci" -> bootstrapCi,
    "conversion_lag" -> conversionLag,
    "anomaly_days" -> anomalyDays,
    "trend_7d" -> trend7d,
    "theil_sen" -> theilSen,
    "cusum_changepoint" -> cusumChangepoint,
    "anova_f" -> anovaF,
    "fano_factor" -> fanoFactor,
    "sax_symbols" -> saxSymbols,
    "calendar_gaps" -> calendarGaps,
    "crosscorr_events" -> crosscorrEvents,
    "ts_motif" -> tsMotif,
    "gini_spend" -> giniSpend,
    "quantile_transform" -> quantileTransform,
    "rfm_segments" -> rfmSegments,
    "rolling_active_users" -> rollingActiveUsers,
    "benford_test" -> benfordTest,
    "weekday_index" -> weekdayIndex,
    "dq_checks" -> dqChecks,
    "cumulative_users" -> cumulativeUsers,
    "dwell_times" -> dwellTimes,
    "entropy_profile" -> entropyProfile,
    "autocorr_daily" -> autocorrDaily,
    "assoc_rules" -> assocRules,
    "ohlc_bars" -> ohlcBars,
    "ab_chisq" -> abChisq,
  )

  /** The unrolled 5-level integer Haar pyramid for the haar_transform
    * oracle (a def — the oracleSql map initializes first): l$t carries
    * the level-t approx list `a` and detail list `dt`, halving each
    * level; mirrors [[haarTransform]]'s lifting exactly.
    */
  private def HaarCtes: String = {
    val levels = (1 to 5).map { t =>
      val n = 32 >> t
      s"""l$t AS (SELECT
         |  list_transform(range(1, ${n + 1}), i -> a[2*i-1] + a[2*i]) AS a,
         |  list_transform(range(1, ${n + 1}), i -> a[2*i-1] - a[2*i]) AS dt
         |  FROM l${t - 1})""".stripMargin
    }.mkString(",\n")
    val unions = (1 to 5).map { t =>
      val n = 32 >> t
      s"SELECT $t AS level, t.i - 1 AS idx, dt[t.i] AS coeff " +
        s"FROM l$t CROSS JOIN range(1, ${n + 1}) t(i)"
    }.mkString("\n  UNION ALL ")
    s"""$levels,
       |u AS ($unions
       |  UNION ALL SELECT 6, 0, a[1] FROM l5)""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "holt_forecast" ->
      """WITH RECURSIVE daily AS (
        |  SELECT epoch_ms(o_orderdate) // 86400000 AS day,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |idx AS (SELECT row_number() OVER (ORDER BY day) AS i, cents FROM daily),
        |nn AS (SELECT max(i) AS n FROM idx),
        |r AS (
        |  SELECT 1::BIGINT AS i, cents::BIGINT AS l, 0::BIGINT AS b
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT r.i + 1,
        |    (2 * x.cents + 8 * (r.l + r.b)) // 10,
        |    (((2 * x.cents + 8 * (r.l + r.b)) // 10) - r.l + 9 * r.b) // 10
        |  FROM r JOIN idx x ON x.i = r.i + 1),
        |f AS (SELECT l, b FROM r, nn WHERE r.i = nn.n)
        |SELECT h.h::BIGINT AS h, (l + h.h * b)::BIGINT AS forecast_cents
        |FROM f CROSS JOIN range(1, 8) h(h) ORDER BY h""".stripMargin,
    "rfm_segments" ->
      """WITH o AS (SELECT o_custkey AS ck,
        |    epoch_ms(o_orderdate) // 86400000 AS day,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |m AS (SELECT max(day) AS mx FROM o),
        |rfm AS (SELECT ck, mx - max(day) AS rec, count(*)::BIGINT AS freq,
        |    sum(cents)::BIGINT AS mon
        |  FROM o, m GROUP BY ck, mx),
        |nt AS (SELECT count(*)::BIGINT AS nt FROM rfm),
        |qr AS (SELECT ck, 4 - ((row_number() OVER (ORDER BY rec, ck) - 1) * 4
        |         // nt) AS q_r FROM rfm, nt),
        |qf AS (SELECT ck, 4 - ((row_number() OVER (ORDER BY freq DESC, ck) - 1)
        |         * 4 // nt) AS q_f FROM rfm, nt),
        |qm AS (SELECT ck, 4 - ((row_number() OVER (ORDER BY mon DESC, ck) - 1)
        |         * 4 // nt) AS q_m FROM rfm, nt),
        |seg AS (SELECT q_r * 100 + q_f * 10 + q_m AS segment, mon
        |        FROM rfm JOIN qr USING (ck) JOIN qf USING (ck) JOIN qm USING (ck))
        |SELECT segment::BIGINT AS segment, count(*)::BIGINT AS n_customers,
        |  sum(mon)::BIGINT AS total_cents,
        |  (sum(mon) // count(*))::BIGINT AS avg_cents
        |FROM seg GROUP BY 1 ORDER BY segment""".stripMargin,
    "haar_transform" ->
      s"""WITH daily AS (SELECT epoch_ms(o_orderdate) // 86400000 AS day,
         |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
         |  FROM orders GROUP BY 1),
         |dmin AS (SELECT min(day) AS d0 FROM daily),
         |g AS (SELECT t.i AS i, coalesce(cents, 0)::BIGINT AS v
         |      FROM range(0, 32) t(i) CROSS JOIN dmin
         |      LEFT JOIN daily ON day = d0 + t.i),
         |l0 AS (SELECT list(v ORDER BY i) AS a FROM g),
         |$HaarCtes
         |SELECT level::INT AS level, idx::INT AS idx, coeff::BIGINT AS coeff_cents
         |FROM u ORDER BY level, idx""".stripMargin,
    "decayed_revenue" ->
      """WITH o AS (SELECT o_custkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    epoch_ms(o_orderdate) // 86400000 AS day FROM orders),
        |m AS (SELECT max(day) AS mx FROM o),
        |w AS (SELECT o_custkey, cents,
        |        CASE WHEN (mx - day) // 30 > 62 THEN 0
        |             ELSE 1000000000::BIGINT >> ((mx - day) // 30) END AS w_nano
        |      FROM o, m)
        |SELECT n_name AS nation, sum(cents)::BIGINT AS raw_cents,
        |  (sum(cents * w_nano) // 1000000000)::BIGINT AS decayed_cents
        |FROM w JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY nation""".stripMargin,
    "bootstrap_ci" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |r AS (SELECT b.b, k, cents,
        |        ((k * 32 + b.b) % 2147483647) * 2654435761 % 1000000007 AS u
        |      FROM o CROSS JOIN range(0, 32) b(b)),
        |w AS (SELECT b, cents,
        |        CASE WHEN u < 367879443 THEN 0 WHEN u < 735758887 THEN 1
        |             WHEN u < 919698609 THEN 2 WHEN u < 981011849 THEN 3
        |             WHEN u < 996340160 THEN 4 WHEN u < 999405822 THEN 5
        |             ELSE 6 END AS w
        |      FROM r),
        |m AS (SELECT b, (sum(w * cents) * 10000) // sum(w) AS m
        |      FROM w GROUP BY b),
        |a AS (SELECT list(m ORDER BY m) AS ms FROM m),
        |pt AS (SELECT (sum(cents) * 10000) // count(*) AS point FROM o)
        |SELECT 32::BIGINT AS b_reps, point::BIGINT AS point_micro,
        |  ms[2]::BIGINT AS lo_micro, ms[31]::BIGINT AS hi_micro
        |FROM a, pt""".stripMargin,
    "conversion_lag" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
        |v AS (SELECT user_id, min(ts_ms) AS view_ms FROM ev
        |      WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT e.user_id, v.view_ms, min(e.ts_ms) AS purchase_ms
        |      FROM ev e JOIN v USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts_ms >= v.view_ms
        |      GROUP BY 1, 2)
        |SELECT (purchase_ms - view_ms) // 3600000 AS lag_hours,
        |  count(*)::BIGINT AS n_users
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "anomaly_days" ->
      """WITH daily AS (SELECT epoch_ms(o_orderdate) // 86400000 AS day,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |t AS (SELECT a.day, a.cents,
        |        (SELECT sum(b.cents) // count(*) FROM daily b
        |         WHERE abs(b.day - a.day) <= 3) AS trend_cents FROM daily a),
        |r AS (SELECT day, cents, trend_cents,
        |        cents - trend_cents AS res FROM t),
        |r1 AS (SELECT res, row_number() OVER (ORDER BY res) AS rn,
        |         count(*) OVER () AS n FROM r),
        |m AS (SELECT max(CASE WHEN rn = (n + 1) // 2 THEN res END) AS med FROM r1),
        |dv AS (SELECT abs(res - (SELECT med FROM m)) AS dev FROM r),
        |r2 AS (SELECT dev, row_number() OVER (ORDER BY dev) AS rn,
        |         count(*) OVER () AS n FROM dv),
        |md AS (SELECT max(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad FROM r2)
        |SELECT day, cents, trend_cents::BIGINT AS trend_cents,
        |  res::BIGINT AS residual_cents
        |FROM r, m, md WHERE abs(res - med) > 2 * mad ORDER BY day""".stripMargin,
    "calendar_gaps" ->
      """WITH daily AS (SELECT DISTINCT epoch_ms(o_orderdate) // 86400000 AS day FROM orders),
        |l AS (SELECT day, day - lag(day) OVER (ORDER BY day) - 1 AS gap,
        |        lag(day) OVER (ORDER BY day) + 1 AS gs FROM daily)
        |SELECT (SELECT count(*) FROM daily)::BIGINT AS n_present,
        |  (SELECT max(day) - min(day) + 1 - count(*) FROM daily)::BIGINT AS n_missing,
        |  coalesce(max(gap), 0)::BIGINT AS longest_gap,
        |  (SELECT min(gs) FROM l WHERE gap = (SELECT max(gap) FROM l)
        |     AND gap > 0)::BIGINT AS first_gap_start
        |FROM l""".stripMargin,
    "sax_symbols" ->
      """WITH daily AS (SELECT epoch_ms(o_orderdate) // 86400000 AS day,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |m0 AS (SELECT min(day) AS d0 FROM daily),
        |seg AS (SELECT (day - d0) // 7 AS seg,
        |          (sum(cents) // count(*))::BIGINT AS paa
        |        FROM daily, m0 GROUP BY 1 HAVING count(*) = 7),
        |st AS (SELECT count(*)::BIGINT AS n, sum(paa) AS s, sum(paa*paa) AS ss FROM seg),
        |z AS (SELECT seg, paa,
        |        CASE WHEN vr <= 0 THEN 0.0 ELSE ctr / sqrt(vr) END AS zz
        |      FROM (SELECT seg, paa,
        |              ss::DOUBLE / n::DOUBLE
        |                - (s::DOUBLE / n::DOUBLE) * (s::DOUBLE / n::DOUBLE) AS vr,
        |              paa::DOUBLE - s::DOUBLE / n::DOUBLE AS ctr
        |            FROM seg, st))
        |SELECT seg, paa, CASE WHEN zz < -0.6745 THEN 'a' WHEN zz < 0 THEN 'b'
        |                      WHEN zz < 0.6745 THEN 'c' ELSE 'd' END AS symbol
        |FROM z ORDER BY seg""".stripMargin,
    "crosscorr_events" ->
      """WITH e AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day FROM events),
        |x AS (SELECT day, count(*)::BIGINT AS c FROM e WHERE event_type = 'view' GROUP BY 1),
        |y AS (SELECT day, count(*)::BIGINT AS c FROM e WHERE event_type = 'purchase' GROUP BY 1),
        |lags AS (SELECT unnest(range(0, 8)) AS lag),
        |j AS (SELECT lag, x.c AS xv, y.c AS yv FROM lags, x JOIN y ON y.day = x.day + lag),
        |s AS (SELECT lag, count(*)::BIGINT AS n, sum(xv) AS sx, sum(yv) AS sy,
        |        sum(xv*xv) AS sxx, sum(yv*yv) AS syy, sum(xv*yv) AS sxy FROM j GROUP BY 1)
        |SELECT lag, n, round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |  / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |     * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6) AS r_6dp
        |FROM s ORDER BY lag""".stripMargin,
    "fano_factor" ->
      """WITH e AS (SELECT event_type, epoch_ms(ts) // 3600000 AS hr FROM events),
        |b AS (SELECT event_type, hr, count(*)::BIGINT AS c FROM e GROUP BY 1, 2),
        |g AS (SELECT (max(hr) - min(hr) + 1)::BIGINT AS nh FROM e),
        |s AS (SELECT event_type, sum(c)::BIGINT AS sc, sum(c*c)::BIGINT AS scc
        |      FROM b GROUP BY 1)
        |SELECT event_type, nh, sc AS n_events,
        |  round((scc::DOUBLE / nh::DOUBLE
        |    - (sc::DOUBLE / nh::DOUBLE) * (sc::DOUBLE / nh::DOUBLE))
        |    / (sc::DOUBLE / nh::DOUBLE), 6) AS fano_6dp
        |FROM s, g ORDER BY event_type""".stripMargin,
    "anova_f" ->
      """WITH o AS (SELECT o_orderpriority AS grp,
        |             CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |g AS (SELECT grp, count(*)::BIGINT AS n, sum(cents) AS s,
        |        sum(cents * cents) AS ss FROM o GROUP BY 1),
        |arr AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nt, sum(s) AS st,
        |          list({'n': n, 's': s, 'ss': ss} ORDER BY grp) AS a FROM g),
        |f AS (SELECT k, nt,
        |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |          list_transform(a, x -> x.s::DOUBLE * x.s::DOUBLE / x.n::DOUBLE)),
        |          (x, y) -> x + y) AS sgs,
        |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |          list_transform(a, x -> x.ss::DOUBLE)), (x, y) -> x + y) AS sst,
        |        st::DOUBLE * st::DOUBLE / nt::DOUBLE AS corr
        |      FROM arr)
        |SELECT k, nt AS n,
        |  round(((sgs - corr) / (k - 1)) / ((sst - sgs) / (nt - k)), 6) AS f_6dp
        |FROM f""".stripMargin,
    "ts_motif" ->
      """WITH daily AS (SELECT epoch_ms(o_orderdate) // 86400000 AS day,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 1000 AS kc
        |  FROM orders GROUP BY 1),
        |w AS (SELECT d0.day AS d, list(d1.kc ORDER BY d1.day) AS v
        |      FROM daily d0 JOIN daily d1 ON d1.day BETWEEN d0.day AND d0.day + 6
        |      GROUP BY 1 HAVING count(*) = 7),
        |p AS (SELECT a.d AS d1, b.d AS d2,
        |        list_reduce(list_transform(range(1,8),
        |          i -> (a.v[i]-b.v[i])*(a.v[i]-b.v[i])), (x,y)->x+y)::BIGINT AS ssd_kc2
        |      FROM w a JOIN w b ON b.d >= a.d + 7)
        |SELECT d1, d2, ssd_kc2 FROM p ORDER BY ssd_kc2, d1, d2 LIMIT 1""".stripMargin,
    "cusum_changepoint" ->
      """WITH daily AS (SELECT epoch_ms(o_orderdate) // 86400000 AS day,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |m AS (SELECT sum(cents) // count(*) AS mu, count(*)::BIGINT AS n_days FROM daily),
        |s AS (SELECT day, sum(cents - mu) OVER (ORDER BY day) AS cusum FROM daily, m)
        |SELECT n_days, day AS change_day, abs(cusum)::BIGINT AS s_abs
        |FROM s, m ORDER BY abs(cusum) DESC, day LIMIT 1""".stripMargin,
    "gini_spend" ->
      """WITH sp AS (SELECT o_custkey,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT cents, row_number() OVER (ORDER BY cents, o_custkey) AS rn FROM sp),
        |s AS (SELECT count(*)::BIGINT AS n, sum(cents) AS sx, sum(rn * cents) AS six FROM r)
        |SELECT n, CAST(round((2.0 * six::DOUBLE - (n + 1)::DOUBLE * sx::DOUBLE)
        |  / (n::DOUBLE * sx::DOUBLE) * 1000000) AS BIGINT) AS gini_micro FROM s""".stripMargin,
    "theil_sen" ->
      """WITH daily AS (SELECT epoch_ms(o_orderdate) // 86400000 AS day,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |pairs AS (
        |  SELECT (b.cents - a.cents)::DOUBLE / (b.day - a.day) AS slope,
        |    a.day AS d1, b.day AS d2
        |  FROM daily a JOIN daily b ON a.day < b.day),
        |ranked AS (SELECT slope, row_number() OVER (ORDER BY slope, d1, d2) AS rn
        |           FROM pairs),
        |n AS (SELECT count(*) AS cnt FROM pairs)
        |SELECT (SELECT count(*) FROM daily)::BIGINT AS n_days, cnt::BIGINT AS n_pairs,
        |  CAST(round((SELECT slope FROM ranked, n WHERE rn = (cnt + 1) // 2)
        |       * 1000000) AS BIGINT) AS slope_micro
        |FROM n""".stripMargin,
    "trend_7d" ->
      """WITH daily AS (SELECT epoch_ms(o_orderdate) // 86400000 AS day,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
        |  FROM orders GROUP BY 1)
        |SELECT day, cents,
        |  (sum(cents) OVER w // count(*) OVER w)::BIGINT AS trend_cents,
        |  (cents - sum(cents) OVER w // count(*) OVER w)::BIGINT AS residual_cents
        |FROM daily
        |WINDOW w AS (ORDER BY day RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |ORDER BY day""".stripMargin,
    "quantile_transform" ->
      """WITH spend AS (SELECT o_custkey,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT o_custkey, cents,
        |        row_number() OVER (ORDER BY cents DESC, o_custkey) AS rn,
        |        count(*) OVER () AS n_total FROM spend)
        |SELECT o_custkey, cents,
        |  ((rn - 1) * 10000 // greatest(n_total - 1, 1))::BIGINT AS q_bp
        |FROM r ORDER BY o_custkey""".stripMargin,
    "rolling_active_users" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day
        |  FROM events),
        |x AS (SELECT user_id, day + i AS wday FROM ud, range(7) t(i)),
        |wau AS (SELECT wday, count(DISTINCT user_id)::BIGINT AS wau_7d
        |        FROM x GROUP BY 1),
        |dau AS (SELECT day, count(*)::BIGINT AS dau FROM ud GROUP BY 1)
        |SELECT d.day, d.dau, w.wau_7d
        |FROM dau d JOIN wau w ON w.wday = d.day ORDER BY d.day""".stripMargin,
    "benford_test" ->
      """WITH c AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit FROM orders),
        |n AS (SELECT count(*)::BIGINT AS N FROM c)
        |SELECT digit, count(*)::BIGINT AS n,
        |  (count(*) * 10000) // max(nn.N) AS obs_bp,
        |  CAST(round(ln(1.0 + 1.0 / digit) / ln(10.0) * 10000) AS BIGINT) AS exp_bp
        |FROM c, n nn GROUP BY digit ORDER BY digit""".stripMargin,
    "weekday_index" ->
      """WITH o AS (SELECT (epoch_ms(o_orderdate) // 86400000 + 4) % 7 AS dow,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |t AS (SELECT sum(cents) // count(*) AS avg_all FROM o)
        |SELECT dow, count(*)::BIGINT AS n_orders, sum(cents)::BIGINT AS cents,
        |  (sum(cents) // count(*))::BIGINT AS avg_cents,
        |  ((sum(cents) // count(*)) * 10000 // max(t.avg_all))::BIGINT AS index_bp
        |FROM o, t GROUP BY dow ORDER BY dow""".stripMargin,
    "dq_checks" ->
      """WITH oc AS (SELECT count(*)::BIGINT AS n,
        |    count(*) FILTER (WHERE o_custkey IS NULL)::BIGINT AS v_null,
        |    (count(*) - count(DISTINCT o_orderkey))::BIGINT AS v_uniq,
        |    count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P'))::BIGINT AS v_vals,
        |    count(*) FILTER (WHERE o_totalprice <= 0)::BIGINT AS v_range
        |  FROM orders),
        |lc AS (SELECT count(*)::BIGINT AS n,
        |    (count(*) - count(DISTINCT (l_orderkey, l_linenumber)))::BIGINT AS v_ck
        |  FROM lineitem),
        |fk1 AS (SELECT (SELECT count(*) FROM orders)::BIGINT AS n,
        |    (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))::BIGINT AS v),
        |fk2 AS (SELECT (SELECT count(*) FROM lineitem)::BIGINT AS n,
        |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))::BIGINT AS v),
        |u AS (
        |  SELECT 'orders.o_custkey not_null' AS check_name, n AS n_checked,
        |    v_null AS n_violations FROM oc
        |  UNION ALL SELECT 'orders.o_orderkey unique', n, v_uniq FROM oc
        |  UNION ALL SELECT 'orders.o_orderstatus accepted_values', n, v_vals FROM oc
        |  UNION ALL SELECT 'orders.o_totalprice positive', n, v_range FROM oc
        |  UNION ALL SELECT 'lineitem.(l_orderkey,l_linenumber) unique', n, v_ck FROM lc
        |  UNION ALL SELECT 'orders.o_custkey fk customer', n, v FROM fk1
        |  UNION ALL SELECT 'lineitem.l_orderkey fk orders', n, v FROM fk2)
        |SELECT check_name, n_checked, n_violations,
        |  n_violations = 0 AS passed
        |FROM u ORDER BY check_name""".stripMargin,
    "cumulative_users" ->
      """WITH ev AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
        |dau AS (SELECT day, count(DISTINCT user_id)::BIGINT AS n_active
        |        FROM ev GROUP BY 1),
        |fs AS (SELECT user_id, min(day) AS day FROM ev GROUP BY 1),
        |npd AS (SELECT day, count(*)::BIGINT AS n_new FROM fs GROUP BY 1)
        |SELECT d.day, d.n_active, coalesce(n.n_new, 0)::BIGINT AS n_new,
        |  sum(coalesce(n.n_new, 0)) OVER (ORDER BY d.day)::BIGINT AS cum_users
        |FROM dau d LEFT JOIN npd n ON d.day = n.day
        |ORDER BY d.day""".stripMargin,
    "dwell_times" ->
      """WITH ev AS (SELECT user_id, event_type AS etype, event_id,
        |    epoch_ms(ts) AS ts_ms FROM events),
        |l AS (SELECT etype, lead(ts_ms) OVER
        |        (PARTITION BY user_id ORDER BY ts_ms, event_id) - ts_ms AS dwell_ms
        |      FROM ev)
        |SELECT etype, count(*)::BIGINT AS n,
        |  (sum(dwell_ms) // count(*))::BIGINT AS avg_ms,
        |  max(dwell_ms)::BIGINT AS max_ms
        |FROM l WHERE dwell_ms IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "entropy_profile" ->
      """WITH o AS (SELECT CAST(o_custkey AS VARCHAR) AS c1,
        |    CAST(epoch_ms(o_orderdate) AS VARCHAR) AS c2,
        |    CAST(o_orderkey AS VARCHAR) AS c3,
        |    o_orderpriority AS c4, o_orderstatus AS c5,
        |    CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR) AS c6
        |  FROM orders),
        |l AS (SELECT 'o_custkey' AS col_name, c1 AS val FROM o
        |  UNION ALL SELECT 'o_orderdate', c2 FROM o
        |  UNION ALL SELECT 'o_orderkey', c3 FROM o
        |  UNION ALL SELECT 'o_orderpriority', c4 FROM o
        |  UNION ALL SELECT 'o_orderstatus', c5 FROM o
        |  UNION ALL SELECT 'o_totalprice', c6 FROM o),
        |g AS (SELECT col_name, val, count(*)::BIGINT AS c FROM l GROUP BY 1, 2)
        |SELECT col_name, sum(c)::BIGINT AS n_vals, count(*)::BIGINT AS n_distinct,
        |  round((ln(sum(c)::DOUBLE) - sum(c::DOUBLE * ln(c::DOUBLE)) / sum(c)::DOUBLE)
        |        / ln(2.0), 6) AS entropy_6dp
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "autocorr_daily" ->
      """WITH daily AS (SELECT epoch_ms(o_orderdate) // 86400000 AS day,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |p AS (SELECT lg.lag AS lag, a.cents AS x, b.cents AS y
        |      FROM (VALUES (1), (7)) lg(lag)
        |      JOIN daily a ON true JOIN daily b ON b.day = a.day + lg.lag),
        |g AS (SELECT lag, count(*)::BIGINT AS n,
        |        sum(x)::DECIMAL(38,0) AS sx, sum(y)::DECIMAL(38,0) AS sy,
        |        sum(x::DECIMAL(38,0) * x)::DECIMAL(38,0) AS sxx,
        |        sum(y::DECIMAL(38,0) * y)::DECIMAL(38,0) AS syy,
        |        sum(x::DECIMAL(38,0) * y)::DECIMAL(38,0) AS sxy
        |      FROM p GROUP BY 1)
        |SELECT lag::BIGINT AS lag, n,
        |  round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |    / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |       * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6) AS acf
        |FROM g ORDER BY lag""".stripMargin,
    "assoc_rules" ->
      """WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |bk AS (SELECT ok FROM lp GROUP BY ok
        |       HAVING count(*) > 1 AND count(*) <= 64),
        |pr AS (SELECT a.pk AS u, b.pk AS v, count(*)::BIGINT AS n_uv
        |       FROM lp a JOIN bk USING (ok) JOIN lp b USING (ok)
        |       WHERE a.pk < b.pk GROUP BY 1, 2 HAVING count(*) >= 2),
        |it AS (SELECT pk, count(*)::BIGINT AS n_item FROM lp GROUP BY 1),
        |nn AS (SELECT count(DISTINCT ok)::BIGINT AS N FROM lp)
        |SELECT u, v, n_uv, iu.n_item AS n_u, iv.n_item AS n_v,
        |  (n_uv * 10000) // N AS support_bp,
        |  (n_uv * 10000) // iu.n_item AS conf_uv_bp,
        |  (n_uv * 10000) // iv.n_item AS conf_vu_bp,
        |  (n_uv * N * 1000000) // (iu.n_item * iv.n_item) AS lift_ppm
        |FROM pr JOIN it iu ON pr.u = iu.pk JOIN it iv ON pr.v = iv.pk, nn
        |ORDER BY n_uv DESC, u, v LIMIT 100""".stripMargin,
    "ohlc_bars" ->
      """WITH ev AS (SELECT event_type AS etype, epoch_ms(ts) AS ts_ms,
        |    event_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT etype, (ts_ms // 3600000) * 3600000 AS bar_ms,
        |  (min(struct_pack(a := ts_ms, b := event_id, c := cents))).c AS open_c,
        |  max(cents) AS high_c, min(cents) AS low_c,
        |  (max(struct_pack(a := ts_ms, b := event_id, c := cents))).c AS close_c,
        |  count(*)::BIGINT AS n_events, sum(cents)::BIGINT AS vol_c
        |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ab_chisq" ->
      """WITH c AS (SELECT
        |    count(*) FILTER (WHERE user_id % 2 = 0)::BIGINT AS n_a,
        |    count(*) FILTER (WHERE user_id % 2 = 0
        |      AND event_type = 'purchase')::BIGINT AS x_a,
        |    count(*) FILTER (WHERE user_id % 2 = 1)::BIGINT AS n_b,
        |    count(*) FILTER (WHERE user_id % 2 = 1
        |      AND event_type = 'purchase')::BIGINT AS x_b
        |  FROM events)
        |SELECT n_a, x_a, n_b, x_b,
        |  (x_a * 10000) // n_a AS conv_a_bp,
        |  (x_b * 10000) // n_b AS conv_b_bp,
        |  round(CAST(n_a + n_b AS DOUBLE)
        |    * pow(CAST(x_a AS DOUBLE) * CAST(n_b - x_b AS DOUBLE)
        |          - CAST(x_b AS DOUBLE) * CAST(n_a - x_a AS DOUBLE), 2)
        |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |       * CAST(x_a + x_b AS DOUBLE)
        |       * CAST(n_a + n_b - x_a - x_b AS DOUBLE)), 6) AS chi2_6dp
        |FROM c""".stripMargin,
  )
}
