package graft.streaming

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Sessionization over the `events` table — batch (gaps-and-islands and
  * native `session_window`) plus a streaming variant with watermarking.
  *
  * The events parquet's physical `ts` encoding is NOT stable across
  * testdata regenerations: it has shipped as TIMESTAMP(NANOS) (readable
  * only as raw longs via `spark.sql.legacy.parquet.nanosAsLong`) and as
  * timestamp[us] (read natively as TIMESTAMP_NTZ). [[events]] therefore
  * derives the exact integer `ts_ms`/`ts_us` columns adaptively from
  * the footer's resolved type via [[graft.sources.Tables.epochMs]] /
  * `epochUs` — every batch and streaming consumer reads time ONLY
  * through those derived columns, so an encoding drift lands in one
  * helper, not in 30+ queries.
  */
object Sessions {

  val GapMs = 1800000L // 30 minutes

  /** events with exact epoch-derived time columns, adaptive to the
    * current footer's physical `ts` type (see [[Tables.epochUs]]; all
    * integer math, never doubles).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // kept so the legacy TIMESTAMP(NANOS) footer shape still reads (as
    // raw longs) if a future regeneration reverts; a no-op for us/ms
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = Tables.events(spark, sfDir)
    val dt = df.schema("ts").dataType
    df.withColumn("ts_ms", Tables.epochMs("ts", dt))
      .withColumn("ts_us", Tables.epochUs("ts", dt))
  }

  /** Batch gaps-and-islands: a new session starts when the gap from the
    * previous event of the same user exceeds 30 minutes. Output one row
    * per session with exact integer aggregates.
    */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame =
    sessionizeOf(events(spark, sfDir)).orderBy(col("user_id"), col("session_seq"))

  /** The gaps-and-islands collapse over an arbitrary event frame —
    * shared by [[sessionize]] and [[sessionizeIncremental]] so the two
    * can never drift.
    */
  private def sessionizeOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    ev
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > GapMs, 1)
          .otherwise(0))
      .withColumn("session_seq", sum(col("is_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts_ms")).as("start_ms"),
        max(col("ts_ms")).as("end_ms"),
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
  }

  /** Incremental session maintenance: fold a new event batch
    * (ts >= cutoff) into the materialized session table built from the
    * old batch, re-sessionizing ONLY the users the batch touches (their
    * full history — a new event can merge sessions across the cutoff)
    * and keeping every untouched user's rows as-is. Work is O(new batch
    * + touched users' history), not O(all history) — the batch analogue
    * of the streaming session_window state update, and the third member
    * of the incremental family (dedup_incremental, _near). Must equal
    * [[sessionize]] exactly; the declared query shares its oracle.
    * The old-batch session table is rebuilt here so the query is
    * self-contained (in production it is a materialized artifact; the
    * gate deliberately measures the full fold like dedup_incremental).
    */
  def sessionizeIncremental(spark: SparkSession, sfDir: String,
      cutoffMs: Long = 1706054400000L): DataFrame = { // 2024-01-24T00:00Z
    val e = events(spark, sfDir)
    val oldSessions = sessionizeOf(e.filter(col("ts_ms") < cutoffMs))
    val touched = e.filter(col("ts_ms") >= cutoffMs)
      .select(col("user_id")).distinct()
    val untouched = oldSessions.join(touched, Seq("user_id"), "left_anti")
    val updated = sessionizeOf(e.join(touched, Seq("user_id"), "left_semi"))
    untouched.unionByName(updated).orderBy(col("user_id"), col("session_seq"))
  }

  /** The session table computed ONCE per (session, sfDir) and persisted:
    * at scale the session table is a materialized input every downstream
    * temporal join reads, not something recomputed inside each query —
    * range_join / asof_join / asof_forward all build on this shared copy.
    */
  private val sessionCache = new graft.DfCache("sessions.sessionTable")

  def sessionTable(spark: SparkSession, sfDir: String): DataFrame =
    sessionCache.getOrElseUpdate((spark, sfDir), sessionize(spark, sfDir))

  /** Native Structured-Streaming-compatible sessionization run in batch:
    * `session_window(ts, 30 min)` — window end = last event + gap.
    * Cross-checks Spark's built-in session operator against the SQL
    * gaps-and-islands oracle.
    */
  def sessionWindowAgg(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .withColumn("tstamp", timestamp_micros(col("ts_us")))
      .groupBy(session_window(col("tstamp"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("start_ms"),
        unix_millis(col("session_window.end")).as("end_ms"),
        col("n_events"), col("value_cents"))
      .orderBy(col("user_id"), col("start_ms"))

  /** Per-user running totals carried in explicit state. */
  case class UserTotals(user_id: Long, n_events: Long, value_cents: Long)

  /** Custom stateful streaming (`flatMapGroupsWithState`): per-user
    * running event count + exact cents total, emitted on every update.
    * This is the arbitrary-state escape hatch the built-in aggregations
    * don't cover (reference analogue: the user-defined reducer hook, but
    * over an unbounded stream). ProcessingTimeTimeout lets idle users'
    * state be dropped — the knob that keeps state bounded at 100 TB.
    */
  /** The per-user totals processor on Spark 4's `transformWithState`
    * arbitrary-state API — the successor to [[streamingUserTotals]]'s
    * flatMapGroupsWithState: typed state handles (`ValueState`) instead
    * of one opaque blob, declarative TTL (`TTLConfig` — production
    * passes a Duration and idle users' state expires WITHOUT the
    * hand-rolled timeout dance the fMGWS version needs), timers, and a
    * state schema the store can evolve. Runs only on the RocksDB state
    * store provider (the spec sets it for the query), which is also the
    * 100 TB posture: state lives off-heap/on-disk per executor with
    * changelog checkpointing, so keyed state scales with disk, not RAM.
    */
  class UserTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), UserTotals] {
    @transient private var totals: org.apache.spark.sql.streaming.ValueState[UserTotals] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[UserTotals]("totals",
        org.apache.spark.sql.Encoders.product[UserTotals],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[UserTotals] = {
      val prev = if (totals.exists()) totals.get() else UserTotals(key, 0L, 0L)
      var n = prev.n_events
      var cents = prev.value_cents
      rows.foreach { case (_, c) => n += 1; cents += c }
      val next = UserTotals(key, n, cents)
      totals.update(next)
      Iterator.single(next)
    }
  }

  /** A closed session as the timer-driven sessionizer emits it. */
  case class ClosedSession(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Long)

  /** Open-session state of [[SessionCloseProcessor]]. */
  case class OpenSession(user_id: Long, start_ms: Long, last_ms: Long, n: Long)

  /** Timer-driven session closing on transformWithState — the third
    * TWS capability demonstrated (after typed state and TTL): EVENT-TIME
    * timers. Each user's open session re-arms a timer at
    * last_event + gap + 1; when the WATERMARK passes it the session is
    * emitted closed and its state cleared — the push-based "session
    * ended" signal that downstream consumers (billing, abuse detection)
    * want the moment inactivity is certain, which neither the
    * session_window aggregate (pull) nor the fMGWS timeout dance
    * (processing-time, wall-clock-flaky) expresses this directly.
    * Within a batch, rows sort by timestamp and fold through the same
    * 30-min gap rule as the batch gaps-and-islands; a session split by
    * a later batch's event emits from handleInputRows instead. Stale
    * timers (a session extended after arming) are ignored by the exact
    * expiry == last + gap + 1 guard — re-arming cannot delete
    * selectively without scanning, and firing a stale timer is a no-op
    * by construction.
    */
  class SessionCloseProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, java.sql.Timestamp), ClosedSession] {
    @transient private var open: org.apache.spark.sql.streaming.ValueState[OpenSession] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      open = getHandle.getValueState[OpenSession]("open",
        org.apache.spark.sql.Encoders.product[OpenSession],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, java.sql.Timestamp)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[ClosedSession] = {
      val sorted = rows.map(_._2).toSeq.sorted
      val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
      var cur = if (open.exists()) open.get() else null
      sorted.foreach { ts =>
        if (cur == null) cur = OpenSession(key, ts, ts, 1L)
        else if (ts - cur.last_ms > GapMs) {
          out += ClosedSession(key, cur.start_ms, cur.last_ms, cur.n)
          cur = OpenSession(key, ts, ts, 1L)
        } else cur = cur.copy(last_ms = math.max(ts, cur.last_ms), n = cur.n + 1)
      }
      if (cur != null) {
        open.update(cur)
        getHandle.registerTimer(cur.last_ms + GapMs + 1)
      }
      out.iterator
    }
    override def handleExpiredTimer(key: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[ClosedSession] = {
      if (open.exists()) {
        val cur = open.get()
        if (info.getExpiryTimeInMs == cur.last_ms + GapMs + 1) {
          open.clear()
          return Iterator.single(
            ClosedSession(key, cur.start_ms, cur.last_ms, cur.n))
        }
      }
      Iterator.empty // stale timer of an extended/closed session
    }
  }

  /** The timer-driven sessionizer wired to the event stream: watermark
    * on the event time (0 s delay — the fixture has no disorder), TWS in
    * EventTime mode. Closed sessions stream out as they become certain.
    */
  def streamingSessionClose(spark: SparkSession, sfDir: String,
      streamDir: String): Dataset[ClosedSession] = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.events(spark, sfDir).schema
    val ev = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    val dt = schema("ts").dataType
    val withMs = ev.withColumn("ts_ms", Tables.epochMs("ts", dt))
      .withColumn("ts_w", timestamp_millis(col("ts_ms")))
      .withWatermark("ts_w", "0 seconds")
      .select(col("user_id").as[Long], col("ts_ms").as[Long],
        col("ts_w").as[java.sql.Timestamp])
    withMs.groupByKey(_._1)
      .transformWithState(new SessionCloseProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  /** [[streamingUserTotals]] re-expressed on transformWithState — must
    * converge to the identical batch totals (StreamingSpec pins both).
    */
  def streamingUserTotalsTws(spark: SparkSession, sfDir: String,
      streamDir: String): Dataset[UserTotals] = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.events(spark, sfDir).schema
    val ev = spark.readStream.schema(schema).parquet(streamDir)
      .select(col("user_id").as[Long],
        round(col("value") * 100).cast("long").as[Long])
    ev.groupByKey(_._1)
      .transformWithState(new UserTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  def streamingUserTotals(spark: SparkSession, sfDir: String, streamDir: String,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[UserTotals] = {
    require(timeout == GroupStateTimeout.NoTimeout
        || timeout == GroupStateTimeout.ProcessingTimeTimeout,
      "streamingUserTotals supports NoTimeout or ProcessingTimeTimeout; " +
        "EventTimeTimeout needs setTimeoutTimestamp + a watermark, which this " +
        "update function does not implement")
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.events(spark, sfDir).schema
    val ev = spark.readStream.schema(schema).parquet(streamDir)
      .select(col("user_id").as[Long],
        round(col("value") * 100).cast("long").as[Long])
    val useTimeout = timeout != GroupStateTimeout.NoTimeout

    def update(userId: Long, rows: Iterator[(Long, Long)],
        state: GroupState[UserTotals]): Iterator[UserTotals] = {
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else {
        val prev = state.getOption.getOrElse(UserTotals(userId, 0L, 0L))
        var n = prev.n_events
        var cents = prev.value_cents
        rows.foreach { case (_, c) => n += 1; cents += c }
        val next = UserTotals(userId, n, cents)
        state.update(next)
        // production: ProcessingTimeTimeout + this duration drops idle
        // users' state (keeps state bounded); the engine then runs
        // timeout-check batches continuously, so tests use NoTimeout
        if (useTimeout) state.setTimeoutDuration("1 hour")
        Iterator.single(next)
      }
    }

    ev.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(update)
  }

  /** Funnel stage state: sentinel -1 = stage not reached (Options would
    * need a custom encoder; a sentinel keeps the state codegen-friendly).
    */
  case class FunnelState(user_id: Long, view_ms: Long, click_ms: Long,
      purchase_ms: Long)

  /** Streaming funnel: the ordered view→click→purchase state machine of
    * [[graft.queries.Journey.funnel]] as incremental per-user state
    * (`flatMapGroupsWithState`), emitting the advanced state per batch.
    * Within a batch the group's rows are sorted by event time before
    * the machine runs; across batches the carried stage minima are
    * correct as long as batches arrive time-ordered — the file-source
    * contract here, and in production the same guarantee a watermarked,
    * event-time-sorted ingest provides (an out-of-order click older
    * than the stored view_ms cannot retroactively lower it: that is
    * exactly the trade every incremental funnel makes; replay from the
    * log to re-derive). Per-user state is 3 longs — bounded forever.
    */
  def streamingFunnel(spark: SparkSession, sfDir: String, streamDir: String,
      maxFilesPerTrigger: Int = 0): Dataset[FunnelState] = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.events(spark, sfDir).schema
    import spark.implicits._
    val reader = spark.readStream.schema(schema)
    val tuned = if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger) else reader
    val ev = tuned.parquet(streamDir)
      .select(col("user_id").as[Long], col("event_type").as[String],
        Tables.epochMs("ts", schema("ts").dataType).as[Long])

    // at EQUAL timestamps the earlier funnel stage must run first (the
    // batch funnel's >= comparisons are inclusive, so a view and click
    // sharing a ms-truncated ts both count) — sorting by ts alone would
    // leave the tie to arrival order and nondeterministically drop the
    // later stage
    val stageRank = Map("view" -> 0, "click" -> 1, "purchase" -> 2)

    def update(userId: Long, rows: Iterator[(Long, String, Long)],
        state: GroupState[FunnelState]): Iterator[FunnelState] = {
      var st = state.getOption.getOrElse(FunnelState(userId, -1L, -1L, -1L))
      rows.toSeq.sortBy(r => (r._3, stageRank.getOrElse(r._2, 3))).foreach {
        case (_, tpe, ts) =>
        tpe match {
          case "view" if st.view_ms < 0 => st = st.copy(view_ms = ts)
          case "click" if st.click_ms < 0 && st.view_ms >= 0 && ts >= st.view_ms =>
            st = st.copy(click_ms = ts)
          case "purchase" if st.purchase_ms < 0 && st.click_ms >= 0 && ts >= st.click_ms =>
            st = st.copy(purchase_ms = ts)
          case _ =>
        }
      }
      state.update(st)
      Iterator.single(st)
    }

    ev.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Stream-stream inner join with event-time range bounds: each `view`
    * event joined to the same user's `purchase` events within the next 30
    * minutes. Watermarks on BOTH sides bound the join state (without them
    * a stream-stream join buffers forever — the canonical unbounded-state
    * mistake at scale); the range condition lets the engine expire
    * buffered rows as the watermark advances.
    */
  def streamingViewPurchaseJoin(spark: SparkSession, sfDir: String,
      streamDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.events(spark, sfDir).schema
    def side(tpe: String, pfx: String) =
      spark.readStream.schema(schema).parquet(streamDir)
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${pfx}_user"),
          col("event_id").as(s"${pfx}_id"),
          timestamp_micros(Tables.epochUs("ts", schema("ts").dataType)).as(s"${pfx}_ts"))
        .withWatermark(s"${pfx}_ts", "1 hour")
    side("view", "v").join(side("purchase", "p"),
      col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("v_user").as("user_id"), col("v_id").as("view_id"),
        col("p_id").as("purchase_id"),
        unix_millis(col("v_ts")).as("view_ms"),
        unix_millis(col("p_ts")).as("purchase_ms"))
  }

  /** LEFT OUTER variant of [[streamingViewPurchaseJoin]]: views with no
    * purchase in the window are still emitted (purchase_id null) — but
    * only once the watermark passes `view_ts + 30min`, because until
    * then a matching purchase could still arrive. The engine therefore
    * holds back the null row for exactly the state-retention horizon;
    * any spec comparing against the batch left join must cut off views
    * younger than (max event time − watermark − window), which is the
    * honest semantics of a streaming outer join, not a test artifact.
    */
  def streamingViewPurchaseLeftJoin(spark: SparkSession, sfDir: String,
      streamDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.events(spark, sfDir).schema
    def side(tpe: String, pfx: String) =
      spark.readStream.schema(schema).parquet(streamDir)
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${pfx}_user"),
          col("event_id").as(s"${pfx}_id"),
          timestamp_micros(Tables.epochUs("ts", schema("ts").dataType)).as(s"${pfx}_ts"))
        .withWatermark(s"${pfx}_ts", "1 hour")
    side("view", "v").join(side("purchase", "p"),
      col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"),
      "left_outer")
      .select(col("v_user").as("user_id"), col("v_id").as("view_id"),
        col("p_id").as("purchase_id"),
        unix_millis(col("v_ts")).as("view_ms"))
  }

  /** FULL OUTER variant — the last stream-stream join flavor: matched
    * pairs emit eagerly; an unmatched view OR purchase is emitted (other
    * side null) only once ITS watermark passes the join horizon, because
    * until then the missing side could still arrive. State retention and
    * the emission horizon are symmetric versions of the LEFT OUTER
    * contract documented on [[streamingViewPurchaseLeftJoin]].
    */
  def streamingViewPurchaseFullJoin(spark: SparkSession, sfDir: String,
      streamDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.events(spark, sfDir).schema
    def side(tpe: String, pfx: String) =
      spark.readStream.schema(schema).parquet(streamDir)
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${pfx}_user"),
          col("event_id").as(s"${pfx}_id"),
          timestamp_micros(Tables.epochUs("ts", schema("ts").dataType)).as(s"${pfx}_ts"))
        .withWatermark(s"${pfx}_ts", "1 hour")
    side("view", "v").join(side("purchase", "p"),
      col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"),
      "full_outer")
      .select(coalesce(col("v_user"), col("p_user")).as("user_id"),
        col("v_id").as("view_id"), col("p_id").as("purchase_id"),
        unix_millis(col("v_ts")).as("view_ms"),
        unix_millis(col("p_ts")).as("purchase_ms"))
  }

  /** Streaming exact dedup on event_id with watermark-bounded state:
    * duplicates arriving within the watermark delay are dropped, state
    * for expired event times is cleaned up (the streaming face of
    * Dedup.exact; unbounded dropDuplicates would accumulate state
    * forever).
    */
  def streamingDedupEvents(spark: SparkSession, sfDir: String,
      streamDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.events(spark, sfDir).schema
    spark.readStream.schema(schema).parquet(streamDir)
      .withColumn("tstamp", timestamp_micros(Tables.epochUs("ts", schema("ts").dataType)))
      .withWatermark("tstamp", "1 hour")
      .dropDuplicatesWithinWatermark(Seq("event_id"))
      .select(col("event_id"), col("user_id"), col("event_type"))
  }

  /** Streaming variant: same session_window aggregation with a watermark
    * for state cleanup / late-data handling. `streamDir` is a monitored
    * directory of events-schema parquet files (the file-stream deployment
    * shape: new files land, the query incrementally sessionizes them);
    * `sfDir` supplies the schema (streaming reads require one up front).
    */
  def streamingSessionCounts(spark: SparkSession, sfDir: String, streamDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.events(spark, sfDir).schema
    spark.readStream
      .schema(schema)
      .parquet(streamDir)
      .withColumn("tstamp", timestamp_micros(Tables.epochUs("ts", schema("ts").dataType)))
      .withWatermark("tstamp", "1 hour")
      .groupBy(session_window(col("tstamp"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("start_ms"),
        unix_millis(col("session_window.end")).as("end_ms"),
        col("n_events"))
  }

  /** Streaming incremental-view maintenance — the foreachBatch
    * counterpart of the batch `incremental_agg` identity: each
    * micro-batch's per-type aggregate (count + exact cents) MERGES
    * into a maintained target table instead of re-aggregating history.
    * The source checkpoint guarantees each input file contributes
    * exactly once across stop/restart, so the maintained table
    * converges to the batch aggregate over everything ever ingested —
    * pinned by StreamingSpec across a two-phase restart.
    *
    * The merge here is read-merge-overwrite on a parquet dir, with a
    * `localCheckpoint` materializing the merged result BEFORE the
    * overwrite (reading and overwriting the same path in one lazy plan
    * is undefined). At 100 TB the target is a transactional keyed sink
    * (the merge_upsert shape) — the maintenance algebra is identical.
    */
  def streamingIncrementalAgg(spark: SparkSession, sfDir: String,
      streamDir: String, targetDir: String, ckpt: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = Tables.events(spark, sfDir).schema
    spark.readStream.schema(schema).parquet(streamDir)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val delta = batch.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
          .select(col("event_type").as("dt"), col("n").as("dn"), col("c").as("dc"))
        // not Tables.parquet: every batch rewrites targetDir in place
        val base =
          try spark.read.parquet(targetDir)
          catch { case _: org.apache.spark.sql.AnalysisException =>
            spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              new org.apache.spark.sql.types.StructType()
                .add("event_type", "string").add("n_events", "long")
                .add("cents", "long"))
          }
        val merged = base.join(delta, col("event_type") === col("dt"), "full_outer")
          .select(coalesce(col("event_type"), col("dt")).as("event_type"),
            (coalesce(col("n_events"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n_events"),
            (coalesce(col("cents"), lit(0L)) + coalesce(col("dc"), lit(0L)))
              .as("cents"))
          .localCheckpoint(true)
        merged.write.mode("overwrite").parquet(targetDir)
        ()
      }
      .start()
  }

  /** Stream-static enrichment join — the canonical "attach the dimension
    * snapshot to every event" deployment shape that was missing from the
    * streaming surface: each micro-batch of the event stream inner-joins
    * a STATIC per-user profile (here the batch events history aggregated
    * to (user, lifetime events, lifetime cents) — in production a
    * published dimension snapshot). Unlike a stream-stream join this
    * needs NO watermark and NO join state: the static side is re-read
    * (and with the explicit `broadcast` hint, re-broadcast, never
    * shuffled) per micro-batch, which is also the semantics contract —
    * each batch sees the snapshot as of that batch, so a refreshed
    * snapshot file picks up mid-stream without a restart. The stream
    * side therefore stays append-only partition-local work: at 100 TB/
    * day of events the only scale knob is the snapshot staying
    * broadcast-sized (profiles of the ACTIVE key space; a billion-row
    * dimension would flip this to the shuffled stream-static join, which
    * Spark also executes without state — still no watermark needed).
    */
  def streamingEnrich(spark: SparkSession, sfDir: String,
      streamDir: String): DataFrame = {
    val schema = Tables.events(spark, sfDir).schema
    val profile = broadcast(
      events(spark, sfDir)
        .groupBy(col("user_id").as("p_user"))
        .agg(count(lit(1)).as("lifetime_events"),
          sum(round(col("value") * 100).cast("long")).as("lifetime_cents")))
    spark.readStream.schema(schema).parquet(streamDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .join(profile, col("user_id") === col("p_user"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("cents"), col("lifetime_events"), col("lifetime_cents"))
  }
}
