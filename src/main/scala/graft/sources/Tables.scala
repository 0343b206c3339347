package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Parquet table loader for the driver testdata layout
  * (`<sfDir>/<name>.parquet`, TESTDATA.md).
  *
  * All queries go through here, and every scan stays a plain parquet
  * read, so Catalyst keeps column pruning and filter pushdown. The one
  * thing held at this layer is each path's schema: it is inferred once
  * per session and later reads pass it to `spark.read.schema`, which
  * skips the schema-merge job and footer read that inference costs
  * (see [[parquet]]). No rows are cached or collected here.
  *
  * Staleness caveat: the schema is keyed by (session, path), not by file
  * content, so a path rewritten with a new schema inside one session is
  * read with the old schema until [[graft.MaterializedCaches.invalidateAll]].
  * No current writer reuses a path with a different schema; state
  * directories that streaming rewrites in place are read uncached.
  */
object Tables {
  private val schemas = new graft.SessionCache[StructType]("sources.parquetSchema")

  /** An immutable parquet input at `path`, read with the schema inferred
    * on its first read in this session. Only for paths that are not
    * rewritten while the session lives: the testdata tables and the
    * artifacts a session writes once, before their first read.
    */
  private[graft] def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemas.getOrElseUpdate((spark, path), spark.read.parquet(path).schema))
      .parquet(path)

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // let legacy TIMESTAMP(NANOS) footers resolve (as raw int64 nanos)
    // instead of failing the vectorized reader — set HERE, not only in
    // Sessions, so the resolved type of a drifted footer is the same in
    // every session regardless of which query ran first
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    parquet(spark, s"$sfDir/$name.parquet")
  }

  /** Normalize a drifted raw-nanos time column back to a proper
    * timestamp; a no-op (and therefore plan-neutral — pushdown and
    * pruning untouched) for the native timestamp[us]/[ms] footer shapes
    * current testdata ships. Only `events.ts` keeps its raw long shape
    * (Sessions owns that derivation); the date-dimension columns here
    * are consumed as timestamps by dozens of queries, so a nanos
    * regeneration must degrade to a correct post-scan conversion, not
    * a table-wide analysis failure.
    */
  private def timeNormalized(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        // the only long-resolving parquet time shape is TIMESTAMP(NANOS)
        // under nanosAsLong; exact integer ns -> us, then a native micros
        // timestamp
        case LongType => d.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
        case _ => d
      }
    }

  /** Exact integer epoch-microseconds for a time column, adaptive to
    * whatever physical type the CURRENT parquet footer resolves to.
    * Upstream writers change timestamp encodings between regenerations
    * (the round-8 testdata refresh flipped `events.ts` from
    * timestamp[ns] to timestamp[us], which took out every events query
    * at analysis time) — so every raw-time consumer derives its integer
    * epoch columns through here, making the next drift a one-branch fix
    * instead of a table-wide outage.
    *
    *  - `LongType`: the legacy TIMESTAMP(NANOS) footer read raw via
    *    `spark.sql.legacy.parquet.nanosAsLong` → integer `div` (floor),
    *    exact; never double math (1.7e18 ns exceeds a double's 53-bit
    *    mantissa).
    *  - `TimestampType`/`TimestampNTZType`: native reads of
    *    timestamp[us]/[ms] footers → `unix_micros`, exact by
    *    construction. The NTZ→LTZ cast is exact because the session
    *    time zone is pinned to UTC (build.sbt javaOptions); DuckDB's
    *    `epoch_us(ts)` on the same file agrees bit-for-bit.
    */
  def epochUs(colName: String, dt: DataType): Column = dt match {
    case LongType          => expr(s"$colName div 1000")
    case TimestampType     => unix_micros(col(colName))
    case TimestampNTZType  => unix_micros(col(colName).cast(TimestampType))
    case other => throw new IllegalArgumentException(
      s"unsupported physical type for time column '$colName': $other " +
        "(expected raw int64 nanos, TIMESTAMP, or TIMESTAMP_NTZ)")
  }

  /** Exact integer epoch-milliseconds; same contract as [[epochUs]]. */
  def epochMs(colName: String, dt: DataType): Column = dt match {
    case LongType          => expr(s"$colName div 1000000")
    case TimestampType     => unix_millis(col(colName))
    case TimestampNTZType  => unix_millis(col(colName).cast(TimestampType))
    case other => throw new IllegalArgumentException(
      s"unsupported physical type for time column '$colName': $other " +
        "(expected raw int64 nanos, TIMESTAMP, or TIMESTAMP_NTZ)")
  }

  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame =
    timeNormalized(apply(spark, dir, "orders"), "o_orderdate")
  def lineitem(spark: SparkSession, dir: String): DataFrame =
    timeNormalized(apply(spark, dir, "lineitem"), "l_shipdate")
  def events(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
