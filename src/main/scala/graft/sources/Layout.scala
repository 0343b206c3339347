package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit, raise_error, when}

/** Physical-layout helpers for the 100 TB posture. The reference has no
  * storage layout at all (its sink is 10 append-mode text files,
  * `distwc.c:31-34`); at cluster scale the two layout levers that matter
  * are:
  *
  *   - **Bucketed tables**: pre-shuffle a fact table once at write time
  *     into N hash buckets on its join/aggregation key. Every later join
  *     or aggregation on that key reads the buckets co-located — zero
  *     Exchange in the plan — and an equality filter on the key prunes
  *     to 1/N of the files (`SelectedBucketsCount` in the scan). This is
  *     the difference between re-shuffling 100 TB per query and never
  *     shuffling it again.
  *
  *   - **Range-sorted parquet**: `repartitionByRange` + sort-within on a
  *     predicate column gives every output file a disjoint min/max range
  *     on that column, so parquet footer stats let point/range scans skip
  *     whole files and row groups. This is the poor-man's (and
  *     Spark-native) version of clustering/Z-ordering for single-column
  *     predicates.
  *
  * Both are plan-guarded in LayoutSpec; SCALE.md carries the sizing
  * guidance (bucket counts, target file sizes).
  */
object Layout {

  /** Write `df` as a bucketed+sorted parquet table in the session
    * catalog. Bucket count should divide (or equal) the downstream
    * shuffle partitioning and keep each bucket file in the 128 MB-1 GB
    * band at target scale.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int, key: String): Unit = {
    require(!table.contains("."),
      "Layout.writeBucketed takes a simple table name (current database)")
    // idempotent against a previous JVM's leftovers: with the in-memory
    // catalog the table METADATA dies with the session but the warehouse
    // FILES persist, and saveAsTable refuses an orphaned location. The
    // location comes from the catalog itself — a string-built warehouse
    // path would miss its identifier normalization (lowercasing).
    // Deletion is guarded: a live MANAGED table cleans up its own files
    // on DROP; files a dropped EXTERNAL table leaves behind are user
    // data we refuse to touch; and an orphaned location is reclaimed
    // only when it sits inside this session's warehouse dir.
    val spark = df.sparkSession
    val loc = new org.apache.hadoop.fs.Path(
      org.apache.spark.sql.graft.Bridge.defaultTablePath(spark, table))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (spark.catalog.tableExists(table)) {
      // refuse BEFORE any destruction: dropping first would destroy the
      // external table's catalog entry (schema, properties, location)
      // even on the "refused" path
      if (spark.catalog.getTable(table).tableType == "EXTERNAL" && fs.exists(loc))
        throw new IllegalStateException(
          s"refusing to overwrite `$table`: an EXTERNAL table holds data at $loc — " +
            "move or drop it explicitly before calling writeBucketed")
      spark.sql(s"DROP TABLE `$table`")
    }
    if (fs.exists(loc)) {
      // reclaim orphans only inside a location the catalog itself owns:
      // the warehouse dir, or the CURRENT database's location (which a
      // CREATE DATABASE ... LOCATION puts outside the warehouse)
      val roots = Seq(
        new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")),
        new org.apache.hadoop.fs.Path(
          spark.catalog.getDatabase(spark.catalog.currentDatabase).locationUri)
      ).map(fs.makeQualified)
      val q = fs.makeQualified(loc)
      def under(p: org.apache.hadoop.fs.Path, root: org.apache.hadoop.fs.Path): Boolean =
        p != null && (p == root || under(p.getParent, root))
      if (!roots.exists(under(q.getParent, _))) throw new IllegalStateException(
        s"refusing to delete orphaned location $q: outside ${roots.mkString(" and ")}")
      fs.delete(q, true)
    }
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)
  }

  /** Join two same-bucketed tables on their bucket keys: with matching
    * bucket counts Catalyst plans a sort-merge join with NO shuffle on
    * either side (the bucketing IS the hash partitioning).
    */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      leftKey: String, rightKey: String): DataFrame = {
    // side-qualified keys: same-bucketed tables usually share the key
    // NAME, and unqualified col(...) === col(...) is AMBIGUOUS_REFERENCE
    val l = spark.table(left)
    val r = spark.table(right)
    l.join(r, l(leftKey) === r(rightKey))
  }

  /** Compact a directory of small parquet files into ~`targetBytes`
    * files — the maintenance pass every streaming/incremental sink needs
    * (a micro-batch sink writing 1000 files/hour makes every later scan
    * pay 1000 footer reads + task launches; NameNode/object-store
    * listing cost scales with file count, not data size).
    *
    * File count = ceil(input bytes / targetBytes), sized from the
    * actual listing, not guessed. `rebalance=false` (default) uses
    * `coalesce` — a narrow dependency, zero shuffle, the cheap path
    * when input files are similar sizes. `rebalance=true` pays one
    * round-robin shuffle for evenly-sized output files — worth it when
    * the input mixes tiny and large files (coalesce would glue them
    * unevenly). Returns (filesBefore, filesAfter).
    *
    * Listing is recursive, so a hive-partitioned sink (dt=.../part-*)
    * is sized correctly — but note the rewrite FLATTENS the partition
    * directories (partition columns become plain data columns in the
    * output files); to keep a partitioned layout, compact each leaf
    * partition directory separately.
    */
  def compactParquet(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long = 128L << 20, rebalance: Boolean = false): (Int, Int) = {
    val in = new org.apache.hadoop.fs.Path(inDir)
    val fs = in.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = {
      val it = fs.listFiles(in, true)
      val buf = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.FileStatus]()
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && s.getPath.getName.endsWith(".parquet")) buf += s
      }
      buf.toSeq
    }
    require(parts.nonEmpty, s"no parquet files under $inDir (searched recursively)")
    val total = parts.map(_.getLen).sum
    val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(inDir)
    val out = if (rebalance) df.repartition(n) else df.coalesce(n)
    out.write.mode("overwrite").parquet(outDir)
    val written = fs.listStatus(new org.apache.hadoop.fs.Path(outDir))
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    (parts.length, written)
  }

  /** Write `df` range-partitioned and sorted on `key`: output files have
    * pairwise-disjoint [min, max] ranges on `key`, enabling file- and
    * row-group-level skipping for predicates on it.
    */
  def writeRangeSorted(df: DataFrame, path: String, key: String, partitions: Int): Unit =
    df.repartitionByRange(partitions, col(key))
      .sortWithinPartitions(col(key))
      .write.mode("overwrite").parquet(path)

  /** Write `df` clustered on the Z-order (Morton) code of two keys:
    * every output file covers a bounded rectangle in (keyX, keyY), so
    * footer-stat skipping works for predicates on EITHER column — the
    * two-dimensional upgrade of [[writeRangeSorted]]. Keys must be
    * non-negative and fit 31 bits (bucket/quantize wider domains first).
    */
  def writeZOrdered(df: DataFrame, path: String, keyX: String, keyY: String,
      partitions: Int): Unit = {
    require(!df.columns.contains("__z"),
      "Layout.writeZOrdered reserves the column name __z")
    // fail fast on out-of-range keys: morton2 masks to 31 bits, and a
    // silently wrapped key destroys the bounded-rectangle property the
    // layout exists for without any visible error (data stays correct,
    // skipping just quietly stops working)
    def checked(name: String) = {
      val c = col(name)
      when(c < 0L || c > 0x7FFFFFFFL,
        raise_error(concat(lit(s"writeZOrdered: $name out of [0, 2^31) range: "),
          c.cast("string")))).otherwise(c)
    }
    df.withColumn("__z",
        graft.functions.ZOrder.morton2(checked(keyX), checked(keyY)))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Hive-style directory partitioning (`partitionBy`) — the FIRST-line
    * 100 TB scan reducer: a predicate on the partition column never
    * opens the pruned directories at all (`PartitionFilters` in the
    * scan, before footer stats or bucket pruning even apply). The
    * partition column should be low-cardinality (a date bucket, a
    * source id — NOT a key): every distinct value is a directory, and
    * millions of tiny directories destroy listing performance. Rows are
    * pre-shuffled on the partition column so each partition directory
    * gets ONE file per write task that holds it, not one file per
    * upstream task (the classic small-files explosion).
    */
  def writePartitioned(df: DataFrame, path: String, partCol: String): Unit =
    df.repartition(col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(path)

  private val partitionedOrdersCache = new graft.SessionCache[String]("layout.partitionedOrders")

  /** Path of the month-partitioned orders artifact for testdata dir `d`
    * — written once per session via [[writePartitioned]] (12 `omonth=<m>`
    * directories, one file each). The production posture: the
    * partitioned fact table is written ONCE by the ingest job and every
    * consumer reads it back; [[graft.queries.Analytics.dppJoin]] is the
    * declared consumer exercising dynamic partition pruning over it.
    */
  def partitionedOrders(s: SparkSession, d: String): String =
    partitionedOrdersCache.getOrElseUpdate((s, d), {
      val dir = graft.TempArtifacts.create("graft-dpp-orders")
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        org.apache.spark.sql.functions.round(col("o_totalprice") * 100)
          .cast("long").as("cents"),
        org.apache.spark.sql.functions.month(col("o_orderdate")).as("omonth"))
      writePartitioned(o, dir, "omonth")
      dir
    })
}
