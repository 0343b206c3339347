package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generic KEYED MAINTAINED COUNT TABLE with the versioned-bucket
  * commit protocol — the reusable core behind [[Drift]]'s streaming
  * token counts, usable for any (string key → additive long) aggregate
  * a stream must maintain incrementally (token counts, image-hash dedup
  * censuses, URL frequencies).
  *
  * Layout & contract (see [[Drift]]'s scaladoc for the full rationale):
  *   - the table is partitioned by `bucket = xxhash64(k) % numBuckets`;
  *     a batch reads and rewrites ONLY the buckets its delta touches,
  *     so per-batch I/O scales with the batch's key footprint;
  *   - each bucket's state lives in immutable `bucket=<b>/v=<batchId>/`
  *     version dirs written via a per-batch staging dir + rename, made
  *     visible by atomically creating a `_COMMIT` marker — readers
  *     resolve each bucket to its max committed version, so a crash
  *     anywhere leaves the old version intact and the new one invisible;
  *   - every row carries `last_batch`; an at-least-once replay skips
  *     buckets whose stored id is already >= its own, so crash-then-
  *     replay is indistinguishable from a clean run (crash-injection
  *     spec in StreamingSpec);
  *   - superseded versions are GC'd after each commit (marker-first, so
  *     a crash mid-GC only delays cleanup). The IMMEDIATE GC assumes the
  *     declared foreachBatch SINGLE-WRITER/SINGLE-READER contract: a
  *     concurrent reader in ANOTHER process that listed the old version
  *     mid-scan would fail its read when that version vanishes. External
  *     readers need a one-version GC grace (delete `v=b` only once
  *     `v>b+1` is committed) or a read-repair retry loop — neither is
  *     wired here because the streaming instances own their tables.
  */
object MaintainedCounts {

  private val CommitMarker = "_COMMIT"

  private def emptyCounts(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("k", "string").add("c", "long")
        .add("last_batch", "long").add("bucket", "int"))

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def committedDirs(fs: FileSystem, root: Path): Seq[Path] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("bucket="))
      .flatMap { bdir =>
        val committed = fs.listStatus(bdir.getPath).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
          .filter(st => fs.exists(new Path(st.getPath, CommitMarker)))
        if (committed.isEmpty) None
        else Some(committed.maxBy(_.getPath.getName.drop(2).toLong).getPath)
      }

  /** Resolved read: every bucket at its max committed version; `buckets`
    * prunes the LISTING so untouched buckets cost zero reads.
    */
  def readCounts(spark: SparkSession, dir: String,
      buckets: Option[Seq[Int]] = None): DataFrame = {
    val (fs, root) = fsOf(spark, dir)
    val all = committedDirs(fs, root)
    val dirs = buckets match {
      case Some(bs) =>
        val keep = bs.map(b => s"bucket=$b").toSet
        all.filter(p => keep(p.getParent.getName))
      case None => all
    }
    if (dirs.isEmpty) emptyCounts(spark)
    // not Tables.parquet: a retried batch rewrites its version dirs in place
    else spark.read.parquet(dirs.map(_.toString): _*)
      .select(col("k"), col("c"), col("last_batch"), col("bucket").cast("int"))
  }

  /** Merge one batch's delta — a frame with columns `(k: string,
    * dc: long)`, one row per key — into the maintained table at `dir`.
    * Returns the bucket ids actually committed (empty on a full replay
    * skip). `crashAfterBuckets` is the crash-injection hook.
    */
  def applyBatch(spark: SparkSession, deltaKeyed: DataFrame, batchId: Long,
      dir: String, numBuckets: Int = 64,
      crashAfterBuckets: Int = Int.MaxValue): Seq[Int] = {
    val delta = deltaKeyed
      .select(col("k").as("dk"), col("dc"))
      .withColumn("dbucket", pmod(xxhash64(col("dk")), lit(numBuckets)).cast("int"))
      .localCheckpoint(true) // evaluated once: touched set + merge below
    val touched = delta.select(col("dbucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted // bounded: <= numBuckets ints
    if (touched.isEmpty) return Nil
    val base = readCounts(spark, dir, Some(touched)) // listing-pruned
      .localCheckpoint(true) // materialize BEFORE renaming new versions in
    val applied = base.filter(col("last_batch") >= batchId)
      .select(col("bucket")).distinct().collect().map(_.getInt(0)).toSet
    val todo = touched.filterNot(applied)
    if (todo.isEmpty) return Nil
    val merged = base.filter(col("bucket").isin(todo: _*))
      .join(delta.filter(col("dbucket").isin(todo: _*)),
        col("k") === col("dk"), "full_outer")
      .select(coalesce(col("k"), col("dk")).as("k"),
        (coalesce(col("c"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("c"),
        lit(batchId).as("last_batch"),
        coalesce(col("bucket"), col("dbucket")).as("bucket"))
    val (fs, root) = fsOf(spark, dir)
    val staging = new Path(root, s".staging-b$batchId")
    fs.delete(staging, true) // torn previous attempt of this batch
    merged.withColumn("bkt", col("bucket"))
      .write.partitionBy("bkt").parquet(staging.toString)
    var committed = 0
    todo.foreach { b =>
      if (committed >= crashAfterBuckets)
        throw new RuntimeException(
          s"injected crash after $committed bucket commits of batch $batchId")
      val bdir = new Path(root, s"bucket=$b")
      val dst = new Path(bdir, s"v=$batchId")
      fs.mkdirs(bdir)
      if (fs.exists(dst)) fs.delete(dst, true) // torn, uncommitted remnant
      require(fs.rename(new Path(staging, s"bkt=$b"), dst),
        s"rename into $dst failed")
      fs.create(new Path(dst, CommitMarker), true).close() // THE commit point
      committed += 1
      fs.listStatus(bdir).foreach { st =>
        if (st.getPath.getName != s"v=$batchId") fs.delete(st.getPath, true)
      }
    }
    fs.delete(staging, true)
    todo
  }
}
