package graft

import graft.sources.{Layout, Tables}
import org.apache.spark.sql.functions._

/** Plan guards for the physical-layout helpers: bucketed tables must
  * actually eliminate the join shuffle and prune buckets, and the
  * range-sorted writer must actually produce disjoint per-file ranges —
  * the properties that make them worth anything at 100 TB.
  */
class LayoutSpec extends SparkSuite {

  test("bucketed-to-bucketed join plans with zero Exchange") {
    Layout.writeBucketed(Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      "graft_orders_bkt", 8, "o_custkey")
    Layout.writeBucketed(Tables.customer(spark, sf0001)
      .select(col("c_custkey"), col("c_mktsegment")),
      "graft_customer_bkt", 8, "c_custkey")
    // force the shuffle-or-not decision to matter (no broadcast escape)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = Layout.bucketedJoin(spark, "graft_orders_bkt", "graft_customer_bkt",
        "o_custkey", "c_custkey")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
      // and it still computes the right thing
      val direct = Tables.orders(spark, sf0001)
        .join(Tables.customer(spark, sf0001), col("o_custkey") === col("c_custkey"))
        .count()
      assert(j.count() == direct)
    }
  }

  test("equality filter on the bucket key prunes to 1 of 8 buckets") {
    // self-sufficient: (re)create the table so the test does not depend
    // on suite ordering or a previous JVM's catalog
    Layout.writeBucketed(Tables.customer(spark, sf0001)
      .select(col("c_custkey"), col("c_mktsegment")),
      "graft_customer_bkt", 8, "c_custkey")
    // the DisableUnnecessaryBucketedScan rule only weighs shuffle
    // avoidance, not pruning — without an interesting required
    // distribution it silently falls back to a full scan, so pin the
    // bucketed read on for this check
    withConf("spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      val one = spark.table("graft_customer_bkt").filter(col("c_custkey") === 42)
      val plan = one.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"), plan.take(2000))
    }
  }

  test("range-sorted write yields pairwise-disjoint per-file key ranges") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-layout").toString
    Layout.writeRangeSorted(
      Tables.lineitem(spark, sf0001)
        .select(col("l_orderkey"), col("l_quantity"), col("l_shipdate")),
      s"$tmp/li_sorted", "l_orderkey", 8)
    val ranges = spark.read.parquet(s"$tmp/li_sorted")
      .groupBy(input_file_name().as("f"))
      .agg(min(col("l_orderkey")).as("lo"), max(col("l_orderkey")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length > 1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, ranges.mkString(","))
      case _ =>
    }
  }

  test("bucketedJoin disambiguates identical key names on both sides") {
    Layout.writeBucketed(Tables.nation(spark, sf0001)
      .select(col("n_nationkey").as("k"), col("n_name")), "graft_nation_a", 4, "k")
    Layout.writeBucketed(Tables.nation(spark, sf0001)
      .select(col("n_nationkey").as("k"), col("n_regionkey")), "graft_nation_b", 4, "k")
    // same key NAME on both sides — unqualified col("k") === col("k")
    // would throw AMBIGUOUS_REFERENCE
    val n = Layout.bucketedJoin(spark, "graft_nation_a", "graft_nation_b", "k", "k").count()
    assert(n == 25)
  }

  test("writeZOrdered fails fast on out-of-range keys instead of silently wrapping") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-zguard").toString
    val bad = spark.range(10).select(col("id").as("x"), (col("id") - 5).as("y"))
    val e = intercept[Exception] {
      Layout.writeZOrdered(bad, s"$tmp/bad", "x", "y", 2)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("out of [0, 2^31) range")), e.toString)
  }

  test("morton2 matches a bit-by-bit reference interleave") {
    import graft.functions.ZOrder
    val rnd = new scala.util.Random(42)
    val pts = Seq.fill(500)((rnd.nextInt(1 << 20).toLong, rnd.nextInt(1 << 20).toLong))
    def ref(x: Long, y: Long): Long =
      (0 until 31).foldLeft(0L) { (acc, i) =>
        acc | ((x >> i & 1L) << (2 * i)) | ((y >> i & 1L) << (2 * i + 1))
      }
    val got = spark.createDataFrame(pts).toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.morton2(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) => assert(got((x, y)) == ref(x, y), s"($x,$y)") }
  }

  test("graft_morton SQL function equals the Column-API morton2") {
    GraftFunctions.register(spark)
    val rows = spark.sql(
      """SELECT id % 1000 AS x, id % 777 AS y,
        |  graft_morton(id % 1000, id % 777) AS z
        |FROM range(2000)""".stripMargin)
      .withColumn("z2", graft.functions.ZOrder.morton2(col("x"), col("y")))
      .filter(col("z") =!= col("z2")).count()
    assert(rows == 0)
  }

  test("z-ordered files bound BOTH dimensions; x-sorted files bound only x") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    // a full 64x64 grid: the adversarial case for any single-column sort
    val grid = spark.range(64L * 64)
      .select((col("id") / 64).cast("long").as("gx"), (col("id") % 64).as("gy"))
    Layout.writeZOrdered(grid, s"$tmp/z", "gx", "gy", 16)
    Layout.writeRangeSorted(grid, s"$tmp/x", "gx", 16)
    def maxSides(path: String): Array[Long] =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(greatest(max(col("gx")) - min(col("gx")),
          max(col("gy")) - min(col("gy"))).as("side"))
        .collect().map(_.getLong(1))
    val z = maxSides(s"$tmp/z")
    val x = maxSides(s"$tmp/x")
    // every x-sorted file spans the full y axis; every z-ordered file is
    // a bounded rectangle (a ~256-code range covers at most a few
    // aligned 16x16 quadrants even with approximate range boundaries)
    assert(x.max == 63, x.mkString(","))
    assert(z.max <= 48, z.mkString(","))
    assert(z.sum.toDouble / z.length < x.sum.toDouble / x.length)
  }

  test("directory partitioning: predicate prunes directories before any file opens") {
    val dir = java.nio.file.Files.createTempDirectory("graft-partby").toString
    val o = Tables.orders(spark, sf0001).select(col("o_orderkey"),
      col("o_totalprice"), month(col("o_orderdate")).as("omonth"))
    Layout.writePartitioned(o, dir, "omonth")
    // one file per partition directory (the pre-shuffle), 12 directories
    val root = new java.io.File(dir)
    val partDirs = root.listFiles.filter(f => f.isDirectory && f.getName.startsWith("omonth="))
    assert(partDirs.length == 12, partDirs.map(_.getName).mkString(","))
    partDirs.foreach { pd =>
      val files = pd.listFiles.count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"${pd.getName}: $files files — small-files explosion")
    }
    // the month predicate must land in PartitionFilters (directory-level
    // pruning — strictly before footer stats or bucket pruning), not in
    // PushedFilters/DataFilters
    val q = spark.read.parquet(dir).filter(col("omonth") === 3)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(omonth"), plan.take(800))
    assert(plan.contains("(omonth") && plan.contains("= 3)"), plan.take(800))
    // and the answer is the unpartitioned filter's answer
    val expect = o.filter(col("omonth") === 3).count()
    assert(q.count() == expect && expect > 0)
  }

  test("dpp_join: DynamicPruningExpression lands on the partitioned fact scan") {
    val q = graft.queries.Analytics.dppJoin(spark, sf0001)
    // the quarter filter is not a literal month predicate, so only
    // DYNAMIC pruning (broadcast-result reuse feeding the scan's
    // partition filter) keeps the 9 non-Q2 directories unread — the
    // plan must carry it on the FileScan, not re-read everything and
    // filter post-join
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruningexpression"), plan.take(1200))
    // and the answer is the unpartitioned formulation's answer
    val o = Tables.orders(spark, sf0001).select(
      month(col("o_orderdate")).as("m"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
      .filter(col("m").between(4, 6))
    val expect = o.groupBy(col("m"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("revenue"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val got = q.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.map(_._1) == Seq(4, 5, 6))
    assert(got == expect)
  }

  test("compactParquet collapses a small-file explosion without losing rows") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val li = Tables(spark, sf0001, "lineitem")
    li.repartition(40).write.parquet(s"$tmp/small")
    val (before, after) =
      Layout.compactParquet(spark, s"$tmp/small", s"$tmp/compacted", targetBytes = 4L << 20)
    assert(before === 40)
    assert(after < before, s"expected fewer files, got $after")
    val a = spark.read.parquet(s"$tmp/compacted")
    assert(a.count() === li.count())
    // content equality, order-free: same multiset of orderkey/linenumber
    val fp = (df: org.apache.spark.sql.DataFrame) => df
      .agg(expr("bit_xor(xxhash64(l_orderkey, l_linenumber, l_quantity))")).collect()(0).getLong(0)
    assert(fp(a) === fp(li))
    // rebalance path: same rows, evenly sized output
    val (_, afterR) =
      Layout.compactParquet(spark, s"$tmp/small", s"$tmp/rebalanced", 4L << 20, rebalance = true)
    assert(afterR < before && fp(spark.read.parquet(s"$tmp/rebalanced")) === fp(li))
  }

  test("binaryFiles reads whole files as rows with path/length/content") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bin").toString
    val payload = Array.tabulate[Byte](257)(i => (i % 251).toByte)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/a.bin"), payload)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/b.txt"), "not binary".getBytes)
    val df = graft.sources.Sources.binaryFiles(spark, tmp, "*.bin")
    val rows = df.select("path", "length", "content").collect()
    assert(rows.length === 1, "glob must filter to the .bin file")
    assert(rows(0).getAs[String]("path").endsWith("a.bin"))
    assert(rows(0).getAs[Long]("length") === 257L)
    assert(rows(0).getAs[Array[Byte]]("content").toSeq === payload.toSeq)
  }
}
