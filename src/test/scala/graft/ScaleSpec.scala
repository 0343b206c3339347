package graft

import graft.operators.Skew
import graft.sources.{Sources, Tables}
import org.apache.spark.sql.functions._

/** Scale-posture checks: skew handling equivalence, source round-trips,
  * and plan-shape regression guards (pushdown / broadcast must not rot).
  */
class ScaleSpec extends SparkSuite {

  test("salted count/sum equal direct aggregation") {
    val li = Tables.lineitem(spark, sf0001)
    val direct = li.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("cnt"), sum(col("l_quantity").cast("long")).as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val salted = Skew.saltedCount(li, col("l_returnflag"))
      .join(Skew.saltedSum(li, col("l_returnflag"), col("l_quantity").cast("long")), "key")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("salted broadcast join equals plain join") {
    val orders = Tables.orders(spark, sf0001)
    val customer = Tables.customer(spark, sf0001)
    val direct = orders.join(customer, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val salted = Skew.saltedBroadcastJoin(orders, customer, "o_custkey", "c_custkey")
      .groupBy(col("c_mktsegment")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(salted == direct)
  }

  test("csv and json sources round-trip the wordcount result") {
    val wc = graft.queries.Core.wordcount(spark, sf0001)
    val tmp = java.nio.file.Files.createTempDirectory("graft-src").toString
    Sources.writeCsv(wc, s"$tmp/wc_csv")
    Sources.writeJsonLines(wc, s"$tmp/wc_json")
    val fromCsv = Sources.csv(spark, s"$tmp/wc_csv")
      .collect().map(r => (r.getString(0), r.getAs[Number](1).longValue)).toMap
    val fromJson = Sources.jsonLines(spark, s"$tmp/wc_json")
      .collect().map(r => (r.getAs[String]("token"), r.getAs[Long]("cnt"))).toMap
    val expected = wc.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // CSV cannot represent the empty-string token distinctly from null; the
    // remaining tokens must round-trip exactly
    assert(fromJson == expected)
    assert(fromCsv.filter(_._1 != null) == expected.filter(_._1.nonEmpty))
    // ORC round-trips exactly, empty token included (columnar like parquet)
    Sources.writeOrc(wc, s"$tmp/wc_orc")
    val fromOrc = Sources.orc(spark, s"$tmp/wc_orc")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(fromOrc == expected)
    // XML (built into Spark 4 core): like CSV, an empty element reads
    // back as null — the remaining tokens must round-trip exactly
    Sources.writeXml(wc, s"$tmp/wc_xml")
    val fromXml = Sources.xml(spark, s"$tmp/wc_xml")
      .collect().map(r => (r.getAs[String]("token"), r.getAs[Long]("cnt"))).toMap
    assert(fromXml.filter(_._1 != null) == expected.filter(_._1.nonEmpty))
  }

  test("binned range join count equals sessionize n_events (self-check invariant)") {
    val sess = graft.queries.Pipeline.sessionize(spark, sf0001)
      .select(col("user_id"), col("start_ms"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val rj = graft.queries.Pipeline.rangeJoin(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rj == sess)
  }

  test("range join fails fast on a pathological open-ended interval") {
    import spark.implicits._
    val probe = Seq((1L, 100L)).toDF("k", "pt")
    val build = Seq((1L, 0L, Long.MaxValue / 2)).toDF("k", "lo", "hi")
    val ex = intercept[Exception] {
      graft.operators.RangeJoin.binned(probe, build, Seq("k"), "pt", "lo", "hi", 1000L).count()
    }
    assert(ex.getMessage != null)
    // reserved-name guard
    val withBin = probe.withColumn("__bin", lit(0))
    intercept[IllegalArgumentException] {
      graft.operators.RangeJoin.binned(withBin, build, Seq("k"), "pt", "lo", "hi", 1000L)
    }
  }

  test("range join plan is an equi hash join, not a nested loop") {
    val plan = graft.queries.Pipeline.rangeJoin(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(600))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan.take(600))
  }

  test("as-of join equals per-row latest-build lookup") {
    import spark.implicits._
    val probe = Seq((1L, 10L, 100L), (1L, 25L, 101L), (2L, 5L, 102L), (1L, 4L, 103L))
      .toDF("k", "ts", "pid")
    val build = Seq((1L, 5L, 7L), (1L, 20L, 8L), (1L, 25L, 9L), (2L, 99L, 10L))
      .toDF("k", "ts", "v")
    val got = graft.operators.AsOfJoin.lastValue(probe, build, "k", "ts", "v")
      .collect().map(r => (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    // pid 100 (k1 ts10): latest build <= 10 is ts5 -> 7
    // pid 101 (k1 ts25): ts25 itself (inclusive) -> 9
    // pid 102 (k2 ts5): no build <= 5 -> null
    // pid 103 (k1 ts4): none -> null
    assert(got == Map(100L -> Some(7L), 101L -> Some(9L), 102L -> None, 103L -> None))
  }

  test("as-of join: null payloads are matched (not skipped) and dup build ts is deterministic") {
    import spark.implicits._
    val probe = Seq((1L, 25L, 200L), (2L, 10L, 201L)).toDF("k", "ts", "pid")
    val build = Seq((1L, 5L, Some(7L)), (1L, 20L, None), // latest match has null payload
      (2L, 10L, Some(1L)), (2L, 10L, Some(2L))) // duplicate ts -> greatest wins
      .toDF("k", "ts", "v")
    val got = graft.operators.AsOfJoin.lastValue(probe, build, "k", "ts", "v")
      .collect().map(r => (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    assert(got == Map(200L -> None, 201L -> Some(2L)), got.toString)
  }

  test("forward as-of join picks the nearest following build row (inclusive)") {
    import spark.implicits._
    val probe = Seq((1L, 10L, 100L), (1L, 25L, 101L), (1L, 40L, 102L), (2L, 5L, 103L))
      .toDF("k", "ts", "pid")
    val build = Seq((1L, 5L, 7L), (1L, 25L, 8L), (1L, 30L, 9L), (2L, 1L, 10L))
      .toDF("k", "ts", "v")
    val got = graft.operators.AsOfJoin.nextValue(probe, build, "k", "ts", "v")
      .collect().map(r => (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    // pid 100 (k1 ts10): nearest build >= 10 is ts25 -> 8
    // pid 101 (k1 ts25): ts25 itself (inclusive) -> 8
    // pid 102 (k1 ts40): none after -> null
    // pid 103 (k2 ts5): none after (build ts1 < 5) -> null
    assert(got == Map(100L -> Some(8L), 101L -> Some(8L), 102L -> None, 103L -> None))
  }

  test("overlap join equals brute-force interval intersection (planted)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val ivs = (1 to 120).map { i =>
      val lo = rnd.nextInt(1000).toLong
      (rnd.nextInt(3).toLong, i.toLong, lo, lo + rnd.nextInt(200).toLong)
    }
    val a = ivs.toDF("k", "id1", "lo1", "hi1")
    val b = ivs.map { case (k, i, lo, hi) => (k, i, lo, hi) }.toDF("k", "id2", "lo2", "hi2")
    val got = graft.operators.RangeJoin.overlap(a, b, Seq("k"),
        "lo1", "hi1", "lo2", "hi2", binWidth = 100L)
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val brute = (for {
      (k1, i1, lo1, hi1) <- ivs; (k2, i2, lo2, hi2) <- ivs
      if k1 == k2 && i1 < i2 && lo1 <= hi2 && lo2 <= hi1
    } yield (i1, i2)).toSet
    assert(got == brute, s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    // each overlapping pair exactly once (first-shared-bin dedup, no distinct)
    val withDups = graft.operators.RangeJoin.overlap(a, b, Seq("k"),
        "lo1", "hi1", "lo2", "hi2", binWidth = 100L)
      .filter(col("id1") < col("id2")).count()
    assert(withDups == brute.size.toLong)
  }

  test("partitioned parquet writes prune partitions at the scan") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-part").toString
    val ev = graft.streaming.Sessions.events(spark, sf0001)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Sources.writeParquet(ev, s"$tmp/events_by_type", partitionBy = Seq("event_type"))
    val filtered = spark.read.parquet(s"$tmp/events_by_type")
      .filter(col("event_type") === "purchase")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan.take(600))
    assert(filtered.count() > 0)
  }

  test("bucketed tables join without an exchange on either side") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bucket").toString
    val li = Tables.lineitem(spark, sf0001).select("l_orderkey", "l_quantity")
    val ord = Tables.orders(spark, sf0001).select("o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS li_b"); spark.sql("DROP TABLE IF EXISTS ord_b")
    li.write.mode("overwrite").option("path", s"$tmp/li_b")
      .bucketBy(4, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_b")
    ord.write.mode("overwrite").option("path", s"$tmp/ord_b")
      .bucketBy(4, "o_orderkey").sortBy("o_orderkey").saveAsTable("ord_b")
    // force the shuffle-join path (tiny test tables auto-broadcast, which
    // bypasses bucketing entirely)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_b")
        .join(spark.table("ord_b"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should need no shuffle:\n${plan.take(900)}")
      assert(plan.contains("Bucketed: true"), plan.take(900))
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_b"); spark.sql("DROP TABLE IF EXISTS ord_b")
      // external tables: DROP leaves the files; remove the temp dir too
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(tmp))
    }
  }

  test("giant LSH buckets produce star pairs, not O(k^2) expansion") {
    import spark.implicits._
    // 400 identical docs -> one bucket of 400 in every band
    val docs = (0L until 400L).map(i => (i, "aa bb cc dd ee ff gg")).toDF("doc_id", "text")
    val capped = graft.operators.Dedup.minhashCandidates(docs, starBucketThreshold = 256).count()
    // star pattern: 399 pairs (hub = min id), not 400*399/2 = 79800
    assert(capped == 399L, s"got $capped")
    // default (exact) semantics: all pairs
    val exact = graft.operators.Dedup.minhashCandidates(docs).count()
    assert(exact == 400L * 399L / 2L, s"got $exact")
  }

  test("pivot-pruned giant-bucket path is LOSSLESS: verified pairs equal uncapped") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
    def pairs(thr: Int) = graft.operators.Dedup.minhashPairs(docs, 0.5, thr)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = pairs(Int.MaxValue)
    assert(uncapped.nonEmpty)
    // threshold 2 forces EVERY multi-member bucket through the pivot path:
    // the triangle-inequality window may only drop pairs that provably
    // fail the Jaccard threshold, so the verified output must be identical
    assert(pairs(2) == uncapped)
    // and the shipped default (engages only on real pileups) must too
    assert(pairs(graft.operators.Dedup.DefaultGiantBucket) == uncapped)
    // synthetic pileup: identical docs collide in every band; the pivot
    // path must still return the full O(k^2) true-duplicate pair set
    val pile = (0L until 100L).map(i => (i, "aa bb cc dd ee ff gg"))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.minhashPairs(pile, 0.5, 8).count()
    assert(got == 100L * 99L / 2L, s"got $got")
  }

  test("mega-bucket triangle pre-shard is LOSSLESS: sharded equals unsharded") {
    // the pair frames' bucket aggregates are released with the scope
    MaterializedCaches.scoped(spark) {
      import spark.implicits._
      val hsets = graft.operators.Dedup.shingleHashSets(Tables.documents(spark, sf0001))
      def pairs(shardAbove: Int) =
        graft.operators.Dedup.minhashPairsFrom(hsets, 0.5, 2, shardAbove)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // thr=2 pushes every multi-member bucket through the pivot path;
      // shardAbove=4 then triangle-shards every bucket above 4 members —
      // the sharded output must equal the single-row (unsharded) output
      val unsharded = pairs(Int.MaxValue)
      assert(unsharded.nonEmpty)
      assert(pairs(4) == unsharded)
      // synthetic mega pileup: 100 identical docs collide in one 100-member
      // bucket per band; shardAbove=8 splits each into ceil(100/8)=13
      // shards / 91 sub-buckets, no row wider than ~16 members, and the
      // full true-duplicate pair set must still come out
      val pile = (0L until 100L).map(i => (i, "aa bb cc dd ee ff gg"))
        .toDF("doc_id", "text")
      val got = graft.operators.Dedup.minhashPairsFrom(
        graft.operators.Dedup.shingleHashSets(pile), 0.5, 8, 8).count()
      assert(got == 100L * 99L / 2L, s"got $got")
    }
  }

  test("seeded sampling is reproducible and approximately sized (training-split tooling)") {
    val li = Tables.lineitem(spark, sf0001).select("l_orderkey", "l_linenumber")
    val a = li.sample(withReplacement = false, fraction = 0.1, seed = 42).collect().toSeq
    val b = li.sample(withReplacement = false, fraction = 0.1, seed = 42).collect().toSeq
    assert(a == b, "same seed + same partitioning must reproduce the sample")
    val n = li.count().toDouble
    assert(math.abs(a.size - 0.1 * n) / n < 0.02, s"sample size ${a.size} vs expected ${0.1 * n}")
    // NOTE: unlike Pipeline.splitColumn (content-hash, reshard-stable),
    // sample() depends on the partitioning — documented trade, both shipped
  }

  test("observe(): pipeline metrics ride the main pass, no second scan") {
    val li = Tables.lineitem(spark, sf0001)
    val observed = li.filter(col("l_quantity") > 30)
      .observe("gate_metrics", count(lit(1)).as("rows_kept"),
        sum(col("l_quantity").cast("long")).as("qty_kept"))
    // the action must run THIS Dataset's plan: count() builds a separate
    // QueryExecution whose metrics never attach to `observed`
    val kept = observed.collect().length.toLong
    val metrics = observed.queryExecution.observedMetrics("gate_metrics")
    assert(metrics.getAs[Long]("rows_kept") == kept)
    assert(metrics.getAs[Long]("qty_kept") > 0)
  }

  test("approximate aggregates: HLL distinct within 5% of exact") {
    val li = Tables.lineitem(spark, sf0001)
    val r = li.agg(
      approx_count_distinct(col("l_partkey")).as("approx"),
      count_distinct(col("l_partkey")).as("exact")).collect().head
    val (a, e) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    // default HLL rsd is 0.05; 3x rsd keeps the bound statistically safe
    assert(math.abs(a - e) / e < 0.15, s"approx=$a exact=$e")
  }

  test("plan guards: pushdown, pruning, broadcast survive") {
    def planOf(name: String): String =
      SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString
    val fp = planOf("filter_project")
    assert(fp.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"), fp.take(800))
    assert(!fp.contains("l_shipdate"), "column pruning lost: scan reads unused columns")
    // repartition_join: NO pinned broadcast hint (customer scales with
    // sf — a hint would force an OOM at 100 TB); the engine must still
    // CHOOSE broadcast-hash here from size stats at tiny sf, proving the
    // join degrades gracefully instead of being hardcoded either way.
    val rjDf = SparkEntry.queries("repartition_join")(spark, sf0001)
    assert(!rjDf.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "repartition_join must not pin a join strategy via hint")
    val rj = planOf("repartition_join")
    assert(rj.contains("BroadcastHashJoin"), rj.take(800))
    val wc = planOf("wordcount")
    assert(wc.contains("ReadSchema: struct<text:string>"), wc.take(800))
    // q6: ALL five predicates reach the scan — including the date band,
    // which compares the raw timestamp_ntz column (an expression-wrapped
    // date predicate silently demotes to a post-scan filter). The full
    // filter list is ~190 chars once the literals render as timestamp_ntz
    // (round-8 footer drift), so lift the 100-char metadata elision for
    // the render or the assertion false-fails on "l_shipda...".
    val q6 = try {
      spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
      planOf("q6_forecast")
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", "100")
    val pushed = "PushedFilters: \\[[^\\]]*".r.findFirstIn(q6).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed.contains("LessThan(l_shipdate") &&
      pushed.contains("GreaterThanOrEqual(l_discount") &&
      pushed.contains("LessThan(l_quantity"), q6.take(900))
    assert(q6.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_shipdate:timestamp_ntz>"), "q6 column pruning lost")
    // the round-9 TPC-H batch follows the same raw-column-band rule:
    // q14's month band and q22's recency filter must reach their scans
    val q14 = try {
      spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
      planOf("q14_promo")
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", "100")
    val pushed14 = "PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(l_shipdate[^\\]]*".r
      .findFirstIn(q14).getOrElse("")
    assert(pushed14.contains("LessThan(l_shipdate"), q14.take(1200))
    val q22 = try {
      spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
      planOf("q22_no_recent_orders")
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", "100")
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(o_orderdate".r
      .findFirstIn(q22).isDefined, q22.take(1500))
    // q12's one-year ship band is the same raw-NTZ-literal contract
    val q12 = try {
      spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
      planOf("q12_shipmode")
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", "100")
    val pushed12 = "PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(l_shipdate[^\\]]*".r
      .findFirstIn(q12).getOrElse("")
    assert(pushed12.contains("LessThan(l_shipdate"), q12.take(1200))
  }

  test("plan guards: subqueries decorrelate to joins, never nested loops") {
    def planOf(name: String): String =
      SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString
    // correlated scalar subquery must become aggregate + equi-join
    val corr = planOf("correlated_subquery")
    assert(!corr.contains("BroadcastNestedLoopJoin") && !corr.contains("CartesianProduct"),
      corr.take(800))
    assert(corr.contains("HashJoin") || corr.contains("SortMergeJoin"), corr.take(800))
    // IN-subquery must become a (semi) join
    val insq = planOf("in_subquery")
    assert(!insq.contains("BroadcastNestedLoopJoin") && !insq.contains("CartesianProduct"),
      insq.take(800))
    assert(insq.contains("LeftSemi"), insq.take(800))
    // uncorrelated scalar subquery: one reusable subquery result, no
    // per-row re-execution
    val ssq = planOf("scalar_subquery")
    assert(ssq.contains("Subquery") && !ssq.contains("CartesianProduct"), ssq.take(800))
  }

  test("plan guard: overlap join is an equi hash join, not a nested loop") {
    val plan = SparkEntry.queries("overlap_join")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(600))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan.take(600))
  }

  test("plan guard: unsorted pair pipeline has no global sort (CC input path)") {
    // Catalyst does not eliminate an explicit orderBy below distinct, so
    // the CC input must come from the unsorted pair variant; a global
    // range-partition sort reappearing here is a regression
    val docs = Tables.documents(spark, sf0001)
    val plan = graft.operators.Dedup.minhashPairs(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"), plan.take(600))
    // while the declared pair REPORT stays deterministically sorted
    val sorted = graft.operators.Dedup.minhash(docs)
      .queryExecution.executedPlan.toString
    assert(sorted.contains("rangepartitioning"), sorted.take(600))
  }

  test("plan guard: lateral_explode pushes the doc_id filter to the scan") {
    val plan = SparkEntry.queries("lateral_explode")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,50)]"),
      plan.take(800))
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // the other runtime re-plan lever beside AQE skew-split: a selective
    // dim side injects bloom_filter_agg -> might_contain onto the fact
    // scan, cutting shuffled fact rows before the join — at 100 TB this
    // is the difference between shuffling the full fact table and
    // shuffling the ~1% that can match
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft-bloom").toString
      spark.range(100000).select(col("id").as("fk"))
        .write.mode("overwrite").parquet(s"$tmp/fact")
      spark.range(10000).select(col("id").as("pk"))
        .write.mode("overwrite").parquet(s"$tmp/dim")
      val fact = spark.read.parquet(s"$tmp/fact")
      val dim = spark.read.parquet(s"$tmp/dim").filter(col("pk") % 97 === 0)
      val j = fact.join(dim, col("fk") === col("pk"))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        plan.take(1500))
      assert(j.count() == 104) // ceil(10000 / 97)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    // one hot key owning ~75% of the probe side — the join-skew shape
    // that AQE (not salting) handles: thresholds lowered so the tiny
    // test dataset trips the same re-plan a hot key would at 100 TB
    val keys = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(200000)
        .select(when(col("id") < 150000, 0L).otherwise(col("id")).as("k"),
          col("id").as("payload"))
      val right = spark.range(1000).select(col("id").as("k2"))
      val joined = left.join(right, col("k") === col("k2"))
      // hot key 0: 150000 matches; keys 150000+ have no partner.
      // collect(), not count(): count() builds a NEW QueryExecution and
      // would leave joined.queryExecution un-executed (isFinalPlan=false)
      assert(joined.collect().length == 150000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"), finalPlan.take(1500))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("plan guards: round-4 batch keeps the scale shape") {
    def planOf(name: String): String =
      SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString
    // exists_subquery: EXISTS/NOT EXISTS must become semi+anti equi-joins
    val ex = planOf("exists_subquery")
    assert(ex.contains("LeftSemi") && ex.contains("LeftAnti"), ex.take(800))
    assert(!ex.contains("BroadcastNestedLoopJoin") && !ex.contains("CartesianProduct"),
      ex.take(800))
    // pack_sequences: exactly one hash exchange (by source) below the
    // window — a global range sort here means the per-shard parallelism
    // was lost
    val ps = planOf("pack_sequences")
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(ps).toSeq
    assert(exchanges.count(_.contains("hashpartitioning")) == 1, ps.take(1200))
    // bm25: corpus scalars and per-term document frequencies must ride
    // broadcasts — a shuffle join on a 2-row dim or a 1-row stats table
    // is the wrong shape at any scale
    val bm = planOf("bm25")
    assert(!bm.contains("SortMergeJoin"), bm.take(1200))
    // stratified_sample / pii_scrub: map-only up to the final agg — no
    // join operator anywhere
    assert(!planOf("stratified_sample").contains("Join"))
    assert(!planOf("pii_scrub").contains("Join"))
  }

  test("plan guards: behavioral/quality/graph batch keeps the scale shape") {
    def planOf(name: String): String =
      SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString
    // merge_upsert / contamination_check / asof_nearest: equi-joins only —
    // never a nested-loop or cartesian fallback
    for (q <- Seq("merge_upsert", "contamination_check", "asof_nearest")) {
      val p = planOf(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q: ${p.take(800)}")
    }
    // funnel: the stage joins must be equi-joins; the final assembly of
    // four SINGLE-ROW aggregates is a broadcast nested-loop cross by
    // design (1-row frames — constant work at any scale)
    val fu = planOf("funnel")
    assert(!fu.contains("CartesianProduct"), fu.take(800))
    assert("Join LeftSemi|SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findFirstIn(fu).isDefined, fu.take(800))
    // merge_upsert: the merge IS one full-outer join
    assert(planOf("merge_upsert").contains("FullOuter"))
    // asof_nearest: composed from the union+window carries — no join
    // operator at all (two window sorts, as documented)
    assert(!planOf("asof_nearest").contains("Join"))
    // quality_filters: aggregates are partially aggregated before the
    // exchange (map-side combine)
    assert(planOf("quality_filters").contains("partial"),
      planOf("quality_filters").take(800))
    // repetition_ngram: MAP-ONLY since the TopRunExpr rewrite — no join,
    // no aggregate, and the only exchange is the presentation sort
    val rn = planOf("repetition_ngram")
    assert(!rn.contains("Join") && !rn.contains("HashAggregate"), rn.take(800))
    assert("Exchange hashpartitioning".r.findFirstIn(rn).isEmpty, rn.take(800))
    // contamination_check: the train side reaches the probe as a
    // LeftSemi equi-join (the O(shingles) decontamination shape)
    assert(planOf("contamination_check").contains("LeftSemi"))
    // decontaminate_train: the mirrored edit keeps the same shape —
    // LeftSemi probe, equi-joins only
    val dt = planOf("decontaminate_train")
    assert(dt.contains("LeftSemi") && !dt.contains("CartesianProduct"),
      dt.take(800))
  }

  test("plan guards: round-5 batch keeps the scale shape") {
    def planOf(name: String): String =
      SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString
    // token_count_bpe / hof_funcs: map-only — the ONLY exchange is the
    // presentation sort, and the token array is materialized in its own
    // projection so the regex/split runs ONCE per row even though two
    // output columns consume it (the projection-duplication trap)
    for (q <- Seq("token_count_bpe", "hof_funcs")) {
      val p = planOf(q)
      assert(!p.contains("Join") && !p.contains("HashAggregate"), s"$q: ${p.take(800)}")
      assert("Exchange hashpartitioning".r.findFirstIn(p).isEmpty, s"$q: ${p.take(800)}")
    }
    assert("regexp_extract_all".r.findAllIn(planOf("token_count_bpe")).size == 1,
      "token regex must be evaluated once, not per consumer")
    // explode_outer: the doc_id filter reaches the parquet scan
    assert(planOf("explode_outer").contains("LessThan(doc_id,100)"),
      planOf("explode_outer").take(800))
    // event_paths: the user window and the (user, sess) aggregate REUSE
    // one hash exchange; the path count adds the second — two total
    // (final top-20 is TakeOrdered, no range exchange)
    assert("Exchange".r.findAllIn(planOf("event_paths")).size <= 2,
      planOf("event_paths").take(1200))
    // locf_fill: one window exchange + the presentation sort, no joins
    val lf = planOf("locf_fill")
    assert(!lf.contains("Join"), lf.take(800))
    assert("Exchange hashpartitioning".r.findAllIn(lf).size == 1, lf.take(800))
  }

  test("plan guards: round-10 batch keeps the scale shape") {
    def planOf(name: String): String =
      SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString
    // q2_min_cost: ONE hash exchange total (the struct-min groupBy) —
    // the r9 double-evaluated pair universe must not reappear
    val q2 = planOf("q2_min_cost")
    assert("Exchange hashpartitioning".r.findAllIn(q2).size == 1, q2.take(1200))
    assert(q2.contains("BroadcastHashJoin"), q2.take(1200))
    // pq_rerank_topk: the 100-id shortlist broadcasts back onto the raw
    // vectors — a sort-merge join here would shuffle the whole corpus
    val rr = planOf("pq_rerank_topk")
    assert(rr.contains("BroadcastHashJoin") && !rr.contains("SortMergeJoin"),
      rr.take(1200))
    // token_kl_drift: top-20 plans as TakeOrdered (never a global sort);
    // the token aggregate appears once per consumer (per-token rows +
    // broadcast total — the q11 global-share shape) with IDENTICAL
    // hashpartitioning(tok) exchanges, which ReuseExchange collapses at
    // runtime: two statically, never more
    val kl = planOf("token_kl_drift")
    assert(kl.contains("TakeOrderedAndProject"), kl.take(800))
    assert("Exchange hashpartitioning".r.findAllIn(kl).size <= 2, kl.take(1200))
    // mixture_temperature / length_buckets: one keyed aggregate each;
    // everything after it is bounded-row work
    for (q <- Seq("mixture_temperature", "length_buckets")) {
      assert("Exchange hashpartitioning".r.findAllIn(planOf(q)).size == 1,
        s"$q: ${planOf(q).take(1200)}")
    }
    // ivf_recall_curve: the cell-rank/ncells sides are one-row/bounded
    // broadcasts — no cartesian product may appear
    assert(!planOf("ivf_recall_curve").contains("CartesianProduct"),
      planOf("ivf_recall_curve").take(1200))
    // dedup_near: reads the materialized shingle-hash artifact, not a
    // re-derivation (the r10 3x-recompute fix)
    assert(planOf("dedup_near").contains("InMemoryTableScan"),
      planOf("dedup_near").take(1200))
  }

  test("plan guards: round-6 batch keeps the scale shape") {
    def planOf(name: String): String =
      SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString
    // attribution: BOTH credit models come from ONE window pass
    assert("Window ".r.findAllIn(planOf("attribution")).size == 1,
      planOf("attribution").take(1200))
    // dwell_times: one keyed window, no join
    val dw = planOf("dwell_times")
    assert("Window ".r.findAllIn(dw).size == 1 && !dw.contains("Join"), dw.take(800))
    // the distinct-window eliminations: NO window operator anywhere
    for (q <- Seq("cumulative_users", "rolling_active_users", "trend_7d",
        "quantile_transform", "decile_lift")) {
      assert(!planOf(q).contains("Window"), s"$q: ${planOf(q).take(800)}")
    }
    // triangle_count: adjacency rides broadcast joins below the gate;
    // the census scalars cross as one-row broadcasts — no shuffle of
    // any wedge-sized stream exists because none is materialized
    val tc = planOf("triangle_count")
    assert(tc.contains("BroadcastHashJoin"), tc.take(1200))
    // clustering_coeff shares the posture: both adjacency probes ride
    // the measured BroadcastEdgeLimit gate, and triangle identities
    // come from the native sorted-merge generator, not array_intersect
    val cc = planOf("clustering_coeff")
    assert("BroadcastHashJoin".r.findAllIn(cc).size >= 2, cc.take(1500))
    assert(!cc.contains("array_intersect") && cc.contains("tricreditsexpr"),
      cc.take(1500))
    // cosupply: the dimension-sized degree table broadcasts on BOTH
    // probe joins (the AQE small-SF misestimate is overridden)
    assert("BroadcastHashJoin".r.findAllIn(planOf("cosupply_neighbors")).size >= 2,
      planOf("cosupply_neighbors").take(1500))
    // ohlc_bars / benford_test / weekday_index: single-aggregate shapes
    for (q <- Seq("ohlc_bars", "benford_test", "weekday_index")) {
      assert(!planOf(q).contains("WindowExec"), s"$q: ${planOf(q).take(600)}")
    }
  }
}
