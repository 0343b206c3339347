package graft

import graft.operators.{MRAggregators, MRJob}
import org.apache.spark.sql.functions._

/** SQL-registered native functions + the typed Aggregator / streaming MR
  * surfaces.
  */
class SqlSurfaceSpec extends SparkSuite {

  test("graft_* functions are callable from SQL after register()") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_djb2('is') AS h, graft_djb2_pid('is', 10) AS p,
        |  graft_cosine(array(cast(1.0 as float), cast(2.0 as float)),
        |               array(cast(2.0 as float), cast(3.0 as float))) AS c,
        |  graft_sorted_intersect(array(1L, 3L, 7L), array(3L, 5L, 7L)) AS i,
        |  graft_simhash64(array(5381L)) AS s
        |""".stripMargin).collect().head
    assert(r.getLong(0) == graft.functions.Djb2.hash("is"))
    assert(r.getLong(1) == 9L) // FIXTURES: 'is' lands in partition 9
    assert(math.abs(r.getDouble(2) - 8.0 / (math.sqrt(5) * math.sqrt(13))) < 1e-12)
    assert(r.getInt(3) == 2)
    assert(r.getLong(4) == 5381L) // single element: bits of the element itself
  }

  test("DESCRIBE FUNCTION on registered graft_* functions states the preconditions") {
    // a SQL user must see the sorted/set-semantics contract from
    // DESCRIBE, without reading Scala sources
    GraftFunctions.register(spark)
    val txt = spark.sql("DESCRIBE FUNCTION graft_sorted_intersect_elems")
      .collect().map(_.getString(0)).mkString("\n")
    assert(txt.contains("NOT a drop-in array_intersect")
      && txt.contains("SORTED"), txt)
    val txt2 = spark.sql("DESCRIBE FUNCTION graft_djb2_pid")
      .collect().map(_.getString(0)).mkString("\n")
    assert(txt2.contains("integer literal"), txt2)
  }

  test("graft_sorted_intersect_elems equals array_intersect on sorted " +
      "arrays, through the CODEGEN'd dataframe path") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_sorted_intersect_elems(array(1L, 3L, 7L), array(3L, 5L, 7L)) AS e,
        |  graft_sorted_intersect_elems(array(1L), array(2L)) AS none,
        |  graft_sorted_intersect_elems(CAST(array() AS ARRAY<BIGINT>), array(1L)) AS empt
        |""".stripMargin).collect().head
    assert(r.getSeq[Long](0) == Seq(3L, 7L))
    assert(r.getSeq[Long](1).isEmpty && r.getSeq[Long](2).isEmpty)
    // equivalence vs array_intersect over real sorted adjacency-like data
    val hs = graft.operators.Dedup.shingleHashSets(
      graft.sources.Tables.documents(spark, sf0001))
    val diff = hs.select(col("hs").as("a"),
        slice(col("hs"), lit(1), greatest(size(col("hs")) - 2, lit(1))).as("b"))
      .select(
        graft.functions.SketchExprs.sortedIntersect(col("a"), col("b")).as("native"),
        sort_array(array_intersect(col("a"), col("b"))).as("builtin"))
      .filter(col("native") =!= col("builtin")).count()
    assert(diff == 0)
    // wrong element type rejected at analysis
    val e = intercept[Exception] {
      spark.sql("SELECT graft_sorted_intersect_elems(array('a'), array('a'))").collect()
    }
    assert(e.getMessage.contains("array<bigint>"), e.getMessage)
  }

  test("graft_counteq equals the HOF tf formulation and handles edges") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_counteq(array('a','b','a',''), 'a') AS two,
        |  graft_counteq(array('a','b'), 'z') AS zero,
        |  graft_counteq(array('a', CAST(NULL AS STRING)), 'a') AS skipnull,
        |  graft_counteq(CAST(NULL AS ARRAY<STRING>), 'a') AS narr,
        |  graft_counteq(array(''), '') AS empt""".stripMargin).collect().head
    assert(r.getInt(0) == 2 && r.getInt(1) == 0 && r.getInt(2) == 1)
    assert(r.isNullAt(3) && r.getInt(4) == 1)
    // equivalence vs the interpreted HOF on real token lists
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(graft.operators.Dedup.tokensNE(col("text")).as("ts"))
    val diff = docs.select(
      graft.functions.SketchExprs.countEq(col("ts"), lit("spark")).as("native"),
      size(filter(col("ts"), x => x === lit("spark"))).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0)
    // wrong types rejected at analysis
    val e = intercept[Exception] {
      spark.sql("SELECT graft_counteq(array(1L, 2L), 'a')").collect()
    }
    assert(e.getMessage.contains("array<string>"), e.getMessage)
  }

  test("graft_toprun equals the group-by argmax and handles edges") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_toprun(array('a','a','b')) AS aa,
        |  graft_toprun(array('a','b','b','b','c','c')) AS bbb,
        |  graft_toprun(array('x')) AS single,
        |  graft_toprun(array('a','a','b','b')) AS tie,
        |  graft_toprun(CAST(array() AS ARRAY<STRING>)) AS empt,
        |  graft_toprun(CAST(NULL AS ARRAY<STRING>)) AS narr,
        |  graft_toprun(sort_array(array('b', 'a', NULL, 'a'))) AS skipnull,
        |  graft_toprun(array(CAST(NULL AS STRING), NULL)) AS allnull""".stripMargin)
      .collect().head
    def wc(i: Int) = (r.getStruct(i).getString(0), r.getStruct(i).getInt(1))
    assert(wc(0) == (("a", 2)) && wc(1) == (("b", 3)) && wc(2) == (("x", 1)))
    assert(wc(3) == (("a", 2)), "ties go to the first (smallest) run")
    assert(r.isNullAt(4) && r.isNullAt(5))
    assert(wc(6) == (("a", 2)), "null elements are skipped, not counted")
    assert(r.isNullAt(7), "all-null array has no run")
    // equivalence vs an explode+group-by argmax on real sorted bigram lists
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), graft.operators.Dedup.tokensNE(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), sort_array(zip_with(
        slice(col("ts"), lit(1), size(col("ts")) - 1),
        slice(col("ts"), lit(2), size(col("ts")) - 1),
        (a, b) => concat_ws(" ", a, b))).as("bg"))
    val native = docs
      .select(col("doc_id"), graft.functions.SketchExprs.topRun(col("bg")).as("tr"))
      .select(col("doc_id"), col("tr.w"), col("tr.c"))
      .collect().map(x => (x.getLong(0), x.getString(1), x.getInt(2))).toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("c").desc, col("g"))
    val grouped = docs.select(col("doc_id"), explode(col("bg")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).cast("int").as("c"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .collect().map(x => (x.getLong(0), x.getString(1), x.getInt(2))).toSet
    assert(native == grouped)
    // wrong types rejected at analysis
    val e = intercept[Exception] {
      spark.sql("SELECT graft_toprun(array(1L, 2L))").collect()
    }
    assert(e.getMessage.contains("array<string>"), e.getMessage)
    // wrong ARITY rejected too — extra args must not be silently dropped
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_toprun(array('a'), 'oops')").collect()
    }
    assert(e2.getMessage.contains("exactly 1 argument"), e2.getMessage)
  }

  test("graft_toprun fuzz: 400 seeded random arrays match driver-side brute force") {
    // small alphabet forces heavy runs and ties; empty arrays included
    val rnd = new scala.util.Random(1717)
    val alphabet = Vector("a", "ab", "b", "ba", "c", "")
    val cases = Seq.fill(400)(
      Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.size))))
    val expect = cases.map { xs =>
      val sorted = xs.sorted
      if (sorted.isEmpty) null
      else {
        // first (smallest) maximal run of the sorted sequence
        val runs = sorted.foldLeft(List.empty[(String, Int)]) {
          case ((w, c) :: t, x) if w == x => (w, c + 1) :: t
          case (acc, x) => (x, 1) :: acc
        }.reverse
        runs.maxBy { case (_, c) => (c, 0) } match { case best =>
          runs.find(_._2 == best._2).get // earliest run with the max count
        }
      }
    }
    import spark.implicits._
    val got = cases.map(_.toArray).toDF("xs")
      .select(graft.functions.SketchExprs.topRun(sort_array(col("xs"))).as("tr"))
      .collect()
      .map(r => if (r.isNullAt(0)) null
        else (r.getStruct(0).getString(0), r.getStruct(0).getInt(1)))
    assert(got.length == expect.length)
    got.zip(expect).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g == e, s"case $i: input=${cases(i)} got=$g expect=$e")
    }
  }

  test("wrong-typed arrays fail analysis with a clear message, not silent garbage") {
    GraftFunctions.register(spark)
    val e1 = intercept[Exception] {
      // array<double> literals — must be rejected, not misread as floats
      spark.sql("SELECT graft_cosine(array(1.0, 2.0), array(2.0, 3.0))").collect()
    }
    assert(e1.getMessage.contains("array<float>"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_sorted_intersect(array(1, 2), array(2, 3))").collect()
    }
    assert(e2.getMessage.contains("array<bigint>"), e2.getMessage)
    // dimension mismatch is a runtime error, not a silent truncation
    val e3 = intercept[Exception] {
      spark.sql(
        """SELECT graft_cosine(array(cast(1.0 as float)),
          |  array(cast(1.0 as float), cast(2.0 as float)))""".stripMargin).collect()
    }
    assert(e3.getMessage != null)
    // non-literal partition count rejected with a clear message
    val e4 = intercept[Exception] {
      spark.sql("SELECT graft_djb2_pid('x', event_id) FROM range(1) t(event_id)").collect()
    }
    assert(e4.getMessage != null)
  }

  test("runAgg (typed Aggregator reducer) matches run (mapGroups reducer)") {
    import spark.implicits._
    val input = MRJob.lines(spark, Seq(ReferenceCorpus.dir))
    def mapper(line: String): IterableOnce[(String, String)] =
      line.split("[ \t\n\r]", -1).iterator.map(t => (t, "1"))
    val viaAgg = MRJob.runAgg[String, String, Long, Long](
      input, mapper, new MRAggregators.CountValues[String]).collect().toMap
    assert(viaAgg.size == 21 && viaAgg.values.forall(_ == 5000L))
    val viaSum = MRJob.runAgg[String, String, Long, Long](
      input, mapper, new MRAggregators.SumLongStrings).collect().toMap
    assert(viaSum == viaAgg) // summing "1"s == counting
  }

  test("streaming MR wordcount over the reference corpus (complete mode)") {
    import spark.implicits._
    val counts = MRJob.runStreaming[String, String, Long, Long](
      spark, ReferenceCorpus.dir,
      line => line.split("[ \t\n\r]", -1).iterator.map(t => (t, "1")),
      new MRAggregators.CountValues[String])
    val q = counts.toDF("key", "cnt").writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("stream_wc")
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("stream_wc").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size == 21 && got.values.forall(_ == 5000L), got.toString)
    spark.sql("DROP TABLE IF EXISTS stream_wc")
  }

  test("weighted_avg_agg: typed Aggregator equals a driver fold and plans partial aggregation") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .selectExpr("l_returnflag", "CAST(l_quantity AS BIGINT) AS q",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS c").collect()
    val expect = li.groupBy(_.getString(0)).map { case (k, rs) =>
      val sw = rs.map(_.getLong(1)).sum
      val swx = rs.map(r => r.getLong(1) * r.getLong(2)).sum
      k -> swx / sw
    }
    val df = graft.queries.Core.weightedAvgAgg(spark, sf0001)
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expect)
    // the Aggregator must run with map-side partial aggregation: two
    // aggregate stages around the shuffle, never a whole-group ship
    val plan = df.queryExecution.executedPlan.toString
    assert("(?i)partial".r.findFirstIn(plan).isDefined,
      "expected a partial aggregation stage:\n" + plan.take(1200))
    assert(!plan.contains("MapGroups"), plan.take(1200))
  }

  test("q3_topk plan: filters pushed to scans, top-10 is a TakeOrdered") {
    val qe = graft.queries.Relational.q3Topk(spark, sf0001).queryExecution
    val plan = qe.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(600))
    // the segment literal must reach the customer scan as a pushed filter
    assert(plan.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)")
      || plan.contains("EqualTo(c_mktsegment,BUILDING)"), plan.take(2000))
    val rows = graft.queries.Relational.q3Topk(spark, sf0001).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    // descending by revenue with the declared tie-break
    val revs = rows.map(_.getLong(2)).toSeq
    assert(revs == revs.sortBy(-_))
  }

  test("q1_pricing: pushed cutoff, and all eight aggregates match a driver fold") {
    val qe = graft.queries.Relational.q1Pricing(spark, sf0001).queryExecution
    val plan = qe.executedPlan.toString
    // the shipdate cutoff must reach the scan (raw NTZ column, no wrapper)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate")
      || plan.contains("LessThanOrEqual(l_shipdate"), plan.take(2000))
    val cutoff = java.time.LocalDateTime.parse("1998-09-02T00:00:00")
    val rows = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .selectExpr("l_returnflag", "l_linestatus", "l_shipdate",
        "CAST(l_quantity AS BIGINT) AS qty",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents",
        "CAST(round(l_discount * 100) AS BIGINT) AS disc",
        "CAST(round(l_tax * 100) AS BIGINT) AS tax")
      .collect()
      .filter(r => !r.getAs[java.time.LocalDateTime]("l_shipdate").isAfter(cutoff))
    val expect = rows.groupBy(r => (r.getString(0), r.getString(1)))
      .map { case ((rf, ls), rs) =>
        val qty = rs.map(_.getLong(3)).sum
        val cents = rs.map(_.getLong(4)).sum
        val disc = rs.map(_.getLong(5)).sum
        (rf, ls, qty, cents,
          rs.map(r => r.getLong(4) * (100 - r.getLong(5))).sum,
          rs.map(r => r.getLong(4) * (100 - r.getLong(5)) * (100 + r.getLong(6))).sum,
          qty / rs.length, cents / rs.length, disc / rs.length, rs.length.toLong)
      }.toSeq.sortBy(t => (t._1, t._2))
    val got = graft.queries.Relational.q1Pricing(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8),
        r.getLong(9))).toSeq
    assert(got == expect)
    assert(got.nonEmpty)
  }

  test("q5_region_revenue: plan has no cartesian stage and matches a driver recompute") {
    val plan = graft.queries.Relational.q5RegionRevenue(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    // independent recompute of the six-way join on collected rows
    def t(n: String) = spark.read.parquet(s"$sf0001/$n.parquet")
    def gl(r: org.apache.spark.sql.Row, i: Int): Long = r.get(i) match {
      case l: Long => l; case n2: Int => n2.toLong
      case other => sys.error(s"unexpected key type $other")
    }
    val reg = t("region").filter(org.apache.spark.sql.functions.col("r_name") === "ASIA")
    val na = t("nation")
    val asiaNations = na.join(reg, na("n_regionkey") === reg("r_regionkey"))
      .select("n_nationkey", "n_name").collect()
      .map(r => gl(r, 0) -> r.getString(1)).toMap
    val cust = t("customer").select("c_custkey", "c_nationkey").collect()
      .map(r => gl(r, 0) -> gl(r, 1)).toMap
    val sup = t("supplier").select("s_suppkey", "s_nationkey").collect()
      .map(r => gl(r, 0) -> gl(r, 1)).toMap
    val ord = t("orders")
      .selectExpr("o_orderkey", "o_custkey",
        "unix_millis(CAST(o_orderdate AS TIMESTAMP)) AS ms").collect()
      .filter(r => r.getLong(2) >= 820454400000L && r.getLong(2) < 852076800000L)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    t("lineitem").selectExpr("l_orderkey", "l_suppkey",
        "CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS rc")
      .collect().foreach { r =>
        for {
          ck <- ord.get(r.getLong(0))
          nk = cust(ck)
          name <- asiaNations.get(nk)
          sk <- sup.get(r.getLong(1)) if sk == nk
        } expect(name) += r.getLong(2)
      }
    val got = graft.queries.Relational.q5RegionRevenue(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expect.toMap)
    assert(got.nonEmpty, "the ASIA/1996 slice must be non-empty at sf0.001")
  }

  test("q4/q13/q14/q17/q19/q22 match independent driver recomputes") {
    def t(n: String) = spark.read.parquet(s"$sf0001/$n.parquet")
    def ms(df: org.apache.spark.sql.DataFrame, c: String) =
      df.selectExpr(s"*", s"unix_millis(CAST($c AS TIMESTAMP)) AS __ms")
    val R = graft.queries.Relational

    // q4: late-order priority counts
    val ord4 = ms(t("orders"), "o_orderdate")
      .selectExpr("o_orderkey", "o_orderpriority", "__ms").collect()
      .filter(r => r.getLong(2) >= 820454400000L && r.getLong(2) < 828316800000L)
    val shipByOk = ms(t("lineitem"), "l_shipdate")
      .selectExpr("l_orderkey", "__ms").collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.toSeq.map(_.getLong(1)) }
    val expect4 = ord4
      .filter(r => shipByOk.getOrElse(r.getLong(0), Seq.empty[Long])
        .exists(_ > r.getLong(2) + 60L * 86400000L))
      .groupBy(_.getString(1)).map { case (k, rs) => k -> rs.length.toLong }
    val got4 = R.q4OrderPriority(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got4 == expect4 && got4.nonEmpty)
    // the EXISTS must plan as a semi join — no row amplification
    assert(R.q4OrderPriority(spark, sf0001).queryExecution.optimizedPlan
      .toString.contains("LeftSemi"))

    // q13: order-count distribution (status filter inside the left join)
    val nOrd = t("orders").collect()
      .filter(_.getString(2) != "P").groupBy(_.getLong(1))
      .map { case (k, rs) => k -> rs.length.toLong }
    val expect13 = t("customer").collect().map(r => nOrd.getOrElse(r.getLong(0), 0L))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val got13 = R.q13CustDist(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got13 == expect13)

    // q14: promo share, exact cents + integer bp
    val ptype = t("part").collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val li14 = ms(t("lineitem"), "l_shipdate")
      .selectExpr("l_partkey",
        "CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS rc",
        "__ms").collect()
      .filter(r => r.getLong(2) >= 820454400000L && r.getLong(2) < 823132800000L)
    val total = li14.map(_.getLong(1)).sum
    val promo = li14.filter(r => ptype(r.getLong(0)) == "PROMO").map(_.getLong(1)).sum
    val got14 = R.q14Promo(spark, sf0001).collect().head
    assert((got14.getLong(0), got14.getLong(1), got14.getLong(2)) ==
      ((promo, total, Math.floorDiv(10000L * promo, total))))

    // q17: small-quantity revenue with the cross-multiplied 0.2*avg
    val li17 = t("lineitem").selectExpr("l_partkey",
      "CAST(l_quantity AS BIGINT) AS q",
      "CAST(round(l_extendedprice * 100) AS BIGINT) AS pc").collect()
    val perPart = li17.groupBy(_.getLong(0))
      .map { case (k, rs) => k -> ((rs.map(_.getLong(1)).sum, rs.length.toLong)) }
    val smallParts = t("part").collect()
      .filter(r => r.getString(2) == "Brand#7" && r.getString(3) == "SMALL")
      .map(_.getLong(0)).toSet
    val kept17 = li17.filter { r =>
      val (sq, n) = perPart(r.getLong(0))
      smallParts(r.getLong(0)) && 5L * r.getLong(1) * n < sq
    }
    val got17 = R.q17SmallQty(spark, sf0001).collect().head
    assert(got17.getLong(1) == kept17.length.toLong)
    if (kept17.nonEmpty)
      assert(got17.getLong(0) == kept17.map(_.getLong(2)).sum)

    // q19: disjunctive predicate revenue
    val pinfo = t("part").collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getInt(4)))).toMap
    val kept19 = t("lineitem").selectExpr("l_partkey",
      "CAST(l_quantity AS BIGINT) AS q",
      "CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS rc")
      .collect().filter { r =>
        val (b, sz) = pinfo(r.getLong(0)); val q = r.getLong(1)
        (b == "Brand#1" && sz >= 1 && sz <= 15 && q >= 1 && q <= 11) ||
        (b == "Brand#12" && sz >= 1 && sz <= 25 && q >= 10 && q <= 20) ||
        (b == "Brand#21" && sz >= 1 && sz <= 35 && q >= 20 && q <= 30)
      }
    val got19 = R.q19Disjunctive(spark, sf0001).collect().head
    assert(got19.getLong(1) == kept19.length.toLong)
    if (kept19.nonEmpty) assert(got19.getLong(0) == kept19.map(_.getLong(2)).sum)

    // q22: dormant above-average customers per nation; anti join in plan
    val cust = t("customer").selectExpr("c_custkey", "CAST(c_nationkey AS BIGINT)",
      "CAST(round(c_acctbal * 100) AS BIGINT) AS bc").collect()
    val pos = cust.map(_.getLong(2)).filter(_ > 0)
    val ab = Math.floorDiv(pos.sum, pos.length.toLong)
    val recent = ms(t("orders"), "o_orderdate").selectExpr("o_custkey", "__ms")
      .collect().filter(_.getLong(1) >= 978307200000L).map(_.getLong(0)).toSet
    val expect22 = cust
      .filter(r => r.getLong(2) > ab && !recent(r.getLong(0)))
      .groupBy(_.getLong(1))
      .map { case (k, rs) => k -> ((rs.length.toLong, rs.map(_.getLong(2)).sum)) }
    val got22 = R.q22NoRecentOrders(spark, sf0001).collect()
      .map(r => r.get(0).asInstanceOf[Number].longValue ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(got22 == expect22)
    assert(R.q22NoRecentOrders(spark, sf0001).queryExecution.optimizedPlan
      .toString.contains("LeftAnti"))
  }

  test("q15/q16: top-supplier ties and the distinct-supplier anti join") {
    val R = graft.queries.Relational
    def t(n: String) = spark.read.parquet(s"$sf0001/$n.parquet")
    def ms(df: org.apache.spark.sql.DataFrame, c: String) =
      df.selectExpr(s"*", s"unix_millis(CAST($c AS TIMESTAMP)) AS __ms")

    // q15: every returned supplier carries exactly the global max revenue
    val rev = ms(t("lineitem"), "l_shipdate").selectExpr("l_suppkey",
      "CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS rc",
      "__ms").collect()
      .filter(r => r.getLong(2) >= 820454400000L && r.getLong(2) < 828316800000L)
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).sum }
    val got15 = R.q15TopSupplier(spark, sf0001).collect()
    assert(got15.nonEmpty)
    val m = rev.values.max
    assert(got15.forall(_.getLong(2) == m))
    assert(got15.map(_.getLong(0)).toSet == rev.filter(_._2 == m).keySet)

    // q16: anti join in plan; counts match a driver recompute
    val df16 = R.q16PartsSupplier(spark, sf0001)
    assert(df16.queryExecution.optimizedPlan.toString.contains("LeftAnti"))
    val flagged = t("supplier").collect()
      .filter(_.getDouble(3) < 0).map(_.getLong(0)).toSet
    val pinfo = t("part").collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getString(3), r.getInt(4)))).toMap
    val expect16 = t("lineitem").select("l_partkey", "l_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
      .filter { case (pk, sk) =>
        val (b, ty, _) = pinfo(pk); !flagged(sk) && b != "Brand#5" && ty != "PROMO" }
      .groupBy { case (pk, _) => pinfo(pk) }
      .map { case (k, ps) => k -> ps.map(_._2).distinct.length.toLong }
    val got16 = df16.collect()
      .map(r => ((r.getString(0), r.getString(1), r.getInt(2))) -> r.getLong(3)).toMap
    assert(got16 == expect16)
  }

  test("q7/q8/q9 star shapes match driver recomputes") {
    val R = graft.queries.Relational
    def t(n: String) = spark.read.parquet(s"$sf0001/$n.parquet")
    val natName = t("nation").collect()
      .map(r => r.getInt(0).toLong -> r.getString(1)).toMap
    val supNat = t("supplier").collect()
      .map(r => r.getLong(0) -> natName(r.getInt(2).toLong)).toMap
    val custNat = t("customer").collect()
      .map(r => r.getLong(0) -> natName(r.getInt(2).toLong)).toMap
    val ordOf = t("orders").selectExpr("o_orderkey", "o_custkey",
      "CAST(year(o_orderdate) AS INT) AS y").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    val li = t("lineitem").selectExpr("l_orderkey", "l_partkey", "l_suppkey",
      "CAST(l_quantity AS BIGINT) AS q", "CAST(year(l_shipdate) AS INT) AS ly",
      "CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS rc")
      .collect()

    // q7: directional two-nation volume by ship year
    val expect7 = li.flatMap { r =>
      val sn = supNat(r.getLong(2))
      val cn = custNat(ordOf(r.getLong(0))._1)
      if ((sn == "NATION_18" && cn == "NATION_19") ||
          (sn == "NATION_19" && cn == "NATION_18"))
        Some(((sn, cn, r.getInt(4)), r.getLong(5)))
      else None
    }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    val got7 = R.q7Volume(spark, sf0001).collect()
      .map(r => ((r.getString(0), r.getString(1), r.getInt(2))) -> r.getLong(3)).toMap
    // NATION_18/19 trade in BOTH directions at sf0.001 (verified against
    // the raw tables) — the declared pair must keep the query non-empty
    // at the smallest fixture
    assert(got7 == expect7 && got7.keys.map(_._1).toSet.size == 2)

    // q8: share numerator/denominator and the exact-bp division
    val econParts = t("part").collect()
      .filter(_.getString(3) == "ECONOMY").map(_.getLong(0)).toSet
    val asiaNat = t("nation").collect().filter(_.getInt(2) == 2)
      .map(_.getInt(0).toLong).toSet // ASIA is r_regionkey 2
    val custAsia = t("customer").collect()
      .filter(r => asiaNat(r.getInt(2).toLong)).map(_.getLong(0)).toSet
    val slice = li.filter(r => econParts(r.getLong(1)) &&
      custAsia(ordOf(r.getLong(0))._1))
    val expect8 = slice.groupBy(r => ordOf(r.getLong(0))._2).map { case (y, rs) =>
      val tot = rs.map(_.getLong(5)).sum
      val nat = rs.filter(r => supNat(r.getLong(2)) == "NATION_2").map(_.getLong(5)).sum
      y -> ((nat, tot, Math.floorDiv(10000L * nat, tot)))
    }
    val got8 = R.q8MarketShare(spark, sf0001).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got8 == expect8 && got8.nonEmpty)

    // q9: profit with the 10%-of-retail cost proxy, exact cents
    val costOf = t("part").collect()
      .map(r => r.getLong(0) -> Math.round(r.getDouble(5) * 10)).toMap
    val expect9 = li.map { r =>
      ((supNat(r.getLong(2)), ordOf(r.getLong(0))._2),
        r.getLong(5) - r.getLong(3) * costOf(r.getLong(1)))
    }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    val got9 = R.q9Profit(spark, sf0001).collect()
      .map(r => ((r.getString(0), r.getInt(1))) -> r.getLong(2)).toMap
    assert(got9 == expect9 && got9.nonEmpty)
  }

  test("q2/q11/q20 nested-aggregate shapes match driver recomputes") {
    val R = graft.queries.Relational
    def t(n: String) = spark.read.parquet(s"$sf0001/$n.parquet")
    val li = t("lineitem").selectExpr("l_partkey", "l_suppkey",
      "CAST(l_quantity AS BIGINT) AS q").collect()

    // q2: per-part min-balance EUROPE supplier, smallest suppkey on ties
    val euNat = t("nation").collect().filter(_.getInt(2) == 3) // EUROPE rk=3
      .map(_.getInt(0).toLong).toSet
    val euSup = t("supplier").collect()
      .filter(r => euNat(r.getInt(2).toLong))
      .map(r => r.getLong(0) -> Math.round(r.getDouble(3) * 100)).toMap
    val pairs = li.map(r => (r.getLong(0), r.getLong(1))).distinct
    val expect2 = pairs.filter(p => euSup.contains(p._2))
      .groupBy(_._1).map { case (pk, ps) =>
        val mb = ps.map(p => euSup(p._2)).min
        pk -> ((ps.filter(p => euSup(p._2) == mb).map(_._2).min, mb))
      }.toSeq.sortBy(_._1).take(100)
    val got2 = R.q2MinCost(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toSeq
    assert(got2 == expect2 && got2.nonEmpty)

    // q11: global-share threshold on exact value cents
    val retail = t("part").collect()
      .map(r => r.getLong(0) -> Math.round(r.getDouble(5) * 100)).toMap
    val vals = li.groupBy(_.getLong(0)).map { case (pk, rs) =>
      pk -> rs.map(r => r.getLong(2) * retail(pk)).sum }
    val tot = vals.values.sum
    val expect11 = vals.filter { case (_, v) => 2000L * v > tot }
      .toSeq.sortBy { case (pk, v) => (-v, pk) }
    val got11 = R.q11ImportantStock(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got11 == expect11 && got11.nonEmpty)

    // q20: concentration semi-join (5*pair > part total)
    val pairQ = li.groupBy(r => (r.getLong(0), r.getLong(1)))
      .map { case (k, rs) => k -> rs.map(_.getLong(2)).sum }
    val partQ = pairQ.groupBy(_._1._1).map { case (pk, m) => pk -> m.values.sum }
    val concSk = pairQ.filter { case ((pk, _), q) => 5L * q > partQ(pk) }
      .keys.map(_._2).toSet
    val natName = t("nation").collect()
      .map(r => r.getInt(0).toLong -> r.getString(1)).toMap
    val expect20 = t("supplier").collect()
      .filter(r => concSk(r.getLong(0)))
      .groupBy(r => natName(r.getInt(2).toLong))
      .map { case (n, rs) => n -> rs.length.toLong }
    val got20 = R.q20VolumeSupplier(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got20 == expect20 && got20.nonEmpty)
  }

  test("bloom_prune: no false negatives, genuine pruning, and the exact-join result") {
    import org.apache.spark.sql.functions.col
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val lineitem = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val urgentKeys = orders.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    val pred = queries.Relational.bloomMightContain(
      orders.filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey")),
      col("l_orderkey"))
    val passKeys = lineitem.filter(pred)
      .select(col("l_orderkey")).collect().map(_.getLong(0)).toSet
    val allKeys = lineitem.select(col("l_orderkey")).collect().map(_.getLong(0))
    val trueKeys = allKeys.filter(urgentKeys).toSet
    // Bloom contract: every truly-matching key passes (no false negatives)
    assert(trueKeys.subsetOf(passKeys), "bloom dropped a matching key")
    // and the filter genuinely prunes the fact side before the shuffle
    val nPass = allKeys.count(passKeys)
    val nTrue = allKeys.count(trueKeys)
    assert(nPass < allKeys.length, "bloom pruned nothing")
    assert(nPass - nTrue <= allKeys.length / 20,
      s"false-positive volume $nPass vs $nTrue out of ${allKeys.length}")
    // final result is the plain join — recomputed as a driver fold
    val expect = lineitem.select(col("l_orderkey"), col("l_returnflag"),
        col("l_extendedprice")).collect()
      .filter(r => urgentKeys(r.getLong(0)))
      .groupBy(_.getString(1)).map { case (rf, rs) =>
        (rf, rs.length.toLong, rs.map(r => Math.round(r.getDouble(2) * 100)).sum)
      }.toSeq.sortBy(_._1)
    val got = queries.Relational.bloomPrune(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect)
  }

  test("q10_returns plan: pre-aggregation sits BELOW the customer join, top-20 is TakeOrdered") {
    val df = graft.queries.Relational.q10Returns(spark, sf0001)
    val plan = df.queryExecution.optimizedPlan.toString
    // the revenue aggregate keys on o_custkey and must appear INSIDE the
    // join tree (enriching 600k line rows with customer names first
    // would carry the wide columns through the big shuffle)
    assert(plan.contains("Aggregate [o_custkey"), plan.take(1500))
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("TakeOrderedAndProject"), phys.take(600))
    assert(phys.contains("EqualTo(l_returnflag,R)"), phys.take(2500))
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val revs = rows.map(_.getLong(3)).toSeq
    assert(revs == revs.sortBy(-_))
  }
}
