package graft

import graft.operators.PageRank
import graft.queries.Graph
import org.apache.spark.sql.functions._

/** Invariants for the integer fixed-point PageRank beyond the DuckDB
  * value gate (which already pins the full 3-round lattice at sf0.01).
  */
class GraphSpec extends SparkSuite {

  private def edgePairs(): Seq[(Long, Long)] = {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_suppkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    li.flatMap { case (s, p) => Seq((s, p + 1000000L), (p + 1000000L, s)) }.toSeq
  }

  test("pagerank: ranks equal a driver-side integer reference implementation") {
    val edges = edgePairs()
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r: Map[Long, Long] = deg.keys.map(_ -> PageRank.Scale).toMap
    for (_ <- 1 to 3) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (src, dst) => contrib(dst) += r(src) / deg(src) }
      r = contrib.map { case (n, c) =>
        n -> (15L * PageRank.Scale / 100L + 85L * c / 100L)
      }.toMap
    }
    val e = spark.createDataFrame(edges).toDF("src", "dst")
    val got = PageRank.run(e, 3).collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(got == r, "distributed fixed-point lattice != driver-side reference")
  }

  test("pagerank: mass bounded and every node present with at least the jump rank") {
    val rows = Graph.pagerank(spark, sf0001).collect()
    assert(rows.length == 100)
    assert(rows.forall(_.getLong(2) >= 15L * PageRank.Scale / 100L))
    // presentation order is total: rank desc, then kind, then id
    val key = rows.map(r => (-r.getLong(2), r.getString(0), r.getLong(1))).toSeq
    assert(key == key.sorted)
  }

  test("pagerank: resolution auto-steps down instead of aborting on large graphs") {
    // 200k nodes > the 1e12-scale notch (~108.5k) -> one step to 1e11.
    // Symmetric ring: every node has degree 2, so after any number of
    // rounds every rank is identical and equals eff (up to floor dust)
    val n = 200000L
    val ring = spark.range(n).selectExpr("id AS src", s"(id + 1) % $n AS dst")
    val edges = ring.union(ring.selectExpr("dst AS src", "src AS dst"))
    val r = graft.operators.PageRank.run(edges, iters = 2, validate = false)
      .agg(min(col("r")), max(col("r"))).head()
    val eff = 100000000000L // 1e11: first notch below 1e12 for 200k nodes
    assert(r.getLong(0) == r.getLong(1), "ring symmetry: all ranks equal")
    assert(math.abs(r.getLong(0) - eff) <= 2L,
      s"uniform rank ${r.getLong(0)} should be ~$eff (floor dust only)")
  }

  test("pagerank: rejects graphs with dangling nodes loudly") {
    import spark.implicits._
    val directed = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst") // 3 is never a src
    val ex = intercept[IllegalArgumentException](PageRank.run(directed, 2))
    assert(ex.getMessage.contains("dangling"))
  }

  test("cosupply_neighbors equals the brute-force per-supplier argmax") {
    val sp = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parts = sp.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val byPart = sp.groupBy(_._2)
    // mirror the declared semantics: pairs only via non-hub parts with >1
    // supplier; degrees stay full
    val okParts = byPart.filter { case (_, v) =>
      v.length > 1 && v.length <= 256 }.keySet
    val common = scala.collection.mutable.Map.empty[(Long, Long), Long]
    sp.filter(e => okParts(e._2)).groupBy(_._2).values.foreach { es =>
      val sks = es.map(_._1).sorted
      for (a <- sks; b <- sks if a != b) common((a, b)) = common.getOrElse((a, b), 0L) + 1
    }
    val expect = common.keys.groupBy(_._1).map { case (s1, ks) =>
      val best = ks.map { case (_, s2) =>
        val c = common((s1, s2))
        val jac = c * 10000L / (parts(s1).size + parts(s2).size - c)
        (jac, s2, c)
      }.toSeq.sortBy { case (jac, s2, _) => (-jac, s2) }.head
      s1 -> (best._2, best._3, best._1)
    }
    val got = graft.queries.Graph.cosupplyNeighbors(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.nonEmpty)
    assert(got == expect)
  }

  test("clustering_coeff: bucket histogram matches a brute-force per-node census") {
    val lp = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = lp.groupBy(_._1).values
      .filter(v => v.length > 1 && v.length <= 64)
      .flatMap { v =>
        val ps = v.map(_._2).distinct.sorted
        for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
      }.toSet
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (u, v) => adj(u) = adj(u) + v; adj(v) = adj(v) + u }
    val expect = adj.toSeq.filter(_._2.size >= 2).map { case (n, nb) =>
      val ns = nb.toSeq
      val t = (for (i <- ns.indices; j <- (i + 1) until ns.length
        if edges.contains((math.min(ns(i), ns(j)), math.max(ns(i), ns(j)))))
        yield 1).size.toLong
      val deg = nb.size.toLong
      ((20 * t) / (deg * (deg - 1)), (2 * t * 1000000L) / (deg * (deg - 1)))
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, xs) =>
      (b, xs.length.toLong, xs.map(_._2).sum / xs.length) }
    val got = graft.queries.Graph.clusteringCoeff(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect)
    // the census covers every node of degree >= 2
    assert(got.map(_._2).sum == adj.count(_._2.size >= 2).toLong)
  }

  test("hits_scores: 3-round integer HITS matches a driver recompute") {
    val sp = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byPart = sp.groupBy(_._2).map { case (p, es) => p -> es.map(_._1) }
    val bySupp = sp.groupBy(_._1).map { case (s0, es) => s0 -> es.map(_._2) }
    var h = bySupp.keys.map(_ -> 1000000L).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to 3) {
      val a0 = byPart.map { case (p, sks) => p -> sks.map(h).sum }
      val am = a0.values.max
      a = a0.map { case (p, v) => p -> v * 1000000L / am }
      val h0 = bySupp.map { case (s0, pks) => s0 -> pks.map(a).sum }
      val hm = h0.values.max
      h = h0.map { case (s0, v) => s0 -> v * 1000000L / hm }
    }
    val expect =
      h.toSeq.map { case (id, sc) => ("hub", id, sc) }
        .sortBy { case (_, id, sc) => (-sc, id) }.take(20) ++
      a.toSeq.map { case (id, sc) => ("authority", id, sc) }
        .sortBy { case (_, id, sc) => (-sc, id) }.take(20)
    val got = graft.queries.Graph.hitsScores(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.sortBy(t => (t._1, -t._3, t._2)) ==
      expect.sortBy(t => (t._1, -t._3, t._2)))
    // normalization holds: each side's max is exactly the lattice unit
    assert(got.filter(_._1 == "hub").map(_._3).max == 1000000L)
    assert(got.filter(_._1 == "authority").map(_._3).max == 1000000L)
  }

  test("hits_scores keeps only the edge layouts and the final a/h checkpoints") {
    // warm the shared artifacts so only the query's own blocks are new
    Graph.edgeTable(spark, sf0001).count()
    Graph.degreeTable(spark, sf0001).count()
    Graph.hubSeedAndNodes(spark, sf0001)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val hits = Graph.hitsScores(spark, sf0001)
    val added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    val resultBlocks = hits.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    // the result reads the last a- and h-half checkpoints; beside them
    // only the two edge layouts (spPk, spSk) may stay — the four earlier
    // half-round checkpoints are released as they are superseded (at
    // most, not exactly, 4: the context cleaner may already have dropped
    // the layouts, which nothing references once the query is built)
    assert(resultBlocks.size == 2 && resultBlocks.subsetOf(added), s"$resultBlocks vs $added")
    assert(added.size <= 4, s"${added.size} new persistent RDDs: $added")
  }

  test("adamic_adar: top-20 predicted links match a brute-force recompute") {
    val sp = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val scores = scala.collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    sp.groupBy(_._2).values.foreach { es =>
      val sks = es.map(_._1).sorted
      if (sks.length > 1 && sks.length <= 256) {
        val w = math.round(1e9 / math.log(sks.length.toDouble))
        for (i <- sks.indices; j <- (i + 1) until sks.length) {
          val k = (sks(i), sks(j))
          val (c, a) = scores.getOrElse(k, (0L, 0L))
          scores(k) = (c + 1, a + w)
        }
      }
    }
    val expect = scores.toSeq
      .map { case ((s1, s2), (c, a)) => (s1, s2, c, a) }
      .sortBy { case (s1, s2, _, a) => (-a, s1, s2) }.take(20)
    val got = graft.queries.Graph.adamicAdar(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expect)
    // rarity weighting must matter: the top pair's support must not be
    // explainable by common count alone (some pair with more or equal
    // common parts ranks lower somewhere in the table)
    assert(got.nonEmpty && got.map(_._4).distinct.size > 1)
  }

  test("ppr_topk equals a driver-side seeded integer walk") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_suppkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1) + (1L << 40)))
    val edges = li ++ li.map { case (a, b) => (b, a) }
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val seed = deg.toSeq.minBy { case (n, d2) => (-d2, n) }._1
    val scale = 1000000000000L
    var r: Map[Long, Long] = deg.keys.map(n => n -> (if (n == seed) scale else 0L)).toMap
    for (_ <- 1 to 3) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (s2, d2) => contrib(d2) += r(s2) / deg(s2) }
      r = deg.keys.map { n =>
        n -> ((if (n == seed) 15L * scale / 100L else 0L) + 85L * contrib(n) / 100L)
      }.toMap
    }
    def kind(n: Long) = if (n >= (1L << 40)) "part" else "supplier"
    def id(n: Long) = if (n >= (1L << 40)) n - (1L << 40) else n
    val expect = r.toSeq.sortBy { case (n, rk) => (-rk, kind(n), id(n)) }.take(20)
      .map { case (n, rk) => (kind(n), id(n), rk) }
    val got = graft.queries.Graph.pprTopk(spark, sf0001).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSeq
    assert(got.head._3 > got.last._3, "ranks must decay from the seed")
    assert(got == expect)
  }

  test("bfs_hops equals a driver-side breadth-first search") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_suppkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1) + (1L << 40)))
    val edges = li ++ li.map { case (a, b) => (b, a) }
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val seed = deg.toSeq.minBy { case (n, d2) => (-d2, n) }._1
    val dist = scala.collection.mutable.Map(seed -> 0L)
    var frontier = Set(seed)
    for (h <- 1L to 4L) {
      frontier = frontier.flatMap(adj(_)).filterNot(dist.contains)
      frontier.foreach(dist(_) = h)
    }
    val expect = dist.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val got = graft.queries.Graph.bfsHops(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    assert(got.keySet.contains(1L) && got(0L) == 1L, "seed at hop 0, neighbors at 1")
  }

  test("triangle_count equals a driver-side brute-force census") {
    val lp = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val baskets = lp.groupBy(_._1).values
      .map(_.map(_._2).distinct.sorted.toIndexedSeq)
      .filter(b => b.length > 1 && b.length <= 64)
    val edges = baskets.flatMap(b =>
      for (i <- b.indices; j <- i + 1 until b.length) yield (b(i), b(j))).toSet
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (u, v) => adj(u) += v; adj(v) += u }
    val wedges = adj.values.map { s => val d = s.size.toLong; d * (d - 1) / 2 }.sum
    // each triangle is counted once per edge by the common-neighbor scan
    val tri = edges.toSeq.map { case (u, v) => (adj(u) & adj(v)).size.toLong }.sum / 3
    val row = graft.queries.Graph.triangleCount(spark, sf0001).head()
    assert(tri > 0, "test corpus must actually contain triangles")
    assert(row.getLong(0) == adj.size.toLong)
    assert(row.getLong(1) == edges.size.toLong)
    assert(row.getLong(2) == wedges)
    assert(row.getLong(3) == tri)
    assert(row.getLong(4) == 3 * tri * 1000000L / wedges)
  }

  test("kcore: fixture result is the TRUE fixpoint core and matches brute peeling") {
    // plain-Scala peel-to-fixpoint (no round cap) — the declared 4-round
    // query must equal it, proving 4 rounds suffice on the fixture
    val edges = graft.queries.Graph.edgeTable(spark, sf0001)
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // the declared data-derived threshold: (min node degree) + 1
    val k = edges.groupBy(_._1).map(_._2.length).min + 1
    var nodes = edges.map(_._1).toSet
    var changed = true
    while (changed) {
      val deg = edges.filter { case (s0, d0) => nodes(s0) && nodes(d0) }
        .groupBy(_._1).map { case (n, es) => n -> es.length }
      val next = deg.filter(_._2 >= k).keySet
      changed = next != nodes
      nodes = next
    }
    val coreDeg = edges
      .filter { case (s0, d0) => nodes(s0) && nodes(d0) }
      .groupBy(_._1).map { case (n, es) => n -> es.length.toLong }
    val got = graft.queries.Graph.kcore(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == coreDeg)
    // a real density filter: nonempty proper subset of the node set
    assert(nodes.nonEmpty && nodes.size < edges.map(_._1).distinct.length)
  }

  test("kcore peeling cascades across rounds on a tail-on-clique graph") {
    import spark.implicits._
    // 4-clique (nodes 1-4, every node degree 3) with a path tail
    // 4-5-6-7: at k=2 the tail peels ONE NODE PER ROUND (7 then 6 then
    // 5), so fewer than 3 rounds must give a different (wrong) answer —
    // the multi-round cascade the fixture's 1-round fixpoint can't show
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 7L))
    val edges = (und ++ und.map(p => (p._2, p._1))).toDF("src", "dst")
    val core = graft.queries.Graph.kcoreOf(edges, k = 2, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"2-core should be exactly the clique: $core")
    val short = graft.queries.Graph.kcoreOf(edges, k = 2, rounds = 2)
      .collect().map(_.getLong(0)).toSet
    assert(short.contains(5L),
      "2 rounds should not have finished peeling the tail — cascade untested")
  }

  test("communities_lpa equals a driver-side synchronous 3-round propagation") {
    val lp = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val baskets = lp.groupBy(_._1).values
      .map(_.map(_._2).distinct.sorted.toIndexedSeq)
      .filter(b => b.length > 1 && b.length <= 64)
    val edges = baskets.flatMap(b =>
      for (i <- b.indices; j <- i + 1 until b.length) yield (b(i), b(j))).toSet
    val nbrs = scala.collection.mutable.Map.empty[Long, List[Long]]
      .withDefaultValue(Nil)
    edges.foreach { case (u, v) => nbrs(u) ::= v; nbrs(v) ::= u }
    var lab = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      lab = nbrs.map { case (n, ns) =>
        val votes = ns.groupBy(lab).view.mapValues(_.size.toLong)
        n -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    val expect = lab.values.groupBy(identity)
      .map { case (c, ms) => (c, ms.size.toLong) }.toSeq
      .sortBy { case (c, n) => (-n, c) }.take(20)
    val got = Graph.communitiesLpa(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect)
    assert(got.nonEmpty && got.map(_._2).sum > got.size,
      "LPA must form at least one non-singleton community")
  }

  test("triangle_count plan: no cartesian product, no data-sized window") {
    val plan = graft.queries.Graph.triangleCount(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("WindowExec"), plan.take(800))
  }

  test("rich_club: density ladder matches a driver recompute and shows the bipartite collapse") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_suppkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1) + (1L << 40)))
    val edges = li ++ li.map { case (a, b) => (b, a) }
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.length.toLong }
    val expect = Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L, 512L).flatMap { k =>
      val nRich = deg.count(_._2 > k).toLong
      if (nRich < 2) None else {
        val eRich = edges.count { case (u, v) => deg(u) > k && deg(v) > k }.toLong
        Some((k, nRich, eRich, 1000000L * eRich / (nRich * (nRich - 1))))
      }
    }
    val got = graft.queries.Graph.richClub(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expect)
    // the structural read the scaladoc publishes: some cutoff leaves only
    // one side of the bipartition, where density is exactly zero
    assert(got.exists(_._4 == 0L))
    assert(got.exists(_._4 > 0L))
  }

  test("assortativity: edge-end degree correlation matches a driver recompute") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_suppkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1) + (1L << 40)))
    val edges = li ++ li.map { case (a, b) => (b, a) }
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.length.toLong }
    val ends = edges.map { case (u, v) => (deg(u), deg(v)) }
    val m = ends.length.toDouble
    def s(f: ((Long, Long)) => Long): Double = ends.map(f).map(BigInt(_)).sum.toDouble
    val (sjk, sj, sk) = (s(p => p._1 * p._2), s(_._1), s(_._2))
    val (sjj, skk) = (s(p => p._1 * p._1), s(p => p._2 * p._2))
    val r = (m * sjk - sj * sk) /
      (math.sqrt(m * sjj - sj * sj) * math.sqrt(m * skk - sk * sk))
    val got = graft.queries.Graph.assortativity(spark, sf0001).collect().head
    assert(got.getLong(0) == ends.length.toLong)
    assert(math.abs(got.getDouble(1) - r) < 2e-6)
    // the bipartite signature the scaladoc publishes: strongly disassortative
    assert(got.getDouble(1) < -0.5)
  }
}
