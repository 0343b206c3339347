package graft.queries

import graft.{MaterializedCaches, SparkSuite}
import org.apache.spark.sql.graft.Bridge

/** The table-name rewrite behind every SQL-surface query: bare relation
  * tokens are prefixed, but string literals, quoted identifiers and
  * comments are untouched, and the parse-level guard rejects a rewrite
  * that changes anything but relation references.
  */
class SharedRewriteSpec extends SparkSuite {

  test("rewriteBareWord leaves string literals, quotes and comments alone") {
    val q = "SELECT * FROM orders WHERE t = 'orders' AND u = 'x''orders' " +
      "AND v = \"orders\" -- orders in a comment\n/* orders */ JOIN orders o"
    val r = Shared.rewriteBareWord(q, "orders", "graft_orders")
    assert(r === "SELECT * FROM graft_orders WHERE t = 'orders' AND u = 'x''orders' " +
      "AND v = \"orders\" -- orders in a comment\n/* orders */ JOIN graft_orders o")
  }

  test("rewriteBareWord respects word boundaries") {
    val q = "SELECT part_stats, part.p_size, reorders FROM part"
    val r = Shared.rewriteBareWord(q, "part", "graft_part")
    assert(r === "SELECT part_stats, graft_part.p_size, reorders FROM graft_part")
  }

  test("parsedRelations sees tables and CTE references, not literals or aliases") {
    val rels = Bridge.parsedRelations(spark,
      "WITH c AS (SELECT 1 x) SELECT * FROM orders o JOIN c ON o.x = c.x WHERE t = 'lineitem'")
    assert(rels.toSet === Set("orders", "c"))
  }

  test("parsedRelations descends into subquery expressions and CTE bodies") {
    // EXISTS / IN / scalar subqueries and LATERAL hide relations inside
    // expressions; CTE bodies live outside the child traversal — all
    // must be visible or the rewrite guard is blind for those queries
    assert(Bridge.parsedRelations(spark,
      "SELECT 1 FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.k = c.k)")
      .toSet === Set("customer", "orders"))
    assert(Bridge.parsedRelations(spark,
      "SELECT 1 FROM customer c, LATERAL (SELECT k FROM orders WHERE k = c.k LIMIT 1) t")
      .toSet === Set("customer", "orders"))
    assert(Bridge.parsedRelations(spark,
      "WITH c AS (SELECT k FROM lineitem) SELECT (SELECT max(k) FROM part), * FROM c")
      .toSet === Set("lineitem", "part", "c"))
  }

  test("rewriteBareWord honors backslash-escaped quotes (Spark's default lexer)") {
    val q = "SELECT * FROM orders WHERE c = 'it\\'s orders day' AND d = orders.x"
    assert(Shared.rewriteBareWord(q, "orders", "graft_orders") ===
      "SELECT * FROM graft_orders WHERE c = 'it\\'s orders day' AND d = graft_orders.x")
  }

  test("Shared.sql runs a query containing the table name inside a literal") {
    val df = Shared.sql(spark, sf0001, Seq("orders"),
      "SELECT count(*) AS n FROM orders WHERE o_orderpriority <> 'orders'")
    assert(df.collect().head.getLong(0) > 0)
  }

  test("rewriteBareWord fuzz: only code segments rewritten (seeded, 300 rounds)") {
    // build queries from segments whose classification is known by
    // construction: code segments expect a plain word-boundary replace,
    // quoted/comment segments must come through untouched
    val rnd = new scala.util.Random(4242)
    val words = Seq("orders", "orders_x", "xorders", "part", "o1", "sum", "ORDERS")
    def codeSeg(): String =
      (0 to rnd.nextInt(3)).map(_ => words(rnd.nextInt(words.size))).mkString(" ", " ", " ")
    for (round <- 1 to 300) {
      val segs = (1 to (1 + rnd.nextInt(6))).map { _ =>
        rnd.nextInt(5) match {
          case 0 => val c = codeSeg(); (c, true)
          case 1 => ("'" + codeSeg().replace("'", "''") + "'", false)
          case 2 => ("\"" + codeSeg() + "\"", false)
          case 3 => ("/*" + codeSeg() + "*/", false)
          case 4 => ("-- " + codeSeg() + "\n", false)
        }
      }
      val q = segs.map(_._1).mkString
      val expected = segs.map { case (seg, isCode) =>
        if (isCode) seg.replaceAll("\\borders\\b", "graft_orders") else seg
      }.mkString
      assert(Shared.rewriteBareWord(q, "orders", "graft_orders") === expected,
        s"round $round input: $q")
    }
  }

  test("MaterializedCaches.invalidateAll clears every registered cache") {
    // one entry of each kind: a DataFrame, a scalar (over the cached
    // degree table), a path and the BPE merges
    graft.streaming.Sessions.sessionTable(spark, sf0001).count()
    Graph.hubSeedAndNodes(spark, sf0001)
    graft.sources.Layout.partitionedOrders(spark, sf0001)
    Quality.bpeMerges(spark, sf0001)
    def held = MaterializedCaches.registered.toMap
    Seq("sessions.sessionTable", "graph.degrees", "graph.hubSeeds",
        "layout.partitionedOrders", "quality.bpeMerges", "sources.parquetSchema")
      .foreach(n => assert(held.getOrElse(n, 0) >= 1, s"$n not held: $held"))
    val dfRdds = MaterializedCaches.allDfs.flatMap(Bridge.cachedRddIds).toSet
    assert(dfRdds.nonEmpty)
    MaterializedCaches.invalidateAll()
    MaterializedCaches.invalidateAll() // idempotent
    assert(held.values.forall(_ == 0), s"entries left: $held")
    assert(MaterializedCaches.allDfs.isEmpty)
    val left = dfRdds & spark.sparkContext.getPersistentRDDs.keySet
    assert(left.isEmpty, s"still persisted: $left")
    // the scalar is recomputed, so the degree table under it is rebuilt
    Graph.hubSeedAndNodes(spark, sf0001)
    assert(held("graph.degrees") == 1)
    // caches repopulate on demand after invalidation
    assert(graft.streaming.Sessions.sessionTable(spark, sf0001).count() > 0)
  }

  test("a scope releases its temporaries' cache entries, so the plan caches again") {
    import org.apache.spark.storage.StorageLevel
    def plan = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
    val entries = Bridge.numCachedEntries(spark)
    MaterializedCaches.scoped(spark) {
      val t = MaterializedCaches.persistOnce(plan)
      assert(t.storageLevel != StorageLevel.NONE)
      assert(t.count() == 7)
    }
    assert(Bridge.numCachedEntries(spark) == entries)
    val again = plan
    assert(again.storageLevel == StorageLevel.NONE)
    MaterializedCaches.scoped(spark) {
      MaterializedCaches.persistOnce(again)
      assert(again.storageLevel != StorageLevel.NONE)
    }
    assert(again.storageLevel == StorageLevel.NONE)
  }

  test("persisting releases only what it cached: a DfCache frame stays cached") {
    import org.apache.spark.storage.StorageLevel
    val t = graft.streaming.Sessions.sessionTable(spark, sf0001)
    assert(t.storageLevel != StorageLevel.NONE)
    MaterializedCaches.persisting(t)(t.count())
    assert(t.storageLevel != StorageLevel.NONE)
    val own = spark.range(10).selectExpr("id * 3 AS x")
    MaterializedCaches.persisting(own)(assert(own.storageLevel != StorageLevel.NONE))
    assert(own.storageLevel == StorageLevel.NONE)
  }

  /** Main sources (paths relative to src/main/scala) in which `pattern`
    * matches, other than the `allowed` files.
    */
  private def mainSourcesMatching(pattern: String, allowed: Set[String]): List[String] = {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val root = Path.of("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root, not ${Path.of("").toAbsolutePath}")
    scala.util.Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        pattern.r.findFirstIn(Files.readString(p)).isDefined)
      .map(p => root.relativize(p).toString)
      .filterNot(allowed)
      .toList)
  }

  test("no cache is hand-rolled outside MaterializedCaches") {
    // a per-(session, dir) memo that bypasses SessionCache escapes
    // invalidateAll; every such memo so far was a TrieMap field
    val offenders = mainSourcesMatching("TrieMap", Set("graft/MaterializedCaches.scala"))
    assert(offenders.isEmpty, s"TrieMap outside MaterializedCaches.scala: $offenders")
  }

  test("no DataFrame is persisted or released outside MaterializedCaches") {
    // a persist that bypasses MaterializedCaches escapes every scope, and
    // a bare unpersist may drop a cache entry another frame reads; the
    // RDD-level release of checkpoint blocks (Bridge) is not a DataFrame's
    val offenders = mainSourcesMatching(raw"\.persist\(|\.cache\(\)|(?<!rdd)\.unpersist\(",
      Set("graft/MaterializedCaches.scala"))
    assert(offenders.isEmpty, s"persist/cache/unpersist outside MaterializedCaches.scala: $offenders")
  }

  test("no entry point builds its own session outside GraftSession") {
    // a hand-rolled builder lacks the GraftExtensions rewrite rule, so a
    // query's plan would depend on whether an earlier query installed it
    // at runtime; TopKBench's window arm needs a session without the rule.
    // Matches `builder()`, `builder.master(..)` and a call split over lines.
    val offenders = mainSourcesMatching(raw"SparkSession\s*\.\s*builder\b",
      Set("graft/GraftSession.scala", "graft/examples/TopKBench.scala"))
    assert(offenders.isEmpty, s"SparkSession.builder outside GraftSession.scala: $offenders")
  }

  test("no query reads parquet around the schema cache") {
    // a plain read of an immutable input infers its schema on every call
    // (one schema-merge job each); queries read through Tables
    val offenders = mainSourcesMatching(raw"\.read\.parquet\(", Set.empty)
      .filter(_.startsWith("graft/queries/"))
    assert(offenders.isEmpty, s"read.parquet under graft/queries/: $offenders")
  }
}
