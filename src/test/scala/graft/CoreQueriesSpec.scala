package graft

import graft.queries.Core
import graft.sources.ReferenceCorpus
import org.apache.spark.sql.graft.Bridge

/** Sanity checks per tier-B query (the full hash-compare against DuckDB is
  * the driver's Verify gate; tools/check_oracle.py replicates it locally).
  */
class CoreQueriesSpec extends SparkSuite {

  test("every declared query runs and returns rows at sf0.001") {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val sc = spark.sparkContext
    // RDDs backing SessionCache frames: one per held cache entry
    def held = MaterializedCaches.allDfs.flatMap(Bridge.cachedRddIds).toSet
    for ((name, fn) <- SparkEntry.queries) {
      val (rddsBefore, entriesBefore, heldBefore) =
        (sc.getPersistentRDDs.keySet, Bridge.numCachedEntries(spark), held)
      MaterializedCaches.scoped(spark) {
        val df = fn(spark, sf0001)
        // driver-sortable-output contract: the harness row-sorts results in
        // pandas, where array/map/struct cells are unhashable and crash the
        // gate (round-4 lesson: array_funcs2/lag_features/positional_index).
        // Complex values must be serialized to strings before leaving a query.
        val complex = df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType]
            || f.dataType.isInstanceOf[MapType]
            || f.dataType.isInstanceOf[StructType] => f.name
        }
        assert(complex.isEmpty,
          s"query $name outputs driver-unsortable columns ${complex.mkString(",")}: " +
            "serialize arrays/maps/structs to strings (inverted_index pattern)")
        val n = df.count()
        assert(n > 0, s"query $name returned no rows")
      }
      // the scope released what the query cached, except what a
      // SessionCache now holds: no stale CacheManager entry, no blocks
      val heldAfter = held
      val entries = Bridge.numCachedEntries(spark) - entriesBefore
      assert(entries <= (heldAfter -- heldBefore).size,
        s"query $name left $entries cache entries, ${(heldAfter -- heldBefore).size} held")
      val rdds = sc.getPersistentRDDs.keySet -- rddsBefore -- heldAfter
      assert(rdds.isEmpty, s"query $name left persistent RDDs $rdds")
    }
  }

  test("oracleSql only names declared queries") {
    val undeclared = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(undeclared.isEmpty, s"oracle without query: $undeclared")
  }

  test("wordcount_files matches the golden corpus invariant (21 x 5000)") {
    val rows = Core.wordcountFiles(spark, sf0001).collect()
    assert(rows.length == 21)
    assert(rows.forall(_.getLong(1) == 5000L))
    // total ORDER BY: ascending byte order, 'This' first
    assert(rows.head.getString(0) == "This")
  }

  test("ReferenceCorpus is written once per generator version and reused") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    def corpusDirs = scala.util.Using.resource(Files.list(Path.of(ReferenceCorpus.dir).getParent))(
      _.iterator().asScala.filter(_.getFileName.toString.startsWith("graft-refcorpus")).toSet)
    val before = corpusDirs
    assert(ReferenceCorpus.write() == ReferenceCorpus.dir)
    assert(corpusDirs == before, "a second write added a directory")
  }

  test("ReferenceCorpus sweeps unversioned corpus directories, and only those") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val base = Files.createTempDirectory("graft-sweep")
    val stale = Set("graft-refcorpus16062038682497489391", "graft-refcorpus7")
    // every versioned corpus stays, whatever its version: another checkout may be reading it
    val kept = Set("graft-refcorpus-v0", "graft-refcorpus-v1", "graft-refcorpus-v2",
      "graft-refcorpus-v1-8378130159382059120", "graft-refcorpus-v0-724429123158925585",
      "graft-refcorpus-vx", "graft-refcorpus", "graft-refcorpus12x", "other")
    (stale ++ kept).foreach { n =>
      Files.createDirectories(base.resolve(n).resolve("sub"))
      Files.writeString(base.resolve(n).resolve("sub").resolve("sample1.txt"), "a b")
    }
    Files.writeString(base.resolve("graft-refcorpus42"), "a file, not a corpus")
    def names = scala.util.Using.resource(Files.list(base))(
      _.iterator().asScala.map(_.getFileName.toString).toSet)
    try {
      ReferenceCorpus.sweepStale(base)
      assert(names == kept + "graft-refcorpus42")
    } finally scala.util.Using.resource(Files.walk(base))(
      _.iterator().asScala.toList.reverse.foreach(Files.delete))
  }

  test("wordcount_files' oracle SQL reads the directory the query reads") {
    val sql = SparkEntry.oracleSql("wordcount_files")
    assert(sql.contains(s"read_text('${ReferenceCorpus.dir}/*.txt')"), sql)
    // the regex keeps its escapes: DuckDB, not Scala, turns them into characters
    assert(sql.contains("""'[ \t\n\r]'"""), sql)
  }

  test("top_k is the 20 highest-count tokens, ties broken by token") {
    val wc = Core.wordcount(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expected = wc.sortBy { case (t, c) => (-c, t) }.take(20).toSeq
    val got = Core.topK(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected)
  }

  test("partitioned_wc pids equal scalar djb2 % 10") {
    val rows = Core.partitionedWc(spark, sf0001).collect()
    rows.foreach { r =>
      assert(r.getLong(0) == graft.functions.Djb2.partition(r.getString(1), 10).toLong)
    }
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
