package graft.sources

import graft.{MaterializedCaches, SparkEntry, SparkSuite}
import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session-keyed parquet schema cache behind [[Tables]]: a path's
  * schema is inferred once per session, later reads launch no
  * schema-inference job, and a read with the cached schema is the same
  * scan, plan and rows as a freshly inferred one.
  */
class SchemaCacheSpec extends SparkSuite {

  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def held: Int = MaterializedCaches.registered.toMap.getOrElse("sources.parquetSchema", 0)

  private def isSchemaJob(stage: String): Boolean = stage.startsWith("parquet at ")

  test("a second Tables read of a path launches no job") {
    tables.foreach { name =>
      Tables(spark, sf0001, name)
      val (_, jobs) = JobCounter(spark)(Tables(spark, sf0001, name))
      assert(jobs == 0, s"$name: the second read launched $jobs jobs")
    }
  }

  test("building every declared query a second time infers no parquet schema") {
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    def build(fn: (SparkSession, String) => DataFrame): Seq[String] =
      JobCounter.jobNames(spark)(MaterializedCaches.scoped(spark)(fn(spark, sf0001)))._2
    MaterializedCaches.invalidateAll() // an earlier suite may have filled the cache
    val first = queries.flatMap { case (_, fn) => build(fn) }
    assert(first.exists(isSchemaJob), "the first build inferred no schema: is the counter blind?")
    val inferred = queries.flatMap { case (name, fn) =>
      build(fn).filter(isSchemaJob).map(j => s"$name: $j")
    }
    assert(inferred.isEmpty, s"schema-inference jobs in the second build: $inferred")
  }

  test("a cached-schema read equals a freshly inferred read: schema, plan and rows") {
    def plan(df: DataFrame): String =
      df.queryExecution.executedPlan.toString.replaceAll("#\\d+", "")
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    // the ten tables, and the artifacts written once per session: the
    // month-partitioned orders (dppJoin), the cell-partitioned PQ index
    // and the recompressed documents
    val paths = tables.map(n => s"$sf0001/$n.parquet") ++ Seq(
      Layout.partitionedOrders(spark, sf0001),
      graft.queries.Pipeline.pqIndexPath(spark, sf0001),
      RawIngest.stageRecompressed(spark, sf0001))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    paths.foreach { p =>
      val (cached, fresh) = (Tables.parquet(spark, p), spark.read.parquet(p))
      assert(cached.schema == fresh.schema, s"$p: schema")
      assert(plan(cached) == plan(fresh), s"$p: executed plan")
      assert(rows(cached) == rows(fresh), s"$p: rows")
    }
  }

  test("invalidateAll empties the schema cache") {
    Tables.region(spark, sf0001)
    assert(held >= 1)
    MaterializedCaches.invalidateAll()
    assert(held == 0)
    val (_, jobs) = JobCounter.jobNames(spark)(Tables.region(spark, sf0001))
    assert(jobs.exists(isSchemaJob), s"no schema inferred after invalidateAll: $jobs")
    assert(held == 1)
  }
}
