package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge.
  *
  * Spark 4 made the `Column`/`Expression` conversion `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`, columnNodeSupport.scala)
  * as part of the Connect refactor. Extension libraries that define native
  * Catalyst expressions expose it via an `org.apache.spark.sql` subpackage —
  * the same approach used by published Spark extension projects.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a logical plan as a DataFrame (classic `Dataset.ofRows`). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** True iff `key` was EXPLICITLY set on this session (as opposed to
    * carrying its registered default — `RuntimeConfig.get` cannot tell
    * the two apart; `SQLConf.contains` checks the explicit settings map,
    * which is what "never override a user's choice" needs).
    */
  def isConfExplicitlySet(spark: org.apache.spark.sql.SparkSession, key: String): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.contains(key)

  /** The catalog's own location for a (simple) table name — string-built
    * warehouse paths miss the catalog's identifier normalization
    * (lowercasing, db qualification), breaking orphan-location cleanup.
    */
  def defaultTablePath(spark: org.apache.spark.sql.SparkSession, table: String): java.net.URI =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table))

  /** Relation names (tables, views, CTE references) a SQL text parses to,
    * in plan-walk order. Parse-only — nothing is resolved or executed.
    * Used to assert that textual table-name rewrites touched exactly the
    * relation references and nothing else (literals, aliases, comments).
    *
    * The walk descends where a plain `plan.collect` is blind: subquery
    * EXPRESSIONS (EXISTS / IN / scalar / LATERAL) and CTE definition
    * bodies (`UnresolvedWith` keeps them as innerChildren, outside the
    * child traversal) — otherwise a guard built on this would verify
    * nothing for exactly the queries whose relations live only inside
    * those.
    */
  def parsedRelations(spark: org.apache.spark.sql.SparkSession, sqlText: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def walk(p: LogicalPlan): Unit = p.foreach { node =>
      node match {
        case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
          out += r.multipartIdentifier.mkString(".")
        case w: UnresolvedWith => w.cteRelations.foreach { case (_, rel, _) => walk(rel) }
        case _ => ()
      }
      node.expressions.foreach(_.foreach {
        case sq: org.apache.spark.sql.catalyst.expressions.SubqueryExpression => walk(sq.plan)
        case _ => ()
      })
    }
    walk(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.sqlParser.parsePlan(sqlText))
    out.toSeq
  }

  /** Eager localCheckpoint that DECLARES the checkpointed RDD's hash
    * partitioning on the resulting plan (r18). `Dataset.localCheckpoint`
    * under AQE wraps the physical plan in an unfinalized
    * `AdaptiveSparkPlan`, so the produced `LogicalRDD` reports
    * `UnknownPartitioning` — and every downstream aggregate keyed on
    * the layout columns re-inserts the exchange the caller just paid
    * for. This helper re-wraps the checkpointed RDD with the
    * partitioning the caller established.
    *
    * CONTRACT: the input's top node MUST be `repartition(numPartitions,
    * cols…)` on exactly `colNames` (a `REPARTITION_BY_NUM` shuffle,
    * which AQE may not coalesce). Declaring a layout the blocks do not
    * have would silently mis-group downstream aggregates, so any other
    * input is rejected before a job runs. BridgePartitioningSpec pins
    * result-equality, the no-exchange plan shape and the rejections.
    */
  def localCheckpointHashPartitioned(df: org.apache.spark.sql.DataFrame,
      numPartitions: Int, colNames: String*): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
          if r.optNumPartitions.contains(numPartitions) &&
            r.partitionExpressions.map {
              case a: Attribute => a.name
              case e => e.sql
            } == colNames =>
      case other => throw new IllegalArgumentException(
        s"expected repartition($numPartitions, ${colNames.mkString(", ")}) on top, got:\n$other")
    }
    df.localCheckpoint().queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        val attrs = colNames.map(n => l.output.find(_.name == n).get)
        val part = org.apache.spark.sql.catalyst.plans.physical
          .HashPartitioning(attrs, numPartitions)
        ofRows(df.sparkSession, new org.apache.spark.sql.execution.LogicalRDD(
          l.output, l.rdd, part, l.outputOrdering, l.isStreaming, l.stream)(
          df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          None, None))
      case other =>
        throw new IllegalStateException(s"localCheckpoint gave $other, not a LogicalRDD")
    }
  }

  /** Release the block-storage backing of a `localCheckpoint()`ed
    * Dataset. `Dataset.unpersist` only clears SQL-cache entries; a local
    * checkpoint lives as persisted RDD blocks inside the plan's
    * `LogicalRDD`, which nothing but GC would otherwise free — iterative
    * algorithms (connected components) must release each round
    * explicitly or leak O(rounds x data) executor storage.
    */
  def unpersistLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Ids of the RDDs that back a cached DataFrame's InMemoryRelations
    * (the storage blocks `persist()` actually holds). Used to tell
    * long-lived materialized artifacts apart from per-query temporary
    * persists; building the id list runs no job (`cachedColumnBuffers`
    * is lazy RDD construction).
    */
  def cachedRddIds(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cacheBuilder.cachedColumnBuffers.id
    }

  /** Id of the RDD holding the blocks of the cache entry for `df`'s
    * plan, if that plan is cached. Unlike [[cachedRddIds]] it looks the
    * entry up now, so it holds even when `df`'s plan was resolved before
    * the persist.
    */
  def cacheEntryRddId(df: org.apache.spark.sql.DataFrame): Option[Int] =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id)

  /** Number of plans in the session's `CacheManager` (one per persisted
    * plan, until `Dataset.unpersist` drops it).
    */
  def numCachedEntries(spark: org.apache.spark.sql.SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
