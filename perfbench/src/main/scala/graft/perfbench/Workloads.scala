package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.functions.TextFns
import graft.operators.{MRAggregators, MRJob, TextSink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One benchmark operation: a name, the module it exercises, and a body
  * that runs it through the [[Tracer]] and returns the check of its output
  * (run untimed). A body throws when the operation itself fails.
  */
final case class Op(name: String, module: String,
    run: (SparkSession, Tracer, String) => () => Boolean)

/** A workload: the warm steps its set-up runs, the operations of one pass,
  * and the probes only the traced run makes.
  */
trait Workload {
  def warmSteps(spark: SparkSession): Seq[(String, () => Any)]
  /** Untimed passes precede the measured ones until this much time has
    * passed (none when 0).
    */
  def warmSeconds: Double = 0
  def ops: Seq[Op]
  def probes(spark: SparkSession, tr: Tracer): Map[String, Double] = Map.empty
}

object Wc {
  /** The reference tokenizer (`distwc.c`): strsep on `[ \t\n\r]`, empties kept. */
  val mapper: String => IterableOnce[(String, String)] =
    line => line.split("[ \t\n\r]", -1).iterator.map(t => (t, "1"))

  /** `word -> (count, djb2 % 10)` as the generator tallied it. */
  def readTally(path: String): Map[String, (Long, Int)] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.map { l =>
      val f = l.split("\t", -1)
      f(0) -> (f(1).toLong, f(2).toInt)
    }.toMap
}

/** MR word count three ways over one generated corpus: the reference program
  * (`getlines` -> `MRJob.run` count reducer -> `TextSink.write(P=10)`),
  * `MRJob.runAgg` with its map-side combine, and the DataFrame form of
  * `Core.wordcountFiles`. Every output is compared with the generator tally;
  * the reference program's files are read back through `graft-mrtext`.
  */
final class Corpus(val label: String, corpusDir: String, workDir: String) {
  private val input = s"$corpusDir/input"
  val tally: Map[String, (Long, Int)] = Wc.readTally(s"$corpusDir/tally.tsv")
  /** Tokens the reference tokenizer emits (getline keeps each `\n`). */
  val tokens: Long = tally.values.map(_._1).sum
  /** Whole-file reads see no empty token: files do not end in `\n`. */
  private val dfTally = tally - ""
  val dfTokens: Long = dfTally.values.map(_._1).sum
  private var outSeq = 0
  /** Size and number of the files the last reference run wrote. */
  var sinkBytes = 0L
  var sinkFiles = 0

  private def sameCounts(got: Map[String, Long], want: Map[String, (Long, Int)]): Boolean =
    got.size == want.size && want.forall { case (k, (n, _)) => got.get(k).contains(n) }

  // Each operation runs `in` through one surface and returns its output
  // check, which the caller runs after the clock stops.

  def ref(in: String)(spark: SparkSession, tr: Tracer, op: String): () => Boolean = {
    import spark.implicits._
    outSeq += 1
    val out = s"$workDir/ref-$label-$outSeq"
    Main.deleteTree(new File(out))
    val files = tr.timed(op, "textsink.write", "operators.TextSink") {
      val counts = tr.timed(op, "mrjob.run", "operators.MRJob") {
        MRJob.run[String, String, (String, Long)](
          tr.timed(op, "getlines", "sources")(MRJob.getlines(spark, in))._1,
          Wc.mapper, (k, vs) => (k, vs.size.toLong)).toDF("key", "value")
      }._1
      TextSink.write(spark, counts, out, numPartitions = 10)
    }._1
    () => {
      val back = spark.read.format("graft-mrtext").load(out).collect()
      val layoutOk = back.forall(r => tally.get(r.getString(0)).exists(_._2 == r.getInt(2)))
      sinkBytes = files.map(f => new File(f).length).sum
      sinkFiles = files.size
      Main.deleteTree(new File(out))
      layoutOk && files.nonEmpty &&
        sameCounts(back.map(r => r.getString(0) -> r.getString(1).toLong).toMap, tally)
    }
  }

  def agg(in: String)(spark: SparkSession, tr: Tracer, op: String): () => Boolean = {
    import spark.implicits._
    val got = tr.timed(op, "collect", "action") {
      tr.timed(op, "mrjob.runAgg", "operators.MRJob") {
        MRJob.runAgg[String, String, Long, Long](
          tr.timed(op, "getlines", "sources")(MRJob.getlines(spark, in))._1,
          Wc.mapper, new MRAggregators.CountValues[String])
      }._1.collect()
    }._1
    () => sameCounts(got.toMap, tally)
  }

  def df(in: String)(spark: SparkSession, tr: Tracer, op: String): () => Boolean = {
    val got = tr.timed(op, "collect", "action") {
      val lines = tr.timed(op, "read.text", "sources") {
        spark.read.option("wholetext", "true").text(in)
      }._1
      tr.timed(op, "explodedTokens", "functions") {
        lines.select(TextFns.explodedTokens(col("value")).as("token")).groupBy("token").count()
      }._1.collect()
    }._1
    () => sameCounts(got.map(r => r.getString(0) -> r.getLong(1)).toMap, dfTally)
  }

  def partitioned(spark: SparkSession, tr: Tracer, op: String): () => Boolean = {
    import spark.implicits._
    val got = tr.timed(op, "collect", "action") {
      tr.timed(op, "mrjob.runPartitioned", "operators.MRJob") {
        MRJob.runPartitioned[(Int, String, Long)](spark,
          tr.timed(op, "getlines", "sources")(MRJob.getlines(spark, input))._1,
          Wc.mapper.andThen(_.iterator), (p, k, vs) => (p, k, vs.size.toLong), 10)
      }._1.collect()
    }._1
    () => got.forall { case (p, k, _) => tally.get(k).exists(_._2 == p) } &&
      sameCounts(got.map { case (_, k, n) => k -> n }.toMap, tally)
  }

  private def opsOver(in: String): Seq[Op] = Seq(
    Op(s"$label.ref", "operators.MRJob.run", ref(in)),
    Op(s"$label.agg", "operators.MRJob.runAgg", agg(in)),
    Op(s"$label.df", "functions.TextFns", df(in)))

  val ops: Seq[Op] = opsOver(input)

  /** The JIT warm-up: one unchecked rep of every operation over the
    * corpus's smallest file.
    */
  def warm(spark: SparkSession): Unit = {
    val smallest = new File(input).listFiles().filter(_.isFile).minBy(_.length).getPath
    opsOver(smallest).foreach(o => o.run(spark, new Tracer(false), "warm"))
    new File(workDir).listFiles().filter(_.getName.startsWith(s"ref-$label-"))
      .foreach(Main.deleteTree)
  }

  /** Scan and map costs measured apart, median of three each. */
  def probes(spark: SparkSession, tr: Tracer): Map[String, Double] = {
    import spark.implicits._
    def med(body: => Any): Double =
      Main.median((1 to 3).map(_ => tr.timed("probe", "probe", "probe")(body)._2))
    val scan = med(MRJob.getlines(spark, input).count())
    val mapped = med(MRJob.getlines(spark, input).flatMap(Wc.mapper).count())
    val dfScan = med(spark.read.option("wholetext", "true").text(input).count())
    val dfMapped = med(spark.read.option("wholetext", "true").text(input)
      .select(TextFns.explodedTokens(col("value"))).count())
    Map(s"sources.$label.scan_s" -> scan,
      s"functions.$label.map_s" -> math.max(0.0, mapped - scan),
      s"sources.$label.df_scan_s" -> dfScan,
      s"functions.$label.df_map_s" -> math.max(0.0, dfMapped - dfScan))
  }
}

/** The MR kernel on every corpus: one pass runs the three surfaces over
  * each corpus in turn. Even after the small-file warm-up the first
  * full-size pass runs 30-40 % slower than later ones, and the next two
  * still 10-15 %, so about two passes' worth of untimed passes precede the
  * measured ones.
  */
final class WcWorkload(val corpora: Seq[Corpus]) extends Workload {
  val ops: Seq[Op] = corpora.flatMap(_.ops)
  override def warmSeconds: Double = 6
  def warmSteps(spark: SparkSession): Seq[(String, () => Any)] =
    Seq("jit" -> (() => corpora.foreach(_.warm(spark))))
  override def probes(spark: SparkSession, tr: Tracer): Map[String, Double] =
    corpora.flatMap(_.probes(spark, tr)).toMap
}

/** Queries registered by `graft.queries.Core`, `Relational` and `Graph`
  * over generated tables, in the order the order file gives. Each query's row count,
  * consumed through `queryExecution.toRdd.count()`, must match the count
  * recorded for these tables.
  */
final class QueryWorkload(sfDir: String, order: Seq[String], expected: Map[String, Long],
    record: Option[scala.collection.mutable.Map[String, Long]]) extends Workload {
  import graft.queries.{Core, Graph, Relational}

  private val registry: Seq[(String, String, (SparkSession, String) => DataFrame)] =
    Seq("Core" -> Core.queries, "Relational" -> Relational.queries, "Graph" -> Graph.queries)
      .flatMap { case (m, qs) => qs.toSeq.map { case (n, f) => (n, m, f) } }
  private val byName = registry.map(r => r._1 -> r).toMap
  require(order.forall(byName.contains),
    s"unknown queries in the order file: ${order.filterNot(byName.contains)}")

  val ops: Seq[Op] = order.map { n =>
    val (_, module, fn) = byName(n)
    Op(n, module, (spark, tr, op) => {
      val df = tr.timed(op, "build", "queries")(fn(spark, sfDir))._1
      tr.timed(op, "plan", "plans")(df.queryExecution.executedPlan)
      val rows = tr.timed(op, "exec", "action")(df.queryExecution.toRdd.count())._1
      record.foreach(_.put(s"$n\t$module", rows))
      () => record.nonEmpty || expected.get(n).contains(rows)
    })
  }

  /** The shared artifacts the measured queries read, built untimed like
    * graft.Bench does; the queries then measure their own algorithm.
    */
  def warmSteps(spark: SparkSession): Seq[(String, () => Any)] = Seq(
    "jvm_parquet" -> (() => spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()),
    "edge_table" -> (() => Graph.edgeTable(spark, sfDir).count()),
    "hub_seed" -> (() => Graph.hubSeedAndNodes(spark, sfDir)),
    "pr_artifacts" -> (() => Graph.prArtifacts(spark, sfDir)._2.count()))

  /** graft.Bench's other two graph artifacts: no measured query reads them,
    * so set-up skips them and the traced run times one build of each.
    */
  override def probes(spark: SparkSession, tr: Tracer): Map[String, Double] = Map(
    "warm.supplier_pairs_s" -> tr.timed("probe", "warm.supplier_pairs", "caches") {
      Graph.supplierPairAgg(spark, sfDir).count() }._2,
    "warm.oriented_edges_s" -> tr.timed("probe", "warm.oriented_edges", "caches") {
      Graph.orientedEdges(spark, sfDir).count() }._2)
}
