package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GraftSession, MaterializedCaches}
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

/** The JVM half of the benchmark: sets the session up several times, runs
  * the workload's passes for the requested time, checks every output, and
  * writes all metrics to one JSON file (see README.md for their meaning).
  *
  * Usage: graft.perfbench.Main --workload wc|queries --input DIR --work DIR
  *   --seconds N --trace 0|1 --out FILE [--order FILE --expected FILE]
  *   [--record FILE] [--trace-file FILE]
  */
object Main {
  final case class Sample(name: String, module: String, op: String, latencyS: Double,
      ok: Boolean, threw: Boolean, leakedRdds: Int)
  final case class Phase(passS: Seq[Double], samples: Seq[Sample])

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def deleteTree(f: File): Unit = if (f.exists()) {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def readLines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val record = args.get("record").map(_ => mutable.LinkedHashMap[String, Long]())

    val workload: Workload = args("workload") match {
      // --input label=dir,label=dir: one corpus each
      case "wc" => new WcWorkload(args("input").split(",").toSeq.map { kv =>
        val Array(label, dir) = kv.split("=", 2)
        new Corpus(label, dir, args("work"))
      })
      case "queries" => new QueryWorkload(args("input"), readLines(args("order")),
        readLines(args("expected")).filterNot(_.startsWith("#"))
          .map { l => val f = l.split("\t"); f(0) -> f(2).toLong }.toMap,
        record)
    }

    var spark: SparkSession = null
    val listener = new OpListener

    /** Session start plus the workload's warm steps, from `fromUs`. */
    def setup(tr: Tracer, fromUs: Long, withListener: Boolean): (Double, Double, Map[String, Double]) = {
      val id = s"setup.${tr.freshId()}"
      if (spark != null) {
        MaterializedCaches.invalidateAll()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val (s, sessionS) = tr.timed(id, "GraftSession.getOrCreate", "session") {
        GraftSession.getOrCreate(s"local[$cpus]")
      }
      spark = s
      spark.sparkContext.setLogLevel("WARN")
      if (withListener) spark.sparkContext.addSparkListener(listener)
      val warm = workload.warmSteps(spark).map { case (name, step) =>
        spark.sparkContext.setJobGroup(id, name, interruptOnCancel = false)
        name -> tr.timed(id, s"warm.$name", "caches")(step())._2
      }.toMap
      ((tr.nowUs - fromUs) / 1e6, sessionS, warm)
    }

    def protectedRdds(): Set[Int] = MaterializedCaches.allDfs
      .flatMap(df => try Bridge.cachedRddIds(df) catch { case _: Exception => Nil }).toSet

    /** Unpersists query-local persists (graft.Bench's janitor); returns how
      * many there were.
      */
    def sweep(): Int = {
      val keep = protectedRdds()
      val leaked = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !keep(id) }
      leaked.values.foreach(_.unpersist(blocking = false))
      leaked.size
    }

    def storageMb(ids: Int => Boolean): Double =
      spark.sparkContext.getRDDStorageInfo.filter(r => ids(r.id))
        .map(r => r.memSize + r.diskSize).sum / 1048576.0

    /** Passes over the workload's operations until `budgetS` has elapsed
      * (at least one pass).
      */
    def phase(tag: String, tr: Tracer, budgetS: Double): Phase = {
      val t0 = System.nanoTime()
      val passes = mutable.ArrayBuffer[Double]()
      val samples = mutable.ArrayBuffer[Sample]()
      do {
        val first = samples.size
        workload.ops.foreach { o =>
          val opId = s"$tag.${passes.size}.${o.name}"
          spark.sparkContext.setJobGroup(opId, o.name, interruptOnCancel = false)
          val s0 = System.nanoTime()
          val check =
            try Some(tr.timed(opId, o.name, "bench")(o.run(spark, tr, opId))._1)
            catch {
              case t: Throwable =>
                System.err.println((s"[perfbench] FAILED ${o.name}: ${t.getClass.getName}: " +
                  String.valueOf(t.getMessage).linesIterator.take(1).mkString).take(400))
                None
            }
          val lat = (System.nanoTime() - s0) / 1e9
          val threw = check.isEmpty
          val ok = check.exists(c => try c() catch { case _: Exception => false })
          if (!ok && !threw) System.err.println(s"[perfbench] WRONG OUTPUT ${o.name}")
          samples += Sample(o.name, o.module, opId, lat, ok, threw, sweep())
        }
        // a pass's time is that of its operations; their output checks
        // and the sweeps between them count only against the budget
        passes += samples.view.drop(first).map(_.latencyS).sum
      } while ((System.nanoTime() - t0) / 1e9 < budgetS)
      Phase(passes.toSeq, samples.toSeq)
    }

    /** Geometric mean over the operations of each one's median latency,
      * counting only operations whose every sample succeeded (a failing
      * operation's time is that of its exception). One median per
      * operation, not one over the mixed samples: the latter jumps between
      * operations of different sizes from run to run.
      */
    def opGeomean(ph: Phase): Double = {
      val meds = ph.samples.groupBy(_.name).values.filter(_.forall(_.ok))
        .map(ss => median(ss.map(_.latencyS)))
      if (meds.isEmpty) Double.NaN else math.exp(meds.map(math.log).sum / meds.size)
    }

    def endToEnd(setupS: Double, ph: Phase): Map[String, Double] = Map(
      "setup_s" -> setupS,
      "suite_s" -> median(ph.passS),
      "op_geomean_s" -> opGeomean(ph),
      "ok_frac" -> ph.samples.count(_.ok).toDouble / ph.samples.size)

    // ---- set-up, several times; the first one counts from process start
    val quiet = new Tracer(false)
    val setups = (0 until 3).map { i =>
      setup(quiet, if (i == 0) jvmStartUs else quiet.nowUs, withListener = false)
    }
    val setupS = median(setups.map(_._1))
    val metrics = mutable.LinkedHashMap[String, Double]()
    metrics("session.start_s") = median(setups.map(_._2))
    setups.head._3.keys.foreach(k => metrics(s"warm.${k}_s") = median(setups.map(_._3(k))))

    // ---- the per-job floor, calibrated in every run: a one-stage,
    // one-task RDD count is exactly one job (spark.range(1).count() is two
    // under AQE, which submits its shuffle stage as a job of its own)
    val sc = spark.sparkContext
    (1 to 2).foreach(_ => sc.parallelize(Seq(1), 1).count())
    val floorS = median((1 to 9).map { _ =>
      val t = System.nanoTime(); sc.parallelize(Seq(1), 1).count(); (System.nanoTime() - t) / 1e9
    })
    metrics("job_floor_s") = floorS

    // the traced run always warms up first, so that its traced and
    // untraced passes are equally warm
    if (workload.warmSeconds > 0 || traced)
      metrics("warm.pass_s") = phase("warm", quiet, workload.warmSeconds).passS.head
    val allSamples = mutable.ArrayBuffer[Sample]()

    /** Latency metrics per workload from untraced passes. */
    def latencies(plain: Phase): Unit = workload match {
      case w: WcWorkload => w.corpora.foreach { c =>
        def thr(op: String, tokens: Long) = tokens /
          median(plain.samples.filter(_.name == s"${c.label}.$op").map(_.latencyS))
        metrics(s"wc.${c.label}.ref_tokens_per_s") = thr("ref", c.tokens)
        metrics(s"wc.${c.label}.agg_tokens_per_s") = thr("agg", c.tokens)
        metrics(s"wc.${c.label}.df_tokens_per_s") = thr("df", c.dfTokens)
      }
      case _ => ()
    }

    if (!traced) {
      val plain = phase("run", quiet, seconds)
      allSamples ++= plain.samples
      metrics ++= endToEnd(setupS, plain)
      latencies(plain)
    } else {
      val tr = new Tracer(true)
      // traced passes, then untraced ones, in the same warmed-up session:
      // both equally warm, so their difference is the tracing overhead
      spark.sparkContext.addSparkListener(listener)
      val ph = phase("trace", tr, seconds)
      allSamples ++= ph.samples
      ListenerDrain(spark.sparkContext)
      val ops = ph.samples.map(_.op)
      ops.foreach(op => OpCounters.spans(listener, op, tr))
      val passes = ph.passS.size.toDouble
      val counters = ph.samples.map(s => s -> OpCounters.of(listener, s.op))
      val opSpans = tr.spans.filter(s => ops.contains(s.op)).toSeq
      SelfTime.byLayer(opSpans).foreach { case (layer, s) =>
        metrics(s"self.${layer.replace("operators.", "").replace(".", "_")}_s") = s / passes
      }
      metrics("trace.op_wall_s") = ph.samples.map(_.latencyS).sum / passes
      val jobs = counters.map(_._2.jobs).sum
      metrics("jobs_per_pass") = jobs / passes
      metrics("tasks_per_pass") = counters.map(_._2.tasks).sum / passes
      metrics("floor_share") = jobs * floorS / ph.samples.map(_.latencyS).sum
      metrics("exec.cpu_s") = counters.map(_._2.cpuS).sum / passes
      metrics("exec.run_s") = counters.map(_._2.runS).sum / passes
      metrics("exec.gc_s") = counters.map(_._2.gcS).sum / passes
      metrics("cache.leaked_rdds") = ph.samples.map(_.leakedRdds).sum / passes
      metrics("cache.storage_mb") = storageMb(protectedRdds())
      spark.sparkContext.removeSparkListener(listener)
      val plain = phase("run", quiet, seconds)
      allSamples ++= plain.samples
      latencies(plain)
      spark.sparkContext.addSparkListener(listener)
      val (te2e, ue2e) = (endToEnd(setupS, ph), endToEnd(setupS, plain))
      ue2e.foreach { case (k, v) => metrics(s"overhead.$k") = te2e(k) - v }
      metrics ++= workload.probes(spark, tr)

      def spanSum(op: String => Boolean, name: String): Double =
        tr.spans.filter(s => op(s.op) && s.name == name).map(_.durUs / 1e6).sum / passes
      workload match {
        case w: WcWorkload => w.corpora.foreach { c =>
          def surface(key: String, cs: Seq[OpCounters], lats: Seq[Double]): Unit = {
            val k = s"mrjob.${c.label}.$key"
            metrics(s"${k}_s") = median(lats)
            metrics(s"$k.shuffle_records") = median(cs.map(_.mapShuffleRecords.toDouble))
            metrics(s"$k.shuffle_bytes") = median(cs.map(_.mapShuffleBytes.toDouble))
            metrics(s"$k.spill_bytes") = median(cs.map(_.spillBytes.toDouble))
            metrics(s"$k.peak_exec_mb") = median(cs.map(_.peakExecMb))
            metrics(s"$k.combine_ratio") = median(cs.map(_.mapShuffleRecords.toDouble)) / c.tokens
          }
          def of(op: String) = counters.filter(_._1.name == s"${c.label}.$op")
          surface("run", of("ref").map(_._2), of("ref").map(_._1.latencyS))
          surface("runAgg", of("agg").map(_._2), of("agg").map(_._1.latencyS))
          // one runPartitioned call per corpus, traced like a pass operation
          val op = s"probe.${c.label}.runPartitioned"
          spark.sparkContext.setJobGroup(op, "runPartitioned", interruptOnCancel = false)
          val (check, pS) = tr.timed(op, "runPartitioned", "bench")(c.partitioned(spark, tr, op))
          ListenerDrain(spark.sparkContext)
          surface("runPartitioned", Seq(OpCounters.of(listener, op)), Seq(pS))
          allSamples += Sample(s"${c.label}.runPartitioned", "operators.MRJob", op, pS,
            check(), threw = false, 0)
          metrics(s"textsink.${c.label}.write_s") = median(of("ref").map(_._2.resultStageS))
          metrics(s"textsink.${c.label}.keys") = c.tally.size.toDouble
          metrics(s"textsink.${c.label}.files") = c.sinkFiles.toDouble
          metrics(s"textsink.${c.label}.bytes") = c.sinkBytes.toDouble
        }
        case _ =>
          metrics("query.build_s") = spanSum(_ => true, "build")
          metrics("query.plan_s") = spanSum(_ => true, "plan")
          metrics("query.exec_s") = spanSum(_ => true, "exec")
          for (m <- Seq("Core", "Relational", "Graph")) {
            val mine = ph.samples.filter(_.module == m).map(_.op).toSet
            metrics(s"$m.build_s") = spanSum(mine, "build")
            metrics(s"$m.plan_s") = spanSum(mine, "plan")
            metrics(s"$m.exec_s") = spanSum(mine, "exec")
            metrics(s"$m.jobs_per_query") =
              counters.filter(_._1.module == m).map(_._2.jobs).sum.toDouble / mine.size
          }
      }
      sweep()
      metrics("storage.retained_mb") = storageMb(_ => true)
      // one traced set-up last, for its spans and its tracing overhead
      metrics("overhead.setup_s") = setup(tr, tr.nowUs, withListener = true)._1 - setupS
      args.get("trace-file").foreach { f =>
        val w = new PrintWriter(f, "UTF-8")
        try tr.spans.sortBy(s => (s.op, s.startUs)).foreach { s =>
          w.println(Json.obj(Seq("id" -> s.id, "op" -> s.op, "name" -> s.name,
            "layer" -> s.layer, "parent" -> s.parent, "start_us" -> s.startUs,
            "end_us" -> s.endUs)))
        } finally w.close()
      }
    }

    record.foreach { r =>
      val w = new PrintWriter(args("record"), "UTF-8")
      try r.toSeq.sortBy(_._1).foreach { case (n, rows) => w.println(s"$n\t$rows") }
      finally w.close()
    }
    val out = Json.obj(Seq(
      "attempted" -> allSamples.size,
      "failed" -> allSamples.count(!_.ok),
      "wrong" -> allSamples.count(s => !s.ok && !s.threw),
      "failed_ops" -> allSamples.filter(!_.ok).map(_.name).distinct.sorted,
      "setups_s" -> setups.map(_._1),
      // the untraced operations, for the latency percentiles (stats.py)
      "samples" -> allSamples.filter(_.op.startsWith("run."))
        .map(s => Seq(s.name, s.module, s.latencyS, s.ok)),
      "metrics" -> metrics.toSeq))
    val w = new PrintWriter(args("out"), "UTF-8")
    try w.println(out) finally w.close()
    spark.stop()
  }
}

/** Just enough JSON for the result and trace files. */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case kv: scala.collection.Seq[_] if kv.forall(_.isInstanceOf[(_, _)]) && kv.nonEmpty =>
      obj(kv.asInstanceOf[scala.collection.Seq[(String, Any)]].toSeq)
    case xs: scala.collection.Seq[_] => xs.map(value).mkString("[", ",", "]")
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
