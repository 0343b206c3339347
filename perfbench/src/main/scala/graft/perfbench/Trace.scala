package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Spans of one benchmark operation
  * share `op`; `parent` is the id of the span that caused this one (0 for an
  * operation's root). Times are epoch microseconds.
  */
final case class Span(id: Long, op: String, name: String, layer: String, parent: Long,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Spans recorded by the benchmark around its calls into the library. They
  * are kept in memory and written out when the run ends. When disabled,
  * [[timed]] still measures the interval (the operations need their
  * latencies) but records nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  private var nextId = 0L
  private val stack = mutable.Stack[Long]()
  val spans = mutable.ArrayBuffer[Span]()

  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  /** Runs `body` as a span named `name` of operation `op`; returns the
    * result and the elapsed seconds.
    */
  def timed[T](op: String, name: String, layer: String)(body: => T): (T, Double) = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0L)
    stack.push(id)
    val t0 = nowUs
    try {
      val r = body
      (r, (nowUs - t0) / 1e6)
    } finally {
      stack.pop()
      if (enabled) spans += Span(id, op, name, layer, parent, t0, nowUs)
    }
  }

  def add(s: Span): Unit = spans += s
  def freshId(): Long = { nextId += 1; nextId }
}

/** Per-stage counters summed over the stage's tasks. */
final class StageRec(val stageId: Int, val group: String) {
  var startMs = 0L
  var endMs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
  var isResult = false
}

final class JobRec(val jobId: Int, val group: String, val startMs: Long, val stageIds: Seq[Int]) {
  var endMs = 0L
}

/** The benchmark's own listener. It attributes every job, stage and task to
  * the operation that ran it through the job group the benchmark sets
  * (`spark.jobGroup.id`), never through before/after snapshots: the listener
  * bus is asynchronous, so a snapshot can miss or double-count late events.
  */
final class OpListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs.put(e.jobId, new JobRec(e.jobId, group, e.time, e.stageIds))
    val last = if (e.stageIds.isEmpty) -1 else e.stageIds.max
    e.stageInfos.foreach { si =>
      val rec = stages.computeIfAbsent(si.stageId, id => new StageRec(id, group))
      if (si.stageId == last) rec.isResult = true
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach { r =>
      r.startMs = e.stageInfo.submissionTime.getOrElse(0L)
      r.endMs = e.stageInfo.completionTime.getOrElse(0L)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stages.get(e.stageId)).foreach { r =>
      val m = e.taskMetrics
      r.synchronized {
        r.tasks += 1
        if (m != null) {
          r.runMs += m.executorRunTime
          r.cpuNs += m.executorCpuTime
          r.gcMs += m.jvmGCTime
          r.inputBytes += m.inputMetrics.bytesRead
          r.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          r.peakExecBytes = math.max(r.peakExecBytes, m.peakExecutionMemory)
        }
      }
    }

  def jobsOf(op: String): Seq[JobRec] =
    jobs.values.asScala.filter(_.group == op).toSeq.sortBy(_.jobId)

  def stagesOf(op: String): Seq[StageRec] =
    stages.values.asScala.filter(s => s.group == op && s.tasks > 0).toSeq.sortBy(_.stageId)
}

/** What one operation's jobs and stages did, summed. */
final case class OpCounters(jobs: Int, tasks: Long, cpuS: Double, runS: Double, gcS: Double,
    mapShuffleRecords: Long, mapShuffleBytes: Long, spillBytes: Long, peakExecMb: Double,
    resultStageS: Double)

object OpCounters {
  def of(l: OpListener, op: String): OpCounters = {
    val st = l.stagesOf(op)
    // map stages read the input; their shuffle output is what a combine shrinks
    val map = st.filter(s => s.inputBytes > 0 && s.shuffleWriteRecords > 0)
    val result = st.filter(_.isResult)
    OpCounters(l.jobsOf(op).size, st.map(_.tasks).sum, st.map(_.cpuNs).sum / 1e9,
      st.map(_.runMs).sum / 1e3, st.map(_.gcMs).sum / 1e3,
      map.map(_.shuffleWriteRecords).sum, map.map(_.shuffleWriteBytes).sum,
      st.map(_.spillBytes).sum, if (st.isEmpty) 0.0 else st.map(_.peakExecBytes).max / 1048576.0,
      result.map(s => (s.endMs - s.startMs) / 1e3).sum)
  }

  /** Turns an operation's jobs and stages into spans under the benchmark's
    * own span that was open when each job started.
    */
  def spans(l: OpListener, op: String, tr: Tracer): Unit = {
    val own = tr.spans.filter(_.op == op)
    def enclosing(tUs: Long): Long = own.filter(s => s.startUs <= tUs && tUs <= s.endUs)
      .sortBy(s => (-s.startUs, s.durUs)).headOption.map(_.id)
      .getOrElse(own.find(_.parent == 0).map(_.id).getOrElse(0L))
    val stageRecs = l.stagesOf(op).map(s => s.stageId -> s).toMap
    l.jobsOf(op).foreach { j =>
      val jid = tr.freshId()
      tr.add(Span(jid, op, s"job ${j.jobId}", "scheduler", enclosing(j.startMs * 1000L),
        j.startMs * 1000L, math.max(j.startMs, j.endMs) * 1000L))
      j.stageIds.flatMap(stageRecs.get).filter(_.endMs > 0).foreach { s =>
        val layer = if (s.shuffleWriteRecords > 0) "executor.map" else "executor.result"
        tr.add(Span(tr.freshId(), op, s"stage ${s.stageId}", layer, jid,
          s.startMs * 1000L, s.endMs * 1000L))
      }
    }
  }
}

object SelfTime {
  /** Splits each root span's wall time over layers: every instant goes to
    * the deepest span open at that instant (the most recently started one
    * on a tie), so the layers' self times add up to the root's duration.
    */
  def byLayer(spans: Seq[Span]): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = if (s.parent == 0 || !byId.contains(s.parent)) 0
      else 1 + depth(byId(s.parent))
    def root(s: Span): Span = if (s.parent == 0 || !byId.contains(s.parent)) s
      else root(byId(s.parent))
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    spans.groupBy(root).foreach { case (r, members) =>
      val clipped = members.map(s => s.copy(startUs = math.max(s.startUs, r.startUs),
        endUs = math.min(s.endUs, r.endUs))).filter(s => s.endUs > s.startUs)
      val ds = clipped.map(s => s.id -> depth(s)).toMap
      val cuts = clipped.flatMap(s => Seq(s.startUs, s.endUs)).distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
        val open = clipped.filter(s => s.startUs <= a && s.endUs >= b)
        if (open.nonEmpty) {
          val top = open.maxBy(s => (ds(s.id), s.startUs))
          out(top.layer) += (b - a) / 1e6
        }
      }
    }
    out.toMap
  }
}
