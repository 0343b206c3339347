package graft.operators

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._
import scala.reflect.classTag

import graft.functions.Djb2Partitioner
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.{SerializableWritable, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoders, ExpressionEncoder}
import org.apache.spark.sql.expressions.Aggregator

/** The reference's user-programmable MapReduce surface
  * (`/root/reference/mapreduce.h:44-46`: `MR_Run(files, Mapper, Reducer,
  * num_workers, num_partitions)`) re-expressed as idiomatic Spark.
  *
  * Semantic mapping (SURVEY.md §2 tier A):
  *   - `Mapper`  (`void (*)(char *file_name)` + `MR_Emit`) — a UDTF:
  *     one input line -> many (key, value) emits. Here: `String =>
  *     IterableOnce[(K, V)]` run inside `Dataset.mapPartitions`
  *     (distributed, no driver-side loops).
  *   - `MR_Partitioner` (djb2 % P, `mapreduce.c:154-160`) — Spark's
  *     HashPartitioning by default; [[runPartitioned]] uses the byte-exact
  *     [[Djb2Partitioner]] when layout parity matters.
  *   - sorted-partition grouping + `MR_GetNext` (`mapreduce.c:169-213`) —
  *     `groupByKey(...).mapGroups`, whose `Iterator[V]` is exactly the
  *     value cursor. Value order within a key is unspecified in the
  *     reference too (SURVEY.md §1.3), so multiset semantics carry over.
  *   - the map->reduce barrier (`mapreduce.c:76`) — the shuffle stage
  *     boundary, which unlike the reference's `ThreadPool_check`
  *     (`threadpool.c:178-186`) is actually race-free; we implement the
  *     *intended* semantics per SURVEY.md §3.4.
  *
  * [[run]] and [[runAgg]] share one in-mapper combine: each map task
  * folds its emits per key in a JVM hash map and ships one row per key
  * per flush, instead of one row per emit (the reference ships every
  * emit); `run`'s row holds the key's values run-length encoded. A task
  * flushes when it holds [[FlushBound]] buffered values (`run`, counted
  * before encoding) or distinct keys (`runAgg`), so its memory does not
  * grow with the input. The results stay exact because the reduce side
  * merges any number of partial rows per key: a key split across flushes
  * or tasks, or whose JVM equality is finer than Spark's grouping
  * (`Array[Byte]` compares by identity), only combines less. Everything
  * after the combine — shuffle, grouping, reduce — is Catalyst/Tungsten's.
  * The shim exists so a reference user can bring arbitrary mapper/reducer
  * pairs — relational queries should use the DataFrame API directly
  * (graft.queries).
  */
object MRJob {

  /** Read input files one line per record, like the reference's
    * per-file `getline` loop (`distwc.c:13-20`).
    *
    * CAVEAT (byte parity): `read.text` strips the trailing `\n` that
    * `getline` keeps, so a mapper splitting on `[ \t\n\r]` sees one fewer
    * empty token per newline than the reference (SURVEY.md §1.3). Use
    * [[getlines]] when exact empty-token parity matters.
    */
  def lines(spark: SparkSession, paths: Seq[String]): Dataset[String] = {
    spark.read.textFile(paths: _*)
  }

  /** Whole-file records, one per non-empty visible file of `path` (a
    * directory, or a single file). The reference schedules one map job
    * per whole file (`mapreduce.c:56-75`); here the files are packed into
    * `min(files, defaultParallelism)` tasks by size, largest first onto
    * the least-loaded task, and read whole as UTF-8 like Spark's
    * `wholetext` scan: malformed bytes become U+FFFD and a codec-named
    * file (`.gz`) is decompressed.
    */
  def wholeFiles(spark: SparkSession, path: String): Dataset[String] =
    spark.createDataset(readFiles(spark, sizeBalanced(spark, path)).map(_._2))(Encoders.STRING)

  /** `getline`-exact records (`distwc.c:13-14`): one row per line WITH its
    * trailing `\n` kept, and no `\n` invented for a final unterminated
    * line. A strsep-style mapper over these rows reproduces the
    * reference's token stream byte-for-byte, including the empty token
    * after each newline (SURVEY.md §1.3). Read as [[wholeFiles]] reads.
    */
  def getlines(spark: SparkSession, path: String): Dataset[String] =
    spark.createDataset(readFiles(spark, sizeBalanced(spark, path))
      .flatMap(f => getlineRecords(f._2)))(Encoders.STRING)

  /** One whole-file record cut after each `\n`, the `\n` kept; a final
    * unterminated line is its own record and an empty file yields none.
    * One `indexOf` scan, no regex.
    */
  private[graft] def getlineRecords(s: String): Iterator[String] = new Iterator[String] {
    private var from = 0
    override def hasNext: Boolean = from < s.length
    override def next(): String = {
      if (!hasNext) Iterator.empty.next()
      val nl = s.indexOf('\n', from)
      val until = if (nl < 0) s.length else nl + 1
      val line = s.substring(from, until)
      from = until
      line
    }
  }

  /** A11 — shortest-job-first task ordering (`mapreduce.c:24-29,55-71`:
    * stat each input file, qsort ascending by size, enqueue one map job
    * per file). Re-expressed at the same layer the reference does it —
    * the FILE-LIST scan: list + stat the input, sort ascending by
    * (size, path), and schedule EXACTLY one task per file with the
    * partition INDEX equal to the SJF rank (Spark's scheduler launches
    * ready partitions in index order, so with fewer slots than files the
    * smallest files run first, like the reference's thread pool dequeue).
    * Returns (path, content) so any whole-file mapper composes on top.
    *
    * Scale honesty: one task per file is the reference's own granularity
    * and only right when files are many and small (the regime SJF
    * targets). With parallel slots rather than a shared queue, the
    * makespan is set by the heaviest task, which is what [[wholeFiles]]
    * and [[getlines]] balance by bytes instead. Spark's own `wholetext`
    * scan does not: it sorts files largest first and fills each task up
    * to a byte budget that counts each file as its length plus a 4 MB
    * open cost, so files well under 4 MB are packed by count and the
    * first task takes the largest quarter of them. On the `wc`
    * benchmark's corpora at 4 cores that task held 49-65 % of the bytes
    * (per-task shares 0.59/0.24/0.14/0.02 on the paper corpus and
    * 0.65/0.23/0.09/0.03 on the Zipf corpus, seed 201). This operator
    * exists for MR-shim parity, not as the recommended read path.
    */
  def sjfFiles(spark: SparkSession, dir: String): Dataset[(String, String)] = {
    import spark.implicits._
    val ascending = listFiles(spark, dir).sortBy { case (path, len) => (len, path) }
    spark.createDataset(readFiles(spark, ascending.map { case (path, _) => Seq(path) }))
  }

  /** The files of `path` that Spark's file scan reads, as (path, length):
    * a directory's non-empty files, skipping names that start with `_`
    * or `.` as Spark's file index does (`_SUCCESS`, `.part-0.crc`), or
    * `path` itself when it is a non-empty file.
    */
  private def listFiles(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status = fs.getFileStatus(p)
    val files = if (!status.isDirectory) Seq(status) else fs.listStatus(p).toSeq.filter { f =>
      val name = f.getPath.getName
      f.isFile && !name.startsWith("_") && !name.startsWith(".")
    }
    files.filter(_.getLen > 0).map(f => (f.getPath.toString, f.getLen))
  }

  /** `path`'s files packed into `min(files, defaultParallelism)` bins,
    * largest first onto the least-loaded bin (LPT), so the heaviest bin
    * holds at most total / bins + the largest file.
    */
  private def sizeBalanced(spark: SparkSession, path: String): Seq[Seq[String]] =
    lptBins(listFiles(spark, path), spark.sparkContext.defaultParallelism)

  /** LPT over at most `slots` bins; a min-heap of (bytes, bin) picks the
    * least-loaded bin.
    */
  private[graft] def lptBins(files: Seq[(String, Long)], slots: Int): Seq[Seq[String]] = {
    val n = math.min(files.size, slots)
    val bins = Array.fill(n)(List.empty[String])
    val heap = scala.collection.mutable.PriorityQueue.tabulate(n)(b => (0L, b))(
      Ordering[(Long, Int)].reverse)
    files.sortBy { case (path, len) => (-len, path) }.foreach { case (path, len) =>
      val (bytes, b) = heap.dequeue()
      bins(b) = path :: bins(b)
      heap.enqueue((bytes + len, b))
    }
    bins.toSeq.map(_.reverse)
  }

  /** Reads each bin as one task, bin i in partition i: its files whole, as
    * (path, content) decoded like Spark's `wholetext` scan decodes them.
    * Tasks open files with the session's Hadoop configuration, broadcast
    * once per call as Spark's file scans ship it: a configuration inside
    * each task's closure costs a `Configuration` to deserialize per task
    * (about 20 ms each, more than reading a 1 MB bin).
    */
  private def readFiles(spark: SparkSession, bins: Seq[Seq[String]]): RDD[(String, String)] = {
    val sc = spark.sparkContext
    val conf = sc.broadcast(new SerializableWritable(sc.hadoopConfiguration))
    sc.parallelize(bins, math.max(1, bins.size)).mapPartitions { it =>
      val hadoopConf = conf.value.value
      val codecs = new CompressionCodecFactory(hadoopConf)
      it.flatten.map { path =>
        val p = new Path(path)
        val raw = p.getFileSystem(hadoopConf).open(p)
        val in = Option(codecs.getCodec(p)).fold[java.io.InputStream](raw)(_.createInputStream(raw))
        try (path, new String(in.readAllBytes(), StandardCharsets.UTF_8)) finally in.close()
      }
    }
  }

  /** Buffered values (`run`) or distinct keys (`runAgg`) at which a map
    * task flushes its combined rows to the shuffle.
    */
  private[graft] val FlushBound: Int = 1 << 16

  /** MR_Run with the intended (race-free) semantics: map -> shuffle on key
    * -> grouped reduce. Returns the reducer's output dataset.
    *
    * Each map task packs a key's values into one row per flush (see the
    * object doc), run-length encoded: consecutive values that are the
    * same value (see [[ValueRuns]]) travel as one `(value, count)` pair,
    * so a count job's `"1"` emits ship as one pair per key and flush. The
    * reduce side repeats each value `count` times, so the reducer still
    * sees every emitted value, in unspecified order as in the reference.
    */
  def run[K: Encoder, V: Encoder, OUT: Encoder](
      input: Dataset[String],
      mapper: String => IterableOnce[(K, V)],
      reducer: (K, Iterator[V]) => OUT): Dataset[OUT] = {
    val runs: Encoder[Seq[(V, Int)]] = ExpressionEncoder(AgnosticEncoders.IterableEncoder(
      classTag[Seq[(V, Int)]],
      AgnosticEncoders.agnosticEncoderFor(Encoders.tuple(implicitly[Encoder[V]], Encoders.scalaInt)),
      containsNull = false, lenientSerialization = false))
    input
      .mapPartitions(lines => new InMapperCombiner[K, V, ValueRuns[V]](
        lines, mapper, () => new ValueRuns[V], _ add _, perValue = true)
        .map { case (k, vs) => (k, vs.result()) })(
        Encoders.tuple(implicitly[Encoder[K]], runs))
      .groupByKey(_._1)
      .mapGroups((k, it) => reducer(k, it.flatMap(_._2.iterator.flatMap {
        case (v, n) => Iterator.fill(n)(v)
      })))
  }

  /** MR_Run with a typed Aggregator reducer: same API shape as [[run]] but
    * the reduction is an `Aggregator[V, B, OUT]`. Each map task folds its
    * emits into one `B` per key with `zero`/`reduce` (see the object doc);
    * the reduce side merges a key's partial buffers with `merge` and ends
    * with `finish`. Prefer this over [[run]] whenever the reduction is
    * associative (the reference's count reducer is; see
    * [[MRAggregators.CountValues]]): the shuffle then carries one buffer,
    * not a list of values, per key and flush.
    */
  def runAgg[K: Encoder, V: Encoder, B, OUT](
      input: Dataset[String],
      mapper: String => IterableOnce[(K, V)],
      reducer: Aggregator[V, B, OUT]): Dataset[(K, OUT)] =
    input
      .mapPartitions(lines => new InMapperCombiner[K, V, B](
        lines, mapper, () => reducer.zero, reducer.reduce, perValue = false))(
        Encoders.tuple(implicitly[Encoder[K]], reducer.bufferEncoder))
      .groupByKey(_._1)
      .mapValues(_._2)(reducer.bufferEncoder)
      .agg(new MergePartials(reducer).toColumn)

  /** Streaming MR_Run: [[runAgg]] over an unbounded text stream
    * (`readStream.text`), producing a continuously-updated grouped result
    * — run with `outputMode("complete")` or "update". The reference has
    * no streaming story; this is the Spark-native extension of its map ->
    * shuffle -> reduce contract to streams.
    */
  def runStreaming[K: Encoder, V: Encoder, B, OUT](
      spark: SparkSession,
      inputDir: String,
      mapper: String => IterableOnce[(K, V)],
      reducer: Aggregator[V, B, OUT]): Dataset[(K, OUT)] =
    runAgg(spark.readStream.text(inputDir).as(Encoders.STRING), mapper, reducer)

  /** The reference's shuffle (`mapreduce.c:113,123-141`) as one Spark
    * shuffle: djb2(key) % P routing, so physical partition == reference
    * partition id, and keys in strcmp order within each partition —
    * unsigned UTF-8 bytes, not the JVM's UTF-16 code-unit order (the two
    * diverge for supplementary code points). It works on JVM strings, so
    * a mapper's lone surrogates route and sort as the `?` the UTF-8
    * encoder writes for them; a string column would have rewritten them
    * before routing, which is why [[runPartitioned]] does not go through
    * Catalyst the way [[TextSink]] does.
    */
  private[operators] def djb2Sorted(kv: RDD[(String, String)], numPartitions: Int): RDD[(String, String)] = {
    implicit val strcmpOrder: Ordering[String] = graft.functions.Utf8ByteOrdering
    new org.apache.spark.rdd.OrderedRDDFunctions[String, String, (String, String)](kv)
      .repartitionAndSortWithinPartitions(new Djb2Partitioner(numPartitions))
  }

  /** MR_Run with byte-exact partition layout parity: djb2(key) % P routing
    * (`mapreduce.c:113`) and ascending byte-order keys within each
    * partition (`mapreduce.c:123-141`). Output rows carry their partition
    * id, mirroring the reference's `result-<p>.txt` fan-out.
    *
    * Uses the RDD layer deliberately: `repartitionAndSortWithinPartitions`
    * is the one-shuffle primitive that reproduces "hash-partition + keep
    * sorted + group adjacent equal keys" exactly — grouping is then a
    * streaming pass over each sorted partition (no per-key state beyond
    * one group; spill-safe at scale).
    */
  def runPartitioned[OUT: Encoder: scala.reflect.ClassTag](
      spark: SparkSession,
      input: Dataset[String],
      mapper: String => IterableOnce[(String, String)],
      reducer: (Int, String, Iterator[String]) => OUT,
      numPartitions: Int): Dataset[OUT] = {
    val out = djb2Sorted(input.rdd.flatMap(mapper), numPartitions).mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      new GroupedKeyIterator(it).map { case (k, vs) => reducer(pid, k, vs) }
    }
    spark.createDataset(out)
  }
}

/** One map task's side of the in-mapper combine that [[MRJob.run]] and
  * [[MRJob.runAgg]] share (see [[MRJob]]): pulls the task's lines through
  * `mapper` and folds each emitted `(k, v)` into `k`'s buffer
  * (`fold(zero(), v)` for a new key) in a JVM hash map. When the map
  * holds [[MRJob.FlushBound]] values (`perValue`) or distinct keys, or the
  * lines run out, it hands out one `(k, buffer)` row per key and starts
  * an empty map; a line's emits may span two flushes. Buffers are never
  * touched after they are handed out, so a `fold` that mutates and
  * returns its buffer is safe.
  */
private final class InMapperCombiner[K, V, B](
    lines: Iterator[String],
    mapper: String => IterableOnce[(K, V)],
    zero: () => B,
    fold: (B, V) => B,
    perValue: Boolean) extends Iterator[(K, B)] {
  private var emits: Iterator[(K, V)] = Iterator.empty
  private var out: Iterator[(K, B)] = Iterator.empty

  override def hasNext: Boolean = out.hasNext || { fill(); out.hasNext }

  override def next(): (K, B) = if (hasNext) out.next() else Iterator.empty.next()

  private def pending: Boolean = {
    while (!emits.hasNext && lines.hasNext) emits = mapper(lines.next()).iterator
    emits.hasNext
  }

  private def fill(): Unit = {
    val buf = new java.util.HashMap[K, B]()
    var n = 0
    while (n < MRJob.FlushBound && pending) {
      val (k, v) = emits.next()
      val old = buf.get(k)
      if (old == null && !buf.containsKey(k)) {
        buf.put(k, fold(zero(), v)); n += 1
      } else {
        buf.put(k, fold(old, v)); if (perValue) n += 1
      }
    }
    out = buf.entrySet.iterator.asScala.map(e => (e.getKey, e.getValue))
  }
}

/** [[MRJob.run]]'s buffer of one key's values in one flush, run-length
  * encoded: `add` extends the last run when the value is the same value
  * as the run's, and starts a new run otherwise. Finished runs are
  * prepended to a list, so `result` hands them out newest first without
  * a copy (the reducer's value order is unspecified).
  */
private final class ValueRuns[V] {
  private var runs: List[(V, Int)] = Nil
  private var last: V = _
  private var count = 0

  def add(v: V): ValueRuns[V] = {
    if (count > 0 && ValueRuns.same(last, v)) count += 1
    else { if (count > 0) runs = (last, count) :: runs; last = v; count = 1 }
    this
  }

  def result(): Seq[(V, Int)] = { if (count > 0) runs = (last, count) :: runs; count = 0; runs }
}

private object ValueRuns {

  /** Whether `b` may travel as a repeat of `a`: the reducer must get back
    * exactly what was emitted. Strings and boxed integral values compare
    * with `equals`, floating-point values by their bits (`==` takes 0.0
    * for -0.0), and any other value only when it is the same object —
    * `==` on a tuple or case class compares its doubles with `==` too.
    */
  def same(a: Any, b: Any): Boolean = a match {
    case x: java.lang.Double => b match {
      case y: java.lang.Double =>
        java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
      case _ => false
    }
    case x: java.lang.Float => b match {
      case y: java.lang.Float =>
        java.lang.Float.floatToRawIntBits(x) == java.lang.Float.floatToRawIntBits(y)
      case _ => false
    }
    case _: String | _: java.lang.Integer | _: java.lang.Long | _: java.lang.Short |
        _: java.lang.Byte | _: java.lang.Character | _: java.lang.Boolean => a.equals(b)
    case _ => a.asInstanceOf[AnyRef] eq b.asInstanceOf[AnyRef]
  }
}

/** The reduce side of [[MRJob.runAgg]]: `agg`'s partial buffers in, merged
  * with `merge` and ended with `finish`.
  */
private final class MergePartials[B, OUT](agg: Aggregator[_, B, OUT]) extends Aggregator[B, B, OUT] {
  override def zero: B = agg.zero
  override def reduce(b: B, partial: B): B = agg.merge(b, partial)
  override def merge(b1: B, b2: B): B = agg.merge(b1, b2)
  override def finish(b: B): OUT = agg.finish(b)
  override def bufferEncoder: Encoder[B] = agg.bufferEncoder
  override def outputEncoder: Encoder[OUT] = agg.outputEncoder
}

/** Streaming adjacent-equal-key grouper over a sorted (K,V) iterator —
  * the reference's reduce loop (`mapreduce.c:169-188`): one reducer call
  * per unique key, values pulled lazily like `MR_GetNext`
  * (`mapreduce.c:199-213`).
  *
  * Contract identical to the reference: the inner values iterator must be
  * consumed before advancing to the next key (the reference's cursor is
  * likewise shared single-pass state).
  */
final class GroupedKeyIterator(it: Iterator[(String, String)])
    extends Iterator[(String, Iterator[String])] {
  private val buf = it.buffered
  private var curKey: String = _
  private var inGroup = false

  // Like the reference (mapreduce.c:181-184), advancing to the next key
  // skips any values the reducer left unconsumed.
  private def drain(): Unit = if (inGroup) {
    while (buf.hasNext && buf.head._1 == curKey) buf.next()
    inGroup = false
  }

  override def hasNext: Boolean = { drain(); buf.hasNext }

  override def next(): (String, Iterator[String]) = {
    drain()
    curKey = buf.head._1
    inGroup = true
    val key = curKey
    val values = new Iterator[String] {
      override def hasNext: Boolean = buf.hasNext && buf.head._1 == key
      override def next(): String = buf.next()._2
    }
    (key, values)
  }
}

/** Typed UDAF surface matching the reference's Reducer hook
  * (`mapreduce.h:6`, `distwc.c:24-35`): the user's fold over the value
  * cursor, expressed as an `org.apache.spark.sql.expressions.Aggregator`.
  * Under [[MRJob.runAgg]] each map task runs `zero`/`reduce` per key in
  * its in-mapper combine and ships one buffer per key and flush; the
  * reduce side folds those with `merge` and ends with `finish`. A
  * `reduce` or `merge` may mutate and return its first buffer. As plain
  * `groupBy().agg` aggregates, Catalyst runs the same functions with its
  * own partial (map-side) aggregation.
  */
object MRAggregators {
  import org.apache.spark.sql.{Encoder, Encoders}
  import org.apache.spark.sql.expressions.Aggregator

  /** The reference's one reducer — count per key (`distwc.c:24-35`) — as a
    * partial-aggregation-capable typed aggregator.
    */
  class CountValues[V] extends Aggregator[V, Long, Long] {
    override def zero: Long = 0L
    override def reduce(b: Long, a: V): Long = b + 1
    override def merge(b1: Long, b2: Long): Long = b1 + b2
    override def finish(r: Long): Long = r
    override def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Exact integer weighted mean — input (weight, value-cents), buffer
    * (Σw, Σw·x), finish Σw·x / Σw (floor; operands are non-negative
    * here, where floor == truncate, so Scala `/` and DuckDB `//`
    * agree). The partial-merge shape is what makes a typed Aggregator
    * the right UDAF surface at scale: map-side combine runs `reduce`,
    * the shuffle carries two longs per group, and `merge` folds
    * partition buffers — unlike a mapGroups fold, which ships every
    * row. Declared through the oracle gate as `weighted_avg_agg`.
    */
  class WeightedMeanCents extends Aggregator[(Long, Long), (Long, Long), Long] {
    override def zero: (Long, Long) = (0L, 0L)
    override def reduce(b: (Long, Long), a: (Long, Long)): (Long, Long) =
      (b._1 + a._1, b._2 + a._1 * a._2)
    override def merge(b1: (Long, Long), b2: (Long, Long)): (Long, Long) =
      (b1._1 + b2._1, b1._2 + b2._2)
    override def finish(b: (Long, Long)): Long =
      if (b._1 == 0L) 0L else b._2 / b._1
    override def bufferEncoder: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Sum of long values parsed from the reference's string value domain
    * ("1" emits) — shows a reducer consuming the value, not just counting.
    */
  class SumLongStrings extends Aggregator[String, Long, Long] {
    override def zero: Long = 0L
    override def reduce(b: Long, a: String): Long = b + java.lang.Long.parseLong(a)
    override def merge(b1: Long, b2: Long): Long = b1 + b2
    override def finish(r: Long): Long = r
    override def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }
}
