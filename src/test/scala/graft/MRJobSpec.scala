package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.functions.Djb2
import graft.operators.{GroupedKeyIterator, MRAggregators, MRJob, TextSink}
import graft.sources.ReferenceCorpus
import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** The MR capability surface (SURVEY.md §2 tier A) against the reference
  * corpus's invariants ([[ReferenceCorpus]]) and the reference's
  * semantics — intended (race-free) results per SURVEY §3.4.
  */
object MRJobSpec {
  /** The reference mapper (`distwc.c:8-22`): strsep on " \t\n\r", emitting
    * every token including empties. Lives on a top-level object so Spark
    * closures don't capture the (non-serializable) suite instance.
    */
  def wcMapper(line: String): IterableOnce[(String, String)] =
    line.split("[ \t\n\r]", -1).iterator.map(t => (t, "1"))

  /** Space-split tokens, each with its length as the value. */
  def lengthMapper(line: String): IterableOnce[(String, Long)] =
    line.split(" ").iterator.map(t => (t, t.length.toLong))

  /** Count and sum of the values in one `Array[Long]` buffer that
    * `reduce` and `merge` mutate and return.
    */
  class MutatingCountSum extends Aggregator[Long, Array[Long], (Long, Long)] {
    override def zero: Array[Long] = Array(0L, 0L)
    override def reduce(b: Array[Long], v: Long): Array[Long] = { b(0) += 1; b(1) += v; b }
    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      b1(0) += b2(0); b1(1) += b2(1); b1
    }
    override def finish(b: Array[Long]): (Long, Long) = (b(0), b(1))
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
  }
}

class MRJobSpec extends SparkSuite {
  import MRJobSpec.{lengthMapper, wcMapper}

  test("wordcount over the reference corpus: every word exactly 5000") {
    import spark.implicits._
    val out = MRJob.run[String, String, (String, Long)](
      MRJob.lines(spark, Seq(ReferenceCorpus.dir)),
      wcMapper,
      (k, vs) => (k, vs.size.toLong))
      .collect().toMap
    assert(out.size == 21)
    assert(out.values.forall(_ == 5000L), out.filter(_._2 != 5000L).toString)
    assert(out.keySet.contains("five-thousand") && out.keySet.contains("This"))
  }

  test("empty tokens are counted like the reference (strsep semantics)") {
    import spark.implicits._
    // "a  b\nc\n" -> getline gives "a  b\n" and "c\n"; strsep yields
    // a,"",b,"" and c,"" -> empty-key count 3 (verified on the reference,
    // SURVEY.md §1.3). Spark's read.text strips \n, so feed lines directly.
    val input = spark.createDataset(Seq("a  b\n", "c\n"))
    val out = MRJob.run[String, String, (String, Long)](
      input, wcMapper, (k, vs) => (k, vs.size.toLong)).collect().toMap
    assert(out == Map("a" -> 1L, "b" -> 1L, "c" -> 1L, "" -> 3L))
  }

  test("runPartitioned reproduces the reference partition layout and sorted keys") {
    import spark.implicits._
    val out = MRJob.runPartitioned[(Int, String, Long)](
      spark,
      MRJob.lines(spark, Seq(ReferenceCorpus.dir)),
      wcMapper,
      (pid, k, vs) => (pid, k, vs.size.toLong),
      numPartitions = 10)
      .collect()
    // counts intact
    assert(out.length == 21 && out.forall(_._3 == 5000L))
    // exact golden layout (FIXTURES.md §1)
    val byPid = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byPid == Map(
      0 -> Set("a", "and"),
      2 -> Set("each", "for", "should"),
      3 -> Set("input", "mapreduce", "test", "times"),
      4 -> Set("occurs", "the"),
      5 -> Set("This", "exactly", "word"),
      6 -> Set("five-thousand", "library", "see", "you"),
      8 -> Set("expect", "to"),
      9 -> Set("is")))
  }

  test("MRJob matches a naive fold for random token streams (property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("x", "y", "zz", "This", "", "a-b")
    val linesSeq = Seq.fill(50)(Seq.fill(rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val expected = linesSeq.flatMap(_.split("[ \t\n\r]", -1)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val got = MRJob.run[String, String, (String, Long)](
      spark.createDataset(linesSeq), wcMapper, (k, vs) => (k, vs.size.toLong))
      .collect().toMap
    assert(got == expected)
    val viaAgg = MRJob.runAgg[String, String, Long, Long](
      spark.createDataset(linesSeq), wcMapper, new MRAggregators.CountValues[String])
      .collect().toMap
    assert(viaAgg == expected)
  }

  /** One map task over 200 k tokens drawn from 1.5 x FlushBound keys:
    * more distinct keys, and more values, than one flush holds. Returns
    * the input and each token's (count, summed length).
    */
  private def pastFlushBound = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val keys = MRJob.FlushBound * 3 / 2
    val lines = Seq.fill(2000)(Seq.fill(100)(s"k${rnd.nextInt(keys)}").mkString(" "))
    val tokens = lines.flatMap(_.split(" "))
    assert(tokens.distinct.size > MRJob.FlushBound && tokens.size > MRJob.FlushBound)
    val oneTask = spark.createDataset(spark.sparkContext.parallelize(lines, 1))
    (oneTask, tokens.groupBy(identity).view
      .mapValues(ts => (ts.size.toLong, ts.map(_.length.toLong).sum)).toMap)
  }

  test("in-mapper combine: one task past the flush bound equals a driver fold") {
    import spark.implicits._
    val (oneTask, expected) = pastFlushBound
    val viaRun = MRJob.run[String, Long, (String, Long, Long)](oneTask, lengthMapper,
      (k, vs) => { val all = vs.toSeq; (k, all.size.toLong, all.sum) })
      .collect().map { case (k, n, sum) => k -> (n, sum) }.toMap
    assert(viaRun == expected)
    val viaAgg = MRJob.runAgg[String, Long, Long, Long](oneTask, lengthMapper,
      new MRAggregators.CountValues[Long]).collect().toMap
    assert(viaAgg == expected.view.mapValues(_._1).toMap)
  }

  test("in-mapper combine: an Aggregator that mutates its buffer stays exact") {
    import spark.implicits._
    val (oneTask, expected) = pastFlushBound
    val got = MRJob.runAgg[String, Long, Array[Long], (Long, Long)](oneTask, lengthMapper,
      new MRJobSpec.MutatingCountSum).collect().toMap
    assert(got == expected)
  }

  test("in-mapper combine: Array[Byte] keys (identity equality on the JVM) count exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vocab = Vector("x", "y", "zz", "This", "", "a-b", "\u00e9t\u00e9")
    val lines = Seq.fill(1000)(Seq.fill(100)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val expected = lines.flatMap(_.split(" ", -1)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val oneTask = spark.createDataset(spark.sparkContext.parallelize(lines, 1))
    val mapper: String => IterableOnce[(Array[Byte], Long)] =
      line => line.split(" ", -1).iterator.map(t => (t.getBytes(UTF_8), 1L))
    val viaRun = MRJob.run[Array[Byte], Long, (String, Long)](oneTask, mapper,
      (k, vs) => (new String(k, UTF_8), vs.size.toLong)).collect().toMap
    assert(viaRun == expected)
    val viaAgg = MRJob.runAgg[Array[Byte], Long, Long, Long](oneTask, mapper,
      new MRAggregators.CountValues[Long]).collect()
      .map { case (k, n) => new String(k, UTF_8) -> n }
    assert(viaAgg.length == expected.size && viaAgg.toMap == expected)
  }

  test("in-mapper combine: tuple keys group by value, like typed groupByKey") {
    import spark.implicits._
    val lines = Seq("a b a", "b c", "a")
    val mapper: String => IterableOnce[((String, Int), Long)] =
      line => line.split(" ").iterator.map(t => ((t, t.length), 1L))
    val expected = Map(("a", 1) -> 3L, ("b", 1) -> 2L, ("c", 1) -> 1L)
    val viaRun = MRJob.run[(String, Int), Long, ((String, Int), Long)](
      spark.createDataset(lines), mapper, (k, vs) => (k, vs.sum)).collect().toMap
    assert(viaRun == expected)
    val viaAgg = MRJob.runAgg[(String, Int), Long, Long, Long](
      spark.createDataset(lines), mapper, new MRAggregators.CountValues[Long]).collect().toMap
    assert(viaAgg == expected)
  }

  test("in-mapper combine: the shuffle carries one row per key, task and flush, not per token") {
    import spark.implicits._
    val input = MRJob.lines(spark, Seq(ReferenceCorpus.dir))
    val tokens = 21 * 5000
    val maxRows = input.rdd.getNumPartitions.toLong * (tokens / MRJob.FlushBound + 1) * 21
    val (viaRun, runRows) = JobCounter.shuffleRecords(spark) {
      MRJob.run[String, String, (String, Long)](input, wcMapper, (k, vs) => (k, vs.size.toLong))
        .collect()
    }
    assert(viaRun.length == 21 && viaRun.forall(_._2 == 5000L))
    assert(runRows <= maxRows, s"run wrote $runRows shuffle records, bound $maxRows")
    val (viaAgg, aggRows) = JobCounter.shuffleRecords(spark) {
      MRJob.runAgg[String, String, Long, Long](input, wcMapper,
        new MRAggregators.CountValues[String]).collect()
    }
    assert(viaAgg.length == 21 && viaAgg.forall(_._2 == 5000L))
    assert(aggRows <= maxRows, s"runAgg wrote $aggRows shuffle records, bound $maxRows")
  }

  test("run: interleaved values (a, b, a, a) reach the reducer as the multiset {a x3, b}") {
    import spark.implicits._
    val oneTask = spark.createDataset(spark.sparkContext.parallelize(Seq("a b a a"), 1))
    val mapper: String => IterableOnce[(String, String)] =
      line => line.split(" ").iterator.map(v => ("k", v))
    val got = MRJob.run[String, String, (String, Seq[String])](oneTask, mapper,
      (k, vs) => (k, vs.toSeq.sorted)).collect()
    assert(got.toSeq == Seq("k" -> Seq("a", "a", "a", "b")))
  }

  test("run: 0.0 and -0.0 reach the reducer as emitted, bare and inside a tuple") {
    import spark.implicits._
    val oneTask = spark.createDataset(spark.sparkContext.parallelize(Seq("0 -0 -0 0"), 1))
    val signs = Seq("0.0", "-0.0", "-0.0", "0.0")
    val bare = MRJob.run[String, Double, Seq[String]](oneTask,
      line => line.split(" ").iterator.map(z => ("k", if (z == "0") 0.0 else -0.0)),
      (_, vs) => vs.map(_.toString).toSeq.sorted).collect()
    assert(bare.toSeq == Seq(signs.sorted))
    val tupled = MRJob.run[String, (Double, Int), Seq[String]](oneTask,
      line => line.split(" ").iterator.map(z => ("k", (if (z == "0") 0.0 else -0.0, 1))),
      (_, vs) => vs.map(_.toString).toSeq.sorted).collect()
    assert(tupled.toSeq == Seq(signs.map(d => s"($d,1)").sorted))
  }

  test("run ships run-length values: shuffle bytes on the reference corpus stay small") {
    import spark.implicits._
    val input = MRJob.getlines(spark, ReferenceCorpus.dir)
    // one (key, [("1", count)]) row per key and task, each well under 64 B;
    // a row holding every "1" a task emits for a key (~250 here) is not
    val bound = input.rdd.getNumPartitions * 21 * 64L
    val (out, bytes) = JobCounter.shuffleBytes(spark) {
      MRJob.run[String, String, (String, Long)](input, wcMapper, (k, vs) => (k, vs.size.toLong))
        .collect()
    }
    assert(out.length == 21 && out.forall(_._2 == 5000L))
    assert(bytes <= bound, s"run wrote $bytes shuffle bytes, bound $bound")
  }

  test("GroupedKeyIterator: one call per unique key; unconsumed values skipped") {
    val data = Iterator(("a", "1"), ("a", "2"), ("b", "1"), ("c", "1"), ("c", "2"), ("c", "3"))
    val g = new GroupedKeyIterator(data)
    val (k1, v1) = g.next()
    assert(k1 == "a" && v1.next() == "1") // leave "2" unconsumed
    val (k2, v2) = g.next()
    assert(k2 == "b" && v2.toList == List("1"))
    val (k3, v3) = g.next()
    assert(k3 == "c" && v3.toList == List("1", "2", "3"))
    assert(!g.hasNext)
  }

  test("TextSink writes the reference's result-<p>.txt layout") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-sink").toString
    val wc = MRJob.run[String, String, (String, Long)](
      MRJob.lines(spark, Seq(ReferenceCorpus.dir)),
      wcMapper, (k, vs) => (k, vs.size.toLong))
      .toDF("key", "value")
    val files = TextSink.write(spark, wc, dir, 10)
    // 8 non-empty partitions (FIXTURES.md §1: pids 1 and 7 hold no keys)
    assert(files.map(f => f.split("/").last).toSet ==
      Set(0, 2, 3, 4, 5, 6, 8, 9).map(p => s"result-$p.txt"))
    val p5 = Files.readString(java.nio.file.Paths.get(dir, "result-5.txt"))
    // ascending byte order: 'This' (0x54) before 'exactly' before 'word'
    assert(p5 == "This: 5000\nexactly: 5000\nword: 5000\n")
  }

  test("TextSink under AQE: djb2 % P routing, unsigned UTF-8 key order, exact bytes, P = 10, 3, 1") {
    import spark.implicits._
    val emoji = new String(Character.toChars(0x1F600)) // UTF-8 F0 9F 98 80
    val pua = "\uE000" // UTF-8 EE 80 80: before the emoji in bytes, after it in UTF-16
    val keys = Seq("This", "a", "and", "", "\u00e9t\u00e9", emoji, pua, s"${emoji}x", s"${pua}x", "Z",
      "zz") ++ (1 to 200).map(i => s"k$i")
    val rows = keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }
    def strcmp(a: String, b: String): Boolean =
      java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0
    withConf("spark.sql.adaptive.enabled" -> "true", "spark.sql.shuffle.partitions" -> "4") {
      Seq(10, 3, 1).foreach { p =>
        val dir = Files.createTempDirectory("graft-sink-aqe").toString
        val files = TextSink.write(spark, rows.toDF("key", "value").repartition(5), dir, p)
        val expected = rows.groupBy { case (k, _) => Djb2.partition(k, p) }.map { case (pid, rs) =>
          s"result-$pid.txt" ->
            rs.sortWith((a, b) => strcmp(a._1, b._1)).map { case (k, v) => s"$k: $v\n" }.mkString
        }
        assert(files.map(f => Paths.get(f).getFileName.toString).toSet == expected.keySet, s"P=$p")
        expected.foreach { case (name, text) =>
          assert(Files.readAllBytes(Paths.get(dir, name)).sameElements(text.getBytes(UTF_8)),
            s"P=$p $name")
        }
        if (p == 1) {
          val one = Files.readString(Paths.get(dir, "result-0.txt"))
          assert(one.indexOf(s"$pua: ") < one.indexOf(s"$emoji: "))
        }
      }
    }
  }

  test("TextSink: a null key fails with an IllegalArgumentException naming the column") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sink-null").toString
    val df = Seq[(String, String)](("a", "1"), (null, "2"), ("b", "3")).toDF("key", "value")
    val e = intercept[IllegalArgumentException](TextSink.write(spark, df, dir, 3))
    assert(e.getMessage.contains("`key`"), e.getMessage)
  }

  test("TextSink: a null value fails with an IllegalArgumentException naming the column") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sink-null").toString
    val df = Seq[(String, String)](("a", "1"), ("b", null)).toDF("key", "value")
    val e = intercept[IllegalArgumentException](TextSink.write(spark, df, dir, 3))
    assert(e.getMessage.contains("`value`") && e.getMessage.contains("'b'"), e.getMessage)
  }

  test("TextSink: an exception of the upstream plan keeps its job context") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sink-upstream").toString
    val df = Seq("a", "b").toDS().map { k =>
      if (k == "b") throw new IllegalArgumentException("upstream") else (k, "1")
    }.toDF("key", "value")
    val e = intercept[org.apache.spark.SparkException](TextSink.write(spark, df, dir, 3))
    assert(e.getCause.getMessage == "upstream", e.getMessage)
  }

  /** Spark's `wholetext` scan, the oracle the whole-file reader must match. */
  private def wholetextOracle(path: String): Seq[String] =
    spark.read.option("wholetext", "true").textFile(path).collect().toSeq

  private def sameMultiset(got: Seq[String], want: Seq[String]): Unit =
    assert(got.sorted == want.sorted, s"got ${got.size} records, want ${want.size}")

  /** A directory holding the cases a whole-file reader can get wrong:
    * an empty file, no final newline, multi-byte and malformed UTF-8, a
    * gzip file, a file written through Hadoop's local file system (so a
    * `.x.crc` checksum sits beside it) and a `_SUCCESS` marker.
    */
  private def edgeCaseDir: String = {
    val dir = Files.createTempDirectory("graft-wholefiles")
    Files.write(dir.resolve("empty.txt"), Array.emptyByteArray)
    Files.writeString(dir.resolve("nofinal.txt"), "a b\nc")
    Files.write(dir.resolve("multibyte.txt"), "\u00e9t\u00e9 \ud83d\ude00\n\u65e5\u672c\n".getBytes(UTF_8))
    // a lone continuation byte, an invalid lead, and a truncated 3-byte sequence at the end
    Files.write(dir.resolve("malformed.txt"),
      Array(0x61, 0x80, 0x0a, 0xff, 0xfe, 0x62, 0x0a, 0xe2, 0x82).map(_.toByte))
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(dir.resolve("packed.gz")))
    try gz.write("gz line\nsecond".getBytes(UTF_8)) finally gz.close()
    val local = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val x = local.create(new org.apache.hadoop.fs.Path(dir.resolve("x").toUri))
    try x.write("checksummed\n".getBytes(UTF_8)) finally x.close()
    Files.writeString(dir.resolve("_SUCCESS"), "")
    assert(Files.exists(dir.resolve(".x.crc")))
    dir.toString
  }

  test("wholeFiles and getlines read like Spark's wholetext scan") {
    Seq(ReferenceCorpus.dir, edgeCaseDir).foreach { dir =>
      val oracle = wholetextOracle(dir)
      sameMultiset(MRJob.wholeFiles(spark, dir).collect().toSeq, oracle)
      sameMultiset(MRJob.getlines(spark, dir).collect().toSeq, oracle.flatMap(MRJob.getlineRecords))
    }
    val edge = MRJob.wholeFiles(spark, edgeCaseDir).collect().toSet
    assert(edge.contains("a\ufffd\n\ufffd\ufffdb\n\ufffd") && edge.contains("gz line\nsecond"), edge)
  }

  test("wholeFiles and getlines read a single file") {
    val file = Paths.get(edgeCaseDir, "multibyte.txt").toString
    assert(MRJob.wholeFiles(spark, file).collect().toSeq == wholetextOracle(file))
    assert(MRJob.getlines(spark, file).collect().toSeq == Seq("\u00e9t\u00e9 \ud83d\ude00\n", "\u65e5\u672c\n"))
  }

  test("wholeFiles packs files by bytes: min(files, slots) tasks, the heaviest within total/n + largest") {
    val slots = spark.sparkContext.defaultParallelism
    val rnd = new scala.util.Random(3)
    // skewed sizes, as in the benchmark's Zipf corpus: a few large files, many small ones
    val sizes = Seq(40000, 25000, 9000) ++ Seq.fill(20)(100 + rnd.nextInt(3000))
    val dir = Files.createTempDirectory("graft-lpt")
    sizes.zipWithIndex.foreach { case (n, i) => Files.writeString(dir.resolve(f"f$i%02d.txt"), "w" * n) }
    Seq(dir.toString -> sizes, dir.resolve("f00.txt").toString -> sizes.take(1)).foreach {
      case (path, want) =>
        val rdd = MRJob.wholeFiles(spark, path).rdd
        val n = math.min(want.size, slots)
        assert(rdd.getNumPartitions == n, path)
        val loads = rdd.mapPartitions(it => Iterator(it.map(_.length.toLong).sum)).collect()
        assert(loads.sum == want.sum)
        assert(loads.max <= want.sum.toDouble / n + want.max, loads.toSeq)
    }
    assert(MRJob.lptBins(Seq("a" -> 3L, "b" -> 2L, "c" -> 2L, "d" -> 2L), 2) ==
      Seq(Seq("a", "d"), Seq("b", "c")))
  }

  test("A11 sjfFiles: one task per file, partition index = ascending-size rank") {
    val dir = Files.createTempDirectory("graft-sjf").toString
    // sizes deliberately NOT in name order: c < a < b
    Files.writeString(java.nio.file.Paths.get(dir, "a.txt"), "x " * 50)
    Files.writeString(java.nio.file.Paths.get(dir, "b.txt"), "y " * 200)
    Files.writeString(java.nio.file.Paths.get(dir, "c.txt"), "z")
    val ds = graft.operators.MRJob.sjfFiles(spark, dir)
    assert(ds.rdd.getNumPartitions == 3, "exactly one map task per input file")
    // harvest (partitionIndex, path) pairs: the SJF contract is that the
    // i-th partition holds the i-th smallest file
    val order = ds.rdd.mapPartitionsWithIndex { (i, it) =>
      it.map(r => (i, r._1.split("/").last))
    }.collect().sortBy(_._1).map(_._2).toSeq
    assert(order == Seq("c.txt", "a.txt", "b.txt"), order.toString)
    // content fidelity: byte-for-byte what the files hold
    val byName = ds.collect().map { case (p, s) => p.split("/").last -> s }.toMap
    assert(byName("c.txt") == "z" && byName("a.txt") == "x " * 50)
    // and the reference corpus and the edge cases read identically through
    // SJF and Spark's wholetext scan (multiset of contents, order aside)
    Seq(ReferenceCorpus.dir, edgeCaseDir).foreach { d =>
      sameMultiset(graft.operators.MRJob.sjfFiles(spark, d).collect().map(_._2).toSeq, wholetextOracle(d))
    }
  }
}
