package graft

import java.nio.file.Files

import graft.operators.{GroupedKeyIterator, MRJob, TextSink}

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
}

class MRJobSpec extends SparkSuite {
  import MRJobSpec.wcMapper

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
    // and the reference corpus reads identically through SJF and the
    // native whole-file scan (multiset of contents, order aside)
    val ref = ReferenceCorpus.dir
    val sjf = graft.operators.MRJob.sjfFiles(spark, ref).collect().map(_._2).sorted
    val native = graft.operators.MRJob.wholeFiles(spark, ref).collect().sorted
    assert(sjf.toSeq == native.toSeq)
  }
}
