package graft.examples

import graft.operators.{MRJob, TextSink}
import graft.sources.ReferenceCorpus

/** End-to-end example: the reference's distwc.c program written against
  * this library's MR surface — map (tokenize, empties kept) -> djb2-
  * partitioned sorted shuffle -> grouped count -> result-<p>.txt files.
  *
  * Usage: runMain graft.examples.WordCountExample [inputDir] [outDir]
  * (inputDir defaults to the seeded [[ReferenceCorpus]]).
  */
object WordCountExample {
  def main(args: Array[String]): Unit = {
    val inputDir = if (args.length > 0) args(0) else ReferenceCorpus.dir
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-wc-out"
    val spark = graft.GraftSession.getOrCreate(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // getlines, not lines: byte-exact empty-token parity with the
    // reference's getline+strsep (trailing newlines count, SURVEY.md §1.3)
    val counts = MRJob.run[String, String, (String, Long)](
      MRJob.getlines(spark, inputDir),
      line => line.split("[ \t\n\r]", -1).iterator.map(t => (t, "1")),
      (k, vs) => (k, vs.size.toLong))
      .toDF("key", "value")

    val files = TextSink.write(spark, counts, outDir, numPartitions = 10)
    println(s"[example] wrote ${files.size} partition files to $outDir")
    files.foreach(f => println(s"[example] $f"))
    spark.stop()
  }
}
