package graft.sources

import java.nio.file.{Files, Paths}

/** A seeded, in-repo stand-in for the reference corpus (FIXTURES.md §1,
  * which names the original's provenance), so the engine reads no files
  * outside the checkout: 20 single-line files
  * (`sample1.txt` … `sample20.txt`, single spaces, no trailing newline)
  * over the 21-word vocabulary, each word exactly 5000 times, in a seeded
  * shuffle cut into files of uneven size. Every invariant of §1 — the
  * per-word counts, the word set and the djb2 partition layout — is the
  * reference corpus's, so a word count over it gives the same result.
  *
  * Read by the `wordcount_files` query and its DuckDB oracle
  * ([[graft.queries.Core]]), by [[graft.examples.WordCountExample]]'s
  * default input, and by the golden word-count tests.
  */
object ReferenceCorpus {

  val Vocab: Seq[String] = ("This a and each exactly expect five-thousand for input is library " +
    "mapreduce occurs see should test the times to word you").split(" ").toSeq

  /** Directory holding the generated files; written once per JVM. It is
    * not deleted at exit: the DuckDB oracle check reads it after the
    * `Verify` JVM that named it has stopped.
    */
  lazy val dir: String = {
    val rnd = new scala.util.Random(20)
    val tokens = rnd.shuffle(Vocab.flatMap(w => Seq.fill(5000)(w)))
    // exponential weights over a 100-token floor: sizes spread roughly
    // like the reference's 698 B – 85 KB files
    val weights = Seq.fill(20)(-math.log(1.0 - rnd.nextDouble()))
    val extra = tokens.size - 20 * 100
    val sizes = weights.map(w => (w / weights.sum * extra).toInt + 100)
    val cuts = sizes.init.scanLeft(0)(_ + _) :+ tokens.size
    val out = Files.createTempDirectory("graft-refcorpus")
    cuts.sliding(2).zipWithIndex.foreach { case (Seq(from, until), i) =>
      Files.writeString(Paths.get(out.toString, s"sample${i + 1}.txt"),
        tokens.slice(from, until).mkString(" "))
    }
    out.toString
  }
}
