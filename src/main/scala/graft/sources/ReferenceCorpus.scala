package graft.sources

import java.nio.file.{Files, LinkOption, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Using

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

  /** Bumped whenever the generated content changes, so a directory
    * written by an older generator is never reused.
    */
  private val Version = 1

  /** Directory holding the generated files: one per generator version
    * under `java.io.tmpdir`, written by the first JVM that needs it and
    * reused by every later one. It is not deleted at exit: the DuckDB
    * oracle check reads it after the `Verify` JVM that named it has
    * stopped. The first use in a JVM deletes the unversioned corpora
    * older code left there ([[sweepStale]]).
    */
  lazy val dir: String = {
    sweepStale(Paths.get(System.getProperty("java.io.tmpdir")))
    write()
  }

  /** A corpus written before corpora were versioned: each JVM wrote its
    * own and none deleted it. A `graft-refcorpus-v<k>` corpus of another
    * generator version is kept: a JVM of another checkout, or the oracle
    * check after it, may be reading it now.
    */
  private val Stale = """graft-refcorpus\d+""".r

  /** Deletes every stale corpus directory directly under `base`; a
    * directory another JVM deletes at the same time is skipped.
    */
  private[graft] def sweepStale(base: Path): Unit =
    Using.resource(Files.list(base))(_.iterator().asScala.toList).foreach { d =>
      if (Stale.matches(d.getFileName.toString) && Files.isDirectory(d, LinkOption.NOFOLLOW_LINKS))
        try Using.resource(Files.walk(d))(_.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists))
        catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
    }

  /** Writes the corpus unless it is in place already; returns its path.
    * The files go to a sibling temp directory that is then renamed into
    * place, so no reader sees a partial corpus; a concurrent writer that
    * loses the rename leaves its copy to [[graft.TempArtifacts]].
    */
  private[graft] def write(): String = {
    val target = Paths.get(System.getProperty("java.io.tmpdir"), s"graft-refcorpus-v$Version")
    if (!Files.isDirectory(target)) {
      val rnd = new scala.util.Random(20)
      val tokens = rnd.shuffle(Vocab.flatMap(w => Seq.fill(5000)(w)))
      // exponential weights over a 100-token floor: sizes spread roughly
      // like the reference's 698 B – 85 KB files
      val weights = Seq.fill(20)(-math.log(1.0 - rnd.nextDouble()))
      val extra = tokens.size - 20 * 100
      val sizes = weights.map(w => (w / weights.sum * extra).toInt + 100)
      val cuts = sizes.init.scanLeft(0)(_ + _) :+ tokens.size
      val out = graft.TempArtifacts.create(s"graft-refcorpus-v$Version-")
      cuts.sliding(2).zipWithIndex.foreach { case (Seq(from, until), i) =>
        Files.writeString(Paths.get(out, s"sample${i + 1}.txt"),
          tokens.slice(from, until).mkString(" "))
      }
      try Files.move(Paths.get(out), target, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.io.IOException if Files.isDirectory(target) => () }
    }
    target.toString
  }
}
