package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

import org.apache.spark.graft.JobCounter
import graft.tools.Probe

/** Runs every [[Probe]] command on one sf0.001 query with the shared
  * test session, so the dev tool is compiled and exercised by CI.
  */
class ProbeSpec extends SparkSuite {

  private val q = "wordcount"

  /** (exit code, captured stdout) of one Probe command line. */
  private def probe(args: String*): (Int, String) = {
    val buf = new ByteArrayOutputStream
    val out = new PrintStream(buf, true, "UTF-8")
    val code = Probe(args.toArray, out, spark)
    out.flush()
    (code, buf.toString("UTF-8"))
  }

  test("plan prints the optimized and the executed plan") {
    val (code, out) = probe(sf0001, "plan", "-run", q)
    assert(code == 0, out)
    assert(out.contains(s"=== $q OPTIMIZED ===") && out.contains(s"=== $q EXECUTED ==="), out)
  }

  test("time runs three passes, consumed as the bench consumes the query") {
    val (code, out) = probe(sf0001, "time", q)
    assert(code == 0, out)
    val rows = Bench.consume(q, SparkEntry.queries(q)(spark, sf0001))
    val passes = out.linesIterator.filter(_.startsWith(s"$q pass ")).toList
    assert(passes.size == 3, out)
    assert(passes.forall(_.endsWith(s" rows=$rows")), out)
  }

  test("show prints the result rows") {
    val (code, out) = probe(sf0001, "show", q)
    assert(code == 0, out)
    val first = SparkEntry.queries(q)(spark, sf0001).head().getString(0)
    assert(out.contains(s"== $q @ $sf0001") && out.contains(first), out)
  }

  test("snap writes the formatted plan of each query") {
    val dir = Files.createTempDirectory("probe-snap")
    val (code, out) = probe(sf0001, "snap", dir.toString, "before", q)
    assert(code == 0, out)
    val txt = Files.readString(dir.resolve(s"${q}_before.txt"))
    assert(txt.contains("== Physical Plan =="), txt.take(400))
  }

  test("oracles reports the declared surface") {
    val (code, out) = probe(sf0001, "oracles")
    assert(code == 0, out)
    assert(out.contains(s"queries=${SparkEntry.queries.size} oracles=${SparkEntry.oracleSql.size} "), out)
  }

  test("an unknown query name is rejected before the session or any job is used") {
    var used = false
    val ((code, out), jobs) = JobCounter(spark) {
      val buf = new ByteArrayOutputStream
      val c = Probe(Array(sf0001, "time", s"$q,no_such_query"), new PrintStream(buf),
        { used = true; spark })
      (c, buf.toString)
    }
    assert(code == 2 && out.isEmpty)
    assert(!used, "the session was used before the names were checked")
    assert(jobs == 0, s"$jobs job(s) ran before rejecting the unknown name")
  }

  test("a malformed command line is a usage error") {
    Seq(Seq(sf0001), Seq(sf0001, "time"), Seq(sf0001, "frobnicate", q),
        Seq(sf0001, "oracles", q), Seq(sf0001, "snap", "/nonexistent")).foreach { args =>
      assert(Probe(args.toArray, new PrintStream(new ByteArrayOutputStream), spark) == 2, args)
    }
  }
}
