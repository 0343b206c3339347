package graft.tools

import java.io.PrintStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.{Bench, MaterializedCaches, SparkEntry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool over the declared queries, on the session Bench and Verify
  * run on ([[graft.Bench.session]]):
  * `runMain graft.tools.Probe <sfDir> <command> [queries...]`, queries
  * given as separate arguments or comma-separated.
  *
  *   - `time`: three passes per query, each consumed as the bench
  *     consumes it ([[graft.Bench.consume]]) in its own
  *     [[graft.MaterializedCaches.scoped]].
  *   - `show`: the first 50 result rows.
  *   - `plan [-run]`: the optimized logical and the executed plan; `-run`
  *     executes the query first, so the printed adaptive plan is the
  *     final one.
  *   - `snap <outDir> <suffix>`: `explain("formatted")` of each query to
  *     `<outDir>/<query>_<suffix>.txt` (the `plans/r17` before/after
  *     pairs are in this format).
  *   - `oracles`: query and oracle counts, and the queries without
  *     oracle SQL; takes no query names and starts no session.
  */
object Probe {
  private val Usage = "usage: Probe <sfDir> " +
    "<time|show|plan [-run]|snap <outDir> <suffix>|oracles> [queries...]"

  def main(args: Array[String]): Unit = {
    val code = try apply(args, System.out, Bench.session())
      finally SparkSession.getDefaultSession.foreach(_.stop())
    if (code != 0) sys.exit(code)
  }

  /** Run one command, printing to `out`; returns the exit code (2 on a
    * usage error or an unknown query name). Arguments are checked before
    * `session` is first evaluated, so a typo starts no session and runs
    * no job.
    */
  def apply(args: Array[String], out: PrintStream, session: => SparkSession): Int = {
    val (sfDir, cmd, snapTo, rest) = args.toList match {
      case sf :: "snap" :: dir :: suffix :: qs => (sf, "snap", Some((dir, suffix)), qs)
      case sf :: (c @ ("time" | "show" | "plan" | "oracles")) :: qs => (sf, c, None, qs)
      case _ => return fail(Usage)
    }
    val runFirst = cmd == "plan" && rest.contains("-run")
    val names = rest.filterNot(a => cmd == "plan" && a == "-run")
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    if (names.isEmpty != (cmd == "oracles")) return fail(Usage)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) return fail(s"unknown queries: ${unknown.mkString(", ")}")

    lazy val spark = session
    def query(name: String) = SparkEntry.queries(name)(spark, sfDir)
    // Console.withOut: Dataset.show prints through Console.out
    Console.withOut(out)(cmd match {
      case "time" => names.foreach { q =>
        (1 to 3).foreach(i => MaterializedCaches.scoped(spark) {
          val t0 = System.nanoTime()
          val n = Bench.consume(q, query(q))
          println(f"$q pass $i: ${(System.nanoTime() - t0) / 1e9}%.3f s rows=$n")
        })
      }
      case "show" => names.foreach { q =>
        println(s"== $q @ $sfDir")
        query(q).show(50, truncate = false)
      }
      case "plan" => names.foreach { q =>
        val df = query(q)
        if (runFirst) df.collect()
        println(s"=== $q OPTIMIZED ===")
        println(df.queryExecution.optimizedPlan.treeString)
        println(s"=== $q EXECUTED ===")
        println(df.queryExecution.executedPlan.treeString)
      }
      case "snap" =>
        val (outDir, suffix) = snapTo.get
        Files.createDirectories(Paths.get(outDir))
        names.foreach { q =>
          val txt = query(q).queryExecution.explainString(FormattedMode)
          val path = Paths.get(outDir, s"${q}_$suffix.txt")
          Files.write(path, txt.getBytes(StandardCharsets.UTF_8))
          println(s"wrote $path (${txt.length} chars)")
        }
      case "oracles" =>
        val q = SparkEntry.queries.keySet
        val o = SparkEntry.oracleSql.keySet
        println(s"queries=${q.size} oracles=${o.size} " +
          s"oracles_without_query=${(o -- q).toList.sorted.mkString(",")}")
        println(s"no_oracle=${(q -- o).toList.sorted.mkString(",")}")
    })
    0
  }

  private def fail(msg: String): Int = { System.err.println(msg); 2 }
}
