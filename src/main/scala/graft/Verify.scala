package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg (dev loop only — the driver passes two): run just
    // these comma-separated queries
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    // raw-ingest staging root inside THIS dump dir: the ingest oracles
    // address the staged JSONL/CSV shards as {OUT}/.raw/... (a DOTDIR: the gate globs {OUT}/* for query results and must not see the staging) so DuckDB
    // parses the same raw bytes the contracted Spark reader did
    System.setProperty("graft.raw.dir",
      Paths.get(outDir).toAbsolutePath.toString + "/.raw")
    // each query's temporaries are released before the next query runs,
    // so no result depends on what an earlier query left cached
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try MaterializedCaches.scoped(spark)(
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // {OUT} → this dump's absolute path: lets an oracle join a sibling
    // query's (spec-pinned) output — the bpe_word_tokens encoder table —
    // since BPE encoding itself is not SQL-expressible. All dumps are
    // written before any oracle runs, so the reference is always valid.
    val outAbs = Paths.get(outDir).toAbsolutePath.toString
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{OUT}", outAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
