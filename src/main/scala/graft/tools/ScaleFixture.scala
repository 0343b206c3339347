package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-ladder fixture generator (VERDICT r10 item 3): replicates a
  * driver testdata directory `factor`× into disjoint isomorphic copies,
  * so the heavy-tail queries can be MEASURED at 10× bench scale instead
  * of asserting their scaling from plan reading.
  *
  * Replication semantics (chosen so each copy is workload-isomorphic to
  * the original and copies don't interact):
  *
  *   - fact/dim keys are shifted by copy × (max_key + 1) consistently
  *     across FK edges (orderkey/custkey/partkey/suppkey, event ids,
  *     doc/vec ids) → 10 disjoint TPC-H-ish universes over the SHARED
  *     nation/region dims, so per-group results scale ×10 while join
  *     selectivity per key is unchanged;
  *   - document text in copy k>0 has every token prefixed `k<k>x`, so
  *     shingles/tokens across copies are disjoint: the near-dup pair
  *     structure of each copy is isomorphic to the original and NO
  *     cross-copy near-duplicates are manufactured (a verbatim copy
  *     would turn the whole corpus into 10-member dup clusters and
  *     inflate every dedup exponent);
  *   - embeddings/events replicate with shifted ids, payloads verbatim.
  *
  * Usage: runMain graft.tools.ScaleFixture <srcDir> <outDir> [factor]
  */
object ScaleFixture {

  private def maxOf(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).collect()(0).getLong(0)

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.getOrCreate(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]")
    spark.sparkContext.setLogLevel("WARN")

    def t(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    // dims shared by all copies
    write(t("region"), "region")
    write(t("nation"), "nation")

    val so = maxOf(t("orders"), "o_orderkey") + 1
    val sc = maxOf(t("customer"), "c_custkey") + 1
    val sp = maxOf(t("part"), "p_partkey") + 1
    val ss = maxOf(t("supplier"), "s_suppkey") + 1
    val se = maxOf(t("events"), "event_id") + 1
    val su = maxOf(t("events"), "user_id") + 1
    val sd = maxOf(t("documents"), "doc_id") + 1
    val sv = maxOf(t("embeddings"), "vec_id") + 1

    def copies(base: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(k => shift(base, k)).reduce(_ union _)

    write(copies(t("customer")) { (d, k) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(k * sc))
    }, "customer")
    write(copies(t("supplier")) { (d, k) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(k * ss))
    }, "supplier")
    write(copies(t("part")) { (d, k) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(k * sp))
    }, "part")
    write(copies(t("orders")) { (d, k) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(k * so))
        .withColumn("o_custkey", col("o_custkey") + lit(k * sc))
    }, "orders")
    write(copies(t("lineitem")) { (d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(k * so))
        .withColumn("l_partkey", col("l_partkey") + lit(k * sp))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * ss))
    }, "lineitem")
    write(copies(t("events")) { (d, k) =>
      d.withColumn("event_id", col("event_id") + lit(k * se))
        .withColumn("user_id", col("user_id") + lit(k * su))
    }, "events")
    write(copies(t("embeddings")) { (d, k) =>
      d.withColumn("vec_id", col("vec_id") + lit(k * sv))
    }, "embeddings")
    write(copies(t("documents")) { (d, k) =>
      val shifted = d.withColumn("doc_id", col("doc_id") + lit(k * sd))
      if (k == 0) shifted
      else {
        val pfx = s"k${k}x"
        shifted
          .withColumn("text", concat_ws(" ",
            transform(
              filter(split(col("text"), "[ \t\n\r]", -1), x => x =!= ""),
              x => concat(lit(pfx), x))))
          .withColumn("n_chars", length(col("text")))
      }
    }, "documents")

    println(s"[scale-fixture] wrote ${factor}x of $src to $out")
  }
}
