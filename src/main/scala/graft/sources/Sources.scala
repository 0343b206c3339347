package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** File-format connectors. The reference reads local plain text only
  * (`distwc.c:9`, `mapreduce.c:62`); the Spark engine exposes the full
  * source matrix — schema'd columnar parquet for the testdata, plus
  * csv/json/text for interchange. All return plain `spark.read` scans so
  * Catalyst keeps pushdown/pruning; paths may be local, HDFS, or object
  * storage URIs unchanged.
  */
object Sources {

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def csv(spark: SparkSession, path: String, header: Boolean = true,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("header", header.toString)
    schema.fold(r.option("inferSchema", "true"))(r.schema).csv(path)
  }

  def jsonLines(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }

  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Avro object-container interchange via the native avro-core
    * reader/writer ([[AvroSource]] — the spark-avro connector module
    * is absent from the offline container; the format is served by a
    * direct scan instead: one task per container, schema resolution
    * per file, loud failure on corrupt or incompatible containers).
    */
  def avro(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    AvroSource.read(spark, dir, schema)

  /** Round-trip helpers (sinks). Partitioned writes keep downstream scans
    * prunable on the partition column.
    */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Whole-file binary ingest (`binaryFile` format): one row per file
    * with (path, modificationTime, length, content) — the ingest seam
    * for raw image/audio/video payloads feeding `operators.Multimodal`.
    * Files larger than `spark.sql.sources.binaryFile.maxLength` (2 GB
    * default ceiling) must be chunked upstream.
    */
  def binaryFiles(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(dir)

  /** XML source/sink — built into Spark 4 core (the former spark-xml
    * connector), so it works in this offline container unlike avro.
    */
  def xml(spark: SparkSession, path: String, rowTag: String = "row"): DataFrame =
    spark.read.option("rowTag", rowTag).format("xml").load(path)

  def writeXml(df: DataFrame, path: String, rowTag: String = "row"): Unit =
    df.write.mode("overwrite")
      .option("rootTag", "rows").option("rowTag", rowTag)
      .format("xml").save(path)
}
