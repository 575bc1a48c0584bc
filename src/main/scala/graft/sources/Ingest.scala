package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Batch ingestion (reference: /root/reference/Introduction.md:7 — the
  * reference ingests batch data from HDFS/S3/ADLS/GCS in multiple
  * formats). Spark-native: `spark.read` already speaks every needed
  * format and filesystem; these helpers pin the engine's conventions
  * (explicit schema for text formats — schema inference is a full extra
  * scan at 100 TB); SegmentWriter.write lands the result as
  * sorted/partitioned segments.
  */
object Ingest {

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def csv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .csv(path)

  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC ingestion (the reference's batch formats include ORC alongside
    * Parquet/CSV/JSON/Avro — Introduction.md:7). ORC is Spark-native
    * (columnar, predicate-pushdown-capable, self-describing — no schema
    * argument needed).
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Avro ingestion — self-describing container files, schema resolved
    * from the first file's header. Built on Avro core directly (see
    * AvroIngest: the spark-avro connector jar is not on this
    * environment's fixed classpath; at deploy time
    * `spark.read.format("avro")` is a drop-in swap).
    */
  def avro(spark: SparkSession, path: String): DataFrame =
    AvroIngest.read(spark, path)

  /** Malformed-tolerant Avro: (good rows, dead-letter files) — the
    * jsonLinesTolerant contract (Pinot ingestion skips bad records
    * rather than failing a 100 TB load).
    */
  def avroTolerant(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    AvroIngest.readTolerant(spark, path)

  /** Malformed-record-tolerant JSON ingestion (Pinot ingestion skips bad
    * records rather than failing the job — the only sane behavior for a
    * 100 TB load). Returns (good rows, corrupt raw lines): PERMISSIVE
    * parse with a corrupt-record column; the bad side is kept queryable
    * for dead-letter auditing instead of dropped silently.
    */
  def jsonLinesTolerant(
      spark: SparkSession, path: String, schema: StructType): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val withCorrupt = schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    val raw = spark.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      // Spark requires caching/materializing before referencing only the
      // corrupt column (the parser is lazy per referenced columns)
      .cache()
    val good = raw.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    val bad = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (good, bad)
  }

  /** Malformed-tolerant CSV — jsonLinesTolerant's contract for delimited
    * text: (good rows, corrupt raw lines kept queryable for dead-letter
    * auditing).
    */
  def csvTolerant(
      spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, delimiter: String = ","): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val withCorrupt = schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    val raw = spark.read.schema(withCorrupt)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)
      .cache()
    val good = raw.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    val bad = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (good, bad)
  }
}
