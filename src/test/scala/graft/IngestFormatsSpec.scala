package graft


import org.apache.avro.SchemaBuilder
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.sources.{AvroIngest, Ingest, SegmentWriter}

/** Ingestion-format evidence the SURVEY §1 rows lean on:
  *   - Avro container files (Introduction.md:46) round-trip through the
  *     connector-free reader, including schema mapping, logical types,
  *     parallel multi-file decode, and the dead-letter tolerant path;
  *   - the forward-index claim (indexing/README.md:10-12 — dictionary
  *     encoding with bit compression / RLE) is ASSERTED from parquet
  *     footers, not assumed from defaults;
  *   - the Kafka source contract (Architecture.md:171): the exact wire
  *     schema fromKafkaJson adapts is what format("kafka") emits, and the
  *     only thing standing between this repo and a live topic is the
  *     connector jar (the error proves the wiring reaches source lookup).
  */
class IngestFormatsSpec extends SparkSpec {

  private val docSchema = SchemaBuilder.record("doc").fields()
    .optionalLong("doc_id").optionalString("text")
    .optionalString("lang").optionalString("source")
    .optionalLong("n_chars").endRecord()

  test("avro round-trip: schema map + multi-file distributed decode are lossless") {
    val dir = new java.io.File(tempDir("avro_rt"))
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val rows = docs.collect().toSeq
    val (even, odd) = rows.partition(r => r.getLong(0) % 2 == 0)
    AvroIngest.writeFile(even, docSchema, new java.io.File(dir, "a.avro"))
    AvroIngest.writeFile(odd, docSchema, new java.io.File(dir, "b.avro"))

    val back = Ingest.avro(spark, dir.toString)
    assert(back.schema.fieldNames.toSeq ===
      Seq("doc_id", "text", "lang", "source", "n_chars"))
    assert(back.schema("doc_id").dataType.typeName === "long")
    assert(back.schema("text").dataType.typeName === "string")
    // the read is distributed: one task per container file
    assert(back.rdd.getNumPartitions === 2)
    // content-identical to the source table (full-row set equality)
    assert(back.count() === rows.size)
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }

  test("avro logical types: date and timestamp-micros map to Spark date/timestamp") {
    val s = SchemaBuilder.record("evt").fields()
      .name("d").`type`(org.apache.avro.LogicalTypes.date()
        .addToSchema(org.apache.avro.Schema.create(org.apache.avro.Schema.Type.INT)))
      .noDefault()
      .name("ts").`type`(org.apache.avro.LogicalTypes.timestampMicros()
        .addToSchema(org.apache.avro.Schema.create(org.apache.avro.Schema.Type.LONG)))
      .noDefault()
      .endRecord()
    val dir = new java.io.File(tempDir("avro_lt"))
    // 2024-02-29 (leap day) = epoch day 19782; 12:34:56.789012 UTC
    AvroIngest.writeFile(
      Seq(Row(19782, 19782L * 86400000000L + 45296789012L)),
      s, new java.io.File(dir, "a.avro"))
    val back = AvroIngest.read(spark, dir.toString)
    assert(back.schema("d").dataType.typeName === "date")
    assert(back.schema("ts").dataType.typeName === "timestamp")
    val r = back.collect().head
    assert(r.getDate(0).toString === "2024-02-29")
    assert(r.getTimestamp(1).toInstant.toString === "2024-02-29T12:34:56.789012Z")
  }

  test("avro tolerant read dead-letters corrupt files, keeps healthy rows") {
    val dir = new java.io.File(tempDir("avro_dl"))
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .limit(20).collect().toSeq
    AvroIngest.writeFile(docs, docSchema, new java.io.File(dir, "good.avro"))
    // corrupt container: valid magic would be required — this is garbage
    java.nio.file.Files.write(
      new java.io.File(dir, "junk.avro").toPath,
      Array.fill[Byte](128)(0x5a))
    val (good, bad) = Ingest.avroTolerant(spark, dir.toString)
    assert(good.count() === 20)
    val deadLetters = bad.collect()
    assert(deadLetters.length === 1)
    assert(deadLetters.head.getString(0).endsWith("junk.avro"))
    assert(deadLetters.head.getString(1).startsWith("open failed"))
  }

  test("forward-index evidence: sorted segment pages are dictionary/RLE encoded") {
    import scala.collection.JavaConverters._
    val out = tempDir("fwd_idx")
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_returnflag", "l_quantity")
    SegmentWriter.write(li, out, SegmentWriter.Config(
      sortCols = Seq("l_returnflag", "l_partkey")))
    val files = new java.io.File(out).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.nonEmpty)
    val conf = new org.apache.hadoop.conf.Configuration()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(files.head), conf))
    try {
      val cols = reader.getFooter.getBlocks.asScala.head.getColumns.asScala
      val byName = cols.map(c => c.getPath.toDotString -> c).toMap
      // the sorted low-cardinality column MUST carry dictionary-encoded
      // pages (parquet's RLE_DICTIONARY — the reference's "dictionary
      // encoding with bit compression" forward index, indexing/README.md)
      val flagEncodings = byName("l_returnflag").getEncodings.asScala.map(_.name)
      assert(flagEncodings.exists(e =>
        e.contains("RLE_DICTIONARY") || e.contains("PLAIN_DICTIONARY")),
        s"expected dictionary encoding on l_returnflag, got $flagEncodings")
    } finally reader.close()

    // the encoding is doing real work: the same data written with the
    // dictionary DISABLED is measurably larger on disk
    def dirBytes(d: String): Long = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val noDict = tempDir("fwd_nodict")
    li.sortWithinPartitions("l_returnflag", "l_partkey")
      .coalesce(1).write.mode("overwrite")
      .option("parquet.enable.dictionary", "false")
      .parquet(noDict)
    assert(dirBytes(out) < dirBytes(noDict),
      s"dictionary write ${dirBytes(out)}B should beat no-dict ${dirBytes(noDict)}B")
  }

  test("bloom-filter evidence: configured columns carry written blooms that skip absent probes") {
    import scala.collection.JavaConverters._
    // bloom-filter.md: Pinot blooms prune segments on point lookups over
    // high-cardinality columns. SegmentWriter's analog is a parquet
    // column bloom; this asserts the filter is actually WRITTEN (footer
    // offset present) and DOES ITS JOB (no false negatives on present
    // keys, absent probes overwhelmingly rejected) — not assumed from
    // writer options.
    val out = tempDir("bloom_idx")
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_returnflag")
    SegmentWriter.write(li, out, SegmentWriter.Config(
      bloomFilterCols = Seq("l_orderkey")))
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.nonEmpty)
    val conf = new org.apache.hadoop.conf.Configuration()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(files.head), conf))
    try {
      val block = reader.getFooter.getBlocks.asScala.head
      val byName = block.getColumns.asScala
        .map(c => c.getPath.toDotString -> c).toMap
      assert(byName("l_orderkey").getBloomFilterOffset >= 0,
        "no bloom filter written for the configured column")
      assert(byName("l_returnflag").getBloomFilterOffset < 0,
        "bloom unexpectedly written for an unconfigured column")

      val bloom = reader.getBloomFilterDataReader(block)
        .readBloomFilter(byName("l_orderkey"))
      assert(bloom != null)
      def mightContain(v: Long): Boolean = bloom.findHash(bloom.hash(v))
      // no false negatives: every present key must hit
      val present = li.select("l_orderkey").distinct()
        .limit(200).collect().map(_.getLong(0))
      assert(present.forall(mightContain),
        "bloom filter returned a false negative for a present key")
      // probe-miss demonstration: keys far outside the domain are
      // rejected (row group skippable). Default FPP ≈ 1%, so requiring
      // ≥ 90% rejection over 200 probes is deterministic in practice.
      val absentRejected = (1 to 200)
        .map(i => 900000000L + i)
        .count(v => !mightContain(v))
      assert(absentRejected >= 180,
        s"absent probes mostly accepted ($absentRejected/200 rejected)")
    } finally reader.close()
  }

  test("csv tolerant read dead-letters malformed lines, keeps healthy rows") {
    val dir = java.nio.file.Paths.get(tempDir("csv_dl"))
    java.nio.file.Files.write(dir.resolve("part.csv"),
      ("id,name,score\n" +
        "1,alice,2.5\n" +
        "not,a,valid,row,at,all\n" +
        "2,bob,oops_not_a_double\n" +
        "3,carol,9.0\n").getBytes)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType)))
    val (good, bad) = Ingest.csvTolerant(spark, dir.toString, schema)
    assert(good.collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    val deadLetters = bad.collect().map(_.getString(0)).toSet
    assert(deadLetters.size === 2)
    assert(deadLetters.exists(_.contains("oops_not_a_double")))
  }

  test("kafka source contract: wiring reaches source lookup; adapter speaks the wire schema") {
    // The exact schema readStream.format("kafka") emits (Spark's Kafka
    // connector contract, stable across releases).
    val kafkaWire = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("topic", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("partition", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("offset", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("timestamp", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("timestampType", org.apache.spark.sql.types.IntegerType)))
    // fromKafkaJson must consume exactly that projection (batch DF stands
    // in for the stream — identical analysis path)
    val wire = spark.createDataFrame(
      java.util.Arrays.asList(Row(
        "k1".getBytes, """{"event_id":1,"ts":"2024-01-01T00:00:00Z","user_id":7,"event_type":"view","value":1.5}""".getBytes,
        "events", 0, 0L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0)),
      kafkaWire)
    val decoded = graft.streaming.Realtime.fromKafkaJson(wire).collect()
    assert(decoded.length === 1 && decoded.head.getLong(0) === 1L)

    // format("kafka") itself: this sandbox has no spark-sql-kafka
    // connector jar (zero-egress classpath), so source LOOKUP must be
    // the failing step — proving the plan wiring is one jar away from a
    // live topic, not mis-built. If a connector is present, the schema
    // contract is asserted instead.
    try {
      val stream = spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", "localhost:9092")
        .option("subscribe", "events")
        .load()
      assert(stream.schema.fieldNames.toSet.intersect(
        Set("key", "value", "topic", "partition", "offset")).size === 5)
    } catch {
      case e: Exception =>
        val msg = Option(e.getMessage).getOrElse("") + Option(e.getCause)
          .flatMap(c => Option(c.getMessage)).getOrElse("")
        assert(msg.contains("kafka") &&
          (msg.contains("Failed to find") || msg.contains("DATA_SOURCE_NOT_FOUND") ||
            msg.contains("not found")),
          s"expected missing-data-source error, got: $msg")
    }
  }
}
