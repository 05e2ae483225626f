package graft.ingest

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Golden object-key assertions in the reference style
  * (TopicPartitionWriterTest.java:287-292) plus read-back equality. */
class IngestWriterSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir() =
    Files.createTempDirectory("ingest_spec").toString

  private def frame() =
    (0L until 9L).map(o => (0, o, s"v$o", (o % 3).toInt))
      .toDF("kafka_partition", "offset", "payload", "bucket")

  test("W13/X1 default-partitioner layout with flush.size=3 → exact keys " +
    "topics/t/partition=0/t+0+000000000{0,3,6}.parquet") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "t", flushSize = 3)
    val files = IngestWriter.write(frame(), cfg,
      Partitioners.defaultPartition(col("kafka_partition")), out,
      col("kafka_partition"), col("offset"),
      payloadCols = Seq(col("offset"), col("payload")))
    val rel = files.map(f => f.encodedPartition + "/" + f.fileName)
    assert(rel == Seq(
      "partition=0/t+0+0000000000.parquet",
      "partition=0/t+0+0000000003.parquet",
      "partition=0/t+0+0000000006.parquet"))
    // read-back: content equality in offset order
    val back = spark.read.parquet(s"$out/topics/t/*")
      .orderBy("offset").as[(Long, String)].collect()
    assert(back.toSeq == (0L until 9L).map(o => (o, s"v$o")))
  }

  test("pad width is configurable (reference test uses width 2)") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "t", flushSize = 100, padWidth = 2)
    val files = IngestWriter.write(frame(), cfg,
      Partitioners.defaultPartition(col("kafka_partition")), out,
      col("kafka_partition"), col("offset"),
      payloadCols = Seq(col("offset")))
    assert(files.map(_.fileName) == Seq("t+0+00.parquet"))
  }

  test("multi-value field partition fans out per encoded partition with " +
    "per-partition start offsets") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "ev", flushSize = 100)
    val files = IngestWriter.write(frame(), cfg,
      Partitioners.fieldPartition("bucket" -> col("bucket")), out,
      col("kafka_partition"), col("offset"),
      payloadCols = Seq(col("offset"), col("bucket")))
    val rel = files.map(f => f.encodedPartition + "/" + f.fileName)
    assert(rel == Seq(
      "bucket=0/ev+0+0000000000.parquet",
      "bucket=1/ev+0+0000000001.parquet",
      "bucket=2/ev+0+0000000002.parquet"))
  }

  test("X1 replay writes byte-identical keys (idempotent overwrite)") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "t", flushSize = 4)
    def go() = IngestWriter.write(frame(), cfg,
      Partitioners.defaultPartition(col("kafka_partition")), out,
      col("kafka_partition"), col("offset"), payloadCols = Seq(col("offset")))
    assert(go().map(_.path) == go().map(_.path))
  }

  test("P4 K/V/H lockstep: .keys and .headers files share the basename " +
    "(Utils.java:31-40 contract) and sidecars default to AVRO even for " +
    "Parquet values (keys.format.class/headers.format.class, " +
    "S3SinkConnectorConfig.java:223-226) — decode-and-compare") {
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val out = freshDir()
    val df = (0L until 4L)
      .map(o => (0, o, s"k$o", s"v$o",
        Seq((s"h$o", s"hv$o"))))
      .toDF("kafka_partition", "offset", "key", "value", "headers")
      // the P3 contract shape: array<struct<key, value>> (the raw tuple
      // encoder names fields _1/_2, which no Kafka source ever produces)
      .withColumn("headers", transform(col("headers"), e =>
        struct(e.getField("_1").as("key"), e.getField("_2").as("value"))))
    val cfg = IngestConfig(topic = "t", flushSize = 10,
      writeKeys = true, writeHeaders = true)
    val files = IngestWriter.writeKVH(df, cfg,
      Partitioners.defaultPartition(col("kafka_partition")), out,
      col("kafka_partition"), col("offset"),
      valueCols = Seq(col("offset"), col("value")))
    assert(files.map(_.fileName).sorted == Seq(
      "t+0+0000000000.headers.avro",
      "t+0+0000000000.keys.avro",
      "t+0+0000000000.parquet"))
    // decode-and-compare: the Avro keys sidecar carries exactly the keys
    // of the Parquet value file's records, in the same (offset) order
    val values = spark.read
      .parquet(s"$out/topics/t/partition=0/t+0+0000000000.parquet")
      .orderBy("offset").select("value").as[String].collect().toSeq
    val reader = new DataFileReader[GenericRecord](
      new java.io.File(s"$out/topics/t/partition=0/t+0+0000000000.keys.avro"),
      new GenericDatumReader[GenericRecord]())
    val keys = scala.collection.mutable.ArrayBuffer.empty[String]
    while (reader.hasNext) {
      keys += reader.next().get("RecordKey")
        .asInstanceOf[GenericRecord].get("key").toString
    }
    reader.close()
    assert(values == (0L until 4L).map(o => s"v$o"))
    assert(keys.toSeq == (0L until 4L).map(o => s"k$o"),
      "keys sidecar must pair 1:1 with value records in offset order")
  }

  test("P4 keys.format.class override: explicit Parquet sidecars keep the " +
    "pre-override layout (.keys.parquet) and read back relationally") {
    val out = freshDir()
    val df = (0L until 4L).map(o => (0, o, s"k$o", s"v$o"))
      .toDF("kafka_partition", "offset", "key", "value")
    val cfg = IngestConfig(topic = "tp", flushSize = 10, writeKeys = true,
      keyFormat = OutputFormat.Parquet)
    val files = IngestWriter.writeKVH(df, cfg,
      Partitioners.defaultPartition(col("kafka_partition")), out,
      col("kafka_partition"), col("offset"),
      valueCols = Seq(col("offset"), col("value")))
    assert(files.map(_.fileName).sorted == Seq(
      "tp+0+0000000000.keys.parquet", "tp+0+0000000000.parquet"))
    val keys = spark.read
      .parquet(s"$out/topics/tp/partition=0/tp+0+0000000000.keys.parquet")
    assert(keys.columns.toSeq == Seq("RecordKey"))
    assert(keys.select("RecordKey.key").as[String].collect().sorted.toSeq ==
      (0L until 4L).map(o => s"k$o"))
  }

  test("F2 fail-on-null keys raises when keys are stored") {
    val out = freshDir()
    val df = Seq((0, 0L, null.asInstanceOf[String], "v"))
      .toDF("kafka_partition", "offset", "key", "value")
    val cfg = IngestConfig(topic = "t", writeKeys = true)
    val e = intercept[Exception] {
      IngestWriter.writeKVH(df, cfg,
        Partitioners.defaultPartition(col("kafka_partition")), out,
        col("kafka_partition"), col("offset"), valueCols = Seq(col("value")))
    }
    assert(e.getMessage != null)
  }

  test("written Hive-style layout partition-prunes on read back " +
    "(the property that makes the lake queryable at 100 TB)") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "pp", flushSize = 100)
    IngestWriter.write(frame(), cfg,
      Partitioners.fieldPartition("bucket" -> col("bucket")), out,
      col("kafka_partition"), col("offset"),
      payloadCols = Seq(col("offset"), col("payload")))
    val back = spark.read.parquet(s"$out/topics/pp")
      .filter(col("bucket") === 1)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("bucket"), plan)
    assert(back.count() == 3) // offsets 1,4,7
  }

  test("W1 Avro container files: contract names, codec, decode-and-compare " +
    "(AvroRecordWriterProvider.java:61-121)") {
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val out = freshDir()
    val cfg = IngestConfig(topic = "t", format = OutputFormat.Avro,
      flushSize = 4, compression = Some("deflate"))
    val files = IngestWriter.write(frame(), cfg,
      Partitioners.defaultPartition(col("kafka_partition")), out,
      col("kafka_partition"), col("offset"),
      payloadCols = Seq(col("offset"), col("payload")))
    assert(files.map(_.fileName) == Seq(
      "t+0+0000000000.avro", "t+0+0000000004.avro", "t+0+0000000008.avro"))
    val reader = new DataFileReader[GenericRecord](
      new java.io.File(files.head.path),
      new GenericDatumReader[GenericRecord]())
    val recs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    while (reader.hasNext) {
      val r = reader.next()
      recs += ((r.get("offset").asInstanceOf[Long], r.get("payload").toString))
    }
    reader.close()
    assert(recs.toSeq == (0L until 4L).map(o => (o, s"v$o")))
  }

  test("W1 Avro type fidelity: map, decimal logical type, enum " +
    "round-trip (ParquetRecordWriterProvider.java:150-151, " +
    "DataWriterAvroTest.java:157-189)") {
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import org.apache.spark.sql.types._
    val out = freshDir()
    val cfg = IngestConfig(topic = "ty", format = OutputFormat.Avro,
      flushSize = 100)
    val enumMeta = new MetadataBuilder()
      .putString("avro.enum.symbols", "RED,GREEN,BLUE")
      .putString("avro.enum.name", "Color").build()
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(0, 0L,
          Map("a" -> 1L, "b" -> 2L), new java.math.BigDecimal("12345.67"),
          "GREEN"),
        org.apache.spark.sql.Row(0, 1L,
          Map("c" -> 3L), new java.math.BigDecimal("-0.05"), "BLUE")),
      StructType(Seq(
        StructField("kafka_partition", IntegerType),
        StructField("offset", LongType),
        StructField("m", MapType(StringType, LongType)),
        StructField("dec", DecimalType(10, 2)),
        StructField("color", StringType, nullable = true, enumMeta))))
    val files = IngestWriter.write(df, cfg,
      Partitioners.defaultPartition(col("kafka_partition")), out,
      col("kafka_partition"), col("offset"),
      payloadCols = Seq(col("offset"), col("m"), col("dec"), col("color")))
    val reader = new DataFileReader[GenericRecord](
      new java.io.File(files.head.path),
      new GenericDatumReader[GenericRecord]())
    val r0 = reader.next(); val r1 = reader.next()
    assert(!reader.hasNext); reader.close()

    // schema: decimal logical type with precision/scale; enum symbols
    val schema = r0.getSchema
    def resolved(f: String) = schema.getField(f).schema().getTypes.get(1)
    val decSchema = resolved("dec")
    assert(decSchema.getType == org.apache.avro.Schema.Type.BYTES)
    val lt = decSchema.getLogicalType
      .asInstanceOf[org.apache.avro.LogicalTypes.Decimal]
    assert(lt.getPrecision == 10 && lt.getScale == 2)
    assert(resolved("color").getType == org.apache.avro.Schema.Type.ENUM)
    assert(resolved("color").getEnumSymbols.toString ==
      "[RED, GREEN, BLUE]")
    assert(resolved("m").getType == org.apache.avro.Schema.Type.MAP)

    // values: unscaled bytes at declared scale; map entries; enum symbol
    def dec(r: GenericRecord) = new java.math.BigDecimal(
      new java.math.BigInteger({
        val bb = r.get("dec").asInstanceOf[java.nio.ByteBuffer]
        val a = new Array[Byte](bb.remaining()); bb.get(a); a
      }), 2)
    assert(dec(r0) == new java.math.BigDecimal("12345.67"))
    assert(dec(r1) == new java.math.BigDecimal("-0.05"))
    val m0 = r0.get("m").asInstanceOf[java.util.Map[_, _]]
    assert(m0.size() == 2 &&
      m0.toString.contains("a") && m0.toString.contains("1"))
    assert(r0.get("color").toString == "GREEN")
    assert(r1.get("color").toString == "BLUE")
  }

  test("W1 Avro multi-type union: a struct-of-nullables field marked " +
    "avro.union encodes as a TRUE Avro union — string/long/record " +
    "branches and the null optional all round-trip " +
    "(DataWriterAvroTest.java:174,784-794)") {
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import org.apache.spark.sql.types._
    val out = freshDir()
    val cfg = IngestConfig(topic = "un", format = OutputFormat.Avro,
      flushSize = 100)
    val unionMeta = new MetadataBuilder()
      .putBoolean("avro.union", true).build()
    val innerT = StructType(Seq(StructField("x", LongType)))
    val unionT = StructType(Seq(
      StructField("s", StringType),
      StructField("n", LongType),
      StructField("rec", innerT)))
    def u(s: String, n: java.lang.Long, rec: org.apache.spark.sql.Row) =
      org.apache.spark.sql.Row(s, n, rec)
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(0, 0L, u("hello", null, null)),
        org.apache.spark.sql.Row(0, 1L, u(null, java.lang.Long.valueOf(42L), null)),
        org.apache.spark.sql.Row(0, 2L, null),
        org.apache.spark.sql.Row(0, 3L,
          u(null, null, org.apache.spark.sql.Row(7L)))),
      StructType(Seq(
        StructField("kafka_partition", IntegerType),
        StructField("offset", LongType),
        StructField("u", unionT, nullable = true, unionMeta))))
    val files = IngestWriter.write(df, cfg,
      Partitioners.defaultPartition(col("kafka_partition")), out,
      col("kafka_partition"), col("offset"),
      payloadCols = Seq(col("offset"), col("u")))
    val reader = new DataFileReader[GenericRecord](
      new java.io.File(files.head.path),
      new GenericDatumReader[GenericRecord]())
    val recs = Iterator.continually(reader)
      .takeWhile(_.hasNext).map(_.next()).toVector
    reader.close()
    assert(recs.length == 4)

    // schema: u is a 4-branch union [null, string, long, record] — NOT a
    // record of nullables
    val uSchema = recs.head.getSchema.getField("u").schema()
    assert(uSchema.getType == org.apache.avro.Schema.Type.UNION)
    import scala.collection.JavaConverters._
    val kinds = uSchema.getTypes.asScala.map(_.getType).toList
    assert(kinds == List(org.apache.avro.Schema.Type.NULL,
      org.apache.avro.Schema.Type.STRING, org.apache.avro.Schema.Type.LONG,
      org.apache.avro.Schema.Type.RECORD), kinds.toString)

    // values: each row carries its single branch directly
    val byOff = recs.map(r => r.get("offset").asInstanceOf[Long] -> r.get("u"))
      .toMap
    assert(byOff(0L).toString == "hello")
    assert(byOff(1L) == java.lang.Long.valueOf(42L))
    assert(byOff(2L) == null)
    val rec3 = byOff(3L).asInstanceOf[GenericRecord]
    assert(rec3.get("x") == java.lang.Long.valueOf(7L))
  }

  test("W1 Avro replay is idempotent (direct-path overwrite)") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "t", format = OutputFormat.Avro, flushSize = 100)
    def go() = IngestWriter.write(frame(), cfg,
      Partitioners.defaultPartition(col("kafka_partition")), out,
      col("kafka_partition"), col("offset"), payloadCols = Seq(col("offset")))
    assert(go().map(_.path) == go().map(_.path))
  }

  test("json.decimal.format: BASE64 writes base64 unscaled bytes, " +
    "NUMERIC writes the plain number (S3SinkConnectorConfig.java:214-219)") {
    import org.apache.spark.sql.types._
    def jsonLines(mode: JsonDecimalFormat): Seq[String] = {
      val out = freshDir()
      val df = spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(0, 0L, new java.math.BigDecimal("10.20"))),
        StructType(Seq(
          StructField("kafka_partition", IntegerType),
          StructField("offset", LongType),
          StructField("dec", DecimalType(10, 2)))))
      val files = IngestWriter.write(df,
        IngestConfig(topic = "jd", format = OutputFormat.Json,
          jsonDecimalFormat = mode),
        Partitioners.defaultPartition(col("kafka_partition")), out,
        col("kafka_partition"), col("offset"),
        payloadCols = Seq(col("offset"), col("dec")))
      scala.io.Source.fromFile(files.head.path).getLines().toSeq
    }
    // unscaled(10.20, scale 2) = 1020 = 0x03FC → base64 "A/w="
    assert(jsonLines(JsonDecimalFormat.Base64) ==
      Seq("""{"offset":0,"dec":"A/w="}"""))
    assert(jsonLines(JsonDecimalFormat.Numeric) ==
      Seq("""{"offset":0,"dec":10.20}"""))
  }

  test("W4 ByteArray binary payloads round-trip byte-exact with a custom " +
    "separator (ByteArrayRecordWriterProvider.java:38-92)") {
    import org.apache.spark.sql.types._
    val out = freshDir()
    val payloads = Seq(Array[Byte](0, 1, -1, 127, -128), Array[Byte](42))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(0, 0L, payloads(0)),
        org.apache.spark.sql.Row(0, 1L, payloads(1))),
      StructType(Seq(
        StructField("kafka_partition", IntegerType),
        StructField("offset", LongType),
        StructField("value", BinaryType))))
    val cfg = IngestConfig(topic = "bin", format = OutputFormat.ByteArray,
      byteArraySeparator = "|")
    val files = IngestWriter.write(df, cfg,
      Partitioners.defaultPartition(col("kafka_partition")), out,
      col("kafka_partition"), col("offset"), payloadCols = Seq(col("value")))
    assert(files.map(_.fileName) == Seq("bin+0+0000000000.bin"))
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(files.head.path))
    val expected = payloads(0) ++ "|".getBytes ++ payloads(1) ++ "|".getBytes
    assert(bytes.toSeq == expected.toSeq)
  }

  test("R2 composition: extra time file-group splits files within a " +
    "partition and names stay offset-deterministic") {
    val out = freshDir()
    val df = Seq(
      (0, 0L, "2024-01-01 00:10:00"), (0, 1L, "2024-01-01 00:20:00"),
      (0, 2L, "2024-01-01 01:10:00"), (0, 3L, "2024-01-01 01:20:00"))
      .toDF("kafka_partition", "offset", "s")
      .withColumn("ts", col("s").cast("timestamp"))
    val cfg = IngestConfig(topic = "t", flushSize = 100)
    val files = IngestWriter.write(df, cfg,
      Partitioners.defaultPartition(col("kafka_partition")), out,
      col("kafka_partition"), col("offset"),
      payloadCols = Seq(col("offset")),
      extraFileGroups = Seq(Rotation.timeFileGroup(col("ts"), 3600000L)))
    assert(files.map(_.fileName) ==
      Seq("t+0+0000000000.parquet", "t+0+0000000002.parquet"))
  }

  /** `n` records on Kafka partition 0 with keys, values and one header. */
  private def kvhFrame(n: Long) =
    (0L until n).map(o => (0, o, s"k$o", s"v$o", Seq((s"h$o", s"hv$o"))))
      .toDF("kafka_partition", "offset", "key", "value", "headers")
      .withColumn("headers", transform(col("headers"), e =>
        struct(e.getField("_1").as("key"), e.getField("_2").as("value"))))

  /** Every regular file under `dir` (checksum files aside), relative. */
  private def listing(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString)
        .filterNot(_.endsWith(".crc")).toSeq.sorted
    } finally walk.close()
  }

  test("one pass: Ingest.run with .keys and .headers and no manifest " +
    "evaluates each input row exactly once") {
    val out = freshDir()
    val evals = spark.sparkContext.longAccumulator("ingest_row_evals")
    val touch = udf { (o: Long) => evals.add(1L); o }.asNondeterministic()
    val df = kvhFrame(20L).withColumn("offset", touch(col("offset")))
    val cfg = IngestConfig(topic = "op", flushSize = 4,
      writeKeys = true, writeHeaders = true)
    val res = Ingest.run(df, cfg, PartitionerSpec.Default, out,
      payloadCols = Seq(col("offset"), col("value")))
    assert(res.files.size == 15) // 5 groups x (value, keys, headers)
    assert(evals.value == 20L,
      s"${evals.value} row evaluations for 20 rows: some view re-read the input")
  }

  test("crash residue: a dead attempt's temp object and a stale final " +
    "object are replaced by exactly the keys and contents of a clean write") {
    val cfg = IngestConfig(topic = "cr", flushSize = 4, writeKeys = true)
    def go(out: String) = IngestWriter.writeKVH(kvhFrame(9L), cfg,
      Partitioners.defaultPartition(col("kafka_partition")), out,
      col("kafka_partition"), col("offset"),
      valueCols = Seq(col("offset"), col("value")))
    val clean = freshDir()
    go(clean)
    val dirty = freshDir()
    val part = java.nio.file.Paths.get(dirty, "topics", "cr", "partition=0")
    Files.createDirectories(part)
    // a temp that a crashed attempt left beside a key, and a final object
    // holding another batch's bytes
    Files.write(part.resolve(
      s".cr+0+0000000000.parquet.${java.util.UUID.randomUUID()}.tmp"),
      "partial".getBytes)
    Files.write(part.resolve("cr+0+0000000004.keys.avro"), "stale".getBytes)
    val files = go(dirty)
    assert(listing(dirty) == listing(clean))
    assert(!listing(dirty).exists(_.endsWith(".tmp")))
    val keyFiles = files.filter(_.fileName.contains(".keys."))
    assert(keyFiles.map(_.fileName) == Seq("cr+0+0000000000.keys.avro",
      "cr+0+0000000004.keys.avro", "cr+0+0000000008.keys.avro"))
    val payload = org.apache.spark.sql.types.StructType.fromDDL(
      "RecordKey STRUCT<key: STRING>")
    def keysOf(dir: String) = AvroGroupWriter.read(spark,
        keyFiles.map(f => s"$dir/topics/cr/partition=0/${f.fileName}"),
        payload)
      .select(input_file_name().as("f"), col("RecordKey.key"))
      .as[(String, String)].collect()
      .map { case (f, k) => (f.split('/').last, k) }.sorted.toSeq
    assert(keysOf(dirty) == keysOf(clean))
    def valuesOf(dir: String) =
      spark.read.parquet(s"$dir/topics/cr/partition=0/*.parquet")
        .select(input_file_name().as("f"), col("offset"), col("value"))
        .as[(String, Long, String)].collect()
        .map { case (f, o, v) => (f.split('/').last, o, v) }.sorted.toSeq
    assert(valuesOf(dirty) == valuesOf(clean))
  }

  test("P4 K/V/H lockstep across every encoder: JSON+gzip values with " +
    "ByteArray keys and Parquet headers, one pass") {
    val out = freshDir()
    val cfg = IngestConfig(topic = "mx", format = OutputFormat.Json,
      compression = Some("gzip"), flushSize = 3, writeKeys = true,
      writeHeaders = true, keyFormat = OutputFormat.ByteArray,
      headerFormat = OutputFormat.Parquet)
    val files = IngestWriter.writeKVH(kvhFrame(7L), cfg,
      Partitioners.defaultPartition(col("kafka_partition")), out,
      col("kafka_partition"), col("offset"),
      valueCols = Seq(col("offset"), col("value")))
    val bases = Seq("mx+0+0000000000", "mx+0+0000000003", "mx+0+0000000006")
    assert(files.map(_.fileName) == bases.map(_ + ".json.gz") ++
      bases.map(_ + ".keys.bin.gz") ++ bases.map(_ + ".headers.gzip.parquet"))
    def gunzipLines(path: String): Seq[String] = {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.FileInputStream(path))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    }
    val dir = s"$out/topics/mx/partition=0"
    val groups = Seq(0L until 3L, 3L until 6L, 6L until 7L)
    bases.zip(groups).foreach { case (b, offs) =>
      assert(gunzipLines(s"$dir/$b.json.gz") ==
        offs.map(o => s"""{"offset":$o,"value":"v$o"}"""))
      // a struct view stores its row's text form, one line per record
      assert(gunzipLines(s"$dir/$b.keys.bin.gz") == offs.map(o => s"[k$o]"))
      val headers = spark.read.parquet(s"$dir/$b.headers.gzip.parquet")
        .select(col("headers")(0)("key"), col("headers")(0)("value"))
        .as[(String, String)].collect().toSeq
      assert(headers.sorted == offs.map(o => (s"h$o", s"hv$o")))
    }
  }
}
