package graft.ingest

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Config-driven end-to-end (Ingest.run), K4 nested partitioning, W4
  * ByteArray format, W10 commit manifest, R10 diagnostics. */
class IngestSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir() = Files.createTempDirectory("ingest_e2e").toString

  test("config-driven pipeline: tombstone-aware field partitioner + null " +
    "write behavior + manifest + diagnostics") {
    val out = freshDir()
    val df = (0L until 12L).map { o =>
      (0, o, if (o % 4 == 0) null else s"v$o", s"t${o % 2}")
    }.toDF("kafka_partition", "offset", "value", "event_type")
    val cfg = IngestConfig(topic = "cfg", flushSize = 100,
      nullBehavior = RecordViews.WriteNulls)
    val result = Ingest.run(df, cfg,
      PartitionerSpec.TombstoneAware(
        PartitionerSpec.Fields(Seq("event_type")), "value"),
      out, payloadCols = Seq(col("offset"), col("value"), col("event_type")),
      valueColumnForNulls = Some("value"), writeManifest = true)
    assert(result.files.map(_.encodedPartition).distinct.sorted ==
      Seq("event_type=t0", "event_type=t1", "tombstone"))
    assert(result.stats.totalFiles == result.files.size)
    assert(result.stats.diagnostic.contains("partitions"))
    // W10: manifest rows carry offsets + counts per object key; the file
    // name encodes the batch's offset range (generations accumulate)
    val mFiles = new java.io.File(s"$out/topics/cfg/_graft_manifest")
      .listFiles().map(_.getName)
      .filter(n => n.startsWith("commit-") && n.endsWith(".json"))
    assert(mFiles.length == 1, mFiles.toSeq)
    val manifest = scala.io.Source.fromFile(
      s"$out/topics/cfg/_graft_manifest/${mFiles.head}").getLines().toSeq
    assert(manifest.size == result.files.size)
    assert(manifest.forall(l => l.contains("\"record_count\":") &&
      l.contains("\"start_offset\":")))
  }

  test("config-driven ignore-nulls drops tombstones before partitioning " +
    "and reports them for DLQ routing (report.null.values.to.dlq)") {
    val out = freshDir()
    val df = Seq((0, 0L, null.asInstanceOf[String], "a"),
      (0, 1L, "v1", "a")).toDF("kafka_partition", "offset", "value", "f")
    val cfg = IngestConfig(topic = "ign") // IgnoreNulls default
    val result = Ingest.run(df, cfg, PartitionerSpec.Fields(Seq("f")), out,
      payloadCols = Seq(col("offset"), col("value")),
      valueColumnForNulls = Some("value"))
    val back = spark.read.parquet(result.files.head.path)
    assert(back.count() == 1)
    // the dropped tombstone surfaces on the result (reference default)
    val nulls = result.reportedNulls.get
      .select("offset", "dlq_reason").collect()
    assert(nulls.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((0L, "null_value")))
    // ...and the knob disables it
    val quiet = Ingest.run(df, cfg.copy(reportNullsToDlq = false),
      PartitionerSpec.Fields(Seq("f")), out,
      payloadCols = Seq(col("offset"), col("value")),
      valueColumnForNulls = Some("value"))
    assert(quiet.reportedNulls.isEmpty)
  }

  test("format.bytearray.extension renames ByteArray objects") {
    val cfg = IngestConfig(topic = "bx", format = OutputFormat.ByteArray,
      byteArrayExtension = ".customext")
    assert(cfg.extension == ".customext")
    assert(cfg.copy(compression = Some("gzip")).extension ==
      ".customext.gz")
    // other formats ignore the knob
    assert(cfg.copy(format = OutputFormat.Json).extension == ".json")
  }

  test("K4 nested-field partitioner: dotted path resolves into the struct " +
    "(TopicPartitionWriterTest.java:2897-2960)") {
    val df = Seq((16, "x"), (17, "y"))
      .toDF("inner", "other")
      .select(struct(col("inner")).as("outer"), col("other"))
    val r = df.select(Partitioners.fieldPartition(
      "outer.inner" -> col("outer.inner")).as("e"))
      .orderBy("e").as[String].collect()
    assert(r.toSeq == Seq("outer.inner=16", "outer.inner=17"))
  }

  test("W4 ByteArray format writes raw lines with .bin extension " +
    "(ByteArrayRecordWriterProvider.java:38-92)") {
    val out = freshDir()
    val df = (0L until 3L).map(o => (0, o, s"payload-$o"))
      .toDF("kafka_partition", "offset", "value")
    val cfg = IngestConfig(topic = "raw", format = OutputFormat.ByteArray)
    val files = IngestWriter.write(df, cfg,
      Partitioners.defaultPartition(col("kafka_partition")), out,
      col("kafka_partition"), col("offset"), payloadCols = Seq(col("value")))
    assert(files.map(_.fileName) == Seq("raw+0+0000000000.bin"))
    val lines = scala.io.Source.fromFile(files.head.path).getLines().toSeq
    assert(lines.sorted == Seq("payload-0", "payload-1", "payload-2"))
  }

  test("R10 per-cause rotation diagnostics on a mixed-cause batch " +
    "(util/FileRotationTracker.java:48-67)") {
    val out = freshDir()
    // partition p=a: offsets 0-5 in interval bucket 0 with flushSize=3 →
    //   one full file (flush_size) + one full file whose successor changes
    //   interval bucket... build precisely:
    //   a: off 0,1,2 (bucket 0, full file → flush_size)
    //      off 3,4   (bucket 0, short, next differs in bucket → BUT
    //                 bucket is the labeled group → rotate_interval)
    //      off 5     (bucket 1, short, schema v1→v2 next → schema_change)
    //      off 6     (bucket 1, schema v2, last → batch_end)
    val rows = Seq(
      (0, 0L, "2024-01-01 00:00:01", 1, "a"),
      (0, 1L, "2024-01-01 00:00:02", 1, "a"),
      (0, 2L, "2024-01-01 00:00:03", 1, "a"),
      (0, 3L, "2024-01-01 00:00:04", 1, "a"),
      (0, 4L, "2024-01-01 00:00:05", 1, "a"),
      (0, 5L, "2024-01-01 01:00:01", 1, "a"),
      (0, 6L, "2024-01-01 01:00:02", 2, "a"))
      .toDF("kafka_partition", "offset", "ts", "schema_version", "f")
    val cfg = IngestConfig(topic = "causes", flushSize = 3,
      rotateIntervalMs = Some(3600 * 1000L), timestampColumn = "ts")
    val result = Ingest.run(rows, cfg, PartitionerSpec.Fields(Seq("f")), out,
      payloadCols = Seq(col("offset"), col("ts"), col("schema_version")),
      extraCauseGroups =
        Seq("schema_change:version" -> col("schema_version")),
      causeStats = true)
    // files: [0,1,2] full; [3,4] short→interval boundary; [5] short→schema
    // boundary; [6] last → batch_end
    assert(result.files.size == 4, result.files.map(_.fileName))
    assert(result.stats.byCause == Map(
      "flush_size" -> 1L, "rotate_interval" -> 1L,
      "schema_change:version" -> 1L, "batch_end" -> 1L),
      result.stats.byCause.toString)
    assert(result.stats.diagnostic.contains("causes="))
  }

  test("hourly PartitionerSpec compiles to the reference path format") {
    val df = Seq((0, 0L, "2024-03-01 13:00:00"))
      .toDF("kafka_partition", "offset", "ts")
    val e = PartitionerSpec.compile(
      PartitionerSpec.SchemaAffix(PartitionerSpec.Hourly("ts"), "s1"),
      col("kafka_partition"))
    assert(df.select(e).head.getString(0) ==
      "schema_name=s1/year=2024/month=03/day=01/hour=13")
  }

  test("multi-topic ingest routes records by topic column into separate " +
    "lake subtrees with per-topic configs (S3SinkTask.java:229-276)") {
    val out = freshDir()
    val df = (0L until 12L).map { o =>
      (if (o % 2 == 0) "orders" else "clicks", 0, o, s"v$o", s"t${o % 3}")
    }.toDF("topic", "kafka_partition", "offset", "value", "event_type")
    val results = Ingest.runMulti(df, col("topic"),
      t => IngestConfig(topic = t,
        flushSize = if (t == "orders") 1 else 100),
      PartitionerSpec.Fields(Seq("event_type")), out,
      payloadCols = Seq(col("offset"), col("value")))
    assert(results.keySet == Set("orders", "clicks"))
    // per-topic flush.size honored: orders fragments, clicks does not
    assert(results("orders").files.size > results("clicks").files.size)
    val ordersBack = spark.read.parquet(s"$out/topics/orders")
    val clicksBack = spark.read.parquet(s"$out/topics/clicks")
    assert(ordersBack.count() == 6 && clicksBack.count() == 6)
    assert(ordersBack.select("offset").as[Long].collect().forall(_ % 2 == 0))
  }

  /** Every W10 lane at once: two Kafka partitions rotated at flush.size 4;
    * stats on a double with nulls and a NaN (one object all-null), a
    * string with nulls and multi-byte UTF-8, a long near 1e13 and the
    * offset. */
  private def laneFrame = {
    val scores = Seq[java.lang.Double](1.5, null, Double.NaN, -2.25,
      null, null, null, null, 3.0, 0.5)
    val names = Seq("b", "a", null, "\u00e9", null, "Z", "zz", "a", null,
      null)
    Seq(0, 1).flatMap { kp =>
      (0 until 10).map { i =>
        val o = kp * 30L + i
        (kp, o, scores((i + kp * 3) % 10), names((i + kp) % 10),
          10000000000000L + o * 7919L)
      }
    }.toDF("kafka_partition", "offset", "score", "name", "big")
  }

  private val laneCfg = IngestConfig(topic = "lanes", flushSize = 4,
    statsColumns = Seq("score", "name", "big", "offset"))

  private def runLanes(out: String, writeManifest: Boolean) =
    Ingest.run(laneFrame, laneCfg, PartitionerSpec.Default, out,
      payloadCols = Seq(col("offset"), col("score"), col("name"),
        col("big")),
      writeManifest = writeManifest)

  private def manifestGenerations(topicDir: String) =
    Option(new java.io.File(s"$topicDir/_graft_manifest").listFiles())
      .toSeq.flatten.map(_.getName)
      .filter(n => n.startsWith("commit-") && n.endsWith(".json")).sorted

  private val GoldenName = "commit-0-39-24053caa3989958b.json"
  private val GoldenLines = Seq(
    """{"object_key":"partition=0/lanes+0+0000000000.parquet","start_offset":0,"end_offset":3,"record_count":4,"col_stats":[{"c":"score","lo":-2.25,"hi":"NaN"},{"c":"name","slo":"a","shi":"é"},{"c":"big","lo":1.0E13,"hi":1.0000000023757E13},{"c":"offset","lo":0.0,"hi":3.0}]}""",
    """{"object_key":"partition=0/lanes+0+0000000004.parquet","start_offset":4,"end_offset":7,"record_count":4,"col_stats":[{"c":"score"},{"c":"name","slo":"Z","shi":"zz"},{"c":"big","lo":1.0000000031676E13,"hi":1.0000000055433E13},{"c":"offset","lo":4.0,"hi":7.0}]}""",
    """{"object_key":"partition=0/lanes+0+0000000008.parquet","start_offset":8,"end_offset":9,"record_count":2,"col_stats":[{"c":"score","lo":0.5,"hi":3.0},{"c":"name"},{"c":"big","lo":1.0000000063352E13,"hi":1.0000000071271E13},{"c":"offset","lo":8.0,"hi":9.0}]}""",
    """{"object_key":"partition=1/lanes+1+0000000030.parquet","start_offset":30,"end_offset":33,"record_count":4,"col_stats":[{"c":"score","lo":-2.25,"hi":-2.25},{"c":"name","slo":"a","shi":"é"},{"c":"big","lo":1.000000023757E13,"hi":1.0000000261327E13},{"c":"offset","lo":30.0,"hi":33.0}]}""",
    """{"object_key":"partition=1/lanes+1+0000000034.parquet","start_offset":34,"end_offset":37,"record_count":4,"col_stats":[{"c":"score","lo":0.5,"hi":3.0},{"c":"name","slo":"Z","shi":"zz"},{"c":"big","lo":1.0000000269246E13,"hi":1.0000000293003E13},{"c":"offset","lo":34.0,"hi":37.0}]}""",
    """{"object_key":"partition=1/lanes+1+0000000038.parquet","start_offset":38,"end_offset":39,"record_count":2,"col_stats":[{"c":"score","lo":"NaN","hi":"NaN"},{"c":"name","slo":"b","shi":"b"},{"c":"big","lo":1.0000000300922E13,"hi":1.0000000308841E13},{"c":"offset","lo":38.0,"hi":39.0}]}""")

  test("W10 golden manifest: generation name and line bytes are fixed " +
    "for every stats lane (existing lakes and X1 replay depend on them)") {
    val out = freshDir()
    runLanes(out, writeManifest = true)
    val dir = s"$out/topics/lanes"
    assert(manifestGenerations(dir) == Seq(GoldenName))
    val bytes = Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_graft_manifest/$GoldenName"))
    assert(new String(bytes, "UTF-8") == GoldenLines.map(_ + "\n").mkString)
  }

  test("an empty batch with writeManifest writes no object and no " +
    "generation, and returns an empty Result") {
    val out = freshDir()
    val empty = laneFrame.filter(lit(false))
    val result = Ingest.run(empty, laneCfg, PartitionerSpec.Default, out,
      payloadCols = Seq(col("offset"), col("score")), writeManifest = true)
    assert(result.files.isEmpty)
    assert(result.stats.totalFiles == 0)
    assert(manifestGenerations(s"$out/topics/lanes").isEmpty)
  }

  test("the commit manifest starts no Spark job of its own") {
    // count only jobs started from this thread: a stream another spec
    // left running must not count
    val mark = "graft.spec.countJobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(mark) != null))
          jobs.incrementAndGet()
    }
    def jobsOf(writeManifest: Boolean): Int = {
      val out = freshDir()
      jobs.set(0)
      runLanes(out, writeManifest)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setLocalProperty(mark, "on")
    try {
      jobsOf(writeManifest = true) // warm-up
      val plain = jobsOf(writeManifest = false)
      val manifested = jobsOf(writeManifest = true)
      assert(plain > 0)
      assert(manifested <= plain, s"manifest added ${manifested - plain} jobs")
    } finally {
      spark.sparkContext.setLocalProperty(mark, null)
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
