package graft.streaming

import graft.SparkSuite
import graft.ingest.{IngestConfig, Partitioners, PartitionerSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

class StreamingIngestSpec extends SparkSuite {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("kafka_partition", IntegerType),
    StructField("offset", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  test("streaming ingest via foreachBatch writes the reference layout with " +
    "checkpointed exactly-once") {
    val src = Files.createTempDirectory("stream_src").toString
    val out = Files.createTempDirectory("stream_out").toString
    val ckpt = Files.createTempDirectory("stream_ckpt").toString

    (0 until 2).foreach { batch =>
      (0L until 10L).map(i => (0, batch * 10 + i, s"t${i % 2}", i * 1.0))
        .toDF("kafka_partition", "offset", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(src)
    }

    val stream = spark.readStream.schema(schema).parquet(src)
    val q = StreamingIngest.start(stream,
      IngestConfig(topic = "st", flushSize = 100),
      Partitioners.fieldPartition("event_type" -> col("event_type")),
      out, ckpt, col("kafka_partition"), col("offset"),
      payloadCols = Seq(col("offset"), col("event_type"), col("value")))
    q.awaitTermination(60000)

    val back = spark.read.parquet(s"$out/topics/st/*")
    assert(back.count() == 20)
    val dirs = new java.io.File(s"$out/topics/st").listFiles().map(_.getName).sorted
    assert(dirs.toSeq == Seq("event_type=t0", "event_type=t1"))
    val names = new java.io.File(s"$out/topics/st/event_type=t0")
      .listFiles().map(_.getName).filterNot(_.startsWith(".")).sorted
    assert(names.forall(_.matches("st\\+0\\+\\d{10}\\.parquet")))
  }

  test("R10 periodic diagnostics: the accumulator folds per-batch " +
    "rotation stats and emits one DIAGNOSTIC line per wall-clock " +
    "interval across micro-batches (TopicPartitionWriter.java:708-726)") {
    val src = Files.createTempDirectory("diag_src").toString
    val out = Files.createTempDirectory("diag_out").toString
    val ckpt = Files.createTempDirectory("diag_ckpt").toString
    (0 until 3).foreach { b =>
      (0L until 4L).map(i => (0, b * 4 + i, s"t${i % 2}", i * 1.0))
        .toDF("kafka_partition", "offset", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(src)
    }
    val emitted =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ticks = new java.util.concurrent.atomic.AtomicLong(0L)
    val cfg = IngestConfig(topic = "dg", flushSize = 100)
    // fake clock: +1000 ms per record() (construction reads tick 0);
    // interval 2500 ms → batches 1,2 silent, batch 3 crosses and emits
    val diag = new graft.ingest.RotationDiagnostics(cfg,
      scheduledRotation = false, intervalMs = 2500L,
      emit = emitted.add(_), clock = () => ticks.getAndAdd(1000L))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = StreamingIngest.startPipeline(stream,
      cfg, PartitionerSpec.Fields(Seq("event_type")), out, ckpt,
      col("kafka_partition"), col("offset"),
      payloadCols = Seq(col("offset"), col("event_type"), col("value")),
      diagnostics = Some(diag))
    q.awaitTermination(60000)
    val lines = emitted.toArray(Array.empty[String])
    assert(lines.length == 1, s"expected exactly one emission: " +
      lines.mkString(" | "))
    val l = lines.head
    assert(l.startsWith("DIAGNOSTIC: topic=dg batches=3 "), l)
    assert(l.contains("(flush size limit: 100)") &&
      l.contains("time-based rotation: DISABLED") &&
      l.contains("scheduled rotation: DISABLED"), l)
    assert(l.contains("activePartitions=2"), l)
  }

  test("streaming full pipeline: K/V/H lockstep + manifest under the " +
    "checkpoint, per micro-batch") {
    val src = Files.createTempDirectory("pipe_src").toString
    val out = Files.createTempDirectory("pipe_out").toString
    val ckpt = Files.createTempDirectory("pipe_ckpt").toString
    (0L until 6L).map(i => (0, i, s"k$i", s"t${i % 2}", i * 1.0))
      .toDF("kafka_partition", "offset", "key", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(src)

    val sschema = StructType(Seq(
      StructField("kafka_partition", IntegerType),
      StructField("offset", LongType),
      StructField("key", StringType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(sschema).parquet(src)
    val q = StreamingIngest.startPipeline(stream,
      IngestConfig(topic = "sp", flushSize = 100, writeKeys = true),
      PartitionerSpec.Fields(Seq("event_type")), out, ckpt,
      col("kafka_partition"), col("offset"),
      payloadCols = Seq(col("offset"), col("event_type"), col("value")),
      writeManifest = true)
    q.awaitTermination(60000)

    // deterministic names: t0 holds offsets 0,2,4 → start offset 0; t1
    // holds 1,3,5 → start offset 1 (schemas differ between value and
    // .keys files, so read the contract paths, not a glob)
    assert(spark.read.parquet(
      s"$out/topics/sp/event_type=t0/sp+0+0000000000.parquet").count() == 3)
    assert(spark.read.parquet(
      s"$out/topics/sp/event_type=t1/sp+0+0000000001.parquet").count() == 3)
    val keyFiles = new java.io.File(s"$out/topics/sp/event_type=t0")
      .listFiles().map(_.getName)
      .filter(n => n.contains(".keys.") && !n.startsWith("."))
    assert(keyFiles.toSeq == Seq("sp+0+0000000000.keys.avro"),
      s"K/V/H lockstep key files wrong (default keys.format is Avro): " +
        s"${keyFiles.toSeq}")
    assert(new java.io.File(s"$out/topics/sp/_graft_manifest").exists(),
      "commit manifest missing")
  }

  test("a micro-batch the gates drop entirely writes no manifest " +
    "generation and the manifest-writing stream carries on") {
    val src = Files.createTempDirectory("gated_src").toString
    val out = Files.createTempDirectory("gated_out").toString
    val ckpt = Files.createTempDirectory("gated_ckpt").toString
    // batch 1 is all negative values, which the gate drops
    Seq(1.0, -1.0, 1.0).zipWithIndex.foreach { case (sign, b) =>
      (0L until 4L).map(i => (0, b * 4 + i, s"t${i % 2}", sign * (i + 1)))
        .toDF("kafka_partition", "offset", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(src)
    }
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = StreamingIngest.startPipeline(stream,
      IngestConfig(topic = "gd", flushSize = 100),
      PartitionerSpec.Fields(Seq("event_type")), out, ckpt,
      col("kafka_partition"), col("offset"),
      payloadCols = Seq(col("offset"), col("event_type"), col("value")),
      writeManifest = true,
      gates = Seq(_.filter(col("value") > 0)))
    assert(q.awaitTermination(60000), "stream did not finish")
    assert(q.exception.isEmpty, q.exception.toString)
    assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    val back = spark.read.parquet(s"$out/topics/gd/event_type=*")
    assert(back.select("offset").as[Long].collect().sorted.toSeq ==
      ((0L until 4L) ++ (8L until 12L)))
    val gens = new java.io.File(s"$out/topics/gd/_graft_manifest")
      .listFiles().map(_.getName)
      .filter(n => n.startsWith("commit-") && n.endsWith(".json"))
    assert(gens.sorted.map(_.split("-").take(3).mkString("-")).toSeq ==
      Seq("commit-0-3", "commit-8-11"))
  }

  test("composable gate stack (k-means cluster + classifier + quality) " +
    "over micro-batches keeps EXACTLY the batch pipeline's rows — frozen " +
    "models make stream == batch") {
    import graft.analytics.{Caches, Clustering, TextAnalysis}
    val src = Files.createTempDirectory("gate_src").toString
    val out = Files.createTempDirectory("gate_out").toString
    val ckpt = Files.createTempDirectory("gate_ckpt").toString
    // 3 micro-batches of docs carrying text + an embedding; two obvious
    // vector clusters, half the texts garbage (punctuation floods)
    (0 until 3).foreach { b =>
      (0L until 8L).map { j =>
        val i = b * 8 + j
        val text =
          if (i % 2 == 0) s"the quick brown fox jumps over log number $i"
          else s"!!! ### @@@ $i"
        val vec =
          if (i % 3 == 0) Seq(1.0, 0.1 * (i % 5), 0.0, 0.0)
          else Seq(0.0, 0.0, 1.0, 0.1 * (i % 7))
        (0, i, i, text, vec)
      }.toDF("kafka_partition", "offset", "doc_id", "text", "vec")
        .coalesce(1).write.mode("append").parquet(src)
    }
    val full = spark.read.parquet(src)
    // frozen models, fitted on the full reference corpus OFFLINE
    val model = Clustering.fit(full, col("doc_id"), col("vec"), k = 2,
      iters = 2)
    val keepCluster = Clustering.classify(
      full.filter(col("doc_id") === 0), col("vec"), model)
      .select("cluster").head.getLong(0)
    // classifier threshold = median logit of the docs surviving the other
    // two gates — guarantees a non-trivial, non-empty final keep set
    val preStack = Seq(
      Gates.cluster("vec", model, Set(keepCluster)),
      Gates.quality("text", minTokens = 3))
    val survivors = preStack.foldLeft(full)((a, g) => g(a))
    val logits = survivors
      .select(TextAnalysis.classifierLogit(col("text"), 64).as("l"))
      .as[Double].collect().sorted
    val minLogit = logits(logits.length / 2)
    val stack = preStack :+ Gates.classifier("text", minLogit)
    val expect = stack.foldLeft(full)((a, g) => g(a))
      .select("doc_id").as[Long].collect().toSet
    assert(expect.nonEmpty && expect.size < 24,
      s"fixture must gate non-trivially, kept $expect")

    val q = StreamingIngest.startPipeline(
      spark.readStream.schema(full.schema).parquet(src),
      IngestConfig(topic = "gate", flushSize = 100),
      PartitionerSpec.Default, out, ckpt,
      col("kafka_partition"), col("offset"),
      payloadCols = Seq(col("offset"), col("doc_id"), col("text")),
      gates = stack)
    q.awaitTermination(60000)
    val got = spark.read.parquet(s"$out/topics/gate")
      .select("doc_id").as[Long].collect().toSet
    assert(got == expect,
      s"stream keep set must equal batch keep set: $got vs $expect")
    Caches.clear()
  }

  test("Gates.linearModel deploys an olsFit-refreshed quality model: " +
    "the streamed keep set equals the batch filter over the same rows") {
    val src = Files.createTempDirectory("lmg_src").toString
    val out = Files.createTempDirectory("lmg_out").toString
    val ckpt = Files.createTempDirectory("lmg_ckpt").toString
    val rows = (0L until 30L).map { i =>
      val text = ("tok " * (3 + (i % 9)).toInt).trim + s" d$i"
      (0, i, i, text)
    }.toDF("kafka_partition", "offset", "doc_id", "text")
    rows.coalesce(1).write.mode("append").parquet(src)
    val full = spark.read.parquet(src)
    // refresh the quality model OFFLINE on the reference corpus: target
    // = distinct-token diversity micros, features = (tokens, chars) —
    // the quality_lr_refresh recipe
    val x1 = size(split(col("text"), " ")).cast("long")
    val x2 = length(col("text")).cast("long")
    val ym = floor(log(
      size(array_distinct(split(col("text"), " "))).cast("double") + 1.0)
      * 1e6 + 0.5).cast("long")
    val beta = graft.analytics.Regression.olsFit(
      full.select(x1.as("x1"), x2.as("x2"), ym.as("ym")),
      col("ym"), Seq(col("x1"), col("x2")))
    val scores = full.select(graft.analytics.Regression.score(beta,
      Seq(x1, x2)).as("s")).as[Double].collect().sorted
    val cut = scores(scores.length / 2)
    val gate = Gates.linearModel(beta, Seq(x1, x2), cut)
    val expect = gate(full).select("doc_id").as[Long].collect().toSet
    assert(expect.nonEmpty && expect.size < 30,
      s"fixture must gate non-trivially, kept ${expect.size}")
    val q = StreamingIngest.startPipeline(
      spark.readStream.schema(full.schema).parquet(src),
      IngestConfig(topic = "lm", flushSize = 100),
      PartitionerSpec.Default, out, ckpt,
      col("kafka_partition"), col("offset"),
      payloadCols = Seq(col("offset"), col("doc_id")),
      gates = Seq(gate))
    q.awaitTermination(60000)
    val got = spark.read.parquet(s"$out/topics/lm")
      .select("doc_id").as[Long].collect().toSet
    assert(got == expect,
      s"stream keep set must equal batch keep set: $got vs $expect")
    graft.analytics.Caches.clear()
  }

  test("watermarked windowed counts aggregate by event-time hour") {
    val src = Files.createTempDirectory("wm_src").toString
    Seq(
      (1L, "2024-01-01 00:10:00", "click"),
      (2L, "2024-01-01 00:50:00", "click"),
      (3L, "2024-01-01 01:10:00", "view"))
      .toDF("id", "s", "event_type")
      .withColumn("ts", col("s").cast("timestamp"))
      .drop("s").coalesce(1).write.mode("append").parquet(src)

    val sschema = StructType(Seq(StructField("id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType)))
    val stream = spark.readStream.schema(sschema).parquet(src)
    val agg = StreamingIngest.windowedCounts(stream, "ts", "event_type")
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("wm_counts").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val r = spark.table("wm_counts")
      .select(date_format(col("window_start"), "HH:mm").as("h"),
        col("event_type"), col("n"))
      .as[(String, String, Long)].collect().toSet
    assert(r == Set(("00:00", "click", 2L), ("01:00", "view", 1L)))
  }

  test("streaming dedup within watermark drops replayed ids across batches") {
    val src = Files.createTempDirectory("dedup_src").toString
    // two files = two micro-batches under AvailableNow; ids 2,3 repeat
    Seq((1L, "2024-01-01 00:00:01"), (2L, "2024-01-01 00:00:02"),
      (3L, "2024-01-01 00:00:03"))
      .toDF("id", "s").withColumn("ts", col("s").cast("timestamp")).drop("s")
      .coalesce(1).write.mode("append").parquet(src)
    Seq((2L, "2024-01-01 00:00:02"), (3L, "2024-01-01 00:00:03"),
      (4L, "2024-01-01 00:00:04"))
      .toDF("id", "s").withColumn("ts", col("s").cast("timestamp")).drop("s")
      .coalesce(1).write.mode("append").parquet(src)

    val sschema = StructType(Seq(StructField("id", LongType),
      StructField("ts", TimestampType)))
    val stream = spark.readStream.schema(sschema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = StreamingIngest.dedupWithinWatermark(stream, "ts", "10 minutes",
      Seq("id"))
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_stream").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val ids = spark.table("dedup_stream").select("id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L), s"got $ids")
  }

  test("stream-static dimension enrichment: the static side broadcasts " +
    "into every micro-batch") {
    val src = Files.createTempDirectory("enrich_src").toString
    Seq((1L, "click"), (2L, "purchase"), (3L, "view"))
      .toDF("id", "event_type")
      .coalesce(1).write.mode("append").parquet(src)
    val dim = Seq(("click", 1.0), ("purchase", 5.0))
      .toDF("event_type", "weight")
    val sschema = StructType(Seq(StructField("id", LongType),
      StructField("event_type", StringType)))
    val joined = spark.readStream.schema(sschema).parquet(src)
      .join(broadcast(dim), Seq("event_type"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("enrich_stream").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val r = spark.table("enrich_stream").select("id", "weight")
      .as[(Long, Double)].collect().toSet
    assert(r == Set((1L, 1.0), (2L, 5.0)))
  }

  test("stream-stream temporal enrichment joins within the time bound " +
    "and drops out-of-window pairs") {
    val pSrc = Files.createTempDirectory("ss_p").toString
    val cSrc = Files.createTempDirectory("ss_c").toString
    // both streams name their event-time column identically ("ts") — the
    // common shape, which forces the join bounds to qualify through the
    // frames rather than bare col()
    Seq((10L, 1L, "2024-01-01 00:01:00"), (11L, 2L, "2024-01-01 00:10:00"))
      .toDF("p_event", "user_id", "s")
      .withColumn("ts", col("s").cast("timestamp")).drop("s")
      .coalesce(1).write.mode("append").parquet(pSrc)
    Seq(
      (20L, 1L, "2024-01-01 00:00:30"), // 30s before purchase 10 → match
      (21L, 1L, "2024-01-01 00:00:10"), // 50s before → also in 2m window
      (22L, 2L, "2024-01-01 00:05:00"), // 5m before purchase 11 → outside
      (23L, 3L, "2024-01-01 00:01:00")) // no purchase for user 3
      .toDF("c_event", "user_id", "s")
      .withColumn("ts", col("s").cast("timestamp")).drop("s")
      .coalesce(1).write.mode("append").parquet(cSrc)

    val pSchema = StructType(Seq(StructField("p_event", LongType),
      StructField("user_id", LongType), StructField("ts", TimestampType)))
    val cSchema = StructType(Seq(StructField("c_event", LongType),
      StructField("user_id", LongType), StructField("ts", TimestampType)))
    val joined = StreamingIngest.enrichWithin(
      spark.readStream.schema(pSchema).parquet(pSrc),
      spark.readStream.schema(cSchema).parquet(cSrc),
      key = "user_id", leftTs = "ts", rightTs = "ts",
      before = "2 minutes")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ss_join").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val r = spark.table("ss_join").select("p_event", "c_event")
      .as[(Long, Long)].collect().toSet
    assert(r == Set((10L, 20L), (10L, 21L)), s"got $r")
  }

  test("stateful sessionization groups by gap") {
    import StreamingIngest._
    val src = Files.createTempDirectory("sess_src").toString
    Seq(
      SessionEvent(1L, 1L, 1000L), SessionEvent(1L, 2L, 2000L),
      SessionEvent(1L, 3L, 100000L), // > 30s gap → new session
      SessionEvent(2L, 4L, 500L))
      .toDF().coalesce(1).write.mode("append").parquet(src)

    val sschema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts_ms", LongType)))
    val stream = spark.readStream.schema(sschema).parquet(src)
      .as[SessionEvent]
    val q = sessionize(stream, gapMs = 30000L)
      .writeStream.outputMode("update").format("memory")
      .queryName("sessions").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val r = spark.table("sessions").as[SessionUpdate].collect()
      .map(u => u.user_id -> (u.session_id, u.n_events)).toMap
    // user 1 ends in session 2 with 1 event; user 2 in session 1 with 1
    assert(r(1L) == (2L, 1L))
    assert(r(2L) == (1L, 1L))
  }

  test("sessionize evicts state once the watermark passes the gap " +
    "(EventTimeTimeout): the user's next session restarts at id 1") {
    import StreamingIngest._
    val src = Files.createTempDirectory("sess_to_src").toString
    def writeFile(evts: Seq[SessionEvent]): Unit = {
      evts.toDF().coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(60) // distinct mod-times → stable batch order
    }
    // batch 1: user 1 session of 2 events ending at t=2s
    writeFile(Seq(SessionEvent(1L, 1L, 1000L), SessionEvent(1L, 2L, 2000L)))
    // batch 2: user 9 at t=2h advances the watermark far past 2s+gap
    writeFile(Seq(SessionEvent(9L, 3L, 7200000L)))
    // batch 3: watermark from batch 2 now applies → user 1 times out
    // (final emit + state removed) while user 9 continues
    writeFile(Seq(SessionEvent(9L, 4L, 7210000L)))
    // batch 4: user 1 returns — with state evicted the session id restarts
    // at 1; surviving state would have yielded session id 2
    writeFile(Seq(SessionEvent(1L, 5L, 7220000L)))

    val sschema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("ts_ms", LongType)))
    val stream = spark.readStream.schema(sschema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[SessionEvent]
    val q = sessionize(stream, gapMs = 30000L, watermark = "10 minutes")
      .writeStream.outputMode("update").format("memory")
      .queryName("sessions_evict").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val u1 = spark.table("sessions_evict").as[SessionUpdate].collect()
      .filter(_.user_id == 1L).map(u => (u.session_id, u.n_events)).toSeq
    // (1,2) running + (1,2) timeout final emit + (1,1) post-eviction restart
    assert(u1.contains((1L, 1L)),
      s"expected post-eviction restart (1,1); got $u1")
    assert(!u1.contains((2L, 1L)),
      s"state survived eviction (session id 2 seen): $u1")
    assert(u1.count(_ == (1L, 2L)) == 2,
      s"expected running + final-emit rows for session 1: $u1")
  }

  test("Gates.nearDup composes into the startPipeline stack: duplicates " +
    "of the static history never reach the ingest write") {
    val src = Files.createTempDirectory("ndg_src").toString
    val out = Files.createTempDirectory("ndg_out").toString
    val ckpt = Files.createTempDirectory("ndg_ckpt").toString
    val history = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    Seq(
      (0, 0L, 10L,
        "the quick brown fox jumps over the lazy cat again and again"),
      (0, 1L, 11L, "entirely novel text that matches nothing before"))
      .toDF("kafka_partition", "offset", "doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("kafka_partition",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("offset",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val q = StreamingIngest.startPipeline(
      spark.readStream.schema(schema).parquet(src),
      IngestConfig(topic = "ndg", flushSize = 100),
      PartitionerSpec.Default, out, ckpt,
      col("kafka_partition"), col("offset"),
      payloadCols = Seq(col("offset"), col("doc_id"), col("text")),
      gates = Seq(Gates.nearDup(history, "doc_id", "text",
        threshold = 0.5)))
    q.awaitTermination(60000)
    val kept = spark.read.parquet(s"$out/topics/ndg")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(11L),
      s"near-dup 10 must be dropped inside the stack; got ${kept.toSeq}")
  }

  test("streaming Avro ingest with a union column: the avro.union " +
    "metadata rides the full pipeline (source schema -> payload select " +
    "-> AvroGroupWriter) and the landed container files carry a TRUE " +
    "union with the right branch per row") {
    val src = Files.createTempDirectory("aun_src").toString
    val out = Files.createTempDirectory("aun_out").toString
    val ckpt = Files.createTempDirectory("aun_ckpt").toString
    val unionT = StructType(Seq(
      StructField("s", StringType), StructField("n", LongType)))
    val srcSchema = StructType(Seq(
      StructField("kafka_partition", IntegerType),
      StructField("offset", LongType),
      StructField("u", unionT, nullable = true,
        new MetadataBuilder().putBoolean("avro.union", true).build())))
    Seq(
      (0, 0L, "hello", null: java.lang.Long),
      (0, 1L, null: String, java.lang.Long.valueOf(42L)),
      (0, 2L, null: String, null: java.lang.Long))
      .toDF("kafka_partition", "offset", "s", "n")
      .select(col("kafka_partition"), col("offset"),
        when(col("offset") === 2, lit(null).cast(unionT))
          .otherwise(struct(col("s"), col("n"))).as("u"))
      .coalesce(1).write.mode("append").parquet(src)
    val q = StreamingIngest.startPipeline(
      spark.readStream.schema(srcSchema).parquet(src),
      graft.ingest.IngestConfig(topic = "aun",
        format = graft.ingest.OutputFormat.Avro, flushSize = 100),
      graft.ingest.PartitionerSpec.Default, out, ckpt,
      col("kafka_partition"), col("offset"),
      payloadCols = Seq(col("offset"), col("u")))
    q.awaitTermination(60000)
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val f = new java.io.File(s"$out/topics/aun/partition=0")
      .listFiles().filter(_.getName.endsWith(".avro")).head
    val reader = new DataFileReader[GenericRecord](f,
      new GenericDatumReader[GenericRecord]())
    val recs = Iterator.continually(reader)
      .takeWhile(_.hasNext).map(_.next()).toVector
    reader.close()
    assert(recs.length == 3)
    val uSchema = recs.head.getSchema.getField("u").schema()
    import scala.collection.JavaConverters._
    assert(uSchema.getType == org.apache.avro.Schema.Type.UNION &&
      uSchema.getTypes.asScala.map(_.getType).toList ==
        List(org.apache.avro.Schema.Type.NULL,
          org.apache.avro.Schema.Type.STRING,
          org.apache.avro.Schema.Type.LONG),
      uSchema.toString)
    val byOff = recs.map(r =>
      r.get("offset").asInstanceOf[Long] -> r.get("u")).toMap
    assert(byOff(0L).toString == "hello")
    assert(byOff(1L) == java.lang.Long.valueOf(42L))
    assert(byOff(2L) == null)
  }

  test("Gates.imageDedup drops perceptual dups of the frozen history " +
    "(exact across resolutions, near at hamming<=3), keeps the rest, " +
    "and passes the batch schema through") {
    import graft.analytics.Multimodal
    def png(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    def hGrad(w: Int, h: Int) = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, (x * 255 / (w - 1)) << 16)
      img
    }
    // horizontal gradient with one sample pair flattened: exactly one of
    // the 56 comparisons flips vs hGrad -> Hamming 1
    def hGradNear() = {
      val img = hGrad(8, 8)
      img.setRGB(7, 7, img.getRGB(6, 7))
      img
    }
    def vGrad(w: Int, h: Int) = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, (y * 255 / (h - 1)) << 16)
      img
    }
    val history = spark.createDataset(Seq(
      Multimodal.MediaRecord(1L, "image/png", png(hGrad(16, 16)))))
    val histHashes = Multimodal.dHash56(history).toDF().select(col("dhash"))
    val batch = Seq(
      // same gradient at a DIFFERENT resolution: Hamming 0 -> dropped
      (10L, "image/png", png(hGrad(8, 8)), "a"),
      // one flipped comparison: Hamming 1 -> dropped
      (11L, "image/png", png(hGradNear()), "b"),
      // vertical gradient: Hamming 56 -> kept
      (12L, "image/png", png(vGrad(8, 8)), "c"),
      // corrupt payload: lenient decode -> no signature -> PASSES
      // THROUGH (a crawl stream's routine garbage must not wedge the
      // checkpoint in a replay loop)
      (13L, "image/png", "not a png".getBytes("UTF-8"), "d"),
      // non-image media never participates -> passes through
      (14L, "audio/wav", "wav bytes".getBytes("UTF-8"), "e"))
      .toDF("id", "mediaType", "payload", "extra")
    val kept = Gates.imageDedup(histHashes)(batch)
    assert(kept.columns.toSeq == Seq("id", "mediaType", "payload", "extra"),
      "gate must pass the batch schema through")
    assert(kept.select("id").as[Long].collect().sorted.toSeq ==
      Seq(12L, 13L, 14L))
    // misconfiguration fails at WIRING time, before any batch runs
    intercept[IllegalArgumentException] {
      Gates.imageDedup(histHashes, maxDist = 4)
    }
  }

  test("Gates.exactDedup drops history-known keys and collapses " +
    "within-batch duplicates to the smallest id") {
    val history = Seq((1L, "seen before")).toDF("doc_id", "text")
      .withColumn("fp", graft.analytics.TextAnalysis.fingerprint(col("text")))
    val batch = Seq(
      (10L, "seen before"),          // history dup → dropped
      (11L, "novel content one"),    // kept
      (12L, "novel content two"),    // kept (first of the batch pair)
      (13L, "novel content two"))    // within-batch dup → dropped
      .toDF("doc_id", "text")
      .withColumn("fp", graft.analytics.TextAnalysis.fingerprint(col("text")))
    // the caller preps + persists the frozen artifacts (the gate's doc
    // contract) and owns their lifetime — unpersist in finally so an
    // assertion failure cannot leak caches into the shared session
    val sketch = graft.analytics.Dedup.bloomSketchFrame(history,
      col("fp"), expectedItems = 100L).persist()
    val keys = history.select(col("fp").as("_key")).distinct().persist()
    val bootSketch = graft.analytics.Dedup.bloomSketchFrame(
      history.limit(0), col("fp"), expectedItems = 100L).persist()
    val bootKeys = history.limit(0).select(col("fp").as("_key"))
      .distinct().persist()
    try {
      val kept = Gates.exactDedup(sketch, keys, "doc_id", "fp")(batch)
        .select("doc_id").as[Long].collect().sorted
      assert(kept.toSeq == Seq(11L, 12L), s"got ${kept.toSeq}")
      // bootstrap: frozen over an EMPTY history (null sketch) keeps
      // every novel key; within-batch dups still collapse
      val boot = Gates.exactDedup(bootSketch, bootKeys, "doc_id", "fp")(
        batch).select("doc_id").as[Long].collect().sorted
      assert(boot.toSeq == Seq(10L, 11L, 12L), s"got ${boot.toSeq}")
    } finally Seq(sketch, keys, bootSketch, bootKeys)
      .foreach(_.unpersist(blocking = false))
  }

  test("Gates.substringClean composes into the startPipeline stack: " +
    "history-known spans are scrubbed from the payload before the write") {
    val src = Files.createTempDirectory("ssc_src").toString
    val out = Files.createTempDirectory("ssc_out").toString
    val ckpt = Files.createTempDirectory("ssc_ckpt").toString
    val history = Seq(
      (1L, "alpha beta gamma delta epsilon unique history tail words"))
      .toDF("doc_id", "text")
    val hh = graft.analytics.Dedup.substringHistoryHashes(
      history, col("text"), k = 5)
    Seq(
      // the known span arrives cased differently — matching must be
      // case-insensitive while kept tokens keep their bytes
      (0, 0L, 10L, "Fresh Start ALPHA Beta gamma delta epsilon Fresh End"),
      (0, 1L, 11L, "Nothing Here overlaps the HISTORICAL corpus at all"))
      .toDF("kafka_partition", "offset", "doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("kafka_partition",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("offset",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val q = StreamingIngest.startPipeline(
      spark.readStream.schema(schema).parquet(src),
      IngestConfig(topic = "ssc", flushSize = 100),
      PartitionerSpec.Default, out, ckpt,
      col("kafka_partition"), col("offset"),
      payloadCols = Seq(col("offset"), col("doc_id"), col("text")),
      gates = Seq(Gates.substringClean(hh, "doc_id", "text", k = 5)))
    q.awaitTermination(60000)
    val got = spark.read.parquet(s"$out/topics/ssc")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(got(10L) == "Fresh Start Fresh End",
      s"history 5-gram must be scrubbed in-stream: '${got(10L)}'")
    assert(got(11L) == "Nothing Here overlaps the HISTORICAL corpus at all",
      s"novel doc must pass byte-identical: '${got(11L)}'")
  }

  test("streaming near-dup gate drops micro-batch rows that near-dup the " +
    "static history and appends the survivors") {
    val src = Files.createTempDirectory("nd_src").toString
    val out = Files.createTempDirectory("nd_out").toString
    val ckpt = Files.createTempDirectory("nd_ckpt").toString
    val history = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different historical content about spark engines"))
      .toDF("doc_id", "text")
    // near-dup of doc 1 (one token changed) + a genuinely novel doc
    Seq((10L, "the quick brown fox jumps over the lazy cat again and again"),
      (11L, "entirely novel text that matches nothing in the history"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val q = StreamingIngest.startNearDupGate(
      spark.readStream.schema(schema).parquet(src), history,
      "doc_id", "text", out, ckpt, threshold = 0.5)
    q.awaitTermination(60000)
    val kept = spark.read.parquet(out).select("doc_id")
      .as[Long].collect().sorted
    assert(kept.toSeq == Seq(11L),
      s"near-dup 10 must be dropped, novel 11 kept; got ${kept.toSeq}")
  }

  test("streaming embedding dedup gate drops micro-batch vectors that " +
    "near-dup the static history by cosine and appends the survivors") {
    val src = Files.createTempDirectory("eg_src").toString
    val out = Files.createTempDirectory("eg_out").toString
    val ckpt = Files.createTempDirectory("eg_ckpt").toString
    val rnd = new scala.util.Random(11)
    def gauss() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = gauss()
    // arriving vector 10 is a tiny perturbation of history vector 1
    // (cosine ~0.999); vector 11 is independent (cosine ~0)
    val nearDup = base.map(v => v + 0.02f * rnd.nextGaussian().toFloat)
    val history = Seq((1L, base), (2L, gauss()))
      .toDF("vec_id", "embedding")
    Seq((10L, nearDup), (11L, gauss()))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(src)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    val q = StreamingIngest.startEmbeddingDedupGate(
      spark.readStream.schema(schema).parquet(src), history,
      "vec_id", "embedding", out, ckpt, threshold = 0.95)
    q.awaitTermination(60000)
    val kept = spark.read.parquet(out).select("vec_id")
      .as[Long].collect().sorted
    assert(kept.toSeq == Seq(11L),
      s"near-dup 10 must be dropped, novel 11 kept; got ${kept.toSeq}")
  }

  test("streaming CDC upsert sink: each micro-batch merges by key into " +
    "the bucketed lake — updates replace, untouched keys survive, and " +
    "only affected buckets rewrite") {
    val src = Files.createTempDirectory("up_src").toString
    val lake = Files.createTempDirectory("up_lake").toString
    val ckpt = Files.createTempDirectory("up_ckpt").toString
    val uschema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("version", LongType)))
    def run(): Unit = {
      val q = StreamingIngest.startUpsertSink(
        spark.readStream.schema(uschema).parquet(src),
        "k", "version", lake, ckpt, nBuckets = 8)
      q.awaitTermination(60000)
    }
    // batch 1: initial state (includes a within-batch conflict on k=3:
    // version 2 must win)
    Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c0", 1L), (3L, "c", 2L))
      .toDF("k", "v", "version").coalesce(1)
      .write.mode("append").parquet(src)
    run()
    val s1 = spark.read.parquet(lake).select("k", "v", "version")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(s1 == Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 2L)), s1)
    // batch 2: update k=2, insert k=4; k=1 and k=3 untouched; a LATE
    // out-of-order event for k=3 (version 1 < the lake's version 2) must
    // NOT regress the current row
    Seq((2L, "B", 2L), (4L, "d", 1L), (3L, "cStale", 1L))
      .toDF("k", "v", "version").coalesce(1)
      .write.mode("append").parquet(src)
    run()
    val s2 = spark.read.parquet(lake).select("k", "v", "version")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(s2 == Seq((1L, "a", 1L), (2L, "B", 2L), (3L, "c", 2L),
      (4L, "d", 1L)), s2)
    // bucket layout: partition dirs exist and only key-hash buckets appear
    val dirs = new java.io.File(lake).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("__bucket="))
    assert(dirs.nonEmpty && dirs.length <= 8, dirs.toSeq)
  }

  test("kill-and-resume soak: the gated pipeline restarted from its " +
    "checkpoint — INCLUDING a replayed batch whose commit marker was " +
    "lost — lands exactly the batch-mode keep set, with consistent " +
    "manifests") {
    val src = Files.createTempDirectory("soak_src").toString
    val out = Files.createTempDirectory("soak_out").toString
    val ckpt = Files.createTempDirectory("soak_ckpt").toString

    // frozen history: one exact-dup target + one substring-span source
    val history = Seq(
      (1L, "dup dup dup seen exactly before now"),
      (2L, "alpha beta gamma delta epsilon zeta shared span words"))
      .toDF("doc_id", "text")
      .withColumn("fp",
        graft.analytics.TextAnalysis.fingerprint(col("text")))
    val sketch = graft.analytics.Dedup.bloomSketchFrame(history,
      col("fp"), expectedItems = 100L).persist()
    val keys = history.select(col("fp").as("_key")).distinct().persist()
    val hh = graft.analytics.Dedup.substringHistoryHashes(
      history, col("text"), k = 5).persist()
    val stack = Seq(
      Gates.exactDedup(sketch, keys, "doc_id", "fp"),
      Gates.substringClean(hh, "doc_id", "text", k = 5),
      Gates.quality("text", minTokens = 3))

    // four one-file micro-batches; novel texts are DISTINCT across files
    // (the exactDedup within-batch collapse must not depend on batch
    // boundaries for streamed == batch to be well-defined)
    def fileRows(f: Int) = Seq(
      (0, f * 10L + 0, f * 10L + 0,
        "dup dup dup seen exactly before now"),           // history dup
      (0, f * 10L + 1, f * 10L + 1,
        s"fresh head $f alpha beta gamma delta epsilon fresh tail $f"),
      (0, f * 10L + 2, f * 10L + 2,
        "beta gamma delta epsilon zeta"),                 // cleans to ""
      (0, f * 10L + 3, f * 10L + 3,
        s"wholly novel document number $f with plenty of words"),
      (0, f * 10L + 4, f * 10L + 4, s"tiny $f"),          // quality drop
      (0, f * 10L + 5, f * 10L + 5,
        s"another untouched survivor $f rides through"))
      .toDF("kafka_partition", "offset", "doc_id", "text")
      .withColumn("fp",
        graft.analytics.TextAnalysis.fingerprint(col("text")))
    def writeFile(f: Int): Unit =
      fileRows(f).coalesce(1).write.mode("append").parquet(src)

    val sschema = StructType(Seq(
      StructField("kafka_partition", IntegerType),
      StructField("offset", LongType),
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("fp", StringType)))
    val cfg = IngestConfig(topic = "soak", flushSize = 100)
    def run(): Unit = {
      val q = StreamingIngest.startPipeline(
        spark.readStream.schema(sschema)
          .option("maxFilesPerTrigger", 1).parquet(src),
        cfg, PartitionerSpec.Default, out, ckpt,
        col("kafka_partition"), col("offset"),
        payloadCols = Seq(col("offset"), col("doc_id"), col("text")),
        writeManifest = true, gates = stack)
      q.awaitTermination(120000)
    }

    try {
      // batch-mode oracle over the FULL input
      val expect = stack.foldLeft(
        (0 until 4).map(fileRows).reduce(_.unionByName(_)))((a, g) => g(a))
        .select("doc_id", "text").as[(Long, String)].collect().toMap
      assert(expect.size == 12, s"fixture gates non-trivially: $expect")

      // phase 1: two micro-batches, run to completion
      writeFile(0); writeFile(1)
      run()
      // kill AFTER the data write but BEFORE the epoch commit: dropping
      // the newest commit marker forces the restart to REPLAY that
      // micro-batch over already-written objects — the reference's
      // hardest restart case (DataWriterAvroTest.java:221-243), held
      // here by X1 deterministic names + manifest replay idempotence
      val commits = new java.io.File(s"$ckpt/commits").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("."))
      val newest = commits.maxBy(_.getName.toInt)
      assert(newest.delete(), s"could not drop ${newest}")
      // the local checksum FS keeps a .N.crc sidecar; left behind it
      // fails the replay's rename and masquerades as a concurrent query
      val crc = new java.io.File(newest.getParentFile,
        s".${newest.getName}.crc")
      if (crc.exists()) assert(crc.delete(), s"could not drop $crc")

      // phase 2: two more files land; resume from the same checkpoint
      writeFile(2); writeFile(3)
      run()

      val got = spark.read.parquet(s"$out/topics/soak")
        .select("doc_id", "text").as[(Long, String)].collect()
      assert(got.length == expect.size,
        s"exactly-once violated: ${got.length} rows vs ${expect.size} " +
          "expected (duplicates or loss)")
      assert(got.toMap == expect,
        s"streamed keep set diverged: ${got.toMap} vs $expect")
      // the manifest view agrees with the physical lake, and no object
      // is orphaned — the replayed batch reused its deterministic names
      val committed = graft.ingest.Compaction.readCommitted(spark, out, cfg)
        .select("doc_id", "text").as[(Long, String)].collect()
      assert(committed.toMap == expect && committed.length == expect.size,
        "manifest snapshot must equal the gated keep set after replay")
      val vac = graft.ingest.Compaction.vacuum(spark, out, cfg,
        dryRun = true)
      assert(vac.orphanCount == 0L,
        s"replay must not strand objects: ${vac.orphans}")
    } finally Seq(sketch, keys, hh).foreach(_.unpersist(blocking = false))
  }

  test("multi-topic kill-and-resume soak: two topics with DIFFERENT " +
    "flush sizes through one gated streaming pipeline — after a lost " +
    "commit marker and restart, each topic's lake equals its batch keep " +
    "set and vacuums clean") {
    val src = Files.createTempDirectory("msoak_src").toString
    val out = Files.createTempDirectory("msoak_out").toString
    val ckpt = Files.createTempDirectory("msoak_ckpt").toString

    val cfgA = IngestConfig(topic = "tA", flushSize = 1)
    val cfgB = IngestConfig(topic = "tB", flushSize = 100)
    val cfgFor = Map("tA" -> cfgA, "tB" -> cfgB)
    val gateStack = Seq(Gates.quality("text", minTokens = 3))

    // each file interleaves both topics; offsets unique per (topic,
    // partition); one row per file fails the quality gate
    def fileRows(f: Int) = Seq(
      ("tA", 0, f * 10L + 0, f * 10L + 0,
        s"topic a document $f zero with words enough"),
      ("tB", 0, f * 10L + 1, f * 10L + 1,
        s"topic b document $f one with words enough"),
      ("tA", 0, f * 10L + 2, f * 10L + 2, s"tiny $f"), // quality drop
      ("tA", 0, f * 10L + 3, f * 10L + 3,
        s"topic a document $f three rides through fine"),
      ("tB", 0, f * 10L + 4, f * 10L + 4,
        s"topic b document $f four rides through fine"))
      .toDF("topic", "kafka_partition", "offset", "doc_id", "text")
    def writeFile(f: Int): Unit =
      fileRows(f).coalesce(1).write.mode("append").parquet(src)

    val mschema = StructType(Seq(
      StructField("topic", StringType),
      StructField("kafka_partition", IntegerType),
      StructField("offset", LongType),
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    def run(): Unit = {
      val q = StreamingIngest.startPipelineMulti(
        spark.readStream.schema(mschema)
          .option("maxFilesPerTrigger", 1).parquet(src),
        col("topic"), cfgFor, PartitionerSpec.Default, out, ckpt,
        col("kafka_partition"), col("offset"),
        payloadCols = Seq(col("offset"), col("doc_id"), col("text")),
        writeManifest = true, gates = gateStack)
      q.awaitTermination(120000)
    }

    // batch-mode oracle per topic over the FULL input
    val full = (0 until 4).map(fileRows).reduce(_.unionByName(_))
    val gatedFull = gateStack.foldLeft(full)((a, g) => g(a))
    def expectFor(t: String): Map[Long, String] = gatedFull
      .filter(col("topic") === t)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val expect = Map("tA" -> expectFor("tA"), "tB" -> expectFor("tB"))
    assert(expect("tA").size == 8 && expect("tB").size == 8, expect)

    // phase 1: two micro-batches, then lose the newest commit marker —
    // the restart must REPLAY that batch into BOTH topic subtrees
    writeFile(0); writeFile(1)
    run()
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("."))
    val newest = commits.maxBy(_.getName.toInt)
    assert(newest.delete(), s"could not drop $newest")
    val crc = new java.io.File(newest.getParentFile,
      s".${newest.getName}.crc")
    if (crc.exists()) assert(crc.delete(), s"could not drop $crc")

    // phase 2: resume from the same checkpoint with two more files
    writeFile(2); writeFile(3)
    run()

    for (t <- Seq("tA", "tB")) {
      val got = spark.read.parquet(s"$out/topics/$t")
        .select("doc_id", "text").as[(Long, String)].collect()
      assert(got.length == expect(t).size,
        s"$t exactly-once violated: ${got.length} vs ${expect(t).size}")
      assert(got.toMap == expect(t), s"$t keep set diverged")
      val committed = graft.ingest.Compaction
        .readCommitted(spark, out, cfgFor(t))
        .select("doc_id", "text").as[(Long, String)].collect()
      assert(committed.toMap == expect(t) &&
        committed.length == expect(t).size,
        s"$t manifest snapshot must equal the keep set after replay")
      val vac = graft.ingest.Compaction.vacuum(spark, out, cfgFor(t),
        dryRun = true)
      assert(vac.orphanCount == 0L, s"$t stranded objects: ${vac.orphans}")
    }
    // the flush-size knob really was per-topic: tA (flush 2) must cut
    // more, smaller files than tB (flush 100 → one file per batch+part)
    def nFiles(t: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$out/topics/$t"))
        .count(f => f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("."))
    }
    assert(nFiles("tA") > nFiles("tB"),
      s"per-topic flush sizes had no effect: tA=${nFiles("tA")} " +
        s"tB=${nFiles("tB")}")
  }

  test("firstWinsDedup: content-keyed custom state dedups across batches " +
    "with the min-id winner, schema passing through intact") {
    val src = Files.createTempDirectory("fw_src").toString
    // batch 1: "aaa" appears twice (ids 3 and 1 -> 1 must win), "bbb" once
    Seq((3L, "aaa", "s1"), (1L, "aaa", "s2"), (2L, "bbb", "s1"))
      .toDF("doc_id", "text", "source")
      .coalesce(1).write.mode("append").parquet(src)
    // batch 2: "aaa"/"bbb" replayed (suppressed by STATE, not watermark),
    // "ccc" is new
    Seq((9L, "aaa", "s3"), (8L, "bbb", "s3"), (7L, "ccc", "s2"))
      .toDF("doc_id", "text", "source")
      .coalesce(1).write.mode("append").parquet(src)

    val sschema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("source", StringType)))
    val stream = spark.readStream.schema(sschema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = StreamingIngest.firstWinsDedup(stream,
      xxhash64(col("text")), col("doc_id"))
      .writeStream.outputMode("append").format("memory")
      .queryName("fw_dedup").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val rows = spark.table("fw_dedup")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "aaa", "s2"), (2L, "bbb", "s1"),
      (7L, "ccc", "s2")), s"got $rows")
  }

  test("runningDistinct: per-group HLL register state folds across " +
    "micro-batches, and the final streaming estimate is BIT-EQUAL to " +
    "batch hllDistinct over all rows seen") {
    import graft.analytics.Sketches
    val src = Files.createTempDirectory("rd_src").toString
    // group g: 500 fresh items per batch (growing cardinality across the
    // batch boundary); group h: batch 1 only; batch 2 replays half of
    // g's batch-1 items (idempotent max must not inflate the estimate)
    val b1 = (1 to 500).map(i => ("g", s"item$i")) ++
      (1 to 300).map(i => ("h", s"only$i"))
    val b2 = (501 to 1000).map(i => ("g", s"item$i")) ++
      (1 to 250).map(i => ("g", s"item$i"))
    b1.toDF("grp", "it").coalesce(1).write.mode("append").parquet(src)
    b2.toDF("grp", "it").coalesce(1).write.mode("append").parquet(src)

    val sschema = StructType(Seq(StructField("grp", StringType),
      StructField("it", StringType)))
    val stream = spark.readStream.schema(sschema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = StreamingIngest.runningDistinct(stream, col("grp"), col("it"))
      .writeStream.outputMode("update").format("memory")
      .queryName("rd_updates").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val ups = spark.table("rd_updates")
      .as[(String, Long, Long)].collect().toSeq
    // registers only grow, so per group the LAST update is the max
    val lastG = ups.filter(_._1 == "g").map(_._3).max
    val lastH = ups.filter(_._1 == "h").map(_._3).max
    assert(ups.count(_._1 == "g") == 2, s"g must update in both batches: $ups")
    val batch = Sketches.hllDistinct(
        (b1 ++ b2).toDF("grp", "it"), col("grp"), col("it"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(lastG == batch("g"),
      s"streaming g=$lastG != batch ${batch("g")}")
    assert(lastH == batch("h"),
      s"streaming h=$lastH != batch ${batch("h")}")
    // the cross-batch fold was real: g's batch-1 estimate tracked ~500,
    // the post-fold estimate ~1000 — strictly larger
    val firstG = ups.filter(_._1 == "g").map(_._3).min
    assert(firstG < lastG, s"g estimate must grow across batches: $ups")
    assert(math.abs(lastG - 1000.0) / 1000.0 < 0.15,
      s"g estimate $lastG out of band for 1000 distinct")
  }

  test("runningKmv: min-set state folds across micro-batches " +
    "idempotently under replay, and the final estimate is BIT-EQUAL " +
    "to batch kmvDistinct over all rows seen") {
    import graft.analytics.Sketches
    val src = Files.createTempDirectory("kmv_src").toString
    // group g grows across the boundary; batch 2 replays 250 of g's
    // batch-1 items (min-set union must not move); h is batch-1-only
    // and stays UNDER k=64 distinct (exact-count branch)
    val b1 = (1 to 500).map(i => ("g", s"item$i")) ++
      (1 to 40).map(i => ("h", s"only$i"))
    val b2 = (501 to 1000).map(i => ("g", s"item$i")) ++
      (1 to 250).map(i => ("g", s"item$i"))
    b1.toDF("grp", "it").coalesce(1).write.mode("append").parquet(src)
    b2.toDF("grp", "it").coalesce(1).write.mode("append").parquet(src)

    val sschema = StructType(Seq(StructField("grp", StringType),
      StructField("it", StringType)))
    val stream = spark.readStream.schema(sschema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = StreamingIngest.runningKmv(stream, col("grp"), col("it"))
      .writeStream.outputMode("update").format("memory")
      .queryName("kmv_updates").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val ups = spark.table("kmv_updates")
      .as[(String, Long, Long)].collect().toSeq
    assert(ups.count(_._1 == "g") == 2, s"g must update in both batches: $ups")
    val batch = Sketches.kmvDistinct(
        (b1 ++ b2).toDF("grp", "it"), col("grp"), col("it"), k = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the k-th minimum only decreases as items arrive, so the estimate
    // only grows — per group the final state is the max update
    val lastG = ups.filter(_._1 == "g").map(_._3).max
    val lastH = ups.filter(_._1 == "h").map(_._3).max
    assert(lastG == batch("g"), s"streaming g=$lastG != batch ${batch("g")}")
    assert(lastH == batch("h") && lastH == 40L,
      s"h must hit the exact-count branch: $lastH vs ${batch("h")}")
    // the replay didn't inflate: g's estimate is in band for 1000
    assert(math.abs(lastG - 1000.0) / 1000.0 < 0.3,
      s"g estimate $lastG out of band for 1000 distinct")
  }

  test("kmvOverlapFromSnapshots: theta intersection served from live " +
    "streaming state — two groups' latest snapshots answer the overlap " +
    "BIT-EQUAL to batch kmvOverlap over every row seen, across a " +
    "planted replay") {
    import graft.analytics.Sketches
    val src = Files.createTempDirectory("kmvo_src").toString
    // groups g and h share items shared1..shared200; g additionally has
    // 400 own items, h 150. batch 2 REPLAYS 100 of g's shared items and
    // 50 of h's own (min-set union must not move), and extends both.
    val b1 = (1 to 100).map(i => ("g", s"shared$i")) ++
      (1 to 200).map(i => ("g", s"gonly$i")) ++
      (1 to 150).map(i => ("h", s"shared$i")) ++
      (1 to 100).map(i => ("h", s"honly$i"))
    val b2 = (1 to 100).map(i => ("g", s"shared$i")) ++ // replay
      (101 to 200).map(i => ("g", s"shared$i")) ++
      (201 to 400).map(i => ("g", s"gonly$i")) ++
      (151 to 200).map(i => ("h", s"shared$i")) ++
      (1 to 50).map(i => ("h", s"honly$i")) // replay
    b1.toDF("grp", "it").coalesce(1).write.mode("append").parquet(src)
    b2.toDF("grp", "it").coalesce(1).write.mode("append").parquet(src)

    val sschema = StructType(Seq(StructField("grp", StringType),
      StructField("it", StringType)))
    val stream = spark.readStream.schema(sschema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = StreamingIngest.runningKmvSnapshot(stream, col("grp"),
        col("it"), k = 64)
      .writeStream.outputMode("update").format("memory")
      .queryName("kmv_snaps").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    // latest snapshot per group = max cumulative total_items
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group")).orderBy(col("total_items").desc)
    val latest = spark.table("kmv_snaps")
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rk") === 1).drop("rk")
    assert(latest.count() == 2, "one latest snapshot per live group")
    val streamed = StreamingIngest.kmvOverlapFromSnapshots(
        latest, col("group"), col("hs"), k = 64)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val batch = Sketches.kmvOverlap(Sketches.kmvSignature(
        (b1 ++ b2).toDF("grp", "it"), col("grp"), col("it"), k = 64),
        k = 64)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(streamed.sorted.toSeq == batch.sorted.toSeq,
      s"streamed overlap ${streamed.toSeq} != batch ${batch.toSeq}")
    // and the estimate is in band for the planted truth (200 shared)
    val est = streamed.head._3
    assert(math.abs(est - 200.0) / 200.0 < 0.5,
      s"overlap estimate $est out of band for 200 shared items")
  }

  test("streaming CM sink: batchId-keyed slices make the non-idempotent " +
    "sum-merge replay-safe — a replayed committed batch is skipped, a " +
    "partial slice is overwritten, and the merged cells equal the " +
    "single-pass batch sketch exactly") {
    import graft.analytics.Sketches
    val src = Files.createTempDirectory("cm_src").toString
    val out = Files.createTempDirectory("cm_out").toString
    val ckpt = Files.createTempDirectory("cm_ckpt").toString
    // two micro-batches with overlapping items (the overlap is what a
    // double-counted replay would inflate)
    val b1 = (1 to 400).map(i => (s"tok${i % 80}", 1L))
    val b2 = (1 to 300).map(i => (s"tok${i % 50}", 2L))
    b1.toDF("it", "wt").coalesce(1).write.mode("append").parquet(src)
    b2.toDF("it", "wt").coalesce(1).write.mode("append").parquet(src)

    val sschema = StructType(Seq(StructField("it", StringType),
      StructField("wt", LongType)))
    val stream = spark.readStream.schema(sschema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = StreamingIngest.startCmSink(stream, col("it"), col("wt"),
      out, ckpt)
    q.awaitTermination(60000)

    // streamed == batch: the merged slice table must equal cmCells over
    // ALL rows, cell for cell (sum-merge over a true partition)
    def cellMap(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val merged = cellMap(StreamingIngest.readCmCells(spark, out)
      .select(col("r").cast("int"), col("c"), col("cell")))
    val batch = cellMap(Sketches.cmCells((b1 ++ b2).toDF("it", "wt"),
      col("it"), col("wt"))
      .select(col("r").cast("int"), col("c"), col("cell")))
    assert(merged == batch,
      s"merged cells diverge: ${merged.size} vs ${batch.size} cells")

    // planted replay of a COMMITTED batch: must be skipped (false) and
    // leave the cells byte-identical — the naive re-sum would inflate
    // every overlapped cell
    val replayed = StreamingIngest.persistCmBatch(
      b1.toDF("it", "wt"), 0L, out, col("it"), col("wt"))
    assert(!replayed, "a committed slice must not be re-applied")
    assert(cellMap(StreamingIngest.readCmCells(spark, out)
      .select(col("r").cast("int"), col("c"), col("cell"))) == batch)

    // planted PARTIAL slice (crashed attempt: data, no _SUCCESS): the
    // replay must overwrite in place, not append on top
    val part = new java.io.File(out, "batch_id=7")
    Seq((0, 1L, 999L)).toDF("r", "c", "cell")
      .coalesce(1).write.mode("overwrite").parquet(part.toString)
    new java.io.File(part, "_SUCCESS").delete()
    // the read side must exclude the uncommitted slice BEFORE any replay
    // overwrites it — a crashed attempt's partial mass never reaches the
    // merged cells (committed slices only, not partition discovery)
    assert(cellMap(StreamingIngest.readCmCells(spark, out)
      .select(col("r").cast("int"), col("c"), col("cell"))) == batch,
      "an uncommitted partial slice leaked into the merged cells")
    val b3 = Seq(("extra", 5L))
    assert(StreamingIngest.persistCmBatch(
      b3.toDF("it", "wt"), 7L, out, col("it"), col("wt")),
      "an uncommitted slice must be (re)written")
    val withB3 = cellMap(StreamingIngest.readCmCells(spark, out)
      .select(col("r").cast("int"), col("c"), col("cell")))
    val batch3 = cellMap(Sketches.cmCells(
      (b1 ++ b2 ++ b3).toDF("it", "wt"), col("it"), col("wt"))
      .select(col("r").cast("int"), col("c"), col("cell")))
    assert(withB3 == batch3,
      "overwritten slice must contribute exactly its batch's cells")
  }

  test("firstWinsDedup kill-and-resume soak with a STRING content key: " +
    "restart from the checkpoint — including a replayed batch whose " +
    "commit marker was lost — re-emits the same keep decisions: no " +
    "duplicate escapes, no first arrival is lost") {
    // State-store recovery is exactly where streaming dedup breaks in
    // production: a replayed micro-batch must re-derive the SAME keep
    // decisions from the restored state version, not re-admit keys it
    // already emitted. The content key is md5 hex — a STRING — pinning
    // the any-Column key contract (a long-only cast would null it out
    // and collapse every row into one group).
    val src = Files.createTempDirectory("fwsoak_src").toString
    val out = Files.createTempDirectory("fwsoak_out").toString
    val ckpt = Files.createTempDirectory("fwsoak_ckpt").toString
    // per file: a NEW key arriving twice out of id order (min id must
    // win within the key's first batch) + a cross-batch replay of key0
    // (file 0 holds three key0 rows; later files' key0 row must be
    // suppressed by restored STATE, not batch-local dedup)
    def fileRows(f: Int) = Seq(
      (f * 10L + 2, s"key$f", s"s$f"),
      (f * 10L + 1, s"key$f", s"s$f"),
      (f * 10L + 5, "key0", s"s$f"))
      .toDF("doc_id", "text", "source")
    def writeFile(f: Int): Unit =
      fileRows(f).coalesce(1).write.mode("append").parquet(src)
    val sschema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("source", StringType)))
    def run(): Unit = {
      val stream = spark.readStream.schema(sschema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = StreamingIngest.firstWinsDedup(stream,
        md5(col("text")), col("doc_id"))
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    // phase 1: two micro-batches to completion, then drop the newest
    // commit marker — the restart must REPLAY that batch against the
    // prior state version (the same lost-commit crash window the ingest
    // soaks hold)
    writeFile(0); writeFile(1)
    run()
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("."))
    val newest = commits.maxBy(_.getName.toInt)
    assert(newest.delete(), s"could not drop $newest")
    val crc = new java.io.File(newest.getParentFile,
      s".${newest.getName}.crc")
    if (crc.exists()) assert(crc.delete(), s"could not drop $crc")
    // phase 2: two more files, resume from the same checkpoint
    writeFile(2); writeFile(3)
    run()
    val got = spark.read.parquet(out)
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    val expect = (0 until 4).map(f => (f * 10L + 1, s"key$f", s"s$f"))
    assert(got == expect,
      s"exactly-once violated across restart: $got vs $expect")
  }
}
