package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.{Ingest, IngestConfig, PartitionerSpec}
import graft.streaming.{Gates, StreamingIngest}

/** Closed-loop drain of a Parquet backlog through
  * `StreamingIngest.startPipeline`: one source file per micro-batch,
  * field partitioning, size rotation, a quality gate and the commit
  * manifest with stats on the time-ordered and one numeric column. A
  * traced run also reads the drained lake back through
  * `Compaction.readCommitted`. */
object DrainParquet {
  val Topic = "drain"
  val PerFile = 12000
  /** Measured backlog: one micro-batch per this many requested seconds
    * (a batch takes 2-3 s on a 4-vCPU host). */
  val SecondsPerBatch = 3.0
  val MinFiles = 4
  /** Leading batches of the same backlog that warm the pipeline up; their
    * time is set-up, not drain. With 2, the first measured batches still
    * ran up to a third slower than the later ones. */
  val WarmBatches = 4
  val StepMs = 1L
  /** A batch holds about 485 gated records per (kafka_partition,
    * event_type) group, so every group rotates into exactly 2 objects
    * whatever the seed. At 500 a group made 1 or 2 objects by chance,
    * and the seed moved the work per batch. */
  val FlushSize = 300

  val Config: IngestConfig = IngestConfig(topic = Topic, flushSize = FlushSize,
    statsColumns = Seq("event_ms", "amount"))
  val Partitioner: PartitionerSpec = PartitionerSpec.Fields(Seq("event_type"))
  def gates: Seq[Gates.Gate] = Seq(Gates.quality("text"))
  val Payload: Seq[Column] = Seq("key", "value", "offset", "timestamp", "headers",
    "event_type", "text", "event_ms", "amount").map(col)
  val ValueKey: String = s"event_type=t\\d/$Topic\\+\\d\\+\\d{10}\\.parquet"

  def files(seconds: Double): Int =
    WarmBatches + math.max(MinFiles, math.ceil(seconds / SecondsPerBatch).toInt)

  private def stream(run: Run, src: Path): DataFrame =
    run.spark.readStream.schema(Gen.CanonicalSchema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)

  private def start(run: Run, src: Path, out: Path, ckpt: Path): StreamingQuery =
    StreamingIngest.startPipeline(stream(run, src), Config, Partitioner,
      out.toString, ckpt.toString, col("kafka_partition"), col("offset"),
      Payload, writeManifest = true, gates = gates,
      trigger = Trigger.AvailableNow())

  /** The same batch body as `startPipeline`, with spans around each call. */
  private def startTraced(run: Run, spans: Spans, src: Path, out: Path,
                          ckpt: Path): StreamingQuery =
    stream(run, src).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val t = id.toString
        // the stream thread pins every job's call site to start(); clear
        // it so each job names the engine function that submitted it
        batch.sparkSession.sparkContext.clearCallSite()
        spans("streaming.batch", t) {
          graft.analytics.Caches.scoped {
            val gated = spans("streaming.Gates.all", t)(Gates.all(gates: _*)(batch))
            spans("ingest.Ingest.run", t) {
              Ingest.run(gated, Config, Partitioner, out.toString,
                kafkaPartition = col("kafka_partition"), offset = col("offset"),
                payloadCols = Payload, writeManifest = true)
            }
          }
        }
        ()
      }
      .start()

  private def timeoutMs(run: Run): Long = (60 + run.seconds * 4).toLong * 1000

  def apply(run: Run): Unit = {
    val n = files(run.seconds)
    val src = run.dir("source")
    val digests = scala.collection.mutable.ArrayBuffer.empty[String]
    run.setup(3) {
      Fs.delete(src)
      Gen.writeCanonical(run.spark, src, Topic, run.seed, n, PerFile, StepMs)
      digests += Gen.digest(src)
    }
    run.sourcesDigest(digests.toSeq)
    run.results("source_bytes") = Fs.bytes(src)
    run.results("source_files") = n

    val out = run.dir("out")
    val ckpt = run.dir("ckpt")
    val t0 = Clock.nowMs
    val q = start(run, src, out, ckpt)
    val finished = run.await(q, "drain", timeoutMs(run))
    val batches = run.batches(q)
    run.heapRetained()
    run.attempted += n
    run.failed += n - batches.size
    run.results("plain") = Map("start_ms" -> t0, "batches" -> batches,
      "warm_batches" -> WarmBatches, "measured_records" -> measuredRecords(run))

    verify(run, out, finished)
    Sink.checkReplay(run, "drain", out) {
      run.await(start(run, src, out, ckpt), "replay", timeoutMs(run))
    }

    if (run.traced) {
      val tout = run.dir("traced_out")
      val ((tq, tfinished, treads), dump) = run.traced { spans =>
        val tq = startTraced(run, spans, src, tout, run.dir("traced_ckpt"))
        val ok = run.await(tq, "traced_drain", timeoutMs(run))
        (tq, ok, LakeReads.round(run, reads(run, tout), spans))
      }
      run.results("traced") = dump ++ Map("batches" -> run.batches(tq), "reads" -> treads,
        "warm_batches" -> WarmBatches)
      val topicDir = tout.resolve(s"topics/$Topic")
      val keys = Sink.objectKeys(topicDir)
      run.check("trace.replica_commits_same_keys",
        tfinished && keys == Sink.objectKeys(out.resolve(s"topics/$Topic")),
        "traced replica committed a different object-key set")
      run.results("traced_counts") = Map("objects" -> keys.size, "bytes" -> Fs.bytes(topicDir),
        "generations" -> Fs.files(topicDir.resolve("_graft_manifest")).count(
          _.getFileName.toString.matches("commit-.*\\.json")))
    }
  }

  private def reads(run: Run, lake: Path): Seq[LakeReads.Query] =
    LakeReads.queries(run, lake.toString, Config, files(run.seconds), PerFile, StepMs)

  /** Records the measured (post-warm-up) batches commit, per the generator. */
  private def measuredRecords(run: Run): Long =
    Gen.records(run.seed, WarmBatches.toLong * PerFile, files(run.seconds).toLong * PerFile, StepMs)
      .count(!_.short).toLong

  /** Conservation, layout, flush size and manifest checks. */
  private def verify(run: Run, out: Path, finished: Boolean): Unit = {
    val n = files(run.seconds)
    val gen = Gen.records(run.seed, 0, n.toLong * PerFile, StepMs).toSeq
    val gated = gen.count(_.short).toLong
    val expectCount = gen.size - gated
    val expectSum = gen.filterNot(_.short).map(_.amount).sum
    val topicDir = out.resolve(s"topics/$Topic")
    val keys = Sink.objectKeys(topicDir)
    Sink.checkLayout(run, "drain", keys, ValueKey)
    val rows = Sink.perObject(run.spark, topicDir, keys)
    Sink.checkFlushSize(run, "drain", rows.map { case (k, v) => k -> v._1 }, FlushSize)
    val count = rows.values.map(_._1).sum
    val sum = rows.values.map(_._2).sum
    run.check("drain.conservation_committed_plus_gated_eq_generated",
      finished && count + gated == gen.size && count == expectCount && sum == expectSum,
      s"committed $count (+ gated $gated) vs generated ${gen.size}; sum $sum vs $expectSum")
    val generations = Sink.checkManifest(run, "drain", topicDir, keys)
    run.results("counts") = Map("generated" -> gen.size, "gated" -> gated,
      "committed" -> count, "objects" -> keys.size, "generations" -> generations,
      "bytes" -> Fs.bytes(topicDir))
  }
}
