package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}

import graft.ingest.{Ingest, IngestConfig, PartitionerSpec, SchemaCompat, SchemaEvolution, WireFormat}
import graft.streaming.StreamingIngest

/** Open-loop trickle of small Confluent-framed files through
  * `StreamingIngest.startWireFormatPipeline` with a continuous
  * `ProcessingTime(0)` trigger: a generator thread moves one pre-built
  * file into the watched directory on a fixed schedule. Bad-magic and
  * corrupt frames go to the DLQ; keys and headers land as Avro sidecars;
  * objects are partitioned by hour of the record timestamp. */
object TrickleWireAvro {
  val Topic = "trickle"
  val PerFile = 100
  /** Release interval, well above the 2-3 s one batch takes on a 4-vCPU
    * host, so each file finds the sink idle and gets a batch of its own.
    * At one file per second batches took the files that arrived during
    * the previous one, and freshness split into two clusters around its
    * median. */
  val IntervalMs = 4000.0
  val MinFiles = 4
  /** Leading released files whose batches are not measured: the first
    * batch of a new query ran about twice as long as the later ones. */
  val WarmFiles = 1
  /** Record timestamps 5 s apart: a run spans several hours. */
  val StepMs = 5000L
  val FlushSize = 100
  val Mode: SchemaCompat.CompatMode = SchemaCompat.Backward
  val Config: IngestConfig = IngestConfig(topic = Topic, flushSize = FlushSize,
    writeKeys = true, writeHeaders = true)
  val Partitioner: PartitionerSpec = PartitionerSpec.Hourly("timestamp")
  val Keep: Seq[String] = Seq("key", "headers", "partition", "offset", "timestamp")
  val ValueKey: String = s"schema_name=record_v1/year=\\d{4}/month=\\d{2}/day=\\d{2}/" +
    s"hour=\\d{2}/$Topic\\+\\d\\+\\d{10}\\.parquet"

  def files(seconds: Double): Int =
    WarmFiles + math.max(MinFiles, math.ceil(seconds * 1000 / IntervalMs).toInt)

  private final case class Dirs(root: Path) {
    val staged: Path = root.resolve("staged")
    val watch: Path = root.resolve("watch")
    val out: Path = root.resolve("out")
    val ckpt: Path = root.resolve("ckpt")
    val dlq: Path = root.resolve("dlq")
  }

  private def stream(run: Run, watch: Path): DataFrame = {
    Files.createDirectories(watch)
    run.spark.readStream.schema(Gen.WireSchema).parquet(watch.toString)
  }

  private def start(run: Run, d: Dirs, registry: Path, trigger: Trigger): StreamingQuery =
    StreamingIngest.startWireFormatPipeline(stream(run, d.watch), Config, Partitioner,
      d.out.toString, d.ckpt.toString, registry.toString, Mode,
      col("partition"), col("offset"), Keep, dlqDir = Some(d.dlq.toString),
      trigger = trigger)

  /** The same batch body as `startWireFormatPipeline`, with spans. */
  private def startTraced(run: Run, spans: Spans, d: Dirs, registry: Path): StreamingQuery =
    stream(run, d.watch).writeStream
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", d.ckpt.toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val t = id.toString
        // the stream thread pins every job's call site to start(); clear
        // it so each job names the engine function that submitted it
        batch.sparkSession.sparkContext.clearCallSite()
        spans("streaming.batch", t) {
          val known = spans("ingest.WireFormat.loadRegistry", t) {
            WireFormat.loadRegistry(batch.sparkSession, registry.toString).keySet
          }
          val routed = spans("ingest.WireFormat.route", t)(WireFormat.route(batch, col("value"), known))
          spans("ingest.Dlq.write", t) {
            routed.deadLetter.write.mode("overwrite").parquet(s"${d.dlq}/batch=$id")
          }
          val decoded = spans("ingest.WireFormat.decodeAll", t) {
            WireFormat.decodeAll(routed.ok, col("value"), registry.toString, Keep)
          }
          spans("ingest.Dlq.write", t) {
            decoded.corrupt.write.mode("overwrite").parquet(s"${d.dlq}/batch=$id-corrupt")
          }
          if (decoded.batches.nonEmpty) {
            val groups = spans("ingest.SchemaEvolution.resolve", t) {
              SchemaEvolution.resolve(Mode, decoded.batches)
            }
            groups.foreach { g =>
              spans("ingest.Ingest.run", t) {
                Ingest.run(g.frame, Config,
                  PartitionerSpec.SchemaAffix(Partitioner,
                    s"${g.as.name}_v${g.as.version.getOrElse(0)}"),
                  d.out.toString, kafkaPartition = col("partition"), offset = col("offset"),
                  payloadCols = g.as.struct.fieldNames.toSeq.filterNot(Keep.contains).map(col))
              }
            }
          }
        }
        ()
      }
      .start()

  def apply(run: Run): Unit = {
    val n = files(run.seconds)
    val registry = run.dir("registry")
    val plain = Dirs(run.dir("plain"))
    val digests = mutable.ArrayBuffer.empty[String]
    run.setup(3) {
      Fs.delete(plain.staged)
      Gen.writeWire(run.spark, plain.staged, registry.toString, Topic, run.seed, n,
        PerFile, StepMs)
      digests += Gen.digest(plain.staged)
    }
    run.warmup {
      // one file of another seed through the same pipeline
      val warm = Dirs(run.dir("warm"))
      Gen.writeWire(run.spark, warm.watch, registry.toString, Topic, run.seed + 7919, 1,
        PerFile, StepMs)
      run.await(start(run, warm, registry, Trigger.AvailableNow()), "warmup", 120000L)
      Fs.delete(warm.root)
    }
    run.sourcesDigest(digests.toSeq)
    run.results("source_bytes") = Fs.bytes(plain.staged)
    run.results("source_files") = n
    val traced = Dirs(run.dir("traced"))
    if (run.traced) copyStaged(plain.staged, traced.staged)

    run.results("plain") = openLoop(run, plain, n, start(run, plain, registry, Trigger.ProcessingTime(0L)))
    run.heapRetained()
    verify(run, plain, n)
    Sink.checkReplay(run, "trickle", plain.out) {
      run.await(start(run, plain, registry, Trigger.AvailableNow()), "replay", 120000L)
    }

    if (run.traced) {
      val (res, dump) = run.traced { spans =>
        openLoop(run, traced, n, startTraced(run, spans, traced, registry))
      }
      run.results("traced") = dump ++ res
      val same = committed(run, plain) == committed(run, traced) &&
        dlqOffsets(run, plain) == dlqOffsets(run, traced)
      run.check("trace.replica_commits_same_records", same,
        "traced replica committed or dead-lettered a different record set")
      val topicDir = traced.out.resolve(s"topics/$Topic")
      val reasons = dlqReasons(run, traced)
      run.results("traced_counts") = Map(
        "objects" -> Sink.objectKeys(topicDir).count(_.matches(ValueKey)),
        "bytes" -> Fs.bytes(topicDir),
        "dlq_rows" -> reasons.values.sum,
        "corrupt_rows" -> reasons.getOrElse(WireFormat.CorruptBodyReason, 0L))
    }
  }

  private def copyStaged(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    Fs.files(from).foreach { p =>
      val dest = to.resolve(p.getFileName)
      Files.copy(p, dest, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  /** Release the staged files into the watched directory on schedule,
    * then wait until every file is committed. Lateness of the
    * generator is recorded per file. */
  private def openLoop(run: Run, d: Dirs, n: Int, q: StreamingQuery): Map[String, Any] = {
    val staged = Fs.files(d.staged).sortBy(_.getFileName.toString)
    val releases = mutable.ArrayBuffer.empty[Map[String, Any]]
    @volatile var genError: Option[Throwable] = None
    val gen = new Thread(() => try {
      val t0 = Clock.nowMs + 500
      staged.zipWithIndex.foreach { case (p, k) =>
        val due = t0 + k * IntervalMs
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        Files.move(p, d.watch.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)
        releases += Map("file" -> p.getFileName.toString, "due_ms" -> due, "moved_ms" -> Clock.nowMs)
      }
    } catch { case e: Throwable => genError = Some(e) }, "perfbench-generator")
    val t0 = System.nanoTime()
    gen.start()
    gen.join()
    // processAllAvailable returns once a trigger lists no new file. A
    // trigger that listed before the last move may end just after the
    // first call begins, so call it twice: the second call's trigger
    // lists after every move. A watchdog stops the query at the deadline.
    @volatile var timedOut = false
    val watchdog = new java.util.Timer("perfbench-watchdog", true)
    watchdog.schedule(new java.util.TimerTask {
      def run(): Unit = { timedOut = true; q.stop() }
    }, 60000L)
    try { q.processAllAvailable(); q.processAllAvailable() }
    catch { case _: StreamingQueryException => () } // reported from q.exception below
    finally watchdog.cancel()
    val drained = !timedOut && q.isActive
    val wall = (System.nanoTime() - t0) / 1e9
    val batches = run.batches(q)
    q.stop()
    genError.foreach(e => run.check("trickle.generator_released_every_file", ok = false, e.toString))
    q.exception.foreach(e => run.check("trickle.no_batch_error", ok = false, e.toString))
    run.check("trickle.drained_in_time", drained,
      "not every file committed 60 s after the last release")
    run.attempted += batches.size + (if (drained) 0 else 1)
    run.failed += (if (drained) 0 else 1)
    Map("wall_s" -> wall, "batches" -> batches, "releases" -> releases.toSeq,
      "checkpoint" -> d.ckpt.toString, "per_file" -> PerFile, "warm_files" -> WarmFiles)
  }

  private def valueFrame(run: Run, d: Dirs): Option[DataFrame] = {
    val topicDir = d.out.resolve(s"topics/$Topic")
    val keys = Sink.objectKeys(topicDir).filter(_.matches(ValueKey))
    if (keys.isEmpty) None
    else Some(run.spark.read.parquet(keys.toSeq.sorted.map(k => topicDir.resolve(k).toString): _*))
  }

  /** The `seq` of every committed row, sorted; a record landing twice
    * shows up twice. */
  private def committed(run: Run, d: Dirs): Seq[Long] =
    valueFrame(run, d).map(_.select("seq").collect().map(_.getLong(0)).toSeq.sorted)
      .getOrElse(Seq.empty)

  private def dlqFrame(run: Run, d: Dirs): Option[DataFrame] = {
    val parts = Fs.files(d.dlq).filter(_.getFileName.toString.endsWith(".parquet"))
    if (parts.isEmpty) None
    else Some(run.spark.read.option("mergeSchema", "true").parquet(parts.map(_.toString): _*))
  }

  private def dlqOffsets(run: Run, d: Dirs): Set[(Int, Long)] =
    dlqFrame(run, d).map(_.select("partition", "offset").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet).getOrElse(Set.empty)

  private def dlqReasons(run: Run, d: Dirs): Map[String, Long] =
    dlqFrame(run, d).map(_.groupBy("dlq_reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap).getOrElse(Map.empty)

  /** Conservation, layout, flush size and sidecar lockstep. */
  private def verify(run: Run, d: Dirs, n: Int): Unit = {
    val gen = Gen.records(run.seed, 0, n.toLong * PerFile, StepMs).toSeq
    val bad = gen.count(_.badMagic).toLong
    val corrupt = gen.count(_.corrupt).toLong
    val expected = gen.filterNot(r => r.badMagic || r.corrupt).map(_.i).sorted
    val got = committed(run, d)
    val reasons = dlqReasons(run, d)
    val dlq = reasons.values.sum
    run.check("trickle.conservation_committed_plus_dlq_eq_generated",
      got.size + dlq == gen.size && got == expected,
      s"committed ${got.size} + dlq $dlq vs generated ${gen.size}; " +
        s"missing ${expected.diff(got).take(3)}, extra or repeated ${got.diff(expected).take(3)}")
    run.check("trickle.dlq_eq_planted_poison_plus_corrupt",
      reasons.getOrElse("bad_magic", 0L) == bad &&
        reasons.getOrElse(WireFormat.CorruptBodyReason, 0L) == corrupt && dlq == bad + corrupt,
      s"dlq reasons $reasons vs planted bad_magic=$bad corrupt=$corrupt")
    val topicDir = d.out.resolve(s"topics/$Topic")
    val all = Sink.objectKeys(topicDir)
    val values = all.filter(_.matches(ValueKey))
    Sink.checkLayout(run, "trickle", all.filterNot(k => k.endsWith(".keys.avro") ||
      k.endsWith(".headers.avro")), ValueKey)
    Sink.checkFlushSize(run, "trickle",
      Sink.perObject(run.spark, topicDir, values).map { case (k, v) => k -> v._1 }, FlushSize)
    val stems = values.map(_.stripSuffix(".parquet"))
    val keysSide = all.filter(_.endsWith(".keys.avro")).map(_.stripSuffix(".keys.avro"))
    val headersSide = all.filter(_.endsWith(".headers.avro")).map(_.stripSuffix(".headers.avro"))
    run.check("trickle.sidecars_in_lockstep", stems == keysSide && stems == headersSide,
      s"${stems.size} value objects, ${keysSide.size} .keys, ${headersSide.size} .headers")
    // file k holds records [k * PerFile, (k + 1) * PerFile)
    run.results("committed_per_file") = gen.filterNot(r => r.badMagic || r.corrupt)
      .groupBy(_.i / PerFile).map { case (k, rs) => f"file-$k%05d.parquet" -> rs.size }
    run.results("counts") = Map("generated" -> gen.size, "committed" -> got.size,
      "dlq_rows" -> dlq, "corrupt_rows" -> corrupt, "objects" -> values.size,
      "bytes" -> Fs.bytes(topicDir))
  }
}
