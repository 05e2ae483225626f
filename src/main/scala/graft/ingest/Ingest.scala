package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Declarative partitioner configuration — the Spark equivalent of the
  * reference's `partitioner.class` + related keys (S3SinkConnectorConfig
  * .java:300-308), as a composable ADT instead of reflection. */
sealed trait PartitionerSpec
object PartitionerSpec {
  /** K1: partition=<kafkaPartition>. */
  case object Default extends PartitionerSpec
  /** K2/K3/K4: `partition.field.name` list; dotted paths reach into structs. */
  final case class Fields(names: Seq[String]) extends PartitionerSpec
  /** K5-K7: time-based with the reference's default path format at the given
    * granularity, driven by `timestampColumn` (K12 extractor choice). */
  final case class Hourly(timestampColumn: String) extends PartitionerSpec
  final case class Daily(timestampColumn: String) extends PartitionerSpec
  /** K5 with explicit `path.format` (Joda pattern) + `timezone` +
    * `locale` keys (locale only affects text month/day-name tokens;
    * `null` = locale-free pattern). */
  final case class TimeFormat(timestampColumn: String, pathFormat: String,
                              timezone: String = "UTC",
                              locale: String = null) extends PartitionerSpec
  /** K8 wrapper: affix schema_name=<name>. */
  final case class SchemaAffix(inner: PartitionerSpec, schemaName: String,
                               prefix: Boolean = true) extends PartitionerSpec
  /** K9 wrapper: null `valueColumn` routes to the tombstone partition. */
  final case class TombstoneAware(inner: PartitionerSpec, valueColumn: String,
                                  tombstonePartition: String = "tombstone")
      extends PartitionerSpec
  /** K11: user-supplied expression. */
  final case class Custom(encoded: Column) extends PartitionerSpec

  /** Compile the spec to a Column (K10 wrapper-chain composition). */
  def compile(spec: PartitionerSpec, kafkaPartition: Column): Column =
    spec match {
      case Default => Partitioners.defaultPartition(kafkaPartition)
      case Fields(names) =>
        Partitioners.fieldPartition(names.map(n => n -> col(n)): _*)
      case Hourly(ts) => Partitioners.hourlyPartition(col(ts).cast("timestamp"))
      case Daily(ts) => Partitioners.dailyPartition(col(ts).cast("timestamp"))
      case TimeFormat(ts, fmt, tz, loc) =>
        Partitioners.timePartition(col(ts).cast("timestamp"), fmt, tz, loc)
      case SchemaAffix(inner, name, prefix) =>
        Partitioners.schemaNameAffix(compile(inner, kafkaPartition),
          lit(name), prefix)
      case TombstoneAware(inner, valueCol, tomb) =>
        Partitioners.tombstoneAware(col(valueCol),
          compile(inner, kafkaPartition), tomb)
      case Custom(c) => c
    }
}

/** The whole connector, config-driven: null handling → partition-key
  * computation → rotation grouping → partitioned write (+ K/V/H views) —
  * the single call a reference user swaps their connector config for.
  * Streaming callers wrap this in foreachBatch (StreamingIngest.start). */
object Ingest {

  /** `reportedNulls`: under IgnoreNulls + `report.null.values.to.dlq`,
    * the tombstones this run dropped — lazy, route to a DLQ sink or
    * count; None when nothing is reportable. */
  final case class Result(files: Seq[IngestWriter.FileInfo],
                          stats: RotationStats,
                          reportedNulls: Option[
                            org.apache.spark.sql.DataFrame] = None)

  /** `extraCauseGroups` are additional labeled file-group columns (e.g.
    * `"schema_change:version" -> versionCol`, `"tombstone" -> value.isNull`)
    * — each becomes part of the rotation group key AND the label used when
    * per-cause diagnostics attribute a file boundary to it.
    * `causeStats` opts in to the per-cause classification job (R10). */
  def run(frame: DataFrame, cfg: IngestConfig, partitioner: PartitionerSpec,
          outDir: String,
          kafkaPartition: Column = col("kafka_partition"),
          offset: Column = col("offset"),
          payloadCols: Seq[Column],
          valueColumnForNulls: Option[String] = None,
          writeManifest: Boolean = false,
          extraCauseGroups: Seq[(String, Column)] = Nil,
          causeStats: Boolean = false,
          fence: Option[(EpochFence, Long)] = None): Result = {
    // W8/X4: verify this writer generation still holds the newest epoch —
    // once before doing work and again at the commit point (claim-then-
    // verify; see EpochFence for the guarantee)
    fence.foreach { case (f, e) => f.check(e) }
    val cleaned = valueColumnForNulls match {
      case Some(v) => RecordViews.applyNullBehavior(frame, cfg.nullBehavior, v)
      case None => frame
    }
    // report.null.values.to.dlq: under IgnoreNulls the dropped tombstones
    // surface on the Result for DLQ routing (reference default true)
    val reportedNulls = valueColumnForNulls.collect {
      case v if cfg.nullBehavior == RecordViews.IgnoreNulls &&
        cfg.reportNullsToDlq =>
        frame.filter(col(v).isNull)
          .withColumn("dlq_reason", lit("null_value"))
    }
    val encoded = PartitionerSpec.compile(partitioner, kafkaPartition)
    // R2: epoch-aligned buckets by default; the reference's sequential
    // file-base-reset rule on request (materializes the fold's group col).
    // The fold keys by kafkaPartition ALONE: the reference keeps ONE
    // baseRecordTimestamp per TopicPartitionWriter (TopicPartitionWriter
    // .java:103, seeded 358-359), and a time rotation commits ALL of that
    // partition's encoded-partition files and nulls the shared base (984)
    // — so with a field/time partitioner a rotation triggered by one
    // encoded partition's record also closes every sibling's open file.
    val (framed, timeGroup) = cfg.rotateIntervalMs match {
      case Some(iv) if cfg.rotateFileBase =>
        val withG = Rotation.assignFileBaseTimeGroups(cleaned,
          kafkaPartition, offset,
          col(cfg.timestampColumn).cast("timestamp"), iv)
        (withG, Seq("rotate_interval" -> col(Rotation.TimeGroupCol)))
      case Some(iv) =>
        (cleaned, Seq("rotate_interval" -> Rotation.timeFileGroup(
          col(cfg.timestampColumn).cast("timestamp"), iv)))
      case None => (cleaned, Nil)
    }
    val labeledGroups = timeGroup ++ extraCauseGroups
    val grouped = IngestWriter.group(framed, cfg, encoded, kafkaPartition,
      offset, labeledGroups.map(_._2))
    // per-cause diagnostics read the grouping again after the write;
    // without a persist they would re-read the SOURCE (in foreachBatch the
    // batch is a plan over source files) and re-shuffle. The manifest
    // needs no second read: the write pass tallies its tags. Scoped: the
    // cache lives exactly as long as the passes that share it, so BATCH
    // callers looping Ingest.run leak nothing.
    val (files, tags, byCause) = graft.analytics.Caches.scoped {
      val shared =
        if (causeStats) graft.analytics.Caches.persist(grouped) else grouped
      val (written, tags) = IngestWriter.writeGroups(shared, cfg, outDir,
        kafkaPartition, offset, IngestWriter.views(cfg, payloadCols),
        tagged = writeManifest)
      val causes =
        if (causeStats)
          RotationStats.causes(shared, cfg, kafkaPartition, labeledGroups)
        else Map.empty[String, Long]
      (written, tags, causes)
    }
    fence.foreach { case (f, e) => f.check(e) }
    if (writeManifest)
      CommitManifest.writeGeneration(frame.sparkSession,
        s"$outDir/${cfg.topicsDir}/${cfg.topic}", tags)
    val stats = RotationStats.of(files).copy(byCause = byCause)
    Result(files, stats, reportedNulls)
  }

  /** Multi-topic ingest — the reference's `topics` list
    * (S3SinkTask.java:229-276 routes each record by `record.topic` to its
    * own TopicPartitionWriter tree): records partition by their topic
    * column and each topic runs the standard pipeline under its own
    * `<topics.dir>/<topic>/` subtree, with a per-topic config (same knobs,
    * different topic — or genuinely different formats/flush sizes, which
    * the reference cannot express). Driver-side work is one `distinct()`
    * over topic VALUES — bounded by the subscription size, never record
    * count; each topic's job reads only its slice (predicate pushed to the
    * scan). */
  def runMulti(frame: DataFrame, topicCol: Column,
               cfgFor: String => IngestConfig,
               partitioner: PartitionerSpec, outDir: String,
               kafkaPartition: Column = col("kafka_partition"),
               offset: Column = col("offset"),
               payloadCols: Seq[Column],
               valueColumnForNulls: Option[String] = None,
               writeManifest: Boolean = false): Map[String, Result] = {
    val topicVals = frame.select(topicCol.cast("string").as("t"))
      .distinct().collect().map(_.getString(0))
    // Kafka guarantees every record a topic; a null here means the routing
    // column is wrong — fail loudly rather than NPE in the sort or
    // silently drop the records (topicCol === null matches nothing)
    require(!topicVals.contains(null),
      "runMulti: null topic value — check the topic routing column")
    val topics = topicVals.sorted
    topics.map { t =>
      t -> run(frame.filter(topicCol === t), cfgFor(t), partitioner, outDir,
        kafkaPartition, offset, payloadCols, valueColumnForNulls,
        writeManifest)
    }.toMap
  }
}

/** R10 rotation diagnostics (util/FileRotationTracker.java:22-171): the
  * reference counts rotations by cause per partition (flush size, rotate
  * interval, scheduled, schema-change subtypes, …). Here the write is
  * declarative, so causes derive from the same group assignment the writer
  * used: a full file rotated by `flush_size`; a short file whose successor
  * differs in a labeled group column rotated for that label's cause
  * (`rotate_interval`, `schema_change:*`, `tombstone`, …); a short file
  * with no successor closed at `batch_end` — the micro-batch commit, i.e.
  * the slot the reference's scheduled rotation occupies. */
final case class RotationStats(totalFiles: Int,
                               filesPerPartition: Map[String, Int],
                               byCause: Map[String, Long] = Map.empty) {
  def diagnostic: String =
    s"rotations: $totalFiles files across ${filesPerPartition.size} " +
      s"partitions; top=" + filesPerPartition.toSeq.sortBy(-_._2).take(5)
      .map { case (p, n) => s"$p:$n" }.mkString(",") +
      (if (byCause.isEmpty) ""
       else "; causes=" + byCause.toSeq.sorted
         .map { case (c, n) => s"$c:$n" }.mkString(","))
}
/** R10 periodic diagnostic emission
  * (TopicPartitionWriter.java:708-726: the reference logs a DIAGNOSTIC
  * line every 5 minutes so operators can see why files are or are not
  * rotating). Here the per-batch [[RotationStats]] already carry the
  * counts; this accumulator folds them across micro-batches and emits one
  * summary line per interval through `emit` (a logger by default —
  * injectable for specs and metric pipelines). Wall-clock driven like the
  * reference, with an injectable clock. Each emission RESETS the interval
  * counters, so the line reports per-interval activity and state stays
  * bounded regardless of stream lifetime — a time-partitioned stream
  * mints new encoded partitions forever, and an ever-growing set would be
  * a slow leak on a months-long query. Thread-safe: foreachBatch
  * callbacks may run on changing threads. */
final class RotationDiagnostics(
    cfg: IngestConfig,
    // scheduled (R4) rotation lives in ScheduledRotationIngest, not the
    // config — callers running one pass `true` so the line reports it
    scheduledRotation: Boolean = false,
    intervalMs: Long = 5 * 60 * 1000L,
    emit: String => Unit = s =>
      org.slf4j.LoggerFactory.getLogger(classOf[RotationDiagnostics])
        .info(s),
    clock: () => Long = () => System.currentTimeMillis()) {
  private var lastEmit = clock()
  private var batches = 0L
  private var files = 0L
  private val partitions = scala.collection.mutable.Set.empty[String]
  private val causes = scala.collection.mutable.Map.empty[String, Long]

  /** Fold one micro-batch's stats; returns the diagnostic line if this
    * call crossed the interval boundary (None otherwise). */
  def record(stats: RotationStats): Option[String] = synchronized {
    batches += 1
    files += stats.totalFiles
    partitions ++= stats.filesPerPartition.keys
    stats.byCause.foreach { case (c, n) =>
      causes.update(c, causes.getOrElse(c, 0L) + n)
    }
    val now = clock()
    if (now - lastEmit < intervalMs) None
    else {
      lastEmit = now
      val line = s"DIAGNOSTIC: topic=${cfg.topic} batches=$batches " +
        s"files=$files activePartitions=${partitions.size} " +
        s"(flush size limit: ${cfg.flushSize}), time-based rotation: " +
        (if (cfg.rotateIntervalMs.isDefined) "ENABLED" else "DISABLED") +
        ", scheduled rotation: " +
        (if (scheduledRotation) "ENABLED" else "DISABLED") +
        (if (causes.isEmpty) ""
         else "; causes=" + causes.toSeq.sorted
           .map { case (c, n) => s"$c:$n" }.mkString(","))
      emit(line)
      batches = 0L; files = 0L; partitions.clear(); causes.clear()
      Some(line)
    }
  }
}

object RotationStats {
  def of(files: Seq[IngestWriter.FileInfo]): RotationStats =
    RotationStats(files.size,
      files.groupBy(_.encodedPartition).map { case (p, fs) => p -> fs.size })

  /** Classify every file boundary of the writer's grouping by cause. One
    * aggregation to one row per file plus one window over the (small)
    * per-file frame — diagnostic metadata volume is #files, never #records. */
  private[ingest] def causes(grouped: DataFrame, cfg: IngestConfig,
                             kafkaPartition: Column,
                             labeledGroups: Seq[(String, Column)]): Map[String, Long] = {
    import org.apache.spark.sql.expressions.Window
    val gCols = labeledGroups.zipWithIndex.map { case ((_, c), i) =>
      first(c).as(s"__g$i")
    }
    val perFile = grouped
      .groupBy(kafkaPartition.as("__kp"), col("__epart"),
        col(Rotation.StartOffsetCol))
      .agg(count(lit(1)).as("__rc"), gCols: _*)
    val w = Window.partitionBy(col("__kp"), col("__epart"))
      .orderBy(col(Rotation.StartOffsetCol))
    val withNext = labeledGroups.indices.foldLeft(
      perFile.withColumn("__has_next",
        lead(col(Rotation.StartOffsetCol), 1).over(w).isNotNull)) {
      case (acc, i) =>
        acc.withColumn(s"__n$i", lead(col(s"__g$i"), 1).over(w))
    }
    val groupCause = labeledGroups.zipWithIndex.foldRight(
      lit("partition_end"): Column) { case (((label, _), i), rest) =>
      when(col("__has_next") &&
        !(col(s"__n$i") <=> col(s"__g$i")), lit(label)).otherwise(rest)
    }
    val cause = when(col("__rc") === cfg.flushSize, lit("flush_size"))
      .otherwise(when(col("__has_next"), groupCause).otherwise(lit("batch_end")))
    withNext.select(cause.as("cause"))
      .groupBy("cause").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }
}

/** W10 object tagging (TopicPartitionWriter.java:955-1102): the reference
  * tags each committed object with startOffset/endOffset/recordCount from
  * the writer's own counters. S3 object tags are an S3-API feature; the
  * engine-level equivalent is a commit manifest — one JSON line per object
  * with the same fields (plus the configured stats columns' [min, max]) —
  * written next to the data under `_graft_manifest/`. Downstream consumers
  * get the exactly-once audit trail without re-listing objects.
  *
  * The tags are counted where the bytes are written: the write pass feeds
  * every row of a value object through a [[Tally]] and returns the
  * object's manifest row with its `FileInfo`. The driver then writes the
  * batch's generation from those rows ([[writeGeneration]]) — no Spark
  * job, no cache, no read-back.
  *
  * Manifests are PER-BATCH generations,
  * `commit-<minOffset>-<maxOffset>-<keySetHash>.json`: the name derives
  * from the batch's offset range AND a hash of its object-key set, so a
  * replay of the same batch regenerates the identical name and overwrites
  * its own manifest (X1 discipline) while DISTINCT batches always
  * accumulate — Kafka offsets are per-partition, so two different batches
  * can carry coincident offset ranges (per-partition backfills, sparse
  * micro-batches); a range-only name would let the second silently
  * un-vouch the first, and a later vacuum would delete the first batch's
  * committed objects as orphans. The union of all `commit-*.json` files
  * vouches for the whole lake. */
object CommitManifest {

  /** Counts one object at a time, row by row, inside the write pass, into
    * its manifest row ([[ManifestSchema]]). From index `at` a row carries
    * the offset, the group's start offset, then one lane per `(column,
    * isString)` of `lanes`: the string itself, or the column cast to
    * double. Each stats column gets a `(c, lo, hi, slo, shi)` struct:
    * STRING columns ride the string lanes (text lakes key on ids and
    * dates-as-strings more than numerics), everything else the double
    * lanes. The unused lanes are null — to_json drops them on write and
    * they fail open on read, so old four-lane manifests and stat-less
    * generations stay readable. Min/max are Spark's `min`/`max`: nulls are
    * skipped (an all-null column leaves null lanes), NaN orders above every
    * number, -0.0 equals 0.0 (the first seen stays), strings compare by
    * UTF-8 bytes. */
  private[ingest] final class Tally(lanes: Seq[(String, Boolean)], at: Int) {
    private val names = lanes.map(_._1).toArray
    private val isString = lanes.map(_._2).toArray
    private val lo = new Array[Double](names.length)
    private val hi = new Array[Double](names.length)
    private val seen = new Array[Boolean](names.length)
    private val slo = new Array[UTF8String](names.length)
    private val shi = new Array[UTF8String](names.length)
    private var start = 0L
    private var end = 0L
    private var count = 0L

    def add(r: InternalRow): Unit = {
      val o = r.getLong(at)
      if (count == 0) { start = r.getLong(at + 1); end = o }
      else if (o > end) end = o
      count += 1
      var i = 0
      while (i < names.length) {
        val j = at + 2 + i
        if (r.isNullAt(j)) ()
        else if (isString(i)) {
          val s = r.getUTF8String(j)
          if (slo(i) == null || s.compareTo(slo(i)) < 0) slo(i) = s.clone()
          if (shi(i) == null || s.compareTo(shi(i)) > 0) shi(i) = s.clone()
        } else {
          val d = r.getDouble(j)
          if (!seen(i) || SQLOrderingUtil.compareDoubles(d, lo(i)) < 0)
            lo(i) = d
          if (!seen(i) || SQLOrderingUtil.compareDoubles(d, hi(i)) > 0)
            hi(i) = d
          seen(i) = true
        }
        i += 1
      }
    }

    /** The manifest row of the rows added since the last close; the next
      * row starts a new object. */
    def close(objectKey: String): Row = {
      val stats = names.indices.map { i =>
        val (l, h) = if (seen(i)) (lo(i), hi(i)) else (null, null)
        Row(names(i), l, h, Option(slo(i)).map(_.toString).orNull,
          Option(shi(i)).map(_.toString).orNull)
      }
      java.util.Arrays.fill(seen, false)
      java.util.Arrays.fill(slo.asInstanceOf[Array[AnyRef]], null)
      java.util.Arrays.fill(shi.asInstanceOf[Array[AnyRef]], null)
      val tags = Row(objectKey, start, end, count,
        if (names.isEmpty) null else stats)
      count = 0
      tags
    }
  }

  /** Root-level objects key as the bare file name (no leading slash) —
    * the same relative key a recursive listing produces. */
  private[ingest] def objectKey(epart: Column, fname: Column): Column =
    when(epart === "", fname).otherwise(concat(epart, lit("/"), fname))

  private[ingest] def objectKey(epart: String, fname: String): String =
    if (epart.isEmpty) fname else s"$epart/$fname"

  private[ingest] val ManifestSchema =
    "object_key STRING, start_offset LONG, end_offset LONG, " +
      "record_count LONG, " +
      "col_stats ARRAY<STRUCT<c: STRING, lo: DOUBLE, hi: DOUBLE, " +
      "slo: STRING, shi: STRING>>"

  /** One manifest line: to_json drops null fields, so stat-less lakes
    * keep the original four-field line format (and proper escaping of
    * arbitrary partition-field values in object_key comes for free). */
  private val line = to_json(struct(col("object_key"), col("start_offset"),
    col("end_offset"), col("record_count"), col("col_stats")))

  /** bit_xor(xxhash64(object_key)) is an order-independent, overflow-free
    * 64-bit digest of the key set (keys are unique per batch, so no XOR
    * self-cancellation) — two batches share a name iff they vouch the
    * same objects, which is exactly the replay case. */
  private def generationName(start: Long, end: Long, keyHash: Long): String =
    s"commit-$start-$end-${java.lang.Long.toHexString(keyHash)}.json"

  /** Write one batch's generation from its manifest rows (one per value
    * object, from the write pass's [[Tally]]) and return its path; a batch
    * that wrote no object writes no generation. The lines are
    * `to_json` over a local relation — a projection Spark evaluates on
    * the driver, with no job — sorted by object-key bytes. The file lands
    * as `.<name>.tmp` and is renamed over its final name
    * (`IngestWriter.renameOver`), so there is no window in which
    * `committedDf` sees no manifest for a replayed batch, and a replay
    * after a crash overwrites its own leftover temp. */
  private[ingest] def writeGeneration(spark: SparkSession, topicDir: String,
                                      tags: Seq[Row]): Option[String] =
    if (tags.isEmpty) None
    else {
      val lines = spark.createDataFrame(java.util.Arrays.asList(tags: _*),
          StructType.fromDDL(ManifestSchema))
        .select(col("object_key"), line, xxhash64(col("object_key")))
        .collect().sortBy(r => UTF8String.fromString(r.getString(0)))
      val name = generationName(tags.map(_.getLong(1)).min,
        tags.map(_.getLong(2)).max, lines.map(_.getLong(2)).reduce(_ ^ _))
      val dir = new Path(s"$topicDir/_graft_manifest")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val (tmp, dest) = (new Path(dir, s".$name.tmp"), new Path(dir, name))
      val os = fs.create(tmp, true)
      try lines.foreach(r => os.write(s"${r.getString(1)}\n".getBytes("UTF-8")))
      finally os.close()
      IngestWriter.renameOver(fs, tmp, dest)
      Some(dest.toString)
    }

  /** Write a distributed stats frame (`object_key, start_offset,
    * end_offset, record_count, col_stats`) as one generation under the
    * topic's manifest dir: `compactManifests`' merge over all
    * generations, which stays distributed. The lines are serialized
    * task-side and streamed to one part file, sorted inside its single
    * task (a global orderBy would add a range-sampling job); the offset
    * range and key-set hash that name the file come from reading back
    * that one file, and it is renamed over its final name. */
  private def writeStats(stats: DataFrame, topicDir: String): String = {
    val spark = stats.sparkSession
    val jsonLines = stats.coalesce(1)
      .sortWithinPartitions(col("object_key"))
      .select(line.as("value"))
    val manifestDir = s"$topicDir/_graft_manifest"
    val tmp = s"$manifestDir/_tmp"
    jsonLines.write.mode("overwrite").text(tmp)
    val tmpPath = new Path(tmp)
    val fs = tmpPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(tmpPath)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
    require(part.length == 1, s"expected 1 manifest part, got ${part.length}")
    val row = spark.read.schema(ManifestSchema)
      .json(part.head.getPath.toString)
      .agg(min(col("start_offset")), max(col("end_offset")),
        bit_xor(xxhash64(col("object_key")))).head
    require(!row.isNullAt(0), "manifest stats are empty")
    val dest = new Path(manifestDir,
      generationName(row.getLong(0), row.getLong(1), row.getLong(2)))
    IngestWriter.renameOver(fs, part.head.getPath, dest)
    fs.delete(tmpPath, true)
    dest.toString
  }

  /** The union of every manifest generation as a DataFrame
    * (`object_key, start_offset, end_offset, record_count`) — what the
    * lake as a whole is vouched for. The key set stays DISTRIBUTED: no
    * driver-resident Set of object keys, so the committed view scales to
    * millions of objects (the caller prunes/joins/counts it as a plan).
    * Duplicate keys across generations (manifest-compaction crash residue)
    * are possible; key-level consumers must de-duplicate. Returns None
    * when no manifest exists. */
  private[ingest] def committedDf(
      spark: SparkSession,
      topicDir: String): Option[DataFrame] = {
    val parts = manifestFiles(spark, topicDir)
    if (parts.isEmpty) None
    else Some(spark.read.schema(ManifestSchema)
      .json(parts.map(_.toString): _*))
  }

  /** Merge every manifest generation into ONE file (the maintenance pass
    * for long-lived lakes: generations accumulate per batch and each
    * committed-view read opens all of them). Duplicate keys keep the row
    * with the highest (end_offset, record_count) — replay residue carries
    * identical stats, so the choice only matters for crash leftovers.
    * Crash-safe order: the merged generation lands first (atomic rename),
    * old generations are deleted after — an interruption leaves duplicate
    * vouching (harmless; consumers distinct), never a vouching deficit.
    * Returns the number of old generation files removed. */
  def compactManifests(spark: SparkSession,
                       topicDir: String): Int = {
    val files = manifestFiles(spark, topicDir)
    if (files.lengthCompare(1) <= 0) return 0
    val merged = spark.read.schema(ManifestSchema)
      .json(files.map(_.toString): _*)
      .groupBy(col("object_key"))
      .agg(max_by(
        struct(col("start_offset"), col("end_offset"), col("record_count"),
          col("col_stats")),
        struct(col("end_offset"), col("record_count"), col("start_offset")))
        .as("__r"))
      .select(col("object_key"), col("__r.start_offset"),
        col("__r.end_offset"), col("__r.record_count"), col("__r.col_stats"))
    val written = writeStats(merged, topicDir)
    val writtenName = new Path(written).getName
    val fs = new Path(topicDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stale = files.filter(_.getName != writtenName)
    stale.foreach(p => fs.delete(p, false))
    stale.size
  }

  /** Paths of all current manifest generation files. */
  private[ingest] def manifestFiles(
      spark: SparkSession,
      topicDir: String): Seq[Path] = {
    val dir = new Path(s"$topicDir/_graft_manifest")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.startsWith("commit-") &&
        p.getName.endsWith(".json")).toSeq
  }
}
