package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rotation predicates (SURVEY §2.5) re-expressed as deterministic
  * file-group assignment.
  *
  * The reference rotates imperatively as records stream through a state
  * machine (`TopicPartitionWriter.java:426-528`). In the Spark model a "file"
  * is a group key computed declaratively from the data; the writer emits one
  * object per group. This is order-independent and therefore replay-safe,
  * which is what makes exactly-once (X1) free under micro-batch retry.
  */
object Rotation {
  val FileIndexCol = "_file_index"
  val StartOffsetCol = "_file_start_offset"

  /** R1 size-based rotation (`flush.size`,
    * TopicPartitionWriter.java:813-823): within each encoded partition,
    * consecutive records in offset order fill files of `flushSize` records;
    * each file's name derives from its min offset (X1). Adds
    * `_file_index` and `_file_start_offset`.
    *
    * Scale note: both windows share one partitioning and ordering, so they
    * cost one shuffle and one sort, and each file's rows come out
    * contiguous and in offset order (its first row's offset carried
    * forward as the start offset).
    */
  def assignSizeFiles(df: DataFrame, partitionCol: Column, offsetCol: Column,
                      flushSize: Int): DataFrame = {
    require(flushSize > 0, "flush.size must be positive")
    val w = Window.partitionBy(partitionCol).orderBy(offsetCol)
    df.withColumn(FileIndexCol, row_number().over(w) - 1)
      .withColumn(StartOffsetCol, last(when(col(FileIndexCol) % flushSize === 0,
        offsetCol), ignoreNulls = true).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn(FileIndexCol, floor(col(FileIndexCol) / flushSize))
  }

  val EraCol = "_commit_era"

  /** R3 `rotate.file.on.partition.change=false` × R1 `flush.size` — the
    * reference's EXACT interleaving semantics
    * (TopicPartitionWriter.java:630-656 with
    * shouldRotateOnPartitionChange()=false, `recordCount` global at :945,
    * commitFiles() committing EVERY open file at :959-983; layout pinned
    * by TopicPartitionWriterTest.java:655-708,2616-2688): when partition-
    * change rotation is OFF, the writer keeps one open file PER encoded
    * partition (`writers` map, :887) and records append to their encoded
    * partition's file across partition changes; the size trigger counts
    * records WRITER-GLOBALLY (`recordCount >= flushSize`, :814), and the
    * resulting commit closes ALL open files at once.
    *
    * Declaratively: the commit ERA is `floor(writer_rank / flushSize)`
    * over the writer's records in offset order — a plain window — and a
    * file is the (writer, era, encodedPartition) group, named by its min
    * offset (the reference's `startOffsets[ep]`, seeded at :899 when the
    * ep's file opens and cleared by the commit). No sequential fold
    * needed: unlike R2's base-reset rule the trigger depends only on the
    * global rank, so the assignment is order-free and replay-safe (X1).
    *
    * Scale: ONE shuffle by writer (the window), then the per-file min
    * rides a second window over the same partitioning — at 100 TB this
    * is per-kafka-partition work, the same distribution the reference's
    * one-writer-per-partition model prescribes. Adds `_commit_era`,
    * `_file_index` (= era) and `_file_start_offset`. */
  def assignWriterSizeFiles(df: DataFrame, writerCol: Column,
                            encodedPartCol: Column, offsetCol: Column,
                            flushSize: Int): DataFrame = {
    require(flushSize > 0, "flush.size must be positive")
    val w = Window.partitionBy(writerCol).orderBy(offsetCol)
    val withEra = df.withColumn(EraCol,
      floor((row_number().over(w) - 1) / flushSize))
    val wf = Window.partitionBy(writerCol, col(EraCol), encodedPartCol)
    withEra
      .withColumn(FileIndexCol, col(EraCol))
      .withColumn(StartOffsetCol, min(offsetCol).over(wf))
  }

  /** R2 event-time rotation (`rotate.interval.ms`,
    * TopicPartitionWriter.java:658-702): bucket by
    * `floor(extractedTs / interval)`.
    *
    * Documented divergence: the reference's predicate is
    * `ts - firstRecordTsOfFile >= interval` (file base resets on rotation —
    * a sequential, arrival-order-dependent rule). Fixed epoch-aligned
    * buckets give the same file cadence for in-order data but are
    * deterministic under replay and parallelism, which the reference's rule
    * is not. */
  def timeFileGroup(ts: Column, intervalMs: Long): Column =
    floor(unix_millis(ts) / intervalMs)

  val TimeGroupCol = "_time_group"

  /** R2 with the reference's EXACT sequential semantics
    * (TopicPartitionWriter.java:663-665): rotate when
    * `recordTs - firstRecordTsOfCurrentFile >= interval`, and the rotating
    * record's timestamp becomes the new file's base. The base resets on
    * every rotation, so the rule is a per-partition recursion no window
    * function expresses — each partition's record stream folds task-side
    * instead: repartition by the group key, sort within partitions by
    * offset, one linear pass assigns `_time_group`.
    *
    * `groupKey` must be the scope that owns ONE base timestamp. The
    * reference scopes it per TopicPartitionWriter — ONE
    * `baseRecordTimestamp` per KAFKA partition shared by all of its
    * encoded partitions (TopicPartitionWriter.java:103, seeded 358-359,
    * nulled for the whole writer by commitFiles at 984) — so `Ingest.run`
    * passes the kafka-partition column alone, and one record's rotation
    * advances the group for every encoded partition of that writer. Pass
    * a (kafkaPartition, encodedPartition) struct only if you explicitly
    * want per-encoded-partition bases, which the reference does NOT do.
    *
    * Determinism: the fold is a pure function of (key, offset order, ts),
    * so replays regenerate identical groups (X1 holds). Scale: one extra
    * hash shuffle + an O(1)-state streaming pass per task — the price of
    * arrival-order semantics; the epoch-aligned `timeFileGroup` remains
    * the default because it needs no extra exchange and is order-free. */
  def assignFileBaseTimeGroups(df: DataFrame, groupKey: Column,
                               offsetCol: Column, ts: Column,
                               intervalMs: Long): DataFrame = {
    require(intervalMs > 0, "rotate.interval.ms must be positive")
    val KeyCol = "__tg_key"
    val TsCol = "__tg_ts"
    val keyed = df
      .withColumn(KeyCol, groupKey.cast("string"))
      .withColumn(TsCol, unix_millis(ts))
      .repartition(col(KeyCol))
      .sortWithinPartitions(col(KeyCol), offsetCol)
    val outSchema = keyed.schema
      .add(TimeGroupCol, org.apache.spark.sql.types.LongType, nullable = false)
    val folded = keyed.mapPartitions { it =>
      var curKey: String = null
      var haveBase = false
      var base = 0L
      var group = 0L
      var tsPos = -1 // resolved from the first row (schema is stable)
      it.map { r =>
        if (tsPos < 0) tsPos = r.fieldIndex(TsCol)
        val k = r.getAs[String](KeyCol)
        if (k != curKey) { curKey = k; haveBase = false; group = 0L }
        // null event time (e.g. a tombstone without K12 fallback applied):
        // the reference skips time-rotation for records its extractor
        // can't time (TopicPartitionWriter.java:658-665 guards on the
        // extractor) — such records stay in the current file and never
        // seed or advance the base; the key's FIRST timed record becomes
        // the file base (never a previous key's leftover state)
        if (!r.isNullAt(tsPos)) {
          val t = r.getLong(tsPos)
          if (!haveBase) { haveBase = true; base = t }
          else if (t - base >= intervalMs) { base = t; group += 1L }
        }
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ group)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    folded.drop(KeyCol, TsCol)
  }

  /** R4 wall-clock scheduled rotation maps to streaming trigger cadence
    * (`Trigger.ProcessingTime`); within a batch there is nothing to assign.
    * Exposed for completeness: the next day-aligned fire time in `tz`
    * (reference: DateTimeUtils.getNextTimeAdjustedByDay,
    * TopicPartitionWriter.java:775-796). */
  def nextScheduledRotation(nowMs: Long, intervalMs: Long,
                            tz: java.time.ZoneId): Long = {
    val now = java.time.Instant.ofEpochMilli(nowMs).atZone(tz)
    val dayStart = now.toLocalDate.atStartOfDay(tz).toInstant.toEpochMilli
    val sinceDayStart = nowMs - dayStart
    dayStart + ((sinceDayStart / intervalMs) + 1) * intervalMs
  }

  /** R6 tombstone/non-tombstone transition rotation: null-value rows never
    * share a file with data rows (TopicPartitionWriter.java:380-403). */
  def tombstoneFileGroup(value: Column): Column = value.isNull
}
