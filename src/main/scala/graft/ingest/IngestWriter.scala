package graft.ingest

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptContext, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import scala.jdk.CollectionConverters._

/** The sink pipeline (SURVEY §3.1 mapped to Spark): derive the encoded
  * partition → assign deterministic file groups (rotation §2.5) → write one
  * object per group and view under the reference's layout contract:
  *
  *   `<out>/<topics.dir>/<topic>/<encodedPartition>/<topic>+<kafkaPartition>+<paddedStartOffset>.<ext>`
  *
  * (TopicPartitionWriter.java:868-883.)
  *
  * Execution shape: ONE hash exchange on the group key, with the session's
  * parallelism as an explicit partition count that adaptive execution may
  * not coalesce, feeds both rotation windows and the write; each file group
  * lives wholly inside one task, contiguous and in offset order. ONE
  * `mapPartitions` pass then writes every view of every group the task owns
  * (value, `.keys`, `.headers`, KeyValueHeaderRecordWriterProvider.java
  * :63-144), each object under a temp name unique to the task attempt,
  * renamed onto its final key when the group closes: the commit happens in
  * the task, with no staging dir and no promote job. Deterministic names
  * make replay idempotent (X1). The same pass tallies each value object's
  * W10 manifest tags ([[CommitManifest.Tally]]) when asked.
  */
object IngestWriter {

  final case class FileInfo(encodedPartition: String, fileName: String,
                            path: String)

  private val EpartCol = "__epart"
  private val KeyCol = "__gkey"
  private val BaseCol = "__fbase"
  private val TempName = """\.(.+)\.[0-9a-f-]{36}\.tmp""".r

  /** One stored view of a file group: the object-name suffix, the config
    * whose format/compression encode it, and the columns it stores. */
  private[ingest] final case class View(ext: String, cfg: IngestConfig,
                                        cols: Seq[Column])

  /** Write `df` (must carry `kafkaPartition` and `offset` columns) as the
    * reference layout. `payloadCols` are the columns stored inside each file.
    * Returns the manifest of written objects. */
  def write(df: DataFrame, cfg: IngestConfig, encodedPartition: Column,
            outDir: String,
            kafkaPartition: Column, offset: Column,
            payloadCols: Seq[Column],
            extraFileGroups: Seq[Column] = Nil): Seq[FileInfo] =
    writeKVH(df, cfg.copy(writeKeys = false, writeHeaders = false),
      encodedPartition, outDir, kafkaPartition, offset, payloadCols,
      extraFileGroups)

  /** P4 K/V/H composite write
    * (format/KeyValueHeaderRecordWriterProvider.java:63-144): value, `.keys`
    * and `.headers` files share the same basename per file group; key
    * non-null is enforced when keys are written (Utils.java:31-40 name
    * contract). Each sidecar view is written in its OWN configured format
    * (`keys.format.class` / `headers.format.class`, default Avro) — all
    * views come out of the same group assignment and the same pass, so
    * lockstep holds across formats. */
  def writeKVH(df: DataFrame, cfg: IngestConfig, encodedPartition: Column,
               outDir: String, kafkaPartition: Column, offset: Column,
               valueCols: Seq[Column],
               extraFileGroups: Seq[Column] = Nil): Seq[FileInfo] =
    writeGroups(group(df, cfg, encodedPartition, kafkaPartition, offset,
      extraFileGroups), cfg, outDir, kafkaPartition, offset,
      views(cfg, valueCols))._1

  /** The views `cfg` stores: the value, plus `.keys` and `.headers` when
    * `store.kafka.keys` / `store.kafka.headers` are on. */
  private[ingest] def views(cfg: IngestConfig,
                            valueCols: Seq[Column]): Seq[View] =
    View(cfg.extension, cfg, valueCols) +:
      (Option.when(cfg.writeKeys)(View(cfg.keyExtension,
        cfg.copy(format = cfg.keyFormat), Seq(struct(when(col("key").isNull,
          raise_error(lit("store.kafka.keys requires non-null keys")))
          .otherwise(col("key")).as("key")).as("RecordKey")))) ++
      // P3 applies INSIDE the writer (RecordViews.java:106-110): values
      // stringify — so the verbatim Kafka-source binary header values land
      // as strings, and an already-string frame is unchanged
      Option.when(cfg.writeHeaders)(View(cfg.headerExtension,
        cfg.copy(format = cfg.headerFormat),
        Seq(RecordViews.stringifiedHeaders(col("headers")).as("headers"))))).toSeq

  /** Assign every row its file group (adds `__epart` and the
    * [[Rotation.assignSizeFiles]] columns): the group key — extra groups
    * such as R2 time buckets split files within a partition — is hashed
    * once into `defaultParallelism` partitions for windows and write. */
  private[ingest] def group(df: DataFrame, cfg: IngestConfig,
                            encodedPartition: Column, kafkaPartition: Column,
                            offset: Column,
                            extraFileGroups: Seq[Column]): DataFrame = {
    val keyed = df.withColumn(EpartCol, encodedPartition)
      .withColumn(KeyCol,
        struct((Seq(kafkaPartition, col(EpartCol)) ++ extraFileGroups): _*))
    Rotation.assignSizeFiles(
      keyed.repartition(df.sparkSession.sparkContext.defaultParallelism,
        col(KeyCol)),
      col(KeyCol), offset, cfg.flushSize)
  }

  /** The write pass over a [[group]]ed frame: every view of every file
    * group, one task-side pass, committed at the final keys. Returns the
    * objects, the value view's first, each view's by key; and, when
    * `tagged`, each value object's W10 manifest row over
    * `cfg.statsColumns`. */
  private[ingest] def writeGroups(grouped: DataFrame, cfg: IngestConfig,
                                  outDir: String, kafkaPartition: Column,
                                  offset: Column, views: Seq[View],
                                  tagged: Boolean = false)
      : (Seq[FileInfo], Seq[Row]) = {
    val spark = grouped.sparkSession
    // what the tally reads behind the views: the offset, the group's start
    // offset and one lane per stats column (CommitManifest.Tally)
    val lanes = Option.when(tagged)(cfg.statsColumns.map(c =>
      c -> (grouped.schema(c).dataType == StringType)))
    val tagCols = lanes.toSeq.flatMap(ls =>
      offset.cast("long") +: col(Rotation.StartOffsetCol).cast("long") +:
        ls.map { case (c, str) => if (str) col(c) else col(c).cast("double") })
    val arranged = grouped
      .sortWithinPartitions(col(KeyCol), offset)
      .select((col(EpartCol) +: FileNaming.fileName(lit(cfg.topic),
          kafkaPartition, col(Rotation.StartOffsetCol), "", cfg.padWidth)
          .as(BaseCol) +:
        views.zipWithIndex.map { case (v, i) =>
          viewStruct(grouped, v).as(s"__view$i") }) ++ tagCols: _*)
    val schemas = views.indices.map(i =>
      arranged.schema(i + 2).dataType.asInstanceOf[StructType])
    val base = spark.sparkContext.hadoopConfiguration
    val factories = views.zip(schemas).map { case (v, s) =>
      factory(spark, base, v.cfg, s) }
    val exts = views.map(_.ext)
    val topicDir = s"$outDir/${cfg.topicsDir}/${cfg.topic}"
    // one Hadoop conf per task; each view ships only what it adds to it
    val conf = new SerializableConfiguration(base)
    val written = arranged.queryExecution.toRdd.mapPartitions { rows =>
      new GroupPass(topicDir, exts, factories, schemas, conf.value,
        lanes.map(new CommitManifest.Tally(_, exts.size + 2))).run(rows)
    }.collect().toSeq
    (written.sortBy { case (view, f, _) =>
      (view, f.encodedPartition, f.fileName) }.map(_._2),
      written.flatMap(_._3))
  }

  /** A view's columns as one struct, named as a `select` of them would
    * name them (column metadata such as `avro.union` rides along).
    * json.decimal.format=BASE64: decimals serialize as base64 of the
    * unscaled value — projected through binary (Spark's JSON writer emits
    * binary as base64); NUMERIC leaves the decimal as a plain number. */
  private def viewStruct(df: DataFrame, v: View): Column = {
    val base64 = v.cfg.format == OutputFormat.Json &&
      v.cfg.jsonDecimalFormat == JsonDecimalFormat.Base64
    struct(v.cols.zip(df.select(v.cols: _*).schema.fields).map {
      case (c, f) if base64 && f.dataType.isInstanceOf[DecimalType] =>
        graft.functions.FormatExpressions.decimalUnscaledBytes(c)
          .as(f.name, f.metadata)
      case (c, f) => c.as(f.name, f.metadata)
    }: _*)
  }

  /** The encoder of one view, prepared on the driver: Spark's own
    * Parquet/JSON writers (the ones `DataFrameWriter` uses, `compression`
    * included), the Avro container encoding, or the W4 raw bytes. Also
    * returns the settings its preparation added to `base`. */
  private def factory(spark: org.apache.spark.sql.SparkSession,
                      base: Configuration, cfg: IngestConfig,
                      schema: StructType): (OutputWriterFactory,
                                            Map[String, String]) = {
    val job = Job.getInstance(base)
    val options = cfg.compression.map("compression" -> _).toMap
    val f = cfg.format match {
      case OutputFormat.Parquet =>
        new ParquetFileFormat().prepareWrite(spark, job, options, schema)
      case OutputFormat.Json =>
        new JsonFileFormat().prepareWrite(spark, job, options, schema)
      case OutputFormat.Avro => AvroGroupWriter.factory(cfg.compression)
      case OutputFormat.ByteArray =>
        require(schema.length == 1,
          "ByteArray format serializes exactly one value column")
        RawGroupWriter.factory(cfg.compression, cfg.byteArraySeparator)
    }
    (f, job.getConfiguration.iterator.asScala.collect {
      case e if base.getRaw(e.getKey) != e.getValue => e.getKey -> e.getValue
    }.toMap)
  }

  /** One task's write pass. Rows arrive as `(__epart, __fbase, view
    * structs..., tally lanes...)`, each file group contiguous and in
    * offset order. */
  private final class GroupPass(
      topicDir: String, exts: Seq[String],
      factories: Seq[(OutputWriterFactory, Map[String, String])],
      schemas: Seq[StructType], conf: Configuration,
      tally: Option[CommitManifest.Tally]) {
    private val fs = new Path(topicDir).getFileSystem(conf)
    private val tag = java.util.UUID.randomUUID().toString
    private val contexts = factories.map { case (_, settings) =>
      val c = new JobConf(conf)
      settings.foreach { case (k, v) => c.set(k, v) }
      val tc = TaskContext.get()
      new TaskAttemptContextImpl(c, new TaskAttemptID(new TaskID(
        new JobID("graft", tc.stageId()), TaskType.MAP, tc.partitionId()),
        tc.attemptNumber()))
    }
    private val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, FileInfo, Option[Row])]
    private val committed = scala.collection.mutable.Set.empty[Path]
    private var epart: String = _
    private var open: Array[(OutputWriter, Path, Path)] = Array.empty

    def run(rows: Iterator[InternalRow])
        : Iterator[(Int, FileInfo, Option[Row])] = {
      var curEpart: UTF8String = null
      var curBase: UTF8String = null
      try {
        while (rows.hasNext) {
          val r = rows.next()
          if (curEpart == null || r.getUTF8String(0) != curEpart ||
            r.getUTF8String(1) != curBase) {
            commit()
            curEpart = r.getUTF8String(0).clone()
            curBase = r.getUTF8String(1).clone()
            openGroup(curEpart.toString, curBase.toString)
          }
          open.indices.foreach(i =>
            open(i)._1.write(r.getStruct(i + 2, schemas(i).length)))
          tally.foreach(_.add(r))
        }
        commit()
        sweep()
      } catch {
        case t: Throwable => abort(); throw t
      }
      out.iterator
    }

    private def openGroup(e: String, base: String): Unit = {
      epart = e
      open = exts.indices.map { i =>
        val dest = new Path(s"$topicDir/$epart/$base${exts(i)}")
        val tmp = new Path(dest.getParent, s".${dest.getName}.$tag.tmp")
        (factories(i)._1.newInstance(tmp.toString, schemas(i), contexts(i)),
          tmp, dest)
      }.toArray
    }

    /** Close the open group and rename each view into place (atomic
      * overwrite: a replay or a stale object is replaced, never doubled). */
    private def commit(): Unit = {
      open.foreach(_._1.close())
      open.zipWithIndex.foreach { case ((_, tmp, dest), i) =>
        renameOver(fs, tmp, dest)
        committed += dest
        out += ((i, FileInfo(epart, dest.getName, dest.toString),
          if (i == 0)
            tally.map(_.close(CommitManifest.objectKey(epart, dest.getName)))
          else None))
      }
      open = Array.empty
    }

    /** Delete temps that dead attempts left beside the committed keys. */
    private def sweep(): Unit = committed.map(_.getParent).foreach { dir =>
      fs.listStatus(dir).map(_.getPath).foreach { p =>
        p.getName match {
          case TempName(name) if committed(new Path(dir, name)) =>
            fs.delete(p, false)
          case _ =>
        }
      }
    }

    private def abort(): Unit = open.foreach { case (w, tmp, _) =>
      try w.close() catch { case _: Throwable => }
      try fs.delete(tmp, false) catch { case _: Throwable => }
    }
  }

  /** Move `src` onto `dst`: a plain rename when `dst` is new, an atomic
    * FileContext `Rename.OVERWRITE` when the store refuses to rename onto
    * an existing object (HDFS and the local file system do). */
  private[ingest] def renameOver(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      FileContext.getFileContext(fs.getUri, fs.getConf)
        .rename(src, dst, Options.Rename.OVERWRITE)

  /** The base of the Avro and raw-bytes view encoders. */
  private[ingest] abstract class StreamWriterFactory extends OutputWriterFactory {
    def getFileExtension(context: TaskAttemptContext): String = ""
    protected def create(path: String,
                         context: TaskAttemptContext): java.io.OutputStream = {
      val p = new Path(path)
      p.getFileSystem(context.getConfiguration).create(p, false)
    }
  }
}
