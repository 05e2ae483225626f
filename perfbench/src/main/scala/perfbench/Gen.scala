package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded record generators. Every field is a pure function of
  * (seed, record index), so the same seed writes byte-identical source
  * files and the expected answers are recomputed here, without Spark. */
object Gen {
  /** splitmix64 finaliser over (seed, index). */
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + (i + 1) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def pick(r: Long, shift: Int, n: Int): Int =
    java.lang.Long.remainderUnsigned(r >>> shift, n.toLong).toInt

  val Vocab: Array[String] = ("river stone cloud ledger harbor signal meadow " +
    "copper lantern orbit timber canyon violet summit ember glacier " +
    "falcon prairie marble willow beacon thunder quartz anchor velvet " +
    "cedar comet delta fjord grove haven island").split(" ")

  val Partitions = 4
  val EventTypes = 6
  val BaseMs = 1704067200000L // 2024-01-01T00:00:00Z

  /** One canonical record. `short` texts fail the quality gate. */
  final case class Rec(i: Long, kp: Int, offset: Long, eventType: String,
                       amount: Long, eventMs: Long, text: String,
                       short: Boolean, badMagic: Boolean, corrupt: Boolean)

  def rec(seed: Long, i: Long, stepMs: Long): Rec = {
    val r = mix(seed, i)
    val short = pick(r, 40, 100) < 3
    val nTok = if (short) 2 + pick(r, 50, 2) else 6 + pick(r, 50, 10)
    val text = (0 until nTok).map(t => Vocab(pick(mix(r, t), 7, Vocab.length)))
      .mkString(" ")
    val badMagic = pick(r, 33, 100) == 0
    val corrupt = !badMagic && pick(r, 23, 400) == 0
    Rec(i, (i % Partitions).toInt, i / Partitions,
      s"t${pick(r, 1, EventTypes)}", pick(r, 12, 100000).toLong,
      BaseMs + i * stepMs, text, short, badMagic, corrupt)
  }

  def records(seed: Long, from: Long, until: Long, stepMs: Long): Iterator[Rec] =
    Iterator.range(from, until).map(i => rec(seed, i.toLong, stepMs))

  // ---- drain/lake sources: canonical columns plus text ----

  val HeaderType: DataType = ArrayType(StructType(Seq(
    StructField("key", StringType), StructField("value", BinaryType))))

  val CanonicalSchema: StructType = StructType(Seq(
    StructField("key", StringType), StructField("value", BinaryType),
    StructField("topic", StringType), StructField("kafka_partition", IntegerType),
    StructField("offset", LongType), StructField("timestamp", TimestampType),
    StructField("headers", HeaderType), StructField("event_type", StringType),
    StructField("text", StringType), StructField("event_ms", LongType),
    StructField("amount", LongType)))

  private def valueBytes(r: Rec): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(24)
    b.putLong(r.i).putLong(r.amount).putLong(r.eventMs)
    b.array()
  }

  private def headers(r: Rec): Seq[Row] =
    Seq(Row("source", "gen".getBytes("UTF-8")),
      Row("seq", r.i.toString.getBytes("UTF-8")))

  private def canonicalRow(topic: String, r: Rec): Row =
    Row(s"k${r.kp}-${r.offset}", valueBytes(r), topic, r.kp, r.offset,
      new java.sql.Timestamp(r.eventMs), headers(r), r.eventType, r.text,
      r.eventMs, r.amount)

  /** `nFiles` Parquet files of `perFile` canonical records each, file `f`
    * holding records [f*perFile, (f+1)*perFile), one task per file. */
  def writeCanonical(spark: SparkSession, dir: Path, topic: String, seed: Long,
                     nFiles: Int, perFile: Int, stepMs: Long): Unit = {
    val rdd = spark.sparkContext.parallelize(0 until nFiles, nFiles)
      .mapPartitions(_.flatMap { f =>
        records(seed, f.toLong * perFile, (f + 1).toLong * perFile, stepMs)
          .map(canonicalRow(topic, _))
      })
    val tmp = dir.resolveSibling(dir.getFileName.toString + "_tmp")
    spark.createDataFrame(rdd, CanonicalSchema).write.parquet(tmp.toString)
    placeParts(tmp, dir)
  }

  // ---- trickle sources: the Kafka 7-tuple plus headers, value framed ----

  val WirePayload: Seq[String] = Seq("seq", "event_type", "amount", "text")
  val WireKeep: Seq[String] = Seq("key", "topic", "partition", "offset",
    "timestamp", "timestampType", "headers")

  private val wireInSchema = StructType(Seq(
    StructField("key", BinaryType), StructField("topic", StringType),
    StructField("partition", IntegerType), StructField("offset", LongType),
    StructField("timestamp", TimestampType), StructField("timestampType", IntegerType),
    StructField("headers", HeaderType), StructField("seq", LongType),
    StructField("event_type", StringType), StructField("amount", LongType),
    StructField("text", StringType), StructField("poison", IntegerType)))

  /** Confluent-framed values through `WireFormat.encode` (which registers
    * schema id 1); ~1% of frames get a bad magic byte and a few get an
    * unreadable Avro body. */
  def writeWire(spark: SparkSession, dir: Path, registry: String, topic: String,
                seed: Long, nFiles: Int, perFile: Int, stepMs: Long): Unit = {
    val rdd = spark.sparkContext.parallelize(0 until nFiles, nFiles)
      .mapPartitions(_.flatMap { f =>
        records(seed, f.toLong * perFile, (f + 1).toLong * perFile, stepMs).map { r =>
          Row(s"k${r.kp}-${r.offset}".getBytes("UTF-8"), topic, r.kp, r.offset,
            new java.sql.Timestamp(r.eventMs), 0, headers(r), r.i, r.eventType,
            r.amount, r.text, if (r.badMagic) 1 else if (r.corrupt) 2 else 0)
        }
      })
    val framed = graft.ingest.WireFormat.encode(
      spark.createDataFrame(rdd, wireInSchema), WirePayload, 1, registry,
      WireKeep :+ "poison")
    val poisoned = framed.withColumn("value",
      when(col("poison") === 1,
        concat(lit(Array[Byte](1)), substring(col("value"), 2, Int.MaxValue)))
        .when(col("poison") === 2,
          concat(substring(col("value"), 1, 5), lit(Array.fill[Byte](10)(-1))))
        .otherwise(col("value")))
      .select((Seq("key", "value") ++ WireKeep.drop(1)).map(col): _*)
    val tmp = dir.resolveSibling(dir.getFileName.toString + "_tmp")
    poisoned.write.parquet(tmp.toString)
    placeParts(tmp, dir)
  }

  val WireSchema: StructType = StructType(Seq(
    StructField("key", BinaryType), StructField("value", BinaryType),
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType), StructField("headers", HeaderType)))

  /** Rename `part-NNNNN-*` (task NNNNN wrote file NNNNN) to
    * `file-NNNNN.parquet` with fixed, increasing modification times, so a
    * file source lists them in generation order. */
  private def placeParts(tmp: Path, dir: Path): Unit = {
    Files.createDirectories(dir)
    val parts = Fs.files(tmp).filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString)
    parts.zipWithIndex.foreach { case (p, k) =>
      val dest = dir.resolve(f"file-$k%05d.parquet")
      Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(BaseMs + k * 1000L))
    }
    Fs.delete(tmp)
  }

  /** SHA-256 over (name, bytes) of every regular file under `dir`. */
  def digest(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Fs.files(dir).sortBy(_.toString).foreach { p =>
      md.update(dir.relativize(p).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(p))
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Local file helpers for the run root. */
object Fs {
  def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toList.reverse.foreach(Files.delete)
    finally s.close()
  }

  def bytes(dir: Path): Long = files(dir).map(Files.size).sum

  def path(s: String): Path = Paths.get(s)
}
