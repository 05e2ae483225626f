package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Checks shared by the sink workloads: what a finished lake must look
  * like from the outside. */
object Sink {
  /** Every regular, non-hidden file under `dir`, as a relative key. */
  def objectKeys(dir: Path): Set[String] =
    Fs.files(dir).map(p => dir.relativize(p).toString)
      .filterNot(k => k.split('/').exists(s => s.startsWith(".") || s.startsWith("_")))
      .toSet

  /** Relative key -> size, hidden files included: a restart on a finished
    * checkpoint must leave this map unchanged. */
  def snapshot(dir: Path): Map[String, Long] =
    Fs.files(dir).map(p => dir.relativize(p).toString -> Files.size(p)).toMap

  /** Value objects must match the layout contract. */
  def checkLayout(run: Run, what: String, keys: Set[String], valueKey: String): Unit = {
    val bad = keys.filterNot(_.matches(valueKey))
    run.check(s"$what.layout_contract", keys.nonEmpty && bad.isEmpty,
      s"${keys.size} objects, off-contract: ${bad.take(3).mkString(", ")}")
  }

  /** (records, sum of `amount`) per value object, read back from the
    * objects themselves in one pass. */
  def perObject(spark: SparkSession, topicDir: Path, keys: Set[String]): Map[String, (Long, Long)] =
    if (keys.isEmpty) Map.empty
    else spark.read.parquet(keys.toSeq.sorted.map(k => topicDir.resolve(k).toString): _*)
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)), coalesce(sum(col("amount")), lit(0L))).collect()
      .map(r => topicDir.relativize(Fs.path(new java.net.URI(r.getString(0)).getPath))
        .toString -> (r.getLong(1), r.getLong(2))).toMap

  def checkFlushSize(run: Run, what: String, rows: Map[String, Long], flushSize: Int): Unit = {

    val over = rows.filter(_._2 > flushSize)
    run.check(s"$what.records_per_object_le_flush_size", rows.nonEmpty && over.isEmpty,
      s"objects over $flushSize records: ${over.take(3)}")
  }

  /** The union of the manifest generations names exactly the value objects. */
  def checkManifest(run: Run, what: String, topicDir: Path, valueKeys: Set[String]): Long = {
    val manifests = Fs.files(topicDir.resolve("_graft_manifest"))
      .filter(_.getFileName.toString.matches("commit-.*\\.json"))
    val vouched =
      if (manifests.isEmpty) Set.empty[String]
      else run.spark.read.json(manifests.map(_.toString): _*)
        .select("object_key").collect().map(_.getString(0)).toSet
    run.check(s"$what.manifest_vouches_exactly_value_objects", vouched == valueKeys,
      s"vouched ${vouched.size}, objects ${valueKeys.size}, " +
        s"unvouched ${(valueKeys -- vouched).take(3)}, phantom ${(vouched -- valueKeys).take(3)}")
    manifests.size.toLong
  }

  /** Restarting on the finished checkpoint must add and change nothing. */
  def checkReplay(run: Run, what: String, lake: Path)(restart: => Boolean): Unit = {
    val before = snapshot(lake)
    val finished = restart
    val after = snapshot(lake)
    run.check(s"$what.x1_replay_adds_nothing", finished && before == after,
      s"restart finished=$finished, objects ${before.size} -> ${after.size}")
  }

  /** Count and sum of `amount` over a frame, as one row to the driver. */
  def countSum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("amount")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}
