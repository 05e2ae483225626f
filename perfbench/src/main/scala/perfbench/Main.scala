package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One workload in one JVM. Writes the raw results (samples, spans,
  * listener events, check verdicts) as JSON to `--out`; `run.py` turns
  * them into metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --root RUN_ROOT --out RAW_JSON --cores N */
object Main {
  val Workloads: Map[String, Run => Unit] = Map(
    "drain_parquet" -> (DrainParquet(_)),
    "trickle_wire_avro" -> (TrickleWireAvro(_)))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val body = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val root = Paths.get(opts("root")).toAbsolutePath
    val cores = opts("cores").toInt
    HeapPeak.install()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, root, opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1")
    try body(run)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        run.check("workload.completed", ok = false, e.toString)
        run.failed += 1
    } finally {
      spark.streams.active.foreach(_.stop())
      run.results("attempted") = run.attempted
      run.results("failed") = run.failed
      run.results("checks") = run.allChecks
      run.results("heap_peak_mb") = HeapPeak.peakMb
      run.results("cores") = cores
      Files.write(Paths.get(opts("out")), Json.encode(run.results).getBytes("UTF-8"))
      spark.stop()
    }
  }
}
