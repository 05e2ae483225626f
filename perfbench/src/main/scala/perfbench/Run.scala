package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** One invocation's state: the session, its run root, the raw results
  * and the correctness verdicts. Everything written lives under `root`. */
final class Run(val spark: SparkSession, val root: Path, val seed: Long,
                val seconds: Double, val traced: Boolean) {
  val results = mutable.LinkedHashMap.empty[String, Any]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  var attempted = 0L
  var failed = 0L

  def dir(name: String): Path = root.resolve(name)

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] check failed: $name: $detail")
  }

  def allChecks: Seq[Map[String, Any]] = checks.toSeq

  /** Repeat the set-up `n` times, timing each; the last one's state is
    * what the timed region uses. `setup_s` is the median of these plus
    * the one [[warmup]] pass. */
  def setup(n: Int)(f: => Unit): Unit = {
    val times = (0 until n).map { _ =>
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }
    results("setup_s") = times
  }

  /** One pass before the timed region that loads classes and JIT-compiles
    * the pipeline; its time is part of `setup_s`. */
  def warmup(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    results("warmup_s") = (System.nanoTime() - t0) / 1e9
  }

  /** Heap in use after a full collection, taken once the timed region
    * ends: the state the workload retains. */
  def heapRetained(): Unit = {
    System.gc(); System.gc()
    results("heap_retained_mb") =
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Record the source digest; every set-up of one seed must agree. */
  def sourcesDigest(digests: Seq[String]): Unit = {
    results("digest") = digests.last
    check("seed.sources_byte_identical", digests.distinct.size == 1,
      s"digests differ across set-ups: $digests")
  }

  /** Wait for a query that should stop by itself. A timeout stops it and
    * counts as a failure; an exception in a batch does too. */
  def await(q: StreamingQuery, what: String, timeoutMs: Long): Boolean = {
    val ok =
      try q.awaitTermination(timeoutMs)
      catch {
        case e: Exception =>
          check(s"$what.no_batch_error", ok = false, e.toString)
          false
      }
    if (!ok) {
      q.stop()
      check(s"$what.finished_in_time", ok = false,
        s"not terminated after $timeoutMs ms; stopped")
    }
    ok
  }

  /** Completed data batches of a query (progress entries carrying rows). */
  def batches(q: StreamingQuery): Seq[Map[String, Any]] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
      .groupBy(_.batchId).values.map(_.head).toSeq.sortBy(_.batchId).map { p =>
        Map[String, Any]("batch" -> p.batchId,
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "rows" -> p.numInputRows,
          "durations" -> p.durationMs.asScala.map { case (k, v) =>
            k -> v.longValue }.toMap)
      }

  /** Run `f` with the job listener attached and spans recording;
    * returns the listener and span dumps. */
  def traced[T](f: Spans => T): (T, Map[String, Any]) = {
    val listener = new JobListener
    val spans = new Spans(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val out =
      try f(spans)
      finally {
        // the listener bus is asynchronous: let queued events land
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    (out, listener.dump ++ Map("spans" -> spans.dump))
  }
}
