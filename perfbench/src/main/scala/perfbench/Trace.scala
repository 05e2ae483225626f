package perfbench

import java.lang.management.ManagementFactory
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Wall clock in epoch milliseconds with sub-millisecond resolution:
  * one epoch reading at start, nanoTime deltas after, so span times and
  * Spark listener event times share a clock. */
object Clock {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
}

/** In-memory spans: name, trace id, start, end and parent. While a span
  * is open on a thread, the Spark local property [[Spans.Prop]] carries its
  * index, so every job submitted under it (including AQE jobs on other
  * threads, which inherit the captured local properties) names its span. */
final class Spans(sc: SparkContext) {
  private final class Span(val name: String, val trace: String, val start: Double,
                           var end: Double, val parent: Int)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def apply[T](name: String, trace: String)(f: => T): T = {
    val stack = open.get()
    val idx = synchronized {
      buf += new Span(name, trace, Clock.nowMs, Double.NaN, stack.headOption.getOrElse(-1))
      buf.length - 1
    }
    open.set(idx :: stack)
    val prior = sc.getLocalProperty(Spans.Prop)
    sc.setLocalProperty(Spans.Prop, idx.toString)
    try f
    finally {
      val end = Clock.nowMs
      synchronized { buf(idx).end = end }
      open.set(stack)
      sc.setLocalProperty(Spans.Prop, prior)
    }
  }

  def dump: Seq[Map[String, Any]] = synchronized {
    buf.toSeq.map(s => Map("name" -> s.name, "trace" -> s.trace,
      "start_ms" -> s.start, "end_ms" -> s.end, "parent" -> s.parent))
  }
}

object Spans {
  val Prop = "perfbench.span"
}

/** Job, stage and SQL-execution events for executor-time attribution:
  * each job records its `spark.sql.execution.id`, its span and the call
  * site of its last stage; each SQL execution records its call site. */
final class JobListener extends SparkListener {
  private final class Job(val id: Int, val execId: Option[Long], val span: Option[Int],
                          val stages: Seq[Int], val details: String,
                          val start: Double, var end: Double)
  private final class StageAcc {
    var runMs = 0L; var gcMs = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.HashMap.empty[Int, StageAcc]
  private val sqls = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val last = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs += new Job(e.jobId, prop("spark.sql.execution.id").map(_.toLong),
      prop(Spans.Prop).map(_.toInt), e.stageIds, last, e.time.toDouble,
      Double.NaN)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      val a = stages.getOrElseUpdate(e.stageId, new StageAcc)
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqls += Map("id" -> s.executionId,
        "root" -> s.rootExecutionId.map(_.toString.toLong),
        "description" -> s.description, "details" -> s.details)
    }
    case _ =>
  }

  def dump: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.toSeq.map(j => Map("id" -> j.id, "exec_id" -> j.execId,
        "span" -> j.span, "stages" -> j.stages, "details" -> j.details,
        "start_ms" -> j.start, "end_ms" -> j.end)),
      "stages" -> stages.toSeq.sortBy(_._1).map { case (id, a) =>
        Map("id" -> id, "run_ms" -> a.runMs, "gc_ms" -> a.gcMs,
          "shuffle_write_bytes" -> a.shuffleWrite, "spill_bytes" -> a.spill)
      },
      "sqls" -> sqls.toSeq)
  }
}

/** Peak heap in use right after a collection, over the JVM's life. */
object HeapPeak {
  @volatile private var peak = 0L

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { if (used > peak) peak = used }
          }, null, null)
      case _ =>
    }
  }

  def peakMb: Double = peak / 1048576.0
}
