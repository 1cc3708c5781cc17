package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One timed interval: `parent` is the span that caused it (-1 at the
  * root); spans of one query or batch share `run`. Times are epoch
  * nanoseconds, so spans line up with Spark's listener timestamps. */
final case class Span(id: Long, parent: Long, name: String, run: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Off, `span` only runs its body; on, it keeps
  * every span until [[spans]] is read once at the end of the run. */
final class Tracer(val on: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong

  def span[T](name: String, run: String, parent: Long = -1L)(f: Long => T): T =
    if (!on) f(-1L)
    else {
      val id = ids.incrementAndGet()
      val t0 = Clock.nowNs()
      try f(id)
      finally {
        val s = Span(id, parent, name, run, t0, Clock.nowNs())
        buf.synchronized(buf += s)
      }
    }

  def spans: Seq[Span] = buf.synchronized(buf.toList)

  /** The spans as JSON-ready rows. */
  def rows: Seq[Map[String, Any]] = spans.map(s => Map("id" -> s.id,
    "parent" -> s.parent, "name" -> s.name, "run" -> s.run,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

/** Epoch time with nanosecond resolution from the monotonic clock. */
object Clock {
  private val originEpochNs = System.currentTimeMillis() * 1000000L
  private val originNano = System.nanoTime()
  def nowNs(): Long = originEpochNs + (System.nanoTime() - originNano)
  def secs(ns: Long): Double = ns / 1e9
}

/** The benchmark's own SparkListener: every job interval and every task's
  * metrics, attributed to queries afterwards by time window. Attached
  * only in traced runs. */
final class EngineListener extends SparkListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long)
  final case class Task(finishMs: Long, cpuNs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, waitMs: Long)
  final case class Stage(completeMs: Long, numTasks: Int)

  val jobs = ArrayBuffer.empty[Job]
  val tasks = ArrayBuffer.empty[Task]
  val stages = ArrayBuffer.empty[Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, -1L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += Stage(e.stageInfo.completionTime.getOrElse(0L), e.stageInfo.numTasks)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      // Spark UI's scheduler delay: task time not spent running,
      // deserializing or shipping the result
      val wait = math.max(0L, (info.finishTime - info.launchTime) -
        m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
      tasks += Task(info.finishTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, wait)
    }
  }

  /** Task and stage totals, optionally only those that ended in [fromMs, toMs]. */
  def totals(fromMs: Long = Long.MinValue, toMs: Long = Long.MaxValue): Map[String, Any] =
    synchronized {
      val ts = tasks.toList.filter(t => t.finishMs >= fromMs && t.finishMs <= toMs)
      val ss = stages.toList.filter(s => s.completeMs >= fromMs && s.completeMs <= toMs)
      Map("tasks" -> ts.size,
        "task_wait_s" -> ts.map(_.waitMs).sum / 1e3,
        "executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "gc_s" -> ts.map(_.gcMs).sum / 1e3,
        "shuffle_read_mb" -> ts.map(_.shuffleRead).sum / 1048576.0,
        "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / 1048576.0,
        "spill_mb" -> ts.map(_.spill).sum / 1048576.0,
        "single_task_stages" -> ss.count(_.numTasks == 1))
    }

  /** Job intervals (ms) that started inside [fromMs, toMs]. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[(Long, Long)] = synchronized {
    jobs.toList.filter(j => j.startMs >= fromMs && j.startMs <= toMs)
      .map(j => (j.startMs, if (j.endMs < 0) toMs else j.endMs))
  }
}

object Intervals {
  /** Length of the union of [a, b) intervals clipped to [lo, hi). */
  def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
