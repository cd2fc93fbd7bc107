package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into the program (or a benchmark-side phase around
  * such calls). Times are epoch milliseconds with sub-ms precision, so
  * listener events (epoch ms) can be placed inside them. */
final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** Sample store for the end-to-end metrics, plus — when tracing — the
  * span tree and the engine counters the per-module metrics derive from.
  *
  * With tracing off the cost per call is two clock reads, two readings
  * of [[AppCpu]] and two buffer appends. With tracing on, every call also opens a [[Span]] and
  * the [[EngineListener]] records every Spark job and task; both stay in
  * memory until the run ends.
  */
final class Rec(val tracing: Boolean) {
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[(Int, String, Double)]()
  private var nextId = 0

  def add(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer()) += v

  def get(metric: String): Seq[Double] = samples.get(metric).map(_.toSeq).getOrElse(Nil)

  /** Runs `body`; records its wall seconds under `metric` and the CPU
    * seconds of the application's threads under `metric_cpu` (when a
    * metric is given) and, when tracing, a span named `span`. */
  def timed[T](span: String, metric: String = null)(body: => T): T = {
    val id = nextId
    nextId += 1
    val c0 = if (metric != null) AppCpu.seconds() else 0.0
    val t0 = Clock.ms()
    if (tracing) open.push((id, span, t0))
    val out =
      try body
      finally {
        val t1 = Clock.ms()
        if (tracing) {
          open.pop()
          spans += Span(id, span, if (open.isEmpty) -1 else open.top._1, t0, t1)
        }
        if (metric != null) {
          add(metric, (t1 - t0) / 1000.0)
          add(metric + "_cpu", AppCpu.seconds() - c0)
        }
      }
    out
  }
}

/** CPU seconds used so far by the JVM's live application threads: the
  * driver, the Spark executor task threads and Spark's own threads, not
  * the JIT compiler or the garbage collector. The kernel leaves time the
  * hypervisor stole out of a thread's CPU time, so this grows far less
  * than wall time when other guests contend for the host. */
object AppCpu {
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  def seconds(): Double = mx.getThreadCpuTime(mx.getAllThreadIds).filter(_ > 0).sum / 1e9
}

object Clock {
  private val base = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  /** Epoch milliseconds from the monotonic clock. */
  def ms(): Double = base + System.nanoTime() / 1e6
}

/** Benchmark-owned listener: one record per job and per task, kept in
  * memory. Installed only in traced runs. */
final class EngineListener extends SparkListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
  final case class Task(
      stage: Int,
      endMs: Long,
      runMs: Long,
      inputBytes: Long,
      shuffleWriteBytes: Long,
      shuffleWriteRecords: Long,
      spillBytes: Long
  )

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val tasks = mutable.ArrayBuffer[Task]()
  @volatile private var pending = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageIds)
    pending += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    pending -= 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += Task(
        e.stageId,
        e.taskInfo.finishTime,
        m.executorRunTime,
        m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled
      )
  }

  /** The listener bus is asynchronous: wait until every started job has
    * ended and no event has arrived for a short quiet period. */
  def drain(): Unit = {
    var last = -1
    var quiet = 0
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (quiet < 4 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val n = synchronized(jobs.size + tasks.size)
      if (n == last && pending == 0) quiet += 1 else quiet = 0
      last = n
    }
  }
}

object EngineListener {
  def install(sc: SparkContext): EngineListener = {
    val l = new EngineListener
    sc.addSparkListener(l)
    l
  }
}
