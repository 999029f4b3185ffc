package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark work of one span: the jobs submitted inside its time window
 * and the tasks of their stages. */
final case class Work(jobs: Int, tasks: Int, shuffleBytes: Long, cpuNs: Long,
    runMs: Long, taskFailures: Int)

object Work {
  val Zero: Work = Work(0, 0, 0L, 0L, 0L, 0)
}

/** Benchmark-owned listener. Jobs are attributed to spans by their
 * submission time, not by job group or local properties: the library
 * submits part of its jobs from ForkJoinPool threads, which do not
 * inherit thread-local job properties. Tasks follow their stage to the
 * first job that listed the stage. */
final class WorkListener extends SparkListener {
  private final case class TaskRec(stageId: Int, runMs: Long, cpuNs: Long,
      shuffleBytes: Long, failed: Boolean)

  private val jobTime = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()
  private val taskRecs = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobTime.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val (run, cpu, shuffle) =
      if (m == null) (0L, 0L, 0L)
      else (m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten)
    taskRecs.add(TaskRec(e.stageId, run, cpu, shuffle, e.reason != Success))
  }

  /** Work of the jobs submitted in [startMs, endMs]. */
  def work(startMs: Long, endMs: Long): Work = {
    val jobs = jobTime.asScala.collect {
      case (id, t) if t >= startMs && t <= endMs => id
    }.toSet
    val mine = taskRecs.asScala.filter { t =>
      val j = stageJob.get(t.stageId)
      j != null && jobs.contains(j)
    }
    Work(jobs.size, mine.size, mine.map(_.shuffleBytes).sum, mine.map(_.cpuNs).sum,
      mine.map(_.runMs).sum, mine.count(_.failed))
  }

  /** Forget everything seen so far (between passes). */
  def clear(): Unit = { jobTime.clear(); stageJob.clear(); taskRecs.clear() }
}

/** One finished call into a layer. */
final case class SpanRec(name: String, pass: Int, wallS: Double, gcMs: Long, work: Work)

/** Wraps calls into the library's layers in spans. Every span records
 * its wall time and samples Spark storage memory at both boundaries;
 * with a listener attached it also records the span's Spark work. */
final class Tracer(sc: SparkContext, cores: Int) {
  private var listener: Option[WorkListener] = None
  private var pass = 0
  val spans: ArrayBuffer[SpanRec] = ArrayBuffer.empty
  var cachePeakBytes: Long = 0L

  def attach(l: WorkListener): Unit = { sc.addSparkListener(l); listener = Some(l) }
  def detach(): Unit = { listener.foreach(sc.removeSparkListener); listener = None }
  def tracing: Boolean = listener.isDefined
  def startPass(n: Int): Unit = { pass = n; listener.foreach(_.clear()) }

  private def sampleCache(): Unit = {
    BusDrain(sc)
    val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    cachePeakBytes = math.max(cachePeakBytes, used)
  }

  /** Wait for the millisecond clock to pass `t`, so that job submission
   * times on either side of a span boundary never share a tick. */
  private def tickPast(t: Long): Long = {
    var now = System.currentTimeMillis()
    while (now <= t) { Thread.sleep(1); now = System.currentTimeMillis() }
    now
  }

  def span[T](name: String)(f: => T): T = {
    sampleCache()
    val startMs = tickPast(System.currentTimeMillis())
    val gc0 = Tracer.gcMillis()
    val t0 = System.nanoTime()
    val r = f
    val wall = (System.nanoTime() - t0) / 1e9
    val gc = Tracer.gcMillis() - gc0
    val endMs = System.currentTimeMillis()
    tickPast(endMs)
    sampleCache()
    val w = listener.map(_.work(startMs, endMs)).getOrElse(Work.Zero)
    spans += SpanRec(name, pass, wall, gc, w)
    r
  }

  def coreUtil(s: SpanRec): Double = s.work.runMs / 1000.0 / (s.wallS * cores)
}

object Tracer {
  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  val Counters: Seq[String] = Seq("wall_s", "jobs", "tasks", "shuffle_bytes", "cpu_s",
    "gc_ms", "core_util", "task_failures")

  def counter(t: Tracer, s: SpanRec, c: String): Double = c match {
    case "wall_s" => s.wallS
    case "jobs" => s.work.jobs
    case "tasks" => s.work.tasks
    case "shuffle_bytes" => s.work.shuffleBytes.toDouble
    case "cpu_s" => s.work.cpuNs / 1e9
    case "gc_ms" => s.gcMs.toDouble
    case "core_util" => t.coreUtil(s)
    case "task_failures" => s.work.taskFailures
  }
}
