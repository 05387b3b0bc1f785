package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters summed over a window of the benchmark's own calls. */
final case class SparkCounts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0, taskGcMs: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
    shuffleRecords: Long = 0, inputBytes: Long = 0, spillBytes: Long = 0,
    planMs: Long = 0) {
  def -(o: SparkCounts): SparkCounts = SparkCounts(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs, taskGcMs - o.taskGcMs,
    shuffleWriteBytes - o.shuffleWriteBytes,
    shuffleReadBytes - o.shuffleReadBytes, shuffleRecords - o.shuffleRecords,
    inputBytes - o.inputBytes, spillBytes - o.spillBytes, planMs - o.planMs)
  def +(o: SparkCounts): SparkCounts = SparkCounts(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskRunMs + o.taskRunMs, taskCpuNs + o.taskCpuNs, taskGcMs + o.taskGcMs,
    shuffleWriteBytes + o.shuffleWriteBytes,
    shuffleReadBytes + o.shuffleReadBytes, shuffleRecords + o.shuffleRecords,
    inputBytes + o.inputBytes, spillBytes + o.spillBytes, planMs + o.planMs)
}

/** Counts every job, stage and task of the session, and the Catalyst
  * phase times (analysis, optimization, physical planning) of every SQL
  * execution, from a [[SparkListener]] and a [[QueryExecutionListener]]
  * the benchmark registers. Counters are cumulative: a call's share is
  * the difference of two [[snapshot]]s taken around it. When tracing,
  * every job is also kept as an interval, to become a child span.
  */
final class Probe(spark: SparkSession, tracing: Boolean)
    extends SparkListener with QueryExecutionListener {
  private val jobs, stages, tasks, runMs, cpuNs, gcMs = new AtomicLong
  private val shW, shR, shRec, inB, spill, planMs = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  /** (jobId, start epoch ms, end epoch ms) of every finished job */
  val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]
  /** (phase, start epoch ms, end epoch ms) of every Catalyst phase */
  val planSpans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    if (tracing) jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (tracing) Option(jobStart.remove(e.jobId))
      .foreach(t0 => jobSpans.add((e.jobId, t0, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shRec.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      inB.addAndGet(m.inputMetrics.bytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = addPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = addPlan(qe)
  private def addPlan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    planMs.addAndGet(phases.values.map(_.durationMs).sum)
    if (tracing) phases.foreach { case (name, p) =>
      planSpans.add((name, p.startTimeMs, p.endTimeMs))
    }
  }

  /** cumulative counters after every event so far has been delivered */
  def snapshot(): SparkCounts = {
    BenchBus.drain(spark.sparkContext)
    SparkCounts(jobs.get, stages.get, tasks.get, runMs.get, cpuNs.get,
      gcMs.get, shW.get, shR.get, shRec.get, inB.get, spill.get, planMs.get)
  }
}

/** Driver JVM readings: allocation of the client thread, GC time, and the
  * live heap after a forced collection.
  */
object Jvm {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans
  def allocatedBytes(): Long =
    threads.getThreadAllocatedBytes(Thread.currentThread().getId)
  def gcMs(): Long = {
    var s = 0L
    gcs.forEach(g => s += math.max(0L, g.getCollectionTime))
    s
  }
  /** heap in use right after a full collection, in MB. Spark frees
    * shuffle and broadcast state from a cleaner thread once a collection
    * has found it unreachable; with `settle` the reading lets the cleaner
    * run and collects again, so that state is gone from it.
    */
  def liveHeapMb(settle: Boolean): Double = {
    System.gc()
    if (settle) {
      Thread.sleep(200)
      System.gc()
    }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  def maxHeapMb(): Double = Runtime.getRuntime.maxMemory / 1048576.0
}

/** A span recorded around one call into a layer. */
final case class Span(id: Int, parent: Int, name: String,
                      startUs: Long, endUs: Long, attrs: Map[String, Any])

/** Spans kept in memory and written at exit. Span times are epoch
  * microseconds, so the listener's job intervals (epoch ms) nest in them.
  * With tracing off every call is a no-op apart from running the body.
  */
final class Tracer(val on: Boolean, val runId: String) {
  private val t0Ns = System.nanoTime()
  private val t0Us = System.currentTimeMillis() * 1000
  private val spans = ArrayBuffer.empty[Span]
  private val notes = scala.collection.mutable.Map.empty[Int, Map[String, Any]]
  private var stack: List[Int] = Nil
  private var next = 1
  def nowUs(): Long = t0Us + (System.nanoTime() - t0Ns) / 1000

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!on) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val s = nowUs()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, s, nowUs(), attrs)
      }
    }

  /** adds attributes to the span that ended last (values known only
    * after the call, such as its Spark counters)
    */
  def annotateLast(attrs: => Map[String, Any]): Unit =
    if (on && spans.nonEmpty) {
      val id = spans.last.id
      notes(id) = notes.getOrElse(id, Map.empty) ++ attrs
    }

  /** every recorded span plus one child span per Spark job, parented to
    * the innermost benchmark span whose interval holds the job's start
    */
  def all(probe: Probe): Seq[Span] = {
    import scala.jdk.CollectionConverters._
    val byStart = spans.map(s => s.copy(attrs = s.attrs ++ notes.getOrElse(s.id, Map.empty)))
      .sortBy(s => (s.startUs, -s.endUs)).toIndexedSeq
    def child(name: String, sMs: Long, eMs: Long, attrs: Map[String, Any]) = {
      val sUs = sMs * 1000
      val parent = byStart.filter(p => p.startUs <= sUs + 999 && p.endUs >= sUs)
        .sortBy(p => p.endUs - p.startUs).headOption.map(_.id).getOrElse(0)
      next += 1
      Span(next, parent, name, sUs, math.max(sUs, eMs * 1000), attrs)
    }
    val jobs = probe.jobSpans.asScala.toSeq.sortBy(_._2).map { case (j, s, e) =>
      child("spark.job", s, e, Map("job_id" -> j))
    }
    val plans = probe.planSpans.asScala.toSeq.sortBy(_._2).map { case (ph, s, e) =>
      child(s"catalyst.$ph", s, e, Map.empty)
    }
    byStart ++ plans ++ jobs
  }

  /** self time and count per span name: duration minus the part of it
    * that its direct children cover
    */
  def selfTimes(all: Seq[Span]): Map[String, (Double, Int)] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> (ss.map(selfUs(_, kids)).sum / 1e6, ss.size)
    }
  }

  /** self seconds per span name, over the spans named with `prefix` and
    * everything below them
    */
  def selfTimesUnder(all: Seq[Span], prefix: String): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    def below(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(below)
    all.filter(_.name.startsWith(prefix)).flatMap(below).groupBy(_.name)
      .map { case (name, ss) => name -> ss.map(selfUs(_, kids)).sum / 1e6 }
  }

  private def selfUs(s: Span, kids: Map[Int, Seq[Span]]): Long = {
    val covered = kids.getOrElse(s.id, Nil)
      .map(c => math.min(c.endUs, s.endUs) - math.max(c.startUs, s.startUs))
      .filter(_ > 0).sum
    math.max(0L, s.endUs - s.startUs - covered)
  }
}
