package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds: monotonic between calls, and on the
  * same scale as the epoch-millisecond times Spark's listener events carry. */
object Clock {
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def nowNs: Long = epochNs0 + (System.nanoTime() - nano0)
  def msToNs(ms: Long): Long = ms * 1000000L
}

final case class Span(id: Long, name: String, parent: Long, run: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans and counters kept in memory and written out when the run ends.
  * With tracing off, `span` only runs its body. */
final class Trace(val run: String, val on: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def span[T](name: String, parent: Long = 0L)(f: Long => T): T =
    if (!on) f(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = Clock.nowNs
      try f(id) finally spans.add(Span(id, name, parent, run, t0, Clock.nowNs))
    }

  def record(name: String, parent: Long, startNs: Long, endNs: Long): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), name, parent, run, startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Self time per span: its duration minus the part of it that its
    * child spans cover. */
  def selfNs: Map[Long, Long] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      s.id -> (s.durNs - Trace.unionNs(kids))
    }.toMap
  }
}

object Trace {
  /** Length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** One finished Spark job with the task metrics of the stages it ran. */
final class JobRec(val jobId: Int, val startNs: Long, val span: Long, val callSite: String) {
  @volatile var endNs: Long = startNs
  val stages = new AtomicLong(0)
  val tasks = new AtomicLong(0)
  val tasksFailed = new AtomicLong(0)
  val runMs = new AtomicLong(0)
  val cpuNs = new AtomicLong(0)
  val gcMs = new AtomicLong(0)
  val schedDelayMs = new AtomicLong(0)
  val inputBytes = new AtomicLong(0)
  val shuffleBytes = new AtomicLong(0)
  val spillBytes = new AtomicLong(0)
}

/** A query execution that finished, with its Catalyst planning time. */
final case class PlanRec(atNs: Long, planNs: Long)

/** Collects jobs, stages, tasks and planning times through Spark's public
  * listener interfaces. Spans set with [[Spans.inSpan]] tag the jobs that
  * a thread starts, so jobs can be charged to the operation that ran them;
  * jobs started on threads the benchmark does not own are charged by their
  * call site. */
final class SparkStats extends SparkListener with QueryExecutionListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val rec = new JobRec(e.jobId, Clock.msToNs(e.time),
      prop(Spans.Key).toLongOption.getOrElse(0L),
      // the result stage is named after the action's call site
      e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endNs = Clock.msToNs(e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks.incrementAndGet()
      if (e.taskInfo.failed) j.tasksFailed.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        j.runMs.addAndGet(m.executorRunTime)
        j.cpuNs.addAndGet(m.executorCpuTime)
        j.gcMs.addAndGet(m.jvmGCTime)
        j.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        j.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        j.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        // the scheduler-delay formula of Spark's own stage page
        val overhead = m.executorDeserializeTime + m.resultSerializationTime +
          (if (e.taskInfo.gettingResultTime > 0)
            e.taskInfo.finishTime - e.taskInfo.gettingResultTime else 0L)
        j.schedDelayMs.addAndGet(
          math.max(0L, e.taskInfo.duration - m.executorRunTime - overhead))
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    val planMs = phases.map(p => p.endTimeMs - p.startTimeMs).sum
    val at = if (phases.isEmpty) Clock.nowNs else Clock.msToNs(phases.map(_.startTimeMs).min)
    plans.add(PlanRec(at, Clock.msToNs(planMs)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Jobs that started in [fromNs, toNs). */
  def jobsIn(fromNs: Long, toNs: Long): Seq[JobRec] =
    jobs.values.asScala.toSeq.filter(j => j.startNs >= fromNs && j.startNs < toNs)
      .sortBy(_.startNs)

  def planNsIn(fromNs: Long, toNs: Long): Long =
    plans.asScala.iterator.filter(p => p.atNs >= fromNs && p.atNs < toNs).map(_.planNs).sum
}

object SparkStats {
  def attach(spark: SparkSession): SparkStats = {
    val s = new SparkStats
    spark.sparkContext.addSparkListener(s)
    spark.listenerManager.register(s)
    s
  }
}

/** Thread-local span tags carried into the jobs the thread starts. */
object Spans {
  val Key = "perfbench.span"
  def inSpan[T](spark: SparkSession, id: Long)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, id.toString)
    try f finally sc.setLocalProperty(Key, prev)
  }
}

/** Process-wide counters read at the edges of a measured phase.
  *
  * `threadCpu` is the CPU time of every live Java thread: the driver,
  * Spark's task, stream and server threads and the clients. It leaves
  * out the JIT compiler and the garbage collector, whose background work
  * varies from run to run, and it does not grow with the time the host
  * takes away from the virtual CPUs, which wall time does. */
final case class Gauges(gcMs: Long, codegenNs: Long, codegenClasses: Long,
    threadCpu: Map[Long, Long]) {
  /** CPU time the threads spent between `start` and this reading. */
  def cpuNsSince(start: Gauges): Long =
    threadCpu.iterator.map { case (id, ns) => ns - start.threadCpu.getOrElse(id, 0L) }.sum

  /** The counters' growth since `start` (thread CPU time left out). */
  def since(start: Gauges): Gauges = Gauges(gcMs - start.gcMs, codegenNs - start.codegenNs,
    codegenClasses - start.codegenClasses, Map.empty)
}

object Gauges {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  def read(): Gauges = {
    val ids = threads.getAllThreadIds
    val cpu = ids.zip(ids.map(threads.getThreadCpuTime)).filter(_._2 >= 0).toMap
    Gauges(
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(b => math.max(0L, b.getCollectionTime)).sum,
      org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      cpu)
  }
}

/** Layer figures for one measured phase, from the jobs and planning
  * records inside it. */
final case class Layer(wallNs: Long, jobs: Seq[JobRec], planNs: Long, gauges: Gauges) {
  private def sum(f: JobRec => Long): Long = jobs.map(f).sum
  def nJobs: Long = jobs.size.toLong
  def stages: Long = sum(_.stages.get)
  def tasks: Long = sum(_.tasks.get)
  def tasksFailed: Long = sum(_.tasksFailed.get)
  def execNs: Long = Trace.unionNs(jobs.map(j => (j.startNs, j.endNs)))
  def driverNs: Long = wallNs - execNs
  def schedDelayMs: Long = sum(_.schedDelayMs.get)
  def taskRunMs: Long = sum(_.runMs.get)
  def taskCpuNs: Long = sum(_.cpuNs.get)
  def taskGcMs: Long = sum(_.gcMs.get)
  def inputMb: Double = sum(_.inputBytes.get) / 1e6
  def shuffleMb: Double = sum(_.shuffleBytes.get) / 1e6
  def spillMb: Double = sum(_.spillBytes.get) / 1e6
}
