package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{BusDrain, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark engine counters fed by the listener bus. Task-level sums are
  * always on and reset before the traced run; job spans and plan shapes
  * are recorded only in the traced run. */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  private def c = new AtomicLong(0L)
  val jobs, stages, tasks, failedTasks = c
  val runMs, cpuNs, gcMs, delayMs, fetchWaitMs = c
  val shuffleReadB, shuffleWriteB, spillB = c
  val peakExecMemB, maxTaskShuffleReadB = c
  val planningMs, exchanges, broadcasts, sorts, nonCodegen = c
  @volatile var shapes: Boolean = false

  private val all = Seq(jobs, stages, tasks, failedTasks, runMs, cpuNs, gcMs,
    delayMs, fetchWaitMs, shuffleReadB, shuffleWriteB, spillB,
    peakExecMemB, maxTaskShuffleReadB, planningMs, exchanges, broadcasts, sorts,
    nonCodegen)
  def reset(): Unit = all.foreach(_.set(0L))

  /** listener event times are epoch millis; spans use nanoTime */
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val openJobs = new ConcurrentHashMap[Int, (Long, Long)]()

  private def max(a: AtomicLong, v: Long): Unit = a.accumulateAndGet(v, math.max)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.JobProperty)))
      .map(_.toLong).getOrElse(0L)
    openJobs.put(e.jobId, (nanoOffset + e.time * 1000000L, parent))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val open = openJobs.remove(e.jobId)
    if (open != null)
      Trace.record(open._2, s"job ${e.jobId}", "job", open._1, nanoOffset + e.time * 1000000L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != Success) failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      val info = e.taskInfo
      val gettingResult = if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
      delayMs.addAndGet(math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult))
      val sr = m.shuffleReadMetrics
      fetchWaitMs.addAndGet(sr.fetchWaitTime)
      val read = sr.remoteBytesRead + sr.localBytesRead
      shuffleReadB.addAndGet(read)
      max(maxTaskShuffleReadB, read)
      shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      max(peakExecMemB, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (shapes) {
      planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
      shape(qe.executedPlan, inCodegen = false)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Plan-shape counts on the AQE-final plan: exchanges, broadcasts and
    * sorts, and operators that run outside whole-stage codegen (wrappers
    * and exchanges excluded). Reused exchanges are not counted again. */
  private def shape(p: SparkPlan, inCodegen: Boolean): Unit = p match {
    case a: AdaptiveSparkPlanExec => shape(a.executedPlan, inCodegen = false)
    case q: QueryStageExec => shape(q.plan, inCodegen = false)
    case w: WholeStageCodegenExec => shape(w.child, inCodegen = true)
    case i: InputAdapter => shape(i.child, inCodegen = false)
    case _: ReusedExchangeExec => ()
    case e: ShuffleExchangeLike => exchanges.incrementAndGet(); shape(e.child, inCodegen = false)
    case b: BroadcastExchangeLike => broadcasts.incrementAndGet(); shape(b.child, inCodegen = false)
    case other =>
      if (other.isInstanceOf[SortExec]) sorts.incrementAndGet()
      if (!inCodegen) nonCodegen.incrementAndGet()
      other.children.foreach(shape(_, inCodegen))
      other.subqueries.foreach(shape(_, inCodegen = false))
  }
}

object SparkProbe {
  def install(spark: org.apache.spark.sql.SparkSession): SparkProbe = {
    val p = new SparkProbe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  /** waits until every posted listener event has been delivered */
  def drain(sc: SparkContext): Unit = BusDrain.drain(sc)

  /** whole-stage codegen compiles so far: (count, nanoseconds) */
  def codegen: (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}

/** Largest post-GC heap occupancy seen since the last reset, from the
  * JVM's GC notifications. */
object HeapWatch {
  private val peak = new AtomicLong(0L)
  def reset(): Unit = peak.set(0L)
  def peakMiB: Double = peak.get / 1048576.0
  /** the peak, or the live heap after a full collection now if that is
    * larger: a short job may finish without any collection of its own */
  def peakOrLiveMiB(): Double = {
    System.gc()
    math.max(peakMiB, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: javax.management.NotificationEmitter =>
      em.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if isHeap(pool) => u.getUsed
          }.sum
          peak.accumulateAndGet(used, math.max)
        }
      }, null, null)
    case _ => ()
  }

  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private def isHeap(pool: String): Boolean = heapPools(pool)
}

/** Process CPU and host /proc/stat readings for the contention label:
  * a run whose wall time rose while its own CPU time did not, and whose
  * steal or foreign CPU rose, was slowed by the host. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS: Double = os.getProcessCpuTime / 1e9
  /** seconds since the JVM started */
  def sinceJvmStartS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  private val Hz = 100.0 // USER_HZ, fixed at 100 on Linux
  /** (busy seconds of all CPUs, steal seconds) from /proc/stat */
  def stat(): (Double, Double) = {
    val p = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.isReadable(p)) (0.0, 0.0)
    else {
      val f = java.nio.file.Files.readAllLines(p).asScala.head.trim.split("\\s+").drop(1)
        .map(_.toLong)
      // user nice system idle iowait irq softirq steal ...
      val busy = f(0) + f(1) + f(2) + f(5) + f(6)
      (busy / Hz, (if (f.length > 7) f(7) else 0L) / Hz)
    }
  }
}
