package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Collectors that observe the program from outside: spans recorded
  * around the calls the benchmark makes, one SparkListener for jobs and
  * stages, one QueryExecutionListener for Catalyst phase times and scan
  * metrics, and JVM/OS readings. Everything stays in memory until the run
  * ends.
  */
object Probe {

  /** Local property naming the innermost open span; Spark copies it into
    * every job's properties, which attributes jobs to spans.
    */
  val SpanProp = "perfbench.span"

  // ------------------------------------------------------------------ spans

  final case class Span(id: Int, parent: Int, op: Int, layer: String,
      name: String, startMs: Double, endMs: Double) {
    def ms: Double = endMs - startMs
  }

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble

  /** Wall-clock milliseconds on the JVM's monotonic clock, aligned with
    * the epoch milliseconds Spark stamps on its events.
    */
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  /** Span recorder. When disabled, `span` only runs its body. `sc` is the
    * current context, if any, for the span property.
    */
  final class Tracer(sc: () => Option[SparkContext]) {
    var enabled = false
    val spans = mutable.ArrayBuffer.empty[Span]
    private val stack = mutable.Stack.empty[(Int, String, String, Double)]
    private var nextId = 1
    private var op = 0

    /** Starts a new request; spans opened until the next call belong to it. */
    def beginOp(): Int = { op += 1; op }

    def span[T](layer: String, name: String)(body: => T): T =
      if (!enabled) body
      else {
        val id = nextId
        nextId += 1
        val parent = if (stack.isEmpty) 0 else stack.top._1
        stack.push((id, layer, name, nowMs))
        sc().foreach(_.setLocalProperty(SpanProp, id.toString))
        try body
        finally {
          val (_, l, n, t0) = stack.pop()
          spans += Span(id, parent, op, l, n, t0, nowMs)
          sc().foreach(_.setLocalProperty(SpanProp, if (stack.isEmpty) null else stack.top._1.toString))
        }
      }
  }

  // ----------------------------------------------------------- spark events

  final case class Job(id: Int, span: Int, startMs: Double, var endMs: Double)

  final case class StageCost(jobSpan: Int, tasks: Int, runMs: Long, cpuMs: Double,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, input: Long, gcMs: Long)

  /** One action's Catalyst phase times and the file-scan metrics of its
    * executed plan.
    */
  final case class Action(atMs: Double, analysisMs: Double,
      optimizationMs: Double, planningMs: Double, files: Long, bytes: Long)

  /** The one SparkListener: jobs (attributed through [[SpanProp]]) and
    * per-stage task metrics.
    */
  final class Listener extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stages = mutable.ArrayBuffer.empty[StageCost]
    private val stageJob = mutable.Map.empty[Int, Int]
    @volatile var sentinel = false

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(0)
      if (Option(e.properties).exists(_.getProperty("perfbench.sentinel") != null)) sentinel = true
      jobs(e.jobId) = Job(e.jobId, span, e.time.toDouble, e.time.toDouble)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val span = stageJob.get(i.stageId).flatMap(jobs.get).map(_.span).getOrElse(0)
      if (m != null)
        stages += StageCost(span, i.numTasks, m.executorRunTime, m.executorCpuTime / 1e6,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead, m.jvmGCTime)
    }
  }

  /** Catalyst phases (`queryExecution.tracker`) and scan-node SQL metrics
    * of every action, including the ones the program runs internally.
    */
  final class Actions extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    val actions = mutable.ArrayBuffer.empty[Action]

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def d(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      // an action plans when it runs; analysis may date from when its
      // DataFrame was built
      val at = ph.get("planning").orElse(ph.values.minByOption(_.startTimeMs))
        .map(_.startTimeMs.toDouble).getOrElse(nowMs)
      var files, bytes = 0L
      collectWithSubqueries(qe.executedPlan) { case s: DataSourceScanExec => s }.foreach { s =>
        s.metrics.get("numFiles").foreach(files += _.value)
        s.metrics.get("filesSize").foreach(bytes += _.value)
      }
      synchronized {
        actions += Action(at, d("analysis"), d("optimization"), d("planning"), files, bytes)
      }
    }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Waits until the listener bus has delivered everything posted so far:
    * runs a marked job and waits for the listener to see it.
    */
  def drain(spark: SparkSession, l: Listener): Unit = {
    val sc = spark.sparkContext
    l.sentinel = false
    sc.setLocalProperty("perfbench.sentinel", "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty("perfbench.sentinel", null)
    val deadline = System.nanoTime() + 10_000_000_000L
    while (!l.sentinel && System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(50) // the SQL listener queue runs beside the shared one
  }

  // ---------------------------------------------------------------- jvm/os

  /** Accumulated GC time over all collectors, ms. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Accumulated JIT compiler time, ms. */
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)

  /** Peak resident set size of this JVM (`VmHWM`), MB. */
  def peakRssMb: Double = procStatusKb("VmHWM") / 1024.0

  private def procStatusKb(key: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    finally src.close()
  }

  /** (steal, total) jiffies of the aggregate cpu line of `/proc/stat`. */
  def stealJiffies: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } finally src.close()
  }
}
