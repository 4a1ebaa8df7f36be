package perfbench

import scala.collection.mutable
import Probe.{Action, Job, Listener, Actions, Span, StageCost}

/** Per-layer metrics of a traced run, computed from the spans, jobs,
  * stages and actions recorded on its traced loop cycles. Every name is
  * reported on every workload; a layer a workload never calls reads 0.
  * Times and counts are per request unless the name says otherwise.
  */
object Layers {

  /** Every per-layer metric name with its unit, in output order. */
  val Names: Seq[(String, String)] = Seq(
    "engine.session_ms" -> "ms",
    "client.self_ms" -> "ms",
    "hep.writer.self_ms" -> "ms",
    "hep.writer.flush_ms" -> "ms",
    "hep.writer.close_ms" -> "ms",
    "hep.writer.jobs_per_chunk" -> "count",
    "hep.writer.files_written" -> "count",
    "hep.writer.bytes_written" -> "bytes",
    "hep.writer.bytes_per_user_byte" -> "ratio",
    "hep.compact.self_ms" -> "ms",
    "hep.compact.ms" -> "ms",
    "hep.compact.files_before" -> "count",
    "hep.compact.files_after" -> "count",
    "hep.compact.bytes_rewritten" -> "bytes",
    "hep.reader.self_ms" -> "ms",
    "hep.reader.store_files" -> "count",
    "hep.reader.open_ms" -> "ms",
    "hep.reader.build_ms" -> "ms",
    "hep.reader.files_read_per_lookup" -> "count",
    "hep.reader.bytes_read_per_lookup" -> "bytes",
    "hep.reader.bytes_read_per_byte_returned" -> "ratio",
    "hep.ancestry.self_ms" -> "ms",
    "hep.ancestry.rounds" -> "count",
    "hep.ancestry.jobs_per_call" -> "count",
    "hep.ancestry.driver_ms" -> "ms",
    "dedup.self_ms" -> "ms",
    "dedup.jobs_per_call" -> "count",
    "dedup.first_call_jobs" -> "count",
    "dedup.survivor_ratio" -> "ratio",
    "dedup.stages" -> "count",
    "dedup.tasks" -> "count",
    "dedup.task_run_ms" -> "ms",
    "dedup.task_cpu_ms" -> "ms",
    "dedup.shuffle_read_bytes" -> "bytes",
    "dedup.shuffle_write_bytes" -> "bytes",
    "dedup.spill_bytes" -> "bytes",
    "dedup.input_bytes" -> "bytes",
    "dedup.driver_ms" -> "ms",
    "catalyst.actions" -> "count",
    "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "spark.self_ms" -> "ms",
    "spark.job_ms" -> "ms",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.task_run_ms" -> "ms",
    "spark.task_cpu_ms" -> "ms",
    "spark.task_gc_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes",
    "spark.driver_ms" -> "ms",
    "jvm.gc_ms" -> "ms",
    "jvm.jit_ms" -> "ms",
    "jvm.first_op_gc_ms" -> "ms",
    "jvm.first_op_jit_ms" -> "ms",
    "trace.spans" -> "count",
    "trace.overhead_ms" -> "ms",
    "trace.overhead_pct" -> "%")

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total, end = 0.0
    var started = false
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(i => i._2 > i._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (!started || a > end) { total += b - a; end = b; started = true }
        else if (b > end) { total += b - end; end = b }
      }
    total
  }

  def metrics(w: Workload, first: Main.Rec, loop: Seq[Main.Rec], spans: Seq[Span],
      l: Listener, a: Actions, sessionMs: Double): Seq[(String, Double, String)] = {
    val jobs = l.synchronized(l.jobs.values.toSeq)
    val stages = l.synchronized(l.stages.toSeq)
    val acts = a.synchronized(a.actions.toSeq)
    val spanById = spans.map(s => s.id -> s).toMap
    val kids = spans.groupBy(_.parent)
    val jobsBySpan = jobs.groupBy(_.span)
    val traced = loop.filter(_.traced)
    val tracedOps = traced.map(_.op).toSet
    val roots = spans.filter(s => s.parent == 0 && s.layer == "client")
    val rootOf = roots.map(r => r.op -> r).toMap
    def opOfSpan(id: Int): Int = spanById.get(id).map(_.op).getOrElse(-1)
    def jobsOf(op: Int): Seq[Job] = jobs.filter(j => opOfSpan(j.span) == op)
    def stagesOf(ops: Set[Int]): Seq[StageCost] = stages.filter(s => ops.contains(opOfSpan(s.jobSpan)))
    def actsOf(ops: Set[Int]): Seq[Action] = acts.filter { x =>
      ops.exists(o => rootOf.get(o).exists(r => x.atMs >= r.startMs && x.atMs <= r.endMs))
    }
    def subtree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(subtree)
    def selfMs(s: Span): Double =
      s.ms - covered(kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)) ++
        jobsBySpan.getOrElse(s.id, Nil).map(j => (j.startMs, j.endMs)), s.startMs, s.endMs)
    // wall time of `s` during which at least one job of its subtree ran
    def jobMs(s: Span): Double =
      covered(subtree(s).flatMap(x => jobsBySpan.getOrElse(x.id, Nil)).map(j => (j.startMs, j.endMs)),
        s.startMs, s.endMs)

    val n = math.max(traced.size, 1).toDouble
    val inLoop = spans.filter(s => tracedOps.contains(s.op))
    def perOp(v: Double) = v / n
    def layerSelf(layer: String) = perOp(inLoop.filter(_.layer == layer).map(selfMs).sum)
    def kindOps(kinds: String*) = traced.filter(r => kinds.contains(r.kind))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def spansNamed(ops: Seq[Main.Rec], layer: String, names: String*) =
      inLoop.filter(s => s.layer == layer && names.contains(s.name) && ops.exists(_.op == s.op))

    final class Cost(ops: Seq[Main.Rec]) {
      private val ids = ops.map(_.op).toSet
      private val st = stagesOf(ids)
      private val k = math.max(ops.size, 1).toDouble
      val jobs = ops.map(o => jobsOf(o.op).size).sum / k
      val stagesN = st.size / k
      val tasks = st.map(_.tasks).sum / k
      val runMs = st.map(_.runMs).sum / k
      val cpuMs = st.map(_.cpuMs).sum / k
      val gcMs = st.map(_.gcMs).sum / k
      val shR = st.map(_.shuffleRead).sum / k
      val shW = st.map(_.shuffleWrite).sum / k
      val spill = st.map(_.spill).sum / k
      val input = st.map(_.input).sum / k
      val jobWall = ops.flatMap(o => rootOf.get(o.op)).map(r => jobMs(r)).sum / k
      val driver = ops.flatMap(o => rootOf.get(o.op)).map(r => r.ms - jobMs(r)).sum / k
    }
    val all = new Cost(traced)
    val dd = new Cost(kindOps("dedup", "screen"))

    val lookups = kindOps("lookup")
    val lookupActs = actsOf(lookups.map(_.op).toSet)
    val lookupBytes = lookupActs.map(_.bytes).sum.toDouble
    val anc = kindOps("ancestry")
    val ancSpans = spansNamed(anc, "hep.ancestry", "descendants")
    val chunks = kindOps("chunk")
    val counters = w.counters
    val tracedCycles = traced.map(_.cycle).distinct
    val untracedCycles = loop.filter(!_.traced).map(_.cycle).distinct
    def cycleMean(cs: Seq[Int]) = mean(cs.map(c => loop.filter(_.cycle == c).map(_.ms).sum))
    val overheadCycle =
      if (tracedCycles.isEmpty || untracedCycles.isEmpty) 0.0
      else cycleMean(tracedCycles) - cycleMean(untracedCycles)
    val opsPerCycle = if (tracedCycles.isEmpty) 1.0 else traced.size.toDouble / tracedCycles.size
    val firstJobs = jobsOf(first.op).size.toDouble

    val v = mutable.LinkedHashMap.empty[String, Double]
    v("engine.session_ms") = sessionMs
    v("client.self_ms") = layerSelf("client")
    v("hep.writer.self_ms") = layerSelf("hep.writer")
    v("hep.writer.flush_ms") = med(chunks.map(_.ms))
    v("hep.writer.close_ms") = med(kindOps("close").map(_.ms))
    v("hep.writer.jobs_per_chunk") = new Cost(chunks).jobs
    v("hep.writer.files_written") = counters.getOrElse("hep.writer.files_written", 0.0)
    v("hep.writer.bytes_written") = counters.getOrElse("hep.writer.bytes_written", 0.0)
    v("hep.writer.bytes_per_user_byte") = counters.getOrElse("hep.writer.bytes_per_user_byte", 0.0)
    v("hep.compact.self_ms") = layerSelf("hep.compact")
    v("hep.compact.ms") = med(kindOps("compact").map(_.ms))
    v("hep.compact.files_before") = counters.getOrElse("hep.compact.files_before", 0.0)
    v("hep.compact.files_after") = counters.getOrElse("hep.compact.files_after", 0.0)
    v("hep.compact.bytes_rewritten") = counters.getOrElse("hep.compact.bytes_rewritten", 0.0)
    v("hep.reader.self_ms") = layerSelf("hep.reader")
    v("hep.reader.store_files") = counters.getOrElse("hep.reader.store_files", 0.0)
    v("hep.reader.open_ms") = med(spansNamed(lookups, "hep.reader", "process").map(_.ms))
    v("hep.reader.build_ms") = med(spansNamed(lookups, "hep.reader", "event.particles").map(_.ms))
    v("hep.reader.files_read_per_lookup") =
      if (lookups.isEmpty) 0.0 else lookupActs.map(_.files).sum.toDouble / lookups.size
    v("hep.reader.bytes_read_per_lookup") =
      if (lookups.isEmpty) 0.0 else lookupBytes / lookups.size
    v("hep.reader.bytes_read_per_byte_returned") = {
      val ret = counters.getOrElse("hep.reader.bytes_returned_per_lookup", 0.0)
      if (ret > 0 && lookups.nonEmpty) lookupBytes / lookups.size / ret else 0.0
    }
    v("hep.ancestry.self_ms") = layerSelf("hep.ancestry")
    v("hep.ancestry.rounds") = counters.getOrElse("hep.ancestry.rounds", 0.0)
    v("hep.ancestry.jobs_per_call") =
      if (ancSpans.isEmpty) 0.0 else ancSpans.map(s => jobsBySpan.getOrElse(s.id, Nil).size).sum.toDouble / ancSpans.size
    v("hep.ancestry.driver_ms") = mean(ancSpans.map(s => s.ms - jobMs(s)))
    v("dedup.self_ms") = layerSelf("dedup")
    v("dedup.jobs_per_call") = dd.jobs
    v("dedup.first_call_jobs") = if (Set("dedup", "screen").contains(first.kind)) firstJobs else 0.0
    v("dedup.survivor_ratio") = counters.getOrElse("dedup.survivor_ratio", 0.0)
    v("dedup.stages") = dd.stagesN
    v("dedup.tasks") = dd.tasks
    v("dedup.task_run_ms") = dd.runMs
    v("dedup.task_cpu_ms") = dd.cpuMs
    v("dedup.shuffle_read_bytes") = dd.shR
    v("dedup.shuffle_write_bytes") = dd.shW
    v("dedup.spill_bytes") = dd.spill
    v("dedup.input_bytes") = dd.input
    v("dedup.driver_ms") = dd.driver
    val la = actsOf(tracedOps)
    v("catalyst.actions") = perOp(la.size)
    v("catalyst.analysis_ms") = perOp(la.map(_.analysisMs).sum)
    v("catalyst.optimization_ms") = perOp(la.map(_.optimizationMs).sum)
    v("catalyst.planning_ms") = perOp(la.map(_.planningMs).sum)
    v("spark.self_ms") = layerSelf("spark")
    v("spark.job_ms") = all.jobWall
    v("spark.jobs") = all.jobs
    v("spark.stages") = all.stagesN
    v("spark.tasks") = all.tasks
    v("spark.task_run_ms") = all.runMs
    v("spark.task_cpu_ms") = all.cpuMs
    v("spark.task_gc_ms") = all.gcMs
    v("spark.shuffle_read_bytes") = all.shR
    v("spark.shuffle_write_bytes") = all.shW
    v("spark.spill_bytes") = all.spill
    v("spark.input_bytes") = all.input
    v("spark.driver_ms") = all.driver
    v("jvm.gc_ms") = perOp(traced.map(_.gcMs).sum.toDouble)
    v("jvm.jit_ms") = perOp(traced.map(_.jitMs).sum.toDouble)
    v("jvm.first_op_gc_ms") = first.gcMs.toDouble
    v("jvm.first_op_jit_ms") = first.jitMs.toDouble
    v("trace.spans") = perOp(inLoop.size + tracedOps.toSeq.map(jobsOf(_).size).sum)
    v("trace.overhead_ms") = overheadCycle / opsPerCycle
    v("trace.overhead_pct") =
      if (untracedCycles.isEmpty) 0.0 else 100.0 * overheadCycle / cycleMean(untracedCycles)
    Names.map { case (k, u) => (k, v(k), u) }
  }
}
