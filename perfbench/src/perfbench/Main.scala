package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Runs one workload in this (fresh) JVM and prints its result.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> [--commit <id>] [--corrupt <kind>]
  * }}}
  *
  * Phases: set up three times (session build + inputs + any store), each
  * in a fresh session, and report the median as `setup_s`; time the first
  * request of the run (`first_op_s`); run the other request kinds once,
  * untimed; then run whole cycles of requests in a closed loop, one
  * client, each request sent when the previous one returned, until
  * `--seconds` have passed. Every result is checked against the
  * generator's expectation after the clock stops; a failed check counts
  * the request as failed and keeps its time out of the latency figures.
  *
  * With `--trace 1` spans and listeners are recorded on every other loop
  * cycle, and the per-layer metrics replace the end-to-end ones on the
  * last line; the difference between traced and untraced cycles is the
  * tracing overhead.
  */
object Main {
  val Nproc = 4
  val Setups = 3

  final case class Rec(cycle: Int, kind: String, items: Long, ms: Double, ok: Boolean,
      traced: Boolean, op: Int, gcMs: Long, jitMs: Long)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val workload = Workloads(need("workload"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = new File(need("work"))
    work.mkdirs()

    var spark: SparkSession = null
    val tracer = new Probe.Tracer(() => Option(spark).map(_.sparkContext))
    val env = new Env(seed, tracer, opts.get("corrupt"))
    // one listener pair per session: job and stage ids restart with each context
    var listener = new Probe.Listener
    var actions = new Probe.Actions

    def newSession(): Double = {
      val t0 = Probe.nowMs
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = graft.EngineSession.builder(Nproc.toString)
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      env.spark = spark
      if (trace) {
        listener = new Probe.Listener
        actions = new Probe.Actions
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(actions)
      }
      Probe.nowMs - t0
    }

    var failures = 0
    def runOp(op: Op, cycle: Int, traced: Boolean): Rec = {
      tracer.enabled = traced
      val id = tracer.beginOp()
      val gc0 = Probe.gcMs
      val jit0 = Probe.jitMs
      val t0 = Probe.nowMs
      val check =
        try Some(tracer.span("client", op.kind)(op.run()))
        catch { case e: Exception => System.err.println(s"${op.kind} failed: $e"); None }
      val ms = Probe.nowMs - t0
      val (gc, jit) = (Probe.gcMs - gc0, Probe.jitMs - jit0)
      tracer.enabled = false
      val ok = check.exists { c =>
        try c() catch { case e: Exception => System.err.println(s"${op.kind} check: $e"); false }
      }
      if (!ok) failures += 1
      System.err.println(f"perfbench: cycle $cycle%d ${op.kind}%s $ms%.1f ms gc $gc%d jit $jit%d ok $ok")
      Rec(cycle, op.kind, op.items, ms, ok, traced, id, gc, jit)
    }

    val steal0 = Probe.stealJiffies
    val setupMs = mutable.ArrayBuffer.empty[Double]
    val sessionMs = mutable.ArrayBuffer.empty[Double]
    for (k <- 1 to Setups) {
      tracer.enabled = trace
      val t0 = Probe.nowMs
      sessionMs += tracer.span("engine", "session")(newSession())
      tracer.span("client", "setup")(workload.setup(env, new File(work, s"setup-$k")))
      setupMs += Probe.nowMs - t0
    }
    // generated code and its JIT state are per session, so the first
    // request, the warm-up and the loop all run on the last session
    val c0 = workload.cycle(env, 0)
    val first = runOp(c0.head, 0, trace)
    val warm = workload.warmup(c0.head, c0.tail).map(op => runOp(op, 0, traced = false))

    val loop = mutable.ArrayBuffer.empty[Rec]
    val loopStart = Probe.nowMs
    var c = 1
    // whole cycles only, so every run sees the same mix of request kinds;
    // a traced run needs a traced and an untraced cycle
    while (Probe.nowMs - loopStart < seconds * 1000 || (trace && c < 3)) {
      val traced = trace && c % 2 == 1
      workload.cycle(env, c).foreach(op => loop += runOp(op, c, traced))
      c += 1
    }
    val loopMs = Probe.nowMs - loopStart

    val canary = graft.LoadCanary.once(spark)
    val steal1 = Probe.stealJiffies
    if (trace) Probe.drain(spark, listener)
    val peakRss = Probe.peakRssMb
    val attempted = 1 + warm.size + loop.size
    val ok = loop.filter(_.ok)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", Stats.median(setupMs.toSeq) / 1000, "s"),
        ("first_op_s", first.ms / 1000, "s"),
        ("op_p50_ms", Stats.median(ok.filter(_.kind == workload.primary).map(_.ms).toSeq), "ms"),
        ("items_per_s", ok.map(_.items).sum * 1000.0 / loop.map(_.ms).sum, "items/s"),
        ("peak_rss_mb", peakRss, "MB"))
      else Layers.metrics(workload, first, loop.toSeq, tracer.spans.toSeq,
        listener, actions, Stats.median(sessionMs.toSeq))

    val stealRatio = {
      val (s, t) = (steal1._1 - steal0._1, steal1._2 - steal0._2)
      if (t > 0) s.toDouble / t else 0.0
    }
    val detail = Json.obj(
      "workload" -> Json.str(workload.name),
      "seed" -> Json.num(seed.toDouble),
      "nproc" -> Json.num(Nproc),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "commit" -> Json.str(opts.getOrElse("commit", "unknown")),
      "steal_ratio" -> Json.num(stealRatio),
      "canary_s" -> Json.num(canary),
      "canary_ratio" -> Json.num(canary / graft.LoadCanary.referenceSec),
      "cycles" -> Json.num(c - 1),
      "loop_s" -> Json.num(loopMs / 1000),
      "setups_s" -> Json.arr(setupMs.map(v => Json.num(v / 1000)).toSeq),
      "session_ms" -> Json.arr(sessionMs.map(Json.num).toSeq),
      "first_op" -> Json.obj("kind" -> Json.str(first.kind), "s" -> Json.num(first.ms / 1000),
        "gc_ms" -> Json.num(first.gcMs.toDouble), "jit_ms" -> Json.num(first.jitMs.toDouble)),
      "failed_ratio" -> Json.num(failures.toDouble / attempted),
      "requests" -> Stats.byKind(loop.toSeq.filter(r => !r.traced)),
      "counters" -> Json.obj(workload.counters.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*))
    println(Json.obj("detail" -> detail))

    spark.stop()
    val result = Json.obj(
      "correct" -> Json.bool(failures == 0),
      "attempted" -> Json.num(attempted),
      "failed" -> Json.num(failures),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
      }: _*))
    println(result)
    System.out.flush()
  }
}

/** Order statistics over request timings. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least 10 samples above it, as
    * (percentile, value); None below 11 samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val i = s.size - 11
      Some((100.0 * (i + 1) / s.size, s(i)))
    }

  /** Per request kind: count, median, tail and item throughput. */
  def byKind(recs: Seq[Main.Rec]): String =
    Json.obj(recs.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
      val ok = rs.filter(_.ok).map(_.ms)
      val t = tail(ok)
      k -> Json.obj(
        "n" -> Json.num(rs.size),
        "p50_ms" -> Json.num(median(ok)),
        "tail_pct" -> t.map(x => Json.num(x._1)).getOrElse("null"),
        "tail_ms" -> t.map(x => Json.num(x._2)).getOrElse("null"),
        "items_per_s" -> Json.num(rs.filter(_.ok).map(_.items).sum * 1000.0 / rs.map(_.ms).sum))
    }: _*)
}

/** Just enough JSON output for the result lines. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
