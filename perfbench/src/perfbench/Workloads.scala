package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Kinematics
import graft.hep.{Ancestry, HepMaintenance, HepReader, HepWriter}
import graft.hep.Schemas.{ColorPair, Pmu}
import graft.operators.Dedup

/** What a workload sees of the run: the session, the span recorder, the
  * seed, and the self-test corruption hook.
  */
final class Env(val seed: Long, val tracer: Probe.Tracer, corrupt: Option[String]) {
  var spark: SparkSession = _

  def span[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)

  /** Collects every row and column of `df` (the whole result the caller
    * receives), inside a span.
    */
  def collect(df: DataFrame): Array[Row] = span("spark", "collect")(df.collect())

  /** The self-test hook: when the run was started with `--corrupt kind`,
    * results of that kind lose their first element before they are
    * checked, which the check must report as a failure.
    */
  def tamper[T](kind: String, xs: Array[T]): Array[T] =
    if (corrupt.contains(kind) && xs.nonEmpty) xs.drop(1) else xs
}

/** One request of the closed loop. `run` does the timed work and returns
  * the check of its result, which the runner calls after the clock stops.
  * `items` is the number of events or documents the request handles.
  */
final case class Op(kind: String, items: Long, run: () => () => Boolean)

trait Workload {
  def name: String
  /** The most frequent request kind, whose median latency is `op_p50_ms`. */
  def primary: String
  /** Builds the inputs (and any store they need) under `dir`. */
  def setup(env: Env, dir: File): Unit
  /** The requests of cycle `c`, in order; a cycle is the unit the loop
    * repeats, so every run sees the same mix of request kinds.
    */
  def cycle(env: Env, c: Int): Seq[Op]
  /** The untimed warm-up after the first request of cycle 0: by default
    * the first request of each kind that has not run yet, so every kind
    * has run once before timing starts.
    */
  def warmup(first: Op, rest: Seq[Op]): Seq[Op] =
    rest.filter(_.kind != first.kind).distinctBy(_.kind)
  /** Per-run counters a workload reports beside the timings. */
  def counters: Map[String, Double] = Map.empty
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "hep" => new Hep
    case "doc_dedup" => new DocDedup
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  val Processes = Seq("proc_a", "proc_b")
  val EvtsPerChunk = graft.hep.Schemas.DefaultEvtsPerChunk

  /** Builder inputs of one event, prepared before any timing. */
  final class Prepared(val ev: Gen.Event) {
    val pmu: Array[Pmu] = ev.pcls.map(p => Pmu(p.x, p.y, p.z, p.e)).toArray
    val pdg: Array[Int] = ev.pcls.map(_.pdg).toArray
    val status: Array[Short] = ev.pcls.map(_.status).toArray
    val helicity: Array[Short] = ev.pcls.map(_.helicity).toArray
    val color: Array[ColorPair] = ev.pcls.map(p => ColorPair(p.color, p.anticolor)).toArray
    val fin: Array[Boolean] = ev.pcls.map(_.fin).toArray
    val edges: Array[(Int, Int)] = ev.edges.toArray
    val weights: Array[Double] = ev.weights.toArray
  }

  def fill(b: HepWriter#EventBuilder, e: Prepared): Unit = {
    b.setPmu(e.pmu).setPdg(e.pdg).setStatus(e.status).setHelicity(e.helicity)
      .setColor(e.color).setMask("final", e.fin)
    b.setEdges(e.edges).setEdgeWeights(e.weights)
  }

  def newProcess(w: HepWriter, p: String): w.ProcessBuilder =
    w.newProcess(p).setProcessString(s"p p > $p").setSignalPdgs(Seq(6, -6))
      .setComEnergy(13000.0, "GeV")

  /** Data files (not markers or checksums) and their bytes under `dir`. */
  def dataFiles(dir: File): (Int, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val fs = walk(dir).filter { f =>
      val n = f.getName
      !n.startsWith(".") && !n.startsWith("_")
    }
    (fs.size, fs.map(_.length).sum)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** A looked-up event's rows against the generated particles. */
  def checkEvent(rows: Array[Row], e: Gen.Event): Boolean =
    rows.length == e.pcls.size && rows.sortBy(_.getAs[Int]("idx")).zipWithIndex.forall {
      case (r, i) =>
        val p = e.pcls(i)
        val m = r.getAs[Row]("pmu")
        val c = r.getAs[Row]("color")
        r.getAs[String]("process") == e.process && r.getAs[Long]("event_id") == e.id &&
        r.getAs[Int]("idx") == i &&
        m.getDouble(0) == p.x && m.getDouble(1) == p.y && m.getDouble(2) == p.z &&
        m.getDouble(3) == p.e && r.getAs[Int]("pdg") == p.pdg &&
        r.getAs[Short]("status") == p.status && r.getAs[Short]("helicity") == p.helicity &&
        c.getInt(0) == p.color && c.getInt(1) == p.anticolor &&
        r.getAs[Boolean]("fin") == p.fin && r.getAs[Map[String, Boolean]]("masks").isEmpty
    }

  /** Scan rows (event_id, mass, pt) against the generated final-state sums. */
  def checkScan(rows: Array[Row], events: Vector[Gen.Event]): Boolean = {
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    rows.length == events.size && rows.forall { r =>
      val id = r.getLong(0)
      id >= 0 && id < events.size && {
        val (m, pt) = Gen.finalSum(events(id.toInt))
        close(r.getDouble(1), m) && close(r.getDouble(2), pt)
      }
    } && rows.map(_.getLong(0)).distinct.length == events.size
  }

  /** Descendant rows (process, event_id, vtx) against plain-Scala BFS. */
  def checkDescendants(rows: Array[Row], events: Seq[Gen.Event]): Boolean = {
    val got = rows.groupMap(r => (r.getString(0), r.getLong(1)))(_.getInt(2))
      .map { case (k, v) => k -> v.toSet }
    rows.length == got.values.map(_.size).sum &&
    got == events.map(e => (e.process, e.id) -> Gen.descendants(e)).filter(_._2.nonEmpty).toMap
  }

  /** Survivor rows (doc_id, text) against the expected doc_id set. */
  def checkSurvivors(rows: Array[Row], docs: Map[Long, String], want: Set[Long]): Boolean =
    rows.length == want.size && rows.forall { r =>
      val id = r.getAs[Long]("doc_id")
      want.contains(id) && docs.get(id).contains(r.getAs[String]("text"))
    }
}

import Workloads._

/** The hep store end to end, on one session. Setup writes a store of 250
  * events per process with `HepWriter` and leaves it as the writer left
  * it (not compacted), so reads see the layout the writer really leaves.
  * Each cycle:
  *   - ingests a fresh side store: one chunk of 1000 events per process
  *     through `newProcess` → `eventIter` at the default `evtsPerChunk`
  *     (each chunk request ends in the chunk's flush), then `close()`,
  *     then `HepMaintenance.compactStore`;
  *   - reads the setup store: 14 point lookups
  *     `process(k).event(n).particles` with keys uniform over all events,
  *     one kinematics scan of one process, and one ancestry BFS from
  *     vertex 0 over 8 seeded events.
  */
final class Hep extends Workload {
  val name = "hep"
  val primary = "lookup"
  val IngestEvents = EvtsPerChunk
  val StoreEvents = 250
  val LookupsPerCycle = 14
  val AncestrySample = 8
  private var prepared: Map[String, Vector[Prepared]] = _
  private var events: Map[String, Vector[Gen.Event]] = _
  private var dir: File = _
  private var reader: HepReader = _
  private var ingestUserBytes = 0L
  private var storeFiles = 0
  private val stats = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val returned = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val rounds = scala.collection.mutable.ArrayBuffer.empty[Double]

  def setup(env: Env, d: File): Unit = {
    dir = d
    prepared = Processes.map(p => p -> Vector.tabulate(IngestEvents)(i =>
      new Prepared(Gen.event(env.seed, p, i.toLong)))).toMap
    events = prepared.map { case (p, v) => p -> v.take(StoreEvents).map(_.ev) }
    ingestUserBytes = prepared.values.flatten.map(p => Gen.userBytes(p.ev)).sum
    val store = new File(dir, "store")
    val w = new HepWriter(env.spark, store.getPath)
    Processes.foreach(p => newProcess(w, p).eventIter(prepared(p).take(StoreEvents))(fill))
    w.close()
    storeFiles = dataFiles(new File(store, "particles"))._1
    reader = new HepReader(env.spark, store.getPath)
  }

  def cycle(env: Env, c: Int): Seq[Op] = {
    val (chunks, close, compact) = ingest(env, new File(dir, s"ingest-$c"))
    val r = Gen.rng(env.seed, 0x9E, c.toLong)
    val lookups = Seq.fill(LookupsPerCycle) {
      val p = Processes(r.nextInt(Processes.size))
      lookup(env, p, r.nextInt(StoreEvents).toLong)
    }
    val sp = Processes(c % Processes.size)
    val ap = Processes((c + 1) % Processes.size)
    val sample = Gen.shuffle(r, (0 until StoreEvents).toVector).take(AncestrySample)
      .map(i => events(ap)(i))
    val (a, b) = lookups.splitAt(LookupsPerCycle / 2)
    Seq(chunks(0)) ++ a ++ Seq(scan(env, sp), chunks(1)) ++ b ++
      Seq(close, compact, ancestry(env, ap, sample))
  }

  /** All of cycle 0: the side store's requests must run in order, and the
    * lookups settle only after a dozen or so calls.
    */
  override def warmup(first: Op, rest: Seq[Op]): Seq[Op] = rest

  private def ingest(env: Env, store: File): (Seq[Op], Op, Op) = {
    val spark = env.spark
    lazy val writer = new HepWriter(spark, store.getPath)
    val chunks = Processes.map { p =>
      Op("chunk", IngestEvents.toLong, () => {
        val pb = env.span("hep.writer", "newProcess")(newProcess(writer, p))
        env.span("hep.writer", "eventIter")(pb.eventIter(prepared(p))(fill))
        () => true
      })
    }
    val close = Op("close", 0L, () => {
      env.span("hep.writer", "close")(writer.close())
      () => {
        val (files, bytes) = dataFiles(store)
        stats("files_written") += files
        stats("bytes_written") += bytes
        stats("bytes_per_user_byte") += bytes.toDouble / ingestUserBytes
        stats("stores") += 1
        new File(store, "_meta.json").isFile
      }
    })
    val compact = Op("compact", 0L, () => {
      val res = env.span("hep.compact", "compactStore")(
        HepMaintenance.compactStore(spark, store.getPath))
      () => {
        stats("files_before") += res.values.map(_._1).sum
        stats("files_after") += res.values.map(_._2).sum
        stats("bytes_rewritten") += dataFiles(store)._2
        val ok = verifyIngest(env, store)
        deleteTree(store)
        ok
      }
    })
    (chunks, close, compact)
  }

  /** The compacted side store reads back: per-process event counts, one
    * seeded event per process row for row, and exactly one file per
    * (process, chunk) directory of the particles table.
    */
  private def verifyIngest(env: Env, store: File): Boolean = {
    val r = new HepReader(env.spark, store.getPath)
    val rng = Gen.rng(env.seed, 0x1C, store.getName.hashCode.toLong)
    Processes.forall { p =>
      val pr = r.process(p)
      val n = rng.nextInt(IngestEvents)
      pr.length == IngestEvents &&
      env.tamper("ingest", pr.events.select("event_id").collect()).length == IngestEvents &&
      checkEvent(pr.event(n.toLong).particles.collect(), prepared(p)(n).ev)
    } && {
      val chunkDirs = Option(new File(store, "particles").listFiles).toSeq.flatten
        .filter(_.isDirectory).flatMap(d => Option(d.listFiles).toSeq.flatten.filter(_.isDirectory))
      chunkDirs.nonEmpty && chunkDirs.forall(d => dataFiles(d)._1 == 1)
    }
  }

  private def lookup(env: Env, p: String, n: Long): Op = Op("lookup", 1L, () => {
    val pr = env.span("hep.reader", "process")(reader.process(p))
    val df = env.span("hep.reader", "event.particles")(pr.event(n).particles)
    val rows = env.collect(df)
    () => {
      returned += (events(p)(n.toInt).pcls.size * Gen.ParticleBytes).toDouble
      checkEvent(env.tamper("lookup", rows), events(p)(n.toInt))
    }
  })

  private def scan(env: Env, p: String): Op = Op("scan", StoreEvents.toLong, () => {
    val pr = env.span("hep.reader", "process")(reader.process(p))
    val df = env.span("hep.reader", "particles")(pr.particles)
      .where(col("fin"))
      .groupBy(col("event_id"))
      .agg(Kinematics.pmuSum(col("pmu")).as("s"))
      .select(col("event_id"), Kinematics.mass(col("s")).as("mass"),
        Kinematics.pt(col("s")).as("pt"))
    val rows = env.collect(df)
    () => checkScan(env.tamper("scan", rows), events(p))
  })

  private def ancestry(env: Env, p: String, sample: Seq[Gen.Event]): Op =
    Op("ancestry", sample.size.toLong, () => {
      val spark = env.spark
      import spark.implicits._
      val pr = env.span("hep.reader", "process")(reader.process(p))
      val edges = env.span("hep.reader", "edges")(pr.edges)
      val roots = sample.map(e => (p, e.id, 0)).toDF("process", "event_id", "vtx")
      val df = env.span("hep.ancestry", "descendants")(
        Ancestry.descendants(edges, roots, maxDepth = 1000))
      val rows = env.collect(df)
      () => {
        rounds += sample.map(Gen.depth(_)).max + 1 // deepest frontier + the final empty one
        checkDescendants(env.tamper("ancestry", rows), sample)
      }
    })

  override def counters: Map[String, Double] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val n = math.max(stats("stores"), 1.0)
    Map(
      "hep.writer.files_written" -> stats("files_written") / n,
      "hep.writer.bytes_written" -> stats("bytes_written") / n,
      "hep.writer.bytes_per_user_byte" -> stats("bytes_per_user_byte") / n,
      "hep.compact.files_before" -> stats("files_before") / n,
      "hep.compact.files_after" -> stats("files_after") / n,
      "hep.compact.bytes_rewritten" -> stats("bytes_rewritten") / n,
      "hep.reader.store_files" -> storeFiles.toDouble,
      "hep.reader.bytes_returned_per_lookup" -> mean(returned.toSeq),
      "hep.ancestry.rounds" -> mean(rounds.toSeq))
  }
}

/** A seeded corpus with planted exact and near duplicates. Each cycle is
  * one `Dedup.deduplicate` over the whole corpus, then 6 fresh batches
  * screened by `Dedup.deduplicateAgainst` against the band index
  * `writeBandIndex` built over the accepted corpus in setup.
  */
final class DocDedup extends Workload {
  val name = "doc_dedup"
  val primary = "screen"
  val Bases = 1000
  val BatchSize = 200
  val BatchesPerCycle = 6
  private var corpus: Gen.Corpus = _
  private var corpusById: Map[Long, String] = _
  private var corpusPath: String = _
  private var indexPath: String = _
  private var accepted: Vector[Gen.Doc] = _
  private var survivorRatio = 0.0

  def setup(env: Env, dir: File): Unit = {
    val spark = env.spark
    import spark.implicits._
    corpus = Gen.corpus(env.seed, Bases, exactShare = 0.1, nearShare = 0.1)
    corpusById = corpus.docs.map(d => d.id -> d.text).toMap
    accepted = corpus.docs.filter(d => corpus.survivors.contains(d.id)).sortBy(_.id)
    corpusPath = new File(dir, "corpus").getPath
    indexPath = new File(dir, "bandidx").getPath
    corpus.docs.map(d => (d.id, d.text)).toDF("doc_id", "text").write.parquet(corpusPath)
    Dedup.writeBandIndex(spark.read.parquet(corpusPath)
      .where(col("doc_id") < Bases), indexPath)
    survivorRatio = corpus.survivors.size.toDouble / corpus.docs.size
  }

  def cycle(env: Env, c: Int): Seq[Op] = {
    val spark = env.spark
    import spark.implicits._
    val dedup = Op("dedup", corpus.docs.size.toLong, () => {
      val docs = spark.read.parquet(corpusPath)
      val df = env.span("dedup", "deduplicate")(Dedup.deduplicate(docs, Gen.JaccardThreshold))
      val rows = env.collect(df)
      () => checkSurvivors(env.tamper("dedup", rows), corpusById, corpus.survivors)
    })
    val screens = (0 until BatchesPerCycle).map { k =>
      val no = c * BatchesPerCycle + k
      val b = Gen.batch(env.seed, no, accepted, BatchSize,
        firstId = 1_000_000L + no.toLong * BatchSize)
      val byId = b.docs.map(d => d.id -> d.text).toMap
      val batchDf = b.docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
      Op("screen", b.docs.size.toLong, () => {
        val idx = env.span("dedup", "loadBandIndex")(Dedup.loadBandIndex(spark, indexPath))
        val df = env.span("dedup", "deduplicateAgainst")(
          Dedup.deduplicateAgainst(batchDf, idx, Gen.JaccardThreshold))
        val rows = env.collect(df)
        () => checkSurvivors(env.tamper("screen", rows), byId, b.survivors)
      })
    }
    dedup +: screens
  }

  override def counters: Map[String, Double] = Map("dedup.survivor_ratio" -> survivorRatio)
}
