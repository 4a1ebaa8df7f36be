package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** The benchmark's own tests, without Spark: generators are pure functions
  * of the seed, and every checker rejects a corrupted result. Exits
  * non-zero on the first failure. Run through `run.py --self-test`, which
  * also drives a whole run with a corrupted result and requires it to be
  * reported as failed.
  */
object SelfTest {
  private var checks = 0

  private def expect(cond: Boolean, what: String): Unit = {
    checks += 1
    if (!cond) {
      System.err.println(s"SelfTest FAILED: $what")
      sys.exit(1)
    }
  }

  private val Pmu = StructType(Seq("x", "y", "z", "e").map(StructField(_, DoubleType)))
  private val Color = StructType(Seq(StructField("color", IntegerType), StructField("anticolor", IntegerType)))
  private val ParticleSchema = StructType(Seq(
    StructField("process", StringType), StructField("event_id", LongType),
    StructField("idx", IntegerType), StructField("pmu", Pmu), StructField("pdg", IntegerType),
    StructField("status", ShortType), StructField("helicity", ShortType),
    StructField("color", Color), StructField("fin", BooleanType),
    StructField("masks", MapType(StringType, BooleanType)), StructField("chunk", LongType)))
  private val DocSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  /** The rows a correct lookup of `e` returns. */
  def particleRows(e: Gen.Event): Array[Row] = e.pcls.zipWithIndex.map { case (p, i) =>
    new GenericRowWithSchema(Array(e.process, e.id, i,
      new GenericRowWithSchema(Array(p.x, p.y, p.z, p.e), Pmu), p.pdg, p.status, p.helicity,
      new GenericRowWithSchema(Array(p.color, p.anticolor), Color), p.fin,
      Map.empty[String, Boolean], e.id / 1000), ParticleSchema): Row
  }.toArray

  private def docRows(docs: Seq[Gen.Doc]): Array[Row] =
    docs.map(d => new GenericRowWithSchema(Array(d.id, d.text), DocSchema): Row).toArray

  /** `rows` with field `i` of row `r` replaced by `v`. */
  private def patch(rows: Array[Row], r: Int, i: Int, v: Any): Array[Row] = rows.updated(r, {
    val vals = rows(r).toSeq.toArray
    vals(i) = v
    new GenericRowWithSchema(vals, rows(r).schema): Row
  })

  def main(args: Array[String]): Unit = {
    // ---- determinism: same seed, same inputs and expectations
    val e1 = Gen.event(11, "proc_a", 42)
    expect(e1 == Gen.event(11, "proc_a", 42), "event is a function of (seed, process, id)")
    expect(e1 != Gen.event(12, "proc_a", 42), "another seed gives another event")
    expect(Gen.descendants(e1) == Gen.descendants(Gen.event(11, "proc_a", 42)), "descendants repeat")
    expect(Gen.descendants(e1) == (1 until e1.pcls.size).toSet, "every particle descends from 0")
    expect(Gen.finalSum(e1) == Gen.finalSum(Gen.event(11, "proc_a", 42)), "final sums repeat")
    val c1 = Gen.corpus(11, 300, 0.1, 0.1)
    val c2 = Gen.corpus(11, 300, 0.1, 0.1)
    expect(c1 == c2, "corpus and survivors are a function of the seed")
    expect(c1 != Gen.corpus(12, 300, 0.1, 0.1), "another seed gives another corpus")
    expect(c1.docs.map(_.id).distinct.size == c1.docs.size, "corpus ids are unique")
    expect(c1.docs.size > c1.survivors.size, "the corpus plants duplicates")
    val accepted = c1.docs.filter(d => c1.survivors.contains(d.id))
    val b1 = Gen.batch(11, 3, accepted, 100, 1000000L)
    expect(b1 == Gen.batch(11, 3, accepted, 100, 1000000L), "batches are a function of the seed")
    expect(b1.docs.size == 100 && b1.survivors.size == 50, "a batch is half fresh, half planted")

    // ---- every planted near copy is a certain LSH candidate of its source
    val byText = accepted.map(_.text).toSet
    val planted = c1.docs.filterNot(d => c1.survivors.contains(d.id) || byText.contains(d.text))
    expect(planted.nonEmpty, "the corpus plants near copies")
    planted.foreach { d =>
      val src = accepted.maxBy(a => Gen.jaccard(a.text, d.text))
      expect(Gen.jaccard(src.text, d.text) >= Gen.JaccardThreshold &&
        Gen.bands(src.text).zip(Gen.bands(d.text)).exists { case (a, b) => a == b },
        s"near copy ${d.id} shares a band with its source and clears the threshold")
    }

    // ---- checkers accept the true result and reject corrupted ones
    val rows = particleRows(e1)
    expect(Workloads.checkEvent(rows, e1), "lookup check accepts the true rows")
    expect(!Workloads.checkEvent(rows.drop(1), e1), "lookup check rejects a missing row")
    expect(!Workloads.checkEvent(patch(rows, 3, 4, 999), e1), "lookup check rejects a wrong pdg")
    expect(!Workloads.checkEvent(patch(rows, 0, 3,
      new GenericRowWithSchema(Array(0.0, 0.0, 0.0, 0.0), Pmu)), e1), "lookup check rejects a wrong pmu")

    val evs = Vector.tabulate(20)(i => Gen.event(11, "proc_b", i.toLong))
    val scanSchema = StructType(Seq(StructField("event_id", LongType),
      StructField("mass", DoubleType), StructField("pt", DoubleType)))
    val scan = evs.map { e =>
      val (m, pt) = Gen.finalSum(e)
      new GenericRowWithSchema(Array(e.id, m, pt), scanSchema): Row
    }.toArray
    expect(Workloads.checkScan(scan, evs), "scan check accepts the true sums")
    expect(!Workloads.checkScan(scan.drop(1), evs), "scan check rejects a missing event")
    expect(!Workloads.checkScan(patch(scan, 5, 1, scan(5).getDouble(1) * 1.001), evs),
      "scan check rejects a wrong mass")

    val descSchema = StructType(Seq(StructField("process", StringType),
      StructField("event_id", LongType), StructField("vtx", IntegerType)))
    val desc = evs.take(4).flatMap(e => Gen.descendants(e).toSeq.sorted.map(v =>
      new GenericRowWithSchema(Array(e.process, e.id, v), descSchema): Row)).toArray
    expect(Workloads.checkDescendants(desc, evs.take(4)), "ancestry check accepts the true sets")
    expect(!Workloads.checkDescendants(desc.drop(1), evs.take(4)), "ancestry check rejects a missing vertex")
    expect(!Workloads.checkDescendants(desc ++ desc.take(1), evs.take(4)), "ancestry check rejects a duplicate")

    val byId = c1.docs.map(d => d.id -> d.text).toMap
    val surv = docRows(accepted)
    expect(Workloads.checkSurvivors(surv, byId, c1.survivors), "dedup check accepts the survivors")
    expect(!Workloads.checkSurvivors(surv.drop(1), byId, c1.survivors), "dedup check rejects a dropped survivor")
    expect(!Workloads.checkSurvivors(surv.dropRight(1) ++ docRows(planted.take(1)), byId, c1.survivors),
      "dedup check rejects a kept duplicate")

    // ---- order statistics
    expect(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5, "median")
    expect(Stats.tail((1 to 10).map(_.toDouble)).isEmpty, "no tail below 11 samples")
    expect(Stats.tail((1 to 40).map(_.toDouble)) == Some((75.0, 30.0)), "tail keeps 10 samples above it")
    expect(Layers.covered(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0)), 0.5, 5.5) == 3.0, "interval union")

    println(s"SelfTest: $checks checks passed")
  }
}
