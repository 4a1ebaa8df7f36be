package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generators and their expected outputs, in plain Scala.
  *
  * Nothing here touches Spark: every expected value (a looked-up event's
  * particle rows, per-event final-state 4-momentum sums, descendant sets,
  * dedup survivors) is derived from the generated data alone, so a wrong
  * engine result cannot also corrupt the reference it is checked against.
  * The same seed always yields the same inputs and the same expectations.
  */
object Gen {

  // ------------------------------------------------------------- hep events

  final case class Pcl(
      x: Double, y: Double, z: Double, e: Double,
      pdg: Int, status: Short, helicity: Short,
      color: Int, anticolor: Int, fin: Boolean)

  /** One generated event: particles plus its shower DAG edges (src → dst,
    * src < dst, vertex 0 the root every particle descends from).
    */
  final case class Event(
      process: String, id: Long, pcls: Vector[Pcl],
      edges: Vector[(Int, Int)], weights: Vector[Double])

  private val Pdgs = Array(21, 1, -1, 2, -2, 3, -3, 11, -11, 13, -13, 22, 211, -211, 111, 2212)
  private val Masses = Array(0.0, 0.0047, 0.0022, 0.095, 0.000511, 0.1057, 0.1396, 0.938)

  /** Event `id` of `process`: a pure function of (seed, process, id), so
    * any event can be regenerated independently for checking.
    */
  def event(seed: Long, process: String, id: Long, meanPcls: Int = 40): Event = {
    val r = new SplittableRandom(mix(seed, process.hashCode.toLong, id))
    val n = meanPcls / 2 + r.nextInt(meanPcls + 1)
    // random recursive tree (parent uniform over earlier particles) plus a
    // few second parents: a DAG rooted at 0 with depth ~ e·ln(n)
    val edges = Vector.newBuilder[(Int, Int)]
    val hasChild = new Array[Boolean](n)
    var i = 1
    while (i < n) {
      val p = r.nextInt(i)
      edges += ((p, i)); hasChild(p) = true
      if (i > 2 && r.nextInt(10) == 0) {
        val q = r.nextInt(i)
        if (q != p) { edges += ((q, i)); hasChild(q) = true }
      }
      i += 1
    }
    val es = edges.result()
    val pcls = Vector.tabulate(n) { k =>
      val px = r.nextGaussian() * 20.0
      val py = r.nextGaussian() * 20.0
      val pz = r.nextGaussian() * 60.0
      val m = Masses(r.nextInt(Masses.length))
      val e = math.sqrt(px * px + py * py + pz * pz + m * m)
      val fin = !hasChild(k)
      Pcl(px, py, pz, e, Pdgs(r.nextInt(Pdgs.length)),
        (if (fin) 1 else 2).toShort, (r.nextInt(3) - 1).toShort,
        r.nextInt(600), r.nextInt(600), fin)
    }
    val ws = Vector.fill(es.size)(r.nextDouble())
    Event(process, id, pcls, es, ws)
  }

  /** Raw bytes of the event in the reference's dtypes: pmu 4×f8, pdg i4,
    * status i2, helicity i2, color 2×i4, final bool per particle; src i4,
    * dst i4, weight f8 per edge. The denominator of the store-size ratio.
    */
  def userBytes(e: Event): Long = e.pcls.size * ParticleBytes + e.edges.size * 16L

  val ParticleBytes = 49L

  /** Final-state 4-momentum sum of an event and its (mass, pt), summed in
    * idx order.
    */
  def finalSum(e: Event): (Double, Double) = {
    var x, y, z, en = 0.0
    e.pcls.foreach { p => if (p.fin) { x += p.x; y += p.y; z += p.z; en += p.e } }
    (math.sqrt(math.max(en * en - (x * x + y * y + z * z), 0.0)), math.sqrt(x * x + y * y))
  }

  /** The BFS frontiers from `root` over the generated edge list, in order;
    * each holds the vertices first reached at that depth.
    */
  def frontiers(e: Event, root: Int = 0): List[List[Int]] = {
    val kids = e.edges.groupMap(_._1)(_._2)
    val seen = scala.collection.mutable.Set(root)
    Iterator.iterate(List(root))(_.flatMap(v => kids.getOrElse(v, Nil)).filter(seen.add))
      .drop(1).takeWhile(_.nonEmpty).toList
  }

  /** Vertices reachable from `root`, excluding it. */
  def descendants(e: Event, root: Int = 0): Set[Int] = frontiers(e, root).flatten.toSet

  /** BFS depth from `root`: the number of non-empty frontiers. */
  def depth(e: Event, root: Int = 0): Int = frontiers(e, root).size

  // ------------------------------------------------------------ doc corpus

  final case class Doc(id: Long, text: String)

  /** A corpus with planted duplicates, and the doc_ids that must survive
    * `Dedup.deduplicate`.
    *
    * `bases` distinct random-word documents get ids 0..bases-1. Then
    * `exactShare` of them get an exact copy and `nearShare` a near copy
    * (a few words substituted), both with larger ids so the base is the
    * keep-min survivor. Every near copy is re-rolled until the plain-Scala
    * MinHash below puts it in a band with its base and its trigram Jaccard
    * clears the threshold, so its drop is certain rather than
    * probabilistic. Survivors = exactly the bases.
    */
  final case class Corpus(docs: Vector[Doc], survivors: Set[Long])

  def corpus(seed: Long, bases: Int, exactShare: Double, nearShare: Double,
      firstId: Long = 0L): Corpus = {
    val r = new SplittableRandom(mix(seed, 0xC0A1L, firstId))
    val base = Vector.tabulate(bases)(i => Doc(firstId + i, randomText(r)))
    var next = firstId + bases
    val copies = Vector.newBuilder[Doc]
    base.foreach { d =>
      if (r.nextDouble() < exactShare) { copies += Doc(next, d.text); next += 1 }
      if (r.nextDouble() < nearShare) { copies += Doc(next, nearCopy(r, d.text)); next += 1 }
    }
    Corpus(shuffle(r, base ++ copies.result()), base.map(_.id).toSet)
  }

  /** A screening batch against an index of `indexDocs` (the accepted
    * corpus): fresh documents that must survive, plus planted rows that
    * must drop — exact and near copies of index documents, and exact and
    * near copies of fresh documents of the same batch (larger id, so
    * keep-min drops the copy). Ids start at `firstId` and must not
    * collide with the index.
    */
  final case class Batch(docs: Vector[Doc], survivors: Set[Long])

  def batch(seed: Long, batchNo: Int, indexDocs: Vector[Doc], size: Int,
      firstId: Long): Batch = {
    val r = new SplittableRandom(mix(seed, 0xBA7CL, batchNo.toLong))
    val fresh = Vector.newBuilder[Doc]
    val planted = Vector.newBuilder[Doc]
    var next = firstId
    def id(): Long = { val i = next; next += 1; i }
    val freshN = size / 2
    val fr = Vector.fill(freshN)(Doc(id(), randomText(r)))
    fresh ++= fr
    var k = 0
    while (freshN + k < size) {
      (k % 4) match {
        case 0 => planted += Doc(id(), indexDocs(r.nextInt(indexDocs.size)).text)
        case 1 => planted += Doc(id(), nearCopy(r, indexDocs(r.nextInt(indexDocs.size)).text))
        case 2 => planted += Doc(id(), fr(r.nextInt(fr.size)).text)
        case _ => planted += Doc(id(), nearCopy(r, fr(r.nextInt(fr.size)).text))
      }
      k += 1
    }
    val f = fresh.result()
    Batch(shuffle(r, f ++ planted.result()), f.map(_.id).toSet)
  }

  private val Vocab: Array[String] = {
    val r = new SplittableRandom(0x5EEDL)
    Array.tabulate(4000) { _ =>
      val n = 3 + r.nextInt(6)
      new String(Array.fill(n)(('a' + r.nextInt(26)).toChar))
    }.distinct
  }

  private def randomText(r: SplittableRandom): String = {
    val n = 30 + r.nextInt(31)
    Array.fill(n)(Vocab(r.nextInt(Vocab.length))).mkString(" ")
  }

  val JaccardThreshold = 0.6

  /** `text` with 1-2 words substituted, re-rolled until the MinHash bands
    * collide and trigram Jaccard ≥ [[JaccardThreshold]].
    */
  private def nearCopy(r: SplittableRandom, text: String): String = {
    val ws = text.split(" ")
    val want = bands(text)
    var out: String = null
    while (out == null) {
      val c = ws.clone()
      (0 until 1 + r.nextInt(2)).foreach(_ => c(r.nextInt(c.length)) = Vocab(r.nextInt(Vocab.length)))
      val t = c.mkString(" ")
      if (t != text && jaccard(t, text) >= JaccardThreshold &&
        bands(t).zip(want).exists { case (a, b) => a == b }) out = t
    }
    out
  }

  private def trigramSeq(text: String): Seq[String] = {
    val ws = text.split(" ", -1)
    if (ws.length < 3) Nil else (1 to ws.length - 2).map(i => s"${ws(i - 1)} ${ws(i)} ${ws(i + 1)}")
  }

  /** Exact Jaccard of the distinct word-trigram sets. */
  def jaccard(a: String, b: String): Double = {
    val sa = trigramSeq(a).toSet
    val sb = trigramSeq(b).toSet
    val inter = (sa intersect sb).size
    inter.toDouble / (sa.size + sb.size - inter)
  }

  /** The engine's LSH banding, restated: 8 MinHash slots taken as the
    * minimum over a document's word trigrams of 32-bit slices of md5(s)
    * and md5("s:" + s), grouped into 2 bands of 4. Two documents are LSH
    * candidates iff one band string is equal.
    */
  def bands(text: String): Seq[String] = {
    val mins = Array.fill(8)(Long.MaxValue)
    trigramSeq(text).foreach { s =>
      val h = md5Hex(s) + md5Hex("s:" + s)
      var k = 0
      while (k < 8) {
        val v = java.lang.Long.parseLong(h.substring(k * 8, k * 8 + 8), 16)
        if (v < mins(k)) mins(k) = v
        k += 1
      }
    }
    val hex = mins.map(v => f"$v%08x")
    Seq(hex.slice(0, 4).mkString, hex.slice(4, 8).mkString)
  }

  private def md5Hex(s: String): String = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  // ---------------------------------------------------------------- helpers

  /** Deterministic shuffle (Fisher-Yates on the seeded stream). */
  def shuffle[T](r: SplittableRandom, xs: Vector[T]): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  /** Splits a seed into an independent stream per (a, b) key. */
  def mix(seed: Long, a: Long, b: Long): Long = {
    var h = seed * 0x9E3779B97F4A7C15L ^ a * 0xC2B2AE3D27D4EB4FL ^ b * 0x165667B19E3779F9L
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
    h
  }

  def rng(seed: Long, a: Long, b: Long): SplittableRandom = new SplittableRandom(mix(seed, a, b))
}
