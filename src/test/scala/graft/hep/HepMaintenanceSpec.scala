package graft.hep

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class HepMaintenanceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.EngineSession.local("4")
  override def afterAll(): Unit = spark.stop()

  test("compact collapses per-flush small files, preserves data + addressing") {
    val dir = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "hepcompact").toString + "/store"
    // evtsPerChunk=5 over 40 events → 8 chunks; every flush writes a file
    // batch per input slice, so chunk dirs accumulate several small files
    val w = new HepWriter(spark, dir, evtsPerChunk = 5)
    val p = w.newProcess("proc")
    for (e <- 0 until 40) {
      val b = p.newEvent()
      b.setPdg(Array.tabulate(3)(i => e * 10 + i))
      p.commitEvent(b)
    }
    w.close()

    val beforeRows = spark.read.parquet(s"$dir/particles")
      .orderBy("event_id", "idx").collect().map(_.toString).toSeq
    val (before, after) = HepMaintenance.compact(spark, dir, "particles")
    assert(before > 8, s"expected several small files, found $before")
    assert(after == 8, s"one file per (process, chunk) dir, found $after")

    // data identical, reader + chunk addressing intact
    val afterRows = spark.read.parquet(s"$dir/particles")
      .orderBy("event_id", "idx").collect().map(_.toString).toSeq
    assert(afterRows == beforeRows)
    val r = new HepReader(spark, dir)
    assert(r.evtsPerChunk == 5)
    val ev = r.process("proc").event(23) // chunk 23/5 = 4
    assert(ev.count == 3)
    assert(ev.pdg.orderBy("idx").collect().map(_.getInt(1)).toSeq ==
      Seq(230, 231, 232))
  }

  test("compactStore covers every member table; absent tables are a no-op") {
    val dir = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "hepcompact2").toString + "/store"
    val w = new HepWriter(spark, dir, evtsPerChunk = 4)
    val p = w.newProcess("x")
    for (e <- 0 until 8) {
      val b = p.newEvent()
      b.setPdg(Array(1, 2))
      b.setEdges(Array((0, 1)))
      p.commitEvent(b)
    }
    w.close()
    val report = HepMaintenance.compactStore(spark, dir)
    assert(report(Schemas.ParticlesTable)._2 == 2) // 2 chunks
    assert(report(Schemas.EdgesTable)._2 == 2)
    assert(report(Schemas.CustomTable) == ((0, 0))) // never written → no-op
    // store still opens and finalized counts hold
    assert(new HepReader(spark, dir).process("x").length == 8)
  }

  test("compact clears both crash-debris siblings before it swaps") {
    val dir = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "hepcompact3").toString + "/store"
    val w = new HepWriter(spark, dir, evtsPerChunk = 5)
    val p = w.newProcess("proc")
    for (e <- 0 until 20) {
      val b = p.newEvent()
      b.setPdg(Array.tabulate(3)(i => e * 10 + i))
      p.commitEvent(b)
    }
    w.close()
    // an earlier run that died mid-write leaves a partial temp; one that
    // died after the rename-in leaves a full stale copy of the table
    val table = java.nio.file.Paths.get(dir, "particles")
    val tmp = java.nio.file.Paths.get(dir, "_compact_tmp_particles")
    val old = java.nio.file.Paths.get(dir, "_compact_old_particles")
    Files.createDirectories(tmp.resolve("process=0/chunk=0"))
    Files.write(tmp.resolve("process=0/chunk=0/part-partial.parquet"),
      Array[Byte](1, 2, 3))
    val walk = Files.walk(table)
    try walk.forEach(f => Files.copy(f, old.resolve(table.relativize(f))))
    finally walk.close()

    val beforeRows = spark.read.parquet(table.toString)
      .orderBy("event_id", "idx").collect().map(_.toString).toSeq
    val (before, after) = HepMaintenance.compact(spark, dir, "particles")
    assert(after < before, s"file count not reduced: $before -> $after")
    val afterRows = spark.read.parquet(table.toString)
      .orderBy("event_id", "idx").collect().map(_.toString).toSeq
    assert(afterRows == beforeRows)
    assert(!Files.exists(tmp) && !Files.exists(old), "crash debris left behind")
  }
}
