package graft.hep

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Store-metadata I/O through Hadoop's `FileSystem` API.
  *
  * The store layer must never touch `java.io.File`: a 100 TB deployment
  * keeps stores on HDFS/S3/ABFS where local-file calls silently see
  * nothing — `evtsPerChunk` would quietly fall back to the default
  * (mis-addressing chunks on stores written with a non-default value) and
  * the writer's non-empty-target guard would pass vacuously. Resolving the
  * filesystem from the path + the session's Hadoop conf makes `file:`,
  * `hdfs:`, `s3a:` etc. behave identically (spec-verified through a
  * `file:`-scheme URI).
  */
private[graft] object HadoopIo {

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Filesystem for callers without a session in hand (DSv2 catalog
    * hooks): the active session's conf when present, defaults otherwise.
    */
  def fsAny(path: Path): FileSystem = {
    val conf = SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())
    path.getFileSystem(conf)
  }

  /** Sidecar-read counter (test hook: specs assert metadata caching by
    * counting FS reads, not by timing them).
    */
  private[graft] val readCount = new java.util.concurrent.atomic.AtomicLong()

  /** Full contents of a (small, metadata-sized) file; None if absent. */
  def readString(spark: SparkSession, path: String): Option[String] = {
    readCount.incrementAndGet()
    val p = new Path(path)
    val f = fs(spark, path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        Some(new String(bytes.toByteArray, StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** Atomic-enough sidecar write (single create, parents auto-created). */
  def writeString(spark: SparkSession, path: String, content: String): Unit = {
    val out = fs(spark, path).create(new Path(path), true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Data files under `dir`, recursively (names starting `_` or `.` are
    * commit markers and checksums, not data).
    */
  private def dataFileCount(fs: FileSystem, dir: Path): Int = {
    val it = fs.listFiles(dir, true)
    var n = 0
    while (it.hasNext) {
      val name = it.next().getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) n += 1
    }
    n
  }

  /** Rewrites directory `dir` through a sibling swap: `write` produces
    * the new content at `_compact_tmp_<name>`, the original is renamed
    * aside to `_compact_old_<name>`, the temp is renamed in, and the old
    * copy is dropped. Debris of both names left by a crashed earlier run
    * is deleted first: Hadoop's rename moves `dir` INTO an existing
    * `_compact_old_<name>`, so a failed rename-in would otherwise restore
    * the stale tree. The only window where `dir` is unreadable is
    * between the two renames, so callers must be single-owner offline
    * maintenance. A failed rename-in restores the original. `caller`
    * names the operation in error messages. Returns (data files before,
    * data files after); no-op (0, 0) when `dir` is absent.
    */
  def swapRewrite(spark: SparkSession, dir: String, caller: String)(
      write: String => Unit): (Int, Int) = {
    val f = fs(spark, dir)
    val dirPath = new Path(dir)
    if (!f.exists(dirPath)) return (0, 0)
    val before = dataFileCount(f, dirPath)
    val tmp = new Path(dirPath.getParent, s"_compact_tmp_${dirPath.getName}")
    val old = new Path(dirPath.getParent, s"_compact_old_${dirPath.getName}")
    if (f.exists(tmp)) f.delete(tmp, true)
    if (f.exists(old)) f.delete(old, true)
    write(tmp.toString)
    require(f.rename(dirPath, old), s"$caller: could not move $dir aside")
    if (!f.rename(tmp, dirPath)) {
      f.rename(old, dirPath) // best-effort restore of the original
      throw new IllegalStateException(
        s"$caller: could not move compacted data into $dir (original restored)")
    }
    f.delete(old, true)
    (before, dataFileCount(f, dirPath))
  }

  /** Recursive delete; no-op when absent. */
  def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val f = fs(spark, path)
    if (f.exists(p)) f.delete(p, true)
  }
}
