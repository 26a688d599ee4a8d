package graft.hep

import java.io.IOException
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.util.UUID
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Store-metadata I/O through Hadoop's `FileSystem` API.
  *
  * The store layer must never touch `java.io.File`: a 100 TB deployment
  * keeps stores on HDFS/S3/ABFS where local-file calls silently see
  * nothing — the reader would refuse every store as never finalized and
  * the writer's non-empty-target guard would pass vacuously. Resolving the
  * filesystem from the path + the session's Hadoop conf makes `file:`,
  * `hdfs:`, `s3a:` etc. behave identically (spec-verified through a
  * `file:`-scheme URI).
  */
private[graft] object HadoopIo {

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** The session's Hadoop conf with `options`, for writing a store: its
    * `file:` scheme is [[NioLocalFileSystem]]. Hadoop caches one `file:`
    * filesystem per JVM, of the class of whichever conf asked first, so
    * this conf also bypasses that cache: each `getFileSystem` on it
    * builds its own instance (a few objects, no I/O).
    */
  def writeConf(spark: SparkSession, options: Map[String, String] = Map.empty): Configuration = {
    val conf = spark.sessionState.newHadoopConfWithOptions(options)
    conf.setClass("fs.file.impl", classOf[NioLocalFileSystem], classOf[FileSystem])
    conf.setBoolean("fs.file.impl.disable.cache", true)
    conf
  }

  /** Filesystem for writing a store (see [[writeConf]]). */
  def writeFs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(writeConf(spark))

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

  /** Writes a small file whole or not at all: the content goes to a
    * hidden temp name in the target's directory (parents auto-created),
    * which is then renamed to `path`, so a reader never sees a partial
    * file. `path` must not exist yet; a failed write or rename deletes the
    * temp file and throws.
    */
  def writeString(spark: SparkSession, path: String, content: String): Unit = {
    val dst = new Path(path)
    val f = writeFs(spark, path)
    val tmp = new Path(dst.getParent, s".${dst.getName}.${UUID.randomUUID()}.tmp")
    try {
      val out = f.create(tmp, false)
      try out.write(content.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      if (!f.rename(tmp, dst))
        throw new IOException(s"commit failed: rename $tmp -> $dst")
    } catch {
      case t: Throwable =>
        Try(f.delete(tmp, false))
        throw t
    }
  }

  /** Recursive delete; no-op when absent. */
  def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val f = fs(spark, path)
    if (f.exists(p)) f.delete(p, true)
  }
}

/** Hadoop's checksummed local filesystem over [[NioRawLocalFileSystem]]:
  * create, rename and checksum behaviour are `LocalFileSystem`'s own.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's raw local filesystem, except that it sets permissions through
  * `java.nio` instead of a forked `chmod`: without libhadoop,
  * `RawLocalFileSystem.setPermission` forks one for every directory and
  * file it creates (data and `.crc` alike), about 3 ms each. It sets the
  * same mode bits. A sticky bit, which NIO cannot set, and a store
  * without POSIX attributes take Hadoop's own path.
  */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      // without a sticky bit, the symbolic form is the 9 `rwx` flags NIO takes
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}
