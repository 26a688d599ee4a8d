package graft.operators

import java.io.IOException
import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Fault-injecting local filesystem for the ENOSPC crash-window proofs
  * (BandIndexEnospcSpec): a `RawLocalFileSystem` registered under the
  * `enospc:` scheme whose `create` calls throw a REAL
  * "No space left on device" IOException whenever the companion's
  * predicate matches the path. Everything else (list, rename, delete,
  * mkdirs, reads) passes through, so Spark's parquet committer runs its
  * genuine code path — tasks really fail mid-write, the job really
  * aborts, and whatever directory state a true disk-full leaves behind
  * is what the artifact protocols must tolerate.
  *
  * Only `create` faults: ENOSPC on data writes is the scenario under
  * test; metadata ops failing is a different (and FS-specific) failure
  * class. The predicate is process-global, which is exactly right for
  * the harness's single-JVM `local[N]` mode — driver and executors share
  * it. Tests MUST reset it in a finally block.
  */
class EnospcFs extends RawLocalFileSystem {
  override def getUri: URI = EnospcFs.Name
  override def getScheme: String = "enospc"

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    EnospcFs.maybeFail(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    EnospcFs.maybeFail(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    EnospcFs.maybeFail(f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }

  override def open(f: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    EnospcFs.maybeFailRead(f)
    super.open(f, bufferSize)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    EnospcFs.maybeFailRename(src, dst)
    super.rename(src, dst)
  }
}

object EnospcFs {
  val Name: URI = URI.create("enospc:///")

  @volatile var failWhen: String => Boolean = _ => false

  /** Separate fault lane for READS (`open`) — simulates a transient I/O
    * error (flaky disk/NFS), the failure class that must FAIL an
    * operation rather than be misread as "artifact absent".
    */
  @volatile var failReadWhen: String => Boolean = _ => false

  def maybeFail(f: Path): Unit =
    if (failWhen(f.toString))
      throw new IOException(s"No space left on device (injected): $f")

  def maybeFailRead(f: Path): Unit =
    if (failReadWhen(f.toString))
      throw new IOException(s"Transient read failure (injected): $f")

  /** Fault lane for RENAME — the commit point of every staged-publish
    * protocol (the pointer flip's fallback arm).
    * A rename that dies must fail the publish loudly and leave the
    * previous state readable, never a half-committed mix.
    */
  @volatile var failRenameWhen: (String, String) => Boolean = (_, _) => false

  def maybeFailRename(src: Path, dst: Path): Unit =
    if (failRenameWhen(src.toString, dst.toString))
      throw new IOException(
        s"Rename failure (injected): $src -> $dst")

  /** Run `body` with the RENAME fault armed, always disarming after. */
  def armedRename[T](predicate: (String, String) => Boolean)(body: => T): T = {
    failRenameWhen = predicate
    try body finally failRenameWhen = (_, _) => false
  }

  /** Run `body` with the fault armed, always disarming after. */
  def armed[T](predicate: String => Boolean)(body: => T): T = {
    failWhen = predicate
    try body finally failWhen = _ => false
  }

  /** Run `body` with the READ fault armed, always disarming after. */
  def armedRead[T](predicate: String => Boolean)(body: => T): T = {
    failReadWhen = predicate
    try body finally failReadWhen = _ => false
  }

  /** The full cause chain's messages, joined — Spark wraps a failed
    * task's IOException several layers deep, and the specs must assert
    * the INJECTED failure surfaced (not some unrelated abort).
    */
  def causeChain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
}
