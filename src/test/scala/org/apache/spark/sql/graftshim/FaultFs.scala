package org.apache.spark.sql.graftshim

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** Test-only local filesystem under the `graftfault` scheme: the raw
  * local filesystem, plus a record of every list/open/create/rename/
  * delete call, an injected IOException on the first call a predicate
  * accepts, and a one-shot callback run just before the first call
  * another predicate accepts (to land a concurrent commit at an exact
  * point of a writer's protocol). Register it with [[FaultFs.install]] and address tables as
  * [[FaultFs.path]]; the engine reaches it through Hadoop's scheme
  * lookup like any other store, so main code carries no hook.
  *
  * File statuses carry default permissions. Renaming a FILE onto an
  * existing name fails (returns false) as on
  * HDFS — the local rename(2) would replace it — so create-if-absent
  * claims keep their meaning under this scheme. */
class FaultFs extends RawLocalFileSystem {
  import FaultFs.hit

  override def getUri: URI = FaultFs.Uri
  override def getScheme: String = FaultFs.Scheme

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    hit("open", f); super.open(f, bufferSize)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    hit("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    hit("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    hit("list", f); super.listStatus(f).map(plain)
  }

  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))

  /** The raw local status loads permissions through a `file:` URI, which
    * this scheme is not; default permissions serve every caller here. */
  private def plain(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getPath)

  override def rename(src: Path, dst: Path): Boolean = {
    hit("rename", src)
    val from = pathToFile(src).toPath
    if (!java.nio.file.Files.isRegularFile(from)) super.rename(src, dst)
    else {
      // link(2) refuses an existing name atomically; then drop the source
      try java.nio.file.Files.createLink(pathToFile(dst).toPath, from)
      catch { case _: java.nio.file.FileAlreadyExistsException => return false }
      java.nio.file.Files.delete(from)
      true
    }
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    hit("delete", f); super.delete(f, recursive)
  }
}

object FaultFs {
  val Scheme = "graftfault"
  val Uri: URI = URI.create(s"$Scheme:///")

  /** One recorded filesystem call: list, open, create, rename (of the
    * source path) or delete. */
  final case class Call(op: String, path: Path)

  /** Make `spark`'s Hadoop conf resolve the scheme to this class. */
  def install(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl",
      classOf[FaultFs].getName)

  /** `localDir` (an absolute local path) under this scheme. */
  def path(localDir: String): String = s"$Scheme://$localDir"

  private val recording = new AtomicReference[ConcurrentLinkedQueue[Call]]
  private final class Fault(val accept: Call => Boolean) {
    @volatile var fired = false
  }
  private val fault = new AtomicReference[Fault]
  private final class Hook(val accept: Call => Boolean, val run: () => Unit) {
    @volatile var ran = false
  }
  private val hook = new AtomicReference[Hook]

  private def hit(op: String, p: Path): Unit = {
    val call = Call(op, p)
    Option(recording.get).foreach(_.add(call))
    Option(hook.get).foreach { h =>
      if (h.accept(call) && hook.compareAndSet(h, null)) {
        h.ran = true
        h.run()
      }
    }
    Option(fault.get).foreach { f =>
      if (f.accept(call) && fault.compareAndSet(f, null)) {
        f.fired = true
        throw new java.io.IOException(s"injected fault: $op $p")
      }
    }
  }

  /** Every call `body` makes, in order. */
  def recorded[A](body: => A): (A, Seq[Call]) = {
    val q = new ConcurrentLinkedQueue[Call]
    recording.set(q)
    try {
      val out = body
      (out, q.asScala.toSeq)
    } finally recording.set(null)
  }

  /** Run `body` with `callback` run once, on the calling thread, just
    * before the first call that `accept` admits goes ahead (the
    * callback's own calls never re-trigger it). Returns what `body`
    * returned and whether the callback ran. */
  def before[A](accept: Call => Boolean)(callback: => Unit)(body: => A)
      : (A, Boolean) = {
    val h = new Hook(accept, () => callback)
    hook.set(h)
    try {
      val out = body
      (out, h.ran)
    } finally hook.compareAndSet(h, null)
  }

  /** Run `body` with the first call that `accept` admits throwing an
    * IOException. Returns whether the fault fired and what `body` threw
    * (None: it returned). */
  def failing(accept: Call => Boolean)(body: => Any)
      : (Boolean, Option[Throwable]) = {
    val f = new Fault(accept)
    fault.set(f)
    val thrown =
      try { body; None }
      catch { case scala.util.control.NonFatal(e) => Some(e) }
      finally fault.compareAndSet(f, null)
    (f.fired, thrown)
  }
}
