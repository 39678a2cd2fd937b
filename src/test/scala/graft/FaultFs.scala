package graft

import java.util.concurrent.atomic.AtomicReference
import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The local file system under the `fault:` scheme, which logs its
  * creates, renames and directory listings ([[FaultFs.opsDuring]]) and
  * has one armed fault: after
  * [[FaultFs.failRename]]`(n, marker)`, the (n+1)-th rename whose source
  * path contains `marker` throws an IOException, once — a crash at a
  * chosen point of a commit. A store rooted at `fault:<dir>` reads and
  * writes `<dir>` on the local disk exactly as `file:` would.
  */
class FaultFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = FaultFs.Uri
  override def getScheme: String = FaultFs.Scheme
  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.onRename(src)
    val done = super.rename(src, dst)
    if (done) FaultFs.ops.add(FaultFs.Op("rename", src, Some(dst)))
    done
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FaultFs.ops.add(FaultFs.Op("create", f))
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FaultFs.ops.add(FaultFs.Op("create", f))
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    FaultFs.ops.add(FaultFs.Op("list", f))
    super.listStatus(f)
  }
}

object FaultFs {
  val Scheme = "fault"
  val Uri: java.net.URI = java.net.URI.create(s"$Scheme:///")

  /** (renames still allowed, source-path marker) while armed. */
  private val armed = new AtomicReference[Option[(Int, String)]](None)
  private val fired = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** One call this scheme made: `kind` is `create` (logged when asked),
    * `rename` (logged once done, with its destination) or `list`. */
  final case class Op(kind: String, path: Path, dst: Option[Path] = None)

  private val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()

  /** Every create, rename and listing this scheme made while `body` ran,
    * in order. */
  def opsDuring(body: => Unit): Seq[Op] = {
    ops.clear()
    body
    ops.asScala.toSeq
  }

  /** Every rename (source, destination) this scheme completed while
    * `body` ran. */
  def renamesDuring(body: => Unit): Seq[(Path, Path)] =
    opsDuring(body).collect { case Op("rename", src, Some(dst)) => (src, dst) }

  /** Register the scheme with the session's Hadoop configuration. */
  def install(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[FaultFs].getName)

  /** A store root on the faulty scheme over local directory `dir`. */
  def root(dir: String): String = s"$Scheme:$dir"

  /** Let `n` more renames of sources containing `marker` through, then
    * fail the next one; the fault disarms once it fires. */
  def failRename(n: Int, marker: String): Unit = {
    fired.set(false)
    armed.set(Some((n, marker)))
  }

  /** Whether the armed fault fired since [[failRename]]; disarms it. */
  def disarm(): Boolean = { armed.set(None); fired.get() }

  private def onRename(src: Path): Unit = armed.synchronized {
    armed.get() match {
      case Some((n, marker)) if src.toString.contains(marker) =>
        if (n > 0) armed.set(Some((n - 1, marker)))
        else {
          armed.set(None)
          fired.set(true)
          throw new java.io.IOException(s"injected fault: rename of $src")
        }
      case _ => ()
    }
  }
}
