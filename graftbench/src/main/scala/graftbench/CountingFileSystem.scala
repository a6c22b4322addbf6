package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local `file:` filesystem with every call that names a path
  * counted and timed; the checksum side files it writes underneath are
  * not calls of their own. Registered for the whole session through
  * `spark.hadoop.fs.file.impl`, so TableStore, the engine's table reads
  * and Spark's own file sources all go through it without any change to
  * the program. Counters are JVM-global because Hadoop may hold several
  * instances; [[FsCounters.snapshot]] reads them.
  */
class CountingFileSystem extends LocalFileSystem {
  import FsCounters._

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    timed(creates)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))

  override def rename(src: Path, dst: Path): Boolean =
    timed(renames)(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    timed(deletes)(super.delete(f, recursive))

  override def listStatus(f: Path): Array[FileStatus] =
    timed(lists)(super.listStatus(f))

  override def getFileStatus(f: Path): FileStatus =
    timed(status)(super.getFileStatus(f))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    timed(opens)(super.open(f, bufferSize))

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    timed(mkdirsOps)(super.mkdirs(f, permission))

  override def mkdirs(f: Path): Boolean =
    timed(mkdirsOps)(super.mkdirs(f))
}

object FsCounters {
  val creates, renames, deletes, lists, status, opens, mkdirsOps, nanos =
    new AtomicLong()

  // calls the filesystem makes on itself (create -> mkdirs) count as
  // calls, but their time is already inside the outer call's
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  private[graftbench] def timed[T](c: AtomicLong)(body: => T): T = {
    val d = depth.get
    depth.set(d + 1)
    val t0 = System.nanoTime()
    try body
    finally {
      if (d == 0) nanos.addAndGet(System.nanoTime() - t0)
      depth.set(d)
      c.incrementAndGet()
    }
  }

  /** Bytes written through every `file:` stream, data and checksum
    * files alike, from Hadoop's per-scheme statistics.
    */
  def bytesWritten: Long = {
    import scala.jdk.CollectionConverters._
    FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }

  final case class Snapshot(creates: Long, renames: Long, deletes: Long,
                            lists: Long, status: Long, opens: Long,
                            mkdirs: Long, nanos: Long, bytesWritten: Long) {
    def -(o: Snapshot): Snapshot = Snapshot(creates - o.creates,
      renames - o.renames, deletes - o.deletes, lists - o.lists,
      status - o.status, opens - o.opens, mkdirs - o.mkdirs,
      nanos - o.nanos, bytesWritten - o.bytesWritten)
  }

  def snapshot(): Snapshot = Snapshot(creates.get, renames.get,
    deletes.get, lists.get, status.get, opens.get, mkdirsOps.get,
    nanos.get, bytesWritten)
}
