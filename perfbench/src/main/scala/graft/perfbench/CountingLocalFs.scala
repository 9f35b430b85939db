package graft.perfbench

import java.util.concurrent.CompletableFuture
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream,
  FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.impl.OpenFileParameters
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The `file` scheme with client-level op counters, installed as
  * `fs.file.impl` in traced runs only. Keeping the scheme `file` matters:
  * `BlockRangeSink.stats` picks its listing strategy from the scheme, so
  * a new scheme would switch the sink onto its remote-store arm and the
  * counts would describe a code path the untraced run never takes.
  *
  * Only ops whose path lies under [[CountingLocalFs.root]] count, and a
  * call made while another counted call is running on the same thread
  * (Hadoop's overloads delegate to each other) counts once.
  */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._

  override def listStatus(f: Path): Array[FileStatus] =
    counted(lists, f)(super.listStatus(f))

  override def listLocatedStatus(f: Path)
      : RemoteIterator[LocatedFileStatus] =
    counted(lists, f)(super.listLocatedStatus(f))

  override def listFiles(f: Path, recursive: Boolean)
      : RemoteIterator[LocatedFileStatus] =
    counted(lists, f)(super.listFiles(f, recursive))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(opens, f)(super.open(f, bufferSize))

  override protected def openFileWithOptions(f: Path,
      parameters: OpenFileParameters)
      : CompletableFuture[FSDataInputStream] =
    counted(opens, f)(super.openFileWithOptions(f, parameters))

  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted(creates, f) {
      noteRange(f)
      super.create(f, permission, overwrite, bufferSize, replication,
        blockSize, progress)
    }

  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted(creates, f) {
      noteRange(f)
      super.createNonRecursive(f, permission, overwrite, bufferSize,
        replication, blockSize, progress)
    }

  override def rename(src: Path, dst: Path): Boolean =
    counted(renames, src)(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(deletes, f)(super.delete(f, recursive))
}

object CountingLocalFs {
  @volatile var root: String = "\u0000"

  val lists = new AtomicLong
  val opens = new AtomicLong
  val parquetOpens = new AtomicLong
  val creates = new AtomicLong
  val renames = new AtomicLong
  val deletes = new AtomicLong
  /** blockRange values of data files created under the root. */
  val rangesCreated = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  final case class Snapshot(lists: Long, opens: Long, parquetOpens: Long,
      creates: Long, renames: Long, deletes: Long)

  def snapshot(): Snapshot = Snapshot(lists.get, opens.get,
    parquetOpens.get, creates.get, renames.get, deletes.get)

  private val inCall = ThreadLocal.withInitial[java.lang.Boolean](() =>
    java.lang.Boolean.FALSE)

  private def under(p: Path): Boolean =
    p != null && p.toUri.getPath.startsWith(root)

  private def counted[T](counter: AtomicLong, p: Path)(body: => T): T =
    if (inCall.get()) body
    else {
      if (under(p)) {
        counter.incrementAndGet()
        if ((counter eq opens) && p.getName.endsWith(".parquet"))
          parquetOpens.incrementAndGet()
      }
      inCall.set(java.lang.Boolean.TRUE)
      try body finally inCall.set(java.lang.Boolean.FALSE)
    }

  private def noteRange(p: Path): Unit =
    if (under(p) && p.getName.endsWith(".parquet")) {
      val parts = p.toUri.getPath.split('/')
      parts.find(_.startsWith("blockRange="))
        .foreach(d => rangesCreated.add(d.stripPrefix("blockRange=").toLong))
    }
}
