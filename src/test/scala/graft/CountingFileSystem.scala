package graft

import java.net.URI

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream,
  FileStatus, LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}
import org.apache.hadoop.util.Progressable

/** Counting-FS test double (r11 verdict ask #4): a `countfs://` scheme
  * over the local filesystem that records every `open`, `create` and
  * `delete` path and counts and records CLIENT-level listing calls —
  * what [[graft.sinks.BlockRangeSink.stats]] pays the metadata store
  * per invocation. Hadoop's generic `listFiles(recursive = true)` is
  * implemented as an internal per-directory walk on local FS, so the
  * recursion is drained INSIDE the guarded section and nested listings
  * don't count: one `stats()` call must cost ONE client listing, not
  * one per partition (the O(100k)-RPC shape the r12 rewrite removed).
  */
class CountingFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "countfs"
  override def getUri: URI = URI.create("countfs:///")

  override def listStatus(f: Path): Array[FileStatus] =
    CountingFileSystem.counted(f, recursive = false) {
      super.listStatus(f).map(sanitize)
    }

  /** RawLocal's lazy statuses load permissions via `new File(uri)`,
    * which rejects the countfs:// scheme — copy to a plain FileStatus
    * (default permissions, never touches the file again).
    */
  private def sanitize(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, 1, s.getBlockSize,
      s.getModificationTime, s.getPath)

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFileSystem.opened.add(f.toUri.getPath)
    CountingFileSystem.onOpen(f.toUri.getPath)
    super.open(f, bufferSize)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CountingFileSystem.created.add(f.toUri.getPath)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    CountingFileSystem.deleted.add(f.toUri.getPath)
    !CountingFileSystem.refuseDelete(f.toUri.getPath) && super.delete(f, recursive)
  }

  override def listFiles(f: Path, recursive: Boolean)
      : RemoteIterator[LocatedFileStatus] =
    CountingFileSystem.counted(f, recursive) {
      // drain the lazy walk here so its per-subdir listings stay inside
      // the reentrancy guard (they are implementation detail of ONE
      // client call, and on a real object store they are one LIST)
      val buf = scala.collection.mutable.ArrayBuffer.empty[LocatedFileStatus]
      val it = super.listFiles(f, recursive)
      while (it.hasNext) buf += it.next()
      val i = buf.iterator
      new RemoteIterator[LocatedFileStatus] {
        override def hasNext: Boolean = i.hasNext
        override def next(): LocatedFileStatus = i.next()
      }
    }
}

object CountingFileSystem {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  private val inCall = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  def counted[T](f: Path, recursive: Boolean)(body: => T): T =
    if (inCall.get()) body
    else {
      calls.incrementAndGet()
      listed.add((f.toUri.getPath, recursive))
      inCall.set(java.lang.Boolean.TRUE)
      try body finally inCall.set(java.lang.Boolean.FALSE)
    }

  /** Paths (URI path part) of every `open`, `create` and `delete` since
    * the last [[reset]], in call order — what a mutation touched of the
    * data. */
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val created = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val deleted = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** (path, recursive) of every client-level listing call since the last
    * [[reset]], in call order — one entry per [[calls]] increment. */
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()

  /** Runs with the path of every `open`, before the file is opened — a
    * seam for acting in the middle of an operation. [[reset]] clears it.
    */
  @volatile var onOpen: String => Unit = _ => ()

  /** Whether the store refuses the `delete` of a path: a refused delete
    * removes nothing and returns false, as a store that turned the
    * request down would. [[reset]] clears it.
    */
  @volatile var refuseDelete: String => Boolean = _ => false

  def reset(): Unit = {
    calls.set(0)
    opened.clear()
    created.clear()
    deleted.clear()
    listed.clear()
    onOpen = _ => ()
    refuseDelete = _ => false
  }
}
