package graft.sinks

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnPath
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S8 — the per-block atomic commit (reference omniEngine.py:210: one
  * Postgres transaction per block, rollback on failure :212-220; and a
  * reorg rolled back inside one transaction, sql.py:85-218),
  * re-expressed as one journaled commit per mutation:
  *
  * Facts are written partitioned by `blockRange = block div rangeSize`.
  * Every mutation — [[write]], [[appendRanges]], [[compact]] and
  * [[dropAbove]] — stages its new files under the table's own
  * `_graft_pending/` and then publishes ONE journal
  * ([[publishAndReplay]]) naming every live file it drops, every range
  * it drops whole and every staged file it moves in. A rollback that
  * moves nothing in needs no journal: its whole intent is its fork,
  * which its writer-lock stamp already carries. The range is the unit
  * of overwrite, of append and of reorg truncation.
  *
  * At 100 TB, blockRange is also the pruning key: incremental runs and
  * reorg checks touch only the tail partitions.
  *
  * All metadata operations (watermark probe, stats, the journal's
  * deletes and renames, the writer lock) go through the Hadoop
  * `FileSystem` API resolved from the path + the session's
  * hadoopConfiguration — the same code path works against `file://`,
  * HDFS, or an S3A table root; nothing here assumes a local filesystem.
  *
  * Crash consistency — one contract for every mutation: the journal's
  * publish is its commit point. A crash before it has destroyed nothing
  * (the next recovery sweeps the stage, and the table is as it was); a
  * crash after it is completed by the next recovery's replay. A
  * journal-less rollback commits when its lock is stamped: a crash
  * after that leaves the stamp, [[forceUnlock]] journals the fork it
  * names, and recovery redoes the rollback. So from ANY crash prefix,
  * recovery alone leaves either the pre-mutation table or the
  * never-crashed one. Recovery lives in the writer lock
  * itself: [[withWriterLock]] runs it right after taking the lock,
  * before any mutation's body, so every mutation starts from a clean
  * table ([[recoverTable]] is the bare lock); CrashRecoverySpec
  * model-checks every mutation prefix over object-store semantics.
  *
  * Mutation concurrency — SINGLE WRITER (reference M10,
  * omniEngine.py:11-36: one lockfile around the whole engine): every
  * mutation decides what its journal drops from a listing it takes, and
  * [[appendRanges]] admits rows by the tip it reads, so a CONCURRENT
  * different mutation between that read and the commit would be undone
  * or resurrected (a cron'd compactor racing a reorg rollback could
  * bring back a dropped range; a rollback between a tick's tip read and
  * its commit would leave the winning branch's blocks below the old tip
  * unadmitted). Each therefore runs whole inside ONE hold of a
  * sink-level writer lock — create-no-overwrite of `_graft_writer.lock`
  * under the table root, plus an owner stamp (host/pid/nonce) that is
  * read back before the mutation runs, so even on stores where the
  * create itself is NOT atomic (S3A's HEAD-then-PUT, RawLocal's
  * check-then-create) a double-grant race is detected and exactly one
  * racer proceeds — and a second concurrent mutator fails loudly
  * instead of interleaving. Readers never look at the lock (leading
  * `_` names are invisible to Spark's file index). A lock orphaned by
  * a crashed writer must be cleared explicitly with [[forceUnlock]]
  * after checking [[lockOwner]] — loud recovery is the point; silent
  * expiry would re-admit the race.
  */
object BlockRangeSink {

  val RangeSize = 1000L

  val LockName = "_graft_writer.lock"

  /** Hadoop conf for FS resolution: the active session's (carries
    * cluster credentials/filesystem settings) when one exists, else a
    * default conf (specs constructing paths before the session is up).
    */
  private def hadoopConf: Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def fsFor(path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(hadoopConf), p)
  }

  /** Sink-level single-writer guard, in two layers:
    *
    *  1. `fs.create(overwrite = false)` — atomic ONLY on filesystems
    *     with atomic create-no-overwrite (HDFS, and object stores with
    *     conditional-write support). On S3A it is a non-atomic
    *     HEAD-then-PUT, and on the local RawLocalFileSystem (the test
    *     stand-in) a check-then-create — on those, two racing creators
    *     can BOTH pass this layer.
    *  2. An owner stamp (host + pid + nonce + timestamp) written into
    *     the lock file and READ BACK before the mutation starts. On a
    *     store with last-writer-wins PUT semantics and read-after-write
    *     consistency (S3 since 2020, any POSIX fs), at most one racer
    *     sees its own stamp — the double-grant race becomes a detected
    *     collision: the loser throws loudly WITHOUT touching the
    *     winner's lock, and never runs its mutation.
    *
    * The stamp also gives [[forceUnlock]] operators visibility into WHO
    * holds an orphaned lock ([[lockOwner]]). Always released on exit —
    * including failure — so only a process CRASH leaves the lock
    * behind, and that case is [[forceUnlock]]'s. Release re-verifies
    * the stamp: deleting a lock someone else now owns (after a mistaken
    * mid-mutation forceUnlock) would re-admit the race, so a stolen
    * lock fails loudly instead.
    *
    * Every holder starts with [[recoverLocked]] — outstanding journals
    * replayed, orphan scratch swept — before `body`, so no mutation can
    * skip recovery and `body` sees a clean table for its whole run.
    *
    * A `rollback` record ([[rollbackRecord]]) rides in the stamp, on its
    * own newline-terminated line, so [[forceUnlock]] can journal a
    * crashed holder's rollback.
    */
  private def withWriterLock[T](path: String,
      rollback: Option[String] = None)(body: => T): T = {
    val (fs, root) = fsFor(path)
    if (!fs.exists(root)) fs.mkdirs(root)
    val lock = new Path(root, LockName)
    val token = newLockToken() + rollback.fold("")(r => s"\n$r\n")
    try stampLock(fs, lock, token, overwrite = false)
    catch {
      case e: java.io.IOException =>
        throw new IllegalStateException(
          s"BlockRangeSink: writer lock $lock is held" +
            lockOwner(path).fold("")(o => s" by [$o]") +
            " — a concurrent mutation (write/compact/dropAbove) is in " +
            "flight. The sink is single-writer; if the holder crashed, " +
            "clear it with forceUnlock.", e)
    }
    // Layer 2: collision detection for non-atomic-create stores. Throws
    // BEFORE the try/finally below, so a loser never deletes the
    // winner's lock on its way out.
    verifyLockOwner(fs, lock, token)
    var bodyFailure: Throwable = null
    try { recoverLocked(path); body }
    catch { case t: Throwable => bodyFailure = t; throw t }
    finally {
      try releaseLock(fs, lock, token)
      catch {
        case r: Throwable =>
          // don't mask the body's own failure with the release failure
          if (bodyFailure != null) bodyFailure.addSuppressed(r)
          else throw r
      }
    }
  }

  /** host + pid + nonce + epoch-millis — enough for an operator to find
    * the holder, and unique per acquisition attempt.
    */
  private def newLockToken(): String = {
    val host =
      try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: Exception => "unknown-host" }
    s"$host pid=${ProcessHandle.current().pid()} " +
      s"nonce=${UUID.randomUUID()} ts=${System.currentTimeMillis()}"
  }

  /** Create the lock file carrying `token`. `overwrite = true` exists
    * ONLY for the race-simulation spec (it emulates a second creator
    * whose non-atomic create also "succeeded" on S3A/RawLocal).
    */
  private[graft] def stampLock(fs: FileSystem, lock: Path, token: String,
      overwrite: Boolean): Unit =
    writeText(fs, lock, token, overwrite)

  /** Read back the stamp; a mismatch means another creator won the
    * non-atomic create race — fail loudly, leave THEIR lock alone.
    */
  private[graft] def verifyLockOwner(fs: FileSystem, lock: Path,
      token: String): Unit = {
    val found = readLock(fs, lock)
    if (found != Some(token)) {
      throw new IllegalStateException(
        s"BlockRangeSink: lost the writer-lock race on $lock — stamped " +
          s"[$token] but read back ${found.fold("nothing")(o => s"[$o]")}. " +
          "A concurrent mutator holds the lock; this mutation did not run.")
    }
  }

  private def releaseLock(fs: FileSystem, lock: Path, token: String): Unit =
    readLock(fs, lock) match {
      case Some(t) if t == token => fs.delete(lock, false)
      case other =>
        throw new IllegalStateException(
          s"BlockRangeSink: writer lock $lock was " +
            other.fold("removed")(o => s"taken over by [$o]") +
            s" while this mutation (held as [$token]) was running — the " +
            "single-writer guarantee was violated (mistaken forceUnlock " +
            "mid-mutation?). The just-finished mutation may have raced " +
            "the new holder; audit the table.")
    }

  private def readLock(fs: FileSystem, lock: Path): Option[String] =
    try Some(readText(fs, lock))
    catch { case _: java.io.IOException => None }

  /** The whole of the small file `p` as UTF-8 (a lock stamp, a journal). */
  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Creates `p` holding `text` as UTF-8. */
  private def writeText(fs: FileSystem, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(text.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Who holds the writer lock (the owner stamp), if anyone — the
    * operator-facing view for deciding whether [[forceUnlock]] is safe
    * (e.g. the stamped pid/host is verifiably dead).
    */
  def lockOwner(path: String): Option[String] = {
    val (fs, root) = fsFor(path)
    readLock(fs, new Path(root, LockName))
  }

  /** Clear a writer lock orphaned by a crashed mutator. Deliberate,
    * named recovery — never called implicitly; check [[lockOwner]]
    * first. When the stamp names a rollback (a whole line, so never a
    * torn one), that rollback is first published as a journal, and the
    * next recovery redoes it ([[replayJournal]]).
    */
  def forceUnlock(path: String): Boolean = {
    val (fs, root) = fsFor(path)
    val lock = new Path(root, LockName)
    readLock(fs, lock).filter(_.endsWith("\n"))
      .flatMap(_.split("\n").find(Rollback.matches))
      .foreach(r => publish(fs, root, s"rollback-${UUID.randomUUID()}", Seq("v4", r)))
    fs.delete(lock, false)
  }

  /** Replaces every range `df` holds rows of with exactly those rows and
    * leaves every other range as it was, so re-running a batch that owns
    * its ranges adds nothing. The rows are staged once, partitioned by
    * range, under `_graft_pending/<opId>/`; one journal
    * ([[publishAndReplay]]) then drops, in each staged range, the files
    * one [[stats]] listing shows there and moves the staged files in —
    * one commit point for every range of the batch.
    */
  def write(df: DataFrame, path: String, blockCol: String = "block"): Unit =
    withWriterLock(path) {
      val live = stats(path).map(st => st.blockRange -> st.files.map(_.name)).toMap
      val (fs, root) = fsFor(path)
      val (opId, stageDir) = newStage(root)
      df.withColumn("blockRange", expr(s"$blockCol div $RangeSize"))
        .write.partitionBy("blockRange").parquet(stageDir.toString)
      publishAndReplay(fs, root, opId, rangeDirs(fs, stageDir).map {
        case (r, files) => Section(r, Some(live.getOrElse(r, Nil)),
          moves(opId, s"blockRange=$r", r, files))
      })
    }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Resume watermark (reference omniEngine.py:61-66: select
    * max(blocknumber), an O(1) B-tree probe — the bar). Two steps, both
    * tail-bounded: the max partition VALUE comes from the same FS
    * directory listing [[stats]] uses (one listing, no data scan —
    * Spark's `agg(max(partitionCol))` is NOT metadata-only by default,
    * so the previous form silently scanned the whole table to learn the
    * max partition), and the in-partition max comes from that single
    * tail partition's parquet footers ([[listedTip]]). At 100 TB / ~100k
    * partitions this is one directory listing plus one partition's
    * footers, never a table pass and, on the common path, no Spark job.
    */
  def watermark(spark: SparkSession, path: String,
      blockCol: String = "block"): Long =
    listedTip(spark, path, stats(path), blockCol)

  /** Max of `blockCol` in the table `listing` (a [[stats]] of `path`)
    * describes: -1 when it lists no range, else the max inside its last
    * range — the footer answer ([[footerMax]]) when every file's
    * statistics can give it, else the [[tailMaxProbe]] scan. The choice
    * follows what the files carry, so stores written without statistics
    * (or holding null blocks) still answer exactly.
    */
  private[graft] def listedTip(spark: SparkSession, path: String,
      listing: Seq[RangeStats], blockCol: String): Long =
    listing.lastOption.fold(-1L)(tail => footerMax(path, tail, blockCol)
      .getOrElse(tailMaxProbe(spark, path, tail.blockRange, blockCol)
        .head().getLong(0)))

  /** Max of `blockCol` over range `tail` from parquet row-group
    * statistics alone ([[footerSpans]]): one footer read per file the
    * listing recorded, no listing, no Spark job. `None` (the caller
    * scans instead) whenever the footers cannot give the exact answer.
    */
  private[graft] def footerMax(path: String, tail: RangeStats,
      blockCol: String): Option[Long] =
    footerSpans(path, tail, blockCol).map(_.map(_._3).max)

  /** Each listed file of `range` with the (min, max) of `blockCol` in
    * it, from parquet row-group statistics: one footer read per file
    * through the `FileSystem` resolved from the path — no listing, no
    * Spark job. `None` whenever the footers cannot give the exact
    * answer: no data file, a file with no row group, a top-level
    * `blockCol` that is missing or not a signed INT32/INT64, or any row
    * group whose statistics are absent, carry no null count, or count a
    * null (a null block is out-of-model data; a scan's SQL comparison
    * is the reference semantics for it). Stops reading footers at the
    * first file that cannot answer.
    */
  private[graft] def footerSpans(path: String, range: RangeStats,
      blockCol: String): Option[Seq[(FileId, Long, Long)]] = {
    val conf = hadoopConf
    val target = ColumnPath.get(blockCol)
    def signedInt(p: PrimitiveType): Boolean =
      (p.getPrimitiveTypeName == PrimitiveTypeName.INT32 ||
        p.getPrimitiveTypeName == PrimitiveTypeName.INT64) &&
        (p.getLogicalTypeAnnotation match {
          case null => true
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
          case _ => false
        })
    def fileSpan(f: FileId): Option[(Long, Long)] = {
      val footer = readFooter(conf, new FileStatus(f.length, false, 1, 0L,
        f.modTime, new Path(filePath(path, range.blockRange, f))))
      val typed = footer.getFileMetaData.getSchema.getFields.asScala
        .find(_.getName == blockCol).exists { f =>
          f.isPrimitive && !f.isRepetition(Type.Repetition.REPEATED) &&
            signedInt(f.asPrimitiveType)
        }
      val groups = footer.getBlocks.asScala
      if (!typed || groups.isEmpty) None
      else {
        val spans = groups.map { g =>
          g.getColumns.asScala.find(_.getPath == target)
            .map(_.getStatistics)
            .filter(s => s != null && s.hasNonNullValue &&
              s.isNumNullsSet && s.getNumNulls == 0)
            .map(s => (s.genericGetMin.asInstanceOf[Number].longValue,
              s.genericGetMax.asInstanceOf[Number].longValue))
        }
        if (spans.forall(_.isDefined))
          Some((spans.flatten.map(_._1).min, spans.flatten.map(_._2).max))
        else None
      }
    }
    if (range.files.isEmpty) None
    else range.files.foldLeft(Option(Vector.empty[(FileId, Long, Long)])) {
      (acc, f) => acc.flatMap(v => fileSpan(f).map { case (lo, hi) =>
        v :+ ((f, lo, hi)) })
    }
  }

  private def readFooter(conf: Configuration, st: FileStatus) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    try reader.getFooter finally reader.close()
  }

  /** The scan fallback of [[listedTip]] — factored out so the plan spec
    * can assert (via the scan's own numFiles metric) that it reads
    * exactly the max partition's files and nothing else.
    *
    * Reads the max partition's DIRECTORY directly ([[rangeRows]])
    * instead of the table root with a partition filter: the root read
    * builds a file index over EVERY partition (one directory listing
    * per partition before pruning even starts — at 100 TB / ~100k
    * partitions that is the whole-table listing the watermark probe
    * exists to avoid, and at bench SF it was ~0.3 s of the ~0.4 s probe
    * wall). The direct read lists one directory; the scan's numFiles is
    * the max partition's file count by construction.
    */
  private[graft] def tailMaxProbe(spark: SparkSession, path: String,
      maxRange: Long, blockCol: String): DataFrame =
    rangeRows(spark, path, maxRange).agg(max(col(blockCol).cast("long")))

  /** One range's rows, read from its own directory (no table-wide file
    * index; no `blockRange` column — it rides in the directory name).
    */
  private[graft] def rangeRows(spark: SparkSession, path: String,
      range: Long): DataFrame =
    spark.read.parquet(s"$path/blockRange=$range")

  /** One data file as a listing saw it. Every sink write gives its files
    * fresh names, so (name, length, modification time) identifies a
    * file generation: a range whose identities are unchanged holds the
    * same rows.
    */
  final case class FileId(name: String, length: Long, modTime: Long)

  /** Per-partition file statistics — metadata-only (directory listing,
    * no data scan): the observability a long-lived table needs to
    * decide when compaction pays, and the file identities (sorted by
    * name) that let a reader address exactly these files or tell that
    * the range changed.
    */
  final case class RangeStats(blockRange: Long, files: Seq[FileId]) {
    def nFiles: Int = files.size
    def bytes: Long = files.map(_.length).sum
  }

  /** Full path of one listed file of range `range`. */
  private[graft] def filePath(path: String, range: Long, f: FileId): String =
    s"$path/blockRange=$range/${f.name}"

  /** A data file as Spark's file index sees one: parquet, not hidden. */
  private def isDataFile(s: FileStatus): Boolean = {
    val n = s.getPath.getName
    s.isFile && n.endsWith(".parquet") && !n.startsWith(".") &&
      !n.startsWith("_")
  }

  private def fileId(s: FileStatus): FileId =
    FileId(s.getPath.getName, s.getLen, s.getModificationTime)

  /** Listing strategy is SCHEME-AWARE, because the costs invert
    * between stores:
    *
    *  - Remote metadata stores (S3A, HDFS, any non-`file` scheme): ONE
    *    recursive `listFiles(root, true)` — a single paginated LIST on
    *    S3A, one NameNode walk on HDFS — where the previous
    *    per-partition `listStatus` loop was one RPC per partition,
    *    O(100k) round-trips at 100 TB.
    *  - Local FS (`file`): the shallow per-partition `listStatus`
    *    loop. Syscalls are ~µs, there is no round-trip to batch, and
    *    Hadoop's generic recursive `listFiles` materializes a
    *    `LocatedFileStatus` (an extra block-locations stat) per file
    *    through a per-directory iterator chain — measured 25–28%
    *    SLOWER on the sink-heavy gates (s8 8.3→6.2 s,
    *    streaming_reorg_equiv 24.4→17.5 s, same-box interleaved
    *    min-fold at sf0.1) when it replaced the loop unconditionally.
    *
    * Recursive arm semantics: only files sitting DIRECTLY in a
    * root-level `blockRange=` dir count — in-flight commits stage their
    * range dirs under `_graft_pending/<opId>/`, and the depth check
    * keeps them (and any `_graft_checkpoint/` snapshot files)
    * invisible, as the top-level-dirs-only loop is by construction. A
    * partition dir holding zero data files is NOT reported by EITHER
    * arm (the recursive listing never sees it; the local loop filters
    * it) — same answer Spark's own file index gives, and the result
    * shape is scheme-independent for the same tree.
    *
    * The scheme comes from the QUALIFIED path's URI, not
    * `fs.getScheme` — Hadoop's base `FileSystem` leaves `getScheme`
    * throwing `UnsupportedOperationException`, so a third-party FS
    * that never overrode it would crash here; the URI is always
    * present.
    */
  def stats(path: String): Seq[RangeStats] = {
    val (fs, root) = fsFor(path)
    if (!fs.exists(root)) Seq.empty
    else if (fs.makeQualified(root).toUri.getScheme == "file")
      rangeDirs(fs, root).map { case (r, files) =>
        RangeStats(r, files.map(fileId)) }
    else {
      val qroot = fs.makeQualified(root)
      val acc = scala.collection.mutable.Map.empty[Long, Vector[FileId]]
      val it = fs.listFiles(qroot, true)
      while (it.hasNext) {
        val f = it.next()
        val dir = f.getPath.getParent
        if (isDataFile(f) &&
            dir != null && dir.getName.startsWith("blockRange=") &&
            dir.getParent == qroot) {
          val r = dir.getName.stripPrefix("blockRange=").toLong
          acc.update(r, acc.getOrElse(r, Vector.empty) :+ fileId(f))
        }
      }
      acc.toSeq
        .map { case (r, ids) => RangeStats(r, ids.sortBy(_.name)) }
        .sortBy(_.blockRange)
    }
  }

  /** Past this many files in one range, [[appendRanges]] rewrites the
    * range instead of appending to it (the cap `IncrementalIngest.derive`
    * puts on its pinned segments is the same number). */
  private val MaxFiles = 8

  /** [[compact]]'s default file size. */
  private val TargetBytes = 128L << 20

  /** The file count [[compact]] gives a range of `bytes`: every rewrite
    * of this sink (compaction, the append cap, the rollback's straddling
    * files) sizes its output with it. */
  private def targetFiles(bytes: Long, targetBytes: Long = TargetBytes): Int =
    math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)

  /** Small-file compaction: a long-lived table collects small files, and
    * thousands of KB-sized files per partition are death by open() at
    * 100 TB. [[appendRanges]] already bounds the tail it appends to (a
    * range past [[MaxFiles]] files is rewritten to this method's count in
    * the same commit), so this is the tool for every other range — a
    * fragmented [[write]], or a table written by an older build. Rewrite
    * each partition whose file count exceeds what its byte size
    * justifies down to ceil(bytes/targetBytes) files, through one journal
    * ([[publishAndReplay]]: the new generation is durable parquet under
    * the table's own `_graft_pending/` BEFORE anything is destroyed, and
    * the journal names every listed file it drops, so any crash prefix
    * is recoverable — see [[recoverTable]]). Returns the compacted
    * ranges.
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = TargetBytes): Seq[Long] = withWriterLock(path) {
    val todo = stats(path).filter(s => s.nFiles > targetFiles(s.bytes, targetBytes))
    if (todo.nonEmpty) {
      // ONE staging job + ONE journaled swap for every partition being
      // compacted (the old form ran one read-coalesce-write Spark job
      // and one journal cycle PER partition — each job re-listing the
      // whole table's file index; ~10 jobs × ~150 ms on the s8 gate).
      // Per-range file sizing survives batching: each row gets a
      // deterministic in-range slot (row-hash mod that range's target
      // file count) and the write is hash-clustered on (range, slot),
      // so a range ends up with AT MOST its target count of files —
      // slot collisions inside one task merge files (the writer starts
      // a new file per partition VALUE), never split them, so a
      // re-run's stats threshold cannot re-flag a compacted range.
      val (fs, root) = fsFor(path)
      val (opId, stageDir) = newStage(root)
      val nOf = todo.map(st => st.blockRange -> targetFiles(st.bytes, targetBytes)).toMap
      val totalSlots = nOf.values.sum
      val nMapCol = map(nOf.toSeq.flatMap { case (r, n) =>
        Seq(lit(r), lit(n.toLong)) }: _*)
      val rows = read(spark, path)
        .where(col("blockRange").cast("long").isin(todo.map(_.blockRange): _*))
      val dataCols = rows.columns.filter(_ != "blockRange").map(col)
      rows
        .withColumn("__slot", pmod(xxhash64(struct(dataCols.toSeq: _*)),
          element_at(nMapCol, col("blockRange").cast("long"))))
        .repartition(totalSlots, col("blockRange"), col("__slot"))
        .drop("__slot")
        .write.partitionBy("blockRange").parquet(stageDir.toString)
      val staged = rangeDirs(fs, stageDir)
      // converge or fail loudly: a flagged range that staged nothing
      // (e.g. its files hold zero rows) would keep its old files, and
      // stats would re-flag it on every later cycle
      val flagged = todo.map(_.blockRange)
      if (staged.map(_._1) != flagged)
        throw new IllegalStateException(
          s"compact: flagged ranges ${flagged.diff(staged.map(_._1)).mkString(",")} " +
            "staged no rows — refusing a partial compaction (the live " +
            "partitions are untouched; the next recovery sweeps the stage)")
      publishAndReplay(fs, root, opId, todo.zip(staged).map {
        case (st, (r, files)) => Section(r, Some(st.files.map(_.name)),
          moves(opId, s"blockRange=$r", r, files))
      })
    }
    todo.map(_.blockRange)
  }

  /** M4 under streaming — PHYSICAL reorg rollback (reference
    * reorgRollback sql.py:85-218: DELETE every derived row with
    * blocknumber > fork inside one transaction). A long-lived facts
    * store must drop the orphaned bytes, or the next [[watermark]] still
    * reads the orphaned tip and [[graft.streaming.IncrementalIngest]]
    * silently REJECTS the winning branch (it admits only blocks >
    * watermark).
    *
    * File-granular and tail-bounded, and ONE all-or-nothing commit like
    * every other mutation: one listing of the store ([[stats]]) finds
    * the ranges, and every range above the fork's is dropped whole, with
    * no data read. In the fork range each
    * listed file's block (min, max) comes from its parquet footer
    * ([[footerSpans]], the checks [[footerMax]] applies): a file wholly
    * above the fork is dropped, one wholly at or below it is kept, and
    * only the files straddling the fork are read — they are dropped too,
    * and their kept rows are staged as [[targetFiles]] files that the
    * same section moves in. A rollback of rows an [[appendRanges]]
    * commit added (files wholly above the fork) runs no Spark job at
    * all. When nothing lies above the fork it publishes nothing.
    *
    * Only a rollback that moves staged rows in publishes a journal. One
    * that only drops (whole ranges, files wholly above the fork) swaps
    * directly: its intent record is the fork in its lock stamp
    * ([[withWriterLock]]), and a redo from the fork drops exactly what is
    * still above it. A crash mid-swap leaves the stamp for
    * [[forceUnlock]] to journal; a swap that fails (a refused delete)
    * journals the rollback itself before it rethrows. Either way the next
    * recovery completes it, so the object store sees no write beyond the
    * lock stamp on this path.
    *
    * When the footers cannot answer (see [[footerSpans]]), one
    * aggregate over the fork range's own directory ([[forkSplit]]: rows
    * above the fork, rows at or below it) picks the fork range's section:
    * nothing above → none, nothing kept → the whole range dropped, both →
    * every listed file dropped and the range's kept rows moved in.
    *
    * Returns the tip the rollback leaves ([[listedTip]], what a
    * [[watermark]] read right after it gives), decided inside the same
    * lock hold: the ranges below the fork's are as the one listing saw
    * them (nothing else mutates under the lock), every range above it is
    * gone, and the fork range is re-listed with one `listStatus` of its
    * directory (absent when the rollback dropped it).
    *
    * At 100 TB a reorg costs one listing, the fork range's footers, at
    * most the straddling files' read + rewrite, the metadata deletes,
    * and the fork directory's re-list — never a table pass.
    * Idempotent: a re-run finds nothing above the fork and publishes
    * nothing.
    */
  def dropAbove(spark: SparkSession, path: String, fork: Long,
      blockCol: String = "block"): Long =
    withWriterLock(path, Some(rollbackRecord(fork, blockCol))) {
      rollbackLocked(spark, path, fork, blockCol) }

  /** The `rollback=<fork>\t<blockCol>` record of a rollback: in its lock
    * stamp, and alone in a `v4` journal that asks recovery to redo it. */
  private def rollbackRecord(fork: Long, blockCol: String) = s"rollback=$fork\t$blockCol"

  private val Rollback = "rollback=(-?\\d+)\t(.+)".r

  /** [[dropAbove]]'s body, under a lock the caller holds. */
  private def rollbackLocked(spark: SparkSession, path: String, fork: Long,
      blockCol: String): Long = {
    val (fs, root) = fsFor(path)
    val (opId, stageDir) = newStage(root)
    val forkRange = fork / RangeSize
    def dropRange(r: Long) = Section(r, Some(Seq(DropAll)), Nil)
    // moves in the rows of `rows` at or below the fork, staged as
    // compact's file count for `from`, the files they are read from
    def keptRows(from: Seq[FileId], rows: DataFrame) =
      stageRewrite(fs, stageDir, opId, forkRange,
        rows.where(col(blockCol) <= fork), targetFiles(from.map(_.length).sum))
    val all = stats(path)
    val forkSection = all.find(_.blockRange == forkRange).flatMap { st =>
      footerSpans(path, st, blockCol) match {
        case Some(spans) =>
          val above = spans.filter(_._2 > fork).map(_._1)
          val straddling = spans.filter(s => s._2 <= fork && s._3 > fork).map(_._1)
          if (above.size == spans.size) Some(dropRange(forkRange))
          else if (above.isEmpty && straddling.isEmpty) None
          else Some(Section(forkRange, Some((above ++ straddling).map(_.name)),
            if (straddling.isEmpty) Nil
            else keptRows(straddling, spark.read.parquet(
              straddling.map(filePath(path, forkRange, _)): _*))))
        case None =>
          val part = rangeRows(spark, path, forkRange)
          val split = forkSplit(part, fork, blockCol).head()
          val (above, kept) = (split.getLong(0), split.getLong(1))
          if (above == 0) None
          else if (kept == 0) Some(dropRange(forkRange))
          else Some(Section(forkRange, Some(st.files.map(_.name)),
            keptRows(st.files, part)))
      }
    }
    val sections = forkSection.toSeq ++
      all.filter(_.blockRange > forkRange).map(st => dropRange(st.blockRange))
    if (sections.exists(_.moves.nonEmpty)) publishAndReplay(fs, root, opId, sections)
    else try sections.foreach(swapRange(fs, root, stageDir, _))
    catch { case t: Throwable =>
      try publish(fs, root, s"rollback-$opId", Seq("v4", rollbackRecord(fork, blockCol)))
      catch { case p: Throwable => t.addSuppressed(p) }
      throw t }
    val forkFiles =
      try dataFiles(fs, new Path(root, s"blockRange=$forkRange")).map(fileId)
      catch { case _: FileNotFoundException => Nil }
    val left = all.filter(_.blockRange < forkRange) ++
      (if (forkFiles.isEmpty) Nil else Seq(RangeStats(forkRange, forkFiles)))
    listedTip(spark, path, left, blockCol)
  }

  /** (rows above `fork`, rows at or below it) of the fork range — one
    * aggregate; factored out so the spec can read the scan's numFiles.
    */
  private[graft] def forkSplit(part: DataFrame, fork: Long,
      blockCol: String): DataFrame =
    part.agg(count_if(col(blockCol) > fork), count_if(col(blockCol) <= fork))

  // ---- crash-recoverable commits (pending + journal + swap) ----

  /** Staged new files of in-flight commits (leading `_`: invisible to
    * Spark readers and to [[stats]]).
    */
  val PendingDirName = "_graft_pending"

  /** One journal object per in-flight commit — the swap's intent
    * record; its presence means "redo the swap", its deletion is the
    * commit point.
    */
  val JournalDirName = "_graft_journal"

  /** The ingest cycle's commit
    * ([[graft.streaming.IncrementalIngest.ingestFrame]]): admit the rows
    * of `rows` above the table's tip, add them as new files and return
    * how many rows that was. The whole cycle is one writer-lock critical
    * section ([[withWriterLock]]): recovery, ONE [[stats]] listing, the
    * tip from the tail range's footers ([[listedTip]]), the stage and
    * the publish. No rollback can move the tip between the read and the
    * commit, and no existing row changes, so no existing file is read,
    * rewritten or deleted — except in a range the append would take past
    * [[MaxFiles]] files.
    *
    *  1. **Stage** — the admitted rows (`blockCol` above the tip) are
    *     written once, partitioned by range, under
    *     `_graft_pending/<opId>/`. This is the only Spark job on `rows`:
    *     the admitted count is the sum of the staged footers' row counts
    *     and the touched ranges are the staged listing.
    *  2. **Cap** — a range whose listed files plus its staged files
    *     would exceed [[MaxFiles]] is rewritten instead: its listed and
    *     staged rows go to [[targetFiles]] files, and its section drops
    *     the listed files. Sealed ranges are never appended to, so only
    *     the tail range (or a range the batch opens with more staged
    *     files than the cap) can reach it.
    *  3. **Journal** — ONE journal for every range of the batch
    *     ([[publishAndReplay]]); an append section drops nothing and
    *     moves the staged files in under fresh names.
    *
    * The publish is the commit point for all ranges at once, and
    * recovery replays every outstanding journal before the tip is read.
    * So at every crash point either no range of the batch is
    * visible (journal unpublished; the table is as it was) or all of
    * them are (replay completes the moves), and the re-run's admit
    * filter re-admits exactly the uncommitted remainder: convergent
    * from any prefix.
    */
  def appendRanges(rows: DataFrame, path: String,
      blockCol: String = "block"): Long = withWriterLock(path) {
    val listing = stats(path)
    val tip = listedTip(rows.sparkSession, path, listing, blockCol)
    val (fs, root) = fsFor(path)
    val (opId, stageDir) = newStage(root)
    // Cluster the staged rows by range before the partitioned write
    // (guide §6: file sizing / REBALANCE-before-write). Unclustered,
    // every task writes one file into every range it holds — T×R files
    // per cycle. The AQE REBALANCE hint (not repartitionByRange, whose
    // range sampling would evaluate the batch a second time; and not a
    // plain hash repartition, which would serialize a hot range through
    // one task at 100 TB): one exchange, partition sizes decided from
    // the shuffle's own map statistics — small ranges coalesce into one
    // file each, oversized ranges split across tasks.
    rows.filter(col(blockCol) > tip)
      .withColumn("blockRange", expr(s"$blockCol div $RangeSize"))
      .hint("rebalance", col("blockRange"))
      .write.partitionBy("blockRange").parquet(stageDir.toString)
    val staged = rangeDirs(fs, stageDir)
    val conf = hadoopConf
    val admitted = staged.flatMap(_._2)
      .map(st => readFooter(conf, st).getBlocks.asScala.map(_.getRowCount).sum).sum
    val live = listing.map(st => st.blockRange -> st.files).toMap
    publishAndReplay(fs, root, opId, staged.map { case (r, files) =>
      val old = live.getOrElse(r, Nil)
      if (old.size + files.size <= MaxFiles)
        Section(r, Some(Nil), moves(opId, s"blockRange=$r", r, files))
      else {
        val spark = rows.sparkSession
        val fresh = spark.read.parquet(files.map(_.getPath.toString): _*)
        val merged =
          if (old.isEmpty) fresh
          else spark.read.parquet(old.map(filePath(path, r, _)): _*)
            .unionByName(fresh)
        Section(r, Some(old.map(_.name)), stageRewrite(fs, stageDir, opId, r,
          merged, targetFiles(old.map(_.length).sum + files.map(_.getLen).sum)))
      }
    })
    admitted
  }

  /** Stages `rows` of range `range` as at most `nFiles` files under
    * `<stageDir>/rewrite/blockRange=<range>/` and returns the moves that
    * bring them into the range. `blockRange` rides in the directory
    * name, never in the files — the layout [[write]]'s partitionBy
    * produces.
    */
  private def stageRewrite(fs: FileSystem, stageDir: Path, opId: String,
      range: Long, rows: DataFrame, nFiles: Int): Seq[(String, String)] = {
    val rel = s"rewrite/blockRange=$range"
    rows.drop("blockRange").coalesce(nFiles).write
      .parquet(new Path(stageDir, rel).toString)
    moves(opId, rel, range, dataFiles(fs, new Path(stageDir, rel)))
  }

  /** A fresh op id and its stage directory `_graft_pending/<opId>`
    * (created only by a write into it). */
  private def newStage(root: Path): (String, Path) = {
    val opId = UUID.randomUUID().toString
    (opId, new Path(root, s"$PendingDirName/$opId"))
  }

  /** The `blockRange=<r>` directories directly under `dir` (a table root,
    * or the stage of a partitioned write) that hold data files,
    * ascending, each with its [[dataFiles]]. */
  private def rangeDirs(fs: FileSystem,
      dir: Path): Seq[(Long, Seq[FileStatus])] =
    fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("blockRange="))
      .map(d => d.getPath.getName.stripPrefix("blockRange=").toLong ->
        dataFiles(fs, d.getPath))
      .filter(_._2.nonEmpty)
      .sortBy(_._1)

  /** The data files directly in `dir`, sorted by name. */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter(isDataFile).sortBy(_.getPath.getName)

  /** staged → target renames of `files`, staged under `<stage>/<rel>`;
    * every target name is fresh (it carries the op id). */
  private def moves(opId: String, rel: String, range: Long,
      files: Seq[FileStatus]): Seq[(String, String)] =
    files.zipWithIndex.map { case (f, i) =>
      (s"$rel/${f.getPath.getName}", f"graft-$opId-r$range-p$i%05d.parquet")
    }

  /** One range's part of a journal: the live files it drops and the
    * staged → target renames that move its new files in. `drops` is
    * `Some(Seq(DropAll))` for a range dropped whole (such a section moves
    * nothing in), and `None` only in a legacy `v1`/`v2` journal, whose
    * sections replace the whole range: there every file not among the
    * targets is dropped.
    */
  private final case class Section(range: Long, drops: Option[Seq[String]],
      moves: Seq[(String, String)])

  /** The `drop=` record of a whole-range drop (no data file is named
    * `*`): its replay deletes the range's directory in one recursive
    * delete, listing nothing, so a rollback's cost stays flat in the
    * number of ranges it drops and no empty directory is left behind.
    */
  private val DropAll = "*"

  /** Publishes one `v4` journal for `sections` and replays it — steps 2-4
    * of the commit protocol; step 1, staging every new file under
    * `_graft_pending/<opId>/`, is the caller's. With no section it
    * publishes nothing and only sweeps the stage.
    *
    *  1. **Stage** — pure addition; the live ranges are untouched and
    *     the new files are durable on the TABLE'S OWN store before
    *     anything is destroyed (executor-loss-safe by construction).
    *  2. **Journal** — ONE object `_graft_journal/<opId>`, written via
    *     temp + rename so it is never visible truncated (all-or-nothing
    *     on POSIX renames and on object stores, where the PUT itself is
    *     atomic). Form: `v4`, `pending=<opId>`, then per range
    *     `range=<r>`, one `drop=<file name>` per live file the section
    *     removes, and one `file=<staged path>\t<target name>` per move.
    *     An append section drops nothing; a whole-range replace names
    *     every listed file; a range dropped whole is the one record
    *     `drop=*` ([[DropAll]]) and moves nothing.
    *  3. **Swap** — per section, delete the dropped files (or the
    *     range's directory), then rename each staged file to its target.
    *     Every step is idempotent (delete-if-present,
    *     skip-if-target-exists), so the swap can be REDONE from any
    *     prefix; a delete the store refuses fails the replay and leaves
    *     the journal for the next recovery.
    *  4. **Clean** — delete the journal (commit point), then the stage.
    *
    * A crash before 2 destroys nothing (orphan stages are swept by
    * [[recoverTable]]); a crash after 2 is completed by
    * [[recoverTable]]'s replay, which every mutation runs first under
    * the writer lock — and the replay itself can crash and re-run.
    * Readers planning a scan inside the swap window can see a partial
    * range; the single-writer lock serializes mutators, not readers.
    */
  private def publishAndReplay(fs: FileSystem, root: Path, opId: String,
      sections: Seq[Section]): Unit =
    if (sections.isEmpty) cleanStage(fs, new Path(root, s"$PendingDirName/$opId"))
    else replayJournal(fs, root, publish(fs, root, opId,
      Seq("v4", s"pending=$opId") ++ sections.flatMap { s =>
        s"range=${s.range}" +: (s.drops.getOrElse(Nil).map(d => s"drop=$d") ++
          s.moves.map { case (f, t) => s"file=$f\t$t" })
      }))

  /** Writes the journal `_graft_journal/<name>` holding `lines` via temp +
    * rename, so it is never visible truncated, and returns its path. */
  private def publish(fs: FileSystem, root: Path, name: String,
      lines: Seq[String]): Path = {
    val journal = new Path(root, s"$JournalDirName/$name")
    val tmp = new Path(root, s"$JournalDirName/.$name.tmp")
    writeText(fs, tmp, lines.mkString("\n"), overwrite = false)
    if (!fs.rename(tmp, journal))
      throw new java.io.IOException(s"publish: could not publish journal $journal")
    journal
  }

  /** Redo the swap recorded in `journal` from whatever prefix of it
    * already happened, then clean up. Idempotent; safe to re-run after
    * its own crash. Every new journal is `v4`: a swap
    * ([[publishAndReplay]]) or one `rollback=` record ([[forceUnlock]],
    * [[dropAbove]]), which is redone by running the rollback's body
    * ([[rollbackLocked]]) and then deleted. The `v4` tag keeps an older
    * build, which knows no whole-range drop, from replaying one. The
    * legacy forms still replay, so a table left mid-commit by an older
    * build recovers: `v3` (sections that name each dropped file), `v1`
    * (one range; staged names relative to the recorded pending dir) and
    * `v2` (many ranges; staged names relative to the shared stage,
    * `blockRange=<r>/` included), whose sections carry no `drop=`
    * records and replace their whole range.
    */
  private def replayJournal(fs: FileSystem, root: Path,
      journal: Path): Unit = {
    val lines = readText(fs, journal).split("\n").toSeq
    val version = lines.headOption.getOrElse("<empty>")
    require(Set("v1", "v2", "v3", "v4")(version),
      s"replayJournal: unknown journal version in $journal: $version")
    val redo = lines.collectFirst { case Rollback(fork, col) => (fork.toLong, col) }
    for ((f, c) <- redo) rollbackLocked(SparkSession.active, root.toString, f, c)
    val pendingRel = lines.collectFirst {
      case l if l.startsWith("pending=") => l.stripPrefix("pending=")
    }.getOrElse(journal.getName)
    val pendingOp = new Path(root, s"$PendingDirName/$pendingRel")
    // group drop= and file= records under their range= section
    val sections = scala.collection.mutable.ArrayBuffer.empty[Section]
    def amend(l: String)(f: Section => Section): Unit = {
      require(sections.nonEmpty,
        s"replayJournal: record before any range record in $journal: $l")
      sections.update(sections.size - 1, f(sections.last))
    }
    lines.foreach {
      case l if l.startsWith("range=") =>
        sections += Section(l.stripPrefix("range=").toLong,
          if (version >= "v3") Some(Nil) else None, Nil)
      case l if l.startsWith("drop=") =>
        require(version >= "v3", s"replayJournal: drop record in a " +
          s"$version journal $journal")
        amend(l)(s => s.copy(drops = s.drops.map(_ :+ l.stripPrefix("drop="))))
      case l if l.startsWith("file=") =>
        val Array(f, t) = l.stripPrefix("file=").split("\t", 2)
        amend(l)(s => s.copy(moves = s.moves :+ (f, t)))
      case _ => ()
    }
    if (sections.isEmpty && redo.isEmpty) throw new java.io.IOException(
      s"replayJournal: no range or rollback record in $journal")
    sections.foreach(swapRange(fs, root, pendingOp, _))
    // 4. commit point, then scratch cleanup (including the protocol
    // dirs themselves once empty — mkdirs markers/parents outlive
    // their children on object stores and POSIX alike)
    fs.delete(journal, false)
    deleteIfEmpty(fs, journal.getParent)
    cleanStage(fs, pendingOp)
  }

  /** Deletes the stage `pendingOp`, and `_graft_pending/` once empty. */
  private def cleanStage(fs: FileSystem, pendingOp: Path): Unit = {
    fs.delete(pendingOp, true)
    deleteIfEmpty(fs, pendingOp.getParent)
  }

  /** One section's swap: drop the old files, move the staged files in.
    * Every step idempotent (delete-if-present, skip-if-target-exists),
    * so any prefix can be redone. This is the only code that deletes or
    * moves a live data file.
    */
  private def swapRange(fs: FileSystem, root: Path, pendingOp: Path,
      s: Section): Unit = {
    val partDir = new Path(root, s"blockRange=${s.range}")
    // 3a. drop the old files (skip what an earlier attempt already
    // dropped; never touch the new files' target names)
    s.drops match {
      case Some(Seq(DropAll)) => deleteLive(fs, partDir, recursive = true)
      case Some(names) =>
        names.foreach(n => deleteLive(fs, new Path(partDir, n), recursive = false))
        if (s.moves.nonEmpty && !fs.exists(partDir)) fs.mkdirs(partDir)
      case None =>
        val targets = s.moves.map(_._2).toSet
        if (fs.exists(partDir))
          fs.listStatus(partDir)
            .filter(f => f.isFile && !targets.contains(f.getPath.getName))
            .foreach(f => deleteLive(fs, f.getPath, recursive = false))
        else fs.mkdirs(partDir)
    }
    // 3b. move the new files in (skip files already in place)
    s.moves.foreach { case (stagedName, targetName) =>
      val target = new Path(partDir, targetName)
      if (!fs.exists(target)) {
        val stagedFile = new Path(pendingOp, stagedName)
        if (!fs.exists(stagedFile))
          throw new java.io.IOException(
            s"replayJournal: the journal names $stagedFile but neither it " +
              s"nor $target exists — the staged files are gone; " +
              "refusing to commit a partial partition")
        if (!fs.rename(stagedFile, target))
          throw new java.io.IOException(
            s"replayJournal: could not move $stagedFile to $target")
      }
    }
  }

  /** Deletes `p` if present. A delete the store refuses fails the swap
    * while its journal (or rollback record) is still there: swallowed,
    * the dropped file would stay live beside its replacement (every row
    * twice after a compact) or above the fork (the orphaned tip would
    * keep feeding [[watermark]] and the ingest gate would reject the
    * winning branch), and the next recovery could not retry it.
    */
  private def deleteLive(fs: FileSystem, p: Path, recursive: Boolean): Unit =
    if (!fs.delete(p, recursive) && fs.exists(p))
      throw new java.io.IOException(s"swapRange: the store refused to " +
        s"delete $p — the next recovery retries it")

  private def deleteIfEmpty(fs: FileSystem, dir: Path): Unit =
    try if (fs.listStatus(dir).isEmpty) fs.delete(dir, false)
    catch { case _: FileNotFoundException => () }

  /** Bring the table to a clean state after a crashed mutation: replay
    * any journaled in-flight swap (completing the crashed commit), then
    * redo any journaled rollback ([[forceUnlock]]), then sweep orphan
    * `_graft_pending/` stages that never journaled (nothing destructive
    * happened; the live ranges are intact). From any crash
    * prefix this alone leaves the table either as it was before the
    * crashed mutation or as that mutation would have left it.
    * [[withWriterLock]] runs it at the start of every mutation; this is
    * that lock with no mutation inside, for operators who want recovery
    * alone (e.g. before a read-side audit after [[forceUnlock]]).
    */
  def recoverTable(path: String): Unit = withWriterLock(path)(())

  private def recoverLocked(path: String): Unit = {
    val (fs, root) = fsFor(path)
    val journalRoot = new Path(root, JournalDirName)
    if (fs.exists(journalRoot)) {
      // rollback redos last: each lists the table the swaps leave
      fs.listStatus(journalRoot).filter(_.isFile)
        .sortBy(_.getPath.getName.startsWith("rollback-")).foreach { j =>
        if (j.getPath.getName.startsWith("."))
          fs.delete(j.getPath, false) // unpublished temp — never armed
        else replayJournal(fs, root, j.getPath)
      }
    }
    deleteIfEmpty(fs, journalRoot)
    fs.delete(new Path(root, PendingDirName), true)
  }
}
