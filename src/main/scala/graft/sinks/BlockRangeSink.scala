package graft.sinks

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnPath
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** S8 — the per-block atomic commit (reference omniEngine.py:210: one
  * Postgres transaction per block; rollback on failure :212-220),
  * re-expressed as idempotent partition overwrite:
  *
  * Facts are written partitioned by `blockRange = block div rangeSize`.
  * A batch covering blocks [a, b] rewrites exactly the partitions it
  * owns (dynamic partition overwrite), so a re-run of a failed batch is
  * idempotent — the Spark analog of the reference's per-block
  * transaction, and the unit of reorg truncation (drop partitions >
  * fork, rewrite the fork partition).
  *
  * At 100 TB, blockRange is also the pruning key: incremental runs and
  * reorg checks touch only the tail partitions.
  *
  * All metadata operations (watermark probe, stats, partition deletes,
  * the writer lock) go through the Hadoop `FileSystem` API resolved
  * from the path + the session's hadoopConfiguration — the same code
  * path works against `file://`, HDFS, or an S3A table root; nothing
  * here assumes a local filesystem.
  *
  * Crash consistency — every mutation is recoverable from ANY crash
  * prefix: [[write]] by re-running the batch (dynamic overwrite
  * rewrites every touched partition from source), [[appendRanges]],
  * [[compact]] and [[dropAbove]]'s rewrite through the journaled
  * pending-swap protocol of [[publishAndReplay]] (the new files are
  * durable parquet under the table's own `_graft_pending/` before
  * anything is destroyed, and a `_graft_journal/` record naming every
  * file dropped and moved makes the swap replayable), and
  * [[dropAbove]]'s file and directory deletes by re-running it.
  * Recovery lives in the writer lock itself: [[withWriterLock]] runs it
  * right after taking the lock, before any mutation's body, so every
  * mutation starts from a clean table ([[recoverTable]] is the bare
  * lock); CrashRecoverySpec model-checks every mutation prefix over
  * object-store semantics.
  *
  * Mutation concurrency — SINGLE WRITER (reference M10,
  * omniEngine.py:11-36: one lockfile around the whole engine):
  * [[write]], [[compact]] and [[dropAbove]] rewrite partitions, which
  * is safe against a CRASH of the same logical operation but not
  * against a CONCURRENT different one (a cron'd compactor racing a
  * reorg rollback could resurrect a dropped partition), and
  * [[appendRanges]] admits rows by the tip it reads (a rollback between
  * that read and the commit would leave the winning branch's blocks
  * below the old tip unadmitted). Each therefore runs whole inside ONE
  * hold of a sink-level writer lock — create-no-overwrite of `_graft_writer.lock`
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
    */
  private def withWriterLock[T](path: String)(body: => T): T = {
    val (fs, root) = fsFor(path)
    if (!fs.exists(root)) fs.mkdirs(root)
    val lock = new Path(root, LockName)
    val token = newLockToken()
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
      s"nonce=${java.util.UUID.randomUUID()} ts=${System.currentTimeMillis()}"
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
    * first.
    */
  def forceUnlock(path: String): Boolean = {
    val (fs, root) = fsFor(path)
    fs.delete(new Path(root, LockName), false)
  }

  def write(df: DataFrame, path: String, blockCol: String = "block"): Unit =
    withWriterLock(path) {
      df.withColumn("blockRange", expr(s"$blockCol div $RangeSize"))
        .write
        .partitionBy("blockRange")
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite)
        .parquet(path)
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
    * root-level `blockRange=` dir count — in-flight commit attempts
    * nest the partition dir under `_temporary/...`, and the depth
    * check keeps them (and any `_graft_checkpoint/` snapshot files)
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

  /** M4 — reorg truncation at the storage layer: keep facts ≤ fork. */
  def truncateTo(spark: SparkSession, path: String, fork: Long,
      blockCol: String = "block"): DataFrame =
    read(spark, path).where(col(blockCol) <= fork)

  /** M4 under streaming — PHYSICAL reorg rollback (reference
    * reorgRollback sql.py:85-218: DELETE every derived row with
    * blocknumber > fork inside one transaction). [[truncateTo]] is the
    * read-side filter; a long-lived facts store must also drop the
    * orphaned bytes, or the next [[watermark]] still reads the orphaned
    * tip and [[graft.streaming.IncrementalIngest]] silently REJECTS the
    * winning branch (it admits only blocks > watermark).
    *
    * File-granular and tail-bounded: one listing of the store ([[stats]])
    * finds the ranges; every range above the fork's is removed as an
    * `fs.delete(partitionDir)`, highest first, with no data read. In the
    * fork range each listed file's block (min, max) comes from its parquet
    * footer ([[footerSpans]], the checks [[footerMax]] applies): a file
    * wholly above the fork is deleted, one wholly at or below it is kept,
    * and only the files straddling the fork are read — their kept rows
    * go to [[targetFiles]] files through one journal that names those
    * files as its drops. Deletes run from the highest block down, so a
    * crash prefix only ever lowers the tip. A rollback of rows an
    * [[appendRanges]] commit added (files wholly above the fork) runs no
    * Spark job at all.
    *
    * When the footers cannot answer (see [[footerSpans]]), one
    * aggregate over the fork range's own directory ([[forkSplit]]: rows
    * above the fork, rows at or below it) picks the action: nothing above
    * → no-op, nothing kept → directory delete, both → a rewrite of the
    * whole range's kept rows, dropping every listed file.
    *
    * Returns the tip the rollback leaves ([[listedTip]], what a
    * [[watermark]] read right after it gives), decided inside the same
    * lock hold: the ranges below the fork's are as the one listing saw
    * them (nothing else mutates under the lock), every range above it is
    * gone, and the fork range is re-listed with one `listStatus` of its
    * directory (absent when the rollback deleted it).
    *
    * At 100 TB a reorg costs one listing, the fork range's footers, at
    * most the straddling files' read + rewrite, metadata deletes, and the
    * fork directory's re-list — never a table pass. Idempotent: a
    * crashed/re-run rollback finds the higher ranges and files already
    * gone and the straddlers already split (a no-op), or completes the
    * journaled rewrite on recovery.
    */
  def dropAbove(spark: SparkSession, path: String, fork: Long,
      blockCol: String = "block"): Long = withWriterLock(path) {
    val forkRange = fork / RangeSize
    val all = stats(path)
    all.filter(_.blockRange > forkRange).reverse
      .foreach(st => deleteOrFail(path, s"blockRange=${st.blockRange}"))
    all.find(_.blockRange == forkRange).foreach { st =>
      footerSpans(path, st, blockCol) match {
        case Some(spans) =>
          val above = spans.filter(_._2 > fork)
          val straddling = spans.filter(s => s._2 <= fork && s._3 > fork).map(_._1)
          if (above.size == spans.size) deleteOrFail(path, s"blockRange=$forkRange")
          else {
            above.sortBy(-_._3).foreach(s =>
              deleteOrFail(path, s"blockRange=$forkRange/${s._1.name}"))
            if (straddling.nonEmpty)
              rewriteRange(path, forkRange, spark.read
                .parquet(straddling.map(filePath(path, forkRange, _)): _*)
                .where(col(blockCol) <= fork), straddling)
          }
        case None =>
          val part = rangeRows(spark, path, forkRange)
          val split = forkSplit(part, fork, blockCol).head()
          val (above, kept) = (split.getLong(0), split.getLong(1))
          if (above > 0) {
            if (kept == 0) deleteOrFail(path, s"blockRange=$forkRange")
            else rewriteRange(path, forkRange,
              part.where(col(blockCol) <= fork), st.files)
          }
      }
    }
    val (fs, root) = fsFor(path)
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

  /** Deletes the file or range directory `rel` of the table. A swallowed
    * failed delete here is the silent-rejection failure mode dropAbove
    * exists to prevent: the orphaned tip would keep feeding watermark()
    * and the ingest gate would reject the winning branch forever. Fail
    * loudly instead.
    */
  private def deleteOrFail(path: String, rel: String): Unit = {
    val (fs, root) = fsFor(path)
    val p = new Path(root, rel)
    if (fs.exists(p) && !fs.delete(p, /* recursive = */ true)) {
      throw new java.io.IOException(
        s"dropAbove: could not delete $p — aborting rollback so the " +
          "orphaned rows are not silently retained above the fork")
    }
  }

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
    *
    * Why not [[write]]'s dynamic overwrite: its crash contract is
    * "re-run the SAME batch", but an ingest re-run is NOT the same batch
    * — the admit filter moves with the watermark. A crashed overwrite
    * commit can delete an old tail partition before its replacement
    * lands, LOWERING the watermark; the re-run then re-admits from a feed
    * that no longer carries the deleted historical rows, and they are
    * gone (CrashRecoverySpec's ingest-cycle sweep caught exactly this at
    * one prefix — round 13).
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
    if (staged.isEmpty) {
      fs.delete(stageDir, true)
      deleteIfEmpty(fs, stageDir.getParent)
    } else {
      val live = listing.map(st => st.blockRange -> st.files).toMap
      val sections = staged.map { case (r, files) =>
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
          stageRewrite(fs, stageDir, opId, r, merged,
            targetFiles(old.map(_.length).sum + files.map(_.getLen).sum),
            old.map(_.name))
        }
      }
      publishAndReplay(fs, root, opId, sections)
    }
    admitted
  }

  /** Replaces the live files `drops` of range `range` with `rows` (which
    * may read FROM them), in [[targetFiles]] of their bytes, through one
    * journal.
    */
  private def rewriteRange(path: String, range: Long, rows: DataFrame,
      drops: Seq[FileId]): Unit = {
    val (fs, root) = fsFor(path)
    val (opId, stageDir) = newStage(root)
    publishAndReplay(fs, root, opId, Seq(stageRewrite(fs, stageDir, opId,
      range, rows, targetFiles(drops.map(_.length).sum), drops.map(_.name))))
  }

  /** Stages `rows` of range `range` as at most `nFiles` files under
    * `<stageDir>/rewrite/blockRange=<range>/` and returns the section
    * that replaces the live files `drops` with them. `blockRange` rides
    * in the directory name, never in the files — the layout [[write]]'s
    * partitionBy produces.
    */
  private def stageRewrite(fs: FileSystem, stageDir: Path, opId: String,
      range: Long, rows: DataFrame, nFiles: Int, drops: Seq[String]): Section = {
    val rel = s"rewrite/blockRange=$range"
    rows.drop("blockRange").coalesce(nFiles).write
      .parquet(new Path(stageDir, rel).toString)
    Section(range, Some(drops),
      moves(opId, rel, range, dataFiles(fs, new Path(stageDir, rel))))
  }

  /** A fresh op id and its stage directory `_graft_pending/<opId>`. */
  private def newStage(root: Path): (String, Path) = {
    val opId = java.util.UUID.randomUUID().toString
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
    * `None` only in a legacy `v1`/`v2` journal, whose sections replace
    * the whole range: there every file not among the targets is dropped.
    */
  private final case class Section(range: Long, drops: Option[Seq[String]],
      moves: Seq[(String, String)])

  /** Publishes one `v3` journal for `sections` and replays it — steps 2-4
    * of the commit protocol; step 1, staging every new file under
    * `_graft_pending/<opId>/`, is the caller's:
    *
    *  1. **Stage** — pure addition; the live ranges are untouched and
    *     the new files are durable on the TABLE'S OWN store before
    *     anything is destroyed (executor-loss-safe by construction).
    *  2. **Journal** — ONE object `_graft_journal/<opId>`, written via
    *     temp + rename so it is never visible truncated (all-or-nothing
    *     on POSIX renames and on object stores, where the PUT itself is
    *     atomic). Form: `v3`, `pending=<opId>`, then per range
    *     `range=<r>`, one `drop=<file name>` per live file the section
    *     removes, and one `file=<staged path>\t<target name>` per move.
    *     An append section drops nothing; a whole-range replace names
    *     every listed file.
    *  3. **Swap** — per section, delete the dropped files, then rename
    *     each staged file to its target. Every step is idempotent
    *     (delete-if-present, skip-if-target-exists), so the swap can be
    *     REDONE from any prefix.
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
      sections: Seq[Section]): Unit = {
    val content = (Seq("v3", s"pending=$opId") ++ sections.flatMap { s =>
      s"range=${s.range}" +: (s.drops.getOrElse(Nil).map(d => s"drop=$d") ++
        s.moves.map { case (f, t) => s"file=$f\t$t" })
    }).mkString("\n")
    val journal = new Path(root, s"$JournalDirName/$opId")
    val tmp = new Path(root, s"$JournalDirName/.$opId.tmp")
    writeText(fs, tmp, content, overwrite = false)
    if (!fs.rename(tmp, journal))
      throw new java.io.IOException(
        s"publishAndReplay: could not publish journal $journal")
    replayJournal(fs, root, journal)
  }

  /** Redo the swap recorded in `journal` from whatever prefix of it
    * already happened, then clean up. Idempotent; safe to re-run after
    * its own crash. Every new journal is `v3` ([[publishAndReplay]]).
    * The legacy forms still replay, so a table left mid-commit by an
    * older build recovers: `v1` (one range; staged names relative to the
    * recorded pending dir) and `v2` (many ranges; staged names relative
    * to the shared stage, `blockRange=<r>/` included), whose sections
    * carry no `drop=` records and replace their whole range.
    */
  private def replayJournal(fs: FileSystem, root: Path,
      journal: Path): Unit = {
    val lines = readText(fs, journal).split("\n").toSeq
    val version = lines.headOption.getOrElse("<empty>")
    require(Set("v1", "v2", "v3")(version),
      s"replayJournal: unknown journal version in $journal: $version")
    val pendingRel = lines.collectFirst {
      case l if l.startsWith("pending=") => l.stripPrefix("pending=")
    }.getOrElse(journal.getName)
    val pendingOp = new Path(root, s"$PendingDirName/$pendingRel")
    // group drop= and file= records under their range= section
    val sections = scala.collection.mutable.ArrayBuffer.empty[Section]
    def current(l: String): Section = {
      require(sections.nonEmpty,
        s"replayJournal: record before any range record in $journal: $l")
      sections.last
    }
    lines.foreach {
      case l if l.startsWith("range=") =>
        sections += Section(l.stripPrefix("range=").toLong,
          if (version == "v3") Some(Nil) else None, Nil)
      case l if l.startsWith("drop=") =>
        require(version == "v3", s"replayJournal: drop record in a " +
          s"$version journal $journal")
        val s = current(l)
        sections.update(sections.size - 1,
          s.copy(drops = s.drops.map(_ :+ l.stripPrefix("drop="))))
      case l if l.startsWith("file=") =>
        val s = current(l)
        val Array(f, t) = l.stripPrefix("file=").split("\t", 2)
        sections.update(sections.size - 1, s.copy(moves = s.moves :+ (f, t)))
      case _ => ()
    }
    if (sections.isEmpty) throw new java.io.IOException(
      s"replayJournal: no range record in $journal")
    sections.foreach(swapRange(fs, root, pendingOp, journal, _))
    // 4. commit point, then scratch cleanup (including the protocol
    // dirs themselves once empty — mkdirs markers/parents outlive
    // their children on object stores and POSIX alike)
    fs.delete(journal, false)
    fs.delete(pendingOp, true)
    deleteIfEmpty(fs, journal.getParent)
    deleteIfEmpty(fs, pendingOp.getParent)
  }

  /** One section's swap: drop the old files, move the staged files in.
    * Every step idempotent (delete-if-present, skip-if-target-exists),
    * so any prefix can be redone.
    */
  private def swapRange(fs: FileSystem, root: Path, pendingOp: Path,
      journal: Path, s: Section): Unit = {
    val partDir = new Path(root, s"blockRange=${s.range}")
    // 3a. drop the old files (skip what an earlier attempt already
    // dropped; never touch the new files' target names)
    s.drops match {
      case Some(names) =>
        names.foreach(n => fs.delete(new Path(partDir, n), false))
        if (s.moves.nonEmpty && !fs.exists(partDir)) fs.mkdirs(partDir)
      case None =>
        val targets = s.moves.map(_._2).toSet
        if (fs.exists(partDir))
          fs.listStatus(partDir)
            .filter(f => f.isFile && !targets.contains(f.getPath.getName))
            .foreach(f => fs.delete(f.getPath, false))
        else fs.mkdirs(partDir)
    }
    // 3b. move the new files in (skip files already in place)
    s.moves.foreach { case (stagedName, targetName) =>
      val target = new Path(partDir, targetName)
      if (!fs.exists(target)) {
        val stagedFile = new Path(pendingOp, stagedName)
        if (!fs.exists(stagedFile))
          throw new java.io.IOException(
            s"replayJournal: $journal names $stagedFile but neither it " +
              s"nor $target exists — the staged files are gone; " +
              "refusing to commit a partial partition")
        if (!fs.rename(stagedFile, target))
          throw new java.io.IOException(
            s"replayJournal: could not move $stagedFile to $target")
      }
    }
  }

  private def deleteIfEmpty(fs: FileSystem, dir: Path): Unit =
    try {
      if (fs.exists(dir) && fs.listStatus(dir).isEmpty)
        fs.delete(dir, false)
    } catch { case _: java.io.FileNotFoundException => () }

  /** Bring the table to a clean state after a crashed mutation: replay
    * any journaled in-flight swaps (completing the crashed rewrite),
    * then sweep scratch a crashed Spark job left behind — orphan
    * `_graft_pending/` generations that never journaled (nothing
    * destructive happened; the live partition is intact) and
    * `.spark-staging-*`/`_temporary` dirs from a crashed [[write]]
    * commit (whose recovery contract is re-running the batch: dynamic
    * overwrite rewrites every touched partition from source).
    * [[withWriterLock]] runs it at the start of every mutation; this is
    * that lock with no mutation inside, for operators who want recovery
    * alone (e.g. before a read-side audit after [[forceUnlock]]).
    */
  def recoverTable(path: String): Unit = withWriterLock(path)(())

  private def recoverLocked(path: String): Unit = {
    val (fs, root) = fsFor(path)
    val journalRoot = new Path(root, JournalDirName)
    if (fs.exists(journalRoot)) {
      fs.listStatus(journalRoot).filter(_.isFile).foreach { j =>
        if (j.getPath.getName.startsWith("."))
          fs.delete(j.getPath, false) // unpublished temp — never armed
        else replayJournal(fs, root, j.getPath)
      }
    }
    deleteIfEmpty(fs, journalRoot)
    val pendingRoot = new Path(root, PendingDirName)
    if (fs.exists(pendingRoot)) fs.delete(pendingRoot, true)
    fs.listStatus(root)
      .filter(s => s.isDirectory &&
        (s.getPath.getName.startsWith(".spark-staging-") ||
          s.getPath.getName == "_temporary"))
      .foreach(s => fs.delete(s.getPath, true))
  }
}
