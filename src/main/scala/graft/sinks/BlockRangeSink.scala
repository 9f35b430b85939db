package graft.sinks

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
  * rewrites every touched partition from source), [[compact]] and
  * [[dropAbove]] through the journaled pending-swap protocol of
  * [[rewritePartition]] (the new generation is durable parquet under
  * the table's own `_graft_pending/` before anything is destroyed, and
  * a `_graft_journal/` record makes the swap replayable). Recovery
  * runs automatically under the writer lock at the start of every
  * mutation ([[recoverTable]] exposes it standalone); CrashRecoverySpec
  * model-checks every mutation prefix over object-store semantics.
  *
  * Mutation concurrency — SINGLE WRITER (reference M10,
  * omniEngine.py:11-36: one lockfile around the whole engine):
  * [[write]], [[compact]] and [[dropAbove]] rewrite partitions, which
  * is safe against a CRASH of the same logical operation but not
  * against a CONCURRENT different one (a cron'd compactor racing a
  * reorg rollback could resurrect a dropped partition). Each therefore
  * takes a sink-level writer lock — create-no-overwrite of `_graft_writer.lock`
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

  /** Dev measurement instrument (GRAFT_SINK_TIMING=1): wall-clock per
    * protocol segment to stderr, so the journal protocol's cost can be
    * itemized per ingest cycle (guide §1). Zero-cost when unset; never
    * part of any timed artifact (stderr only).
    */
  private val timing = sys.env.get("GRAFT_SINK_TIMING").contains("1")
  private[graft] def timed[T](label: String)(body: => T): T =
    if (!timing) body
    else {
      val t0 = System.nanoTime()
      try body
      finally System.err.println(
        f"[sink-timing] $label ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }

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
    try body
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
      overwrite: Boolean): Unit = {
    val out = fs.create(lock, overwrite)
    try out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

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
    try {
      val in = fs.open(lock)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](512)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        Some(new String(buf.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    } catch { case _: java.io.IOException => None }

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
      recoverLocked(path)
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
    * tail partition's parquet footers ([[tailMax]]). At 100 TB / ~100k
    * partitions this is one directory listing plus one partition's
    * footers, never a table pass and, on the common path, no Spark job.
    */
  def watermark(spark: SparkSession, path: String,
      blockCol: String = "block"): Long = {
    val ranges = timed("watermark.stats")(stats(path).filter(_.nFiles > 0))
    if (ranges.isEmpty) -1L
    else timed("watermark.probe")(
      tailMax(spark, path, ranges.map(_.blockRange).max, blockCol))
  }

  /** Max of `blockCol` inside range `maxRange`: the footer answer
    * ([[footerMax]]) when every file's statistics can give it, else the
    * [[tailMaxProbe]] scan. The choice follows what the files carry, so
    * stores written without statistics (or holding null blocks) still
    * answer exactly.
    */
  private[graft] def tailMax(spark: SparkSession, path: String,
      maxRange: Long, blockCol: String): Long =
    footerMax(path, maxRange, blockCol).getOrElse(
      tailMaxProbe(spark, path, maxRange, blockCol).head().getLong(0))

  /** Max of `blockCol` over range `maxRange` from parquet row-group
    * statistics alone: one listing of the range directory plus one
    * footer read per file, through the `FileSystem` resolved from the
    * path — no Spark job. `None` (the caller scans instead) whenever the
    * footers cannot give the exact answer: no data file or no row
    * group, a top-level `blockCol` that is missing or not a signed
    * INT32/INT64, or any row group whose statistics are absent, carry
    * no null count, or count a null (a null block is out-of-model data;
    * the scan's SQL `max` is the reference semantics for it).
    */
  private[graft] def footerMax(path: String, maxRange: Long,
      blockCol: String): Option[Long] = {
    val conf = hadoopConf
    val (fs, dir) = fsFor(s"$path/blockRange=$maxRange")
    val files = fs.listStatus(dir).filter { s =>
      val n = s.getPath.getName
      s.isFile && n.endsWith(".parquet") &&
        !n.startsWith(".") && !n.startsWith("_")
    }
    val target = ColumnPath.get(blockCol)
    def signedInt(p: PrimitiveType): Boolean =
      (p.getPrimitiveTypeName == PrimitiveTypeName.INT32 ||
        p.getPrimitiveTypeName == PrimitiveTypeName.INT64) &&
        (p.getLogicalTypeAnnotation match {
          case null => true
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
          case _ => false
        })
    def fileMax(st: FileStatus): Option[Long] = {
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      val footer = try reader.getFooter finally reader.close()
      val typed = footer.getFileMetaData.getSchema.getFields.asScala
        .find(_.getName == blockCol).exists { f =>
          f.isPrimitive && !f.isRepetition(Type.Repetition.REPEATED) &&
            signedInt(f.asPrimitiveType)
        }
      val groups = footer.getBlocks.asScala
      if (!typed || groups.isEmpty) None
      else {
        val maxes = groups.map { g =>
          g.getColumns.asScala.find(_.getPath == target)
            .map(_.getStatistics)
            .filter(s => s != null && s.hasNonNullValue &&
              s.isNumNullsSet && s.getNumNulls == 0)
            .map(_.genericGetMax.asInstanceOf[Number].longValue)
        }
        if (maxes.forall(_.isDefined)) Some(maxes.flatten.max) else None
      }
    }
    // flatMap stops reading footers at the first file that cannot answer
    if (files.isEmpty) None
    else files.foldLeft(Option(Long.MinValue)) { (acc, f) =>
      acc.flatMap(a => fileMax(f).map(math.max(a, _)))
    }
  }

  /** The scan fallback of [[tailMax]] — factored out so the plan spec
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

  /** Per-partition file statistics — metadata-only (directory listing,
    * no data scan): the observability a long-lived table needs to
    * decide when compaction pays.
    */
  final case class RangeStats(blockRange: Long, nFiles: Int, bytes: Long)

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
      fs.listStatus(root).toSeq
        .filter(s => s.isDirectory &&
          s.getPath.getName.startsWith("blockRange="))
        .map { d =>
          val files = fs.listStatus(d.getPath)
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          RangeStats(d.getPath.getName.stripPrefix("blockRange=").toLong,
            files.length, files.map(_.getLen).sum)
        }
        .filter(_.nFiles > 0)
        .sortBy(_.blockRange)
    else {
      val qroot = fs.makeQualified(root)
      val acc = scala.collection.mutable.Map.empty[Long, (Int, Long)]
      val it = fs.listFiles(qroot, true)
      while (it.hasNext) {
        val f = it.next()
        val dir = f.getPath.getParent
        if (f.getPath.getName.endsWith(".parquet") &&
            dir != null && dir.getName.startsWith("blockRange=") &&
            dir.getParent == qroot) {
          val r = dir.getName.stripPrefix("blockRange=").toLong
          val (n, b) = acc.getOrElse(r, (0, 0L))
          acc.update(r, (n + 1, b + f.getLen))
        }
      }
      acc.toSeq
        .map { case (r, (n, b)) => RangeStats(r, n, b) }
        .sortBy(_.blockRange)
    }
  }

  /** Small-file compaction: every incremental batch appends files to
    * its tail partitions, and a year of per-block commits leaves
    * thousands of KB-sized files per partition — death by open() at
    * 100 TB. Rewrite each partition whose file count exceeds what its
    * byte size justifies down to ceil(bytes/targetBytes) files, via
    * the crash-recoverable [[rewritePartition]] protocol (the new
    * generation is durable parquet under the table's own
    * `_graft_pending/` BEFORE anything is destroyed, and a journaled
    * swap makes any crash prefix recoverable — see [[recoverTable]]).
    * Returns the compacted ranges.
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20): Seq[Long] = withWriterLock(path) {
    recoverLocked(path)
    val todo = stats(path).filter { s =>
      s.nFiles > math.max(1, math.ceil(s.bytes.toDouble / targetBytes).toInt)
    }
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
      val opId = java.util.UUID.randomUUID().toString
      val stageDir = new Path(root, s"$PendingDirName/$opId")
      val nOf = todo.map { st =>
        st.blockRange ->
          math.max(1, math.ceil(st.bytes.toDouble / targetBytes).toInt)
      }.toMap
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
      val staged = fs.listStatus(stageDir)
        .filter(s => s.isDirectory &&
          s.getPath.getName.startsWith("blockRange="))
        .map(_.getPath.getName.stripPrefix("blockRange=").toLong)
        .sorted.toSeq
      // converge or fail loudly: a flagged range that staged nothing
      // (e.g. its files hold zero rows) would keep its old files, and
      // stats would re-flag it on every later cycle
      val flagged = todo.map(_.blockRange)
      if (staged != flagged)
        throw new IllegalStateException(
          s"compact: flagged ranges ${flagged.diff(staged).mkString(",")} " +
            "staged no rows — refusing a partial compaction (the live " +
            "partitions are untouched; the next recovery sweeps the stage)")
      commitStagedRanges(fs, root, opId, staged)
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
    * Tail-bounded by construction: one listing of the store ([[stats]])
    * finds the ranges, and the only data read is the fork range's OWN
    * directory ([[rangeRows]] — never a table-wide file index). One
    * aggregate over it ([[forkSplit]]: rows above the fork, rows at or
    * below it) picks the action: nothing above → no-op, nothing kept →
    * directory delete, both → [[rewritePartition]] of the kept rows.
    * Every range strictly above the fork's is removed as an
    * `fs.delete(partitionDir)` (no data read). At 100 TB a reorg costs
    * one listing, one tail-partition read + rewrite, and metadata
    * deletes — never a table pass. Idempotent: a crashed/re-run rollback
    * finds the tail already gone and the fork range already split (a
    * no-op), or completes the journaled rewrite on recovery.
    */
  def dropAbove(spark: SparkSession, path: String, fork: Long,
      blockCol: String = "block"): Unit = withWriterLock(path) {
    recoverLocked(path)
    val forkRange = fork / RangeSize
    val all = stats(path)
    all.find(_.blockRange == forkRange).foreach { forkStats =>
      val part = rangeRows(spark, path, forkRange)
      val split = forkSplit(part, fork, blockCol).head()
      val (above, kept) = (split.getLong(0), split.getLong(1))
      if (above > 0) {
        if (kept == 0) deletePartitionDir(path, forkRange)
        else rewritePartition(path, forkRange,
          part.where(col(blockCol) <= fork), math.max(1, forkStats.nFiles))
      }
    }
    all.filter(_.blockRange > forkRange)
      .foreach(st => deletePartitionDir(path, st.blockRange))
  }

  /** (rows above `fork`, rows at or below it) of the fork range — one
    * aggregate; factored out so the spec can read the scan's numFiles.
    */
  private[graft] def forkSplit(part: DataFrame, fork: Long,
      blockCol: String): DataFrame =
    part.agg(count_if(col(blockCol) > fork), count_if(col(blockCol) <= fork))

  private def deletePartitionDir(path: String, range: Long): Unit = {
    // A swallowed failed delete here is the silent-rejection failure
    // mode dropAbove exists to prevent: the orphaned tip would keep
    // feeding watermark() and the ingest gate would reject the winning
    // branch forever. Fail loudly instead.
    val (fs, root) = fsFor(path)
    val d = new Path(root, s"blockRange=$range")
    if (fs.exists(d) && !fs.delete(d, /* recursive = */ true)) {
      throw new java.io.IOException(
        s"dropAbove: could not delete $d — aborting rollback so the " +
          "orphaned range is not silently retained above the fork")
    }
  }

  // ---- crash-recoverable partition rewrite (pending + journal + swap) ----

  /** Staged new-generation files for in-flight rewrites (leading `_`:
    * invisible to Spark readers and to [[stats]]).
    */
  val PendingDirName = "_graft_pending"

  /** One journal object per in-flight rewrite — the swap's intent
    * record; its presence means "redo the swap", its deletion is the
    * commit point.
    */
  val JournalDirName = "_graft_journal"

  /** Rewrite partition `range` to hold exactly `rows` (which may read
    * FROM that partition) in `nFiles` files, surviving a crash at ANY
    * point of the sequence — the property the previous
    * snapshot + dynamic-overwrite form lacked: its job commit deletes
    * the live partition before renaming the staged one in, and the
    * snapshot that could restore it was freed on the failure path, so
    * a crash in that window lost the partition with nothing on disk to
    * recover from. Protocol:
    *
    *  1. **Stage** — write `rows` as plain parquet under
    *     `_graft_pending/<opId>/`: pure addition, the live partition
    *     untouched; the new generation is durable on the TABLE'S OWN
    *     store before anything is destroyed (executor-loss-safe by
    *     construction — no checkpoint policy involved).
    *  2. **Journal** — ONE object `_graft_journal/<opId>` (written via
    *     temp + rename, so it is never visible truncated) recording
    *     the range and every staged→target file-name pair.
    *  3. **Swap** — delete the partition's data files not in the
    *     target set, then rename each staged file to its recorded
    *     target name. Every step is idempotent (delete-if-present,
    *     skip-if-target-exists), so the swap can be REDONE from any
    *     prefix.
    *  4. **Clean** — delete the journal (commit point), then the
    *     pending dir.
    *
    * A crash before 2 destroys nothing (orphan pending dirs are swept
    * by [[recoverTable]]); a crash after 2 is completed by
    * [[recoverTable]]'s replay, which every mutation runs first under
    * the writer lock — and the replay itself can crash and re-run.
    * Readers planning a scan inside the swap window can see a partial
    * partition (same anomaly class as the previous dynamic-overwrite
    * commit); the single-writer lock serializes mutators, not readers.
    */
  private def rewritePartition(path: String, range: Long,
      rows: DataFrame, nFiles: Int): Unit = {
    val (fs, root) = fsFor(path)
    val opId = java.util.UUID.randomUUID().toString
    // 1. stage (blockRange rides in the dir name, never in the files —
    // same layout write()'s partitionBy produces)
    rows.drop("blockRange").coalesce(nFiles).write
      .parquet(new Path(root, s"$PendingDirName/$opId").toString)
    // 2-4. journal, swap, clean
    commitStaged(fs, root, range, opId, opId)
  }

  /** The composite ingest-cycle write: rewrite every block range
    * `batch` touches to hold exactly `batch`'s rows for that range,
    * through ONE journaled swap for the whole batch — the form whose
    * crash recovery COMPOSES with watermark-gated admission
    * ([[graft.streaming.IncrementalIngest.ingestFrame]]).
    *
    * Why [[write]]'s dynamic overwrite is not enough for the ingest
    * cycle: its crash contract is "re-run the SAME batch", but an
    * ingest re-run is NOT the same batch — the admit filter moves with
    * the watermark. A crashed overwrite commit can delete an old tail
    * partition before its replacement lands, LOWERING the watermark;
    * the re-run then re-admits from a feed that no longer carries the
    * deleted historical rows, and they are gone (CrashRecoverySpec's
    * ingest-cycle sweep caught exactly this at one prefix — round 13).
    *
    * The fix is staging + one batch journal: the batch is staged ONCE
    * (partitioned by range, pure addition), then a single `v2` journal
    * recording every range's staged→target files is published (temp +
    * rename) and replayed ([[commitStagedRanges]]). The publish is the
    * commit point for ALL ranges at once, and recovery replays every
    * outstanding journal before any watermark is read. So at every
    * crash point either no range of the batch is visible (journal
    * unpublished; the old generation is intact) or all of them are
    * (replay completes the swap) — every range is committed before the
    * watermark that covers it is observed, and the re-run's admit filter
    * re-admits exactly the uncommitted remainder: convergent from any
    * prefix.
    */
  def upsertRanges(batch: DataFrame, path: String,
      blockCol: String = "block"): Unit = withWriterLock(path) {
    timed("upsert.recover")(recoverLocked(path))
    val (fs, root) = fsFor(path)
    val opId = java.util.UUID.randomUUID().toString
    val stageDir = new Path(root, s"$PendingDirName/$opId")
    // Cluster the staged generation by range before the partitioned
    // write (guide §6: file sizing / REBALANCE-before-write; §2.2:
    // fewer map outputs). Unclustered, every task writes one file into
    // every range it holds — T×R files per cycle whose per-file
    // create/rename/footer costs tax the commit and whose accumulation
    // poisons every later read of the table. The AQE REBALANCE hint
    // (not repartitionByRange, whose range sampling re-computes the
    // whole merge batch — measured +2.7 s/gate at bench SF; and not a
    // plain hash repartition, which would serialize a hot range
    // through one task at 100 TB): one exchange, partition sizes
    // decided from the shuffle's own map statistics — small ranges
    // coalesce, oversized ranges split across tasks.
    timed("upsert.stageWrite")(
      batch.withColumn("blockRange", expr(s"$blockCol div $RangeSize"))
        .hint("rebalance", col("blockRange"))
        .write.partitionBy("blockRange").parquet(stageDir.toString))
    val ranges = fs.listStatus(stageDir)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("blockRange="))
      .map(_.getPath.getName.stripPrefix("blockRange=").toLong)
      .sorted.toSeq
    // ONE journal for the whole batch (one temp+rename publish, one
    // replay) instead of one per range: the commit point is atomic for
    // the batch, so recovery completes EVERY staged range before any
    // watermark read — strictly stronger than the old ascending
    // per-range commit (whose invariant was "every range at-or-below
    // the watermark is fully committed") at ~1/R of the FS-metadata
    // bill. Measured r14: the per-range loop cost ~0.8 s per ~150-range
    // cycle on the streaming twins.
    timed(s"upsert.commit(${ranges.length} ranges)")(
      if (ranges.nonEmpty) commitStagedRanges(fs, root, opId, ranges)
      else { fs.delete(stageDir, true); deleteIfEmpty(fs, stageDir.getParent) })
  }

  /** Steps 2-4 of the rewrite protocol over an already-staged
    * generation at `_graft_pending/<pendingRel>`: publish the journal
    * (temp + rename: visible all-or-nothing on POSIX renames AND on
    * object stores, where the PUT itself is atomic), then swap + clean
    * via the same [[replayJournal]] recovery replays.
    */
  private def commitStaged(fs: FileSystem, root: Path, range: Long,
      journalName: String, pendingRel: String): Unit = {
    val pendingOp = new Path(root, s"$PendingDirName/$pendingRel")
    val staged = fs.listStatus(pendingOp)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).sorted.toSeq
    val pairs = staged.zipWithIndex.map { case (s, i) =>
      (s, f"graft-$journalName-p$i%05d.parquet")
    }
    publishAndReplay(fs, root, journalName,
      (Seq("v1", s"range=$range", s"pending=$pendingRel") ++
        pairs.map { case (s, t) => s"file=$s\t$t" }).mkString("\n"))
  }

  /** Steps 2-4 for a MULTI-RANGE staged generation
    * (`_graft_pending/<stageRel>/blockRange=<r>/…`, the layout a
    * partitioned staging write produces): ONE journal records every
    * range's staged→target file pairs, so the whole batch has one
    * publish (temp + rename), one replay, and one commit point —
    * against the old one-journal-per-range loop this removes ~10 FS
    * metadata round-trips per range, and recovery completes EVERY
    * staged range before any watermark read (the crash-convergence
    * invariant the ascending per-range order existed to provide).
    */
  private def commitStagedRanges(fs: FileSystem, root: Path,
      stageRel: String, ranges: Seq[Long]): Unit = {
    val stageDir = new Path(root, s"$PendingDirName/$stageRel")
    val sections = ranges.map { r =>
      val staged = fs.listStatus(new Path(stageDir, s"blockRange=$r"))
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.getName).sorted.toSeq
      val pairs = staged.zipWithIndex.map { case (s, i) =>
        (s"blockRange=$r/$s", f"graft-$stageRel-r$r-p$i%05d.parquet")
      }
      Seq(s"range=$r") ++ pairs.map { case (s, t) => s"file=$s\t$t" }
    }
    publishAndReplay(fs, root, stageRel,
      (Seq("v2", s"pending=$stageRel") ++ sections.flatten).mkString("\n"))
  }

  private def publishAndReplay(fs: FileSystem, root: Path,
      journalName: String, content: String): Unit = {
    val journal = new Path(root, s"$JournalDirName/$journalName")
    val tmp = new Path(root, s"$JournalDirName/.$journalName.tmp")
    val out = fs.create(tmp, false)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, journal))
      throw new java.io.IOException(
        s"commitStaged: could not publish journal $journal")
    replayJournal(fs, root, journal)
  }

  /** Redo the swap recorded in `journal` from whatever prefix of it
    * already happened, then clean up. Idempotent; safe to re-run after
    * its own crash. Two formats: `v1` (one range; staged names relative
    * to the recorded pending dir) and `v2` (many ranges; staged names
    * relative to the shared staging root, `blockRange=<r>/` included).
    */
  private def replayJournal(fs: FileSystem, root: Path,
      journal: Path): Unit = {
    val content = {
      val in = fs.open(journal)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](4096)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
    }
    val lines = content.split("\n").toSeq
    val version = lines.headOption.getOrElse("<empty>")
    require(version == "v1" || version == "v2",
      s"replayJournal: unknown journal version in $journal: $version")
    val pendingRel = lines.collectFirst {
      case l if l.startsWith("pending=") => l.stripPrefix("pending=")
    }.getOrElse(journal.getName)
    val pendingOp = new Path(root, s"$PendingDirName/$pendingRel")
    // group file= lines under their range= section (v1 has exactly one)
    var range = -1L
    val sections =
      scala.collection.mutable.LinkedHashMap.empty[Long, Seq[(String, String)]]
    lines.foreach {
      case l if l.startsWith("range=") =>
        range = l.stripPrefix("range=").toLong
        sections.getOrElseUpdate(range, Seq.empty)
      case l if l.startsWith("file=") =>
        require(range >= 0, s"replayJournal: file record before any " +
          s"range record in $journal")
        val Array(s, t) = l.stripPrefix("file=").split("\t", 2)
        sections.update(range, sections(range) :+ (s, t))
      case _ => ()
    }
    if (sections.isEmpty) throw new java.io.IOException(
      s"replayJournal: no range record in $journal")
    sections.foreach { case (r, pairs) =>
      swapRange(fs, root, pendingOp, journal, r, pairs)
    }
    // 4. commit point, then scratch cleanup (including the protocol
    // dirs themselves once empty — mkdirs markers/parents outlive
    // their children on object stores and POSIX alike)
    fs.delete(journal, false)
    fs.delete(pendingOp, true)
    deleteIfEmpty(fs, journal.getParent)
    deleteIfEmpty(fs, pendingOp.getParent)
  }

  /** One range's swap: drop the old generation, move the staged files
    * in. Every step idempotent (delete-if-present, skip-if-target-
    * exists), so any prefix can be redone.
    */
  private def swapRange(fs: FileSystem, root: Path, pendingOp: Path,
      journal: Path, range: Long, pairs: Seq[(String, String)]): Unit = {
    val partDir = new Path(root, s"blockRange=$range")
    val targets = pairs.map(_._2).toSet
    // 3a. drop the old generation (skip what an earlier attempt already
    // dropped; never touch the new generation's target names)
    if (fs.exists(partDir))
      fs.listStatus(partDir)
        .filter(s => s.isFile && !targets.contains(s.getPath.getName))
        .foreach(s => fs.delete(s.getPath, false))
    else fs.mkdirs(partDir)
    // 3b. move the new generation in (skip files already in place)
    pairs.foreach { case (stagedName, targetName) =>
      val target = new Path(partDir, targetName)
      if (!fs.exists(target)) {
        val stagedFile = new Path(pendingOp, stagedName)
        if (!fs.exists(stagedFile))
          throw new java.io.IOException(
            s"replayJournal: $journal names $stagedFile but neither it " +
              s"nor $target exists — the staged generation is gone; " +
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
    * overwrite rewrites every touched partition from source). Runs
    * automatically at the start of every locked mutation; exposed for
    * operators who want recovery without a mutation (e.g. before a
    * read-side audit after [[forceUnlock]]).
    */
  def recoverTable(path: String): Unit =
    withWriterLock(path) { recoverLocked(path) }

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
