package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel
import graft.model.RawTx
import graft.operators.OmniPipeline
import graft.sinks.BlockRangeSink

/** The incremental ingest lifecycle (reference omniEngine.py main loop,
  * SURVEY §3.1): resume from the sink's watermark, admit only new
  * blocks, commit them as one atomic append, re-derive state.
  *
  * Append-only tail commit: admission keeps only blocks above the
  * watermark, so every existing row of the store stays as it is and a
  * cycle adds files instead of rewriting ranges — the storage analogue
  * of the reference's per-block inserts (omniEngine.py:210 `dbCommit`).
  * The sink owns the whole cycle ([[BlockRangeSink.appendRanges]]): one
  * hold of its writer lock recovers, reads the watermark, stages the
  * admitted rows and publishes one journal for every range of the
  * batch — the reference's one lockfile around its whole cycle
  * (omniEngine.py:11-36). A rollback cannot run between the watermark
  * read and the commit, and a crashed cycle re-runs convergently from
  * ANY prefix (every range is committed before a watermark covering it
  * can be observed). An existing file is never read or rewritten,
  * except when an append would take the tail range past the sink's
  * file cap; sealed ranges are never touched. A rollback ([[reorg]]) is
  * likewise one sink call and one lock hold, which also returns the tip
  * the follower resumes from.
  */
object IncrementalIngest {

  val rawTxSchema = Encoders.product[RawTx].schema

  /** S2/S3 — schema'd JSON source for decoded txs (never inferSchema). */
  def readRawJson(spark: SparkSession, path: String): Dataset[RawTx] = {
    import spark.implicits._
    spark.read.schema(rawTxSchema).json(path).as[RawTx]
  }

  def readFacts(spark: SparkSession, factsDir: String): Dataset[RawTx] = {
    import spark.implicits._
    BlockRangeSink.read(spark, factsDir)
      .drop("blockRange")
      .as[RawTx]
  }

  /** One incremental cycle: admit blocks > watermark, append them to
    * the store. Returns the number of newly ingested txs.
    */
  def ingest(spark: SparkSession, raw: Dataset[RawTx],
      factsDir: String): Long =
    ingestFrame(spark, raw.toDF(), factsDir)

  /** [[ingest]] for an arbitrary fact schema (any frame with a `block`
    * column) — the sink itself is schema-agnostic, so composed
    * pipelines whose facts are not RawTx-shaped (e.g. the BTC chain
    * feed) share the same admit + append cycle.
    *
    * One sink call, [[BlockRangeSink.appendRanges]], under one writer
    * lock: recovery, one listing and the tail range's footer watermark
    * run without reading the batch, then `raw`'s rows above the
    * watermark are staged — the only Spark action on `raw` — and
    * committed as an append. The admitted count is the staged files'
    * footer row counts.
    */
  def ingestFrame(spark: SparkSession, raw: org.apache.spark.sql.DataFrame,
      factsDir: String): Long =
    BlockRangeSink.appendRanges(raw, factsDir)

  /** Reorg under the ingest lifecycle (reference omniEngine.py main
    * loop: a tip-hash mismatch triggers reorgRollback(fork) and the
    * follower resumes syncing from fork+1). One sink call,
    * [[BlockRangeSink.dropAbove]] — physical, reads only the fork
    * range, idempotent — whose one writer-lock hold truncates the store
    * and decides the tip it leaves (≤ fork), with one listing of the
    * store. The NEXT [[ingest]]/[[ingestFrame]] cycle admits the winning
    * branch's blocks through the exact same watermark gate as normal
    * sync (no special re-admission path to get wrong). Returns the
    * post-rollback watermark.
    */
  def reorg(spark: SparkSession, factsDir: String, fork: Long): Long =
    BlockRangeSink.dropAbove(spark, factsDir, fork)

  /** Re-derive all state from the facts store (the reference's
    * per-block derived-table updates, done as one deterministic batch),
    * reading and stamping only the block ranges that changed since the
    * previous call.
    *
    * One [[BlockRangeSink.stats]] listing serves the whole call: the
    * tip ([[BlockRangeSink.listedTip]] over the tail range's listed
    * files), the reuse check, and the explicit file paths of the read —
    * no table-root file index is ever built.
    *
    * Reuse: for one (session, store) this object pins the stamped facts
    * of SEALED ranges — every range below the store's max range; the
    * tail range, which every ingest cycle appends to, is never pinned — as
    * an ordered list of cached segments with per-range row counts. A
    * pinned range is reused while its listed file identities
    * ([[BlockRangeSink.FileId]]: name, length, modification time) are
    * unchanged, and reuse ends at the lowest range that is new, changed
    * or gone; a segment straddling that range is kept as a filter of its
    * own cache. Only the ranges above are read and stamped, with the
    * serial shifted by the reused row count. That is exact because
    * [[OmniPipeline.withSerials]]' order leads with `block` (the
    * prefix-stability note of [[OmniPipeline.deriveStamped]]): a reused
    * range's rows keep their serials, and every re-read row sorts after
    * all of them. The ranges this call sealed become one new segment,
    * filled before the call returns, so a later `CacheScope.release()`
    * of the stamper cache cannot make Spark re-plan it. A segment whose
    * cache entry is gone (`spark.catalog.clearCache()`, storage level
    * NONE) is dropped, never recomputed; past [[MaxSegments]] the
    * segments merge into one; a derive over another store or session
    * drops them all, and [[release]] frees them. A cold session runs the
    * same code with no segments.
    *
    * The stamped stream (segments ∪ re-read ranges) is coalesced to
    * ceil(listed bytes ÷ `spark.sql.adaptive.advisoryPartitionSizeInBytes`)
    * partitions, so the folds run one task per advisory-sized slice
    * rather than one per segment partition.
    */
  def derive(spark: SparkSession, factsDir: String): OmniPipeline.Derived =
    synchronized {
      val listing = BlockRangeSink.stats(factsDir)
      val tip = BlockRangeSink.listedTip(spark, factsDir, listing, "block")
      // the first block of the tail range: every block below it is sealed
      val sealedEnd =
        listing.lastOption.fold(0L)(_.blockRange) * BlockRangeSink.RangeSize
      val kept = reusable(spark, factsDir, listing)
      val reused = kept.flatMap(_.ranges)
      val todo = listing.drop(reused.size)
      val fresh = stampRanges(spark, factsDir, todo, reused.map(_._2).sum)
      val sealedNow = todo.dropRight(1)
      val segments = {
        val all =
          if (sealedNow.isEmpty) kept
          else kept :+ pin(fresh.where(col("_1.block") < sealedEnd), sealedNow)
        if (all.size <= MaxSegments) all
        else {
          val merged = pin(all.map(_.rows).reduce(_ union _),
            all.flatMap(_.ranges.map(_._1)))
          all.foreach(unpin)
          Vector(merged)
        }
      }
      pins = Some(Pins(spark, factsDir, segments))
      lastReuse = (reused.size, listing.size)
      log.info(s"derive $factsDir: reused ${reused.size} of ${listing.size} " +
        s"ranges, read ${todo.map(_.nFiles).sum} files, " +
        s"${segments.size} segments pinned")
      val tail =
        if (sealedNow.isEmpty) fresh
        else fresh.where(col("_1.block") >= sealedEnd)
      val advisory = spark.sessionState.conf
        .getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      val bytes = listing.map(_.bytes).sum
      val slices = math.max(1L, (bytes + advisory - 1) / advisory).toInt
      OmniPipeline.deriveStamped(
        (segments.map(_.rows) :+ tail).reduce(_ union _).coalesce(slices), tip)
    }

  /** Frees every pinned segment (the one session-scoped cache; see
    * [[derive]]). The next derive runs cold. */
  def release(): Unit = synchronized {
    pins.foreach(_.segments.foreach(unpin))
    pins = None
  }

  /** Stamped facts of a run of sealed ranges. `rows` carries final
    * serials; `cache` is the persisted dataset behind it (`rows` itself,
    * or the segment it was cut from); `ranges` pairs each range's
    * listing with its row count. */
  private final case class Segment(rows: Dataset[(RawTx, Long)],
      cache: Dataset[(RawTx, Long)],
      ranges: Vector[(BlockRangeSink.RangeStats, Long)])

  private final case class Pins(session: SparkSession, store: String,
      segments: Vector[Segment])

  private var pins: Option[Pins] = None

  /** Past this many segments [[derive]] merges them into one, so the
    * stamped union stays a bounded number of cached relations. */
  private val MaxSegments = 8

  /** (ranges reused, ranges listed) of the last [[derive]]. */
  @volatile private[graft] var lastReuse: (Int, Int) = (0, 0)

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The pinned segments [[derive]] may reuse for `listing`, with every
    * other segment unpinned: the longest prefix of pinned ranges equal
    * (range and file identities) to the listing's sealed ranges, cut at
    * the first segment whose cache entry is gone. */
  private def reusable(spark: SparkSession, factsDir: String,
      listing: Seq[BlockRangeSink.RangeStats]): Vector[Segment] = {
    val held = pins match {
      case Some(p) if (p.session eq spark) && p.store == factsDir => p.segments
      case other =>
        other.foreach(_.segments.foreach(unpin))
        Vector.empty
    }
    pins = None
    val live = held.takeWhile(_.cache.storageLevel != StorageLevel.NONE)
    var left = live.iterator.flatMap(_.ranges)
      .zip(listing.dropRight(1).iterator)
      .takeWhile { case ((pinned, _), listed) => pinned == listed }.size
    held.flatMap { seg =>
      val take = math.min(left, seg.ranges.size)
      left -= take
      if (take == seg.ranges.size) Some(seg)
      else if (take > 0) {
        val end = seg.ranges(take)._1.blockRange * BlockRangeSink.RangeSize
        Some(Segment(seg.rows.where(col("_1.block") < end), seg.cache,
          seg.ranges.take(take)))
      } else {
        unpin(seg)
        None
      }
    }
  }

  /** Reads exactly the listed files of `ranges` and stamps them, serials
    * starting after `offset`. */
  private def stampRanges(spark: SparkSession, factsDir: String,
      ranges: Seq[BlockRangeSink.RangeStats],
      offset: Long): Dataset[(RawTx, Long)] = {
    import spark.implicits._
    val files = ranges.flatMap(st =>
      st.files.map(BlockRangeSink.filePath(factsDir, st.blockRange, _)))
    val facts =
      if (files.isEmpty) spark.emptyDataset[RawTx]
      else spark.read.schema(rawTxSchema).parquet(files: _*).as[RawTx]
    val stamped = OmniPipeline.withSerials(facts)
    if (offset == 0L) stamped
    else stamped.select(col("_1"), (col("_2") + offset).as("_2"))
      .as[(RawTx, Long)]
  }

  /** Pins `rows` (the stamped facts of `ranges`) as a segment. The
    * per-range count aggregate is also the eager fill of the cache. */
  private def pin(rows: Dataset[(RawTx, Long)],
      ranges: Seq[BlockRangeSink.RangeStats]): Segment = {
    rows.persist(StorageLevel.MEMORY_AND_DISK)
    val counts = rows
      .groupBy(expr(s"_1.block div ${BlockRangeSink.RangeSize}"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(counts.keySet.subsetOf(ranges.map(_.blockRange).toSet),
      s"rows outside their block range directory: ranges ${counts.keySet}")
    Segment(rows, rows,
      ranges.map(st => st -> counts.getOrElse(st.blockRange, 0L)).toVector)
  }

  private def unpin(seg: Segment): Unit =
    try seg.cache.unpersist(blocking = false)
    catch { case scala.util.control.NonFatal(_) => () } // session stopped
}
