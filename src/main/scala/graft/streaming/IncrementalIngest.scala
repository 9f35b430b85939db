package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.RawTx
import graft.operators.OmniPipeline
import graft.sinks.BlockRangeSink

/** The incremental ingest lifecycle (reference omniEngine.py main loop,
  * SURVEY §3.1): resume from the sink's watermark, admit only new
  * blocks, commit atomically per block range, re-derive state.
  *
  * Tail-partition rewrite: the sink's unit of atomicity is a block
  * RANGE partition, so an incremental batch rewrites each affected
  * range as (existing facts in range ≤ watermark) ∪ (new facts), via
  * the sink's single-journal batch commit
  * ([[BlockRangeSink.upsertRanges]]: one `v2` journal for every range
  * of the batch, replayed by recovery before any watermark read) — a
  * crashed cycle re-runs convergently from ANY prefix (every range is
  * committed before a watermark covering it can be observed), and
  * untouched ranges are never rewritten (at 100 TB the tail is a
  * vanishing fraction).
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

  /** One incremental cycle: admit blocks > watermark, rewrite affected
    * tail ranges. Returns the number of newly ingested txs.
    */
  def ingest(spark: SparkSession, raw: Dataset[RawTx],
      factsDir: String): Long =
    ingestFrame(spark, raw.toDF(), factsDir)

  /** [[ingest]] for an arbitrary fact schema (any frame with a `block`
    * column) — the sink itself is schema-agnostic, so composed
    * pipelines whose facts are not RawTx-shaped (e.g. the BTC chain
    * feed) share the same admit + tail-rewrite cycle.
    */
  def ingestFrame(spark: SparkSession, raw: org.apache.spark.sql.DataFrame,
      factsDir: String): Long = {
    // recover FIRST: the watermark probe and the existing-rows read
    // below plan against file listings, and a crashed predecessor's
    // outstanding journal would otherwise be replayed mid-cycle (inside
    // upsertRanges' lock), invalidating those listings under the
    // running merge query. Single-writer contract: nothing mutates the
    // table between this recovery and the upsert's own locked one.
    BlockRangeSink.timed("ingest.recover")(
      BlockRangeSink.recoverTable(factsDir))
    // ONE FS listing serves the whole cycle: the watermark's max-range
    // lookup AND the affected-partition membership check below (the
    // old shape listed for the watermark, then re-listed the entire
    // table inside the merge read's file index — at 100 TB that second
    // listing is O(all partitions) per cycle for a tail-sized merge).
    val existing = BlockRangeSink.timed("ingest.stats")(
      BlockRangeSink.stats(factsDir).filter(_.nFiles > 0))
    val wm =
      if (existing.isEmpty) -1L
      else BlockRangeSink.timed("ingest.watermark")(
        BlockRangeSink.tailMax(spark, factsDir,
          existing.map(_.blockRange).max, "block"))
    val fresh = raw.filter(col("block") > wm)
    // one pass over the feed yields both the admit count and the
    // affected range set (the old shape ran a count job, then a second
    // aggregate to build the semi-join's broadcast side)
    val aggRow = BlockRangeSink.timed("ingest.freshAgg")(
      fresh.agg(count(lit(1)),
        collect_set(expr(s"block div ${BlockRangeSink.RangeSize}"))).head())
    val n = aggRow.getLong(0)
    if (n > 0) {
      val affected = aggRow.getSeq[Long](1).toSet
      val overlap = existing.map(_.blockRange).filter(affected)
      val batch =
        if (overlap.isEmpty) fresh
        else {
          // read EXACTLY the affected partitions' directories — no
          // whole-table file index, no semi-join: the membership test
          // already happened driver-side on metadata
          val dirs = overlap.map(r => s"$factsDir/blockRange=$r")
          spark.read.option("basePath", factsDir).parquet(dirs: _*)
            .drop("blockRange")
            .unionByName(fresh)
        }
      // NOT BlockRangeSink.write: the overwrite's crash contract is
      // "re-run the same batch", and an ingest re-run is not the same
      // batch (the admit filter above moves with the watermark). The
      // single-journal batched commit makes THIS cycle
      // crash-convergent — see BlockRangeSink.upsertRanges.
      BlockRangeSink.timed("ingest.upsert")(
        BlockRangeSink.upsertRanges(batch, factsDir))
    }
    n
  }

  /** Reorg under the ingest lifecycle (reference omniEngine.py main
    * loop: a tip-hash mismatch triggers reorgRollback(fork) and the
    * follower resumes syncing from fork+1). The storage truncation is
    * [[BlockRangeSink.dropAbove]] — physical, reads only the fork
    * range, idempotent — after which [[BlockRangeSink.watermark]] reads
    * ≤ fork and the NEXT [[ingest]]/[[ingestFrame]] cycle admits the winning
    * branch's blocks through the exact same watermark gate as normal
    * sync (no special re-admission path to get wrong). Returns the
    * post-rollback watermark.
    */
  def reorg(spark: SparkSession, factsDir: String, fork: Long): Long = {
    BlockRangeSink.dropAbove(spark, factsDir, fork)
    BlockRangeSink.watermark(spark, factsDir)
  }

  /** Re-derive all state from the facts store (the reference's per-block
    * derived-table updates, done as one deterministic batch).
    */
  def derive(spark: SparkSession, factsDir: String): OmniPipeline.Derived = {
    val facts = readFacts(spark, factsDir)
    val tip = BlockRangeSink.watermark(spark, factsDir)
    OmniPipeline.derive(facts, tip)
  }
}
