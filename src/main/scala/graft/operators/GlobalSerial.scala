package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, col, element_at, lit,
  monotonically_increasing_id, shiftright, typedLit}
import org.apache.spark.storage.StorageLevel

/** W1 — deterministic global total order (the reference's
  * TxDBSerialNum sequence, reference/omniEngine.py:106,
  * reference/sql.py:2502-2504). The engine's ONE serial stamper:
  * `OmniPipeline.stamp`/`withSerials` are typed views over [[assign]].
  *
  * A naive `row_number() over (order by ...)` collapses the whole
  * dataset onto ONE partition — fatal at 100 TB. Instead: range-partition
  * by the sort key (parallel sampling + shuffle), sort within partitions,
  * and stamp by partition offsets. Total work: one shuffle + one
  * columnar cache fill, fully parallel, identical result to the global
  * row_number as long as `order` is a total order (pass a unique
  * tiebreaker).
  */
object GlobalSerial {

  /** Low 33 bits of a `monotonically_increasing_id`: the row's 0-based
    * index within its partition; the high bits are the partition id. */
  private val LocalIdxMask = (1L << 33) - 1

  /** Returns `df` plus a non-null dense 1-based `serialCol` in `order`.
    *
    * After the range exchange and the partition sort,
    * `monotonically_increasing_id()` holds `(pid << 33) | localIdx` for
    * each row, so it carries both halves of the partition-offset stamp
    * with no object pass: the tagged rows are pinned as a columnar
    * MEMORY_AND_DISK cache, the per-partition counts are a columnar
    * aggregate over that cache (which doubles as the eager fill, so
    * concurrent consumer branches never race the parse+sort prefix on
    * cold partitions), and `serial = localIdx + 1 + offsets(pid)` is
    * codegen arithmetic on the cached rows. Range partitions are
    * key-ordered, so this IS the global row_number. Assumes each range
    * partition holds fewer than 2^33 rows — Spark's own limit for the
    * id's local-index field.
    *
    * The offsets array is sized from the largest partition id the
    * counts saw. It rides as a `typedLit` array that codegen references
    * as a plain object (no constant-pool entry per element), so at
    * O(10⁴–10⁵) partitions of a 100 TB stream it is 80 B–800 kB of
    * plan payload — metadata-sized, like the `collect()`ed counts that
    * produce it. `OmniPipelineSpec` pins correctness at an adversarial
    * 4096-partition stamp over a small stream (most partitions empty).
    *
    * Cache-stability assumption: the offsets are collected from the
    * cache, and the serial expression later re-reads that SAME cache —
    * both jobs must see one materialization. A cached block lost
    * (evicted, executor gone) between the two jobs is recomputed from
    * the cached plan's own lineage: the same range-exchange shuffle
    * (its partitioner is built once per plan), then the sort on the
    * total order and the id, so the replayed partition reproduces the
    * same rows, order and ids, and the collected counts stay valid
    * (`OmniPipelineSpec` evicts every block between the two jobs and
    * pins the result). Dropping the cache ENTRY mid-query is not
    * covered — a re-planned exchange may sample different range
    * bounds — which is why the release is deferred to
    * [[graft.CacheScope]]: a long-lived session MUST call
    * `CacheScope.release()` after consuming each query's result, never
    * before, or the pins accumulate for the life of the session
    * (CacheScope warns past 64 outstanding entries).
    *
    * A cache built ON TOP of this one outlives that release only if it
    * is fully filled first: Spark re-plans a dependent cache entry whose
    * blocks are not all loaded when the entry below it is dropped.
    * [[graft.streaming.IncrementalIngest.derive]]'s pinned segments
    * (stamped sealed ranges reused across calls, the one session-scoped
    * cache) are filled by their per-range count before it returns; it
    * stamps only the ranges above them and shifts this serial by their
    * row count.
    */
  def assign(df: DataFrame, serialCol: String, order: Column*): DataFrame = {
    val tag = "__gs_mid"
    val tagged = df.repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn(tag, monotonically_increasing_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.CacheScope.defer(() => tagged.unpersist(blocking = false))
    val pid = shiftright(col(tag), 33)
    val counts = tagged.groupBy(pid).count().collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1)))
    val sizes = new Array[Long](counts.map(_._1 + 1).maxOption.getOrElse(0))
    counts.foreach { case (p, n) => sizes(p) = n }
    // offsets(p) = rows in all earlier partitions
    val offsets = sizes.scanLeft(0L)(_ + _)
    tagged
      .withColumn(serialCol, col(tag).bitwiseAND(LocalIdxMask) + 1L +
        coalesce(element_at(typedLit(offsets.toSeq), pid.cast("int") + 1),
          lit(0L)))
      .drop(tag)
  }
}
