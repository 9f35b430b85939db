package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming exact deduplication — the streaming counterpart of
  * `dedup_exact` (and of the reference's duplicate-flag scan): drop
  * re-deliveries of the same content as documents arrive, instead of a
  * batch groupBy after the fact.
  *
  * `dropDuplicatesWithinWatermark` keys state by the 128-bit content
  * hash and — unlike plain `dropDuplicates`, whose state grows forever —
  * evicts each key once the event-time watermark passes it, so state is
  * bounded by (arrival rate × lateness horizon) regardless of total
  * stream volume. That is the only shape that survives an unbounded
  * 100 TB ingest: dedup state scales with the time window, not with
  * history. Exactly-once within the horizon; duplicates farther apart
  * than the horizon are left to the batch LSH/cluster pass.
  */
object StreamingDedup {

  /** rows: (ts: Timestamp, docId: Long, text: String). Emits the
    * first-seen row per normalized content hash within the lateness
    * horizon.
    */
  def deduped(docs: DataFrame, lateness: String = "1 hour"): DataFrame =
    docs
      .withColumn("contentHash", md5(trim(lower(col("text")))))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("contentHash")
}
