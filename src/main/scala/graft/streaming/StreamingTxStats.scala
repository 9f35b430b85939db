package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming per-window tx stats — the windowed-aggregation +
  * watermark half of the reference's §2.9 semantics (the per-block
  * stats of sql.py:238-312, maintained on a stream instead of per-cron
  * batch).
  *
  * Event-time tumbling windows with a late-data watermark: blockchain
  * data is totally ordered so the watermark is a formality in the happy
  * path, but it is exactly what bounds state when the source replays or
  * backfills out of order (the reference's ≤25 000-blocks-per-run guard
  * is the batch version of the same bound).
  */
object StreamingTxStats {

  /** rows: (ts: Timestamp, valid: Boolean, amountUnits: Long). */
  def windowed(txs: DataFrame, window: String = "1 hour",
      lateness: String = "1 day"): DataFrame =
    txs
      .withWatermark("ts", lateness)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window))
      .agg(count(lit(1)).as("txCount"),
        count(when(col("valid"), 1)).as("validCount"),
        sum(when(col("valid"), col("amountUnits"))).as("validUnits"))
      .select(col("window.start").as("windowStart"),
        col("txCount"), col("validCount"), col("validUnits"))
}
