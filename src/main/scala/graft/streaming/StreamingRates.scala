package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Streaming latest-per-key — W4's streaming twin (the reference polls
  * price sources on a cron and upserts the latest rate per symbol,
  * updatePrices.py:67-68; here the rate FEED is the stream and the
  * "table" is per-key state).
  *
  * Unlike the balance fold (which SUMS), latest-per-key is an argmax:
  * state keeps the (ts, serial)-max observation per symbol, so
  * out-of-order and duplicate deliveries are absorbed — a late rate
  * never overwrites a newer one, re-delivery is idempotent. Emitted
  * rows are the current latest per touched key (update mode), i.e. the
  * serving view after every micro-batch equals the batch W4 query over
  * everything ingested so far.
  */
object StreamingRates {

  final case class RateTick(symbol: String, ts: Long, serial: Long,
      rateMicros: Long)

  def latest(ticks: Dataset[RateTick]): Dataset[RateTick] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    ticks
      .groupByKey(_.symbol)
      .mapGroupsWithState[RateTick, RateTick](GroupStateTimeout.NoTimeout) {
        case (_, batch, state: GroupState[RateTick]) =>
          val candidates = state.getOption.iterator ++ batch
          val best = candidates.maxBy(t => (t.ts, t.serial))
          state.update(best)
          best
      }
  }
}
