package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{StreamingRates, Streams}
import graft.streaming.StreamingRates.RateTick

/** Streaming latest-per-key: out-of-order and duplicate deliveries must
  * never regress the served rate, and the post-batch state must equal
  * the batch latest-per-key (W4) over everything ingested.
  */
class StreamingRatesSpec extends SparkTestBase {
  import spark.implicits._

  private def served(table: String): Map[String, RateTick] =
    spark.table(table).as[RateTick].collect()
      .groupBy(_.symbol)
      .map { case (s, ts) => s -> ts.maxBy(t => (t.ts, t.serial)) }

  test("late and duplicate ticks never regress the latest rate") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[RateTick]
    val query = Streams.toMemory(
      StreamingRates.latest(source.toDS()), "rates_test", "update")
    try {
      source.addData(RateTick("BTC", 100, 1, 500), RateTick("ETH", 100, 2, 30))
      query.processAllAvailable()
      assert(served("rates_test")("BTC").rateMicros == 500)

      // late tick (older ts) + exact duplicate: both absorbed
      source.addData(RateTick("BTC", 50, 3, 999), RateTick("ETH", 100, 2, 30))
      query.processAllAvailable()
      val s2 = served("rates_test")
      assert(s2("BTC").rateMicros == 500, "late tick overwrote newer rate")
      assert(s2("ETH").rateMicros == 30)

      // genuinely newer tick wins; same-ts ties break on serial
      source.addData(RateTick("BTC", 200, 4, 610), RateTick("ETH", 100, 9, 31))
      query.processAllAvailable()
      val s3 = served("rates_test")
      assert(s3("BTC").rateMicros == 610)
      assert(s3("ETH").rateMicros == 31, "same-ts higher-serial lost the tie")
    } finally query.stop()
  }

  test("post-stream state equals the batch latest-per-key over all ticks") {
    implicit val sqlCtx = spark.sqlContext
    val ticks = Seq(
      RateTick("BTC", 100, 1, 500), RateTick("BTC", 300, 2, 650),
      RateTick("BTC", 200, 3, 580), RateTick("ETH", 10, 4, 29),
      RateTick("ETH", 10, 5, 31))
    val source = MemoryStream[RateTick]
    val query = Streams.toMemory(
      StreamingRates.latest(source.toDS()), "rates_eq", "update")
    try {
      ticks.grouped(2).foreach { g =>
        source.addData(g: _*); query.processAllAvailable()
      }
      val streamed = served("rates_eq")
      val batch = ticks.groupBy(_.symbol)
        .map { case (s, ts) => s -> ts.maxBy(t => (t.ts, t.serial)) }
      assert(streamed == batch)
    } finally query.stop()
  }
}
