package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.model.LedgerEntry
import graft.streaming.{StreamingBalances, Streams}

/** Structured Streaming path: per-micro-batch stateful balance
  * maintenance must agree with the batch derivation at every step.
  */
class StreamingBalancesSpec extends SparkTestBase {
  import spark.implicits._

  private def entry(addr: String, serial: Long, avail: Long): LedgerEntry =
    LedgerEntry(addr, 31L, "Omni", serial, 0, "sender", avail, 0, 0, 0, 0)

  test("two micro-batches fold into the same state as one batch") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[LedgerEntry]
    val query = Streams.toMemory(
      StreamingBalances.updates(source.toDS()), "bal_test", "update")
    try {
      source.addData(entry(Fixtures.A, 1, 100), entry(Fixtures.B, 2, 40))
      query.processAllAvailable()
      val after1 = spark.table("bal_test").as[graft.model.AddressBalance]
        .collect().map(b => b.address -> b.available).toMap
      assert(after1(Fixtures.A) == 100L && after1(Fixtures.B) == 40L)

      source.addData(entry(Fixtures.A, 3, -30))
      query.processAllAvailable()
      // update mode: take the latest row per key
      val rows = spark.table("bal_test").as[graft.model.AddressBalance]
        .collect().groupBy(_.address)
        .map { case (a, bs) => a -> bs.maxBy(_.lastTxDbSerialNum) }
      assert(rows(Fixtures.A).available == 70L)
      assert(rows(Fixtures.A).lastTxDbSerialNum == 3L)
      assert(rows(Fixtures.B).available == 40L)
    } finally query.stop()
  }
}
