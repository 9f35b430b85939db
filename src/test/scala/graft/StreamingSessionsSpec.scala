package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{StreamingSessions, Streams}
import graft.streaming.StreamingSessions.Click

/** Streaming sessionization: sessions close on inactivity gaps and are
  * emitted exactly once, matching the batch sessionizer's (w8) gap
  * semantics.
  */
class StreamingSessionsSpec extends SparkTestBase {
  import spark.implicits._

  private val T0 = 1700000000000L // epoch ms
  private def click(uid: Long, eid: Long, offsetMin: Long): Click =
    Click(uid, eid, new java.sql.Timestamp(T0 + offsetMin * 60000L))

  test("a gap past 30min closes the open session and starts a new one") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Click]
    val query = Streams.toMemory(
      StreamingSessions.sessions(source.toDS()), "sess_test", "append")
    try {
      // batch 1: u1 two events 10min apart (one session), u2 one event
      source.addData(click(1, 1, 0), click(1, 2, 10), click(2, 3, 5))
      query.processAllAvailable()
      assert(spark.table("sess_test").count() == 0) // nothing closed yet

      // batch 2: u1 comes back 50min after its last event → session 1
      // closes (2 events, 600s) and a new one opens
      source.addData(click(1, 4, 60))
      query.processAllAvailable()
      val closed = spark.table("sess_test")
        .as[StreamingSessions.Session].collect()
      assert(closed.length == 1)
      assert(closed.head.userId == 1 && closed.head.nEvents == 2 &&
        closed.head.durationSecs == 600)

      // batch 3: advance the watermark far past everything → u2's idle
      // session and u1's reopened session evict via event-time timeout
      source.addData(click(99, 5, 600))
      query.processAllAvailable()
      source.addData(click(99, 6, 601))
      query.processAllAvailable()
      val all = spark.table("sess_test")
        .as[StreamingSessions.Session].collect()
      val byUser = all.groupBy(_.userId)
      assert(byUser(2L).head.nEvents == 1)
      assert(byUser(1L).map(_.nEvents).sorted.toSeq == Seq(1L, 2L))
    } finally query.stop()
  }

  test("a late event inside the gap extends the open session's START downward") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Click]
    val query = Streams.toMemory(
      StreamingSessions.sessions(source.toDS()), "sess_late", "append")
    try {
      source.addData(click(7, 1, 100)) // open session [100, 100]
      query.processAllAvailable()
      // late event at 80min — within the 30min gap of startUs: merge
      source.addData(click(7, 2, 80))
      query.processAllAvailable()
      // close by gap: next event 40+min after endUs
      source.addData(click(7, 3, 200))
      query.processAllAvailable()
      val closed = spark.table("sess_late")
        .as[StreamingSessions.Session].collect()
      assert(closed.length == 1)
      // the session spans [80, 100] — late merge lowered the start
      assert(closed.head.nEvents == 2 && closed.head.durationSecs == 1200)
    } finally query.stop()
  }
}
