package graft

import java.nio.file.Files
import org.apache.spark.sql.{Dataset, Encoders}
import graft.model.{AddressBalance, LedgerEntry}
import graft.streaming.{StreamingBalances, StreamingSessions, Streams}

/** The PRODUCTION streaming read path: the stateful operators consume
  * parquet file drops through `readStream` with `Trigger.AvailableNow`
  * and a real checkpoint — no MemoryStream, no driver feed. The sink is
  * `foreachBatch` (the checkpoint-recoverable production sink; the
  * memory sink cannot resume). Each test restarts the query over new
  * drops, so three §2.9 contracts are pinned at once: exactly-once file
  * consumption (a re-read would double-count and flip the balance
  * assertions), state-store resume across restarts, and
  * watermark-driven timeout emission.
  */
class FileStreamIntegrationSpec extends SparkTestBase {
  import spark.implicits._

  private def entry(addr: String, serial: Long, avail: Long): LedgerEntry =
    LedgerEntry(addr, 31L, "Omni", serial, 0, "sender", avail, 0, 0, 0, 0)

  private def drain[T](updates: Dataset[T], ckpt: String,
      mode: String): Seq[T] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[T]()
    Streams.availableNow(updates, ckpt, mode)(_.collect().foreach(out.add))
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq
  }

  test("StreamingBalances over parquet drops resumes state across restarts") {
    val data = Files.createTempDirectory("graft_fsb_data").toString
    val ckpt = Files.createTempDirectory("graft_fsb_ckpt").toString
    def runOnce(): Seq[AddressBalance] =
      drain(StreamingBalances.updates(
        spark.readStream
          .schema(Encoders.product[LedgerEntry].schema)
          .parquet(data)
          .as[LedgerEntry]), ckpt, "update")
    // drop 1: two addresses
    Seq(entry(Fixtures.A, 1, 100), entry(Fixtures.B, 2, 40)).toDS()
      .coalesce(1).write.mode("append").parquet(data)
    val after1 = runOnce().map(b => b.address -> b.available).toMap
    assert(after1(Fixtures.A) == 100L && after1(Fixtures.B) == 40L)

    // drop 2, then RESTART: the file-source log must skip the
    // already-committed file (re-reading it would give A = 170, not 70)
    // and the state store must carry A's 100 across the restart
    Seq(entry(Fixtures.A, 3, -30)).toDS()
      .coalesce(1).write.mode("append").parquet(data)
    val after2 = runOnce().map(b => b.address -> b).toMap
    assert(after2(Fixtures.A).available == 70L)
    assert(after2(Fixtures.A).lastTxDbSerialNum == 3L)
    // update cadence: only the touched key is re-emitted
    assert(!after2.contains(Fixtures.B))
  }

  test("StreamingSessions over parquet drops closes sessions by arrival and timeout") {
    import StreamingSessions.{Click, Session}
    val data = Files.createTempDirectory("graft_fss_data").toString
    val ckpt = Files.createTempDirectory("graft_fss_ckpt").toString
    val t0 = 1700000000000L // fixed epoch millis
    def click(uid: Long, eid: Long, offsetMin: Long): Click =
      Click(uid, eid, new java.sql.Timestamp(t0 + offsetMin * 60000L))
    def runOnce(): Seq[Session] =
      drain(StreamingSessions.sessions(
        spark.readStream
          .schema(Encoders.product[Click].schema)
          .parquet(data)
          .as[Click]), ckpt, "append")
    // drop 1: one session of two events (0 min, 10 min) — stays open
    Seq(click(1, 1, 0), click(1, 2, 10)).toDS()
      .coalesce(1).write.mode("append").parquet(data)
    assert(runOnce().isEmpty)

    // drop 2 + restart: an event 120 min later is past the 30-min gap,
    // so the first session closes by ARRIVAL and is emitted exactly once
    Seq(click(1, 3, 120)).toDS()
      .coalesce(1).write.mode("append").parquet(data)
    val s1 = runOnce()
    assert(s1.length == 1)
    assert(s1.head.nEvents == 2L && s1.head.durationSecs == 600L)

    // drop 3 + restart: another user far in the future advances the
    // watermark past session-2's end + gap, so the open session closes
    // by event-time TIMEOUT (state evicted, emitted once)
    Seq(click(2, 4, 360)).toDS()
      .coalesce(1).write.mode("append").parquet(data)
    val s2 = runOnce()
    assert(s2.exists(s => s.userId == 1L && s.nEvents == 1L &&
      s.startUs == (t0 + 120 * 60000L) * 1000L))
  }
}
