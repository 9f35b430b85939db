package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{StreamingDedup, Streams}

class StreamingDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(h: Int, m: Int) =
    Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  test("re-deliveries within the watermark horizon are dropped, first row wins") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Timestamp, Long, String)]
    val df = source.toDF().toDF("ts", "docId", "text")
    val query = Streams.toMemory(
      StreamingDedup.deduped(df), "dedup_test", "append")
    try {
      source.addData((ts(10, 0), 1L, "Alpha Beta"), (ts(10, 1), 2L, "gamma"))
      query.processAllAvailable()
      // same content, different id / case / padding → duplicates
      source.addData((ts(10, 5), 3L, "  alpha beta "), (ts(10, 6), 4L, "delta"))
      query.processAllAvailable()
      val got = spark.table("dedup_test").select("docId").as[Long]
        .collect().toSet
      assert(got === Set(1L, 2L, 4L))
    } finally query.stop()
  }

  test("content recurring after the horizon is admitted again (state evicted)") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Timestamp, Long, String)]
    val df = source.toDF().toDF("ts", "docId", "text")
    val query = Streams.toMemory(
      StreamingDedup.deduped(df), "dedup_evict_test", "append")
    try {
      source.addData((ts(10, 0), 1L, "alpha"))
      query.processAllAvailable()
      // advance the watermark far past 10:00 + 1h horizon
      source.addData((ts(13, 0), 2L, "filler"))
      query.processAllAvailable()
      // same content again, two hours after first sight → re-admitted
      source.addData((ts(13, 30), 3L, "alpha"))
      query.processAllAvailable()
      val got = spark.table("dedup_evict_test").select("docId").as[Long]
        .collect().toSet
      assert(got === Set(1L, 2L, 3L))
    } finally query.stop()
  }
}
