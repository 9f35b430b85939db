package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{StreamingTxStats, Streams}

class StreamingTxStatsSpec extends SparkTestBase {
  import spark.implicits._

  test("watermarked tumbling-window stats across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Timestamp, Boolean, Long)]
    val df = source.toDF().toDF("ts", "valid", "amountUnits")
    val query = Streams.toMemory(
      StreamingTxStats.windowed(df), "txstats_test", "update")
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    try {
      source.addData((ts(10, 5), true, 100L), (ts(10, 40), false, 50L))
      query.processAllAvailable()
      source.addData((ts(10, 55), true, 25L), (ts(11, 10), true, 7L))
      query.processAllAvailable()
      val rows = spark.table("txstats_test")
        .groupBy($"windowStart")
        .agg(org.apache.spark.sql.functions.max($"txCount").as("txCount"),
          org.apache.spark.sql.functions.max($"validUnits").as("validUnits"))
        .collect()
        .map(r => r.getTimestamp(0).toString -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(rows("2024-01-01 10:00:00.0") == ((3L, 125L)))
      assert(rows("2024-01-01 11:00:00.0") == ((1L, 7L)))
    } finally query.stop()
  }
}
