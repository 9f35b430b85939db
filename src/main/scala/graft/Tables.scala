package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * At 100 TB these would be partitioned/bucketed catalog tables; the
  * loader is the single seam where that swap happens — every query goes
  * through [[Tables.t]] so a future `spark.table(name)` (catalog-backed,
  * partition-pruned) changes one line, not fifty queries.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one table from an sf directory.
    *
    * `events.ts` is parquet TIMESTAMP(NANOS), which Spark 4 refuses to
    * read as a timestamp; read it as raw nanos and floor-truncate to
    * micros — exactly what DuckDB (microsecond timestamps) does, so both
    * engines see identical values.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // ScaleGen-produced events already carry a real micros timestamp;
    // only the driver's TIMESTAMP(NANOS)-as-long form needs converting.
    val nanosFixed =
      if (name == "events" &&
          df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts div 1000)"))
      else df
    // Driver parquet written without isAdjustedToUTC reads back as
    // TIMESTAMP_NTZ on Spark 4; every consumer (and the DuckDB oracle,
    // whose naive timestamps ARE the UTC instants here) expects plain
    // TIMESTAMP. Session tz is pinned to UTC at every entry point, so
    // the cast is value-preserving.
    nanosFixed.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        f.name
    }.foldLeft(nanosFixed) { (d, c) =>
      d.withColumn(c, d.col(c).cast(org.apache.spark.sql.types.TimestampType))
    }
  }
}
