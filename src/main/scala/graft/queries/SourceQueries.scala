package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables.t

/** Source/sink operators — SURVEY.md §2.1. The reference's RPC/HTTP
  * fetches are driver-side concerns; what the ENGINE owns is schema'd
  * semi-structured parsing (S2/S3: raw tx JSON → typed columns) and
  * file-format round-trips (S7 CSV source / S9 CSV sink).
  */
object SourceQueries {

  /** Filesystem-safe tag from the Spark application id: stable within
    * a session (re-runs overwrite, nothing accumulates per run) and
    * unique across CONCURRENT sessions, so two Bench/Verify processes
    * on one box cannot race on a shared sink path or table name.
    */
  private def appTag(s: org.apache.spark.sql.SparkSession): String =
    s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(); ()
  }

  /** Best-effort removal of PAST sessions' leftovers (same prefix,
    * different tag, untouched for 6+ hours — a live concurrent session
    * is by definition younger), bounding disk growth across rounds.
    */
  private def cleanStaleSiblings(parent: java.io.File, prefix: String,
      keep: String): Unit = {
    val cutoff = System.currentTimeMillis() - 6L * 3600 * 1000
    Option(parent.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.getName.startsWith(prefix) && f.getName != keep &&
          f.lastModified() < cutoff)
        try rm(f) catch { case _: Throwable => () }
    }
  }

  /** S2/S3 — schema'd JSON parsing: from_json with an explicit schema
    * (the engine's contract for raw payloads), vs the oracle's JSON-path
    * extraction. At scale this replaces per-row RPC decode: one codegen'd
    * JacksonParser pass.
    */
  val jsonSchema = Q(
    "s2_json_schema_parse",
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .select(col("event_id"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k").as("k"))
      .orderBy("event_id")
  }

  /** S7/S9 — CSV sink + source round-trip: write a dimension to CSV
    * (header, explicit schema on re-read — never inferSchema in
    * production paths), read it back, aggregate. Oracle computes the
    * same aggregate straight from parquet: proves the round-trip is
    * lossless.
    */
  val csvRoundtrip = Q(
    "s7_csv_roundtrip",
    """SELECT n_regionkey, count(*) AS n_nations,
      |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum
      |FROM nation GROUP BY 1 ORDER BY n_regionkey""".stripMargin) { (s, dir) =>
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_csv").toString
    t(s, dir, "nation").write.mode("overwrite")
      .option("header", "true").csv(tmp)
    s.read
      .schema(StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))))
      .option("header", "true").csv(tmp)
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n_nations"),
        sum(col("n_nationkey").cast(LongType)).cast(LongType).as("key_sum"))
      .orderBy("n_regionkey")
  }

  /** S10 — hive-partitioned parquet sink + partition-pruned source: the
    * layout that matters most at 100 TB. Write events partitioned by
    * event_type, read back ONE partition — the filter binds to the
    * directory layout, so Spark lists and scans only that partition's
    * files (PlanSpec asserts PartitionFilters carries the predicate and
    * the scan reads zero data-file columns for it). The oracle filters
    * the original parquet: proves pruning loses nothing.
    */
  val partitionedWrite = Q(
    "s10_partitioned_prune",
    """SELECT user_id, count(*) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
    // app-scoped path + overwrite, NOT a fresh temp dir per invocation
    // — re-runs within a session overwrite in place, concurrent
    // sessions get disjoint paths, and stale past-session copies are
    // swept so the events-table copies can't accumulate until the disk
    // fills
    val dirName = s"graft_part_events_${appTag(s)}"
    cleanStaleSiblings(new java.io.File(sys.props("java.io.tmpdir")),
      "graft_part_events_", dirName)
    val tmp = new java.io.File(sys.props("java.io.tmpdir"), dirName).toString
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"),
        col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
    s.read.parquet(tmp)
      .where(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast(LongType)).cast(LongType)
          .as("cents"))
      .orderBy("user_id")
  }

  /** S11 — bucketed catalog tables: both facts written `bucketBy` the
    * join key, re-read from the catalog, joined and aggregated. The
    * VALUE contract is this gate; the PLAN contract — the join runs
    * with NO exchange on either bucketed side — is `BucketingSpec`
    * (broadcast must be disabled to see it at test scale, which is a
    * session-level knob the shared Verify session must not flip).
    * At 100 TB this is how the fact⋈fact serial joins (J1/J5) avoid
    * re-shuffling petabytes per query: pay the shuffle once at write.
    */
  val bucketedTable = Q(
    "s11_bucketed_table",
    """SELECT o_orderstatus, count(*) AS n,
      |  CAST(sum(CAST(round(l_quantity * 10000) AS BIGINT)) AS BIGINT) AS qty_units
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    // App-scoped table names: DROP covers re-runs within one session;
    // deleting the on-disk location covers a FRESH session whose
    // in-memory catalog has forgotten the table but whose warehouse
    // directory survives — saveAsTable refuses to create over a
    // leftover path (LOCATION_ALREADY_EXISTS) otherwise — and stale
    // past-session table dirs are swept.
    val wh = new java.io.File(
      new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath)
    val (liT, orT) = (s"g_li_bucketed_${appTag(s)}", s"g_or_bucketed_${appTag(s)}")
    Seq(("g_li_bucketed_", liT), ("g_or_bucketed_", orT)).foreach {
      case (prefix, n) =>
        s.sql(s"DROP TABLE IF EXISTS $n")
        rm(new java.io.File(wh, n))
        cleanStaleSiblings(wh, prefix, n)
    }
    t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable(liT)
    t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable(orT)
    s.table(liT)
      .join(s.table(orT),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(round(col("l_quantity") * 10000).cast(LongType)).cast(LongType)
          .as("qty_units"))
      .orderBy("o_orderstatus")
  }

  /** S8 — the per-block atomic sink as a GATE: facts flow through
    * [[graft.sinks.BlockRangeSink]] (one journaled commit per write that
    * replaces exactly the ranges the batch holds, the reference's
    * per-block Postgres transaction omniEngine.py:210 re-expressed for
    * object storage), a tail batch is deliberately RE-RUN (the
    * crashed-batch re-run — must add nothing), partitions are
    * compacted, and the read-back content is
    * checked against a relational oracle over the same facts. The
    * n_files column pins the compaction invariant — exactly one file
    * per partition at an unbounded byte target — so a sink that
    * duplicates on re-run or a compaction that loses/doubles rows fails
    * the hash.
    */
  val sinkRoundtrip = Q(
    "s8_sink_roundtrip",
    """SELECT CAST(event_id // 1000 AS BIGINT) AS block_range,
      |  count(*) AS n_rows,
      |  count(DISTINCT event_id) AS n_blocks,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(1 AS BIGINT) AS n_files
      |FROM events GROUP BY 1 ORDER BY block_range""".stripMargin) { (s, dir) =>
    import s.implicits._
    import graft.sinks.BlockRangeSink
    val dirName = s"graft_s8_sink_${appTag(s)}"
    cleanStaleSiblings(new java.io.File(sys.props("java.io.tmpdir")),
      "graft_s8_sink_", dirName)
    val path = new java.io.File(sys.props("java.io.tmpdir"), dirName).toString
    val facts = t(s, dir, "events")
      .select($"event_id".as("block"), $"user_id",
        round($"value" * 100).cast(LongType).as("cents"))
    BlockRangeSink.write(facts, path)
    // crashed-batch recovery: re-run the batch owning the watermark's
    // range — the write replaces that range whole, adding nothing
    val wm = BlockRangeSink.watermark(s, path)
    BlockRangeSink.write(
      facts.where(expr(s"block div ${BlockRangeSink.RangeSize}")
        === wm / BlockRangeSink.RangeSize), path)
    // unbounded byte target -> every multi-file partition compacts to 1
    BlockRangeSink.compact(s, path, targetBytes = Long.MaxValue)
    val files = BlockRangeSink.stats(path)
      .map(st => (st.blockRange, st.nFiles.toLong))
      .toDF("block_range", "n_files") // metadata-scale: one row/partition
    BlockRangeSink.read(s, path)
      .groupBy(col("blockRange").cast(LongType).as("block_range"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"block").as("n_blocks"),
        sum($"cents").cast(LongType).as("sum_cents"))
      .join(broadcast(files), Seq("block_range"))
      .select($"block_range", $"n_rows", $"n_blocks", $"sum_cents",
        $"n_files")
      .orderBy("block_range")
  }

  val all: Seq[Q] =
    Seq(jsonSchema, csvRoundtrip, partitionedWrite, bucketedTable,
      sinkRoundtrip)
}
