package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import graft.sinks.BlockRangeSink

/** S8 — idempotent per-range commit, watermark resume, reorg truncate. */
class BlockRangeSinkSpec extends SparkTestBase {
  import spark.implicits._

  test("partition overwrite is idempotent; watermark resumes; truncate reorgs") {
    val dir = Files.createTempDirectory("graft_sink").toString
    assert(BlockRangeSink.watermark(spark, dir) == -1L)

    val batch1 = (1L to 1500L).map(b => (b, s"tx$b")).toDF("block", "txid")
    BlockRangeSink.write(batch1, dir)
    assert(BlockRangeSink.watermark(spark, dir) == 1500L)
    assert(BlockRangeSink.read(spark, dir).count() == 1500L)

    // re-run of the tail range (simulating a failed batch retry) — only
    // partition blockRange=1 is rewritten; no duplication
    val retry = (1000L to 1500L).map(b => (b, s"tx$b")).toDF("block", "txid")
    BlockRangeSink.write(retry, dir)
    assert(BlockRangeSink.read(spark, dir).count() == 1500L)
    // range 0 (blocks 1..999) untouched by the dynamic overwrite
    assert(BlockRangeSink.read(spark, dir)
      .where($"blockRange" === 0L).count() == 999L)

    assert(BlockRangeSink.truncateTo(spark, dir, 1200L).count() == 1200L)
  }

  test("dropAbove physically truncates the tail: partition dirs removed, " +
      "straddling range rewritten, watermark falls back, idempotent") {
    val dir = Files.createTempDirectory("graft_sink_reorg").toString
    val batch = (1L to 3500L).map(b => (b, s"tx$b")).toDF("block", "txid")
    BlockRangeSink.write(batch, dir)
    assert(BlockRangeSink.stats(dir).map(_.blockRange) == Seq(0L, 1L, 2L, 3L))

    // fork mid-range-1: range 1 is rewritten (keep 1000..1200), ranges
    // 2..3 are DIRECTORY deletes — the tail-only property
    BlockRangeSink.dropAbove(spark, dir, 1200L)
    assert(BlockRangeSink.stats(dir).map(_.blockRange) == Seq(0L, 1L))
    assert(BlockRangeSink.watermark(spark, dir) == 1200L)
    assert(BlockRangeSink.read(spark, dir).count() == 1200L)
    // range 0 content untouched
    assert(BlockRangeSink.read(spark, dir)
      .where($"blockRange" === 0L).count() == 999L)

    // idempotent: a crashed rollback re-runs safely
    BlockRangeSink.dropAbove(spark, dir, 1200L)
    assert(BlockRangeSink.watermark(spark, dir) == 1200L)
    assert(BlockRangeSink.read(spark, dir).count() == 1200L)

    // the winning branch re-syncs through the ordinary ingest gate —
    // NOT raw write(): the branch straddles the kept partition (range 1
    // holds 1000..1200), and a direct dynamic-overwrite write would
    // clobber those kept rows; ingestFrame's affected-range union is
    // the contract that preserves them
    val branch = (1201L to 2100L).map(b => (b, s"alt$b")).toDF("block", "txid")
    assert(graft.streaming.IncrementalIngest.ingestFrame(
      spark, branch, dir) == 900L)
    assert(BlockRangeSink.watermark(spark, dir) == 2100L)
    assert(BlockRangeSink.read(spark, dir).count() == 2100L)
    val tail = BlockRangeSink.read(spark, dir)
      .where($"block" > 1200L).select($"txid").as[String].collect()
    assert(tail.length == 900 && tail.forall(_.startsWith("alt")))
    // the kept below-fork slice of the straddling partition survived
    assert(BlockRangeSink.read(spark, dir)
      .where($"block".between(1000L, 1200L)).count() == 201L)

    // fork wholly below a partition's rows → plain directory drop of
    // that partition too (no empty-overwrite residue)
    BlockRangeSink.dropAbove(spark, dir, 999L)
    assert(BlockRangeSink.stats(dir).map(_.blockRange) == Seq(0L))
    assert(BlockRangeSink.watermark(spark, dir) == 999L)
  }

  test("single-writer lock: a concurrent second mutator fails loudly; " +
      "forceUnlock recovers a crashed holder; readers ignore the lock") {
    val dir = Files.createTempDirectory("graft_sink_lock").toString
    val batch = (1L to 1500L).map(b => (b, s"tx$b")).toDF("block", "txid")
    BlockRangeSink.write(batch, dir) // lock taken and released internally

    // simulate an in-flight writer (or a crashed one): the lock file
    // exists at the table root
    val lock = new java.io.File(dir, BlockRangeSink.LockName)
    assert(lock.createNewFile(), "test could not plant the lock")
    intercept[IllegalStateException] {
      BlockRangeSink.write(batch, dir)
    }
    intercept[IllegalStateException] {
      BlockRangeSink.compact(spark, dir)
    }
    intercept[IllegalStateException] {
      BlockRangeSink.dropAbove(spark, dir, 1200L)
    }
    // readers are unaffected: leading-underscore names are invisible to
    // Spark's file index, and the metadata probes filter on blockRange=
    assert(BlockRangeSink.read(spark, dir).count() == 1500L)
    assert(BlockRangeSink.watermark(spark, dir) == 1500L)
    assert(BlockRangeSink.stats(dir).map(_.blockRange) == Seq(0L, 1L))

    // crashed-holder recovery is explicit, then mutation proceeds
    assert(BlockRangeSink.forceUnlock(dir))
    BlockRangeSink.dropAbove(spark, dir, 1200L)
    assert(BlockRangeSink.watermark(spark, dir) == 1200L)
    // the lock does not outlive the mutation
    assert(!lock.exists())
  }

  test("watermark is metadata-bounded: max range from the FS listing, " +
      "data probe reads ONLY the max partition's files") {
    val dir = Files.createTempDirectory("graft_sink_wm").toString
    // 4 files per partition so "pruned" and "whole table" differ by
    // file COUNT, the metric the scan reports
    val batch = (1L to 3500L).map(b => (b, s"tx$b")).toDF("block", "txid")
      .repartition(4)
    BlockRangeSink.write(batch, dir)
    val st = BlockRangeSink.stats(dir)
    val maxRange = st.map(_.blockRange).max
    val tailFiles = st.find(_.blockRange == maxRange).get.nFiles
    val totalFiles = st.map(_.nFiles).sum
    assert(maxRange == 3L && totalFiles > tailFiles,
      s"fixture not partitioned as expected: $st")
    // AQE wraps the executed plan in adaptive stages; the probe is a
    // single pruned scan + agg that AQE cannot improve, so turn it off
    // for plan introspection only
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probe = BlockRangeSink.tailMaxProbe(spark, dir, maxRange, "block")
      // collect(), not head(): head() executes a separate limit-1
      // QueryExecution, leaving THIS dataset's plan (whose metrics we
      // read below) unexecuted
      assert(probe.collect().head.getLong(0) == 3500L)
      val scanned = probe.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }
      assert(scanned.sum == tailFiles,
        s"tail probe read ${scanned.sum} files; the max partition holds " +
          s"$tailFiles of $totalFiles — partition pruning regressed")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    // end-to-end: watermark agrees, and an empty root still answers -1
    assert(BlockRangeSink.watermark(spark, dir) == 3500L)
    val empty = Files.createTempDirectory("graft_sink_wm_empty").toString
    assert(BlockRangeSink.watermark(spark, empty) == -1L)
  }

  test("writer-lock race on a non-atomic-create store: both creators " +
      "stamp, exactly one survives the read-back, loser never deletes") {
    val dir = Files.createTempDirectory("graft_sink_race").toString
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(root, BlockRangeSink.LockName)
    // Simulate the S3A/RawLocal double-grant: BOTH creators' non-atomic
    // create "succeeds" (overwrite=true emulates the interleaving where
    // each passed the existence check), last writer's stamp lands
    BlockRangeSink.stampLock(fs, lock, "creatorA", overwrite = true)
    BlockRangeSink.stampLock(fs, lock, "creatorB", overwrite = true)
    // creatorA reads back creatorB's stamp → loses LOUDLY, naming both
    val e = intercept[IllegalStateException] {
      BlockRangeSink.verifyLockOwner(fs, lock, "creatorA")
    }
    assert(e.getMessage.contains("creatorA") &&
      e.getMessage.contains("creatorB"))
    // the loser's failure path must NOT have removed the winner's lock
    assert(BlockRangeSink.lockOwner(dir).contains("creatorB"))
    // creatorB is the single winner and proceeds
    BlockRangeSink.verifyLockOwner(fs, lock, "creatorB")
    // a third mutator arriving now fails up front and the error names
    // the current owner (the operator-visibility half of the stamp)
    val held = intercept[IllegalStateException] {
      BlockRangeSink.write(
        Seq((1L, "tx1")).toDF("block", "txid"), dir)
    }
    assert(held.getMessage.contains("creatorB"))
    assert(BlockRangeSink.forceUnlock(dir))
    assert(BlockRangeSink.lockOwner(dir).isEmpty)
    // after recovery a real mutation stamps its own owner and releases
    BlockRangeSink.write(Seq((1L, "tx1")).toDF("block", "txid"), dir)
    assert(BlockRangeSink.lockOwner(dir).isEmpty)
    assert(BlockRangeSink.watermark(spark, dir) == 1L)
  }

  test("compaction merges small files, preserves data, and is idempotent") {
    val dir = Files.createTempDirectory("graft_sink_compact").toString
    // 8 writer tasks per range → 8 small files per partition, the
    // incremental-commit fragmentation pattern
    val batch = (1L to 2000L).map(b => (b, s"tx$b")).toDF("block", "txid")
      .repartition(8)
    BlockRangeSink.write(batch, dir)
    val before = BlockRangeSink.stats(dir)
    // full ranges fragment into 8 files; the tail range holds a single
    // block and may produce fewer
    assert(before.count(_.nFiles == 8) >= 2, s"stats: $before")

    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val compacted = BlockRangeSink.compact(spark, dir)
    assert(compacted.toSet ==
      before.filter(_.nFiles > 1).map(_.blockRange).toSet)
    val after = BlockRangeSink.stats(dir)
    assert(after.forall(_.nFiles == 1),
      s"files per range after compact: ${after.map(_.nFiles)}")
    // byte-level content unchanged
    val rows = BlockRangeSink.read(spark, dir)
      .select($"block", $"txid").as[(Long, String)].collect().sorted
    assert(rows.length == 2000 && rows.head == (1L, "tx1") &&
      rows.last == (2000L, "tx2000"))
    assert(BlockRangeSink.watermark(spark, dir) == 2000L)
    // already-compacted table: nothing to do
    assert(BlockRangeSink.compact(spark, dir).isEmpty)
    // compaction released its own snapshots (shared test session may
    // hold other suites' blocks, so compare against the baseline)
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore)
  }

  test("stats costs ONE client listing call, independent of partition " +
      "count, and matches the per-dir answer (counting-FS double)") {
    val dir4 = Files.createTempDirectory("graft_sink_cnt4").toString
    BlockRangeSink.write(
      (1L to 3500L).map(b => (b, s"tx$b")).toDF("block", "txid"), dir4)
    val dir12 = Files.createTempDirectory("graft_sink_cnt12").toString
    BlockRangeSink.write(
      (1L to 11500L).map(b => (b, s"tx$b")).toDF("block", "txid"), dir12)
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFileSystem].getName)
    def counted(dir: String) = {
      CountingFileSystem.reset()
      val st = BlockRangeSink.stats(s"countfs://$dir")
      (st, CountingFileSystem.calls.get())
    }
    val (st4, c4) = counted(dir4)
    val (st12, c12) = counted(dir12)
    // identical RangeStats to the plain-path answer on both fixtures
    assert(st4 == BlockRangeSink.stats(dir4))
    assert(st12 == BlockRangeSink.stats(dir12))
    assert(st4.map(_.blockRange) == (0L to 3L) &&
      st12.map(_.blockRange) == (0L to 11L))
    // THE property: one listing at 4 partitions, one at 12 — the cost
    // is flat in partition count (the old per-dir loop was 1 + P calls)
    assert(c4 == 1, s"stats(4 partitions) made $c4 listing calls")
    assert(c12 == 1, s"stats(12 partitions) made $c12 listing calls")
    // watermark through the same scheme answers identically (its stats
    // leg is the same single listing; the tail probe is a pruned read)
    assert(BlockRangeSink.watermark(spark, s"countfs://$dir12") ==
      BlockRangeSink.watermark(spark, dir12))
  }

  test("dropAbove cost is flat in range count: same listing calls at 4 " +
      "and 12 ranges, and the fork read scans only the fork range's files") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFileSystem].getName)
    // every writer task holds rows of every range, so each range of
    // BOTH fixtures has the same files — the fork range, and the
    // rewrite it triggers, are identical; only the range count differs
    def fixture(n: Long): String = {
      val dir = Files.createTempDirectory(s"graft_sink_drop$n").toString
      BlockRangeSink.write((1L to n).map(b => (b, s"tx$b"))
        .toDF("block", "txid").repartition(3, $"block" % 3), dir)
      dir
    }
    val dir4 = fixture(3999L)
    val dir12 = fixture(11999L)
    assert(BlockRangeSink.stats(dir4).map(_.blockRange) == (0L to 3L) &&
      BlockRangeSink.stats(dir12).map(_.blockRange) == (0L to 11L))

    val st = BlockRangeSink.stats(dir12)
    val forkFiles = st.find(_.blockRange == 1L).get.nFiles
    assert(st.map(_.nFiles).sum > forkFiles)
    // AQE off for plan introspection, as in the tail-probe pin above
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val split = BlockRangeSink.forkSplit(
        BlockRangeSink.rangeRows(spark, dir12, 1L), 1200L, "block")
      // 1201..1999 above the fork, 1000..1200 kept
      assert(split.collect().toSeq == Seq(Row(799L, 201L)))
      val scanned = split.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
      assert(scanned == forkFiles,
        s"fork read scanned $scanned files; the fork range holds $forkFiles")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)

    def rollback(dir: String): Int = {
      CountingFileSystem.reset()
      BlockRangeSink.dropAbove(spark, s"countfs://$dir", 1200L)
      CountingFileSystem.calls.get()
    }
    val c4 = rollback(dir4)
    val c12 = rollback(dir12)
    assert(c4 == c12,
      s"dropAbove listing calls grew with range count: 4 ranges $c4, 12 ranges $c12")
    Seq(dir4, dir12).foreach { dir =>
      assert(BlockRangeSink.stats(dir).map(_.blockRange) == Seq(0L, 1L))
      assert(BlockRangeSink.watermark(spark, dir) == 1200L)
      assert(BlockRangeSink.read(spark, dir).count() == 1200L)
    }
  }

  test("footer watermark equals the scan (INT64, INT32, multi-file tail); " +
      "no-statistics and null-block tails fall back to the scan") {
    def check(dir: String, expected: Long, fromFooter: Boolean): Unit = {
      val tail = BlockRangeSink.stats(dir).map(_.blockRange).max
      val probe = BlockRangeSink.tailMaxProbe(spark, dir, tail, "block")
        .head().getLong(0)
      assert(probe == expected)
      assert(BlockRangeSink.watermark(spark, dir) == probe)
      assert(BlockRangeSink.footerMax(dir, tail, "block").isDefined ==
        fromFooter, s"footer answer expected=$fromFooter for $dir")
    }
    def table(name: String) =
      Files.createTempDirectory(s"graft_sink_footer_$name").toString

    val i64 = table("i64")
    BlockRangeSink.write((1L to 3500L).map(b => (b, s"tx$b"))
      .toDF("block", "txid").repartition(4), i64)
    assert(BlockRangeSink.stats(i64).last.nFiles > 1, "tail not multi-file")
    check(i64, 3500L, fromFooter = true)

    val i32 = table("i32")
    BlockRangeSink.write((1 to 2500).map(b => (b, s"tx$b"))
      .toDF("block", "txid"), i32)
    check(i32, 2500L, fromFooter = true)

    // tail ranges written straight into their directory, so the write
    // can carry its own parquet settings (and a null block, which the
    // partitioned write would route to a non-numeric range)
    def withTail(name: String, tail: DataFrame,
        opts: Map[String, String] = Map.empty): String = {
      val dir = table(name)
      BlockRangeSink.write((1L to 1999L).map(b => (b, s"tx$b"))
        .toDF("block", "txid"), dir)
      tail.write.options(opts).parquet(s"$dir/blockRange=2")
      dir
    }
    val noStats = withTail("nostats",
      Seq((2001L, "a"), (2777L, "b"), (2100L, "c")).toDF("block", "txid"),
      Map("parquet.column.statistics.enabled" -> "false"))
    check(noStats, 2777L, fromFooter = false)

    val nullBlock = withTail("null",
      Seq((Some(2001L), "a"), (None, "b"), (Some(2500L), "c"))
        .toDF("block", "txid"))
    check(nullBlock, 2500L, fromFooter = false)
  }

  test("compact fails loudly when a flagged range stages no rows, and " +
      "leaves the live table untouched") {
    val dir = Files.createTempDirectory("graft_sink_compact_empty").toString
    BlockRangeSink.write((1L to 1500L).map(b => (b, s"tx$b"))
      .toDF("block", "txid"), dir)
    // range 5 holds three zero-row files: flagged (3 files where its
    // bytes justify 1) but the compaction read has no row to stage
    val empty = Seq.empty[(Long, String)].toDF("block", "txid")
    (1 to 3).foreach(_ =>
      empty.write.mode("append").parquet(s"$dir/blockRange=5"))
    val before = BlockRangeSink.stats(dir)
    assert(before.find(_.blockRange == 5L).map(_.nFiles).contains(3),
      s"fixture: $before")
    val e = intercept[IllegalStateException](BlockRangeSink.compact(spark, dir))
    assert(e.getMessage.contains("flagged ranges 5 staged no rows"),
      e.getMessage)
    // nothing swapped, lock released, rows intact
    assert(BlockRangeSink.stats(dir) == before)
    assert(BlockRangeSink.lockOwner(dir).isEmpty)
    assert(BlockRangeSink.read(spark, dir).count() == 1500L)
    // the orphan stage is swept by the next recovery
    BlockRangeSink.recoverTable(dir)
    assert(!new java.io.File(dir, BlockRangeSink.PendingDirName).exists())
  }
}
