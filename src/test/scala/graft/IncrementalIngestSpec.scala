package graft

import java.nio.file.Files
import graft.Fixtures._
import graft.streaming.IncrementalIngest

/** End-to-end incremental lifecycle: two overlapping ingest cycles must
  * produce the same facts and derived state as one-shot ingest; re-runs
  * are idempotent; raw JSON round-trips the RawTx schema.
  */
class IncrementalIngestSpec extends SparkTestBase {
  import spark.implicits._

  test("resume from watermark, tail-range rewrite, derived state equal to one-shot") {
    val factsDir = Files.createTempDirectory("graft_facts").toString
    val chain = Seq(
      grant(A, A, BigDecimal("100"), block = 1),
      simpleSend(A, B, BigDecimal("10"), block = 2),
      simpleSend(B, C, BigDecimal("3"), block = 3),
      simpleSend(A, C, BigDecimal("1"), block = 4),
      simpleSend(C, D, BigDecimal("2"), block = 5))

    // cycle 1: blocks 1-3
    val n1 = IncrementalIngest.ingest(spark,
      spark.createDataset(chain.filter(_.block <= 3)), factsDir)
    assert(n1 == 3L)
    // cycle 2: node returns an OVERLAPPING view (blocks 1-5); only new
    // blocks are admitted
    val n2 = IncrementalIngest.ingest(spark,
      spark.createDataset(chain), factsDir)
    assert(n2 == 2L)
    // re-run of the same cycle: nothing new, nothing duplicated
    assert(IncrementalIngest.ingest(spark,
      spark.createDataset(chain), factsDir) == 0L)
    assert(IncrementalIngest.readFacts(spark, factsDir).count() == 5L)

    val incremental =
      try IncrementalIngest.derive(spark, factsDir)
        .balances.collect()
        .map(b => (b.address, b.propertyId) -> b.available).toMap
      finally IncrementalIngest.release()
    val oneShot = graft.operators.OmniPipeline
      .derive(spark.createDataset(chain), 5)
      .balances.collect()
      .map(b => (b.address, b.propertyId) -> b.available).toMap
    assert(incremental == oneShot)
    assert(incremental((D, 31L)) == 200000000L)
  }

  test("warm derive after a tail-only ingest scans only the changed " +
      "range's files and lists the store once, at any range count") {
    import graft.sinks.BlockRangeSink
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFileSystem].getName)
    object Plans extends AdaptiveSparkPlanHelper
    // (files the derive scanned, files of the ranges the tail ingest
    // changed, list calls of the derive) on a store of `n` ranges
    def run(n: Int): (Long, Long, Int) = {
      val dir = "countfs://" +
        Files.createTempDirectory(s"graft_derive_scope$n").toString
      val history = grant(A, A, BigDecimal("1000"), block = 1) +:
        (1 until n * 4).map(i => simpleSend(A, B, BigDecimal(i),
          block = i * 250L))
      try {
        IncrementalIngest.ingest(spark, spark.createDataset(history), dir)
        IncrementalIngest.derive(spark, dir) // warm: pins ranges 0..n-2
        CacheScope.release()
        val before = BlockRangeSink.stats(dir)
        IncrementalIngest.ingest(spark, spark.createDataset(Seq(
          simpleSend(B, C, BigDecimal("1"), block = n * 1000L - 10))), dir)
        val changed = BlockRangeSink.stats(dir).filterNot(before.contains)
        CountingFileSystem.reset()
        val d = IncrementalIngest.derive(spark, dir)
        val lists = CountingFileSystem.calls.get()
        assert(d.txs.count() == history.size + 1L)
        // the scan inside this derive's stamper cache; pinned segments
        // hold no scan of their own (theirs ran in an earlier derive)
        val scanned = d.txs.queryExecution.withCachedData.collect {
          case r: InMemoryRelation => Plans.collect(r.cacheBuilder.cachedPlan) {
            case s: FileSourceScanExec => s.metrics("numFiles").value
          }.sum
        }.sum
        (scanned, changed.map(_.nFiles.toLong).sum, lists)
      } finally {
        IncrementalIngest.release()
        CacheScope.release()
      }
    }
    val (scanned4, changed4, lists4) = run(4)
    val (scanned12, changed12, lists12) = run(12)
    assert(changed4 > 0 && scanned4 == changed4,
      s"4 ranges: derive scanned $scanned4 files; the changed range holds $changed4")
    assert(changed12 > 0 && scanned12 == changed12,
      s"12 ranges: derive scanned $scanned12 files; the changed range holds $changed12")
    assert(lists4 == lists12,
      s"derive listing calls grew with range count: 4 ranges $lists4, 12 ranges $lists12")
  }

  test("one sealed range per derive: the segments merge past their cap " +
      "and the stream still equals a cold derive") {
    import graft.sinks.BlockRangeSink
    val dir = Files.createTempDirectory("graft_derive_merge").toString
    def txs(r: Long) = if (r == 0L) Seq(grant(A, A, BigDecimal("1000"), block = 5))
      else Seq(simpleSend(A, B, BigDecimal(r), block = r * 1000 + 5),
        simpleSend(B, C, BigDecimal(1), block = r * 1000 + 7, pos = 1))
    try {
      // each tick opens a new range and seals the one below it: one
      // new segment per derive, twelve in all
      (0L to 12L).foreach { r =>
        IncrementalIngest.ingest(spark, spark.createDataset(txs(r)), dir)
        IncrementalIngest.derive(spark, dir)
        CacheScope.release()
      }
      val d = IncrementalIngest.derive(spark, dir)
      assert(IncrementalIngest.lastReuse == (12, 13))
      val cold = graft.operators.OmniPipeline.derive(
        IncrementalIngest.readFacts(spark, dir), BlockRangeSink.watermark(spark, dir))
      assert(d.txs.collect().toSeq.sortBy(_._2) == cold.txs.collect().toSeq.sortBy(_._2))
      assert(d.balances.collect().toSet == cold.balances.collect().toSet)
    } finally {
      IncrementalIngest.release()
      CacheScope.release()
    }
  }

  test("ingestFrame evaluates its input once per cycle") {
    val dir = Files.createTempDirectory("graft_ingest_once").toString
    val chain = grant(A, A, BigDecimal("100"), block = 1) +:
      (2 to 40).map(i => simpleSend(A, B, BigDecimal(i), block = i * 100L))
    // every row of the input passes this map once per evaluation
    def counted(txs: Seq[graft.model.RawTx]) = {
      val acc = spark.sparkContext.longAccumulator("raw rows")
      (acc, spark.createDataset(txs).map { t => acc.add(1); t })
    }
    val (first, raw1) = counted(chain.take(25))
    assert(IncrementalIngest.ingest(spark, raw1, dir) == 25L)
    assert(first.value == 25L, s"first cycle read its input ${first.value} " +
      "rows for 25: evaluated more than once")
    // an overlapping re-delivery: the watermark admits 15 of 40
    val (second, raw2) = counted(chain)
    assert(IncrementalIngest.ingest(spark, raw2, dir) == 15L)
    assert(second.value == 40L, s"second cycle read its input " +
      s"${second.value} rows for 40: evaluated more than once")
    assert(IncrementalIngest.readFacts(spark, dir).count() == 40L)
  }

  test("an append tick opens no existing data file beyond the footer " +
      "watermark's one read per tail file, and deletes none") {
    import graft.sinks.BlockRangeSink
    import scala.jdk.CollectionConverters._
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFileSystem].getName)
    val local = Files.createTempDirectory("graft_append_io").toString
    val dir = "countfs://" + local
    val history = grant(A, A, BigDecimal("1000"), block = 1) +:
      (1 until 12).map(i => simpleSend(A, B, BigDecimal(i), block = i * 250L))
    IncrementalIngest.ingest(spark, spark.createDataset(history), dir)
    val before = BlockRangeSink.stats(dir)
    val tail = before.last
    assert(tail.blockRange == 2L, s"fixture: $before")
    val tailPaths = tail.files.map(f => s"$local/blockRange=2/${f.name}")

    CountingFileSystem.reset()
    assert(IncrementalIngest.ingest(spark, spark.createDataset(Seq(
      simpleSend(C, D, BigDecimal("1"), block = 2900L))), dir) == 1L)
    val opened = CountingFileSystem.opened.asScala.toSeq
      .filter(_.startsWith(s"$local/blockRange="))
    val deleted = CountingFileSystem.deleted.asScala.toSeq
      .filter(_.startsWith(s"$local/blockRange="))
    assert(deleted.isEmpty, s"the append deleted live data: $deleted")
    assert(opened.sorted == tailPaths.sorted,
      s"the append opened ${opened.mkString(", ")}; only the tail's footers " +
        s"(${tailPaths.mkString(", ")}) should be read, once each")
    val after = BlockRangeSink.stats(dir)
    assert(after.dropRight(1) == before.dropRight(1))
    assert(tail.files.toSet.subsetOf(after.last.files.toSet) &&
      after.last.nFiles == tail.nFiles + 1)
    assert(IncrementalIngest.readFacts(spark, dir).count() == history.size + 1L)
  }

  test("ticks into one range never leave it past the file cap; the cap " +
      "rewrite leaves compact's target count") {
    import graft.sinks.BlockRangeSink
    val dir = Files.createTempDirectory("graft_append_cap").toString
    val counts = (1 to 20).map { i =>
      val t = if (i == 1) grant(A, A, BigDecimal("1000"), block = 10)
        else simpleSend(A, B, BigDecimal(i), block = i * 10L)
      assert(IncrementalIngest.ingest(spark, spark.createDataset(Seq(t)), dir) == 1L)
      val st = BlockRangeSink.stats(dir)
      assert(st.map(_.blockRange) == Seq(0L), s"tick $i: $st")
      // right after a cap rewrite compact has nothing to do: the range
      // holds exactly compact's target count for its bytes
      if (i % 8 == 1 && i > 1)
        assert(BlockRangeSink.compact(spark, dir).isEmpty, s"tick $i: $st")
      st.head.nFiles
    }
    // one file per tick up to the cap of 8; the ninth append rewrites
    // the range to one file (its bytes justify one) and appending resumes
    assert(counts == (1 to 20).map(i => (i - 1) % 8 + 1),
      s"files per tick: $counts")
    assert(IncrementalIngest.readFacts(spark, dir).count() == 20L)
  }

  test("an ingest tick takes the writer lock once") {
    import graft.sinks.BlockRangeSink
    import scala.jdk.CollectionConverters._
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFileSystem].getName)
    val local = Files.createTempDirectory("graft_tick_lock").toString
    val dir = "countfs://" + local
    IncrementalIngest.ingest(spark, spark.createDataset(Seq(
      grant(A, A, BigDecimal("1000"), block = 1),
      simpleSend(A, B, BigDecimal("1"), block = 1200))), dir)
    CountingFileSystem.reset()
    assert(IncrementalIngest.ingest(spark, spark.createDataset(Seq(
      simpleSend(B, C, BigDecimal("1"), block = 1300))), dir) == 1L)
    val locks = CountingFileSystem.created.asScala.toSeq
      .count(_ == s"$local/${BlockRangeSink.LockName}")
    assert(locks == 1, s"the tick created the writer lock $locks times")
  }

  test("the writer lock covers a tick's watermark read: a rollback " +
      "attempted then fails, and retried after the tick it lets the " +
      "winning branch land whole") {
    import graft.sinks.BlockRangeSink
    import scala.util.Try
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFileSystem].getName)
    val local = Files.createTempDirectory("graft_tick_rollback").toString
    val dir = "countfs://" + local
    val fork = 1500L
    val history = grant(A, A, BigDecimal("1000"), block = 1) +:
      (1 until 12).map(i => simpleSend(A, B, BigDecimal(i), block = i * 250L))
    IncrementalIngest.ingest(spark, spark.createDataset(history), dir)

    // the first data-file open of the tick is its tail footer read
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var rollback: Option[Try[Unit]] = None
    CountingFileSystem.reset()
    CountingFileSystem.onOpen = p =>
      if (p.startsWith(s"$local/blockRange=") && fired.compareAndSet(false, true))
        rollback = Some(Try(BlockRangeSink.dropAbove(spark, dir, fork)))
    val tick =
      try Try(IncrementalIngest.ingest(spark, spark.createDataset(Seq(
        simpleSend(B, C, BigDecimal("1"), block = 2900L))), dir))
      finally CountingFileSystem.reset()
    assert(rollback.isDefined, "the tick read no tail footer")
    assert(rollback.get.failed.toOption.exists(e =>
      e.isInstanceOf[IllegalStateException] &&
        e.getMessage.contains("writer lock")),
      s"a rollback ran between the tick's watermark read and its commit: " +
        rollback.get)
    assert(tick.toOption.contains(1L), s"tick: $tick")

    assert(IncrementalIngest.reorg(spark, dir, fork) == fork)
    val branch = (1 to 8).map(i =>
      simpleSend(A, C, BigDecimal(i), block = fork + i * 200L))
    assert(IncrementalIngest.ingest(spark, spark.createDataset(branch), dir) ==
      branch.size.toLong)
    def keys(txs: Seq[graft.model.RawTx]) = txs.map(t => (t.block, t.txid)).sorted
    assert(keys(IncrementalIngest.readFacts(spark, dir).collect().toSeq) ==
      keys(history.filter(_.block <= fork) ++ branch))
  }

  test("a reorg lists the store once, inside its lock, and returns the " +
      "tip a watermark read then gives") {
    import graft.sinks.BlockRangeSink
    import scala.jdk.CollectionConverters._
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFileSystem].getName)
    val local = Files.createTempDirectory("graft_reorg_listing").toString
    val dir = "countfs://" + local
    val history = grant(A, A, BigDecimal("1000"), block = 1) +:
      (1 until 12).map(i => simpleSend(A, B, BigDecimal(i), block = i * 250L))
    IncrementalIngest.ingest(spark, spark.createDataset(history), dir)
    CountingFileSystem.reset()
    // fork 1600: range 2 goes, range 1 keeps 1000..1500
    val (tip, recursive) =
      try (IncrementalIngest.reorg(spark, dir, 1600L),
        CountingFileSystem.listed.asScala.toSeq.filter(_._2).map(_._1))
      finally CountingFileSystem.reset()
    assert(recursive == Seq(local),
      s"the reorg made recursive listings $recursive; one of the table root expected")
    assert(tip == 1500L && BlockRangeSink.watermark(spark, dir) == tip,
      s"reorg returned $tip")
  }

  test("raw JSON source round-trips the RawTx schema (S2/S3)") {
    val dir = Files.createTempDirectory("graft_raw").toString
    val txs = Seq(
      simpleSend(A, B, BigDecimal("1.5"), block = 10),
      tx(4, A, Some(B), block = 11).copy(subsends = Seq(
        graft.model.SubSend(7, divisible = false, BigDecimal(3)))))
    spark.createDataset(txs).write.mode("overwrite").json(dir)
    val back = IncrementalIngest.readRawJson(spark, dir)
      .collect().sortBy(_.block)
    assert(back.length == 2)
    assert(back(0).amount == BigDecimal("1.5"))
    assert(back(0).referenceaddress.contains(B))
    assert(back(1).subsends == txs(1).subsends)
  }
}
