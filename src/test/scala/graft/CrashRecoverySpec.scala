package graft

import org.apache.hadoop.fs.Path

import graft.sinks.BlockRangeSink

/** Crash-prefix model check of every sink mutation over object-store
  * semantics (round 13): [[ObjectStoreFileSystem.injectOutageAfter]]
  * kills the store at the k-th mutating request — the k-th itself is
  * refused, everything after fails — leaving exactly the state a
  * crashed writer leaves on a real object store. For EVERY sampled
  * prefix k of every lifecycle operation, two recoveries are checked
  * (reboot → `forceUnlock` if the lock was orphaned → then):
  *
  *  - `recoverTable` alone, which replays any `_graft_journal` entry and
  *    sweeps the stage, must leave either the pre-op state or the
  *    never-crashed one — all or nothing, the reference's one
  *    transaction per block and per reorg rollback;
  *  - re-running the operation (recovery runs first, inside it) must
  *    converge to the bit-level state of the never-crashed run.
  *
  * Both must leave zero journal/pending/staging residue and no lock.
  * Every mutation commits through the same journaled pending-swap
  * protocol (`BlockRangeSink.publishAndReplay`: the new files are
  * durable under `_graft_pending/` and the journal names every drop and
  * move before anything is destroyed), except a rollback that only
  * drops, whose intent is the fork its lock stamp names (`forceUnlock`
  * journals it and recovery redoes the rollback); this spec is the
  * evidence, including crashes DURING recovery itself.
  *
  * CI runs a strided slice of prefixes per operation; GRAFT_CRASH_SOAK=1
  * sweeps every prefix (the full model check, run once per round).
  */
class CrashRecoverySpec extends SparkTestBase {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  override def beforeAll(): Unit = {
    super.beforeAll()
    conf.set("fs.objfs.impl", classOf[ObjectStoreFileSystem].getName)
  }

  private val soak = sys.env.get("GRAFT_CRASH_SOAK").contains("1")

  /** Canonical table content: sorted (block, txid) rows. */
  private def content(dir: String): Seq[(Long, String)] =
    BlockRangeSink.read(spark, dir)
      .select($"block", $"txid").as[(Long, String)]
      .collect().sorted.toSeq

  /** Scratch/journal residue that recovery must not leave behind. */
  private def residue(dir: String): Seq[String] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq
      .map(_.getPath.getName)
      .filter(n => n == BlockRangeSink.JournalDirName ||
        n == BlockRangeSink.PendingDirName ||
        n.startsWith(".spark-staging-") || n == "_temporary")
  }

  private def frame(blocks: Range, tag: String = "tx") =
    blocks.map(b => (b.toLong, s"$tag$b")).toDF("block", "txid")

  /** `shape` checks, on the listings before and after the never-crashed
    * run, that the fixture takes the protocol path the op is named for. */
  private case class MutOp(name: String,
      setup: String => Unit, run: String => Unit,
      shape: (Seq[BlockRangeSink.RangeStats],
        Seq[BlockRangeSink.RangeStats]) => Unit = (_, _) => ())

  private def ingest(dir: String, blocks: Range, tag: String = "tx"): Unit = {
    graft.streaming.IncrementalIngest.ingestFrame(spark, frame(blocks, tag), dir)
    ()
  }

  private def names(st: Seq[BlockRangeSink.RangeStats], range: Long) =
    st.find(_.blockRange == range).toSeq.flatMap(_.files.map(_.name)).toSet

  private val ops = Seq(
    MutOp("write-batch",
      setup = dir => BlockRangeSink.write(frame(1 to 2500), dir),
      // the retried-batch pattern: rewrites owned tail ranges 1 and 2
      run = dir => BlockRangeSink.write(
        frame(1800 to 2600).repartition(3, $"block"), dir)),
    MutOp("compact",
      setup = dir => {
        BlockRangeSink.write(frame(1 to 2500), dir)
        BlockRangeSink.write(
          frame(2000 to 2600).repartition(6, $"block"), dir)
      },
      run = dir => BlockRangeSink.compact(spark, dir)),
    MutOp("dropAbove-straddle",
      setup = dir => BlockRangeSink.write(frame(1 to 3500), dir),
      run = dir => BlockRangeSink.dropAbove(spark, dir, 1200L)),
    MutOp("dropAbove-cleantail",
      setup = dir => BlockRangeSink.write(frame(1 to 3500), dir),
      run = dir => BlockRangeSink.dropAbove(spark, dir, 999L)),
    // the COMPOSITE: watermark-gated admission + tail-range merge. Its
    // re-run is NOT "the same batch" — the admit filter moves with the
    // watermark — so sink-level write idempotence alone does not make
    // this cycle crash-convergent (round 13 found exactly that: a
    // crashed overwrite commit that had deleted the old tail partition
    // left a LOWER watermark and a feed that no longer carried the
    // deleted rows — blocks lost; hence ingest commits through the
    // journal)
    MutOp("ingest-cycle",
      setup = dir => BlockRangeSink.write(frame(1 to 2500), dir),
      run = dir => {
        graft.streaming.IncrementalIngest.ingestFrame(
          spark, frame(2400 to 3200, "alt"), dir)
        ()
      }),
    // the append commit inside a partly filled tail: one journal section
    // that drops nothing and moves the staged file in
    MutOp("ingest-append",
      setup = dir => BlockRangeSink.write(frame(1 to 2500), dir),
      run = dir => ingest(dir, 2400 to 2900, "alt"),
      shape = (before, after) => {
        assert(after.map(_.blockRange) == before.map(_.blockRange))
        assert(names(before, 2L).subsetOf(names(after, 2L)) &&
          names(after, 2L).size > names(before, 2L).size,
          s"not a pure append: $before -> $after")
        assert(before.filter(_.blockRange < 2L) == after.filter(_.blockRange < 2L))
      }),
    // the tail already holds the file cap, so its append section turns
    // into a rewrite (dropping all eight files) in the same journal as
    // the append that opens range 3
    MutOp("ingest-cap",
      setup = dir => {
        BlockRangeSink.write(frame(1 to 2500), dir)
        BlockRangeSink.write(
          frame(2000 to 2500).repartition(8, $"block"), dir)
      },
      run = dir => ingest(dir, 2400 to 3200, "alt"),
      shape = (before, after) => {
        assert(before.find(_.blockRange == 2L).map(_.nFiles).contains(8),
          s"fixture: $before")
        assert(after.find(_.blockRange == 2L).map(_.nFiles).contains(1) &&
          names(before, 2L).intersect(names(after, 2L)).isEmpty,
          s"tail not rewritten to one file: $after")
        assert(after.map(_.blockRange) == Seq(0L, 1L, 2L, 3L))
      }),
    // range 1 holds five appended files: two wholly at or below the
    // fork, one straddling it and two wholly above; range 2 is above.
    // Only the straddler is rewritten.
    MutOp("dropAbove-files",
      setup = dir => {
        BlockRangeSink.write(frame(1 to 1200), dir)
        Seq(1400, 1600, 1800, 2300).foreach(hi => ingest(dir, 1 to hi))
      },
      run = dir => BlockRangeSink.dropAbove(spark, dir, 1500L),
      shape = (before, after) => {
        assert(before.find(_.blockRange == 1L).map(_.nFiles).contains(5),
          s"fixture: $before")
        assert(after.map(_.blockRange) == Seq(0L, 1L))
        val kept = names(after, 1L)
        assert(kept.size == 3 && names(before, 1L).intersect(kept).size == 2,
          s"expected the two files below the fork kept and one rewrite: $after")
      }))

  /** Reboot the store and run the documented recovery: clear the
    * orphaned lock if the crashed mutation could not release it, then
    * re-run the operation (recovery replay runs inside it, under the
    * fresh lock).
    */
  private def recoverAndRerun(op: MutOp, dir: String): Unit = {
    ObjectStoreFileSystem.clearOutage()
    if (BlockRangeSink.lockOwner(dir).nonEmpty) BlockRangeSink.forceUnlock(dir)
    op.run(dir)
  }

  /** The sampled crash prefixes: every k under soak; a strided slice
    * (first three, last two, ~6 across the middle) in CI.
    */
  private def prefixes(m: Long): Seq[Long] =
    if (soak || m <= 12) 0L until m
    else {
      val stride = math.max(1L, m / 6)
      (Seq(0L, 1L, 2L, m - 2, m - 1) ++ (3L until (m - 2) by stride))
        .distinct.sorted
    }

  for (op <- ops)
    test(s"${op.name}: every sampled crash prefix recovers to the " +
        "never-crashed state (strided in CI; GRAFT_CRASH_SOAK=1 sweeps all)") {
      val bucket = s"crash-${op.name}"
      def dir = s"objfs://$bucket/facts"
      ObjectStoreFileSystem.clearOutage()
      ObjectStoreFileSystem.resetBucket(bucket)
      op.setup(dir)
      val state0 = ObjectStoreFileSystem.snapshotBucket(bucket)

      // the never-crashed run: expected content + the op's mutation
      // count M, which is the crash-prefix domain
      val before = BlockRangeSink.stats(dir)
      ObjectStoreFileSystem.resetMutationCount()
      op.run(dir)
      val m = ObjectStoreFileSystem.mutationCount
      val expected = content(dir)
      op.shape(before, BlockRangeSink.stats(dir))
      assert(m > 0, s"${op.name}: no mutating requests measured")
      assert(residue(dir).isEmpty && BlockRangeSink.lockOwner(dir).isEmpty)

      var crashed = 0
      try {
        for (k <- prefixes(m)) {
          ObjectStoreFileSystem.restoreBucket(bucket, state0)
          ObjectStoreFileSystem.injectOutageAfter(k)
          val died =
            try { op.run(dir); false }
            catch { case _: Throwable => true }
          // parallel task scheduling can shift WHICH request is k-th,
          // but at k < M-of-this-run the op must have died
          if (died) crashed += 1
          recoverAndRerun(op, dir)
          assert(content(dir) == expected,
            s"${op.name}: content diverged after crash at prefix $k")
          assert(residue(dir).isEmpty,
            s"${op.name}: residue after recovery from prefix $k: " +
              residue(dir).mkString(", "))
          assert(BlockRangeSink.lockOwner(dir).isEmpty,
            s"${op.name}: lock left behind after recovery from prefix $k")
        }
      } finally ObjectStoreFileSystem.clearOutage()
      assert(crashed > 0, s"${op.name}: no sampled prefix crashed the op " +
        "— the injection never fired, the sweep was vacuous")
      info(s"${op.name}: M=$m mutations, ${prefixes(m).size} prefixes, " +
        s"$crashed crashed+recovered")
    }

  for (op <- ops)
    test(s"${op.name}: recovery alone leaves the pre-op or the " +
        "never-crashed state at every sampled crash prefix") {
      val bucket = s"crash-alone-${op.name}"
      def dir = s"objfs://$bucket/facts"
      ObjectStoreFileSystem.clearOutage()
      ObjectStoreFileSystem.resetBucket(bucket)
      op.setup(dir)
      val state0 = ObjectStoreFileSystem.snapshotBucket(bucket)
      // content and files per range: a compaction changes only the latter
      def state = (content(dir),
        BlockRangeSink.stats(dir).map(st => (st.blockRange, st.nFiles)))
      val pre = state
      ObjectStoreFileSystem.resetMutationCount()
      op.run(dir)
      val m = ObjectStoreFileSystem.mutationCount
      val expected = state
      assert(expected != pre, s"${op.name}: the op changed nothing")

      var crashed = 0
      var rolledBack = 0
      try {
        for (k <- prefixes(m)) {
          ObjectStoreFileSystem.restoreBucket(bucket, state0)
          ObjectStoreFileSystem.injectOutageAfter(k)
          try op.run(dir) catch { case _: Throwable => crashed += 1 }
          ObjectStoreFileSystem.clearOutage()
          if (BlockRangeSink.lockOwner(dir).nonEmpty) BlockRangeSink.forceUnlock(dir)
          BlockRangeSink.recoverTable(dir)
          val got = state
          assert(got == pre || got == expected,
            s"${op.name}: recovery alone from prefix $k left neither the " +
              "pre-op nor the never-crashed state")
          if (got == pre) rolledBack += 1
          assert(residue(dir).isEmpty,
            s"${op.name}: residue after recovery from prefix $k: " +
              residue(dir).mkString(", "))
          assert(BlockRangeSink.lockOwner(dir).isEmpty,
            s"${op.name}: lock left behind after recovery from prefix $k")
        }
      } finally ObjectStoreFileSystem.clearOutage()
      assert(crashed > 0, s"${op.name}: no sampled prefix crashed the op " +
        "— the injection never fired, the sweep was vacuous")
      info(s"${op.name}: M=$m mutations, ${prefixes(m).size} prefixes, " +
        s"$crashed crashed, $rolledBack recovered to the pre-op state")
    }

  test("crash DURING recovery: a second store death mid-replay still " +
      "converges on the next recovery (the journal swap is re-runnable " +
      "from any prefix of itself)") {
    val bucket = "crash-double"
    def dir = s"objfs://$bucket/facts"
    ObjectStoreFileSystem.clearOutage()
    ObjectStoreFileSystem.resetBucket(bucket)
    BlockRangeSink.write(frame(1 to 2500), dir)
    BlockRangeSink.write(frame(2000 to 2600).repartition(6, $"block"), dir)
    val state0 = ObjectStoreFileSystem.snapshotBucket(bucket)

    ObjectStoreFileSystem.resetMutationCount()
    BlockRangeSink.compact(spark, dir)
    val m = ObjectStoreFileSystem.mutationCount
    val expected = content(dir)

    // crash the compact late (journal likely published), then crash the
    // recovery run at several of ITS OWN prefixes before letting it win
    for (k1 <- Seq(m - 3, m - 6, m / 2); k2 <- Seq(1L, 3L, 5L)) {
      ObjectStoreFileSystem.restoreBucket(bucket, state0)
      ObjectStoreFileSystem.injectOutageAfter(k1)
      try { try BlockRangeSink.compact(spark, dir)
        catch { case _: Throwable => () }
      } finally ObjectStoreFileSystem.clearOutage()
      if (BlockRangeSink.lockOwner(dir).nonEmpty)
        BlockRangeSink.forceUnlock(dir)
      ObjectStoreFileSystem.injectOutageAfter(k2)
      try { try BlockRangeSink.compact(spark, dir)
        catch { case _: Throwable => () }
      } finally ObjectStoreFileSystem.clearOutage()
      if (BlockRangeSink.lockOwner(dir).nonEmpty)
        BlockRangeSink.forceUnlock(dir)
      BlockRangeSink.compact(spark, dir)
      assert(content(dir) == expected,
        s"double crash (op@$k1, recovery@$k2) diverged")
      assert(residue(dir).isEmpty && BlockRangeSink.lockOwner(dir).isEmpty)
    }
  }

  test("white-box: after the journal publishes, the OLD generation is " +
      "still live and the NEW one is durable pending parquet — the " +
      "no-point-of-no-recovery property; recoverTable alone completes " +
      "the swap") {
    val bucket = "crash-whitebox"
    def dir = s"objfs://$bucket/facts"
    ObjectStoreFileSystem.clearOutage()
    ObjectStoreFileSystem.resetBucket(bucket)
    BlockRangeSink.write(frame(1 to 900).repartition(4, $"block"), dir)
    val before = content(dir)
    val fs = new Path(dir).getFileSystem(conf)

    // find the journal-publish point by probing: crash one mutation at
    // a time until the journal object exists, then stop there
    var k = 0L
    var journaled = false
    val state0 = ObjectStoreFileSystem.snapshotBucket(bucket)
    while (!journaled && k < 2000) {
      ObjectStoreFileSystem.restoreBucket(bucket, state0)
      ObjectStoreFileSystem.injectOutageAfter(k)
      try BlockRangeSink.compact(spark, dir)
      catch { case _: Throwable => () }
      ObjectStoreFileSystem.clearOutage()
      val jdir = new Path(dir, BlockRangeSink.JournalDirName)
      journaled = fs.exists(jdir) && fs.listStatus(jdir)
        .exists(s => s.isFile && !s.getPath.getName.startsWith("."))
      if (!journaled) k += 1
    }
    assert(journaled, "never observed a published journal — protocol changed?")

    // at this exact point: the live partition still answers with the
    // OLD generation (nothing destroyed yet)...
    assert(content(dir) == before,
      "old generation was damaged before the journal published")
    // ...and the new generation is durable parquet under _graft_pending
    // (listed recursively: batched compaction stages the partitioned
    // layout pending/<opId>/blockRange=<r>/*.parquet)
    val pending = new Path(dir, BlockRangeSink.PendingDirName)
    val stagedParquet = {
      val it = fs.listFiles(pending, true)
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet")) buf += f
      }
      buf.toSeq
    }
    assert(stagedParquet.nonEmpty, "no durable staged generation found")
    val stagedRows = spark.read.parquet(
      stagedParquet.map(_.getPath.toString).toIndexedSeq: _*).count()
    assert(stagedRows == 900L,
      s"staged generation incomplete: $stagedRows rows")

    // recovery WITHOUT re-running the op completes the swap
    BlockRangeSink.forceUnlock(dir)
    BlockRangeSink.recoverTable(dir)
    assert(content(dir) == before)
    assert(BlockRangeSink.stats(dir).forall(_.nFiles == 1),
      "recoverTable did not complete the journaled compaction")
    assert(residue(dir).isEmpty && BlockRangeSink.lockOwner(dir).isEmpty)
  }
  for (version <- Seq("v1", "v2", "v3"))
    test(s"a $version journal left by an older build replays to the " +
        "never-crashed state from every prefix of its replay") {
      val bucket = s"crash-legacy-$version"
      def dir = s"objfs://$bucket/facts"
      ObjectStoreFileSystem.clearOutage()
      ObjectStoreFileSystem.resetBucket(bucket)
      BlockRangeSink.write(frame(1 to 2500), dir)
      // what the older build's tail upsert staged and journaled for range
      // 2 before it died: the whole range's new rows (existing ∪ fresh);
      // v1 and v2 sections carry no drop= records and replace the range,
      // a v3 section names each listed file it drops
      val range2 = frame(2000 to 2500).union(frame(2501 to 2900, "alt"))
      val fs = new Path(dir).getFileSystem(conf)
      val op = s"legacy-$version"
      val stage = new Path(dir, s"${BlockRangeSink.PendingDirName}/$op")
      val fileLines =
        if (version == "v1") {
          range2.coalesce(1).write.parquet(stage.toString)
          fs.listStatus(stage).map(_.getPath.getName)
            .filter(_.endsWith(".parquet")).sorted.zipWithIndex
            .map { case (n, i) => f"file=$n\tgraft-$op-p$i%05d.parquet" }
        } else {
          range2.withColumn("blockRange", $"block".divide(1000).cast("long"))
            .coalesce(1).write.partitionBy("blockRange").parquet(stage.toString)
          fs.listStatus(new Path(stage, "blockRange=2")).map(_.getPath.getName)
            .filter(_.endsWith(".parquet")).sorted.zipWithIndex
            .map { case (n, i) =>
              f"file=blockRange=2/$n\tgraft-$op-r2-p$i%05d.parquet" }
        }
      val header =
        if (version == "v1") Seq("v1", "range=2", s"pending=$op")
        else Seq(version, s"pending=$op", "range=2") ++
          (if (version == "v2") Nil
          else BlockRangeSink.stats(dir).filter(_.blockRange == 2L)
            .flatMap(_.files).map(f => s"drop=${f.name}"))
      val out = fs.create(new Path(dir, s"${BlockRangeSink.JournalDirName}/$op"))
      try out.write((header ++ fileLines).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      val state0 = ObjectStoreFileSystem.snapshotBucket(bucket)
      val expected = ((1 to 2500).map(b => (b.toLong, s"tx$b")) ++
        (2501 to 2900).map(b => (b.toLong, s"alt$b"))).sorted

      ObjectStoreFileSystem.resetMutationCount()
      BlockRangeSink.recoverTable(dir)
      val m = ObjectStoreFileSystem.mutationCount
      assert(content(dir) == expected)
      assert(BlockRangeSink.stats(dir).find(_.blockRange == 2L).map(_.nFiles)
        .contains(1), "the replay did not replace range 2 whole")
      var crashed = 0
      try {
        for (k <- 0L until m) {
          ObjectStoreFileSystem.restoreBucket(bucket, state0)
          ObjectStoreFileSystem.injectOutageAfter(k)
          try BlockRangeSink.recoverTable(dir)
          catch { case _: Throwable => crashed += 1 }
          ObjectStoreFileSystem.clearOutage()
          if (BlockRangeSink.lockOwner(dir).nonEmpty)
            BlockRangeSink.forceUnlock(dir)
          BlockRangeSink.recoverTable(dir)
          assert(content(dir) == expected,
            s"$version replay diverged after a crash at prefix $k")
          assert(residue(dir).isEmpty && BlockRangeSink.lockOwner(dir).isEmpty)
        }
      } finally ObjectStoreFileSystem.clearOutage()
      assert(crashed > 0, s"$version: no prefix crashed the replay")
      info(s"$version replay: M=$m mutations, $crashed crashed+recovered")
    }
}
