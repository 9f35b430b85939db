package graft

import graft.Fixtures._
import graft.model._
import graft.operators.{Balances, MetaDexOps, OmniPipeline}

/** End-to-end derivation over a small fixture chain, the freeze
  * sequencer, MetaDEx dedup, and the reorg invariant (FIXTURES.md §B.3:
  * derive(truncate(facts, f)) == derive(facts ingested only to f)).
  */
class OmniPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private val chain: Seq[RawTx] = Seq(
    grant(A, A, BigDecimal("100"), block = 1, pos = 0),
    simpleSend(A, B, BigDecimal("10"), block = 2, pos = 0),
    simpleSend(B, C, BigDecimal("4"), block = 3, pos = 0),
    simpleSend(A, C, BigDecimal("1"), block = 3, pos = 1),
    sellOffer(B, BigDecimal("2"), BigDecimal("1"), timeLimit = 10,
      block = 4, pos = 0),
    accept(C, B, BigDecimal("2"), block = 5, pos = 0),
    purchase(C, B, BigDecimal("2"), block = 6, pos = 0),
    simpleSend(C, D, BigDecimal("0.5"), block = 7, pos = 0))

  private def balancesMap(txs: Seq[RawTx], tip: Long): Map[(String, Long), (Long, Long, Long)] = {
    val d = OmniPipeline.derive(spark.createDataset(txs), tip)
    d.balances.collect()
      .map(b => (b.address, b.propertyId) ->
        ((b.available, b.reserved, b.accepted)))
      .toMap
  }

  test("end-to-end balances across send/dex chain") {
    val m = balancesMap(chain, tip = 8)
    assert(m((A, 31L)) == ((8900000000L, 0L, 0L)))   // 100 - 10 - 1
    assert(m((B, 31L)) == ((400000000L, 0L, 0L)))    // 10 - 4 - 2(sold)
    assert(m((C, 31L)) == ((650000000L, 0L, 0L)))    // 4 + 1 + 2 - 0.5
    assert(m((D, 31L)) == ((50000000L, 0L, 0L)))
    // conservation: total available == granted 100
    assert(m.values.map(_._1).sum == 10000000000L)
  }

  test("reorg: truncate + re-derive == fresh ingest to fork (M4)") {
    val fork = 4L
    val all = spark.createDataset(chain)
    val truncated = OmniPipeline.truncate(all, fork)
    val fresh = chain.filter(_.block <= fork)
    val a = balancesMap(truncated.collect().toSeq, fork)
    val b = balancesMap(fresh, fork)
    assert(a == b)
    // and the fork state differs from the tip state (rollback is real)
    assert(a != balancesMap(chain, 8))
  }

  test("serials are deterministic and dense in (block, pos) order") {
    val stamped = OmniPipeline
      .withSerials(spark.createDataset(chain).repartition(7))
      .collect().sortBy(_._2)
    assert(stamped.map(_._2).toSeq == (1L to chain.size).toSeq)
    assert(stamped.map(t => (t._1.block, t._1.positioninblock)).toSeq ==
      stamped.map(t => (t._1.block, t._1.positioninblock)).sortBy(identity).toSeq)
  }

  test("withSerials == sort-then-enumerate on a shuffled 1000-tx stream " +
      "(partition-offset stamping, ties + empty partitions)") {
    // many rows per (block, pos) tie group, arrival order scrambled,
    // more shuffle partitions than the session default so some range
    // partitions are empty — the regime where a per-partition offset
    // bug (off-by-one, missing-empty-partition, wrong cumulative order)
    // would misnumber whole ranges while staying dense.
    // fixed seed: a failing input ordering must be reproducible
    val txs = new scala.util.Random(13).shuffle((1 to 1000).map { i =>
      simpleSend(A, B, BigDecimal(i), block = i % 37, pos = i % 5)
        .copy(txid = f"t$i%04d")
    }.toList)
    val stamped = OmniPipeline
      .withSerials(spark.createDataset(txs).repartition(13))
      .collect()
    val expected = txs
      .sortBy(t => (t.block, t.positioninblock, t.txid))
      .zipWithIndex.map { case (t, i) => t.txid -> (i + 1L) }.toMap
    assert(stamped.length == 1000)
    stamped.foreach { case (t, s) => assert(expected(t.txid) == s,
      s"txid ${t.txid} stamped $s, expected ${expected(t.txid)}") }
  }

  test("generic stamp == sort-then-enumerate on a shuffled 1000-tuple " +
      "stream (partition-offset stamping ported from withSerials, r14)") {
    // same regime as the withSerials pin: tie groups, scrambled
    // arrival, more range partitions than the session default
    val rows = new scala.util.Random(17).shuffle((1 to 1000).map { i =>
      (i.toLong % 37, i.toLong % 5, f"k$i%04d")
    }.toList)
    val stamped = OmniPipeline
      .stamp(spark.createDataset(rows).repartition(13),
        org.apache.spark.sql.functions.col("_1"),
        org.apache.spark.sql.functions.col("_2"),
        org.apache.spark.sql.functions.col("_3"))
      .collect()
    val expected = rows.sorted
      .zipWithIndex.map { case (t, i) => t._3 -> (i + 1L) }.toMap
    assert(stamped.length == 1000)
    stamped.foreach { case (t, s) => assert(expected(t._3) == s,
      s"key ${t._3} stamped $s, expected ${expected(t._3)}") }
    assert(stamped.map(_._2).max == 1000L &&
      stamped.map(_._2).toSet.size == 1000)
    CacheScope.release()
  }

  test("withSerials at an adversarial 4096-range-partition stamp: " +
      "offsets literal holds, serials stay dense (scale-headroom pin)") {
    // At 100 TB the stamper's partition-offset literal carries one Long
    // per range partition (O(10^4-10^5)); pin the mechanism at 4096
    // partitions over a small stream — nearly every partition empty,
    // the offsets array 3 orders of magnitude larger than the data —
    // so a constant-pool/codegen ceiling or an empty-partition offset
    // bug surfaces here, not at the 1000x sweep.
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4096")
    try {
      val txs = (1 to 500).map { i =>
        simpleSend(A, B, BigDecimal(i), block = i % 91, pos = i % 7)
          .copy(txid = f"p$i%04d")
      }
      val stamped = OmniPipeline
        .withSerials(spark.createDataset(txs).repartition(17))
        .collect()
      val expected = txs
        .sortBy(t => (t.block, t.positioninblock, t.txid))
        .zipWithIndex.map { case (t, i) => t.txid -> (i + 1L) }.toMap
      assert(stamped.length == 500)
      stamped.foreach { case (t, s) => assert(expected(t.txid) == s) }
      // post-hoc offset-consistency gate (r13 ADVICE): the maximum
      // serial must equal the total count — a lost-and-recomputed
      // cache partition whose counts disagreed with the collected
      // offsets would break density here
      assert(stamped.map(_._2).max == 500L)
      assert(stamped.map(_._2).toSet.size == 500)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", saved)
      CacheScope.release()
    }
  }

  test("stamper chaos: every cached block evicted between the counts " +
      "collect and the serve — serials still equal sort-then-enumerate") {
    // GlobalSerial.assign collects per-partition counts off its tagged
    // cache, then serves serials by re-reading that cache. A block lost
    // in between must replay the same rows, order and ids from the
    // cached plan's lineage, or the offsets no longer fit and the
    // serials double up or leave gaps. Evict ALL of them: the serve
    // then recomputes every partition.
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val txs = new scala.util.Random(29).shuffle((1 to 1000).map { i =>
      simpleSend(A, B, BigDecimal(i), block = i % 41, pos = i % 3)
        .copy(txid = f"e$i%04d")
    }.toList)
    try {
      val stamped = OmniPipeline
        .withSerials(spark.createDataset(txs).repartition(13))
      val caches = stamped.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers
      }
      assert(caches.size == 1)
      caches.foreach(_.unpersist(blocking = true))
      assert(caches.forall(c =>
        !spark.sparkContext.getPersistentRDDs.contains(c.id)))
      val got = stamped.collect()
      val expected = txs
        .sortBy(t => (t.block, t.positioninblock, t.txid))
        .zipWithIndex.map { case (t, i) => t.txid -> (i + 1L) }.toMap
      assert(got.length == 1000)
      got.foreach { case (t, s) => assert(expected(t.txid) == s,
        s"txid ${t.txid} stamped $s, expected ${expected(t.txid)}") }
      assert(got.map(_._2).max == got.length.toLong)
    } finally CacheScope.release()
  }

  test("GlobalSerial.assign: names with a backtick or a dot survive, " +
      "the serial is non-null and dense") {
    import org.apache.spark.sql.functions.col
    val rows = new scala.util.Random(5).shuffle((1 to 200).map { i =>
      (i.toLong, s"v$i")
    }.toList)
    try {
      val df = rows.toDF("a`b", "x.y")
      val out = graft.operators.GlobalSerial
        .assign(df.repartition(7), "serial", col("`a``b`"))
      assert(out.columns.toSeq == Seq("a`b", "x.y", "serial"))
      assert(!out.schema("serial").nullable)
      val got = out.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(got.sortBy(_._3).toSeq ==
        rows.sorted.zipWithIndex.map { case ((k, v), i) => (k, v, i + 1L) })
    } finally CacheScope.release()
  }

  test("freeze: snapshot, receive-while-frozen redirect, unfreeze (sql.py:1408-1414)") {
    val payload31 = "00000000" + "0000001f"
    val txs = Seq(
      grant(A, A, BigDecimal("100"), block = 1),
      simpleSend(A, B, BigDecimal("10"), block = 2),
      tx(185, A, Some(B), block = 3).copy(payload = payload31),
      simpleSend(A, B, BigDecimal("5"), block = 4),
      tx(186, A, Some(B), block = 5).copy(payload = payload31),
      simpleSend(A, B, BigDecimal("1"), block = 6))
    val d = OmniPipeline.derive(spark.createDataset(txs), 6)
    val b = d.balances.collect().map(bb =>
      (bb.address, bb.propertyId) -> bb).toMap
    val bob = b((B, 31L))
    // 10 frozen at block 3; +5 while frozen lands frozen; unfreeze
    // returns 15; +1 after → available 16, frozen 0
    assert(bob.available == 1600000000L)
    assert(bob.frozen == 0L)
    // during-freeze check: derive only to block 4
    val mid = OmniPipeline.derive(
      spark.createDataset(txs.filter(_.block <= 4)), 4)
    val bobMid = mid.balances.collect()
      .find(x => x.address == B && x.propertyId == 31L).get
    assert(bobMid.available == 0L && bobMid.frozen == 1500000000L)
    assert(bobMid.frozenFlag)
  }

  test("A2 after-balances: cumulative snapshot at every ledger row") {
    val txs = Seq(
      grant(A, A, BigDecimal("100"), block = 1),
      simpleSend(A, B, BigDecimal("10"), block = 2),
      simpleSend(A, B, BigDecimal("5"), block = 3))
    val d = OmniPipeline.derive(spark.createDataset(txs), 3)
    val after = graft.operators.Balances.afterBalances(d.ledger)
      .where(org.apache.spark.sql.functions.col("address") === A)
      .orderBy("txDbSerialNum", "addressTxIndex")
      .collect()
      .map(_.getAs[Long]("afterAvailable"))
    // A: +100, then −10 → 90, then −5 → 85 (grant emits a 0-delta
    // issuer metadata row first at serial 1)
    assert(after.toSeq == Seq(10000000000L, 10000000000L, 9000000000L,
      8500000000L))
  }

  test("feature activations: latest state per feature (65534)") {
    val txs = Seq(
      tx(65534, A, None, block = 5).copy(featureid = 4),
      tx(65534, A, None, block = 9).copy(featureid = 4),
      tx(65534, A, None, block = 30).copy(featureid = 7))
    val stamped = OmniPipeline.withSerials(spark.createDataset(txs))
    val acts = graft.operators.FeatureActivations.derive(stamped, tipBlock = 10)
      .collect().map(a => a.featureId -> a).toMap
    assert(acts(4L).activationBlock == 9L && !acts(4L).pending)
    assert(acts(7L).pending)
  }

  test("MetaDEx: both-sides match listing settles exactly once") {
    val t1 = tx(25, A, None, pid = 31, amount = BigDecimal("10"),
      block = 10, pos = 0)
      .copy(propertyiddesired = 32, desireddivisible = true,
        amountdesired = BigDecimal("5"))
    val t2 = tx(25, B, None, pid = 32, amount = BigDecimal("5"),
      block = 10, pos = 1)
      .copy(propertyiddesired = 31, desireddivisible = true,
        amountdesired = BigDecimal("10"),
        matches = Seq(TradeMatch(t1.txid, A, 10, BigDecimal("5"),
          BigDecimal("10"), BigDecimal("0"))))
    // t1 also lists the match (the node reports both sides)
    val t1b = t1.copy(matches = Seq(TradeMatch(t2.txid, B, 10,
      BigDecimal("10"), BigDecimal("5"), BigDecimal("0"))))
    val stamped = OmniPipeline.withSerials(
      spark.createDataset(Seq(t1b, t2)))
    val (trades, ledger) = MetaDexOps.derive(stamped)
    // dedup guard: only the later tx's listing settles
    assert(trades.count() == 1L)
    val l = ledger.collect()
    assert(l.length == 4)
    // B (taker) sold 5 of pid 32 from reserve; A received it
    val sold = l.filter(e => e.propertyId == 32L)
    assert(sold.map(_.reservedDelta).sum == -500000000L)
    assert(sold.map(_.availableDelta).sum == 500000000L)
    // remaining: both fully matched → 0
    val rem = MetaDexOps.remaining(stamped).collect()
      .map(r => r.seller -> r.remaining).toMap
    assert(rem(A) == 0L && rem(B) == 0L)
  }

  test("two CONCURRENT stamped derivations both complete with correct serials") {
    // The stamper cache used to be a global single slot: a second
    // stamp() call unpersisted the first caller's RDD mid-flight. Now
    // each stamp defers its own cleanup to CacheScope, so concurrent
    // stamper users cannot release each other. Run two derivations on
    // separate threads through a barrier that forces both stamps to be
    // live at once, then release and assert the hygiene invariant.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    CacheScope.release() // start from a clean slate
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def derived(shift: Long): Future[Seq[Long]] = Future {
      val txs = chain.map(t => t.copy(block = t.block + shift))
      val stamped = OmniPipeline.withSerials(
        spark.createDataset(txs).repartition(5))
      barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
      // both stamper caches are persisted now; each thread consumes its
      // own AFTER the other's stamp has run
      stamped.collect().sortBy(_._2).map(_._2).toSeq
    }
    val (a, b) = (derived(0L), derived(100L))
    val expect = (1L to chain.size).toSeq
    assert(Await.result(a, 60.seconds) == expect)
    assert(Await.result(b, 60.seconds) == expect)
    CacheScope.release()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "stamper caches must not survive release")
  }

  test("M5 reparse: in-place repair == re-derivation; state-dependent types refused") {
    import graft.operators.LedgerDecoder
    val stamped = OmniPipeline.withSerials(spark.createDataset(chain))
    val ledger = stamped.flatMap { case (tx, s) => LedgerDecoder.decode(tx, s) }
    // tx 4 (block 3 pos 1) is the A→C simple send of 1; the node
    // re-serves it as A→D of 2.5 — repair must equal deriving from the
    // patched chain, including rows MOVING to a different address
    val corrected = simpleSend(A, D, BigDecimal("2.5"), block = 3, pos = 1)
    val repaired = OmniPipeline.reparseTx(ledger, targetSerial = 4L, corrected)
    val patched = chain.updated(3, corrected)
    val fresh = OmniPipeline.withSerials(spark.createDataset(patched))
      .flatMap { case (tx, s) => LedgerDecoder.decode(tx, s) }
    def canon(ds: org.apache.spark.sql.Dataset[LedgerEntry]) =
      ds.collect().sortBy(e => (e.txDbSerialNum, e.address, e.propertyId)).toSeq
    assert(canon(repaired) == canon(fresh))
    // a DEx offer is order-dependent state — reparse must refuse it
    val offer = sellOffer(B, BigDecimal("1"), BigDecimal("1"),
      timeLimit = 10, block = 3, pos = 1)
    val e = intercept[IllegalArgumentException] {
      OmniPipeline.reparseTx(ledger, 4L, offer)
    }
    assert(e.getMessage.contains("state-dependent"))
    CacheScope.release()
  }
}
