package graft

import graft.queries.{AggQueries, JoinQueries, ScalarQueries}

/** Physical-plan assertions — the plans we WANT, not just plans that
  * pass: broadcast joins stay broadcast, filters reach the parquet scan,
  * top-k never globally sorts, hot paths stay inside whole-stage
  * codegen. Regressions here are performance bugs even when results
  * stay correct.
  */
class PlanSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: graft.queries.Q): String =
    q.run(spark, dir).queryExecution.executedPlan.toString

  test("J2: dimension join is a BroadcastHashJoin, fact side not shuffled for the join") {
    val p = plan(JoinQueries.j2)
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("J9: both geography dims broadcast") {
    val p = plan(JoinQueries.j9)
    assert(p.split("BroadcastHashJoin").length >= 3)
  }

  test("J1: status filter is pushed to the orders parquet scan") {
    val df = JoinQueries.j1.run(spark, dir)
    val scans = df.queryExecution.executedPlan.toString
    assert(scans.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)")
      || scans.contains("EqualTo(o_orderstatus,F)"))
  }

  test("P3: scan reads only the projected columns (column pruning)") {
    val p = plan(ScalarQueries.p3)
    val readSchema = p.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("p_partkey"))
    assert(readSchema.contains("p_retailprice"))
    assert(!readSchema.contains("p_name"))
    assert(!readSchema.contains("p_brand"))
  }

  test("O1: order+limit plans as TakeOrdered, not a global sort") {
    val p = plan(JoinQueries.o1)
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("A1: running-balance window shuffles once on the key and is codegen'd around") {
    val df = AggQueries.a1.run(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    val exchanges = p.split("Exchange hashpartitioning").length - 1
    assert(exchanges == 1, s"expected 1 hash exchange, plan:\n$p")
    // AQE finalizes codegen annotations only after THIS df's plan runs
    // (count() would be a different query execution)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    // codegen stages print as "*(n)" operator prefixes
    assert(finalPlan.contains("*(") && finalPlan.contains("isFinalPlan=true"),
      s"no whole-stage codegen span in:\n$finalPlan")
  }

  test("A5: conditional aggregation is a single scan with partial aggregation") {
    val p = plan(AggQueries.a5)
    assert(p.split("HashAggregate").length - 1 >= 2) // partial + final
    assert(p.split("FileScan|BatchScan").length - 1 == 1)
  }

  test("A11: no single-partition global window on the data path (total is broadcast)") {
    val p = plan(AggQueries.a11)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
  }

  test("W8: sessionize windows + final groupBy share ONE shuffle on user_id") {
    val p = plan(AggQueries.w8)
    val exchanges = p.split("Exchange hashpartitioning").length - 1
    assert(exchanges == 1, s"expected 1 hash exchange, plan:\n$p")
  }

  test("J6: JSON path projected pre-join — no exchange carries the props payload") {
    val df = JoinQueries.j6.run(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // every exchange row schema must be narrow (user_id/k or customer
    // keys) — the wide JSON string stays below its scan's projection
    p.linesIterator.filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("props"), s"props crossed an exchange:\n$p")
    }
    val readSchema = p.linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n")
    assert(readSchema.contains("props")) // parsed scan-side, then dropped
    // the entity side is pinned broadcast — a stats-estimate SMJ
    // fallback would shuffle the whole event stream
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("A5 valuation: both rate dimensions broadcast — only the (block,pid) agg shuffles") {
    val p = plan(graft.queries.LedgerQueries.usdValuation)
    // one broadcast per rate dimension (pid rates + BTC/USD)
    assert(p.split("BroadcastExchange").length - 1 >= 2,
      s"expected both rate dims broadcast:\n$p")
    // volumes aggregate with a partial (map-side) stage before the exchange
    assert(p.split("HashAggregate").length - 1 >= 2)
  }

  test("A5 txStats: the 24h window is partitioned (by day), never a global single-partition window") {
    val df = graft.queries.LedgerQueries.txStatsDomain.run(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // a global window would need an Exchange SinglePartition somewhere
    // in the plan — forbid the shape outright, wherever it appears
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition exchange detected:\n$p")
    assert(p.contains("Window"), s"expected a (partitioned) window:\n$p")
  }

  test("ANN brute: two-phase top-k — partial agg keyed by (qid, partition), no ranking window") {
    val p = plan(graft.queries.SimilarityQueries.annBrute)
    assert(!p.contains("Window"), s"ranking window crept back in:\n$p")
    // per-(qid, partition) partial stage + final per-qid merge
    assert(p.split("ObjectHashAggregate").length - 1 >= 2, p)
  }

  test("sampling: stratified downsample is map-side only — no hash shuffle, no join, no agg") {
    val p = plan(graft.queries.CurationQueries.stratified)
    assert(!p.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"), s"unexpected op:\n$p")
  }

  test("S10: partition filter binds to the directory layout, not the data scan") {
    val df = graft.queries.SourceQueries.partitionedWrite.run(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") &&
      p.replaceAll("\\s", "").contains("PartitionFilters:[isnotnull(event_type"),
      s"partition pruning missing:\n$p")
    // the pruned column must NOT be read from data files
    val readSchema = p.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse("").split("ReadSchema:").last
    assert(!readSchema.contains("event_type"), readSchema)
  }

  test("KMeans: assignment is zero-shuffle — no exchange, no join, argmin inside codegen") {
    val base = graft.queries.SimilarityQueries.quantized(spark, dir)
    val cs = graft.operators.KMeans.centroids(base, 8, 2)
    val p = graft.operators.KMeans.assign(base, cs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"assignment shuffled:\n$p")
    assert(!p.contains("Join"), s"assignment joined:\n$p")
  }

  test("A17: rollup is one shuffle with map-side partial aggregation (Expand before Exchange)") {
    val df = AggQueries.a17.run(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Expand"), p)
    val exchanges = p.split("Exchange hashpartitioning").length - 1
    assert(exchanges == 1, s"expected 1 hash exchange:\n$p")
    assert(p.split("HashAggregate").length - 1 >= 2, s"no partial agg:\n$p")
  }

  test("TFIDF: the vocabulary-sized DF table joins broadcast — token stream not shuffled for it") {
    val p = plan(graft.queries.TextQueries.tfidf)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("A21: the per-key stats table broadcasts — outlier flagging never shuffles the facts") {
    val p = plan(AggQueries.a21)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("J12: the interval dimension broadcasts; the bucket equi-key carries the join") {
    val p = plan(JoinQueries.j12)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to nested-loop:\n$p")
  }

  test("BPE pairs: top-k is TakeOrdered over a vocabulary-sized agg, never a global sort") {
    val p = plan(graft.queries.TextQueries.bpePairs)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), s"global sort crept in:\n$p")
  }

  test("fixed chunking: map-side only — no shuffle, join, or agg before the output ordering") {
    val p = plan(graft.queries.TextQueries.fixedChunks)
    assert(!p.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"), s"unexpected op:\n$p")
  }

  test("token-budget mixing: source rates broadcast back — the corpus is never shuffled for the join") {
    val p = plan(graft.queries.CurationQueries.mixBudget)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("hygiene pipeline: bench/contam/keeper sets all broadcast; no global window") {
    // stages 1–3 carry the joins; the packing stage materializes
    // through SequencePacker's RDD seam, so assert on the pre-packing
    // plan (the final plan is scan-of-RDD → one agg)
    val surv = graft.queries.HygieneQueries
      .pipelineSurvivors(spark, dir)
      .queryExecution.executedPlan.toString
    assert(surv.split("BroadcastHashJoin").length - 1 >= 3, surv)
    assert(!surv.contains("SortMergeJoin"), surv)
    assert(!surv.contains("Exchange SinglePartition"),
      s"single-partition exchange in the pipeline:\n$surv")
    val p = plan(graft.queries.HygieneQueries.pipeline)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition exchange in the packed output:\n$p")
    releaseScopedCaches()
  }

  test("e2e ingest: rate dim broadcast; no single-partition exchange on the data path") {
    val p = plan(graft.queries.PipelineQueries.e2eIngest)
    // the 1-row rates dim must broadcast into the serving join
    assert(p.contains("BroadcastHashJoin"), p)
    // serials come from the range-partition stamper, never a global
    // window — no stage may collapse the ledger to one partition
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition exchange in e2e ingest:\n$p")
    releaseScopedCaches()
  }

  test("e2e ingest full: mixed-type derivation broadcasts its dims; no single-partition exchange") {
    val p = plan(graft.queries.PipelineQueries.e2eIngestFull)
    // rates (2 rows) and the registry name dim must broadcast into the
    // serving joins; the eleven-type union + stamper + folds must never
    // collapse the stream to one partition — the whole point of gating
    // the reference main loop as ONE plan is that its scale shape is
    // inspectable here
    assert(p.split("BroadcastHashJoin").length - 1 >= 2, p)
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition exchange in e2e ingest full:\n$p")
    releaseScopedCaches()
  }

  test("e2e ingest chain: UTXO resolution is a distributed equi-join; no single-partition exchange") {
    // The vin→vout spend resolution is fact⋈fact. Since the r14 stamper
    // port, the stamped stream reads from a columnar cache whose stats
    // are ACCURATE BYTES, so at this fixture's size the planner
    // legitimately broadcasts the (tiny) build side — and at 100 TB the
    // same accurate stats blow past the threshold and it plans as a
    // shuffle join. Pin the protective property directly: with
    // auto-broadcast OFF, the resolution must degrade to a shuffled
    // EQUI-join (sort-merge/shuffled-hash), never a nested loop or a
    // cartesian — i.e. the join is keyed, and only size-adaptive
    // planning (not an unconditional broadcast) puts the fixture on
    // the broadcast path.
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pNoBc = plan(graft.queries.PipelineQueries.e2eIngestChain)
      assert(pNoBc.contains("SortMergeJoin") ||
        pNoBc.contains("ShuffledHashJoin"), pNoBc)
      assert(!pNoBc.contains("CartesianProduct") &&
        !pNoBc.contains("BroadcastNestedLoopJoin"), pNoBc)
      releaseScopedCaches()
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    val q = graft.queries.PipelineQueries.e2eIngestChain.run(spark, dir)
    val p = q.queryExecution.executedPlan.toString
    // wallet map and pending tallies broadcast into the serving join
    assert(p.split("BroadcastHashJoin").length - 1 >= 2, p)
    // with auto-broadcast ON, size-adaptive planning may broadcast the
    // vin→vout join, but only its smaller ESTIMATED side, and only one
    // under the threshold — a stats misestimate that made the planner
    // broadcast the larger UTXO side trips here
    locally {
      import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
      import org.apache.spark.sql.catalyst.plans.logical.Join
      import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
        ShuffledHashJoinExec, SortMergeJoinExec}
      val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
      def utxo(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
        keys.exists(_.references.exists(_.name == "pTxid"))
      val joins = q.queryExecution.sparkPlan.collect {
        case b: BroadcastHashJoinExec if utxo(b.leftKeys ++ b.rightKeys) =>
          Some(b)
        case j: SortMergeJoinExec if utxo(j.leftKeys ++ j.rightKeys) => None
        case j: ShuffledHashJoinExec if utxo(j.leftKeys ++ j.rightKeys) => None
      }
      assert(joins.nonEmpty, s"no vin→vout equi-join in the plan:\n$p")
      joins.flatten.foreach { b =>
        val j = b.logicalLink.collect { case j: Join => j }
          .getOrElse(fail(s"broadcast join without its logical join:\n$b"))
        val (build, probe) = b.buildSide match {
          case BuildLeft => (j.left, j.right)
          case BuildRight => (j.right, j.left)
        }
        val (bs, ps) = (build.stats.sizeInBytes, probe.stats.sizeInBytes)
        assert(bs <= ps, s"vin→vout broadcasts its larger side: $bs > $ps bytes")
        assert(bs <= threshold, s"vin→vout broadcasts $bs bytes > $threshold")
      }
    }
    // serials from the W1 stamper, chain windows partitioned by ck —
    // nothing may collapse the ledger to one partition
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition exchange in e2e ingest chain:\n$p")
    releaseScopedCaches()
  }

  test("s8 sink roundtrip: read-back joins the metadata-scale file stats broadcast") {
    val p = plan(graft.queries.SourceQueries.sinkRoundtrip)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition exchange in sink roundtrip:\n$p")
    releaseScopedCaches()
  }

  /** These plan probes EXECUTE query builders that register scoped
    * caches and the stamper RDD; release them so the shared test
    * session carries no resident blocks into later suites (the
    * CacheHygieneSpec invariant must not depend on suite order).
    */
  private def releaseScopedCaches(): Unit =
    CacheScope.release()

  test("semantic dedup: intra-cluster pairing is an equi-join, never a nested loop") {
    val p = plan(graft.queries.SimilarityQueries.semanticDedup)
    // the only quadratic-risk stage is the cluster-local self-join —
    // it must key on the cluster id (hash or sort-merge or broadcast
    // HASH), never degrade to a cartesian/nested-loop pairing
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition exchange in semantic dedup:\n$p")
    releaseScopedCaches()
  }

  test("semantic dedup at production k: same plan hygiene as the fixed-k gate") {
    // k = ceil(sqrt N) and derived banding must not change the plan
    // class: the pair scan stays an equi-join keyed on (cluster[,band]),
    // never a cartesian/nested-loop, and nothing funnels one partition
    val p = plan(graft.queries.SimilarityQueries.semanticDedupSqrtK)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition exchange in sqrt-k semantic dedup:\n$p")
    releaseScopedCaches()
  }

  test("line dedup: first-occurrence exchange carries hash+ids, never the line text") {
    val q = graft.queries.TextQueries.lineDedup.run(spark, dir)
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition exchange in line dedup:\n$p")
    // the dedup-resolution aggregate (groupBy h -> min(doc,chunk))
    // must not shuffle the line text: a map-side PARTIAL min must run
    // before the exchange, so what crosses it is (hash, min-struct)
    // only. `min(` alone would match the final aggregate whether or
    // not a partial exists — pin the partial explicitly.
    assert(p.contains("partial_min"),
      s"no map-side partial_min before the line-dedup exchange:\n$p")
    releaseScopedCaches()
  }

  test("A6 ticker domain: offer construction is columnar — no object round-trip") {
    // Round 9 replaced a typed .as[tuple].map{...ActiveOffer} lambda
    // (a per-row deserialize -> Scala object -> serialize round-trip
    // outside codegen; measured 3.44 -> 2.70 s at sf0.1) with a
    // columnar select + as[ActiveOffer]. Pin the shape: any return of
    // object code shows up as (De)Serialize/MapElements operators.
    val p = plan(graft.queries.MetaDexQueries.tickerDomain)
    assert(!p.contains("DeserializeToObject"),
      s"object deserialization returned to the a6 offer build:\n$p")
    assert(!p.contains("SerializeFromObject"),
      s"object serialization returned to the a6 offer build:\n$p")
    assert(!p.contains("MapElements"),
      s"typed map lambda returned to the a6 offer build:\n$p")
  }

  test("stamper: the cached stamp is columnar — no object or RDD operator under its InMemoryRelation") {
    // The serial stamper pins its tagged rows as a columnar cache and
    // stamps with expression arithmetic. Any return of the RDD form
    // (.rdd.mapPartitionsWithIndex + createDataset/createDataFrame)
    // shows up under the cache as an object (de)serialization, a
    // MapPartitions, or an ExternalRDD/LogicalRDD leaf.
    import graft.operators.{GlobalSerial, OmniPipeline}
    import graft.streaming.IncrementalIngest
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val forbidden = Seq("DeserializeToObject", "SerializeFromObject",
      "MapPartitions", "ExternalRDD", "LogicalRDD", "RDDScan")
    def cachedPlans(ds: org.apache.spark.sql.Dataset[_]): Seq[String] =
      ds.queryExecution.withCachedData.collect { case r: InMemoryRelation =>
        r.cacheBuilder.logicalPlan.treeString + r.cacheBuilder.cachedPlan.treeString
      }
    val factsDir = java.nio.file.Files.createTempDirectory("graft_plan_facts").toString
    IncrementalIngest.ingest(spark, spark.createDataset(Seq(
      Fixtures.grant(Fixtures.A, Fixtures.A, BigDecimal("100"), block = 1),
      Fixtures.simpleSend(Fixtures.A, Fixtures.B, BigDecimal("10"), block = 2))),
      factsDir)
    // a two-range store: its second derive reuses the pinned range 0
    val chainDir = java.nio.file.Files.createTempDirectory("graft_plan_derive").toString
    IncrementalIngest.ingest(spark, spark.createDataset(Seq(
      Fixtures.grant(Fixtures.A, Fixtures.A, BigDecimal("100"), block = 1),
      Fixtures.simpleSend(Fixtures.A, Fixtures.B, BigDecimal("10"), block = 1500))),
      chainDir)
    try {
      val stamped = OmniPipeline.withSerials(
        IncrementalIngest.readFacts(spark, factsDir))
      val assigned = GlobalSerial.assign(
        Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("k", "v"), "serial", col("k"))
      IncrementalIngest.derive(spark, chainDir)
      IncrementalIngest.ingest(spark, spark.createDataset(Seq(
        Fixtures.simpleSend(Fixtures.B, Fixtures.C, BigDecimal("1"), block = 1600))),
        chainDir)
      val derived = IncrementalIngest.derive(spark, chainDir).txs
      // derive's stream: the pinned segment plus this call's stamper cache
      Seq(("withSerials", cachedPlans(stamped), 1),
          ("GlobalSerial.assign", cachedPlans(assigned), 1),
          ("IncrementalIngest.derive", cachedPlans(derived), 2)).foreach {
        case (what, plans, n) =>
          assert(plans.size == n, s"$what: expected $n cached relations, got ${plans.size}")
          for (plan <- plans; op <- forbidden)
            assert(!plan.contains(op), s"$what: $op under a stamped cache:\n" +
              plan.linesIterator.map(_.take(120)).mkString("\n"))
      }
      assert(stamped.collect().map(_._2).sorted.toSeq == Seq(1L, 2L))
      assert(derived.collect().map(_._2).sorted.toSeq == Seq(1L, 2L, 3L))
    } finally {
      IncrementalIngest.release()
      CacheScope.release()
    }
  }

  test("bench fullEval: the order-insensitive wrapper eliminates the final sort") {
    // Pins the fullEval residual documented in Bench.scala: an
    // order-insensitive aggregate placed on top of a query (fullEval's
    // hash/xor fold) lets EliminateSorts drop the presentation ORDER BY,
    // so its cost goes untimed. If Catalyst ever stops eliminating the
    // sort under the wrapper, the residual note in Bench.scala is stale.
    import org.apache.spark.sql.functions.{col, struct, xxhash64}
    val q = AggQueries.a4.run(spark, dir) // ends in a plain global ORDER BY
    assert(q.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.Sort],
      s"a4 no longer ends in a sort, so this pins nothing:\n${q.queryExecution.optimizedPlan}")
    val wrapped = q
      .select(xxhash64(struct(q.columns.map(col): _*)).as("h"))
      .agg(org.apache.spark.sql.functions.expr("bit_xor(h)"))
    val wp = wrapped.queryExecution.executedPlan.toString
    assert(!wp.contains("SortExec") && !wp.contains("TakeOrdered"),
      s"sort survived under the order-insensitive wrapper — fullEval residual note is stale:\n$wp")
  }
}
