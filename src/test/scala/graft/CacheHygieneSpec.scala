package graft

/** Verdict item: a long-lived session running registry queries must not
  * accumulate cache blocks. Every query-scoped persist/localCheckpoint
  * registers with [[CacheScope]]; after the action + release, the
  * session holds ZERO persistent RDDs — asserted here over the most
  * cache-heavy registered queries (minhash banding, connected
  * components' per-round checkpoints, the stamper cache, k-means base,
  * the dex fold, metadex window synthesis).
  */
class CacheHygieneSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private val heavy = Seq("dedup_minhash_lsh", "dedup_clusters",
    "dedup_retention", "curation_pipeline", "metadex_settlement",
    "dex_lifecycle_fold", "ml_kmeans_assign", "ledger_simple_send",
    "dedup_bloom_contain")

  test("mark/releaseSince frees only the marked phase's entries, in " +
      "registration order, leaving outer registrations scoped") {
    CacheScope.release() // clean slate
    val freed = scala.collection.mutable.ArrayBuffer.empty[String]
    CacheScope.defer(() => freed += "outer")
    val m = CacheScope.mark()
    CacheScope.defer(() => freed += "phase1")
    CacheScope.defer(() => freed += "phase2")
    CacheScope.releaseSince(m)
    assert(freed.toSeq == Seq("phase1", "phase2"),
      s"partial release freed: $freed")
    // a second phase after the partial release reuses the same scope
    val m2 = CacheScope.mark()
    CacheScope.defer(() => freed += "phase3")
    CacheScope.releaseSince(m2)
    assert(freed.toSeq == Seq("phase1", "phase2", "phase3"))
    // the ordinary end-of-query release still owns the outer entry
    CacheScope.release()
    assert(freed.toSeq == Seq("phase1", "phase2", "phase3", "outer"))
  }

  test("the sequentialized m4 forks leave zero persistent RDDs after " +
      "the harness release (the mid-query partial release composes " +
      "with end-of-query hygiene)") {
    assume(new java.io.File(dir).isDirectory)
    SparkEntry.queries("m4_reorg_flagship")(spark, dir).count()
    CacheScope.release()
    val left = spark.sparkContext.getPersistentRDDs
    assert(left.isEmpty,
      s"m4_reorg_flagship left ${left.size} cached RDDs: " +
        left.values.map(_.name).mkString(", "))
  }

  test("incremental derive: the pinned segments are the one cache left " +
      "after the harness release, and IncrementalIngest.release() frees them") {
    import graft.streaming.IncrementalIngest
    import spark.implicits._
    CacheScope.release() // clean slate
    val dir = java.nio.file.Files.createTempDirectory("graft_hygiene_derive").toString
    IncrementalIngest.ingest(spark, spark.createDataset(Seq(
      Fixtures.grant(Fixtures.A, Fixtures.A, BigDecimal("100"), block = 1),
      Fixtures.simpleSend(Fixtures.A, Fixtures.B, BigDecimal("10"), block = 1500))),
      dir)
    try {
      val d = IncrementalIngest.derive(spark, dir)
      Seq(d.balances, d.offers, d.accepts, d.properties).foreach(_.count())
      CacheScope.release()
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
        "the sealed range's segment did not survive the harness release")
      IncrementalIngest.release()
      val left = spark.sparkContext.getPersistentRDDs
      assert(left.isEmpty, s"derive left ${left.size} cached RDDs: " +
        left.values.map(_.name).mkString(", "))
    } finally IncrementalIngest.release()
  }

  test("cache-heavy queries leave zero persistent RDDs after release") {
    assume(new java.io.File(dir).isDirectory)
    val qmap = SparkEntry.queries
    heavy.foreach { name =>
      qmap(name)(spark, dir).count()
      // one release drops everything, including stamper caches (now
      // CacheScope-deferred, not a global slot)
      CacheScope.release()
      val left = spark.sparkContext.getPersistentRDDs
      assert(left.isEmpty,
        s"$name left ${left.size} cached RDDs: " +
          left.values.map(_.name).mkString(", "))
    }
  }
}
