package graft

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** M4 at flagship scale (round-7 verdict ask #6): reorg-rollback of the
  * 19-type `e2e_ingest_full` stream. The reference's strongest contract
  * (reorgRollback sql.py:85-218) is that rolled-back state is
  * indistinguishable from a chain where the orphaned blocks never
  * existed. Here: `fullServe(raw, fork=Some(f))` (the M4 truncate
  * operator applied to the PARSED stream — rollback) must byte-equal
  * `fullServe(prefix)` where the prefix is the node feed filtered to
  * blocks ≤ f BEFORE parse (a fresh sync that never saw the suffix).
  *
  * Two mid-epilogue forks make the rollback non-trivial state surgery:
  *  - mid-PURCHASES: half the −22 BTC settlements vanish, so the DEx
  *    fold must re-open exactly the settled accepts (accepted holds
  *    restored, serving rows re-join);
  *  - mid-ADMIN (after every 55 grant, before every 56 revoke): the
  *    negative managed balances, issuer changes and MetaDEx cancels
  *    all roll back, and every serial the +10 activation shift pinned
  *    must re-derive identically for the untouched prefix.
  */
class FullReorgSpec extends SparkTestBase {

  test("flagship reorg: truncate + re-derive == fresh run of the prefix") {
    val s = spark
    val dir = "/root/testdata/sf0.001"
    val (raw, tip) = queries.PipelineQueries.fullRaw(s, dir)

    val dims = Tables.t(s, dir, "orders")
      .agg(max("o_orderkey"), max("o_custkey")).head()
    val purBase = dims.getLong(0) + 200L
    val closeBase = purBase + dims.getLong(1) + 1L
    val adminBase = closeBase + 1000L

    def run(feed: org.apache.spark.sql.DataFrame, atTip: Long,
        fork: Option[Long]): Seq[org.apache.spark.sql.Row] = {
      val rows = queries.PipelineQueries.fullServe(s, dir, feed, atTip, fork)
        .collect().toSeq
      CacheScope.release()
      rows
    }

    val full = run(raw, tip, None)
    val forks = Seq(
      ("mid-purchases", purBase + dims.getLong(1) / 2),
      ("mid-admin", adminBase + 199L))
    forks.foreach { case (label, fork) =>
      val rolledBack = run(raw, fork, Some(fork))
      val prefix = raw.where(
        get_json_object(col("payload"), "$.block").cast("long") <= fork)
      val fresh = run(prefix, fork, None)
      assert(rolledBack == fresh,
        s"$label: rollback != fresh prefix run (fork=$fork)")
      // the fork must actually bite, or the equality is vacuous
      assert(rolledBack != full, s"$label: fork=$fork truncated nothing")
    }
  }

  test("m4 fork scheduling: sequential == co-resident") {
    // The scale-adaptive schedule (PipelineQueries.m4Sequential) only
    // trades latency against peak scratch — both forms must produce
    // identical rows, or the policy would change answers by data size.
    val s = spark
    val dir = "/root/testdata/sf0.001"
    val (raw, _) = queries.PipelineQueries.fullRaw(s, dir)
    val dims = Tables.t(s, dir, "orders")
      .agg(max("o_orderkey"), max("o_custkey")).head()
    val purBase = dims.getLong(0) + 200L
    val adminBase = purBase + dims.getLong(1) + 1L + 1000L
    val forks = Seq(
      ("mid_purchases", purBase + dims.getLong(1) / 2L),
      ("mid_admin", adminBase + 199L))

    def run(sequential: Boolean): Seq[org.apache.spark.sql.Row] = {
      val rows = queries.PipelineQueries
        .m4ForkUnion(s, dir, raw, forks, sequential)
        .orderBy("fork_label", "walletId", "address", "propertyId")
        .collect().toSeq
      CacheScope.release()
      rows
    }

    val seq = run(sequential = true)
    val co = run(sequential = false)
    assert(seq.nonEmpty, "fork union returned no rows")
    assert(seq == co, "sequential and co-resident fork serves diverge")
  }

  test("m4 sequential serve under spark.graft.reliableCheckpoint: " +
      "identical rows, checkpoint files freed on release, loud no-dir") {
    val s = spark
    val dir = "/root/testdata/sf0.001"
    val (raw, _) = queries.PipelineQueries.fullRaw(s, dir)
    val dims = Tables.t(s, dir, "orders")
      .agg(max("o_orderkey"), max("o_custkey")).head()
    val purBase = dims.getLong(0) + 200L
    val forks = Seq(("mid_purchases", purBase + dims.getLong(1) / 2L))

    def run(): Seq[org.apache.spark.sql.Row] = {
      val rows = queries.PipelineQueries
        .m4ForkUnion(s, dir, raw, forks, sequential = true)
        .orderBy("fork_label", "walletId", "address", "propertyId")
        .collect().toSeq
      CacheScope.release()
      rows
    }

    val base = run()
    // reliable mode with NO directory anywhere fails loudly at the
    // snapshot site (must run before any setCheckpointDir on the shared
    // sc — setCheckpointDir is sticky for the session)
    assume(s.sparkContext.getCheckpointDir.isEmpty)
    s.conf.set(GraftCheckpoint.EnabledKey, "true")
    try {
      val e = intercept[IllegalStateException](run())
      assert(e.getMessage.contains(GraftCheckpoint.DirKey))

      val ckDir = java.nio.file.Files
        .createTempDirectory("graft_reliable_ck")
      s.conf.set(GraftCheckpoint.DirKey, ckDir.toString)
      val rel = run()
      assert(rel == base,
        "reliable checkpoint changed the m4 sequential serve's rows")
      // release (inside run) freed the snapshot FILES, not just blocks
      def rddDirs(p: java.nio.file.Path): Seq[String] = {
        val st = java.nio.file.Files.walk(p)
        try st.iterator().asScala.toSeq
          .map(_.getFileName.toString).filter(_.startsWith("rdd-"))
        finally st.close()
      }
      assert(rddDirs(ckDir).isEmpty,
        s"reliable checkpoint files leaked after release: ${rddDirs(ckDir)}")
    } finally {
      s.conf.unset(GraftCheckpoint.EnabledKey)
      s.conf.unset(GraftCheckpoint.DirKey)
    }
  }

  test("m4 auto schedule flips sequential exactly at the row threshold") {
    assert(!queries.PipelineQueries.m4Sequential(50000000L - 1))
    assert(queries.PipelineQueries.m4Sequential(50000000L))
  }
}
