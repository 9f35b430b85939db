package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Executor-loss demonstrations under a REAL process boundary (r11
  * verdict ask #2; r12 "what's missing" #3): under `local-cluster[2,
  * ...]` — two separately-spawned executor JVMs — force-kill one (a
  * hard `destroyForcibly`, the real failure, not a polite
  * decommission) at three different placements relative to a
  * `spark.graft.reliableCheckpoint` snapshot, and require the answer
  * unchanged:
  *
  *  - `snapshot` (default): kill BETWEEN snapshot and consume — the
  *    snapshot's blocks must be FILES, not executor memory (with the
  *    default localCheckpoint this is unrecoverable by design:
  *    lineage is truncated).
  *  - `midserve`: kill WHILE the consuming stage is running — half
  *    the in-flight tasks die with their executor; the stage retry
  *    must re-read the checkpoint files and finish with the same
  *    answer.
  *  - `m4`: the real thing — the m4 sequential fork serve from the
  *    registry (PipelineQueries.m4ForkUnion, the schedule whose
  *    whole point is the reliable snapshot of the stamped prefix),
  *    with the kill landing MID-SERVE; rows must equal the pre-kill
  *    serve's. This is the stage-retry × reliable-checkpoint-re-read
  *    interaction that the between-steps placement could not show.
  *
  * Run via `tools/run_multijvm_demo.sh [mode]`; prints
  * `MJVM_DEMO ok mode=... ` and exits 0 on success. Kept out of CI
  * (needs SPARK_HOME + spawned JVMs); the env-gated `MultiJvmSpec`
  * shells out to it.
  */
object MultiJvmDemo {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption
      .getOrElse(sys.env.getOrElse("GRAFT_KILL_MODE", "snapshot"))
    val ckDir =
      java.nio.file.Files.createTempDirectory("graft_mjvm_ck").toString
    val spark = GraftConf(SparkSession.builder()
      .master(sys.env.getOrElse("GRAFT_MASTER", "local-cluster[2,4,2048]"))
      .config("spark.sql.shuffle.partitions", "8")
      .config(GraftCheckpoint.EnabledKey, "true")
      .config(GraftCheckpoint.DirKey, ckDir))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    // wait until BOTH executors registered (driver + 2 entries)
    val deadline = System.currentTimeMillis() + 90000
    while (sc.getExecutorMemoryStatus.size < 3 &&
        System.currentTimeMillis() < deadline) Thread.sleep(250)
    require(sc.getExecutorMemoryStatus.size >= 3,
      s"expected 2 executors, saw ${sc.getExecutorMemoryStatus.size - 1}")

    mode match {
      case "snapshot" => demoSnapshot(spark)
      case "midserve" => demoMidServe(spark)
      case "m4" => demoM4(spark)
      case other => throw new IllegalArgumentException(
        s"unknown kill mode '$other' (snapshot | midserve | m4)")
    }
    spark.stop()
  }

  /** Hard-kill ONE executor JVM (they are children of this process);
    * returns its pid. The local-cluster Worker supervises executors,
    * so a replacement respawns — the kill is still a real mid-flight
    * process death for everything that was running or stored there.
    */
  private def killOneExecutor(): Long = {
    val executorJvms = ProcessHandle.current().descendants().iterator()
      .asScala
      .filter(_.info().commandLine().map[Boolean](
        _.contains("CoarseGrainedExecutorBackend")).orElse(false))
      .toList
    require(executorJvms.nonEmpty, "no executor JVMs found to kill")
    val victim = executorJvms.head
    victim.destroyForcibly()
    victim.onExit().get(30, java.util.concurrent.TimeUnit.SECONDS)
    victim.pid()
  }

  /** A shuffle-bearing result whose blocks land on both executors. */
  private def shuffled(spark: SparkSession) = {
    import spark.implicits._
    spark.range(0L, 1000000L, 1L, 16)
      .select(($"id" % 1000L).as("k"), $"id".as("v"))
      .groupBy($"k").agg(sum($"v").as("s"))
  }

  private def demoSnapshot(spark: SparkSession): Unit = {
    import spark.implicits._
    val df = shuffled(spark)
    val expected = df.agg(sum($"s")).head().getLong(0)
    val snap = GraftCheckpoint.snapshot(df) // eager reliable checkpoint
    val killedPid = killOneExecutor()
    Thread.sleep(2000) // let the scheduler register the loss

    // consume THROUGH the snapshot: must survive the dead executor
    val got = snap
      .agg(sum($"s").as("t"), count(lit(1)).as("n")).head()
    require(got.getLong(0) == expected && got.getLong(1) == 1000L,
      s"post-kill answer diverged: sum=${got.getLong(0)} (want $expected) " +
        s"rows=${got.getLong(1)} (want 1000)")
    println(s"MJVM_DEMO ok mode=snapshot sum=${got.getLong(0)} " +
      s"rows=${got.getLong(1)} killedPid=$killedPid")
  }

  /** Kill DURING the consuming stage: every task sleeps long enough
    * that the kill provably lands while tasks are in flight on the
    * victim; the retried tasks must re-read the checkpoint files.
    */
  private def demoMidServe(spark: SparkSession): Unit = {
    import spark.implicits._
    val df = shuffled(spark)
    val expected = df.agg(sum($"s")).head().getLong(0)
    val snap = GraftCheckpoint.snapshot(df)

    @volatile var killedPid = -1L
    @volatile var killedAt = -1L
    val killer = new Thread(() => {
      Thread.sleep(1500)
      killedPid = killOneExecutor()
      killedAt = System.currentTimeMillis()
    })
    killer.setDaemon(true)
    val slowed = snap.as[(Long, Long)]
      .mapPartitions { it => Thread.sleep(5000); it }
    killer.start()
    val got = slowed.toDF("k", "s")
      .agg(sum($"s").as("t"), count(lit(1)).as("n")).head()
    val servedAt = System.currentTimeMillis()
    killer.join(60000)
    require(killedAt > 0 && killedAt < servedAt,
      s"kill did not land inside the serve (killedAt=$killedAt " +
        s"servedAt=$servedAt) — demo vacuous")
    require(got.getLong(0) == expected && got.getLong(1) == 1000L,
      s"mid-serve answer diverged: sum=${got.getLong(0)} (want $expected) " +
        s"rows=${got.getLong(1)} (want 1000)")
    println(s"MJVM_DEMO ok mode=midserve sum=${got.getLong(0)} " +
      s"rows=${got.getLong(1)} killedPid=$killedPid " +
      s"killToFinishMs=${servedAt - killedAt}")
  }

  /** The REAL m4 sequential fork serve with an executor dying
    * mid-serve. The serve's own reliable snapshot of the stamped
    * prefix (OmniPipeline.deriveStamped under
    * spark.graft.reliableCheckpoint) is the recovery path being
    * proven: stage retries after the kill re-read checkpoint FILES,
    * not dead-executor blocks, and the rows must match the pre-kill
    * serve bit for bit.
    */
  private def demoM4(spark: SparkSession): Unit = {
    val dir = sys.env.getOrElse("GRAFT_M4_DIR", "/root/testdata/sf0.001")
    val (raw, _) = queries.PipelineQueries.fullRaw(spark, dir)
    val dims = Tables.t(spark, dir, "orders")
      .agg(max("o_orderkey"), max("o_custkey")).head()
    val purBase = dims.getLong(0) + 200L
    val forks = Seq(
      ("mid_purchases", purBase + dims.getLong(1) / 2L),
      ("post_admin", purBase * 2L))

    def serve(): Seq[Row] = {
      val rows = queries.PipelineQueries
        .m4ForkUnion(spark, dir, raw, forks, sequential = true)
        .orderBy("fork_label", "walletId", "address", "propertyId")
        .collect().toSeq
      CacheScope.release()
      rows
    }

    serve() // cold run: JVM/codegen warm-up, not the timing baseline
    val t0 = System.currentTimeMillis()
    val baseline = serve()
    val warmMs = System.currentTimeMillis() - t0
    require(baseline.nonEmpty, "m4 serve returned no rows")

    val delay = math.max(300L, warmMs / 4)
    @volatile var killedPid = -1L
    @volatile var killedAt = -1L
    val killer = new Thread(() => {
      Thread.sleep(delay)
      killedPid = killOneExecutor()
      killedAt = System.currentTimeMillis()
    })
    killer.setDaemon(true)
    killer.start()
    val got = serve()
    val servedAt = System.currentTimeMillis()
    killer.join(60000)
    require(killedAt > 0 && killedAt < servedAt,
      s"kill landed after the serve finished (delay=${delay}ms, " +
        s"warm serve=${warmMs}ms) — raise GRAFT_M4_DIR scale")
    require(got == baseline,
      s"m4 serve diverged after mid-serve executor kill: " +
        s"${got.size} rows vs ${baseline.size} baseline")
    println(s"MJVM_DEMO ok mode=m4 rows=${got.size} " +
      s"killDelayMs=$delay killedPid=$killedPid " +
      s"killToFinishMs=${servedAt - killedAt}")
  }
}
