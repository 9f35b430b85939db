package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType,
  MapType, StructType}

import graft.{CacheScope, GraftConf, Tables}
import graft.operators.{OmniPipeline, RatesEtl}
import graft.serving.WalletViews
import graft.sinks.BlockRangeSink
import graft.streaming.IncrementalIngest

/** The benchmark program: one JVM per run, `local[4]`, one closed-loop
  * client. Usage (normally through `perfbench/run.py`):
  * {{{
  * graft.perfbench.Main --workload follow|refresh|selfcheck --seed N
  *   --seconds S --trace 0|1 --sf SF_DIR --root CHECKOUT --out RESULT.json
  * }}}
  * It writes one result file; `run.py` adds the DuckDB oracle check and
  * prints the result line.
  */
object Main {
  val Cores = 4
  /** the schedule `follow` warms up on, the same in every run */
  val WarmupSeed = 0L
  /** `follow` reorgs a run makes at the least */
  val MinReorgs = 2
  /** `refresh` iterations a run makes at the least */
  val MinIterations = 2

  final class Ctx(val spark: SparkSession, val rec: Recorder,
      val work: Path, val seconds: Double, val trace: Boolean) {
    var attempted = 0
    var failed = 0
    val checks = mutable.LinkedHashMap.empty[String, String]
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def metric(name: String, v: Double, unit: String): Unit =
      metrics(name) = (v, unit)
    def check(name: String, ok: Boolean, detail: String): Unit = {
      checks(name) = (if (ok) "ok: " else "FAILED: ") + detail
      if (!ok) System.err.println(s"[perfbench] check $name failed: $detail")
    }
    def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  }

  private val jvmStart = System.nanoTime()
  /** progress on stderr, seconds since the JVM started */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - jvmStart) / 1e9}%7.2f s] $msg")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val trace = a.getOrElse("trace", "0") == "1"
    val root = Paths.get(a("root")).toAbsolutePath
    val sfDir = a("sf")
    val work = root.resolve("perfbench/.work")
    Gen.deleteTree(work)
    Files.createDirectories(work)
    val cache = root.resolve("perfbench/.cache")
      .resolve(Paths.get(sfDir).getFileName.toString)
    if (trace) CountingLocalFs.root = work.resolve("store").toString

    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (trace) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFs].getName)
    val spark = GraftConf(b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = new Recorder(spark, s"$workload-${a("seed")}-${System.currentTimeMillis}")
    val ctx = new Ctx(spark, rec, work, a("seconds").toDouble, trace)
    // JVM start to a live session: part of every run's set-up
    ctx.metric("session_s", (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3, "s")
    log("session up")
    val calStart = boxStamp()
    try {
      if (trace) {
        val fs = new org.apache.hadoop.fs.Path(work.toUri)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(fs.isInstanceOf[CountingLocalFs],
          s"counting file system not installed: ${fs.getClass}")
      }
      val feed = Gen.ensureFeed(spark, sfDir, cache)
      log(s"feed ready: ${feed.rows} txs, ${feed.heights.length} heights")
      def schedule(seed: Long) = {
        val s = Gen.ensureSeed(feed, seed)
        log(s"seed $seed ready: ${s.follow.size} follow ops")
        s
      }
      workload match {
        case "follow" => new Follow(ctx, feed,
          schedule(a("seed").toLong), schedule(WarmupSeed)).run()
        case "refresh" =>
          new Refresh(ctx, feed, schedule(a("seed").toLong), sfDir).run()
        case "selfcheck" => SelfCheck.run(ctx, feed, sfDir)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (trace) rec.write(work.resolve("spans.jsonl"))
      log("done")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.check("run", ok = false, e.toString.replace('"', '\''))
        ctx.failed = math.max(ctx.failed, 1)
        ctx.attempted = math.max(ctx.attempted, 1)
    }
    val calEnd = boxStamp()
    def js(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val metrics = ctx.metrics.map { case (k, (v, u)) =>
      s"${js(k)}:{\"value\":${if (v.isNaN || v.isInfinite) 0.0 else v},\"unit\":${js(u)}}"
    }.mkString(",")
    val checks = ctx.checks.map { case (k, v) => s"${js(k)}:${js(v)}" }.mkString(",")
    Files.writeString(Paths.get(a("out")),
      s"""{"workload":${js(workload)},"attempted":${ctx.attempted},""" +
        s""""failed":${ctx.failed},"checks":{$checks},"metrics":{$metrics},""" +
        s""""calibration":{"start":$calStart,"end":$calEnd,"probe":"lcg1M_sort_xor_median3"},""" +
        s""""work":${js(work.toString)},"cache":${js(cache.toString)}}""")
    rec.close()
    spark.stop()
  }

  // ---- shared helpers ----

  /** A box-speed stamp taken at the start and end of every run, so drift
    * of the machine between runs can be told apart from drift of the
    * benchmark. A record, not a metric: the median seconds of three
    * passes of an LCG fill, sort and xor over 1M longs, on one thread
    * (`st`) and on four at once (`par4`) — the probe of
    * `Bench.calibrationJson` at a quarter of its size (~0.5 s a stamp). */
  def boxStamp(): String = {
    val n = 1000 * 1000
    def one(seed0: Long): Long = {
      val a = new Array[Long](n)
      var seed = seed0
      var i = 0
      while (i < n) {
        seed = seed * 6364136223846793005L + 1442695040888963407L
        a(i) = seed
        i += 1
      }
      java.util.Arrays.sort(a)
      var x = 0L
      i = 0
      while (i < n) { x ^= a(i); i += 1 }
      x
    }
    def pass(threads: Int): Double = median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val ths = (0 until threads).map { t =>
        val th = new Thread(() => require(one(0x9E3779B97F4A7C15L + t) != 42L))
        th.start(); th
      }
      ths.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    })
    f"""{"st":${pass(1)}%.4f,"par4":${pass(Cores)}%.4f}"""
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** nearest-rank percentile */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  private def containsMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case a: ArrayType => containsMap(a.elementType)
    case _ => false
  }

  /** `Bench.fullEval`'s action (xxhash64 over every column, xor-folded
    * to one row), returning (rows, xor) so repeated runs can be compared. */
  def evalHash(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.map { f =>
      val c = col("`" + f.name + "`")
      if (containsMap(f.dataType)) to_json(c) else c
    }
    val r = df.select(xxhash64(struct(cols.toSeq: _*)).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Row-multiset digest of tx facts: (rows, exact sum of row hashes). */
  def factsDigest(df: DataFrame): (Long, BigDecimal) = {
    val r = Gen.txCols(df)
      .select(xxhash64(struct(IncrementalIngest.rawTxSchema.fieldNames
        .map(col).toSeq: _*)).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  def readDrop(spark: SparkSession, f: Path): DataFrame =
    IncrementalIngest.readRawJson(spark, f.toString).toDF()

  /** Per-op layer metrics from the traced spans. */
  def layerMetrics(ctx: Ctx, nOps: Int, opSpan: String,
      untracedOps: Seq[Double]): Unit = {
    val spans = ctx.rec.closed()
    val n = math.max(1, nOps).toDouble
    def named(nm: String) = spans.filter(_._1.name == nm)
    def c(s: (Recorder.Span, Double), k: String) = s._1.counts.getOrElse(k, 0.0)
    def total(nm: String, k: String) = named(nm).map(c(_, k)).sum
    def meanWall(nm: String) = {
      val xs = named(nm); if (xs.isEmpty) 0.0 else xs.map(_._1.wall).sum / xs.size
    }
    def meanNote(nm: String, k: String) = {
      val xs = named(nm); if (xs.isEmpty) 0.0 else xs.map(c(_, k)).sum / xs.size
    }
    val m = ctx.metric _
    m("stream.restart_s", named("stream").map(_._2).sum / n, "s")
    m("stream.log_commit_s", total("stream", "log_commit_s") / n, "s")
    m("ingest.cycle_s", named("ingest.cycle").map(_._1.wall).sum / n, "s")
    m("ingest.rows_admitted", total("ingest.cycle", "rows_out") / n, "count")
    m("ingest.input_bytes", total("ingest.cycle", "input_bytes") / n, "B")
    Seq("list", "open", "create", "rename", "delete").foreach { k =>
      m(s"sink.fs_${k}_calls", total("ingest.cycle", s"fs_$k") / n, "count")
    }
    m("sink.ranges_touched", total("ingest.cycle", "ranges_touched") / n, "count")
    val written = total("ingest.cycle", "bytes_written")
    m("sink.bytes_written", written / n, "B")
    m("sink.write_amp", written / math.max(1.0, total("ingest.cycle", "input_bytes")), "ratio")
    m("sink.stats_s", meanWall("sink.stats"), "s")
    m("sink.watermark_s", meanWall("sink.watermark"), "s")
    m("sink.drop_above_s", meanWall("sink.drop_above"), "s")
    m("sink.store_files", meanNote("sink.stats", "store_files"), "count")
    m("sink.store_ranges", meanNote("sink.stats", "store_ranges"), "count")
    // IncrementalIngest.derive reads the store (file index listing, tip
    // probe) and then stamps; its read part runs from the call's start
    // to the end of the last job started from BlockRangeSink
    val derives = named("pipeline.derive").map { case (s, _) =>
      val readEnd = ctx.rec.jobsOf(s.id).filter(_.site.contains("BlockRangeSink"))
        .map(_.endMs).maxOption.getOrElse(s.startMs)
      val read = math.min(s.wall, math.max(0.0, (readEnd - s.startMs) / 1e3))
      (read, s.wall - read)
    }
    def meanOf(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    m("sink.read_s", meanOf(derives.map(_._1)), "s")
    m("sink.files_read", meanNote("pipeline.derive", "fs_parquet_open"), "count")
    m("sink.bytes_read", meanNote("pipeline.derive", "bytes_read"), "B")
    m("pipeline.stamp_s", meanOf(derives.map(_._2)), "s")
    Seq("ledger", "dex", "metadex", "balances", "registry").foreach { f =>
      m(s"fold.${f}_s", meanWall(s"fold.$f"), "s")
    }
    m("serve.wallet_s", meanWall("serve.wallet"), "s")
    m("serve.tables_s", meanWall("serve.tables"), "s")
    Seq("stream" -> "stream", "ingest" -> "ingest.", "sink" -> "sink.",
      "pipeline" -> "pipeline.", "fold" -> "fold.", "serve" -> "serve.")
      .foreach { case (layer, prefix) =>
        val ls = spans.filter(s => s._1.name == prefix || s._1.name.startsWith(prefix))
        def t(k: String) = ls.map(c(_, k)).sum / n
        m(s"$layer.jobs", t("jobs"), "count")
        m(s"$layer.stages", t("stages"), "count")
        m(s"$layer.tasks", t("tasks"), "count")
        m(s"$layer.task_s", t("task_s"), "s")
        m(s"$layer.gc_s", t("gc_s"), "s")
        m(s"$layer.shuffle_write_mb", t("shuffle_write_b") / 1e6, "MB")
        m(s"$layer.spill_mb", t("spill_b") / 1e6, "MB")
        m(s"$layer.rows_out", ls.map(s =>
          s._1.counts.getOrElse("rows_out", c(s, "records_written"))).sum / n, "count")
      }
    val heap = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    m("heap_peak_mb", heap / 1e6, "MB")
    m("cache_mb", meanNote("pipeline.derive", "cache_mb"), "MB")
    val ops = named(opSpan)
    m("trace.op_s", if (ops.isEmpty) 0.0 else ops.map(_._1.wall).sum / ops.size, "s")
    m("trace.unattributed_s", if (ops.isEmpty) 0.0 else ops.map(_._2).sum / ops.size, "s")
    val ratio = median(ops.map(_._1.wall)) / median(untracedOps)
    m("trace.overhead_ratio", ratio, "ratio")
    // the traced op must do the untraced op's work: a traced path that
    // skipped or repeated a layer would show here
    ctx.check("trace_overhead", ratio >= 0.5 && ratio <= 2.0,
      f"traced op ${median(ops.map(_._1.wall))}%.3f s, untraced ${median(untracedOps)}%.3f s")
    val lost = ctx.rec.unattributedJobs()
    ctx.check("trace_jobs_attributed", lost == 0,
      s"$lost Spark jobs ran while tracing under no layer span")
    if (lost > 0) ctx.failed = math.max(ctx.failed, 1)
  }

  /** Runs `setup` n times. `setup_s` is the wait before the first timed
    * op, less input generation on a cache miss: session start, the
    * workload's once-a-run preparation (`follow`'s warm-up, `refresh`'s
    * pre-tail store and warm-up), and the median of the n set-ups. A single set-up
    * (about a second of file copying and store probes) varies from one
    * JVM to the next by more than the whole sum does. */
  def setUp(ctx: Ctx, n: Int, onceS: Double)(setup: => Unit): Unit = {
    val ts = (1 to n).map { _ =>
      val t = System.nanoTime(); setup; ctx.elapsed(t)
    }
    ctx.metric("setup_each_s", median(ts), "s")
    ctx.metric("setup_s", ctx.metrics("session_s")._1 + onceS + median(ts), "s")
    log(s"set up: ${ts.map(x => f"$x%.2f").mkString(" ")} s")
  }

  /** A traced run measures its first third — and at least `minOps` ops —
    * untraced, so it can report its own tracing overhead. Returns true
    * when tracing switches on. */
  def startTracing(ctx: Ctx, start: Long, untracedOps: Int, minOps: Int): Boolean = {
    val on = ctx.trace && !ctx.rec.enabled && untracedOps >= minOps &&
      ctx.elapsed(start) >= ctx.seconds / 3
    if (on) ctx.rec.enabled = true
    on
  }

  def resetHeapPeak(): Unit =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .foreach(_.resetPeakUsage())

  /** Store shape, recorded on a standalone `sink.stats` span. */
  def statsSpan(ctx: Ctx, store: Path): Unit =
    ctx.rec.span("sink.stats") {
      val st = BlockRangeSink.stats(store.toString)
      ctx.rec.note("store_files", st.map(_.nFiles).sum.toDouble)
      ctx.rec.note("store_ranges", st.size.toDouble)
    }
}

/** `follow`: the cron tick. Each tick drops one JSON file into the feed
  * directory and restarts a checkpointed file stream with
  * `Trigger.AvailableNow`; its `foreachBatch` commits through
  * `IncrementalIngest.ingestFrame`. A reorg op rolls back with
  * `IncrementalIngest.reorg` and commits the winning branch the same way.
  */
final class Follow(ctx: Main.Ctx, feed: Gen.Feed, sched: Gen.Schedule,
    warm: Gen.Schedule) {
  import Main._
  private val spark = ctx.spark
  private val rec = ctx.rec
  private val store = ctx.work.resolve("store")
  private val src = ctx.work.resolve("feed")
  private val staging = ctx.work.resolve("staging")
  private val ckpt = ctx.work.resolve("checkpoint")

  private def setup(): Unit = {
    Seq(store, src, staging, ckpt).foreach(Gen.deleteTree)
    Seq(src, staging).foreach(Files.createDirectories(_))
    Gen.copyTree(feed.followBase, store)
    BlockRangeSink.stats(store.toString)
    val wm = BlockRangeSink.watermark(spark, store.toString)
    require(wm == feed.cutFollow, s"pristine watermark $wm != ${feed.cutFollow}")
  }

  /** Drop `op`'s file into the feed and run one AvailableNow restart.
    * Returns (rows admitted, seconds from drop to query end). */
  private def tick(op: Gen.Op, t0In: Option[Long] = None): (Long, Double) = {
    val name = f"${op.index}%04d.json"
    Files.copy(op.file, staging.resolve(name))
    val bytes = Files.size(op.file).toDouble
    val t0 = t0In.getOrElse(System.nanoTime())
    Files.move(staging.resolve(name), src.resolve(name),
      StandardCopyOption.ATOMIC_MOVE)
    var admitted = 0L
    val batch: (DataFrame, Long) => Unit = (df, _) =>
      rec.span("ingest.cycle") {
        if (ctx.trace) CountingLocalFs.rangesCreated.clear()
        val n = IncrementalIngest.ingestFrame(spark, df, store.toString)
        admitted += n
        rec.note("rows_out", n.toDouble)
        rec.note("input_bytes", bytes)
        rec.note("ranges_touched", CountingLocalFs.rangesCreated.size.toDouble)
      }
    rec.span("stream", adopt = true) {
      val q = spark.readStream.schema(IncrementalIngest.rawTxSchema)
        .json(src.toString)
        .writeStream
        .foreachBatch(batch)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString)
        .start()
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      // the query's own jobs run under its run id, not this span's group
      rec.adopt(q.runId.toString)
      if (rec.enabled) {
        val (logCommit, inRows) = rec.streamProgress(q.runId)
        rec.note("log_commit_s", logCommit)
        rec.note("rows_out", inRows)
      }
    }
    (admitted, ctx.elapsed(t0))
  }

  /** Warms the JIT (a fresh JVM's ticks keep getting faster for about
    * ten ops) on the warm-up schedule's ops up to its first reorg — the
    * same ops in every run, so the warm-up does not vary with the seed.
    * The set-ups that follow restore the pristine state. */
  private def warmUp(): Double = {
    val t = System.nanoTime()
    setup()
    val firstReorg = warm.follow.indexWhere(_.kind == "reorg")
    warm.follow.take(firstReorg + 1).foreach { op =>
      if (op.kind == "reorg") IncrementalIngest.reorg(spark, store.toString, op.lo)
      tick(op)
    }
    ctx.metric("warmup_s", ctx.elapsed(t), "s")
    ctx.elapsed(t)
  }

  def run(): Unit = {
    setUp(ctx, 3, warmUp())(setup())

    val commits = mutable.ArrayBuffer.empty[Double]
    val reorgs = mutable.ArrayBuffer.empty[Double]
    val executed = mutable.ArrayBuffer.empty[Gen.Op]
    val untracedTicks = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    var nTraced = 0
    val ops = sched.follow.iterator
    var stop = false
    // reorg_s.p50 is a median of at least two reorgs
    while (!stop && ops.hasNext && (ctx.elapsed(start) < ctx.seconds ||
        reorgs.size < MinReorgs)) {
      val op = ops.next()
      if (startTracing(ctx, start, untracedTicks.size, 2)) resetHeapPeak()
      ctx.attempted += 1
      try {
        val opName = if (op.kind == "reorg") "op.reorg" else "op.tick"
        val (admitted, wall, wm) = rec.span(opName) {
          if (op.kind == "reorg") {
            val t0 = System.nanoTime()
            val wm = rec.span("sink.drop_above")(
              IncrementalIngest.reorg(spark, store.toString, op.lo))
            val (n, w) = tick(op, Some(t0))
            (n, w, wm)
          } else {
            val (n, w) = tick(op)
            (n, w, Long.MinValue)
          }
        }
        if (rec.enabled) {
          nTraced += 1
          statsSpan(ctx, store)
          rec.span("sink.watermark")(BlockRangeSink.watermark(spark, store.toString))
        }
        executed += op
        val ok = admitted == op.rows && (op.kind != "reorg" || wm <= op.lo)
        if (!ok) {
          ctx.failed += 1
          System.err.println(s"[perfbench] op ${op.index} ${op.kind}: admitted " +
            s"$admitted of ${op.rows}, watermark after rollback $wm")
        }
        log(f"op ${op.index} ${op.kind} (${op.lo}, ${op.hi}] ${op.rows} rows: $wall%.3f s")
        if (op.kind == "reorg") reorgs += wall
        else {
          commits += wall
          if (!rec.enabled) untracedTicks += wall
        }
      } catch {
        case e: Exception =>
          e.printStackTrace()
          ctx.failed += 1
          stop = true
      }
    }
    rec.enabled = false
    log(s"${executed.size} ops done")
    ctx.check("schedule", executed.nonEmpty,
      s"${executed.size} ops run of ${sched.follow.size} scheduled")

    // final state: the feed up to the pristine cut plus every executed
    // drop, the last drop of a height winning (a reorg re-delivers its
    // heights)
    val base = Gen.txCols(spark.read.parquet(feed.feedDir.toString))
      .where(col("block") <= feed.cutFollow)
    val expected =
      if (executed.isEmpty) base
      else {
        val drops = executed.zipWithIndex.map { case (op, i) =>
          readDrop(spark, op.file).withColumn("__op", lit(i))
        }.reduce(_ unionByName _)
        val w = org.apache.spark.sql.expressions.Window.partitionBy("block")
        base.unionByName(Gen.txCols(
          drops.withColumn("__last", max("__op").over(w))
            .where(col("__op") === col("__last"))))
      }
    expected.persist()
    // the checks list the store in this JVM: Spark's parallel partition
    // discovery would launch a job per read of ~300 ranges
    val discovery = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val prevDiscovery = spark.conf.getOption(discovery)
    spark.conf.set(discovery, Int.MaxValue.toString)
    // a range whose files are byte for byte the pristine store's holds
    // the pristine facts; the digest covers every other range
    val pristine = Gen.rangeDirs(feed.followBase)
    val now = Gen.rangeDirs(store)
    val changed = (pristine.keySet ++ now.keySet).toSeq.sorted.filterNot(r =>
      pristine.get(r).zip(now.get(r)).exists { case (a, b) => Gen.sameFiles(a, b) })
    val changedDirs = changed.flatMap(now.get).map(_.toString)
    val got =
      if (changedDirs.isEmpty) (0L, BigDecimal(0))
      else factsDigest(spark.read.option("basePath", store.toString)
        .parquet(changedDirs: _*))
    val want = factsDigest(expected.where(
      expr(s"block div ${BlockRangeSink.RangeSize}").isin(changed: _*)))
    ctx.check("final_store", got == want,
      s"store $got, winning chain $want over the ${changed.size} ranges " +
        s"that differ from the pristine store")
    log("final store digested")
    val replay = IncrementalIngest.ingestFrame(spark, expected, store.toString)
    ctx.check("replay", replay == 0L, s"full replay admitted $replay rows")
    log("replayed")
    // space: ranges below the lowest one the run could touch are the
    // pristine store's own, written once; the rest is written once here
    val low = (feed.cutFollow +: executed.filter(_.kind == "reorg").map(_.lo))
      .min / BlockRangeSink.RangeSize
    val once = ctx.work.resolve("written_once")
    Gen.writeStore(expected.where(col("block") >= low * BlockRangeSink.RangeSize), once)
    expected.unpersist()
    prevDiscovery.fold(spark.conf.unset(discovery))(spark.conf.set(discovery, _))
    val below = BlockRangeSink.stats(feed.followBase.toString)
      .filter(_.blockRange < low)
      .map(r => Gen.storeBytes(feed.followBase.resolve(s"blockRange=${r.blockRange}")))
      .sum
    log("final state checked")
    ctx.metric("space_amp",
      Gen.storeBytes(store).toDouble / (below + Gen.storeBytes(once)), "ratio")
    if (got != want || replay != 0L) ctx.failed = math.max(ctx.failed, 1)

    ctx.metric("op_s.p50", median(commits.toSeq), "s")
    ctx.metric("op_s.p90", pct(commits.toSeq, 0.9), "s")
    ctx.metric("reorg_s.p50", median(reorgs.toSeq), "s")
    ctx.metric("ticks", commits.size.toDouble, "count")
    ctx.metric("reorgs", reorgs.size.toDouble, "count")
    if (ctx.trace) layerMetrics(ctx, nTraced, "op.tick", untracedTicks.toSeq)
  }
}

/** `refresh`: visibility. Every iteration starts from the same store
  * (full history minus the seed's tail), commits the tail through
  * `IncrementalIngest.ingestFrame`, re-derives everything with
  * `IncrementalIngest.derive` and recomputes each served table; it then
  * rolls the tail back with `IncrementalIngest.reorg`.
  */
final class Refresh(ctx: Main.Ctx, feed: Gen.Feed, sched: Gen.Schedule,
    sfDir: String) {
  import Main._
  private val spark = ctx.spark
  private val rec = ctx.rec
  private val store = ctx.work.resolve("store")
  private val tailStart = sched.pre.hi
  private var wallets: DataFrame = _

  private val preBase = ctx.work.resolve("pre_base")

  /** Once a run: the pristine store plus the seed's pre-tail drop,
    * committed through `ingestFrame` — the state every iteration starts
    * from. Returns its seconds, a part of `setup_s`. */
  private def prepare(): Double = {
    val t = System.nanoTime()
    Gen.deleteTree(preBase)
    Gen.copyTree(feed.refreshBase, preBase)
    val n = IncrementalIngest.ingestFrame(spark, readDrop(spark, sched.pre.file),
      preBase.toString)
    require(n == sched.pre.rows, s"pre-tail ingest admitted $n of ${sched.pre.rows}")
    ctx.metric("prepare_s", ctx.elapsed(t), "s")
    ctx.elapsed(t)
  }

  private def setup(): Unit = {
    import spark.implicits._
    Gen.deleteTree(store)
    Gen.copyTree(preBase, store)
    val wm = BlockRangeSink.watermark(spark, store.toString)
    require(wm == tailStart, s"store watermark $wm != tail start $tailStart")
    if (wallets != null) wallets.unpersist(blocking = true)
    // the wallet membership the flagship serve uses
    val nn = Tables.t(spark, sfDir, "nation").select($"n_nationkey".as("nk"))
    wallets = Tables.t(spark, sfDir, "customer")
      .select(concat(lit("C"), $"c_custkey").as("address"),
        concat(lit("W"), $"c_nationkey").as("walletId"))
      .unionByName(nn.select(concat(lit("I"), $"nk").as("address"),
        lit("WI").as("walletId")))
      .unionByName(nn.select(concat(lit("S"), $"nk").as("address"),
        lit("WS").as("walletId")))
      .unionByName(nn.select(concat(lit("F"), $"nk").as("address"),
        lit("WF").as("walletId")))
      .unionByName(Seq(("MKT", "WX"), ("POOL", "WX"), ("R0", "WR"),
        ("R1", "WR")).toDF("address", "walletId"))
      .persist()
    wallets.count()
  }

  private def rates = {
    import spark.implicits._
    spark.createDataset(Seq(
      RatesEtl.Rate("Omni", 31L, "Fiat", 1L, 2.5, 1000L, "fix"),
      RatesEtl.Rate("Omni", 32L, "Fiat", 1L, 1.5, 1000L, "fix")))
  }

  private def walletView(d: OmniPipeline.Derived): DataFrame =
    WalletViews.withPropertyNames(
      WalletViews.walletBalances(d.balances, wallets, rates), d.properties)

  /** commit the tail, re-derive, recompute every served table */
  private def fresh(): (Long, Seq[(Long, Long)], OmniPipeline.Derived) = {
    val n = IncrementalIngest.ingestFrame(spark,
      readDrop(spark, sched.tail.file), store.toString)
    val d = IncrementalIngest.derive(spark, store.toString)
    val hashes = Seq(walletView(d), d.offers.toDF(), d.accepts.toDF(),
      d.trades.toDF(), d.properties.toDF()).map(evalHash)
    (n, hashes, d)
  }

  /** [[fresh]] with a span around each call: the same program calls in
    * the same order, and each `Derived` field is materialized (and
    * cached) at its boundary inside its own span. */
  private def freshTraced(): (Long, Seq[(Long, Long)], OmniPipeline.Derived) = {
    def done(ds: org.apache.spark.sql.Dataset[_]): Unit = {
      ds.persist()
      CacheScope.register(ds)
      rec.note("rows_out", ds.count().toDouble)
    }
    val n = rec.span("ingest.cycle") {
      CountingLocalFs.rangesCreated.clear()
      val n = IncrementalIngest.ingestFrame(spark,
        readDrop(spark, sched.tail.file), store.toString)
      rec.note("rows_out", n.toDouble)
      rec.note("input_bytes", Files.size(sched.tail.file).toDouble)
      rec.note("ranges_touched", CountingLocalFs.rangesCreated.size.toDouble)
      n
    }
    val d = rec.span("pipeline.derive") {
      val before = cachedMb()
      val d = IncrementalIngest.derive(spark, store.toString)
      rec.note("cache_mb", cachedMb() - before)
      rec.note("rows_out", d.txs.count().toDouble)
      d
    }
    rec.span("fold.dex") { done(d.offers); done(d.accepts) }
    rec.span("fold.metadex")(done(d.trades))
    rec.span("fold.ledger")(done(d.ledger))
    rec.span("fold.balances")(done(d.balances))
    rec.span("fold.registry")(done(d.properties))
    val wallet = rec.span("serve.wallet") {
      val h = evalHash(walletView(d))
      rec.note("rows_out", h._1.toDouble)
      h
    }
    val rest = rec.span("serve.tables") {
      Seq(d.offers.toDF(), d.accepts.toDF(), d.trades.toDF(),
        d.properties.toDF()).map(evalHash)
    }
    (n, wallet +: rest, d)
  }

  private def cachedMb(): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6

  /** Warms the JIT and Spark's code generation on the pre-tail store:
    * one derive and serve, then a rollback to the tip, which finds
    * nothing above it but reads the store as a real one does. A cold
    * iteration costs about 40% more than a warm one, and the excess is
    * JIT and code generation, not data: a warm-up on a 40-range store
    * cost as much as one on the full store. */
  private def warmUp(): Double = {
    val t = System.nanoTime()
    setup()
    val d = IncrementalIngest.derive(spark, store.toString)
    Seq(walletView(d), d.offers.toDF(), d.accepts.toDF(), d.trades.toDF(),
      d.properties.toDF()).foreach(evalHash)
    CacheScope.release()
    IncrementalIngest.reorg(spark, store.toString, tailStart)
    ctx.metric("warmup_s", ctx.elapsed(t), "s")
    ctx.elapsed(t)
  }

  def run(): Unit = {
    setUp(ctx, 3, prepare() + warmUp())(setup())

    val freshS = mutable.ArrayBuffer.empty[Double]
    val untraced = mutable.ArrayBuffer.empty[Double]
    val rollbacks = mutable.ArrayBuffer.empty[Double]
    val amps = mutable.ArrayBuffer.empty[Double]
    var reference: Option[Seq[(Long, Long)]] = None
    var nTraced = 0
    val start = System.nanoTime()
    var stop = false
    // at least two iterations, and in a traced run at least one traced
    // one
    while (!stop && (freshS.size < MinIterations ||
        ctx.elapsed(start) < ctx.seconds || (ctx.trace && nTraced == 0))) {
      if (startTracing(ctx, start, untraced.size, 1)) resetHeapPeak()
      ctx.attempted += 1
      try {
        val t0 = System.nanoTime()
        val (n, hashes, d) = rec.span("op.refresh")(
          if (rec.enabled) freshTraced() else fresh())
        val wall = ctx.elapsed(t0)
        freshS += wall
        log(f"iteration ${freshS.size}: $wall%.3f s")
        if (rec.enabled) nTraced += 1 else untraced += wall
        if (reference.isEmpty) {
          // the oracle compare reads these back (run.py, DuckDB)
          d.balances.select(col("address"), col("propertyId"),
              col("available"), col("reserved"), col("accepted"),
              col("frozen"), col("lastTxDbSerialNum").as("last_serial"))
            .write.parquet(ctx.work.resolve("balances.parquet").toString)
          reference = Some(hashes)
        }
        amps += Gen.storeBytes(store).toDouble / feed.fullOnceBytes
        if (rec.enabled) {
          statsSpan(ctx, store)
          rec.span("sink.watermark")(BlockRangeSink.watermark(spark, store.toString))
        }
        CacheScope.release()
        val t2 = System.nanoTime()
        val wm = rec.span("op.rollback")(rec.span("sink.drop_above")(
          IncrementalIngest.reorg(spark, store.toString, tailStart)))
        rollbacks += ctx.elapsed(t2)
        val ok = n == sched.tail.rows && wm == tailStart &&
          reference.contains(hashes)
        if (!ok) {
          ctx.failed += 1
          System.err.println(s"[perfbench] iteration ${ctx.attempted}: admitted " +
            s"$n of ${sched.tail.rows}, watermark $wm, tables $hashes vs $reference")
        }
      } catch {
        case e: Exception =>
          e.printStackTrace()
          ctx.failed += 1
          stop = true
      }
    }
    rec.enabled = false
    log(s"${freshS.size} iterations done")
    ctx.metric("op_s.p50", median(freshS.toSeq), "s")
    ctx.metric("op_s.p90", pct(freshS.toSeq, 0.9), "s")
    ctx.metric("reorg_s.p50", median(rollbacks.toSeq), "s")
    ctx.metric("space_amp", median(amps.toSeq), "ratio")
    ctx.metric("iterations", freshS.size.toDouble, "count")
    if (ctx.trace) layerMetrics(ctx, nTraced, "op.refresh", untraced.toSeq)
  }
}
