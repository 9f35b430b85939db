package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Span recorder for traced runs, entirely outside the program.
  *
  * A span is a named wall-clock interval with a parent. Every Spark job
  * started inside a span carries the span's job group (set around the
  * call, including on the stream thread inside `foreachBatch`), so a
  * `SparkListener` attributes jobs, stages and task metrics to it. A
  * streaming query replaces the job group on its own thread with its run
  * id; jobs under such a foreign group are kept apart and folded into
  * the span that [[adopt]]s the group (the `stream` span adopts its
  * query's run id). Store file-system ops come from [[CountingLocalFs]],
  * stream log commit time from a `StreamingQueryListener`. Spans stay in
  * memory and are written once, when the run ends. Disabled, [[span]] is
  * a plain call.
  */
final class Recorder(spark: SparkSession, val runId: String) {
  import Recorder._

  @volatile var enabled = false

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  /** parent for spans opened on a thread with no open span (the stream
    * thread running `foreachBatch`) */
  @volatile private var opParent = 0
  private val t0 = System.nanoTime()

  /** counter keys: a span id (> 0) or a foreign job group (< 0) */
  private val foreignKey = new ConcurrentHashMap[String, Int]
  private val nextForeign = new AtomicInteger(0)
  private val adopted = new ConcurrentHashMap[Int, Int]
  private val stageKey = new ConcurrentHashMap[Int, Int]
  private val jobKey = new ConcurrentHashMap[Int, (Int, Long, String)]
  private val counts = new ConcurrentHashMap[Int, Array[Double]]
  private val jobs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Job]]
  private val streamCounts = new ConcurrentHashMap[java.util.UUID, Array[Double]]

  private def add(key: Int, k: Int, v: Double): Unit = {
    val a = counts.computeIfAbsent(key, _ => new Array[Double](NCounters))
    a.synchronized { a(k) += v }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val key = group match {
        case Some(g) if g.startsWith(GroupPrefix) =>
          Some(g.stripPrefix(GroupPrefix).toInt)
        case Some(g) if enabled =>
          Some(foreignKey.computeIfAbsent(g, _ => -nextForeign.incrementAndGet()))
        case None if enabled =>
          Some(foreignKey.computeIfAbsent("", _ => -nextForeign.incrementAndGet()))
        case _ => None
      }
      key.foreach { id =>
        e.stageIds.foreach(s => stageKey.put(s, id))
        add(id, Jobs, 1)
        // the call site of the job's final stage: "<action> at <File>:<line>"
        val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name)
          .getOrElse("")
        jobKey.put(e.jobId, (id, e.time, site))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobKey.remove(e.jobId)).foreach { case (id, start, site) =>
        val js = jobs.computeIfAbsent(id, _ => mutable.ArrayBuffer.empty[Job])
        js.synchronized { js += Job(start, e.time, site) }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageKey.get(e.stageInfo.stageId)).foreach(add(_, Stages, 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageKey.get(e.stageId)).foreach { id =>
        add(id, Tasks, 1)
        Option(e.taskMetrics).foreach { m =>
          add(id, TaskS, m.executorRunTime / 1e3)
          add(id, GcS, m.jvmGCTime / 1e3)
          add(id, ShuffleWriteB, m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(id, SpillB, m.diskBytesSpilled.toDouble)
          add(id, RecordsWritten, m.outputMetrics.recordsWritten.toDouble)
          add(id, BytesWritten, m.outputMetrics.bytesWritten.toDouble)
          add(id, BytesRead, m.inputMetrics.bytesRead.toDouble)
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Double =
        if (d.containsKey(k)) d.get(k).doubleValue else 0.0
      val a = streamCounts.computeIfAbsent(p.runId, _ => new Array[Double](2))
      a.synchronized {
        a(0) += (ms("walCommit") + ms("commitOffsets")) / 1e3
        a(1) += p.numInputRows.toDouble
      }
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  private def drain(): Unit =
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)

  /** Runs `body` as a span when enabled. An `adopt` span becomes the
    * parent of spans opened on other threads while it runs. */
  def span[T](name: String, adopt: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val parentNow = stack.get().headOption.getOrElse(opParent)
      val s = spans.synchronized {
        val s = Span(spans.size + 1, name, parentNow, System.nanoTime(),
          System.currentTimeMillis())
        spans += s
        s
      }
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      sc.setLocalProperty("spark.jobGroup.id", GroupPrefix + s.id)
      stack.set(s.id :: stack.get())
      val prevAdopt = opParent
      if (adopt) opParent = s.id
      val fs0 = CountingLocalFs.snapshot()
      try body
      finally {
        s.endNs = System.nanoTime()
        val fs1 = CountingLocalFs.snapshot()
        opParent = prevAdopt
        stack.set(stack.get().tail)
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
        s.counts ++= Seq(
          "fs_list" -> (fs1.lists - fs0.lists).toDouble,
          "fs_open" -> (fs1.opens - fs0.opens).toDouble,
          "fs_parquet_open" -> (fs1.parquetOpens - fs0.parquetOpens).toDouble,
          "fs_create" -> (fs1.creates - fs0.creates).toDouble,
          "fs_rename" -> (fs1.renames - fs0.renames).toDouble,
          "fs_delete" -> (fs1.deletes - fs0.deletes).toDouble)
      }
    }

  /** Folds the jobs of a foreign job group (a streaming query's run id)
    * into the innermost open span. */
  def adopt(group: String): Unit =
    if (enabled) stack.get().headOption.foreach { id =>
      adopted.put(foreignKey.computeIfAbsent(group,
        _ => -nextForeign.incrementAndGet()), id)
    }

  /** Attaches a measured value to the innermost open span. */
  def note(key: String, v: Double): Unit =
    if (enabled) stack.get().headOption.foreach { id =>
      spans.synchronized(spans(id - 1)).counts.update(key, v)
    }

  /** Stream progress (log commit seconds, input rows) of one query run. */
  def streamProgress(run: java.util.UUID): (Double, Double) = {
    drain()
    Option(streamCounts.get(run)).map(a => (a(0), a(1))).getOrElse((0.0, 0.0))
  }

  /** Keys whose counters and jobs belong to span `id`. */
  private def keysOf(id: Int): Seq[Int] =
    id +: adopted.asScala.collect { case (k, s) if s == id => k }.toSeq

  /** Jobs started inside span `id` itself (not its children). */
  def jobsOf(id: Int): Seq[Job] = {
    drain()
    keysOf(id).flatMap(k => Option(jobs.get(k))
      .map(js => js.synchronized(js.toList)).getOrElse(Nil))
  }

  /** Jobs run while recording under a job group no span set or adopted. */
  def unattributedJobs(): Int = {
    drain()
    foreignKey.values.asScala.filterNot(adopted.containsKey)
      .map(k => Option(counts.get(k)).map(_(Jobs).toInt).getOrElse(0)).sum
  }

  /** Closed spans with their Spark counters folded in and self time
    * (wall minus the children's wall). */
  def closed(): Seq[(Span, Double)] = {
    drain()
    val all = spans.synchronized(spans.toList)
    val childWall = all.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.wall).sum }
    all.filter(_.endNs > 0).map { s =>
      val sums = new Array[Double](NCounters)
      keysOf(s.id).flatMap(k => Option(counts.get(k))).foreach { a =>
        a.synchronized(a.indices.foreach(i => sums(i) += a(i)))
      }
      CounterNames.zipWithIndex.foreach { case (n, i) =>
        if (!s.counts.contains(n)) s.counts.update(n, sums(i))
      }
      (s, s.wall - childWall.getOrElse(s.id, 0.0))
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = closed().map { case (s, self) =>
      val counts = s.counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f,""" +
        f""""wall_s":${s.wall}%.6f,"self_s":$self%.6f,"counts":{$counts}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }
}

object Recorder {
  final case class Span(id: Int, name: String, parent: Int,
      startNs: Long, startMs: Long, var endNs: Long = 0L,
      counts: mutable.LinkedHashMap[String, Double] =
        mutable.LinkedHashMap.empty) {
    def wall: Double = (endNs - startNs) / 1e9
  }

  /** A Spark job: start and end in epoch ms, and its call site. */
  final case class Job(startMs: Long, endMs: Long, site: String)

  val GroupPrefix = "perfbench-span-"
  val Jobs = 0; val Stages = 1; val Tasks = 2; val TaskS = 3; val GcS = 4
  val ShuffleWriteB = 5; val SpillB = 6; val RecordsWritten = 7
  val BytesWritten = 8; val BytesRead = 9
  val NCounters = 10
  val CounterNames = Seq("jobs", "stages", "tasks", "task_s", "gc_s",
    "shuffle_write_b", "spill_b", "records_written", "bytes_written",
    "bytes_read")
}
