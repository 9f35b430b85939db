package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import scala.collection.mutable

/** Dev tool: stage-level attribution for one or more registered queries
  * — `runMain graft.Profile q1 [q2 ...]` (env SPARK_GRAFT_SF_DIR selects
  * the data, default sf0.1; SPARK_GRAFT_CPUS the core count). For each
  * query it runs the guide §1.4 noop-sink action and prints every
  * completed stage: wall, task count, input / shuffle-read /
  * shuffle-write bytes, spill, and the deepest non-Spark callsite — so
  * "the query is slow" becomes "THIS exchange/sort/fold is slow".
  * Measurement instrument only; never part of a query path.
  */
object Profile {
  /** Upper bound on the 300 ms quiescence polls after each query (6 s). */
  private val MaxDrainPolls = 20

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftConf.session(s"local[$cpus]", cpus)
    // one lock guards every listener-side structure: callbacks arrive on
    // the listener-bus thread while the main thread reads/clears between
    // queries (r13 ADVICE — unsynchronized, late events could be dropped
    // or attributed to the next query, and taskTimes grew unbounded)
    val lock = new Object
    val stages = mutable.ArrayBuffer.empty[String]
    val jobOfStage = mutable.Map.empty[Int, String]
    val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = lock.synchronized {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        j.stageIds.foreach(sid => jobOfStage(sid) = desc)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
        val ts = taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty)
        ts += e.taskInfo.duration / 1000.0
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
        val si = e.stageInfo
        val tm = si.taskMetrics
        val wall = (for (a <- si.completionTime; b <- si.submissionTime)
          yield (a - b) / 1000.0).getOrElse(-1.0)
        val f = si.details.linesIterator
          .filter(_.contains("graft.")).take(2).mkString(" <- ").trim
        stages += f"stage=${si.stageId}%4d wall=$wall%7.2fs tasks=${si.numTasks}%4d " +
          f"in=${tm.inputMetrics.bytesRead / 1e6}%9.1fMB " +
          f"sr=${tm.shuffleReadMetrics.totalBytesRead / 1e6}%9.1fMB " +
          f"sw=${tm.shuffleWriteMetrics.bytesWritten / 1e6}%9.1fMB " +
          f"spill=${tm.diskBytesSpilled / 1e6}%7.1fMB " +
          f"exec=${tm.executorRunTime / 1000.0}%8.1fs " +
          f"cpu=${tm.executorCpuTime / 1e9}%8.1fs gc=${tm.jvmGCTime / 1000.0}%6.1fs " +
          f"tmax=${taskTimes.get(si.stageId).map(_.max).getOrElse(0.0)}%6.2fs " +
          f"tmed=${taskTimes.get(si.stageId).map(t => t.sorted.apply(t.size / 2)).getOrElse(0.0)}%6.2fs  ${si.name}%-40s $f"
      }
    })
    val qmap = SparkEntry.queries
    args.foreach { name =>
      qmap.get(name) match {
        case Some(fn) =>
          lock.synchronized {
            stages.clear(); taskTimes.clear(); jobOfStage.clear()
          }
          spark.sparkContext.setJobDescription(s"profile:$name")
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          // quiescence-based drain (the bus API is private[spark]):
          // poll until no new stage-completion lands for 600 ms, so a
          // late event is no longer attributed to the next query —
          // capped, so a stream of late events cannot spin it forever
          var seen = -1
          var stable = 0
          var polls = 0
          while (stable < 2 && polls < MaxDrainPolls) {
            polls += 1
            Thread.sleep(300)
            val now = lock.synchronized(stages.size)
            if (now == seen) stable += 1 else { stable = 0; seen = now }
          }
          println(s"===== $name  total=${f"$dt%.2f"}s =====")
          lock.synchronized { stages.foreach(println) }
          GraftConf.dropCaches(spark)
        case None => println(s"===== $name: NOT FOUND =====")
      }
    }
    spark.stop()
  }
}
