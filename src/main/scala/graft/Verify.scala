package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // GRAFT_MASTER overrides the in-process master for multi-JVM runs
    // (e.g. local-cluster[2,16,4096] — 2 executor JVMs, the first real
    // process boundary the registry crosses; tools/run_multijvm.sh).
    // Executor classpath/memory ride in via -Dspark.* GRAFT_SPARK_OPTS.
    val master = sys.env.getOrElse("GRAFT_MASTER", s"local[$cpus]")
    val spark = GraftConf.session(master, cpus)
    if (!spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_hash60")))
      System.err.println("[verify] WARN: GraftExtensions did not inject")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated name filter for targeted sweeps
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Output-file fan-in. Default 1 (the driver reads a single file).
    // coalesce(1) on a map-only pipeline collapses the WHOLE job to one
    // thread — at 1000x that turned a 150M-row decode into a single-core
    // grind — so scaled sweeps set SPARK_GRAFT_OUT_PARTS=<cores> (or 0
    // for the plan's natural partitioning). coalesce, not repartition:
    // no extra shuffle, it only caps the file count.
    val outParts = sys.env.get("SPARK_GRAFT_OUT_PARTS")
      .map(_.toInt).getOrElse(1)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        (if (outParts > 0) df.coalesce(outParts) else df)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      GraftConf.dropCaches(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
