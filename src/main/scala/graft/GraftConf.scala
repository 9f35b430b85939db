package graft
import org.apache.spark.sql.SparkSession

/** Engine-default Spark confs shared by every graft main, plus the
  * registry mains' one session builder and one per-query release.
  *
  * Shuffle/spill/broadcast codec (`spark.io.compression.codec`) is
  * selectable via GRAFT_SHUFFLE_CODEC; the default is lz4. The round-11
  * interleaved A/B at sf0.1 (PERF.md round 11, "Codec policy" — the
  * round-10 A/B's knob was dead, so this is the first VALID
  * measurement, each leg's codec read back from the live session)
  * measured zstd as +5.9% on min-fold registry totals — a per-shuffle
  * CPU tax whose only over-bar movers are all slower under zstd — so
  * zstd is not "neutral-or-better" and does not earn unconditional
  * default status. It earns the big-shuffle role instead: the round-9
  * 1000x sweep showed the lz4→zstd ratio gap is the difference between
  * spill-dead and complete for text-heavy shuffles (dedup_minhash_lsh's
  * shingle shuffle exceeds 50 GB in lz4 and fits in zstd — PERF.md
  * round 9, "zstd tail phase"), and the scaled tooling
  * (tools/sweep1000.sh) therefore sets GRAFT_SHUFFLE_CODEC=zstd. On a
  * real cluster the knob is the same conf; pick zstd when a wide text
  * shuffle must fit executor scratch or the network is the bottleneck,
  * lz4 when shuffles fit and latency rules.
  */
object GraftConf {
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.io.compression.codec",
        sys.env.getOrElse("GRAFT_SHUFFLE_CODEC", "lz4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** A registry main's session: `master` with `cpus` shuffle
    * partitions, graft's native functions injected through the
    * production registration path (queries also call
    * GraftFunctions.register for foreign sessions), log level WARN.
    */
  def session(master: String, cpus: String): SparkSession = {
    val spark = GraftConf(SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Release after each query's result is consumed: the query-scoped
    * intermediates ([[CacheScope.release]]), the session's cached
    * tables and any persistent RDD, so one query's cache pressure
    * cannot skew the next.
    */
  def dropCaches(spark: SparkSession): Unit = {
    CacheScope.release()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
