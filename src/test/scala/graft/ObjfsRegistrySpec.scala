package graft

import org.apache.hadoop.fs.Path

/** The FULL registry over object-store semantics (round 13): every
  * registered query runs twice at sf0.001 — once against the local
  * `file://` tables, once against byte-identical tables served through
  * [[ObjectStoreFileSystem]] (`objfs://`: flat namespace, paginated
  * LIST, PUT-on-close, copy+delete rename) — and the results must be
  * row-for-row identical. This is the engine-wide form of
  * [[ObjectStoreSinkSpec]]'s claim: not just the sink, but every scan
  * path in the registry (parquet footers, predicate-pushdown reads,
  * file-index listings, streaming file sources' table reads) survives
  * a store without directories, atomic renames, or cheap per-dir
  * listings.
  *
  * Env-gated like the multi-JVM slice: the double run is ~minutes, run
  * once per round. Set GRAFT_OBJFS_REGISTRY=1.
  */
class ObjfsRegistrySpec extends SparkTestBase {

  private def conf = spark.sparkContext.hadoopConfiguration

  private val localDir = "/root/testdata/sf0.001"
  private val bucket = "registry"
  private val remoteDir = s"objfs://$bucket/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    conf.set("fs.objfs.impl", classOf[ObjectStoreFileSystem].getName)
  }

  private def gated(): Unit =
    assume(sys.env.get("GRAFT_OBJFS_REGISTRY").contains("1"),
      "set GRAFT_OBJFS_REGISTRY=1 to run the full-registry objfs sweep")

  /** Canonical frame content: schema line + sorted row renderings. */
  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.schema.map(f => s"${f.name}:${f.dataType.sql}") ++
      df.collect().map(_.toString).sorted

  test("every registry query answers identically over objfs:// and " +
      "file:// tables (GRAFT_OBJFS_REGISTRY)") {
    gated()
    ObjectStoreFileSystem.clearOutage()
    ObjectStoreFileSystem.resetBucket(bucket)
    val fs = new Path(remoteDir).getFileSystem(conf)
    Tables.names.foreach { n =>
      fs.copyFromLocalFile(new Path(s"$localDir/$n.parquet"),
        new Path(s"$remoteDir/$n.parquet"))
    }

    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var done = 0
    for (q <- SparkEntry.registry) {
      val expected =
        try canon(q.run(spark, localDir))
        finally CacheScope.release()
      val got =
        try canon(q.run(spark, remoteDir))
        finally CacheScope.release()
      if (expected != got) {
        failures += q.name
        info(s"MISMATCH ${q.name}: local ${expected.size} lines vs " +
          s"objfs ${got.size}; first diff: " +
          expected.zipAll(got, "<missing>", "<extra>")
            .find { case (a, b) => a != b }
            .map { case (a, b) => s"[$a] vs [$b]" }.getOrElse("?"))
      }
      done += 1
      if (done % 25 == 0) info(s"$done/${SparkEntry.registry.size} checked")
    }
    assert(failures.isEmpty,
      s"${failures.size}/${SparkEntry.registry.size} queries diverged " +
        s"over objfs: ${failures.mkString(", ")}")
    info(s"all ${SparkEntry.registry.size} registry queries identical " +
      "over objfs:// and file://")
  }
}
