package graft

import org.apache.spark.sql.Dataset

/** Registry of cached intermediates whose lifetime is ONE query
  * evaluation. Operators and queries register what they persist (or
  * localCheckpoint); the runner — Verify, Bench, or any long-lived
  * session embedding the library — calls [[release]] after consuming a
  * query's result, so cache blocks never accumulate across queries.
  */
object CacheScope {
  private val scoped = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  /** Past this many outstanding entries the scope logs a warning: a
    * long-lived session that registers caches (every stamp/assign/
    * persist call does) but never calls [[release]] accumulates
    * MEMORY_AND_DISK blocks indefinitely. We deliberately do NOT
    * auto-evict — a registered entry may be a localCheckpoint, which
    * cannot recompute once unpersisted, so eviction could corrupt an
    * in-flight query; the contract is release-after-every-result.
    */
  private val WarnThreshold = 64

  private def checkGrowth(): Unit =
    if (scoped.size == WarnThreshold)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"CacheScope holds $WarnThreshold unreleased entries - call " +
          "CacheScope.release() after consuming each query result " +
          "(see CacheScope scaladoc), or cached blocks accumulate " +
          "for the life of the session.")

  /** Persist and register in one step; eta-expands in
    * `.transform(CacheScope.persist)`.
    */
  def persist[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist()
    register(ds)
    ds
  }

  /** Persist at an explicit storage level. MEMORY_ONLY is the scratch-
    * bounding choice for large intermediates: partitions cache while
    * they fit and silently fall back to recompute under pressure —
    * never spilling cache blocks to the disk the concurrent shuffles
    * are already using.
    */
  def persistAt[T](ds: Dataset[T],
      level: org.apache.spark.storage.StorageLevel): Dataset[T] = {
    ds.persist(level)
    register(ds)
    ds
  }

  /** Register an already-cached dataset for the next [[release]]. For
    * a localCheckpoint'ed dataset, `Dataset.unpersist` is a NO-OP (the
    * blocks are RDD-level, invisible to the SQL cache manager), so the
    * release drops the underlying checkpoint RDD from the plan's
    * LogicalRDD leaves. The dataset must be fully materialized before
    * release (checkpoints cannot recompute once unpersisted).
    */
  def register(ds: Dataset[_]): Unit = {
    scoped.synchronized {
      scoped += { () =>
        ds.unpersist(blocking = false)
        // block-level caches AND reliable-checkpoint files (GraftCheckpoint
        // snapshots under spark.graft.reliableCheckpoint leave FS files
        // Spark itself never deletes)
        GraftCheckpoint.free(ds)
      }
      checkGrowth()
    }
  }

  /** Defer an arbitrary cleanup (e.g. `broadcast.destroy()`) to the
    * next [[release]] — for resources the Dataset cache manager does
    * not track. The harness calls release only after the query's
    * action completes, so destroying a broadcast here is safe.
    */
  def defer(cleanup: () => Unit): Unit = scoped.synchronized {
    scoped += cleanup
    checkGrowth()
  }

  /** Create a temp directory whose recursive delete is deferred to the
    * next [[release]]. Streaming-equivalence harnesses copy the feed +
    * facts store + checkpoint under one such dir — gigabytes at scaled
    * SFs, so leaking them across a sweep fills the temp filesystem.
    * Release runs after the query's action completes, the earliest
    * safe point (the serve reads the facts dir lazily).
    */
  def scratchTempDir(prefix: String): java.nio.file.Path = {
    val base = java.nio.file.Files.createTempDirectory(prefix)
    defer { () =>
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p)) {
          val children = java.nio.file.Files.list(p)
          try children.forEach(rm(_)) finally children.close()
        }
        java.nio.file.Files.deleteIfExists(p)
      }
      try rm(base) catch { case _: java.io.IOException => () }
    }
    base
  }

  /** Unpersist every registered intermediate since the last release. */
  def release(): Unit = scoped.synchronized {
    scoped.foreach(_.apply())
    scoped.clear()
  }

  /** Scope marker for MID-QUERY partial release: a builder that runs
    * several heavyweight phases sequentially (m4_reorg_flagship's two
    * fork serves) marks the scope before each phase and releases only
    * that phase's registrations once its result is materialized — the
    * phase's cache/scratch is freed before the next phase runs, while
    * registrations from OUTSIDE the phase (shared inputs, the
    * materialized phase results themselves) stay scoped until the
    * harness's ordinary end-of-query [[release]].
    */
  def mark(): Int = scoped.synchronized(scoped.size)

  /** Release every entry registered since [[mark]] returned `m`. */
  def releaseSince(m: Int): Unit = scoped.synchronized {
    scoped.drop(m).foreach(_.apply())
    scoped.remove(m, scoped.size - m)
  }
}
