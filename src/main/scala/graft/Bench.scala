package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json, xxhash64}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Benchmark main — times every registered query at the target SF and
  * prints ONE final JSON line for the driver.
  *
  * Two constraints shape the output:
  *  - The driver captures only the LAST ~2000 characters of stdout, so
  *    the final line must fit entirely inside that window (the full
  *    per-query map for 78+ queries is ~2.6 kB and got truncated in
  *    rounds 1-2 → `parsed: null`). The final line therefore carries
  *    the total plus only the slowest queries; the complete per-query
  *    map goes to an earlier stdout line and to BENCH_DETAIL.json.
  *  - Single-run timings on this box swing 2-4x per query from JVM
  *    effects (cold C2/Janino codegen, GC). Queries whose first run is
  *    ≥1 s get two more runs and report the MEDIAN of successful runs
  *    — min flattered round-over-round comparisons; the median is the
  *    honest steady-state estimate under this box's variance.
  *  - A query with no successful run reports -1.0 as a visible
  *    sentinel but is EXCLUDED from the total (it used to be summed,
  *    silently shrinking the headline by 1 s per failure); the final
  *    line carries n_failed explicitly.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // GRAFT_MASTER: multi-JVM override, same contract as graft.Verify
    val master = sys.env.getOrElse("GRAFT_MASTER", s"local[$cpus]")
    val spark = GraftConf.session(master, cpus)
    // box-speed stamp #1: before any Spark work (see calibrationProbe)
    val calStart = calibrationJson()
    // Warm the JVM/codegen/parquet-footer paths so the first timed query
    // doesn't absorb one-time session cost. The digest/conv/array-HOF
    // loop must clear the C2 compile threshold (~10k invocations), hence
    // the 60k-element synthetic input.
    Tables.names.foreach(n => Tables.t(spark, sfDir, n).count())
    spark.sql(
      """SELECT count(DISTINCT h) FROM (
        |  SELECT min(cast(conv(substring(md5(concat('k:', x)), 1, 15), 16, 10) as bigint))
        |           OVER (PARTITION BY length(x) ORDER BY x
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h
        |  FROM (SELECT explode(transform(sequence(1, 60000),
        |          i -> concat('w', cast(i AS string)))) AS x))
        |""".stripMargin).collect()
    // optional comma-separated name filter for targeted sweeps
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val qmap = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Per-plan warm-up: the historically variance-heavy queries get one
    // untimed run at sf0.001 so their Janino/C2 compilation happens off
    // the clock.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) {
      Seq("dedup_minhash_lsh", "dedup_incremental", "dedup_clusters",
        "dedup_simhash", "j6_json_theta_join", "dex_lifecycle_fold",
        "j9_wallet_domain_serve").foreach { n =>
        qmap.get(n).foreach { fn =>
          try fullEval(fn(spark, warmDir)) catch { case _: Throwable => () }
          GraftConf.dropCaches(spark)
        }
      }
    }
    // (seconds, succeeded) — a failed run must never improve the
    // reported minimum or hide behind a fast exception.
    def timed(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try {
          fullEval(fn(spark, sfDir))
          true
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] query failed: ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      GraftConf.dropCaches(spark)
      (dt, ok)
    }
    val firstPass = qmap.toSeq.sortBy(_._1).map { case (n, fn) => (n, fn, timed(fn)) }
    // Steady-state pass: successful runs ≥1 s get two more runs; the
    // MEDIAN over successful runs is reported. A query with no
    // successful run reports -1 so the failure is visible, not
    // averaged away.
    def median(ts: Seq[Double]): Double = {
      val s = ts.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // (name, all successful run times) — single-run fast queries carry
    // one sample; slow queries three. Median is the headline estimator;
    // min is ALSO recorded in BENCH_DETAIL so a reader can separate
    // box-variance drift (min flat, median up) from a real plan
    // regression (both up) without re-running.
    // SPARK_GRAFT_RUNS=1 → single-run probe mode (the 1000× protocol:
    // one run is minutes; box variance is dwarfed by the decade signal)
    val maxRuns = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val runTimes: Seq[(String, Seq[Double])] = firstPass.map {
      case (n, _, (t, true)) if t < 1.0 || maxRuns <= 1 => n -> Seq(t)
      case (n, fn, (t, true)) =>
        val extra = Seq.fill(maxRuns - 1)(timed(fn))
          .collect { case (t2, true) => t2 }
        n -> (t +: extra)
      case (n, _, (_, false)) => n -> Seq.empty[Double]
    }
    val results = runTimes.map {
      case (n, ts) if ts.nonEmpty => n -> median(ts)
      case (n, _) => n -> -1.0
    }
    val mins = runTimes.map {
      case (n, ts) if ts.nonEmpty => n -> ts.min
      case (n, _) => n -> -1.0
    }
    def fmt(v: Double): String = f"$v%.3f"
    def mapJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    val nFailed = results.count(_._2 < 0)
    val total = results.map(_._2).filter(_ >= 0).sum
    val totalMin = mins.map(_._2).filter(_ >= 0).sum
    // Stamp the EFFECTIVE shuffle codec into the artifact: round 10's
    // codec A/B was invalidated by a dead knob (-Dspark.io.compression
    // .codec is overridden by GraftConf's builder .config, so both legs
    // silently ran the same codec). Reading the value back from the
    // live session makes any future A/B self-verifying.
    val codec = spark.conf.get("spark.io.compression.codec", "?")
    // box-speed stamp #2: after the last timed run, so start-vs-end
    // exposes intra-run box drift and cross-round diffs can pre-scale
    val calEnd = calibrationJson()
    val calibration = s"""{"start":$calStart,"end":$calEnd,"probe":"lcg4M_sort_xor_median3"}"""
    val detail =
      s"""{"metric":"total_detail","value":${fmt(total)},"unit":"sec","action":"fulleval","codec":"$codec","calibration":$calibration,"queries":${mapJson(results)},"queries_min":${mapJson(mins)},"total_min":${fmt(totalMin)},"sf":"$sfDir"}"""
    // Full per-query map: one stdout line (may be cut from the tail) and
    // a repo-local file a reader can diff. The repo artifact is written
    // only for the FULL registry: an SPARK_GRAFT_ONLY-filtered run would
    // replace the 145-query record with a subset (it did, round 10 —
    // caught by an end-of-round artifact diff).
    println(detail)
    if (only.isEmpty) try {
      val repo = new java.io.File("/root/repo")
      if (repo.isDirectory) {
        val w = new java.io.PrintWriter(new java.io.File(repo, "BENCH_DETAIL.json"))
        try w.println(detail) finally w.close()
      }
    } catch { case _: Throwable => () }
    // Final driver line: total + the slowest queries + the per-query
    // MIN for the WHOLE registry, sized to survive the 2000-char tail
    // window. The full-registry min rides as a VALUE ARRAY in ascending
    // query-name order ("min_order":"name_asc" — the names are the
    // sorted `queries` registry keys, also carried verbatim in
    // BENCH_DETAIL.json's queries_min): a name→value map for 145
    // queries is ~3.4 kB and cannot fit the window, the bare values
    // fit with room to spare. Min-per-query in the driver artifact is
    // what lets a reader separate a single-run box outlier (min flat,
    // median up — round 11's 36.8 s m4 reading) from a real plan
    // regression (both up) WITHOUT a same-box re-run. Median map covers
    // the top-15: the r13 trim to top-12 made the driver's per-query
    // comparison read 3 previously-reported queries as
    // "dropped_from_bench" (r13 verdict #2) — top-15 restores the full
    // reported set, and the measured final line (~1.63 kB with the
    // calibration stamp) still clears the ~2 kB stdout tail window.
    val top = results.sortBy(-_._2).take(15).sortBy(_._1)
    val minAll = mins.sortBy(_._1).map(m => fmt(m._2)).mkString("[", ",", "]")
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","action":"fulleval","calibration":$calibration,"queries":${mapJson(top)},"n_queries":${results.size},"n_failed":$nFailed,"top_only":15,"min_order":"name_asc","queries_min":$minAll,"total_min":${fmt(totalMin)},"sf":"$sfDir"}""")
    spark.stop()
  }

  /** Box-speed calibration probe (r12 verdict ask #5). Round 12 burned
    * hours attributing a +10.5% raw cross-round total to a 1.4-2x
    * boot-to-boot box-speed swing — resolvable only by a same-box
    * interleaved A/B. This probe makes the swing READABLE FROM THE
    * ARTIFACT: a fixed, pinned-seed, no-IO workload (LCG fill of 4M
    * longs → Arrays.sort → xor fold; pure compute + memory, the same
    * resources the query medians contend on) timed at bench start and
    * end. Two shapes: single-threaded (core speed) and 16-way parallel
    * on independent arrays (the contention regime a 32-thread bench
    * actually runs in). Per shape: one untimed warm-up then the median
    * of 3. A reader — or tools/bench_diff.py --calibrate — divides two
    * rounds' walls by their calibration ratio before calling anything
    * a regression; start vs end additionally exposes an intra-run
    * drift (thermal/noisy-neighbor) that a single stamp would hide.
    */
  private def calibrationProbe(threads: Int): Double = {
    val n = 4 * 1000 * 1000
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
    def once(): Double = {
      val t0 = System.nanoTime()
      if (threads <= 1) {
        // the result is folded into a require so the JIT can't DCE it
        require(one(0x9E3779B97F4A7C15L) != 42L)
      } else {
        val pool = (0 until threads).map { t =>
          val th = new Thread(() => require(one(0x9E3779B97F4A7C15L + t) != 42L))
          th.start(); th
        }
        pool.foreach(_.join())
      }
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm-up (C2 on the LCG/sort loops)
    Seq.fill(3)(once()).sorted.apply(1)
  }

  private[graft] def calibrationJson(): String = {
    val s1 = calibrationProbe(1)
    val s16 = calibrationProbe(16)
    f"""{"st":$s1%.3f,"par16":$s16%.3f}"""
  }

  /** The timed action: xxhash64 over EVERY output column, summed to one
    * row. `count()` let Catalyst eliminate row-preserving join tails and
    * prune columns — a correct optimization that silently UNDER-TIMED
    * any query ending in a left join against a grouped child (found
    * round 7 on dedup_semantic/e2e_ingest_full and patched pointwise;
    * this makes the registry elimination-proof for COLUMNS and
    * row-preserving operators: every column is referenced, so nothing
    * upstream is prunable). One residual blind spot remains, by the
    * same mechanism count() had: a final global ORDER BY is still
    * removed by EliminateSorts beneath the order-insensitive xor
    * aggregate, so a query's presentation-sort cost goes untimed. At
    * scale a global sort is a range-shuffle + per-partition sort of
    * the FINAL (small) output, so the untimed cost is bounded by
    * output size, not input size — acceptable for throughput
    * comparison (PERF.md round 9 measured the residual at ≈ 0); add a
    * limit/collect tail when the sort itself is under study. PlanSpec
    * pins the elimination. Map columns hash via
    * to_json (hash() rejects MapType); the hash+xor tail itself is
    * codegen'd and stream-shaped, adding no shuffle.
    */
  private def fullEval(df: DataFrame): Unit = {
    val cols = df.schema.fields.map { f =>
      val c = col("`" + f.name + "`")
      if (containsMap(f.dataType)) to_json(c) else c
    }
    // bit_xor, not sum: ANSI mode makes a Long-sum of 2^63-range hashes
    // an ARITHMETIC_OVERFLOW error; XOR is total and order-insensitive.
    df.select(xxhash64(struct(cols: _*)).as("h"))
      .agg(org.apache.spark.sql.functions.expr("bit_xor(h)")).collect()
    ()
  }

  private def containsMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case a: ArrayType => containsMap(a.elementType)
    case _ => false
  }
}
