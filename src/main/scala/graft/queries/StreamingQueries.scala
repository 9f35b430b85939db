package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables.t
import graft.model.LedgerEntry
import graft.streaming.{IncrementalIngest, StreamingBalances, StreamingDedup,
  StreamingKmv, StreamingSessions, StreamingTxStats, Streams}

/** Streaming↔batch equivalence as DRIVER-CHECKED gate rows (round-3
  * verdict item 7): the driver cannot run a stream, but it can check
  * the OUTPUT of a stream replayed over the fixture against the batch
  * twin's oracle SQL. Each gate feeds the events table through the real
  * Structured Streaming operator in ordered micro-batches via
  * `MemoryStream` ([[replay]], the in-process harness — data passes
  * through the driver because the SOURCE is the harness, not the
  * operator; in production the same code reads Kafka/files) and returns
  * the emitted rows. The oracle computes the batch semantics
  * relationally — a hash match proves the incremental state machine
  * converges to the batch answer, micro-batch boundaries and all.
  */
object StreamingQueries {

  /** Split serial-ordered replay into 4 range batches — the per-block
    * ingestion cadence (§2.9). Nonneg integer div matches DuckDB `//`.
    */
  private def batchOf(k: Long, mn: Long, mx: Long): Long =
    math.min(3L, (k - mn) * 4 / (mx - mn + 1))

  /** The 4 range batches of `rows`, in order, by `batchOf` on `key`.
    * `rows` must be sorted on `key`, so its ends are the range's ends;
    * an arrival-index key splits the rows into 4 equal runs.
    */
  private def rangeBatches[R](rows: Seq[R])(key: R => Long): Seq[Seq[R]] = {
    val (mn, mx) = (key(rows.head), key(rows.last))
    (0L to 3L).map(b => rows.filter(r => batchOf(key(r), mn, mx) == b))
  }

  /** Run `body` with 8 shuffle partitions, then restore the session's
    * value. The state store instantiates one store per shuffle partition
    * per micro-batch; at replay-fixture scale 8 partitions cut that fixed
    * overhead ~4× with identical output. A stream pins the value at
    * start, so restoring it once the stream has started is safe.
    */
  private def withStatePartitions[A](s: SparkSession)(body: => A): A = {
    val saved = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try body finally s.conf.set("spark.sql.shuffle.partitions", saved)
  }

  /** Replay `batches` in order (empty ones skipped) through `op` on one
    * long-lived MemoryStream query, each batch processed to completion,
    * and return every row its memory sink (output `mode`) received. The
    * rows are collected, so the result outlives the query and its view.
    */
  private def replay[T: Encoder](s: SparkSession, batches: Seq[Seq[T]],
      mode: String)(op: Dataset[T] => Dataset[_]): DataFrame = {
    implicit val sqlCtx: SQLContext = s.sqlContext
    val source = MemoryStream[T]
    val name = "replay_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val query = withStatePartitions(s)(
      Streams.toMemory(op(source.toDS()), name, mode))
    try {
      batches.filter(_.nonEmpty).foreach { b =>
        source.addData(b)
        query.processAllAvailable()
      }
      val out = s.table(name)
      s.createDataFrame(out.collectAsList(), out.schema)
    } finally {
      query.stop()
      s.catalog.dropTempView(name)
    }
  }

  /** Final balance per address from update-mode emissions, with the
    * number of updates (one per batch that touched the address).
    */
  private def latestBalances(updates: DataFrame): DataFrame =
    updates
      .groupBy(col("address"))
      .agg(
        max_by(struct(col("available"), col("lastTxDbSerialNum")),
          col("lastTxDbSerialNum")).as("f"),
        count(lit(1)).as("n_updates"))
      .select(col("address"), col("f.available").as("available"),
        col("f.lastTxDbSerialNum").as("last_serial"), col("n_updates"))
      .orderBy("address")

  /** Emitted sessions in the oracle's shape, sentinel users dropped. */
  private def sessionRows(sessions: DataFrame): DataFrame =
    sessions.where(col("userId") >= 0)
      .select(col("userId").as("user_id"), col("startUs").as("start_us"),
        col("endUs").as("end_us"), col("nEvents").as("n_events"),
        col("durationSecs").as("duration_secs"))
      .orderBy("user_id", "start_us")

  /** Final stats per window from update-mode emissions (the max-txCount
    * update), with the number of updates per window.
    */
  private def windowFinals(updates: DataFrame): DataFrame =
    updates
      .groupBy(col("windowStart"))
      .agg(max_by(struct(col("txCount"), col("validCount"),
        col("validUnits")), col("txCount")).as("f"),
        count(lit(1)).as("n_updates"))
      .select(unix_micros(col("windowStart")).as("win_us"),
        col("f.txCount").as("tx_count"), col("f.validCount").as("valid_count"),
        col("f.validUnits").as("valid_units"), col("n_updates"))
      .orderBy("win_us")

  /** Incremental balances (mapGroupsWithState) ≡ batch Σ-derivation.
    * `n_updates` pins the micro-batch cadence itself: update mode emits
    * one row per touched key per batch, so the count per key must equal
    * the number of range batches containing that key's events.
    */
  val balancesEquiv = Q(
    "streaming_balances_equiv",
    """WITH e AS (SELECT user_id, event_id,
      |    CASE WHEN event_type = 'purchase'
      |      THEN -CAST(round(value * 100) AS BIGINT)
      |      ELSE CAST(round(value * 100) AS BIGINT) END AS d FROM events),
      |m AS (SELECT min(event_id) AS mn, max(event_id) AS mx FROM e),
      |b AS (SELECT user_id, event_id, d,
      |    least(3, ((event_id - mn) * 4) // (mx - mn + 1)) AS batch
      |  FROM e, m)
      |SELECT 'U' || CAST(user_id AS VARCHAR) AS address,
      |  CAST(sum(d) AS BIGINT) AS available,
      |  CAST(max(event_id) AS BIGINT) AS last_serial,
      |  count(DISTINCT batch) AS n_updates
      |FROM b GROUP BY user_id ORDER BY address""".stripMargin) { (s, dir) =>
    import s.implicits._
    val rows = t(s, dir, "events")
      .select($"user_id", $"event_id", Q.deltaCents.as("d"))
      .as[(Long, Long, Long)].collect().sortBy(_._2).toSeq
    val batches = rangeBatches(rows)(_._2).map(_.map { case (uid, eid, d) =>
      LedgerEntry(s"U$uid", 31L, "Omni", eid, 0, "recipient", d, 0, 0, 0)
    })
    latestBalances(replay(s, batches, "update")(StreamingBalances.updates))
  }

  /** Streaming gap sessionization (flatMapGroupsWithState + event-time
    * timeout) ≡ the batch sessionizer (w8's lag/running-sum form). The
    * replay is range-split on event time (ordered batches → nothing is
    * watermark-late), and two far-future sentinel batches advance the
    * watermark so every open session's timeout fires — total emission.
    * Timestamps are ms-truncated on BOTH sides (java.sql.Timestamp
    * carries millis through the streaming path).
    */
  val sessionsEquiv = Q(
    "streaming_sessions_equiv",
    """WITH e AS (SELECT event_id, user_id,
      |    CAST(epoch_us(ts) // 1000 AS BIGINT) * 1000 AS us FROM events),
      |gaps AS (SELECT user_id, us, event_id,
      |    CASE WHEN us - lag(us) OVER w > 1800000000
      |           OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |sess AS (SELECT user_id, us,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      |  FROM gaps)
      |SELECT user_id, CAST(min(us) AS BIGINT) AS start_us,
      |  CAST(max(us) AS BIGINT) AS end_us, count(*) AS n_events,
      |  CAST((max(us) - min(us)) // 1000000 AS BIGINT) AS duration_secs
      |FROM sess GROUP BY user_id, session_idx
      |ORDER BY user_id, start_us""".stripMargin) { (s, dir) =>
    import s.implicits._
    val rows = t(s, dir, "events")
      .select($"user_id", $"event_id",
        // integer floor (div), matching the oracle's `//` — double
        // division can round a non-ms-aligned timestamp up by 1µs
        expr("unix_micros(ts) div 1000").as("ms"))
      .as[(Long, Long, Long)].collect().sortBy(r => (r._3, r._2)).toSeq
    def click(uid: Long, eid: Long, ms: Long) =
      StreamingSessions.Click(uid, eid, new java.sql.Timestamp(ms))
    val batches = rangeBatches(rows)(_._3).map(_.map { case (uid, eid, ms) =>
      click(uid, eid, ms)
    })
    // Two sentinel batches: the first advances the watermark past
    // every open session's timeout; the second triggers the batch in
    // which the timed-out groups actually emit.
    val sentinels = Seq(86400000L, 172800000L)
      .map(off => Seq(click(-1L, 0L, rows.last._3 + off)))
    sessionRows(replay(s, batches ++ sentinels, "append")(
      StreamingSessions.sessions))
  }

  /** Streaming tumbling-window tx stats (watermark + event-time window,
    * §2.9) ≡ the relational per-hour aggregate. Update mode emits one
    * row per touched window per micro-batch, so `n_updates` per window
    * must equal the number of time-range batches that contained events
    * of that window — the cadence pin, like balancesEquiv. The replay
    * is time-ordered, so the 1-day watermark never drops a row; window
    * finals are the max-txCount update (txCount grows monotonically —
    * a window only re-emits when it absorbed rows).
    */
  val txStatsEquiv = Q(
    "streaming_txstats_equiv",
    """WITH e AS (SELECT event_id,
      |    CAST(epoch_us(ts) // 1000 AS BIGINT) * 1000 AS us,
      |    event_type <> 'error' AS valid,
      |    CAST(round(value * 100) AS BIGINT) AS units FROM events),
      |m AS (SELECT min(us) AS mn, max(us) AS mx FROM e),
      |b AS (SELECT e.*, least(3, ((us - mn) * 4) // (mx - mn + 1)) AS batch,
      |    (us // 3600000000) * 3600000000 AS win_us FROM e, m)
      |SELECT win_us, count(*) AS tx_count,
      |  count(CASE WHEN valid THEN 1 END) AS valid_count,
      |  CAST(sum(CASE WHEN valid THEN units END) AS BIGINT) AS valid_units,
      |  count(DISTINCT batch) AS n_updates
      |FROM b GROUP BY win_us ORDER BY win_us""".stripMargin) { (s, dir) =>
    import s.implicits._
    val rows = t(s, dir, "events")
      .select($"event_id",
        // integer floor (div) × 1000, matching the oracle's `//` —
        // double division can shift batch assignment by 1µs
        (expr("unix_micros(ts) div 1000") * 1000).as("us"),
        ($"event_type" =!= "error").as("valid"),
        round($"value" * 100).cast(LongType).as("units"))
      .as[(Long, Long, Boolean, Long)].collect()
      .sortBy(r => (r._2, r._1)).toSeq
    val batches = rangeBatches(rows)(_._2).map(_.map {
      case (_, us, valid, units) =>
        TxStatRow(new java.sql.Timestamp(us / 1000), valid, units)
    })
    windowFinals(replay(s, batches, "update")(
      ds => StreamingTxStats.windowed(ds.toDF())))
  }

  /** Streaming exact dedup (`dropDuplicatesWithinWatermark`) ≡ batch
    * exact dedup over the dedup_exact planted corpus (every 10th doc
    * re-delivered as an exact copy at id+200000). The gate is keyed by
    * CONTENT hash with `n_emitted` per hash: exactly one row must come
    * out per distinct content — no duplicate emission, no content lost —
    * regardless of which copy survives an intra-batch race (keeper
    * identity is pinned by the batch twin `dedup_exact`; this gate pins
    * the streaming state machine's exactly-once-per-key contract).
    * Synthetic event times span < 1 h, so within the 1 h lateness
    * horizon nothing is ever late-dropped and every re-delivery is
    * suppressed by live state (bounded-state EVICTION past the horizon
    * is `StreamingDedupSpec`'s subject).
    */
  val dedupEquiv = Q(
    "streaming_dedup_equiv",
    """WITH corpus AS (SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 10 = 0)
      |SELECT md5(trim(lower(text))) AS content_hash,
      |  CAST(1 AS BIGINT) AS n_emitted
      |FROM corpus GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = t(s, dir, "documents").select($"doc_id", $"text")
      .as[(Long, String)].collect()
    val planted = (docs ++ docs.filter(_._1 % 10 == 0)
      .map { case (id, txt) => (id + 200000, txt) }).sortBy(_._1).toSeq
    val base = 1600000000000L // synthetic epoch; only relative time matters
    val batches = rangeBatches(planted.zipWithIndex)(_._2.toLong)
      .map(_.map { case ((id, txt), _) =>
        DedupDoc(new java.sql.Timestamp(base + (id % 3600) * 1000L), id, txt)
      })
    replay(s, batches, "append")(ds => StreamingDedup.deduped(ds.toDF()))
      .groupBy($"contentHash")
      .agg(count(lit(1)).as("n_emitted"))
      .select($"contentHash".as("content_hash"), $"n_emitted")
      .orderBy("content_hash")
  }

  /** Streaming KMV sketch ≡ batch `graft_kmv` aggregate: documents are
    * replayed in 4 micro-batches, shingled and hashed IN the stream,
    * and folded into ≤64-long `mapGroupsWithState` state per language
    * ([[graft.streaming.StreamingKmv]]). The gate reuses the batch
    * query's oracle VERBATIM — the k minima are an order- and
    * batch-independent set function of the stream, so the final emitted
    * sketch must equal the batch aggregate bit-for-bit, micro-batch
    * boundaries and all. The scale story is the state bound: a key's
    * state is k longs forever, no watermark, no eviction — the sketch
    * of an unbounded stream never grows.
    */
  val kmvEquiv = Q(
    "streaming_kmv_equiv",
    TextQueries.kmvDistinct.oracle.get) { (s, dir) =>
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val docs = t(s, dir, "documents").select($"doc_id", $"lang", $"text")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    val batches = rangeBatches(docs.zipWithIndex)(_._2.toLong)
      .map(_.map { case ((_, lang, text), _) => KmvDoc(lang, text) })
    replay(s, batches, "update") { ds =>
      StreamingKmv.sketches(ds.toDF()
        .select(col("lang"), split(lower(col("text")), " ").as("arr"))
        .where(size(col("arr")) >= 3)
        .select(col("lang"), explode(expr(CurationQueries.shingle3Spark)).as("s"))
        .select(col("lang"), expr("graft_hash60(s)").as("h"))
        .as[(String, Long)], 64)
    }
      .groupBy($"key")
      .agg(max_by($"mins", $"n").as("hs"))
      .select($"key".as("lang"),
        size($"hs").cast(LongType).as("k_used"),
        element_at($"hs", size($"hs")).as("kth_min"),
        when(size($"hs") < 64, size($"hs").cast(LongType))
          .otherwise(expr(
            "cast(floor(63.0 * 1152921504606846976.0 / element_at(hs, size(hs))) as bigint)"))
          .as("est_distinct"))
      .orderBy("lang")
  }

  /** The COMPOSED ingest under streaming (round-7 verdict ask #5): the
    * chain flagship's confirmed node feed arrives as 4 ascending
    * block-range parquet drops consumed by a real `readStream` +
    * `Trigger.AvailableNow` + checkpoint query (restarted per drop —
    * the production file path, not MemoryStream), whose `foreachBatch`
    * runs the [[graft.streaming.IncrementalIngest]] cycle: admit
    * blocks > the sink watermark, rewrite affected tail ranges of the
    * [[graft.sinks.BlockRangeSink]] facts store. A 5th no-new-data
    * restart plus a deliberate FULL-FEED re-ingest then prove
    * exactly-once: if either re-admitted anything, every downstream
    * sum would double and the hash gate would fail. The served table
    * derives from the facts store via the SAME
    * [[PipelineQueries.chainServe]] the batch flagship uses, against
    * the SAME oracle — streaming ≡ batch as a statement about the
    * ingest path, composed end-to-end.
    */
  val chainEquiv = Q(
    "streaming_chain_equiv",
    PipelineQueries.chainOracleSql) { (s, dir) =>
    import s.implicits._
    import graft.sinks.BlockRangeSink

    val base = graft.CacheScope.scratchTempDir("graft_chain_stream")
    val feedDir = base.resolve("feed").toString
    val factsDir = base.resolve("facts").toString
    val ckpt = base.resolve("ckpt").toString

    val conf = PipelineQueries.chainOrders(s, dir).where($"conf")
      .select($"ok".as("block"), $"ck", $"nk", $"amt", $"pay", $"omni")
    val (mn, mx) = conf.agg(min($"block"), max($"block"))
      .as[(Long, Long)].head()

    // no state-partition pin: the commit keeps the session's shuffle
    // partitioning, which lays out the facts store's files
    def runOnce(): Unit =
      Streams.availableNow(s.readStream.schema(conf.schema).parquet(feedDir),
        ckpt, "append")(IncrementalIngest.ingestFrame(s, _, factsDir))

    (0L to 3L).foreach { b =>
      // ascending block ranges: (block-mn)*4 div span is 0..3 exactly
      // (integer `div`, not `/` — Column./ on longs yields DOUBLE)
      conf.where(expr(s"(block - $mn) * 4 div ${mx - mn + 1}") === b)
        .write.mode("append").parquet(feedDir)
      runOnce()
    }
    runOnce() // no-new-files restart: the file-source log must admit nothing
    // crashed-batch replay: all blocks <= watermark, must admit nothing
    IncrementalIngest.ingestFrame(s, conf, factsDir)

    val confBack = BlockRangeSink.read(s, factsDir)
      .select($"block".as("ok"), $"ck", $"nk", $"amt", $"pay", $"omni")
      .as[(Long, Long, Long, Long, Long, Boolean)]
    PipelineQueries.chainServe(s, dir, confBack)
  }

  /** M4 under streaming — the reorg contract exercised through the
    * LIVE ingest path (reference omniEngine.py main loop: a tip-hash
    * mismatch mid-follow triggers reorgRollback(fork), then sync
    * resumes from fork+1 on the winning branch; sql.py:85-218). The
    * existing reorg gates re-derive from a truncated FRAME; this one
    * proves the STORAGE lifecycle: the original chain is ingested
    * through the checkpointed stream, the fork physically truncates
    * the facts store ([[graft.sinks.BlockRangeSink.dropAbove]] — one
    * commit that drops the tail ranges and rewrites the straddling
    * files, called TWICE to pin idempotence), the watermark falls back to ≤ fork,
    * and the competing branch (same heights, different payloads:
    * amt+97, pay re-derived) is admitted by the SAME watermark gate as
    * normal sync — no special re-admission path. A full winning-feed
    * replay afterwards must admit ZERO rows (exactly-once survives the
    * rollback). The serve hash-matches DuckDB computing the winning
    * chain fresh — so if truncation silently kept one orphaned block,
    * or the branch was rejected, every downstream cum/balance diverges
    * and the gate goes red. Self-proving non-vacuity: the oracle is
    * the BRANCH chain, so "reorg did nothing" cannot hash-match.
    */
  val reorgEquiv = Q(
    "streaming_reorg_equiv",
    """WITH cust AS (SELECT c_custkey AS ck,
      |    CAST(c_nationkey AS BIGINT) AS nk,
      |    row_number() OVER (ORDER BY c_custkey) AS rc FROM customer),
      |o AS (SELECT o_orderkey AS ok, o_custkey AS ck,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS amt FROM orders),
      |oo AS (SELECT o.ok, o.ck, c.nk, c.rc, o.amt,
      |    o.amt % 1000 + 1 AS pay,
      |    o.ok % 7 <> 3 AS conf, o.ok % 3 = 0 AS omni
      |  FROM o JOIN cust c ON o.ck = c.ck),
      |f AS (SELECT min(ok) + ((max(ok) - min(ok) + 1) * 3) // 4 AS fork
      |  FROM oo),
      |co AS (SELECT ok, ck, nk, rc, omni,
      |    CASE WHEN ok > fork THEN oo.amt + 97 ELSE oo.amt END AS amt2,
      |    CASE WHEN ok > fork THEN (oo.amt + 97) % 1000 + 1
      |         ELSE oo.pay END AS pay2,
      |    1000000 + row_number() OVER (ORDER BY ok) AS serial
      |  FROM oo CROSS JOIN f WHERE conf),
      |ch AS (SELECT *, sum(pay2 + 100) OVER (PARTITION BY ck ORDER BY ok
      |    ROWS UNBOUNDED PRECEDING) AS cum FROM co),
      |flows AS (
      |  SELECT 'C' || CAST(ck AS VARCHAR) AS address,
      |    CAST(0 AS BIGINT) AS pid,
      |    CAST(1000000000000 AS BIGINT) AS delta,
      |    rc AS serial FROM cust
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 0,
      |    -(1000000000000 - (cum - pay2 - 100)), serial FROM ch
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 0,
      |    1000000000000 - cum, serial FROM ch
      |  UNION ALL SELECT 'M' || CAST(nk AS VARCHAR), 0, pay2, serial
      |    FROM ch
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 31, -amt2, serial
      |    FROM ch WHERE omni
      |  UNION ALL SELECT 'M' || CAST(nk AS VARCHAR), 31, amt2, serial
      |    FROM ch WHERE omni),
      |bal AS (SELECT address, pid AS propertyId,
      |    CAST(sum(delta) AS BIGINT) AS available,
      |    count(*) AS n_entries,
      |    CAST(max(serial) AS BIGINT) AS last_serial
      |  FROM flows GROUP BY 1, 2),
      |pend AS (SELECT 'C' || CAST(ck AS VARCHAR) AS address,
      |    count(*) AS n_pending, CAST(sum(pay) AS BIGINT) AS pending_sats
      |  FROM oo WHERE NOT conf AND ok % 11 <> 0 GROUP BY 1),
      |wmap AS (SELECT 'C' || CAST(ck AS VARCHAR) AS address,
      |    'W' || CAST(nk AS VARCHAR) AS walletId FROM cust
      |  UNION ALL SELECT DISTINCT 'M' || CAST(nk AS VARCHAR), 'WM'
      |    FROM cust)
      |SELECT w.walletId, b.address, b.propertyId, b.available,
      |  b.n_entries, b.last_serial,
      |  coalesce(p.n_pending, 0) AS n_pending,
      |  coalesce(p.pending_sats, 0) AS pending_sats
      |FROM bal b JOIN wmap w ON b.address = w.address
      |LEFT JOIN pend p ON b.address = p.address
      |ORDER BY b.address, b.propertyId""".stripMargin) { (s, dir) =>
    import s.implicits._
    import graft.sinks.BlockRangeSink

    val base = graft.CacheScope.scratchTempDir("graft_reorg_stream")
    val feedDir = base.resolve("feed").toString
    val factsDir = base.resolve("facts").toString
    val ckpt = base.resolve("ckpt").toString

    val oo = PipelineQueries.chainOrders(s, dir)
    val conf = oo.where($"conf")
      .select($"ok".as("block"), $"ck", $"nk", $"amt", $"pay", $"omni")
    // fork at the ¾ point of the FULL height range (same integer
    // arithmetic as the oracle's f CTE)
    val (mnA, mxA) = oo.agg(min($"ok"), max($"ok")).as[(Long, Long)].head()
    val fork = mnA + (mxA - mnA + 1L) * 3L / 4L
    // the competing branch: same heights, different payloads
    val branch = conf.where($"block" > fork)
      .withColumn("amt", $"amt" + 97L)
      .withColumn("pay", $"amt" % 1000L + 1L)

    // no state-partition pin, as in chainEquiv
    def runOnce(): Unit =
      Streams.availableNow(s.readStream.schema(conf.schema).parquet(feedDir),
        ckpt, "append")(IncrementalIngest.ingestFrame(s, _, factsDir))

    // 1. original chain, two watermark-gated drops through the stream
    val mid = (mnA + mxA) / 2L
    conf.where($"block" <= mid).write.mode("append").parquet(feedDir)
    runOnce()
    conf.where($"block" > mid).write.mode("append").parquet(feedDir)
    runOnce()
    // 2. tip-hash mismatch detected → physical rollback, twice
    //    (idempotence is part of the contract: a crashed rollback
    //    re-runs safely)
    IncrementalIngest.reorg(s, factsDir, fork)
    val wm = IncrementalIngest.reorg(s, factsDir, fork)
    require(wm >= 0 && wm <= fork,
      s"rollback left watermark $wm above fork $fork")
    // 3. the winning branch arrives as a new feed drop; the ordinary
    //    watermark gate admits it (blocks > fork)
    branch.write.mode("append").parquet(feedDir)
    runOnce()
    // 4. exactly-once after rollback: a full winning-feed replay must
    //    admit nothing
    val winning = conf.where($"block" <= fork).unionByName(branch)
    val readmitted = IncrementalIngest.ingestFrame(s, winning, factsDir)
    require(readmitted == 0L,
      s"winning-feed replay re-admitted $readmitted rows")

    val confBack = BlockRangeSink.read(s, factsDir)
      .select($"block".as("ok"), $"ck", $"nk", $"amt", $"pay", $"omni")
      .as[(Long, Long, Long, Long, Long, Boolean)]
    PipelineQueries.chainServe(s, dir, confBack)
  }

  // ---------------------------------------------------------------
  // File-source twins (round-9 verdict ask #6): the MemoryStream
  // forms above replay THROUGH THE DRIVER by construction (the feed
  // is collected and re-fed batch-by-batch — their documented 1000×
  // bound), and they never restart the query. These twins are the
  // production path: the feed is written DISTRIBUTED as ascending
  // parquet drops, a checkpointed readStream consumes each drop via
  // Trigger.AvailableNow (the query RESTARTS per drop, so state-store
  // recovery from the checkpoint is part of what the hash pins), and
  // emissions append to a parquet results dir. Nothing passes through
  // the driver but two scalar aggregates — the same unbounded-scale
  // shape as streaming_chain_equiv. The MemoryStream forms stay: they
  // pin the long-lived continuous-query cadence (one process, no
  // restart), which the restart-per-drop form deliberately does not.
  // ---------------------------------------------------------------

  /** Replay `feed` through the file path: each of its 4 range batches
    * on `key` (the oracles' `least(3, (key - mn) * 4 // (mx - mn + 1))`),
    * then each drop of `more(mx)`, is appended to a parquet feed dir and
    * consumed by one AvailableNow restart of `op` over a checkpointed
    * `readStream` of that dir, under the replay-scale state-partition
    * pin. Emissions append to a results dir, which is returned.
    */
  private def fileReplay(s: SparkSession, feed: DataFrame, key: String,
      mode: String, more: Long => Seq[DataFrame] = _ => Nil)(
      op: DataFrame => Dataset[_]): DataFrame = {
    import s.implicits._
    val base = graft.CacheScope.scratchTempDir("graft_file_stream")
    val feedDir = base.resolve("feed").toString
    val outDir = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    val (mn, mx) = feed.agg(min(expr(key)), max(expr(key)))
      .as[(Long, Long)].head()
    val drops = (0L to 3L).map(b => feed.where(
      expr(s"least(3, ($key - $mn) * 4 div ${mx - mn + 1})") === b))
    (drops ++ more(mx)).foreach { drop =>
      drop.write.mode("append").parquet(feedDir)
      withStatePartitions(s)(Streams.availableNow(
        op(s.readStream.schema(feed.schema).parquet(feedDir)).toDF(),
        ckpt, mode)(_.write.mode("append").parquet(outDir)))
    }
    s.read.parquet(outDir)
  }

  /** mapGroupsWithState balances through the FILE path — same oracle
    * as [[balancesEquiv]]. Each of the 4 serial-range drops is one
    * AvailableNow restart (no maxFilesPerTrigger ⇒ one micro-batch
    * per drop, which is what `n_updates` pins — a split batch fails
    * the gate loudly), so the balance state survives 4 checkpoint
    * recoveries on its way to the batch answer.
    */
  val balancesFile = Q(
    "streaming_balances_file",
    balancesEquiv.oracle.get) { (s, dir) =>
    import s.implicits._
    val feed = t(s, dir, "events").select(
      concat(lit("U"), $"user_id").as("address"),
      lit(31L).as("propertyId"), lit("Omni").as("protocol"),
      $"event_id".as("txDbSerialNum"),
      lit(0).as("addressTxIndex"), lit("recipient").as("addressRole"),
      Q.deltaCents.as("availableDelta"), lit(0L).as("reservedDelta"),
      lit(0L).as("acceptedDelta"), lit(0L).as("frozenDelta"),
      lit(0L).as("linkedTxDbSerialNum"))
    latestBalances(fileReplay(s, feed, "txDbSerialNum", "update")(
      df => StreamingBalances.updates(df.as[LedgerEntry])))
  }

  /** flatMapGroupsWithState sessionization through the FILE path —
    * same oracle as [[sessionsEquiv]]. The two sentinel drops arrive
    * as their own restarts: the first advances the checkpointed
    * watermark past every open session's timeout, the second fires
    * the timeouts — total emission across 6 recoveries.
    */
  val sessionsFile = Q(
    "streaming_sessions_file",
    sessionsEquiv.oracle.get) { (s, dir) =>
    import s.implicits._
    val e = t(s, dir, "events").select(
      $"user_id".as("userId"), $"event_id".as("eventId"),
      // ms-truncate, matching the oracle's `epoch_us(ts) // 1000 * 1000`
      expr("timestamp_micros(unix_micros(ts) div 1000 * 1000)").as("ts"))
    // far-future sentinels: watermark advance, then timeout emission
    def sentinels(mx: Long) = Seq(86400000000L, 172800000000L).map { off =>
      Seq((-1L, 0L)).toDF("userId", "eventId")
        .select($"userId", $"eventId",
          expr(s"timestamp_micros(${mx + off})").as("ts"))
    }
    sessionRows(fileReplay(s, e, "unix_micros(ts)", "append", sentinels)(
      df => StreamingSessions.sessions(df.as[StreamingSessions.Click])))
  }

  /** Watermarked tumbling-window stats through the FILE path — same
    * oracle as [[txStatsEquiv]]; `n_updates` again pins
    * one-micro-batch-per-drop across the 4 restarts.
    */
  val txStatsFile = Q(
    "streaming_txstats_file",
    txStatsEquiv.oracle.get) { (s, dir) =>
    import s.implicits._
    val e = t(s, dir, "events").select(
      expr("timestamp_micros(unix_micros(ts) div 1000 * 1000)").as("ts"),
      ($"event_type" =!= "error").as("valid"),
      round($"value" * 100).cast(LongType).as("amountUnits"))
    windowFinals(fileReplay(s, e, "unix_micros(ts)", "update")(
      StreamingTxStats.windowed(_)))
  }

  val all: Seq[Q] = Seq(balancesEquiv, sessionsEquiv, txStatsEquiv,
    dedupEquiv, kmvEquiv, chainEquiv, reorgEquiv,
    balancesFile, sessionsFile, txStatsFile)
}

/** Replay-row shapes for the §2.9 equivalence gates — top-level so
  * whole-stage codegen can instantiate them from generated Java.
  */
final case class TxStatRow(ts: java.sql.Timestamp, valid: Boolean,
    amountUnits: Long)
final case class KmvDoc(lang: String, text: String)
final case class DedupDoc(ts: java.sql.Timestamp, docId: Long,
    text: String)
