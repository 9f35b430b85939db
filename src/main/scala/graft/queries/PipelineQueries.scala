package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables.t
import graft.model._
import graft.operators.{Balances, FeatureActivations, LedgerDecoder, RatesEtl}

/** Gate rows for the pipeline-maintenance operators that were previously
  * spec-only (round-3 verdict item 1): feature activations (65534), the
  * type-200 metadata decode, the S6 price-feed parse, the M8 append-only
  * rate history, and the M6 reset-from-snapshot resume. Each runs the
  * REAL operator over facts mapped from the test tables; the oracle
  * re-derives the identical result relationally in DuckDB.
  */
object PipelineQueries {

  /** Feature activations (65534, reference sql.py:2392-2396 +
    * :1094-1132 checkPendingActivations): latest state per feature with
    * the pending flag evaluated against the chain tip. Events become
    * activation txs (featureid = user_id mod 10, serial = event_id);
    * the tip is the midpoint of the observed block range so BOTH
    * pending branches carry rows. Latest-per-key is a 10-group
    * reduction — nothing here shuffles more than the key tuples.
    */
  val featureActivations = Q(
    "feature_activations",
    """WITH a AS (SELECT user_id % 10 AS fid, event_id,
      |    CAST(epoch_us(ts) // 1000000 AS BIGINT) // 3600 AS block
      |  FROM events WHERE event_type <> 'error'),
      |tip AS (SELECT (min(block) + max(block)) // 2 AS tip FROM a),
      |r AS (SELECT fid, event_id, block,
      |    row_number() OVER (PARTITION BY fid ORDER BY event_id DESC) AS rn
      |  FROM a)
      |SELECT CAST(fid AS BIGINT) AS feature_id,
      |  CAST(block AS BIGINT) AS activation_block,
      |  block > tip AS pending,
      |  CAST(event_id AS BIGINT) AS last_serial
      |FROM r, tip WHERE rn = 1 ORDER BY feature_id""".stripMargin) {
    (s, dir) =>
    import s.implicits._
    val base = t(s, dir, "events")
      .where($"event_type" =!= "error")
      .select(($"user_id" % 10).as("fid"), $"event_id",
        expr("unix_timestamp(ts) div 3600").as("block"))
    // Tip is a 2-long scalar read (the reference polls the node's tip);
    // the pruned 3-column scan is cheaper than a cache lifecycle.
    val r = base.agg(min($"block"), max($"block")).head()
    val tip = (r.getLong(0) + r.getLong(1)) / 2
    val txs = base.as[(Long, Long, Long)].map { case (fid, eid, block) =>
      (RawTx(txid = f"$eid%016x", protocol = "Omni", sendingaddress = "X",
        referenceaddress = None, type_int = 65534, version = 0,
        valid = true, block = block, blocktime = 0, positioninblock = 0,
        propertyid = 0, divisible = false, amount = BigDecimal(0),
        featureid = fid), eid)
    }
    FeatureActivations.derive(txs, tip)
      .select($"featureId".as("feature_id"),
        $"activationBlock".as("activation_block"), $"pending",
        $"lastTxDbSerialNum".as("last_serial"))
      .orderBy("feature_id")
  }

  /** Embed-any-data (type 200, reference sql.py:2373-2390): metadata
    * rows for sender and (when present) reference address, ZERO balance
    * deltas — the delta column in the output pins that. Row-local
    * decode, embarrassingly parallel.
    */
  val embed200 = Q(
    "ledger_embed_200",
    """WITH e AS (SELECT event_id, user_id FROM events)
      |SELECT * FROM (
      |  SELECT 'U' || CAST(user_id AS VARCHAR) AS address,
      |    CAST(user_id % 10 + 3 AS BIGINT) AS property_id,
      |    CAST(event_id AS BIGINT) AS serial,
      |    CAST(0 AS BIGINT) AS idx, 'sender' AS role,
      |    CAST(0 AS BIGINT) AS delta
      |  FROM e
      |  UNION ALL
      |  SELECT 'R' || CAST(user_id % 7 AS VARCHAR),
      |    CAST(user_id % 10 + 3 AS BIGINT), CAST(event_id AS BIGINT),
      |    CAST(1 AS BIGINT), 'recipient', CAST(0 AS BIGINT)
      |  FROM e WHERE user_id % 3 = 0)
      |ORDER BY serial, idx""".stripMargin) { (s, dir) =>
    import s.implicits._
    val ledger = t(s, dir, "events")
      .select($"event_id", $"user_id")
      .as[(Long, Long)]
      .flatMap { case (eid, uid) =>
        LedgerDecoder.decode(RawTx(txid = f"$eid%016x", protocol = "Omni",
          sendingaddress = s"U$uid",
          referenceaddress = if (uid % 3 == 0) Some(s"R${uid % 7}") else None,
          type_int = 200, version = 0, valid = true, block = 0,
          blocktime = 0, positioninblock = 0, propertyid = uid % 10 + 3,
          divisible = false, amount = BigDecimal(0)), eid)
      }
    ledger.select($"address", $"propertyId".as("property_id"),
      $"txDbSerialNum".as("serial"),
      $"addressTxIndex".cast(LongType).as("idx"),
      $"addressRole".as("role"), $"availableDelta".as("delta"))
      .orderBy("serial", "idx")
  }

  /** S6 — price-feed parse (reference updatePrices.py:113-125): a
    * driver-fetched {SYMBOL: rate} payload becomes rate rows with the
    * reference's 2-dp TRUNCATION (not rounding) and the symbol→pid
    * dimension hash (updatePrices.py:17-22). The payload is built from
    * the nation table driver-side — exactly the shape of the real
    * operator, whose source IS a driver-side HTTP fetch (25 symbols, so
    * the collect is the operator's contract, not a data-path collect).
    * The oracle reproduces the dimension hash arithmetic digit-by-digit.
    */
  val ratesParse = Q(
    "rates_parse",
    """WITH n AS (SELECT n_nationkey AS k FROM nation),
      |h AS (SELECT k,
      |    CASE WHEN k < 10 THEN (78*31 + 48 + k) % 1000000
      |         ELSE ((78*31 + 48 + k // 10) * 31 + 48 + k % 10) % 1000000
      |    END + 2000000000 AS pid,
      |    CAST(floor((k * 7 + 0.789) * 100) AS BIGINT) AS rate_cents
      |  FROM n)
      |SELECT CAST(pid AS BIGINT) AS property_id1, rate_cents,
      |  CAST(1000 AS BIGINT) AS as_of, 'bitcoinaverage' AS source
      |FROM h ORDER BY property_id1""".stripMargin) { (s, dir) =>
    import s.implicits._
    val keys = t(s, dir, "nation").select($"n_nationkey".cast(LongType))
      .as[Long].collect().sorted
    val payload = keys.map(k => s"N$k" -> (k * 7 + 0.789)).toMap
    RatesEtl.parseFiatRates(s, payload, asOf = 1000L)
      .select($"propertyId1".as("property_id1"),
        round($"rate1for2" * 100).cast(LongType).as("rate_cents"),
        $"asOf".as("as_of"), $"source")
      .orderBy("property_id1")
  }

  /** M8 — rate-history append + current view (reference
    * database/omni_db_triggers.psql:14-22: every rate upsert archives
    * the previous row; append-only history inverts that into "all rows
    * ever"). Two batches are appended, the per-pair history count pins
    * that NOTHING is overwritten, and [[RatesEtl.currentRates]] (W4)
    * must pick exactly the newest row per pair.
    */
  val ratesHistory = Q(
    "rates_history_append",
    """WITH r AS (SELECT user_id % 20 AS pid, event_id AS as_of,
      |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |c AS (SELECT pid, count(*) AS n_history FROM r GROUP BY 1),
      |l AS (SELECT pid, as_of, cents,
      |    row_number() OVER (PARTITION BY pid ORDER BY as_of DESC) AS rn
      |  FROM r)
      |SELECT CAST(c.pid AS BIGINT) AS property_id2, c.n_history,
      |  CAST(l.as_of AS BIGINT) AS latest_as_of,
      |  l.cents AS latest_rate_cents
      |FROM c JOIN l ON c.pid = l.pid WHERE l.rn = 1
      |ORDER BY property_id2""".stripMargin) { (s, dir) =>
    import s.implicits._
    val rates = t(s, dir, "events")
      .select(($"user_id" % 20).as("pid"), $"event_id",
        $"value".cast(DoubleType).as("v"))
      .as[(Long, Long, Double)]
      .map { case (pid, eid, v) =>
        RatesEtl.Rate("Omni", pid, "Fiat", 1L, v, eid, "feed")
      }
    val history = RatesEtl.appendHistory(
      rates.filter(_.asOf % 2 == 0), rates.filter(_.asOf % 2 == 1))
    val counts = history.groupBy($"propertyId1".as("pid"))
      .agg(count(lit(1)).as("n_history"))
    val latest = RatesEtl.currentRates(history)
      .select($"propertyId1".as("pid"), $"asOf".as("latest_as_of"),
        round($"rate1for2" * 100).cast(LongType).as("latest_rate_cents"))
    counts.join(latest, Seq("pid"))
      .select($"pid".as("property_id2"), $"n_history", $"latest_as_of",
        $"latest_rate_cents")
      .orderBy("property_id2")
  }

  /** M6 — reset-from-snapshot resume ([[Balances.resumeFromSnapshot]],
    * reference sql.py:1134-1203): the authoritative snapshot is
    * DELIBERATELY different from what re-derivation would give
    * (3×Σ + 7), so the gate fails if the engine silently re-derives
    * instead of resuming — result must equal snapshot ⊕ post-cut deltas.
    */
  val resetFromSnapshot = Q(
    "reset_from_snapshot",
    """WITH e AS (SELECT user_id, event_id,
      |    CASE WHEN event_type = 'purchase'
      |      THEN -CAST(round(value * 100) AS BIGINT)
      |      ELSE CAST(round(value * 100) AS BIGINT) END AS d FROM events),
      |cut AS (SELECT (min(event_id) + max(event_id)) // 2 AS c FROM e),
      |snap AS (SELECT user_id, CAST(sum(d) * 3 + 7 AS BIGINT) AS avail,
      |    max(event_id) AS serial
      |  FROM e, cut WHERE event_id <= c GROUP BY 1),
      |flows AS (
      |  SELECT user_id, avail AS d, serial FROM snap
      |  UNION ALL
      |  SELECT user_id, d, event_id FROM e, cut WHERE event_id > c)
      |SELECT 'U' || CAST(user_id AS VARCHAR) AS address,
      |  CAST(sum(d) AS BIGINT) AS available,
      |  CAST(max(serial) AS BIGINT) AS last_serial
      |FROM flows GROUP BY user_id ORDER BY address""".stripMargin) {
    (s, dir) =>
    import s.implicits._
    val e = t(s, dir, "events")
      .select($"user_id", $"event_id", Q.deltaCents.as("d"))
    // Cut is a 2-long scalar read; the snapshot and post-cut legs each
    // re-scan the pruned columns — cheaper than a cache lifecycle.
    val r = e.agg(min($"event_id"), max($"event_id")).head()
    val cut = (r.getLong(0) + r.getLong(1)) / 2
    val snapshot = e.where($"event_id" <= cut)
      .groupBy($"user_id")
      .agg((sum($"d") * 3 + 7).cast(LongType).as("available"),
        max($"event_id").as("serial"))
      .select(concat(lit("U"), $"user_id").as("address"),
        lit(31L).as("propertyId"), $"available", lit(0L).as("reserved"),
        lit(0L).as("accepted"), lit(0L).as("frozen"),
        $"serial".as("lastTxDbSerialNum"), lit(false).as("frozenFlag"))
      .as[AddressBalance]
    val post = e.where($"event_id" > cut)
      .as[(Long, Long, Long)]
      .map { case (uid, eid, d) =>
        LedgerEntry(s"U$uid", 31L, "Omni", eid, 0, "recipient", d, 0, 0, 0)
      }
    Balances.resumeFromSnapshot(snapshot, post)
      .select($"address", $"available",
        $"lastTxDbSerialNum".as("last_serial"))
      .orderBy("address")
  }

  /** End-to-end ingest flagship — the reference's main loop
    * (omniEngine.py:109-232: RPC JSON → serials → decode → balances →
    * serving tables) as ONE declarative derivation: raw tx JSON strings
    * (S2) are schema-parsed with from_json, serial-stamped by the W1
    * range-partition stamper, decoded to double-entry ledger rows by
    * the REAL [[LedgerDecoder]], folded to balances, and joined into
    * the J9 wallet serving view with fiat valuation — source →
    * flatMap → window → join → project in a single plan Catalyst sees
    * whole. The oracle composes the same chain relationally; the
    * last_serial column pins the stamper (a wrong total order flips it
    * even when the sums agree).
    *
    * The JSON strings are built from the orders table as the ingestion
    * stand-in (in production this column arrives from the node's RPC;
    * only that line changes) — the PARSE is the operator under test,
    * exactly as Multimodal synthesizes its PNG/WAV blobs.
    */
  val e2eIngest = Q(
    "e2e_ingest",
    """WITH raw AS (SELECT o_orderkey AS ok,
      |    'C' || CAST(o_custkey AS VARCHAR) AS sender,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS units
      |  FROM orders),
      |ser AS (SELECT ok, sender, units,
      |    row_number() OVER (ORDER BY ok) AS serial FROM raw),
      |flows AS (
      |  SELECT sender AS address, -units AS delta, serial FROM ser
      |  UNION ALL
      |  SELECT 'M', units, serial FROM ser),
      |bal AS (SELECT address, CAST(sum(delta) AS BIGINT) AS available,
      |    CAST(max(serial) AS BIGINT) AS last_serial
      |  FROM flows GROUP BY 1),
      |wallets AS (SELECT 'C' || CAST(c_custkey AS VARCHAR) AS address,
      |    'W' || CAST(c_nationkey AS VARCHAR) AS walletId FROM customer)
      |SELECT w.walletId, b.address, CAST(31 AS BIGINT) AS propertyId,
      |  b.available, CAST(0 AS BIGINT) AS reserved, b.last_serial,
      |  CAST(b.available * 2.5 AS DOUBLE) AS availableValue
      |FROM bal b JOIN wallets w ON b.address = w.address
      |ORDER BY w.walletId, b.address""".stripMargin) { (s, dir) =>
    import s.implicits._
    import graft.operators.OmniPipeline
    import graft.serving.WalletViews
    // ingestion stand-in: one raw JSON payload per tx
    val raw = t(s, dir, "orders")
      .select(to_json(struct(
        $"o_orderkey".as("txnum"),
        concat(lit("C"), $"o_custkey").as("sendingaddress"),
        round($"o_totalprice" * 100).cast(LongType).as("amount"),
        $"o_orderkey".as("block"))).as("payload"))
    // S2: schema'd parse — one codegen'd JacksonParser pass
    val parsed = raw
      .select(from_json($"payload", StructType(Seq(
        StructField("txnum", LongType),
        StructField("sendingaddress", StringType),
        StructField("amount", LongType),
        StructField("block", LongType)))).as("tx"))
      .select($"tx.txnum", $"tx.sendingaddress", $"tx.amount", $"tx.block")
      .as[(Long, String, Long, Long)]
    // W1: deterministic serials on the narrow parsed tuples
    val stamped = OmniPipeline.stamp(parsed, col("block"))
    // decode → balances via the real state machine
    val ledger = stamped.flatMap { case ((txnum, sender, amount, block), ser) =>
      LedgerDecoder.decode(RawTx(txid = f"$txnum%016x", protocol = "Omni",
        sendingaddress = sender, referenceaddress = Some("M"),
        type_int = 0, version = 0, valid = true, block = block,
        blocktime = 0, positioninblock = 0, propertyid = 31,
        divisible = false, amount = BigDecimal(amount)), ser)
    }
    val balances = Balances.derive(ledger).transform(graft.CacheScope.persist)
    // EAGER: the serving view and the serial pin both consume balances;
    // unpersisted, the stamper + decode chain runs twice.
    balances.count()
    val wallets = t(s, dir, "customer")
      .select(concat(lit("C"), $"c_custkey").as("address"),
        concat(lit("W"), $"c_nationkey").as("walletId"))
    val rates = s.createDataset(Seq(
      RatesEtl.Rate("Omni", 31L, "Fiat", 1L, 2.5, 1000L, "fix")))
    WalletViews.walletBalances(balances, wallets, rates)
      .join(balances.select($"address",
        $"lastTxDbSerialNum".as("last_serial")), Seq("address"))
      .select($"walletId", $"address", $"propertyId", $"available",
        $"reserved", $"last_serial", $"availableValue")
      .orderBy("walletId", "address")
  }

  /** Mixed-type end-to-end flagship — the reference main loop
    * (omniEngine.py:109-232) where ALL tx-type state machines share one
    * serial stream, as a single derivation: raw JSON interleaving types
    * 0 / 3 / 4 / 20 / 22 / −22 / 25 / 26 / 50 / 51 / −51 / 53 / 54 /
    * 55 / 56 / 70 / 185 / 200 / 65534 is schema-parsed, stamped by the
    * W1 range-partition stamper, and driven through the REAL
    * [[OmniPipeline.derive]] — full LedgerDecoder dispatch,
    * DexLifecycle order-book fold, MetaDexOps both-sides match dedup +
    * settlement, property registry with issuer override and managed
    * grant/revoke, freeze-aware balance sequencer — into the J9 wallet
    * serving view with fiat valuation, registry name+issuer lookup and
    * per-address MatchedTrades counts, all in one plan. The oracle
    * composes every type's relational form over the SAME serial
    * arithmetic, so a cross-operator ordering bug (e.g. a freeze
    * applied after a credit it should precede, a match settled on the
    * wrong side of the dedup guard, or an accept clamped against the
    * wrong offer state) flips the hash even when each operator is
    * individually correct.
    *
    * Stream construction (all from orders/customer/nation; one tx per
    * order plus admin prologue/epilogue):
    *  - block 0: ten 65534 feature activations — they emit NO ledger
    *    rows; their observable is the +10 they shift EVERY later
    *    serial by (a total-order pin over the whole stream);
    *  - prologue per nation n: 50 issuance (pid 100+n), 51 crowdsale
    *    create (pid 200+n), 185 freeze of F&lt;n&gt; on pid 100+n (so ALL
    *    later credits land in `frozen`), 20 DEx offer by S&lt;n&gt; sized
    *    to its buyers' max want (sellers without buyers offer 1);
    *  - per order, by o_orderkey mod 10: simple sends to the market
    *    maker (0,1,2), a send INTO the frozen address (3), a send-all
    *    subsend (4), an STO with two recipients (5), a DEx accept
    *    toward S&lt;custkey mod 25&gt; (6 — only a buyer's FIRST accept
    *    can bind, later ones are invalid while it is open), a
    *    crowdsale purchase (7), a MetaDEx trade on pair 41/42 (8 —
    *    consecutive orders in the same nation chain trade, each match
    *    listed on BOTH sides exactly as the node double-reports, so
    *    the sql.py:2063-2069 dedup guard is load-bearing), a type-200
    *    embed (9 — zero-delta rows whose only observable is the
    *    last_serial bump they impose);
    *  - epilogue: −22 BTC payments settling the EVEN-custkey accepts
    *    (odd ones stay open as `accepted` holds), 53 closes crediting
    *    addedissuertokens, then per nation: 54 managed create
    *    (pid 300+n), 55 grant to R0, 56 revoke (driving the issuer's
    *    managed balance negative — the −0.0 regression witness, since
    *    pid 300+n is unrated), 70 issuer change of pid 100+n to
    *    I&lt;(n+1) mod 25&gt; (observed via the served `issuer` column),
    *    and a 26 MetaDEx cancel unreserving half the nation's first
    *    trade (nations without trades emit an EMPTY cancel so serial
    *    arithmetic stays dense).
    * The DEx leg reuses the dex_lifecycle_fold closed form (one offer
    * per seller before all accepts ⇒ got = Δ least(cum want, offer)).
    */
  val e2eIngestFull = Q(
    "e2e_ingest_full",
    """WITH o AS MATERIALIZED (SELECT o_orderkey AS ok, o_custkey AS ck,
      |    o_orderkey % 10 AS m,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS amt,
      |    row_number() OVER (ORDER BY o_orderkey) AS r
      |  FROM orders),
      |dims AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS o_n FROM o),
      |nn AS (SELECT CAST(n_nationkey AS BIGINT) AS nk FROM nation),
      |acc0 AS (SELECT ck, ok, amt, r,
      |    row_number() OVER (PARTITION BY ck ORDER BY ok) AS rn
      |  FROM o WHERE m = 6),
      |acc AS MATERIALIZED (SELECT ck, ck % 25 AS nk, ok, amt AS want, r
      |  FROM acc0 WHERE rn = 1),
      |offr AS MATERIALIZED (SELECT nn.nk, coalesce(max(a.want), 1) AS oamt
      |  FROM nn LEFT JOIN acc a ON a.nk = nn.nk GROUP BY nn.nk),
      |accg AS MATERIALIZED (SELECT a.ck, a.nk, a.r, a.want,
      |    least(sum(a.want) OVER w, f.oamt)
      |      - least(sum(a.want) OVER w - a.want, f.oamt) AS got
      |  FROM acc a JOIN offr f ON a.nk = f.nk
      |  WINDOW w AS (PARTITION BY a.nk ORDER BY a.ok
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |pur AS MATERIALIZED (SELECT ck, nk, got,
      |    row_number() OVER (ORDER BY ck) AS j
      |  FROM accg WHERE ck % 2 = 0),
      |np AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS p_n FROM pur),
      |t8 AS MATERIALIZED (SELECT ck, ok, amt, r, ck % 25 AS nk,
      |    lag(ck) OVER w8 AS pck, lag(amt) OVER w8 AS pamt,
      |    row_number() OVER w8 AS rn8
      |  FROM o WHERE m = 8
      |  WINDOW w8 AS (PARTITION BY ck % 25 ORDER BY ok)),
      |f8 AS (SELECT nk, ck AS fck, amt AS famt FROM t8 WHERE rn8 = 1),
      |ntr AS (SELECT 'C' || CAST(ck AS VARCHAR) AS taddr,
      |    count(*) AS ntrades
      |  FROM t8 WHERE pck IS NOT NULL GROUP BY 1),
      |flows AS (
      |  SELECT 'I' || CAST(nk AS VARCHAR) AS address, 100 + nk AS pid,
      |    CAST(1000000000000 AS BIGINT) AS da, 0 AS dr, 0 AS dacc,
      |    0 AS df, 11 + nk AS serial FROM nn
      |  UNION ALL SELECT 'I' || CAST(nk AS VARCHAR), 200 + nk,
      |    0, 0, 0, 0, 36 + nk FROM nn
      |  UNION ALL SELECT 'F' || CAST(nk AS VARCHAR), 100 + nk,
      |    0, 0, 0, 0, 61 + nk FROM nn
      |  UNION ALL SELECT 'S' || CAST(nk AS VARCHAR), 31,
      |    -oamt, oamt, 0, 0, 86 + nk FROM offr
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 31, -amt, 0, 0, 0,
      |    110 + r FROM o WHERE m IN (0,1,2)
      |  UNION ALL SELECT 'MKT', 31, amt, 0, 0, 0, 110 + r
      |    FROM o WHERE m IN (0,1,2)
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 100 + ck % 25,
      |    -amt, 0, 0, 0, 110 + r FROM o WHERE m = 3
      |  UNION ALL SELECT 'F' || CAST(ck % 25 AS VARCHAR), 100 + ck % 25,
      |    0, 0, 0, amt, 110 + r FROM o WHERE m = 3
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 32, -amt, 0, 0, 0,
      |    110 + r FROM o WHERE m = 4
      |  UNION ALL SELECT 'POOL', 32, amt, 0, 0, 0, 110 + r
      |    FROM o WHERE m = 4
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 31, -amt, 0, 0, 0,
      |    110 + r FROM o WHERE m = 5
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 1, 0, 0, 0, 0,
      |    110 + r FROM o WHERE m = 5
      |  UNION ALL SELECT 'R0', 31, amt // 2, 0, 0, 0, 110 + r
      |    FROM o WHERE m = 5
      |  UNION ALL SELECT 'R1', 31, amt - amt // 2, 0, 0, 0, 110 + r
      |    FROM o WHERE m = 5
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 31, 0, 0, 0, 0,
      |    110 + r FROM accg WHERE got > 0
      |  UNION ALL SELECT 'S' || CAST(nk AS VARCHAR), 31, 0, 0, got, 0,
      |    110 + r FROM accg WHERE got > 0
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 31, -amt, 0, 0, 0,
      |    110 + r FROM o WHERE m = 7
      |  UNION ALL SELECT 'I' || CAST(ck % 25 AS VARCHAR), 31, amt,
      |    0, 0, 0, 110 + r FROM o WHERE m = 7
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 200 + ck % 25,
      |    2 * amt, 0, 0, 0, 110 + r FROM o WHERE m = 7
      |  UNION ALL SELECT 'I' || CAST(ck % 25 AS VARCHAR), 200 + ck % 25,
      |    amt // 10, 0, 0, 0, 110 + r FROM o WHERE m = 7
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 41, -amt, amt,
      |    0, 0, 110 + r FROM o WHERE m = 8
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 41, 0, -pamt,
      |    0, 0, 110 + r FROM t8 WHERE pck IS NOT NULL
      |  UNION ALL SELECT 'C' || CAST(pck AS VARCHAR), 41, pamt, 0,
      |    0, 0, 110 + r FROM t8 WHERE pck IS NOT NULL
      |  UNION ALL SELECT 'C' || CAST(pck AS VARCHAR), 42, 0, -amt,
      |    0, 0, 110 + r FROM t8 WHERE pck IS NOT NULL
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 42,
      |    amt - amt % 97, 0, 0, 0, 110 + r FROM t8 WHERE pck IS NOT NULL
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 31, 0, 0, 0, 0,
      |    110 + r FROM o WHERE m = 9
      |  UNION ALL SELECT 'S' || CAST(nk AS VARCHAR), 31, 0, -got, -got,
      |    0, o_n + 110 + j FROM pur, dims WHERE got > 0
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 31, got, 0, 0, 0,
      |    o_n + 110 + j FROM pur, dims WHERE got > 0
      |  UNION ALL SELECT 'I' || CAST(nk AS VARCHAR), 200 + nk, 1000,
      |    0, 0, 0, o_n + p_n + 111 + nk FROM nn, dims, np
      |  UNION ALL SELECT 'I' || CAST(nk AS VARCHAR), 300 + nk,
      |    0, 0, 0, 0, o_n + p_n + 136 + nk FROM nn, dims, np
      |  UNION ALL SELECT 'R0', 300 + nk, 777000 + nk, 0, 0, 0,
      |    o_n + p_n + 161 + nk FROM nn, dims, np
      |  UNION ALL SELECT 'I' || CAST(nk AS VARCHAR), 300 + nk,
      |    0, 0, 0, 0, o_n + p_n + 161 + nk FROM nn, dims, np
      |  UNION ALL SELECT 'I' || CAST(nk AS VARCHAR), 300 + nk,
      |    -(123 + nk), 0, 0, 0, o_n + p_n + 186 + nk FROM nn, dims, np
      |  UNION ALL SELECT 'I' || CAST(nk AS VARCHAR), 100 + nk,
      |    0, 0, 0, 0, o_n + p_n + 211 + nk FROM nn, dims, np
      |  UNION ALL SELECT 'I' || CAST((nk + 1) % 25 AS VARCHAR), 100 + nk,
      |    0, 0, 0, 0, o_n + p_n + 211 + nk FROM nn, dims, np
      |  UNION ALL SELECT 'C' || CAST(fck AS VARCHAR), 41, famt // 2,
      |    -(famt // 2), 0, 0, o_n + p_n + 236 + nk FROM f8, dims, np),
      |bal AS (SELECT address, CAST(pid AS BIGINT) AS propertyId,
      |    CAST(sum(da) AS BIGINT) AS available,
      |    CAST(sum(dr) AS BIGINT) AS reserved,
      |    CAST(sum(dacc) AS BIGINT) AS accepted,
      |    CAST(sum(df) AS BIGINT) AS frozen,
      |    CAST(max(serial) AS BIGINT) AS last_serial
      |  FROM flows GROUP BY 1, 2),
      |wallets AS (
      |  SELECT 'C' || CAST(c_custkey AS VARCHAR) AS address,
      |    'W' || CAST(c_nationkey AS VARCHAR) AS walletId FROM customer
      |  UNION ALL SELECT 'I' || CAST(nk AS VARCHAR), 'WI' FROM nn
      |  UNION ALL SELECT 'S' || CAST(nk AS VARCHAR), 'WS' FROM nn
      |  UNION ALL SELECT 'F' || CAST(nk AS VARCHAR), 'WF' FROM nn
      |  UNION ALL SELECT 'MKT', 'WX' UNION ALL SELECT 'POOL', 'WX'
      |  UNION ALL SELECT 'R0', 'WR' UNION ALL SELECT 'R1', 'WR')
      |SELECT w.walletId, b.address, b.propertyId, b.available,
      |  b.reserved, b.accepted, b.frozen,
      |  b.address LIKE 'F%' AND b.propertyId BETWEEN 100 AND 199
      |    AS frozen_flag,
      |  b.last_serial,
      |  CAST(CASE WHEN b.propertyId = 31 THEN b.available * 2.5
      |            WHEN b.propertyId = 32 THEN b.available * 1.5
      |            ELSE 0.0 END AS DOUBLE) AS availableValue,
      |  CASE WHEN b.propertyId >= 100
      |       THEN 'P' || CAST(b.propertyId AS VARCHAR)
      |       ELSE '' END AS property_name,
      |  CASE WHEN b.propertyId BETWEEN 100 AND 199
      |       THEN 'I' || CAST((b.propertyId - 99) % 25 AS VARCHAR)
      |       WHEN b.propertyId >= 200
      |       THEN 'I' || CAST(b.propertyId % 100 AS VARCHAR)
      |       ELSE '' END AS issuer,
      |  coalesce(t.ntrades, 0) AS n_trades
      |FROM bal b JOIN wallets w ON b.address = w.address
      |LEFT JOIN ntr t ON b.address = t.taddr
      |ORDER BY w.walletId, b.address, b.propertyId""".stripMargin) {
    (s, dir) =>
    val (raw, tip) = fullRaw(s, dir)
    fullServe(s, dir, raw, tip)
  }

  /** M4 at flagship scale, ORACLE-GATED (round-8 verdict ask #1): the
    * reference's strongest behavioral contract (reorgRollback
    * sql.py:85-218) is that rolled-back state is indistinguishable
    * from a chain where the orphaned blocks never existed. The SPARK
    * side serves the ROLLED-BACK 19-type flagship —
    * [[graft.operators.OmniPipeline.truncate]] applied to the full
    * parsed stream — at two forks; the ORACLE computes the
    * fresh-prefix serve in SQL (every ledger flow carries its block,
    * and a fork table keeps flows with blk ≤ fork), so the DuckDB
    * compare hash-pins truncate+re-derive == fresh-prefix-sync
    * cross-engine at driver SFs (the ScalaTest `FullReorgSpec` proves
    * the same equality in-engine at sf0.001 and keeps the
    * non-vacuity assert that each fork actually truncates state).
    * Forks (same two as the spec, both mid-epilogue):
    *  - mid-PURCHASES (purBase + maxck/2): half the −22 settlements
    *    vanish — the DEx fold must re-open exactly the settled
    *    accepts (holds restored, serving rows re-joined);
    *  - mid-ADMIN (adminBase + 199): after every 55 grant, before
    *    every 56 revoke — negative managed balances, issuer changes
    *    and MetaDEx cancels all roll back.
    */
  val m4ReorgFlagship = Q(
    "m4_reorg_flagship",
    """WITH o AS MATERIALIZED (SELECT o_orderkey AS ok, o_custkey AS ck,
      |    o_orderkey % 10 AS m,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS amt,
      |    row_number() OVER (ORDER BY o_orderkey) AS r
      |  FROM orders),
      |dims AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS o_n,
      |    CAST(max(ok) AS BIGINT) AS mok,
      |    CAST(max(ck) AS BIGINT) AS mck FROM o),
      |nn AS (SELECT CAST(n_nationkey AS BIGINT) AS nk FROM nation),
      |acc0 AS (SELECT ck, ok, amt, r,
      |    row_number() OVER (PARTITION BY ck ORDER BY ok) AS rn
      |  FROM o WHERE m = 6),
      |acc AS MATERIALIZED (SELECT ck, ck % 25 AS nk, ok, amt AS want, r
      |  FROM acc0 WHERE rn = 1),
      |offr AS MATERIALIZED (SELECT nn.nk, coalesce(max(a.want), 1) AS oamt
      |  FROM nn LEFT JOIN acc a ON a.nk = nn.nk GROUP BY nn.nk),
      |accg AS MATERIALIZED (SELECT a.ck, a.nk, a.ok, a.r, a.want,
      |    least(sum(a.want) OVER w, f.oamt)
      |      - least(sum(a.want) OVER w - a.want, f.oamt) AS got
      |  FROM acc a JOIN offr f ON a.nk = f.nk
      |  WINDOW w AS (PARTITION BY a.nk ORDER BY a.ok
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |pur AS MATERIALIZED (SELECT ck, nk, got,
      |    row_number() OVER (ORDER BY ck) AS j
      |  FROM accg WHERE ck % 2 = 0),
      |np AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS p_n FROM pur),
      |t8 AS MATERIALIZED (SELECT ck, ok, amt, r, ck % 25 AS nk,
      |    lag(ck) OVER w8 AS pck, lag(amt) OVER w8 AS pamt,
      |    row_number() OVER w8 AS rn8
      |  FROM o WHERE m = 8
      |  WINDOW w8 AS (PARTITION BY ck % 25 ORDER BY ok)),
      |f8 AS (SELECT nk, ck AS fck, amt AS famt FROM t8 WHERE rn8 = 1),
      |ntr AS (SELECT 'C' || CAST(ck AS VARCHAR) AS taddr,
      |    count(*) AS ntrades
      |  FROM t8 WHERE pck IS NOT NULL GROUP BY 1),
      |flows AS (
      |  SELECT 'I' || CAST(nk AS VARCHAR) AS address, 100 + nk AS pid,
      |    CAST(1000000000000 AS BIGINT) AS da, 0 AS dr, 0 AS dacc,
      |    0 AS df, 11 + nk AS serial, CAST(1 AS BIGINT) AS blk FROM nn
      |  UNION ALL SELECT 'I' || CAST(nk AS VARCHAR), 200 + nk,
      |    0, 0, 0, 0, 36 + nk, 2 FROM nn
      |  UNION ALL SELECT 'F' || CAST(nk AS VARCHAR), 100 + nk,
      |    0, 0, 0, 0, 61 + nk, 3 FROM nn
      |  UNION ALL SELECT 'S' || CAST(nk AS VARCHAR), 31,
      |    -oamt, oamt, 0, 0, 86 + nk, 4 FROM offr
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 31, -amt, 0, 0, 0,
      |    110 + r, ok + 100 FROM o WHERE m IN (0,1,2)
      |  UNION ALL SELECT 'MKT', 31, amt, 0, 0, 0, 110 + r, ok + 100
      |    FROM o WHERE m IN (0,1,2)
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 100 + ck % 25,
      |    -amt, 0, 0, 0, 110 + r, ok + 100 FROM o WHERE m = 3
      |  UNION ALL SELECT 'F' || CAST(ck % 25 AS VARCHAR), 100 + ck % 25,
      |    0, 0, 0, amt, 110 + r, ok + 100 FROM o WHERE m = 3
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 32, -amt, 0, 0, 0,
      |    110 + r, ok + 100 FROM o WHERE m = 4
      |  UNION ALL SELECT 'POOL', 32, amt, 0, 0, 0, 110 + r, ok + 100
      |    FROM o WHERE m = 4
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 31, -amt, 0, 0, 0,
      |    110 + r, ok + 100 FROM o WHERE m = 5
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 1, 0, 0, 0, 0,
      |    110 + r, ok + 100 FROM o WHERE m = 5
      |  UNION ALL SELECT 'R0', 31, amt // 2, 0, 0, 0, 110 + r, ok + 100
      |    FROM o WHERE m = 5
      |  UNION ALL SELECT 'R1', 31, amt - amt // 2, 0, 0, 0, 110 + r,
      |    ok + 100 FROM o WHERE m = 5
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 31, 0, 0, 0, 0,
      |    110 + r, ok + 100 FROM accg WHERE got > 0
      |  UNION ALL SELECT 'S' || CAST(nk AS VARCHAR), 31, 0, 0, got, 0,
      |    110 + r, ok + 100 FROM accg WHERE got > 0
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 31, -amt, 0, 0, 0,
      |    110 + r, ok + 100 FROM o WHERE m = 7
      |  UNION ALL SELECT 'I' || CAST(ck % 25 AS VARCHAR), 31, amt,
      |    0, 0, 0, 110 + r, ok + 100 FROM o WHERE m = 7
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 200 + ck % 25,
      |    2 * amt, 0, 0, 0, 110 + r, ok + 100 FROM o WHERE m = 7
      |  UNION ALL SELECT 'I' || CAST(ck % 25 AS VARCHAR), 200 + ck % 25,
      |    amt // 10, 0, 0, 0, 110 + r, ok + 100 FROM o WHERE m = 7
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 41, -amt, amt,
      |    0, 0, 110 + r, ok + 100 FROM o WHERE m = 8
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 41, 0, -pamt,
      |    0, 0, 110 + r, ok + 100 FROM t8 WHERE pck IS NOT NULL
      |  UNION ALL SELECT 'C' || CAST(pck AS VARCHAR), 41, pamt, 0,
      |    0, 0, 110 + r, ok + 100 FROM t8 WHERE pck IS NOT NULL
      |  UNION ALL SELECT 'C' || CAST(pck AS VARCHAR), 42, 0, -amt,
      |    0, 0, 110 + r, ok + 100 FROM t8 WHERE pck IS NOT NULL
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 42,
      |    amt - amt % 97, 0, 0, 0, 110 + r, ok + 100
      |    FROM t8 WHERE pck IS NOT NULL
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 31, 0, 0, 0, 0,
      |    110 + r, ok + 100 FROM o WHERE m = 9
      |  UNION ALL SELECT 'S' || CAST(nk AS VARCHAR), 31, 0, -got, -got,
      |    0, o_n + 110 + j, mok + 200 + ck FROM pur, dims WHERE got > 0
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 31, got, 0, 0, 0,
      |    o_n + 110 + j, mok + 200 + ck FROM pur, dims WHERE got > 0
      |  UNION ALL SELECT 'I' || CAST(nk AS VARCHAR), 200 + nk, 1000,
      |    0, 0, 0, o_n + p_n + 111 + nk, mok + mck + 201 + nk
      |    FROM nn, dims, np
      |  UNION ALL SELECT 'I' || CAST(nk AS VARCHAR), 300 + nk,
      |    0, 0, 0, 0, o_n + p_n + 136 + nk, mok + mck + 1201 + nk
      |    FROM nn, dims, np
      |  UNION ALL SELECT 'R0', 300 + nk, 777000 + nk, 0, 0, 0,
      |    o_n + p_n + 161 + nk, mok + mck + 1301 + nk FROM nn, dims, np
      |  UNION ALL SELECT 'I' || CAST(nk AS VARCHAR), 300 + nk,
      |    0, 0, 0, 0, o_n + p_n + 161 + nk, mok + mck + 1301 + nk
      |    FROM nn, dims, np
      |  UNION ALL SELECT 'I' || CAST(nk AS VARCHAR), 300 + nk,
      |    -(123 + nk), 0, 0, 0, o_n + p_n + 186 + nk,
      |    mok + mck + 1401 + nk FROM nn, dims, np
      |  UNION ALL SELECT 'I' || CAST(nk AS VARCHAR), 100 + nk,
      |    0, 0, 0, 0, o_n + p_n + 211 + nk, mok + mck + 1501 + nk
      |    FROM nn, dims, np
      |  UNION ALL SELECT 'I' || CAST((nk + 1) % 25 AS VARCHAR), 100 + nk,
      |    0, 0, 0, 0, o_n + p_n + 211 + nk, mok + mck + 1501 + nk
      |    FROM nn, dims, np
      |  UNION ALL SELECT 'C' || CAST(fck AS VARCHAR), 41, famt // 2,
      |    -(famt // 2), 0, 0, o_n + p_n + 236 + nk,
      |    mok + mck + 1601 + nk FROM f8, dims, np),
      |forks AS (
      |  SELECT 'mid_purchases' AS fork_label, mok + 200 + mck // 2 AS fb
      |    FROM dims
      |  UNION ALL SELECT 'mid_admin', mok + mck + 1400 FROM dims),
      |bal AS (SELECT f.fork_label, fl.address,
      |    CAST(fl.pid AS BIGINT) AS propertyId,
      |    CAST(sum(fl.da) AS BIGINT) AS available,
      |    CAST(sum(fl.dr) AS BIGINT) AS reserved,
      |    CAST(sum(fl.dacc) AS BIGINT) AS accepted,
      |    CAST(sum(fl.df) AS BIGINT) AS frozen,
      |    CAST(max(fl.serial) AS BIGINT) AS last_serial
      |  FROM flows fl CROSS JOIN forks f
      |  WHERE fl.blk <= f.fb
      |  GROUP BY 1, 2, 3),
      |wallets AS (
      |  SELECT 'C' || CAST(c_custkey AS VARCHAR) AS address,
      |    'W' || CAST(c_nationkey AS VARCHAR) AS walletId FROM customer
      |  UNION ALL SELECT 'I' || CAST(nk AS VARCHAR), 'WI' FROM nn
      |  UNION ALL SELECT 'S' || CAST(nk AS VARCHAR), 'WS' FROM nn
      |  UNION ALL SELECT 'F' || CAST(nk AS VARCHAR), 'WF' FROM nn
      |  UNION ALL SELECT 'MKT', 'WX' UNION ALL SELECT 'POOL', 'WX'
      |  UNION ALL SELECT 'R0', 'WR' UNION ALL SELECT 'R1', 'WR')
      |SELECT b.fork_label, w.walletId, b.address, b.propertyId,
      |  b.available, b.reserved, b.accepted, b.frozen,
      |  b.address LIKE 'F%' AND b.propertyId BETWEEN 100 AND 199
      |    AS frozen_flag,
      |  b.last_serial,
      |  CAST(CASE WHEN b.propertyId = 31 THEN b.available * 2.5
      |            WHEN b.propertyId = 32 THEN b.available * 1.5
      |            ELSE 0.0 END AS DOUBLE) AS availableValue,
      |  CASE WHEN b.propertyId >= 100
      |       THEN 'P' || CAST(b.propertyId AS VARCHAR)
      |       ELSE '' END AS property_name,
      |  CASE WHEN b.propertyId >= 100
      |       THEN 'I' || CAST(b.propertyId % 100 AS VARCHAR)
      |       ELSE '' END AS issuer,
      |  coalesce(t.ntrades, 0) AS n_trades
      |FROM bal b JOIN wallets w ON b.address = w.address
      |LEFT JOIN ntr t ON b.address = t.taddr
      |ORDER BY b.fork_label, w.walletId, b.address, b.propertyId"""
      .stripMargin) { (s, dir) =>
    import s.implicits._
    val (raw, _) = fullRaw(s, dir)
    // same two scalars fullRaw derives for epilogue numbering, plus the
    // row count the fork-scheduling policy keys on (one aggregate read)
    val dimRow = t(s, dir, "orders")
      .agg(max($"o_orderkey").cast(LongType),
        max($"o_custkey").cast(LongType), count(lit(1))).head()
    val purBase = dimRow.getLong(0) + 200L
    val adminBase = purBase + dimRow.getLong(1) + 1L + 1000L
    val sequential = m4Sequential(dimRow.getLong(2))
    // Stamp the CHOSEN schedule into the run's stderr (never stdout —
    // Bench's driver JSON tail window is stdout): near the auto
    // threshold the same gate can legitimately flip schedule between
    // runs, and an unattributed flip looks like box drift in a bench
    // diff (r11 ADVICE).
    System.err.println(
      s"[graft] m4_reorg_flagship schedule=" +
        s"${if (sequential) "sequential" else "coresident"} " +
        s"ordersRows=${dimRow.getLong(2)}")
    m4ForkUnion(s, dir, raw,
      Seq(("mid_purchases", purBase + dimRow.getLong(1) / 2L),
          ("mid_admin", adminBase + 199L)),
      sequential = sequential)
  }

  /** Fork-serve SCHEDULING policy for [[m4ReorgFlagship]] — scale-
    * adaptive, the same shape as AQE's runtime re-plans: the two fork
    * serves are independent 19-type flagship derivations, and the only
    * question is whether their scratch may coexist.
    *
    *  - SEQUENTIAL (large inputs): each serve is eagerly checkpointed
    *    and its shuffles swept before the next starts — peak scratch is
    *    one serve, not two. This is what completes 1000× on a 64 GB
    *    scratch disk (~45 GB/serve; co-resident >62 GB died — r9 PERF).
    *  - CO-RESIDENT (bench-scale inputs): one lazy union, both serves
    *    evaluated in a single job. No checkpoint materialization, no
    *    barrier between the forks — measured ~3-5 s cheaper on the
    *    sf0.1 gate where two serves' scratch is ~2×1 GB.
    *
    * Auto threshold: sequential from 50 M orders rows (≈ ScaleGen 333×,
    * where co-resident scratch ~2×15 GB starts crowding a one-box
    * sweep disk; every driver/bench SF is 5 orders of magnitude below
    * it, every regime the sequential form was built for is above it).
    * Both schedules produce identical rows (spec-pinned in
    * `FullReorgSpec`); the policy only trades latency against peak
    * scratch.
    */
  private[graft] def m4Sequential(ordersRows: Long): Boolean =
    ordersRows >= M4SequentialRows

  /** [[m4Sequential]]'s threshold: orders rows from which the fork
    * serves run one at a time. */
  private val M4SequentialRows = 50000000L

  /** Union of the two reorg fork serves under either schedule — see
    * [[m4Sequential]] for when each is chosen.
    */
  private[graft] def m4ForkUnion(s: SparkSession, dir: String,
      raw: DataFrame, forks: Seq[(String, Long)],
      sequential: Boolean): DataFrame =
    if (!sequential) {
      // lazy: both serves materialize in the consumer's one job; their
      // internal persists stay registered for the harness's ordinary
      // end-of-query release. The STAMPED prefix is shared here too
      // (same prefix-stability argument as the sequential arm below),
      // but via the stamper's own scoped MEMORY_AND_DISK persist
      // instead of a checkpoint: both fork plans read one
      // InMemoryRelation, so the parse, the range exchange, the sort
      // and the stamper's counts pass execute once, not per fork —
      // only the cheap cached-batch rescan and the per-fork ledger
      // derivation run twice. No checkpoint round-trip, no barrier:
      // at bench scale that materialization is exactly what made the
      // sequential schedule slower here (r11 A/B).
      val sharedStamped = graft.operators.OmniPipeline.withSerials(
        graft.operators.OmniPipeline.truncate(
          parseTxs(s, raw), forks.map(_._2).max))
      forks
        .map { case (label, fork) =>
          serveStamped(s, dir,
              sharedStamped.where(col("_1.block") <= fork), fork)
            .withColumn("fork_label", lit(label))
        }
        .reduce(_ unionByName _)
    }
    else {
      val sc = s.sparkContext
      // SHARED FORK PREFIX (r12): everything from the raw legs' window
      // shuffles through the JSON round-trip AND the serial stamping is
      // fork-independent — truncation is monotone
      // (truncate(truncate(x, max), f) == truncate(x, f) for f <= max)
      // and stamping is prefix-stable under block truncation
      // (OmniPipeline.deriveStamped scaladoc). The old schedule
      // re-derived all of it FROM RAW once per fork; share the STAMPED
      // prefix at max(fork) instead and sweep the raw-construction
      // shuffles immediately.
      //
      // The shared copy is the stamper's own scoped MEMORY_AND_DISK
      // persist — NOT an additional snapshot: a checkpoint of the
      // stamped stream is a SECOND full copy of the widest dataset in
      // the query, transiently co-resident with the parse shuffles and
      // the sort cache it is written from. At 1000× (150 M rows) that
      // extra copy was the difference between fitting the one-box
      // sweep disk and ENOSPC mid-snapshot (measured this round); the
      // persist is the same executor-disk durability class a
      // localCheckpoint has, so the copy buys nothing. The stamper's
      // counts aggregate already filled every cached partition, so the
      // parse shuffles can be swept right after the stamp.
      //
      // Under spark.graft.reliableCheckpoint the extra copy IS the
      // point (survive executor loss between the fork serves): snapshot
      // per the session policy, then release the sort cache.
      val shufParse = org.apache.spark.GraftShuffleSweep.snapshot(sc)
      val mParse = graft.CacheScope.mark()
      val stamped0 = graft.operators.OmniPipeline.withSerials(
        graft.operators.OmniPipeline.truncate(
          parseTxs(s, raw), forks.map(_._2).max))
      val sharedStamped =
        if (graft.GraftCheckpoint.reliable(s)) {
          val snap = graft.GraftCheckpoint.snapshot(stamped0)
          graft.CacheScope.releaseSince(mParse)
          graft.CacheScope.register(snap)
          snap
        } else stamped0
      org.apache.spark.GraftShuffleSweep.dropSince(sc, shufParse)
      forks
        .map { case (label, fork) =>
          // Eagerly materialize this fork's bounded address×property
          // result, then release the serve's internal persists and
          // sweep the shuffles registered DURING the serve
          // (GraftShuffleSweep — the ContextCleaner code path, minus
          // the GC it used to need) BEFORE the next fork starts — peak
          // scratch stays one serve, not two. Checkpoint policy is the
          // session's (GraftCheckpoint): localCheckpoint by default,
          // reliable FS checkpoint under spark.graft.reliableCheckpoint
          // — executor loss between the fork serves then costs a
          // re-read, not the query.
          val m = graft.CacheScope.mark()
          val shufflesBefore =
            org.apache.spark.GraftShuffleSweep.snapshot(sc)
          // per-fork truncation on the STAMPED prefix: a column-level
          // filter (stays in codegen; no per-row object deserialization)
          val admitted = sharedStamped
            .where(col("_1.block") <= fork)
          val snap = graft.GraftCheckpoint.snapshot(
            serveStamped(s, dir, admitted, fork)
              .withColumn("fork_label", lit(label)))
          graft.CacheScope.releaseSince(m)
          graft.CacheScope.register(snap)
          org.apache.spark.GraftShuffleSweep.dropSince(sc, shufflesBefore)
          snap: DataFrame
        }
        .reduce(_ unionByName _)
    }

  /** The 19-type flagship's node feed: the union of raw JSON payload
    * legs plus the serve-time tip, factored out so the reorg spec can
    * replay a truncated prefix through the identical builder.
    */
  private[graft] def fullRaw(s: SparkSession, dir: String)
      : (DataFrame, Long) = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window

    val Supply = 1000000000000L
    val nn = t(s, dir, "nation")
      .select($"n_nationkey".cast(LongType).as("nk"))
    val o = t(s, dir, "orders").select(
      $"o_orderkey".as("ok"), $"o_custkey".as("ck"),
      ($"o_orderkey" % 10).as("m"),
      round($"o_totalprice" * 100).cast(LongType).as("amt"))
    // a buyer's FIRST accept (per-key window, never single-partition)
    val acc = o.where($"m" === 6)
      .withColumn("rn",
        row_number().over(Window.partitionBy($"ck").orderBy($"ok")))
      .where($"rn" === 1)
      .select($"ck", ($"ck" % 25).as("nk"), $"amt".as("want"))
    val offr = nn
      .join(acc.groupBy($"nk").agg(max($"want").as("mw")), Seq("nk"), "left")
      .select($"nk", coalesce($"mw", lit(1L)).as("oamt"))
    // Epilogue block numbering needs two scalars (like the tip polls
    // elsewhere): a 2-long aggregate read, not a data-path collect.
    val dimRow = o.agg(max($"ok"), max($"ck")).head()
    val purBase = dimRow.getLong(0) + 200L
    val closeBase = purBase + dimRow.getLong(1) + 1L
    val adminBase = closeBase + 1000L
    val tip = adminBase + 2000L

    // --- raw JSON legs (ingestion stand-in: in production these lines
    // are the node's RPC payloads; only they change) ---
    // 65534 activations at block 0: no ledger rows; their observable is
    // the +10 they shift every later serial by.
    val jact = nn.where($"nk" < 10).select(to_json(struct(
      concat(lit("ac-"), $"nk").as("txid"), lit(65534).as("type_int"),
      lit("I0").as("sendingaddress"), lit(true).as("valid"),
      lit(0L).as("block"), $"nk".cast(IntegerType).as("positioninblock"),
      lit(0L).as("propertyid"), lit(0L).as("amount"),
      $"nk".as("featureid"))).as("payload"))
    val j50 = nn.select(to_json(struct(
      concat(lit("is-"), $"nk").as("txid"), lit(50).as("type_int"),
      concat(lit("I"), $"nk").as("sendingaddress"),
      lit(true).as("valid"), lit(1L).as("block"),
      $"nk".cast(IntegerType).as("positioninblock"),
      ($"nk" + 100).as("propertyid"), lit(Supply).as("amount"),
      concat(lit("P"), $"nk" + 100).as("propertyname"))).as("payload"))
    val j51 = nn.select(to_json(struct(
      concat(lit("cs-"), $"nk").as("txid"), lit(51).as("type_int"),
      concat(lit("I"), $"nk").as("sendingaddress"),
      lit(true).as("valid"), lit(2L).as("block"),
      $"nk".cast(IntegerType).as("positioninblock"),
      ($"nk" + 200).as("propertyid"), lit(0L).as("amount"),
      concat(lit("P"), $"nk" + 200).as("propertyname"))).as("payload"))
    val j185 = nn.select(to_json(struct(
      concat(lit("fz-"), $"nk").as("txid"), lit(185).as("type_int"),
      concat(lit("I"), $"nk").as("sendingaddress"),
      concat(lit("F"), $"nk").as("referenceaddress"),
      lit(true).as("valid"), lit(3L).as("block"),
      $"nk".cast(IntegerType).as("positioninblock"),
      lit(0L).as("propertyid"), lit(0L).as("amount"),
      // P5 hex payload: [8:16] carries the frozen property id
      concat(lit("00000000"), lpad(hex($"nk" + 100), 8, "0"))
        .as("payload"))).as("payload"))
    val j20 = offr.select(to_json(struct(
      concat(lit("of-"), $"nk").as("txid"), lit(20).as("type_int"),
      concat(lit("S"), $"nk").as("sendingaddress"),
      lit(true).as("valid"), lit(4L).as("block"),
      $"nk".cast(IntegerType).as("positioninblock"),
      lit(31L).as("propertyid"), $"oamt".as("amount"),
      lit(1).as("subaction"), lit(1L).as("bitcoindesired"),
      // far beyond any sweep's block range (ScaleGen shifts keys by
      // 1e12 per copy), so no accept ever expires mid-stream
      lit(1000000000000000000L).as("timelimit"))).as("payload"))
    val jsend = o.where($"m".isin(0, 1, 2)).select(to_json(struct(
      concat(lit("tx-"), $"ok").as("txid"), lit(0).as("type_int"),
      concat(lit("C"), $"ck").as("sendingaddress"),
      lit("MKT").as("referenceaddress"), lit(true).as("valid"),
      ($"ok" + 100).as("block"), lit(0).as("positioninblock"),
      lit(31L).as("propertyid"), $"amt".as("amount"))).as("payload"))
    val jfrz = o.where($"m" === 3).select(to_json(struct(
      concat(lit("tx-"), $"ok").as("txid"), lit(0).as("type_int"),
      concat(lit("C"), $"ck").as("sendingaddress"),
      concat(lit("F"), $"ck" % 25).as("referenceaddress"),
      lit(true).as("valid"),
      ($"ok" + 100).as("block"), lit(0).as("positioninblock"),
      (($"ck" % 25) + 100).as("propertyid"),
      $"amt".as("amount"))).as("payload"))
    val jall = o.where($"m" === 4).select(to_json(struct(
      concat(lit("tx-"), $"ok").as("txid"), lit(4).as("type_int"),
      concat(lit("C"), $"ck").as("sendingaddress"),
      lit("POOL").as("referenceaddress"), lit(true).as("valid"),
      ($"ok" + 100).as("block"), lit(0).as("positioninblock"),
      lit(0L).as("propertyid"), lit(0L).as("amount"),
      array(struct(lit(32L).as("propertyid"), $"amt".as("amount")))
        .as("subsends"))).as("payload"))
    val jsto = o.where($"m" === 5).select(to_json(struct(
      concat(lit("tx-"), $"ok").as("txid"), lit(3).as("type_int"),
      concat(lit("C"), $"ck").as("sendingaddress"),
      lit(true).as("valid"),
      ($"ok" + 100).as("block"), lit(0).as("positioninblock"),
      lit(31L).as("propertyid"), $"amt".as("amount"),
      lit(0L).as("totalstofee"),
      array(
        struct(lit("R0").as("address"), expr("amt div 2").as("amount")),
        struct(lit("R1").as("address"),
          ($"amt" - expr("amt div 2")).as("amount")))
        .as("recipients"))).as("payload"))
    val jacc = o.where($"m" === 6).select(to_json(struct(
      concat(lit("tx-"), $"ok").as("txid"), lit(22).as("type_int"),
      concat(lit("C"), $"ck").as("sendingaddress"),
      concat(lit("S"), $"ck" % 25).as("referenceaddress"),
      lit(true).as("valid"),
      ($"ok" + 100).as("block"), lit(0).as("positioninblock"),
      lit(31L).as("propertyid"), $"amt".as("amount"))).as("payload"))
    val jcrowd = o.where($"m" === 7).select(to_json(struct(
      concat(lit("tx-"), $"ok").as("txid"), lit(-51).as("type_int"),
      concat(lit("C"), $"ck").as("sendingaddress"),
      concat(lit("I"), $"ck" % 25).as("referenceaddress"),
      lit(true).as("valid"),
      ($"ok" + 100).as("block"), lit(0).as("positioninblock"),
      lit(31L).as("propertyid"), $"amt".as("amount"),
      (($"ck" % 25) + 200).as("purchasedpropertyid"),
      ($"amt" * 2).as("purchasedtokens"),
      expr("amt div 10").as("issuertokens"))).as("payload"))
    val jpur = acc.where($"ck" % 2 === 0).select(to_json(struct(
      concat(lit("bp-"), $"ck").as("txid"), lit(-22).as("type_int"),
      concat(lit("C"), $"ck").as("sendingaddress"),
      lit(true).as("valid"),
      (lit(purBase) + $"ck").as("block"), lit(0).as("positioninblock"),
      lit(31L).as("propertyid"), lit(0L).as("amount"),
      // pay the full want: the fold clamps to the open accept's hold,
      // so the settled amount is exactly `got` without computing it here
      array(struct(concat(lit("S"), $"nk").as("referenceaddress"),
        lit(31L).as("propertyid"), $"want".as("amountbought")))
        .as("purchases"))).as("payload"))
    val jclose = nn.select(to_json(struct(
      concat(lit("cl-"), $"nk").as("txid"), lit(53).as("type_int"),
      concat(lit("I"), $"nk").as("sendingaddress"),
      lit(true).as("valid"),
      (lit(closeBase) + $"nk").as("block"), lit(0).as("positioninblock"),
      ($"nk" + 200).as("propertyid"), lit(0L).as("amount"),
      lit(1000L).as("addedissuertokens"))).as("payload"))

    // MetaDEx trades (25): consecutive m=8 orders in one nation chain
    // trade pair 41/42; each trade is listed inside BOTH listings'
    // matches arrays — the node's double reporting — so MetaDexOps'
    // dedup guard (keep on the later serial) decides who settles.
    val w8 = Window.partitionBy($"ck" % 25).orderBy($"ok")
    val t8 = o.where($"m" === 8)
      .withColumn("pok", lag("ok", 1).over(w8))
      .withColumn("pck", lag("ck", 1).over(w8))
      .withColumn("pamt", lag("amt", 1).over(w8))
      .withColumn("nok", lead("ok", 1).over(w8))
      .withColumn("nck", lead("ck", 1).over(w8))
      .withColumn("namt", lead("amt", 1).over(w8))
    val prevM = struct(
      concat(lit("tx-"), $"pok").as("txid"),
      concat(lit("C"), $"pck").as("address"),
      ($"pok" + 100).as("block"),
      $"pamt".as("amountsold"), $"amt".as("amountreceived"),
      ($"amt" % 97).as("tradingfee"))
    val nextM = struct(
      concat(lit("tx-"), $"nok").as("txid"),
      concat(lit("C"), $"nck").as("address"),
      ($"nok" + 100).as("block"),
      $"amt".as("amountsold"), $"namt".as("amountreceived"),
      ($"namt" % 97).as("tradingfee"))
    val jtrade = t8.select(to_json(struct(
      concat(lit("tx-"), $"ok").as("txid"), lit(25).as("type_int"),
      concat(lit("C"), $"ck").as("sendingaddress"),
      lit(true).as("valid"), ($"ok" + 100).as("block"),
      lit(0).as("positioninblock"),
      lit(41L).as("propertyid"), $"amt".as("amount"),
      lit(42L).as("propertyiddesired"),
      array_compact(array(
        when($"pok".isNotNull, prevM),
        when($"nok".isNotNull, nextM))).as("matches"))).as("payload"))
    // type-200 embeds (m=9): zero-delta rows; observable only through
    // the last_serial bump on (sender, 31).
    val jembed = o.where($"m" === 9).select(to_json(struct(
      concat(lit("tx-"), $"ok").as("txid"), lit(200).as("type_int"),
      concat(lit("C"), $"ck").as("sendingaddress"),
      lit(true).as("valid"), ($"ok" + 100).as("block"),
      lit(0).as("positioninblock"),
      lit(31L).as("propertyid"), lit(0L).as("amount"))).as("payload"))
    // admin epilogue: managed lifecycle (54/55/56), issuer change (70),
    // and a MetaDEx cancel (26) per nation. Nations without an m=8
    // trade emit an EMPTY cancel so serial arithmetic stays dense.
    val j54 = nn.select(to_json(struct(
      concat(lit("mc-"), $"nk").as("txid"), lit(54).as("type_int"),
      concat(lit("I"), $"nk").as("sendingaddress"),
      lit(true).as("valid"), (lit(adminBase) + $"nk").as("block"),
      lit(0).as("positioninblock"),
      ($"nk" + 300).as("propertyid"), lit(0L).as("amount"),
      concat(lit("P"), $"nk" + 300).as("propertyname"))).as("payload"))
    val j55 = nn.select(to_json(struct(
      concat(lit("gr-"), $"nk").as("txid"), lit(55).as("type_int"),
      concat(lit("I"), $"nk").as("sendingaddress"),
      lit("R0").as("referenceaddress"),
      lit(true).as("valid"), (lit(adminBase + 100L) + $"nk").as("block"),
      lit(0).as("positioninblock"),
      ($"nk" + 300).as("propertyid"),
      ($"nk" + 777000L).as("amount"))).as("payload"))
    // the revoke exceeds the issuer's (zero) holding, driving the
    // managed balance negative on an UNRATED property — the standing
    // regression witness for the -0.0 valuation fix.
    val j56 = nn.select(to_json(struct(
      concat(lit("rv-"), $"nk").as("txid"), lit(56).as("type_int"),
      concat(lit("I"), $"nk").as("sendingaddress"),
      lit(true).as("valid"), (lit(adminBase + 200L) + $"nk").as("block"),
      lit(0).as("positioninblock"),
      ($"nk" + 300).as("propertyid"),
      ($"nk" + 123L).as("amount"))).as("payload"))
    val j70 = nn.select(to_json(struct(
      concat(lit("ic-"), $"nk").as("txid"), lit(70).as("type_int"),
      concat(lit("I"), $"nk").as("sendingaddress"),
      concat(lit("I"), ($"nk" + 1) % 25).as("referenceaddress"),
      lit(true).as("valid"), (lit(adminBase + 300L) + $"nk").as("block"),
      lit(0).as("positioninblock"),
      ($"nk" + 100).as("propertyid"), lit(0L).as("amount"))).as("payload"))
    val f8 = o.where($"m" === 8)
      .withColumn("rn", row_number().over(w8))
      .where($"rn" === 1)
      .select(($"ck" % 25).as("nk"), $"ok".as("fok"), $"ck".as("fck"),
        $"amt".as("famt"))
    val jmx = nn.join(f8, Seq("nk"), "left").select(to_json(struct(
      concat(lit("mx-"), $"nk").as("txid"), lit(26).as("type_int"),
      coalesce(concat(lit("C"), $"fck"), concat(lit("I"), $"nk"))
        .as("sendingaddress"),
      lit(true).as("valid"), (lit(adminBase + 400L) + $"nk").as("block"),
      lit(0).as("positioninblock"),
      lit(41L).as("propertyid"), lit(0L).as("amount"),
      array_compact(array(when($"fok".isNotNull, struct(
        concat(lit("tx-"), $"fok").as("txid"),
        lit(41L).as("propertyid"),
        expr("famt div 2").as("amountunreserved")))))
        .as("cancelledtransactions"))).as("payload"))

    val raw = Seq(jact, j50, j51, j185, j20, jsend, jfrz, jall, jsto,
      jacc, jcrowd, jtrade, jembed, jpur, jclose, j54, j55, j56, j70,
      jmx).reduce(_ unionByName _)
    (raw, tip)
  }

  /** Parse → stamp → 19-type derive → serve, from a raw payload feed.
    * `fork` applies the M4 truncation ([[OmniPipeline.truncate]]) to
    * the PARSED tx stream before derivation — the rollback path the
    * reorg spec compares against a fresh run of the truncated prefix.
    */
  private[graft] def fullServe(s: SparkSession, dir: String,
      raw: DataFrame, tip: Long, fork: Option[Long] = None): DataFrame =
    serveTxs(s, dir, parseTxs(s, raw), tip, fork)

  /** The fork-INDEPENDENT prefix of [[fullServe]], factored out so the
    * sequential reorg schedule can materialize it once and serve every
    * fork from the shared parse (r11 verdict ask #3): one schema'd
    * JacksonParser pass over the raw union + the typed RawTx lift.
    * Everything upstream of here — the raw legs' window shuffles, the
    * JSON round-trip — is identical for every fork; only
    * [[OmniPipeline.truncate]]'s bound differs downstream.
    */
  private[graft] def parseTxs(s: SparkSession, raw: DataFrame)
      : org.apache.spark.sql.Dataset[RawTx] = {
    import s.implicits._

    // S2: one schema'd JacksonParser pass over the union
    val parsed = raw
      .select(from_json($"payload",
        org.apache.spark.sql.Encoders.product[JTx].schema).as("tx"))
      .select($"tx.*").as[JTx]
    parsed.map { j =>
      RawTx(txid = j.txid, protocol = "Omni",
        sendingaddress = j.sendingaddress,
        referenceaddress = j.referenceaddress, type_int = j.type_int,
        version = 0, valid = j.valid, block = j.block, blocktime = 0,
        positioninblock = j.positioninblock, propertyid = j.propertyid,
        divisible = false, amount = BigDecimal(j.amount),
        totalstofee = BigDecimal(j.totalstofee.getOrElse(0L)),
        recipients = j.recipients.getOrElse(Nil)
          .map(r => StoRecipient(r.address, BigDecimal(r.amount))),
        subsends = j.subsends.getOrElse(Nil)
          .map(ss => SubSend(ss.propertyid, divisible = false,
            BigDecimal(ss.amount))),
        subaction = j.subaction.getOrElse(0),
        bitcoindesired = BigDecimal(j.bitcoindesired.getOrElse(0L)),
        timelimit = j.timelimit.getOrElse(0L),
        purchases = j.purchases.getOrElse(Nil)
          .map(p => DexPurchase(p.referenceaddress, p.propertyid,
            valid = true, BigDecimal(p.amountbought), divisible = false)),
        propertyname = j.propertyname.getOrElse(""),
        purchasedpropertyid = j.purchasedpropertyid.getOrElse(0L),
        purchaseddivisible = false,
        purchasedtokens = BigDecimal(j.purchasedtokens.getOrElse(0L)),
        issuertokens = BigDecimal(j.issuertokens.getOrElse(0L)),
        addedissuertokens = BigDecimal(j.addedissuertokens.getOrElse(0L)),
        payload = j.payload.getOrElse(""),
        propertyiddesired = j.propertyiddesired.getOrElse(0L),
        desireddivisible = false,
        matches = j.matches.getOrElse(Nil)
          .map(m => TradeMatch(m.txid, m.address, m.block,
            BigDecimal(m.amountsold), BigDecimal(m.amountreceived),
            BigDecimal(m.tradingfee))),
        cancelledtransactions = j.cancelledtransactions.getOrElse(Nil)
          .map(c => CancelledTx(c.txid, c.propertyid,
            BigDecimal(c.amountunreserved))),
        featureid = j.featureid.getOrElse(0L))
    }
  }

  /** stamp → 19-type derive → serve, from an ALREADY-PARSED tx stream
    * (the fork-dependent tail of [[fullServe]]).
    */
  private[graft] def serveTxs(s: SparkSession, dir: String,
      txs: org.apache.spark.sql.Dataset[RawTx], tip: Long,
      fork: Option[Long]): DataFrame = {
    import graft.operators.OmniPipeline
    val admitted = fork.fold(txs)(f => OmniPipeline.truncate(txs, f))
    serveStamped(s, dir, OmniPipeline.withSerials(admitted), tip)
  }

  /** 19-type derive → serve from an ALREADY-STAMPED stream — the
    * serial-stamping sort is prefix-stable under block truncation
    * ([[graft.operators.OmniPipeline.deriveStamped]] scaladoc), so the
    * sequential reorg schedule stamps once at max(fork) and enters
    * here per fork.
    */
  private[graft] def serveStamped(s: SparkSession, dir: String,
      stamped: org.apache.spark.sql.Dataset[(RawTx, Long)],
      tip: Long): DataFrame = {
    import s.implicits._
    import graft.operators.OmniPipeline
    import graft.serving.WalletViews
    val nn = t(s, dir, "nation")
      .select($"n_nationkey".cast(LongType).as("nk"))

    // the full pipeline: decoder/DEx/registry/freeze → balances
    val d = OmniPipeline.deriveStamped(stamped, tip)
    val balances = d.balances.transform(graft.CacheScope.persist)
    // EAGER: the serving view and the per-key detail both consume
    // balances; unpersisted, the whole stamp+fold chain runs twice.
    balances.count()
    val wallets = t(s, dir, "customer")
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
    val rates = s.createDataset(Seq(
      RatesEtl.Rate("Omni", 31L, "Fiat", 1L, 2.5, 1000L, "fix"),
      RatesEtl.Rate("Omni", 32L, "Fiat", 1L, 1.5, 1000L, "fix")))
    val served = WalletViews.walletBalances(balances, wallets, rates)
    val detail = balances.select($"address", $"propertyId",
      $"accepted", $"frozen", $"frozenFlag".as("frozen_flag"),
      $"lastTxDbSerialNum".as("last_serial"))
    // per-address MatchedTrades count (the taker is the kept listing's
    // sender): trades → serial-stamped tx dimension on txHash, counted,
    // joined into the served view.
    // columnar projection, not a typed map: on the stamped cache
    // (withSerials) this is a 2-column scan with no per-row RawTx
    // deserialization; the typed form decoded every field to read two
    val txAddr = d.txs.select($"_1.txid".as("txHash"),
      $"_1.sendingaddress".as("taddr"))
    val nTrades = d.trades.toDF().select($"txHash")
      .join(txAddr, Seq("txHash"))
      .groupBy($"taddr".as("address"))
      .agg(count(lit(1)).as("n_trades"))
    WalletViews.withPropertyNames(
        served.join(detail, Seq("address", "propertyId")), d.properties,
        Seq("propertyName", "issuer"))
      .join(nTrades, Seq("address"), "left")
      .select($"walletId", $"address", $"propertyId", $"available",
        $"reserved", $"accepted", $"frozen", $"frozen_flag",
        $"last_serial", $"availableValue",
        coalesce($"propertyName", lit("")).as("property_name"),
        coalesce($"issuer", lit("")).as("issuer"),
        coalesce($"n_trades", lit(0L)).as("n_trades"))
      // real invariant (trade counts are non-negative) that Catalyst
      // cannot prove — without it, a bare count() ELIMINATES the
      // row-preserving n_trades left join and a benchmark would time
      // the flagship minus its MatchedTrades leg (PERF.md round 7)
      .where($"n_trades" >= 0)
      .orderBy("walletId", "address", "propertyId")
  }

  /** J9 valuation policy gate at the numeric(19) edge: balances of
    * ±(9.1e15 + ε) CROSS 2^53, where double(available) × rate and the
    * pinned exact-decimal product genuinely differ in the last bits —
    * so this gate fails if either engine's valuation drifts off the
    * decimal-then-double contract ([[graft.serving.WalletViews]]
    * scaladoc; reference omni_db_schema.psql:88-91 numeric(19) units,
    * SQLstatements.md:15-86 valuation). The 8-dp rate 1.23456789 makes
    * every product fractional, so the rounding path is exercised on
    * every row, positive and negative.
    */
  val valuationBigint = Q(
    "j9_valuation_2p53",
    """WITH b AS (SELECT 'C' || CAST(c_custkey AS VARCHAR) AS address,
      |    (CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE -1 END) *
      |      (9100000000000000 + CAST(round(c_acctbal * 100) AS BIGINT))
      |      AS available
      |  FROM customer)
      |SELECT address, CAST(31 AS BIGINT) AS propertyId, available,
      |  CAST(0 AS BIGINT) AS reserved,
      |  CAST(CAST(CAST(available AS DECIMAL(19,0)) *
      |       CAST(1.23456789 AS DECIMAL(18,8)) AS VARCHAR) AS DOUBLE)
      |    AS availableValue
      |FROM b ORDER BY address""".stripMargin) { (s, dir) =>
    // Oracle nuance: DuckDB's native decimal→double cast double-rounds
    // (int128→double, then /1e8 — two IEEE roundings), off by 1 ulp
    // from the correctly-rounded conversion once the product's
    // significand exceeds 53 bits; Spark's Decimal.toDouble (Java
    // BigDecimal.doubleValue) is correctly rounded. The decimal→VARCHAR
    // →DOUBLE round-trip forces DuckDB through its correctly-rounded
    // string parser, expressing the same contract.
    import s.implicits._
    import graft.serving.WalletViews
    val balances = t(s, dir, "customer")
      .select(concat(lit("C"), $"c_custkey").as("address"),
        lit(31L).as("propertyId"),
        (when($"c_custkey" % 2 === 0, lit(1L)).otherwise(lit(-1L)) *
          (lit(9100000000000000L) +
            round($"c_acctbal" * 100).cast(LongType))).as("available"),
        lit(0L).as("reserved"), lit(0L).as("accepted"),
        lit(0L).as("frozen"), lit(1L).as("lastTxDbSerialNum"),
        lit(false).as("frozenFlag"))
      .as[AddressBalance]
    val wallets = t(s, dir, "customer")
      .select(concat(lit("C"), $"c_custkey").as("address"),
        lit("W").as("walletId"))
    val rates = s.createDataset(Seq(
      RatesEtl.Rate("Omni", 31L, "Fiat", 1L, 1.23456789, 1L, "fix")))
    WalletViews.walletBalances(balances, wallets, rates)
      .select($"address", $"propertyId", $"available", $"reserved",
        $"availableValue")
      .orderBy("address")
  }

  /** Chain-level e2e composition — the reference main loop's OTHER
    * interleave (omniEngine.py:109-232): BTC value transfers
    * (vin/vout UTXO rows, sql.py:1671-1719) and Omni transactions
    * share ONE tx serial stream (every Omni tx IS a BTC tx; its
    * ledger rows carry the same txDbSerialNum as the carrier's
    * vin/vout rows), while the mempool pending set (sql.py:361-455)
    * overlays unconfirmed txs that must vanish on confirmation
    * (anti-join, J10) or expiry (5-h horizon, sql.py:322-327).
    *
    * Stream construction (orders + customer):
    *  - every customer gets a coinbase output of 1e12 sat (serial =
    *    the W1 stamp over customers);
    *  - each CONFIRMED order (ok mod 7 ≠ 3) is one tx at serial
    *    1e6 + stamp: its vin spends the customer's previous output
    *    in full (first order spends the coinbase — the S4/J5
    *    equi-join must resolve the spent VALUE, so a mis-link breaks
    *    the telescoping change sums), vout0 returns change to the
    *    customer, vout1 pays amt%1000+1 to the nation market M&lt;nk&gt;;
    *  - orders with ok mod 3 = 0 ALSO carry an Omni simple send
    *    (type 0, pid 31) decoded by the real [[LedgerDecoder]] at the
    *    SAME serial — the cross-protocol ordering pin: last_serial
    *    per (address, property) mixes both protocols' rows;
    *  - ok mod 7 = 3 orders are pending-only; those with ok mod 11 = 0
    *    are past the expiry horizon, and every confirmed ok mod 5 = 0
    *    order ALSO leaves a stale pending duplicate that the
    *    [[graft.operators.Pending]] anti-join must remove. Live
    *    pendings surface as per-address n_pending / pending_sats.
    *
    * Scale shape: the stamper is the W1 range-partition stamp, the
    * per-customer chain is a ck-partitioned window (no global
    * window), the vin→vout resolution is one distributed equi-join
    * on (prevTxid, n), and pending reconcile is a broadcast-size
    * anti-join — no driver loop anywhere.
    */
  /** Oracle for the BTC+Omni chain pipeline — shared VERBATIM by the
    * batch flagship and its streaming ingest twin
    * (`streaming_chain_equiv`): the final served table is the same
    * relation whether the confirmed feed arrived as one batch or as N
    * watermark-gated block-range commits.
    */
  private[queries] val chainOracleSql =
    """WITH cust AS (SELECT c_custkey AS ck,
      |    CAST(c_nationkey AS BIGINT) AS nk,
      |    row_number() OVER (ORDER BY c_custkey) AS rc FROM customer),
      |o AS (SELECT o_orderkey AS ok, o_custkey AS ck,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS amt FROM orders),
      |oo AS (SELECT o.ok, o.ck, c.nk, c.rc, o.amt,
      |    o.amt % 1000 + 1 AS pay,
      |    o.ok % 7 <> 3 AS conf, o.ok % 3 = 0 AS omni
      |  FROM o JOIN cust c ON o.ck = c.ck),
      |co AS (SELECT *,
      |    1000000 + row_number() OVER (ORDER BY ok) AS serial
      |  FROM oo WHERE conf),
      |ch AS (SELECT *, sum(pay + 100) OVER (PARTITION BY ck ORDER BY ok
      |    ROWS UNBOUNDED PRECEDING) AS cum FROM co),
      |flows AS (
      |  SELECT 'C' || CAST(ck AS VARCHAR) AS address,
      |    CAST(0 AS BIGINT) AS pid,
      |    CAST(1000000000000 AS BIGINT) AS delta,
      |    rc AS serial FROM cust
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 0,
      |    -(1000000000000 - (cum - pay - 100)), serial FROM ch
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 0,
      |    1000000000000 - cum, serial FROM ch
      |  UNION ALL SELECT 'M' || CAST(nk AS VARCHAR), 0, pay, serial
      |    FROM ch
      |  UNION ALL SELECT 'C' || CAST(ck AS VARCHAR), 31, -amt, serial
      |    FROM ch WHERE omni
      |  UNION ALL SELECT 'M' || CAST(nk AS VARCHAR), 31, amt, serial
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
      |ORDER BY b.address, b.propertyId""".stripMargin

  val e2eIngestChain = Q("e2e_ingest_chain", chainOracleSql) { (s, dir) =>
    import s.implicits._
    val conf = chainOrders(s, dir).where($"conf")
      .select($"ok", $"ck", $"nk", $"amt", $"pay", $"omni")
      .as[(Long, Long, Long, Long, Long, Boolean)]
    chainServe(s, dir, conf)
  }

  /** The chain pipeline's node feed: every order joined to its
    * customer, with pay/confirmation/Omni-carrier flags (all
    * deterministic functions of the order key).
    */
  private[queries] def chainOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = t(s, dir, "customer")
      .select($"c_custkey".as("ck2"), $"c_nationkey".cast(LongType).as("nk"))
    t(s, dir, "orders")
      .select($"o_orderkey".as("ok"), $"o_custkey".as("ck"),
        round($"o_totalprice" * 100).cast(LongType).as("amt"))
      .join(cust, $"ck" === $"ck2")
      .select($"ok", $"ck", $"nk", $"amt",
        ($"amt" % 1000 + 1).as("pay"),
        ($"ok" % 7 =!= 3).as("conf"), ($"ok" % 3 === 0).as("omni"))
  }

  /** The chain pipeline's derivation + serving from a CONFIRMED feed
    * (ok, ck, nk, amt, pay, omni) — shared by the batch flagship and
    * the streaming twin, so "streaming ≡ batch" is a statement about
    * the INGEST path, not about two copies of the derivation drifting.
    */
  private[queries] def chainServe(s: SparkSession, dir: String,
      conf: org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Long, Boolean)])
      : DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.operators.{BtcLedger, OmniPipeline, Pending}
    import graft.operators.BtcLedger.{TxIn, TxOut}

    val Coin = 1000000000000L
    val cust = t(s, dir, "customer")
      .select($"c_custkey".as("ck"), $"c_nationkey".cast(LongType).as("nk"))
      .as[(Long, Long)]
    // W1 stamp over the customer dimension → coinbase serials
    val cb = OmniPipeline.stamp(cust, col("ck")).map { case ((ck, _), rc) =>
      TxOut(s"cb$ck", rc, 0, s"C$ck", Coin)
    }
    val oo = chainOrders(s, dir)
    // W1 stamp over confirmed orders (narrow tuples) → tx serials
    val stamped = OmniPipeline.stamp(conf, col("ok"))
      .map { case ((ok, ck, nk, amt, pay, omni), r) =>
        (ok, ck, nk, amt, pay, omni, 1000000L + r)
      }
      .toDF("ok", "ck", "nk", "amt", "pay", "omni", "serial")
    // per-customer UTXO chain: cumulative spend + previous txid
    val w = Window.partitionBy($"ck").orderBy($"ok")
    val ch = stamped
      .withColumn("txid", concat(lit("t"), $"ok"))
      .withColumn("cum", sum($"pay" + 100).over(w))
      .withColumn("prevTxid",
        coalesce(lag($"txid", 1).over(w), concat(lit("cb"), $"ck")))
      .transform(graft.CacheScope.persist)
    val vout0 = ch.select($"txid", $"serial", $"ck", ($"cum").as("cum"))
      .as[(String, Long, Long, Long)]
      .map { case (txid, serial, ck, cum) =>
        TxOut(txid, serial, 0, s"C$ck", Coin - cum)
      }
    val vout1 = ch.select($"txid", $"serial", $"nk", $"pay")
      .as[(String, Long, Long, Long)]
      .map { case (txid, serial, nk, pay) =>
        TxOut(txid, serial, 1, s"M$nk", pay)
      }
    val ins = ch.select($"txid", $"serial", $"prevTxid")
      .as[(String, Long, String)]
      .map { case (txid, serial, prev) => TxIn(txid, serial, prev, 0) }
    val btc = BtcLedger.derive(cb.union(vout0).union(vout1), ins)
    // Omni leg: type-0 sends through the real decoder at the SAME serial
    val omni = ch.where($"omni")
      .select($"txid", $"serial", $"ck", $"nk", $"amt")
      .as[(String, Long, Long, Long, Long)]
      .flatMap { case (txid, serial, ck, nk, amt) =>
        LedgerDecoder.decode(RawTx(txid = txid, protocol = "Omni",
          sendingaddress = s"C$ck", referenceaddress = Some(s"M$nk"),
          type_int = 0, version = 0, valid = true, block = serial,
          blocktime = 0, positioninblock = 0, propertyid = 31,
          divisible = false, amount = BigDecimal(amt)), serial)
      }
    val bal = btc.union(omni)
      .groupBy($"address", $"propertyId")
      .agg(sum($"availableDelta").cast(LongType).as("available"),
        count(lit(1)).as("n_entries"),
        max($"txDbSerialNum").as("last_serial"))
    // mempool overlay: unconfirmed + expired + stale-duplicate pendings
    def mem(txid: String, ck: Long, pay: Long, bt: Long): RawTx =
      RawTx(txid = txid, protocol = "Bitcoin", sendingaddress = s"C$ck",
        referenceaddress = None, type_int = 0, version = 0, valid = true,
        block = 0, blocktime = bt, positioninblock = 0, propertyid = 0,
        divisible = false, amount = BigDecimal(pay))
    val now = 1000000L
    val pendingTxs = oo.where(!$"conf")
      .select($"ok", $"ck", $"pay").as[(Long, Long, Long)]
      .map { case (ok, ck, pay) =>
        mem(s"t$ok", ck, pay, if (ok % 11 == 0) 0L else now - 1000L)
      }
    val stale = oo.where($"conf" && $"ok" % 5 === 0)
      .select($"ok", $"ck", $"pay").as[(Long, Long, Long)]
      .map { case (ok, ck, pay) => mem(s"t$ok", ck, pay, now - 1000L) }
    val confirmedTxs = ch.select($"txid", $"ck").as[(String, Long)]
      .map { case (txid, ck) => mem(txid, ck, 0L, now) }
    val pend = Pending.reconcile(confirmedTxs, pendingTxs.union(stale), now)
      .groupBy($"sendingaddress".as("address"))
      .agg(count(lit(1)).as("n_pending"),
        sum($"amount").cast(LongType).as("pending_sats"))
    val wallets = t(s, dir, "customer")
      .select(concat(lit("C"), $"c_custkey").as("address"),
        concat(lit("W"), $"c_nationkey").as("walletId"))
      .union(cust.toDF("ck", "nk").select($"nk").distinct()
        .select(concat(lit("M"), $"nk").as("address"),
          lit("WM").as("walletId")))
    bal.join(wallets, Seq("address"))
      .join(pend, Seq("address"), "left")
      // pending counts are non-negative — an invariant Catalyst can't
      // prove, which keeps a bare count() from ELIMINATING the
      // row-preserving pend left join (and with it the whole mempool
      // reconcile leg) from a benchmarked plan (PERF.md round 7)
      .where(coalesce($"n_pending", lit(0L)) >= 0)
      .select($"walletId", $"address", $"propertyId", $"available",
        $"n_entries", $"last_serial",
        coalesce($"n_pending", lit(0L)).as("n_pending"),
        coalesce($"pending_sats", lit(0L)).as("pending_sats"))
      .orderBy("address", "propertyId")
  }

  val all: Seq[Q] = Seq(featureActivations, embed200, ratesParse,
    ratesHistory, resetFromSnapshot, e2eIngest, e2eIngestFull,
    e2eIngestChain, valuationBigint, m4ReorgFlagship)
}

/** JSON shape of one ingested tx for the mixed-type e2e flagship — the
  * union of the per-type RPC fields the stream carries (FIXTURES.md
  * B.1); absent fields parse as null and default in the RawTx mapping.
  */
final case class JRec(address: String, amount: Long)
final case class JSub(propertyid: Long, amount: Long)
final case class JPur(referenceaddress: String, propertyid: Long,
    amountbought: Long)
final case class JMatch(txid: String, address: String, block: Long,
    amountsold: Long, amountreceived: Long, tradingfee: Long)
final case class JCancel(txid: String, propertyid: Long,
    amountunreserved: Long)
final case class JTx(
    txid: String, type_int: Int, sendingaddress: String,
    referenceaddress: Option[String], valid: Boolean, block: Long,
    positioninblock: Int, propertyid: Long, amount: Long,
    propertyname: Option[String], payload: Option[String],
    subaction: Option[Int], bitcoindesired: Option[Long],
    timelimit: Option[Long], totalstofee: Option[Long],
    purchasedpropertyid: Option[Long], purchasedtokens: Option[Long],
    issuertokens: Option[Long], addedissuertokens: Option[Long],
    recipients: Option[Seq[JRec]], subsends: Option[Seq[JSub]],
    purchases: Option[Seq[JPur]],
    propertyiddesired: Option[Long], featureid: Option[Long],
    matches: Option[Seq[JMatch]],
    cancelledtransactions: Option[Seq[JCancel]])
