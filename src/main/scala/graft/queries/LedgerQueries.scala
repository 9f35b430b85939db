package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables.t
import graft.model._
import graft.operators.{Balances, DexLifecycle, LedgerDecoder, OmniPipeline}

/** The domain engine (SURVEY §2.3 ledger state machine + §7.1 pipeline)
  * driven through the t2 gate: test tables are mapped into RawTx facts,
  * the REAL decoder → serial stamper → balance derivation runs, and a
  * purely relational DuckDB query derives the same result — proving the
  * typed flatMap pipeline is equivalent to its relational semantics at
  * any scale.
  */
object LedgerQueries {

  /** Simple Send (type 0) end-to-end: every order becomes a transfer
    * customer→merchant; balances = Σ double-entry deltas; serials from
    * the scalable range-partition stamper must equal the oracle's global
    * row_number.
    */
  val simpleSend = Q(
    "ledger_simple_send",
    """WITH ser AS (SELECT o_orderkey, o_custkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS units,
      |    row_number() OVER (ORDER BY o_orderkey) AS serial
      |  FROM orders),
      |flows AS (
      |  SELECT 'C' || CAST(o_custkey AS VARCHAR) AS address,
      |    -units AS delta, serial FROM ser
      |  UNION ALL
      |  SELECT 'M', units, serial FROM ser)
      |SELECT address, CAST(sum(delta) AS BIGINT) AS available,
      |  CAST(max(serial) AS BIGINT) AS last_serial
      |FROM flows GROUP BY 1 ORDER BY address""".stripMargin) { (s, dir) =>
    import s.implicits._
    val txs: org.apache.spark.sql.Dataset[(Long, Long, Long)] = t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey",
        round($"o_totalprice" * 100).cast(LongType).as("units"))
      .as[(Long, Long, Long)]
    // Stamp the narrow (orderkey, custkey, units) tuples, THEN build the
    // wide RawTx — the stamper's sample/count passes move 24 bytes/row.
    val stamped = OmniPipeline.stamp(txs, col("o_orderkey"))
    val ledger = stamped.flatMap { case ((ok, ck, units), ser) =>
      val tx = RawTx(txid = f"$ok%016x", protocol = "Omni",
        sendingaddress = s"C$ck", referenceaddress = Some("M"),
        type_int = 0, version = 0, valid = true, block = ok,
        blocktime = 0, positioninblock = 0, propertyid = 31,
        divisible = false, amount = BigDecimal(units))
      LedgerDecoder.decode(tx, ser)
    }
    Balances.derive(ledger)
      .select($"address", $"available",
        $"lastTxDbSerialNum".as("last_serial"))
      .orderBy("address")
  }

  /** Send All (type 4): each order's lineitems become subsends (one
    * property per part) exploded by the decoder into debit/credit pairs
    * — per-(address, property) balances checked relationally.
    */
  val sendAll = Q(
    "ledger_send_all",
    """WITH flows AS (
      |  SELECT 'C' || CAST(o_custkey AS VARCHAR) AS address,
      |    l_partkey AS property_id,
      |    -CAST(round(l_quantity * 100) AS BIGINT) AS delta
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  UNION ALL
      |  SELECT 'W', l_partkey, CAST(round(l_quantity * 100) AS BIGINT)
      |  FROM lineitem)
      |SELECT address, property_id, CAST(sum(delta) AS BIGINT) AS available
      |FROM flows GROUP BY 1, 2 ORDER BY address, property_id""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val items = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
        .select($"o_orderkey".as("ok"), $"o_custkey".as("ck"),
          $"l_partkey".as("pk"),
          round($"l_quantity" * 100).cast(LongType).as("units"))
        .as[(Long, Long, Long, Long)]
      // The type-4 decode is LINEAR in subsends (LedgerDecoder case 4:
      // each subsend emits an independent debit/credit pair reading only
      // tx-level sender/recipient), so decode(tx with S subsends) and
      // ⋃ decode(single-subsend txs) produce the same (address,
      // property, delta) multiset — only addressTxIndex numbering
      // differs, which balances never read. Decoding each joined row
      // directly therefore skips the order-grouping shuffle entirely:
      // the r5 1000x probe measured that group-then-explode round trip
      // (assemble RawTx subsend Seqs that decode immediately re-explodes)
      // as the one cost curve that bent (17x on the last decade, a ~24 GB
      // spilling shuffle for bytes the output never observes). No global
      // stamper either: serials are not observed by this output, and the
      // order key is already unique and monotone.
      //
      // The balance aggregation is keyed NUMERICALLY: the decoder runs
      // per joined row (validity gating, debit/credit pairing — the
      // gate's subject), but what crosses the agg exchange is
      // (ckey, pid, delta) long triples, with the sender/recipient
      // address strings rebuilt from ckey AFTER the aggregate — so the
      // one unavoidable wide shuffle of this plan carries 24-byte rows,
      // not UTF8 addresses + four unused delta columns. ckey = −1 is
      // the warehouse recipient (decode addresses it "W"); customer
      // keys are ≥ 1, so the sentinel cannot collide.
      val deltas = items.flatMap { case (ok, ck, pk, units) =>
        LedgerDecoder.decode(RawTx(txid = f"$ok%016x", protocol = "Omni",
          sendingaddress = s"C$ck", referenceaddress = Some("W"),
          type_int = 4, version = 0, valid = true, block = ok,
          blocktime = 0, positioninblock = 0, propertyid = 0,
          divisible = false, amount = 0,
          subsends = Seq(SubSend(pk, divisible = false,
            BigDecimal(units)))), ok)
          .map(e => (if (e.address == "W") -1L else ck,
            e.propertyId, e.availableDelta))
      }.toDF("ckey", "property_id", "delta")
      deltas.groupBy($"ckey", $"property_id")
        .agg(sum($"delta").cast(LongType).as("available"))
        .select(when($"ckey" === -1L, lit("W"))
            .otherwise(concat(lit("C"), $"ckey")).as("address"),
          $"property_id", $"available")
        .orderBy("address", "property_id")
  }

  /** Send To Owners (type 3): one STO per nation distributing to its
    * positive-balance customers — the decoder's recipient-explode path
    * (the proportional-share math itself is a11_sto_distribution).
    */
  val stoDecode = Q(
    "ledger_sto_decode",
    """WITH r AS (SELECT c_nationkey AS nk, c_custkey,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS units
      |  FROM customer WHERE c_acctbal > 0),
      |tot AS (SELECT nk, CAST(sum(units) AS BIGINT) AS total
      |        FROM r GROUP BY 1),
      |flows AS (
      |  SELECT 'N' || CAST(nk AS VARCHAR) AS address, -total AS delta
      |  FROM tot
      |  UNION ALL
      |  SELECT 'C' || CAST(c_custkey AS VARCHAR), units FROM r)
      |SELECT address, CAST(sum(delta) AS BIGINT) AS available
      |FROM flows GROUP BY 1 ORDER BY address""".stripMargin) { (s, dir) =>
    import s.implicits._
    val holders = t(s, dir, "customer")
      .where($"c_acctbal" > 0)
      .select($"c_nationkey".cast(LongType).as("nk"), $"c_custkey",
        round($"c_acctbal" * 100).cast(LongType).as("units"))
      .as[(Long, Long, Long)]
    val txs = holders.groupByKey(_._1).mapGroups { (nk, it) =>
      val rs = it.toSeq.sortBy(_._2)
      RawTx(txid = f"$nk%016x", protocol = "Omni",
        sendingaddress = s"N$nk", referenceaddress = None, type_int = 3,
        version = 0, valid = true, block = nk, blocktime = 0,
        positioninblock = 0, propertyid = 31, divisible = false,
        amount = BigDecimal(rs.map(_._3).sum),
        recipients = rs.map(r => StoRecipient(s"C${r._2}", BigDecimal(r._3))))
    }
    val ledger = txs.flatMap(tx => LedgerDecoder.decode(tx, tx.block))
    Balances.derive(ledger)
      .where($"propertyId" === 31)
      .select($"address", $"available")
      .orderBy("address")
  }

  /** DEx lifecycle fold against a closed-form oracle. The event stream
    * is constructed so the fold's accept-clamp semantics
    * (sql.py:676-681: an accept gets min(want, still-available)) has an
    * exact relational closed form: with ONE offer per seller placed
    * before all accepts, got_i = least(cum_want_i, AMT) −
    * least(cum_want_{i−1}, AMT) — a running-sum window. The Spark side
    * runs the REAL sequential fold ([[DexLifecycle.derive]]); DuckDB
    * computes the closed form; equality proves the fold's arrival-order
    * clamp arithmetic. (Replace/expiry/settlement legs stay pinned by
    * DexLifecycleSpec/DexDeriveSpec — they have no closed form.)
    *
    * Construction: each user's FIRST event is an accept (want =
    * value-cents, ≥1) toward seller S{user_id%50}; each seller's single
    * offer amount = max want among its buyers, so the first-arriving
    * max-want buyer drains the book and later accepts go invalid —
    * both accept states exercised.
    */
  val dexFold = Q(
    "dex_lifecycle_fold",
    """WITH f AS (
      |  SELECT user_id, event_id, want, user_id % 50 AS sid
      |  FROM (SELECT user_id, event_id,
      |          greatest(CAST(round(value * 100) AS BIGINT), 1) AS want,
      |          row_number() OVER (PARTITION BY user_id
      |            ORDER BY event_id) AS rn
      |        FROM events)
      |  WHERE rn = 1),
      |amt AS (SELECT sid, max(want) AS amt FROM f GROUP BY sid),
      |c AS (SELECT f.sid, f.want, amt.amt,
      |        sum(f.want) OVER (PARTITION BY f.sid ORDER BY f.event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |      FROM f JOIN amt ON f.sid = amt.sid),
      |g AS (SELECT sid, amt,
      |        least(cum, amt) - least(cum - want, amt) AS got
      |      FROM c)
      |SELECT 'S' || CAST(sid AS VARCHAR) AS seller,
      |  CAST(max(amt) - sum(got) AS BIGINT) AS remaining,
      |  CAST(sum(got) AS BIGINT) AS accepted_total,
      |  count(CASE WHEN got > 0 THEN 1 END) AS n_open,
      |  count(CASE WHEN got = 0 THEN 1 END) AS n_invalid
      |FROM g GROUP BY sid ORDER BY seller""".stripMargin) { (s, dir) =>
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // The fold's per-key order IS the serial, so use event_id directly
    // (unique at any scale — no (sec<<20)|id packing that would collide
    // past 2^20 ids); offers sort first via negative serials, the
    // reference's own convention for synthetic/early rows.
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val firsts = t(s, dir, "events")
      .select($"user_id", $"event_id",
        unix_timestamp($"ts").as("sec"),
        greatest(round($"value" * 100).cast(LongType), lit(1L)).as("want"))
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"user_id", $"event_id", $"sec", $"want",
        ($"user_id" % 50).as("sid"))
      .transform(graft.CacheScope.persist)
    // EAGER: firsts feeds both the offer amounts and the accept stream;
    // lazy persist would let the two downstream stages race and each
    // re-run the events scan + window.
    firsts.count()
    val offers = firsts.groupBy("sid").agg(max("want").as("amt"))
      .as[(Long, Long)].map { case (sid, amt) =>
        (RawTx(txid = f"$sid%016x", protocol = "Omni",
          sendingaddress = s"S$sid", referenceaddress = None, type_int = 20,
          version = 0, valid = true, block = 0, blocktime = 0,
          positioninblock = 0, propertyid = 31, divisible = false,
          amount = BigDecimal(amt), subaction = 1,
          bitcoindesired = BigDecimal(1), timelimit = Long.MaxValue / 4),
          -(sid + 1)) // negative serial: sorts before every accept
      }
    val accepts = firsts
      .select($"sid", $"user_id", $"event_id", $"sec", $"want")
      .as[(Long, Long, Long, Long, Long)]
      .map { case (sid, uid, eid, sec, want) =>
        (RawTx(txid = f"$eid%016x", protocol = "Omni",
          sendingaddress = s"U$uid", referenceaddress = Some(s"S$sid"),
          type_int = 22, version = 0, valid = true, block = sec / 3600,
          blocktime = sec, positioninblock = 0, propertyid = 31,
          divisible = false, amount = BigDecimal(want)), eid)
      }
    val dex = DexLifecycle.derive(offers.union(accepts), tipBlock = 1)
      .transform(graft.CacheScope.persist)
    // EAGER: the offer census and the accept census both consume the
    // fold output — unpersisted, the whole groupByKey fold runs twice.
    dex.count()
    val off = dex.flatMap(_.offers)
      .select($"seller", $"amountAvailable".as("remaining"),
        $"amountAccepted".as("accepted_total"))
    val acc = dex.flatMap(_.accepts)
      .groupBy($"seller")
      .agg(count(when($"dexState" === "unpaid", 1)).as("n_open"),
        count(when($"dexState" === "invalid", 1)).as("n_invalid"))
    off.join(acc, Seq("seller"))
      .select($"seller", $"remaining".cast(LongType),
        $"accepted_total".cast(LongType), $"n_open", $"n_invalid")
      .orderBy("seller")
  }

  /** BTC UTXO ledger (S4/J5): lineitems are outputs (one per line,
    * paid to the part's address); each line of order K spends the
    * same-numbered output of order K−1. The input→prev-output equi-join
    * replaces the reference's per-input RPC; the oracle derives the
    * identical flows relationally.
    */
  val btcUtxo = Q(
    "btc_utxo_ledger",
    """WITH outs AS (
      |  SELECT l_orderkey AS okey, l_linenumber AS n,
      |    'P' || CAST(l_partkey AS VARCHAR) AS address,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS sat
      |  FROM lineitem),
      |flows AS (
      |  SELECT address, sat AS delta FROM outs
      |  UNION ALL
      |  SELECT prev.address, -prev.sat
      |  FROM outs cur JOIN outs prev
      |    ON prev.okey = cur.okey - 1 AND prev.n = cur.n)
      |SELECT address, CAST(sum(delta) AS BIGINT) AS available,
      |  count(*) AS n_entries
      |FROM flows GROUP BY 1 ORDER BY address""".stripMargin) { (s, dir) =>
    import s.implicits._
    import graft.operators.BtcLedger
    import graft.operators.BtcLedger.{TxIn, TxOut}
    val li = t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_partkey",
        round($"l_quantity" * 100).cast(LongType).as("sat"))
    val outs = li.as[(Long, Int, Long, Long)].map { case (ok, ln, pk, sat) =>
      TxOut(f"$ok%016x", ok, ln, s"P$pk", sat)
    }
    val ins = li.as[(Long, Int, Long, Long)].map { case (ok, ln, _, _) =>
      TxIn(f"$ok%016x", ok, f"${ok - 1}%016x", ln)
    }
    BtcLedger.derive(outs, ins)
      .groupBy($"address")
      .agg(sum($"availableDelta").cast(LongType).as("available"),
        count(lit(1)).as("n_entries"))
      .orderBy("address")
  }

  /** Per-block tx stats via the domain operator (A5, Markets.txStats):
    * events become txs (one per event, hour-blocks), the operator's
    * per-block counts + trailing-24h RANGE window checked relationally.
    */
  val txStatsDomain = Q(
    "a5_txstats_domain",
    """WITH txs AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS block,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
      |    event_type <> 'error' AS valid
      |  FROM events),
      |perblock AS (
      |  SELECT block, CAST(max(sec) AS BIGINT) AS blockTime,
      |    count(*) AS txCount,
      |    count(CASE WHEN valid THEN 1 END) AS validCount,
      |    count(CASE WHEN NOT valid THEN 1 END) AS invalidCount
      |  FROM txs GROUP BY 1)
      |SELECT block, blockTime, txCount, validCount, invalidCount,
      |  CAST(sum(txCount) OVER w AS BIGINT) AS txCount24h,
      |  count(*) OVER w AS blockCount24h
      |FROM perblock
      |WINDOW w AS (ORDER BY blockTime
      |  RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
      |ORDER BY block""".stripMargin) { (s, dir) =>
    import s.implicits._
    val txs = t(s, dir, "events")
      .select(unix_timestamp($"ts").as("sec"),
        ($"event_type" =!= "error").as("valid"), $"event_id")
      .as[(Long, Boolean, Long)]
      .map { case (sec, valid, eid) =>
        (RawTx(txid = f"$eid%016x", protocol = "Omni",
          sendingaddress = "X", referenceaddress = None, type_int = 0,
          version = 0, valid = valid, block = sec / 3600, blocktime = sec,
          positioninblock = 0, propertyid = 31, divisible = false,
          amount = BigDecimal(0)), eid)
      }
    graft.operators.Markets.txStats(txs)
      .select($"block", $"blockTime", $"txCount", $"validCount",
        $"invalidCount", $"txCount24h".cast(LongType).as("txCount24h"),
        $"blockCount24h")
      .orderBy("block")
  }

  /** Per-property USD valuation per block (A5 value payload,
    * sql.py:276-306): event flows become per-block per-property volumes,
    * a two-epoch rate HISTORY goes through the latest-per-pair view (so
    * the stale rows must lose) and the integer micro-USD product is
    * checked relationally. Odd pids are non-divisible, even pids
    * divisible (÷1e8) — both valuation branches exercised.
    */
  val usdValuation = Q(
    "a5_usd_valuation",
    """WITH f AS (SELECT
      |    CAST(epoch_us(ts) // 1000000 AS BIGINT) // 3600 AS block,
      |    1 + user_id % 5 AS pid,
      |    CAST(round(value * 100) AS BIGINT) AS delta,
      |    event_type <> 'error' AS valid,
      |    event_type = 'click' AS is_buyer
      |  FROM events),
      |v AS (SELECT block, pid,
      |    coalesce(sum(CASE WHEN valid THEN abs(delta) END), 0) AS volume,
      |    count(CASE WHEN valid THEN 1 END) AS tx_count,
      |    count(CASE WHEN NOT valid THEN 1 END) AS invalid_count
      |  FROM f WHERE NOT is_buyer GROUP BY 1, 2)
      |SELECT block, CAST(pid AS BIGINT) AS property_id,
      |  CAST(volume AS BIGINT) AS volume, tx_count, invalid_count,
      |  CAST(CAST(volume AS HUGEINT) * ((pid * 13 + 7) * 1000000)
      |    * 6000000
      |    // (CASE WHEN pid % 2 = 0 THEN 1000000000000 ELSE 10000 END)
      |    AS BIGINT) AS value_usd_micros
      |FROM v ORDER BY block, property_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    import graft.operators.{Markets, RatesEtl}
    val flows = t(s, dir, "events")
      .select(
        expr("unix_timestamp(ts) div 3600").as("block"),
        (lit(1L) + $"user_id" % 5).as("propertyId"),
        round($"value" * 100).cast(LongType).as("delta"),
        ($"event_type" =!= "error").as("valid"),
        when($"event_type" === "click", "buyer").otherwise("seller")
          .as("role"),
        ($"user_id" % 5 % 2 === 1).as("divisible"))
    // history with a stale epoch per pair: currentRates must pick asOf=2
    val history = s.createDataset(
      (1L to 5L).flatMap { pid =>
        Seq(RatesEtl.Rate("Bitcoin", 0, "Omni", pid, pid * 999.0, 1, "stale"),
          RatesEtl.Rate("Bitcoin", 0, "Omni", pid, (pid * 13 + 7) / 100.0,
            2, "fresh"))
      } ++ Seq(
        RatesEtl.Rate("Fiat", 0, "Bitcoin", 0, 55555.0, 1, "stale"),
        RatesEtl.Rate("Fiat", 0, "Bitcoin", 0, 60000.0, 2, "fresh")))
    Markets.txValueStats(flows, history)
      .select($"block", $"propertyId".as("property_id"),
        $"volume", $"txCount".as("tx_count"),
        $"invalidCount".as("invalid_count"),
        $"valueUsdMicros".as("value_usd_micros"))
      .orderBy("block", "property_id")
  }

  /** The flagship serving view through the DOMAIN operators (J9,
    * SQLstatements.md:15-86): decoder-derived balances ⋈ wallet
    * membership ⋈ broadcast rates with value projections — the full
    * facts→derivation→serving path in one oracle-checked query.
    */
  val walletServe = Q(
    "j9_wallet_domain_serve",
    """WITH bal AS (
      |  SELECT 'C' || CAST(o_custkey AS VARCHAR) AS address,
      |    CAST(sum(-CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS available
      |  FROM orders GROUP BY 1),
      |wallets AS (
      |  SELECT 'C' || CAST(c_custkey AS VARCHAR) AS address,
      |    'W' || CAST(c_nationkey AS VARCHAR) AS walletId
      |  FROM customer)
      |SELECT w.walletId, b.address, CAST(31 AS BIGINT) AS propertyId,
      |  b.available, CAST(b.available * 2.5 AS DOUBLE) AS availableValue
      |FROM bal b JOIN wallets w ON b.address = w.address
      |ORDER BY w.walletId, b.address""".stripMargin) { (s, dir) =>
    import s.implicits._
    import graft.operators.RatesEtl
    import graft.serving.WalletViews
    // facts → ledger → balances via the real decoder (debit side only:
    // the merchant 'M' has no wallet membership and drops in the join)
    val txs = t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey",
        round($"o_totalprice" * 100).cast(LongType).as("units"))
      .as[(Long, Long, Long)]
      .map { case (ok, ck, units) =>
        RawTx(txid = f"$ok%016x", protocol = "Omni",
          sendingaddress = s"C$ck", referenceaddress = Some("M"),
          type_int = 0, version = 0, valid = true, block = ok,
          blocktime = 0, positioninblock = 0, propertyid = 31,
          divisible = false, amount = BigDecimal(units))
      }
    val balances = Balances.derive(
      txs.flatMap(tx => LedgerDecoder.decode(tx, tx.block)))
    val wallets = t(s, dir, "customer")
      .select(concat(lit("C"), $"c_custkey").as("address"),
        concat(lit("W"), $"c_nationkey").as("walletId"))
    val rates = s.createDataset(Seq(
      RatesEtl.Rate("Omni", 31L, "Fiat", 1L, 2.5, 1000L, "fix")))
    WalletViews.walletBalances(balances, wallets, rates)
      .select($"walletId", $"address", $"propertyId", $"available",
        $"availableValue")
      .orderBy("walletId", "address")
  }

  /** Address tx-history serving with the reference's pagination
    * contract (SQLstatements.md:87-124): ledger ⋈ tx dimension ordered
    * by submit time, LIMIT/OFFSET page. The (submit, serial) total
    * order makes the page content deterministic — exactly what the
    * oracle's LIMIT 25 OFFSET 10 must reproduce row-for-row.
    */
  val addressHistory = Q(
    "j9_address_history",
    """SELECT address, serial, submit_sec, delta_cents
      |FROM (SELECT 'U' || CAST(user_id % 7 AS VARCHAR) AS address,
      |        event_id AS serial,
      |        CAST(epoch_us(ts) // 1000000 AS BIGINT) AS submit_sec,
      |        CAST(round(value * 100) AS BIGINT) AS delta_cents
      |      FROM events)
      |WHERE address = 'U3'
      |ORDER BY submit_sec, serial
      |LIMIT 25 OFFSET 10""".stripMargin) { (s, dir) =>
    import s.implicits._
    import graft.serving.WalletViews
    val ev = t(s, dir, "events")
      .select($"event_id", $"user_id", unix_timestamp($"ts").as("sec"),
        round($"value" * 100).cast(LongType).as("cents"))
    val ledger = ev.as[(Long, Long, Long, Long)].map {
      case (eid, uid, _, cents) =>
        LedgerEntry(s"U${uid % 7}", 31L, "Omni", eid, 0, "recipient",
          cents, 0, 0, 0, 0)
    }
    val txDim = ev.select($"event_id".as("txDbSerialNum"),
      $"sec".as("submitTime"))
    WalletViews.addressHistory(ledger, txDim, "U3", limit = 25, offset = 10)
      .select($"address", $"txDbSerialNum".as("serial"),
        $"submitTime".as("submit_sec"),
        $"availableDelta".as("delta_cents"))
  }

  /** Consensus-hash stamping (sql.py:221-229): the full decoder →
    * balances path runs, then the order-independent state digest; the
    * oracle re-derives the identical balances relationally and hashes
    * the same canonical lines. A single mismatched balance row anywhere
    * flips both digests — this is the 24-byte state-equality check the
    * reference gets from the node each cycle.
    */
  val consensusHash = Q(
    "consensus_hash",
    """WITH ser AS (SELECT o_orderkey, o_custkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS units
      |  FROM orders),
      |flows AS (
      |  SELECT 'C' || CAST(o_custkey AS VARCHAR) AS address,
      |    -units AS delta FROM ser
      |  UNION ALL
      |  SELECT 'M', units FROM ser),
      |bal AS (SELECT address, CAST(sum(delta) AS BIGINT) AS available
      |  FROM flows GROUP BY 1),
      |h AS (SELECT CAST(('0x' || substr(sha256(address || '|31|' ||
      |    CAST(available AS VARCHAR) || '|0'), 1, 15)) AS BIGINT) AS h
      |  FROM bal)
      |SELECT CAST(bit_xor(h) AS BIGINT) AS xor_digest,
      |  CAST(sum(h % 1000000007) AS BIGINT) AS sum_digest,
      |  count(*) AS n_rows
      |FROM h""".stripMargin) { (s, dir) =>
    import s.implicits._
    val txs = t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey",
        round($"o_totalprice" * 100).cast(LongType).as("units"))
      .as[(Long, Long, Long)]
    val stamped = OmniPipeline.stamp(txs, col("o_orderkey"))
    val ledger = stamped.flatMap { case ((ok, ck, units), ser) =>
      LedgerDecoder.decode(RawTx(txid = f"$ok%016x", protocol = "Omni",
        sendingaddress = s"C$ck", referenceaddress = Some("M"),
        type_int = 0, version = 0, valid = true, block = ok,
        blocktime = 0, positioninblock = 0, propertyid = 31,
        divisible = false, amount = BigDecimal(units)), ser)
    }
    graft.operators.ConsensusHash.stateDigest(Balances.derive(ledger))
  }

  /** Freeze sequencer (185/186, sql.py:2344-2356 snapshot +
    * :1408-1414 receive-while-frozen redirect) against a closed-form
    * oracle. Restricted construction: per user one freeze at the FIRST
    * event serial (every third user), optionally an unfreeze strictly
    * after the last event (users ≡1 mod 3), nothing otherwise. With one
    * freeze window the fold collapses to conditional sums: while
    * frozen, credits land in `frozen`, debits still hit `available`,
    * and an unfreeze returns the pot — all expressible relationally.
    * The Spark side runs the REAL order-dependent sequencer
    * ([[Balances.deriveWithFreezes]]), including the fast-path/fold
    * routing (users ≡2 mod 3 take the cold aggregate path).
    */
  val freezeFold = Q(
    "freeze_sequencer",
    """WITH e AS (SELECT user_id, event_id,
      |    CASE WHEN event_type = 'purchase'
      |      THEN -CAST(round(value * 100) AS BIGINT)
      |      ELSE CAST(round(value * 100) AS BIGINT) END AS d
      |  FROM events),
      |b AS (SELECT user_id, min(event_id) AS f, max(event_id) AS l
      |  FROM e GROUP BY 1),
      |j AS (SELECT e.user_id, e.event_id, e.d, b.f, b.l,
      |    e.user_id % 3 AS grp
      |  FROM e JOIN b ON e.user_id = b.user_id)
      |SELECT 'U' || CAST(user_id AS VARCHAR) AS address,
      |  CAST(CASE WHEN grp = 0
      |    THEN coalesce(sum(CASE WHEN event_id > f AND d < 0 THEN d END), 0)
      |    ELSE sum(d) END AS BIGINT) AS available,
      |  CAST(CASE WHEN grp = 0
      |    THEN coalesce(sum(CASE WHEN event_id = f THEN d END), 0)
      |       + coalesce(sum(CASE WHEN event_id > f AND d > 0 THEN d END), 0)
      |    ELSE 0 END AS BIGINT) AS frozen,
      |  grp = 0 AS frozen_flag,
      |  CAST(CASE WHEN grp = 1 THEN max(l) + 1 ELSE max(l) END
      |    AS BIGINT) AS last_serial
      |FROM j GROUP BY user_id, grp ORDER BY address""".stripMargin) {
    (s, dir) =>
    import s.implicits._
    val e = t(s, dir, "events")
      .select($"user_id", $"event_id",
        when($"event_type" === "purchase",
          -round($"value" * 100).cast(LongType))
          .otherwise(round($"value" * 100).cast(LongType)).as("d"))
      .as[(Long, Long, Long)]
    val ledger = e.map { case (uid, eid, d) =>
      LedgerEntry(s"U$uid", 31L, "Omni", eid, 0, "recipient", d, 0, 0, 0, 0)
    }
    val freezes = e.groupBy($"user_id")
      .agg(min($"event_id").as("f"), max($"event_id").as("l"))
      .as[(Long, Long, Long)]
      .flatMap { case (uid, f, l) =>
        (uid % 3) match {
          case 0 => Seq(FreezeEvent(s"U$uid", 31L, f, freeze = true))
          case 1 => Seq(FreezeEvent(s"U$uid", 31L, f, freeze = true),
            FreezeEvent(s"U$uid", 31L, l + 1, freeze = false))
          case _ => Nil
        }
      }
    Balances.deriveWithFreezes(ledger, freezes)
      .select($"address", $"available", $"frozen",
        $"frozenFlag".as("frozen_flag"),
        $"lastTxDbSerialNum".as("last_serial"))
      .orderBy("address")
  }

  /** Pending-tx reconcile (sql.py:314-455): still-live pendings =
    * pending set MINUS confirmed twins (anti-join on txid) MINUS
    * expired (5-h horizon). Events with type≠'click' are confirmed;
    * every even-user event is also pending — so live pendings are
    * exactly the even-user clicks inside the horizon, which is what
    * the oracle computes.
    */
  val pendingReconcile = Q(
    "pending_reconcile",
    """WITH e AS (SELECT event_id, user_id, event_type,
      |    CAST(epoch_us(ts) // 1000000 AS BIGINT) AS sec FROM events),
      |mx AS (SELECT (min(sec) + max(sec)) // 2 AS cut FROM e)
      |SELECT e.event_id AS pending_id, e.sec AS submit_sec
      |FROM e, mx
      |WHERE e.user_id % 2 = 0
      |  AND e.sec > mx.cut
      |  AND e.event_type = 'click'
      |ORDER BY pending_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    import graft.operators.Pending
    val e = t(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type",
        unix_timestamp($"ts").as("sec"))
      .as[(Long, Long, String, Long)]
    def raw(eid: Long, sec: Long): RawTx =
      RawTx(txid = f"$eid%016x", protocol = "Omni", sendingaddress = "X",
        referenceaddress = None, type_int = 0, version = 0, valid = true,
        block = 0, blocktime = sec, positioninblock = 0, propertyid = 31,
        divisible = false, amount = BigDecimal(0))
    val confirmed = e.filter(_._3 != "click")
      .map { case (eid, _, _, sec) => raw(eid, sec) }
    val pending = e.filter(_._2 % 2 == 0)
      .map { case (eid, _, _, sec) => raw(eid, sec) }
    // `now` is a query parameter (the reference uses the wall clock).
    // Center the horizon on the data's midpoint so BOTH legs carry
    // rows: pendings before the cut expire, later ones stay live. Two
    // scalar aggregates, not a data-path collect.
    val r = e.select(min($"sec").as("mn"), max($"sec").as("mx")).head()
    val now = (r.getLong(0) + r.getLong(1)) / 2 + Pending.ExpirySeconds
    Pending.reconcile(confirmed, pending, now)
      .select(conv($"txid", 16, 10).cast(LongType).as("pending_id"),
        $"blocktime".as("submit_sec"))
      .orderBy("pending_id")
  }

  /** M5 — targeted reparse ([[OmniPipeline.reparseTx]], reference
    * sql.py:12-83 reparsetx_MP): derive the ledger from the original
    * facts, then repair ONE tx in place — the mid-stream order's
    * corrected payload changes both its amount (×3+17) and its
    * recipient (M→M2), so rows must move across addresses, not just
    * change magnitude. The oracle re-derives from PATCHED facts, so the
    * gate is exactly the reference's invariant: targeted repair ≡ full
    * re-derivation.
    */
  val reparseTx = Q(
    "reparse_tx",
    """WITH o AS (SELECT o_orderkey AS ok, o_custkey AS ck,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS units,
      |    row_number() OVER (ORDER BY o_orderkey) AS serial
      |  FROM orders),
      |cut AS (SELECT (min(ok) + max(ok)) // 2 AS c FROM o),
      |tgt AS (SELECT max(ok) AS okt FROM o, cut WHERE ok <= c),
      |p AS (SELECT ok, ck, serial,
      |    CASE WHEN ok = okt THEN units * 3 + 17 ELSE units END AS units,
      |    CASE WHEN ok = okt THEN 'M2' ELSE 'M' END AS recv
      |  FROM o, tgt),
      |flows AS (
      |  SELECT 'C' || CAST(ck AS VARCHAR) AS address, -units AS delta,
      |    serial FROM p
      |  UNION ALL SELECT recv, units, serial FROM p)
      |SELECT address, CAST(sum(delta) AS BIGINT) AS available,
      |  CAST(max(serial) AS BIGINT) AS last_serial
      |FROM flows GROUP BY 1 ORDER BY address""".stripMargin) { (s, dir) =>
    import s.implicits._
    val o = t(s, dir, "orders")
      .select($"o_orderkey".as("ok"), $"o_custkey".as("ck"),
        round($"o_totalprice" * 100).cast(LongType).as("units"))
    // point-repair parameters: the mid-stream target tx and its serial
    // — three pruned scalar aggregates, the shape of a point operation
    val r = o.agg(min($"ok"), max($"ok")).head()
    val okT = o.where($"ok" <= (r.getLong(0) + r.getLong(1)) / 2)
      .agg(max($"ok")).head().getLong(0)
    val trow = o.where($"ok" === okT).head()
    val serialT = o.where($"ok" < okT).count() + 1
    // original derivation (same shape as ledger_simple_send)
    val stamped = OmniPipeline.stamp(o.as[(Long, Long, Long)], col("ok"))
    val ledger = stamped.flatMap { case ((ok, ck, units), ser) =>
      LedgerDecoder.decode(RawTx(txid = f"$ok%016x", protocol = "Omni",
        sendingaddress = s"C$ck", referenceaddress = Some("M"),
        type_int = 0, version = 0, valid = true, block = ok,
        blocktime = 0, positioninblock = 0, propertyid = 31,
        divisible = false, amount = BigDecimal(units)), ser)
    }
    val corrected = RawTx(txid = f"$okT%016x", protocol = "Omni",
      sendingaddress = s"C${trow.getLong(1)}",
      referenceaddress = Some("M2"), type_int = 0, version = 0,
      valid = true, block = okT, blocktime = 0, positioninblock = 0,
      propertyid = 31, divisible = false,
      amount = BigDecimal(trow.getLong(2) * 3 + 17))
    Balances.derive(OmniPipeline.reparseTx(ledger, serialT, corrected))
      .select($"address", $"available",
        $"lastTxDbSerialNum".as("last_serial"))
      .orderBy("address")
  }

  val all: Seq[Q] = Seq(simpleSend, sendAll, stoDecode, dexFold, btcUtxo,
    txStatsDomain, usdValuation, walletServe, addressHistory,
    consensusHash, freezeFold, pendingReconcile, reparseTx)
}
