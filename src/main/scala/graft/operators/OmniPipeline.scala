package graft.operators

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._

/** End-to-end derivation: raw decoded txs → serial-stamped facts →
  * ledger → every derived table (SURVEY.md §7.1 "facts → derivations →
  * serving views").
  *
  * Reorg (reference sql.py:85-218 reorgRollback, 134 LoC of inverse
  * operators) is [[truncate]] + re-run — the payoff of immutable facts:
  * state(fork) ≡ derive(facts ≤ fork), byte-for-byte (asserted by
  * ReorgSpec).
  */
object OmniPipeline {

  final case class Derived(
      txs: Dataset[(RawTx, Long)],
      ledger: Dataset[LedgerEntry],
      balances: Dataset[AddressBalance],
      offers: Dataset[ActiveOffer],
      accepts: Dataset[OfferAccept],
      trades: Dataset[MatchedTrade],
      properties: Dataset[SmartProperty])

  /** Deterministic serial assignment (W1): total order by
    * (block, positioninblock, txid) through [[GlobalSerial.assign]] —
    * never a single-partition window (SURVEY §7.4.6).
    */
  def withSerials(txs: Dataset[RawTx]): Dataset[(RawTx, Long)] =
    stamp(txs, col("block"), col("positioninblock"), col("txid"))

  /** Typed view of [[GlobalSerial.assign]]: each row of a product-typed
    * (case class or tuple) dataset paired with its dense 1-based serial
    * in `order`. Stamp the NARROWEST dataset
    * available (e.g. key tuples) and join/map the wide rows afterwards:
    * the sample and count passes then move only a few columns.
    *
    * The row is packed into `_1` BEFORE the stamp, with the sort keys
    * beside it, so the stamper's cache holds it as one struct column:
    * every typed consumer (the decode pass and each fold in
    * [[deriveStamped]]) then reads one cached column instead of
    * reassembling `_1` from every field of a flat cache — measured
    * ~10% less consumer time on the sf0.01 flagship feed (4 cores,
    * local[4]).
    */
  def stamp[T](ds: Dataset[T], order: org.apache.spark.sql.Column*): Dataset[(T, Long)] = {
    implicit val enc: Encoder[(T, Long)] =
      Encoders.tuple(ds.encoder, Encoders.scalaLong)
    val keys = order.indices.map(i => s"__k$i")
    val keyed = ds.toDF().select(struct(ds.columns.map(col): _*).as("_1") +:
      order.zip(keys).map { case (o, k) => o.as(k) }: _*)
    GlobalSerial.assign(keyed, "_2", keys.map(col): _*)
      .select("_1", "_2")
      .as[(T, Long)]
  }

  def derive(txs: Dataset[RawTx], tipBlock: Long): Derived =
    deriveStamped(withSerials(txs), tipBlock)

  /** [[derive]] from an ALREADY-STAMPED stream. Serial stamping is
    * prefix-stable under block truncation — [[withSerials]]' total
    * order leads with `block`, so every row kept by
    * `truncate(_, fork)` sorts before every dropped row and its dense
    * serial is unchanged: `withSerials(truncate(x, f)) ==
    * truncate'(withSerials(x), f)` exactly. The m4 sequential schedule
    * exploits that to stamp ONCE at max(fork) and serve every fork
    * from the shared stamped prefix (the range exchange, sort and
    * counts pass are the serve's widest fork-independent slice).
    * [[graft.streaming.IncrementalIngest.derive]] exploits it the other
    * way round: a prefix of whole block ranges keeps its serials as the
    * store grows, so only the rows above it are stamped, each serial
    * shifted by the prefix's row count — `withSerials(x)` equals the
    * reused prefix ∪ `withSerials(x above it)` + its size, exactly.
    *
    * The order of `stamped`'s rows does not matter: every fold
    * re-partitions and sorts by its key and serial. The DEx fold and the
    * property registry, each read by more than one output, are cached
    * for the query ([[graft.CacheScope]]).
    */
  def deriveStamped(stamped: Dataset[(RawTx, Long)],
      tipBlock: Long): Derived = {
    val spark = stamped.sparkSession
    import spark.implicits._

    val baseLedger = stamped.flatMap { case (tx, s) =>
      LedgerDecoder.decode(tx, s)
    }
    // Columnar pre-filters feeding the sparse consumers: each predicate
    // is implied by the consumer's own typed filter (kept, so semantics
    // cannot drift), but on the columnar stamped cache from
    // [[withSerials]] it prunes in whole-stage codegen BEFORE
    // DeserializeToObject builds a RawTx per row — the decode pass
    // above is the only consumer that still deserializes every row.
    // (On an object-backed stamped input — spec fixtures — the filter
    // costs one serializer pass of the few referenced fields instead;
    // correctness identical.) Each type set is the consumer's OWN
    // published constant, so a consumer that widens its types widens
    // this pre-filter in lockstep (r13 ADVICE).
    // dex feeds the ledger, the offers and the accepts; properties feed
    // the wallet view's names and the registry table: each is folded
    // once and cached for the query (CacheScope). MetaDEx stays
    // unpinned (see MetaDexOps).
    val dex = graft.CacheScope.persist(DexLifecycle.derive(
      stamped.where(col("_1.type_int")
        .isin(DexLifecycle.EventTypes.toSeq: _*)), tipBlock))
    val dexLedger = dex.flatMap(_.ledger)
    val (trades, metaLedger) = MetaDexOps.derive(
      stamped.where(col("_1.type_int")
        .isin(MetaDexOps.TradeTypes.toSeq: _*) && col("_1.valid")))

    val ledger = baseLedger.union(dexLedger).union(metaLedger)
    val freezes = stamped
      .where(col("_1.type_int").isin(LedgerDecoder.FreezeTypes.toSeq: _*))
      .flatMap { case (tx, s) =>
      LedgerDecoder.freezeEvents(tx, s)
    }
    val balances = Balances.deriveWithFreezes(ledger, freezes)
    val offers = dex.flatMap(_.offers)
    val accepts = dex.flatMap(_.accepts)
    val properties = graft.CacheScope.persist(PropertyRegistry.derive(
      stamped.where(col("_1.valid") && col("_1.type_int")
        .isin(PropertyRegistry.LifecycleTypes.toSeq: _*))))

    Derived(stamped, ledger, balances, offers, accepts, trades, properties)
  }

  /** M4 — reorg as re-derivation: drop facts past the fork, re-run. */
  def truncate(txs: Dataset[RawTx], forkBlock: Long): Dataset[RawTx] =
    txs.filter(_.block <= forkBlock)

  /** Types whose decode is row-local, so a single tx can be repaired
    * in place — the reference's reparse whitelist (sql.py:12-83
    * reparsetx_MP handles simple sends, STOs, send-alls, MetaDEx
    * listings and embeds; state-machine types need a full re-derive).
    */
  private val ReparseTypes = Set(0, 3, 4, 25, 200)

  /** M5 — targeted reparse (reference sql.py:12-83 reparsetx_MP): the
    * node re-serves one tx's corrected payload; repair the ledger
    * INCREMENTALLY by dropping the tx's old rows and decoding the new
    * payload at the SAME serial. Valid exactly because the whitelisted
    * types decode row-locally ([[LedgerDecoder]] statelessness
    * boundary): no other row's decode reads this tx's state, so
    * repair ≡ full re-derivation from patched facts — the equivalence
    * the reparse_tx gate checks against the relational oracle.
    */
  def reparseTx(ledger: Dataset[LedgerEntry], targetSerial: Long,
      corrected: RawTx): Dataset[LedgerEntry] = {
    require(ReparseTypes.contains(corrected.type_int),
      s"type ${corrected.type_int} is state-dependent; reparse supports " +
        s"only row-local types $ReparseTypes — re-derive instead")
    val spark = ledger.sparkSession
    import spark.implicits._
    ledger.filter(_.txDbSerialNum != targetSerial)
      .union(spark.createDataset(LedgerDecoder.decode(corrected, targetSerial)))
  }
}

/** FeatureActivations (reference sql.py:2392-2396 + :1094-1132
  * checkPendingActivations): latest state per feature — a latest-per-key
  * view (W4) over activation txs, re-polled state collapses to "the
  * newest row wins".
  */
object FeatureActivations {
  final case class Activation(featureId: Long, activationBlock: Long,
      pending: Boolean, lastTxDbSerialNum: Long)

  def derive(txs: Dataset[(RawTx, Long)], tipBlock: Long): Dataset[Activation] = {
    val spark = txs.sparkSession
    import spark.implicits._
    txs
      .filter { case (tx, _) => tx.type_int == 65534 && tx.valid }
      .groupByKey(_._1.featureid)
      .mapGroups { (fid, it) =>
        val (tx, serial) = it.maxBy(_._2)
        Activation(fid, tx.block, pending = tx.block > tipBlock, serial)
      }
  }
}

/** SmartProperties registry (reference sql.py:1524-1600 insertProperty,
  * :1469-1501 updateProperty): per-property fold over the full lifecycle
  * — 50/51/54 create (with name/category/subcategory/url/data payload),
  * −51 crowdsale purchases (participant tally + tokens, grouped by the
  * PURCHASED pid, not the funding pid), 53 close (deactivate + credit
  * addedissuertokens exactly once), 55/56 grant/revoke net, 70
  * change-issuer, 73/74 delegate — ordered by serial. Tiny groups
  * (a property's lifecycle history), one shuffle on propertyid.
  */
object PropertyRegistry {

  private[operators] val LifecycleTypes =
    Set(50, 51, -51, 53, 54, 55, 56, 70, 73, 74)

  /** PropertyHistory (sql.py:1546,1591-1599: every insert/update writes
    * a history row): the lifecycle tx stream per property — a pure
    * projection of the fact stream, no fold needed.
    */
  def history(txs: Dataset[(RawTx, Long)]): org.apache.spark.sql.DataFrame = {
    val spark = txs.sparkSession
    import spark.implicits._
    txs
      .filter { case (tx, _) =>
        tx.valid && LifecycleTypes.contains(tx.type_int)
      }
      .map { case (tx, s) =>
        (if (tx.type_int == -51) tx.purchasedpropertyid else tx.propertyid,
          s, tx.type_int)
      }
      .toDF("propertyId", "txDbSerialNum", "txType")
  }

  /** The narrow lifecycle-event projection that crosses the registry
    * shuffle: only the ~15 scalar fields the fold reads — never the
    * full RawTx with its five Seq payload columns (recipients,
    * subsends, purchases, matches, cancels), which would multiply the
    * exchange and the partition sort several-fold for bytes the fold
    * ignores.
    */
  final case class PropEvent(
      typeInt: Int,
      sendingaddress: String,
      referenceaddress: Option[String],
      divisible: Boolean,
      amount: BigDecimal,
      purchasedtokens: BigDecimal,
      purchaseddivisible: Boolean,
      issuertokens: BigDecimal,
      addedissuertokens: BigDecimal,
      ecosystem: String,
      propertyname: String,
      propertycategory: String,
      propertysubcategory: String,
      propertyurl: String,
      propertydata: String)

  private def toEvent(tx: RawTx): PropEvent =
    PropEvent(tx.type_int, tx.sendingaddress, tx.referenceaddress,
      tx.divisible, tx.amount, tx.purchasedtokens, tx.purchaseddivisible,
      tx.issuertokens, tx.addedissuertokens, tx.ecosystem,
      tx.propertyname, tx.propertycategory, tx.propertysubcategory,
      tx.propertyurl, tx.propertydata)

  def derive(txs: Dataset[(RawTx, Long)]): Dataset[SmartProperty] = {
    val spark = txs.sparkSession
    import spark.implicits._
    val keyed = txs
      .filter { case (tx, _) =>
        tx.valid && LifecycleTypes.contains(tx.type_int)
      }
      // a -51 purchase's propertyid is the FUNDING property; the tokens
      // are minted in purchasedpropertyid (sql.py:2180-2232)
      .map { case (tx, s) =>
        (if (tx.type_int == -51) tx.purchasedpropertyid else tx.propertyid,
          toEvent(tx), s)
      }
    // Secondary sort instead of groupByKey+toSeq (the DexLifecycle
    // pattern): one shuffle on propertyid, serial order established by
    // the partition sort, each property's lifecycle folded as a STREAM.
    // A hot crowdsale's -51 purchase history (sql.py:2180-2232) is
    // unbounded, so it must never become one task's input buffer.
    keyed
      .repartition($"_1")
      .sortWithinPartitions($"_1", $"_3")
      .mapPartitions { it =>
        new GroupRuns(it.map(r => (r._1, (r._2, r._3))))
          .map { case (pid, run) => foldKey(pid, run) }
      }
  }

  /** Seq convenience overload (specs build small fixtures); the
    * iterator form requires serial-ordered input, so sort here.
    */
  def foldKey(pid: Long, events: Seq[(RawTx, Long)]): SmartProperty =
    foldKey(pid,
      events.sortBy(_._2).iterator.map { case (tx, s) => (toEvent(tx), s) })

  /** Single-pass fold of one property's serial-ordered lifecycle with
    * O(1) state. Equivalent to "find the first 50/51/54 create (else
    * the first event), init from it, then replay every event in serial
    * order" — the replay form needs no lookahead buffering because the
    * only create-dependent handler is the 53 close-credit
    * (sql.py:1485-1501): `active` starts as (create.type == 51) and is
    * only ever cleared by a 53, so the FIRST 53's credit applies iff
    * the create is a crowdsale, and every later 53 is a no-op. All
    * other accumulators (participants, purchased, granted, last
    * issuer/delegate override) are create-independent, so the whole
    * fold streams.
    */
  def foldKey(pid: Long, events: Iterator[(PropEvent, Long)]): SmartProperty = {
    var first: (PropEvent, Long) = null
    var create: (PropEvent, Long) = null // first 50/51/54 event
    var lastSerial = Long.MinValue
    var issuerOverride: Option[String] = None // last 70 wins
    var delegate = ""
    var closed = false // any 53 seen
    var first53Credit = 0L // applies iff the create is a 51 crowdsale
    var participants = 0L
    var purchased = 0L
    var issuerTokens = 0L
    var granted = 0L
    events.foreach { case (tx, s) =>
      if (first == null) first = (tx, s)
      lastSerial = s
      tx.typeInt match {
        case 50 | 51 | 54 =>
          if (create == null) create = (tx, s)
        case -51 =>
          participants += 1
          // addExact, not +: the Omni protocol caps any property's
          // total supply below 2^63 base units (node-validated before
          // the reference ever stores a tally, which lands in
          // PropertyData jsonb as an unbounded Python int) — so on a
          // valid chain these never fire, and on out-of-protocol input
          // a ledger must fail LOUDLY, never wrap. The 1000× registry
          // sweep caught the wrap live: its pre-r9 fixture summed
          // ~1.9e19 base units at sf100 — DuckDB's exact HUGEINT
          // refused the INT64 cast while this accumulator silently
          // wrapped negative.
          purchased = Math.addExact(purchased,
            Amounts.toBase(tx.purchasedtokens, tx.purchaseddivisible))
          issuerTokens = Math.addExact(issuerTokens,
            Amounts.toBase(tx.issuertokens, tx.purchaseddivisible))
        case 53 =>
          // credited exactly once at close (sql.py:1485-1501)
          if (!closed)
            first53Credit = Amounts.toBase(tx.addedissuertokens,
              tx.divisible)
          closed = true
        case 55 => granted = Math.addExact(granted,
          Amounts.toBase(tx.amount, tx.divisible))
        case 56 => granted = Math.subtractExact(granted,
          Amounts.toBase(tx.amount, tx.divisible))
        case 70 =>
          issuerOverride =
            Some(tx.referenceaddress.getOrElse(tx.sendingaddress))
        case 73 =>
          delegate = tx.referenceaddress.getOrElse("")
        case 74 => delegate = ""
        case _ => ()
      }
    }
    // GroupRuns only emits non-empty runs, but foldKey is public API:
    // fail loudly on a caller's empty iterator instead of NPE'ing on
    // ctx.typeInt below.
    require(first != null, s"empty lifecycle event stream for property $pid")
    val (ctx, cserial) = if (create != null) create else first
    val crowdsale = ctx.typeInt == 51
    if (crowdsale && closed)
      issuerTokens = Math.addExact(issuerTokens, first53Credit)
    // assembled PropertyData payload (sql.py:1565-1575 + jsonb column)
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val json = s"""{"name":"${esc(ctx.propertyname)}","category":"${esc(
        ctx.propertycategory)}","subcategory":"${esc(
        ctx.propertysubcategory)}","url":"${esc(
        ctx.propertyurl)}","data":"${esc(
        ctx.propertydata)}","divisible":${ctx.divisible}}"""
    SmartProperty(pid, issuerOverride.getOrElse(ctx.sendingaddress),
      ctx.ecosystem, ctx.propertyname,
      ctx.divisible, managed = ctx.typeInt == 54, cserial,
      lastSerial,
      propertyType = if (ctx.divisible) 2 else 1,
      category = ctx.propertycategory,
      subcategory = ctx.propertysubcategory,
      url = ctx.propertyurl,
      data = ctx.propertydata,
      propertyDataJson = json,
      crowdsale = crowdsale,
      crowdsaleActive = crowdsale && !closed,
      participantCount = participants,
      tokensPurchased = purchased,
      issuerTokens = issuerTokens,
      granted = granted,
      delegate = delegate)
  }
}
