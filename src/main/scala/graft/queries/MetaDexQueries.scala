package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables.t
import graft.model._
import graft.operators.{Markets, MetaDexOps}

/** MetaDEx settlement + market ticker domain operators driven through
  * the t2 gate (reference sql.py:2032-2127 settlement, :977-1011
  * remaining, :893-974 updatemarkets). Test tables are mapped into the
  * domain types, the REAL operators run, and DuckDB re-derives the same
  * result relationally — the a5_txstats_domain recipe.
  *
  * Match synthesis: orders chain per customer (lag/lead by orderkey);
  * each consecutive pair is ONE trade listed on BOTH sides — exactly the
  * node's double reporting — so the operator's dedup guard
  * (sql.py:2063-2069: apply only on the later tx) is what makes the
  * counts come out right.
  */
object MetaDexQueries {

  /** Shared synthesis: one type-21 tx per order; matches = the
    * prev/next same-customer orders, values from the LATER side's cents
    * (the kept listing), fee = cents % 97. Persisted eagerly — the
    * operator consumes it twice (txid→serial map + match explode), and
    * an unpersisted input would re-run the window synthesis per
    * consumer.
    */
  private def metaTxs(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    val w = Window.partitionBy("c").orderBy("k")
    val ds = t(s, dir, "orders")
      .select($"o_orderkey".as("k"), $"o_custkey".as("c"),
        round($"o_totalprice" * 100).cast(LongType).as("cents"))
      .withColumn("pk", lag("k", 1).over(w))
      .withColumn("pcents", lag("cents", 1).over(w))
      .withColumn("nk", lead("k", 1).over(w))
      .withColumn("ncents", lead("cents", 1).over(w))
      .as[(Long, Long, Long, Option[Long], Option[Long], Option[Long],
        Option[Long])]
      .map { case (k, _, cents, pk, pcents, nk, ncents) =>
        val prev = pk.map(p => TradeMatch(f"$p%016x", s"T$p", k,
          BigDecimal(pcents.get), BigDecimal(cents),
          BigDecimal(cents % 97)))
        val next = nk.map(n => TradeMatch(f"$n%016x", s"T$n", k,
          BigDecimal(cents), BigDecimal(ncents.get),
          BigDecimal(ncents.get % 97)))
        (RawTx(txid = f"$k%016x", protocol = "Omni",
          sendingaddress = s"T$k", referenceaddress = None, type_int = 21,
          version = 0, valid = true, block = k, blocktime = 0,
          positioninblock = 0, propertyid = 1 + k % 5, divisible = false,
          amount = BigDecimal(cents * 2), propertyiddesired = 11 + k % 5,
          desireddivisible = false,
          matches = (prev ++ next).toSeq), k)
      }
      // MEMORY_ONLY, the minhash scratch-bounding shape: partitions that
      // don't fit recompute (a window read over already-written shuffle
      // files) instead of spilling ~20 GB of cached RawTx batches onto
      // the same disk the dedup join's shuffle needs — the measured
      // cause of the 1000×-probe scratch exhaustion before this change.
      .transform(ds2 => graft.CacheScope.persistAt(ds2,
        org.apache.spark.storage.StorageLevel.MEMORY_ONLY))
    ds.count() // EAGER: lazy persist would not dedupe racing consumers
    ds
  }

  /** MetaDEx trade settlement (sql.py:2078-2101): 4 ledger rows per
    * deduped match — sold moves taker-reserved→maker-available, received
    * moves maker-reserved→taker-available less the fee. Oracle rebuilds
    * the kept (later-tx) pairs with a lag window and the same 4-row
    * union.
    */
  val settlement = Q(
    "metadex_settlement",
    """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
      |p AS (SELECT k, cents, lag(k) OVER w AS pk, lag(cents) OVER w AS pcents
      |  FROM o WINDOW w AS (PARTITION BY c ORDER BY k)),
      |pairs AS (SELECT k, pk, pcents, cents, cents % 97 AS fee,
      |    1 + k % 5 AS pid_sold, 11 + k % 5 AS pid_recv
      |  FROM p WHERE pk IS NOT NULL),
      |entries AS (
      |  SELECT 'T' || CAST(k AS VARCHAR) AS address, pid_sold AS pid,
      |    0 AS av, -pcents AS rv FROM pairs
      |  UNION ALL SELECT 'T' || CAST(pk AS VARCHAR), pid_sold, pcents, 0
      |    FROM pairs
      |  UNION ALL SELECT 'T' || CAST(pk AS VARCHAR), pid_recv, 0, -cents
      |    FROM pairs
      |  UNION ALL SELECT 'T' || CAST(k AS VARCHAR), pid_recv,
      |    cents - fee, 0 FROM pairs)
      |SELECT address, CAST(pid AS BIGINT) AS property_id,
      |  CAST(sum(av) AS BIGINT) AS avail_delta,
      |  CAST(sum(rv) AS BIGINT) AS reserved_delta,
      |  count(*) AS n_entries
      |FROM entries GROUP BY 1, 2
      |ORDER BY address, property_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val (_, ledger) = MetaDexOps.derive(metaTxs(s, dir))
    ledger
      .groupBy($"address", $"propertyId".as("property_id"))
      .agg(sum($"availableDelta").cast(LongType).as("avail_delta"),
        sum($"reservedDelta").cast(LongType).as("reserved_delta"),
        count(lit(1)).as("n_entries"))
      .orderBy("address", "property_id")
  }

  /** Open remaining per trade offer (updatedex2remaining
    * sql.py:977-1011): reserve − sold-as-taker − delivered-as-maker. In
    * the chain construction that's reserve − prev-cents − next-cents.
    */
  val remaining = Q(
    "metadex_remaining",
    """WITH o AS (SELECT o_orderkey AS k, o_custkey AS c,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
      |p AS (SELECT k, cents,
      |    lag(cents) OVER w AS pcents, lead(cents) OVER w AS ncents
      |  FROM o WINDOW w AS (PARTITION BY c ORDER BY k))
      |SELECT k AS serial, 'T' || CAST(k AS VARCHAR) AS seller,
      |  CAST(1 + k % 5 AS BIGINT) AS pid_sold,
      |  CAST(11 + k % 5 AS BIGINT) AS pid_recv,
      |  CAST(cents * 2 AS BIGINT) AS reserve,
      |  CAST(cents * 2 - coalesce(pcents, 0) - coalesce(ncents, 0)
      |    AS BIGINT) AS remaining
      |FROM p ORDER BY serial""".stripMargin) { (s, dir) =>
    import s.implicits._
    MetaDexOps.remaining(metaTxs(s, dir))
      .select($"serial", $"seller",
        $"pidSold".as("pid_sold"), $"pidRecv".as("pid_recv"),
        $"reserve", $"remaining")
      .orderBy("serial")
  }

  /** Market tickers from the offer book (A6 domain, sql.py:893-974):
    * lineitems become offers (discount-cents as the accepted hold,
    * returnflag 'A' as cancelled), the operator's per-pair supply /
    * best-untouched / effective-price refinement checked against the
    * same integer e8 arithmetic in DuckDB.
    */
  val tickerDomain = Q(
    "a6_ticker_domain",
    """WITH o AS (SELECT 1 + l_partkey % 20 AS pid,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS avail,
      |    CAST(round(l_discount * 100) AS BIGINT) AS acc,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) * 1000000 AS u_e8,
      |    l_orderkey * 10 + l_linenumber AS serial
      |  FROM lineitem WHERE l_returnflag <> 'A'),
      |e AS (SELECT pid, avail, acc, u_e8, serial,
      |    CASE WHEN acc = 0 OR avail = 0 THEN u_e8
      |      ELSE CAST(((CAST(avail AS HUGEINT) * u_e8 + 99999999)
      |        // 100000000 * 100000000) // avail AS BIGINT) END AS eff_e8
      |  FROM o)
      |SELECT CAST(pid AS BIGINT) AS pid_sell,
      |  CAST(sum(avail) AS BIGINT) AS supply,
      |  CAST(min(CASE WHEN acc = 0 THEN u_e8 END) AS BIGINT)
      |    AS best_untouched_e8,
      |  CAST(min(eff_e8) AS BIGINT) AS best_effective_e8,
      |  count(*) AS n_offers,
      |  CAST(max(serial) AS BIGINT) AS last_serial
      |FROM e GROUP BY 1 ORDER BY pid_sell""".stripMargin) { (s, dir) =>
    import s.implicits._
    // Columnar ActiveOffer construction — select + as[T], NOT a typed
    // .map: the lambda version deserialized an 8-tuple, built a Scala
    // BigDecimal and a case class per lineitem row outside codegen
    // (measured 3.44 s median at sf0.1; this shape 2.0 s). cents/100
    // is exact in DECIMAL, same value the old BigDecimal division
    // produced.
    val offers = t(s, dir, "lineitem")
      .select(
        concat(lit("S"), $"l_suppkey").as("seller"),
        (lit(1L) + $"l_partkey" % 20).as("propertyIdSelling"),
        lit(0L).as("propertyIdDesired"),
        (round($"l_quantity" * 100).cast(LongType) +
          round($"l_discount" * 100).cast(LongType)).as("totalSelling"),
        round($"l_quantity" * 100).cast(LongType).as("amountAvailable"),
        round($"l_discount" * 100).cast(LongType).as("amountAccepted"),
        lit(0L).as("amountDesired"),
        lit(10L).as("timeLimit"),
        (round($"l_extendedprice" * 100).cast(LongType)
          .cast("decimal(20,2)") / 100).cast("decimal(38,18)")
          .as("unitPrice"),
        when($"l_returnflag" === "A", "cancelled").otherwise("active")
          .as("offerState"),
        ($"l_orderkey" * 10 + $"l_linenumber")
          .cast(LongType).as("createTxDbSerialNum"),
        ($"l_orderkey" * 10 + $"l_linenumber")
          .cast(LongType).as("lastTxDbSerialNum"))
      .as[ActiveOffer]
    Markets.tickers(offers)
      .select($"propertyIdSelling".cast(LongType).as("pid_sell"),
        $"supply", $"bestUntouchedPriceE8".as("best_untouched_e8"),
        $"bestEffectivePriceE8".as("best_effective_e8"),
        $"nOffers".as("n_offers"),
        $"lastTxDbSerialNum".cast(LongType).as("last_serial"))
      .orderBy("pid_sell")
  }

  val all: Seq[Q] = Seq(settlement, remaining, tickerDomain)
}
