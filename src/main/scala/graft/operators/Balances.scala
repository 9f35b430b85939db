package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._

/** Balance derivation (reference sql.py:1320-1418 updateBalance,
  * :1658-1662 finalizeAfterBalances) — the mutate→derive rewrite.
  *
  * Two paths:
  *  - [[derive]]: the fast path — one groupBy(address, propertyId) over
  *    the ledger with four sums, map-side combinable, single shuffle.
  *    Valid whenever no freeze events touch the key.
  *  - [[deriveWithFreezes]]: the exact path with freeze semantics
  *    (sql.py:2344-2356 snapshot + :1408-1414 receive-while-frozen
  *    redirect), which is order-dependent per key → flatMapGroups over
  *    serial-sorted per-key events. Only keys WITH freeze events take
  *    this path (they are rare); everything else stays on the fast path,
  *    so the sequential region touches a vanishing fraction of data at
  *    100 TB.
  */
/** One row of the merged freeze-fold stream: kind 0 = ledger entry,
  * kind 1 = freeze marker — a freeze at serial s applies AFTER the
  * tx's own ledger rows at s (the reference reads the balance as-of
  * the freeze tx's processing point, sql.py:2344-2356), so (serial,
  * kind, idx) is the exact fold order as a SORT KEY. Top-level because
  * whole-stage codegen instantiates it from generated Java.
  */
final case class BalEvent(address: String, propertyId: Long,
    serial: Long, kind: Int, idx: Int, availableDelta: Long,
    reservedDelta: Long, acceptedDelta: Long, frozenDelta: Long,
    freeze: Boolean)

object Balances {

  /** Fast path: final balances = Σ deltas per (address, propertyId). */
  def derive(ledger: Dataset[LedgerEntry]): Dataset[AddressBalance] = {
    val spark = ledger.sparkSession
    import spark.implicits._
    ledger
      .groupBy($"address", $"propertyId")
      .agg(sum($"availableDelta").as("available"),
        sum($"reservedDelta").as("reserved"),
        sum($"acceptedDelta").as("accepted"),
        sum($"frozenDelta").as("frozen"),
        max($"txDbSerialNum").as("lastTxDbSerialNum"))
      .select($"address", $"propertyId", $"available", $"reserved",
        $"accepted", $"frozen", $"lastTxDbSerialNum",
        lit(false).as("frozenFlag"))
      .as[AddressBalance]
  }

  /** Exact path: keys hit by freeze events are folded sequentially;
    * all other keys use the fast aggregate. The union is the complete
    * balance table. The fold is a secondary sort (repartition +
    * sortWithinPartitions + [[GroupRuns]]): per-key state is five
    * longs and a flag — O(1) task memory per key regardless of how
    * long one address's history is.
    */
  def deriveWithFreezes(ledger: Dataset[LedgerEntry],
      freezes: Dataset[FreezeEvent]): Dataset[AddressBalance] = {
    val spark = ledger.sparkSession
    import spark.implicits._

    val frozenKeys = freezes.select($"address", $"propertyId").distinct()
    val hot = ledger.join(frozenKeys, Seq("address", "propertyId"),
      "left_semi").as[LedgerEntry]
    val cold = ledger.join(frozenKeys, Seq("address", "propertyId"),
      "left_anti").as[LedgerEntry]

    val merged = hot.map(e => BalEvent(e.address, e.propertyId,
        e.txDbSerialNum, 0, e.addressTxIndex, e.availableDelta,
        e.reservedDelta, e.acceptedDelta, e.frozenDelta, freeze = false))
      .union(freezes.map(f => BalEvent(f.address, f.propertyId,
        f.txDbSerialNum, 1, 0, 0, 0, 0, 0, f.freeze)))

    foldInFlight(merged).union(derive(cold))
  }

  /** The freeze-fold: in-flight repartition + secondary sort +
    * [[GroupRuns]] — one exchange, no materialization. This is the
    * ONLY fold path: the round-10 bucketed-table variant
    * (GRAFT_BALANCES_BUCKETED) was REMOVED in round 12 after losing
    * its own claimed regime in a measured A/B — one materialized
    * clustering feeding N aligned consumers lost to N in-flight
    * exchanges at N=2 (+41% min-fold, 15M events at 100×) and only
    * reached parity at N=4, a consumer count no engine site has
    * (PERF.md round 12).
    */
  private def foldInFlight(
      merged: Dataset[BalEvent]): Dataset[AddressBalance] = {
    val spark = merged.sparkSession
    import spark.implicits._
    merged
      .repartition($"address", $"propertyId")
      .sortWithinPartitions($"address", $"propertyId", $"serial",
        $"kind", $"idx")
      .mapPartitions { it =>
        new GroupRuns(it.map(e => ((e.address, e.propertyId), e)))
          .map { case ((addr, pid), run) => foldRun(addr, pid, run) }
      }
  }

  /** Sequential fold of one (address, propertyId) event stream —
    * mirrors the reference's row-at-a-time updateBalance with the
    * freeze rules: freeze moves the CURRENT available to frozen
    * (snapshot), credits while frozen land in frozen instead of
    * available, unfreeze returns the frozen pot to available. Single
    * pass over the serial-sorted run; O(1) state.
    */
  private[graft] def foldRun(addr: String, pid: Long,
      events: Iterator[BalEvent]): AddressBalance = {
    var available = 0L; var reserved = 0L; var accepted = 0L
    var frozen = 0L; var isFrozen = false; var last = 0L

    events.foreach { e =>
      if (e.kind == 0) {
        if (isFrozen && e.availableDelta > 0) frozen += e.availableDelta
        else available += e.availableDelta
        reserved += e.reservedDelta
        accepted += e.acceptedDelta
        frozen += e.frozenDelta
        last = math.max(last, e.serial)
      } else {
        if (e.freeze && !isFrozen) {
          frozen += available; available = 0; isFrozen = true
        } else if (!e.freeze && isFrozen) {
          available += frozen; frozen = 0; isFrozen = false
        }
        last = math.max(last, e.serial)
      }
    }
    AddressBalance(addr, pid, available, reserved, accepted, frozen,
      last, isFrozen)
  }

  /** M6 — reset-from-node (reference sql.py:1134-1203
    * resetbalancesfromsnapshot: truncate the derived table, reload the
    * node's authoritative rows, resume deriving on top). Append-only
    * form: the snapshot rows become pseudo ledger entries (carrying the
    * snapshot's own serial), unioned with the post-snapshot ledger, and
    * the fast aggregate runs once — result = snapshot ⊕ Σ(later deltas),
    * regardless of what the pre-snapshot facts said. One shuffle, no
    * mutation, trivially idempotent (M7 backfill re-runs reuse it).
    */
  def resumeFromSnapshot(snapshot: Dataset[AddressBalance],
      ledger: Dataset[LedgerEntry]): Dataset[AddressBalance] = {
    val spark = snapshot.sparkSession
    import spark.implicits._
    val snapEntries = snapshot.map(b => LedgerEntry(b.address, b.propertyId,
      "Snapshot", b.lastTxDbSerialNum, 0, "snapshot", b.available,
      b.reserved, b.accepted, b.frozen))
    derive(snapEntries.union(ledger))
  }

  /** A2 — after-balance snapshots: the same cumulative sum evaluated at
    * every ledger row via a window — one shuffle on (address,
    * propertyId), sort by serial within partitions.
    */
  def afterBalances(ledger: Dataset[LedgerEntry]): org.apache.spark.sql.DataFrame = {
    val spark = ledger.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"address", $"propertyId")
      .orderBy($"txDbSerialNum", $"addressTxIndex")
      .rowsBetween(Window.unboundedPreceding, 0)
    ledger
      .withColumn("afterAvailable", sum($"availableDelta").over(w))
      .withColumn("afterReserved", sum($"reservedDelta").over(w))
      .withColumn("afterAccepted", sum($"acceptedDelta").over(w))
      .withColumn("afterFrozen", sum($"frozenDelta").over(w))
  }
}
