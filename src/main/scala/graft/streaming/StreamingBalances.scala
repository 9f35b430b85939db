package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import graft.model.{AddressBalance, LedgerEntry}

/** Structured Streaming balance maintenance — the §2.9 micro-batch
  * semantics of the reference (one block ≈ one micro-batch, resume from
  * watermark) mapped onto `mapGroupsWithState`.
  *
  * The batch path ([[graft.operators.Balances.derive]]) recomputes from
  * all facts; this path maintains the same state incrementally: per
  * (address, propertyId) the running 4-tuple of balances is the group
  * state, each micro-batch folds its new ledger rows in serial order,
  * and the emitted rows are the updated balances — exactly the
  * reference's per-block `updateBalance` cadence, minus the mutation.
  * Determinism: fold order inside a batch is (serial, addressTxIndex);
  * cross-batch order is guaranteed by the source's block ordering
  * (blocks are ingested in order, as in the reference's main loop).
  */
object StreamingBalances {

  final case class BalState(available: Long, reserved: Long,
      accepted: Long, frozen: Long, lastSerial: Long)

  def updates(ledger: Dataset[LedgerEntry]): Dataset[AddressBalance] = {
    val spark = ledger.sparkSession
    import spark.implicits._
    ledger
      .groupByKey(e => (e.address, e.propertyId))
      .mapGroupsWithState[BalState, AddressBalance](
        GroupStateTimeout.NoTimeout) {
        case ((addr, pid), events, state: GroupState[BalState]) =>
          val prev = state.getOption.getOrElse(BalState(0, 0, 0, 0, 0))
          val next = events.toSeq
            .sortBy(e => (e.txDbSerialNum, e.addressTxIndex))
            .foldLeft(prev) { (st, e) =>
              BalState(st.available + e.availableDelta,
                st.reserved + e.reservedDelta,
                st.accepted + e.acceptedDelta,
                st.frozen + e.frozenDelta,
                math.max(st.lastSerial, e.txDbSerialNum))
            }
          state.update(next)
          AddressBalance(addr, pid, next.available, next.reserved,
            next.accepted, next.frozen, next.lastSerial)
      }
  }
}
