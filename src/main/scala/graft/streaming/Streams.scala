package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The two ways a stream in this package is run: live on an in-memory
  * sink (one long-lived query fed micro-batch by micro-batch), or as one
  * checkpointed `Trigger.AvailableNow` pass (the production file path,
  * restarted per drop).
  */
object Streams {

  /** Start `ds` on the in-memory sink `name` in output `mode`; the rows
    * it emits are readable as the temp view `name`.
    */
  def toMemory(ds: Dataset[_], name: String, mode: String): StreamingQuery =
    ds.writeStream.format("memory").queryName(name).outputMode(mode).start()

  /** Run one `Trigger.AvailableNow` pass of `ds` in output `mode`,
    * checkpointed at `ckpt`, handing each micro-batch to `body`. Returns
    * once the input available at start is consumed; a later pass with
    * the same `ckpt` resumes the source log and the state store.
    */
  def availableNow[T](ds: Dataset[T], ckpt: String, mode: String)(
      body: Dataset[T] => Unit): Unit =
    ds.writeStream
      .foreachBatch { (b: Dataset[T], _: Long) => body(b) }
      .outputMode(mode)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
}
