package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.DecimalType

/** One driver-checkable query: a Spark program plus (optionally) the
  * equivalent ANSI SQL for the DuckDB oracle. `oracle == None` → the
  * driver records a weaker rows-only check (used for ops whose semantics
  * DuckDB can't express, e.g. approximate ANN).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracleSql: String)(
      run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, Some(oracleSql))

  /** Cross-engine-safe decimal cast for INTERMEDIATE math only (DuckDB
    * and Spark agree on double→decimal rounding off ties; 4 fractional
    * digits keep the 2-dp synthetic money values exact). Final output
    * projections must be scaled BIGINT, never DECIMAL — the driver's
    * cross-engine hash normalizes decimal rendering differently per
    * engine, so value-equal DECIMAL columns still hash-mismatch.
    */
  def dec(c: Column): Column = c.cast(DecimalType(20, 4))

  /** Signed ledger delta over the events table in exact integer cents
    * (the 2-dp synthetic money values scale losslessly ×100): purchases
    * debit, everything else credits — the double-entry convention every
    * balance query shares. One definition so the money scaling can
    * never diverge between queries.
    */
  def deltaCents: Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    when(col("event_type") === "purchase",
      -round(col("value") * 100).cast(LongType))
      .otherwise(round(col("value") * 100).cast(LongType))
  }
}
