package graft

import org.apache.spark.sql.DataFrame
import graft.queries.{PipelineQueries, Q, StreamingQueries, TextQueries}
import graft.queries.StreamingQueries._

/** The ten streaming gates at sf0.001, against each other and against
  * their batch twins: a MemoryStream replay and its file-source twin
  * share one oracle, so they must return the same rows; so must the
  * KMV and chain gates and the batch queries whose oracles they reuse.
  * Every gate must also clean up after itself: no stream left running,
  * no memory-sink view left in the catalog, and the session's shuffle
  * partition count as it was (the gates pin 8 for their state stores;
  * this suite's session runs with 4).
  */
class StreamingGatesSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .map(_.name).toSet

  /** A header of the column names, then the rows with their columns in
    * name order, rendered and sorted.
    */
  private def rows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq
    cols.mkString(",") +: df.select(cols.head, cols.tail: _*).collect()
      .map(_.toString).sorted.toSeq
  }

  private def run(q: Q): Seq[String] =
    try rows(q.run(spark, dir)) finally CacheScope.release()

  /** Run a streaming gate and check that it left nothing behind. */
  private def runGate(q: Q): Seq[String] = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val views = tempViews()
    val out = run(q)
    assert(spark.streams.active.isEmpty, s"${q.name} left a stream running")
    assert(tempViews() == views, s"${q.name} left a temp view")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts,
      s"${q.name} changed spark.sql.shuffle.partitions")
    assert(out.size > 1, s"${q.name} returned no rows")
    out
  }

  private val pairs: Seq[(Q, Q, Boolean)] = Seq(
    (balancesEquiv, balancesFile, true),
    (sessionsEquiv, sessionsFile, true),
    (txStatsEquiv, txStatsFile, true),
    (kmvEquiv, TextQueries.kmvDistinct, false),
    (chainEquiv, PipelineQueries.e2eIngestChain, false))

  for ((gate, twin, twinStreams) <- pairs)
    test(s"${gate.name} returns the rows of ${twin.name}") {
      val got = runGate(gate)
      val want = if (twinStreams) runGate(twin) else run(twin)
      assert(got == want)
    }

  for (gate <- Seq(dedupEquiv, reorgEquiv))
    test(s"${gate.name} leaves no stream, view or partition change") {
      runGate(gate)
    }

  test("the spec covers every streaming gate") {
    val covered = pairs.flatMap { case (gate, twin, twinStreams) =>
      if (twinStreams) Seq(gate, twin) else Seq(gate)
    } ++ Seq(dedupEquiv, reorgEquiv)
    assert(covered.map(_.name).toSet == StreamingQueries.all.map(_.name).toSet)
  }
}
