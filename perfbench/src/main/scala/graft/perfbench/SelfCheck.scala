package graft.perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.operators.OmniPipeline

/** The generator's own checks (`run.py --selfcheck`, at sf0.001):
  *  - the same seed gives byte-identical drops, and two seeds differ;
  *  - the height remap leaves every derived balance unchanged (Spark
  *    side here; `run.py` also compares the remapped balances with the
  *    `e2e_ingest_full` oracle in DuckDB).
  */
object SelfCheck {
  private def drops(s: Gen.Schedule): Map[String, Seq[Byte]] = {
    val d = s.dir.resolve("drops")
    Files.list(d).iterator().asScala.map(p =>
      p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
  }

  def run(ctx: Main.Ctx, feed: Gen.Feed, sfDir: String): Unit = {
    val spark = ctx.spark
    def gen(seed: Long, name: String): Gen.Schedule =
      Gen.ensureSeed(feed, seed, Some(ctx.work.resolve(name)))
    val a = drops(gen(1, "seed-a"))
    val b = drops(gen(1, "seed-b"))
    val c = drops(gen(2, "seed-c"))
    ctx.check("same_seed_identical", a == b && a.nonEmpty,
      s"${a.size} drops, ${a.count { case (k, v) => b.get(k).contains(v) }} identical")
    ctx.check("seeds_differ", a != c, s"seed 1 vs seed 2: ${a.size} vs ${c.size} drops")

    val txs = Gen.rawFeed(spark, sfDir)
    val maxRaw = feed.maxRaw
    def balances(d: OmniPipeline.Derived) =
      d.balances.select(col("address"), col("propertyId"), col("available"),
        col("reserved"), col("accepted"), col("frozen"),
        col("lastTxDbSerialNum").as("last_serial"))
    val plain = Main.evalHash(balances(OmniPipeline.derive(txs, maxRaw)))
    graft.CacheScope.release()
    val remapped = balances(OmniPipeline.derive(Gen.remap(txs, maxRaw),
      Gen.remapFn(maxRaw)(maxRaw)))
    remapped.write.parquet(ctx.work.resolve("balances.parquet").toString)
    val moved = Main.evalHash(remapped)
    graft.CacheScope.release()
    ctx.check("remap_keeps_balances", plain == moved && plain._1 > 0,
      s"raw heights $plain, remapped $moved")
    ctx.attempted = ctx.checks.size
    ctx.failed = ctx.checks.values.count(_.startsWith("FAILED"))
  }
}
