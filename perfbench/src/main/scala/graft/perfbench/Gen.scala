package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.model.RawTx
import graft.queries.PipelineQueries
import graft.sinks.BlockRangeSink
import graft.streaming.IncrementalIngest

/** Seeded input generator.
  *
  * Seed-independent part, built once per scale into `<cache>/<sf>/`:
  * the 19-type flagship feed (`PipelineQueries.fullRaw` → `parseTxs`)
  * with heights remapped monotonically onto a mainnet-like span (from
  * Omni's first block 252,317), the two pristine stores, the size
  * of the full feed written once, the `e2e_ingest_full` oracle SQL, and
  * the feed's rows above the lower pristine cut rendered once by Spark's
  * JSON generator (`tail.jsonl`, the rows every drop is cut from).
  *
  * Seed-dependent part, built once per seed into `<cache>/<sf>/seed-<n>/`:
  * the follow schedule (tick boundaries, reorg placement and depth, the
  * perturbed winning-branch payloads) and the refresh tail, each drop a
  * single JSON file of `IncrementalIngest.rawTxSchema` rows.
  */
object Gen {
  val FirstBlock = 252317L
  /** half of mainnet's span to date (to ~920,000): ~330 ranges of 1000
    * blocks, so a `refresh` run affords two warm iterations */
  val LastBlock = 586000L
  /** share of the tx-bearing heights the follow store holds before the
    * first tick */
  val FollowCut = 0.94
  /** the refresh base store ends this many blocks before the tip; the
    * seed then picks the tail start inside that window */
  val RefreshWindow = 2500L
  val MinTail = 200L
  val MaxOps = 400

  final case class Feed(dir: Path, maxRaw: Long, rows: Long,
      heights: Array[Long], cutFollow: Long, cutRefresh: Long,
      fullOnceBytes: Long, tailBlocks: Array[Long], tailJson: Array[String]) {
    def feedDir: Path = dir.resolve("feed")
    def followBase: Path = dir.resolve("follow_base")
    def refreshBase: Path = dir.resolve("refresh_base")
    def tip: Long = heights.last
  }

  /** One scheduled drop. `kind` is tick | reorg | pre | tail; a reorg
    * rolls back to `lo` and re-commits (lo, hi] from its own drop. */
  final case class Op(index: Int, kind: String, lo: Long, hi: Long,
      rows: Long, file: Path)

  final case class Schedule(dir: Path, follow: Seq[Op], pre: Op, tail: Op)

  /** Monotone height remap: a linear stretch onto the mainnet span that
    * keeps distinct heights distinct (never a compression), so tx order
    * — and with it every serial and derived balance — is unchanged. */
  def remapFn(maxRaw: Long): Long => Long = {
    val span = LastBlock - FirstBlock
    if (maxRaw <= 0 || span < maxRaw) (h: Long) => FirstBlock + h
    else (h: Long) => FirstBlock + (BigInt(h) * span / maxRaw).toLong
  }

  def remap(txs: Dataset[RawTx], maxRaw: Long): Dataset[RawTx] = {
    import txs.sparkSession.implicits._
    val f = remapFn(maxRaw)
    txs.map(tx => tx.copy(block = f(tx.block),
      matches = tx.matches.map(m => m.copy(block = f(m.block)))))
  }

  def rawFeed(spark: SparkSession, sfDir: String): Dataset[RawTx] = {
    val (raw, _) = PipelineQueries.fullRaw(spark, sfDir)
    PipelineQueries.parseTxs(spark, raw)
  }

  /** Columns in `rawTxSchema` order — the shape every drop, store read
    * and digest uses. */
  def txCols(df: DataFrame): DataFrame =
    df.select(IncrementalIngest.rawTxSchema.fieldNames.map(col): _*)

  def storeBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
      finally s.close()
    }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** A store's range directories by range number. */
  def rangeDirs(store: Path): Map[Long, Path] = {
    val s = Files.list(store)
    try s.iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("blockRange="))
      .map(p => p.getFileName.toString.stripPrefix("blockRange=").toLong -> p)
      .toMap
    finally s.close()
  }

  /** Two directories hold the same file names with the same bytes. */
  def sameFiles(a: Path, b: Path): Boolean = {
    def files(d: Path) = {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    }
    val fa = files(a)
    fa == files(b) && fa.forall(f => Files.mismatch(a.resolve(f), b.resolve(f)) == -1L)
  }

  /** A store as the follower would have left it: one file per range. */
  def writeStore(df: DataFrame, dir: Path): Unit =
    BlockRangeSink.write(
      df.repartitionByRange(4, col("block")).sortWithinPartitions("block"),
      dir.toString)

  private def readMeta(f: Path): Map[String, String] =
    Files.readAllLines(f).asScala.map(_.split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap

  def ensureFeed(spark: SparkSession, sfDir: String, dir: Path): Feed = {
    val ready = dir.resolve("READY")
    val span = s"span=$FirstBlock-$LastBlock tail.jsonl reorg-gap=2-3"
    if (!Files.exists(ready) || Files.readString(ready) != span) {
      deleteTree(dir)
      Files.createDirectories(dir)
      val txs = rawFeed(spark, sfDir)
      val maxRaw = txs.agg(max("block")).head().getLong(0)
      remap(txs, maxRaw).toDF()
        .repartitionByRange(4, col("block"), col("positioninblock"),
          col("txid"))
        .sortWithinPartitions("block", "positioninblock", "txid")
        .write.parquet(dir.resolve("feed").toString)
      val feed = spark.read.parquet(dir.resolve("feed").toString)
      val heights = feed.select("block").distinct().orderBy("block")
        .collect().map(_.getLong(0))
      Files.write(dir.resolve("heights.txt"),
        heights.map(_.toString).toSeq.asJava)
      val cutF = heights(((heights.length - 1) * FollowCut).toInt)
      val cutR = heights.filter(_ <= heights.last - RefreshWindow).last
      // one line per row: "<block>\t<json>", in (block, position, txid)
      // order
      val tail = txCols(feed).where(col("block") > math.min(cutF, cutR))
        .orderBy("block", "positioninblock", "txid")
        .select(col("block"), to_json(struct(IncrementalIngest.rawTxSchema
          .fieldNames.map(col).toSeq: _*)))
        .collect().map(r => s"${r.getLong(0)}\t${r.getString(1)}")
      Files.write(dir.resolve("tail.jsonl"), tail.toSeq.asJava)
      writeStore(feed.where(col("block") <= cutF), dir.resolve("follow_base"))
      writeStore(feed.where(col("block") <= cutR), dir.resolve("refresh_base"))
      val once = dir.resolve("full_once")
      writeStore(feed, once)
      val onceBytes = storeBytes(once)
      deleteTree(once)
      Files.writeString(dir.resolve("oracle.sql"),
        SparkEntry.oracleSql("e2e_ingest_full"))
      Files.write(dir.resolve("meta.txt"), Seq(
        s"maxRaw=$maxRaw", s"rows=${feed.count()}", s"cutFollow=$cutF",
        s"cutRefresh=$cutR", s"fullOnceBytes=$onceBytes").asJava)
      Files.writeString(ready, span)
    }
    val m = readMeta(dir.resolve("meta.txt"))
    val heights = Files.readAllLines(dir.resolve("heights.txt")).asScala
      .map(_.toLong).toArray
    val tail = Files.readAllLines(dir.resolve("tail.jsonl")).asScala
      .map(_.split("\t", 2)).toArray
    Feed(dir, m("maxRaw").toLong, m("rows").toLong, heights,
      m("cutFollow").toLong, m("cutRefresh").toLong,
      m("fullOnceBytes").toLong, tail.map(_(0).toLong), tail.map(_(1)))
  }

  /** Drop size in blocks: most drops are a small piece of the tail
    * range, some fill it, a few span up to about two ranges. */
  private def dropSize(rng: scala.util.Random): Long = {
    val u = rng.nextDouble()
    if (u < 0.7) 1L + rng.nextInt(300)
    else if (u < 0.9) 300L + rng.nextInt(700)
    else 1000L + rng.nextInt(1000)
  }

  /** first tx height ≥ h, or the tip */
  private def ceilHeight(heights: Array[Long], h: Long): Long = {
    val i = java.util.Arrays.binarySearch(heights, h)
    val j = if (i >= 0) i else -i - 1
    if (j < heights.length) heights(j) else heights.last
  }

  def plan(feed: Feed, seed: Long): (Seq[(Int, String, Long, Long)],
      (Long, Long), (Long, Long)) = {
    val rng = new scala.util.Random(seed)
    val ops = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
    var pos = feed.cutFollow
    var sinceReorg = 0
    var gap = 2 + rng.nextInt(2)
    while (pos < feed.tip && ops.size < MaxOps) {
      val hi = ceilHeight(feed.heights, pos + dropSize(rng))
      ops += ((ops.size, "tick", pos, hi))
      pos = hi
      sinceReorg += 1
      // a reorg after every 2 or 3 ticks, so a short run has two
      if (sinceReorg == gap) {
        gap = 2 + rng.nextInt(2)
        val depth = 1 + rng.nextInt(10)
        ops += ((ops.size, "reorg", hi - depth, hi))
        sinceReorg = 0
      }
    }
    val cands = feed.heights.filter(h =>
      h > feed.cutRefresh && h <= feed.tip - MinTail)
    val t = if (cands.isEmpty) feed.cutRefresh else cands(rng.nextInt(cands.length))
    (ops.toSeq, (feed.cutRefresh, t), (t, feed.tip))
  }

  /** The winning branch of a reorg: the same row with a perturbed
    * payload — `txid` suffixed with the op, `amount` plus one. Both are
    * top-level fields ahead of every nested one, so the first match is
    * theirs; a row without an amount keeps it null. */
  private val TxidField = "\"txid\":\"([^\"]*)\"".r
  private val AmountField = "\"amount\":([-0-9.Ee+]+)".r
  def perturb(json: String, op: String): String = {
    val t = TxidField.findFirstMatchIn(json).get
    val s = json.substring(0, t.start(1)) + t.group(1) + "~w" + op +
      json.substring(t.end(1))
    val nested = s.indexOf("\"totalstofee\":")
    AmountField.findFirstMatchIn(s).filter(m => nested < 0 || m.start < nested)
      .fold(s) { m =>
        val v = new java.math.BigDecimal(m.group(1)).add(java.math.BigDecimal.ONE)
        s.substring(0, m.start(1)) + v.toPlainString + s.substring(m.end(1))
      }
  }

  /** index of the first tail row above height h */
  private def firstAbove(blocks: Array[Long], h: Long): Int = {
    var lo = 0
    var hi = blocks.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (blocks(mid) <= h) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** The seed's drops, one file each, cut from the cached tail rows.
    * They are derived again on every call and compared with the cached
    * files, which checks that the seed alone determines its inputs. */
  def ensureSeed(feed: Feed, seed: Long, at: Option[Path] = None): Schedule = {
    val dir = at.getOrElse(feed.dir.resolve(s"seed-$seed"))
    val drops = dir.resolve("drops")
    val ready = dir.resolve("READY")
    val (planned, pre, tail) = plan(feed, seed)
    val named = planned.map { case (i, kind, lo, hi) => (f"$i%04d", kind, lo, hi) } ++
      Seq(("pre", "pre", pre._1, pre._2), ("tail", "tail", tail._1, tail._2))
    val rendered = named.map { case (name, kind, lo, hi) =>
      val rows = feed.tailJson.slice(firstAbove(feed.tailBlocks, lo),
        firstAbove(feed.tailBlocks, hi)).toSeq
      name -> (if (kind == "reorg") rows.map(perturb(_, name)) else rows)
    }.toMap
    val lines = named.map { case (name, kind, lo, hi) =>
      s"$name $kind $lo $hi ${rendered.getOrElse(name, Nil).size}"
    }
    if (Files.exists(ready)) {
      val same = Files.readAllLines(dir.resolve("ops.txt")).asScala == lines &&
        named.forall { case (name, _, _, _) =>
          Files.readAllLines(drops.resolve(s"$name.json")).asScala ==
            rendered.getOrElse(name, Nil)
        }
      require(same, s"cached drops of seed $seed differ from a fresh derivation")
    } else {
      deleteTree(dir)
      Files.createDirectories(drops)
      named.foreach { case (name, _, _, _) =>
        Files.write(drops.resolve(s"$name.json"),
          rendered.getOrElse(name, Nil).asJava)
      }
      Files.write(dir.resolve("ops.txt"), lines.asJava)
      Files.writeString(ready, "")
    }
    val ops = lines.map { l =>
      val Array(name, kind, lo, hi, rows) = l.split(' ')
      Op(if (name.forall(_.isDigit)) name.toInt else -1, kind, lo.toLong,
        hi.toLong, rows.toLong, drops.resolve(s"$name.json"))
    }
    Schedule(dir, ops.filter(o => o.kind == "tick" || o.kind == "reorg").toSeq,
      ops.find(_.kind == "pre").get, ops.find(_.kind == "tail").get)
  }
}
