package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables.t

/** Deduplication operators for a training-data pipeline: exact dedup,
  * n-gram Jaccard, MinHash+LSH, SimHash. The synthetic corpus has no
  * natural duplicates, so each query PLANTS deterministic near/exact
  * duplicates (same construction on both engines) and must find exactly
  * them — a self-checking oracle.
  *
  * Everything is integer/hash math (md5-derived 60-bit hashes, integer
  * Jaccard-millis), so results are exact and evaluation-order-free at
  * any parallelism. At 100 TB the shapes hold: shingle explode is a
  * map-side flatMap, minhash is a map-side-combinable min-agg keyed by
  * doc, banding turns the quadratic pair problem into an equi-join on
  * (band, signature) — the only shuffle keys.
  */
object DedupQueries {

  /** 60-bit deterministic hash from md5 — identical in Spark and DuckDB
    * (('0x'||hex)::BIGINT). The Spark side is the native codegen'd
    * [[graft.functions.Hash60]] (digest→long, no hex string/substring/
    * base-16 parse — this hash runs once per shingle/token, the
    * dominant scalar cost of minhash and simhash); bit-equality with
    * the composable conv(substring(md5)) spelling is pinned in
    * `Hash60Spec`, so the oracle keeps the portable form.
    */
  private def h60(e: String): String = s"graft_hash60($e)"
  private def dh60(e: String): String =
    s"(('0x' || substr(md5($e), 1, 15))::BIGINT)"

  /** MinHash permutation family: ONE md5 per shingle, then 8 independent
    * affine bijections (a·h+b mod p, p = 2^31−1 prime, a ≠ 0) — proper
    * pairwise-independent universal hashing, so per-permutation minima
    * stay uncorrelated (unlike the h1+k·h2 shortcut, which correlates
    * minima and explodes the candidate set — measured and rejected in
    * round 1). Cuts the query's dominant cost, the digest work, 8×.
    * a·h < 2^62 so the BIGINT math is exact in both engines.
    */
  private object MinHashPerm {
    val a = Array(1103515245L, 1299709L, 15485863L, 32452843L,
      49979687L, 67867967L, 86028157L, 104395301L)
    val b = Array(12345L, 67890L, 111111L, 999983L,
      777777L, 31415926L, 2718281L, 16180339L)
  }

  /** Planted corpus: originals + near-dups (first token dropped,
    * +100000) + exact dups (every 10th doc, +200000).
    */
  private def corpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"),
      lower(col("text")).as("text"))
    d.unionAll(d.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      .unionAll(d.select((col("doc_id") + 100000).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text")))
  }

  private val corpusSql =
    """corpus AS (
      |  SELECT doc_id, lower(text) AS text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000, lower(text) FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 100000, substr(lower(text), position(' ' IN text) + 1)
      |  FROM documents)""".stripMargin

  /** MinHash corpus: the planted corpus above PLUS cross-encoding
    * duplicate pairs, NFC-normalized first (round-8 verdict ask #2 —
    * normalize before EVERY content hash). For every 10th doc
    * (doc_id % 10 = 3) two twins are planted whose every token carries
    * an accent marker: +300000 precomposed (U+00E9), +400000 the
    * byte-distinct decomposed spelling (e + U+0301) of the SAME
    * visible text. Without the normalize-first stage the twins share
    * ZERO shingles (every shingle contains marker tokens) and the pair
    * is invisible even to banding; with it they are exact duplicates
    * (jac_millis = 1000) — so the planted pairs exist in the output
    * only because the NFC pass ran, in both engines. The normalize
    * runs once per document before shingling (ASCII majority takes
    * [[graft.functions.NfcNormalize]]'s allocation-free fast path).
    */
  private def corpusNfc(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val marked = t(s, dir, "documents")
      .select(col("doc_id"), lower(col("text")).as("text"))
      .where(col("doc_id") % 10 === 3)
    corpus(s, dir)
      .unionAll(marked.select((col("doc_id") + 300000).as("doc_id"),
        regexp_replace(col("text"), " ", "\u00e9 ").as("text")))
      .unionAll(marked.select((col("doc_id") + 400000).as("doc_id"),
        regexp_replace(col("text"), " ", "e\u0301 ").as("text")))
      .select(col("doc_id"), expr("graft_nfc(text)").as("text"))
  }

  private val corpusNfcSql =
    s"""corpus AS (
      |  SELECT doc_id, nfc_normalize(text) AS text FROM (
      |    SELECT doc_id, lower(text) AS text FROM documents
      |    UNION ALL
      |    SELECT doc_id + 200000, lower(text) FROM documents WHERE doc_id % 10 = 0
      |    UNION ALL
      |    SELECT doc_id + 100000, substr(lower(text), position(' ' IN text) + 1)
      |    FROM documents
      |    UNION ALL
      |    SELECT doc_id + 300000, replace(lower(text), ' ', '\u00e9 ')
      |    FROM documents WHERE doc_id % 10 = 3
      |    UNION ALL
      |    SELECT doc_id + 400000, replace(lower(text), ' ', 'e\u0301 ')
      |    FROM documents WHERE doc_id % 10 = 3))""".stripMargin

  /** Exact dedup: hash-groupBy on normalized content, keep the lowest
    * id. One shuffle on the 128-bit content hash; at 100 TB this is the
    * standard first pass (map-side combine shrinks each partition to its
    * distinct hashes before the exchange).
    */
  val exact = Q(
    "dedup_exact",
    s"""WITH $corpusSql
      |SELECT md5(trim(text)) AS content_hash, min(doc_id) AS keeper,
      |  count(*) AS n_copies
      |FROM corpus GROUP BY 1 HAVING count(*) > 1
      |ORDER BY content_hash""".stripMargin) { (s, dir) =>
    corpus(s, dir)
      .groupBy(md5(trim(col("text"))).as("content_hash"))
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
      .where(col("n_copies") > 1)
      .orderBy("content_hash")
  }

  // Word-3-gram shingling (docs with ≥3 tokens).
  private val shingleSparkExpr =
    """array_distinct(transform(sequence(1, size(arr) - 2),
      |  i -> concat_ws(' ', element_at(arr, i), element_at(arr, i + 1),
      |                 element_at(arr, i + 2))))""".stripMargin
  /** Raw shingle stream, un-cached — the LSH pipelines immediately
    * hash it and never touch the strings again (see minhashLsh).
    */
  private def shingledFresh(c: DataFrame): DataFrame =
    c.withColumn("arr", split(col("text"), " "))
      .where(size(col("arr")) >= 3)
      .select(col("doc_id"),
        explode(expr(shingleSparkExpr)).as("shingle"))

  // reused 4× downstream on a BOUNDED id range (harness guard) —
  // persist so the explode runs once
  private def shingled(c: DataFrame): DataFrame =
    shingledFresh(c).transform(graft.CacheScope.persist)

  private val shingledSql =
    """arrs AS (SELECT doc_id, string_split(text, ' ') AS arr FROM corpus
      |         WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |         range(1, len(arr) - 1),
      |         i -> arr[CAST(i AS INT)] || ' ' ||
      |           arr[CAST(i + 1 AS INT)] || ' ' ||
      |           arr[CAST(i + 2 AS INT)]))) AS shingle
      |       FROM arrs)""".stripMargin
  // NOTE: no line above may START with '||' — these fragments are
  // re-interpolated into outer stripMargin strings, which would eat the
  // first '|' as a margin.

  /** Scored Jaccard pairs (jac_millis ≥ 200) on the bounded id range —
    * shared by the pair query and the cluster query. SQL twin:
    * [[jaccardPairsSql]].
    */
  private def jaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val sh = shingled(corpus(s, dir).where(col("doc_id") % 100000 < 100))
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val sa = sh.toDF("id_a", "shingle")
    val sb = sh.toDF("id_b", "shingle_b")
    val shared = sa
      .join(sb, col("shingle") === col("shingle_b") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
    shared
      .join(cnt.toDF("id_a2", "na"), col("id_a") === col("id_a2"))
      .join(cnt.toDF("id_b2", "nb"), col("id_b") === col("id_b2"))
      .withColumn("jac_millis",
        expr("(1000 * shared) div (na + nb - shared)").cast(LongType))
      .where(col("jac_millis") >= 200)
  }

  private val jaccardPairsSql =
    s"""small AS (SELECT * FROM corpus WHERE doc_id % 100000 < 100),
      |${shingledSql.replace("FROM corpus", "FROM small")},
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |shared AS (
      |  SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, count(*) AS shared
      |  FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT s.id_a, s.id_b, s.shared, ca.n AS na, cb.n AS nb,
      |    CAST((1000 * s.shared) // (ca.n + cb.n - s.shared) AS BIGINT) AS jac_millis
      |  FROM shared s
      |  JOIN cnt ca ON ca.doc_id = s.id_a
      |  JOIN cnt cb ON cb.doc_id = s.id_b
      |  WHERE (1000 * s.shared) // (ca.n + cb.n - s.shared) >= 200)""".stripMargin

  /** n-gram Jaccard near-dup detection on a bounded id range: exact
    * set-overlap via shingle equi-join (shared) + per-doc counts.
    * jac_millis = 1000·|A∩B| / |A∪B| in integer math.
    */
  val jaccard = Q(
    "dedup_ngram_jaccard",
    s"""WITH $corpusSql,
      |$jaccardPairsSql
      |SELECT id_a, id_b, shared, na, nb, jac_millis FROM pairs
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    jaccardPairs(s, dir)
      .select("id_a", "id_b", "shared", "na", "nb", "jac_millis")
      .orderBy("id_a", "id_b")
  }

  /** Near-dup PAIRS → duplicate CLUSTERS: connected components over the
    * Jaccard pair graph (iterative min-label propagation,
    * [[graft.operators.DedupClusters]]), oracle'd by a DuckDB recursive
    * CTE computing min reachable node. This is the form a curation
    * pipeline consumes — "keep min doc per component".
    */
  val clusters = Q(
    "dedup_clusters",
    s"""WITH RECURSIVE $corpusSql,
      |$jaccardPairsSql,
      |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |        UNION ALL SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT DISTINCT src AS node, src AS label FROM sym
      |  UNION
      |  SELECT s.src, r.label FROM sym s JOIN reach r ON r.node = s.dst)
      |SELECT node, min(label) AS component FROM reach GROUP BY node
      |ORDER BY node""".stripMargin) { (s, dir) =>
    graft.operators.DedupClusters
      .connectedComponents(jaccardPairs(s, dir).select("id_a", "id_b"))
      .orderBy("node")
  }

  /** MinHash + LSH near-dup detection, the 100-TB-scale path:
    * shingle → 8 minhash permutations per doc → 4 bands of 2 →
    * candidate pairs via equi-join on (band, signature) → Jaccard
    * verify on candidates only, in 60-BIT HASH SPACE: the raw shingle
    * strings are hashed once at the source and never cached, shuffled
    * or joined again (strings were the measured 1000×-probe scratch
    * hog; the (doc_id, h) long pairs are ~4× smaller, and both engines
    * compute the identical digest, so hash-space Jaccard is exactly
    * defined cross-engine). No quadratic stage anywhere: the join key
    * is the band signature, and verification touches only banded
    * candidates (semi-joined hash set).
    *
    * Permutation family: ONE md5-derived 60-bit hash per shingle,
    * reduced mod p = 2³¹−1, then 8 affine bijections (see
    * [[MinHashPerm]]) — pairwise-independent, so minima stay
    * uncorrelated, at an eighth of the digest cost of the round-1
    * per-prefix-md5 scheme. (Rejected alternatives, both measured: a
    * linear h1+k·h2 scheme correlates the minima and explodes the
    * candidate set; md5∥sha256 slices bench slower cold than md5.)
    */
  val minhashLsh = Q(
    "dedup_minhash_lsh",
    s"""WITH $corpusNfcSql,
      |$shingledSql,
      |hh AS MATERIALIZED (SELECT doc_id, ${dh60("shingle")} AS h FROM sh),
      |hp AS (SELECT doc_id, h % 2147483647 AS h31 FROM hh),
      |mh AS MATERIALIZED (SELECT doc_id,
      |${(0 until 8).map(k =>
        s"  min((${MinHashPerm.a(k)} * h31 + ${MinHashPerm.b(k)}) % 2147483647) AS mh$k")
        .mkString(",\n")}
      |FROM hp GROUP BY doc_id),
      |bands AS MATERIALIZED (
      |${(0 until 4).map(b =>
        s"  SELECT doc_id, $b AS band, md5(CAST(mh${2 * b} AS VARCHAR) || ',' || CAST(mh${2 * b + 1} AS VARCHAR)) AS sig FROM mh")
        .mkString("\n  UNION ALL\n")}),
      |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
      |cnt AS MATERIALIZED (SELECT doc_id, count(DISTINCT h) AS n
      |  FROM hh GROUP BY doc_id),
      |cids AS (SELECT id_a AS cid FROM cand UNION SELECT id_b FROM cand),
      |shc AS MATERIALIZED (SELECT DISTINCT doc_id, h FROM hh
      |        WHERE doc_id IN (SELECT cid FROM cids)),
      |shared AS (
      |  SELECT c.id_a, c.id_b, count(*) AS shared
      |  FROM cand c
      |  JOIN shc sa ON sa.doc_id = c.id_a
      |  JOIN shc sb ON sb.doc_id = c.id_b AND sb.h = sa.h
      |  GROUP BY 1, 2)
      |SELECT s.id_a, s.id_b, s.shared, ca.n AS na, cb.n AS nb,
      |  CAST((1000 * s.shared) // (ca.n + cb.n - s.shared) AS BIGINT) AS jac_millis
      |FROM shared s
      |JOIN cnt ca ON ca.doc_id = s.id_a
      |JOIN cnt cb ON cb.doc_id = s.id_b
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    // Hash each shingle ONCE into a 60-bit long; everything downstream
    // — the minhash permutations, the per-doc counts, the exact verify
    // join — runs in HASH space. The (doc_id, h) long pairs are what
    // the pipeline caches and shuffles: ~4x smaller rows than the raw
    // strings (the measured 1000x scratch hog), and both engines
    // compute the identical md5-derived digest, so the hash-space
    // Jaccard is exactly defined cross-engine. MEMORY_ONLY: cached
    // while it fits, recomputed under pressure, never competing with
    // the band join's shuffles for scratch disk.
    val hashed = graft.CacheScope.persistAt(
      shingledFresh(corpusNfc(s, dir))
        .select(col("doc_id"), expr(h60("shingle")).as("h")),
      org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val hp = hashed.select(col("doc_id"), (col("h") % 2147483647L).as("h31"))
    def perm(k: Int) =
      (lit(MinHashPerm.a(k)) * col("h31") + lit(MinHashPerm.b(k))) % 2147483647L
    val mh = hp.groupBy("doc_id")
      .agg(min(perm(0)).as("mh0"),
        (1 until 8).map(k => min(perm(k)).as(s"mh$k")): _*)
      .transform(graft.CacheScope.persist)
    // EAGER: the band table sits on BOTH sides of the candidate
    // self-join, so without a materialized mh the whole
    // shingle→8×md5→min-agg pipeline (the query's dominant cost) is
    // recomputed once per side. One count() runs it exactly once.
    mh.count()
    val bands = (0 until 4).map { b =>
      mh.select(col("doc_id"), lit(b).as("band"),
        md5(concat_ws(",", col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")))
          .as("sig"))
    }.reduce(_ unionAll _)
    val cand = bands.toDF("id_a", "band", "sig")
      .join(bands.toDF("id_b", "band_b", "sig_b"),
        col("band") === col("band_b") && col("sig") === col("sig_b") &&
          col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .transform(graft.CacheScope.persist)
    // EAGER materialization: lazy persist does not deduplicate the three
    // downstream consumers' CONCURRENT stages — they would race and each
    // recompute the band pipeline. One count() fills both the cand and
    // (transitively) the sh cache in a single pass.
    cand.count()
    // DISTINCT h, matching the DISTINCT intersection (`shared`) below:
    // jac_millis is then true hash-space SET Jaccard. Shingles are
    // already array_distinct per doc, so this only diverges on a
    // within-doc digest collision — but at corpus scale those happen,
    // and a multiset denominator would understate similarity.
    val cnt = hashed.groupBy("doc_id").agg(countDistinct("h").as("n"))
    // shrink the verify join to candidate docs' hashes only
    val cids = cand.select(col("id_a").as("cid"))
      .union(cand.select(col("id_b"))).distinct()
    // DISTINCT per (doc_id, h): a duplicate shingle (or a within-doc
    // digest collision) would otherwise double-count in the multiset
    // verify join below. Candidate docs only — this never touches the
    // full corpus, so the dedup exchange is candidate-sized.
    val shc = hashed.join(cids, col("doc_id") === col("cid"), "left_semi")
      .distinct()
    val shared = cand
      .join(shc.toDF("sa_doc", "h"), col("id_a") === col("sa_doc"))
      .join(shc.toDF("sb_doc", "h_b"),
        col("id_b") === col("sb_doc") && col("h") === col("h_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
    shared
      .join(cnt.toDF("id_a2", "na"), col("id_a") === col("id_a2"))
      .join(cnt.toDF("id_b2", "nb"), col("id_b") === col("id_b2"))
      .select(col("id_a"), col("id_b"), col("shared"), col("na"), col("nb"),
        expr("(1000 * shared) div (na + nb - shared)").cast(LongType)
          .as("jac_millis"))
      .orderBy("id_a", "id_b")
  }

  /** SimHash near-dup detection: 32-bit simhash (per-bit ±1 vote over
    * token hashes), candidate blocking on the top 16 bits, Hamming ≤ 3
    * confirm via bit_count(xor). One explode + one group-by per doc;
    * the pair stage joins only within blocks, never all-pairs.
    */
  val simhash: Q = {
    val duckBitSums = (0 until 32)
      .map(b => s"  CAST(sum(CASE WHEN (th >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s$b")
      .mkString(",\n")
    val duckAssemble = (0 until 32)
      .map(b => s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    Q(
      "dedup_simhash",
      s"""WITH $corpusSql,
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |        FROM corpus),
        |th AS (SELECT doc_id, ${dh60("token")} AS th FROM tok),
        |bits AS (SELECT doc_id,
        |$duckBitSums
        |FROM th GROUP BY doc_id),
        |sig AS (SELECT doc_id, CAST($duckAssemble AS BIGINT) AS simhash
        |        FROM bits)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash AS sim_a,
        |  b.simhash AS sim_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b
        |  ON (a.simhash >> 16) = (b.simhash >> 16) AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val tok = corpus(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .withColumn("th", expr(h60("token")))
      val bitSums = (0 until 32).map(b =>
        sum(when(expr(s"(th >> $b) & 1") === 1, 1).otherwise(-1))
          .cast(LongType).as(s"s$b"))
      val bits = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      val assemble = (0 until 32)
        .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _)
      val sig = bits.select(col("doc_id"), assemble.cast(LongType).as("simhash"))
      val a = sig.toDF("id_a", "sim_a")
      val b = sig.toDF("id_b", "sim_b")
      a.join(b, expr("(sim_a >> 16) = (sim_b >> 16)") && col("id_a") < col("id_b"))
        .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)").cast(LongType))
        .where(col("hamming") <= 3)
        .select("id_a", "id_b", "sim_a", "sim_b", "hamming")
        .orderBy("id_a", "id_b")
    }
  }

  /** Retention mapping — the step that turns dup DETECTION into a
    * corpus FILTER: every doc maps to its cluster's canonical (min id)
    * or to itself if unclustered, with a keep/drop flag. Downstream
    * training jobs anti-join on keep=0 (and can re-point references at
    * the canonical). The components table is cluster-members-sized —
    * tiny next to the corpus — so the mapping join broadcasts at scale.
    */
  val retention = Q(
    "dedup_retention",
    s"""WITH RECURSIVE $corpusSql,
      |$jaccardPairsSql,
      |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |        UNION ALL SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT DISTINCT src AS node, src AS label FROM sym
      |  UNION
      |  SELECT s.src, r.label FROM sym s JOIN reach r ON r.node = s.dst),
      |comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node)
      |SELECT c.doc_id, coalesce(k.component, c.doc_id) AS canonical,
      |  CAST(CASE WHEN coalesce(k.component, c.doc_id) = c.doc_id
      |    THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM corpus c LEFT JOIN comp k ON k.node = c.doc_id
      |ORDER BY c.doc_id""".stripMargin) { (s, dir) =>
    val comp = graft.operators.DedupClusters
      .connectedComponents(jaccardPairs(s, dir).select("id_a", "id_b"))
    corpus(s, dir)
      .join(broadcast(comp), col("node") === col("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("canonical"),
        when(coalesce(col("component"), col("doc_id")) === col("doc_id"), 1L)
          .otherwise(0L).as("keep"))
      .orderBy("doc_id")
  }

  /** Incremental dedup — the daily-ingest shape: dedupe TODAY'S BATCH
    * against the existing corpus without touching corpus×corpus pairs.
    * The planted copies (doc_id ≥ 100000) play the new batch; originals
    * are the standing corpus. Same banded-minhash machinery as
    * [[minhashLsh]], but the candidate join is new-bands × old-bands
    * only — at production scale the new side is days smaller than the
    * corpus, so the join probes the corpus band table (bucketed/kept
    * partitioned across runs) instead of re-pairing the world, and cost
    * scales with the BATCH, not the corpus. Output: each new doc's
    * matched corpus doc at Jaccard ≥ 500‰.
    */
  val incremental = Q(
    "dedup_incremental",
    s"""WITH $corpusSql,
      |$shingledSql,
      |hh AS MATERIALIZED (SELECT doc_id, ${dh60("shingle")} AS h FROM sh),
      |hp AS (SELECT doc_id, h % 2147483647 AS h31 FROM hh),
      |mh AS MATERIALIZED (SELECT doc_id,
      |${(0 until 8).map(k =>
        s"  min((${MinHashPerm.a(k)} * h31 + ${MinHashPerm.b(k)}) % 2147483647) AS mh$k")
        .mkString(",\n")}
      |FROM hp GROUP BY doc_id),
      |bands AS MATERIALIZED (
      |${(0 until 4).map(b =>
        s"  SELECT doc_id, $b AS band, md5(CAST(mh${2 * b} AS VARCHAR) || ',' || CAST(mh${2 * b + 1} AS VARCHAR)) AS sig FROM mh")
        .mkString("\n  UNION ALL\n")}),
      |cand AS MATERIALIZED (SELECT DISTINCT n.doc_id AS new_id,
      |    o.doc_id AS old_id
      |  FROM bands n JOIN bands o
      |    ON n.band = o.band AND n.sig = o.sig
      |   AND n.doc_id >= 100000 AND o.doc_id < 100000),
      |cnt AS MATERIALIZED (SELECT doc_id, count(*) AS n
      |  FROM hh GROUP BY doc_id),
      |shared AS (
      |  SELECT c.new_id, c.old_id, count(*) AS shared
      |  FROM cand c
      |  JOIN hh sa ON sa.doc_id = c.new_id
      |  JOIN hh sb ON sb.doc_id = c.old_id AND sb.h = sa.h
      |  GROUP BY 1, 2)
      |SELECT s.new_id, s.old_id,
      |  CAST((1000 * s.shared) // (ca.n + cb.n - s.shared) AS BIGINT) AS jac_millis
      |FROM shared s
      |JOIN cnt ca ON ca.doc_id = s.new_id
      |JOIN cnt cb ON cb.doc_id = s.old_id
      |WHERE (1000 * s.shared) // (ca.n + cb.n - s.shared) >= 500
      |ORDER BY new_id, old_id""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    // hash-space pipeline, MEMORY_ONLY — same scratch-bounding shape
    // and cross-engine-exactness argument as minhashLsh
    val hashed = graft.CacheScope.persistAt(
      shingledFresh(corpus(s, dir))
        .select(col("doc_id"), expr(h60("shingle")).as("h")),
      org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val hp = hashed.select(col("doc_id"), (col("h") % 2147483647L).as("h31"))
    def perm(k: Int) =
      (lit(MinHashPerm.a(k)) * col("h31") + lit(MinHashPerm.b(k))) % 2147483647L
    val mh = hp.groupBy("doc_id")
      .agg(min(perm(0)).as("mh0"),
        (1 until 8).map(k => min(perm(k)).as(s"mh$k")): _*)
      .transform(graft.CacheScope.persist)
    mh.count() // eager: band table feeds both join sides (see minhashLsh)
    val bands = (0 until 4).map { b =>
      mh.select(col("doc_id"), lit(b).as("band"),
        md5(concat_ws(",", col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")))
          .as("sig"))
    }.reduce(_ unionAll _)
    val cand = bands.toDF("new_id", "band", "sig")
      .where(col("new_id") >= 100000L)
      .join(bands.toDF("old_id", "band_b", "sig_b")
          .where(col("old_id") < 100000L),
        col("band") === col("band_b") && col("sig") === col("sig_b"))
      .select("new_id", "old_id").distinct()
      .transform(graft.CacheScope.persist)
    cand.count() // eager: shared by the verify join's three consumers
    val cnt = hashed.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val shared = cand
      .join(hashed.toDF("sa_doc", "h"), col("new_id") === col("sa_doc"))
      .join(hashed.toDF("sb_doc", "h_b"),
        col("old_id") === col("sb_doc") && col("h") === col("h_b"))
      .groupBy("new_id", "old_id").agg(count(lit(1)).as("shared"))
    shared
      .join(cnt.toDF("na_doc", "na"), col("new_id") === col("na_doc"))
      .join(cnt.toDF("nb_doc", "nb"), col("old_id") === col("nb_doc"))
      .select(col("new_id"), col("old_id"),
        expr("(1000 * shared) div (na + nb - shared)").cast(LongType)
          .as("jac_millis"))
      .where(col("jac_millis") >= 500)
      .orderBy("new_id", "old_id")
  }

  /** Exact dedup UNDER NFC normalization — the composition that makes
    * [[graft.functions.NfcNormalize]] load-bearing: every document is
    * planted twice, once with a precomposed suffix (U+00E9/U+00F6) and
    * once with the byte-distinct decomposed spelling (e+U+0301,
    * o+U+0308) of the SAME visible text. Raw md5 sees 2N distinct
    * contents (zero duplicate groups — the cross-encoding pair is
    * invisible to it); md5∘NFC collapses each pair, and the
    * first-occurrence keeper is the precomposed copy by id order. The
    * per-language counts pin all three facts at once. Map-side until
    * the (lang, hash) aggregate — the same scale shape as dedup_exact.
    */
  val exactNormalized = Q(
    "dedup_exact_normalized",
    """WITH base AS (
      |  SELECT doc_id, lang, text || 'éö' AS t FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000000, lang, text || 'éö' FROM documents),
      |n AS (SELECT doc_id, lang, md5(t) AS hraw,
      |    md5(nfc_normalize(t)) AS hn FROM base),
      |k AS (SELECT lang, hn, CAST(min(doc_id) AS BIGINT) AS keeper,
      |    count(*) AS n_copies
      |  FROM n GROUP BY 1, 2)
      |SELECT lang,
      |  (SELECT count(*) FROM n n2 WHERE n2.lang = k.lang) AS n_rows,
      |  (SELECT count(DISTINCT hraw) FROM n n3 WHERE n3.lang = k.lang)
      |    AS distinct_raw,
      |  count(*) AS distinct_norm,
      |  CAST(bit_xor(keeper) AS BIGINT) AS keeper_id_xor,
      |  CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_groups
      |FROM k GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    val docs = t(s, dir, "documents")
    val base = docs
      .select(col("doc_id"), col("lang"),
        concat(col("text"), lit("\u00e9\u00f6")).as("t"))
      .unionByName(docs.select((col("doc_id") + 1000000000L).as("doc_id"),
        col("lang"),
        concat(col("text"), lit("e\u0301o\u0308")).as("t")))
    val n = base.select(col("doc_id"), col("lang"),
      md5(col("t")).as("hraw"), md5(expr("graft_nfc(t)")).as("hn"))
      .transform(graft.CacheScope.persist)
    val perLang = n.groupBy("lang")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct("hraw").as("distinct_raw"))
    n.groupBy(col("lang"), col("hn"))
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
      .groupBy("lang")
      .agg(count(lit(1)).as("distinct_norm"),
        // bit_xor, not sum: keeper ids at the 100x sweep's shifted-key
        // scale sum past 2^63 (found by the r8 full scaled sweep);
        // XOR is a total, order-insensitive checksum at any scale
        expr("bit_xor(keeper)").cast(LongType).as("keeper_id_xor"),
        sum(when(col("n_copies") > 1, 1L).otherwise(0L)).cast(LongType)
          .as("n_dup_groups"))
      .join(perLang, Seq("lang"))
      .select(col("lang"), col("n_rows"), col("distinct_raw"),
        col("distinct_norm"), col("keeper_id_xor"), col("n_dup_groups"))
      .orderBy("lang")
  }

  val all: Seq[Q] =
    Seq(exact, jaccard, clusters, minhashLsh, simhash, retention,
      incremental, exactNormalized)
}
