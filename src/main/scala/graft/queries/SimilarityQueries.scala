package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables.t

/** Similarity search over the embedding column (Array[Float], 64-dim):
  * brute-force cosine top-k as the exactness baseline, an LSH/IVF-style
  * bucketed variant as the scale path, and embedding-cosine near-dup
  * detection.
  *
  * Cross-engine exactness trick: embeddings are quantized to integer
  * micro-units (×1e6) per element, so dot products and norms are exact
  * integers (≪2^53 — exact even via double accumulation) in ANY
  * summation order; only the final cos = dot/√(na·nb) touches floating
  * point, and there every engine computes the identical IEEE expression
  * on identical integer inputs.
  */
object SimilarityQueries {

  /** vec_id, label, q (bigint[64]), nq (‖q‖², bigint). */
  private[graft] def quantized(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))")
          .as("q"))
      .withColumn("nq", expr("graft_ldot(q, q)"))
      .where(col("nq") > 0)
  }

  private val quantizedSql =
    """qv AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS DOUBLE)) AS q
      |  FROM embeddings),
      |qn AS (
      |  SELECT vec_id, label, q,
      |    CAST(list_dot_product(q, q) AS BIGINT) AS nq
      |  FROM qv WHERE list_dot_product(q, q) > 0)""".stripMargin

  // codegen'd native expression (graft.functions.LongArrayDot)
  private val sparkDot = "graft_ldot(qa, qb)"
  private val cosMicros =
    "cast(floor(1e6 * cast(dot as double) / sqrt(cast(na as double) * cast(nb as double))) as bigint)"

  /** Brute-force cosine top-k for a fixed query set (vec_id < 8) over
    * all candidates — the exact baseline every ANN variant is measured
    * against. At scale: broadcast the query set, one pass over the
    * corpus, and a TWO-PHASE top-k — each input partition reduces to
    * ≤k rows per query (sort_array+slice inside a partial agg keyed by
    * (qid, partition)), then the final agg merges k·P survivors — so no
    * stage ever funnels the full candidate set through one task per
    * query (a per-query row_number window would cap parallelism at
    * #queries). Ties break on cid, identical to the oracle's
    * row_number ordering.
    */
  val annBrute = Q(
    "ann_cosine_topk",
    s"""WITH $quantizedSql,
      |pairs AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS cid,
      |    CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot,
      |    a.nq AS na, b.nq AS nb
      |  FROM qn a JOIN qn b ON b.vec_id <> a.vec_id
      |  WHERE a.vec_id < 8),
      |scored AS (
      |  SELECT qid, cid,
      |    CAST(floor(1e6 * CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS BIGINT) AS cos_micros
      |  FROM pairs),
      |ranked AS (
      |  SELECT qid, cid, cos_micros,
      |    row_number() OVER (PARTITION BY qid
      |      ORDER BY cos_micros DESC, cid ASC) AS rank
      |  FROM scored)
      |SELECT qid, rank, cid, cos_micros FROM ranked WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin) { (s, dir) =>
    val base = quantized(s, dir)
    val queries = base.where(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("q").as("qa"), col("nq").as("na"))
    val cands = base
      .select(col("vec_id").as("cid"), col("q").as("qb"), col("nq").as("nb"))
    val scored = broadcast(queries).join(cands, col("cid") =!= col("qid"))
      .withColumn("dot", expr(sparkDot))
      .withColumn("cos_micros", expr(cosMicros))
    twoPhaseTopK(scored, 10)
  }

  // Sign-LSH bucketing: 4 probe vectors (vec_id 0..3) act as the coarse
  // quantizer (the IVF analog); bucket = 4 sign bits of probe dots.
  private val bucketsSql =
    s"""probes AS (SELECT vec_id AS pid, q AS pq FROM qn WHERE vec_id < 4),
      |buckets AS (
      |  SELECT e.vec_id, e.label, e.q, e.nq,
      |    CAST(sum(CASE WHEN list_dot_product(e.q, p.pq) > 0
      |      THEN 1 << p.pid ELSE 0 END) AS BIGINT) AS bucket
      |  FROM qn e CROSS JOIN probes p
      |  GROUP BY e.vec_id, e.label, e.q, e.nq)""".stripMargin

  private def buckets(base: DataFrame): DataFrame = {
    val probes = base.where(col("vec_id") < 4)
      .select(col("vec_id").as("pid"), col("q").as("pq"))
    base.crossJoin(broadcast(probes))
      .withColumn("pdot", expr("graft_ldot(q, pq)"))
      .groupBy("vec_id", "label", "nq")
      .agg(sum(when(col("pdot") > 0, expr("1 << pid")).otherwise(0L))
        .cast(LongType).as("bucket"),
        first("q").as("q"))
  }

  /** LSH-bucketed ANN (IVF-style): the query probes only its own bucket
    * — candidate set shrinks 2^4× here, arbitrarily at scale with more
    * probes. Same scoring math as the brute-force baseline, so recall
    * loss is visible by diffing the two results. The per-query ranking
    * window here is fine at scale BECAUSE of the bucketing: each
    * query's candidate set is one bucket (corpus/2^probes rows), so no
    * task ever ranks more than a bucket — unlike the brute-force path,
    * which needs its two-phase top-k.
    */
  val annLsh = Q(
    "ann_lsh_topk",
    s"""WITH $quantizedSql,
      |$bucketsSql,
      |pairs AS (
      |  SELECT a.vec_id AS qid, a.bucket, b.vec_id AS cid,
      |    CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot,
      |    a.nq AS na, b.nq AS nb
      |  FROM buckets a JOIN buckets b
      |    ON a.bucket = b.bucket AND b.vec_id <> a.vec_id
      |  WHERE a.vec_id < 8),
      |scored AS (
      |  SELECT qid, bucket, cid,
      |    CAST(floor(1e6 * CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS BIGINT) AS cos_micros
      |  FROM pairs),
      |ranked AS (
      |  SELECT qid, bucket, cid, cos_micros,
      |    row_number() OVER (PARTITION BY qid
      |      ORDER BY cos_micros DESC, cid ASC) AS rank
      |  FROM scored)
      |SELECT qid, bucket, rank, cid, cos_micros FROM ranked WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin) { (s, dir) =>
    val bk = buckets(quantized(s, dir))
    val queries = bk.where(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("bucket"),
        col("q").as("qa"), col("nq").as("na"))
    val cands = bk.select(col("vec_id").as("cid"), col("bucket").as("cb"),
      col("q").as("qb"), col("nq").as("nb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos_micros").desc, col("cid").asc)
    queries
      .join(cands, col("cb") === col("bucket") && col("cid") =!= col("qid"))
      .withColumn("dot", expr(sparkDot))
      .withColumn("cos_micros", expr(cosMicros))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= 5)
      .select("qid", "bucket", "rank", "cid", "cos_micros")
      .orderBy("qid", "rank")
  }

  /** Embedding-cosine near-duplicate pairs, LSH-bucketed: pairs are
    * generated only within (label, bucket) cells — the quadratic blowup
    * is bounded by cell size, the cells are the shuffle key.
    */
  val cosineNear = Q(
    "dedup_cosine_near",
    s"""WITH $quantizedSql,
      |$bucketsSql,
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label, a.bucket,
      |    CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot,
      |    a.nq AS na, b.nq AS nb
      |  FROM buckets a JOIN buckets b
      |    ON a.label = b.label AND a.bucket = b.bucket
      |   AND a.vec_id < b.vec_id)
      |SELECT id_a, id_b, label, bucket,
      |  CAST(floor(1e6 * CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS BIGINT) AS cos_micros
      |FROM pairs
      |WHERE floor(1e6 * CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) >= 250000
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val bk = buckets(quantized(s, dir))
    val a = bk.select(col("vec_id").as("id_a"), col("label"), col("bucket"),
      col("q").as("qa"), col("nq").as("na"))
    val b = bk.select(col("vec_id").as("id_b"), col("label").as("lb"),
      col("bucket").as("bb"), col("q").as("qb"), col("nq").as("nb"))
    a.join(b, col("label") === col("lb") && col("bucket") === col("bb") &&
        col("id_a") < col("id_b"))
      .withColumn("dot", expr(sparkDot))
      .withColumn("cos_micros", expr(cosMicros))
      .where(col("cos_micros") >= 250000)
      .select("id_a", "id_b", "label", "bucket", "cos_micros")
      .orderBy("id_a", "id_b")
  }

  /** Shared two-phase exact top-k: each input partition reduces to ≤k
    * rows per query (sort_array+slice inside a partial agg keyed by
    * (qid, partition)), then the final agg merges k·P survivors — no
    * stage funnels a full candidate set through one task per query.
    * Input: (qid, cid, cos_micros); ties break on cid ascending.
    */
  private[graft] def twoPhaseTopK(scored: DataFrame, k: Int): DataFrame = {
    val partial = scored
      .select(col("qid"),
        struct((-col("cos_micros")).as("neg"), col("cid"),
          col("cos_micros")).as("rec"))
      .withColumn("part", spark_partition_id())
      .groupBy("qid", "part")
      .agg(slice(sort_array(collect_list(col("rec"))), 1, k).as("top"))
    partial
      .select(col("qid"), explode(col("top")).as("rec"))
      .groupBy("qid")
      .agg(slice(sort_array(collect_list(col("rec"))), 1, k).as("top"))
      .selectExpr("qid", "posexplode(top) AS (pos, rec)")
      .select(col("qid"), (col("pos") + 1).cast(LongType).as("rank"),
        col("rec.cid").as("cid"), col("rec.cos_micros").as("cos_micros"))
      .orderBy("qid", "rank")
  }

  // Deterministic Lloyd k-means (graft.operators.KMeans) unrolled to
  // SQL: c0 = init vectors, a1 = first assignment, c1 = floor-mean
  // update, a2 = final assignment. Shared by the trainer gate, the
  // IVF probe path, and both semantic-dedup gates; `kExpr` is the
  // cluster count as a SQL expression (a literal for the fixed-k
  // gates, a scalar subquery for the √N production regime).
  private def kmeansSqlK(kExpr: String) =
    s"""$quantizedSql,
      |c0 AS (SELECT vec_id AS cid, q AS c, nq AS nc FROM qn WHERE vec_id < $kExpr),
      |a1 AS (
      |  SELECT vec_id, q, cluster FROM (
      |    SELECT e.vec_id, e.q, c.cid AS cluster,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        e.nq - 2*CAST(list_dot_product(e.q, c.c) AS BIGINT) + c.nc, c.cid) AS rn
      |    FROM qn e CROSS JOIN c0 c) WHERE rn = 1),
      |c1 AS (
      |  SELECT cluster AS cid, list(mv ORDER BY idx) AS c
      |  FROM (
      |    SELECT cluster, idx,
      |      CAST(floor(CAST(sum(val) AS DOUBLE)/count(*)) AS DOUBLE) AS mv
      |    FROM (SELECT cluster, unnest(q) AS val,
      |            unnest(range(1, len(q)+1)) AS idx FROM a1)
      |    GROUP BY cluster, idx)
      |  GROUP BY cluster),
      |c1n AS (SELECT cid, c, CAST(list_dot_product(c, c) AS BIGINT) AS nc FROM c1),
      |a2 AS (
      |  SELECT vec_id, q, nq, cluster, d2 FROM (
      |    SELECT e.vec_id, e.q, e.nq, c.cid AS cluster,
      |      e.nq - 2*CAST(list_dot_product(e.q, c.c) AS BIGINT) + c.nc AS d2,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        e.nq - 2*CAST(list_dot_product(e.q, c.c) AS BIGINT) + c.nc, c.cid) AS rn
      |    FROM qn e CROSS JOIN c1n c) WHERE rn = 1)""".stripMargin

  private val kmeansSql = kmeansSqlK("8")

  /** Deterministic k-means assignment after 2 Lloyd rounds — the IVF
    * coarse-quantizer trainer as a first-class gated operator. See
    * [[graft.operators.KMeans]] for the zero-shuffle assignment shape.
    */
  val kmeansAssign = Q(
    "ml_kmeans_assign",
    s"""WITH $kmeansSql
      |SELECT vec_id, cluster, d2 FROM a2 ORDER BY vec_id""".stripMargin) {
    (s, dir) =>
      // persisted: init collect, the update pass, and the final assign
      // consume base SEQUENTIALLY, so a lazy persist dedupes the scans
      val base = graft.CacheScope.persist(quantized(s, dir))
      val cs = graft.operators.KMeans.centroids(base, 8, 2)
      graft.operators.KMeans.assign(base, cs)
        .select("vec_id", "cluster", "d2")
        .orderBy("vec_id")
  }

  /** IVF ANN: probe the 2 nearest k-means cells per query, exact cosine
    * top-k within the probed cells only. At scale the candidate set per
    * query is nprobe/k of the corpus (tunable), the cell assignment is
    * the zero-shuffle map pass, and the cell→candidates join shuffles
    * on cluster id — the IVF partition layout would make it a pruned
    * scan of co-located cell files instead.
    */
  val annIvf = Q(
    "ann_ivf_topk",
    s"""WITH $kmeansSql,
      |probes AS (SELECT vec_id AS qid, q AS pq, nq AS pn FROM qn WHERE vec_id < 8),
      |pc AS (
      |  SELECT qid, ccid FROM (
      |    SELECT p.qid, c.cid AS ccid,
      |      row_number() OVER (PARTITION BY p.qid ORDER BY
      |        p.pn - 2*CAST(list_dot_product(p.pq, c.c) AS BIGINT) + c.nc, c.cid) AS rn
      |    FROM probes p CROSS JOIN c1n c) WHERE rn <= 2),
      |pairs AS (
      |  SELECT pc.qid, a.vec_id AS cid,
      |    CAST(list_dot_product(pr.pq, a.q) AS BIGINT) AS dot,
      |    pr.pn AS na, a.nq AS nb
      |  FROM pc
      |  JOIN probes pr ON pr.qid = pc.qid
      |  JOIN a2 a ON a.cluster = pc.ccid AND a.vec_id <> pc.qid),
      |scored AS (
      |  SELECT qid, cid,
      |    CAST(floor(1e6 * CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS BIGINT) AS cos_micros
      |  FROM pairs),
      |ranked AS (
      |  SELECT qid, cid, cos_micros,
      |    row_number() OVER (PARTITION BY qid
      |      ORDER BY cos_micros DESC, cid ASC) AS rank
      |  FROM scored)
      |SELECT qid, rank, cid, cos_micros FROM ranked WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin) { (s, dir) =>
    import graft.operators.KMeans
    val base = graft.CacheScope.persist(quantized(s, dir))
    val cs = KMeans.centroids(base, 8, 2)
    val assigned = KMeans.assign(base, cs)
    val probed = assigned.where(col("vec_id") < 8)
      .withColumn("pc", slice(array_sort(KMeans.distances(cs)), 1, 2))
      .select(col("vec_id").as("qid"), col("q").as("qa"),
        col("nq").as("na"), explode(col("pc")).as("p"))
      .select(col("qid"), col("qa"), col("na"), col("p.cid").as("ccid"))
    val cands = assigned.select(col("vec_id").as("cid"),
      col("cluster"), col("q").as("qb"), col("nq").as("nb"))
    val scored = probed
      .join(cands, col("cluster") === col("ccid") && col("cid") =!= col("qid"))
      .withColumn("dot", expr(sparkDot))
      .withColumn("cos_micros", expr(cosMicros))
    twoPhaseTopK(scored, 10)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    * the corpus with the deterministic k-means trainer, then mark a
    * vector as a duplicate iff some LOWER-id member of its OWN cluster
    * is within the cosine threshold — pairwise comparison happens only
    * inside a cluster, never across the corpus. This is the scale
    * story that separates it from `dedup_cosine_near`'s LSH cells: at
    * 100 TB the cluster count grows ~√N so the per-cell quadratic
    * stays bounded, the cluster id is the one shuffle key, and the
    * keep/drop verdict is a per-vector aggregate (min dup_of), never a
    * global structure. Keep rule: a vector is a duplicate iff ANY
    * lower-id member of its cluster is within threshold — suppressors
    * need not themselves be keepers (on a non-transitive chain a~b~c
    * with cos(a,c) < t, c is dropped because of b even though b was
    * itself dropped). This is NOT the greedy keep-set rule (which
    * would keep c); it is a per-vector predicate, which is what makes
    * the verdict a single aggregate with no sequential dependency —
    * deterministic under any execution order, and the oracle computes
    * the same predicate.
    */
  val semanticDedup = Q(
    "dedup_semantic",
    s"""WITH $kmeansSql,
      |pairs AS (
      |  SELECT a.vec_id AS ida, b.vec_id AS idb,
      |    CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot,
      |    a.nq AS na, b.nq AS nb
      |  FROM a2 a JOIN a2 b
      |    ON a.cluster = b.cluster AND b.vec_id < a.vec_id),
      |dup AS (
      |  SELECT ida AS vec_id, CAST(min(idb) AS BIGINT) AS dup_of,
      |    CAST(max(cm) AS BIGINT) AS max_cos
      |  FROM (SELECT ida, idb,
      |      CAST(floor(1e6 * CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS BIGINT) AS cm
      |    FROM pairs)
      |  WHERE cm >= 250000 GROUP BY ida)
      |SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
      |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep,
      |  coalesce(d.dup_of, CAST(-1 AS BIGINT)) AS dup_of,
      |  coalesce(d.max_cos, CAST(-1 AS BIGINT)) AS max_cos
      |FROM a2 a LEFT JOIN dup d ON a.vec_id = d.vec_id
      |ORDER BY a.vec_id""".stripMargin)(semanticBody(_, _, _ => 8))

  /** The same SemDeDup operator in its PRODUCTION regime: k = ⌈√N⌉
    * (SemDeDup's own cluster-count rule — keeps expected cell size √N,
    * so total pair work stays ~N^1.5 instead of N²/k for a fixed k).
    * The one driver-side scalar (corpus count → k) is the same class
    * as the k·dim centroid collect; the oracle derives k from the same
    * count via a scalar subquery. At sf0.01 this runs k=23 over 500
    * vectors; at the 200k-vector probe corpus it is k=448 — the regime
    * where banding R collapses to 1 because k alone already spreads
    * the scan over every core.
    */
  val semanticDedupSqrtK = Q(
    "dedup_semantic_sqrtk",
    s"""WITH ${kmeansSqlK(
         "(SELECT GREATEST(CAST(2 AS BIGINT), CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM qn)")},
      |pairs AS (
      |  SELECT a.vec_id AS ida, b.vec_id AS idb,
      |    CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot,
      |    a.nq AS na, b.nq AS nb
      |  FROM a2 a JOIN a2 b
      |    ON a.cluster = b.cluster AND b.vec_id < a.vec_id),
      |dup AS (
      |  SELECT ida AS vec_id, CAST(min(idb) AS BIGINT) AS dup_of,
      |    CAST(max(cm) AS BIGINT) AS max_cos
      |  FROM (SELECT ida, idb,
      |      CAST(floor(1e6 * CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS BIGINT) AS cm
      |    FROM pairs)
      |  WHERE cm >= 250000 GROUP BY ida)
      |SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
      |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep,
      |  coalesce(d.dup_of, CAST(-1 AS BIGINT)) AS dup_of,
      |  coalesce(d.max_cos, CAST(-1 AS BIGINT)) AS max_cos
      |FROM a2 a LEFT JOIN dup d ON a.vec_id = d.vec_id
      |ORDER BY a.vec_id""".stripMargin)(
    semanticBody(_, _, n => math.max(2, math.ceil(math.sqrt(n.toDouble)).toInt)))

  /** Shared SemDeDup body; `kOf` maps corpus size → cluster count.
    * Banding R is DERIVED from k (not a constant): the banded triangle
    * join exists to spread the per-cluster quadratic scan over cores,
    * so R targets ~8 tasks per core over the k·R (cluster, band) keys
    * and collapses to 1 once k alone saturates the cores — the fixed
    * R=16 of round 7 over-replicated the left side exactly when k was
    * already large.
    */
  private def semanticBody(s: SparkSession, dir: String,
      kOf: Long => Int): DataFrame = {
    import graft.operators.KMeans
    val base = graft.CacheScope.persist(quantized(s, dir))
    val k = kOf(base.count())
    val cs = KMeans.centroids(base, k, 2)
    // both sides of the intra-cluster self-join scan the assignment
    val assigned = graft.CacheScope.persist(
      KMeans.assign(base, cs).select("vec_id", "cluster", "q", "nq"))
    // Banded triangle join: a plain self-join on `cluster` has only k
    // distinct keys, so at scale the entire quadratic pair scan runs
    // on k tasks no matter how many partitions exist (measured: 449 s
    // at 200k vectors with k=8 — 8 of 32 cores busy). Banding the
    // RIGHT side by idb % R and replicating each LEFT row once per
    // band keeps the pair set identical but the shuffle key becomes
    // (cluster, band) — k·R keys — so the same work spreads over every
    // core. Left shuffle volume grows ×R; pair count (the dominant
    // cost) is unchanged.
    val R = math.max(1, math.ceil(
      8.0 * s.sparkContext.defaultParallelism / k).toInt)
    val a = assigned.select(col("vec_id").as("ida"), col("cluster"),
      col("q").as("qa"), col("nq").as("na"))
      .withColumn("bb", explode(sequence(lit(0), lit(R - 1))))
    val b = assigned.select(col("vec_id").as("idb"), col("cluster").as("cb"),
      col("q").as("qb"), col("nq").as("nb"))
      .withColumn("rb", pmod(col("idb"), lit(R)).cast(IntegerType))
    val dup = a
      .join(b, col("cluster") === col("cb") && col("bb") === col("rb") &&
        col("idb") < col("ida"))
      .withColumn("dot", expr(sparkDot))
      .withColumn("cm", expr(cosMicros))
      .where(col("cm") >= 250000)
      .groupBy(col("ida"))
      .agg(min(col("idb")).cast(LongType).as("dup_of"),
        max(col("cm")).cast(LongType).as("max_cos"))
      .select(col("ida").as("vec_id"), col("dup_of"), col("max_cos"))
    assigned.select(col("vec_id"), col("cluster").cast(LongType).as("cluster"))
      .join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("dup_of").isNull, lit(1L)).otherwise(lit(0L)).as("keep"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        coalesce(col("max_cos"), lit(-1L)).as("max_cos"))
      .orderBy("vec_id")
  }

  val all: Seq[Q] =
    Seq(annBrute, annLsh, cosineNear, kmeansAssign, annIvf, semanticDedup,
      semanticDedupSqrtK)
}
