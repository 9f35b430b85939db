package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType
import graft.Tables.t

/** Corpus-curation operators beyond dedup: deterministic sampling.
  *
  * Training-data pipelines rebalance a corpus by stratum (language,
  * source) before tokenization. The 100-TB-correct shape is rate-based
  * Bernoulli sampling keyed on a deterministic content hash: a pure
  * map-side filter — ZERO shuffles, no per-stratum window (which would
  * funnel each giant stratum through one partition) — and reproducible
  * across runs/engines because the coin flip is md5-derived, not RNG.
  */
object CurationQueries {

  // Word-3-gram shingle expression over a token array column `arr`, in
  // its Spark and DuckDB spellings — ONE definition feeding both
  // decontaminate and repetition (and both oracles), so the
  // cross-engine hash can never desynchronize on the shingle shape.
  private[graft] val shingle3Spark =
    """array_distinct(transform(sequence(1, size(arr) - 2),
      |  i -> concat_ws(' ', element_at(arr, i), element_at(arr, i + 1),
      |                 element_at(arr, i + 2))))""".stripMargin
  private[graft] val shingle3Sql =
    """list_distinct(list_transform(range(1, len(arr) - 1),
      |    i -> arr[CAST(i AS INT)] || ' ' ||
      |      arr[CAST(i + 1 AS INT)] || ' ' ||
      |      arr[CAST(i + 2 AS INT)]))""".stripMargin

  // The 60-bit salted hash bucket (‰) and the per-language keep-rate
  // CASE, each in its Spark and DuckDB spelling — single definition so
  // the sampler and the pipeline can never drift apart.
  private val bucketSql =
    "(('0x' || substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 1000"
  private val rateSql =
    "CASE WHEN lang = 'en' THEN 500 WHEN lang IN ('zh', 'es') THEN 250 ELSE 125 END"
  private def bucketSpark =
    expr("cast(conv(substring(md5(concat('samp:', cast(doc_id as string))), 1, 15), 16, 10) as bigint) % 1000")
  private def rateSpark =
    when(col("lang") === "en", 500)
      .when(col("lang").isin("zh", "es"), 250).otherwise(125)

  /** Stratified downsample of `documents`: per-language keep rates in
    * permille (en 500 / zh+es 250 / rest 125), keep iff the doc's
    * 60-bit hash bucket falls under its stratum's rate. The rate table
    * is a literal CASE here; at scale it is a broadcast dim (J2 shape).
    */
  val stratified = Q(
    "sample_stratified",
    s"""SELECT doc_id, lang, $bucketSql AS bucket
      |FROM documents
      |WHERE $bucketSql < $rateSql
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .withColumn("bucket", bucketSpark)
      .where(col("bucket") < rateSpark)
      .select("doc_id", "lang", "bucket")
      .orderBy("doc_id")
  }

  /** Flagship curation pipeline — the composed shape a pretraining-data
    * run actually executes, end to end in ONE declarative plan (Catalyst
    * sees every stage; no materialization barriers between them):
    *
    *  1. plant exact duplicates (self-checking corpus, as in
    *     [[DedupQueries]]);
    *  2. exact dedup: min-doc keeper per content hash — one shuffle on
    *     the 128-bit hash with map-side combine, then a semi-join of the
    *     corpus against keeper ids;
    *  3. quality gate: ≥10 tokens and ≥700‰ alphabetic chars (C4-style
    *     heuristics, integer millis) — map-side;
    *  4. stratified downsample by language (hash-threshold Bernoulli,
    *     map-side, as in [[stratified]]);
    *  5. per-language corpus stats (docs / tokens / chars).
    */
  val pipeline = Q(
    "curation_pipeline",
    s"""WITH base AS (SELECT doc_id, lang, lower(text) AS text FROM documents),
      |corpus0 AS (SELECT * FROM base
      |           UNION ALL
      |           SELECT doc_id + 200000, lang, text FROM base WHERE doc_id % 10 = 0
      |           UNION ALL
      |           SELECT doc_id + 300000, lang, text || ' z\u00e9'
      |           FROM base WHERE doc_id % 10 = 5
      |           UNION ALL
      |           SELECT doc_id + 400000, lang, text || ' ze\u0301'
      |           FROM base WHERE doc_id % 10 = 5),
      |corpus AS (SELECT doc_id, lang, nfc_normalize(text) AS text FROM corpus0),
      |keep AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(trim(text))),
      |dedup AS (SELECT * FROM corpus WHERE doc_id IN (SELECT doc_id FROM keep)),
      |scored AS (SELECT doc_id, lang, text,
      |    len(string_split(text, ' ')) AS n_tok,
      |    (1000 * length(regexp_replace(text, '[^a-z]', '', 'g'))) // length(text) AS alpha_millis
      |  FROM dedup),
      |filtered AS (SELECT * FROM scored WHERE n_tok >= 10 AND alpha_millis >= 700),
      |sampled AS (SELECT * FROM filtered WHERE $bucketSql < $rateSql)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
      |  CAST(sum(length(text)) AS BIGINT) AS sum_chars
      |FROM sampled GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.types.LongType
    graft.functions.GraftFunctions.register(s)
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), lower(col("text")).as("text"))
    // Cross-encoding plant (round-8 verdict ask #2): two twins per
    // doc_id % 10 = 5 document, byte-distinct (precomposed U+00E9 vs
    // decomposed e+U+0301 marker) but NFC-equal, so the normalize-first
    // stage below is what lets the exact-dedup collapse them — without
    // it both twins survive and every downstream count shifts.
    val marked = base.where(col("doc_id") % 10 === 5)
    val corpus = base.unionAll(
      base.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("lang"),
          col("text")))
      .unionAll(marked.select((col("doc_id") + 300000).as("doc_id"),
        col("lang"), concat(col("text"), lit(" z\u00e9")).as("text")))
      .unionAll(marked.select((col("doc_id") + 400000).as("doc_id"),
        col("lang"), concat(col("text"), lit(" ze\u0301")).as("text")))
      .select(col("doc_id"), col("lang"),
        expr("graft_nfc(text)").as("text"))
    val keep = corpus.groupBy(md5(trim(col("text"))).as("h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    corpus.join(keep, Seq("doc_id"), "left_semi")
      .withColumn("n_tok", size(split(col("text"), " ")).cast(LongType))
      .withColumn("alpha_millis",
        expr("(1000 * length(regexp_replace(text, '[^a-z]', ''))) div length(text)"))
      .where(col("n_tok") >= 10 && col("alpha_millis") >= 700)
      .withColumn("bucket", bucketSpark)
      .where(col("bucket") < rateSpark)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").cast(LongType).as("sum_tokens"),
        sum(length(col("text"))).cast(LongType).as("sum_chars"))
      .orderBy("lang")
  }

  /** Benchmark decontamination — the standard pretraining hygiene step:
    * flag corpus documents sharing word-3-gram shingles with a held-out
    * benchmark/eval set. The benchmark side is TINY relative to the
    * corpus (eval suites are thousands of docs against billions), so its
    * distinct shingle set BROADCASTS and the whole check is a map-side
    * join + per-doc count — the corpus is never shuffled. Here the
    * benchmark is the deterministic doc_id%97 slice of the same table.
    */
  val decontaminate = Q(
    "text_decontaminate",
    s"""WITH arrs AS (SELECT doc_id, string_split(lower(text), ' ') AS arr
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, unnest($shingle3Sql) AS shingle
      |  FROM arrs),
      |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
      |corp AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
      |cnt AS (SELECT doc_id, count(*) AS n_shingles FROM corp GROUP BY 1),
      |hit AS (SELECT c.doc_id, count(*) AS n_shared
      |  FROM corp c JOIN bench b ON c.shingle = b.shingle GROUP BY 1)
      |SELECT h.doc_id, h.n_shared, cnt.n_shingles,
      |  CAST((1000 * h.n_shared) // cnt.n_shingles AS BIGINT)
      |    AS contam_permille
      |FROM hit h JOIN cnt ON h.doc_id = cnt.doc_id
      |ORDER BY h.doc_id""".stripMargin) { (s, dir) =>
    val sh = t(s, dir, "documents")
      .select(col("doc_id"), lower(col("text")).as("text"))
      .withColumn("arr", split(col("text"), " "))
      .where(size(col("arr")) >= 3)
      .select(col("doc_id"), explode(expr(shingle3Spark)).as("shingle"))
      .transform(graft.CacheScope.persist) // one explode, scoped-released
    sh.count()
    val bench = sh.where(col("doc_id") % 97 === 0)
      .select("shingle").distinct()
    val corp = sh.where(col("doc_id") % 97 =!= 0)
    val cnt = corp.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    corp.join(broadcast(bench), Seq("shingle"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .join(cnt, Seq("doc_id"))
      .select(col("doc_id"), col("n_shared"), col("n_shingles"),
        expr("(1000 * n_shared) div n_shingles")
          .cast(org.apache.spark.sql.types.LongType).as("contam_permille"))
      .orderBy("doc_id")
  }

  /** Intra-document repetition scoring (the Gopher/C4 duplicate-n-gram
    * rules): fraction of repeated tokens and repeated word-3-grams per
    * document, in exact integer permille. Pure column expressions — one
    * scan, zero shuffles at any corpus size.
    */
  val repetition = Q(
    "text_repetition",
    s"""SELECT doc_id,
      |  CAST(tok_total AS BIGINT) AS tok_total,
      |  CAST((1000 * (tok_total - tok_distinct)) // tok_total AS BIGINT)
      |    AS dup_tok_permille,
      |  CAST(CASE WHEN g3_total > 0
      |    THEN (1000 * (g3_total - g3_distinct)) // g3_total
      |    ELSE 0 END AS BIGINT) AS dup3_permille
      |FROM (SELECT doc_id,
      |    len(arr) AS tok_total,
      |    len(list_distinct(arr)) AS tok_distinct,
      |    greatest(len(arr) - 2, 0) AS g3_total,
      |    CASE WHEN len(arr) >= 3 THEN len($shingle3Sql)
      |      ELSE 0 END AS g3_distinct
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS arr
      |        FROM documents)
      |  WHERE len(arr) > 0)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.types.LongType
    // counts cast to BIGINT BEFORE the ×1000 — size() is 32-bit and a
    // giant document would overflow the multiply (ANSI throw / wrap)
    t(s, dir, "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("arr"))
      .where(size(col("arr")) > 0)
      .select(col("doc_id"),
        size(col("arr")).cast(LongType).as("tok_total"),
        size(array_distinct(col("arr"))).cast(LongType).as("tok_distinct"),
        greatest(size(col("arr")).cast(LongType) - 2L, lit(0L))
          .as("g3_total"),
        when(size(col("arr")) >= 3,
          size(expr(shingle3Spark)).cast(LongType))
          .otherwise(0L).as("g3_distinct"))
      .select(col("doc_id"),
        col("tok_total"),
        expr("(1000 * (tok_total - tok_distinct)) div tok_total")
          .cast(LongType).as("dup_tok_permille"),
        when(col("g3_total") > 0,
          expr("(1000 * (g3_total - g3_distinct)) div g3_total"))
          .otherwise(0L)
          .cast(LongType).as("dup3_permille"))
      .orderBy("doc_id")
  }

  /** Exact-n stratified sample (the reservoir-sampling contract, made
    * deterministic): per (lang, source) stratum keep EXACTLY min(n, 10)
    * docs, selection by hash rank so the sample is stable across runs,
    * engines, and partitionings — unlike rate-based Bernoulli
    * ([[stratified]]), which only hits n in expectation. One shuffle on
    * the stratum key; rank never scans more than a stratum, and Spark's
    * WindowGroupLimit pushes the rank<=10 cut into the sort below the
    * final window, so no stratum is fully materialized.
    */
  val sampleExactN = Q(
    "sample_exact_n",
    """SELECT doc_id, lang, source, rank FROM (
      |  SELECT doc_id, lang, source,
      |    row_number() OVER (PARTITION BY lang, source
      |      ORDER BY md5('rsv:' || CAST(doc_id AS VARCHAR)), doc_id) AS rank
      |  FROM documents)
      |WHERE rank <= 10 ORDER BY lang, source, rank""".stripMargin) {
    (s, dir) =>
      val w = Window.partitionBy("lang", "source")
        .orderBy(md5(concat(lit("rsv:"), col("doc_id").cast("string"))),
          col("doc_id"))
      t(s, dir, "documents")
        .withColumn("rank", row_number().over(w).cast(LongType))
        .where(col("rank") <= 10)
        .select("doc_id", "lang", "source", "rank")
        .orderBy("lang", "source", "rank")
  }

  /** Corpus mixing to a per-source token budget — the mixture-weighting
    * pass that turns raw source sizes into sampling rates: each source's
    * keep-rate is min(1, budget/source_tokens) in integer permille, and
    * docs are kept by the deterministic hash coin at that rate. Shape at
    * 100 TB: ONE aggregation reduces the corpus to a #sources-sized
    * stats table, the rates broadcast back, and the keep decision is a
    * map-side filter — the corpus is never shuffled.
    */
  val mixBudget = Q(
    "mix_token_budget",
    """WITH tok AS (SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      |  FROM documents),
      |st AS (SELECT source, CAST(sum(nt) AS BIGINT) AS stok
      |  FROM tok GROUP BY source),
      |r AS (SELECT source, least(1000, (1000 * 500) // stok) AS rate
      |  FROM st),
      |k AS (SELECT t.source, t.nt, r.rate FROM tok t JOIN r USING (source)
      |  WHERE (('0x' || substr(md5('mix:' || CAST(t.doc_id AS VARCHAR)), 1, 15))::BIGINT) % 1000 < r.rate)
      |SELECT source, CAST(max(rate) AS BIGINT) AS rate_permille,
      |  count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS sum_tokens
      |FROM k GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val tok = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast(LongType).as("nt"))
    val rates = tok.groupBy("source")
      .agg(sum("nt").cast(LongType).as("stok"))
      .select(col("source"),
        least(lit(1000L), expr("(1000 * 500) div stok")).as("rate"))
    tok.join(broadcast(rates), Seq("source"))
      .where(expr("cast(conv(substring(md5(concat('mix:', cast(doc_id as string))), 1, 15), 16, 10) as bigint) % 1000")
        < col("rate"))
      .groupBy("source")
      .agg(max("rate").cast(LongType).as("rate_permille"),
        count(lit(1)).as("n_docs"),
        sum("nt").cast(LongType).as("sum_tokens"))
      .orderBy("source")
  }

  val all: Seq[Q] =
    Seq(stratified, pipeline, decontaminate, repetition, sampleExactN,
      mixBudget)
}
