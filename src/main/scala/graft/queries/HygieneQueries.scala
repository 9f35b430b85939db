package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables.t

/** Corpus-hygiene operators a production training-data pipeline runs
  * between raw ingest and tokenization, beyond the dedup/curation set:
  * PII redaction, Bloom-prefiltered decontamination (the 100-TB path
  * when the benchmark shingle set is too big to broadcast raw),
  * token-budget sequence packing, deterministic train/val/test
  * splitting, and int8 embedding quantization (SURVEY §7.6 north-star
  * extensions; generalizes the reference's getFlags/P9 content-scan
  * shape, `/root/reference/api/mastercoin_verify.py:60-74`).
  *
  * All cross-engine-exact by the repo's standard tricks: integer math
  * for every gated value, md5-derived determinism instead of RNG, and
  * one shared spelling per expression in both dialects.
  */
object HygieneQueries {

  // The synthetic corpus is lowercase words+spaces only, so PII-shaped
  // substrings are injected deterministically from (doc_id, source) —
  // identical in both engines — and the operator under test is the
  // find/count/redact machinery, which is real.
  private val emailRe = "[a-z0-9._%-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
  private val ipRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  private[graft] def piiText = concat(
    col("text"),
    lit(" contact user"), col("doc_id").cast("string"),
    lit("@mail-"), col("source"), lit(".com"),
    when(col("doc_id") % 3 === 0,
      concat(lit(" cc admin"), col("doc_id").cast("string"), lit("@ex.org")))
      .otherwise(""),
    when(col("doc_id") % 2 === 0,
      concat(lit(" call +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(""),
    when(col("doc_id") % 5 === 0,
      concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), (col("doc_id") % 40).cast("string")))
      .otherwise(""))

  // Single line: this fragment interpolates into a stripMargin template,
  // which would otherwise eat the leading | of `||` continuation lines.
  private val piiTextSql =
    "text || ' contact user' || CAST(doc_id AS VARCHAR)" +
      " || '@mail-' || source || '.com'" +
      " || CASE WHEN doc_id % 3 = 0" +
      " THEN ' cc admin' || CAST(doc_id AS VARCHAR) || '@ex.org'" +
      " ELSE '' END" +
      " || CASE WHEN doc_id % 2 = 0" +
      " THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')" +
      " ELSE '' END" +
      " || CASE WHEN doc_id % 5 = 0" +
      " THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)" +
      " || '.0.' || CAST(doc_id % 40 AS VARCHAR)" +
      " ELSE '' END"

  /** PII detection + redaction: count emails / phone numbers / IPv4
    * addresses per document and emit the redacted text's digest. Pure
    * column expressions over one scan — map-side at any corpus size,
    * zero shuffles (ordering aside); the regex classes are RE2-safe so
    * the same patterns run on any engine.
    */
  val piiScrub = Q(
    "text_pii_scrub",
    s"""SELECT doc_id,
      |  CAST(len(regexp_extract_all(pii, '$emailRe')) AS BIGINT) AS n_email,
      |  CAST(len(regexp_extract_all(pii, '$phoneRe')) AS BIGINT) AS n_phone,
      |  CAST(len(regexp_extract_all(pii, '$ipRe')) AS BIGINT) AS n_ip,
      |  CAST(length(red) AS BIGINT) AS red_len,
      |  md5(red) AS red_md5
      |FROM (
      |  SELECT doc_id, pii,
      |    regexp_replace(regexp_replace(regexp_replace(pii,
      |      '$emailRe', '<EMAIL>', 'g'),
      |      '$phoneRe', '<PHONE>', 'g'),
      |      '$ipRe', '<IP>', 'g') AS red
      |  FROM (SELECT doc_id, $piiTextSql AS pii FROM documents))
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val red = regexp_replace(regexp_replace(regexp_replace(col("pii"),
      lit(emailRe), lit("<EMAIL>")),
      lit(phoneRe), lit("<PHONE>")),
      lit(ipRe), lit("<IP>"))
    t(s, dir, "documents")
      .select(col("doc_id"), piiText.as("pii"))
      .withColumn("red", red)
      // Column-API regexp_extract_all: the pattern travels verbatim.
      // (expr("... '\\+' ...") would re-parse the SQL string literal and
      // strip the backslashes — a silent cross-engine divergence.)
      .select(col("doc_id"),
        size(regexp_extract_all(col("pii"), lit(emailRe), lit(0)))
          .cast(LongType).as("n_email"),
        size(regexp_extract_all(col("pii"), lit(phoneRe), lit(0)))
          .cast(LongType).as("n_phone"),
        size(regexp_extract_all(col("pii"), lit(ipRe), lit(0)))
          .cast(LongType).as("n_ip"),
        length(col("red")).cast(LongType).as("red_len"),
        md5(col("red")).as("red_md5"))
      .orderBy("doc_id")
  }

  /** Bloom-prefiltered decontamination — same contract as
    * [[CurationQueries.decontaminate]] (flag corpus docs sharing a
    * word-3-gram with the benchmark slice) but via the sketch path:
    * build a Bloom filter over the benchmark shingles, prefilter the
    * exploded corpus map-side, then exactly confirm only the survivors.
    *
    * Why it exists: at 10⁹ benchmark shingles the raw distinct-string
    * set is tens of GB — too big to broadcast — while the Bloom filter
    * at the 3% fpp used below is ~0.9 GB of bits that ships to every
    * executor ONCE, as an explicit SparkContext broadcast (a closure
    * capture would re-serialize the filter into every task binary).
    * The corpus (the 100-TB side) is touched map-side only; the exact
    * confirm join sees just true hits + ~3% false positives, so the
    * result is EXACT (the filter only prunes), which is why a DuckDB
    * oracle can gate it. The membership probe is a UDF by necessity:
    * Spark's BloomFilterMightContain expression is internal-only.
    */
  val bloomContain = Q(
    "dedup_bloom_contain",
    s"""WITH arrs AS (SELECT doc_id, string_split(lower(text), ' ') AS arr
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, unnest(${CurationQueries.shingle3Sql}) AS shingle
      |  FROM arrs),
      |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
      |SELECT DISTINCT doc_id FROM sh
      |WHERE doc_id % 97 <> 0 AND shingle IN (SELECT shingle FROM bench)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val sh = t(s, dir, "documents")
      .select(col("doc_id"), lower(col("text")).as("text"))
      .withColumn("arr", split(col("text"), " "))
      .where(size(col("arr")) >= 3)
      .select(col("doc_id"),
        explode(expr(CurationQueries.shingle3Spark)).as("shingle"))
      .transform(graft.CacheScope.persist)
    sh.count()
    val bench = sh.where(col("doc_id") % 97 === 0)
      .select("shingle").distinct()
      .transform(graft.CacheScope.persist)
    // Sketch read (like KMeans' k centroids): driver collects ~bits,
    // never data rows. Sized from the actual benchmark cardinality (one
    // vocabulary-scale count) so the fpp — and with it the volume of
    // work the exact-confirm join sees — stays ~3% at ANY sweep factor
    // instead of degrading past a fixed guess.
    val bloom = s.sparkContext.broadcast(bench.stat.bloomFilter("shingle",
      math.max(bench.count(), 1L), 0.03))
    // the ~GB-scale (at production fpp/cardinality) filter must not
    // outlive the query: unpersist (NOT destroy) with the scoped caches
    // — executor copies are freed, but the driver can re-broadcast if
    // the returned DataFrame is re-executed after release (a retry or a
    // second action), matching how every other scoped resource
    // recomputes after unpersist. destroy() would make re-execution
    // throw on the dead broadcast.
    graft.CacheScope.defer(() => bloom.unpersist(false))
    val mightContain =
      udf((sh: String) => sh != null && bloom.value.mightContain(sh))
    sh.where(col("doc_id") % 97 =!= 0)
      .where(mightContain(col("shingle")))
      .join(broadcast(bench), Seq("shingle"), "left_semi")
      .select("doc_id").distinct()
      .orderBy("doc_id")
  }

  /** Token-budget sequence packing (next-fit by cumulative offset):
    * assign documents, in stable doc_id order within each source shard,
    * to consecutive bins of ~512 tokens — the pre-tokenization packing
    * pass that turns a corpus into fixed-budget training sequences.
    * Runs as [[graft.operators.SequencePacker]]'s segmented prefix sum
    * (range-partition + per-partition offsets, the W1 pattern), so a
    * giant source spans many partitions instead of funneling through
    * one window task; the DuckDB oracle keeps the per-source window
    * spelling — the gate IS the equivalence proof, as for W1.
    */
  val packSequences = Q(
    "pack_sequences",
    """WITH tok AS (SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      |  FROM documents),
      |cum AS (SELECT doc_id, source, nt,
      |    SUM(nt) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      |  FROM tok)
      |SELECT source, CAST((c - nt) // 512 AS BIGINT) AS bin,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(nt) AS BIGINT) AS sum_tokens,
      |  CAST(min(doc_id) AS BIGINT) AS first_doc,
      |  CAST(max(doc_id) AS BIGINT) AS last_doc
      |FROM cum GROUP BY source, bin
      |ORDER BY source, bin""".stripMargin) { (s, dir) =>
    val tok = t(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("nt"))
    graft.operators.SequencePacker.assignBins(tok, 512L)
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum("nt").cast(LongType).as("sum_tokens"),
        min("doc_id").cast(LongType).as("first_doc"),
        max("doc_id").cast(LongType).as("last_doc"))
      .orderBy("source", "bin")
  }

  /** Deterministic train/val/test assignment: 60-bit md5 bucket (‰) of
    * the salted doc key → 900/50/50 split. Pure map-side projection —
    * reproducible across runs, engines, and partitionings, and a doc's
    * split never changes as the corpus grows (the property RNG-based
    * splitters lack).
    */
  val splitAssign = Q(
    "split_train_val_test",
    """SELECT doc_id, b AS bucket,
      |  CASE WHEN b < 900 THEN 'train'
      |       WHEN b < 950 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM (SELECT doc_id,
      |    (('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 1000 AS b
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .withColumn("bucket",
        expr("cast(conv(substring(md5(concat('split:', cast(doc_id as string))), 1, 15), 16, 10) as bigint) % 1000"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < 900, "train")
          .when(col("bucket") < 950, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Int8 scalar quantization of the embedding column — the standard
    * 4× memory reduction before ANN serving: per-vector scale =
    * max|component|, q8 = sign·⌊127·|x|/scale⌋. Elementwise over the
    * ×1e6 integer-quantized form (SimilarityQueries' exactness trick),
    * with sign·floor(|·|) instead of integer div so truncation
    * direction is engine-independent for negative components. Map-side
    * only; the gate pins the full vector via an md5 digest plus
    * integer checksums.
    */
  val quantizeInt8 = Q(
    "embed_quantize_int8",
    """WITH q AS (SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS DOUBLE)) AS qe
      |  FROM embeddings),
      |m AS (SELECT vec_id, qe,
      |    CAST(list_aggregate(list_transform(qe, x -> abs(x)), 'max') AS BIGINT)
      |      AS max_abs_e6
      |  FROM q),
      |q8 AS (SELECT vec_id, max_abs_e6,
      |    list_transform(qe, x -> CAST(sign(x) *
      |      floor((127.0 * abs(x)) / CAST(max_abs_e6 AS DOUBLE)) AS BIGINT)) AS v
      |  FROM m WHERE max_abs_e6 > 0)
      |SELECT vec_id, max_abs_e6,
      |  CAST(list_sum(v) AS BIGINT) AS q8_sum,
      |  CAST(list_aggregate(list_transform(v, x -> abs(x)), 'max') AS BIGINT)
      |    AS q8_max,
      |  md5(array_to_string(v, '_')) AS q8_md5
      |FROM q8 ORDER BY vec_id""".stripMargin) { (s, dir) =>
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1000000) as double))")
          .as("qe"))
      .withColumn("max_abs_e6",
        expr("cast(array_max(transform(qe, x -> abs(x))) as bigint)"))
      .where(col("max_abs_e6") > 0)
      .withColumn("v",
        expr("""transform(qe, x -> cast(sign(x) *
          floor((127.0d * abs(x)) / cast(max_abs_e6 as double)) as bigint))"""))
      .select(col("vec_id"), col("max_abs_e6"),
        expr("aggregate(v, 0L, (acc, x) -> acc + x)").as("q8_sum"),
        expr("cast(array_max(transform(v, x -> abs(x))) as bigint)").as("q8_max"),
        md5(array_join(expr("transform(v, x -> cast(x as string))"), "_"))
          .as("q8_md5"))
      .orderBy("vec_id")
  }

  /** Flagship hygiene pipeline — scrub → decontaminate → dedup → pack,
    * composed end to end in ONE declarative plan (Catalyst sees every
    * stage, so pruning/pushdown work across stage boundaries):
    *
    *  1. PII redaction of the ingest text (map-side regexes);
    *  2. benchmark decontamination ON THE ORIGINAL CONTENT: drop docs
    *     sharing a word-3-gram with the doc_id%97 benchmark slice
    *     (broadcast anti-join — the bloom variant of [[bloomContain]]
    *     drops in here when the benchmark outgrows the broadcast
    *     threshold). Shingling the redacted text instead would let the
    *     normalized `<MARKER>` tokens manufacture cross-doc matches —
    *     every doc with a phone number shares `call <phone>` shingles —
    *     a real pipeline pitfall this stage ordering avoids;
    *  3. exact dedup of the redacted text (min-doc keeper per hash);
    *  4. token-budget packing of the survivors (512-token next-fit
    *     bins per source, as in [[packSequences]]).
    *
    * Output = the packed-bin manifest a tokenizer run would consume.
    */
  val pipeline = Q(
    "hygiene_pipeline",
    s"""WITH raw AS (SELECT doc_id, source, $piiTextSql AS pii FROM documents),
      |red AS (SELECT doc_id, source,
      |    regexp_replace(regexp_replace(regexp_replace(pii,
      |      '$emailRe', '<EMAIL>', 'g'),
      |      '$phoneRe', '<PHONE>', 'g'),
      |      '$ipRe', '<IP>', 'g') AS text
      |  FROM raw),
      |arrs AS (SELECT doc_id, string_split(lower(text), ' ') AS arr
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, unnest(${CurationQueries.shingle3Sql}) AS shingle
      |  FROM arrs),
      |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
      |contam AS (SELECT DISTINCT doc_id FROM sh
      |  WHERE doc_id % 97 <> 0 AND shingle IN (SELECT shingle FROM bench)),
      |clean AS (SELECT * FROM red WHERE doc_id % 97 <> 0
      |  AND doc_id NOT IN (SELECT doc_id FROM contam)),
      |keep AS (SELECT min(doc_id) AS doc_id FROM clean GROUP BY md5(text)),
      |surv AS (SELECT c.doc_id, c.source,
      |    CAST(len(string_split(c.text, ' ')) AS BIGINT) AS nt
      |  FROM clean c WHERE c.doc_id IN (SELECT doc_id FROM keep)),
      |cum AS (SELECT doc_id, source, nt,
      |    SUM(nt) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      |  FROM surv)
      |SELECT source, CAST((c - nt) // 512 AS BIGINT) AS bin,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(nt) AS BIGINT) AS sum_tokens,
      |  CAST(min(doc_id) AS BIGINT) AS first_doc,
      |  CAST(max(doc_id) AS BIGINT) AS last_doc
      |FROM cum GROUP BY source, bin
      |ORDER BY source, bin""".stripMargin) { (s, dir) =>
    graft.operators.SequencePacker.assignBins(
      pipelineSurvivors(s, dir), 512L)
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum("nt").cast(LongType).as("sum_tokens"),
        min("doc_id").cast(LongType).as("first_doc"),
        max("doc_id").cast(LongType).as("last_doc"))
      .orderBy("source", "bin")
  }

  /** Stages 1–3 of [[pipeline]] (scrub → decontaminate → dedup), ending
    * at the packing input — one declarative plan. Split out so PlanSpec
    * can assert the broadcast shapes here: the packing stage's
    * segmented prefix sum materializes through an RDD seam, which hides
    * upstream operators from the FINAL plan.
    */
  private[graft] def pipelineSurvivors(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val red = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), piiText.as("pii"))
      .withColumn("text",
        regexp_replace(regexp_replace(regexp_replace(col("pii"),
          lit(emailRe), lit("<EMAIL>")),
          lit(phoneRe), lit("<PHONE>")),
          lit(ipRe), lit("<IP>")))
      .drop("pii")
    val sh = t(s, dir, "documents")
      .select(col("doc_id"), lower(col("text")).as("text"))
      .withColumn("arr", split(col("text"), " "))
      .where(size(col("arr")) >= 3)
      .select(col("doc_id"),
        explode(expr(CurationQueries.shingle3Spark)).as("shingle"))
    val bench = sh.where(col("doc_id") % 97 === 0)
      .select("shingle").distinct()
    val contam = sh.where(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), Seq("shingle"), "left_semi")
      .select("doc_id").distinct()
    val clean = red.where(col("doc_id") % 97 =!= 0)
      .join(contam, Seq("doc_id"), "left_anti")
    val keep = clean.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    clean.join(keep, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast(LongType).as("nt"))
  }

  val all: Seq[Q] =
    Seq(piiScrub, bloomContain, packSequences, splitAssign, quantizeInt8,
      pipeline)
}
