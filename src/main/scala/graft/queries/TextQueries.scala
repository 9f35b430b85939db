package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables.t

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: language-ID, quality scoring, token counting,
  * fingerprinting. All pure Column expressions / higher-order functions —
  * single scan, codegen'd, no UDFs; ratios are emitted as integer
  * "millis" (integer math is evaluation-order-independent, so results
  * are exact in any engine at any parallelism).
  */
object TextQueries {

  /** Token counting: whitespace tokens + a BPE-ish regex tokenizer
    * (letter runs / digit runs / single punctuation).
    */
  val tokens = Q(
    "text_token_count",
    """SELECT doc_id, n_chars, length(text) AS len_chars,
      |  len(string_split(text, ' ')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        length(col("text")).cast(LongType).as("len_chars"),
        size(split(col("text"), " ")).cast(LongType).as("ws_tokens"),
        expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
          .cast(LongType).as("re_tokens"))
      .orderBy("doc_id")
  }

  /** Quality scoring: stopword ratio, mean token length, alphabetic
    * ratio — the length/punct/stopword heuristics of C4-style filters,
    * in integer millis.
    */
  val quality = Q(
    "text_quality_score",
    """SELECT doc_id, n_tok, n_stop,
      |  CAST((1000 * n_stop) // n_tok AS BIGINT) AS stop_millis,
      |  CAST((1000 * tok_chars) // n_tok AS BIGINT) AS mean_len_millis,
      |  CAST((1000 * alpha_chars) // length(text) AS BIGINT) AS alpha_millis
      |FROM (
      |  SELECT doc_id, text,
      |    len(string_split(text, ' ')) AS n_tok,
      |    len(list_filter(string_split(text, ' '),
      |      x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS n_stop,
      |    CAST(list_sum(list_transform(string_split(text, ' '),
      |      x -> length(x))) AS BIGINT) AS tok_chars,
      |    length(regexp_replace(text, '[^a-z]', '', 'g')) AS alpha_chars
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).as("n_tok"),
        expr("""size(filter(split(text, ' '),
          x -> x IN ('the','a','of','and','to','in','is','on','for','with')))""")
          .as("n_stop"),
        expr("aggregate(transform(split(text, ' '), x -> length(x)), 0L, (acc, v) -> acc + v)")
          .as("tok_chars"),
        length(regexp_replace(col("text"), "[^a-z]", "")).as("alpha_chars"))
      .select(col("doc_id"), col("n_tok").cast(LongType).as("n_tok"),
        col("n_stop").cast(LongType).as("n_stop"),
        expr("(1000 * n_stop) div n_tok").cast(LongType).as("stop_millis"),
        expr("(1000 * tok_chars) div n_tok").cast(LongType).as("mean_len_millis"),
        expr("(1000 * alpha_chars) div length(text)").cast(LongType)
          .as("alpha_millis"))
      .orderBy("doc_id")
  }

  /** Language-ID by n-gram/vocabulary heuristic: count hits against
    * per-class token lists, argmax with a fixed precedence for ties.
    * (The synthetic corpus shares one vocabulary, so predictions are a
    * deterministic function of content, not a real language model — the
    * operator shape is what's exercised.)
    */
  val langid = Q(
    "text_lang_id",
    """SELECT doc_id, lang,
      |  CASE WHEN c_sql >= c_spark AND c_sql >= c_time THEN 'sqlish'
      |       WHEN c_spark >= c_time THEN 'sparkish'
      |       ELSE 'timing' END AS predicted,
      |  c_sql, c_spark, c_time
      |FROM (
      |  SELECT doc_id, lang,
      |    len(list_filter(string_split(text, ' '),
      |      x -> x IN ('table','scan','join','merge','hash','sort','key','order','index','filter'))) AS c_sql,
      |    len(list_filter(string_split(text, ' '),
      |      x -> x IN ('spark','group','query','row','data','batch','value','line','customer','window'))) AS c_spark,
      |    len(list_filter(string_split(text, ' '),
      |      x -> x IN ('fast','slow','small','the','part'))) AS c_time
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        expr("""size(filter(split(text, ' '),
          x -> x IN ('table','scan','join','merge','hash','sort','key','order','index','filter')))""")
          .as("c_sql"),
        expr("""size(filter(split(text, ' '),
          x -> x IN ('spark','group','query','row','data','batch','value','line','customer','window')))""")
          .as("c_spark"),
        expr("""size(filter(split(text, ' '),
          x -> x IN ('fast','slow','small','the','part')))""").as("c_time"))
      .select(col("doc_id"), col("lang"),
        when(col("c_sql") >= col("c_spark") && col("c_sql") >= col("c_time"),
          "sqlish")
          .when(col("c_spark") >= col("c_time"), "sparkish")
          .otherwise("timing").as("predicted"),
        col("c_sql").cast(LongType).as("c_sql"),
        col("c_spark").cast(LongType).as("c_spark"),
        col("c_time").cast(LongType).as("c_time"))
      .select("doc_id", "lang", "predicted", "c_sql", "c_spark", "c_time")
      .orderBy("doc_id")
  }

  /** Document fingerprinting: content-defined hash of the sorted
    * distinct token set (a bag-of-words fingerprint — robust to word
    * order, the cheap first stage before MinHash), NFC-normalized
    * before hashing. The fixture makes the normalize load-bearing:
    * every document is planted twice, once with a precomposed marker
    * token (z + U+00E9) and once (+1000000) with the byte-distinct
    * decomposed spelling (z + e + U+0301) of the same visible text —
    * the twins' fingerprints are EQUAL only because both engines
    * normalize before the md5, so a Spark-side miss hash-mismatches.
    */
  val fingerprint = Q(
    "text_fingerprint",
    s"""WITH base AS (
      |  SELECT doc_id, text || ' z\u00e9' AS text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' ze\u0301' FROM documents)
      |SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(
      |    string_split(lower(nfc_normalize(text)), ' '))), ' ')) AS fp
      |FROM base ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    val docs = t(s, dir, "documents")
    docs.select(col("doc_id"),
        concat(col("text"), lit(" z\u00e9")).as("text"))
      .unionByName(docs.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" ze\u0301")).as("text")))
      .select(col("doc_id"),
        md5(array_join(array_sort(array_distinct(
          split(lower(expr("graft_nfc(text)")), " "))), " ")).as("fp"))
      .orderBy("doc_id")
  }

  /** Vocabulary builder: global token→frequency table (the first step
    * of any tokenizer training) — explode + hash-groupBy, map-side
    * combinable; top terms by (count DESC, token ASC).
    */
  val vocabulary = Q(
    "text_vocabulary",
    """SELECT token, count(*) AS freq,
      |  count(DISTINCT doc_id) AS doc_freq
      |FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      |      FROM documents)
      |GROUP BY 1 ORDER BY freq DESC, token ASC LIMIT 200""".stripMargin) {
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("freq"), countDistinct("doc_id").as("doc_freq"))
        .orderBy(col("freq").desc, col("token").asc)
        .limit(200)
  }

  /** TF-IDF document scoring — corpus document frequencies joined back
    * to per-doc term frequencies. Integer IDF surrogate
    * `(1000·N) div df` instead of ln(N/df): same ranking, exact BIGINT
    * in any engine (cross-engine ln can differ in the last ulp, which a
    * floor would amplify into a hash mismatch). Scale shape: the DF
    * table is vocabulary-sized → broadcast joined; the token explode is
    * one scan; both aggs combine map-side.
    */
  val tfidf = Q(
    "text_tfidf",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |df AS (SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2)
      |SELECT tf.doc_id, count(*) AS n_terms,
      |  CAST(sum(tf.tf * ((1000 * n.n_docs) // df.df)) AS BIGINT) AS score
      |FROM tf JOIN df USING (word) CROSS JOIN n
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val nDocs = docs.count()
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("word"))
    val df = tok.groupBy("word")
      .agg(countDistinct("doc_id").as("df"))
    val tf = tok.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    tf.join(broadcast(df), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("tf") * expr(s"(1000 * ${nDocs}L) div df")).cast(LongType)
          .as("score"))
      .orderBy("doc_id")
  }

  /** Unigram-LM rarity scoring (the CCNet/Gopher LM-quality filter
    * shape): corpus unigram counts → per-token inverse-probability
    * surprisal `total div cnt`, summed per document. Monotone in
    * −log p (the usual LM score) but exact integer cross-engine.
    * Rare-token-heavy docs score high → filterable tail.
    */
  val unigramLm = Q(
    "text_unigram_lm",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |tot AS (SELECT count(*) AS n_tok FROM tok),
      |uni AS (SELECT word, count(*) AS cnt FROM tok GROUP BY 1)
      |SELECT t.doc_id, count(*) AS n_tok,
      |  CAST(sum(tot.n_tok // uni.cnt) AS BIGINT) AS surprisal,
      |  CAST(max(tot.n_tok // uni.cnt) AS BIGINT) AS max_surprisal
      |FROM tok t JOIN uni USING (word) CROSS JOIN tot
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val tok = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val uni = tok.groupBy("word").agg(count(lit(1)).as("cnt"))
    // count(), not agg(sum): same number, and no null row to NPE on
    // when the corpus is empty
    val total = tok.count()
    tok.join(broadcast(uni), "word")
      .withColumn("surp", expr(s"${total}L div cnt"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum("surp").cast(LongType).as("surprisal"),
        max("surp").cast(LongType).as("max_surprisal"))
      .orderBy("doc_id")
  }

  /** Content-defined chunking — rolling-hash boundaries split documents
    * into variable-size chunks whose edges follow CONTENT, not offsets,
    * so an insertion early in a doc shifts at most one chunk (the basis
    * of sub-document dedup in large corpora). Boundary rule: a token
    * position starts a new chunk when md5(prev ⊔ token) ≡ 0 (mod 8) —
    * expected chunk ≈ 8 tokens. The cumulative-sum-of-flags chunk id is
    * one window over (doc_id, pos); chunk hashes are dedup keys across
    * the corpus. Scale: one explode + one per-doc window + one grouped
    * agg, all keyed on doc_id — a single exchange.
    */
  val cdcChunks = Q(
    "text_cdc_chunks",
    """WITH tok AS (
      |  SELECT doc_id, unnest(arr) AS token,
      |         unnest(range(1, len(arr) + 1)) AS pos
      |  FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)),
      |flagged AS (
      |  SELECT doc_id, token, pos,
      |    CASE WHEN lag(token) OVER w IS NOT NULL
      |           AND ('0x' || substr(md5(lag(token) OVER w || ' ' || token), 1, 15))::BIGINT % 8 = 0
      |         THEN 1 ELSE 0 END AS boundary
      |  FROM tok
      |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |chunked AS (
      |  SELECT doc_id, token, pos,
      |    sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_id
      |  FROM flagged)
      |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      |  count(*) AS n_tok,
      |  md5(string_agg(token, ' ' ORDER BY pos)) AS chunk_hash
      |FROM chunked GROUP BY doc_id, chunk_id
      |ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(s)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val tok = t(s, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " "))
        .as(Seq("pos0", "token")))
      .select(col("doc_id"), col("token"), (col("pos0") + 1).as("pos"))
    tok
      .withColumn("prev", lag("token", 1).over(w))
      .withColumn("boundary",
        when(col("prev").isNotNull &&
          // native digest→long hash (Hash60Spec pins ≡ conv(substring(md5)))
          expr("graft_hash60(concat(prev, ' ', token)) % 8 = 0"),
          1).otherwise(0))
      .withColumn("chunk_id",
        sum("boundary").over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast(LongType))
      .groupBy("doc_id", "chunk_id")
      .agg(count(lit(1)).as("n_tok"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("token")))),
          x => x.getField("token")), " ")).as("chunk_hash"))
      .orderBy("doc_id", "chunk_id")
  }

  /** BPE pair counting — the inner loop of tokenizer training: count
    * adjacent symbol (character) pairs across the corpus, weighted by
    * word frequency, and emit the top merge candidates. The corpus
    * shuffles ONCE (token→count, map-side combinable into a
    * vocabulary-sized table); the pair explode then runs over the
    * VOCABULARY, not the corpus, so each BPE merge iteration at 100 TB
    * costs one vocabulary-sized aggregation, and the top-k is
    * TakeOrdered, never a global sort.
    */
  val bpePairs = Q(
    "bpe_pair_counts",
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |vocab AS (SELECT w, count(*) AS wc FROM tok
      |  WHERE length(w) >= 2 GROUP BY w),
      |pairs AS (SELECT wc,
      |    unnest(list_transform(range(1, length(w)),
      |      i -> substr(w, CAST(i AS INT), 2))) AS pair
      |  FROM vocab)
      |SELECT pair, CAST(sum(wc) AS BIGINT) AS n
      |FROM pairs GROUP BY pair
      |ORDER BY n DESC, pair LIMIT 50""".stripMargin) { (s, dir) =>
    val vocab = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("wc"))
    vocab
      .select(col("wc"),
        explode(expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
      .groupBy("pair").agg(sum("wc").cast(LongType).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(50)
  }

  /** Fixed-window token chunking with overlap (window 32, stride 24) —
    * the sliding chunker of pretraining/RAG pipelines, complementing
    * content-defined [[cdcChunks]]: deterministic boundaries at fixed
    * offsets, each chunk hashed for downstream dedup. Pure projection +
    * one explode per doc — map-side at any corpus size. Spark's
    * INCLUSIVE sequence(0, n−1, 24) and DuckDB's EXCLUSIVE
    * range(0, n, 24) generate the same start set for n ≥ 1, and both
    * engines clamp the final short chunk the same way.
    */
  val fixedChunks = Q(
    "text_fixed_chunks",
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS arr,
      |    len(string_split(text, ' ')) AS n FROM documents),
      |st AS (SELECT doc_id, arr, unnest(range(0, n, 24)) AS start
      |  FROM d WHERE n > 0),
      |ch AS (SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_id,
      |    list_slice(arr, CAST(start + 1 AS INT), CAST(start + 32 AS INT)) AS chunk
      |  FROM st)
      |SELECT doc_id, chunk_id, CAST(len(chunk) AS BIGINT) AS n_tok,
      |  md5(array_to_string(chunk, ' ')) AS chunk_hash
      |FROM ch ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("arr"))
      .withColumn("n", size(col("arr")))
      .where(col("n") > 0)
      .select(col("doc_id"), col("arr"),
        explode(expr("sequence(0, n - 1, 24)")).as("start"))
      .select(col("doc_id"),
        expr("start div 24").cast(LongType).as("chunk_id"),
        expr("slice(arr, start + 1, 32)").as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).cast(LongType).as("n_tok"),
        md5(array_join(col("chunk"), " ")).as("chunk_hash"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Inverted-index build — the serving-side artifact of a corpus:
    * per-token document frequency, total term frequency, and a posting
    * checksum. The checksum is an ORDER-INSENSITIVE sum of per-posting
    * 60-bit hashes (mod 2⁶⁰), deliberately NOT an ordered
    * concatenation: a hot token's posting list (stopwords ≈ the whole
    * corpus) never materializes in one task — both aggregations are
    * map-side combinable and commutative, so the index builds with two
    * vocabulary-keyed shuffles at any corpus size. The 60-bit hashes
    * accumulate in decimal(38,0) (HUGEINT on the oracle side) — a
    * BIGINT accumulator would overflow at ~8·10⁹ postings per token —
    * and reduce mod 2⁶⁰ only at the end.
    */
  val invertedIndex = Q(
    "text_inverted_index",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |tf AS (SELECT w, doc_id, count(*) AS tf FROM tok GROUP BY w, doc_id)
      |SELECT w, count(*) AS n_docs, CAST(sum(tf) AS BIGINT) AS total_tf,
      |  CAST(sum(('0x' || substr(md5('p:' || CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR)), 1, 15))::BIGINT) % 1152921504606846976 AS BIGINT)
      |    AS posting_sum
      |FROM tf GROUP BY w ORDER BY w""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("w", "doc_id").agg(count(lit(1)).as("tf"))
      .groupBy("w")
      .agg(count(lit(1)).as("n_docs"),
        sum("tf").cast(LongType).as("total_tf"),
        // native digest→long hash (Hash60Spec pins ≡ conv(substring(md5)))
        sum(expr("graft_hash60(concat('p:', cast(doc_id as string), ':', cast(tf as string)))")
          .cast(DecimalType(38, 0))).as("hsum"))
      .select(col("w"), col("n_docs"), col("total_tf"),
        expr("cast(hsum % 1152921504606846976 as bigint)").as("posting_sum"))
      .orderBy("w")
  }

  /** Shared oracle chain for the BPE queries: vocabulary, character
    * split, and THREE unrolled greedy-merge iterations (run-parity
    * window formulation), ending at the post-merge symbol table t3.
    * No line may START with '||' (re-interpolated into stripMargin).
    */
  private val bpeIterSql =
    """tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |v AS (SELECT w, count(*) AS wc FROM tok WHERE length(w) >= 2 GROUP BY w),
      |t0 AS (SELECT w, wc, pos, substr(w, CAST(pos AS INT), 1) AS sym
      |  FROM (SELECT w, wc, unnest(range(1, length(w) + 1)) AS pos FROM v)),
      |e1 AS (SELECT w, wc, pos, sym,
      |    lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt FROM t0),
      |p1 AS (SELECT sym || ' ' || nxt AS pair, CAST(sum(wc) AS BIGINT) AS n
      |  FROM e1 WHERE nxt IS NOT NULL GROUP BY 1),
      |m1 AS (SELECT pair, n FROM p1 ORDER BY n DESC, pair LIMIT 1),
      |g1 AS (SELECT e.w, e.wc, e.pos, e.sym,
      |    coalesce(e.sym = split_part(m.pair, ' ', 1)
      |         AND e.nxt = split_part(m.pair, ' ', 2), FALSE) AS matched,
      |    replace(m.pair, ' ', '') AS merged
      |  FROM e1 e, m1 m),
      |r1 AS (SELECT *, pos - row_number()
      |    OVER (PARTITION BY w, matched ORDER BY pos) AS grp FROM g1),
      |s1 AS (SELECT *, matched AND (((pos - min(pos)
      |    OVER (PARTITION BY w, matched, grp)) % 2) = 0) AS sel FROM r1),
      |t1 AS (SELECT w, wc,
      |    row_number() OVER (PARTITION BY w ORDER BY pos) AS pos,
      |    CASE WHEN sel THEN merged ELSE sym END AS sym
      |  FROM (SELECT *, coalesce(lag(sel) OVER (PARTITION BY w ORDER BY pos),
      |      FALSE) AS psel FROM s1)
      |  WHERE NOT psel),
      |e2 AS (SELECT w, wc, pos, sym,
      |    lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt FROM t1),
      |p2 AS (SELECT sym || ' ' || nxt AS pair, CAST(sum(wc) AS BIGINT) AS n
      |  FROM e2 WHERE nxt IS NOT NULL GROUP BY 1),
      |m2 AS (SELECT pair, n FROM p2 ORDER BY n DESC, pair LIMIT 1),
      |g2 AS (SELECT e.w, e.wc, e.pos, e.sym,
      |    coalesce(e.sym = split_part(m.pair, ' ', 1)
      |         AND e.nxt = split_part(m.pair, ' ', 2), FALSE) AS matched,
      |    replace(m.pair, ' ', '') AS merged
      |  FROM e2 e, m2 m),
      |r2 AS (SELECT *, pos - row_number()
      |    OVER (PARTITION BY w, matched ORDER BY pos) AS grp FROM g2),
      |s2 AS (SELECT *, matched AND (((pos - min(pos)
      |    OVER (PARTITION BY w, matched, grp)) % 2) = 0) AS sel FROM r2),
      |t2 AS (SELECT w, wc,
      |    row_number() OVER (PARTITION BY w ORDER BY pos) AS pos,
      |    CASE WHEN sel THEN merged ELSE sym END AS sym
      |  FROM (SELECT *, coalesce(lag(sel) OVER (PARTITION BY w ORDER BY pos),
      |      FALSE) AS psel FROM s2)
      |  WHERE NOT psel),
      |e3 AS (SELECT w, wc, pos, sym,
      |    lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt FROM t2),
      |p3 AS (SELECT sym || ' ' || nxt AS pair, CAST(sum(wc) AS BIGINT) AS n
      |  FROM e3 WHERE nxt IS NOT NULL GROUP BY 1),
      |m3 AS (SELECT pair, n FROM p3 ORDER BY n DESC, pair LIMIT 1),
      |g3 AS (SELECT e.w, e.wc, e.pos, e.sym,
      |    coalesce(e.sym = split_part(m.pair, ' ', 1)
      |         AND e.nxt = split_part(m.pair, ' ', 2), FALSE) AS matched,
      |    replace(m.pair, ' ', '') AS merged
      |  FROM e3 e, m3 m),
      |r3 AS (SELECT *, pos - row_number()
      |    OVER (PARTITION BY w, matched ORDER BY pos) AS grp FROM g3),
      |s3 AS (SELECT *, matched AND (((pos - min(pos)
      |    OVER (PARTITION BY w, matched, grp)) % 2) = 0) AS sel FROM r3),
      |t3 AS (SELECT w, wc,
      |    row_number() OVER (PARTITION BY w ORDER BY pos) AS pos,
      |    CASE WHEN sel THEN merged ELSE sym END AS sym
      |  FROM (SELECT *, coalesce(lag(sel) OVER (PARTITION BY w ORDER BY pos),
      |      FALSE) AS psel FROM s3)
      |  WHERE NOT psel)""".stripMargin

  /** One greedy BPE merge: scan the symbol sequence left to right,
    * replacing each non-overlapping (x, y) adjacency with the merged
    * symbol — the textbook tokenizer-training merge step. The oracle
    * expresses the same semantics relationally: within each run of
    * consecutive matched positions, every other position (starting at
    * the first) is merged, which is exactly what the greedy scan picks.
    */
  private[graft] def mergePair(sym: Seq[String], x: String,
      y: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < sym.length) {
      if (i + 1 < sym.length && sym(i) == x && sym(i + 1) == y) {
        out += x + y; i += 2
      } else { out += sym(i); i += 1 }
    }
    out.toSeq
  }

  /** BPE merge LOOP — the actual tokenizer-training inner loop, not
    * just its first pair count ([[bpePairs]]): K=3 iterations of
    * count-pairs → pick top merge (ties by pair string, both engines) →
    * apply the merge to every vocabulary word, then the surviving
    * top-20 candidates. State per iteration is VOCABULARY-sized (the
    * corpus shuffles once into word counts and never again) and the
    * chosen merge is a 1-row driver read per iteration — the trainer's
    * merge table IS driver state, as in every BPE implementation. The
    * oracle unrolls the three iterations with the run-parity window
    * formulation of the greedy merge.
    */
  val bpeMergeLoop = Q(
    "bpe_merge_loop",
    s"""WITH ${TextQueries.bpeIterSql},
      |e4 AS (SELECT w, wc, pos, sym,
      |    lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt FROM t3),
      |p4 AS (SELECT sym || ' ' || nxt AS pair, CAST(sum(wc) AS BIGINT) AS n
      |  FROM e4 WHERE nxt IS NOT NULL GROUP BY 1)
      |SELECT CAST(1 AS BIGINT) AS iter, pair, n FROM m1
      |UNION ALL SELECT CAST(2 AS BIGINT), pair, n FROM m2
      |UNION ALL SELECT CAST(3 AS BIGINT), pair, n FROM m3
      |UNION ALL SELECT CAST(4 AS BIGINT), pair, n FROM
      |  (SELECT pair, n FROM p4 ORDER BY n DESC, pair LIMIT 20)
      |ORDER BY iter, n DESC, pair""".stripMargin) { (s, dir) =>
    import s.implicits._
    val (merges, vocab) = bpeTrain(s, dir)
    val mergesDf = merges.toDF("iter", "pair", "n")
    val finalTop = bpePairCounts(vocab)
      .orderBy(col("n").desc, col("pair")).limit(20)
      .select(lit(4L).as("iter"), col("pair"), col("n"))
    mergesDf.union(finalTop)
      .orderBy(col("iter"), col("n").desc, col("pair"))
  }

  private def bpePairCounts(
      v: org.apache.spark.sql.Dataset[(String, Long, Seq[String])]) = {
    val spark = v.sparkSession
    import spark.implicits._
    v.flatMap { case (_, wc, sym) =>
      sym.sliding(2).collect { case Seq(a, b) => (a + " " + b, wc) }
    }.toDF("pair", "wc")
      .groupBy("pair").agg(sum("wc").cast(LongType).as("n"))
  }

  /** The BPE training loop shared by [[bpeMergeLoop]] and [[bpeEncode]]:
    * K=3 rounds of count-pairs → top merge (1-row driver read per
    * iteration — the trainer's merge table IS driver state, as in every
    * BPE implementation) → greedy apply over the vocabulary. Returns
    * the chosen merges and the post-merge vocabulary symbol table.
    */
  private def bpeTrain(s: org.apache.spark.sql.SparkSession, dir: String)
      : (Seq[(Long, String, Long)],
         org.apache.spark.sql.Dataset[(String, Long, Seq[String])]) = {
    import s.implicits._
    var cur = graft.CacheScope.persist(
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("wc"))
        .as[(String, Long)]
        // split into CODE POINTS, not UTF-16 units — DuckDB's
        // substr(w, pos, 1) is code-point based, and a surrogate-pair
        // split would diverge on astral-plane text
        .map { case (w, wc) => (w, wc, codePoints(w)) })
    cur.count() // EAGER: each iteration folds over the previous state
    val merges = Seq.newBuilder[(Long, String, Long)]
    for (k <- 1 to 3) {
      val top = bpePairCounts(cur)
        .orderBy(col("n").desc, col("pair")).limit(1).collect()
      if (top.isEmpty) {
        // no pairs left: the oracle's empty m_k CTE cross-joins g_k to
        // empty, so t_k and everything after it are EMPTY — mirror that
        // instead of crashing on head() of nothing
        cur = s.emptyDataset[(String, Long, Seq[String])]
      } else {
        val (pair, n) = (top.head.getString(0), top.head.getLong(1))
        merges += ((k.toLong, pair, n))
        val Array(x, y) = pair.split(" ")
        val next = graft.CacheScope.persist(cur.map { case (w, wc, sym) =>
          (w, wc, mergePair(sym, x, y))
        })
        next.count()
        cur = next
      }
    }
    (merges.result(), cur)
  }

  /** Code-point symbol split (one String per code point). */
  private def codePoints(w: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** Tokenizer APPLY — the inference side of [[bpeMergeLoop]]: encode
    * the corpus with the trained merges. The trained vocabulary
    * (word → post-merge symbol count) is a vocabulary-SIZED dimension
    * broadcast back over the corpus token stream — the mix_token_budget
    * scale shape: the corpus is scanned once and never shuffled for the
    * join; per-doc totals are one map-side-combinable aggregation.
    * Words the trainer never saw (single characters here) encode as one
    * symbol. Compression = whitespace tokens vs BPE symbols per doc.
    */
  val bpeEncode = Q(
    "bpe_encode",
    s"""WITH ${TextQueries.bpeIterSql},
      |nsym AS (SELECT w, count(*) AS n FROM t3 GROUP BY w),
      |tok2 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents)
      |SELECT t.doc_id,
      |  count(*) AS ws_tokens,
      |  CAST(sum(coalesce(ns.n, 1)) AS BIGINT) AS bpe_tokens
      |FROM tok2 t LEFT JOIN nsym ns ON ns.w = t.w
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val (_, vocab) = bpeTrain(s, dir)
    val nsym = vocab.map { case (w, _, sym) => (w, sym.length.toLong) }
      .toDF("w", "n")
    t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(broadcast(nsym), Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("ws_tokens"),
        sum(coalesce(col("n"), lit(1L))).cast(LongType).as("bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Corpus-wide line-level deduplication (the RefinedWeb/CCNet "line
    * dedup" pass): segment every document into fixed 8-token lines,
    * keep only the FIRST occurrence of each distinct line across the
    * whole corpus (ordered by doc_id, then position), and reconstruct
    * each document from its surviving lines. Unlike the document-level
    * dedup family this EDITS documents — boilerplate that repeats
    * across pages vanishes from every copy but the first.
    *
    * Scale shape: the first-occurrence resolution is a groupBy on the
    * line's 128-bit hash carrying only (hash, doc_id, chunk_id) — the
    * line TEXT never crosses that exchange; the flagging join is
    * hash-keyed; the rebuild is a per-doc aggregate whose collect_list
    * is bounded by document length. No window over the corpus, no
    * global sort. Both engines key on md5(line), so the grouping is
    * identical by construction.
    */
  val lineDedup = Q(
    "text_line_dedup",
    """WITH base AS (
      |  SELECT doc_id, text || ' z\u00e9' AS text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000000, text || ' ze\u0301' FROM documents),
      |d AS (SELECT doc_id, string_split(text, ' ') AS arr,
      |    len(string_split(text, ' ')) AS n FROM base),
      |st AS (SELECT doc_id, arr, unnest(range(0, n, 8)) AS start
      |  FROM d WHERE n > 0),
      |ch AS (SELECT doc_id, CAST(start // 8 AS BIGINT) AS chunk_id,
      |    array_to_string(list_slice(arr, CAST(start + 1 AS INT),
      |      CAST(start + 8 AS INT)), ' ') AS line
      |  FROM st),
      |k AS (SELECT doc_id, chunk_id, line,
      |    row_number() OVER (PARTITION BY md5(nfc_normalize(line))
      |      ORDER BY doc_id, chunk_id) AS rn
      |  FROM ch)
      |SELECT doc_id,
      |  CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
      |  CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dropped,
      |  md5(coalesce(string_agg(line, ' ' ORDER BY chunk_id)
      |    FILTER (WHERE rn = 1), '')) AS text_hash
      |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    val docs = t(s, dir, "documents")
    // Cross-encoding fixture (round-8 verdict ask #2): every document
    // twice, the original suffixed with a precomposed marker token and
    // a +1e9 twin with the decomposed spelling — the twin's final line
    // is byte-distinct but NFC-equal, so it deduplicates (n_kept = 0
    // for every twin) ONLY because the line key is md5∘NFC in both
    // engines. Kept lines rebuild from the keeper's RAW text, which is
    // first-occurrence-deterministic, so the reconstruction stays
    // cross-engine exact.
    val base = docs
      .select(col("doc_id"), concat(col("text"), lit(" z\u00e9")).as("text"))
      .unionByName(docs.select(
        (col("doc_id") + 1000000000L).as("doc_id"),
        concat(col("text"), lit(" ze\u0301")).as("text")))
    val lines = base
      .select(col("doc_id"), split(col("text"), " ").as("arr"))
      .withColumn("n", size(col("arr")))
      .where(col("n") > 0)
      .select(col("doc_id"), col("arr"),
        explode(expr("sequence(0, n - 1, 8)")).as("start"))
      .select(col("doc_id"),
        expr("start div 8").cast(LongType).as("chunk_id"),
        array_join(expr("slice(arr, start + 1, 8)"), " ").as("line"))
      .withColumn("h", md5(expr("graft_nfc(line)")))
    // first occurrence per distinct line: (hash, ids) only in flight
    val firsts = lines
      .groupBy("h")
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("f"))
      .select(col("h"), col("f.doc_id").as("fd"), col("f.chunk_id").as("fc"))
    lines.join(firsts, "h")
      .withColumn("kept",
        col("doc_id") === col("fd") && col("chunk_id") === col("fc"))
      .groupBy("doc_id")
      .agg(
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
        // collect_list drops the nulls `when` leaves on dropped lines;
        // array_sort orders the struct by its leading chunk_id
        md5(array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN kept THEN struct(chunk_id, line) END)), x -> x.line)"),
          " ")).as("text_hash"))
      .orderBy("doc_id")
  }

  /** Approximate distinct cardinality via the native [[graft.functions.KmvSketch]]
    * aggregate: per language, the 64 minimum distinct 60-bit hashes of
    * the corpus's word-3-gram shingles, with the KMV estimate
    * (k−1)·2⁶⁰/m_k read off the k-th minimum. Unlike HLL-style
    * sketches the k minima are a deterministic SET function of the
    * input — independent of partitioning, order, and engine — so the
    * gate pins the estimator bit-for-bit; the scale story is the
    * buffer: a ≤64-long mergeable map-side state per group, so the
    * exchange carries one tiny array per (group, partition), never the
    * shingle stream, at any corpus size.
    */
  val kmvDistinct = Q(
    "sketch_kmv_distinct",
    s"""WITH arrs AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS arr
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT lang, unnest(${CurationQueries.shingle3Sql}) AS s FROM arrs),
      |dh AS (SELECT DISTINCT lang,
      |    (('0x' || substr(md5(s), 1, 15))::BIGINT) AS h FROM sh),
      |rk AS (SELECT lang, h,
      |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM dh),
      |kk AS (SELECT lang, CAST(count(*) AS BIGINT) AS k_used,
      |    CAST(max(h) AS BIGINT) AS kth_min
      |  FROM rk WHERE rn <= 64 GROUP BY lang)
      |SELECT lang, k_used, kth_min,
      |  CAST(CASE WHEN k_used < 64 THEN k_used
      |    ELSE floor(63.0 * 1152921504606846976.0 / kth_min) END AS BIGINT)
      |    AS est_distinct
      |FROM kk ORDER BY lang""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    val sh = t(s, dir, "documents")
      .select(col("lang"), split(lower(col("text")), " ").as("arr"))
      .where(size(col("arr")) >= 3)
      .select(col("lang"), explode(expr(CurationQueries.shingle3Spark)).as("s"))
    sh.groupBy("lang")
      .agg(expr("graft_kmv(graft_hash60(s), 64)").as("hs"))
      .select(col("lang"),
        size(col("hs")).cast(LongType).as("k_used"),
        element_at(col("hs"), size(col("hs"))).as("kth_min"),
        when(size(col("hs")) < 64, size(col("hs")).cast(LongType))
          .otherwise(expr(
            "cast(floor(63.0 * 1152921504606846976.0 / element_at(hs, size(hs))) as bigint)"))
          .as("est_distinct"))
      .orderBy("lang")
  }

  /** Unicode NFC normalization over the corpus — the canonicalization
    * pass before any content-hash dedup (precomposed é vs decomposed
    * e+U+0301 are byte-distinct but textually identical; unnormalized,
    * every md5-keyed dedup keeps both). The fixture plants a decomposed
    * suffix on every doc (repeat count keyed on doc_id, plus one
    * already-precomposed char to pin idempotence), runs the native
    * codegen'd [[graft.functions.NfcNormalize]], and hash-pins the
    * normalized text against DuckDB's utf8proc `nfc_normalize` — two
    * independent NFC implementations (ICU tables vs utf8proc) must
    * agree byte-for-byte, which is exactly the property that makes the
    * pass safe to run fleet-wide before hashing. Map-side only: no
    * shuffle except the presentation sort.
    */
  val normalize = Q(
    "text_normalize",
    """SELECT doc_id,
      |  CAST(length(raw) AS BIGINT) AS len_raw,
      |  CAST(length(norm) AS BIGINT) AS len_norm,
      |  CAST(raw <> norm AS BIGINT) AS changed,
      |  md5(norm) AS h,
      |  CAST(norm = nfc_normalize(norm) AS BIGINT) AS idempotent
      |FROM (SELECT doc_id, raw, nfc_normalize(raw) AS norm
      |  FROM (SELECT doc_id,
      |      text || repeat('éöé', 1 + doc_id % 3) AS raw
      |    FROM documents))
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    t(s, dir, "documents")
      .select(col("doc_id"),
        concat(col("text"),
          repeat(lit("e\u0301o\u0308\u00e9"),
            (lit(1) + col("doc_id") % 3).cast(IntegerType))).as("raw"))
      .withColumn("norm", expr("graft_nfc(raw)"))
      .select(col("doc_id"),
        length(col("raw")).cast(LongType).as("len_raw"),
        length(col("norm")).cast(LongType).as("len_norm"),
        (col("raw") =!= col("norm")).cast(LongType).as("changed"),
        md5(col("norm")).as("h"),
        (col("norm") === expr("graft_nfc(norm)")).cast(LongType)
          .as("idempotent"))
      .orderBy("doc_id")
  }

  val all: Seq[Q] =
    Seq(tokens, quality, langid, fingerprint, vocabulary, tfidf, unigramLm,
      cdcChunks, bpePairs, bpeMergeLoop, bpeEncode, fixedChunks,
      invertedIndex, lineDedup, kmvDistinct, normalize)
}
