package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Randomized (seeded, deterministic) equivalence checks: the scalable
  * formulation of an operator must produce EXACTLY the rows of its
  * naive form — on adversarial random inputs, not just the curated
  * gate corpus.
  */
class OperatorEquivalenceSpec extends SparkTestBase {
  import spark.implicits._

  private val rnd = new scala.util.Random(0xC0FFEE)

  test("saltedSum equals the plain groupBy on skewed random data") {
    val rows = Seq.tabulate(5000) { i =>
      // 60% of rows pile onto 2 hot keys
      val key = if (rnd.nextInt(10) < 6) s"hot${rnd.nextInt(2)}"
                else s"cold${rnd.nextInt(50)}"
      (key, i.toLong, rnd.nextInt(1000).toLong - 500)
    }.toDF("key", "uid", "v")
    val salted = graft.operators.SkewedAgg
      .saltedSum(rows, col("key"), col("uid"), col("v"), buckets = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val plain = rows.groupBy("key")
      .agg(sum("v").as("total"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("twoPhaseTopK equals the ranking window, including ties") {
    // many score ties to stress the (neg score, cid) tie-break
    val scored = Seq.tabulate(4000) { i =>
      (i % 7L, i.toLong, (rnd.nextInt(40) * 1000).toLong)
    }.toDF("qid", "cid", "cos_micros")
    val fast = graft.queries.SimilarityQueries.twoPhaseTopK(scored, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_micros").desc, col("cid").asc)
    val naive = scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 10)
      .select("qid", "rank", "cid", "cos_micros")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(fast == naive)
  }

  test("SequencePacker equals the per-source window cumsum, one source 100x the rest") {
    val rows = Seq.tabulate(8000) { i =>
      // ~80% of docs pile into one giant source — the case where the
      // window form degrades to a single task and the packer must not
      val src = if (i % 5 != 0) "giant" else s"small${i % 17}"
      (src, i.toLong, (1L + rnd.nextInt(90)))
    }.toDF("source", "doc_id", "nt")
    val packed = graft.operators.SequencePacker.assignBins(rows, 256L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    CacheScope.release()
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = rows
      .withColumn("c", sum("nt").over(w))
      .withColumn("bin", expr("(c - nt) div 256").cast("long"))
      .select("source", "doc_id", "nt", "bin")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(packed == naive)
  }

  test("the minhash affine family is a permutation of Z_p (injective on samples)") {
    val p = 2147483647L
    val as = Seq(1103515245L, 1299709L, 15485863L, 32452843L,
      49979687L, 67867967L, 86028157L, 104395301L)
    val bs = Seq(12345L, 67890L, 111111L, 999983L,
      777777L, 31415926L, 2718281L, 16180339L)
    val sample = Seq.fill(20000)(math.abs(rnd.nextLong()) % p).distinct
    as.zip(bs).foreach { case (a, b) =>
      val mapped = sample.map(h => (a * h + b) % p)
      assert(mapped.distinct.size == sample.size, s"collision under a=$a")
    }
  }
}
