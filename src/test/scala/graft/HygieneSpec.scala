package graft

import org.apache.spark.sql.functions._
import graft.queries.{CurationQueries, HygieneQueries, Q}

/** Operator invariants for the corpus-hygiene set, beyond the DuckDB
  * gate: redaction completeness, bloom-path ≡ exact-path equality,
  * packing budget bounds, split determinism/exhaustiveness, int8 range,
  * and the map-side plan shapes the 100-TB arguments rely on.
  */
class HygieneSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("pii scrub: redaction removes every match and counts are the closed form") {
    val out = HygieneQueries.piiScrub.run(spark, dir)
      .withColumn("exp_email", lit(1L) + (col("doc_id") % 3 === 0).cast("long"))
      .withColumn("exp_phone", (col("doc_id") % 2 === 0).cast("long"))
      .withColumn("exp_ip", (col("doc_id") % 5 === 0).cast("long"))
    assert(out.where(col("n_email") =!= col("exp_email") ||
      col("n_phone") =!= col("exp_phone") ||
      col("n_ip") =!= col("exp_ip")).isEmpty, "count closed-form mismatch")
    // re-run the scan on the redacted text: zero residual PII
    val docs = graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), HygieneQueries.piiText.as("pii"))
      .withColumn("red", regexp_replace(regexp_replace(regexp_replace(
        col("pii"),
        lit("[a-z0-9._%-]+@[a-z0-9.-]+\\.[a-z]{2,}"), lit("<EMAIL>")),
        lit("\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"), lit("<PHONE>")),
        lit("[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"), lit("<IP>")))
    val residual = docs.where(
      col("red").rlike("@") || col("red").rlike("\\+[0-9]") ||
        col("red").rlike("[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+")).count()
    assert(residual == 0, s"$residual docs still carry PII after redaction")
  }

  test("bloom decontamination: identical doc set to the exact broadcast-join path") {
    val viaBloom = HygieneQueries.bloomContain.run(spark, dir)
      .collect().map(_.getLong(0)).toSet
    CacheScope.release()
    // exact path: no prefilter, plain semi join on the benchmark set
    val sh = graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), lower(col("text")).as("text"))
      .withColumn("arr", split(col("text"), " "))
      .where(size(col("arr")) >= 3)
      .select(col("doc_id"),
        explode(expr(CurationQueries.shingle3Spark)).as("shingle"))
    val bench = sh.where(col("doc_id") % 97 === 0).select("shingle").distinct()
    val exact = sh.where(col("doc_id") % 97 =!= 0)
      .join(bench, Seq("shingle"), "left_semi")
      .select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(viaBloom == exact,
      s"bloom path diverged: only-bloom=${viaBloom -- exact}, missed=${exact -- viaBloom}")
  }

  test("packing: bins are contiguous per source, exhaustive, and budget-bounded") {
    val docs = graft.Tables.t(spark, dir, "documents")
    val maxNt = docs.select(max(size(split(col("text"), " ")))).head().getInt(0)
    val bins = HygieneQueries.packSequences.run(spark, dir).collect()
    val total = bins.map(_.getAs[Long]("n_docs")).sum
    assert(total == docs.count(), "packing dropped or duplicated docs")
    bins.groupBy(_.getString(0)).foreach { case (src, rows) =>
      val ids = rows.map(_.getAs[Long]("bin")).sorted
      assert(ids.head == 0 && ids.last == ids.length - 1,
        s"$src bins not contiguous from 0: ${ids.mkString(",")}")
      // next-fit bound: a bin never exceeds budget by more than one doc
      rows.foreach { r =>
        assert(r.getAs[Long]("sum_tokens") < 512L + maxNt,
          s"$src bin ${r.getAs[Long]("bin")} over budget: $r")
      }
    }
  }

  test("split: deterministic, exhaustive, and threshold-consistent") {
    val a = HygieneQueries.splitAssign.run(spark, dir).collect()
    val b = HygieneQueries.splitAssign.run(spark, dir).collect()
    assert(a.sameElements(b), "split not deterministic across runs")
    assert(a.forall { r =>
      val (bk, sp) = (r.getLong(1), r.getString(2))
      bk >= 0 && bk < 1000 &&
        sp == (if (bk < 900) "train" else if (bk < 950) "val" else "test")
    })
  }

  test("int8 quantization: |q8| <= 127 with the max component hitting 127") {
    val out = HygieneQueries.quantizeInt8.run(spark, dir)
    assert(out.where(col("q8_max") > 127 || col("q8_max") < 0).isEmpty)
    // scale = max|x| maps the argmax component to exactly 127
    assert(out.where(col("q8_max") =!= 127).isEmpty,
      "per-vector scale should saturate the max component at 127")
  }

  test("int8 quantization: reconstruction error is bounded by one quantization step") {
    // |x_e6 - q8·scale/127| <= scale/127 for every component — the
    // contract that makes the 4x-compressed vectors usable for ANN.
    val bad = HygieneQueries.quantizeInt8.run(spark, dir)
      .select(col("vec_id"), col("max_abs_e6"))
      .join(graft.Tables.t(spark, dir, "embeddings"), Seq("vec_id"))
      .withColumn("qe",
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))"))
      .withColumn("maxerr", expr(
        """array_max(transform(qe, x ->
          |  abs(cast(x as double) -
          |      cast(sign(x) * floor((127.0d * abs(x)) / cast(max_abs_e6 as double)) as bigint)
          |        * cast(max_abs_e6 as double) / 127.0d)))""".stripMargin))
      .where(col("maxerr") > col("max_abs_e6").cast("double") / 127.0 + 1e-6)
      .count()
    assert(bad == 0, s"$bad vectors exceed the one-step error bound")
  }

  test("packing, mixing, bloom: results are invariant under input repartitioning") {
    // The scale contract: a different cluster layout must not change a
    // single output row. Compare each operator's rows across runs with
    // the session's default parallelism left alone vs forced through
    // one partition (orderBy output collected as sets).
    def rows(q: Q, parts: Int): Set[String] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try q.run(spark, dir).collect().map(_.mkString("|")).toSet
      finally {
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        CacheScope.release()
      }
    }
    Seq(HygieneQueries.packSequences, CurationQueries.mixBudget,
      HygieneQueries.bloomContain).foreach { q =>
      assert(rows(q, 1) == rows(q, 13), s"${q.name} varies with partitioning")
    }
  }

  test("plans: pii/split/quantize are map-side; packing shuffles once on source") {
    Seq(HygieneQueries.piiScrub, HygieneQueries.splitAssign,
      HygieneQueries.quantizeInt8).foreach { q =>
      val p = q.run(spark, dir).queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning") && !p.contains("Join") &&
        !p.contains("HashAggregate"), s"${q.name} not map-side:\n$p")
    }
    val p = HygieneQueries.packSequences.run(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"),
      s"packing uses a global window:\n$p")
    assert(p.split("Exchange hashpartitioning").length - 1 <= 2,
      s"packing shuffles more than window+agg:\n$p")
  }
}
