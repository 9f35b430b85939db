package graft

import org.apache.spark.sql.functions._

/** Unit coverage for the native KMV distinct sketch: exact bounded-set
  * semantics, partitioning invariance (the property that makes the
  * oracle gate possible), and estimator accuracy against the true
  * cardinality the gate never sees.
  */
class KmvSketchSpec extends SparkTestBase {

  private def registered = {
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  test("graft_kmv keeps exactly the k smallest DISTINCT values") {
    val s = registered
    import s.implicits._
    // values with duplicates and an adversarial order
    val vals = Seq(50L, 10L, 30L, 10L, 90L, 20L, 30L, 70L, 60L, 20L)
    val out = vals.toDF("v").repartition(3)
      .agg(expr("graft_kmv(v, 4)").as("hs"))
      .collect()(0).getAs[scala.collection.Seq[Long]]("hs").toSeq
    assert(out == Seq(10L, 20L, 30L, 50L))
    // k larger than the distinct universe -> the whole distinct set
    val all = vals.toDF("v").agg(expr("graft_kmv(v, 100)").as("hs"))
      .collect()(0).getAs[scala.collection.Seq[Long]]("hs").toSeq
    assert(all == vals.distinct.sorted)
  }

  test("k is range-checked BEFORE narrowing to Int") {
    val s = registered
    import s.implicits._
    val df = Seq(1L, 2L, 3L).toDF("v")
    // 2^32 + 4 truncates to 4 under a bare toInt — must error, not
    // silently run with k=4
    val e = intercept[Exception] {
      df.agg(expr("graft_kmv(v, 4294967300)")).collect()
    }
    assert(e.getMessage.contains("out of range"), e.getMessage)
    // k=1 (the smallest legal k, as a BIGINT literal) still works
    val one = df.agg(expr("graft_kmv(v, 1)"))
      .collect()(0).getAs[scala.collection.Seq[Long]](0).toSeq
    assert(one == Seq(1L))
  }

  test("sketch is invariant under partitioning") {
    val s = registered
    import s.implicits._
    val data = (1L to 5000L).map(i => i * 2654435761L % 1000000007L)
    def sketch(parts: Int): Seq[Long] =
      data.toDF("v").repartition(parts)
        .agg(expr("graft_kmv(v, 64)").as("hs"))
        .collect()(0).getAs[scala.collection.Seq[Long]]("hs").toSeq
    assert(sketch(1) == sketch(13))
  }

  test("sketch algebra: merging per-group sketches equals the union's sketch") {
    // KMV's defining property: the k minima of a union are computable
    // from the k minima of its parts — what lets a 100 TB corpus keep
    // one tiny sketch per partition/day/source and still answer
    // global-distinct questions without touching the data again.
    val s = registered
    import s.implicits._
    val data = (1L to 8000L).map(i => (i % 7, i * 6364136223846793005L % 1000000007L))
    val perGroup = data.toDF("g", "v")
      .groupBy("g").agg(expr("graft_kmv(v, 64)").as("hs"))
      .select(explode(col("hs")).as("v"))
      .agg(expr("graft_kmv(v, 64)").as("hs"))
      .collect()(0).getAs[scala.collection.Seq[Long]]("hs").toSeq
    val global = data.toDF("g", "v")
      .agg(expr("graft_kmv(v, 64)").as("hs"))
      .collect()(0).getAs[scala.collection.Seq[Long]]("hs").toSeq
    assert(perGroup == global)
  }

  test("estimator lands near the true per-language shingle cardinality") {
    val s = registered
    val q = queries.TextQueries.kmvDistinct
    val out = q.run(s, "/root/testdata/sf0.01")
      .collect().map(r => r.getAs[String]("lang") ->
        r.getAs[Long]("est_distinct")).toMap
    CacheScope.release()
    // true distinct shingles per lang, computed once in DuckDB
    val truth = Map("de" -> 3059L, "en" -> 9096L, "es" -> 3538L,
      "fr" -> 3382L, "zh" -> 3730L)
    truth.foreach { case (lang, n) =>
      val est = out(lang)
      val err = math.abs(est - n).toDouble / n
      // k=64 -> sigma ~ 1/sqrt(62) ~ 13%; 3 sigma with margin
      assert(err < 0.40, s"$lang: est $est vs true $n (err $err)")
    }
  }
}
