package graft

import org.apache.spark.sql.functions._

/** Invariant coverage for the two corpus-editing dedup operators added
  * in round 7: SemDeDup-style cluster-local semantic dedup and
  * RefinedWeb-style corpus-wide line dedup. The oracle gates pin the
  * exact output; these tests pin the SEMANTIC claims the oracle SQL
  * shares with the Spark plan (so a bug in both at once still fails).
  */
class SemanticLineDedupSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("dedup_semantic: keepers are pairwise non-duplicate within a cluster") {
    val out = queries.SimilarityQueries.semanticDedup.run(spark, dir)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster"),
        r.getAs[Long]("keep"), r.getAs[Long]("dup_of"), r.getAs[Long]("max_cos")))
    CacheScope.release()
    assert(out.nonEmpty)
    assert(out.exists(_._3 == 0L), "threshold should drop at least one vector")
    assert(out.exists(_._3 == 1L), "threshold should keep at least one vector")

    // recompute cosines in the driver (500 vectors at sf0.001)
    val vecs = queries.SimilarityQueries.quantized(spark, dir)
      .select("vec_id", "q", "nq").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Seq[Long]]("q").toArray, r.getAs[Long]("nq"))).toMap
    CacheScope.release()
    def cosMicros(a: Long, b: Long): Long = {
      val (qa, na) = vecs(a); val (qb, nb) = vecs(b)
      val dot = qa.zip(qb).map { case (x, y) => x * y }.sum
      math.floor(1000000.0 * dot / math.sqrt(na.toDouble * nb.toDouble)).toLong
    }

    val byCluster = out.groupBy(_._2)
    byCluster.values.foreach { members =>
      val keepers = members.filter(_._3 == 1L).map(_._1).sorted
      for (i <- keepers.indices; j <- 0 until i)
        assert(cosMicros(keepers(j), keepers(i)) < 250000,
          s"keepers ${keepers(j)} and ${keepers(i)} are near-duplicates")
    }

    // every dropped vector's dup_of is its MINIMUM lower-id in-cluster
    // neighbor over the threshold, and max_cos is the max such cosine
    byCluster.values.foreach { members =>
      val ids = members.map(_._1).sorted
      members.filter(_._3 == 0L).foreach { case (id, _, _, dupOf, maxCos) =>
        val hits = ids.filter(o => o < id && cosMicros(o, id) >= 250000)
        assert(hits.nonEmpty && hits.min == dupOf,
          s"vec $id: dup_of $dupOf vs recomputed ${hits.headOption}")
        assert(hits.map(cosMicros(_, id)).max == maxCos)
      }
      members.filter(_._3 == 1L).foreach { case (id, _, _, dupOf, maxCos) =>
        assert(dupOf == -1L && maxCos == -1L, s"keeper $id carries dup info")
      }
    }
  }

  test("text_line_dedup: conservation and global distinct-line count") {
    val out = queries.TextQueries.lineDedup.run(spark, dir)
      .select("doc_id", "n_kept", "n_dropped").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    CacheScope.release()
    assert(out.nonEmpty)

    // recompute the segmentation independently, mirroring the round-9
    // cross-encoding fixture: originals suffixed with a precomposed
    // marker token, +1e9 twins with the decomposed spelling
    val raw = Tables.t(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val docs = raw.map { case (id, t) => id -> (t + " z\u00e9") } ++
      raw.map { case (id, t) => (id + 1000000000L) -> (t + " ze\u0301") }
    def lines(text: String): Seq[String] =
      text.split(" ", -1).grouped(8).map(_.mkString(" ")).toSeq
    def nfc(s: String): String =
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    val perDoc = docs.map { case (id, t) => id -> lines(t).size }.toMap
    out.foreach { case (id, kept, dropped) =>
      assert(kept + dropped == perDoc(id),
        s"doc $id: $kept+$dropped != ${perDoc(id)} lines")
    }
    // distinct lines are counted under NFC — the decomposed twins'
    // lines must collapse onto the precomposed originals'
    val distinct = docs.flatMap { case (_, t) => lines(t) }
      .map(nfc).distinct.size
    assert(out.map(_._2).sum == distinct,
      "sum of kept lines must equal the corpus's NFC-distinct line count")
    assert(out.map(_._3).sum > 0, "fixture should contain duplicate lines")
    // every decomposed twin deduplicates completely against its
    // original — the cross-encoding plant is load-bearing
    out.filter(_._1 >= 1000000000L).foreach { case (id, kept, _) =>
      assert(kept == 0L, s"twin $id kept $kept lines; NFC pass not applied")
    }
  }
}
