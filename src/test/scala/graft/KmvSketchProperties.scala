package graft

import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.LongType
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

import graft.functions.KmvSketch

/** ScalaCheck properties for the KMV aggregate's buffer algebra, driven
  * through the real TypedImperativeAggregate surface (update / serialize
  * / deserialize / merge / eval) exactly as an exchange would drive it.
  * The k sweep covers the boundaries the gate's fixed k=64 never
  * exercises: k=1 (the `add` fast path where buf.last IS the only
  * element), k=2, the 63/64 straddle, and a k far above any input size.
  */
object KmvSketchProperties extends Properties("KmvSketch") {

  /** Feed `parts` as independent partials (with a serde round-trip on
    * each, like a real shuffle), merge, and evaluate.
    */
  private def sketch(k: Int, parts: Seq[Seq[Long]]): Seq[Long] = {
    val agg = KmvSketch(BoundReference(0, LongType, nullable = true), k)
    val bufs = parts.map { p =>
      val b = agg.createAggregationBuffer()
      p.foreach(v => agg.update(b, new GenericInternalRow(Array[Any](v))))
      agg.deserialize(agg.serialize(b))
    }
    val merged = bufs.foldLeft(agg.createAggregationBuffer())(agg.merge)
    agg.eval(merged).asInstanceOf[ArrayData].toLongArray().toSeq
  }

  private val ks = Seq(1, 2, 63, 64, 1024)

  // heavy duplicates (tiny domain), full-range values, and the signed
  // extremes — duplicates OF the current maximum are the adversarial
  // case for the `add` replace path (add must not evict on a non-insert)
  private val valsGen: Gen[List[Long]] = Gen.listOf(Gen.frequency(
    4 -> Gen.chooseNum(-5L, 5L),
    2 -> Gen.chooseNum(Long.MinValue, Long.MaxValue),
    1 -> Gen.const(Long.MaxValue),
    1 -> Gen.const(Long.MinValue)))

  property("= k smallest distinct values, any k, any partitioning, with serde") =
    Prop.forAll(valsGen, Gen.chooseNum(1, 7)) { (vals, nParts) =>
      val parts =
        if (vals.isEmpty) Seq(Seq.empty[Long])
        else vals.zipWithIndex.groupBy(_._2 % nParts)
          .values.map(_.map(_._1)).toSeq
      ks.forall(k => sketch(k, parts) == vals.distinct.sorted.take(k))
    }

  property("n <= k is exact: the sketch IS the distinct set") =
    Prop.forAll(Gen.listOfN(40, Gen.chooseNum(-100L, 100L))) { vals =>
      // 40 draws from a 201-value domain: distinct count <= 40 < 63
      ks.filter(_ >= 63).forall(k =>
        sketch(k, Seq(vals)) == vals.distinct.sorted)
    }

  property("merge is order-insensitive and idempotent on overlap") =
    Prop.forAll(valsGen, valsGen) { (a, b) =>
      ks.forall { k =>
        sketch(k, Seq(a, b)) == sketch(k, Seq(b, a)) &&
        sketch(k, Seq(a, b, a)) == sketch(k, Seq(a, b))
      }
    }

  property("estimator error bound over a uniform 60-bit hash space (k=64)") = {
    // deterministic per draw: n distinct values through the splitmix64
    // finalizer, masked to 60 bits. With U the k-th smallest value over
    // 2^60, n*U is ~Gamma(k, 1) and est/n = (k-1)/(n*U), so the error is
    // skewed: an under-estimate needs n*U far above k (light tail),
    // an over-estimate n*U near zero (heavy tail). Each side gets the
    // bound a correct estimator breaks with probability < 1e-9: under,
    // 4/sqrt(k-2); over, the 1e-9 lower quantile of Gamma(k, 1) mapped
    // through (k-1)/x - 1 (~1.33 at k=64; a symmetric 4/sqrt(k-2)
    // bound falsely failed ~0.08% of draws, e.g. n=200000, seed=86
    // overestimates by 0.530). The batch mean of est/n must lie within
    // 6 standard errors of 1, so a biased estimator still fails.
    def splitmix(x0: Long): Long = {
      var x = x0 + 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      (x ^ (x >>> 31)) & ((1L << 60) - 1)
    }
    val k = 64
    def ratio(n: Int, seed: Long): Double = {
      val hashes = (0 until n).map(i => splitmix(seed * 1000003L + i))
      val mk = sketch(k, Seq(hashes)).last
      (k - 1).toDouble * math.pow(2, 60) / mk.toDouble / n
    }
    // P(Gamma(k, 1) < x) = P(Poisson(x) >= k); bisect for 1e-9
    def gammaCdf(x: Double): Double = {
      var term = math.exp(-x)
      var sum = term
      for (j <- 1 until k) { term *= x / j; sum += term }
      1 - sum
    }
    val q = Iterator.iterate((0.0, k.toDouble)) { case (lo, hi) =>
      val mid = (lo + hi) / 2
      if (gammaCdf(mid) < 1e-9) (mid, hi) else (lo, mid)
    }.drop(60).next()._1
    val under = 4.0 / math.sqrt(k - 2.0)
    val over = (k - 1) / q - 1
    val batch = 100
    val draw = Gen.zip(Gen.chooseNum(10000, 200000), Gen.chooseNum(1L, 1000L))
    // one evaluation checks the whole batch (Proof ends the run)
    val check = Prop.forAllNoShrink(Gen.listOfN(batch, draw)) { draws =>
      val rs = draws.map { case (n, seed) => (n, seed, ratio(n, seed)) }
      val bad = ((200000, 86L, ratio(200000, 86L)) +: rs)
        .filterNot { case (_, _, r) => r > 1 - under && r < 1 + over }
      val mean = rs.map(_._3).sum / batch
      val meanTol = 6 / math.sqrt(k - 2.0) / math.sqrt(batch.toDouble)
      (bad.isEmpty :| s"est/n out of (${1 - under}, ${1 + over}): $bad") &&
        ((math.abs(mean - 1) < meanTol) :| s"batch mean est/n $mean, tolerance $meanTol")
    }
    Prop { prms =>
      val res = check(prms)
      if (res.status == Prop.True) res.copy(status = Prop.Proof) else res
    }
  }
}
