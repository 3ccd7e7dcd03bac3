package graft.outbreak

import graft.operators.IsolationForest
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property-based invariants over the pure (non-Spark) kernels. */
object KernelProperties extends Properties("graft.kernels") {

  private val pointGen: Gen[Array[Double]] =
    Gen.containerOfN[Array, Double](3, Gen.choose(-100.0, 100.0))

  private val dataGen: Gen[Array[Array[Double]]] =
    Gen.choose(2, 60).flatMap(n => Gen.containerOfN[Array, Array[Double]](n, pointGen))

  property("iforest scores are in (0,1] and deterministic") =
    forAll(dataGen, pointGen) { (data, x) =>
      val m1 = IsolationForest.fit(data, numTrees = 10, seed = 3L)
      val m2 = IsolationForest.fit(data, numTrees = 10, seed = 3L)
      val s = m1.score(x)
      s > 0.0 && s <= 1.0 && s == m2.score(x)
    }

  property("iforest normalizer c(n) is nonnegative and monotone") =
    forAll(Gen.choose(1, 10000)) { n =>
      val c = IsolationForest.avgPathLength(n)
      c >= 0.0 && c <= IsolationForest.avgPathLength(n + 1)
    }

  property("local silhouette is bounded in [-1, 1]") =
    forAll(dataGen, Gen.choose(2, 5)) { (data, k) =>
      val centers = data.take(k).map(_.clone())
      val s = AnomalyScorer.localSilhouette(data, centers)
      Prop(s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9) :| s"silhouette=$s"
    }

  property("local silhouette of collapsed centers is finite in [-1, 1]") =
    forAll(dataGen, Gen.choose(1, 5), Gen.oneOf(true, false)) { (data, k, samePoints) =>
      // every point identical under k centers, or the points under one center
      val (points, centers) =
        if (samePoints) (Array.fill(data.length)(data.head.clone()), data.take(k).map(_.clone()))
        else (data, Array(data.head.clone()))
      val s = AnomalyScorer.localSilhouette(points, centers)
      Prop(!s.isNaN && !s.isInfinite && s >= -1.0 && s <= 1.0) :| s"silhouette=$s"
    }

  property("integer-cents accumulation is order-independent") =
    forAll(Gen.listOf(Gen.choose(-1e6, 1e6))) { xs =>
      def centsSum(vs: Seq[Double]): Long =
        vs.map(v => math.round(v * 100.0)).sum
      centsSum(xs) == centsSum(scala.util.Random.shuffle(xs))
    }
}
