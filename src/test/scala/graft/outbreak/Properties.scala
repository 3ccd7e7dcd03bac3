package graft.outbreak

import java.sql.Date
import java.time.LocalDate

import graft.operators.IsolationForest
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, forAllNoShrink}

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

/** The outbreak model on the tiny histories a fresh deployment starts
  * from: 1–3 dates of 1–3 regions, each series constant, all zeros, all
  * nulls, or free with zeros and nulls. */
object TinyHistoryProperties extends Properties("graft.outbreak") {

  // each case runs a fit and an increment on the shared Spark session
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(30)

  private val terms = Seq("Cough", "Fever")

  private def seriesGen(days: Int): Gen[Seq[Option[Double]]] = Gen.oneOf(
    Gen.choose(0.0, 100.0).map(c => Seq.fill(days)(Some(c))),
    Gen.const(Seq.fill(days)(Some(0.0))),
    Gen.const(Seq.fill[Option[Double]](days)(None)),
    Gen.listOfN(days, Gen.option(Gen.oneOf(Gen.const(0.0), Gen.choose(0.0, 100.0)))))

  private val historyGen = for {
    dates <- Gen.choose(1, 3)
    regions <- Gen.choose(1, 3)
    series <- Gen.listOfN(regions * terms.size, seriesGen(dates + 1))
  } yield (dates, regions, series)

  property("a fit on 1–3 dates and an increment of one more day score finite values") =
    // no shrinking: it would leave the generator's 1–3 ranges
    forAllNoShrink(historyGen) { case (dates, regions, series) =>
      val spark = graft.SparkTestBase.session
      import spark.implicits._
      def date(d: Int) = Date.valueOf(LocalDate.of(2020, 1, 1).plusDays(d))
      val daily = (for {
        r <- 0 until regions
        (kw, k) <- terms.zipWithIndex
        d <- 0 to dates
      } yield (date(d), s"R$r", kw, series(r * terms.size + k)(d)))
        .toDF("date", "region", "kw", "value")
      val (scores, model, state) = IncrementalOutbreak.fitFull(spark,
        daily.where($"date" < date(dates)), terms)
      val increment = IncrementalOutbreak.tryScoreIncrement(spark,
        daily.where($"date" === date(dates)), model, state)
      val zs = scores.collect().map(_.getDouble(2)) ++
        increment.toSeq.flatMap(_._1.collect().map(_.getDouble(2)))
      Prop(increment.isDefined && zs.forall(z => !z.isNaN && !z.isInfinite)) :|
        s"increment=${increment.isDefined} scores=${zs.mkString(",")}"
    }
}
