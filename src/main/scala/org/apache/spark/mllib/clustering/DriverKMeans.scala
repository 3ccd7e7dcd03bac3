package org.apache.spark.mllib.clustering

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.linalg.{Vector => MLVector}
import org.apache.spark.mllib.linalg.{Vector, Vectors}
import org.apache.spark.util.Utils
import org.apache.spark.util.random.{BernoulliSampler, SamplingUtils, XORShiftRandom}

/** `ml.clustering.KMeans.fit` with its defaults (k-means|| init, 2 init
  * steps, maxIter 20, tol 1e-4, Euclidean, weight 1), replayed on the
  * driver over rows already collected there. The result equals
  * `new KMeans().setK(k).setSeed(seed).fit(df.coalesce(1))` bit for bit
  * when `points` is `df`'s collect order, because every step calls
  * MLlib's own pieces in the order one partition would run them,
  * random-number path included. What it saves is scheduling: MLlib runs
  * each Lloyd iteration and each init step as Spark jobs, which on a
  * table of a few hundred rows cost far more than the arithmetic.
  *
  * It lives in MLlib's package for `VectorWithNorm`, `DistanceMeasure`,
  * `LocalKMeans` and the sampling utilities, which are package-private.
  */
object DriverKMeans {

  /** Final centers, in MLlib's order, and the Lloyd iterations run. */
  case class Fit(centers: Array[MLVector], iterations: Int)

  // ml.clustering.KMeans defaults
  private val MaxIter = 20
  private val Tol = 1e-4
  private val InitSteps = 2
  private val measure = DistanceMeasure.decodeFromString(DistanceMeasure.EUCLIDEAN)

  def fit(points: Array[MLVector], k: Int, seed: Long): Fit = {
    val data = points.map { p =>
      val v = Vectors.fromML(p)
      new VectorWithNorm(v, Vectors.norm(v, 2.0), 1.0)
    }
    val centers = initKMeansParallel(data, k, seed)
    val dims = centers.head.vector.size
    var converged = false
    var iteration = 0
    while (iteration < MaxIter && !converged) {
      val stats =
        if (DistanceMeasure.shouldComputeStatistics(centers.length))
          Some(measure.computeStatistics(centers))
        else None
      val sums = Array.fill(centers.length)(Vectors.zeros(dims))
      val weights = new Array[Double](centers.length)
      data.foreach { p =>
        val best = measure.findClosest(centers, stats, p)._1
        measure.updateClusterSum(p, sums(best))
        weights(best) += p.weight
      }
      converged = true
      centers.indices.filter(weights(_) > 0).foreach { j =>
        val c = measure.centroid(sums(j), weights(j))
        if (!measure.isCenterConverged(centers(j), c, Tol)) converged = false
        centers(j) = c
      }
      iteration += 1
    }
    Fit(centers.map(_.vector.asML), iteration)
  }

  /** `mllib.clustering.KMeans.initKMeansParallel` on one partition. */
  private def initKMeansParallel(data: Array[VectorWithNorm], k: Int,
      seed: Long): Array[VectorWithNorm] = {
    val s = new XORShiftRandom(seed).nextInt()
    val first = takeOne(data, s)
    val centers = ArrayBuffer(first)
    var newCenters = Array(first)
    var costs = Array.fill(data.length)(Double.PositiveInfinity)
    var step = 0
    while (step < InitSteps) {
      costs = data.indices.map(i =>
        math.min(measure.pointCost(newCenters, data(i)), costs(i))).toArray
      val sumCosts = costs.foldLeft(0.0)(_ + _)
      val rand = new XORShiftRandom(s ^ (step << 16) ^ 0)
      newCenters = data.indices
        .filter(i => rand.nextDouble() < 2.0 * costs(i) * k / sumCosts)
        .map(i => data(i).toDense).toArray
      centers ++= newCenters
      step += 1
    }
    val distinct = centers.map(_.vector).distinct.map(new VectorWithNorm(_)).toArray
    if (distinct.length <= k) distinct
    else {
      val counts = new Array[Double](distinct.length)
      data.foreach(p => counts(measure.findClosest(distinct, p)._1) += 1)
      LocalKMeans.kMeansPlusPlus(0, distinct, counts, k, 30)
    }
  }

  /** `RDD.takeSample(false, 1, seed).head.toDense` on one partition. */
  private def takeOne(data: Array[VectorWithNorm], seed: Int): VectorWithNorm = {
    require(data.nonEmpty, "No samples available: empty input")
    val rand = new java.util.Random(seed)
    val sample =
      if (data.length == 1) Utils.randomizeInPlace(data.clone(), rand)
      else {
        val fraction = SamplingUtils.computeFractionForSampleSize(
          1, data.length, withReplacement = false)
        def once(): Array[VectorWithNorm] = {
          // PartitionwiseSampledRDD: partition 0's seed is the first
          // nextLong of a Random seeded with the sample() seed
          val sampler = new BernoulliSampler[VectorWithNorm](fraction)
          sampler.setSeed(new java.util.Random(rand.nextInt()).nextLong())
          sampler.sample(data.iterator).toArray
        }
        var taken = once()
        while (taken.isEmpty) taken = once()
        Utils.randomizeInPlace(taken, rand)
      }
    sample.head.toDense
  }
}
