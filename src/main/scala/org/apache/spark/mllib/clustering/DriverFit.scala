package org.apache.spark.mllib.clustering

import java.util.Arrays

import dev.ludovic.netlib.lapack.LAPACK
import org.netlib.util.intW

import org.apache.spark.ml.feature.StandardScalerModel
import org.apache.spark.ml.linalg.{DenseMatrix, Vector}
import org.apache.spark.ml.stat.Summarizer
import org.apache.spark.mllib.linalg.{BLAS, DenseVector => OldDenseVector, Vectors => OldVectors}

/** The rest of the outbreak model fit, replayed on the driver over rows
  * already collected there: `StandardScaler(withMean, withStd)`, `PCA(k)`
  * and the `avg` / `stddev_samp` aggregate over the centroid distances.
  * Like [[DriverKMeans]], every step calls Spark's own code, or repeats
  * its arithmetic, in the order one partition would run it, so each
  * number equals what the Spark jobs produce on the same rows in one
  * partition, bit for bit. What it saves is the jobs.
  *
  * It reaches `private[spark]` pieces of MLlib (`Summarizer` buffers,
  * `StandardScalerModel.getTransformFunc`, `BLAS.spr`).
  */
object DriverFit {

  /** `StandardScaler.fit`'s per-feature mean and std: the `Summarizer`
    * aggregate's buffer, fed row by row. */
  def scalerStats(rows: Array[Vector]): (Vector, Vector) = {
    val buf = Summarizer.createSummarizerBuffer("mean", "std")
    rows.foreach(buf.add(_, 1.0))
    (buf.mean, buf.std)
  }

  /** `StandardScalerModel.transform` with mean and std: shift by the
    * mean, then multiply by 1/std, or by 0 where std is 0. */
  def scaler(mean: Vector, std: Vector): Vector => Vector =
    StandardScalerModel.getTransformFunc(mean.toArray,
      std.toArray.map(s => if (s == 0) 0.0 else 1.0 / s), true, true)

  /** `PCA.setK(k).fit`'s d×k principal components, for rows of at most
    * 65535 features. In that range MLlib does not pre-center. It takes
    * the column mean from a ("count", "mean") summary and builds the
    * covariance from a packed upper triangle one of two ways
    * (`RowMatrix.computeCovariance`): if some row is less than half zeros,
    * Σ (v − mean)(v − mean)ᵀ divided by m − 1; otherwise the Gramian
    * Σ v vᵀ, divided by m − 1, minus m/(m − 1)·mean·meanᵀ. Then LAPACK
    * `dgesdd` on the covariance, as breeze's `svd` calls it (its
    * work-array sizes are repeated here; calling LAPACK directly skips
    * breeze's start-up, about 2 s in a fresh JVM). */
  def pca(rows: Array[Vector], k: Int): DenseMatrix = {
    require(rows.nonEmpty, "PCA on an empty table")
    val n = rows.head.size
    require(k > 0 && k <= n, s"k = $k out of range (1 to $n)")
    require(n <= 65535, s"$n features: MLlib pre-centers above 65535")
    val summary = Summarizer.createSummarizerBuffer("count", "mean")
    rows.foreach(v => summary.add(v.nonZeroIterator, v.size, 1.0))
    val m = summary.count
    require(m > 1, s"covariance of $m row(s)")
    val mean = summary.mean.toArray
    val old = rows.map(OldVectors.fromML)
    val gramian = !old.exists(_.sparsity < 0.5)

    val packed = new Array[Double](n * (n + 1) / 2)
    if (gramian) old.foreach(v => BLAS.spr(1.0, v, packed))
    else old.foreach { v =>
      val ta = v.toArray
      val na = new Array[Double](n)
      var i = 0
      while (i < n) { na(i) = ta(i) - mean(i); i += 1 }
      BLAS.spr(1.0, new OldDenseVector(na), packed)
    }
    // RowMatrix.triuToFull, then the scaling (column-major, symmetric)
    val cov = new Array[Double](n * n)
    var idx = 0
    var c = 0
    while (c < n) {
      var r = 0
      while (r <= c) {
        cov(r + c * n) = packed(idx)
        cov(c + r * n) = packed(idx)
        idx += 1
        r += 1
      }
      c += 1
    }
    val m1 = m - 1.0
    var i = 0
    while (i < n) {
      val alpha = m / m1 * mean(i)
      var j = i
      while (j < n) {
        val v = if (gramian) cov(i + j * n) / m1 - alpha * mean(j) else cov(i + j * n) / m1
        cov(i + j * n) = v
        cov(j + i * n) = v
        j += 1
      }
      i += 1
    }

    val s = new Array[Double](n)
    val u = new Array[Double](n * n)
    val vt = new Array[Double](n * n)
    val work = new Array[Double](3 * n * n + math.max(n, 4 * n * n + 4 * n))
    val info = new intW(0)
    LAPACK.getInstance().dgesdd("A", n, n, cov, n, s, u, n, vt, n,
      work, work.length, new Array[Int](8 * n), info)
    if (info.`val` > 0) throw new breeze.linalg.NotConvergedException(
      breeze.linalg.NotConvergedException.Iterations)
    require(info.`val` == 0, s"dgesdd: illegal argument ${-info.`val`}")
    new DenseMatrix(n, k, Arrays.copyOfRange(u, 0, n * k))
  }

  /** `PCAModel.transform`: project onto the columns of `pc`. */
  def projection(pc: DenseMatrix): Vector => Vector = {
    val t = pc.transpose
    v => t.multiply(v)
  }

  /** `graft_sqdist` to the nearest center: the sequential Σ (a − b)²,
    * least over the centers. */
  def sqDistToNearest(v: Array[Double], centers: Array[Array[Double]]): Double = {
    var best = Double.PositiveInfinity
    var c = 0
    while (c < centers.length) {
      val x = centers(c)
      var sum = 0.0
      var i = 0
      while (i < v.length) { val d = v(i) - x(i); sum += d * d; i += 1 }
      if (sum < best) best = sum
      c += 1
    }
    best
  }

  /** Spark SQL's `avg(x)` and `stddev_samp(x)` over one partition: a
    * running sum divided by n, and the central-moment (Welford) update
    * then sqrt(m2 / (n − 1)). The final aggregate merges that one buffer
    * into an empty one, which leaves both unchanged. NaN where Spark
    * returns null (no rows; one row for the std). */
  def meanStd(xs: Array[Double]): (Double, Double) = {
    var sum = 0.0
    var n = 0.0
    var avg = 0.0
    var m2 = 0.0
    xs.foreach { x =>
      sum += x
      val newN = n + 1.0
      val delta = x - avg
      val deltaN = delta / newN
      avg += deltaN
      m2 += delta * (delta - deltaN)
      n = newN
    }
    (if (n == 0.0) Double.NaN else sum / n,
      if (n <= 1.0) Double.NaN else math.sqrt(m2 / (n - 1.0)))
  }
}
