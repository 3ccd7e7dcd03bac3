package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed alternating least squares (explicit-feedback ALS-WR,
  * Zhou et al. 2008) — the classic latent-factor recommender, built
  * the Spark-native way: each half-iteration is ratings ⋈ other-side
  * factors (hash shuffle on the other-side key) followed by a
  * `groupByKey.mapGroups` per this-side key that solves one k×k
  * normal system from its observed ratings only. Nothing is ever
  * collected to the driver; both factor sides stay distributed, so
  * user and item vocabularies in the billions shard like any other
  * keyed table.
  *
  * Cross-run determinism (the property that lets a golden spec pin
  * the output): every floating accumulation with an engine-chosen
  * order is removed —
  *   - factor init is a pure salted-md5 function of (id, dim);
  *   - each per-key normal matrix folds its group's rows AFTER
  *     sorting by the other-side id, so the IEEE sum order is fixed;
  *   - the k×k solve is Gaussian elimination with partial pivoting —
  *     deterministic for a fixed matrix;
  *   - the global training-error aggregate quantizes each row's
  *     squared error to integer micro-units FIRST and sums longs
  *     (integer addition commutes; a double sum would not).
  *
  * Scale notes: λ is per-observation-weighted (ALS-WR), so hot keys
  * are not over-regularized. A key with 10⁸ observations makes one
  * `mapGroups` group — at that skew, pre-aggregate the group's
  * (y·yᵗ, r·y) partials map-side per partition and merge in a fixed
  * partition order; the k(k+1)/2 + k floats per partial keep the
  * shuffle tiny. Not needed at the corpus sizes here.
  */
object Als {

  /** Deterministic factor init in [0.1, 0.9): a pure function of
    * (id, dim) — identical across runs, executors, and retries. */
  private def initVec(k: Int, salt: String) = array((0 until k).map { f =>
    lit(0.1) + lit(0.8) *
      (conv(substring(md5(concat(lit(s"$salt$f:"),
        col("id").cast("string"))), 1, 13), 16, 10).cast("double") /
        lit(4503599627370496.0))
  }: _*)

  /** Solve A·x = b (A symmetric positive-definite k×k) by Gaussian
    * elimination with partial pivoting. Deterministic; k is tiny. */
  private[operators] def solve(a: Array[Array[Double]],
      b: Array[Double]): Array[Double] = {
    val k = b.length
    val m = Array.tabulate(k)(i => a(i) :+ b(i))
    var col = 0
    while (col < k) {
      var piv = col
      var row = col + 1
      while (row < k) {
        if (math.abs(m(row)(col)) > math.abs(m(piv)(col))) piv = row
        row += 1
      }
      val tmp = m(col); m(col) = m(piv); m(piv) = tmp
      val d = m(col)(col)
      row = col + 1
      while (row < k) {
        val f = m(row)(col) / d
        var j = col
        while (j <= k) { m(row)(j) -= f * m(col)(j); j += 1 }
        row += 1
      }
      col += 1
    }
    val x = new Array[Double](k)
    var i = k - 1
    while (i >= 0) {
      var s = m(i)(k)
      var j = i + 1
      while (j < k) { s -= m(i)(j) * x(j); j += 1 }
      x(i) = s / m(i)(i)
      i -= 1
    }
    x
  }

  /** One ALS half-step: re-solve `key`-side factors against fixed
    * `other`-side factors. `ratings` = (key, other, r). */
  private def solveSide(ratings: DataFrame, otherFactors: DataFrame,
      k: Int, lambda: Double): DataFrame =
    solvedGroups(ratings, otherFactors, k, lambda)
      .toDF("id", "vec", "__n", "__sse").select("id", "vec")

  /** [[solveSide]] that additionally folds the iteration's SSE into the
    * same shuffle: each rating belongs to exactly one `key` group, and
    * the group's observations carry the FRESH other-side vectors, so
    * scoring (r − x·y)² against the just-solved x inside the mapGroups
    * yields exactly [[errorOf]]'s statistic for the completed
    * alternation — without errorOf's two extra corpus joins per
    * iteration. Quantization is [[halfUp]], the Spark-`round`
    * bit-identical snap, and the dot product walks dims in zip_with's
    * sequential order, so the golden q232 curve is unchanged. */
  private def solveSideWithError(ratings: DataFrame, otherFactors: DataFrame,
      k: Int, lambda: Double): DataFrame =
    solvedGroups(ratings, otherFactors, k, lambda)
      .toDF("id", "vec", "__n", "__sse")

  /** Spark SQL `round(x, 0)` as a whole Long: HALF_UP over the
    * SHORTEST-decimal rendering (`BigDecimal.valueOf`, not the exact
    * binary expansion). `math.round`'s `floor(x + 0.5)` drifts on
    * .5-adjacent doubles. Out-of-long-range input fails loudly
    * (`longValueExact`) instead of saturating. */
  private def halfUp(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  private def solvedGroups(ratings: DataFrame, otherFactors: DataFrame,
      k: Int, lambda: Double)
      : org.apache.spark.sql.Dataset[(Long, Seq[Double], Long, Long)] = {
    val spark = ratings.sparkSession
    import spark.implicits._
    ratings.join(otherFactors.withColumnRenamed("id", "other"), "other")
      .select(col("key"), col("other"), col("r"), col("vec"))
      .as[(Long, Long, Double, Seq[Double])]
      .groupByKey(_._1)
      .mapGroups { (key, it) =>
        // fixed fold order: sort the group by the other-side id
        val obs = it.toArray.sortBy(_._2)
        val a = Array.fill(k, k)(0.0)
        val b = new Array[Double](k)
        obs.foreach { case (_, _, r, y) =>
          var i = 0
          while (i < k) {
            val yi = y(i)
            b(i) += r * yi
            var j = 0
            while (j < k) { a(i)(j) += yi * y(j); j += 1 }
            i += 1
          }
        }
        val reg = lambda * obs.length // ALS-WR per-observation weighting
        var i = 0
        while (i < k) { a(i)(i) += reg; i += 1 }
        val x = solve(a, b)
        // group SSE against the fresh x: y(i)*x(i) in ascending-dim
        // order = errorOf's zip_with fold; halfUp = Spark round
        var sse = 0L
        obs.foreach { case (_, _, r, y) =>
          var d = 0.0
          var j = 0
          while (j < k) { d += y(j) * x(j); j += 1 }
          val e = r - d
          sse += halfUp(e * e * 1000000.0)
        }
        (key, x.toSeq, obs.length.toLong, sse)
      }
  }

  /** Quantized training error of the current factors: one row
    * (n_obs, sse_micro, rmse_milli). Integer sum — order-free. */
  private def errorOf(ratings: DataFrame, uf: DataFrame,
      vf: DataFrame): DataFrame =
    ratings
      .join(uf.select(col("id").as("key"), col("vec").as("uv")), "key")
      .join(vf.select(col("id").as("other"), col("vec").as("vv")), "other")
      .select((col("r") - expr(
        "aggregate(zip_with(uv, vv, (a, b) -> a * b), 0d, (acc, x) -> acc + x)"))
        .as("e"))
      .agg(count(lit(1)).as("n_obs"),
        sum(expr("cast(round(e * e * 1000000) as bigint)")).as("sse_micro"))
      .select(col("n_obs"), col("sse_micro"),
        expr("""cast(round(sqrt(cast(sse_micro as double)
               | / cast(n_obs as double) / 1000000.0) * 1000) as bigint)"""
          .stripMargin).as("rmse_milli"))

  /** Train `iters` full alternations of rank-`k` ALS over
    * (key, other, r) ratings; returns the per-iteration error curve
    * (iter, n_obs, sse_micro, rmse_milli) — iter 0 is the error of
    * the deterministic init. */
  def errorCurve(spark: SparkSession, ratings0: DataFrame, k: Int,
      iters: Int, lambda: Double): DataFrame = {
    import spark.implicits._
    val ratings = ratings0.persist()
    var uf = ratings.select(col("key").as("id")).distinct()
      .withColumn("vec", initVec(k, "alsu:")).persist()
    var vf = ratings.select(col("other").as("id")).distinct()
      .withColumn("vec", initVec(k, "alsv:")).persist()
    // Each iteration's one-row error is collected EAGERLY, while that
    // iteration's factors are still cached — a deferred
    // union-then-collect would recompute the whole solveSide chain from
    // the init for every curve row once the factor frames rotate out of
    // cache (O(iters²) shuffle work). The iteration error itself is
    // FOLDED into the second half-step's shuffle ([[solveSideWithError]]
    // — the fresh vf groups see every rating once with the fresh uf
    // vectors), so per iteration the only corpus-scale work is the two
    // solve joins; errorOf survives solely for the iter-0 init error.
    // The collect doubles as the materialization barrier that fills the
    // new factors' cache before the next half-step builds on them.
    val curve = Seq.newBuilder[(Int, Long, Long, Long)]
    val init = errorOf(ratings, uf, vf).collect()(0)
    curve += ((0, init.getLong(0), init.getLong(1), init.getLong(2)))
    val flipped = ratings.select(col("other").as("key"),
      col("key").as("other"), col("r"))
    (1 to iters).foreach { t =>
      val uf2 = solveSide(ratings, vf, k, lambda).persist()
      uf.unpersist(); uf = uf2
      val vf2e = solveSideWithError(flipped, uf, k, lambda).persist()
      vf.unpersist(); vf = vf2e
      val r = vf2e.agg(sum("__n").as("n_obs"), sum("__sse").as("sse_micro"))
        .select(col("n_obs"), col("sse_micro"),
          expr("""cast(round(sqrt(cast(sse_micro as double)
                 | / cast(n_obs as double) / 1000000.0) * 1000) as bigint)"""
            .stripMargin).as("rmse_milli"))
        .collect()(0)
      curve += ((t, r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    ratings.unpersist(); uf.unpersist(); vf.unpersist()
    curve.result().toDF("iter", "n_obs", "sse_micro", "rmse_milli")
  }
}
