package graft.outbreak

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.evaluation.ClusteringEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.mllib.clustering.DriverKMeans
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** KMeans-distance anomaly scorer — the reference's canonical batch scoring
  * path (SURVEY §2.11 M4/M5; reference notebook SparkBatchProcessKmeanPCA
  * .ipynb cells 6-15, re-derived).
  *
  * score(x) = z-score of the squared Euclidean distance from x's feature
  * vector to its assigned cluster centroid. |z| > 2 flags an anomaly.
  *
  * Scale notes: below `localEvalThreshold` rows the feature table is
  * collected once and every candidate k is fitted and evaluated on the
  * driver ([[org.apache.spark.mllib.clustering.DriverKMeans]], bit-identical
  * to MLlib), so model selection costs two Spark jobs instead of one per
  * Lloyd iteration; above it MLlib fits and evaluates distributed. Only
  * the k centroids reach scoring: they embed in the plan as array
  * literals (the reference closure-captured them — SURVEY §3 EP3 notes
  * the serialization cost) and the distance is a native codegen'd
  * expression; the z-score constants come from one scalar aggregate, not
  * a second ML pass.
  */
object AnomalyScorer {

  /** Assemble numeric feature columns into an ML `features` vector
    * (reference Main.scala:263-270). */
  def assemble(wide: DataFrame, featureCols: Seq[String]): DataFrame =
    new VectorAssembler()
      .setInputCols(featureCols.toArray)
      .setOutputCol("features")
      .setHandleInvalid("keep")
      .transform(wide)

  /** Silhouette-maximizing k in `kRange` (reference `select_k`,
    * README.md:713-731 semantics) and the winning model's cluster
    * centers, so the caller never re-fits (same seed ⇒ identical model;
    * the reference's loop discards and re-fits). Centers are what
    * `KMeans().setK(k).setSeed(seed).fit(features)` returns when
    * `features` has one partition. */
  def selectKModel(features: DataFrame, kRange: Range = 2 to 6,
      seed: Long = 1L, localEvalThreshold: Long = 50000L): (Int, Array[Vector]) = {
    val cached = features.cache()
    try {
      val n = cached.count()
      val fitted =
        if (n <= localEvalThreshold) {
          // Feature tables of days × regions rows are tiny next to the raw
          // input, and MLlib would spend one job per Lloyd iteration (and
          // per init step, and per silhouette pass) on them. Collect the
          // vectors ONCE; fit and evaluate every candidate k on the
          // driver. DriverKMeans replays MLlib on the rows in collect
          // order, which is the partition order MLlib would iterate.
          val vecs = cached.select("features").collect().map(_.getAs[Vector](0))
          val pts = vecs.map(_.toArray)
          kRange.map { k =>
            val centers = DriverKMeans.fit(vecs, k, seed).centers
            (k, centers, localSilhouette(pts, centers.map(_.toArray)))
          }
        } else {
          // Too big to collect: the candidate-k fits are independent Spark
          // jobs over the same cached table — submit them CONCURRENTLY
          // (Spark's scheduler interleaves jobs from different threads).
          // Same seed per k ⇒ identical models regardless of completion order.
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.Duration
          import scala.concurrent.ExecutionContext.Implicits.global
          Await.result(Future.sequence(kRange.map { k => Future {
            val model = new KMeans().setK(k).setSeed(seed).fit(cached)
            (k, model.clusterCenters,
              new ClusteringEvaluator().evaluate(model.transform(cached)))
          }}), Duration.Inf)
        }
      // deterministic tie-break: highest silhouette, then smallest k
      val best = fitted.sortBy(_._1).maxBy(_._3)
      (best._1, best._2)
    } finally cached.unpersist()
  }

  /** Mean silhouette with squared-Euclidean distance, computed from
    * cluster aggregates in O(n·k·d): assignment by nearest center (the
    * same rule KMeansModel.transform applies), a/b from per-cluster
    * (Σy, Σ‖y‖², n) — own-cluster mean excludes the point itself;
    * singleton clusters contribute 0 (standard convention). */
  private[outbreak] def localSilhouette(points: Array[Array[Double]],
      centers: Array[Array[Double]]): Double = {
    val k = centers.length
    val d = points.headOption.map(_.length).getOrElse(0)
    def sq(x: Array[Double], y: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { val t = x(i) - y(i); s += t * t; i += 1 }
      s
    }
    val assign = points.map { p =>
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < k) { val dd = sq(p, centers(c)); if (dd < bestD) { bestD = dd; best = c }; c += 1 }
      best
    }
    val counts = new Array[Long](k)
    val sums = Array.fill(k)(new Array[Double](d))
    val sqsums = new Array[Double](k)
    points.indices.foreach { i =>
      val c = assign(i); counts(c) += 1
      var j = 0
      while (j < d) { sums(c)(j) += points(i)(j); j += 1 }
      sqsums(c) += points(i).map(x => x * x).sum
    }
    val sil = points.indices.map { i =>
      val x = points(i)
      val own = assign(i)
      if (counts(own) <= 1) 0.0
      else {
        val x2 = x.map(v => v * v).sum
        def totalSq(c: Int): Double = {
          var dot = 0.0; var j = 0
          while (j < d) { dot += x(j) * sums(c)(j); j += 1 }
          counts(c) * x2 - 2.0 * dot + sqsums(c)
        }
        val a = totalSq(own) / (counts(own) - 1.0)
        val b = (0 until k).filter(c => c != own && counts(c) > 0)
          .map(c => totalSq(c) / counts(c)).min
        (b - a) / math.max(a, b)
      }
    }
    if (sil.isEmpty) 0.0 else sil.sum / sil.size
  }

  def selectK(features: DataFrame, kRange: Range = 2 to 6, seed: Long = 1L): Int =
    selectKModel(features, kRange, seed)._1

  /** Squared distance to the ASSIGNED (= nearest) centroid, as native
    * codegen'd expressions: the k centroids (tiny) embed as array
    * literals and the assignment rule "nearest center wins" is simply
    * `least` over the k `graft_sqdist` values — KMeansModel.transform's
    * prediction UDF never enters the scoring plan. `vec` must be the
    * feature vector as `array<double>`. */
  private def sqDistToNearest(centers: Array[Vector], vec: Column): Column = {
    val dists = centers.map { c =>
      call_function("graft_sqdist", vec, typedLit(c.toArray.toSeq))
    }
    if (dists.length == 1) dists.head else least(dists.toIndexedSeq: _*)
  }

  /** The feature vector as a plain `array<double>` column: built straight
    * from the raw numeric columns when the caller names them (pure
    * `array()` expression — zero UDFs in the scoring plan), falling back
    * to `vector_to_array` on the assembled ML vector (one conversion UDF;
    * needed when features came out of PCA and raw columns don't exist). */
  private def vecArray(rawCols: Seq[String]): Column =
    if (rawCols.nonEmpty) array(rawCols.map(c => col(c).cast("double")): _*)
    else org.apache.spark.ml.functions.vector_to_array(col("features"), "float64")

  /** Fit KMeans(k, seed) and return `(date, region, score)` where score is
    * the z-scored squared centroid distance. */
  def kmeansScores(spark: SparkSession, features: DataFrame, k: Int,
      seed: Long = 1L, rawCols: Seq[String] = Nil): DataFrame =
    scoresWithModel(spark, features,
      new KMeans().setK(k).setSeed(seed).fit(features).clusterCenters, rawCols)

  /** Score against already-fitted cluster centers (no re-fit, no
    * transform UDF). */
  def scoresWithModel(spark: SparkSession, features: DataFrame,
      centers: Array[Vector], rawCols: Seq[String] = Nil): DataFrame = {
    graft.plans.VectorExpressions.register(spark)
    val withDist = features
      .withColumn("distance", sqDistToNearest(centers, vecArray(rawCols)))
      .cache()
    val stats = withDist.agg(
      avg("distance").as("mu"), stddev_samp("distance").as("sigma")).first()
    val (mu, sigma) = (stats.getDouble(0), stats.getDouble(1))
    val denom = if (sigma == 0.0 || sigma.isNaN) 1.0 else sigma
    withDist.select(col("date"), col("region"),
      ((col("distance") - mu) / denom).as("score"))
  }

  /** Keep only |z| > `threshold` outliers (reference notebook cell 15). */
  def outliers(scores: DataFrame, threshold: Double = 2.0): DataFrame =
    scores.where(abs(col("score")) > threshold)
}
