package graft.outbreak

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.evaluation.ClusteringEvaluator
import org.apache.spark.ml.feature.{PCA, StandardScaler, VectorAssembler}
import org.apache.spark.ml.linalg.{DenseMatrix, Vector}
import org.apache.spark.mllib.clustering.{DriverFit, DriverKMeans}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.operators.Lineage.CutOps

/** KMeans-distance anomaly scorer — the reference's canonical batch scoring
  * path (SURVEY §2.11 M2-M5; reference notebook SparkBatchProcessKmeanPCA
  * .ipynb cells 6-15, re-derived): optional StandardScaler + PCA(k), KMeans
  * with silhouette-selected k, then score(x) = z-score of the squared
  * Euclidean distance from x's feature vector to its nearest centroid.
  * |z| > 2 flags an anomaly.
  *
  * Scale notes: [[fit]] is the one model fit of every outbreak path. Below
  * `localEvalThreshold` rows it collects the feature table once and fits
  * the whole model on the driver — scaler, PCA, every candidate k, the
  * distance normalization — with
  * [[org.apache.spark.mllib.clustering.DriverFit]] and
  * [[org.apache.spark.mllib.clustering.DriverKMeans]], bit-identical to
  * the MLlib and Spark SQL path, and returns the scores as a local
  * relation: the feature pipeline's own jobs and nothing else. Above it
  * MLlib fits distributed (one job per pass, per Lloyd iteration, per
  * silhouette), only the k centroids reach scoring — as array literals in
  * a native codegen'd distance expression (the reference closure-captured
  * them; SURVEY §3 EP3 notes the serialization cost) — and the z-score
  * constants come from one scalar aggregate over a materialized distance
  * table, not a second ML pass.
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

  /** The fitted scaler (per-feature mean and std) and the d×k PCA basis. */
  case class Projection(mean: Vector, std: Vector, pc: DenseMatrix)

  /** A fitted outbreak model: the projection (None without PCA), the
    * cluster centers in the projected space, and the z-normalization of
    * the nearest-center distance (sigma is 1 where the std is 0 or NaN). */
  case class Model(projection: Option[Projection], centers: Array[Vector],
      mu: Double, sigma: Double)

  /** Fit the model on `assembled` (`date`, `region`, `features`) and score
    * every row: returns `(date, region, score)` and the model. `pcaK` > 0
    * standardizes and projects to `pcaK` components first; 0 clusters the
    * raw features. Rows are taken in the order of `assembled` coalesced to
    * one partition, which is the order the seeded fits depend on. */
  def fit(assembled: DataFrame, pcaK: Int, kRange: Range = 2 to 6,
      seed: Long = 1L, localEvalThreshold: Long = 50000L): (DataFrame, Model) = {
    val table = assembled.select("date", "region", "features").coalesce(1)
    withCached(table) { cached =>
      // one collect, capped: a table over the threshold stays distributed
      val local = cached.limit(math.min(localEvalThreshold + 1, Int.MaxValue).toInt)
        .collect()
      if (local.length <= localEvalThreshold) driverFit(cached, local, pcaK, kRange, seed)
      else mllibFit(cached, pcaK, kRange, seed, localEvalThreshold)
    }
  }

  /** [[fit]] on rows collected to the driver. Days × regions feature tables
    * are tiny next to the raw input, and MLlib spends one job per pass over
    * them; each step here replays MLlib or Spark SQL on the rows in collect
    * order, which is the order one partition runs them in. */
  private def driverFit(table: DataFrame, rows: Array[Row], pcaK: Int,
      kRange: Range, seed: Long): (DataFrame, Model) = {
    val vecs = rows.map(_.getAs[Vector](2))
    val (projection, points) =
      if (pcaK > 0) {
        val (mean, std) = DriverFit.scalerStats(vecs)
        val scaled = vecs.map(DriverFit.scaler(mean, std))
        val pc = DriverFit.pca(scaled, pcaK)
        (Some(Projection(mean, std, pc)), scaled.map(DriverFit.projection(pc)))
      } else (None, vecs)
    val (_, centers) = selectLocal(points, kRange, seed)
    val cs = centers.map(_.toArray)
    val dist = points.map(p => DriverFit.sqDistToNearest(p.toArray, cs))
    val (mu, std) = DriverFit.meanStd(dist)
    val sigma = zScale(std)
    val scores = rows.indices.map(i =>
      Row(rows(i).get(0), rows(i).get(1), (dist(i) - mu) / sigma))
    val schema = StructType(Seq(table.schema("date"), table.schema("region"),
      StructField("score", DoubleType)))
    (table.sparkSession.createDataFrame(scores.asJava, schema),
      Model(projection, centers, mu, sigma))
  }

  /** [[fit]] with MLlib and Spark jobs, for tables the driver cannot hold. */
  private def mllibFit(table: DataFrame, pcaK: Int, kRange: Range, seed: Long,
      localEvalThreshold: Long): (DataFrame, Model) = {
    val (projection, projected) =
      if (pcaK > 0) {
        val scaler = new StandardScaler().setWithMean(true).setWithStd(true)
          .setInputCol("features").setOutputCol("scaled").fit(table)
        val scaled = scaler.transform(table)
        val pca = new PCA().setK(pcaK).setInputCol("scaled").setOutputCol("pca")
          .fit(scaled)
        (Some(Projection(scaler.mean, scaler.std, pca.pc)),
          pca.transform(scaled)
            .select(col("date"), col("region"), col("pca").as("features")))
      } else (None, table)
    withCached(projected) { ml =>
      val (_, centers) = selectKModel(ml, kRange, seed, localEvalThreshold)
      val (scores, mu, sigma) = scoresWithModel(ml, centers)
      (scores, Model(projection, centers, mu, sigma))
    }
  }

  /** `body(df)` on `df` cached. Only a cache this call made is released
    * afterwards: a frame the caller cached stays cached. */
  private def withCached[T](df: DataFrame)(body: DataFrame => T): T =
    if (df.storageLevel != StorageLevel.NONE) body(df)
    else {
      val cached = df.cache()
      try body(cached) finally cached.unpersist()
    }

  /** Silhouette-maximizing k in `kRange` (reference `select_k`,
    * README.md:713-731 semantics) and the winning model's cluster
    * centers, so the caller never re-fits (same seed ⇒ identical model;
    * the reference's loop discards and re-fits). Centers are what
    * `KMeans().setK(k).setSeed(seed).fit(features)` returns when
    * `features` has one partition. */
  def selectKModel(features: DataFrame, kRange: Range = 2 to 6,
      seed: Long = 1L, localEvalThreshold: Long = 50000L): (Int, Array[Vector]) =
    withCached(features) { cached =>
      if (cached.count() <= localEvalThreshold)
        selectLocal(cached.select("features").collect().map(_.getAs[Vector](0)),
          kRange, seed)
      else {
        // Too big to collect: the candidate-k fits are independent Spark
        // jobs over the same cached table — submit them CONCURRENTLY
        // (Spark's scheduler interleaves jobs from different threads).
        // Same seed per k ⇒ identical models regardless of completion order.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        best(Await.result(Future.sequence(kRange.map { k => Future {
          val model = new KMeans().setK(k).setSeed(seed).fit(cached)
          (k, model.clusterCenters,
            new ClusteringEvaluator().evaluate(model.transform(cached)))
        }}), Duration.Inf))
      }
    }

  /** [[selectKModel]] on vectors collected to the driver: every candidate
    * k fitted by DriverKMeans, which replays MLlib on the rows in the
    * given order, and scored by [[localSilhouette]]. */
  private def selectLocal(vecs: Array[Vector], kRange: Range,
      seed: Long): (Int, Array[Vector]) = {
    val pts = vecs.map(_.toArray)
    best(kRange.map { k =>
      val centers = DriverKMeans.fit(vecs, k, seed).centers
      (k, centers, localSilhouette(pts, centers.map(_.toArray)))
    })
  }

  /** Highest silhouette, ties to the smallest k. */
  private def best(fitted: Seq[(Int, Array[Vector], Double)]): (Int, Array[Vector]) = {
    val b = fitted.sortBy(_._1).maxBy(_._3)
    (b._1, b._2)
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

  /** The distance to a z-score divides by this: the std, or 1 where the
    * std is 0 or undefined. */
  private def zScale(std: Double): Double =
    if (std == 0.0 || std.isNaN) 1.0 else std

  /** Squared distance to the ASSIGNED (= nearest) centroid, as native
    * codegen'd expressions: the k centroids (tiny) embed as array
    * literals and the assignment rule "nearest center wins" is simply
    * `least` over the k `graft_sqdist` values — KMeansModel.transform's
    * prediction UDF never enters the scoring plan. `vec` must be the
    * feature vector as `array<double>`. */
  private[outbreak] def sqDistToNearest(centers: Seq[Seq[Double]], vec: Column): Column = {
    val dists = centers.map(c => call_function("graft_sqdist", vec, typedLit(c)))
    if (dists.length == 1) dists.head else least(dists: _*)
  }

  /** Fit KMeans(k, seed) and return `(date, region, score)` where score is
    * the z-scored squared centroid distance. */
  def kmeansScores(spark: SparkSession, features: DataFrame, k: Int,
      seed: Long = 1L): DataFrame =
    scoresWithModel(features,
      new KMeans().setK(k).setSeed(seed).fit(features).clusterCenters)._1

  /** Score `features` against fitted cluster centers (no re-fit, no
    * transform UDF): `(date, region, score)`, mu and sigma. The distance
    * table is materialized once by a lineage cut, which the mu/sigma
    * aggregate and the returned scores both read; it is no cache entry, so
    * nothing outlives the caller's use of the scores. */
  private def scoresWithModel(features: DataFrame,
      centers: Array[Vector]): (DataFrame, Double, Double) = {
    graft.plans.VectorExpressions.register(features.sparkSession)
    val withDist = features.withColumn("distance", sqDistToNearest(
      centers.map(_.toArray.toSeq).toSeq,
      org.apache.spark.ml.functions.vector_to_array(col("features"), "float64")))
      .cut()
    val stats = withDist.agg(
      avg("distance").as("mu"), stddev_samp("distance").as("sigma")).first()
    val (mu, sigma) = (stats.getDouble(0), zScale(stats.getDouble(1)))
    (withDist.select(col("date"), col("region"),
      ((col("distance") - mu) / sigma).as("score")), mu, sigma)
  }

  /** Keep only |z| > `threshold` outliers (reference notebook cell 15). */
  def outliers(scores: DataFrame, threshold: Double = 2.0): DataFrame =
    scores.where(abs(col("score")) > threshold)
}
