package graft.outbreak

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.evaluation.ClusteringEvaluator
import org.apache.spark.ml.feature.{PCA, StandardScaler, VectorAssembler}
import org.apache.spark.ml.linalg.{DenseMatrix, Vector, Vectors}
import org.apache.spark.mllib.clustering.{DriverFit, DriverKMeans}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.Lineage.CutOps

/** KMeans-distance anomaly scorer — the reference's canonical batch scoring
  * path (SURVEY §2.11 M2-M5; reference notebook SparkBatchProcessKmeanPCA
  * .ipynb cells 6-15, re-derived): optional StandardScaler + PCA(k), KMeans
  * with silhouette-selected k, then score(x) = z-score of the squared
  * Euclidean distance from x's feature vector to its nearest centroid.
  * |z| > 2 flags an anomaly.
  *
  * Scale notes: [[fit]] is the one model fit of every outbreak path, from
  * the tidy daily table to the scores. Below `localEvalThreshold` feature
  * rows it collects the tidy rows once and does everything else on the
  * driver: the feature front (detrend, pivot, month one-hot, assembly,
  * replayed by [[localFront]]) and the whole model — scaler, PCA, every
  * candidate k, the distance normalization — with
  * [[org.apache.spark.mllib.clustering.DriverFit]] and
  * [[org.apache.spark.mllib.clustering.DriverKMeans]], bit-identical to
  * the Spark front and the MLlib path, and returns the scores and the
  * detrend state as local relations: one Spark job, the collect. Above it
  * the Spark front ([[sparkFront]]) runs, MLlib fits distributed (one job
  * per pass, per Lloyd iteration, per silhouette), only the k centroids
  * reach scoring — as array literals in a native codegen'd distance
  * expression (the reference closure-captured them; SURVEY §3 EP3 notes
  * the serialization cost) — and the z-score constants come from one
  * scalar aggregate over a materialized distance table, not a second ML
  * pass. Both fronts hand the fit its rows in (date, region) order, which
  * is the order the seeded k-means|| initialization depends on; without
  * it the model would follow the shuffle partitioning. The app's
  * increments ([[IncrementalOutbreak]]) run the same driver front, seeded
  * with the saved detrend state, and the same scorer ([[Model.score]]).
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
      mu: Double, sigma: Double) {

    /** The z-scores of feature rows, in order: the scaler, the PCA
      * projection, the squared distance to the nearest center, then
      * (d − mu) / sigma, each step MLlib's or Spark SQL's arithmetic. The
      * driver fit scores its own rows with this, and an increment its new
      * rows. */
    def score(features: Array[Vector]): Array[Double] = {
      val points = projection.fold(features)(p =>
        features.map(DriverFit.scaler(p.mean, p.std).andThen(DriverFit.projection(p.pc))))
      sqDistsToNearest(points, centers).map(d => (d - mu) / sigma)
    }
  }

  private def sqDistsToNearest(points: Array[Vector], centers: Array[Vector]): Array[Double] = {
    val cs = centers.map(_.toArray)
    points.map(p => DriverFit.sqDistToNearest(p.toArray, cs))
  }

  /** The per-series detrend state: the count `n` and the sum `sumv` of the
    * non-null values of each (region, kw). */
  private[outbreak] val StateSchema: StructType = StructType(Seq(
    StructField("region", StringType), StructField("kw", StringType),
    StructField("n", LongType, nullable = false), StructField("sumv", DoubleType)))

  /** The feature-row count up to which the fit runs on the driver. */
  private[outbreak] val LocalEvalThreshold = 50000L

  /** Fit the model on the tidy daily table `daily` (`date`, `region`, `kw`,
    * `value`, one row per (date, region, kw)) over the terms `vocab`, and
    * score every (date, region): returns `(date, region, score)`, the
    * model, and the per-series detrend state `(region, kw, n, sumv)` — the
    * count and the sum of the non-null values. `pcaK` > 0 standardizes and
    * projects to `pcaK` components first, at most one per feature; 0
    * clusters the raw features. */
  def fit(daily: DataFrame, vocab: Seq[String], pcaK: Int, kRange: Range = 2 to 6,
      seed: Long = 1L,
      localEvalThreshold: Long = LocalEvalThreshold): (DataFrame, Model, DataFrame) = {
    val k = math.min(pcaK, Preprocess.featureCols(Preprocess.sanitizeVocab(vocab)).size)
    localFront(daily, vocab, localEvalThreshold) match {
      case Some(front) =>
        val (scores, model) = driverFit(daily, front, k, kRange, seed)
        (scores, model, front.state)
      case None =>
        val (scores, model) = withCached(sparkFront(daily, vocab)) { table =>
          mllibFit(table, k, kRange, seed, localEvalThreshold)
        }
        val state = Preprocess.sanitizeTerms(daily).groupBy("region", "kw")
          .agg(count("value").as("n"), sum(col("value").cast(DoubleType)).as("sumv"))
        (scores, model, state)
    }
  }

  /** The model input built with Spark: daily → detrend → pivot → month
    * one-hot → assembled `features`, one row per (date, region), on one
    * partition in (date, region) order. */
  private[outbreak] def sparkFront(daily: DataFrame, vocab: Seq[String]): DataFrame = {
    val sanVocab = Preprocess.sanitizeVocab(vocab)
    val wide = Preprocess.withMonthOneHot(
      Preprocess.pivotWide(
        Preprocess.detrend(Preprocess.sanitizeTerms(daily)), sanVocab))
    assemble(wide, Preprocess.featureCols(sanVocab))
      .select("date", "region", "features")
      .coalesce(1).sortWithinPartitions("date", "region")
  }

  /** [[sparkFront]]'s rows built on the driver — `dates(i)`, `regions(i)`,
    * `features(i)` in the same order — and the detrend state as a local
    * relation. */
  private[outbreak] case class LocalFront(dates: Array[Any], regions: Array[String],
      features: Array[Vector], state: DataFrame)

  /** [[sparkFront]] replayed on the driver from one capped collect of the
    * tidy rows, or None where the Spark front must run: more than
    * `localEvalThreshold` × |vocab| tidy rows or state rows, or
    * `localEvalThreshold` feature rows, a `date` that is not a DATE, or a
    * null date. The tidy rows arrive one at a time and are kept as
    * primitives and shared strings. The replay follows Spark's semantics
    * step by step:
    *  - detrend: `avg` over ROWS UNBOUNDED PRECEDING is a running sum from
    *    0.0 in date order over the non-null values, divided by their
    *    count; an average that is null, 0 or NaN divides by nothing (1.0);
    *  - pivot: one row per (date, region), out-of-vocabulary terms
    *    included; `na.fill(0.0)` replaces null and NaN;
    *  - month one-hot: 1.0 at the month of the date;
    *  - assembly: `VectorAssembler`'s `Vectors.sparse(nonzeros).compressed`;
    *  - order: dates ascending, then regions in UTF-8 byte order
    *    (`UTF8String.compareTo`, not `String.compareTo`), a null region
    *    first.
    * The state's Σ is the same running sum, so it is summed in date order.
    * With a `seed` state `(region, kw, n, sumv)` — an earlier front's, over
    * the days before `daily`'s — each series' running sum and count start
    * from its (n, Σ) instead of 0, so the features of `daily`'s rows and
    * the state equal those of a front over both, bit for bit; the state
    * keeps the seed's series that `daily` does not touch. */
  private[outbreak] def localFront(daily: DataFrame, vocab: Seq[String],
      localEvalThreshold: Long, seed: Option[DataFrame] = None): Option[LocalFront] = {
    if (daily.schema("date").dataType != DateType) return None
    val sanVocab = Preprocess.sanitizeVocab(vocab)
    val cap = math.min(localEvalThreshold * math.max(sanVocab.size, 1), Int.MaxValue - 1L)
    val seedRows = seed.fold(Array.empty[Row])(
      _.select("region", "kw", "n", "sumv").limit(cap.toInt + 1).collect())
    if (seedRows.length > cap) return None
    val tidy = Preprocess.sanitizeTerms(daily)
      .select(col("date"), unix_date(col("date")), col("region"), col("kw"),
        col("value").cast(DoubleType))
      .coalesce(1).limit(cap.toInt + 1)

    val dateOf = mutable.HashMap.empty[Int, Any]
    val regionId = mutable.HashMap.empty[String, Int]
    val kwId = mutable.HashMap.empty[String, Int]
    sanVocab.foreach(t => kwId.getOrElseUpdate(t, kwId.size))
    def idOf(ids: mutable.HashMap[String, Int], name: String) = ids.getOrElseUpdate(name, ids.size)
    val seriesId = mutable.HashMap.empty[Long, Int]
    val (seriesRegion, seriesKw) = (mutable.ArrayBuilder.make[Int], mutable.ArrayBuilder.make[Int])
    def seriesOf(reg: Int, kw: Int) = seriesId.getOrElseUpdate((kw.toLong << 32) | reg, {
      seriesRegion += reg; seriesKw += kw; seriesId.size })
    val seeded = seedRows.map(r =>
      seriesOf(idOf(regionId, r.getString(0)), idOf(kwId, r.getString(1))) -> r)
    val (dayB, regionB, kwB, seriesB) = (mutable.ArrayBuilder.make[Int],
      mutable.ArrayBuilder.make[Int], mutable.ArrayBuilder.make[Int], mutable.ArrayBuilder.make[Int])
    val valueB = mutable.ArrayBuilder.make[Double]
    val nulls = new java.util.BitSet
    var n = 0
    val it = tidy.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      if (n >= cap || r.isNullAt(0)) return None
      val day = r.getInt(1)
      dateOf.getOrElseUpdate(day, r.get(0))
      val reg = idOf(regionId, r.getString(2))
      val kw = idOf(kwId, r.getString(3))
      seriesB += seriesOf(reg, kw)
      dayB += day; regionB += reg; kwB += kw
      if (r.isNullAt(4)) { nulls.set(n); valueB += 0.0 } else valueB += r.getDouble(4)
      n += 1
    }
    val (days, regions, kws, series, values) =
      (dayB.result(), regionB.result(), kwB.result(), seriesB.result(), valueB.result())

    // rank dates and regions, then order the tidy rows by (date, region)
    val dayList = dateOf.keys.toArray.sorted
    val regionNames = new Array[String](regionId.size)
    regionId.foreach { case (name, id) => regionNames(id) = name }
    val regionList = regionNames.indices.toArray.sortWith { (a, b) =>
      val (x, y) = (regionNames(a), regionNames(b))
      y != null && (x == null || UTF8String.fromString(x).compareTo(UTF8String.fromString(y)) < 0)
    }
    val regionRank = new Array[Int](regionNames.length)
    regionList.indices.foreach(i => regionRank(regionList(i)) = i)
    val dayRank = days.map(d => java.util.Arrays.binarySearch(dayList, d))
    val regRank = regions.map(regionRank)
    val order = countingSort(countingSort(Array.range(0, n), regRank, regionNames.length),
      dayRank, dayList.length)
    def opensCell(j: Int) = j == 0 ||
      dayRank(order(j)) != dayRank(order(j - 1)) || regRank(order(j)) != regRank(order(j - 1))
    val cells = order.indices.count(opensCell)
    if (cells > localEvalThreshold) return None

    // detrend, pivot, one-hot and assemble, one (date, region) cell at a time
    val v = sanVocab.size
    val width = v + Preprocess.MonthNames.size
    val sums = new Array[Double](seriesId.size)
    val counts = new Array[Long](seriesId.size)
    seeded.foreach { case (s, r) =>
      counts(s) = r.getLong(2)
      if (!r.isNullAt(3)) sums(s) = r.getDouble(3)
    }
    val cell = new Array[Double](width)
    val (dates, cellRegions) = (new Array[Any](cells), new Array[String](cells))
    val features = new Array[Vector](cells)
    var c = -1
    def close(): Unit = if (c >= 0) {
      val nz = cell.indices.filter(cell(_) != 0.0).toArray
      features(c) = Vectors.sparse(width, nz, nz.map(cell)).compressed
    }
    order.indices.foreach { j =>
      val i = order(j)
      if (opensCell(j)) {
        close()
        c += 1
        dates(c) = dateOf(days(i))
        cellRegions(c) = regionNames(regions(i))
        java.util.Arrays.fill(cell, 0.0)
        cell(v + java.time.LocalDate.ofEpochDay(days(i)).getMonthValue - 1) = 1.0
      }
      val s = series(i)
      if (!nulls.get(i)) { sums(s) += values(i); counts(s) += 1 }
      if (kws(i) < v) {
        val cma = if (counts(s) == 0) Double.NaN else sums(s) / counts(s).toDouble
        val detrended =
          if (cma == 0.0 || cma.isNaN) 1.0 else if (nulls.get(i)) 0.0 else values(i) / cma
        cell(kws(i)) = if (detrended.isNaN) 0.0 else detrended
      }
    }
    close()

    val kwNames = new Array[String](kwId.size)
    kwId.foreach { case (name, id) => kwNames(id) = name }
    val (sRegion, sKw) = (seriesRegion.result(), seriesKw.result())
    val stateRows = sums.indices.map(s => Row(regionNames(sRegion(s)), kwNames(sKw(s)),
      counts(s), if (counts(s) == 0) null else sums(s)))
    Some(LocalFront(dates, cellRegions, features,
      daily.sparkSession.createDataFrame(stateRows.asJava, StateSchema)))
  }

  /** `order` stably re-sorted by `key(order(j))`, an int in [0, range). */
  private def countingSort(order: Array[Int], key: Array[Int], range: Int): Array[Int] = {
    val start = new Array[Int](range + 1)
    order.foreach(i => start(key(i) + 1) += 1)
    var k = 0
    while (k < range) { start(k + 1) += start(k); k += 1 }
    val out = new Array[Int](order.length)
    order.foreach { i => out(start(key(i))) = i; start(key(i)) += 1 }
    out
  }

  /** [[fit]] on the driver-built front. Days × regions feature tables are
    * tiny next to the raw input, and MLlib spends one job per pass over
    * them; each step here replays MLlib or Spark SQL on the rows in
    * (date, region) order, the order the Spark front hands MLlib. */
  private def driverFit(daily: DataFrame, front: LocalFront, pcaK: Int,
      kRange: Range, seed: Long): (DataFrame, Model) = {
    val vecs = front.features
    val (projection, points) =
      if (pcaK > 0) {
        val (mean, std) = DriverFit.scalerStats(vecs)
        val scaled = vecs.map(DriverFit.scaler(mean, std))
        val pc = DriverFit.pca(scaled, pcaK)
        (Some(Projection(mean, std, pc)), scaled.map(DriverFit.projection(pc)))
      } else (None, vecs)
    val (_, centers) = selectLocal(points, kRange, seed)
    val (mu, std) = DriverFit.meanStd(sqDistsToNearest(points, centers))
    val model = Model(projection, centers, mu, zScale(std))
    (scoreFrame(daily, front, model.score(vecs)), model)
  }

  /** `(date, region, score)` of the front's rows, as a local relation. */
  private[outbreak] def scoreFrame(daily: DataFrame, front: LocalFront,
      scores: Array[Double]): DataFrame = {
    val rows = scores.indices.map(i => Row(front.dates(i), front.regions(i), scores(i)))
    val schema = StructType(Seq(daily.schema("date"), daily.schema("region"),
      StructField("score", DoubleType)))
    daily.sparkSession.createDataFrame(rows.asJava, schema)
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
      seed: Long = 1L, localEvalThreshold: Long = LocalEvalThreshold): (Int, Array[Vector]) =
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
  private def sqDistToNearest(centers: Seq[Seq[Double]], vec: Column): Column = {
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
