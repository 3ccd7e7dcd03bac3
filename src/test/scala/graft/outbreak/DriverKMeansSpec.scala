package graft.outbreak

import graft.SparkTestBase
import graft.queries.PipelineQueries
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.evaluation.ClusteringEvaluator
import org.apache.spark.ml.feature.{PCA, StandardScaler}
import org.apache.spark.ml.linalg.{DenseVector, Vector, Vectors}
import org.apache.spark.mllib.clustering.DriverKMeans
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** `DriverKMeans` must return exactly what MLlib's `KMeans.fit` returns
  * on the same rows in one partition: same number of centers, same
  * centers bit for bit, same iteration count. Each table below exercises
  * a different branch of MLlib's fit. */
class DriverKMeansSpec extends SparkTestBase {
  import spark.implicits._

  private val seeds = Seq(1L, 7L, 42L)
  private val ks = 2 to 6

  private def bits(v: Vector): Seq[Long] =
    v.toArray.toSeq.map(java.lang.Double.doubleToRawLongBits)

  /** Compare on `features` (cached first, so MLlib and the collect see
    * the same rows in the same order). */
  private def assertIdentical(features: DataFrame): Unit = {
    val df = features.select("features").cache()
    try {
      val vecs = df.collect().map(_.getAs[Vector](0))
      for (seed <- seeds; k <- ks) {
        val mllib = new KMeans().setK(k).setSeed(seed).fit(df.coalesce(1))
        val driver = DriverKMeans.fit(vecs, k, seed)
        val clue = s"seed=$seed k=$k"
        assert(driver.centers.length == mllib.clusterCenters.length, clue)
        assert(driver.centers.map(bits).sameElements(mllib.clusterCenters.map(bits)), clue)
        assert(driver.iterations == mllib.summary.numIter, clue)
      }
    } finally df.unpersist()
  }

  private lazy val q41Features =
    AnomalyScorer.sparkFront(PipelineQueries.dailyFromEvents(spark, "/root/testdata/sf0.001"),
      PipelineQueries.EventTypes).cache()

  test("q41 feature table at sf0.001 (mostly zeros: sparse rows, row solver)") {
    val vecs = q41Features.select("features").collect().map(_.getAs[Vector](0))
    assert(vecs.exists(!_.isInstanceOf[DenseVector]), "expected compressed sparse rows")
    assertIdentical(q41Features)
  }

  private lazy val pcaFeatures = {
    val scaled = new StandardScaler().setWithMean(true).setWithStd(true)
      .setInputCol("features").setOutputCol("scaled").fit(q41Features)
      .transform(q41Features)
    new PCA().setK(4).setInputCol("scaled").setOutputCol("pca")
      .fit(scaled).transform(scaled)
      .select(col("pca").as("features"))
  }

  test("dense PCA-projected table (MLlib's auto solver picks block)") {
    val vecs = pcaFeatures.collect().map(_.getAs[Vector](0))
    // auto picks block when nnz >= rows * dims / 2
    assert(vecs.map(_.numNonzeros.toLong).sum * 2 >= vecs.length.toLong * 4)
    assertIdentical(pcaFeatures)
  }

  test("localSilhouette of DriverKMeans's centers equals ClusteringEvaluator on MLlib's fit") {
    for ((name, features) <- Seq("q41" -> q41Features, "PCA-projected" -> pcaFeatures)) {
      val df = features.select("features").cache()
      try {
        val vecs = df.collect().map(_.getAs[Vector](0))
        for (k <- ks) {
          val mllib = new KMeans().setK(k).setSeed(1L).fit(df.coalesce(1))
          val expected = new ClusteringEvaluator().setDistanceMeasure("squaredEuclidean")
            .evaluate(mllib.transform(df))
          val got = AnomalyScorer.localSilhouette(vecs.map(_.toArray),
            DriverKMeans.fit(vecs, k, 1L).centers.map(_.toArray))
          assert(math.abs(got - expected) <= 1e-9 * math.abs(expected),
            s"$name k=$k: $got vs $expected")
        }
      } finally df.unpersist()
    }
  }

  test("multi-partition 21-row table: collect order is the fit order") {
    val rows =
      (1 to 10).map(i => (1.0 + 0.01 * i, 2.0)) ++
      (11 to 20).map(i => (10.0 + 0.01 * i, 9.0)) :+ ((100.0, 100.0))
    val df = spark.sparkContext.parallelize(rows, 3).toDF("f1", "f2")
    assert(df.rdd.getNumPartitions == 3)
    assertIdentical(AnomalyScorer.assemble(df, Seq("f1", "f2")))
  }

  test("fewer distinct points than k: both sides return the distinct points") {
    val pts = Seq(Vectors.dense(0.0, 0.0), Vectors.dense(5.0, 1.0),
      Vectors.dense(-3.0, 4.0))
    val df = (0 until 30).map(i => Tuple1(pts(i % 3))).toDF("features")
    assertIdentical(df)
    assert(DriverKMeans.fit(df.collect().map(_.getAs[Vector](0)), 5, 1L)
      .centers.length == 3)
  }
}
