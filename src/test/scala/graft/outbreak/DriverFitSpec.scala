package graft.outbreak

import java.sql.Date

import graft.SparkTestBase
import graft.queries.PipelineQueries
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.mllib.clustering.DriverFit
import org.apache.spark.sql.{DataFrame, Row}

/** The outbreak model fitted on the driver must equal the MLlib and Spark
  * SQL fit (forced with a local threshold of 0) bit for bit: the scaler's
  * mean and std, the PCA basis, the cluster centers, mu, sigma and every
  * score, in the same row order. Each table exercises a different input;
  * between them they cover both of MLlib's covariance branches. */
class DriverFitSpec extends SparkTestBase {
  import spark.implicits._

  private def bits(xs: Array[Double]): Seq[Long] =
    xs.toSeq.map(java.lang.Double.doubleToRawLongBits)

  private def scoreBits(scores: DataFrame): Seq[(Any, Any, Long)] =
    scores.collect().toSeq.map { case Row(d, r, s: Double) =>
      (d, r, java.lang.Double.doubleToRawLongBits(s))
    }

  /** Fit `assembled` both ways, compare everything, return the driver's model. */
  private def assertIdentical(assembled: DataFrame, pcaK: Int): AnomalyScorer.Model = {
    val (dScores, d) = AnomalyScorer.fit(assembled, pcaK)
    val (mScores, m) = AnomalyScorer.fit(assembled, pcaK, localEvalThreshold = 0L)
    assert(d.projection.isDefined == (pcaK > 0))
    assert(m.projection.isDefined == (pcaK > 0))
    for (dp <- d.projection; mp <- m.projection) {
      assert(bits(dp.mean.toArray) == bits(mp.mean.toArray), "scaler mean")
      assert(bits(dp.std.toArray) == bits(mp.std.toArray), "scaler std")
      assert((dp.pc.numRows, dp.pc.numCols) == ((mp.pc.numRows, mp.pc.numCols)))
      assert(bits(dp.pc.toArray) == bits(mp.pc.toArray), "PCA basis")
    }
    assert(d.centers.map(c => bits(c.toArray)).toSeq ==
      m.centers.map(c => bits(c.toArray)).toSeq, "centers")
    assert(bits(Array(d.mu, d.sigma)) == bits(Array(m.mu, m.sigma)), "mu, sigma")
    val ds = scoreBits(dScores)
    assert(ds.nonEmpty)
    assert(ds == scoreBits(mScores), "scores")
    d
  }

  /** Whether MLlib's PCA builds the covariance from the Gramian on
    * `assembled` (every scaled row at least half zeros) rather than from
    * centered rows: the two branches round differently. */
  private def gramianCovariance(assembled: DataFrame): Boolean = {
    val vecs = assembled.select("features").coalesce(1).collect().map(_.getAs[Vector](0))
    val (mean, std) = DriverFit.scalerStats(vecs)
    !vecs.map(DriverFit.scaler(mean, std)).exists(v => v.numNonzeros * 2 > v.size)
  }

  private val sf0001 = "/root/testdata/sf0.001"

  test("IncrementalOutbreakSpec's 30-day daily table, scaler + PCA(4)") {
    val daily = IncrementalOutbreakSpec.mkDaily(spark, 1 to 30, spikeDays = Set(12, 25))
    val assembled = OutbreakPipeline.assembled(daily, IncrementalOutbreakSpec.terms)
    assert(gramianCovariance(assembled))
    assertIdentical(assembled, 4)
  }

  test("q37's feature table at sf0.001, scaler + PCA(4)") {
    val assembled = OutbreakPipeline.assembled(
      PipelineQueries.dailyFromEvents(spark, sf0001), PipelineQueries.EventTypes)
    assertIdentical(assembled, 4)
  }

  test("q41's feature table at sf0.001, no PCA (sparse rows)") {
    assertIdentical(PipelineQueries.outbreakAssembled(spark, sf0001), 0)
  }

  /** 24 days of one region: f1 in three bands, f2 constant, f3 cycling. */
  private def rows = (0 until 24).map { i =>
    (Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i)), "US",
      (i % 3) * 5.0 + 0.1 * i, 7.0, ((i * 7) % 5).toDouble)
  }

  test("a zero-variance feature: its std is 0 and it scales to 0") {
    val df = rows.toDF("date", "region", "f1", "f2", "f3")
    val assembled = AnomalyScorer.assemble(df, Seq("f1", "f2", "f3"))
    assert(!gramianCovariance(assembled))
    val m = assertIdentical(assembled, 2)
    assert(m.projection.get.std(1) == 0.0)
  }

  test("a multi-partition input: both paths take it in one partition's order") {
    val df = spark.sparkContext.parallelize(rows, 3).toDF("date", "region", "f1", "f2", "f3")
    assert(df.rdd.getNumPartitions == 3)
    val assembled = AnomalyScorer.assemble(df, Seq("f1", "f2", "f3"))
    assertIdentical(assembled, 2)
    assertIdentical(assembled, 0)
  }
}
