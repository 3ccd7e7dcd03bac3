package graft.outbreak

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

class AnomalyScorerSpec extends SparkTestBase {
  import spark.implicits._

  /** Two tight clusters + one far outlier day. */
  private def featureTable() = {
    val rows =
      (1 to 10).map(i => (f"2020-01-$i%02d", "US", 1.0 + 0.01 * i, 2.0)) ++
      (11 to 20).map(i => (f"2020-01-$i%02d", "US", 10.0 + 0.01 * i, 9.0)) :+
      (("2020-02-01", "US", 100.0, 100.0))
    rows.toDF("d", "region", "f1", "f2")
      .select(to_date($"d").as("date"), $"region", $"f1", $"f2")
  }

  private def spiked() =
    IncrementalOutbreakSpec.mkDaily(spark, 1 to 30, spikeDays = Set(30))

  /** The MLlib branch of [[AnomalyScorer.fit]] (k = 2, no PCA) over 30
    * days × 2 regions with the US spiking on the last day. */
  private def mllibFit() =
    AnomalyScorer.fit(spiked(), IncrementalOutbreakSpec.terms, pcaK = 0,
      kRange = 2 to 2, seed = 1L, localEvalThreshold = 0L)

  test("MLlib fit: z-scored distances have ~zero mean and equal the model's own scorer") {
    val (scores, model, _) = mllibFit()
    val got = scores.orderBy("date", "region").select("score").as[Double].collect()
    assert(got.length == 60)
    assert(math.abs(got.sum / got.length) < 1e-9) // z-scores are centered
    // the model's driver scorer on the same rows, in the same order
    val features = AnomalyScorer.sparkFront(spiked(), IncrementalOutbreakSpec.terms)
      .collect().map(_.getAs[org.apache.spark.ml.linalg.Vector]("features"))
    val expected = model.score(features)
    got.zip(expected).foreach { case (g, e) => assert(math.abs(g - e) < 1e-9, s"$g vs $e") }
    val flagged = AnomalyScorer.outliers(scores, 2.0).count()
    assert(flagged > 0 && flagged == expected.count(z => math.abs(z) > 2.0))
  }

  test("MLlib fit: deterministic under fixed seed") {
    def run() = mllibFit()._1.orderBy("date", "region")
      .select("score").as[Double].collect().toSeq
    assert(run() == run())
  }

  test("selectK finds the obvious 2-cluster structure") {
    val assembled = AnomalyScorer.assemble(
      featureTable().where($"f1" < 50), Seq("f1", "f2"))
    val vecs = assembled.select("features").collect()
      .map(_.getAs[org.apache.spark.ml.linalg.Vector](0))
    assert(AnomalyScorer.selectLocal(vecs, 2 to 4, seed = 1L)._1 == 2)
  }

  test("assemble keeps id columns alongside the features vector") {
    val assembled = AnomalyScorer.assemble(featureTable(), Seq("f1", "f2"))
    assert(assembled.columns.toSet ==
      Set("date", "region", "f1", "f2", "features"))
  }

  private def cacheEntries: Int = org.apache.spark.sql.CacheEntries(spark)

  test("MLlib path: a fit and its score write leave the cache manager as they found it") {
    val out = java.nio.file.Files.createTempDirectory("fit-cache").toString
    val daily = IncrementalOutbreakSpec.mkDaily(spark, 1 to 30).cache()
    daily.count()
    val before = cacheEntries
    for (pcaK <- Seq(4, 0)) {
      val (scores, _, _) = AnomalyScorer.fit(daily, IncrementalOutbreakSpec.terms, pcaK,
        localEvalThreshold = 0L)
      scores.write.mode("overwrite").parquet(s"$out/$pcaK")
    }
    assert(cacheEntries == before)
    assert(daily.storageLevel != StorageLevel.NONE, "the caller's cache was dropped")
    daily.unpersist()
  }
}
