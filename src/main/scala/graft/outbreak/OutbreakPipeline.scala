package graft.outbreak

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end batch anomaly pipeline — the reference's EP3
  * (CSV/daily table → detrend → pivot → one-hot → assemble → scale →
  * PCA(4) → KMeans(silhouette k) → z-scored centroid distance →
  * |z|>threshold outliers), re-derived Spark-first. Every step from the
  * daily table on is [[AnomalyScorer.fit]], the one front and fit that q37,
  * q41 and the app's refit share: up to 50k (date, region) rows it runs on
  * the driver from one collect of the daily table, above that as Spark
  * jobs, and either way the fit takes the rows in (date, region) order, so
  * the scores do not depend on how the input was partitioned.
  *
  * Input contract: tidy daily table `(date: Date, region, kw, value)`
  * with one row per (date, region, kw) — SURVEY §1.2 / FIXTURES A2.
  */
object OutbreakPipeline {

  /** Full scoring run. Returns `(date, region, score)` for every scored
    * (date, region); filter with [[AnomalyScorer.outliers]] for the
    * anomaly set. `pcaK` is capped at the feature count; 0 = no PCA. */
  def scores(spark: SparkSession, daily: DataFrame, vocab: Seq[String],
      pcaK: Int = 4, kRange: Range = 2 to 6, seed: Long = 1L): DataFrame = {
    val k = math.min(pcaK, Preprocess.featureCols(vocab).size)
    AnomalyScorer.fit(daily, vocab, k, kRange, seed)._1
  }

  /** Anomalies only: the reference's exported artifact shape
    * `(date, region, score)` with |z| > threshold (notebook cell 15). */
  def anomalies(spark: SparkSession, daily: DataFrame, vocab: Seq[String],
      threshold: Double = 2.0, seed: Long = 1L): DataFrame =
    AnomalyScorer.outliers(scores(spark, daily, vocab, seed = seed), threshold)
      .select(col("date"), col("region"), col("score"))
}
