package graft.outbreak

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end batch anomaly pipeline — the reference's EP3
  * (CSV/daily table → detrend → pivot → one-hot → assemble → scale →
  * PCA(4) → KMeans(silhouette k) → z-scored centroid distance →
  * |z|>threshold outliers), re-derived Spark-first.
  *
  * Input contract: tidy daily table `(date: Date, region, kw, value)`
  * with one row per (date, region, kw) — SURVEY §1.2 / FIXTURES A2.
  */
object OutbreakPipeline {

  /** The sanitized vocabulary plus the month indicators: the feature
    * columns, in vector order. */
  def featureCols(sanVocab: Seq[String]): Seq[String] =
    sanVocab ++ Preprocess.MonthNames.map("is_" + _)

  /** The model input: daily → detrend → pivot → month one-hot → assembled
    * `features`, one row per (date, region). */
  def assembled(daily: DataFrame, vocab: Seq[String]): DataFrame = {
    val sanVocab = vocab.map(_.replace(" ", "_"))
    val wide = Preprocess.withMonthOneHot(
      Preprocess.pivotWide(
        Preprocess.detrend(Preprocess.sanitizeTerms(daily)), sanVocab))
    AnomalyScorer.assemble(wide, featureCols(sanVocab))
  }

  /** Full scoring run. Returns `(date, region, score)` for every scored
    * (date, region); filter with [[AnomalyScorer.outliers]] for the
    * anomaly set. */
  def scores(spark: SparkSession, daily: DataFrame, vocab: Seq[String],
      pcaK: Int = 4, kRange: Range = 2 to 6, seed: Long = 1L,
      usePca: Boolean = true): DataFrame = {
    val k = if (usePca) math.min(pcaK, featureCols(vocab).size) else 0
    AnomalyScorer.fit(assembled(daily, vocab), k, kRange, seed)._1
  }

  /** Anomalies only: the reference's exported artifact shape
    * `(date, region, score)` with |z| > threshold (notebook cell 15). */
  def anomalies(spark: SparkSession, daily: DataFrame, vocab: Seq[String],
      threshold: Double = 2.0, seed: Long = 1L): DataFrame =
    AnomalyScorer.outliers(scores(spark, daily, vocab, seed = seed), threshold)
      .select(col("date"), col("region"), col("score"))
}
