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

  /** Full scoring run. Returns `(date, region, score)` for every scored
    * (date, region); filter with [[AnomalyScorer.outliers]] for the
    * anomaly set. */
  def scores(spark: SparkSession, daily: DataFrame, vocab: Seq[String],
      pcaK: Int = 4, kRange: Range = 2 to 6, seed: Long = 1L,
      usePca: Boolean = true): DataFrame = {
    val wide = Preprocess.withMonthOneHot(
      Preprocess.pivotWide(
        Preprocess.detrend(Preprocess.sanitizeTerms(daily)),
        vocab.map(_.replace(" ", "_"))))
    val featureCols = vocab.map(_.replace(" ", "_")) ++
      Preprocess.MonthNames.map("is_" + _)
    val assembled = AnomalyScorer.assemble(wide, featureCols)
      .coalesce(1)  // days × regions rows: tiny next to the raw input
      .cache()
    try {
      val ml =
        if (usePca) {
          val k = math.min(pcaK, featureCols.size)
          Features.pca(Features.standardize(assembled), k)
            .withColumnRenamed("features", "raw_features")
            .withColumnRenamed("pca", "features")
        } else assembled
      val cached = ml.select("date", "region", "features").cache()
      try {
        val (_, centers) = AnomalyScorer.selectKModel(cached, kRange, seed)
        AnomalyScorer.scoresWithModel(spark, cached, centers)
      } finally cached.unpersist()
    } finally assembled.unpersist()
  }

  /** Anomalies only: the reference's exported artifact shape
    * `(date, region, score)` with |z| > threshold (notebook cell 15). */
  def anomalies(spark: SparkSession, daily: DataFrame, vocab: Seq[String],
      threshold: Double = 2.0, seed: Long = 1L): DataFrame =
    AnomalyScorer.outliers(scores(spark, daily, vocab, seed = seed), threshold)
      .select(col("date"), col("region"), col("score"))
}
