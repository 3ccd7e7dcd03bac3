package graft.outbreak

import org.apache.hadoop.fs.Path
import org.apache.spark.ml.linalg.{DenseMatrix, Vectors}
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}

/** Incremental daily anomaly scoring — the fix for the reference's (and
  * round 1's) biggest scale flaw: re-reading the ENTIRE landing zone and
  * re-running detrend→pivot→PCA→KMeans over all history on every closed
  * day (SURVEY §3 EP2). At 100 TB the per-day analyze cost must be flat
  * in history size, not linear.
  *
  * Split the work by how often it must run:
  *  - FULL FIT (periodic / first run / recovery): [[AnomalyScorer.fit]]
  *    over all history. Besides scores it emits a tiny [[OutbreakModel]]
  *    (scaler stats, PCA basis, cluster centers, score normalization — a
  *    few KB) and the per-series detrend state (running (n, Σvalue) per
  *    (region, kw): constant per key).
  *  - INCREMENT (every closed day): score ONLY the new rows, with the
  *    fit's own code on the driver: its feature front, each series'
  *    cumulative average continued from the (n, Σ) state, then its scorer
  *    (scaler, PCA projection, nearest-centroid distance, z-score). Two
  *    collects, the state's and the batch's, and no shuffle: cost
  *    proportional to the new day and the series count, flat in history.
  *    From a driver fit's state, the scores equal, bit for bit, what the
  *    fit's scorer gives the same rows in a front over all history.
  *
  * Idempotency (foreachBatch is at-least-once): the model row records the
  * last applied batchId; `Main` skips a re-delivered batch whose id the
  * saved model already holds.
  */
object IncrementalOutbreak {

  /** Everything needed to score a new day, a few KB of plain numbers. */
  case class OutbreakModel(
      vocab: Seq[String],            // sanitized terms = feature prefix
      scalerMean: Seq[Double], scalerStd: Seq[Double],
      pc: Seq[Seq[Double]],          // pcaK basis vectors, each length d
      centers: Seq[Seq[Double]],     // cluster centers in PCA space
      mu: Double, sigma: Double,     // distance z-normalization
      lastBatchId: Long)

  // ------------------------------------------------------------- full fit

  /** Full fit over `daily` history: returns (all scores, model, detrend
    * state), from [[AnomalyScorer.fit]] with PCA, the fit q37 runs. Up to
    * 50k (date, region) rows that is one collect of `daily` and no other
    * Spark job: the features, the model and the state are built on the
    * driver, the state's Σ summed in date order, which is what lets an
    * increment continue the cumulative average exactly. */
  def fitFull(spark: SparkSession, daily: DataFrame, vocab: Seq[String],
      pcaK: Int = 4, kRange: Range = 2 to 6, seed: Long = 1L,
      batchId: Long = 0L): (DataFrame, OutbreakModel, DataFrame) = {
    require(pcaK > 0, "the incremental model needs PCA")
    val sanVocab = Preprocess.sanitizeVocab(vocab)
    val (scores, fit, detrendState) = AnomalyScorer.fit(daily, vocab, pcaK, kRange, seed)
    val p = fit.projection.get
    // pc is column-major (d rows × k cols): basis vector j = col j
    val basis = (0 until p.pc.numCols).map(j =>
      (0 until p.pc.numRows).map(i => p.pc(i, j)))
    val model = OutbreakModel(sanVocab, p.mean.toArray.toSeq, p.std.toArray.toSeq,
      basis, fit.centers.map(_.toArray.toSeq).toSeq, fit.mu, fit.sigma, batchId)
    (scores, model, detrendState)
  }

  // ----------------------------------------------------------- increments

  /** [[tryScoreIncrement]], for a batch the driver front takes; throws
    * where it declines the batch. */
  def scoreIncrement(spark: SparkSession, newDaily: DataFrame,
      model: OutbreakModel, detrendState: DataFrame): (DataFrame, DataFrame) =
    tryScoreIncrement(spark, newDaily, model, detrendState).getOrElse(
      throw new IllegalArgumentException("the driver front declined the batch " +
        "(over its caps, or a date that is not a non-null DATE): refit instead"))

  /** Score ONLY `newDaily` (the freshly closed rows of one micro-batch)
    * against the fitted model + detrend state: (scores for the new rows,
    * updated detrend state), both local relations. None where the driver
    * front declines the batch: more rows or state rows than the fit's
    * driver caps, or a date that is not a DATE or is null. */
  def tryScoreIncrement(spark: SparkSession, newDaily: DataFrame,
      model: OutbreakModel, detrendState: DataFrame): Option[(DataFrame, DataFrame)] =
    tryScoreIncrement(newDaily, model, detrendState, AnomalyScorer.LocalEvalThreshold)

  private[outbreak] def tryScoreIncrement(newDaily: DataFrame, model: OutbreakModel,
      detrendState: DataFrame, localEvalThreshold: Long): Option[(DataFrame, DataFrame)] =
    AnomalyScorer.localFront(newDaily, model.vocab, localEvalThreshold, Some(detrendState))
      .map { front =>
        (AnomalyScorer.scoreFrame(newDaily, front, scorer(model).score(front.features)),
          front.state)
      }

  /** The saved model as the fit's [[AnomalyScorer.Model]]. */
  private def scorer(m: OutbreakModel): AnomalyScorer.Model =
    AnomalyScorer.Model(
      Some(AnomalyScorer.Projection(Vectors.dense(m.scalerMean.toArray),
        Vectors.dense(m.scalerStd.toArray),
        new DenseMatrix(m.scalerMean.size, m.pc.size, m.pc.flatten.toArray))),
      m.centers.map(c => Vectors.dense(c.toArray)).toArray, m.mu, m.sigma)

  // -------------------------------------------------------------- state IO

  private def modelPath(stateDir: String) = s"$stateDir/model"
  private def detrendPath(stateDir: String) = s"$stateDir/detrend"
  private val ModelEncoder = Encoders.product[OutbreakModel]

  /** Writes the detrend state, then the model. `detrendState` must not
    * read `stateDir`: an increment's and a driver fit's are local
    * relations.
    *
    * Not crash-safe (ROADMAP.md, "Crash-safe, versioned app state"): a
    * crash between the two writes leaves the OLD model readable next to
    * the NEW detrend state. [[loadState]] accepts that pair, the
    * re-delivered batch passes the model's `lastBatchId` guard, and its
    * rows are folded into (n, Σ) a second time. Overwrite is also
    * delete-then-write, so a crash during a write can leave a partial
    * state that [[loadState]] accepts. */
  def saveState(spark: SparkSession, stateDir: String, model: OutbreakModel,
      detrendState: DataFrame): Unit = {
    import spark.implicits._
    detrendState.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(detrendPath(stateDir))
    Seq(model).toDS().coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(modelPath(stateDir))
  }

  /** None ⇒ no usable state (first run or corrupted by a crash): caller
    * falls back to a full refit. Both parquets are read with their known
    * schemas, so the load runs one Spark job (the model row's), and a
    * missing model is None before any read. */
  def loadState(spark: SparkSession, stateDir: String)
      : Option[(OutbreakModel, DataFrame)] = {
    val path = new Path(modelPath(stateDir))
    if (!path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)) None
    else try {
      val model = spark.read.schema(ModelEncoder.schema).parquet(modelPath(stateDir))
        .as(ModelEncoder).head()
      val detrendState = spark.read.schema(AnomalyScorer.StateSchema)
        .parquet(detrendPath(stateDir))
      Some((model, detrendState))
    } catch { case _: Exception => None }
  }
}
