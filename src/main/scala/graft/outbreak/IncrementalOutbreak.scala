package graft.outbreak

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Lineage.CutOps

/** Incremental daily anomaly scoring — the fix for the reference's (and
  * round 1's) biggest scale flaw: re-reading the ENTIRE landing zone and
  * re-running detrend→pivot→PCA→KMeans over all history on every closed
  * day (SURVEY §3 EP2). At 100 TB the per-day analyze cost must be flat
  * in history size, not linear.
  *
  * Split the work by how often it must run:
  *  - FULL FIT (periodic / first run / recovery): the existing EP3
  *    pipeline over all history. Besides scores it emits a tiny
  *    [[OutbreakModel]] (scaler stats, PCA basis, cluster centers, score
  *    normalization — a few KB) and the per-series detrend state
  *    (running (n, Σvalue) per (region, kw): constant per key).
  *  - INCREMENT (every closed day): score ONLY the new rows. The
  *    cumulative-moving-average detrend extends from (n, Σ) state; the
  *    scaler, PCA projection, nearest-centroid distance and z-score all
  *    apply as NATIVE column expressions (graft_dot / graft_sqdist with
  *    the model as literals) — no MLlib, no shuffle over history, cost
  *    proportional to the new day only.
  *
  * Idempotency (foreachBatch is at-least-once): the state row records the
  * last applied batchId; a re-delivered batch skips the state update and
  * only re-writes its (idempotent, partition-overwrite) score output.
  */
object IncrementalOutbreak {

  /** Everything needed to score a new day, small enough to be literals. */
  case class OutbreakModel(
      vocab: Seq[String],            // sanitized terms = feature prefix
      scalerMean: Seq[Double], scalerStd: Seq[Double],
      pc: Seq[Seq[Double]],          // pcaK basis vectors, each length d
      centers: Seq[Seq[Double]],     // cluster centers in PCA space
      mu: Double, sigma: Double,     // distance z-normalization
      lastBatchId: Long)

  // ------------------------------------------------------------- full fit

  /** Full fit over `daily` history: returns (all scores, model, detrend
    * state). Scores, model and state come from [[AnomalyScorer.fit]] with
    * PCA, the fit [[OutbreakPipeline.scores]] runs, so the scores equal
    * that function's. Up to 50k (date, region) rows that is one collect of
    * `daily` and no other Spark job: the features, the model and the state
    * are built on the driver, the state's Σ summed in date order, which
    * is what lets [[detrendIncrement]] continue the cumulative average
    * exactly. The model keeps the fitted transforms as plain numbers so
    * increments can replay them natively. */
  def fitFull(spark: SparkSession, daily: DataFrame, vocab: Seq[String],
      pcaK: Int = 4, kRange: Range = 2 to 6, seed: Long = 1L,
      batchId: Long = 0L): (DataFrame, OutbreakModel, DataFrame) = {
    require(pcaK > 0, "the incremental model needs PCA")
    val sanVocab = Preprocess.sanitizeVocab(vocab)
    val k = math.min(pcaK, Preprocess.featureCols(sanVocab).size)
    val (scores, fit, detrendState) = AnomalyScorer.fit(daily, vocab, k, kRange, seed)
    val p = fit.projection.get
    // pc is column-major (d rows × k cols): basis vector j = col j
    val basis = (0 until p.pc.numCols).map(j =>
      (0 until p.pc.numRows).map(i => p.pc(i, j)))
    val model = OutbreakModel(sanVocab, p.mean.toArray.toSeq, p.std.toArray.toSeq,
      basis, fit.centers.map(_.toArray.toSeq).toSeq, fit.mu, fit.sigma, batchId)
    (scores, model, detrendState)
  }

  // ----------------------------------------------------------- increments

  /** Score ONLY `newDaily` (the freshly closed rows of one micro-batch)
    * against the fitted model + detrend state. Returns (scores for the
    * new rows, updated detrend state). Entirely native expressions —
    * cost is proportional to the batch, flat in history size. */
  def scoreIncrement(spark: SparkSession, newDaily: DataFrame,
      model: OutbreakModel, detrendState: DataFrame): (DataFrame, DataFrame) = {
    graft.plans.VectorExpressions.register(spark)
    val (detrended, updatedState) = detrendIncrement(
      Preprocess.sanitizeTerms(newDaily).select("date", "region", "kw", "value"),
      detrendState)
    val wide = Preprocess.withMonthOneHot(Preprocess.pivotWide(detrended, model.vocab))
    val cols = Preprocess.featureCols(model.vocab)

    // scaler + PCA + nearest-centroid distance + z-score, all as literals;
    // the scaler is StandardScalerModel's: (x − mean) · (1/std, or 0
    // where std is 0)
    val scaled = array(cols.zipWithIndex.map { case (c, i) =>
      (col(c).cast("double") - lit(model.scalerMean(i))) *
        lit(if (model.scalerStd(i) == 0.0) 0.0 else 1.0 / model.scalerStd(i))
    }: _*)
    val pcaArr = array(model.pc.map(b =>
      call_function("graft_dot", scaled, typedLit(b))): _*)
    val scores = wide
      .withColumn("__dist", AnomalyScorer.sqDistToNearest(model.centers, pcaArr))
      .select(col("date"), col("region"),
        ((col("__dist") - model.mu) / model.sigma).as("score"))
    (scores, updatedState)
  }

  /** The increment's detrend: `sanitized` rows `(date, region, kw, value)`
    * divided by their series' cumulative moving average, continued from
    * the (n, Σ) state, and the state after them. Each series' state enters
    * as a leading row of weight n and value Σ ahead of the new rows in
    * date order, so the running sum is (Σ + v₁) + v₂ …, the sum the
    * full-history detrend accumulates: with Σ summed in date order (as
    * [[fitFull]] and this function leave it) the average equals the
    * full-history one bit for bit. The updated state is each series' last
    * running (n, Σ); n counts the non-null values, as `avg` does. */
  private[outbreak] def detrendIncrement(sanitized: DataFrame,
      detrendState: DataFrame): (DataFrame, DataFrame) = {
    val seeds = detrendState.select(
      lit(null).cast(sanitized.schema("date").dataType).as("date"),
      col("region"), col("kw"), coalesce(col("sumv").cast("double"), lit(0.0)).as("value"),
      col("n").as("__w"), lit(0).as("__ord"))
    val rows = sanitized.select(col("date"), col("region"), col("kw"),
      col("value").cast("double").as("value"),
      when(col("value").isNull, 0L).otherwise(1L).as("__w"), lit(1).as("__ord"))
    val w = Window.partitionBy("region", "kw").orderBy("__ord", "date")
    val upTo = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = seeds.unionByName(rows)
      .withColumn("__cs", sum("value").over(upTo))
      .withColumn("__cn", sum("__w").over(upTo))
      .withColumn("__last", lead("__ord", 1).over(w).isNull)
    val detrended = run.where(col("__ord") === 1)
      .select(col("date"), col("region"), col("kw"),
        Preprocess.divideByCma(col("value"), col("__cs") / col("__cn")).as("value"))
    val state = run.where(col("__last"))
      .select(col("region"), col("kw"), col("__cn").as("n"), col("__cs").as("sumv"))
    (detrended, state)
  }

  // -------------------------------------------------------------- state IO

  private def modelPath(stateDir: String) = s"$stateDir/model"
  private def detrendPath(stateDir: String) = s"$stateDir/detrend"

  def saveState(spark: SparkSession, stateDir: String, model: OutbreakModel,
      detrendState: DataFrame): Unit = {
    import spark.implicits._
    // cut a state whose lineage reads files: an increment's READS the path
    // being overwritten (state(t+1) = state(t) ⊕ batch); a refit's is a
    // local relation below the fit's local threshold and needs no cut
    val materialized =
      if (detrendState.inputFiles.nonEmpty) detrendState.cut() else detrendState
    // detrend state first, model (with lastBatchId) last: the model row is
    // the commit marker — a crash in between leaves the old model readable
    // or nothing readable, either of which triggers a clean full refit
    materialized.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(detrendPath(stateDir))
    Seq(model).toDS().coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(modelPath(stateDir))
  }

  /** None ⇒ no usable state (first run or corrupted by a crash): caller
    * falls back to a full refit. */
  def loadState(spark: SparkSession, stateDir: String)
      : Option[(OutbreakModel, DataFrame)] = {
    import spark.implicits._
    try {
      val model = spark.read.parquet(modelPath(stateDir))
        .as[OutbreakModel].head()
      val detrendState = spark.read.parquet(detrendPath(stateDir))
      Some((model, detrendState))
    } catch { case _: Exception => None }
  }
}
