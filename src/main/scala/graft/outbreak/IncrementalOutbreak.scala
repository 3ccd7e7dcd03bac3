package graft.outbreak

import org.apache.spark.ml.feature.{PCA, StandardScaler}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
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
  *    (running (n, Σvalue) per (region, kw) — the same constant-per-key
  *    state shape as [[graft.streaming.OnlineAnomaly]]).
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

  private def featureCols(sanVocab: Seq[String]): Seq[String] =
    sanVocab ++ Preprocess.MonthNames.map("is_" + _)

  // ------------------------------------------------------------- full fit

  /** Full pipeline over `daily` history: returns (all scores, model,
    * detrend state). Mirrors [[OutbreakPipeline.scores]] but keeps the
    * fitted transforms so increments can replay them natively. */
  def fitFull(spark: SparkSession, daily: DataFrame, vocab: Seq[String],
      pcaK: Int = 4, kRange: Range = 2 to 6, seed: Long = 1L,
      batchId: Long = 0L): (DataFrame, OutbreakModel, DataFrame) = {
    graft.plans.VectorExpressions.register(spark)
    val sanVocab = vocab.map(_.replace(" ", "_"))
    val sanitized = Preprocess.sanitizeTerms(daily)
    val wide = Preprocess.withMonthOneHot(
      Preprocess.pivotWide(Preprocess.detrend(sanitized), sanVocab))
    val cols = featureCols(sanVocab)
    val assembled = AnomalyScorer.assemble(wide, cols).coalesce(1).cache()
    try {
      val scaler = new StandardScaler().setWithMean(true).setWithStd(true)
        .setInputCol("features").setOutputCol("scaled").fit(assembled)
      val scaled = scaler.transform(assembled)
      val k = math.min(pcaK, cols.size)
      val pcaModel = new PCA().setK(k).setInputCol("scaled")
        .setOutputCol("pca").fit(scaled)
      val ml = pcaModel.transform(scaled)
        .select(col("date"), col("region"), col("pca").as("features"))
        .cache()
      try {
        val (_, centers) = AnomalyScorer.selectKModel(ml, kRange, seed)
        // same distance definition as AnomalyScorer.scoresWithModel, kept
        // local so mu/sigma can be captured into the model for increments
        val withDist = ml.withColumn("__dist", sqDistToNearestLit(
          org.apache.spark.ml.functions.vector_to_array(col("features"), "float64"),
          centers.toIndexedSeq.map(_.toArray.toSeq))).cache()
        val d = withDist
          .agg(avg("__dist").as("mu"), stddev_samp("__dist").as("sigma")).first()
        val mu = d.getDouble(0)
        val sigma = { val s = d.getDouble(1); if (s == 0.0 || s.isNaN) 1.0 else s }
        val scores = withDist.select(col("date"), col("region"),
          ((col("__dist") - mu) / sigma).as("score"))
        // pc is column-major (d rows × k cols): basis vector j = col j
        val dDim = cols.size
        val pcVals = pcaModel.pc.values
        val basis = (0 until k).map(j =>
          (0 until dDim).map(i => pcVals(j * dDim + i)).toSeq)
        val model = OutbreakModel(sanVocab,
          scaler.mean.toArray.toSeq, scaler.std.toArray.toSeq,
          basis, centers.map(_.toArray.toSeq).toSeq, mu, sigma,
          batchId)
        val detrendState = sanitized
          .groupBy("region", "kw")
          .agg(count(lit(1)).as("n"), sum("value").as("sumv"))
        (scores, model, detrendState)
      } finally ml.unpersist()
    } finally assembled.unpersist()
  }

  // ----------------------------------------------------------- increments

  /** `least(graft_sqdist(vec, center_c))` over literal centers. */
  private def sqDistToNearestLit(vec: Column, centers: Seq[Seq[Double]]): Column = {
    val dists = centers.map(c => call_function("graft_sqdist", vec, typedLit(c)))
    if (dists.length == 1) dists.head else least(dists: _*)
  }

  /** Score ONLY `newDaily` (the freshly closed rows of one micro-batch)
    * against the fitted model + detrend state. Returns (scores for the
    * new rows, updated detrend state). Entirely native expressions —
    * cost is proportional to the batch, flat in history size. */
  def scoreIncrement(spark: SparkSession, newDaily: DataFrame,
      model: OutbreakModel, detrendState: DataFrame): (DataFrame, DataFrame) = {
    graft.plans.VectorExpressions.register(spark)
    val sanitized = Preprocess.sanitizeTerms(newDaily)
      .select("date", "region", "kw", "value")

    // extend the cumulative-average detrend from (n, Σ) state: within the
    // batch, rows of one series accumulate in date order on top of state
    val w = Window.partitionBy("region", "kw").orderBy(col("date").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val st = detrendState.select(col("region").as("__r"), col("kw").as("__k"),
      col("n").as("__n0"), col("sumv").as("__s0"))
    val joined = sanitized
      .join(broadcast(st),
        col("region") === col("__r") && col("kw") === col("__k"), "left")
      .na.fill(Map("__n0" -> 0L, "__s0" -> 0.0))
      .withColumn("__cn", col("__n0") + count(lit(1)).over(w))
      .withColumn("__cs", col("__s0") + sum("value").over(w))
      .withColumn("__cma", col("__cs") / col("__cn"))
      .withColumn("value",
        when(col("__cma").isNull || col("__cma") === 0.0 || isnan(col("__cma")), 1.0)
          .otherwise(col("value") / col("__cma")))

    val wide = Preprocess.withMonthOneHot(
      Preprocess.pivotWide(
        joined.select("date", "region", "kw", "value"), model.vocab))
    val cols = featureCols(model.vocab)

    // scaler + PCA + nearest-centroid distance + z-score, all as literals
    val scaled = array(cols.zipWithIndex.map { case (c, i) =>
      (col(c).cast("double") - lit(model.scalerMean(i))) /
        lit(if (model.scalerStd(i) == 0.0) 1.0 else model.scalerStd(i))
    }: _*)
    val pcaArr = array(model.pc.map(b =>
      call_function("graft_dot", scaled, typedLit(b))): _*)
    val scores = wide
      .withColumn("__dist", sqDistToNearestLit(pcaArr, model.centers))
      .select(col("date"), col("region"),
        ((col("__dist") - model.mu) / model.sigma).as("score"))

    val updatedState = detrendState
      .join(sanitized.groupBy("region", "kw")
          .agg(count(lit(1)).as("__dn"), sum("value").as("__ds")),
        Seq("region", "kw"), "full_outer")
      .na.fill(Map("n" -> 0L, "sumv" -> 0.0, "__dn" -> 0L, "__ds" -> 0.0))
      .select(col("region"), col("kw"),
        (col("n") + col("__dn")).as("n"), (col("sumv") + col("__ds")).as("sumv"))
    (scores, updatedState)
  }

  // -------------------------------------------------------------- state IO

  private def modelPath(stateDir: String) = s"$stateDir/model"
  private def detrendPath(stateDir: String) = s"$stateDir/detrend"

  def saveState(spark: SparkSession, stateDir: String, model: OutbreakModel,
      detrendState: DataFrame): Unit = {
    import spark.implicits._
    // the updated state's lineage may READ the path being overwritten
    // (state(t+1) = state(t) ⊕ batch) — cut it before the self-overwrite
    val materialized = detrendState.cut()
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
