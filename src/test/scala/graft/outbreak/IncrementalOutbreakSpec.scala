package graft.outbreak

import java.sql.Date

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The incremental scorer must extend the batch pipeline, not approximate
  * it: scoring the new days from the (n, Σ) state has to reproduce the
  * fit's front and scorer over all history bit for bit, and a planted
  * spike in the increment must z-score far above the quiet days. */
class IncrementalOutbreakSpec extends SparkTestBase {
  import spark.implicits._
  import IncrementalOutbreakSpec.terms

  private def mkDaily(days: Range, spikeDays: Set[Int] = Set.empty) =
    IncrementalOutbreakSpec.mkDaily(spark, days, spikeDays)

  test("increment scores equal the fit's scorer on a 33-day front, and its state a 33-day fit's") {
    // non-integer values: sums round, so only the same order of additions
    // gives the same bits
    def thirds(days: Range) = mkDaily(days).withColumn("value", col("value") / 3.0)
    val history = thirds(1 to 30)
    val increment = thirds(31 to 33)
    val (_, model, state) = IncrementalOutbreak.fitFull(spark, history, terms)
    val (scores, newState) = IncrementalOutbreak.scoreIncrement(spark, increment, model, state)

    // ground truth: the fitted model's scorer on the rows of days 31–33 of
    // a front over all 33 days
    val fitted = AnomalyScorer.fit(history, terms, 4)._2
    val front = AnomalyScorer.localFront(history.unionByName(increment), terms, 50000L).get
    val newRows = front.dates.indices.filter(i => front.dates(i).toString >= "2020-01-31")
    assert(newRows.size == 3 * 2) // 3 days × 2 regions
    val expected = newRows.zip(fitted.score(newRows.map(front.features).toArray)).map {
      case (i, z) => (front.dates(i), front.regions(i), java.lang.Double.doubleToRawLongBits(z))
    }
    val actual = scores.collect().toSeq.map(r =>
      (r.get(0), r.get(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
    assert(actual == expected)

    // the updated state equals a from-scratch fit's state over all 33 days
    val (_, _, fullState) =
      IncrementalOutbreak.fitFull(spark, history.unionByName(increment), terms)
    assert(IncrementalOutbreakSpec.stateBits(newState) ==
      IncrementalOutbreakSpec.stateBits(fullState))
  }

  test("over the driver cap: increment scores equal the fit's scorer on a 303-day front, " +
      "and its state a 303-day fit's") {
    val history = IncrementalOutbreakSpec.overCap(spark, 1 to 300).cache()
    val increment = IncrementalOutbreakSpec.overCap(spark, 301 to 303)
    val all = history.unionByName(increment)
    assert(AnomalyScorer.localFront(history, terms, AnomalyScorer.LocalEvalThreshold).isEmpty,
      "the 300-day fit must run the Spark front")
    val (_, model, state) = IncrementalOutbreak.fitFull(spark, history, terms)
    val (scores, newState) = IncrementalOutbreak.scoreIncrement(spark, increment, model, state)

    // ground truth: the fitted model's scorer on the rows of days 301–303
    // of a front over all 303 days
    val firstNew = java.time.LocalDate.of(2020, 1, 1).plusDays(300).toString
    val newRows = AnomalyScorer.sparkFront(all, terms).collect()
      .filter(_.get(0).toString >= firstNew)
    assert(newRows.length == 3 * 175)
    val zs = IncrementalOutbreak.scorer(model)
      .score(newRows.map(_.getAs[org.apache.spark.ml.linalg.Vector](2)))
    val expected = newRows.zip(zs).toSeq.map { case (r, z) =>
      (r.get(0), r.get(1), java.lang.Double.doubleToRawLongBits(z))
    }
    val actual = scores.collect().toSeq.map(r =>
      (r.get(0), r.get(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
    assert(actual == expected)

    // the updated state equals a from-scratch fit's state over all 303 days
    val (_, _, fullState) = IncrementalOutbreak.fitFull(spark, all, terms)
    assert(IncrementalOutbreakSpec.stateBits(newState) ==
      IncrementalOutbreakSpec.stateBits(fullState))
    history.unpersist()
  }

  test("the increment declines a batch over the driver front's cap or with a null date") {
    val (_, model, state) = IncrementalOutbreak.fitFull(spark, mkDaily(1 to 30), terms)
    // 3 days × 2 regions × 2 terms: 12 tidy rows, 6 feature rows; the
    // caps are the threshold feature rows and the threshold × |vocab| tidy
    // rows
    val batch = mkDaily(31 to 33)
    assert(IncrementalOutbreak.tryScoreIncrement(batch, model, state, 6L).isDefined)
    assert(IncrementalOutbreak.tryScoreIncrement(batch, model, state, 5L).isEmpty, "over the cap")
    val nullDate = batch.withColumn("date",
      when(col("date") === "2020-02-01", lit(null)).otherwise(col("date")))
    assert(IncrementalOutbreak.tryScoreIncrement(spark, nullDate, model, state).isEmpty,
      "a null date")
    assertThrows[IllegalArgumentException](
      IncrementalOutbreak.scoreIncrement(spark, nullDate, model, state))
  }

  test("a spike in the increment z-scores far above quiet increment days") {
    val history = mkDaily(1 to 30)
    val increment = mkDaily(31 to 35, spikeDays = Set(34))
    val (_, model, state) = IncrementalOutbreak.fitFull(spark, history, terms)
    val (scores, _) = IncrementalOutbreak.scoreIncrement(
      spark, increment, model, state)
    val byDay = scores
      .select(date_format(col("date"), "yyyy-MM-dd"), col("region"), col("score"))
      .as[(String, String, Double)].collect()
    val spikeDay = java.time.LocalDate.of(2020, 1, 1).plusDays(33).toString
    val spike = byDay.filter(r => r._1 == spikeDay && r._2 == "US").head._3
    val quiet = byDay.filter(r => !(r._1 == spikeDay && r._2 == "US")).map(_._3)
    assert(math.abs(spike) > 2.0, s"spike not flagged: z=$spike")
    assert(quiet.forall(q => math.abs(q) < math.abs(spike)),
      s"quiet day outranks the spike: ${quiet.map(math.abs).max} vs $spike")
  }

  test("increments scale like the fit: a feature constant in history scales to 0") {
    // History all in January: is_february had std 0 in the fit, where
    // StandardScalerModel multiplies by 0. A hand-built basis that weighs
    // only is_february then projects a February day to 0.
    val cols = Preprocess.featureCols(Seq("Cough"))
    val model = IncrementalOutbreak.OutbreakModel(Seq("Cough"),
      scalerMean = cols.map(c => if (c == "Cough" || c == "is_january") 1.0 else 0.0),
      scalerStd = cols.map(c => if (c == "Cough") 1.0 else 0.0),
      pc = Seq(cols.map(c => if (c == "is_february") 1.0 else 0.0)),
      centers = Seq(Seq(0.0)), mu = 0.0, sigma = 1.0, lastBatchId = 0L)
    val day = Seq((Date.valueOf("2020-02-01"), "US", "Cough", 42.0))
      .toDF("date", "region", "kw", "value")
    val noState = Seq.empty[(String, String, Long, Double)].toDF("region", "kw", "n", "sumv")
    val (scores, _) = IncrementalOutbreak.scoreIncrement(spark, day, model, noState)
    // detrended Cough = 42 / 42 = 1, scaled (1 − 1) · 1 = 0; is_february
    // scaled (1 − 0) · 0 = 0; distance to the center 0 is 0
    assert(scores.select("score").as[Double].collect().toSeq == Seq(0.0))
  }

  test("state round-trips through parquet (model is the commit marker)") {
    val dir = java.nio.file.Files.createTempDirectory("inc-state").toString
    val history = mkDaily(1 to 20)
    val (_, model, state) = IncrementalOutbreak.fitFull(spark, history, terms,
      batchId = 7L)
    IncrementalOutbreak.saveState(spark, dir, model, state)
    val Some((m2, s2)) = IncrementalOutbreak.loadState(spark, dir): @unchecked
    assert(m2 == model)
    assert(s2.count() == state.count())
    assert(IncrementalOutbreak.loadState(spark, dir + "/nope").isEmpty)
  }
}

object IncrementalOutbreakSpec {

  val terms = Seq("Cough", "Fever")

  /** Daily table over `days` for 2 regions × [[terms]], with a weekly
    * pattern; US values are 9× on `spikeDays`. */
  def mkDaily(spark: SparkSession, days: Range, spikeDays: Set[Int] = Set.empty): DataFrame = {
    import spark.implicits._
    (for {
      day <- days
      region <- Seq("US", "IL")
      kw <- terms
    } yield {
      val base = 40.0 + (day % 7) + (if (region == "US") 5 else 0) + kw.length
      val v = if (region == "US" && spikeDays(day)) base * 9 else base
      (Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(day - 1)),
        region, kw, v)
    }).toDF("date", "region", "kw", "value")
  }

  /** A daily table over the fit's driver cap: `days` × 175 regions ×
    * [[terms]], on 4 partitions, with non-integer values, so sums round
    * and only the same order of additions gives the same bits. 300 days
    * are 52,500 feature rows. */
  def overCap(spark: SparkSession, days: Range): DataFrame = {
    import spark.implicits._
    (for {
      day <- days
      r <- 0 until 175
      (kw, t) <- terms.zipWithIndex
    } yield (Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(day - 1)),
      f"R$r%03d", kw, (40.0 + day % 7 + r % 13 + 3 * t + (day * 7 + r * 3 + t) % 5) / 3.0))
      .toDF("date", "region", "kw", "value").repartition(4)
  }

  /** A detrend state as a set of (region, kw, n, raw bits of sumv). */
  def stateBits(state: DataFrame): Set[(String, String, Long, Long)] =
    state.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
      java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSet
}
