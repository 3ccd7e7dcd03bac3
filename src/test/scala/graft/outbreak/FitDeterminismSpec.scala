package graft.outbreak

import graft.SparkTestBase
import graft.queries.PipelineQueries
import org.apache.spark.sql.{DataFrame, Row}

/** The fitted outbreak model is a function of the tidy daily table alone:
  * `spark.sql.shuffle.partitions` decides how the detrend and the pivot
  * shuffle, and therefore the order rows would reach the seeded k-means||
  * initialization, unless the fit fixes that order itself. Fitting the
  * same table at 1, 4 and 16 shuffle partitions must give the same model
  * and the same scores, bit for bit. */
class FitDeterminismSpec extends SparkTestBase {

  private val partitions = Seq(1, 4, 16)

  /** `body` once per partition count, the session's setting restored after. */
  private def atEachPartitionCount[T](body: => T): Seq[(Int, T)] = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try partitions.map { n => spark.conf.set(key, n.toString); n -> body }
    finally spark.conf.set(key, saved)
  }

  /** Scores as (date, region, raw bits of the score), in (date, region) order. */
  private def scoreBits(scores: DataFrame): Seq[(String, String, Long)] =
    scores.collect().toSeq.map { case Row(d, r, s: Double) =>
      (String.valueOf(d), String.valueOf(r), java.lang.Double.doubleToRawLongBits(s))
    }.sortBy(t => (t._1, t._2))

  private def assertAllEqual[T](runs: Seq[(Int, T)], what: String): Unit = {
    val (n0, first) = runs.head
    for ((n, other) <- runs.tail)
      if (other != first) fail(s"$what at $n shuffle partitions differs from $n0")
  }

  test("fitFull: same model and scores at 1, 4 and 16 shuffle partitions") {
    val daily = IncrementalOutbreakSpec.mkDaily(spark, 1 to 30, spikeDays = Set(12, 25))
    val runs = atEachPartitionCount {
      val (scores, model, _) =
        IncrementalOutbreak.fitFull(spark, daily, IncrementalOutbreakSpec.terms)
      (model, scoreBits(scores))
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(runs.head._2._2.size == 30 * 2)
    assertAllEqual(runs.map { case (n, (m, _)) => n -> m }, "model")
    assertAllEqual(runs.map { case (n, (_, s)) => n -> s }, "scores")
  }

  test("the Spark front's fit: same model, scores and detrend state at 1, 4 and 16 shuffle " +
      "partitions") {
    val daily = IncrementalOutbreakSpec.mkDaily(spark, 1 to 30, spikeDays = Set(12, 25))
    def bits(xs: Array[Double]) = xs.toSeq.map(java.lang.Double.doubleToRawLongBits)
    val runs = atEachPartitionCount {
      val (scores, m, state) = AnomalyScorer.fit(daily, IncrementalOutbreakSpec.terms,
        pcaK = 4, localEvalThreshold = 0L)
      val p = m.projection.get
      val model = Seq(bits(p.mean.toArray), bits(p.std.toArray), bits(p.pc.toArray),
        bits(Array(m.mu, m.sigma))) ++ m.centers.map(c => bits(c.toArray))
      (model, scoreBits(scores), IncrementalOutbreakSpec.stateBits(state))
    }
    assert(runs.head._2._2.size == 30 * 2)
    assert(runs.head._2._3.size == 2 * 2)
    assertAllEqual(runs.map { case (n, (m, _, _)) => n -> m }, "model")
    assertAllEqual(runs.map { case (n, (_, s, _)) => n -> s }, "scores")
    assertAllEqual(runs.map { case (n, (_, _, st)) => n -> st }, "detrend state")
  }

  test("q41's scores at sf0.001: the same at 1, 4 and 16 shuffle partitions") {
    val runs = atEachPartitionCount(
      scoreBits(PipelineQueries.outbreakScores(spark, "/root/testdata/sf0.001")))
    assert(runs.head._2.nonEmpty)
    assertAllEqual(runs, "scores")
  }
}
