package graft.outbreak

import java.sql.Date

import graft.SparkTestBase
import graft.queries.PipelineQueries
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.mllib.clustering.DriverFit
import org.apache.spark.sql.{DataFrame, Row}

/** The outbreak fit on the driver must equal the Spark front and the
  * MLlib and Spark SQL fit (forced with a local threshold of 0) bit for
  * bit: first every assembled feature vector, with its date and region, in
  * order; then the scaler's mean and std, the PCA basis, the cluster
  * centers, mu, sigma and every score. Each tidy table exercises a
  * different input; between them they cover both of MLlib's covariance
  * branches. */
class DriverFitSpec extends SparkTestBase {
  import spark.implicits._

  private def bits(xs: Array[Double]): Seq[Long] =
    xs.toSeq.map(java.lang.Double.doubleToRawLongBits)

  private def scoreBits(scores: DataFrame): Seq[(Any, Any, Long)] =
    scores.collect().toSeq.map { case Row(d, r, s: Double) =>
      (d, r, java.lang.Double.doubleToRawLongBits(s))
    }

  /** The driver front's rows equal the Spark front's, in order; returns them. */
  private def assertSameFront(daily: DataFrame, vocab: Seq[String]): Array[Vector] = {
    val local = AnomalyScorer.localFront(daily, vocab, 50000L)
      .getOrElse(fail("the driver front declined the table"))
    val built = AnomalyScorer.sparkFront(daily, vocab).collect()
    assert(local.features.length == built.length, "feature rows")
    for (i <- built.indices) {
      val Row(d, r, v: Vector) = built(i)
      assert((local.dates(i), local.regions(i)) == ((d, r)), s"key of row $i")
      assert(local.features(i) == v && local.features(i).getClass == v.getClass &&
        bits(local.features(i).toArray) == bits(v.toArray), s"features of row $i ($d, $r)")
    }
    local.features
  }

  /** Fit `daily` both ways, compare everything, return the driver's model. */
  private def assertIdentical(daily: DataFrame, vocab: Seq[String],
      pcaK: Int): AnomalyScorer.Model = {
    assertSameFront(daily, vocab)
    val (dScores, d, _) = AnomalyScorer.fit(daily, vocab, pcaK)
    val (mScores, m, _) = AnomalyScorer.fit(daily, vocab, pcaK, localEvalThreshold = 0L)
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

  /** Whether MLlib's PCA builds the covariance from the Gramian on these
    * features (every scaled row at least half zeros) rather than from
    * centered rows: the two branches round differently. */
  private def gramianCovariance(vecs: Array[Vector]): Boolean = {
    val (mean, std) = DriverFit.scalerStats(vecs)
    !vecs.map(DriverFit.scaler(mean, std)).exists(v => v.numNonzeros * 2 > v.size)
  }

  private val sf0001 = "/root/testdata/sf0.001"

  private def day(s: String) = Date.valueOf(s)

  test("IncrementalOutbreakSpec's 30-day daily table, scaler + PCA(4)") {
    val daily = IncrementalOutbreakSpec.mkDaily(spark, 1 to 30, spikeDays = Set(12, 25))
    assert(gramianCovariance(assertSameFront(daily, IncrementalOutbreakSpec.terms)))
    assertIdentical(daily, IncrementalOutbreakSpec.terms, 4)
  }

  test("q37's feature table at sf0.001, scaler + PCA(4)") {
    assertIdentical(PipelineQueries.dailyFromEvents(spark, sf0001), PipelineQueries.EventTypes, 4)
  }

  test("q41's feature table at sf0.001, no PCA (sparse rows)") {
    assertIdentical(PipelineQueries.dailyFromEvents(spark, sf0001), PipelineQueries.EventTypes, 0)
  }

  /** Six days over a month end, four regions, three terms (one with a
    * space) and one term outside the vocabulary. "RＡ" sorts before
    * "R😀" in UTF-8 byte order and after it in UTF-16 order. */
  private def edgeTable: DataFrame = {
    val vocab = Seq("Cough", "Sore throat", "Fever")
    val regions = Seq("US", "RＡ", "R😀")
    val rows = for {
      (d, i) <- (29 to 34).zipWithIndex
      (r, j) <- regions.zipWithIndex
      kw <- vocab :+ "Sneeze"
    } yield {
      val date = day(java.time.LocalDate.of(2020, 1, 1).plusDays(d - 1).toString)
      val v: Option[Double] = (r, kw, i) match {
        case ("US", "Fever", 1) => None                       // a null value
        case ("US", "Cough", 3) => Some(Double.NaN)           // NaN from here on
        case ("R😀", "Fever", _) => Some(0.0)        // an all-zero series
        case _ => Some(10.0 / (1 + j) + 0.37 * i * (kw.length % 4) + 0.1 * (i % 3))
      }
      (date, r, kw, v)
    }
    // a (date, region) that has only an out-of-vocabulary term, and a
    // null region, which Spark's ascending sort ranks first
    (rows :+ ((day("2020-02-03"), "ZZ", "Sneeze", Some(3.3)))
      :+ ((day("2020-02-01"), null, "Cough", Some(2.2))))
      .toDF("date", "region", "kw", "value")
  }
  private val edgeVocab = Seq("Cough", "Sore throat", "Fever")

  test("edge table: null, NaN, zero series, out-of-vocabulary, spaces, UTF-8 order, month end") {
    val daily = edgeTable
    val front = assertSameFront(daily, edgeVocab)
    assert(front.length == 6 * 3 + 2)
    val local = AnomalyScorer.localFront(daily, edgeVocab, 50000L).get
    assert(local.regions.take(3).toSeq == Seq("RＡ", "R😀", "US"), "UTF-8 byte order")
    assert(local.regions.last == "ZZ" && front.last.numNonzeros == 1, "the OOV-only row")
    val feb1 = local.dates.indexWhere(_ == day("2020-02-01"))
    assert(local.regions.slice(feb1, feb1 + 4).toSeq == Seq(null, "RＡ", "R😀", "US"),
      "a null region first")
    assertIdentical(daily, edgeVocab, 4)
    assertIdentical(daily, edgeVocab, 0)
  }

  /** Ten terms over a month end: scaled rows more than half nonzero, so
    * MLlib centers the rows; the other ten months have std 0. */
  test("a zero-variance feature: its std is 0 and it scales to 0") {
    val terms = (1 to 10).map(t => s"t$t")
    val daily = (for {
      d <- 0 until 24
      r <- Seq("A", "B")
      (t, k) <- terms.zipWithIndex
    } yield (day(java.time.LocalDate.of(2020, 1, 20).plusDays(d).toString), r, t,
      5.0 + ((d * (k + 3) + r.head) % 7) * 1.3 + 0.01 * k)).toDF("date", "region", "kw", "value")
    assert(!gramianCovariance(assertSameFront(daily, terms)))
    val m = assertIdentical(daily, terms, 3)
    assert(m.projection.get.std(terms.size + 2) == 0.0, "is_march")
  }

  test("a multi-partition input: both paths take it in one partition's order") {
    val daily = IncrementalOutbreakSpec.mkDaily(spark, 1 to 20, spikeDays = Set(9)).repartition(3)
    assert(daily.rdd.getNumPartitions == 3)
    assertIdentical(daily, IncrementalOutbreakSpec.terms, 2)
    assertIdentical(daily, IncrementalOutbreakSpec.terms, 0)
  }
}
