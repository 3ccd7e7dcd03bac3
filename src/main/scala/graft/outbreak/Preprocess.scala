package graft.outbreak

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Batch preprocessing for the outbreak pipeline — the reference's EP2/EP3
  * stages re-expressed as pure DataFrame transforms (cf. reference
  * `spark_scala_impl/src/main/scala/Main.scala:168-250`, re-derived, not
  * ported).
  *
  * Input contract: a long/tidy daily table `(date, region, kw, value)` —
  * SURVEY §1.2. All transforms are narrow or single-shuffle and respect
  * Catalyst pushdown; the pivot takes a STATIC vocabulary so no
  * distinct-scan job runs (SURVEY §4's static-pivot fast path).
  */
object Preprocess {

  /** Names a column-safe term: spaces → underscores (reference
    * Main.scala:62 semantics). */
  def sanitizeTerms(df: DataFrame): DataFrame =
    df.withColumn("kw", regexp_replace(col("kw"), " ", "_"))

  /** [[sanitizeTerms]] on the vocabulary itself. */
  def sanitizeVocab(vocab: Seq[String]): Seq[String] = vocab.map(_.replace(" ", "_"))

  /** The sanitized vocabulary plus the month indicators: the feature
    * columns, in vector order. */
  def featureCols(sanVocab: Seq[String]): Seq[String] =
    sanVocab ++ MonthNames.map("is_" + _)

  /** Detrend by expanding (cumulative) moving average per (kw, region)
    * series, ordered by date — reference Main.scala:168-195 semantics:
    * value := value / cumavg(value), with 0/NULL/NaN repaired to 1.0.
    *
    * One shuffle on (kw, region) + per-partition sort; the window frame is
    * ROWS UNBOUNDED PRECEDING..CURRENT ROW. The repair guards division
    * before it happens so no NaN is ever produced (cleaner than the
    * reference's produce-then-repair).
    */
  def detrend(daily: DataFrame): DataFrame = {
    val w = bySeries.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("cma", avg("value").over(w))
      .withColumn("value",
        when(col("cma").isNull || col("cma") === 0.0 || isnan(col("cma")), 1.0)
          .otherwise(col("value") / col("cma")))
      .drop("cma")
  }

  /** One (kw, region) series in date order. */
  private def bySeries = Window.partitionBy("kw", "region").orderBy(col("date").asc)

  /** Each series' `(region, kw, n, sumv)`: the count and the sum of its
    * non-null values, accumulated in date order over the whole series —
    * the running (count, Σ) of [[detrend]]'s cumulative average at the
    * series' last date, so a later day's average continues it bit for
    * bit. An unordered `sum` would add in shuffle order and round
    * differently. */
  def detrendState(daily: DataFrame): DataFrame = {
    val w = bySeries.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    daily.select(col("region"), col("kw"), count("value").over(w).as("n"),
        sum(col("value").cast(DoubleType)).over(w).as("sumv"))
      .dropDuplicates("region", "kw")
  }

  /** Long → wide: one Double column per term (reference Main.scala:212-216).
    * `vocab` is passed statically so Spark skips the distinct-values scan;
    * missing cells are repaired with 0.0 (`na.fill(0)` semantics). */
  def pivotWide(daily: DataFrame, vocab: Seq[String]): DataFrame =
    daily.groupBy("date", "region")
      .pivot("kw", vocab)
      .agg(first("value"))
      .na.fill(0.0)

  val MonthNames: Seq[String] = Seq("january", "february", "march", "april",
    "may", "june", "july", "august", "september", "october", "november",
    "december")

  /** Adds 12 one-hot month columns `is_january`..`is_december` derived from
    * `date`. Replaces the reference's UDF + pivot + join (Main.scala:229-250)
    * with 12 codegen'd `when` projections: zero shuffles, zero jobs, fixed
    * schema — the SURVEY §2.5 A3 engine choice. */
  def withMonthOneHot(wide: DataFrame): DataFrame =
    MonthNames.zipWithIndex.foldLeft(wide) { case (df, (m, i)) =>
      df.withColumn(s"is_$m",
        when(month(col("date")) === (i + 1), 1L).otherwise(0L))
    }
}
