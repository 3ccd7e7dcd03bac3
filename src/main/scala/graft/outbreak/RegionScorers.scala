package graft.outbreak

import java.sql.Date

import graft.operators.IsolationForest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Per-region model fan-out (SURVEY §2.11 M6/M7).
  *
  * The reference loops `regions.par.foreach { fit; score; write }` on the
  * DRIVER (reference Main.scala:283-341), re-deriving the full feature
  * lineage ~170× and scheduling O(regions) concurrent Spark jobs. Here the
  * fan-out is ONE shuffle: `groupBy(region)` → `flatMapGroups`, fitting
  * each region's (tiny) forest inside its task. 1000 executors score 1000
  * regions concurrently with no driver coordination — the scale-correct
  * decomposition.
  */
object RegionScorers {

  /** Fit per region on history (`date < scoreDate`), score the rows of
    * `scoreDate` — reference `handleBatchProcessing` semantics
    * (Main.scala:289-314): numTrees=100, maxSamples=|history|,
    * contamination=0 (⇒ predictedLabel always 0.0), seed=1.
    *
    * `wide` is the assembled feature table `(date, region, f1..fn)`.
    * Regions with < minHistory rows of history are skipped (reference
    * guards on count ≥ 3 at Main.scala:114-116, 292).
    */
  def isolationForestScores(spark: SparkSession, wide: DataFrame,
      featureCols: Seq[String], scoreDate: Date, minHistory: Int = 3,
      numTrees: Int = 100, seed: Long = 1L): DataFrame = {
    import spark.implicits._
    val cols = featureCols.toArray
    val pruned = wide
      .where(col("date") <= lit(scoreDate))
      .select((col("date") +: col("region") +: cols.toIndexedSeq.map(c => col(c).cast("double"))): _*)

    val scored = pruned
      .groupByKey(_.getAs[String]("region"))
      .flatMapGroups { (region: String, rows: Iterator[Row]) =>
        val all = rows.map { r =>
          (r.getAs[Date]("date"),
            Array.tabulate(cols.length)(i => r.getDouble(2 + i)))
        }.toArray
        val (today, history) = all.partition(_._1.getTime == scoreDate.getTime)
        if (history.length < minHistory || today.isEmpty) Iterator.empty
        else {
          val model = IsolationForest.fit(history.map(_._2),
            numTrees = numTrees, maxSamples = 0, seed = seed)
          today.iterator.map { case (d, x) =>
            (d, region, 0.0, model.score(x))
          }
        }
      }
    scored.toDF("date", "region", "predictedLabel", "outlierScore")
  }

  /** Latest date present in the feature table (replaces the reference's
    * fragile `first().getAs[Date]` — SURVEY P7). */
  def latestDate(wide: DataFrame): Date =
    wide.agg(max("date")).first().getAs[Date](0)
}
