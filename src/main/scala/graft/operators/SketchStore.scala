package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted mergeable-sketch store: per-key HyperLogLog sketches
  * (Datasketches HLL, the engine-native `hll_sketch_agg` family) written
  * partition-per-epoch, unioned at read time — the 100 TB substitute for
  * re-scanning history to answer "distinct users per key so far".
  *
  * Why this shape scales: a day's raw keys compress to kilobytes of
  * sketch per key before anything persists, so the store grows with
  * (#keys × #epochs), not with data volume; [[estimate]] reads ONLY
  * sketch rows — history is never re-read. Sketch union is register-wise
  * max: associative, commutative, idempotent. That algebra is what makes
  * the layout safe — replayed epochs overwrite their own partition
  * ([[append]] is rename-free idempotent), and duplicated rows change
  * nothing ([[estimate]] is a set-semantics consumer).
  * (The union's ESTIMATE can differ slightly from a single-shot
  * sketch's — direct updates use Datasketches' HIP estimator, merged
  * state the composite one — so the accuracy contract is vs the exact
  * count, never estimator-vs-estimator equality.)
  *
  * The batch query twin is q151 (same partial→union algebra inline, with
  * an accuracy contract the DuckDB oracle checks).
  */
object SketchStore {

  /** Datasketches lgConfigK: 2^12 registers ≈ 0.8% relative error. */
  val LgK = 12

  /** One sketch row per key group of `df`. */
  def sketches(df: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(LgK)).as("sketch"))

  /** Sketch `df`'s epoch and land it at `path/__batch=<epoch>`.
    * Overwrite makes an at-least-once replay of the same epoch a no-op
    * in effect (the sketch of the same rows is the same registers). */
  def append(df: DataFrame, keyCols: Seq[String], valueCol: String,
      path: String, epoch: Long): Unit =
    sketches(df, keyCols, valueCol)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/__batch=$epoch")

  /** Union every epoch's sketches per key: (keys…, n_sketches,
    * n_distinct_est). Reads sketch rows only — cost is proportional to
    * the store, never to the data it summarized. */
  def estimate(spark: SparkSession, path: String, keyCols: Seq[String]): DataFrame =
    spark.read.parquet(path)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_sketches"),
        hll_sketch_estimate(hll_union_agg(col("sketch"))).as("n_distinct_est"))
}
