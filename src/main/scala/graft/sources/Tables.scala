package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loaders for the driver testdata layout (`TESTDATA.md`):
  * one parquet file per table under a scale-factor directory.
  *
  * All loaders are plain `spark.read.parquet` scans so Catalyst keeps full
  * control of column pruning and predicate pushdown — callers `.select`/
  * `.filter` and the filters reach the parquet reader (verify with
  * `.explain`: `PushedFilters`, `ReadSchema`).
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Engine bootstrap: install the native vector expressions and the
    // as-of join operator (marker + rewrite + strategy) on whatever
    // session is in use (idempotent). This is the one way the engine
    // enters a session.
    graft.plans.VectorExpressions.register(spark)
    graft.plans.AsOfJoinPlan.install(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** The events table's `ts` physical encoding has drifted across testdata
    * generations (TIMESTAMP(NANOS) → TIMESTAMP(MICROS) without timezone),
    * and at 100 TB mixed physical encodings across parquet files are
    * routine — so the loader branches on the OBSERVED type instead of
    * assuming one:
    *   - `LongType`: the nanosAsLong legacy path for TIMESTAMP(NANOS)
    *     files — floor-convert to microsecond TimestampType.
    *   - `TimestampNTZType`: MICROS/MILLIS with isAdjustedToUTC=false —
    *     cast to TimestampType. All engine sessions (Verify, Bench,
    *     SparkTestBase) pin `spark.sql.session.timeZone=UTC`, so the cast
    *     is value-preserving and yields the same epoch instants the old
    *     nanos path produced (and the same values DuckDB reads natively).
    *   - `TimestampType`: pass through.
    * Every branch lands on TimestampType so downstream epoch/window/
    * watermark logic is encoding-independent.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // set-once (session config mutation per call would thrash the plan
    // cache and surprise concurrent readers of the same session); only
    // affects NANOS-typed columns, harmless for micros/millis files.
    if (s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  /** Cast any column whose OBSERVED type differs from the engine
    * contract (no-op — not even a plan node — when the file already
    * matches). The generalized events-ts lesson: physical-encoding
    * drift across parquet generations is routine at 100 TB, and a
    * loader is the one place that can absorb it before typed Datasets
    * (`as[...]` encoders) and native FloatType expressions throw. */
  private def normalize(df: DataFrame,
      wanted: (String, org.apache.spark.sql.types.DataType)*): DataFrame =
    wanted.foldLeft(df) { case (acc, (name, t)) =>
      // nullability-insensitive compare, so a file whose list elements
      // are marked required never triggers a useless cast
      if (acc.schema.fieldNames.contains(name) &&
          stripNull(acc.schema(name).dataType) != stripNull(t))
        acc.withColumn(name, col(name).cast(t))
      else acc
    }

  private def stripNull(t: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    t match {
      case ArrayType(e, _) => ArrayType(stripNull(e), containsNull = true)
      case MapType(k, v, _) => MapType(stripNull(k), stripNull(v), valueContainsNull = true)
      case StructType(fs) => StructType(fs.map(f =>
        f.copy(dataType = stripNull(f.dataType), nullable = true)))
      case other => other
    }
  }

  /** Engine contract: doc_id long, text/lang/source string, n_chars
    * long (typed-Dataset encoders throughout the dedup/curation paths). */
  def documents(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    normalize(load(s, d, "documents"),
      "doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType)
  }

  /** Engine contract: vec_id long, embedding array<float> (the native
    * vector expressions and every ANN operator require FloatType
    * elements), label int. A regenerated fixture with list<double>
    * embeddings would otherwise kill the whole similarity family the
    * way TIMESTAMP(MICROS) killed the events family in round 5. */
  def embeddings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    normalize(load(s, d, "embeddings"),
      "vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType)
  }
}
