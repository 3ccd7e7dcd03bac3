package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level dense-vector math over `array<float>`/`array<double>`
  * embedding columns, built from higher-order SQL functions (`zip_with`,
  * `aggregate`, `transform`) so everything stays codegen-friendly and
  * distributed — no UDF, no driver collect.
  *
  * All math is promoted to Double before accumulation: float32 parquet
  * vectors fold in float64 left-to-right, which both Spark and DuckDB do
  * identically (oracle-stable).
  */
object VectorFunctions {

  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Sequential left fold sum of elements (in double). */
  def elementSum(v: Column): Column =
    aggregate(asDouble(v), lit(0.0), (acc, x) => acc + x)

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Native codegen'd variants (see [[graft.plans.VectorExpressions]]) —
    * bit-identical to the fold versions but one tight generated loop.
    * Requires `VectorExpressions.register(spark)` (done by
    * [[graft.sources.Tables.load]]). */
  def nativeDot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  def nativeCosine(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  def nativeSqDist(a: Column, b: Column): Column =
    call_function("graft_sqdist", a, b)

  /** Squared Euclidean distance. */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Deterministic Gaussian hyperplanes for cosine LSH (fixed seed ⇒
    * reproducible buckets across runs and engines). */
  def gaussianPlanes(n: Int, dim: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Random-hyperplane (SimHash) LSH bucket for cosine similarity: the
    * sign pattern of `planes.length` fixed pseudo-random hyperplanes.
    * Planes are supplied by the caller (deterministic seeding). */
  def hyperplaneBucket(v: Column, planes: Seq[Array[Double]]): Column = {
    val bits = planes.map { p =>
      val plane = array(p.toIndexedSeq.map(lit): _*)
      when(nativeDot(v, plane) >= 0, lit("1")).otherwise(lit("0"))
    }
    concat(bits: _*)
  }

  /** Multiprobe keys for a hyperplane bucket: the bucket itself plus every
    * bucket within Hamming distance `radius` (bit-flip combinations of the
    * '0'/'1' bucket string). Querying explodes these and hash-joins on the
    * bucket key — candidates stay a bucketed subset; the collection never
    * cross-joins. C(nBits, ≤radius) keys per query (radius 2 of 6 bits =
    * 22), all built from codegen'd string expressions. */
  def multiprobeKeys(bucket: Column, nBits: Int, radius: Int): Column = {
    def withFlips(flips: Set[Int]): Column = concat((0 until nBits).map { p =>
      val c = substring(bucket, p + 1, 1)
      if (flips(p)) when(c === "1", lit("0")).otherwise(lit("1")) else c
    }: _*)
    val combos = (0 to radius)
      .flatMap(r => (0 until nBits).combinations(r).map(_.toSet))
    array(combos.map(withFlips): _*)
  }
}
