package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Persisted EXACT-distinct bitmap store — the exact sibling of q151's
  * HyperLogLog sketches. Per key, the id set compresses to a dense bitmap (one bit
  * per id) written partition-per-epoch; read-time union is bytewise
  * OR and the answer is an exact popcount, not an estimate. The trade
  * against HLL is explicit: bitmap size grows with the ID DOMAIN
  * (bytes = max_id/8 — ~128 KB per key per epoch at a million ids)
  * instead of HLL's fixed kilobytes, in exchange for exactness and
  * the same mergeable algebra (OR is associative, commutative,
  * idempotent — replayed epochs overwrite to identical bytes,
  * duplicate rows change nothing). The id-compact regime (user ids,
  * row ids, dictionary-encoded entities) is exactly where exact
  * rollups are usually demanded; beyond it, swap the dense array for
  * a Roaring container behind the same two aggregators — the store
  * layout and algebra are unchanged.
  *
  * Canonical form: trailing zero bytes are trimmed in `finish`, so
  * equal SETS produce equal BYTES — what makes stored artifacts
  * hashable and replay-idempotent byte-for-byte.
  */
object BitmapStore {

  /** Hard id ceiling (bits): fail loudly rather than write a silently
    * wrong bitmap for an id the dense layout cannot hold. */
  val MaxId: Long = 1L << 26 // 64M ids = 8 MB worst-case bitmap

  private def ensure(buf: Array[Byte], n: Int): Array[Byte] =
    if (buf.length >= n) buf else java.util.Arrays.copyOf(buf, n)

  private def trim(buf: Array[Byte]): Array[Byte] = {
    var n = buf.length
    while (n > 0 && buf(n - 1) == 0) n -= 1
    if (n == buf.length) buf else java.util.Arrays.copyOf(buf, n)
  }

  private def orInto(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val out = ensure(a, b.length)
    var i = 0
    while (i < b.length) { out(i) = (out(i) | b(i)).toByte; i += 1 }
    out
  }

  /** id set → dense bitmap bytes. */
  class IdBitmapAgg extends Aggregator[Long, Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = Array.emptyByteArray
    def reduce(buf: Array[Byte], id: Long): Array[Byte] = {
      require(id >= 0 && id < MaxId,
        s"BitmapStore: id $id outside dense range [0, $MaxId) - use a " +
          "dictionary encoding or a Roaring container")
      val out = ensure(buf, (id / 8).toInt + 1)
      out((id / 8).toInt) = (out((id / 8).toInt) | (1 << (id % 8).toInt)).toByte
      out
    }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
      if (a.length >= b.length) orInto(a, b) else orInto(b, a)
    def finish(buf: Array[Byte]): Array[Byte] = trim(buf)
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** bitmap bytes → union bitmap (read-time merge across epochs). */
  class BitmapUnionAgg extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = Array.emptyByteArray
    def reduce(buf: Array[Byte], bm: Array[Byte]): Array[Byte] =
      if (buf.length >= bm.length) orInto(buf, bm) else orInto(bm.clone(), buf)
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
      if (a.length >= b.length) orInto(a, b) else orInto(b, a)
    def finish(buf: Array[Byte]): Array[Byte] = trim(buf)
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** a ∩ b (fresh array). */
  def and(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val n = math.min(a.length, b.length)
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = (a(i) & b(i)).toByte; i += 1 }
    trim(out)
  }

  /** a \ b (fresh array). */
  def andNot(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val out = a.clone()
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) { out(i) = (out(i) & ~b(i)).toByte; i += 1 }
    trim(out)
  }

  /** a ∪ b (fresh array). */
  def or(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    if (a.length >= b.length) orInto(a.clone(), b) else orInto(b.clone(), a)

  def popcount(bm: Array[Byte]): Long = {
    var n = 0L
    var i = 0
    while (i < bm.length) { n += java.lang.Integer.bitCount(bm(i) & 0xff); i += 1 }
    n
  }

  private val popcountUdf = udf((bm: Array[Byte]) => popcount(bm))

  /** The read-time union aggregate / popcount as composable Columns
    * (for window-style rollups over store rows, e.g. q246's sliding
    * distinct). */
  def unionAggCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    udaf(new BitmapUnionAgg, Encoders.BINARY)(c)
  def popcountCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    popcountUdf(c)

  /** One bitmap row per key group of `df`. */
  def bitmaps(df: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(udaf(new IdBitmapAgg, Encoders.scalaLong)(col(valueCol))
        .as("bitmap"))

  /** Union every epoch's bitmaps per key: (keys…, n_epochs,
    * n_distinct) — EXACT, and cost proportional to the store, never
    * to the data it summarized. Epoch range predicates on `__batch`
    * partition-prune before any bitmap is read. */
  def countDistinct(spark: SparkSession, path: String,
      keyCols: Seq[String]): DataFrame =
    spark.read.parquet(path)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_epochs"),
        popcountUdf(udaf(new BitmapUnionAgg, Encoders.BINARY)(col("bitmap")))
          .as("n_distinct"))
}
