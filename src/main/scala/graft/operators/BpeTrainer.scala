package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge training (Sennrich et al. 2016) — the real
  * iterative loop that produces a tokenizer's merge table, not just a
  * BPE-ish segmentation regex (that's q68).
  *
  * Scale shape: the corpus is touched in exactly ONE shuffle (the word
  * histogram); every merge round then runs over the word-TYPE table,
  * which is orders of magnitude smaller than the corpus (Heaps' law) and
  * stays distributed — pair counting is a combinable agg, the argmax is
  * a 1-row TakeOrdered, and the rewrite is a narrow typed map. Each
  * round re-caches the rewritten histogram and drops the previous one,
  * so lineage stays one round deep.
  *
  * Determinism: pair counts are exact longs; the winning pair is chosen
  * under the TOTAL order (count DESC, left ASC, right ASC), so the merge
  * table is reproducible across partitionings and engines — verified in
  * BpeTrainerSpec against an independent single-machine reference.
  */
object BpeTrainer {

  /** End-of-word marker (keeps "low|er" distinct from "lower|"). */
  val Eow = "</w>"

  /** Unsigned UTF-8 byte order — the order Spark's `orderBy` uses for
    * strings. The driver-local loop must break count ties with the SAME
    * order or non-BMP symbols (where UTF-16 code-unit order diverges
    * from codepoint order) could pick a different merge winner than the
    * distributed path. */
  private[operators] val utf8Order: Ordering[String] = (a: String, b: String) => {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    var cmp = 0
    while (cmp == 0 && i < n) { cmp = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
    if (cmp != 0) cmp else x.length - y.length
  }

  /** Left-to-right non-overlapping application of one merge — the BPE
    * greedy rule ("a a a" under (a,a) becomes ["aa", "a"]). */
  private[operators] def applyMerge(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toSeq
  }

  /** Word histogram of `textCol` split on single spaces, each word type
    * as its character-symbol array plus [[Eow]]. The one corpus-wide
    * shuffle of the whole training run. */
  private def wordHistogram(docs: DataFrame, textCol: String): Dataset[(Seq[String], Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(concat(split(col("w"), ""), array(lit(Eow))).as("syms"), col("freq"))
      .as[(Seq[String], Long)]
  }

  /** Train `numMerges` greedy merges; returns the ranked merge table
    * (rank, left, right, pair_count) — the artifact a tokenizer ships.
    *
    * The corpus-wide histogram shuffle always runs distributed. The
    * merge LOOP is threshold-guarded: when the word-type table fits
    * comfortably on the driver (it is corpus-sublinear by Heaps' law —
    * even web-scale corpora land in the tens of millions of types) the
    * rounds run driver-local with zero per-round job overhead, exactly
    * as production tokenizer trainers do; above the threshold the same
    * greedy rule runs as distributed rounds. Both paths share the tie
    * rule, so they produce identical tables (asserted in
    * BpeTrainerSpec). */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
      driverLocalMaxTypes: Long = 1L << 18): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var hist = wordHistogram(docs, textCol).cache()
    val nTypes = hist.count() // materialize before the loop reuses it twice per round
    if (nTypes <= driverLocalMaxTypes) {
      val local = hist.collect()
      hist.unpersist()
      return localLoop(spark, local, numMerges)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var dry = false
    while (!dry && merges.size < numMerges) {
      val top = hist.toDF("syms", "freq")
        .where(size(col("syms")) >= 2)
        .select(explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"), col("freq"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1)
        .as[(String, String, Long)]
        .collect()
      top.headOption match {
        case Some((l, r, cnt)) =>
          merges += ((merges.size, l, r, cnt))
          val next = hist.map { case (syms, freq) => (applyMerge(syms, l, r), freq) }.cache()
          next.count()
          hist.unpersist()
          hist = next
        case None => dry = true // every word fully merged — nothing left
      }
    }
    hist.unpersist()
    merges.toSeq.toDF("rank", "left", "right", "pair_count")
  }

  /** Driver-local merge rounds over a collected word-type histogram —
    * the same greedy rule and tie order as the distributed loop, with
    * per-round cost measured in microseconds instead of Spark jobs. */
  private def localLoop(spark: org.apache.spark.sql.SparkSession,
      histogram: Array[(Seq[String], Long)], numMerges: Int): DataFrame = {
    import spark.implicits._
    var hist = histogram.map { case (syms, f) => (syms.toArray, f) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var dry = false
    while (!dry && merges.size < numMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, f) <- hist) {
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) dry = true
      else {
        // max count, ties by (left, right) under UTF-8 byte order — the
        // exact total order the distributed orderBy applies
        val ((l, r), cnt) = counts.minBy { case ((l, r), c) => (-c, l, r) }(
          Ordering.Tuple3(Ordering.Long, utf8Order, utf8Order))
        merges += ((merges.size, l, r, cnt))
        hist = hist.map { case (syms, f) =>
          // rewrite only word types that actually contain the pair
          var hit = false
          var i = 0
          while (!hit && i + 1 < syms.length) {
            hit = syms(i) == l && syms(i + 1) == r; i += 1
          }
          if (hit) (applyMerge(syms.toSeq, l, r).toArray, f) else (syms, f)
        }
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "pair_count")
  }
}
