package graft.queries

import java.security.MessageDigest

import graft.SparkTestBase

/** Golden-output hashes for the ML scoring queries (q36/q37/q41) on the
  * sf0.001 corpus — the committed correctness signal for queries whose
  * models (IsolationForest, PCA, KMeans) have no SQL oracle. All three
  * are seeded and single-partition at this scale, so the canonical
  * (sorted, pre-rounded) output is bit-stable; any semantic drift in the
  * pipeline — detrend, pivot, assembly, model fit, scoring — changes the
  * hash. The planted-outbreak e2e (OutbreakPipelineSpec) verifies the
  * SEMANTICS find known anomalies; this pins the exact numbers.
  */
class GoldenMlSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def canonicalHash(name: String, dir: String = dir): String = {
    val df = graft.SparkEntry.queries(name)(spark, dir)
    val cols = df.columns.sorted.toSeq
    val lines = df.select(cols.head, cols.tail: _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString(""))
      .sorted
    val digest = MessageDigest.getInstance("MD5")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
    spark.catalog.clearCache()
    digest.map("%02x".format(_)).mkString
  }

  private val golden = Map(
    "q36_iforest_scores" -> "b75680f1f0973bc6b6fb5b9a1a8e47a5",
    "q37_outbreak_pca_scores" -> "48cdfadd87265bf5d82c80e25faae9f8",
    "q41_outbreak_scores" -> "649deed2dbda1394acf673c93d6061aa")

  for ((name, expected) <- golden) {
    test(s"$name canonical output matches the committed golden hash") {
      val actual = canonicalHash(name)
      assert(actual == expected, s"$name golden hash drifted: actual=$actual")
    }
  }

  /** sf0.01 second hash set: at this scale the seeded KMeans/PCA/forest
    * pipelines run MULTI-partition, so partition-order drift in any
    * supposedly order-free accumulation cannot hide behind the
    * single-partition sf0.001 fixture. */
  private val golden01 = Map(
    "q36_iforest_scores" -> "5128caa0f0ccf70678937fb494cbfb95",
    "q37_outbreak_pca_scores" -> "7dafb92d62479e9a5f297c22a69e4940",
    "q41_outbreak_scores" -> "438e9b0e77fb47023fca5bc11503492e")

  for ((name, expected) <- golden01) {
    test(s"$name sf0.01 canonical output matches the committed golden hash") {
      val actual = canonicalHash(name, "/root/testdata/sf0.01")
      assert(actual == expected, s"$name sf0.01 golden hash drifted: actual=$actual")
    }
  }
}
