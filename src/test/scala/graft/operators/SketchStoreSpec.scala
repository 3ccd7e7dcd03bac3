package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class SketchStoreSpec extends SparkTestBase {
  import spark.implicits._

  // 3 keys × overlapping value ranges; true distinct per key is exact
  private def rows(lo: Int, hi: Int) =
    (lo until hi).flatMap(v => Seq(("a", v.toLong), ("b", (v % 900).toLong),
      ("c", (v * 2).toLong)))

  test("union of epoch partials tracks the single-shot sketch and the exact count") {
    val dir = java.nio.file.Files.createTempDirectory("sketchstore").toString
    val all = rows(0, 3000)
    // three epochs, arbitrary uneven split
    Seq(all.slice(0, 2000), all.slice(2000, 6500), all.slice(6500, all.size))
      .zipWithIndex.foreach { case (chunk, i) =>
        SketchStore.append(chunk.toDF("k", "v"), Seq("k"), "v", dir, i.toLong)
      }
    val merged = SketchStore.estimate(spark, dir, Seq("k"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val direct = all.toDF("k", "v").groupBy("k")
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col("v"), lit(SketchStore.LgK))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged.keySet == Set("a", "b", "c"))
    for ((k, (nSk, est)) <- merged) {
      assert(nSk == 3L, s"key $k saw $nSk sketch rows")
      // the union's registers are the same state however the rows were
      // split, but its ESTIMATOR differs from a directly-built sketch's
      // (Datasketches HIP applies only to direct updates) — so track,
      // don't equal
      assert(math.abs(est - direct(k)).toDouble / direct(k) <= 0.02,
        s"key $k: union $est drifted from direct ${direct(k)}")
    }
    // accuracy contract: within 5% of exact (a=3000, b=900, c=3000)
    val exact = Map("a" -> 3000L, "b" -> 900L, "c" -> 3000L)
    for ((k, (_, est)) <- merged)
      assert(math.abs(est - exact(k)).toDouble / exact(k) <= 0.05,
        s"key $k estimate $est vs exact ${exact(k)}")
  }

  test("epoch replay leaves the sketch rows and the estimate unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("sketchstore2").toString
    val e0 = rows(0, 1000); val e1 = rows(500, 1500)
    SketchStore.append(e0.toDF("k", "v"), Seq("k"), "v", dir, 0L)
    SketchStore.append(e1.toDF("k", "v"), Seq("k"), "v", dir, 1L)
    def estimates() = SketchStore.estimate(spark, dir, Seq("k"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val before = estimates()
    assert(before.values.forall(_._1 == 2L))
    // at-least-once replay of epoch 1 overwrites its own partition
    SketchStore.append(e1.toDF("k", "v"), Seq("k"), "v", dir, 1L)
    assert(estimates() == before)
  }
}
