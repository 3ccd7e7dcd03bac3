package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class ApproxSpec extends SparkTestBase {
  import spark.implicits._

  test("HLL distinct estimate within 5% of exact; approx p50 near median") {
    val df = (1 to 20000).map(i => (i % 2357, i * 0.5)).toDF("id", "v")
    val exact = df.select(countDistinct($"id")).as[Long].collect().head
    val approx = df.select(approx_count_distinct($"id", 0.01)).as[Long].collect().head
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
    val p50 = df.select(percentile_approx($"v", lit(0.5), lit(10000)))
      .as[Double].collect().head
    assert(math.abs(p50 - 5000.0) < 100)
  }
}

/** Bucketed tables join without a shuffle — the co-located-join scale
  * pattern (pre-shuffle once at write time, join for free forever). */
class BucketedJoinSpec extends SparkTestBase {
  import spark.implicits._

  test("join of two tables bucketed on the key has no shuffle exchange") {
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
      val b = (1 to 1000).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
      a.write.bucketBy(8, "k").sortBy("k")
        .option("path", s"$wh/ta").mode("overwrite").saveAsTable("ta")
      b.write.bucketBy(8, "k").sortBy("k")
        .option("path", s"$wh/tb").mode("overwrite").saveAsTable("tb")
      val joined = spark.table("ta").join(spark.table("tb"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      assert(joined.count() == 1000)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ta")
      spark.sql("DROP TABLE IF EXISTS tb")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
