package graft.sinks

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Co-located join via bucketed storage: after a `bucketBy` write on the
  * join key, a join between the two tables must run with ZERO exchanges —
  * the write-once shuffle replaces the per-query shuffle. */
class BucketedJoinSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("join of co-bucketed tables is exchange-free and result-identical") {
    val orders = graft.sources.Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val lineitem = graft.sources.Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_quantity")
    writeBucketed(orders, "b_orders", "o_orderkey")
    writeBucketed(lineitem, "b_lineitem", "l_orderkey")

    val joined = spark.table("b_orders")
      .join(spark.table("b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey")
      .agg(sum("l_quantity").as("q"), count(lit(1)).as("n"))

    // force the join path that would normally shuffle both sides
    val plain = orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey")
      .agg(sum("l_quantity").as("q"), count(lit(1)).as("n"))

    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        "co-bucketed join must not shuffle:\n" + p.take(1500))
      assert(joined.orderBy("o_orderkey").collect().toSeq ==
        plain.orderBy("o_orderkey").collect().toSeq)
    }
  }

  test("aggregation on the bucket key reuses the bucket partitioning") {
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = spark.table("b_orders")
        .groupBy("o_orderkey").agg(sum("o_totalprice").as("t"))
        .queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        "groupBy on the bucket key must not shuffle:\n" + p.take(1500))
    }
  }

  private def writeBucketed(df: DataFrame, table: String, key: String): Unit =
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(4, key).sortBy(key).saveAsTable(table)

  private def withSQLConf[A](pairs: (String, String)*)(f: => A): A = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
