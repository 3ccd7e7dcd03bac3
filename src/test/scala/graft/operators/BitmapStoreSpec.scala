package graft.operators

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** BitmapStore: canonical bytes, exact popcount, epoch-append +
  * union == direct distinct, byte-level replay idempotence, and the
  * loud out-of-range failure. */
class BitmapStoreSpec extends SparkTestBase {
  import spark.implicits._

  /** Bitmap `df`'s epoch and land it at `path/__batch=<epoch>`, the
    * store layout q245 writes. */
  private def append(df: DataFrame, keyCols: Seq[String], valueCol: String,
      path: String, epoch: Long): Unit =
    BitmapStore.bitmaps(df, keyCols, valueCol)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/__batch=$epoch")

  test("popcount and canonical trim") {
    assert(BitmapStore.popcount(Array[Byte](0x03, 0x00, (0x80).toByte)) == 3L)
    assert(BitmapStore.popcount(Array.emptyByteArray) == 0L)
  }

  test("epoch-append union equals direct distinct; bytes replay-idempotent") {
    val store = Files.createTempDirectory("bm_store").toString
    // epoch 1: key a -> {1,2,3}, b -> {10}; epoch 2: a -> {3,4}, b -> {10}
    val e1 = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 10L)).toDF("k", "id")
    val e2 = Seq(("a", 3L), ("a", 4L), ("b", 10L)).toDF("k", "id")
    append(e1, Seq("k"), "id", store, 1L)
    append(e2, Seq("k"), "id", store, 2L)
    val got = BitmapStore.countDistinct(spark, store, Seq("k")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("a") == (2L, 4L), s"$got") // {1,2,3,4}
    assert(got("b") == (2L, 1L), s"$got")
    // replaying epoch 2 rewrites byte-identical bitmaps: count unchanged
    val bytesBefore = spark.read.parquet(s"$store/__batch=2")
      .orderBy("k").collect().map(_.getAs[Array[Byte]]("bitmap").toSeq)
    append(e2, Seq("k"), "id", store, 2L)
    val bytesAfter = spark.read.parquet(s"$store/__batch=2")
      .orderBy("k").collect().map(_.getAs[Array[Byte]]("bitmap").toSeq)
    assert(bytesBefore.toSeq == bytesAfter.toSeq)
    val again = BitmapStore.countDistinct(spark, store, Seq("k")).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(again == Map("a" -> 4L, "b" -> 1L))
  }

  test("duplicate rows change nothing (idempotent OR algebra)") {
    val store = Files.createTempDirectory("bm_dup").toString
    val e = Seq.fill(50)(("k", 7L)).toDF("k", "id")
    append(e, Seq("k"), "id", store, 1L)
    val got = BitmapStore.countDistinct(spark, store, Seq("k")).collect().head
    assert(got.getLong(2) == 1L)
  }

  test("an id outside the dense range fails loudly, not wrongly") {
    val e = Seq(("k", BitmapStore.MaxId + 1)).toDF("k", "id")
    val ex = intercept[Exception] {
      BitmapStore.bitmaps(e, Seq("k"), "id").collect()
    }
    assert(ex.getMessage != null)
  }

  test("sliding union over epochs: window membership by hand") {
    val store = Files.createTempDirectory("bm_slide").toString
    // day 1: {1,2}; day 3: {2,3}; day 9: {9}
    append(Seq(("k", 1L), ("k", 2L)).toDF("k", "id"),
      Seq("k"), "id", store, 1L)
    append(Seq(("k", 2L), ("k", 3L)).toDF("k", "id"),
      Seq("k"), "id", store, 3L)
    append(Seq(("k", 9L)).toDF("k", "id"),
      Seq("k"), "id", store, 9L)
    val bm = spark.read.parquet(store)
    val days = bm.select(col("__batch").cast("long").as("d")).distinct()
    val got = bm.join(days,
        col("__batch") >= col("d") - 6 && col("__batch") <= col("d"))
      .groupBy("k", "d")
      .agg(BitmapStore.popcountCol(
        BitmapStore.unionAggCol(col("bitmap"))).as("n"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    // d=1: {1,2}=2; d=3: days 1,3 -> {1,2,3}=3; d=9: days 3,9 -> {2,3,9}=3
    assert(got == Map(1L -> 2L, 3L -> 3L, 9L -> 3L), s"$got")
  }

  test("q247 retention triangle: hand-planted cohorts via set algebra") {
    // u1: d0,d1; u2: d0,d2; u3: d1 ->
    // cohort d0 = {1,2}: (0,0,2,2) (0,1,2,1) (0,2,2,1)
    // cohort d1 = {3}:   (1,0,1,1)   (u3 never returns)
    val e = Seq((1L, 0L), (1L, 1L), (2L, 0L), (2L, 2L), (3L, 1L))
      .toDF("user_id", "day")
    val got = graft.queries.Analytics.bitmapRetentionOn(spark, e)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      (0L, 0L) -> ((2L, 2L)), (0L, 1L) -> ((2L, 1L)),
      (0L, 2L) -> ((2L, 1L)), (1L, 0L) -> ((1L, 1L))), s"$got")
  }

  test("q245 on the corpus: bitmap rollup is exact for every type") {
    val got = graft.queries.Analytics
      .q245BitmapDistinct(spark, "/root/testdata/sf0.001").collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getBoolean(4)),
      s"bitmap != direct: ${got.filterNot(_.getBoolean(4)).toList}")
  }
}
