package graft.sources.v2

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** SQL UPDATE / MERGE INTO / expression DELETE through the group-based
  * copy-on-write row-level operation ([[EventLogRowLevelOperation]]):
  * touched-files-only rewrites discovered via the `_file` metadata
  * column, one-segment commits, untouched files untouched, extended
  * stores included — plus `_file` as a plain provenance column. */
class EventLogRowLevelSpec extends graft.SparkTestBase {
  import spark.implicits._

  private val Day = 86400000000L

  private val rows = (1 to 12).map { i =>
    (i.toLong, (i % 3) * Day + i * 1000L, 100L + i % 4,
      if (i % 2 == 0) "a" else "b", i * 10L)
  }

  private def store(): String = {
    val dir = Files.createTempDirectory("gelrl").toString
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .withColumn("__day", expr("ts_us div 86400000000"))
      .repartition(col("__day")).drop("__day")
      .write.format("graft-eventlog").mode("append").save(dir)
    dir
  }

  private def register(dir: String): String = {
    val name = s"rl_${Integer.toHexString(dir.hashCode)}"
    GraftCatalog.register(spark, name, dir)
    s"graft.$name"
  }

  private def contents(dir: String): Set[(Long, Long, Long, String, Long)] =
    spark.read.format("graft-eventlog").load(dir)
      .as[(Long, Long, Long, String, Long)].collect().toSet

  test("_file is a queryable provenance column") {
    val dir = store()
    val t = register(dir)
    val perFile = spark.sql(
      s"SELECT _file, count(*) AS n FROM $t GROUP BY _file")
      .as[(String, Long)].collect().toMap
    assert(perFile.keySet == EventLog.listFiles(dir).map(_.getName).toSet)
    assert(perFile.values.sum == rows.size)
  }

  test("SQL UPDATE rewrites only the touched files, as one commit") {
    val dir = store()
    val t = register(dir)
    val before = EventLog.listFiles(dir).map(_.getName).toSet
    val v0 = EventLog.currentVersion(dir)
    // event_id 3 lives in exactly one day file
    spark.sql(s"UPDATE $t SET cents = cents + 1000 WHERE event_id = 3")
    val expected = rows.map {
      case r if r._1 == 3L => r.copy(_5 = r._5 + 1000L)
      case r => r
    }.toSet
    assert(contents(dir) == expected)
    val after = EventLog.listFiles(dir).map(_.getName).toSet
    assert(before.intersect(after).size == before.size - 1,
      s"UPDATE rewrote more than the touched file: " +
        s"${(before -- after).toSeq.sorted}")
    assert(EventLog.currentVersion(dir) == v0 + 1,
      "the rewrite must be ONE manifest commit")
    assert(EventLog.readManifest(dir).keySet == after)
    // the rewrite SYNTHESIZES its change data: the plain feed refuses
    // (updates are inexpressible as appends) naming the typed feed…
    val e = intercept[IllegalArgumentException] {
      EventLog.changedEntries(dir, v0, v0 + 1)
    }
    assert(e.getMessage.contains("cdc.typed"))
    // …and the typed feed serves the UPDATE as a pre/post pair
    val typed = spark.read.format("graft-eventlog")
      .option("cdc.typed", "true")
      .option("changes.from", v0.toString)
      .option("changes.to", (v0 + 1).toString)
      .load(dir)
      .select("_change_type", "event_id", "cents")
      .as[(String, Long, Long)].collect().toSet
    assert(typed == Set(("update_preimage", 3L, 30L),
      ("update_postimage", 3L, 1030L)), s"synthesized CDC wrong: $typed")
  }

  test("a COW mutation past the CDC diff budget commits; its feed window refuses") {
    val dir = store()
    val t = register(dir)
    val v0 = EventLog.currentVersion(dir)
    val saved = EventLogCowBatchWrite.CdcDiffCap
    try {
      EventLogCowBatchWrite.CdcDiffCap = 1L // force the skip
      spark.sql(s"UPDATE $t SET cents = 0 WHERE event_id = 3")
    } finally EventLogCowBatchWrite.CdcDiffCap = saved
    // the mutation itself landed…
    assert(spark.read.format("graft-eventlog").load(dir)
      .where(col("event_id") === 3L).select("cents").as[Long].head() == 0L)
    // …but the window refuses: no change evidence was journaled
    val e = intercept[IllegalArgumentException] {
      EventLog.changedEntries(dir, v0, v0 + 1)
    }
    assert(e.getMessage.contains("without journaling change data"))
  }

  test("expression DELETE (not metadata-provable) takes the COW path") {
    val dir = store()
    val t = register(dir)
    // cents % 70 is no source Filter: canDeleteWhere never sees it,
    // so Spark rewrites the groups instead
    spark.sql(s"DELETE FROM $t WHERE cents % 70 = 0")
    assert(contents(dir) == rows.filterNot(_._5 % 70 == 0).toSet)
    assert(!EventLogDv.anyIn(dir), "COW delete must not write a DV")
  }

  test("MERGE INTO: matched update + unmatched insert, one commit") {
    val dir = store()
    val t = register(dir)
    val v0 = EventLog.currentVersion(dir)
    Seq((4L, Day + 4000L, 100L, "a", 999L),
        (5000L, 77L, 101L, "new", 5L))
      .toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .createOrReplaceTempView("rl_src")
    spark.sql(
      s"""MERGE INTO $t AS t USING rl_src AS s ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET cents = s.cents
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val expected = rows.map {
      case r if r._1 == 4L => r.copy(_5 = 999L)
      case r => r
    }.toSet + ((5000L, 77L, 101L, "new", 5L))
    assert(contents(dir) == expected)
    assert(EventLog.currentVersion(dir) == v0 + 1)
    assert(EventLogCompact.recover(dir) == 0)
  }

  test("row-level SQL works on EXTENDED stores and preserves lanes") {
    val dir = store()
    EventLogSchema.addColumn(dir, "flags")
    Seq((100L, 50L, 9L, "a", 1L, Some(42L)))
      .toDF("event_id", "ts_us", "user_id", "event_type", "cents", "flags")
      .coalesce(1)
      .write.format("graft-eventlog").mode("append").save(dir)
    val t = register(dir)
    spark.sql(s"UPDATE $t SET cents = 777 WHERE event_id = 100")
    val got = spark.read.format("graft-eventlog").load(dir)
      .where(col("event_id") === 100L)
      .select("cents", "flags").as[(Long, Option[Long])].head()
    assert(got == ((777L, Some(42L))), s"lane lost through UPDATE: $got")
    // pre-add base rows survive with null lanes
    assert(spark.read.format("graft-eventlog").load(dir)
      .where(col("flags").isNull).count() == rows.size)
  }

  test("bucketed store: the COW rewrite keeps bucket routing") {
    val dir = Files.createTempDirectory("gelrl").toString
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .write.format("graft-eventlog").mode("append")
      .option("bucket.count", "4").save(dir)
    val t = register(dir)
    spark.sql(s"UPDATE $t SET cents = 0 WHERE event_id = 7")
    assert(contents(dir) == rows.map {
      case r if r._1 == 7L => r.copy(_5 = 0L)
      case r => r
    }.toSet)
    // every data file still carries a bucket tag matching its rows
    EventLog.listFiles(dir).foreach { f =>
      val b = EventLog.bucketOfName(f.getName)
      assert(b.isDefined, s"${f.getName} lost its bucket tag")
      EventLog.readRecords(f).map(_._1).foreach { r =>
        assert(GraftBucketFunction.bucketOf(r._3, 4) == b.get,
          s"${f.getName} holds a row of the wrong bucket")
      }
    }
  }

  test("a version-pinned table refuses row-level SQL") {
    val dir = store()
    register(dir)
    val pinned = new EventLogTable(dir, EventLog.TimeView.AsOf(1))
    val e = intercept[IllegalArgumentException] {
      pinned.newRowLevelOperationBuilder(null)
    }
    assert(e.getMessage.contains("live table"))
  }
}
