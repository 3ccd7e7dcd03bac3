package graft.sources.v2

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** CDC continuity across rewrites ([[EventLogCdc]]): rewrite commits
  * journal typed change rows through the swap's intent, the PLAIN
  * changes feed streams compactions as zero rows (instead of wedging)
  * and names `cdc.typed` for commits it cannot express, and the TYPED
  * feed serves merges as pre/post-image pairs, deletes as delete rows,
  * and reconstructs the post-rewrite corpus exactly. */
class EventLogCdcSpec extends graft.SparkTestBase {
  import spark.implicits._

  private val Day = 86400000000L

  private def writeRows(dir: String,
      rs: Seq[(Long, Long, Long, String, Long)]): Unit =
    rs.toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .withColumn("__day", expr("ts_us div 86400000000"))
      .repartition(col("__day")).drop("__day")
      .write.format("graft-eventlog").mode("append").save(dir)

  private val half1 = (1 to 10).map(i =>
    (i.toLong, i * 1000L, i.toLong, "a", i * 100L))
  private val half2 = (11 to 20).map(i =>
    (i.toLong, Day + i * 1000L, i.toLong, "b", i * 100L))

  test("a typed batch window serves a merge as pre/post pairs plus inserts") {
    val dir = Files.createTempDirectory("gelcdc").toString
    writeRows(dir, half1) // version 1
    val st = EventLogMerge.upsert(spark, dir, Seq(
      (3L, 3000L, 3L, "a", 999L),      // update
      (100L, 5L, 50L, "new", 1L))      // insert
      .toDF("event_id", "ts_us", "user_id", "event_type", "cents"))
    assert(st.version == 2L)
    val rows = spark.read.format("graft-eventlog")
      .option("cdc.typed", "true")
      .option("changes.from", "1").option("changes.to", "2")
      .load(dir)
      .select("_change_type", "event_id", "cents", "_commit_version")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(rows == Set(
      ("update_preimage", 3L, 300L, 2L),
      ("update_postimage", 3L, 999L, 2L),
      ("insert", 100L, 1L, 2L)))
  }

  test("a typed drain across a mid-stream merge reconstructs the post-merge corpus") {
    val dir = Files.createTempDirectory("gelcdc").toString
    val land = Files.createTempDirectory("gelcdc_land")
    def drain(): Unit = {
      val q = spark.readStream.format("graft-eventlog")
        .option("stream.changes", "true").option("cdc.typed", "true")
        .load(dir)
        .writeStream.format("parquet")
        .option("path", new java.io.File(land.toFile, "data").toString)
        .option("checkpointLocation",
          new java.io.File(land.toFile, "ck").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    writeRows(dir, half1)               // version 1
    writeRows(dir, half2)               // version 2
    drain()                              // the tail is caught up to v2
    // MID-STREAM the merge lands — rewriting v1's day file — and the
    // SAME checkpointed tail continues from its offset: the merge
    // commit streams as typed change rows, never a wedge, even though
    // the bytes the merge replaced are already gone
    val st = EventLogMerge.upsertShuffle(spark, dir, Seq(
      (5L, 5000L, 5L, "a", 7777L),      // update in v1's half
      (15L, Day + 15000L, 15L, "z", -1L), // update in v2's half
      (200L, 42L, 9L, "new", 5L))       // insert
      .toDF("event_id", "ts_us", "user_id", "event_type", "cents"))
    assert(st.version == 3L && st.matched == 2 && st.inserted == 1)
    drain()
    val drained = spark.read.parquet(
      new java.io.File(land.toFile, "data").toString)
    // fold the feed: latest non-preimage state per key, deletes drop
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_id").orderBy(col("_commit_version").desc)
    val folded = drained
      .where(col("_change_type") =!= "update_preimage")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1 && col("_change_type") =!= "delete")
      .select("event_id", "ts_us", "user_id", "event_type", "cents")
      .as[(Long, Long, Long, String, Long)].collect().toSet
    val store = spark.read.format("graft-eventlog").load(dir)
      .as[(Long, Long, Long, String, Long)].collect().toSet
    assert(folded == store, "the folded feed diverges from the store")
  }

  test("the plain tail streams a compaction as zero rows and keeps going") {
    val dir = Files.createTempDirectory("gelcdc").toString
    // fragment day 0 across two commits, then compact (version 3)
    writeRows(dir, half1.take(5))
    writeRows(dir, half1.drop(5))
    val stc = EventLogCompact.compact(spark, dir)
    assert(stc.groupsMerged == 1)
    writeRows(dir, half2)               // version 4: normal append
    // a plain tail from version 0 sees v1+v2's rows... their files are
    // compacted away — that window is retention-refused (loud). From
    // version 2 (post-append, pre-compaction) the tail must SKIP the
    // compaction and deliver v4 — the continuity case.
    val entries = EventLog.changedEntries(dir, 2, 4)
    assert(entries.map(_.count).sum == half2.size,
      s"expected only v4's rows, got $entries")
    // and typed mode agrees: the compaction contributes nothing
    val typedRows = spark.read.format("graft-eventlog")
      .option("cdc.typed", "true")
      .option("changes.from", "2").option("changes.to", "4")
      .load(dir)
      .select("_change_type", "event_id").as[(String, Long)].collect()
    assert(typedRows.forall(_._1 == "insert") &&
      typedRows.map(_._2).sorted.toSeq == half2.map(_._1))
  }

  test("a DV delete streams as typed delete rows") {
    val dir = Files.createTempDirectory("gelcdc").toString
    writeRows(dir, half1) // version 1
    val name = s"cdc_${Integer.toHexString(dir.hashCode)}"
    GraftCatalog.register(spark, name, dir)
    spark.sql(s"DELETE FROM graft.$name WHERE user_id IN (2, 4)")
    val rows = spark.read.format("graft-eventlog")
      .option("cdc.typed", "true")
      .option("changes.from", "1")
      .option("changes.to", EventLog.currentVersion(dir).toString)
      .load(dir)
      .select("_change_type", "event_id").as[(String, Long)].collect().toSet
    assert(rows == Set(("delete", 2L), ("delete", 4L)))
  }

  test("a zone-doomed (retention) delete journals nothing and still refuses") {
    val dir = Files.createTempDirectory("gelcdc").toString
    writeRows(dir, half1)
    writeRows(dir, half2)
    val name = s"cdcz_${Integer.toHexString(dir.hashCode)}"
    GraftCatalog.register(spark, name, dir)
    // whole-day unlink: never decoded, so no change data can exist
    spark.sql(s"DELETE FROM graft.$name WHERE ts_us < $Day")
    val v = EventLog.currentVersion(dir)
    val e = intercept[IllegalArgumentException] {
      EventLog.changedEntries(dir, 0, v)
    }
    assert(e.getMessage.contains("without journaling change data"))
  }

  test("crash between manifest append and part renames: recovery commits the parts") {
    val dir = Files.createTempDirectory("gelcdc").toString
    writeRows(dir, half1) // version 1
    // hand-build the crash state of a merge: output renamed in, intent
    // (with its CDC temp) still journaled, manifest not yet appended
    val victim = EventLog.listFiles(dir).head
    val recs = EventLog.readRecords(victim).map(_._1)
    val upd = recs.map(r => if (r._1 == 1L) r.copy(_5 = 4242L) else r)
    val tmp = new java.io.File(dir, ".inprogress.merge.test")
    val fin = victim.getName.stripSuffix(".gel") + "-mtest.gel"
    val entry = EventLog.writeGelFile(tmp, fin, upd)
    assert(tmp.renameTo(new java.io.File(dir, entry.file)))
    val cdcTmp = EventLogCdc.writeTemp(dir, Seq(
      EventLogCdc.Row(EventLogCdc.UpdatePre, 1L, 1000L, 1L, "a", 100L),
      EventLogCdc.Row(EventLogCdc.UpdatePost, 1L, 1000L, 1L, "a", 4242L)))
    EventLogCompact.writeIntent(dir, EventLogCompact.Intent(
      Seq(tmp.getName), Seq(entry), Seq(victim.getName), Seq(cdcTmp)))
    assert(EventLogCompact.recover(dir) == 1)
    val v = EventLog.currentVersion(dir)
    // the recovered commit serves its change data
    val rows = spark.read.format("graft-eventlog")
      .option("cdc.typed", "true")
      .option("changes.from", (v - 1).toString)
      .option("changes.to", v.toString)
      .load(dir)
      .select("_change_type", "cents").as[(String, Long)].collect().toSet
    assert(rows == Set(("update_preimage", 100L), ("update_postimage", 4242L)))
    // and a double-recovery cannot mint a spurious second commit
    // (temps align 1:1 with entries in the codec; the temp is long
    // renamed, which roll-forward never needs)
    EventLogCompact.writeIntent(dir, EventLogCompact.Intent(
      Seq(tmp.getName), Seq(entry), Seq(victim.getName), Nil))
    assert(EventLogCompact.recover(dir) == 1)
    assert(EventLog.currentVersion(dir) == v,
      "recovery of an already-applied intent re-appended the manifest")
  }

  test("the typed feed is read-only and refuses non-changes reads") {
    val dir = Files.createTempDirectory("gelcdc").toString
    writeRows(dir, half1)
    val e = intercept[Exception] {
      spark.read.format("graft-eventlog").option("cdc.typed", "true")
        .load(dir).collect()
    }
    assert(e.getMessage.contains("changes-feed option"))
    // a write against the typed table refuses — Spark rejects the
    // 5-column frame against the 7-column feed schema before our own
    // newWriteBuilder rail even runs; either way nothing lands
    val w = intercept[Exception] {
      half1.toDF("event_id", "ts_us", "user_id", "event_type", "cents")
        .write.format("graft-eventlog").mode("append")
        .option("cdc.typed", "true").save(dir)
    }
    assert(w.getMessage.contains("read-only") ||
      w.getMessage.contains("_change_type"))
    assert(EventLog.currentVersion(dir) == 1L, "a typed write landed")
  }

  /** Run `body` with the COW diff budget pinned to `cap`. */
  private def withDiffCap[T](cap: Long)(body: => T): T = {
    val old = EventLogCowBatchWrite.CdcDiffCap
    EventLogCowBatchWrite.CdcDiffCap = cap
    try body finally EventLogCowBatchWrite.CdcDiffCap = old
  }

  test("CDC diff cap boundary: a COW commit exactly AT the cap journals and serves") {
    val dir = Files.createTempDirectory("gelcdc").toString
    writeRows(dir, half1) // version 1: ONE 10-row day file
    val name = s"cdccap_${Integer.toHexString(dir.hashCode)}"
    GraftCatalog.register(spark, name, dir)
    // a COW UPDATE of the 10-row file diffs old(10) + new(10) = 20
    withDiffCap(20) {
      spark.sql(s"UPDATE graft.$name SET cents = 12345 WHERE event_id = 3")
    }
    val v = EventLog.currentVersion(dir)
    val rows = spark.read.format("graft-eventlog")
      .option("cdc.typed", "true")
      .option("changes.from", (v - 1).toString)
      .option("changes.to", v.toString)
      .load(dir)
      .select("_change_type", "event_id", "cents")
      .as[(String, Long, Long)].collect().toSet
    assert(rows == Set(
      ("update_preimage", 3L, 300L),
      ("update_postimage", 3L, 12345L)),
      s"exactly-at-cap commit must serve its full diff: $rows")
  }

  test("CDC diff cap boundary: one row past the cap journals nothing and the feed refuses naming the commit") {
    val dir = Files.createTempDirectory("gelcdc").toString
    writeRows(dir, half1)
    val name = s"cdccap1_${Integer.toHexString(dir.hashCode)}"
    GraftCatalog.register(spark, name, dir)
    // the same 20-row diff against a budget of 19: the COMMIT succeeds
    // (the cap bounds driver decode, not the mutation) but journals no
    // change data — absence of evidence must read as refusal, never as
    // "no changes"
    withDiffCap(19) {
      spark.sql(s"UPDATE graft.$name SET cents = 777 WHERE event_id = 3")
    }
    val v = EventLog.currentVersion(dir)
    assert(spark.read.format("graft-eventlog").load(dir)
      .where(col("event_id") === 3L).select("cents").as[Long].head() == 777L,
      "the capped UPDATE itself must still land")
    assert(EventLogCdc.partsOf(dir, v).isEmpty,
      "a past-cap commit must journal nothing, not a truncated diff")
    val e = intercept[Exception] {
      spark.read.format("graft-eventlog")
        .option("cdc.typed", "true")
        .option("changes.from", (v - 1).toString)
        .option("changes.to", v.toString)
        .load(dir).collect()
    }
    assert(e.getMessage.contains(s"commit $v"),
      s"the refusal must NAME the commit: ${e.getMessage}")
    assert(e.getMessage.contains("without journaling change data"),
      e.getMessage)
  }
}
