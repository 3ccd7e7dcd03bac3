package graft.sources.v2

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The eventlog compactor: day-fragment merge (executor-parallel),
  * manifest repointing, exactly-once content through the merge, chunk
  * splitting, idempotence, and BOTH intent-journal crash recoveries
  * (roll forward when every output became visible, roll back when the
  * replacement was torn). */
class EventLogCompactSpec extends graft.SparkTestBase {
  import spark.implicits._

  private val Day = 86400000000L

  private val rows = (1 to 30).map { i =>
    (i.toLong, (i % 3) * Day + i * 1000L, 100L + i % 7,
      if (i % 2 == 0) "a" else "b", i * 10L)
  }

  /** Three append jobs split by user — each day ends up with ~3
    * fragment files, the compaction fixture. */
  private def writeFragmented(): String = {
    val dir = Files.createTempDirectory("gelc").toString
    (0 until 3).foreach { k =>
      rows.filter(_._3 % 3 == k)
        .toDF("event_id", "ts_us", "user_id", "event_type", "cents")
        .withColumn("__day", expr("ts_us div 86400000000"))
        .repartition(col("__day"))
        .drop("__day")
        .write.format("graft-eventlog").mode("append").save(dir)
    }
    dir
  }

  private def contents(dir: String): Set[(Long, Long, Long, String, Long)] =
    spark.read.format("graft-eventlog").load(dir)
      .as[(Long, Long, Long, String, Long)].collect().toSet

  test("compaction merges each day to one file, preserves content, repoints the manifest") {
    val dir = writeFragmented()
    val before = contents(dir)
    val nBefore = EventLog.listFiles(dir).size
    assert(nBefore > 3, s"fixture not fragmented: $nBefore files")
    val st = EventLogCompact.compact(spark, dir)
    assert(st == EventLogCompact.Stats(0, 3, nBefore, 3), st.toString)
    assert(EventLog.listFiles(dir).size == 3) // one per day
    assert(contents(dir) == before) // exactly-once through the merge
    // manifest exactly covers the surviving files: planning is O(1)
    assert(EventLog.readManifest(dir).keySet ==
      EventLog.listFiles(dir).map(_.getName).toSet)
    val h0 = EventLog.headerReads.get()
    assert(spark.read.format("graft-eventlog").load(dir)
      .where(col("ts_us") >= Day).count() == rows.count(_._2 >= Day))
    assert(EventLog.headerReads.get() == h0,
      "post-compaction planning opened headers despite the manifest")
    // grouped metadata counts still correct off the rewritten manifest
    assert(spark.read.format("graft-eventlog").load(dir)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap ==
      rows.groupBy(_._4).view.mapValues(_.size.toLong).toMap)
  }

  test("a second compaction is a no-op") {
    val dir = writeFragmented()
    EventLogCompact.compact(spark, dir)
    val st = EventLogCompact.compact(spark, dir)
    assert(st.groupsMerged == 0 && st.filesBefore == st.filesAfter)
  }

  test("maxRecordsPerFile splits a day into chunks without losing rows") {
    val dir = writeFragmented()
    val before = contents(dir)
    EventLogCompact.compact(spark, dir, maxRecordsPerFile = 4)
    assert(contents(dir) == before)
    assert(EventLog.listFiles(dir).size == 9) // 10 rows/day / 4 → 3 chunks
    assert(EventLog.readManifest(dir).keySet ==
      EventLog.listFiles(dir).map(_.getName).toSet)
  }

  test("a day with >256 types across fragments compacts by splitting on the dictionary cap") {
    // each input is individually valid (≤256 types) but the day's union
    // is not: the chunker must close a chunk on the type cap, not throw
    val dir = Files.createTempDirectory("gelt").toString
    def mk(name: String, types: Range): Unit = {
      val recs = types.map(t => (t.toLong, 1000L + t, 1L, f"t$t%04d", 1L))
      val tmp = new java.io.File(dir, s".tmp$name")
      EventLog.writeGelFile(tmp, name, recs)
      assert(tmp.renameTo(new java.io.File(dir, name)))
    }
    mk("day_00000-a.gel", 0 until 200)
    mk("day_00000-b.gel", 200 until 400)
    val st = EventLogCompact.compact(spark, dir)
    assert(st.groupsMerged == 1, st.toString)
    val outs = EventLog.listFiles(dir)
    assert(outs.size == 2, s"expected a 256/144 type split, got ${outs.size} files")
    outs.foreach(f => assert(EventLog.readHeaderOf(f).types.size <= 256))
    assert(spark.read.format("graft-eventlog").load(dir).count() == 400)
  }

  test("crash roll-forward: outputs visible, inputs alive → inputs removed, manifest fixed") {
    val dir = writeFragmented()
    val before = contents(dir)
    val day0 = EventLog.zoneMaps(dir)
      .filter { case (_, h) => Math.floorDiv(h.minTs, Day) == 0L }.map(_._1)
    // hand-build the post-rename, pre-delete crash state: merged output
    // visible under its final name, inputs still alive, intent present
    val recs = day0.flatMap(EventLog.readRecords(_).map(_._1)).sortBy(r => (r._2, r._1))
    val tmp = new java.io.File(dir, ".inprogress.compact.test")
    val entry = EventLog.writeGelFile(tmp, "day_00000-ctest.gel", recs)
    assert(tmp.renameTo(new java.io.File(dir, entry.file)))
    EventLogCompact.writeIntent(dir, EventLogCompact.Intent(
      Seq(tmp.getName), Seq(entry), day0.map(_.getName)))
    // duplicates ARE visible in the crash state — recovery must end them
    assert(spark.read.format("graft-eventlog").load(dir).count() >
      before.size)
    // age the crash artifacts past the liveness window: a FRESH intent
    // is presumed to belong to a LIVE concurrent op (round 11) and the
    // entry point leaves it alone — crashes recover after the window
    val aged = System.currentTimeMillis() - EventLog.CommitLockStaleMs - 1000
    new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith(EventLogCompact.IntentPrefix))
      .foreach(_.setLastModified(aged))
    val st = EventLogCompact.compact(spark, dir)
    assert(st.recovered == 1)
    assert(contents(dir) == before)
    assert(!day0.exists(_.exists), "roll-forward left redundant inputs")
    assert(EventLog.readManifest(dir).keySet ==
      EventLog.listFiles(dir).map(_.getName).toSet)
  }

  test("crash roll-back: an output missing → visible partials deleted, store untouched") {
    val dir = writeFragmented()
    val before = contents(dir)
    val filesBefore = EventLog.listFiles(dir).map(_.getName).toSet
    val day0 = EventLog.zoneMaps(dir)
      .filter { case (_, h) => Math.floorDiv(h.minTs, Day) == 0L }.map(_._1)
    val recs = day0.flatMap(EventLog.readRecords(_).map(_._1)).sortBy(r => (r._2, r._1))
    // two-chunk replacement where only chunk 1 got renamed in: torn
    val tmp1 = new java.io.File(dir, ".inprogress.compact.t1")
    val e1 = EventLog.writeGelFile(tmp1, "day_00000-ct1.gel",
      recs.take(recs.size / 2))
    assert(tmp1.renameTo(new java.io.File(dir, e1.file)))
    val tmp2 = new java.io.File(dir, ".inprogress.compact.t2")
    val e2 = EventLog.writeGelFile(tmp2, "day_00000-ct2.gel",
      recs.drop(recs.size / 2)) // temp written, never renamed
    EventLogCompact.writeIntent(dir, EventLogCompact.Intent(
      Seq(tmp1.getName, tmp2.getName), Seq(e1, e2), day0.map(_.getName)))
    val n = EventLogCompact.recover(dir)
    assert(n == 1)
    // rolled back: partial output and temp gone, inputs and rows intact
    assert(!new java.io.File(dir, e1.file).exists)
    assert(!new java.io.File(dir, e2.file).exists)
    assert(!tmp2.exists)
    assert(EventLog.listFiles(dir).map(_.getName).toSet == filesBefore)
    assert(contents(dir) == before)
  }
}
