package graft.sources.v2

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The bloom sidecar lane ([[EventLogBloom]]): build/load round-trip,
  * staleness and orphan handling, and the merge match-pass gate on a
  * SCATTERED-key store — the case the id-range prune cannot help. */
class EventLogBloomSpec extends graft.SparkTestBase {
  import spark.implicits._

  private val Day = 86400000000L

  // ids deliberately SCATTERED across days (sequential ids round-robin
  // the three days): every day file's id range spans ~the whole key
  // space, so the range prune admits everything and only the bloom can
  // discriminate
  private val rows = (0 until 90).map { i =>
    (i.toLong, (i % 3) * Day + i * 1000L, 100L + i % 5,
      if (i % 2 == 0) "a" else "b", i * 10L)
  }

  private def writeStore(): String = {
    val dir = Files.createTempDirectory("gelb").toString
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .withColumn("__day", expr("ts_us div 86400000000"))
      .repartition(col("__day"))
      .drop("__day")
      .write.format("graft-eventlog").mode("append").save(dir)
    dir
  }

  private def contents(dir: String): Set[(Long, Long, Long, String, Long)] =
    spark.read.format("graft-eventlog").load(dir)
      .as[(Long, Long, Long, String, Long)].collect().toSet

  test("build writes one current sidecar per data file; rebuild is a no-op") {
    val dir = writeStore()
    assert(EventLogBloom.build(spark, dir) == 3)
    EventLog.listFiles(dir).foreach { f =>
      val b = EventLogBloom.load(f)
      assert(b.isDefined, s"${f.getName} has no loadable sidecar")
      EventLogBloom.readIds(f).foreach(id =>
        assert(b.get.mightContainLong(id), s"bloom misses own id $id"))
    }
    assert(EventLogBloom.build(spark, dir) == 0, "rebuild was not a no-op")
  }

  test("the merge gate: scattered keys decode only bloom-hit files") {
    val dir = writeStore()
    // day 0 holds ids {0,3..87}, day 1 {1,4..88}, day 2 {2,5..89}:
    // check every file's range admits key 43 — the range prune is
    // provably defeated, so any skipping below is the bloom's
    val bounds = EventLog.readManifest(dir).values.flatMap(_.idBounds)
    assert(bounds.count(b => b._1 <= 43L && 43L <= b._2) == 3,
      s"fixture did not scatter ids; bounds: $bounds")
    EventLogBloom.build(spark, dir)
    // key 43 lives only in day 1's file (43 % 3 == 1)
    val st = EventLogMerge.upsert(spark, dir, Seq(
      (43L, Day + 43000L, 101L, "b", 7777L))
      .toDF("event_id", "ts_us", "user_id", "event_type", "cents"))
    assert(st.matched == 1 && st.rewrittenFiles == 1, st.toString)
    assert(st.candidateFiles == 3 && st.bloomSkipped == 2,
      s"the bloom gate should clear the two keyless files: $st")
    assert(contents(dir).contains((43L, Day + 43000L, 101L, "b", 7777L)))
  }

  test("a stale sidecar (rewritten data) is ignored, never trusted") {
    val dir = writeStore()
    EventLogBloom.build(spark, dir)
    val victim = EventLog.listFiles(dir).head
    // rewrite the data file in place with one extra record (length
    // changes); keep the OLD sidecar under the same name
    val recs = EventLog.readRecords(victim).map(_._1) :+
      ((9999L, recsDay(victim), 1L, "z", 1L))
    val tmp = new java.io.File(dir, ".inprogress.bloomtest")
    val entry = EventLog.writeGelFile(tmp, victim.getName,
      recs.sortBy(r => (r._2, r._1)))
    assert(victim.delete() && tmp.renameTo(victim))
    EventLog.appendManifest(dir, Seq(entry))
    assert(EventLogBloom.load(victim).isEmpty,
      "a sidecar built against different bytes was trusted")
    // and a merge on the new id DECODES the file despite the old bloom
    val st = EventLogMerge.upsert(spark, dir, Seq(
      (9999L, recsDay(victim), 1L, "z", 2L))
      .toDF("event_id", "ts_us", "user_id", "event_type", "cents"))
    assert(st.matched == 1,
      s"the stale bloom hid a real match: $st")
  }

  test("a rewrite sweeps its input's sidecar at the swap; build refreshes the new file") {
    val dir = writeStore()
    EventLogBloom.build(spark, dir)
    // a merge rewrites one file under a new name: since round 10 the
    // swap itself deletes the replaced input's sidecars (no orphan
    // window at all — vacuum and build remain the backstop for
    // foreign residue)
    val st = EventLogMerge.upsert(spark, dir, Seq(
      (0L, 1000L, 100L, "a", 1L)) // id 0 lives in day 0 (ts offset 0*1000)
      .toDF("event_id", "ts_us", "user_id", "event_type", "cents"))
    assert(st.rewrittenFiles == 1)
    val orphans = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".gelbloom"))
      .filter(s => !new java.io.File(dir,
        s.getName.stripSuffix(".gelbloom")).isFile)
    assert(orphans.isEmpty,
      s"the swap left orphaned sidecars: ${orphans.map(_.getName)}")
    // the rewritten output has no sidecar yet; build covers exactly it
    val built = EventLogBloom.build(spark, dir)
    assert(built == 1, s"expected exactly the rewritten file rebuilt: $built")
    assert(Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".gelbloom"))
      .forall(s => new java.io.File(dir,
        s.getName.stripSuffix(".gelbloom")).isFile))
  }

  test("sidecars are invisible to the data listing and the scan") {
    val dir = writeStore()
    EventLogBloom.build(spark, dir)
    assert(EventLog.listFiles(dir).forall(f => f.getName.endsWith(".gel") &&
      !f.getName.endsWith(".gelbloom")))
    assert(contents(dir) == rows.toSet)
  }

  private def recsDay(f: java.io.File): Long =
    EventLog.readRecords(f).map(_._1).head._2
}