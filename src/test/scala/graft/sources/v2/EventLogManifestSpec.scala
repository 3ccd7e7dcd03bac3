package graft.sources.v2

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The incremental manifest LOG (round-9 scale rung): each append
  * commit writes one O(batch) delta segment instead of rewriting the
  * whole manifest, reads fold checkpoint + segments and are cached per
  * content key (one parse per manifest CHANGE, not per plan), the log
  * folds into a checkpoint at the segment cap, crash windows between
  * the checkpoint rename and segment deletes are idempotent, and an
  * entry without the per-type sums lane reads with sums unknown. */
class EventLogManifestSpec extends graft.SparkTestBase {
  import spark.implicits._

  private val Day = 86400000000L

  private def entry(name: String, n: Int = 1): EventLog.ManifestEntry =
    EventLog.ManifestEntry(name, n, 0L, 1L, Seq("a"), Seq(n.toLong),
      Some(Seq(n * 10L)))

  private def segmentFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => EventLog.isSegmentName(f.getName)).sortBy(_.getName)

  test("an append commit writes O(batch) segment bytes — never O(store)") {
    val dir = Files.createTempDirectory("gelm").toString
    val big0 = EventLog.manifestDeltaBytes.get()
    EventLog.appendManifest(dir, (1 to 120).map(i => entry(f"f$i%04d.gel")))
    val bigCommit = EventLog.manifestDeltaBytes.get() - big0
    val small0 = EventLog.manifestDeltaBytes.get()
    EventLog.appendManifest(dir, Seq(entry("g0001.gel")))
    val smallCommit = EventLog.manifestDeltaBytes.get() - small0
    // the store holds 121 entries; the 1-entry commit must cost ~1 entry
    // of bytes, not a rewrite of all 121
    assert(smallCommit * 20 < bigCommit,
      s"1-entry commit wrote $smallCommit bytes vs $bigCommit for 120 — " +
        "append is rewriting O(store)")
    assert(segmentFiles(dir).size == 2) // one segment per commit
    assert(EventLog.readManifest(dir).size == 121)
  }

  test("repeated reads of an unchanged manifest parse once (cached)") {
    val dir = Files.createTempDirectory("gelm").toString
    EventLog.appendManifest(dir, Seq(entry("a.gel"), entry("b.gel")))
    val m1 = EventLog.readManifest(dir)
    val p0 = EventLog.manifestParses.get()
    val m2 = EventLog.readManifest(dir)
    val m3 = EventLog.readManifest(dir)
    assert(m1 == m2 && m2 == m3)
    assert(EventLog.manifestParses.get() == p0,
      "an unchanged manifest was re-parsed — the content-keyed cache missed")
    // a CHANGE invalidates: the next read parses exactly once more
    EventLog.appendManifest(dir, Seq(entry("c.gel")))
    assert(EventLog.readManifest(dir).size == 3)
    assert(EventLog.manifestParses.get() == p0 + 1)
  }

  test("repeated query plans over an unchanged store re-parse nothing") {
    val dir = Files.createTempDirectory("gelm").toString
    Seq((1L, 1000L, 7L, "a", 5L), (2L, Day + 1L, 8L, "b", 6L))
      .toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .withColumn("__day", expr("ts_us div 86400000000"))
      .repartition(col("__day")).drop("__day")
      .write.format("graft-eventlog").mode("append").save(dir)
    // warm: the first plan may parse once
    assert(spark.read.format("graft-eventlog").load(dir).count() == 2)
    val p0 = EventLog.manifestParses.get()
    (1 to 3).foreach { _ =>
      assert(spark.read.format("graft-eventlog").load(dir)
        .where(col("ts_us") >= Day).count() == 1)
    }
    assert(EventLog.manifestParses.get() == p0,
      "repeated plans of an unchanged store re-parsed the manifest")
  }

  test("removes apply in log order and survive the fold") {
    val dir = Files.createTempDirectory("gelm").toString
    EventLog.appendManifest(dir, Seq(entry("a.gel"), entry("b.gel")))
    EventLog.appendManifest(dir, Seq(entry("c.gel")), removes = Seq("a.gel"))
    assert(EventLog.readManifest(dir).keySet == Set("b.gel", "c.gel"))
  }

  test("the log folds into a checkpoint at the segment cap; state is preserved") {
    val dir = Files.createTempDirectory("gelm").toString
    val ck0 = EventLog.manifestCheckpoints.get()
    (1 to EventLog.CheckpointEvery).foreach { i =>
      EventLog.appendManifest(dir, Seq(entry(f"f$i%04d.gel", i)))
    }
    assert(EventLog.manifestCheckpoints.get() == ck0 + 1)
    assert(segmentFiles(dir).isEmpty,
      "absorbed segments were not deleted after the checkpoint fold")
    assert(new java.io.File(dir, EventLog.ManifestName).isFile)
    val m = EventLog.readManifest(dir)
    assert(m.size == EventLog.CheckpointEvery)
    assert(m("f0003.gel").typeSums.contains(Seq(30L)))
    // the log keeps appending segments on top of the checkpoint
    EventLog.appendManifest(dir, Seq(entry("g0001.gel")))
    assert(segmentFiles(dir).size == 1)
    assert(EventLog.readManifest(dir).size == EventLog.CheckpointEvery + 1)
  }

  test("a crash between checkpoint rename and segment deletes is idempotent") {
    val dir = Files.createTempDirectory("gelm").toString
    (1 until EventLog.CheckpointEvery).foreach { i =>
      EventLog.appendManifest(dir, Seq(entry(f"f$i%04d.gel", i)))
    }
    // snapshot the segments that the NEXT commit's fold will absorb
    val saved = segmentFiles(dir).map(f =>
      (f.getName, java.nio.file.Files.readAllBytes(f.toPath)))
    EventLog.appendManifest(dir, Seq(entry("last.gel")))
    assert(segmentFiles(dir).isEmpty) // folded
    val folded = EventLog.readManifest(dir)
    // simulate the crash: absorbed segments resurface next to the
    // checkpoint that already contains their effect
    saved.foreach { case (name, bytes) =>
      java.nio.file.Files.write(new java.io.File(dir, name).toPath, bytes)
    }
    assert(EventLog.readManifest(dir) == folded,
      "re-applying absorbed segments over their checkpoint changed state")
  }

  test("a sums-less checkpoint entry reads: counts usable, sums unknown") {
    val dir = Files.createTempDirectory("gelm").toString
    val old = EventLog.ManifestEntry("old.gel", 3, 5L, 9L, Seq("a", "b"),
      Seq(1L, 2L))
    EventLog.appendManifest(dir, Seq(old))
    (1 until EventLog.CheckpointEvery).foreach { i =>
      EventLog.appendManifest(dir, Seq(entry(f"f$i%04d.gel", i)))
    }
    assert(segmentFiles(dir).isEmpty, "the log did not fold")
    val m = EventLog.readManifest(dir)
    assert(m("old.gel").typeCounts == Seq(1L, 2L))
    assert(m("old.gel").typeSums.isEmpty)
    // a new commit layers a segment on the checkpoint
    EventLog.appendManifest(dir, Seq(entry("new.gel")))
    val m2 = EventLog.readManifest(dir)
    assert(m2("old.gel") == old)
    assert(m2("new.gel").typeSums.contains(Seq(10L)))
  }

  test("per-type sums round-trip the segment and checkpoint codecs") {
    val dir = Files.createTempDirectory("gelm").toString
    val e = EventLog.ManifestEntry("s.gel", 4, 10L, 20L, Seq("x", "y"),
      Seq(3L, 1L), Some(Seq(-250L, 9999L)))
    EventLog.appendManifest(dir, Seq(e))
    assert(EventLog.readManifest(dir)("s.gel") == e)
    // force a fold and re-read through the checkpoint codec
    (1 to EventLog.CheckpointEvery).foreach { i =>
      EventLog.appendManifest(dir, Seq(entry(f"f$i%04d.gel", i)))
    }
    assert(EventLog.readManifest(dir)("s.gel") == e)
  }

  // -------- the fold must not erase remove evidence (round-11 fix):
  // a crash between a commit's manifest append and its input unlinks
  // leaves a removed-but-listed file that planning skips via RETAINED
  // segment removes — evidence the checkpoint fold deletes. The fold
  // therefore finishes the unlinks itself; without that, 16 commits
  // later the dead file resurrects via header fallback.

  private def writeRealGel(dir: String, name: String,
      rows: Seq[(Long, Long, Long, String, Long)]): EventLog.ManifestEntry = {
    val tmp = new java.io.File(dir, s".inprogress.spec.$name")
    val e = EventLog.writeGelFile(tmp, name, rows)
    assert(tmp.renameTo(new java.io.File(dir, name)))
    e
  }

  test("checkpoint fold unlinks removed-but-listed files — no resurrection") {
    val dir = Files.createTempDirectory("gelm").toString
    val dead = writeRealGel(dir, "day_00000-dead.gel",
      Seq((1L, 1000L, 7L, "a", 5L), (2L, 2000L, 8L, "a", 6L)))
    val live = writeRealGel(dir, "day_00000-live.gel",
      Seq((3L, 3000L, 9L, "b", 7L)))
    EventLog.appendManifest(dir, Seq(dead, live))
    // crashed deleteWhere: remove committed, unlink never ran
    EventLog.appendManifest(dir, Nil, removes = Seq(dead.file))
    assert(new java.io.File(dir, dead.file).isFile)
    assert(spark.read.format("graft-eventlog").load(dir).count() == 1)
    // enough commits to fold the remove's segment into the checkpoint
    (1 to EventLog.CheckpointEvery).foreach { i =>
      EventLog.appendManifest(dir,
        Seq(writeRealGel(dir, f"day_00001-f$i%04d.gel",
          Seq((100L + i, Day + i, 1L, "c", 1L)))))
    }
    // the fold fired mid-loop (at the segment cap); the remove's
    // segment is absorbed — only post-fold segments remain
    assert(new java.io.File(dir, EventLog.ManifestName).isFile,
      "fold did not happen")
    assert(segmentFiles(dir).size < EventLog.CheckpointEvery)
    // the fold finished the unlink: the dead bytes are gone, and the
    // read still excludes them (pre-fix: file resurrects, count = 18)
    assert(!new java.io.File(dir, dead.file).exists(),
      "fold discarded the remove evidence but left the dead file")
    assert(spark.read.format("graft-eventlog").load(dir).count() ==
      1 + EventLog.CheckpointEvery)
  }

  test("fold unlink skips names re-added after their remove") {
    val dir = Files.createTempDirectory("gelm").toString
    val x = writeRealGel(dir, "day_00000-x.gel",
      Seq((1L, 1000L, 7L, "a", 5L)))
    EventLog.appendManifest(dir, Seq(x))
    EventLog.appendManifest(dir, Nil, removes = Seq(x.file))
    EventLog.appendManifest(dir, Seq(x)) // re-added under the same name
    (1 to EventLog.CheckpointEvery).foreach { i =>
      EventLog.appendManifest(dir,
        Seq(writeRealGel(dir, f"day_00001-f$i%04d.gel",
          Seq((100L + i, Day + i, 1L, "c", 1L)))))
    }
    assert(new java.io.File(dir, EventLog.ManifestName).isFile,
      "fold did not happen")
    assert(new java.io.File(dir, x.file).isFile,
      "fold swept a name the merged state still contains")
    assert(spark.read.format("graft-eventlog").load(dir).count() ==
      1 + EventLog.CheckpointEvery)
  }

  test("a torn segment fails loudly — planning never silently degrades") {
    val dir = Files.createTempDirectory("gelm").toString
    EventLog.appendManifest(dir, Seq(entry("a.gel")))
    val seg = segmentFiles(dir).head
    val bytes = java.nio.file.Files.readAllBytes(seg.toPath)
    java.nio.file.Files.write(seg.toPath, bytes.dropRight(4))
    val e = intercept[Exception] { EventLog.readManifest(dir) }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c => c.isInstanceOf[java.io.EOFException] ||
      String.valueOf(c.getMessage).toLowerCase.contains("eof")), e.toString)
  }
}
