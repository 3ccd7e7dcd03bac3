package graft.sources.v2

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The SHUFFLE-JOIN merge ([[EventLogMerge.upsertShuffle]]) — the
  * broadcast path's semantics with the driver-collect boundary removed:
  * path PARITY on the same batch (identical contents, stats, version
  * count), batches far beyond a forced-tiny broadcast cap, the same
  * loud rails (duplicate keys, cross-day ts moves, cross-bucket user
  * moves), touched-files-only rewrite, and the shared intent-journal
  * crash recovery. */
class EventLogMergeShuffleSpec extends graft.SparkTestBase {
  import spark.implicits._

  private val Day = 86400000000L

  private val rows = (1 to 30).map { i =>
    (i.toLong, (i % 3) * Day + i * 1000L, 100L + i % 7,
      if (i % 2 == 0) "a" else "b", i * 10L)
  }

  private def writeStore(dir: String,
      rs: Seq[(Long, Long, Long, String, Long)] = rows): Unit =
    rs.toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .withColumn("__day", expr("ts_us div 86400000000"))
      .repartition(col("__day"))
      .drop("__day")
      .write.format("graft-eventlog").mode("append").save(dir)

  private def contents(dir: String): Set[(Long, Long, Long, String, Long)] =
    spark.read.format("graft-eventlog").load(dir)
      .as[(Long, Long, Long, String, Long)].collect().toSet

  private def batchDf(rs: Seq[(Long, Long, Long, String, Long)]) =
    rs.toDF("event_id", "ts_us", "user_id", "event_type", "cents")

  test("shuffle path ≡ broadcast path on the same batch (contents, stats, versions)") {
    val dirB = Files.createTempDirectory("gelms").toString
    val dirS = Files.createTempDirectory("gelms").toString
    writeStore(dirB); writeStore(dirS)
    val upd = Seq((4L, Day + 4000L, 104L, "a", 999L),
      (17L, 2 * Day + 17000L, 101L, "z", -5L))
    val ins = Seq((1001L, 123L, 50L, "new", 1L),
      (1002L, Day + 99L, 51L, "new", 2L))
    val stB = EventLogMerge.upsert(spark, dirB, batchDf(upd ++ ins))
    val stS = EventLogMerge.upsertShuffle(spark, dirS, batchDf(upd ++ ins))
    assert(contents(dirB) == contents(dirS), "path contents diverge")
    assert(stB.matched == stS.matched && stB.inserted == stS.inserted &&
      stB.rewrittenFiles == stS.rewrittenFiles &&
      stB.version == stS.version, s"stats diverge: $stB vs $stS")
    // both are ONE commit
    assert(stS.version == 2L)
    // untouched files kept their identity under both paths
    assert(EventLog.listFiles(dirB).map(_.getName).count(!_.contains("-m")) ==
      EventLog.listFiles(dirS).map(_.getName).count(!_.contains("-m")))
  }

  test("matched counts DISTINCT ids when a key exists in multiple files — path parity") {
    val dirB = Files.createTempDirectory("gelms").toString
    val dirS = Files.createTempDirectory("gelms").toString
    // the same event_id in TWO files of the same day (two append jobs)
    Seq(dirB, dirS).foreach { dir =>
      writeStore(dir, Seq((7L, 1000L, 1L, "a", 1L)))
      writeStore(dir, Seq((7L, 2000L, 2L, "a", 2L)))
    }
    val upd = Seq((7L, 1500L, 1L, "a", 99L))
    val stB = EventLogMerge.upsert(spark, dirB, batchDf(upd))
    val stS = EventLogMerge.upsertShuffle(spark, dirS, batchDf(upd))
    // pre-fix the shuffle path summed per-file matches (2); both paths
    // must report ONE matched id — the number fixtures gate on
    assert(stB.matched == 1L, stB.toString)
    assert(stS.matched == stB.matched,
      s"parity paths disagree on matched: $stB vs $stS")
    assert(stB.rewrittenFiles == 2 && stS.rewrittenFiles == 2)
    assert(contents(dirB) == contents(dirS))
  }

  test("a batch far beyond a broadcast-sized cap merges via shuffle") {
    val dir = Files.createTempDirectory("gelms").toString
    writeStore(dir)
    // the broadcast path REFUSES this batch at a forced-tiny cap …
    val big = (1 to 500).map(i => (10000L + i, (i % 3) * Day + i, 1L,
      "bulk", i.toLong))
    intercept[IllegalArgumentException] {
      EventLogMerge.upsert(spark, dir, batchDf(big), maxBatchRows = 100)
    }
    // … and the shuffle path (no cap parameter at all) applies it
    val st = EventLogMerge.upsertShuffle(spark, dir, batchDf(big))
    assert(st.matched == 0 && st.inserted == 500, st.toString)
    assert(contents(dir) == rows.toSet ++ big)
  }

  test("updates + inserts land exactly-once; only touched files rewrite") {
    val dir = Files.createTempDirectory("gelms").toString
    writeStore(dir)
    val namesBefore = EventLog.listFiles(dir).map(_.getName).toSet
    val upd4 = (4L, Day + 4000L, 104L, "a", 999L)
    val st = EventLogMerge.upsertShuffle(spark, dir,
      batchDf(Seq(upd4, (9001L, 5L, 1L, "new", 1L))))
    assert(st.matched == 1 && st.inserted == 1, st.toString)
    val expected = rows.map {
      case r if r._1 == 4L => upd4
      case r => r
    }.toSet + ((9001L, 5L, 1L, "new", 1L))
    assert(contents(dir) == expected)
    val namesAfter = EventLog.listFiles(dir).map(_.getName).toSet
    assert(namesBefore.intersect(namesAfter).nonEmpty,
      "shuffle merge rewrote files containing no match")
    assert(EventLog.readManifest(dir).keySet == namesAfter)
    assert(EventLogCompact.recover(dir) == 0)
  }

  test("duplicate batch keys refuse loudly (distributed check)") {
    val dir = Files.createTempDirectory("gelms").toString
    writeStore(dir)
    val e = intercept[IllegalArgumentException] {
      EventLogMerge.upsertShuffle(spark, dir, batchDf(Seq(
        (4L, Day, 1L, "a", 1L), (4L, Day, 1L, "a", 2L))))
    }
    assert(e.getMessage.contains("duplicate event_id"))
  }

  test("an update moving ts across its UTC day refuses; store unchanged") {
    val dir = Files.createTempDirectory("gelms").toString
    writeStore(dir)
    val e = intercept[org.apache.spark.SparkException] {
      EventLogMerge.upsertShuffle(spark, dir,
        batchDf(Seq((4L, 4000L, 104L, "a", 999L))))
    }
    assert(e.getMessage.contains("UTC day") ||
      Option(e.getCause).exists(_.getMessage.contains("UTC day")))
    assert(contents(dir) == rows.toSet)
    assert(EventLogCompact.recover(dir) == 0)
  }

  test("bucketed store: routed inserts keep their tags; cross-bucket move refuses") {
    val dir = Files.createTempDirectory("gelms").toString
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .write.format("graft-eventlog").mode("append")
      .option("bucket.count", "4").save(dir)
    val st = EventLogMerge.upsertShuffle(spark, dir, batchDf(Seq(
      (8L, Day * 2 + 8000L, 101L, "a", 888L),
      (2001L, 77L, 103L, "new", 3L))))
    assert(st.matched == 1 && st.inserted == 1)
    val insFile = EventLog.listFiles(dir)
      .map(_.getName).filter(_.contains("-u")).toSeq
    assert(insFile.nonEmpty &&
      insFile.forall(EventLog.bucketOfName(_).contains(3)))
    val e = intercept[org.apache.spark.SparkException] {
      EventLogMerge.upsertShuffle(spark, dir, batchDf(Seq(
        (8L, Day * 2 + 8000L, 102L, "a", 888L))))
    }
    assert(e.getMessage.contains("bucket") ||
      Option(e.getCause).exists(_.getMessage.contains("bucket")))
  }

  test("crash mid-merge: the next shuffle merge's recovery finishes the swap exactly-once") {
    val dir = Files.createTempDirectory("gelms").toString
    writeStore(dir)
    // the post-rename, pre-manifest crash state (same construction as
    // EventLogMergeSpec's — the swap sequence is shared)
    val victim = EventLog.listFiles(dir).minBy(_.getName)
    val orig = EventLog.readRecords(victim).map(_._1)
    val headId = orig.head._1
    val recs = orig.map(r => if (r._1 == headId) r.copy(_5 = 4242L) else r)
    val tmp = new java.io.File(dir, ".inprogress.merge.test")
    val fin = victim.getName.stripSuffix(".gel") + "-mtest.gel"
    val entry = EventLog.writeGelFile(tmp, fin, recs)
    assert(tmp.renameTo(new java.io.File(dir, entry.file)))
    EventLogCompact.writeIntent(dir, EventLogCompact.Intent(
      Seq(tmp.getName), Seq(entry), Seq(victim.getName)))
    // age the crash artifacts past the liveness window: a FRESH intent
    // is presumed to belong to a LIVE concurrent op (round 11) and the
    // entry point leaves it alone — crashes recover after the window
    val aged = System.currentTimeMillis() - EventLog.CommitLockStaleMs - 1000
    new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith(EventLogCompact.IntentPrefix))
      .foreach(_.setLastModified(aged))
    val st = EventLogMerge.upsertShuffle(spark, dir,
      batchDf(Seq((9001L, 5L, 1L, "new", 1L))))
    assert(st.inserted == 1)
    val got = contents(dir)
    assert(got.size == rows.size + 1, s"crash recovery lost/kept rows: " +
      s"${got.size} vs ${rows.size + 1}")
    assert(got.count(_._5 == 4242L) == 1, "the recovered update is gone")
    assert(!victim.exists, "roll-forward left the replaced input alive")
  }

  test("bloom sidecars gate candidate decodes on a scattered-key batch") {
    val dir = Files.createTempDirectory("gelms").toString
    writeStore(dir)
    // strip id bounds so the range lane admits everything: re-manifest
    // without idBounds, forcing every file into the candidate set
    val man = EventLog.readManifest(dir)
    EventLog.deleteManifest(dir)
    graft.sources.v2.EventLog.appendManifest(dir,
      man.values.toSeq.map(_.copy(idBounds = None)))
    EventLogBloom.build(spark, dir)
    // keys that exist nowhere: with blooms current, no file decodes,
    // nothing rewrites, everything inserts
    val st = EventLogMerge.upsertShuffle(spark, dir,
      batchDf(Seq((777777L, 5L, 1L, "x", 1L), (888888L, 7L, 2L, "x", 2L))))
    assert(st.bloomSkipped == st.candidateFiles,
      s"blooms did not gate every candidate: $st")
    assert(st.rewrittenFiles == 0 && st.inserted == 2)
  }
}
