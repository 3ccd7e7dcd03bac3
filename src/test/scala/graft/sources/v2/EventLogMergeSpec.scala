package graft.sources.v2

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Copy-on-write MERGE for eventlog stores ([[EventLogMerge]]):
  * matched-update + unmatched-insert semantics, touched-files-only
  * rewrite, single-commit versioning (time travel still reads the
  * pre-merge snapshot), every loud rail (duplicate keys, batch cap,
  * cross-day ts moves, cross-bucket user moves), and intent-journal
  * crash recovery through the merge's own file swap. */
class EventLogMergeSpec extends graft.SparkTestBase {
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

  test("merge updates matched rows, inserts unmatched, as one commit") {
    val dir = Files.createTempDirectory("gelm").toString
    writeStore(dir)
    val v0 = EventLog.currentVersion(dir)
    val namesBefore = EventLog.listFiles(dir).map(_.getName).toSet
    // update ids 4 and 17 (day 1 / day 2 files), insert ids 1001/1002
    val upd4 = (4L, Day + 4000L, 104L, "a", 999L)
    val upd17 = (17L, 2 * Day + 17000L, 101L, "z", -5L)
    val ins = Seq((1001L, 123L, 50L, "new", 1L),
      (1002L, Day + 99L, 51L, "new", 2L))
    val st = EventLogMerge.upsert(spark, dir,
      batchDf(Seq(upd4, upd17) ++ ins))
    assert(st.matched == 2 && st.inserted == 2, st.toString)
    assert(st.version == v0 + 1, s"merge must be ONE commit: $st")
    val expected = rows.map {
      case r if r._1 == 4L => upd4
      case r if r._1 == 17L => upd17
      case r => r
    }.toSet ++ ins
    assert(contents(dir) == expected)
    // only touched day files were rewritten; day-0 has no matched key
    val namesAfter = EventLog.listFiles(dir).map(_.getName).toSet
    val untouched = namesBefore.intersect(namesAfter)
    assert(untouched.nonEmpty, "merge rewrote files containing no match")
    assert(st.rewrittenFiles == (namesBefore -- namesAfter).size)
    // manifest exactly covers the surviving files; no intent left over
    assert(EventLog.readManifest(dir).keySet == namesAfter)
    assert(EventLogCompact.recover(dir) == 0)
    // the merge rewrote history: row-level time travel at the pre-merge
    // version is retention-bounded and REFUSES loudly (replaced bytes
    // are gone) — but the version's NUMBERS still answer metadata-only
    // from the commit log, the q299 contract
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-eventlog")
        .option("version", v0.toString).load(dir)
        .as[(Long, Long, Long, String, Long)].collect()
    }
    assert(e.getMessage.contains("no longer exists"))
    val oldN = spark.read.format("graft-eventlog")
      .option("version", v0.toString).load(dir)
      .agg(count(lit(1))).head.getLong(0)
    assert(oldN == rows.size, "pre-merge metadata count lost")
  }

  test("a pure-insert merge rewrites nothing") {
    val dir = Files.createTempDirectory("gelm").toString
    writeStore(dir)
    val namesBefore = EventLog.listFiles(dir).map(_.getName).toSet
    val st = EventLogMerge.upsert(spark, dir,
      batchDf(Seq((5000L, 42L, 1L, "new", 7L))))
    assert(st.matched == 0 && st.rewrittenFiles == 0 && st.inserted == 1)
    assert(namesBefore.subsetOf(
      EventLog.listFiles(dir).map(_.getName).toSet))
    assert(contents(dir) == rows.toSet + ((5000L, 42L, 1L, "new", 7L)))
  }

  test("duplicate batch keys refuse loudly") {
    val dir = Files.createTempDirectory("gelm").toString
    writeStore(dir)
    val e = intercept[IllegalArgumentException] {
      EventLogMerge.upsert(spark, dir, batchDf(Seq(
        (4L, Day, 1L, "a", 1L), (4L, Day, 1L, "a", 2L))))
    }
    assert(e.getMessage.contains("duplicate event_id"))
  }

  test("a batch above the cap refuses before collecting") {
    val dir = Files.createTempDirectory("gelm").toString
    writeStore(dir)
    val e = intercept[IllegalArgumentException] {
      EventLogMerge.upsert(spark, dir, batchDf(rows), maxBatchRows = 5)
    }
    assert(e.getMessage.contains("shard it"))
  }

  test("an update moving ts across its UTC day refuses") {
    val dir = Files.createTempDirectory("gelm").toString
    writeStore(dir)
    val e = intercept[org.apache.spark.SparkException] {
      // id 4 lives in day 1; move it to day 0
      EventLogMerge.upsert(spark, dir,
        batchDf(Seq((4L, 4000L, 104L, "a", 999L))))
    }
    assert(e.getMessage.contains("UTC day") ||
      Option(e.getCause).exists(_.getMessage.contains("UTC day")))
    // the refusal rolled nothing in: store unchanged, no intent left
    assert(contents(dir) == rows.toSet)
    assert(EventLogCompact.recover(dir) == 0)
  }

  test("bucketed store: in-bucket update + routed inserts; cross-bucket move refuses") {
    val dir = Files.createTempDirectory("gelm").toString
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .write.format("graft-eventlog").mode("append")
      .option("bucket.count", "4").save(dir)
    // id 8 has user_id 101 (bucket 1): update keeps user 101, add an
    // insert landing in bucket 3 (user 103)
    val st = EventLogMerge.upsert(spark, dir, batchDf(Seq(
      (8L, Day * 2 + 8000L, 101L, "a", 888L),
      (2001L, 77L, 103L, "new", 3L))))
    assert(st.matched == 1 && st.inserted == 1)
    // the insert file carries its bucket tag — co-partitioning survives
    val insFile = EventLog.listFiles(dir)
      .map(_.getName).filter(_.contains("-u")).toSeq
    assert(insFile.nonEmpty &&
      insFile.forall(EventLog.bucketOfName(_).contains(3)))
    val e = intercept[org.apache.spark.SparkException] {
      EventLogMerge.upsert(spark, dir, batchDf(Seq(
        (8L, Day * 2 + 8000L, 102L, "a", 888L)))) // bucket 1 -> 2
    }
    assert(e.getMessage.contains("bucket") ||
      Option(e.getCause).exists(_.getMessage.contains("bucket")))
  }

  test("crash mid-merge: the next merge's recovery finishes the swap exactly-once") {
    val dir = Files.createTempDirectory("gelm").toString
    writeStore(dir)
    // hand-build the post-rename, pre-manifest crash state a merge
    // leaves: one day file's updated copy visible under its final -m
    // name, the original still present, the intent still journaled
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
    // duplicates visible in the crash state; the next merge ends them
    assert(spark.read.format("graft-eventlog").load(dir).count() >
      rows.size)
    // age the crash artifacts past the liveness window: a FRESH intent
    // is presumed to belong to a LIVE concurrent op (round 11) and the
    // entry point leaves it alone — crashes recover after the window
    val aged = System.currentTimeMillis() - EventLog.CommitLockStaleMs - 1000
    new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith(EventLogCompact.IntentPrefix))
      .foreach(_.setLastModified(aged))
    val st = EventLogMerge.upsert(spark, dir,
      batchDf(Seq((9001L, 5L, 1L, "new", 1L))))
    assert(st.inserted == 1)
    val got = contents(dir)
    assert(got.size == rows.size + 1, s"crash recovery lost/kept rows: " +
      s"${got.size} vs ${rows.size + 1}")
    assert(got.count(_._5 == 4242L) == 1, "the recovered update is gone")
    assert(!victim.exists, "roll-forward left the replaced input alive")
  }
}
