package graft.sources.v2

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Time travel and the changes feed over the incremental manifest log:
  * `version=n` reads the store AS OF manifest commit n (manifest truth,
  * not the live listing), `changes.from/to` reads only the files added
  * in the window, and every retention bound — a version below the
  * checkpoint fold, a window crossing it, a window containing removes,
  * a referenced file compacted away — refuses LOUDLY instead of
  * answering partially. */
class EventLogSnapshotSpec extends graft.SparkTestBase {
  import spark.implicits._

  private val Day = 86400000000L

  /** Two append jobs: day-0 rows (version 1), then day-1 rows
    * (version 2). */
  private def twoCommitStore(): String = {
    val dir = Files.createTempDirectory("gelv").toString
    Seq((1L, 10L, 7L, "a", 100L), (2L, 20L, 8L, "b", 200L))
      .toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .coalesce(1)
      .write.format("graft-eventlog").mode("append").save(dir)
    Seq((3L, Day + 10L, 7L, "a", 300L), (4L, Day + 20L, 9L, "c", 400L))
      .toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .coalesce(1)
      .write.format("graft-eventlog").mode("append").save(dir)
    dir
  }

  private def readVersion(dir: String, v: Long) =
    spark.read.format("graft-eventlog").option("version", v.toString)
      .load(dir)

  test("version n reads the store as of manifest commit n") {
    val dir = twoCommitStore()
    assert(EventLog.currentVersion(dir) == 2L)
    assert(readVersion(dir, 1).select("event_id").as[Long].collect().sorted
      .sameElements(Array(1L, 2L)))
    assert(readVersion(dir, 2).select("event_id").as[Long].collect().sorted
      .sameElements(Array(1L, 2L, 3L, 4L)))
    assert(readVersion(dir, 0).count() == 0L)
    // the current (unversioned) read equals the latest version
    assert(spark.read.format("graft-eventlog").load(dir).count() == 4L)
  }

  test("a version snapshot is immutable under later appends") {
    val dir = twoCommitStore()
    val v1 = readVersion(dir, 1).select("event_id").as[Long].collect().sorted
    Seq((5L, 2 * Day + 10L, 7L, "a", 500L))
      .toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .coalesce(1)
      .write.format("graft-eventlog").mode("append").save(dir)
    assert(EventLog.currentVersion(dir) == 3L)
    assert(readVersion(dir, 1).select("event_id").as[Long].collect().sorted
      .sameElements(v1))
  }

  test("changes windows read exactly the files added in (from, to]") {
    val dir = twoCommitStore()
    def changes(f: Long, t: Long): Array[Long] =
      spark.read.format("graft-eventlog")
        .option("changes.from", f.toString).option("changes.to", t.toString)
        .load(dir).select("event_id").as[Long].collect().sorted
    assert(changes(1, 2).sameElements(Array(3L, 4L)))
    assert(changes(0, 1).sameElements(Array(1L, 2L)))
    assert(changes(0, 2).sameElements(Array(1L, 2L, 3L, 4L)))
    assert(changes(2, 2).isEmpty)
  }

  test("version and changes slices still apply query predicates exactly") {
    val dir = twoCommitStore()
    assert(readVersion(dir, 2).where(col("ts_us") >= Day).count() == 2L)
    assert(spark.read.format("graft-eventlog")
      .option("changes.from", "1").option("changes.to", "2").load(dir)
      .where(col("event_type") === "c").count() == 1L)
  }

  test("a nonexistent version and a malformed option mix are loud") {
    val dir = twoCommitStore()
    val e1 = intercept[Exception] { readVersion(dir, 3).count() }
    assert(e1.getMessage.contains("does not exist"))
    val e2 = intercept[Exception] {
      spark.read.format("graft-eventlog")
        .option("version", "1").option("changes.from", "0")
        .option("changes.to", "1").load(dir).count()
    }
    assert(e2.getMessage.contains("not a mix"))
    val e3 = intercept[Exception] {
      spark.read.format("graft-eventlog")
        .option("changes.from", "2").option("changes.to", "1").load(dir)
        .count()
    }
    assert(e3.getMessage.contains("bad changes window"))
  }

  test("versions below the checkpoint fold are refused, at it readable") {
    val dir = Files.createTempDirectory("gelv").toString
    def entry(name: String): EventLog.ManifestEntry =
      EventLog.ManifestEntry(name, 1, 0L, 1L, Seq("a"), Seq(1L),
        Some(Seq(10L)))
    // 16 commits trigger the fold; foldedThrough = 16
    (1 to 16).foreach(i => EventLog.appendManifest(dir, Seq(entry(f"f$i%04d.gel"))))
    assert(EventLog.currentVersion(dir) == 16L)
    val e = intercept[IllegalArgumentException] {
      EventLog.readManifestAsOf(dir, 3)
    }
    assert(e.getMessage.contains("absorbed into the checkpoint"))
    // the fold point itself is the checkpoint's state — readable
    assert(EventLog.readManifestAsOf(dir, 16).size == 16)
    // and later commits resume time travel above the floor
    EventLog.appendManifest(dir, Seq(entry("g0001.gel")))
    assert(EventLog.readManifestAsOf(dir, 17).size == 17)
    assert(EventLog.readManifestAsOf(dir, 16).size == 16)
  }

  test("a changes window crossing the fold or containing removes is loud") {
    val dir = Files.createTempDirectory("gelv").toString
    def entry(name: String): EventLog.ManifestEntry =
      EventLog.ManifestEntry(name, 1, 0L, 1L, Seq("a"), Seq(1L),
        Some(Seq(10L)))
    (1 to 16).foreach(i => EventLog.appendManifest(dir, Seq(entry(f"f$i%04d.gel"))))
    val crossing = intercept[IllegalArgumentException] {
      EventLog.changedEntries(dir, 3, 16)
    }
    assert(crossing.getMessage.contains("bounded by checkpoint retention"))
    // a remove inside the window (what compaction/delete write) refuses
    EventLog.appendManifest(dir, Seq(entry("g0001.gel")),
      removes = Seq("f0001.gel"))
    val removed = intercept[IllegalArgumentException] {
      EventLog.changedEntries(dir, 16, 17)
    }
    assert(removed.getMessage.contains("contains removes"))
  }

  test("a snapshot whose file was compacted away is loud, not partial") {
    val dir = twoCommitStore()
    // compaction leaves single-file days alone — fragment day 0 first
    Seq((6L, 30L, 9L, "a", 600L))
      .toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .coalesce(1)
      .write.format("graft-eventlog").mode("append").save(dir)
    val st = EventLogCompact.compact(spark, dir)
    assert(st.groupsMerged == 1)
    // a RECORD read of the vacated version is loud (count() is not:
    // the as-of COUNT pushes to the version's manifest entries, which
    // outlive the bytes — see the view-aggregates test)
    val e = intercept[Exception] {
      readVersion(dir, 1).select("event_id").collect()
    }
    assert(e.getMessage.contains("no longer exists"))
    // the current read is unaffected
    assert(spark.read.format("graft-eventlog").load(dir).count() == 5L)
  }

  test("q292/q293 partition the corpus exactly at the commit boundary") {
    val dir = "/root/testdata/sf0.001"
    val cutoff = graft.queries.Formats.EventlogCutoffUs
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
    def truth(pred: org.apache.spark.sql.Column) =
      ev.where(pred).groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"),
          min("us").as("min_us"), max("us").as("max_us"))
        .collect().toSet
    assert(graft.SparkEntry.queries("q292_eventlog_time_travel")(spark, dir)
      .collect().toSet == truth(col("us") < cutoff))
    assert(graft.SparkEntry.queries("q293_eventlog_changes")(spark, dir)
      .collect().toSet == truth(col("us") >= cutoff))
  }

  test("commitHistory accounts every retained commit, adds and removes") {
    val dir = twoCommitStore()
    val h = EventLog.commitHistory(dir)
    assert(h.map(_._1) == Seq(1L, 2L))
    assert(h.map(_._2.map(_.count).sum) == Seq(2, 2))
    assert(h.forall(_._3.isEmpty))
    // a delete shows up as a remove-bearing commit
    val name = s"hist_${Integer.toHexString(dir.hashCode)}"
    GraftCatalog.register(spark, name, dir)
    spark.sql(s"DELETE FROM graft.$name WHERE ts_us >= $Day")
    val h2 = EventLog.commitHistory(dir)
    assert(h2.map(_._1) == Seq(1L, 2L, 3L))
    assert(h2.last._2.isEmpty && h2.last._3.size == 1)
  }

  test("SQL VERSION AS OF / TIMESTAMP AS OF resolve through the catalog") {
    val dir = twoCommitStore()
    val name = s"sqlv_${Integer.toHexString(dir.hashCode)}"
    GraftCatalog.register(spark, name, dir)
    assert(spark.sql(s"SELECT event_id FROM graft.$name VERSION AS OF 1")
      .as[Long].collect().sorted.sameElements(Array(1L, 2L)))
    assert(spark.sql(s"SELECT count(*) FROM graft.$name VERSION AS OF 2")
      .head().getLong(0) == 4L)
    // timestamp travel: pin segment mtimes to known instants, ask
    // between them (versionAt reads mtimes, the Delta convention)
    val segs = new java.io.File(dir).listFiles()
      .filter(f => EventLog.isSegmentName(f.getName)).sortBy(_.getName)
    assert(segs.length == 2)
    java.nio.file.Files.setLastModifiedTime(segs(0).toPath,
      java.nio.file.attribute.FileTime.fromMillis(1_000_000L))
    java.nio.file.Files.setLastModifiedTime(segs(1).toPath,
      java.nio.file.attribute.FileTime.fromMillis(2_000_000L))
    assert(EventLog.versionAt(dir, 1_500_000_000L) == 1L)
    assert(EventLog.versionAt(dir, 2_000_000_000L) == 2L)
    assert(EventLog.versionAt(dir, 999L) == 0L) // predates commit 1
    val t = spark.sql(
      s"SELECT event_id FROM graft.$name TIMESTAMP AS OF " +
        "CAST('1970-01-01 00:25:00' AS TIMESTAMP)") // 1500s, between them
      .as[Long].collect().sorted
    assert(t.sameElements(Array(1L, 2L)))
  }

  test("a version-pinned table is read-only: writes and deletes refuse") {
    val dir = twoCommitStore()
    val pinned = new EventLogTable(dir, EventLog.TimeView.AsOf(1))
    val w = intercept[IllegalArgumentException] {
      pinned.newWriteBuilder(null)
    }
    assert(w.getMessage.contains("read-only"))
    val d = intercept[IllegalArgumentException] {
      pinned.canDeleteWhere(Array.empty[org.apache.spark.sql.sources.Filter])
    }
    assert(d.getMessage.contains("read-only"))
    // and a conflicting per-read view option is refused
    val c = intercept[IllegalArgumentException] {
      pinned.newScanBuilder(new org.apache.spark.sql.util
        .CaseInsensitiveStringMap(java.util.Map.of("version", "2")))
    }
    assert(c.getMessage.contains("pick one"))
  }

  test("view aggregates are metadata-only, and outlive compacted bytes") {
    val dir = twoCommitStore()
    def asofStats = spark.read.format("graft-eventlog")
      .option("version", "1").load(dir)
      .groupBy("event_type").agg(count(lit(1)).as("n"),
        sum("cents").as("cents_sum"))
    // pushed: the grouped metadata scan, zero header/data opens
    val p = asofStats.queryExecution.executedPlan.toString
    assert(p.contains("manifest-only grouped") && p.contains("view=AsOf(1)"),
      "the as-of grouped aggregate did not push to metadata:\n" + p.take(600))
    val h0 = EventLog.headerReads.get()
    val want = Set(("a", 1L, 100L), ("b", 1L, 200L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(asofStats) == want)
    assert(EventLog.headerReads.get() == h0)
    // global stats as-of push from entries too
    val glob = spark.read.format("graft-eventlog")
      .option("version", "1").load(dir)
      .agg(count(col("event_id")).as("n"), min("ts_us").as("lo"),
        max("ts_us").as("hi"), sum("cents").as("s")).head()
    assert((glob.getLong(0), glob.getLong(1), glob.getLong(2),
      glob.getLong(3)) == ((2L, 10L, 20L, 300L)))
    // now DESTROY version 1's bytes (fragment day 0 so compaction
    // merges it away) — the record scan refuses, the NUMBERS remain
    Seq((6L, 30L, 9L, "a", 600L))
      .toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .coalesce(1)
      .write.format("graft-eventlog").mode("append").save(dir)
    EventLogCompact.compact(spark, dir)
    intercept[Exception] {
      spark.read.format("graft-eventlog").option("version", "1").load(dir)
        .select("event_id").collect()
    }
    assert(rows(asofStats) == want,
      "history's numbers should outlive its bytes (entries, not files)")
    // changes-window stats are the same machinery
    val ch = spark.read.format("graft-eventlog")
      .option("changes.from", "1").option("changes.to", "2").load(dir)
      .groupBy("event_type").agg(count(lit(1)).as("n"),
        sum("cents").as("cents_sum"))
    assert(ch.queryExecution.executedPlan.toString
      .contains("view=Changes(1,2)"))
    assert(rows(ch) == Set(("a", 1L, 300L), ("c", 1L, 400L)))
  }

  test("streaming tails refuse version/changes options") {
    val dir = twoCommitStore()
    val err = intercept[Exception] {
      spark.readStream.format("graft-eventlog").option("version", "1")
        .load(dir)
        .writeStream.format("noop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(c =>
      c.getMessage != null && c.getMessage.contains("batch-only")))
  }
}
