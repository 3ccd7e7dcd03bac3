package graft.sources.v2

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, LessThanOrEqual}

/** Z-order clustering + the `user_id` zone lane (round 9): content
  * preserved exactly through the re-layout, manifest entries carry
  * user bounds, a user-range plan PRUNES whole files on the z-ordered
  * layout and nothing on the ts-striped one, entries without bounds
  * only over-read, the delete path's all-match dual stays
  * conservative, and a segment entry without the lane still parses. */
class EventLogZOrderSpec extends graft.SparkTestBase {
  import spark.implicits._

  private val Day = 86400000000L

  // 2 days × 100 records, user_ids 0..9 interleaved in ts order — the
  // layout where ts-striped chunks all span the full user range
  private val rows = (1 to 200).map { i =>
    (i.toLong, (i % 2) * Day + i * 1000L, (i % 10).toLong,
      if (i % 3 == 0) "a" else "b", i * 10L)
  }

  private def writeFragmented(): String = {
    val dir = Files.createTempDirectory("gelz").toString
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

  private def userSkips(dir: String): Long = {
    val skip0 = EventLog.skippedFiles.get()
    val got = spark.read.format("graft-eventlog").load(dir)
      .where(col("user_id") <= 2L)
      .as[(Long, Long, Long, String, Long)].collect().toSet
    assert(got == rows.filter(_._3 <= 2L).toSet,
      "user-range read returned wrong rows")
    EventLog.skippedFiles.get() - skip0
  }

  test("zorder compact: content exact, days split, user bounds tight, user ranges prune") {
    val dir = writeFragmented()
    val st = EventLogCompact.compact(spark, dir,
      maxRecordsPerFile = 25, zorder = true)
    assert(st.groupsMerged == 2, st.toString)
    assert(EventLog.listFiles(dir).size == 8, "expected 4 chunks per day")
    assert(contents(dir) == rows.toSet) // exactly-once through re-layout
    val entries = EventLog.readManifest(dir).values
    assert(entries.forall(_.userBounds.isDefined),
      "zorder output entries must carry the user zone lane")
    // clustering means SOME chunk excludes the bottom user range
    assert(entries.exists(_.userBounds.exists(_._1 > 2L)),
      s"no chunk has minUser > 2: ${entries.map(_.userBounds).toSeq}")
    val skips = userSkips(dir)
    assert(skips > 0, "user-range plan pruned nothing on zorder layout")
  }

  test("unclustered layout: same query, same answer, zero user pruning") {
    // one ts-sorted file per day (the append-tail layout): every file
    // spans the day's full user range, so user bounds prune nothing —
    // the baseline that makes test 1's skips attributable to Z-order
    val dir = Files.createTempDirectory("gelz").toString
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .withColumn("__day", expr("ts_us div 86400000000"))
      .repartition(col("__day"))
      .sortWithinPartitions("ts_us", "event_id")
      .drop("__day")
      .write.format("graft-eventlog").mode("append").save(dir)
    assert(contents(dir) == rows.toSet)
    assert(userSkips(dir) == 0,
      "a full-user-range day file satisfied a user-range prune")
  }

  test("a manifest without user bounds admits everything, correctly") {
    val dir = writeFragmented()
    EventLogCompact.compact(spark, dir, maxRecordsPerFile = 25, zorder = true)
    EventLog.deleteManifest(dir)
    // header fallback: .gel headers never carry user bounds → no
    // pruning, identical rows (over-read, never drop)
    assert(userSkips(dir) == 0)
  }

  test("re-clustering an already-clustered store is stable") {
    // like Delta OPTIMIZE, a second run re-writes fragmented days (4
    // chunks > 1 file) — what must hold is exactly-once content and
    // the same chunk SHAPE, not file names
    val dir = writeFragmented()
    EventLogCompact.compact(spark, dir, maxRecordsPerFile = 25, zorder = true)
    val bounds1 = EventLog.readManifest(dir).values
      .map(e => (e.count, e.minTs, e.maxTs, e.userBounds)).toSet
    val st2 = EventLogCompact.compact(spark, dir,
      maxRecordsPerFile = 25, zorder = true)
    assert(st2.filesBefore == st2.filesAfter, st2.toString)
    assert(contents(dir) == rows.toSet)
    val bounds2 = EventLog.readManifest(dir).values
      .map(e => (e.count, e.minTs, e.maxTs, e.userBounds)).toSet
    assert(bounds1 == bounds2, "re-clustering changed the chunk shape")
  }

  test("zorder splits a single oversized day file") {
    val dir = Files.createTempDirectory("gelz").toString
    rows.filter(_._2 < Day)
      .toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .coalesce(1)
      .write.format("graft-eventlog").mode("append").save(dir)
    assert(EventLog.listFiles(dir).size == 1)
    val st = EventLogCompact.compact(spark, dir,
      maxRecordsPerFile = 25, zorder = true)
    assert(st.groupsMerged == 1 && EventLog.listFiles(dir).size == 4, st)
    assert(contents(dir) == rows.filter(_._2 < Day).toSet)
  }

  test("a day above the in-task budget z-sorts DISTRIBUTED, byte-identical to in-task") {
    // two identical stores: one clusters in-task (budget comfortably
    // above the day), one is FORCED through the distributed path by a
    // 10-record budget — the output chunks must be byte-identical
    // (same global z-sequence, same cuts, same within-chunk order)
    val dirA = writeFragmented()
    val dirB = writeFragmented()
    EventLogCompact.compact(spark, dirA, maxRecordsPerFile = 25,
      zorder = true)
    EventLogCompact.compact(spark, dirB, maxRecordsPerFile = 25,
      zorder = true, zorderDayCap = 10)
    assert(contents(dirA) == contents(dirB))
    def chunks(dir: String): Seq[Seq[(Long, Long, Long, String, Long)]] =
      EventLog.listFiles(dir).map(EventLog.readRecords(_).map(_._1))
    val a = chunks(dirA)
    val b = chunks(dirB)
    assert(a.size == b.size, s"chunk counts differ: ${a.size} vs ${b.size}")
    assert(a.toSet == b.toSet, "chunk contents diverge between paths")
    def bytes(dir: String): Set[Seq[Byte]] = EventLog.listFiles(dir)
      .map(f => java.nio.file.Files.readAllBytes(f.toPath).toSeq).toSet
    assert(bytes(dirA) == bytes(dirB), "chunk BYTES diverge between paths")
    // both paths leave a clean store: manifest exact, no intent, CDC
    // empty-part committed (the plain feed skips the re-layout)
    assert(EventLogCompact.recover(dirB) == 0)
    assert(EventLog.readManifest(dirB).keySet ==
      EventLog.listFiles(dirB).map(_.getName).toSet)
  }

  test("a user-keyed join delivers runtime filters that skip z-ordered files") {
    val dir = writeFragmented()
    EventLogCompact.compact(spark, dir, maxRecordsPerFile = 25, zorder = true)
    // a real dim scan with a surviving Filter (a local Seq would
    // constant-fold and DPP would see nothing to prune from)
    val dimDir = Files.createTempDirectory("gelz_dim").toString
    (0L to 9L).map(u => (u, if (u <= 1) "keep" else "drop"))
      .toDF("user_id", "tag")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val rf0 = EventLog.runtimeFilterCalls.get()
    val skip0 = EventLog.skippedFiles.get()
    val prev = spark.conf.getOption(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
      "false")
    try {
      val joined = spark.read.format("graft-eventlog").load(dir)
        .join(broadcast(dim.where(col("tag") === "keep")), "user_id")
        .select("event_id")
      assert(joined.as[Long].collect().toSet ==
        rows.filter(_._3 <= 1L).map(_._1).toSet)
      assert(EventLog.runtimeFilterCalls.get() > rf0,
        "no runtime filter reached the scan")
      assert(EventLog.skippedFiles.get() - skip0 > 0,
        "the In(user_id) set pruned no z-ordered files")
    } finally prev match {
      case Some(v) => spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", v)
      case None => spark.conf.unset(
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
    }
  }

  test("zorder on a bucketed store preserves the co-partitioned layout") {
    val dir = Files.createTempDirectory("gelz").toString
    // two append jobs → fragmented per (day, bucket); zorder compaction
    // groups by (day, bucket), so clustering must never move a row
    // across buckets or drop the bucket tag the SPJ scans key on
    (0 until 2).foreach { half =>
      rows.filter(_._1 % 2 == half)
        .toDF("event_id", "ts_us", "user_id", "event_type", "cents")
        .write.format("graft-eventlog").mode("append")
        .option("bucket.count", "4").save(dir)
    }
    val st = EventLogCompact.compact(spark, dir,
      maxRecordsPerFile = 10, zorder = true)
    assert(st.groupsMerged > 0)
    assert(contents(dir) == rows.toSet)
    assert(EventLog.readBucketing(dir).contains(4))
    EventLog.listFiles(dir).foreach { f =>
      val b = EventLog.bucketOfName(f.getName)
      assert(b.isDefined, s"${f.getName} lost its bucket tag")
      EventLog.readRecords(f).map(_._1).foreach(r =>
        assert(GraftBucketFunction.bucketOf(r._3, 4) == b.get,
          s"row with user ${r._3} landed in bucket-${b.get} file"))
    }
    // and the manifest's user bounds exist per clustered chunk
    assert(EventLog.readManifest(dir).values.forall(_.userBounds.isDefined))
  }

  test("all-match dual: user bounds prove deletes only when present") {
    val some = EventLog.Header(3, 0L, 9L, Seq("a"), Some((5L, 9L)))
    val none = EventLog.Header(3, 0L, 9L, Seq("a"), None)
    assert(EventLog.zoneAllMatch(some, Array(GreaterThan("user_id",
      java.lang.Long.valueOf(4L)))))
    assert(!EventLog.zoneAllMatch(some, Array(GreaterThan("user_id",
      java.lang.Long.valueOf(5L)))))
    assert(!EventLog.zoneAllMatch(none, Array(GreaterThan("user_id",
      java.lang.Long.valueOf(4L)))),
      "a missing lane must never justify deleting a file")
    assert(EventLog.zoneAllMatch(some, Array(LessThanOrEqual("user_id",
      java.lang.Long.valueOf(9L)))))
    // admit side: None admits, present bounds exclude
    assert(EventLog.zoneAdmits(none, Array(EqualTo("user_id",
      java.lang.Long.valueOf(99L)))))
    assert(!EventLog.zoneAdmits(some, Array(EqualTo("user_id",
      java.lang.Long.valueOf(4L)))))
  }

  test("a segment entry without the user-bounds lane parses with unknown user bounds") {
    val dir = Files.createTempDirectory("gelz").toString
    // one real data file, manifested with its user lane absent (the
    // entry's hasUsers byte is 0)
    val tmp = new java.io.File(dir, ".inprogress.boundless")
    val entry = EventLog.writeGelFile(tmp, "day_00000-boundless.gel",
      rows.filter(_._2 < Day))
    assert(tmp.renameTo(new java.io.File(dir, entry.file)))
    EventLog.appendManifest(dir, Seq(entry.copy(userBounds = None)))
    val m = EventLog.readManifest(dir)
    assert(m.keySet == Set(entry.file))
    assert(m(entry.file).userBounds.isEmpty)
    assert(m(entry.file).typeSums == entry.typeSums)
    // and the store reads correctly through it (admit-everything)
    assert(contents(dir) == rows.filter(_._2 < Day).toSet)
  }
}
