package graft.sources.v2

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The CDC tail ([[EventLogChangesStream]]): version offsets, one
  * micro-batch per commit under admission control (never a torn
  * commit), startingVersion scoping, incremental restart from a
  * checkpoint, and the loud refusals — a window over a
  * compaction/delete/merge rewrite, and a startingVersion that does
  * not exist. */
class EventLogChangesStreamSpec extends graft.SparkTestBase {
  import spark.implicits._

  private val Day = 86400000000L

  /** One COMMIT of `days` one-file days (day-repartitioned V2 write =
    * one job = one manifest segment = one version). */
  private def commit(dir: String, days: Seq[Long], idBase: Long): Unit =
    days.flatMap(d => Seq((idBase + d * 10, d * Day + 1000L, 100L + d,
      "a", d * 10L), (idBase + d * 10 + 1, d * Day + 2000L, 100L + d,
      "b", d * 10L + 1)))
      .toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .withColumn("__day", expr("ts_us div 86400000000"))
      .repartition(col("__day"))
      .drop("__day")
      .write.format("graft-eventlog").mode("append").save(dir)

  test("each micro-batch is exactly one commit under a 1-file budget") {
    val dir = Files.createTempDirectory("gelcdc").toString
    commit(dir, Seq(0L, 1L), idBase = 0)   // version 1: 2 files, 4 rows
    commit(dir, Seq(2L), idBase = 100)     // version 2: 1 file, 2 rows
    commit(dir, Seq(3L, 4L), idBase = 200) // version 3: 2 files, 4 rows
    assert(EventLog.currentVersion(dir) == 3L)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft-eventlog")
      .option("stream.changes", "true")
      .option("maxFilesPerTrigger", "1") // under every commit's size —
      .load(dir)                         // still admits whole commits
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
        batches.add(df.count()); ()
      })
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    import scala.jdk.CollectionConverters._
    val sizes = batches.asScala.toSeq.filter(_ > 0)
    assert(sizes == Seq(4L, 2L, 4L),
      s"batches must be whole commits, in order: $sizes")
  }

  test("unbounded drain reads everything once; restart picks up only new commits") {
    val dir = Files.createTempDirectory("gelcdc").toString
    commit(dir, Seq(0L, 1L), idBase = 0)
    commit(dir, Seq(2L), idBase = 100)
    val ck = Files.createTempDirectory("ck").toString
    val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long)]()
    def run(): Unit = {
      // foreachBatch, not the memory sink: only durable sinks support
      // RECOVERING from a checkpoint, and recovery is the point here
      val q = spark.readStream.format("graft-eventlog")
        .option("stream.changes", "true").load(dir)
        .select("event_id", "cents")
        .writeStream
        .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
          df.collect().foreach(r => got.add((r.getLong(0), r.getLong(1))))
          ()
        })
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    run()
    assert(got.size == 6)
    commit(dir, Seq(3L), idBase = 200) // version 3, after the first run
    run()
    // exactly the new commit's rows arrived — offsets resumed from the
    // checkpointed VERSION, not from zero
    assert(got.size == 8)
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet ==
      spark.read.format("graft-eventlog").load(dir)
        .select("event_id", "cents").as[(Long, Long)].collect().toSet)
  }

  test("changes.startingVersion skips history") {
    val dir = Files.createTempDirectory("gelcdc").toString
    commit(dir, Seq(0L), idBase = 0)
    commit(dir, Seq(1L), idBase = 100)
    val name = s"cdc_${System.nanoTime()}"
    val q = spark.readStream.format("graft-eventlog")
      .option("stream.changes", "true")
      .option("changes.startingVersion", "1")
      .load(dir)
      .select("event_id")
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    // only commit 2's ids (100-family)
    assert(spark.table(name).as[Long].collect().toSet ==
      Set(110L, 111L))
  }

  test("a nonexistent startingVersion refuses loudly") {
    val dir = Files.createTempDirectory("gelcdc").toString
    commit(dir, Seq(0L), idBase = 0)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft-eventlog")
        .option("stream.changes", "true")
        .option("changes.startingVersion", "9")
        .load(dir)
        .writeStream.format("noop")
        .option("checkpointLocation", Files.createTempDirectory("ck").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    assert(e.getMessage.contains("startingVersion") ||
      Option(e.getCause).exists(_.getMessage.contains("startingVersion")))
  }

  test("a rewrite (merge) inside the un-consumed window fails the tail loudly") {
    val dir = Files.createTempDirectory("gelcdc").toString
    commit(dir, Seq(0L), idBase = 0)
    val ck = Files.createTempDirectory("ck").toString
    val n = new java.util.concurrent.atomic.AtomicLong(0)
    def tail(): Unit = {
      val q = spark.readStream.format("graft-eventlog")
        .option("stream.changes", "true").load(dir)
        .select("event_id")
        .writeStream
        .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
          n.addAndGet(df.count()); ()
        })
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    tail()
    assert(n.get() == 2)
    // while the consumer is away: an append (version 2), then a MERGE
    // that rewrites history (version 3, with removes)
    commit(dir, Seq(1L), idBase = 100)
    EventLogMerge.upsert(spark, dir, Seq((0L, 1000L, 100L, "a", 9999L))
      .toDF("event_id", "ts_us", "user_id", "event_type", "cents"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      tail()
    }
    def deepMsg(t: Throwable): String =
      Option(t.getCause).map(c => t.getMessage + deepMsg(c))
        .getOrElse(t.getMessage)
    // since round 10 the merge journals its change data, so the PLAIN
    // tail's refusal names the typed feed that CAN serve the commit
    assert(deepMsg(e).contains("cdc.typed"),
      s"expected the typed-feed refusal, got: ${deepMsg(e)}")
  }

  test("a crash-recovery RE-APPEND is not redelivered") {
    val dir = Files.createTempDirectory("gelcdc").toString
    commit(dir, Seq(0L), idBase = 0)   // version 1
    commit(dir, Seq(1L), idBase = 100) // version 2
    // simulate the sink-marker / intent roll-forward crash window: the
    // recovery re-appends entries version 1 already added, as version 3
    val v1Entries = EventLog.readManifestAsOf(dir, 1L).values.toSeq
    EventLog.appendManifest(dir, v1Entries)
    assert(EventLog.currentVersion(dir) == 3L)
    // the batch window (1, 3] holds commit 2's files ONCE — the
    // re-append is recognized as already-present-as-of-1, not new
    val changed = EventLog.changedEntries(dir, 1L, 3L).map(_.file)
    assert(changed.toSet ==
      EventLog.readManifestAsOf(dir, 2L).keySet --
        EventLog.readManifestAsOf(dir, 1L).keySet,
      s"re-appended files leaked into the changes window: $changed")
    // and the CDC drain delivers every row exactly once
    val n = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream.format("graft-eventlog")
      .option("stream.changes", "true")
      .option("maxFilesPerTrigger", "1") // split commits across batches
      .load(dir)
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
        n.addAndGet(df.count()); ()
      })
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    assert(n.get() == 4, s"rows lost or redelivered across the " +
      s"re-append commit: ${n.get()} (expected 4)")
  }

  test("an absorbed un-consumed window refuses loudly even under admission control") {
    val dir = Files.createTempDirectory("gelcdc").toString
    commit(dir, Seq(0L), idBase = 0) // version 1 — consumed below
    val ck = Files.createTempDirectory("ck").toString
    def tail(): Unit = {
      val q = spark.readStream.format("graft-eventlog")
        .option("stream.changes", "true")
        .option("maxFilesPerTrigger", "1")
        .load(dir)
        .writeStream.format("noop")
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    tail()
    // while the consumer is away, enough commits land that the manifest
    // log FOLDS them into the checkpoint (CheckpointEvery = 16) and the
    // window's segments are deleted
    (0 until 17).foreach(k => commit(dir, Seq((k % 28).toLong + 2L),
      idBase = 1000 + k * 100))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      tail()
    }
    def deepMsg(t: Throwable): String =
      Option(t.getCause).map(c => t.getMessage + deepMsg(c))
        .getOrElse(t.getMessage)
    assert(deepMsg(e).contains("retention") ||
      deepMsg(e).contains("absorbed"),
      s"expected the checkpoint-retention refusal, got: ${deepMsg(e)}")
  }

  test("idle triggers on a folded store read the checkpoint's 16-byte prefix, no entry") {
    val fs = new CheckpointReadsFs(Files.createTempDirectory("gelcdcroot").toFile)
    val dir = "/graft-virtual-store/cdc-idle"
    EventLog.withFs(fs) {
      (0 until 17).foreach(k => commit(dir, Seq(k.toLong), idBase = k * 100))
      assert(fs.listFiles(new java.io.File(dir)).exists(_.getName == EventLog.ManifestName),
        "the manifest log did not fold into a checkpoint")
      // the tail starts after the fold, at the current version: every
      // trigger is idle
      val q = spark.readStream.format("graft-eventlog")
        .option("stream.changes", "true")
        .option("changes.startingVersion", EventLog.currentVersion(dir).toString)
        .load(dir)
        .writeStream.format("noop")
        .option("checkpointLocation", Files.createTempDirectory("ck").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L))
        .start()
      try {
        q.processAllAvailable()
        fs.opens.set(0); fs.maxRead.set(0)
        val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
        while (fs.opens.get() < 10 && System.nanoTime() < deadline) Thread.sleep(50)
      } finally q.stop()
    }
    assert(fs.opens.get() >= 10, s"idle triggers opened the checkpoint ${fs.opens.get()} times")
    assert(fs.maxRead.get() <= EventLog.ManifestMagic.length + 8L,
      s"an idle trigger read ${fs.maxRead.get()} bytes of the checkpoint")
  }

  test("maxBytesPerTrigger bounds the CDC batches by whole commits") {
    val dir = Files.createTempDirectory("gelcdc").toString
    commit(dir, Seq(0L), idBase = 0)   // version 1: 1 file
    commit(dir, Seq(1L), idBase = 100) // version 2: 1 file
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft-eventlog")
      .option("stream.changes", "true")
      .option("maxBytesPerTrigger", "1") // under any commit — still ≥1
      .load(dir)
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
        batches.add(df.count()); ()
      })
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(batches.asScala.toSeq.filter(_ > 0) == Seq(2L, 2L),
      s"byte budget did not drain commit-by-commit: ${batches.asScala}")
  }

  test("q303 cleans its landing zone — repeated calls leak nothing") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def lands(): Set[String] = Option(tmp.listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("gelcdc_land")).toSet
    val before = lands()
    graft.SparkEntry.queries("q303_eventlog_cdc")(
      spark, "/root/testdata/sf0.001").collect()
    assert(lands() == before,
      "q303 left its landing zone in java.io.tmpdir")
  }

  test("stream.changes on a batch read refuses loudly") {
    val dir = Files.createTempDirectory("gelcdc").toString
    commit(dir, Seq(0L), idBase = 0)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-eventlog")
        .option("stream.changes", "true").load(dir).collect()
    }
    assert(e.getMessage.contains("readStream option"))
    // the AGGREGATE path must refuse too: metadata pushdown would
    // otherwise answer a count() without ever seeing the option
    val e2 = intercept[IllegalArgumentException] {
      spark.read.format("graft-eventlog")
        .option("stream.changes", "true").load(dir).count()
    }
    assert(e2.getMessage.contains("readStream option"))
  }

  test("version offsets round-trip through json") {
    val o = EventLogVersionOffset(42L)
    assert(EventLogVersionOffset.fromJson(o.json()) == o)
    intercept[IllegalArgumentException] {
      EventLogVersionOffset.fromJson("""{"watermark":"x","count":1}""")
    }
  }
}

/** A [[ChrootGelFs]] that counts the opens of the manifest checkpoint and
  * keeps the most bytes any one open has read from it. */
class CheckpointReadsFs(root: java.io.File) extends ChrootGelFs(root) {
  val opens = new java.util.concurrent.atomic.AtomicLong(0)
  val maxRead = new java.util.concurrent.atomic.AtomicLong(0)
  override def openRead(f: java.io.File): java.io.InputStream = {
    val in = super.openRead(f)
    if (f.getName != EventLog.ManifestName) in
    else {
      opens.incrementAndGet()
      new java.io.FilterInputStream(in) {
        private var taken = 0L
        private def counted(n: Int): Int = {
          if (n > 0) { taken += n; maxRead.accumulateAndGet(taken, (a, b) => math.max(a, b)) }
          n
        }
        override def read(): Int = { val b = super.read(); counted(if (b < 0) -1 else 1); b }
        override def read(b: Array[Byte], off: Int, len: Int): Int =
          counted(super.read(b, off, len))
      }
    }
  }
}
