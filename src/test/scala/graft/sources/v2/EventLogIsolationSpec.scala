package graft.sources.v2

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Snapshot consistency for CONCURRENT batch readers across rewrites:
  * the manifest arbitrates what exists, so a reader planning at any
  * instant of a compaction/merge/COW swap sees exactly the pre-commit
  * state or the post-commit state — never transient duplicates, never
  * a gap. (The round-10 upgrade of the old "offline maintenance,
  * readers may see duplicates" caveat.) */
class EventLogIsolationSpec extends graft.SparkTestBase {
  import spark.implicits._

  private val rows = (1 to 10).map(i =>
    (i.toLong, i * 1000L, i.toLong, "a", i * 100L))

  private def store(): String = {
    val dir = Files.createTempDirectory("geliso").toString
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .coalesce(1)
      .write.format("graft-eventlog").mode("append").save(dir)
    dir
  }

  private def count(dir: String): Long =
    spark.read.format("graft-eventlog").load(dir)
      .select("event_id").distinct().count()

  private def total(dir: String): Long =
    spark.read.format("graft-eventlog").load(dir).count()

  test("mid-swap (outputs renamed, commit not landed): readers see the PRE state") {
    val dir = store()
    // hand-build the window: a rewritten copy visible under its final
    // maintenance-tagged name, manifest untouched, intent journaled
    val victim = EventLog.listFiles(dir).head
    val recs = EventLog.readRecords(victim).map(_._1)
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new java.io.File(dir, s".inprogress.merge.$uuid")
    val fin = victim.getName.stripSuffix(".gel") + s"-m$uuid.gel"
    val entry = EventLog.writeGelFile(tmp, fin,
      recs.map(r => r.copy(_5 = r._5 + 1)))
    assert(tmp.renameTo(new java.io.File(dir, entry.file)))
    EventLogCompact.writeIntent(dir, EventLogCompact.Intent(
      Seq(tmp.getName), Seq(entry), Seq(victim.getName)))
    // the reader sees exactly the original rows — no duplicates
    assert(total(dir) == rows.size,
      "a mid-swap reader saw the uncommitted rewrite output")
    assert(spark.read.format("graft-eventlog").load(dir)
      .agg(sum("cents")).head.getLong(0) == rows.map(_._5).sum)
    // recovery completes the swap; the post state is exact
    assert(EventLogCompact.recover(dir) == 1)
    assert(total(dir) == rows.size)
    assert(spark.read.format("graft-eventlog").load(dir)
      .agg(sum("cents")).head.getLong(0) ==
      rows.map(_._5).sum + rows.size)
  }

  test("post-commit, inputs not yet unlinked: readers see the POST state") {
    val dir = store()
    val victim = EventLog.listFiles(dir).head
    val recs = EventLog.readRecords(victim).map(_._1)
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new java.io.File(dir, s".inprogress.compact.$uuid")
    val fin = f"day_00000-c$uuid.gel"
    val entry = EventLog.writeGelFile(tmp, fin, recs)
    assert(tmp.renameTo(new java.io.File(dir, entry.file)))
    // the commit lands (adds the chunk, removes the input) but the
    // input file is still on disk — the crash window between append
    // and unlink
    EventLog.appendManifest(dir, Seq(entry),
      removes = Seq(victim.getName))
    assert(victim.isFile)
    assert(total(dir) == rows.size,
      "a reader saw the removed-but-listed input AND its replacement")
    // vacuum reclaims the logically-removed residue once aged
    assert(victim.setLastModified(
      System.currentTimeMillis() - 48L * 3600 * 1000))
    assert(EventLog.vacuum(dir) == 1)
    assert(!victim.isFile)
    assert(total(dir) == rows.size)
  }

  test("a real compaction never shows a concurrent reader duplicates or gaps") {
    val dir = Files.createTempDirectory("geliso").toString
    (0 until 3).foreach { k =>
      rows.filter(_._1 % 3 == k)
        .toDF("event_id", "ts_us", "user_id", "event_type", "cents")
        .coalesce(1)
        .write.format("graft-eventlog").mode("append").save(dir)
    }
    // reader thread hammers the store while compaction runs; every
    // observation must be exactly the full corpus
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        val maps = EventLog.zoneMaps(dir)
        val n = maps.iterator.map(_._2.count.toLong).sum
        if (n != rows.size)
          bad.compareAndSet(null,
            s"planned $n rows (${maps.map(_._1.getName)})")
      }
    })
    reader.start()
    try EventLogCompact.compact(spark, dir)
    finally { stop.set(true); reader.join() }
    assert(bad.get() == null, s"concurrent planning diverged: ${bad.get()}")
    assert(total(dir) == rows.size)
  }

  test("a FILE tail crossing a rewrite fails loudly — never silent duplicates") {
    val dir = Files.createTempDirectory("geliso").toString
    (0 until 2).foreach { k =>
      rows.filter(_._1 % 2 == k)
        .toDF("event_id", "ts_us", "user_id", "event_type", "cents")
        .coalesce(1)
        .write.format("graft-eventlog").mode("append").save(dir)
    }
    val ck = Files.createTempDirectory("geliso_ck").toString
    def tail(): Long = {
      val n = new java.util.concurrent.atomic.AtomicLong(0)
      val q = spark.readStream.format("graft-eventlog").load(dir)
        .select("event_id")
        .writeStream
        .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
          n.addAndGet(df.count()); ()
        })
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      n.get()
    }
    assert(tail() == rows.size)
    // the rewrite replaces files BELOW the tail's committed watermark:
    // the offset's count lane must catch it loudly, not re-deliver
    EventLogCompact.compact(spark, dir)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      tail()
    }
    def deep(t: Throwable): String =
      Option(t.getCause).map(c => t.getMessage + deep(c))
        .getOrElse(t.getMessage)
    assert(deep(e).contains("watermark") || deep(e).contains("monotone"),
      s"expected the out-of-order/watermark refusal, got ${deep(e)}")
  }

  test("COW rewrite outputs (w-tag) are invisible until their commit") {
    val dir = store()
    // simulate a mid-job COW task commit: a w-tagged file on disk, no
    // manifest row
    val w = new java.io.File(dir, "day_00000-w00003-deadbeef.gel")
    val tmp = new java.io.File(dir, ".inprogress.cow")
    EventLog.writeGelFile(tmp, w.getName,
      scala.collection.mutable.ArrayBuffer((999L, 1L, 1L, "a", 1L)))
    assert(tmp.renameTo(w))
    assert(total(dir) == rows.size, "an uncommitted COW output leaked")
    // a FOREIGN p-named file keeps the header fallback (unchanged)
    val p = new java.io.File(dir, "day_00000-p99999-cafecafe.gel")
    val tmp2 = new java.io.File(dir, ".inprogress.foreign")
    EventLog.writeGelFile(tmp2, p.getName,
      scala.collection.mutable.ArrayBuffer((1000L, 2L, 1L, "a", 1L)))
    assert(tmp2.renameTo(p))
    assert(total(dir) == rows.size + 1, "the foreign-file fallback broke")
  }
}
