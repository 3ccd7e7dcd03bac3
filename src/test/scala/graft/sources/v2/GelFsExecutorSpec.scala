package graft.sources.v2

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** A GelFs that can only see ITS OWN jail — the "misconfigured
  * executor" fake: an executor resolving this implementation cannot
  * see a store the driver wrote through the local mount, exactly like
  * a worker whose JVM missed the shared-mount install and silently
  * defaulted to its local disk. Loaded BY NAME through
  * [[EventLog.FsImplConfKey]], so the spec exercises the real
  * conf-resolution machinery, not a test hook. */
object ElsewhereGelFs extends GelFs {
  lazy val jail: java.io.File =
    Files.createTempDirectory("gel-elsewhere").toFile
  private def real(f: java.io.File): java.io.File =
    new java.io.File(jail, f.getPath)
  override def mkdirs(dir: java.io.File): Unit = { real(dir).mkdirs(); () }
  override def listFiles(dir: java.io.File): Seq[java.io.File] =
    Option(real(dir).listFiles()).map(_.toSeq).getOrElse(Nil)
      .map(f => new java.io.File(dir, f.getName))
  override def isFile(f: java.io.File): Boolean = real(f).isFile
  override def isDirectory(f: java.io.File): Boolean = real(f).isDirectory
  override def length(f: java.io.File): Long = real(f).length()
  override def lastModified(f: java.io.File): Long = real(f).lastModified()
  override def mtimeNanos(f: java.io.File): Long =
    if (!real(f).isFile) 0L
    else Files.getLastModifiedTime(real(f).toPath)
      .to(java.util.concurrent.TimeUnit.NANOSECONDS)
  override def openRead(f: java.io.File): java.io.InputStream =
    new java.io.FileInputStream(real(f))
  override def openWrite(f: java.io.File): java.io.OutputStream = {
    real(f).getParentFile.mkdirs()
    new java.io.FileOutputStream(real(f))
  }
  override def rename(src: java.io.File, dst: java.io.File): Boolean =
    real(src).renameTo(real(dst))
  override def delete(f: java.io.File): Boolean = real(f).delete()
  override def createNew(f: java.io.File): Boolean =
    try real(f).createNewFile()
    catch { case _: java.io.IOException => false }
  override def touch(f: java.io.File): Unit = {
    real(f).setLastModified(System.currentTimeMillis()); ()
  }
  override def readAll(f: java.io.File): Array[Byte] =
    Files.readAllBytes(real(f).toPath)
}

/** EXECUTOR-SIDE FS VERIFICATION (round 12): maintenance used to
  * TRUST that every executor JVM resolved the same store filesystem
  * as the driver — a worker missing the install silently defaulted to
  * its local disk and scattered DV sidecars / CDC temps / merge
  * outputs where no commit could ever see them. Now (1) tasks resolve
  * the fs from the launch conf [[EventLog.FsImplConfKey]] (which
  * Spark propagates to every executor), and (2) every op that writes
  * from tasks PROVES visibility first: the driver drops a token file
  * through its fs, each task must see it through the fs IT resolved,
  * and a mismatch refuses loudly BEFORE any byte is written. */
class GelFsExecutorSpec extends graft.SparkTestBase {
  import spark.implicits._

  private val Day = 86400000000L

  /** Two appends, each spanning both days → every day is FRAGMENTED
    * (two files), so compaction genuinely launches merge tasks; day-0
    * files hold two ids each, so an `event_id = 1` delete cuts INSIDE
    * a file and takes the task-parallel deletion-vector lane. */
  private def writeStore(dir: String): Unit =
    (0 to 1).foreach { w =>
      Seq((w * 100L + 1, 1000L + w, 7L, "a", 5L),
          (w * 100L + 2, Day + 2000L + w, 8L, "b", 6L),
          (w * 100L + 3, 3000L + w, 9L, "a", 7L))
        .toDF("event_id", "ts_us", "user_id", "event_type", "cents")
        .coalesce(1)
        .write.format("graft-eventlog").mode("append").save(dir)
    }

  private def withTaskFsConf[T](impl: String)(body: => T): T = {
    val conf = org.apache.spark.SparkEnv.get.conf
    conf.set(EventLog.FsImplConfKey, impl)
    try body finally conf.remove(EventLog.FsImplConfKey)
  }

  private def messagesOf(t: Throwable): String = {
    val sb = new StringBuilder
    var c: Throwable = t
    while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
    sb.toString
  }

  private def storeFingerprint(dir: String): Set[(String, Long)] =
    new java.io.File(dir).listFiles().toSet[java.io.File]
      .map(f => (f.getName, f.length()))

  test("installFsFromConf installs the conf-named fs on the driver; without the conf it does nothing") {
    val prev = EventLog.fs
    try {
      withTaskFsConf("graft.sources.v2.ElsewhereGelFs") {
        EventLog.installFsFromConf(spark)
        assert(EventLog.fs eq ElsewhereGelFs)
      }
      EventLog.fs = HadoopGelFs
      EventLog.installFsFromConf(spark)
      assert(EventLog.fs eq HadoopGelFs)
    } finally EventLog.fs = prev
  }

  test("tasks resolve the conf-named fs: a correctly-submitted app maintains the store end-to-end") {
    val dir = Files.createTempDirectory("gelexec").toString
    writeStore(dir)
    // the conf names the REAL local implementation — resolution via
    // Class.forName must land on the same filesystem the driver used
    withTaskFsConf("graft.sources.v2.LocalGelFs") {
      val ms = EventLogMerge.upsert(spark, dir,
        Seq((1L, 1500L, 7L, "a", 99L))
          .toDF("event_id", "ts_us", "user_id", "event_type", "cents"))
      assert(ms.matched == 1, ms.toString)
      val cs = EventLogCompact.compact(spark, dir)
      assert(cs.filesAfter <= cs.filesBefore)
      val name = s"gexok_${Integer.toHexString(dir.hashCode)}"
      GraftCatalog.register(spark, name, dir)
      spark.sql(s"DELETE FROM graft.$name WHERE event_id = 1")
      assert(spark.read.format("graft-eventlog").load(dir).count() == 5)
    }
  }

  test("a misconfigured executor fs makes merge/compact/DV-delete/bloom REFUSE loudly, not write locally") {
    val dir = Files.createTempDirectory("gelexec").toString
    writeStore(dir)
    val before = storeFingerprint(dir)
    val jailBefore =
      Option(ElsewhereGelFs.jail.listFiles()).map(_.length).getOrElse(0)
    withTaskFsConf("graft.sources.v2.ElsewhereGelFs") {
      // 1. shuffle-free broadcast merge
      val e1 = intercept[Throwable] {
        EventLogMerge.upsert(spark, dir,
          Seq((1L, 1500L, 7L, "a", 99L))
            .toDF("event_id", "ts_us", "user_id", "event_type", "cents"))
      }
      assert(messagesOf(e1).contains("cannot see the store"), messagesOf(e1))
      // 2. compaction
      val e2 = intercept[Throwable] { EventLogCompact.compact(spark, dir) }
      assert(messagesOf(e2).contains("cannot see the store"), messagesOf(e2))
      // 3. row-level SQL DELETE (deletion-vector lane)
      val name = s"gexbad_${Integer.toHexString(dir.hashCode)}"
      GraftCatalog.register(spark, name, dir)
      val e3 = intercept[Throwable] {
        spark.sql(s"DELETE FROM graft.$name WHERE event_id = 1")
      }
      assert(messagesOf(e3).contains("cannot see the store"), messagesOf(e3))
      // 4. bloom sidecar build
      val e4 = intercept[Throwable] { EventLogBloom.build(spark, dir) }
      assert(messagesOf(e4).contains("cannot see the store"), messagesOf(e4))
      // 5. shuffle merge
      val e5 = intercept[Throwable] {
        EventLogMerge.upsertShuffle(spark, dir,
          Seq((1L, 1500L, 7L, "a", 99L))
            .toDF("event_id", "ts_us", "user_id", "event_type", "cents"))
      }
      assert(messagesOf(e5).contains("cannot see the store"), messagesOf(e5))
    }
    // the refusals fired BEFORE any task write: the real store is
    // byte-identical (modulo the driver-side probe files, which are
    // token-named .inprogress temps removed on exit)...
    val after = storeFingerprint(dir)
      .filterNot(_._1.startsWith(".inprogress."))
    assert(after == before.filterNot(_._1.startsWith(".inprogress.")),
      s"store changed despite refusals:\n$before\nvs\n$after")
    // ...and the misconfigured fs received NO store artifacts — the
    // silent-corruption shape this verification exists to kill
    val jailAfter =
      Option(ElsewhereGelFs.jail.listFiles()).map(_.length).getOrElse(0)
    assert(jailAfter == jailBefore,
      "a task wrote into the misconfigured filesystem before refusing")
    // the store still reads and maintains fine afterwards
    assert(spark.read.format("graft-eventlog").load(dir).count() == 6)
    val st = EventLogCompact.compact(spark, dir)
    assert(st.filesAfter <= st.filesBefore)
  }
}
