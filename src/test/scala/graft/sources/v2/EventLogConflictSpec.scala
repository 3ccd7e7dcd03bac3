package graft.sources.v2

import java.nio.file.Files

/** OPTIMISTIC WRITE-WRITE CONFLICT DETECTION (round 11): every rewrite
  * commit (compaction group, merge swap, copy-on-write SQL, deletes)
  * verifies UNDER THE STORE'S CROSS-PROCESS COMMIT LOCK that the
  * inputs it removes are still live — the Delta-style re-fold check.
  * Two rewrites racing on the SAME inputs resolve to exactly one
  * winner; the loser rolls its outputs back and refuses loudly,
  * naming the conflicting commit. Non-overlapping rewrites both land.
  * The two-process test drives the race with REAL OS processes through
  * a filesystem barrier, so the lock and the check are exercised
  * across JVMs, not just across threads. */
class EventLogConflictSpec extends graft.SparkTestBase {
  import spark.implicits._

  private def writeStore(dir: String): Unit =
    Seq((1L, 1000L, 7L, "a", 5L), (2L, 2000L, 8L, "a", 6L),
        (3L, 86400000000L + 1000L, 9L, "b", 7L))
      .toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .withColumn("__day", org.apache.spark.sql.functions.expr(
        "ts_us div 86400000000"))
      .repartition(org.apache.spark.sql.functions.col("__day"))
      .drop("__day")
      .write.format("graft-eventlog").mode("append").save(dir)

  private def dataFiles(dir: String): Seq[String] =
    EventLog.listFiles(dir).map(_.getName)

  /** A rewrite of `input` (same rows, cents bumped by `bump`) staged as
    * an intent ready for commitSwap — the planning half of a merge,
    * done directly so the spec controls exactly when each commit
    * fires. */
  private def stageRewrite(dir: String, input: String,
      bump: Long): EventLogCompact.Intent = {
    val manAtPlan = EventLog.readManifest(dir)
    val rows = EventLog.readRecords(new java.io.File(dir, input)).map(_._1)
      .map(r => r.copy(_5 = r._5 + bump))
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new java.io.File(dir, s".inprogress.merge.$uuid")
    val fin = input.stripSuffix(".gel") + s"-m$uuid.gel"
    val entry = EventLog.writeGelFile(tmp, fin, rows)
    EventLogCompact.Intent(Seq(tmp.getName), Seq(entry), Seq(input),
      Seq(EventLogCdc.writeTemp(dir, Nil)),
      inputEntries = Seq(input).flatMap(manAtPlan.get))
  }

  test("two rewrites of the same input: one wins, the loser names the conflict and rolls back") {
    val dir = Files.createTempDirectory("gelcf").toString
    writeStore(dir)
    val input = dataFiles(dir).head
    // both plans taken from the SAME snapshot — the stale-plan shape
    val first = stageRewrite(dir, input, 1000L)
    val second = stageRewrite(dir, input, 2000L)
    EventLogCompact.commitSwap(dir, first)
    val winnerVersion = EventLog.currentVersion(dir)
    val e = intercept[ConcurrentRewriteException] {
      EventLogCompact.commitSwap(dir, second)
    }
    assert(e.getMessage.contains(s"commit $winnerVersion"),
      s"refusal must name the conflicting commit: ${e.getMessage}")
    assert(e.getMessage.contains(input))
    // the loser left NOTHING behind: no output, no temp, no intent
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!names.contains(second.entries.head.file),
      "loser's output survived the rollback")
    assert(!names.exists(_.startsWith(EventLogCompact.IntentPrefix)),
      "loser's intent survived the rollback")
    // store state is exactly the winner's: cents bumped by 1000 once
    val got = spark.read.format("graft-eventlog").load(dir)
      .where(org.apache.spark.sql.functions.col("ts_us") < 86400000000L)
      .select("event_id", "cents").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1005L, 2L -> 1006L), got.toString)
  }

  test("non-overlapping rewrites planned from one snapshot both land") {
    val dir = Files.createTempDirectory("gelcf").toString
    writeStore(dir)
    val Seq(fa, fb) = dataFiles(dir).take(2)
    val ia = stageRewrite(dir, fa, 1000L)
    val ib = stageRewrite(dir, fb, 2000L)
    EventLogCompact.commitSwap(dir, ia)
    EventLogCompact.commitSwap(dir, ib) // disjoint inputs: no conflict
    val sum = spark.read.format("graft-eventlog").load(dir)
      .agg(org.apache.spark.sql.functions.sum("cents")).head.getLong(0)
    assert(sum == 5L + 6L + 7L + 2 * 1000L + 2000L, sum.toString)
  }

  test("a crashed rewrite whose inputs a competitor took rolls BACK on recovery") {
    val dir = Files.createTempDirectory("gelcf").toString
    writeStore(dir)
    val input = dataFiles(dir).head
    // crashed rewrite: intent journaled, output renamed in, manifest
    // never appended (invisible to planning — maintenance-named)
    val crashed = stageRewrite(dir, input, 2000L)
    EventLogCompact.writeIntent(dir, crashed)
    assert(new java.io.File(dir, crashed.temps.head)
      .renameTo(new java.io.File(dir, crashed.entries.head.file)))
    // competitor wins the same input meanwhile
    val winner = stageRewrite(dir, input, 1000L)
    EventLogCompact.commitSwap(dir, winner)
    // recovery would have rolled FORWARD pre-fix (all outputs visible):
    // the conflict check turns it into a rollback instead
    EventLogCompact.recover(dir)
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!names.contains(crashed.entries.head.file),
      "recovery resurrected a rewrite whose inputs a competitor took")
    assert(!names.exists(_.startsWith(EventLogCompact.IntentPrefix)))
    val got = spark.read.format("graft-eventlog").load(dir)
      .where(org.apache.spark.sql.functions.col("ts_us") < 86400000000L)
      .select("event_id", "cents").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1005L, 2L -> 1006L), got.toString)
  }

  test("a DV delete landing mid-rewrite conflicts the rewrite — in-place updates detected") {
    val dir = Files.createTempDirectory("gelcf").toString
    writeStore(dir)
    val input = dataFiles(dir).head
    // the rewrite plans from the pre-delete snapshot…
    val staged = stageRewrite(dir, input, 1000L)
    // …then a row-level DELETE lands as a deletion vector: the entry
    // updates IN PLACE (same name, reduced count) — name-level
    // liveness cannot see it
    val name = s"cfdv_${Integer.toHexString(dir.hashCode)}"
    GraftCatalog.register(spark, name, dir)
    spark.sql(s"DELETE FROM graft.$name WHERE event_id = 1")
    assert(EventLogDv.anyIn(dir), "fixture: the delete must take the DV lane")
    // pre-fix the stale rewrite would commit and rebuild the file from
    // its PRE-delete rows — the deleted row would silently resurrect
    val e = intercept[ConcurrentRewriteException] {
      EventLogCompact.commitSwap(dir, staged)
    }
    assert(e.getMessage.contains("IN-PLACE"), e.getMessage)
    assert(e.getMessage.contains(input))
    // the delete's effect survives; the loser left nothing behind
    val ids = spark.read.format("graft-eventlog").load(dir)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(2L, 3L), s"deleted row resurrected: $ids")
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!names.contains(staged.entries.head.file))
    assert(!names.exists(_.startsWith(EventLogCompact.IntentPrefix)))
  }

  test("a crashed rewrite recovered AFTER a DV delete rolls back, not forward") {
    val dir = Files.createTempDirectory("gelcf").toString
    writeStore(dir)
    val input = dataFiles(dir).head
    // crash after outputs renamed in, before the manifest append —
    // with the CI5 intent journaling the plan-time input entries
    val crashed = stageRewrite(dir, input, 2000L)
    EventLogCompact.writeIntent(dir, crashed)
    assert(new java.io.File(dir, crashed.temps.head)
      .renameTo(new java.io.File(dir, crashed.entries.head.file)))
    // a DV delete lands while the rewrite is dead
    val name = s"cfdvr_${Integer.toHexString(dir.hashCode)}"
    GraftCatalog.register(spark, name, dir)
    spark.sql(s"DELETE FROM graft.$name WHERE event_id = 1")
    // recovery must NOT roll forward (it would resurrect the row)
    EventLogCompact.recover(dir)
    val ids = spark.read.format("graft-eventlog").load(dir)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(2L, 3L), s"recovery resurrected a deleted row: $ids")
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!names.contains(crashed.entries.head.file))
    assert(!names.exists(_.startsWith(EventLogCompact.IntentPrefix)))
  }

  test("a LIVE competitor's fresh intent survives another op's startup recovery") {
    val dir = Files.createTempDirectory("gelcf").toString
    writeStore(dir)
    val input = dataFiles(dir).head
    // a live op mid-swap: intent journaled, output renamed in — its
    // process is alive, just not committed yet
    val live = stageRewrite(dir, input, 1000L)
    EventLogCompact.writeIntent(dir, live)
    assert(new java.io.File(dir, live.temps.head)
      .renameTo(new java.io.File(dir, live.entries.head.file)))
    // another maintenance op starts: its entry-point recovery must
    // NOT roll the fresh intent forward or back (pre-fix it treated
    // every intent as crashed and destroyed in-flight work)
    EventLogMerge.upsert(spark, dir,
      Seq((999L, 86400000000L + 7L, 1L, "n", 1L))
        .toDF("event_id", "ts_us", "user_id", "event_type", "cents"))
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names.exists(_.startsWith(EventLogCompact.IntentPrefix)),
      "startup recovery destroyed a live competitor's intent")
    assert(names.contains(live.entries.head.file),
      "startup recovery deleted a live competitor's staged output")
    // once the intent AGES past the liveness window it recovers
    // normally (the crashed-op path)
    val aged = System.currentTimeMillis() - EventLog.CommitLockStaleMs - 1000
    new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith(EventLogCompact.IntentPrefix))
      .foreach(_.setLastModified(aged))
    EventLogCompact.recover(dir, EventLog.CommitLockStaleMs)
    val after = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!after.exists(_.startsWith(EventLogCompact.IntentPrefix)))
    // rolled FORWARD (all outputs were visible): the rewrite landed
    val got = spark.read.format("graft-eventlog").load(dir)
      .where(org.apache.spark.sql.functions.col("event_id") === 1L)
      .select("cents").as[Long].head()
    assert(got == 1005L, s"aged intent did not roll forward: $got")
  }

  private def spawnChild(dir: String, input: String, label: String,
      barrier: String): Process = {
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"),
      "java").getAbsolutePath
    new ProcessBuilder(javaBin, "-cp",
        System.getProperty("java.class.path"),
        "graft.sources.v2.ConflictRaceChild", dir, input, label, barrier)
      .redirectErrorStream(true)
      .start()
  }

  test("TWO OS PROCESSES racing overlapping rewrites: exactly one wins") {
    val dir = Files.createTempDirectory("gelcf").toString
    writeStore(dir)
    val input = dataFiles(dir).head
    val barrier = new java.io.File(dir, "..go").getAbsolutePath
    val child = spawnChild(dir, input, "child", barrier)
    // parent stages ITS rewrite of the SAME input from the same snapshot
    val mine = stageRewrite(dir, input, 1000L)
    // wait for the child to be staged, then drop the barrier: both
    // commits fire as close to simultaneously as two processes can
    val deadline = System.currentTimeMillis() + 30000
    while (!new java.io.File(dir, "..child_ready").isFile &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
    assert(new java.io.File(dir, "..child_ready").isFile, "child never staged")
    java.nio.file.Files.write(java.nio.file.Paths.get(barrier),
      Array.empty[Byte])
    val parentWon =
      try { EventLogCompact.commitSwap(dir, mine); true }
      catch { case e: ConcurrentRewriteException =>
        assert(e.getMessage.contains(input)); false
      }
    val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor() == 0, s"child crashed:\n$out")
    val childWon = out.contains("CHILD_WIN")
    val childLost = out.contains("CHILD_LOSE")
    assert(childWon != parentWon && (childWon || childLost),
      s"exactly one racer must win: parentWon=$parentWon child:\n$out")
    if (childLost) assert(out.contains("conflicts with a concurrent"),
      s"loser's refusal must explain the conflict:\n$out")
    // the store holds exactly ONE rewrite's effect — never both, never
    // a duplicate row
    val rows = spark.read.format("graft-eventlog").load(dir)
      .where(org.apache.spark.sql.functions.col("ts_us") < 86400000000L)
      .select("event_id", "cents").as[(Long, Long)].collect().toSeq.sorted
    val bump = if (parentWon) 1000L else 7000L
    assert(rows == Seq((1L, 5L + bump), (2L, 6L + bump)), rows.toString)
    // and nothing of the loser survives
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!names.exists(_.startsWith(EventLogCompact.IntentPrefix)))
    assert(names.count(_.endsWith(".gel")) == 2, names.toString)
  }

  test("TWO OS PROCESSES racing NON-overlapping rewrites: both land") {
    val dir = Files.createTempDirectory("gelcf").toString
    writeStore(dir)
    val Seq(fa, fb) = dataFiles(dir).take(2)
    val barrier = new java.io.File(dir, "..go").getAbsolutePath
    val child = spawnChild(dir, fb, "child", barrier)
    val mine = stageRewrite(dir, fa, 1000L)
    val deadline = System.currentTimeMillis() + 30000
    while (!new java.io.File(dir, "..child_ready").isFile &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
    java.nio.file.Files.write(java.nio.file.Paths.get(barrier),
      Array.empty[Byte])
    EventLogCompact.commitSwap(dir, mine) // must not refuse
    val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor() == 0, s"child crashed:\n$out")
    assert(out.contains("CHILD_WIN"), s"disjoint rewrite refused:\n$out")
    val sum = spark.read.format("graft-eventlog").load(dir)
      .agg(org.apache.spark.sql.functions.sum("cents")).head.getLong(0)
    assert(sum == 5L + 6L + 7L + 2 * 1000L + 7000L, sum.toString)
  }
}

/** Child-process main for [[EventLogConflictSpec]]: stage a rewrite of
  * `input` (cents + 7000), signal readiness, await the barrier file,
  * then commit — print CHILD_WIN, or CHILD_LOSE plus the refusal. */
object ConflictRaceChild {
  def main(args: Array[String]): Unit = {
    val Array(dir, input, _, barrier) = args
    val manAtPlan = EventLog.readManifest(dir)
    val rows = EventLog.readRecords(new java.io.File(dir, input)).map(_._1)
      .map(r => r.copy(_5 = r._5 + 7000L))
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new java.io.File(dir, s".inprogress.merge.$uuid")
    val fin = input.stripSuffix(".gel") + s"-m$uuid.gel"
    val entry = EventLog.writeGelFile(tmp, fin, rows)
    val intent = EventLogCompact.Intent(Seq(tmp.getName), Seq(entry),
      Seq(input), Seq(EventLogCdc.writeTemp(dir, Nil)),
      inputEntries = Seq(input).flatMap(manAtPlan.get))
    java.nio.file.Files.write(
      new java.io.File(dir, "..child_ready").toPath, Array.empty[Byte])
    val deadline = System.currentTimeMillis() + 30000
    while (!new java.io.File(barrier).isFile &&
        System.currentTimeMillis() < deadline) Thread.sleep(2)
    try {
      EventLogCompact.commitSwap(dir, intent)
      println("CHILD_WIN")
    } catch {
      case e: ConcurrentRewriteException =>
        println("CHILD_LOSE: " + e.getMessage)
    }
  }
}
