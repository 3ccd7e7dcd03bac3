package graft.sources.v2

import java.nio.file.Files

/** COMMIT-SCOPED DELETION-VECTOR SIDECARS (round 12). Sidecar identity
  * is (data file, live count), so two racing row-level deletes that
  * kill EQUAL numbers of DIFFERENT rows collide on the final sidecar
  * name. Pre-fix, each delete's tasks renamed the sidecar in place
  * BEFORE its manifest commit ran the conflict check — the loser's
  * commit was correctly refused, but its sidecar could land after the
  * winner's, so the winner's committed entry (count = live) would load
  * the LOSER's mask: committed deletes silently resurrect and
  * uncommitted ones apply. Post-fix, tasks only STAGE sidecars to temp
  * names ([[EventLogDv.writeStaged]]) and the rename happens under the
  * commit lock, after the conflict check admits the delete
  * ([[EventLogDv.finalizeStaged]] via `appendManifestChecked`'s
  * `underLock` hook) — a refused delete never touches a final name.
  *
  * The specs drive the race at the primitive level — the exact calls
  * [[EventLogTableWithSql.deleteWhere]]'s partial-file lane makes —
  * because two in-flight SQL DELETEs cannot be interleaved from a
  * test. */
class EventLogDvRaceSpec extends graft.SparkTestBase {
  import spark.implicits._

  /** One data file, four rows, event_ids 1..4. */
  private def writeStore(dir: String): Unit =
    Seq((1L, 1000L, 7L, "a", 5L), (2L, 2000L, 8L, "a", 6L),
        (3L, 3000L, 9L, "b", 7L), (4L, 4000L, 9L, "b", 8L))
      .toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .repartition(1)
      .write.format("graft-eventlog").mode("append").save(dir)

  /** The planning+staging half of a row-level delete killing physical
    * row `idx`: the staged sidecar, its temp name, and the post-delete
    * manifest entry — exactly what deleteWhere's task computes. */
  private def stageKill(dir: String, f: java.io.File, idx: Int)
      : (EventLogDv.Dv, String, EventLog.ManifestEntry) = {
    val pairs = EventLog.readRecords(f)
    val (dv, tmp) = EventLogDv.writeStaged(f, pairs.size, Seq(idx))
    val live = pairs.iterator.zipWithIndex
      .collect { case ((r, _), i) if i != idx => r }.toSeq
    (dv, tmp, EventLog.entryOfRecords(f.getName, live))
  }

  /** The commit half: in-place entry update + under-lock finalize —
    * deleteWhere's appendManifestChecked call shape. */
  private def commitKill(dir: String, name: String,
      planned: EventLog.ManifestEntry, dv: EventLogDv.Dv, tmp: String,
      entry: EventLog.ManifestEntry): Long =
    EventLog.appendManifestChecked(dir, Seq(entry), removes = Nil,
      mustBeLive = Seq(name), expectedEntries = Map(name -> planned),
      underLock = m => EventLogDv.finalizeStaged(dir, tmp, name, dv.live, m))

  test("two racing equal-count deletes: the loser is refused AND never touches the winner's sidecar") {
    val dir = Files.createTempDirectory("geldvrace").toString
    writeStore(dir)
    val f = EventLog.listFiles(dir).head
    val name = f.getName
    val planned = EventLog.readManifest(dir)(name) // the SHARED snapshot
    // both deletes stage from the same snapshot: A kills row 0,
    // B kills row 1 — both leave 3 live rows, SAME final sidecar name
    val (dvA, tmpA, entryA) = stageKill(dir, f, 0)
    val (dvB, tmpB, entryB) = stageKill(dir, f, 1)
    assert(dvA.live == dvB.live, "fixture: the collision needs equal live counts")
    commitKill(dir, name, planned, dvA, tmpA, entryA) // A wins
    val winnerMask = EventLog.fs.readAll(EventLogDv.sidecarOf(f, dvA.live))
    val e = intercept[ConcurrentRewriteException] {
      commitKill(dir, name, planned, dvB, tmpB, entryB)
    }
    assert(e.getMessage.contains("IN-PLACE"), e.getMessage)
    // the loser's rollback (deleteWhere's catch): drop the staged temp
    EventLog.fs.delete(new java.io.File(dir, tmpB))
    // the winner's mask is EXACTLY what its committed entry loads —
    // pre-fix the loser's task had already renamed over it
    val after = EventLog.fs.readAll(EventLogDv.sidecarOf(f, dvA.live))
    assert(java.util.Arrays.equals(after, winnerMask),
      "the refused delete's sidecar replaced the winner's mask")
    val mask = EventLogDv.load(f, dvA.live).get
    assert(mask.dead(0) && !mask.dead(1), "wrong rows masked")
    val ids = spark.read.format("graft-eventlog").load(dir)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(2L, 3L, 4L),
      s"store must show exactly the WINNER's delete: $ids")
    // nothing staged left behind
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith(".inprogress.dv.")),
      "staged sidecar temps survived")
  }

  test("a re-run of a crashed delete finalizes idempotently (identical mask keeps the sidecar)") {
    val dir = Files.createTempDirectory("geldvrace").toString
    writeStore(dir)
    val f = EventLog.listFiles(dir).head
    val name = f.getName
    val planned = EventLog.readManifest(dir)(name)
    val (dvA, tmpA, entryA) = stageKill(dir, f, 0)
    commitKill(dir, name, planned, dvA, tmpA, entryA)
    // re-run after a hypothetical crash between finalize and append:
    // the recomputed cumulative mask is byte-identical
    val pairs = EventLog.readRecords(f)
    val (dv2, tmp2) = EventLogDv.writeStaged(f, pairs.size, Seq(0))
    EventLogDv.finalizeStaged(dir, tmp2, name, dv2.live,
      EventLog.readManifest(dir)) // must not throw
    assert(EventLogDv.load(f, dvA.live).exists(_.dead(0)))
    assert(!new java.io.File(dir, tmp2).isFile, "idempotent re-run left its temp")
  }

  test("a committed competitor's same-count sidecar refuses the finalize loudly") {
    val dir = Files.createTempDirectory("geldvrace").toString
    writeStore(dir)
    val f = EventLog.listFiles(dir).head
    val name = f.getName
    val planned = EventLog.readManifest(dir)(name)
    val (dvA, tmpA, entryA) = stageKill(dir, f, 0)
    commitKill(dir, name, planned, dvA, tmpA, entryA)
    // belt-and-braces rung: even if a stale plan somehow reached the
    // finalize (the in-place conflict rung refuses it first today), a
    // DIFFERENT mask under a live count the current entry SERVES must
    // refuse, never swap a committed mask
    val (dvB, tmpB, _) = stageKill(dir, f, 1)
    val e = intercept[ConcurrentRewriteException] {
      EventLogDv.finalizeStaged(dir, tmpB, name, dvB.live,
        EventLog.readManifest(dir))
    }
    assert(e.getMessage.contains("COMMITTED deletion vector"), e.getMessage)
    val mask = EventLogDv.load(f, dvA.live).get
    assert(mask.dead(0) && !mask.dead(1), "committed mask was replaced")
  }

  test("an inert leftover sidecar (crashed uncommitted delete) is replaced, not refused") {
    val dir = Files.createTempDirectory("geldvrace").toString
    writeStore(dir)
    val f = EventLog.listFiles(dir).head
    val name = f.getName
    // a crashed delete left a FINAL-named sidecar but never committed:
    // the entry still counts 4, so nothing loads dv-3 — inert
    EventLogDv.write(f, 4, Seq(1))
    val (dvA, tmpA, entryA) = stageKill(dir, f, 0)
    val planned = EventLog.readManifest(dir)(name)
    commitKill(dir, name, planned, dvA, tmpA, entryA) // must not refuse
    val mask = EventLogDv.load(f, dvA.live).get
    assert(mask.dead(0) && !mask.dead(1),
      "the inert leftover's mask survived over the committed delete's")
    val ids = spark.read.format("graft-eventlog").load(dir)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(2L, 3L, 4L), ids.toString)
  }
}
