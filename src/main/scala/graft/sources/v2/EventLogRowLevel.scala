package graft.sources.v2

import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL `UPDATE` / `MERGE INTO` / expression-level `DELETE` for
  * eventlog stores — Spark's GROUP-BASED (copy-on-write) row-level
  * rewrite, served natively:
  *
  *  1. Spark plans a candidate subquery over the table's `_file`
  *    metadata column and delivers the matched file set to the
  *    rewrite scan as a runtime `In(_file, …)` filter — the scan
  *    ([[EventLogScan]]) then plans EXACTLY the touched groups, the
  *    same touched-files-only discipline as the Scala merge.
  *  2. The replacement rows (updated matches + preserved non-matches
  *    of touched files + MERGE inserts) write through the ordinary
  *    task-commit writer — per-(day, bucket) files, zone maps and
  *    manifest entries for free, bucket routing read from the store's
  *    own marker, added-column lanes included (row-level SQL works on
  *    EXTENDED stores).
  *  3. The job commit swaps old for new in ONE manifest segment: the
  *    captured scan's post-filter file list is removed (with its
  *    sidecars), the new entries are added — one version, exactly the
  *    Scala merge's commit shape.
  *
  * Division of labor with the cheaper lanes, decided by Spark's own
  * optimizer: a DELETE whose predicate metadata can prove stays on
  * `canDeleteWhere`'s paths (whole-file unlink, or a deletion-vector
  * mask — zero rewrites); only conditions the source cannot evaluate
  * (arbitrary expressions, subqueries) — and every UPDATE / MERGE
  * INTO — pay the copy-on-write rewrite.
  *
  * Change data: the group-based protocol never hands the connector
  * pre/post pairs, so the commit SYNTHESIZES them — a keyed diff of
  * the replaced groups against their replacements, journaled as CDC
  * parts up to [[EventLogCowBatchWrite.CdcDiffCap]] rows of decode
  * (beyond it the commit journals nothing and its feed window refuses
  * loudly, the honest bound). Concurrent BATCH readers stay
  * snapshot-consistent: the rewrite's task-committed outputs carry the
  * `w` maintenance tag, invisible to planning until the swap commit
  * lands ([[EventLog.zoneMaps]]'s manifest arbitration). */
class EventLogRowLevelOperation(path: String,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  // the rewrite scan, captured at build: its post-runtime-filter plan
  // IS the replaced-file set
  @volatile private var scan: EventLogScan = _

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"graft-eventlog copy-on-write $cmd($path)"

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(EventLog.FileMetaCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EventLogScanBuilder(path, captureScan = s => scan = s,
      cowGroups = true)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // replacement rows carry the table's data columns (base, or
    // base ++ added on an extended store) — validate like the append
    // writer, minus its bucketing options (the store's own marker
    // routes)
    val schema = info.schema()
    val added = EventLogSchema.read(path)
    val extNames = EventLog.Schema.fieldNames ++ added.map(_.name)
    val baseOk = schema.fieldNames.sameElements(EventLog.Schema.fieldNames)
    val extOk = added.nonEmpty && schema.fieldNames.sameElements(extNames)
    require(baseOk || extOk,
      s"graft-eventlog row-level write: expected columns " +
        s"${extNames.mkString(", ")}, got ${schema.fieldNames.mkString(", ")}")
    require(schema.fields.drop(5).zip(added)
        .forall { case (f, c) => f.dataType == c.dtype },
      "graft-eventlog row-level write: added columns carry their " +
        s"registered types (${added.map(c =>
          s"${c.name} ${c.dtype.simpleString}").mkString(", ")})")
    val extras = if (extOk) added else Nil
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new EventLogCowBatchWrite(path, extras, () => {
            require(scan != null,
              "graft-eventlog: copy-on-write commit before its rewrite " +
                "scan was planned — nothing defines the replaced set")
            (scan.plannedDataFiles, scan.plannedManifest)
          })
      }
    }
  }
}

object EventLogCowBatchWrite {
  /** CDC-synthesis budget: the group diff decodes the replaced and the
    * replacement files on the driver at commit (the pre/post pairing
    * Spark's group-based protocol never hands the connector), so it is
    * bounded like the broadcast merge's batch. A mutation touching
    * more rows commits WITHOUT change data — its feed window then
    * refuses loudly (absence of evidence never reads as "no changes"),
    * and the CDC-journaling Scala merge is the unbounded path.
    * `private[v2] var` so specs can force the refusal cheaply. */
  private[v2] var CdcDiffCap: Long = 4L * 1024 * 1024
}

/** The copy-on-write job commit: new files land via the ordinary
  * task-commit protocol (temps renamed at task commit), the commit
  * SYNTHESIZES the change data (old group rows vs new group rows,
  * paired by `event_id` — pre/post images for changed keys, deletes
  * for vanished ones, inserts for new ones; identical rows emit
  * nothing), then ONE manifest segment records adds + removes, the CDC
  * parts rename under the new seq, and the replaced files unlink —
  * the same visibility ordering as every other rewrite. SQL UPDATE /
  * MERGE INTO / expression DELETE therefore stream through the typed
  * feed like the Scala merge does, up to [[EventLogCowBatchWrite
  * .CdcDiffCap]]. */
class EventLogCowBatchWrite(path: String,
    extras: Seq[EventLogSchema.AddedCol],
    replacedFiles: () => (Seq[String], Map[String, EventLog.ManifestEntry]))
    extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new EventLogDataWriterFactory(path, EventLog.readBucketing(path),
      extras, nameTag = "w")

  /** Pair old and new group rows by key into CDF rows; None when the
    * diff exceeds the budget or a duplicated key makes pairing
    * ambiguous (the commit then journals nothing — refusing feed). */
  private def synthesizeCdc(removed: Seq[String],
      entries: Seq[EventLog.ManifestEntry],
      extCols: Seq[String]): Option[Seq[EventLogCdc.Row]] = {
    val man = EventLog.readManifest(path)
    // size gate from METADATA before any decode
    val oldCount = removed.flatMap(man.get).map(_.count.toLong).sum
    val newCount = entries.map(_.count.toLong).sum
    if (oldCount + newCount > EventLogCowBatchWrite.CdcDiffCap) return None
    type Pair = ((Long, Long, Long, String, Long), Array[AnyRef])
    val oldRows: Seq[Pair] = removed.flatMap(n =>
      EventLog.readLiveRecords(path, n, extCols))
    val newRows: Seq[Pair] = entries.flatMap(e =>
      EventLog.readRecords(new java.io.File(path, e.file), extCols))
    val oldBy = oldRows.map(r => r._1._1 -> r).toMap
    val newBy = newRows.map(r => r._1._1 -> r).toMap
    if (oldBy.size != oldRows.size || newBy.size != newRows.size)
      return None // duplicated keys: pre/post pairing is ambiguous
    def row(t: Byte, r: Pair) = EventLogCdc.Row(t, r._1._1, r._1._2,
      r._1._3, r._1._4, r._1._5, r._2)
    def same(a: Pair, b: Pair) =
      a._1 == b._1 && a._2.length == b._2.length &&
        a._2.indices.forall(i =>
          java.util.Objects.equals(a._2(i), b._2(i)))
    val out = Seq.newBuilder[EventLogCdc.Row]
    oldRows.foreach { o =>
      newBy.get(o._1._1) match {
        case None => out += row(EventLogCdc.Delete, o)
        case Some(n) if !same(o, n) =>
          out += row(EventLogCdc.UpdatePre, o)
          out += row(EventLogCdc.UpdatePost, n)
        case _ => () // untouched row of a touched group: not a change
      }
    }
    newRows.foreach { n =>
      if (!oldBy.contains(n._1._1)) out += row(EventLogCdc.Insert, n)
    }
    Some(out.result())
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val entries = messages.toSeq.flatMap {
      case EventLogCommit(es) => es
      case _ => Nil
    }
    val (removed, plannedMan) = replacedFiles()
    if (entries.isEmpty && removed.isEmpty) return
    val addedNow = EventLogSchema.read(path)
    val extCols = addedNow.map(_.name)
    // diff BEFORE the manifest append (it needs the replaced files'
    // pre-state bytes); part temps rename only after the append names
    // their seq — torn in between = commit without parts = loud feed
    val cdcTmp = synthesizeCdc(removed, entries, extCols)
      .map(rows => EventLogCdc.writeTemp(path, rows, addedNow.map(_.wire)))
    // CHECKED: a concurrent rewrite that already replaced one of the
    // groups this COW rewrite planned over means a stale snapshot —
    // roll the task-committed outputs back and rethrow, leaving the
    // competitor's state intact
    val seq =
      try EventLog.appendManifestChecked(path, entries,
        removes = removed, mustBeLive = removed,
        // the scan's plan-time snapshot: a DV delete landing between
        // the rewrite's scan and its commit must refuse, or the
        // rewrite would resurrect the deleted rows
        expectedEntries = removed
          .flatMap(n => plannedMan.get(n).map(n -> _)).toMap)
      catch { case e: ConcurrentRewriteException =>
        entries.foreach(en => EventLog.fs.delete(new java.io.File(path, en.file)))
        cdcTmp.foreach(t => EventLog.fs.delete(new java.io.File(path, t)))
        throw e
      }
    cdcTmp.foreach { t =>
      val tmp = new java.io.File(path, t)
      val fin = new java.io.File(path, EventLogCdc.partName(seq))
      if (!EventLog.fs.rename(tmp, fin)) throw new java.io.IOException(
        s"graft-eventlog: could not commit CDC part ${fin.getName}")
    }
    // retention: replaced groups stay on disk (removed-but-listed) so
    // protected versions keep their row reads; expiry reclaims them
    if (EventLog.readRetention(path).isEmpty)
      removed.foreach { n =>
        val f = new java.io.File(path, n)
        if (EventLog.fs.isFile(f) && !EventLog.fs.delete(f)) throw new java.io.IOException(
          s"graft-eventlog: copy-on-write commit could not unlink $n")
        EventLogCompact.deleteWithSidecars(path, n)
      }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case EventLogCommit(entries) =>
        entries.foreach(e => EventLog.fs.delete(new java.io.File(path, e.file)))
      case _ => ()
    }
}
