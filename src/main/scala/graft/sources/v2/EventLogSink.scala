package graft.sources.v2

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}

/** The STREAMING sink side of `graft-eventlog` — `df.writeStream
  * .format("graft-eventlog").start(dir)` with EXACTLY-ONCE epoch
  * commits, completing the source/sink symmetry (batch read, batch
  * write, micro-batch tail, and now streaming write).
  *
  * Why the batch writer's task-commit protocol is NOT enough here: a
  * batch job that dies after some tasks committed gets its files
  * deleted by job abort — but a STREAMING query that dies mid-epoch is
  * simply restarted, and Spark re-runs the same epoch (same epochId,
  * same data) with no abort in between. If tasks had renamed files into
  * place at task commit, the replay would double every record the
  * crashed attempt had landed. So the streaming writer inverts the
  * visibility point:
  *
  *  - **Tasks never publish.** Each task writes `.inprogress.stream.*`
  *    temp files (invisible to readers, which list `*.gel` only) and
  *    its commit message carries (temp, final, manifest entry) triples.
  *  - **The epoch commit publishes, under an intent journal** (the
  *    [[EventLogCompact]] discipline applied to ingest): read the
  *    per-query epoch MARKER; a replayed epoch (id ≤ marker) discards
  *    its temps and returns — idempotence. Otherwise journal ONE intent
  *    naming every rename, roll the renames, append the manifest
  *    entries (one O(batch) segment), write the marker, drop the
  *    intent. Every step is temp-and-rename; a crash at any point
  *    either never published (no intent: replay starts clean, orphan
  *    temps are invisible garbage) or is rolled FORWARD by the next
  *    commit's recovery (intent present: renames are idempotent,
  *    manifest re-appends overwrite identical entries by name) before
  *    the replay is recognized as a duplicate and discarded.
  *
  * The marker and intent are per queryId (`_stream.<qid>.epoch`,
  * `.stream.intent.<qid>`), so independent queries can feed one store;
  * commits are JVM-serialized like every other manifest write. Epoch
  * file names embed (day, epoch, partition), so an in-order-day feed
  * keeps the monotone-name contract the micro-batch SOURCE needs to
  * tail the same store. */
object EventLogSink {

  /** One not-yet-published file: temp name, final name, and the
    * manifest entry the task computed while encoding it. */
  case class Pending(temp: String, fin: String,
    entry: EventLog.ManifestEntry)

  case class EpochCommit(pending: Seq[Pending]) extends WriterCommitMessage

  // SI2: embedded entries grew the user-bounds zone lane (round 9);
  // an SI1 intent from a pre-upgrade crash fails the magic check
  // loudly — the recovery handoff across a format upgrade is a
  // human-involved event, same contract as the compactor's intents
  private val IntentMagic = "GRAFTSI2".getBytes("US-ASCII")

  private[v2] def markerFile(dir: String, queryId: String) =
    new java.io.File(dir, s"_stream.$queryId.epoch")
  private[v2] def intentFile(dir: String, queryId: String) =
    new java.io.File(dir, IntentPrefix + queryId)

  /** The last epoch this query committed to `dir`, -1 when none. */
  def lastCommitted(dir: String, queryId: String): Long = {
    val f = markerFile(dir, queryId)
    if (!EventLog.fs.isFile(f)) return -1L
    val txt = new String(EventLog.fs.readAll(f),
      "UTF-8").trim
    txt.split("\\s+") match {
      case Array("epoch", n) => n.toLong
      case _ => throw new IllegalStateException(
        s"graft-eventlog sink: unreadable ${f.getName} in $dir: '$txt'")
    }
  }

  private def writeMarker(dir: String, queryId: String, epoch: Long): Unit = {
    val tmp = new java.io.File(dir,
      s".inprogress.marker.${java.util.UUID.randomUUID()}")
    EventLog.fs.writeAll(tmp, s"epoch $epoch\n".getBytes("UTF-8"))
    val fin = markerFile(dir, queryId)
    EventLog.fs.delete(fin) // POSIX rename-over works, but be explicit for clarity
    if (!EventLog.fs.rename(tmp, fin))
      throw new java.io.IOException(
        s"graft-eventlog sink: could not commit ${fin.getName} in $dir")
  }

  private def writeIntent(dir: String, queryId: String, epoch: Long,
      pending: Seq[Pending]): Unit = {
    val tmp = new java.io.File(dir,
      s".inprogress.intent.${java.util.UUID.randomUUID()}")
    val o = new DataOutputStream(
      new BufferedOutputStream(EventLog.fs.openWrite(tmp), 1 << 12))
    try {
      o.write(IntentMagic)
      o.writeLong(epoch)
      o.writeInt(pending.length)
      pending.foreach { p =>
        EventLog.writeUtf(o, p.temp)
        EventLog.writeUtf(o, p.fin)
        EventLog.writeEntry(o, p.entry)
      }
    } finally o.close()
    if (!EventLog.fs.rename(tmp, intentFile(dir, queryId)))
      throw new java.io.IOException(
        s"graft-eventlog sink: could not journal the epoch-$epoch intent")
  }

  private[v2] val IntentPrefix = ".stream.intent."

  private[v2] def readIntent(f: java.io.File): (Long, Seq[Pending]) = {
    val in = new DataInputStream(
      new BufferedInputStream(EventLog.fs.openRead(f), 1 << 12))
    try {
      EventLog.requireMagic(in, IntentMagic,
        s"graft-eventlog sink: ${f.getName} is not a sink intent")
      val epoch = in.readLong()
      (epoch, (0 until in.readInt()).map { _ =>
        Pending(EventLog.readUtf(in), EventLog.readUtf(in),
          EventLog.readEntry(in))
      })
    } finally in.close()
  }

  /** Rename temps into place; idempotent — a temp already gone must
    * mean its final is live (a re-rolled crash window), anything else
    * is loud. */
  private def roll(dir: String, pending: Seq[Pending]): Unit =
    pending.foreach { p =>
      val tmp = new java.io.File(dir, p.temp)
      val fin = new java.io.File(dir, p.fin)
      if (EventLog.fs.isFile(tmp)) {
        if (!EventLog.fs.rename(tmp, fin)) throw new java.io.IOException(
          s"graft-eventlog sink: could not publish ${p.fin} in $dir")
      } else require(EventLog.fs.isFile(fin),
        s"graft-eventlog sink: neither ${p.temp} nor ${p.fin} exists in " +
          s"$dir — the intent journal references lost files")
    }

  /** Finish a crashed prior commit of this query, if its intent is
    * still on disk. Idempotent; called at the top of every commit. */
  private def recover(dir: String, queryId: String): Unit = {
    val f = intentFile(dir, queryId)
    if (!EventLog.fs.isFile(f)) return
    val (epoch, pending) = readIntent(f)
    if (epoch > lastCommitted(dir, queryId)) {
      // the crash hit between intent and marker: roll FORWARD — renames
      // are idempotent and manifest re-appends overwrite identical
      // entries by name, so this is safe even if the crash was after
      // the manifest append
      roll(dir, pending)
      EventLog.appendManifest(dir, pending.map(_.entry))
      writeMarker(dir, queryId, epoch)
    }
    if (!EventLog.fs.delete(f)) throw new java.io.IOException(
      s"graft-eventlog sink: could not clear ${f.getName} in $dir")
  }

  /** The exactly-once publish point — see the object doc for the
    * protocol and its crash windows. */
  def commitEpoch(dir: String, queryId: String, epoch: Long,
      pending: Seq[Pending]): Unit = synchronized {
    recover(dir, queryId)
    if (epoch <= lastCommitted(dir, queryId)) {
      // a replayed epoch: the previous attempt (possibly just rolled
      // forward above) already published this data — discard ours
      pending.foreach(p => EventLog.fs.delete(new java.io.File(dir, p.temp)))
      return
    }
    if (pending.isEmpty) { writeMarker(dir, queryId, epoch); return }
    writeIntent(dir, queryId, epoch, pending)
    roll(dir, pending)
    EventLog.appendManifest(dir, pending.map(_.entry))
    writeMarker(dir, queryId, epoch)
    val f = intentFile(dir, queryId)
    if (!EventLog.fs.delete(f)) throw new java.io.IOException(
      s"graft-eventlog sink: could not clear ${f.getName} in $dir")
  }
}

class EventLogStreamingWrite(path: String,
    queryId: String,
    extras: Seq[EventLogSchema.AddedCol] = Nil) extends StreamingWrite {
  EventLog.fs.mkdirs(new java.io.File(path))
  // scope: streaming appends to a PLAIN store — a bucketed layout needs
  // the batch writer's whole-job routing guarantees
  require(EventLog.readBucketing(path).isEmpty,
    s"graft-eventlog: $path is a bucketed store; the streaming sink " +
      "appends unbucketed files, which would break the co-partitioning " +
      "its readers report — stream into a plain store and re-bucket by " +
      "batch overwrite")

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new EventLogStreamWriterFactory(path, extras)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    EventLogSink.commitEpoch(path, queryId, epochId,
      messages.toSeq.flatMap {
        case EventLogSink.EpochCommit(ps) => ps
        case _ => Nil
      })

  /** Epoch abort: nothing was published (tasks only wrote temps), so
    * delete them and walk away — the store is untouched. */
  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case EventLogSink.EpochCommit(ps) =>
        ps.foreach(p => EventLog.fs.delete(new java.io.File(path, p.temp)))
      case _ => ()
    }
}

class EventLogStreamWriterFactory(path: String,
    extras: Seq[EventLogSchema.AddedCol] = Nil)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new EventLogStreamDataWriter(path, partitionId, epochId, extras)
}

/** Buffers per day through the same [[EventLogDayBuffer]] as
  * [[EventLogDataWriter]], but NEVER publishes: commit leaves the
  * encoded files as `.inprogress.stream.*` temps and hands (temp,
  * final, entry) to the epoch commit — the inversion that
  * makes epoch replay safe (see [[EventLogSink]]). On an extended
  * store, `extras` names the added-column lanes the stream frame
  * carries (positions 5..). */
class EventLogStreamDataWriter(path: String, partitionId: Int,
    epochId: Long, extras: Seq[EventLogSchema.AddedCol] = Nil)
    extends DataWriter[InternalRow] {

  private val buffer = new EventLogDayBuffer(extras)
  private val temps = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  override def write(r: InternalRow): Unit = buffer.add(r)

  override def commit(): WriterCommitMessage = {
    val pending = buffer.groups.toSeq.map { case key @ (day, _) =>
      val uuid = java.util.UUID.randomUUID().toString.take(8)
      // (day, epoch, partition) in the name: in-order-day feeds keep
      // the monotone-name contract the micro-batch source tails by
      val fin = f"day_$day%05d-e$epochId%08d-p$partitionId%05d-$uuid.gel"
      val tmp = new java.io.File(path,
        s".inprogress.stream.${java.util.UUID.randomUUID()}")
      temps += tmp
      EventLogSink.Pending(tmp.getName, fin, buffer.encode(key, tmp, fin))
    }
    EventLogSink.EpochCommit(pending)
  }

  override def abort(): Unit = temps.foreach(EventLog.fs.delete(_))
  override def close(): Unit = ()
}
