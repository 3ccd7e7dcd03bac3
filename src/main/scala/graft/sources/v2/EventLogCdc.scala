package graft.sources.v2

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}

/** CHANGE-DATA FILES — CDC continuity across rewrites (the Delta CDF
  * shape): a commit that rewrites history (MERGE, row-level DELETE,
  * compaction) journals its row-level changes as one or more
  * `_cdc.<seq>.<uuid>.gelc` parts, written through the same intent
  * journal as the swap itself, so the changes feed can SERVE rewrite
  * commits instead of refusing:
  *
  *  - **merge** parts carry `update_preimage` / `update_postimage`
  *    pairs for matched rows and `insert` rows for unmatched ones;
  *  - **row-level delete** parts carry `delete` rows;
  *  - **compaction** writes one EMPTY part — a pure re-layout is the
  *    explicit statement "this commit changed nothing", which the
  *    plain feed uses to stream it as ZERO rows instead of refusing,
  *    the continuity rung every long-lived CDC consumer needs.
  *
  * A rewrite commit WITHOUT parts (a zone-proven whole-file delete, or
  * a crash between the manifest append and the part renames) still
  * refuses loudly — absence of evidence never reads as "no changes".
  * Plain (untyped) tails refuse commits whose parts carry rows (appends
  * cannot express a delete or an update); the TYPED feed (`cdc.typed`
  * read option, schema + `_change_type` + `_commit_version`) serves
  * everything.
  *
  * Wire format (big-endian): magic "GRAFTCD3" | int32 nExtras |
  * nExtras × (utf name, int8 typeCode) | int32 n | n × (int8
  * changeType | int64 event_id | int64 ts_us | int64 user_id | utf
  * event_type | int64 cents | nExtras × lane) where a lane is (int8
  * presence, int64 value-or-bits) for BIGINT/DOUBLE and (int8
  * presence, int64 byteLen, bytes) for STRING — the extras are the
  * store's ADDED columns at journal time, so change rows carry their
  * full width on extended stores. Parts are batch-sized
  * (bounded by the commit's own change volume) and decode whole. */
object EventLogCdc {

  private val Magic = "GRAFTCD3".getBytes("US-ASCII")
  private val PartName = """_cdc\.(\d{8})\.[0-9a-f]+\.gelc""".r

  val Insert: Byte = 0
  val UpdatePre: Byte = 1
  val UpdatePost: Byte = 2
  val Delete: Byte = 3

  def typeName(b: Byte): String = b match {
    case Insert => "insert"
    case UpdatePre => "update_preimage"
    case UpdatePost => "update_postimage"
    case Delete => "delete"
    case other => throw new IllegalStateException(
      s"graft-eventlog cdc: unknown change type $other")
  }

  def isPartName(name: String): Boolean = PartName.matches(name)

  def partSeq(name: String): Long = name match {
    case PartName(s) => s.toLong
    case _ => throw new IllegalArgumentException(
      s"graft-eventlog cdc: $name is not a CDC part")
  }

  def partName(seq: Long): String =
    f"_cdc.$seq%08d." +
      java.util.UUID.randomUUID().toString.replace("-", "").take(8) +
      ".gelc"

  /** One change row: type, the five base fields, and the ADDED-column
    * lanes (aligned to the part's extras header; empty on base
    * stores). */
  final case class Row(change: Byte, id: Long, ts: Long, user: Long,
    tpe: String, cents: Long,
    lanes: Array[AnyRef] = Array.empty)

  /** Write a part TEMP (`.inprogress.cdc.<uuid>`) holding `rows` —
    * rename-committed later by the swap sequence, which alone knows
    * the commit's seq. Empty `rows` is legal: the zero-change
    * marker. `extras` names the lanes every row carries. */
  def writeTemp(dir: String, rows: Seq[Row],
      extras: Seq[EventLog.ExtraCol] = Nil): String = {
    val tmp = new java.io.File(dir,
      s".inprogress.cdc.${java.util.UUID.randomUUID().toString.take(8)}")
    val o = new DataOutputStream(
      new BufferedOutputStream(EventLog.fs.openWrite(tmp), 1 << 16))
    try {
      o.write(Magic)
      o.writeInt(extras.length)
      extras.foreach { c =>
        EventLog.writeUtf(o, c.name)
        o.writeByte(c.code)
      }
      o.writeInt(rows.length)
      rows.foreach { r =>
        require(r.lanes.length == extras.length,
          s"graft-eventlog cdc: row carries ${r.lanes.length} lanes, " +
            s"part declares ${extras.length}")
        o.writeByte(r.change)
        o.writeLong(r.id); o.writeLong(r.ts); o.writeLong(r.user)
        EventLog.writeUtf(o, r.tpe)
        o.writeLong(r.cents)
        r.lanes.zip(extras).foreach { case (v, c) =>
          if (v == null) { o.writeByte(0); o.writeLong(0L) }
          else {
            o.writeByte(1)
            (c.code, v) match {
              case (EventLog.ExtraBigint, l: java.lang.Long) =>
                o.writeLong(l.longValue)
              case (EventLog.ExtraDouble, d: java.lang.Double) =>
                o.writeLong(java.lang.Double.doubleToLongBits(d.doubleValue))
              case (EventLog.ExtraString, str: String) =>
                // parts are batch-bounded and decode whole: strings
                // length-prefix INLINE (the int64 slot carries the
                // byte length for the prefix-skipping row counter)
                val b = str.getBytes("UTF-8")
                o.writeLong(b.length.toLong)
                o.write(b)
              case (code, other) => throw new IllegalArgumentException(
                s"graft-eventlog cdc: lane ${c.name} has code $code " +
                  s"but value ${other.getClass.getName}")
            }
          }
        }
      }
    } finally o.close()
    tmp.getName
  }

  private def requirePartMagic(in: DataInputStream, f: java.io.File): Unit =
    EventLog.requireMagic(in, Magic,
      s"graft-eventlog cdc: ${f.getName} is not a change-data part")

  /** (laneNames, rows) of one part. */
  def readPart(f: java.io.File): (Seq[String], Seq[Row]) = {
    val in = new DataInputStream(
      new BufferedInputStream(EventLog.fs.openRead(f), 1 << 16))
    try {
      requirePartMagic(in, f)
      val extras: Seq[(String, Byte)] =
        (0 until in.readInt()).map { _ =>
          val name = EventLog.readUtf(in)
          (name, in.readByte())
        }.toSeq
      val rows = (0 until in.readInt()).map { _ =>
        val change = in.readByte()
        val id = in.readLong(); val ts = in.readLong()
        val user = in.readLong()
        val tpe = EventLog.readUtf(in)
        val cents = in.readLong()
        val lanes = new Array[AnyRef](extras.length)
        var j = 0
        while (j < extras.length) {
          val present = in.readByte() == 1
          lanes(j) =
            if (extras(j)._2 == EventLog.ExtraString) {
              val len = in.readLong()
              if (!present) { require(len == 0L); null }
              else {
                val b = new Array[Byte](len.toInt)
                in.readFully(b)
                new String(b, "UTF-8")
              }
            } else {
              val v = in.readLong()
              if (!present) null
              else extras(j)._2 match {
                case EventLog.ExtraDouble => java.lang.Double.valueOf(
                  java.lang.Double.longBitsToDouble(v))
                case _ => java.lang.Long.valueOf(v)
              }
            }
          j += 1
        }
        Row(change, id, ts, user, tpe, cents, lanes)
      }
      (extras.map(_._1), rows)
    } finally in.close()
  }

  /** The committed CDC parts of manifest commit `seq`: None = the
    * commit journaled no change data (a zone-proven whole-file delete,
    * or torn before the part renames) — its consumers must refuse,
    * never assume; Some(parts) may be empty-of-rows only through parts
    * that SAY so. */
  def partsOf(dir: String, seq: Long): Option[Seq[java.io.File]] = {
    val parts = EventLog.fs.listFiles(new java.io.File(dir))
      .filter(f => isPartName(f.getName) && partSeq(f.getName) == seq)
      .sortBy(_.getName)
    if (parts.isEmpty) None else Some(parts)
  }

  /** Total change rows of commit `seq`'s parts (cheap: prefix only). */
  def rowCountOf(dir: String, seq: Long): Option[Long] =
    partsOf(dir, seq).map(_.iterator.map { f =>
      val in = new DataInputStream(EventLog.fs.openRead(f))
      try {
        requirePartMagic(in, f)
        (0 until in.readInt()).foreach { _ =>
          EventLog.readUtf(in)
          in.readByte()
        }
        in.readInt().toLong
      } finally in.close()
    }.sum)

  /** Delete CDC parts whose commit seq folded into the checkpoint —
    * the feed can no longer read below the fold, so the parts are
    * unreachable bytes ([[EventLog.vacuum]] calls this). */
  private[v2] def sweepBelow(dir: String, foldedThrough: Long): Int = {
    val doomed = EventLog.fs.listFiles(new java.io.File(dir))
      .filter(f => isPartName(f.getName) && partSeq(f.getName) <= foldedThrough)
    doomed.foreach(EventLog.fs.delete(_))
    doomed.size
  }

  /** The typed feed's schema for a STORE: its full data schema (base
    * plus added columns) and the two CDF columns every Delta-shaped
    * consumer expects. */
  def typedSchemaOf(dir: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      EventLogSchema.schemaOf(dir, EventLog.TimeView.Current).fields ++ Seq(
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.LongType, nullable = false)))

  /** Plan a typed window (`from`, `to`] as partitions — shared by the
    * batch scan and the stream's per-batch planning. A planned add
    * file that no longer exists refuses with the retention wording. */
  private[v2] def planWindow(dir: String, from: Long, to: Long)
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    EventLog.changeCommits(dir, from, to, typed = true).flatMap {
      case (seq, entries, parts) =>
        entries.map { e =>
          val f = new java.io.File(dir, e.file)
          require(EventLog.fs.isFile(f),
            s"graft-eventlog cdc: window ($from, $to] references " +
              s"${e.file}, which no longer exists (compacted or deleted " +
              "since) — the changes feed is bounded by physical file " +
              "retention; restart from a later startingVersion")
          EventLogCdcAddPartition(f.getAbsolutePath, seq)
            : org.apache.spark.sql.connector.read.InputPartition
        } ++ parts.map(p =>
          EventLogCdcPartPartition(p.getAbsolutePath, seq)
            : org.apache.spark.sql.connector.read.InputPartition)
    }.toArray
  }
}

/** A data file whose rows were all INSERTED by commit `version` — the
  * typed feed reads it PHYSICALLY (no deletion-vector mask: a later
  * delete is a later commit's change rows, not a revision of this
  * one). */
case class EventLogCdcAddPartition(file: String, version: Long)
    extends org.apache.spark.sql.connector.read.InputPartition

/** One committed change-data part of commit `version`. */
case class EventLogCdcPartPartition(file: String, version: Long)
    extends org.apache.spark.sql.connector.read.InputPartition

/** Row-based reader of the typed feed: add files surface as `insert`
  * rows, CDC parts surface as whatever their rows say — both pruned
  * to the required columns, added-column lanes resolved per source
  * (null where a file or part predates the column). */
class EventLogCdcReaderFactory(fields: Array[String])
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.types.UTF8String

  private val Base = Set("event_id", "ts_us", "user_id", "event_type",
    "cents", "_change_type", "_commit_version")

  private def rowsToReader(version: Long, laneNames: Seq[String],
      rows: Iterator[EventLogCdc.Row])
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      // output position of an added column <- its lane in this source
      private val laneOf: Array[Int] = fields.map(f =>
        if (Base(f)) -1 else laneNames.indexOf(f))
      private var cur: InternalRow = _
      override def next(): Boolean = rows.hasNext && {
        val row = rows.next()
        val r = new GenericInternalRow(fields.length)
        var i = 0
        while (i < fields.length) {
          fields(i) match {
            case "event_id" => r.update(i, row.id)
            case "ts_us" => r.update(i, row.ts)
            case "user_id" => r.update(i, row.user)
            case "event_type" =>
              r.update(i, UTF8String.fromString(row.tpe))
            case "cents" => r.update(i, row.cents)
            case "_change_type" => r.update(i,
              UTF8String.fromString(EventLogCdc.typeName(row.change)))
            case "_commit_version" => r.update(i, version)
            case _ => laneOf(i) match {
              case -1 => r.update(i, null) // source predates the column
              case j => row.lanes(j) match {
                case null => r.update(i, null)
                case l: java.lang.Long => r.update(i, l.longValue)
                case d: java.lang.Double => r.update(i, d.doubleValue)
                case str: String =>
                  r.update(i, UTF8String.fromString(str))
              }
            }
          }
          i += 1
        }
        cur = r
        true
      }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }

  override def createReader(
      partition: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
    partition match {
      case EventLogCdcAddPartition(file, v) =>
        val f = new java.io.File(file)
        val wantedLanes = fields.filterNot(Base.contains).toSeq
        val rows = EventLog.readRecords(f, wantedLanes)
          .iterator.map { case ((id, ts, user, tpe, cents), lanes) =>
            EventLogCdc.Row(EventLogCdc.Insert, id, ts, user, tpe, cents,
              lanes)
          }
        rowsToReader(v, wantedLanes, rows)
      case EventLogCdcPartPartition(file, v) =>
        val (laneNames, rows) = EventLogCdc.readPart(new java.io.File(file))
        rowsToReader(v, laneNames, rows.iterator)
    }
}

/** The typed CDC scan (`.option("cdc.typed", "true")`): a batch window
  * (`changes.from`/`changes.to`) or a streaming tail
  * (`stream.changes`) of per-commit TYPED change rows. Append commits
  * stream their files as `insert` rows; rewrite commits stream their
  * journaled parts — so a MERGE surfaces as pre/post-image pairs plus
  * inserts, a row-level DELETE as `delete` rows, and a compaction as
  * nothing at all. This is the feed a downstream materializer folds to
  * stay continuously consistent with the store without ever rescanning
  * it. */
class EventLogCdcScan(path: String,
    required: org.apache.spark.sql.types.StructType,
    view: EventLog.TimeView,
    streamChanges: Boolean,
    startingVersion: Long,
    maxFilesPerTrigger: Option[Int],
    maxBytesPerTrigger: Option[Long])
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.Batch {

  override def readSchema(): org.apache.spark.sql.types.StructType = required
  override def description(): String =
    s"graft-eventlog $path, typed CDC, view=$view" +
      s", read=[${required.fieldNames.mkString(",")}]"

  override def toBatch: org.apache.spark.sql.connector.read.Batch = {
    require(!streamChanges, "graft-eventlog: stream.changes is a " +
      "readStream option — a typed batch window is cdc.typed + " +
      "changes.from/changes.to")
    view match {
      case EventLog.TimeView.Changes(_, _) => this
      case other => throw new IllegalArgumentException(
        s"graft-eventlog: cdc.typed is a changes-feed option — pair it " +
          s"with changes.from/changes.to (batch) or stream.changes " +
          s"(readStream), not $other")
    }
  }

  override def planInputPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] =
    view match {
      case EventLog.TimeView.Changes(from, to) =>
        EventLogCdc.planWindow(path, from, to)
      case other => throw new IllegalStateException(
        s"graft-eventlog: typed CDC batch planned under $other — " +
          "toBatch should have refused")
    }

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new EventLogCdcReaderFactory(required.fieldNames)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(view == EventLog.TimeView.Current && streamChanges,
      "graft-eventlog: a typed CDC tail is cdc.typed + stream.changes " +
        "on the live store (offsets are manifest versions); batch " +
        "windows use changes.from/changes.to")
    new EventLogChangesStream(path, required.fieldNames,
      _ => true, EventLog.OptPred.All, startingVersion,
      maxFilesPerTrigger, maxBytesPerTrigger, typed = true)
  }
}
