package graft.sources.v2

import java.nio.file.Files

/** Every file kind of the eventlog has exactly one wire version, and a
  * file of a retired version is REFUSED at its magic — never decoded
  * under the current layout, never silently read as empty. One row per
  * retired magic: the file is put where its reader looks and opened
  * through the public path that reads that kind. */
class EventLogRetiredWireSpec extends graft.SparkTestBase {

  /** A retired magic, then zero bytes: counts and lengths that any old
    * reader would have decoded as an empty file. */
  private def put(dir: String, name: String, magic: String): Unit =
    Files.write(new java.io.File(dir, name).toPath,
      magic.getBytes("US-ASCII") ++ new Array[Byte](64))

  private def messagesOf(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(c => String.valueOf(c.getMessage)).mkString("\n")

  private val DataFile = "day_00000-p00000-retired0.gel"
  private val Checkpoint = EventLog.ManifestName
  private val Segment = "_manifest.00000001.0abc1234.gelmd"
  private val CdcPart = "_cdc.00000001.0abc1234.gelc"
  private val Intent = EventLogCompact.IntentPrefix + "retired"
  private val Registry = EventLogSchema.RegistryName

  private def scan(dir: String): Any =
    spark.read.format("graft-eventlog").load(dir).collect()

  // (magic, file name, the read that opens it, the refusal it must raise)
  private val retired: Seq[(String, String, String => Any, String)] = Seq(
    ("GRAFTEL2", DataFile, scan, "bad magic — not an eventlog file"),
    ("GRAFTML1", Checkpoint, EventLog.readManifest, "bad magic — not a manifest"),
    ("GRAFTML2", Checkpoint, EventLog.readManifest, "bad magic — not a manifest"),
    ("GRAFTML3", Checkpoint, EventLog.readManifest, "bad magic — not a manifest"),
    ("GRAFTMD1", Segment, EventLog.readManifest,
      "bad magic — not a manifest segment"),
    ("GRAFTCD1", CdcPart, EventLogCdc.rowCountOf(_, 1L),
      "is not a change-data part"),
    ("GRAFTCD2", CdcPart,
      d => EventLogCdc.readPart(new java.io.File(d, CdcPart)),
      "is not a change-data part"),
    ("GRAFTCI3", Intent, EventLog.vacuum(_), "is not a compaction intent"),
    ("GRAFTCI4", Intent, EventLog.vacuum(_), "is not a compaction intent"),
    ("GRAFTSC1", Registry, EventLogSchema.read, "bad magic — not a schema"))

  retired.foreach { case (magic, name, open, refusal) =>
    test(s"a $magic file ($name) is refused at its magic") {
      val dir = Files.createTempDirectory("gelretired").toString
      put(dir, name, magic)
      val e = intercept[Throwable] { open(dir) }
      assert(messagesOf(e).contains(refusal), messagesOf(e))
    }
  }
}
