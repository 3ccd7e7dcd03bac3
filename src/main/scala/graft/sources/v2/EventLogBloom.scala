package graft.sources.v2

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.util.sketch.BloomFilter

/** Per-file `event_id` BLOOM sidecars (`<file>.gelbloom`) — the key
  * lane's scattered-key extension. The manifest's (min, max) id bounds
  * prune a MERGE match pass only when a feed's ids cluster with its
  * files (a chronological feed's do); a feed with scattered keys makes
  * every range intersect everything. A bloom answers the question the
  * range cannot — "might THIS file contain ANY of these keys?" — at a
  * fixed ~1.2 bits-per-id sidecar cost, the Delta bloom-index /
  * Iceberg-puffin shape.
  *
  * Design decisions, all loud-by-construction:
  *
  *  - **Sidecars, not manifest entries.** A bloom is ~150 KB for a 1M-id
  *    file at 1% FPP; inlining it would turn the O(batch) manifest log
  *    into an O(store-bytes) one. Sidecar names end `.gelbloom`, so
  *    [[EventLog.listFiles]] (suffix `.gel`) never sees them as data.
  *  - **Staleness is self-describing.** The sidecar records the data
  *    file's (length, count) at build time; a consumer whose data file
  *    no longer matches IGNORES the sidecar (falls back to decoding —
  *    over-read, never drop) rather than trusting it. Compaction and
  *    merge rewrite under NEW names, so their outputs simply lack
  *    sidecars until the next [[build]]; orphaned sidecars (data file
  *    gone) are swept by build.
  *  - **Probing happens IN THE TASK**, not on the driver: a
  *    range-admitted file's task loads its sidecar and probes the
  *    broadcast batch keys locally, returning before any record decode
  *    when nothing can match. Driver planning stays O(files), and the
  *    probe work (|keys| per file) distributes with the tasks.
  *
  * Maintenance op: like compaction, [[build]] is offline
  * executor-parallel over a shared filesystem (local mode asserted). */
object EventLogBloom {

  private val Magic = "GRAFTBF1".getBytes("US-ASCII")

  def sidecarOf(dataFile: java.io.File): java.io.File =
    new java.io.File(dataFile.getParent, dataFile.getName + ".gelbloom")

  /** The default false-positive probability is sized for BATCH-ANY
    * probing, not point lookups: the merge gate asks "might ANY of the
    * batch's K keys be here?", so a file's spurious-decode probability
    * is ≈ K·fpp — at the classic 1% a 10k-key batch false-positives
    * EVERY file and the gate never fires. 1e-6 keeps a 10k-key batch's
    * per-file spurious-decode chance ≈ 1% at ~28.8 bits/id (≈ 120 KB
    * per 33k-id file). For batches approaching the 4M merge cap the
    * gate degrades gracefully to decode-everything — exactly the
    * no-sidecar behavior. */
  val DefaultFpp: Double = 1e-6

  /** Write sidecars for every data file in `dir` that lacks a CURRENT
    * one (stale ones are rebuilt, orphans swept). Returns the number
    * built. `fpp` trades sidecar bytes for spurious decodes — see
    * [[DefaultFpp]] for the batch-any sizing rule. */
  def build(spark: org.apache.spark.sql.SparkSession, dir: String,
      fpp: Double = DefaultFpp): Int = {
    require(spark.sparkContext.isLocal || (EventLog.fs ne LocalGelFs),
      "graft-eventlog bloom build: executor tasks write sidecars into " +
        "the store directory — driver and executors must share one " +
        "filesystem (local mode), like compaction and merge.")
    // sweep orphans: a sidecar whose data file was compacted/merged/
    // deleted away is dead weight forever — nothing will ever read it
    EventLog.fs.listFiles(new java.io.File(dir))
      .filter(_.getName.endsWith(".gelbloom"))
      .filter(s => !EventLog.fs.isFile(new java.io.File(dir,
        s.getName.stripSuffix(".gelbloom"))))
      .foreach(EventLog.fs.delete(_))
    val stale = EventLog.listFiles(dir).filterNot(isCurrent)
    if (stale.isEmpty) return 0
    EventLog.withFsProbe(dir) { probeToken =>
      val dirB = dir
      spark.sparkContext.parallelize(stale.map(_.getAbsolutePath), stale.size)
        .foreach { path =>
          EventLog.taskFsCheck(dirB, probeToken)
          buildOne(new java.io.File(path), fpp)
        }
    }
    stale.size
  }

  private[v2] def buildOne(f: java.io.File, fpp: Double): Unit = {
    val ids = readIds(f)
    val bloom = BloomFilter.create(math.max(1, ids.length).toLong, fpp)
    ids.foreach(bloom.putLong)
    val bytes = {
      val bo = new ByteArrayOutputStream()
      bloom.writeTo(bo)
      bo.toByteArray
    }
    val tmp = new java.io.File(f.getParent,
      s".inprogress.bloom.${java.util.UUID.randomUUID().toString.take(8)}")
    val o = new DataOutputStream(
      new BufferedOutputStream(EventLog.fs.openWrite(tmp), 1 << 16))
    try {
      o.write(Magic)
      o.writeLong(EventLog.fs.length(f)) // staleness key: the data file AS BUILT
      o.writeInt(ids.length)
      o.writeInt(bytes.length)
      o.write(bytes)
    } finally o.close()
    if (!EventLog.fs.rename(tmp, sidecarOf(f)))
      throw new java.io.IOException(
        s"graft-eventlog: could not commit bloom sidecar for ${f.getName}")
  }

  /** Does `dataFile` have a CURRENT sidecar? Reads only the fixed-size
    * prefix (magic + built-length) — the staleness question build()
    * asks per file must not deserialize the whole filter it is about
    * to discard (O(store) driver bytes on a large store). */
  def isCurrent(dataFile: java.io.File): Boolean = {
    val s = sidecarOf(dataFile)
    if (!EventLog.fs.isFile(s)) return false
    val in = new DataInputStream(EventLog.fs.openRead(s))
    try {
      EventLog.requireMagic(in, Magic,
        s"graft-eventlog: ${s.getName} is not a bloom sidecar")
      in.readLong() == EventLog.fs.length(dataFile)
    } finally in.close()
  }

  /** The file's bloom, or None when absent or STALE (data file length
    * differs from the one recorded at build — a rewrite happened; the
    * sidecar must not be trusted). A present-but-corrupt sidecar is
    * loud, not silently ignored. */
  def load(dataFile: java.io.File): Option[BloomFilter] = {
    val s = sidecarOf(dataFile)
    if (!EventLog.fs.isFile(s)) return None
    val in = new DataInputStream(
      new BufferedInputStream(EventLog.fs.openRead(s), 1 << 16))
    try {
      EventLog.requireMagic(in, Magic,
        s"graft-eventlog: ${s.getName} is not a bloom sidecar")
      val builtLen = in.readLong()
      in.readInt() // id count — informational
      val n = in.readInt()
      if (builtLen != EventLog.fs.length(dataFile)) return None // stale: rewritten
      val bytes = new Array[Byte](n)
      in.readFully(bytes)
      Some(BloomFilter.readFrom(new ByteArrayInputStream(bytes)))
    } finally in.close()
  }

  /** All `event_id`s of `f` — an id-only decode: one long read plus a
    * fixed-width skip per record, never a full-field decode. */
  private[v2] def readIds(f: java.io.File): Array[Long] = {
    val in = new DataInputStream(
      new BufferedInputStream(EventLog.fs.openRead(f), 1 << 16))
    try {
      val h = EventLog.readHeader(in)
      val out = new Array[Long](h.count)
      var i = 0
      while (i < h.count) {
        out(i) = in.readLong()
        EventLog.skipFully(in, h.recordBytes - 8)
        i += 1
      }
      out
    } finally in.close()
  }
}
