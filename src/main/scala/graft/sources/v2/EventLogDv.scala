package graft.sources.v2

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}

/** DELETION VECTORS — row-level `DELETE FROM` without rewriting a
  * single data file (the Delta DV / Iceberg position-delete shape,
  * with the `.gelbloom` sidecar discipline): a delete writes one
  * row-mask sidecar per touched file plus ONE manifest segment whose
  * updated entries carry the LIVE statistics, and every reader masks
  * dead rows positionally. At 100 TB this is the GDPR / correction
  * primitive between "drop a whole day" (file-granular delete) and
  * "rewrite touched files" (merge): deleting 0.1% of rows scattered
  * across a petabyte costs one sidecar per touched file — zero data
  * bytes rewritten.
  *
  * THE COMMIT POINT IS THE MANIFEST APPEND, and sidecars are KEYED BY
  * THE LIVE COUNT they leave behind (`<file>.dv-<live>.geldv`), so a
  * view resolves its mask by direct name lookup from its own manifest
  * entry ([[maskFor]]):
  *
  *  - entry count == physical count → the view predates every delete:
  *    serve UNMASKED (the rows are physically present). A crash before
  *    the manifest append therefore reads as never-happened until the
  *    delete re-runs — torn deletes cannot corrupt.
  *  - entry count == some sidecar's live count → apply exactly that
  *    mask. Masks are CUMULATIVE (each new delete folds the prior mask
  *    in) and old sidecars are kept until the data file itself is
  *    replaced, so row-level time travel across STACKED deletes reads
  *    each version's own state — the lane Delta's single-DV-per-file
  *    form drops.
  *  - no sidecar with that live count → it was vacuumed away or never
  *    committed: refuse loudly, metadata still answers from entries.
  *
  * Consequences kept honest elsewhere: LIMIT/OFFSET pushdown refuse on
  * a store with any DV (entry counts are live, pushed skips are
  * positional); the plain changes feed refuses a window over a DV
  * commit (an in-place entry update cannot be expressed as appended
  * rows); compaction and merge read through the mask
  * ([[EventLog.readLiveRecords]]) and fold DVs away (their outputs
  * carry live rows under new names, and the swap deletes every sidecar
  * with its input). Sidecar staleness is structurally impossible —
  * data files are immutable and rewrites happen under new names — so a
  * recorded-length mismatch is corruption and refuses loudly. */
object EventLogDv {

  private val Magic = "GRAFTDV1".getBytes("US-ASCII")
  val Suffix = ".geldv"
  private val SidecarName = """(.+)\.dv-(\d+)\.geldv""".r

  def sidecarOf(dataFile: java.io.File, live: Int): java.io.File =
    new java.io.File(dataFile.getParent,
      s"${dataFile.getName}.dv-$live$Suffix")

  /** The data-file name a sidecar belongs to, if `name` is one —
    * vacuum's orphan test and the swap's input sweep. */
  def dataFileOf(name: String): Option[String] = name match {
    case SidecarName(data, _) => Some(data)
    case _ => None
  }

  /** A loaded deletion vector: `physical` rows in the data file, of
    * which `live` survive; `dead(i)` tests the PHYSICAL record index. */
  case class Dv(physical: Int, live: Int, mask: Array[Byte]) {
    def dead(i: Int): Boolean = ((mask(i >> 3) >> (i & 7)) & 1) == 1
  }

  /** STAGE the sidecar leaving `physical - |dead|` live rows as a
    * temp file — the executor half of a DV delete. `deadIdx` are
    * PHYSICAL positions and must already be CUMULATIVE (the caller
    * folds any prior committed mask in — each sidecar is
    * self-contained, so a version needs exactly one). The temp only
    * becomes the live sidecar through [[finalizeStaged]], which the
    * driver runs UNDER THE COMMIT LOCK after the manifest conflict
    * check passes: sidecar identity is (dataFile, live count), so two
    * racing deletes that kill equal numbers of DIFFERENT rows collide
    * on the final name — finalizing commit-side means the loser (its
    * commit refused by the in-place conflict rung) never renames over
    * the winner's mask, it just deletes its temp. */
  def writeStaged(dataFile: java.io.File, physical: Int,
      deadIdx: Iterable[Int]): (Dv, String) = {
    val mask = new Array[Byte]((physical + 7) / 8)
    var n = 0
    deadIdx.foreach { i =>
      require(0 <= i && i < physical,
        s"graft-eventlog dv: dead index $i outside 0..${physical - 1}")
      val b = mask(i >> 3)
      val bit = (1 << (i & 7)).toByte
      if ((b & bit) == 0) { mask(i >> 3) = (b | bit).toByte; n += 1 }
    }
    require(n > 0, "graft-eventlog dv: refusing to write an empty mask")
    require(n < physical,
      "graft-eventlog dv: all rows dead — delete the file, not every row")
    val dv = Dv(physical, physical - n, mask)
    val tmp = new java.io.File(dataFile.getParent,
      s".inprogress.dv.${java.util.UUID.randomUUID().toString.take(8)}")
    val o = new DataOutputStream(
      new BufferedOutputStream(EventLog.fs.openWrite(tmp), 1 << 16))
    try {
      o.write(Magic)
      o.writeLong(EventLog.fs.length(dataFile)) // integrity key: data files are immutable
      o.writeInt(physical)
      o.writeInt(dv.live)
      o.write(mask)
    } finally o.close()
    (dv, tmp.getName)
  }

  /** The commit half of a staged DV write — MUST run under the store's
    * commit lock, after the manifest conflict check passed, with
    * `manifest` the very fold that check used. Rules at the final
    * name:
    *  - absent → rename in (the normal case);
    *  - present with IDENTICAL bytes → keep it, drop the temp (a
    *    re-run after a crash between finalize and manifest append
    *    recomputes the same cumulative mask);
    *  - present, different bytes, and the CURRENT entry serves this
    *    live count → a committed competitor the conflict check could
    *    not distinguish: refuse rather than swap a committed mask
    *    (unreachable by construction — the competitor's commit
    *    changed the entry, which the in-place rung refuses first —
    *    but loud beats silent if that reasoning ever rots);
    *  - present, different bytes, entry elsewhere → an INERT leftover
    *    of a crashed uncommitted delete (no entry loads it): replace. */
  def finalizeStaged(dir: String, tmpName: String, dataFileName: String,
      live: Int,
      manifest: Map[String, EventLog.ManifestEntry]): Unit = {
    val d = new java.io.File(dir)
    val tmp = new java.io.File(d, tmpName)
    val fin = sidecarOf(new java.io.File(d, dataFileName), live)
    if (EventLog.fs.isFile(fin)) {
      val same = java.util.Arrays.equals(
        EventLog.fs.readAll(fin), EventLog.fs.readAll(tmp))
      if (same) { EventLog.fs.delete(tmp); return }
      if (manifest.get(dataFileName).exists(_.count == live)) {
        EventLog.fs.delete(tmp)
        throw new ConcurrentRewriteException(
          s"graft-eventlog dv: a COMMITTED deletion vector for " +
            s"$dataFileName already serves $live live rows with a " +
            "DIFFERENT mask — a concurrent delete landed that this " +
            "operation's snapshot could not see; re-run the delete " +
            "against the current state")
      }
      EventLog.fs.delete(fin) // inert: no manifest entry loads this count
    }
    if (!EventLog.fs.rename(tmp, fin))
      throw new java.io.IOException(
        s"graft-eventlog dv: could not commit sidecar for $dataFileName")
  }

  /** Single-process convenience (specs, non-racing callers): stage and
    * finalize in one step, with no competing manifest state assumed.
    * The CONCURRENT delete path must use the staged pair instead —
    * see [[writeStaged]]. */
  def write(dataFile: java.io.File, physical: Int,
      deadIdx: Iterable[Int]): Dv = {
    val (dv, tmp) = writeStaged(dataFile, physical, deadIdx)
    finalizeStaged(dataFile.getParent, tmp, dataFile.getName, dv.live,
      Map.empty)
    dv
  }

  /** The sidecar leaving exactly `live` rows, or None when absent.
    * Corruption (bad magic, or a recorded-length mismatch — impossible
    * under the immutable-file contract) is LOUD. */
  def load(dataFile: java.io.File, live: Int): Option[Dv] = {
    val s = sidecarOf(dataFile, live)
    if (!EventLog.fs.isFile(s)) return None
    val in = new DataInputStream(
      new BufferedInputStream(EventLog.fs.openRead(s), 1 << 16))
    try {
      EventLog.requireMagic(in, Magic,
        s"graft-eventlog: ${s.getName} is not a deletion-vector sidecar")
      val builtLen = in.readLong()
      require(builtLen == EventLog.fs.length(dataFile),
        s"graft-eventlog dv: ${s.getName} was built for a " +
          s"$builtLen-byte file but ${dataFile.getName} is " +
          s"${EventLog.fs.length(dataFile)} bytes — data files are immutable, so " +
          "this sidecar belongs to something else; remove it")
      val physical = in.readInt()
      val liveIn = in.readInt()
      require(liveIn == live,
        s"graft-eventlog dv: ${s.getName} claims $liveIn live rows but " +
          s"its name says $live — corrupt sidecar")
      val mask = new Array[Byte]((physical + 7) / 8)
      in.readFully(mask)
      Some(Dv(physical, liveIn, mask))
    } finally in.close()
  }

  /** Does any data file in `dir` carry a DV sidecar? The planning-time
    * gate LIMIT/OFFSET pushdown checks (their skips are positional —
    * physical record arithmetic — which a mask invalidates). */
  def anyIn(dir: String): Boolean = {
    val d = new java.io.File(dir)
    EventLog.fs.isDirectory(d) && EventLog.fs.listFiles(d)
      .exists(f => dataFileOf(f.getName)
        .exists(data => EventLog.fs.isFile(new java.io.File(d, data))))
  }

  /** The mask a read expecting `expect` live rows must apply — the
    * arbitration rule of the class doc. `expect` is the view's
    * manifest entry count; -1 = no manifest entry (header-fallback
    * file), which can never have a COMMITTED delete, so it reads
    * unmasked. */
  def maskFor(dataFile: java.io.File, physical: Int,
      expect: Int): Option[Dv] =
    if (expect < 0 || expect == physical) None // pre-delete (or never
    // manifested): the rows are physically present — serve them
    else load(dataFile, expect) match {
      case Some(dv) =>
        require(dv.physical == physical,
          s"graft-eventlog dv: ${dataFile.getName} has $physical " +
            s"records but its sidecar masks ${dv.physical} — corrupt")
        Some(dv)
      case None => throw new IllegalStateException(
        s"graft-eventlog dv: this view of ${dataFile.getName} expects " +
          s"$expect live rows of ${physical} physical, but no deletion " +
          "vector with that live count exists — the mask was removed " +
          "or its delete never committed; row-level reads of this " +
          "version are gone, its metadata still answers from the " +
          "commit log")
    }
}
