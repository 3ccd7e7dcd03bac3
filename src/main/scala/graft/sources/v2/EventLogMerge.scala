package graft.sources.v2

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Copy-on-write MERGE (upsert) for `graft-eventlog` stores — the
  * row-level mutation rung after q294's whole-file `DELETE FROM`:
  * a batch of rows keyed by `event_id` is applied as
  *
  *  - **MATCHED → UPDATE**: every store row whose `event_id` appears in
  *    the batch is replaced by the batch row (all columns), and ONLY
  *    the files that actually contain a match are rewritten;
  *  - **NOT MATCHED → INSERT**: batch keys matching nothing become new
  *    rows, written as fresh per-day (and per-bucket, on a bucketed
  *    store) files — untouched files are never rewritten.
  *
  * This is the Delta-style copy-on-write shape: find touched files,
  * rewrite exactly those, commit the swap as ONE manifest segment, so
  * the whole merge is ONE version. History is retention-bounded the
  * same way compaction's is: row-level time travel at a pre-merge
  * version refuses loudly once the replaced bytes are gone, while the
  * version's metadata aggregates (counts/sums/spans) still answer from
  * the commit log, and the changes feed refuses across the rewrite
  * window.
  *
  * Scale shape, stated honestly:
  *
  *  - The match scan is KEY-LANE PRUNED: the manifest's per-file
  *    `event_id` (min, max) bounds eliminate every file that provably
  *    contains no batch key before anything is decoded — on a
  *    sequential-id feed (day files carry tight disjoint ranges) a
  *    small merge touches a handful of files, not the store. Files
  *    without bounds (boundless entries, header fallbacks) stay
  *    candidates, so pruning can only skip work, never matches.
  *    Candidates decode once, executor-parallel (one task per file):
  *    O(candidate bytes) READ, O(touched files) WRITTEN. For
  *    SCATTERED-key feeds (ranges admit everything) the per-file BLOOM
  *    sidecars ([[EventLogBloom]]) extend the prune: each candidate's
  *    task probes its sidecar against the batch keys and returns
  *    before any decode when nothing can match.
  *  - TWO physical strategies, one semantics: [[upsert]] (broadcast)
  *    driver-collects the batch and ships it once per executor — the
  *    low-latency path for CDC-sized batches, BOUNDED by
  *    [[DefaultMaxBatchRows]] (refuses loudly beyond the envelope,
  *    naming the alternative). [[upsertShuffle]] co-keys batch rows
  *    and candidate files on `event_id` and rewrites executor-side
  *    with the batch never materializing on the driver — the unbounded
  *    path, one extra shuffle of routing cost. Both commit through the
  *    identical one-intent swap, so a crash in either recovers the
  *    same way, and `EventLogMergeShuffleSpec` pins path-parity on the
  *    same batch.
  *  - Like [[EventLogCompact]], the rewrite tasks write temps into the
  *    store directory, so driver and executors must share one
  *    filesystem — local mode is the enforceable contract (the whole
  *    format is `java.io.File`-based).
  *
  * Crash safety reuses the compactor's intent journal (one intent for
  * the WHOLE merge): all outputs visible → roll forward (inputs
  * deleted, manifest repointed); any output missing → roll back
  * (partials deleted, every input still alive). `upsert` begins by
  * recovering any intent a previous crash left behind.
  *
  * Rails (all loud, never silent):
  *  - duplicate `event_id`s in the batch refuse (ambiguous UPDATE);
  *  - an update that moves a matched row across its UTC day refuses
  *    (file names and the day profile assume single-day files —
  *    delete + insert expresses a day move honestly);
  *  - on a bucketed store, an update that moves a row to a different
  *    `user_id` bucket refuses (it would break the co-partitioning the
  *    storage-partitioned joins plan from); inserts are routed to
  *    their correct bucket files. */
object EventLogMerge {

  /** `matched` = store rows updated; `candidateFiles` = files the
    * id-RANGE prune admitted (their tasks ran); `bloomSkipped` = of
    * those, files whose bloom sidecar proved no batch key can be
    * present — their tasks returned before any record decode;
    * `rewrittenFiles` = files that contained ≥1 match (only these were
    * rewritten); `inserted` = batch rows that matched nothing;
    * `version` = the store's manifest version after the single merge
    * commit. */
  case class Stats(matched: Long, candidateFiles: Int, bloomSkipped: Int,
    rewrittenFiles: Int, inserted: Long, insertFiles: Int, version: Long)

  /** The CDC-batch envelope of the BROADCAST path ([[upsert]]): its
    * batch is driver-collected and shipped as a broadcast, ~64 B/row
    * heap — 4M rows ≈ 256 MB, the edge of comfortable for a 128 GiB
    * driver shared with everything else. Beyond it, [[upsertShuffle]]
    * is the same merge with the batch never leaving the executors. */
  val DefaultMaxBatchRows: Int = 4 * 1024 * 1024

  private val Day = 86400000000L

  /** One batch/store row in the merge pipelines: the five base fields
    * plus the store's added-column lanes (registry order; empty on a
    * base store). */
  private type MRec = ((Long, Long, Long, String, Long), Array[AnyRef])

  /** Store file `f` rewritten with each of its records `recs` whose
    * event_id `update` maps replaced by that update, into a merge temp
    * beside it: (temp name, manifest entry). An update must keep its
    * record's UTC day and, on a store hashed into `bucketing` buckets,
    * the bucket of `f`. */
  private def rewrite(f: java.io.File, recs: Seq[MRec], update: Long => Option[MRec],
      bucketing: Option[Int],
      extWire: Seq[EventLog.ExtraCol]): (String, EventLog.ManifestEntry) = {
    val merged = recs.map { old =>
      update(old._1._1) match {
        case Some(upd) =>
          require(Math.floorDiv(upd._1._2, Day) ==
              Math.floorDiv(old._1._2, Day),
            s"graft-eventlog merge: update for event_id ${old._1._1} " +
              s"moves ts across a UTC day (${old._1._2} -> " +
              s"${upd._1._2}) — day files and the day profile " +
              "assume single-day rows; express a day move as " +
              "DELETE + INSERT")
          bucketing.foreach { n =>
            val b = EventLog.bucketOfName(f.getName)
            require(b.forall(_ == GraftBucketFunction.bucketOf(upd._1._3, n)),
              s"graft-eventlog merge: update for event_id ${old._1._1} " +
                s"moves user_id ${old._1._3} -> ${upd._1._3} across " +
                s"buckets (n=$n) — it would break the store's " +
                "co-partitioning; express it as DELETE + INSERT")
          }
          upd
        case None => old
      }
    }
    writeMerged(f.getParent, uuid => f.getName.stripSuffix(".gel") + s"-m$uuid.gel",
      merged, extWire)
  }

  /** The inserts `rs` of one UTC `day` (and bucket, on a bucketed store)
    * as a fresh file's merge temp in `dir`: (temp name, manifest entry). */
  private def insertFile(dir: String, day: Long, bucket: Option[Int], rs: Seq[MRec],
      extWire: Seq[EventLog.ExtraCol]): (String, EventLog.ManifestEntry) = {
    val bTag = bucket.map(b => f"b$b%04d-").getOrElse("")
    writeMerged(dir, uuid => f"day_$day%05d-" + bTag + s"u$uuid.gel", rs, extWire)
  }

  /** `rows` sorted like every writer output, (ts_us, event_id), written
    * to a `.inprogress.merge` temp in `dir` under the final name
    * `name(uuid)`: (temp name, manifest entry). */
  private def writeMerged(dir: String, name: String => String, rows: Seq[MRec],
      extWire: Seq[EventLog.ExtraCol]): (String, EventLog.ManifestEntry) = {
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new java.io.File(dir, s".inprogress.merge.$uuid")
    val sorted = rows.sortBy(r => (r._1._2, r._1._1))
    (tmp.getName, EventLog.writeGelFile(tmp, name(uuid), sorted.map(_._1),
      extWire, sorted.map(_._2)))
  }

  /** The base+added column list a merge batch must carry on a store
    * with added columns: MERGE replaces WHOLE rows, so a base-only
    * batch would silently null every matched row's lanes — refused. */
  private def batchColumns(dir: String,
      updates: DataFrame): Seq[EventLogSchema.AddedCol] = {
    val added = EventLogSchema.read(dir)
    val want = EventLog.Schema.fieldNames.toSeq ++ added.map(_.name)
    require(want.forall(updates.columns.contains),
      s"graft-eventlog merge: batch must carry ${want.mkString(", ")} " +
        "(MERGE replaces whole rows, so a store's added columns are " +
        s"part of the contract); got ${updates.columns.mkString(", ")}")
    added
  }

  private def batchCasts(added: Seq[EventLogSchema.AddedCol]): Seq[String] =
    Seq("cast(event_id as bigint)", "cast(ts_us as bigint)",
      "cast(user_id as bigint)", "cast(event_type as string)",
      "cast(cents as bigint)") ++
      added.map(c => s"cast(`${c.name}` as ${c.dtype.sql})")

  /** Apply `updates` (schema `event_id, ts_us, user_id, event_type,
    * cents` plus every added column of an extended store) to the store
    * at `dir` as one copy-on-write merge commit. */
  def upsert(spark: SparkSession, dir: String, updates: DataFrame,
      maxBatchRows: Int = DefaultMaxBatchRows): Stats = {
    require(spark.sparkContext.isLocal || (EventLog.fs ne LocalGelFs),
      "graft-eventlog merge: the store is a local-filesystem format; " +
        "the executor-parallel rewrite requires driver and executors " +
        "to share one filesystem (local mode) — run merges from a " +
        "local-mode maintenance job against the store's mount, or " +
        "install a shared-mount GelFs (EventLog.fs) on every JVM.")
    EventLogCompact.recover(dir, EventLog.CommitLockStaleMs)

    val added = batchColumns(dir, updates)
    val extWire = added.map(_.wire)
    // cap-check and collect in ONE evaluation (limit cap+1): a separate
    // count() would evaluate the batch twice, and a non-deterministic or
    // concurrently-changing source could pass the count and then
    // materialize more rows at collect — the driver-OOM rail must gate
    // the very rows it admits
    val capped = updates
      .selectExpr(batchCasts(added): _*)
      .limit(maxBatchRows + 1)
      .collect()
    require(capped.length <= maxBatchRows,
      s"graft-eventlog merge: batch has more than $maxBatchRows rows " +
        "— the batch is driver-collected and closure-broadcast; " +
        "shard it into several merges, or use the shuffle-join merge " +
        "(EventLogMerge.upsertShuffle)")
    val batch: Seq[MRec] = capped
      .map { r =>
        val lanes = new Array[AnyRef](added.length)
        var j = 0
        while (j < added.length) {
          if (!r.isNullAt(5 + j)) lanes(j) = added(j).dtype match {
            case org.apache.spark.sql.types.LongType =>
              java.lang.Long.valueOf(r.getLong(5 + j))
            case org.apache.spark.sql.types.DoubleType =>
              java.lang.Double.valueOf(r.getDouble(5 + j))
            case _ => r.getString(5 + j)
          }
          j += 1
        }
        ((r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
          r.getLong(4)), lanes)
      }.toSeq
    val byId: Map[Long, MRec] =
      batch.map(r => r._1._1 -> r).toMap
    require(byId.size == batch.size,
      s"graft-eventlog merge: batch has ${batch.size - byId.size} " +
        "duplicate event_id(s) — an UPDATE keyed on a duplicated key is " +
        "ambiguous; dedup the batch first")

    val bucketing = EventLog.readBucketing(dir)
    // KEY-LANE PRUNE: a file whose manifest id-bounds cannot contain
    // any batch key is provably untouched — never decoded. Sorted keys
    // + one binary search per file; files without bounds (boundless
    // entries, header fallbacks) stay candidates, so pruning can
    // only skip work, never matches.
    val sortedKeys = batch.map(_._1._1).sorted.toArray
    def intersects(lo: Long, hi: Long): Boolean = {
      val ip = java.util.Arrays.binarySearch(sortedKeys, lo) match {
        case found if found >= 0 => found
        case missing => -(missing + 1)
      }
      ip < sortedKeys.length && sortedKeys(ip) <= hi
    }
    val man = EventLog.readManifest(dir)
    val files = EventLog.listFiles(dir)
      .filter(f => man.get(f.getName).flatMap(_.idBounds) match {
        case Some((lo, hi)) => intersects(lo, hi)
        case None => true
      })
      .map(_.getAbsolutePath)

    // one task per CANDIDATE file: decode, substitute matches, rewrite
    // ONLY if touched. The batch ships as a BROADCAST (once per
    // executor, not once per task closure), bounded by the cap above.
    val byIdB = spark.sparkContext.broadcast(byId)
    val extColsB = added.map(_.name)
    val extWireB = extWire
    val dirB = dir
    val perFile: Seq[(String, Seq[MRec], Option[(String, EventLog.ManifestEntry)], Boolean)] =
      try {
      if (files.isEmpty) Nil
      else EventLog.withFsProbe(dir) { probeToken =>
        spark.sparkContext.parallelize(files, files.size).map { path =>
        EventLog.taskFsCheck(dirB, probeToken)
        val byId = byIdB.value
        val f = new java.io.File(path)
        // BLOOM GATE (in the task, so probe work distributes): a
        // current sidecar that rejects every batch key proves the file
        // untouched without decoding a record — the scattered-key case
        // the range prune cannot help. Absent/stale sidecars decode.
        val bloomClear = EventLogBloom.load(f) match {
          case Some(b) => !byId.keysIterator.exists(b.mightContainLong)
          case None => false
        }
        if (bloomClear) (f.getName, Seq.empty[MRec], None, true)
        else {
        // LIVE records only (committed deletion vectors applied): a
        // DV-dead row is not matchable, and the rewrite folds the mask
        // away — the output carries live rows (with their added-column
        // lanes) under a new name
        val recs = EventLog.readLiveRecords(f.getParent, f.getName,
          extColsB)
        // matched PRE-IMAGES (whole rows): the ids drive the insert
        // anti-set, the full rows become the CDC update_preimage lane
        val matched = recs.filter(r => byId.contains(r._1._1))
        if (matched.isEmpty) (f.getName, matched, None, false)
        else (f.getName, matched, Some(rewrite(f, recs, byId.get, bucketing, extWireB)), false)
        }
      }.collect().toSeq
      }
      // a long-lived maintenance session running many merges must not
      // accumulate up-to-cap-sized broadcast blocks on driver+executors
      } finally byIdB.destroy()

    val matchedPre = perFile.flatMap(_._2)
    val matchedIds = matchedPre.iterator.map(_._1._1).toSet
    val bloomSkipped = perFile.count(_._4)
    val rewrites = perFile.collect { case (orig, _, Some((tmp, e)), _) =>
      (orig, tmp, e)
    }

    // NOT MATCHED → INSERT: fresh per-(day, bucket) files, driver-side
    // (bounded by the batch cap), sorted like every writer output
    val inserts = batch.filterNot(r => matchedIds.contains(r._1._1))
    val insertOuts: Seq[(String, EventLog.ManifestEntry)] = inserts
      .groupBy(r => (Math.floorDiv(r._1._2, Day),
        bucketing.map(n => GraftBucketFunction.bucketOf(r._1._3, n))))
      .toSeq.sortBy { case ((day, b), _) => (day, b.getOrElse(-1)) }
      .map { case ((day, bucket), rs) => insertFile(dir, day, bucket, rs, extWire) }

    // ONE intent for the whole merge, committed through the compactor's
    // shared swap sequence — the merge is one commit, one version. The
    // commit journals its CHANGE DATA (pre/post images + inserts, the
    // Delta CDF shape, added-column lanes included) so the changes feed
    // serves it instead of refusing; bounded by the batch cap.
    val temps = rewrites.map(_._2) ++ insertOuts.map(_._1)
    val entries = rewrites.map(_._3) ++ insertOuts.map(_._2)
    val removed = rewrites.map(_._1)
    if (entries.nonEmpty) {
      def row(t: Byte, r: MRec) = EventLogCdc.Row(t, r._1._1, r._1._2,
        r._1._3, r._1._4, r._1._5, r._2)
      val cdcRows: Seq[EventLogCdc.Row] =
        matchedPre.map(row(EventLogCdc.UpdatePre, _)) ++
        matchedPre.map(r => row(EventLogCdc.UpdatePost, byId(r._1._1))) ++
        inserts.map(row(EventLogCdc.Insert, _))
      EventLogCompact.commitSwap(dir,
        EventLogCompact.Intent(temps, entries, removed,
          Seq(EventLogCdc.writeTemp(dir, cdcRows, extWire)),
          inputEntries = removed.flatMap(man.get)))
    }
    Stats(matchedIds.size.toLong, files.size, bloomSkipped, rewrites.size,
      inserts.size.toLong, insertOuts.size, EventLog.currentVersion(dir))
  }

  /** Per-file id-bound metadata shipped to the assignment flatMap:
    * None bounds = the file admits every key (boundless manifest entry or
    * unmanifested foreign file). */
  private case class FileBounds(file: String, lo: Long, hi: Long,
    bounded: Boolean)

  /** The SHUFFLE-JOIN merge — [[upsert]]'s semantics with the
    * driver-collect boundary removed: the batch NEVER materializes on
    * the driver, so there is no row cap. Where the broadcast path ships
    * every key to every candidate file's task, this path co-keys batch
    * rows and candidate files on `event_id` and shuffles each row to
    * exactly the files whose manifest id-range can contain it:
    *
    *  1. **Assign** (map-side, no shuffle): each batch row emits
    *     (file, row) for every candidate whose (min, max) id bounds
    *     admit its key — the same KEY-LANE prune as the broadcast path,
    *     applied row-at-a-time against broadcast FILE METADATA
    *     (O(files) driver bytes, never O(batch)). Files without bounds
    *     admit every row, so pruning still only skips work.
    *  2. **Match + rewrite pass** (one shuffle on file name): each
    *     file's task probes its BLOOM sidecar against just its
    *     assigned keys, decodes on a possible match, substitutes, and
    *     writes the replacement temp — executor-side, one task per
    *     candidate file, same day-move/bucket-move rails as the
    *     broadcast path. The matched ids stay DISTRIBUTED in the
    *     result; only file names and manifest entries return to the
    *     driver.
    *  3. **Inserts** (distributed anti-join against the matched ids):
    *     batch rows whose key matched nowhere, grouped by (day,
    *     bucket) and written as fresh files by executor tasks; entries
    *     return to the driver.
    *  4. **Commit**: the SAME one-intent, one-segment
    *     [[EventLogCompact.commitSwap]] as the broadcast path — crash
    *     windows and recovery are identical by construction.
    *
    * Scale shape: per-task memory is O(file + the file's key-range
    * slice of the batch); on a sequential-id feed the slice is tiny,
    * and on a boundless (foreign) store it degrades to O(batch)
    * per task — executor memory, never driver. Total shuffle volume is
    * Σ per-file assignments, so a dense-overlap store pays its real
    * routing cost instead of hiding it in a driver broadcast. Driver
    * memory is O(candidate files) metadata — nothing here scales with
    * the batch.
    *
    * On a BUCKETED store the assignment already routes bucket-to-bucket
    * for free: a batch row only shuffles to files whose id-range admits
    * it, and the in-task rail still refuses cross-bucket moves. */
  def upsertShuffle(spark: SparkSession, dir: String,
      updates: DataFrame): Stats = {
    require(spark.sparkContext.isLocal || (EventLog.fs ne LocalGelFs),
      "graft-eventlog merge: the store is a local-filesystem format; " +
        "the executor-parallel rewrite requires driver and executors " +
        "to share one filesystem (local mode) — run merges from a " +
        "local-mode maintenance job against the store's mount, or " +
        "install a shared-mount GelFs (EventLog.fs) on every JVM.")
    EventLogCompact.recover(dir, EventLog.CommitLockStaleMs)
    // a .merge temp older than the liveness window is a dead leftover
    // (a crashed run, a recomputed task) — sweep now rather than
    // leaving it to vacuum's grace period. Younger ones may belong to
    // a LIVE concurrent merge (multi-maintainer, round 11): left alone.
    val mergeTempCutoff =
      System.currentTimeMillis() - EventLog.CommitLockStaleMs
    EventLog.fs.listFiles(new java.io.File(dir))
      .filter(f => f.getName.startsWith(".inprogress.merge.") &&
        EventLog.fs.lastModified(f) <= mergeTempCutoff)
      .foreach(EventLog.fs.delete(_))

    val added = batchColumns(dir, updates)
    val extColsB = added.map(_.name)
    val extWireB = added.map(_.wire)
    val codesB: Array[Byte] = extWireB.map(_.code).toArray
    import spark.implicits._
    // element: (event_id, ts_us, user_id, event_type, cents, lanes) —
    // lanes aligned to the registry (empty array on a base store).
    // TYPED lanes transport as STRINGS through the shuffle (a tuple
    // encoder needs one element type): BIGINT/DOUBLE render via cast
    // (both round-trip exactly — shortest-representation doubles parse
    // back to the same bits), STRING rides as-is; tasks re-type by the
    // registry code before any write.
    val laneExpr =
      if (added.isEmpty) "cast(array() as array<string>) as lanes"
      else added.map(c => s"cast(`${c.name}` as string)")
        .mkString("array(", ", ", ") as lanes")
    // PERSISTED before any job reads it: the dup rail, the rewrite
    // shuffle, and the insert anti-join are three separate Spark jobs —
    // a non-deterministic or concurrently-changing source could pass
    // the dup check and then produce different rows/keys in the match
    // vs insert passes (lost or duplicated corrections). One
    // materialization is the same single-evaluation discipline the
    // broadcast path's cap+collect enforces.
    val batch = updates
      .selectExpr(Seq("cast(event_id as bigint) as event_id",
        "cast(ts_us as bigint) as ts_us",
        "cast(user_id as bigint) as user_id",
        "cast(event_type as string) as event_type",
        "cast(cents as bigint) as cents", laneExpr): _*)
      .as[(Long, Long, Long, String, Long, Seq[Option[String]])]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // executor tasks write merge temps + CDC parts below: prove each
    // task's resolved fs sees the store before it writes a byte
    val probeToken = EventLog.beginFsProbe(dir)
    try {
    // duplicate-key rail, distributed: an UPDATE keyed on a duplicated
    // key is ambiguous — refuse before any work
    val dup = batch.groupBy(col("event_id")).count()
      .where(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"graft-eventlog merge: batch has duplicate event_id(s) (e.g. " +
        s"${if (dup.isEmpty) "" else dup.head.getLong(0)}) — an UPDATE " +
        "keyed on a duplicated key is ambiguous; dedup the batch first")

    val bucketing = EventLog.readBucketing(dir)
    val man = EventLog.readManifest(dir)
    val bounds: Seq[FileBounds] = EventLog.listFiles(dir).map { f =>
      man.get(f.getName).flatMap(_.idBounds) match {
        case Some((lo, hi)) => FileBounds(f.getName, lo, hi, bounded = true)
        case None => FileBounds(f.getName, Long.MinValue, Long.MaxValue,
          bounded = false)
      }
    }
    val boundsB = spark.sparkContext.broadcast(bounds)
    val dirB = dir

    // rows routed to every file whose id-range admits their key
    def assigned = batch.flatMap { r =>
      boundsB.value.iterator
        .filter(b => b.lo <= r._1 && r._1 <= b.hi)
        .map(b => (b.file, r))
    }
    // re-type a transported lane by its registry code (see laneExpr)
    def laneValue(code: Byte, s: String): AnyRef = code match {
      case EventLog.ExtraBigint => java.lang.Long.valueOf(s.toLong)
      case EventLog.ExtraDouble => java.lang.Double.valueOf(s.toDouble)
      case _ => s
    }
    def lanesOf(r: (Long, Long, Long, String, Long, Seq[Option[String]]))
        : Array[AnyRef] =
      r._6.zipWithIndex.map { case (o, j) =>
        o.map(laneValue(codesB(j), _)).orNull
      }.toArray

    // MATCH+REWRITE PASS (one shuffle on file name): each candidate
    // file's task probes its bloom sidecar against just its assigned
    // keys, decodes on a possible match, substitutes, and writes the
    // replacement temp. The result carries the matched ids DISTRIBUTED
    // (one Res row per file, ids as a column) — the driver only ever
    // collects file names, entries, and counts, so NOTHING here is
    // bounded by batch size. Persisted because two downstream jobs
    // read it (metadata collect + insert anti-join): a recomputed
    // partition would re-write its temp under a fresh uuid, which the
    // commit (pinned to the first collect's names) simply never
    // references — the orphan is swept by the next merge's
    // .inprogress.merge sweep, never double-committed.
    val probeTokenB = probeToken
    val res = assigned.groupByKey(_._1).mapGroups {
      (file: String, it: Iterator[(String, (Long, Long, Long, String, Long, Seq[Option[String]]))]) =>
        EventLog.taskFsCheck(dirB, probeTokenB)
        val byId = it.map(p => p._2._1 -> p._2).toMap
        val f = new java.io.File(dirB, file)
        val bloomClear = EventLogBloom.load(f) match {
          case Some(b) => !byId.keysIterator.exists(b.mightContainLong)
          case None => false
        }
        if (bloomClear)
          (file, Seq.empty[Long], Option.empty[String],
            Option.empty[EventLog.ManifestEntry], true,
            Option.empty[String])
        else {
          // live records (with lanes) — same DV fold as broadcast
          val recs = EventLog.readLiveRecords(f.getParent, f.getName,
            extColsB)
          val matched = recs.iterator.map(_._1._1).filter(byId.contains)
            .toSeq.distinct
          if (matched.isEmpty)
            (file, matched, Option.empty[String],
              Option.empty[EventLog.ManifestEntry], false,
              Option.empty[String])
          else {
            def up(u: (Long, Long, Long, String, Long, Seq[Option[String]]))
                : MRec = ((u._1, u._2, u._3, u._4, u._5), lanesOf(u))
            val (tmp, entry) = rewrite(f, recs, id => byId.get(id).map(up), bucketing,
              extWireB)
            // this task's CHANGE DATA part: pre/post image pairs for
            // its matches — executor-written like the data temp, so no
            // change row ever rides through the driver
            val matchedSet = matched.toSet
            val cdcRows: Seq[EventLogCdc.Row] =
              recs.filter(r => matchedSet(r._1._1)).flatMap { old =>
                val u = up(byId(old._1._1))
                Seq(EventLogCdc.Row(EventLogCdc.UpdatePre, old._1._1,
                    old._1._2, old._1._3, old._1._4, old._1._5, old._2),
                  EventLogCdc.Row(EventLogCdc.UpdatePost, u._1._1,
                    u._1._2, u._1._3, u._1._4, u._1._5, u._2))
              }
            val cdcTmp = EventLogCdc.writeTemp(f.getParent, cdcRows,
              extWireB)
            (file, matched, Some(tmp), Some(entry), false, Some(cdcTmp))
          }
        }
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // job 1 — metadata only: O(candidate files) driver rows, ids elided
    val meta = res.map(r => (r._1, r._3, r._4, r._2.size.toLong, r._5, r._6))
      .collect().toSeq
    val rewrites = meta.collect { case (orig, Some(tmp), Some(e), _, _, _) =>
      (orig, tmp, e)
    }

    // job 2 — INSERTS by distributed anti-join against the (still
    // distributed) matched ids: keys that matched nowhere, written as
    // fresh per-(day, bucket) files by executor tasks
    val matchedIds = res.flatMap(_._2).toDF("event_id")
    val bucketingIns = bucketing
    val insertOuts: Seq[(String, EventLog.ManifestEntry, String)] = batch.toDF()
      .join(matchedIds, Seq("event_id"), "left_anti")
      .as[(Long, Long, Long, String, Long, Seq[Option[String]])]
      .groupByKey(r => (Math.floorDiv(r._2, Day),
        bucketingIns.map(n => GraftBucketFunction.bucketOf(r._3, n))
          .getOrElse(-1)))
      .mapGroups { (key: (Long, Int), it: Iterator[(Long, Long, Long, String, Long, Seq[Option[String]])]) =>
        EventLog.taskFsCheck(dirB, probeTokenB)
        val (day, bucket) = key
        val rs = it.toSeq
          .map(r => (((r._1, r._2, r._3, r._4, r._5)), lanesOf(r)): MRec)
          .sortBy(r => (r._1._2, r._1._1))
        val (tmp, entry) = insertFile(dirB, day, Some(bucket).filter(_ >= 0), rs, extWireB)
        val cdcTmp = EventLogCdc.writeTemp(dirB, rs.map(r =>
          EventLogCdc.Row(EventLogCdc.Insert, r._1._1, r._1._2, r._1._3,
            r._1._4, r._1._5, r._2)), extWireB)
        (tmp, entry, cdcTmp)
      }.collect().toSeq

    // matched = DISTINCT store ids updated, the broadcast path's
    // semantics: a store holding the same event_id in multiple files
    // reports one match per id, not one per (id, file) — the two
    // "parity" paths must agree on the number fixtures gate on
    val matchedDistinct = res.flatMap(_._2).distinct().count()

    res.unpersist()
    boundsB.destroy()

    val temps = rewrites.map(_._2) ++ insertOuts.map(_._1)
    val entries = rewrites.map(_._3) ++ insertOuts.map(_._2)
    val removed = rewrites.map(_._1)
    // every task journaled its own CDC part; the one-intent swap
    // renames them under the commit's seq — change data commits with
    // the rewrite or not at all
    val cdcTemps = meta.flatMap(_._6) ++ insertOuts.map(_._3)
    if (entries.nonEmpty)
      EventLogCompact.commitSwap(dir,
        EventLogCompact.Intent(temps, entries, removed, cdcTemps,
          inputEntries = removed.flatMap(man.get)))
    Stats(matchedDistinct, meta.size,
      meta.count(_._5), rewrites.size,
      insertOuts.iterator.map(_._2.count.toLong).sum, insertOuts.size,
      EventLog.currentVersion(dir))
    } finally {
      EventLog.endFsProbe(dir, probeToken)
      batch.unpersist()
    }
  }
}
