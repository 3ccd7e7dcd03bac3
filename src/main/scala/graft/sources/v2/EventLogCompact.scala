package graft.sources.v2

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.SparkSession

/** Small-file compaction for `graft-eventlog` stores — the maintenance
  * operator every append-only file format eventually needs: N append
  * jobs × P write partitions leave each UTC day fragmented into many
  * small `.gel` files, and at 100 TB the small-file problem is the
  * store's real decay mode (per-file planning rows, per-file open
  * costs, under-filled readers). `compact` merges each day's fragments
  * into full files, EXECUTOR-parallel (one task per day — the driver
  * never touches record data), and rewrites the header manifest so
  * planning stays O(1) driver reads afterwards.
  *
  * Crash safety — an INTENT journal, because multi-file replacement has
  * no atomic rename: each group's commit first persists ONE
  * `.compact.intent.*` record naming every merged output (with its
  * full manifest entry) and every input it replaces, then renames the
  * outputs in, deletes the inputs, updates the manifest, and drops the
  * intent. `compact` begins by RECOVERING any intents a previous crash
  * left behind:
  *
  *  - ALL outputs visible → roll FORWARD (delete surviving inputs, fix
  *    the manifest from the entries stored in the intent) — records
  *    exist exactly once afterwards;
  *  - any output missing  → roll BACK (delete the visible outputs and
  *    temps; every input is still alive, because inputs are deleted
  *    only after the LAST rename) — the group is exactly pre-compact.
  *
  * Either way no record is ever lost — and since round 10 concurrent
  * BATCH readers are SNAPSHOT-CONSISTENT across every window: planning
  * arbitrates through the manifest (unmanifested maintenance outputs
  * invisible, removed-but-listed inputs invisible —
  * [[EventLog.zoneMaps]]), so a reader sees exactly the pre-commit or
  * post-commit state, never duplicates, never a gap
  * (`EventLogIsolationSpec` hammers a live compaction). Maintenance
  * remains single-MAINTAINER (one op at a time); the file-name TAIL
  * stream still assumes no concurrent rewrites (its offsets are
  * listing-based by contract). */
object EventLogCompact {

  case class Stats(recovered: Int, groupsMerged: Int, filesBefore: Int,
    filesAfter: Int)

  // CI5: intents embed manifest entries (with their per-type sums and
  // zone lanes), the commit's CDC part temps (change-data files commit
  // through the same journal as the swap, so a crash can never publish
  // a rewrite without its change evidence or vice versa), and the
  // PLAN-TIME manifest entries of their inputs — the expected-state
  // evidence the conflict-checked commit compares against, so even a
  // crashed rewrite recovered later still detects a competitor's
  // in-place update (DV delete) on its inputs. An intent of any other
  // magic fails LOUDLY instead of being torn mid-read: the recovery
  // handoff across a format upgrade is a human-involved event.
  private val IntentMagic = "GRAFTCI5".getBytes("US-ASCII")
  private[v2] val IntentPrefix = ".compact.intent."

  /** One group's replacement plan: temps (pre-rename names) aligned
    * with their entries (post-rename names inside), the inputs the
    * group replaces, and the commit's CDC part temps (empty = the
    * commit journals no change data — its changes-feed window will
    * refuse). */
  private[v2] case class Intent(temps: Seq[String],
    entries: Seq[EventLog.ManifestEntry], inputs: Seq[String],
    cdcTemps: Seq[String] = Nil,
    inputEntries: Seq[EventLog.ManifestEntry] = Nil)

  /** Intent writes are themselves temp-and-rename: the journal that
    * makes every other crash window recoverable must not have a torn-
    * write window of its own (a truncated intent would fail readIntent
    * on every future compact() until a human intervened). */
  private[v2] def writeIntent(dir: String, intent: Intent): java.io.File = {
    val tmp = new java.io.File(dir,
      s".inprogress.intent.${java.util.UUID.randomUUID()}")
    val o = new DataOutputStream(
      new BufferedOutputStream(EventLog.fs.openWrite(tmp), 1 << 12))
    try {
      o.write(IntentMagic)
      o.writeInt(intent.temps.length)
      intent.temps.foreach(EventLog.writeUtf(o, _))
      intent.entries.foreach(EventLog.writeEntry(o, _))
      o.writeInt(intent.inputs.length)
      intent.inputs.foreach(EventLog.writeUtf(o, _))
      o.writeInt(intent.cdcTemps.length)
      intent.cdcTemps.foreach(EventLog.writeUtf(o, _))
      o.writeInt(intent.inputEntries.length)
      intent.inputEntries.foreach(EventLog.writeEntry(o, _))
    } finally o.close()
    val f = new java.io.File(dir,
      IntentPrefix + java.util.UUID.randomUUID().toString)
    if (!EventLog.fs.rename(tmp, f))
      throw new java.io.IOException(
        s"graft-eventlog: could not journal intent ${f.getName}")
    f
  }

  private[v2] def readIntent(f: java.io.File): Intent = {
    val in = new DataInputStream(
      new BufferedInputStream(EventLog.fs.openRead(f), 1 << 12))
    try {
      EventLog.requireMagic(in, IntentMagic,
        s"graft-eventlog: ${f.getName} is not a compaction intent")
      val n = in.readInt()
      val temps = (0 until n).map(_ => EventLog.readUtf(in))
      val entries = (0 until n).map(_ => EventLog.readEntry(in))
      val inputs = (0 until in.readInt()).map(_ => EventLog.readUtf(in))
      val cdc = (0 until in.readInt()).map(_ => EventLog.readUtf(in))
      val inputEntries =
        (0 until in.readInt()).map(_ => EventLog.readEntry(in))
      Intent(temps, entries, inputs, cdc.toSeq, inputEntries.toSeq)
    } finally in.close()
  }

  /** Finish or undo every intent a crashed compaction left in `dir`.
    * Idempotent — safe to call any number of times. `minAgeMs` is the
    * MULTI-MAINTAINER liveness gate (round-11 review follow-up): an
    * intent younger than it may belong to a LIVE concurrent op
    * mid-swap — rolling that back would destroy in-flight work, so
    * entry points pass [[EventLog.CommitLockStaleMs]] and only
    * genuinely stale intents recover automatically (a crashed op's
    * intent recovers on the first maintenance run after the window;
    * direct `recover(dir)` calls stay eager for explicit repair). */
  private[v2] def recover(dir: String, minAgeMs: Long = 0L): Int = {
    val cutoffLive = System.currentTimeMillis() - minAgeMs
    val intents = EventLog.fs.listFiles(new java.io.File(dir))
      .filter(f => f.getName.startsWith(IntentPrefix) &&
        EventLog.fs.lastModified(f) <= cutoffLive)
      .sortBy(_.getName)
    intents.foreach { f =>
      val it = readIntent(f)
      if (it.entries.forall(e => EventLog.fs.isFile(new java.io.File(dir, e.file)))) {
        // roll forward: every merged output is live — repoint the
        // manifest FIRST (the concurrent-reader visibility point),
        // then delete the redundant inputs. If a previous roll-forward
        // already appended (crash between append and intent clear), do
        // NOT append again: the double commit would mint a spurious
        // version whose changes-feed window could never be served.
        val m = EventLog.readManifest(dir)
        val applied = it.entries.forall(e => m.get(e.file).contains(e)) &&
          it.inputs.forall(!m.contains(_))
        if (applied) {
          // the commit already landed; find ITS seq among retained
          // commits so the CDC temps rename under the right version.
          // No retained commit matching (the commit folded into the
          // checkpoint) means the true seq is unknowable — renaming
          // the temps under a guessed seq (e.g. currentVersion) would
          // attribute the rewrite's change rows to an UNRELATED live
          // commit in the typed feed; delete them instead
          // (commit-without-parts refuses loudly, the honest bound).
          EventLog.commitHistory(dir).collect {
            case (v, adds, _) if it.entries.forall(e =>
              adds.exists(_.file == e.file)) => v
          }.lastOption match {
            case Some(seq) => commitCdcTemps(dir, it.cdcTemps, seq)
            case None =>
              it.cdcTemps.foreach(t => EventLog.fs.delete(new java.io.File(dir, t)))
          }
          if (EventLog.readRetention(dir).isEmpty)
            it.inputs.foreach(n => deleteWithSidecars(dir, n))
        } else {
          // roll forward — CHECKED like any rewrite commit: if a
          // competing rewrite landed on the same inputs after the
          // crash, re-applying this intent would resurrect rows the
          // competitor already rewrote. The conflict turns the roll
          // FORWARD into a roll BACK (outputs deleted; the inputs'
          // rows live in the competitor's outputs).
          try {
            val seq = EventLog.appendManifestChecked(dir, it.entries,
              removes = it.inputs, mustBeLive = it.inputs,
              expectedEntries = it.inputEntries.map(e => e.file -> e).toMap)
            commitCdcTemps(dir, it.cdcTemps, seq)
            if (EventLog.readRetention(dir).isEmpty)
              it.inputs.foreach(n => deleteWithSidecars(dir, n))
          } catch { case _: ConcurrentRewriteException =>
            it.entries.foreach(e => EventLog.fs.delete(new java.io.File(dir, e.file)))
            it.temps.foreach(t => EventLog.fs.delete(new java.io.File(dir, t)))
            it.cdcTemps.foreach(t => EventLog.fs.delete(new java.io.File(dir, t)))
          }
        }
      } else {
        // roll back: the replacement never fully became visible — drop
        // the partial outputs and temps; every input is still alive
        // (inputs are deleted only after the last rename) and the
        // manifest was never touched
        it.entries.foreach(e => EventLog.fs.delete(new java.io.File(dir, e.file)))
        it.temps.foreach(t => EventLog.fs.delete(new java.io.File(dir, t)))
        it.cdcTemps.foreach(t => EventLog.fs.delete(new java.io.File(dir, t)))
      }
      if (!EventLog.fs.delete(f))
        throw new java.io.IOException(
          s"graft-eventlog: could not clear intent ${f.getName}")
    }
    // orphan temps (a crash BEFORE any intent was journaled, or mid
    // intent-write): no stale intent references them — but a LIVE
    // concurrent op's temps look identical, so the same liveness gate
    // applies: only temps older than the window sweep
    EventLog.fs.listFiles(new java.io.File(dir))
      .filter(f => (f.getName.startsWith(".inprogress.compact.") ||
        f.getName.startsWith(".inprogress.intent.") ||
        f.getName.startsWith(".inprogress.cdc.")) &&
        EventLog.fs.lastModified(f) <= cutoffLive)
      .foreach(EventLog.fs.delete(_))
    intents.size
  }

  /** Rename a commit's CDC part temps under its now-known seq —
    * idempotent: temps a previous attempt already renamed are simply
    * absent. */
  private def commitCdcTemps(dir: String, cdcTemps: Seq[String],
      seq: Long): Unit =
    cdcTemps.foreach { t =>
      val tmp = new java.io.File(dir, t)
      if (EventLog.fs.isFile(tmp)) {
        val fin = new java.io.File(dir, EventLogCdc.partName(seq))
        if (!EventLog.fs.rename(tmp, fin))
          throw new java.io.IOException(
            s"graft-eventlog: could not commit CDC part ${fin.getName}")
      }
    }

  /** Z-ORDER in-task budget: a day at or below it clusters in ONE
    * task's memory (lowest latency — the whole-day sort is a local
    * array sort); a day ABOVE it routes to the DISTRIBUTED path
    * ([[zorderDistributed]]): the same rank-normalized curve computed
    * with Spark sorts (which spill), so no day is ever refused and no
    * executor ever holds more than one output chunk. 64M records ≈
    * 4 GB of tuples — the edge of comfortable for one task. */
  val ZOrderDayCap: Int = 64 * 1024 * 1024

  /** Bit-interleave two 20-bit values (`a` in the odd positions, `b`
    * in the even) — the Z-curve index of a (ts-rank, user-rank) cell. */
  private[v2] def interleave20(a: Long, b: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 20) {
      z |= ((a >> i) & 1L) << (2 * i + 1)
      z |= ((b >> i) & 1L) << (2 * i)
      i += 1
    }
    z
  }

  /** Compact `dir`: merge every UTC day holding more than one file into
    * chunks of at most `maxRecordsPerFile` records, then commit
    * group-by-group under the intent journal. Offline maintenance: no
    * concurrent readers or writers (see class doc).
    *
    * `zorder = false` (default): records sort by (ts_us, event_id) —
    * ts zone locality plus determinism, the append-tail layout.
    *
    * `zorder = true`: each day sorts by the Z-VALUE of
    * (ts_us, user_id) — both dimensions rank-normalized within the day
    * to 20 bits and bit-interleaved, the Delta `OPTIMIZE ZORDER BY`
    * shape. Consecutive chunks then cover RECTANGLES of the
    * (ts, user) plane instead of ts stripes, so the manifest's per-file
    * user_id bounds (the GRAFTML4 zone lane) become selective: a
    * `user_id` range predicate prunes whole files the same way `ts_us`
    * ranges always have. Rank normalization (not raw values) keeps the
    * curve balanced under skewed id distributions — equal-population
    * cells, the same reason Delta interleaves range-partition ids.
    * Within a chunk rows re-sort by (ts_us, event_id), so readers and
    * zone maps see the same row order either way; the CONTENT of each
    * day is identical under both layouts (exactly-once through the
    * merge), only the day→chunk assignment changes. */
  def compact(spark: SparkSession, dir: String,
      maxRecordsPerFile: Int = 8 * 1024 * 1024,
      zorder: Boolean = false,
      zorderDayCap: Int = ZOrderDayCap): Stats = {
    // the whole eventlog format is java.io.File-based (a LOCAL-filesystem
    // store by construction), so the executor-parallel merge below is
    // only correct when executors see the driver's filesystem — i.e.
    // local mode, or a shared mount presented as one. Assert rather than
    // scatter temp files onto worker-local disks the driver then cannot
    // rename: a distributed deployment of this format would put the
    // store on a shared/POSIX mount and still satisfy this check's
    // intent, but Spark can't verify a mount, so local mode is the
    // enforceable contract
    require(spark.sparkContext.isLocal || (EventLog.fs ne LocalGelFs),
      "graft-eventlog compact: the store is a local-filesystem format; " +
        "the executor-parallel merge requires driver and executors to " +
        "share one filesystem (local mode), or an explicitly installed " +
        "shared-mount GelFs (EventLog.fs) on every JVM.")
    val recovered = recover(dir, EventLog.CommitLockStaleMs)
    // schema evolution: the whole pipeline below threads the store's
    // added-column lanes (registry order) through read, sort, and
    // write, so extended stores compact and re-cluster like base ones
    val extAdded = EventLogSchema.read(dir)
    val extCols: Seq[String] = extAdded.map(_.name)
    val extWire: Seq[EventLog.ExtraCol] = extAdded.map(_.wire)
    val maps = EventLog.zoneMaps(dir)
    // the plan-time manifest snapshot: journaled per intent so the
    // conflict-checked commit (and any crash recovery of it) can
    // detect a competitor's in-place update on these inputs
    val manAtPlan = EventLog.readManifest(dir)
    val filesBefore = maps.size
    // day key from the zone map's minTs: our writer splits days
    // exactly; a foreign file spanning days just lands (correctly,
    // less selectively) in its first day's merged output. Bucketed
    // stores group by (day, bucket) so compaction PRESERVES the
    // co-partitioned layout the scans report
    val allGroups = maps
      .groupBy { case (f, h) => (Math.floorDiv(h.minTs, 86400000000L),
        EventLog.bucketOfName(f.getName)) }
      // plain: only fragmented days need work. zorder: also re-layout
      // single oversized files (the split is what makes user bounds
      // selective) — an already-clustered day that fits stays put
      .filter { case (_, fs) =>
        fs.size > 1 || (zorder && fs.exists(_._2.count > maxRecordsPerFile))
      }
      .toSeq.sortBy { case ((day, b), _) => (day, b.getOrElse(-1)) }
      .map { case (key, fs) =>
        (key, fs.map(_._1.getAbsolutePath),
          fs.iterator.map(_._2.count.toLong).sum)
      }
    // days above the in-task budget route to the DISTRIBUTED z-sort
    // (Spark sorts spill; one task never holds more than a chunk) —
    // plain compaction streams and has no such budget
    val (bigDays, smallGroups) = allGroups.partition { case (_, _, n) =>
      zorder && n > zorderDayCap
    }
    val groups = smallGroups.map { case (key, paths, _) => (key, paths) }

    // merge on EXECUTORS — one task per fragmented day; the driver only
    // sequences the per-group commits afterwards. Memory is bounded by
    // O(largest input file + one output chunk), never the whole day:
    // inputs stream in sorted-name order and each chunk sorts LOCALLY
    // by (ts, id) before encode — when a day fits one chunk (the normal
    // case) that is the full-day sort; across chunks the zone maps stay
    // exact and only inter-chunk ts clustering is traded for the bound.
    // Chunks also close on the format's 256-type dictionary cap, so a
    // day fragmented by many single-type writers always compacts.
    val dirProbeB = dir
    val merged: Seq[((Long, Option[Int]), Intent)] =
      if (groups.isEmpty) Nil
      else EventLog.withFsProbe(dir) { probeToken =>
        spark.sparkContext.parallelize(groups, groups.size).map {
        case ((day, bucket), paths) =>
          EventLog.taskFsCheck(dirProbeB, probeToken)
          type Rec = (Long, Long, Long, String, Long)
          type Row = (Rec, Array[AnyRef])
          val dirOfDay = new java.io.File(paths.head).getParent
          val bTag = bucket.map(b => f"b$b%04d-").getOrElse("")
          val outs = scala.collection.mutable.ArrayBuffer
            .empty[(String, EventLog.ManifestEntry)]
          var chunk = scala.collection.mutable.ArrayBuffer.empty[Row]
          var types = scala.collection.mutable.Set.empty[String]
          def flush(): Unit = if (chunk.nonEmpty) {
            val uuid = java.util.UUID.randomUUID().toString.take(8)
            val tmp = new java.io.File(dirOfDay, s".inprogress.compact.$uuid")
            val fin = f"day_$day%05d-" + bTag + s"c$uuid.gel"
            val sorted = chunk.sortBy(r => (r._1._2, r._1._1))
            outs += ((tmp.getName, EventLog.writeGelFile(tmp, fin,
              sorted.map(_._1), extWire, sorted.map(_._2))))
            chunk = scala.collection.mutable.ArrayBuffer.empty
            types = scala.collection.mutable.Set.empty
          }
          // LIVE records only (committed deletion vectors applied):
          // compaction folds DVs away — the output carries live rows
          // under new names, and the swap deletes the masks with their
          // inputs. Added-column lanes travel alongside, aligned to
          // the registry (null where a file predates a column).
          def liveOf(p: String): Seq[Row] = {
            val f = new java.io.File(p)
            EventLog.readLiveRecords(f.getParent, f.getName, extCols)
          }
          val ordered: Iterator[Row] =
            if (!zorder)
              paths.sorted.iterator.flatMap(p => liveOf(p).iterator)
            else {
              val all = paths.sorted
                .flatMap(p => liveOf(p))
                .toIndexedSeq
              // routing guarantee, not a user-facing bound: oversized
              // days went to the distributed path before this job
              require(all.size <= zorderDayCap,
                s"graft-eventlog zorder: day $day grew past the in-task " +
                  s"budget ($zorderDayCap) between planning and the " +
                  "task — the store changed under an offline " +
                  "maintenance op; re-run compaction")
              val n = all.size
              // rank-normalize each dimension within the day (ties
              // broken by event_id for determinism), scale to 20 bits
              val tsRank = new Array[Int](n)
              val userRank = new Array[Int](n)
              all.indices.sortBy(i => (all(i)._1._2, all(i)._1._1))
                .zipWithIndex.foreach { case (i, r) => tsRank(i) = r }
              all.indices.sortBy(i => (all(i)._1._3, all(i)._1._1))
                .zipWithIndex.foreach { case (i, r) => userRank(i) = r }
              def scale(rank: Int): Long =
                if (n <= 1) 0L else rank.toLong * 1048575L / (n - 1)
              val zv = all.indices.map(i =>
                interleave20(scale(tsRank(i)), scale(userRank(i))))
              all.indices.sortBy(i => (zv(i), all(i)._1._2, all(i)._1._1))
                .iterator.map(all)
            }
          ordered.foreach { r =>
            if (chunk.size >= maxRecordsPerFile ||
                (types.size >= 256 && !types(r._1._4))) flush()
            chunk += r
            types += r._1._4
          }
          flush()
          ((day, bucket), Intent(outs.map(_._1).toSeq, outs.map(_._2).toSeq,
            paths.map(p => new java.io.File(p).getName)))
        }.collect().toSeq
          .sortBy { case ((day, b), _) => (day, b.getOrElse(-1)) }
      }

    // oversized days: the DISTRIBUTED z-sort, one day at a time (each
    // is its own multi-stage Spark job), identical output contract
    val bigMerged: Seq[((Long, Option[Int]), Intent)] =
      bigDays.map { case ((day, bucket), paths, _) =>
        ((day, bucket),
          zorderDistributed(spark, dir, day, bucket, paths,
            maxRecordsPerFile, extAdded))
      }

    // commit each group: intent → rename ALL outputs in → delete inputs
    // → manifest → clear intent (recover() names every crash window).
    // Each group's commit journals an EMPTY CDC part — "this commit
    // changed no rows" stated explicitly, so the changes feed streams
    // a compaction as zero rows instead of refusing on its removes.
    (merged ++ bigMerged).sortBy { case ((day, b), _) =>
      (day, b.getOrElse(-1))
    }.foreach { case (_, it) =>
      commitSwap(dir, it.copy(
        cdcTemps = Seq(EventLogCdc.writeTemp(dir, Nil)),
        inputEntries = it.inputs.flatMap(manAtPlan.get)))
    }
    Stats(recovered, merged.size + bigMerged.size, filesBefore,
      EventLog.listFiles(dir).size)
  }

  /** The DISTRIBUTED z-order of one oversized (day, bucket) group —
    * the same rank-normalized curve as the in-task path, computed with
    * Spark sorts so memory never exceeds one output chunk per task:
    *
    *  1. records enumerate with a stable global index (file-name
    *     order, in-file order — exactly the in-task enumeration);
    *  2. each dimension's EXACT rank comes from a distributed
    *     `sortByKey` + `zipWithIndex` over ((value, id, gidx)) — the
    *     same total order the in-task stable sort realizes, so ranks
    *     are IDENTICAL, not approximate;
    *  3. ranks join back on gidx, the Z-value orders a final
    *     distributed sort, and chunks cut at exact positions
    *     (idx / maxRecordsPerFile);
    *  4. each chunk's task re-sorts its rows by (ts, id, z-position) —
    *     the in-task flush's stable (ts, id) sort spelled out — and
    *     writes one temp; only names and entries return to the driver.
    *
    * Output chunks are BYTE-IDENTICAL to the in-task path's (same
    * global z-sequence, same cut positions, same within-chunk order,
    * same encoder) — `EventLogZOrderSpec` pins the parity at a forced
    * 1-record budget. Sorts and joins spill through Spark's machinery;
    * the only memory proportional to anything is the one chunk a task
    * buffers before encode, the writer contract everywhere else. */
  private[v2] def zorderDistributed(spark: SparkSession, dir: String,
      day: Long, bucket: Option[Int], paths: Seq[String],
      maxRecordsPerFile: Int,
      extAdded: Seq[EventLogSchema.AddedCol] = Nil): Intent = {
    type Rec = (Long, Long, Long, String, Long)
    type Row = (Rec, Array[AnyRef])
    val extCols = extAdded.map(_.name)
    val extWire = extAdded.map(_.wire)
    val sc = spark.sparkContext
    val par = math.max(sc.defaultParallelism, paths.size)
    val base = sc.parallelize(paths.sorted, paths.size)
      .flatMap { p =>
        val f = new java.io.File(p)
        EventLog.readLiveRecords(f.getParent, f.getName, extCols)
      }
      .zipWithIndex() // gidx: partition order == sorted file order
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = base.count()
    def scale(rank: Long): Long =
      if (n <= 1) 0L else rank * 1048575L / (n - 1)
    // exact per-dimension ranks: ties break by (id, gidx), the total
    // order a stable in-memory sort over gidx-sequence realizes
    val tsRank = base.map { case ((r, _), g) => ((r._2, r._1, g), g) }
      .sortByKey(ascending = true, numPartitions = par)
      .values.zipWithIndex() // (gidx, tsRank)
    val userRank = base.map { case ((r, _), g) => ((r._3, r._1, g), g) }
      .sortByKey(ascending = true, numPartitions = par)
      .values.zipWithIndex()
    val zOrdered = base.map { case (row, g) => (g, row) }
      .join(tsRank.join(userRank, par), par)
      .map { case (g, (row, (tr, ur))) =>
        ((interleave20(scale(tr), scale(ur)), row._1._2, row._1._1, g), row)
      }
      .sortByKey(ascending = true, numPartitions = par)
      .values.zipWithIndex()
    val bTag = bucket.map(b => f"b$b%04d-").getOrElse("")
    val probeToken = EventLog.beginFsProbe(dir)
    val outs = try zOrdered
      .map { case (r, idx) => (idx / maxRecordsPerFile, (idx, r)) }
      .groupByKey(par)
      .flatMap { case (chunk, rows) =>
        EventLog.taskFsCheck(dir, probeToken)
        // shuffle order is arbitrary; (ts, id, z-position) restores
        // exactly the in-task flush's stable sort
        val sorted = rows.toSeq
          .sortBy { case (idx, row) => (row._1._2, row._1._1, idx) }
          .map(_._2)
        // the format's 256-type dictionary cap sub-splits a chunk in
        // order, exactly like the in-task flush (boundaries match the
        // in-task path whenever a chunk stays under the cap — the
        // normal case)
        val subs = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
        var cur = scala.collection.mutable.ArrayBuffer.empty[Row]
        var types = scala.collection.mutable.Set.empty[String]
        sorted.foreach { row =>
          if (types.size >= 256 && !types(row._1._4)) {
            subs += cur.toSeq
            cur = scala.collection.mutable.ArrayBuffer.empty
            types = scala.collection.mutable.Set.empty
          }
          cur += row
          types += row._1._4
        }
        if (cur.nonEmpty) subs += cur.toSeq
        subs.zipWithIndex.map { case (rs, k) =>
          val uuid = java.util.UUID.randomUUID().toString.take(8)
          val tmp = new java.io.File(dir, s".inprogress.compact.$uuid")
          val fin = f"day_$day%05d-" + bTag + s"c$uuid.gel"
          ((chunk, k),
            (tmp.getName, EventLog.writeGelFile(tmp, fin, rs.map(_._1),
              extWire, rs.map(_._2))))
        }
      }
      .collect().sortBy(_._1).map(_._2).toSeq
    finally EventLog.endFsProbe(dir, probeToken)
    base.unpersist()
    Intent(outs.map(_._1), outs.map(_._2),
      paths.map(p => new java.io.File(p).getName))
  }

  /** The ONE file-swap commit sequence every rewriting maintenance op
    * shares (compaction groups, the whole of a merge): journal the
    * intent, rename ALL outputs in, delete the inputs, append ONE
    * manifest segment, clear the intent. Its ordering invariants are
    * load-bearing for [[recover]]'s two crash directions — inputs are
    * deleted only after the LAST rename (roll-back always finds them
    * alive), and the intent is cleared only after the manifest append
    * (roll-forward can always repoint) — which is exactly why it must
    * not be re-implemented per call site. */
  private[v2] def commitSwap(dir: String, it: Intent): Unit = {
    val intentFile = writeIntent(dir, it)
    it.temps.zip(it.entries).foreach { case (tmpName, entry) =>
      if (!EventLog.fs.rename(new java.io.File(dir, tmpName),
          new java.io.File(dir, entry.file)))
        throw new java.io.IOException(
          s"graft-eventlog: could not commit ${entry.file}")
    }
    // the MANIFEST APPEND is the visibility point for concurrent
    // readers (zoneMaps' arbitration: unmanifested maintenance
    // outputs are invisible, removed-but-listed inputs are invisible)
    // — so it lands BEFORE the input unlinks: a reader planning at any
    // instant sees exactly the pre-commit or the post-commit state,
    // never duplicates and never a gap.
    // CHECKED (round 11): under the store's commit lock the append
    // verifies every input this swap removes is STILL LIVE — two
    // rewrites racing on the same inputs resolve to exactly one
    // winner; the loser rolls its outputs back here and rethrows,
    // leaving the store exactly at the winner's state.
    val seq =
      try EventLog.appendManifestChecked(dir, it.entries,
        removes = it.inputs, mustBeLive = it.inputs,
        expectedEntries = it.inputEntries.map(e => e.file -> e).toMap)
      catch { case e: ConcurrentRewriteException =>
        it.entries.foreach(en => EventLog.fs.delete(new java.io.File(dir, en.file)))
        it.temps.foreach(t => EventLog.fs.delete(new java.io.File(dir, t)))
        it.cdcTemps.foreach(t => EventLog.fs.delete(new java.io.File(dir, t)))
        if (!EventLog.fs.delete(intentFile))
          throw new java.io.IOException(
            s"graft-eventlog: could not clear intent " +
              s"${intentFile.getName} while rolling back a conflicting " +
              "rewrite")
        throw e
      }
    commitCdcTemps(dir, it.cdcTemps, seq)
    // retention: replaced inputs stay on disk (removed-but-listed —
    // invisible to current planning) so protected VERSION AS OF views
    // keep their row reads; the expiry fold sweeps them later
    if (EventLog.readRetention(dir).isEmpty)
      it.inputs.foreach(n => deleteWithSidecars(dir, n))
    if (!EventLog.fs.delete(intentFile))
      throw new java.io.IOException(
        s"graft-eventlog: could not clear intent ${intentFile.getName}")
  }

  /** Delete a replaced data file AND its sidecars (bloom index, every
    * deletion-vector generation): a sidecar keyed to an unlinked file
    * is dead bytes nothing will ever read — sweeping it at the unlink
    * is cheaper than waiting for vacuum to find the orphan. */
  private[v2] def deleteWithSidecars(dir: String, name: String): Unit = {
    EventLog.fs.delete(new java.io.File(dir, name))
    EventLog.fs.delete(new java.io.File(dir, name + ".gelbloom"))
    EventLog.fs.listFiles(new java.io.File(dir))
      .filter(f => EventLog.sidecarDataFile(f.getName).contains(name))
      .foreach(EventLog.fs.delete(_))
  }
}
