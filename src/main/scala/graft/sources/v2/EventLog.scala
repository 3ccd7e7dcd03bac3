package graft.sources.v2

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graft-eventlog` — a complete DataSource V2 implementation of a
  * compact binary event-log format, the SOURCE-side extension ladder
  * the way [[graft.plans.AsOfJoinPlan]] is the operator-side one:
  * `TableProvider` → `Table` → `ScanBuilder` (filter pushdown + column
  * pruning) → `Batch` (file-level zone-map skipping) →
  * `PartitionReaderFactory`.
  *
  * Why it exists: ingest tails (fixed-record binary logs, proprietary
  * telemetry dumps) are exactly the data Parquet hasn't reached yet,
  * and the difference between "a naive reader" and "a planned source"
  * at 100 TB is this file's three levers:
  *
  *  - **Zone-map file skipping**: every file header carries
  *    (min ts, max ts) and its event-type dictionary; `ts_us` range
  *    predicates and `event_type` equality prune WHOLE FILES at
  *    planning time — the reader never opens them (the same trick as
  *    Parquet row-group statistics, surfaced through
  *    `SupportsPushDownFilters`). Conservative: accepted filters are
  *    also returned as residuals, so Spark re-evaluates them row-level
  *    and a wrong zone map can only over-read, never drop rows.
  *    Planning reads the zone maps from the commit-time HEADER MANIFEST
  *    (`_manifest.gelm`, one driver read for the whole store) — never
  *    one header open per file; per-file reads are only the fallback
  *    for files an external producer dropped in without a manifest row.
  *  - **Column pruning** (`SupportsPushDownRequiredColumns`): records
  *    are fixed-width, so an unneeded column is a `skipBytes`, not a
  *    decode — a 2-column projection reads 2 fields per record.
  *  - **One `InputPartition` per surviving file**: planning emits only
  *    what will be read; parallelism = surviving files, and each
  *    reader streams its file once, forward-only.
  *
  * Format (all big-endian, written by [[EventLogWriter]]):
  * {{{
  *   magic "GRAFTEL1" | int32 recordCount | int64 minTs | int64 maxTs
  *   | int32 nTypes | nTypes × (int32 len, UTF-8 bytes)     — header
  *   | recordCount × (int64 event_id, int64 ts_us, int64 user_id,
  *                    int8 typeOrdinal, int64 cents)        — records
  * }}}
  * A file carrying added columns ([[EventLogSchema]]) is written on the
  * extended wire instead ([[EventLog.Magic3]]); [[EventLog.writeGelFile]]
  * picks the wire, never its callers.
  *
  * Schema: `event_id, ts_us, user_id, cents` BIGINT; `event_type`
  * STRING (dictionary-encoded per file). The q281 query round-trips
  * the events table through this source against a DuckDB oracle on
  * the original parquet, so the wire format, the pruned decode, and
  * the skipping plan are all inside the correctness gate. */
/** Thrown by [[EventLog.appendManifestChecked]] when a rewrite commit's
  * inputs were already removed by a CONCURRENT rewrite — the operation
  * planned from a stale snapshot; its outputs are rolled back by the
  * caller and exactly one of the racing rewrites wins. */
class ConcurrentRewriteException(msg: String)
  extends IllegalStateException(msg)

object EventLog {

  /** The installed filesystem of THIS process — see [[fs]] for how
    * executor tasks may resolve differently. */
  @volatile private var installedFs: GelFs = LocalGelFs

  /** Launch-time Spark conf naming the [[GelFs]] implementation every
    * JVM of the application must use for eventlog stores (a
    * fully-qualified Scala `object`, or a class with a no-arg
    * constructor). Because it is a SparkConf entry it propagates to
    * executors automatically at submit time — the deployment story a
    * process-global variable alone cannot give (each executor JVM
    * would have to be code-patched). */
  val FsImplConfKey = "spark.graft.eventlog.fs.impl"

  private val taskFsCache =
    new java.util.concurrent.ConcurrentHashMap[String, GelFs]()

  private[v2] def loadFsImpl(name: String): GelFs =
    try Class.forName(name + "$").getField("MODULE$").get(null)
      .asInstanceOf[GelFs]
    catch {
      case _: ClassNotFoundException =>
        Class.forName(name).getDeclaredConstructor().newInstance()
          .asInstanceOf[GelFs]
    }

  /** The ACTIVE filesystem implementation behind every store path —
    * resolved at each operation (never captured in closures),
    * defaulting to the local mount. On the DRIVER this is the
    * process-installed implementation (assign `EventLog.fs = …`, or
    * set [[FsImplConfKey]] at submit and call [[installFsFromConf]]);
    * INSIDE A SPARK TASK, [[FsImplConfKey]] — which Spark propagates
    * to every executor — takes precedence, so a correctly-submitted
    * application resolves the same implementation in every JVM with
    * no code hook on the executors. Specs swap a chroot/counting fake
    * via [[withFs]] to prove the whole v2 package routes through it.
    *
    * Resolution alone is still only a CONTRACT — a task whose JVM
    * missed both the conf and the install silently resolves
    * [[LocalGelFs]]. That is why every maintenance op that writes
    * from tasks carries an fs PROBE ([[withFsProbe]]/[[taskFsCheck]]):
    * the driver drops a token file into the store through ITS fs and
    * each task must see it through the fs IT resolved before writing
    * a byte — a misconfigured executor refuses loudly instead of
    * scattering sidecars and merge outputs onto its local disk. */
  def fs: GelFs = {
    if (org.apache.spark.TaskContext.get() eq null) installedFs
    else {
      val env = org.apache.spark.SparkEnv.get
      if (env eq null) installedFs
      else {
        val impl = env.conf.get(FsImplConfKey, null)
        if (impl == null) installedFs
        else taskFsCache.computeIfAbsent(impl, loadFsImpl(_))
      }
    }
  }

  def fs_=(g: GelFs): Unit = installedFs = g

  /** Driver-side twin of the executor conf resolution: installs the
    * [[FsImplConfKey]] implementation in this process, so one
    * `--conf` serves every JVM. No-op when the conf is absent. Every
    * entry point (`Bench`, `Verify`, `EntrySmoke`, `ScaleSmoke`) calls
    * it right after building its session. */
  def installFsFromConf(spark: org.apache.spark.sql.SparkSession): Unit = {
    val impl = spark.sparkContext.getConf.get(FsImplConfKey, null)
    if (impl != null) installedFs = loadFsImpl(impl)
  }

  /** Token files proving task-side store visibility — named under the
    * `.inprogress.` prefix so a crashed op's leftover probe is swept
    * by vacuum's ordinary grace-period rule. */
  private def fsProbeFile(dir: String, token: String) =
    new java.io.File(dir, s".inprogress.fsprobe.$token")

  /** Drop a per-op visibility token into the store through the
    * DRIVER's fs; tasks verify they can see it through THEIRS
    * ([[taskFsCheck]]). Token-named, so concurrent maintenance ops
    * never trip over each other's probes. Pair with [[endFsProbe]]. */
  private[v2] def beginFsProbe(dir: String): String = {
    val token = java.util.UUID.randomUUID().toString.take(16)
    fs.writeAll(fsProbeFile(dir, token), Array[Byte](1))
    token
  }

  private[v2] def endFsProbe(dir: String, token: String): Unit = {
    fs.delete(fsProbeFile(dir, token)); ()
  }

  /** Run `body` with a per-op visibility token in the store: the
    * driver writes it through ITS fs, hands the token to `body` (which
    * ships it into task closures for [[taskFsCheck]]), and removes it
    * after. */
  private[v2] def withFsProbe[T](dir: String)(body: String => T): T = {
    val token = beginFsProbe(dir)
    try body(token)
    finally endFsProbe(dir, token)
  }

  /** The task-side half of the probe — the FIRST statement of every
    * maintenance task closure that writes into the store: the store
    * must be visible through the fs THIS JVM resolved, or the task's
    * writes would land somewhere the driver's commit can never see
    * (worker-local disk = silent store corruption). Refusal names the
    * fix. */
  private[v2] def taskFsCheck(dir: String, token: String): Unit = {
    if (!fs.isFile(fsProbeFile(dir, token)))
      throw new IllegalStateException(
        s"graft-eventlog: this task's filesystem (${fs.getClass.getName}) " +
          s"cannot see the store at $dir — the driver's probe token is " +
          "absent through it. Driver and executors must resolve the " +
          "SAME store filesystem: submit with " +
          s"--conf $FsImplConfKey=<your GelFs implementation> (or run " +
          "maintenance in local mode against the store's mount). " +
          "Refusing before writing a byte, so nothing landed on a " +
          "worker-local disk.")
  }

  /** Run `body` with `f` as the active filesystem, restoring the
    * previous one after — the spec hook (suites run sequentially in
    * the forked test JVM, so the global swap is race-free there). */
  def withFs[T](f: GelFs)(body: => T): T = {
    val prev = fs
    fs = f
    try body finally fs = prev
  }

  val Magic = "GRAFTEL1".getBytes("US-ASCII")
  /** Extended-file magic (schema evolution): the header additionally
    * names the ADDED columns present in this file, each with a TYPE
    * CODE (BIGINT / DOUBLE / STRING), and STRING columns a per-file
    * value dictionary; each record appends one lane per named column.
    * Records stay FIXED-WIDTH — every lane is (presence byte, int64):
    * the payload is the value (BIGINT), the IEEE-754 bits (DOUBLE), or
    * the dictionary index (STRING) — so offset skipping, column
    * pruning by byte-skip, and [[Header.recordBytes]] arithmetic are
    * untouched by type. The dictionary is the parquet trade: encode
    * buffers a file's rows anyway, so its distinct strings are free to
    * collect, and repeated values pay once. */
  val Magic3 = "GRAFTEL3".getBytes("US-ASCII")

  /** Added-column type codes on every typed wire (file header, CDC
    * parts, schema registry). */
  val ExtraBigint: Byte = 0
  val ExtraDouble: Byte = 1
  val ExtraString: Byte = 2

  /** An added column as the wire sees it: name + type code. In-memory
    * lane values are `java.lang.Long` / `java.lang.Double` / `String`
    * / null, matching the code. */
  case class ExtraCol(name: String, code: Byte)
  /** The `_file` METADATA column (store-relative data file name):
    * provenance for ordinary reads, and the GROUP KEY of copy-on-write
    * row-level SQL (UPDATE / MERGE INTO / expression DELETE). */
  val FileMetaCol = "_file"
  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts_us", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("cents", LongType, nullable = false)))

  /** Planning-time observability for specs (single-JVM local mode):
    * files pruned by zone maps vs planned for scanning, and per-file
    * HEADER OPENS (zero on a fully manifested store — planning reads
    * the one manifest file instead). */
  val skippedFiles = new AtomicLong(0)
  val plannedFiles = new AtomicLong(0)
  val headerReads = new AtomicLong(0)
  /** Full manifest-log parses (cache misses) — one per manifest CHANGE,
    * not one per plan. */
  val manifestParses = new AtomicLong(0)
  /** Bytes written as append-only manifest delta segments (O(batch) per
    * commit) vs as checkpoint folds (amortized). */
  val manifestDeltaBytes = new AtomicLong(0)
  val manifestCheckpointBytes = new AtomicLong(0)
  val manifestCheckpoints = new AtomicLong(0)
  /** Runtime (join-driven) filter batches delivered to scans. */
  val runtimeFilterCalls = new AtomicLong(0)
  /** Files never planned because a pushed LIMIT was already covered. */
  val limitPrunedFiles = new AtomicLong(0)
  /** Files never planned because a pushed OFFSET skips them whole. */
  val offsetPrunedFiles = new AtomicLong(0)
  /** Fields decoded per record by the most recent reader factory. */
  val lastDecodedFields = new AtomicLong(-1)

  /** `users` / `ids` are the OPTIONAL `user_id` / `event_id` zone
    * lanes: present when the file's manifest entry carries them (`.gel`
    * file headers themselves never do). None admits every predicate on
    * that column, so boundless entries and header-fallback files can
    * only over-read, never drop. The ids lane is the KEY lane: day
    * files of a sequential-id feed carry tight disjoint ranges, so a
    * point lookup opens one file and a MERGE match pass decodes only
    * files whose range intersects the batch's keys. */
  case class Header(count: Int, minTs: Long, maxTs: Long,
    types: Seq[String], users: Option[(Long, Long)] = None,
    ids: Option[(Long, Long)] = None,
    extras: Seq[String] = Nil,
    extraTypes: Seq[Byte] = Nil,
    extraDicts: Seq[IndexedSeq[String]] = Nil) {
    /** This file's physical record width: base fields plus one
      * (presence byte, int64) pair per added column it carries —
      * FIXED regardless of added-column type (the typed wire keeps
      * lanes 9 bytes; strings dictionary-encode in the header). */
    def recordBytes: Int = RecordBytes + 9 * extras.size
  }

  def readHeader(in: DataInputStream): Header = {
    val magic = new Array[Byte](Magic.length)
    in.readFully(magic)
    val typed = java.util.Arrays.equals(magic, Magic3)
    require(typed || java.util.Arrays.equals(magic, Magic),
      "graft-eventlog: bad magic — not an eventlog file")
    val count = in.readInt()
    val minTs = in.readLong()
    val maxTs = in.readLong()
    val nTypes = in.readInt()
    val types = (0 until nTypes).map { _ =>
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      new String(b, "UTF-8")
    }
    if (typed) {
      val n = in.readInt()
      val names = new Array[String](n)
      val codes = new Array[Byte](n)
      val dicts = new Array[IndexedSeq[String]](n)
      var j = 0
      while (j < n) {
        names(j) = readUtf(in)
        codes(j) = in.readByte()
        dicts(j) =
          if (codes(j) == ExtraString)
            IndexedSeq.tabulate(in.readInt())(_ => readUtf(in))
          else IndexedSeq.empty
        j += 1
      }
      Header(count, minTs, maxTs, types, extras = names.toSeq,
        extraTypes = codes.toSeq, extraDicts = dicts.toSeq)
    } else Header(count, minTs, maxTs, types)
  }

  def listFiles(dir: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    require(EventLog.fs.isDirectory(d), s"graft-eventlog: $dir is not a directory")
    EventLog.fs.listFiles(d).filter(_.getName.endsWith(".gel"))
      .sortBy(_.getName)
  }

  /** Open `f`, read its header, close — the planning-time FALLBACK for
    * files the manifest does not cover (an external producer, a store
    * written before the manifest existed). Counted: a fully manifested
    * store must plan with ZERO of these. */
  def readHeaderOf(f: java.io.File): Header = {
    headerReads.incrementAndGet()
    val in = new DataInputStream(
      new BufferedInputStream(EventLog.fs.openRead(f), 1 << 12))
    try readHeader(in) finally in.close()
  }

  /** Base record width: int64 ×4 + one dictionary byte. Extended files
    * add 9 bytes per added column — use [[Header.recordBytes]]. */
  val RecordBytes = 33

  /** Skip `n` whole records of `width` bytes — chunked so the byte
    * count never overflows Int even for the largest files. */
  def skipRecords(in: DataInputStream, n: Int,
      width: Int = RecordBytes): Unit = {
    var left = n
    while (left > 0) {
      // 2^20 records × width stays far under Int.MaxValue for any sane
      // added-column count (the registry is human-scale by design)
      val c = math.min(left, 1 << 20)
      skipFully(in, c * width)
      left -= c
    }
  }

  /** DataInputStream.skipBytes may skip fewer bytes than asked. */
  def skipFully(in: DataInputStream, n: Int): Unit = {
    var left = n
    while (left > 0) {
      val s = in.skipBytes(left)
      if (s <= 0) { in.readByte(); left -= 1 } else left -= s
    }
  }

  // ------------------------------------------------------------ manifest

  /** The commit-time header manifest — an INCREMENTAL LOG. WHY: zone-map
    * planning that opens every file's header one-by-one on the driver is
    * correct at test scale but a single-threaded stall at 100 TB /
    * O(10⁶) files — the round-7 bottleneck the single-file manifest
    * fixed. Round 8's single-file form had the next-rung cost the audit
    * named: every job commit read, merged, and REWROTE the whole
    * manifest (O(store) write amplification per append) and every plan
    * re-parsed it. This round applies the Delta-log pattern:
    *
    *  - **Delta segments** `_manifest.<seq>.<uuid>.gelmd` (GRAFTMD2):
    *    each job commit writes ONE new segment holding only its own adds
    *    and removes — O(batch) bytes, never O(store). Segments are
    *    immutable once renamed in; two writer PROCESSES each write their
    *    own segment, so a concurrent commit can no longer lose another's
    *    entries (the round-8 lost-update exposure).
    *  - **Checkpoint** `_manifest.gelm` (GRAFTML4, carrying the highest
    *    segment seq it folded): when the segment count reaches
    *    [[CheckpointEvery]], the merged state is rewritten as one
    *    checkpoint and the absorbed segments are deleted — amortized
    *    O(batch) per commit, and reads stay O(checkpoint + few
    *    segments), never O(commits-ever).
    *  - **Versions**: segment seq numbers double as VERSIONS — version
    *    N is the store after manifest commit N (version 0 = empty), so
    *    `.option("version", n)` reads a consistent SNAPSHOT
    *    ([[readManifestAsOf]]: checkpoint-if-folded-at-or-below plus
    *    segments ≤ n) and `.option("changes.from", a)` +
    *    `.option("changes.to", b)` reads only the files ADDED in
    *    (a, b] ([[changedEntries]] — the CDC window an incremental
    *    consumer tails). Both are bounded by retention and say so
    *    loudly: a version below the checkpoint fold, a changes window
    *    crossing it, a window containing removes (compaction/delete
    *    rewrote history), or a referenced file that was since
    *    compacted away all REFUSE with the bound spelled out — never a
    *    silently partial answer.
    *  - **Cached reads**: [[readManifest]] keys a driver-side cache on
    *    the manifest files' (name, length, mtime-nanos) — repeated plans
    *    and micro-batches parse once per manifest CHANGE, not once per
    *    query.
    *
    * Crash windows: segment and checkpoint writes are temp-and-rename
    * (never torn); a crash between the checkpoint rename and the segment
    * deletes just re-applies absorbed segments over a checkpoint that
    * already contains them — adds overwrite identical entries and
    * removes of absent names are no-ops. (Since round 10 planning
    * derives manifested files FROM the manifest, so a resurrected
    * entry whose bytes a later commit unlinked would surface as a
    * LOUD missing-file read, never a silent wrong answer; the
    * roll-forward's already-applied check exists precisely so
    * recovery cannot mint one.) Absorbed
    * segments are deleted oldest-first so a partial delete always leaves
    * a SUFFIX of the log (a replayed add can never outlive the later
    * segment that removed it).
    *
    * Entries carry PER-TYPE record counts and PER-TYPE cent sums (file
    * headers carry neither), so `COUNT(*) GROUP BY event_type` and
    * `SUM(cents) GROUP BY event_type` are answered metadata-only — the
    * grouped twins of the header-stats pushdown.
    *
    * Checkpoint format (big-endian):
    * {{{
    *   magic "GRAFTML4" | int64 foldedThrough | int32 nEntries
    *     | nEntries × entry
    *   entry := int32 nameLen, UTF-8 name | int32 count | int64 minTs
    *     | int64 maxTs | int32 nTypes | nTypes × (int32 len, UTF-8
    *     type, int64 typeCount) | int8 hasSums
    *     | hasSums × nTypes × int64 typeSum
    *     | int8 hasUsers | hasUsers × (int64 minUser, int64 maxUser)
    *     | int8 hasIds | hasIds × (int64 minId, int64 maxId)
    * }}}
    * Segment format:
    * {{{
    *   magic "GRAFTMD2" | int32 nRemoves | nRemoves × (int32 len, UTF-8
    *   name) | int32 nAdds | nAdds × entry
    * }}} */
  val ManifestMagic = "GRAFTML4".getBytes("US-ASCII")
  val SegmentMagic = "GRAFTMD2".getBytes("US-ASCII")
  val ManifestName = "_manifest.gelm"
  val CheckpointEvery = 16

  /** Header facts plus the per-type breakdowns only the writer can know
    * cheaply. Each lane is optional on the wire (its `has*` byte):
    * `typeSums` None keeps per-type COUNT pushdown working while
    * per-type SUM pushdown refuses. `userBounds` (min/max `user_id` —
    * the round-9 zone lane Z-order clustering makes selective) and
    * `idBounds` (min/max `event_id` — the KEY lane: point lookups and
    * merge match passes prune on it) None make predicates on those
    * columns admit the file, so a boundless entry only over-reads. */
  case class ManifestEntry(file: String, count: Int, minTs: Long,
      maxTs: Long, types: Seq[String], typeCounts: Seq[Long],
      typeSums: Option[Seq[Long]] = None,
      userBounds: Option[(Long, Long)] = None,
      idBounds: Option[(Long, Long)] = None) {
    def header: Header =
      Header(count, minTs, maxTs, types, userBounds, idBounds)
  }

  private[v2] def readUtf(in: DataInputStream): String = {
    val b = new Array[Byte](in.readInt())
    in.readFully(b)
    new String(b, "UTF-8")
  }

  /** Read a file's magic and require it to be `magic` — the version
    * check every eventlog file kind shares: a file of any other
    * version fails here, loudly, before a byte of it is decoded. */
  private[v2] def requireMagic(in: DataInputStream, magic: Array[Byte],
      refusal: => String): Unit = {
    val got = new Array[Byte](magic.length)
    in.readFully(got)
    require(java.util.Arrays.equals(got, magic), refusal)
  }

  private[v2] def writeUtf(o: DataOutputStream, s: String): Unit = {
    val b = s.getBytes("UTF-8")
    o.writeInt(b.length); o.write(b)
  }

  private[v2] def readEntry(in: DataInputStream): ManifestEntry = {
    val name = readUtf(in)
    val count = in.readInt()
    val minTs = in.readLong()
    val maxTs = in.readLong()
    val pairs = (0 until in.readInt()).map(_ => (readUtf(in), in.readLong()))
    val sums = if (in.readByte() == 1)
      Some(pairs.indices.map(_ => in.readLong()))
    else None
    val users = if (in.readByte() == 1)
      Some((in.readLong(), in.readLong()))
    else None
    val ids = if (in.readByte() == 1)
      Some((in.readLong(), in.readLong()))
    else None
    ManifestEntry(name, count, minTs, maxTs, pairs.map(_._1),
      pairs.map(_._2), sums, users, ids)
  }

  private[v2] def writeEntry(o: DataOutputStream, e: ManifestEntry): Unit = {
    writeUtf(o, e.file)
    o.writeInt(e.count); o.writeLong(e.minTs); o.writeLong(e.maxTs)
    o.writeInt(e.types.length)
    e.types.zip(e.typeCounts).foreach { case (t, c) =>
      writeUtf(o, t); o.writeLong(c)
    }
    e.typeSums match {
      case Some(sums) =>
        require(sums.length == e.types.length,
          s"graft-eventlog: ${e.file} has ${e.types.length} types but " +
            s"${sums.length} per-type sums")
        o.writeByte(1); sums.foreach(o.writeLong)
      case None => o.writeByte(0)
    }
    e.userBounds match {
      case Some((lo, hi)) => o.writeByte(1); o.writeLong(lo); o.writeLong(hi)
      case None => o.writeByte(0)
    }
    e.idBounds match {
      case Some((lo, hi)) => o.writeByte(1); o.writeLong(lo); o.writeLong(hi)
      case None => o.writeByte(0)
    }
  }

  private def mtimeNanos(f: java.io.File): Long = fs.mtimeNanos(f)

  /** The dir's manifest files: (checkpoint if present, segments in name
    * = seq order). */
  private def manifestFiles(d: java.io.File)
      : (Option[java.io.File], Seq[java.io.File]) = {
    val all = EventLog.fs.listFiles(d)
    val ck = all.find(_.getName == ManifestName)
    val segs = all.filter(f => isSegmentName(f.getName)).sortBy(_.getName)
    (ck, segs.toSeq)
  }

  private val SegmentName = """_manifest\.(\d{8})\.[0-9a-f]+\.gelmd""".r

  def isSegmentName(name: String): Boolean = SegmentName.matches(name)

  /** Is `name` part of the manifest log (checkpoint or segment)? Specs
    * and store-shape assertions use this to separate data from
    * metadata. */
  def isManifestFile(name: String): Boolean =
    name == ManifestName || isSegmentName(name)

  /** Remove the ENTIRE manifest log of `dir` — the spec/maintenance
    * helper for simulating a pre-manifest or foreign-producer store. */
  def deleteManifest(dir: String): Unit = synchronized {
    val (ck, segs) = manifestFiles(new java.io.File(dir))
    (ck.toSeq ++ segs).foreach(f => require(EventLog.fs.delete(f),
      s"graft-eventlog: could not delete ${f.getName}"))
  }

  // (content-key, parsed state) per canonical dir — repeated plans and
  // micro-batches of an unchanged store parse the manifest ONCE
  private val manifestCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Map[String, ManifestEntry])]()

  /** The checkpoint's fold point from its 16-byte prefix alone — the
    * O(1) read [[appendManifest]] needs for seq numbering and
    * [[currentVersion]] on every change-feed trigger, without parsing
    * the whole entry list. */
  private def checkpointFoldedThrough(f: java.io.File): Long = {
    val in = new DataInputStream(EventLog.fs.openRead(f))
    try { requireCheckpointMagic(in); in.readLong() } finally in.close()
  }

  private def requireCheckpointMagic(in: DataInputStream): Unit =
    requireMagic(in, ManifestMagic,
      s"graft-eventlog: $ManifestName has bad magic — not a manifest")

  /** (foldedThrough, entries): foldedThrough is the highest segment seq
    * the checkpoint absorbed — the retention floor of version reads. */
  private def parseCheckpoint(f: java.io.File)
      : (Long, Map[String, ManifestEntry]) = {
    val in = new DataInputStream(
      new BufferedInputStream(EventLog.fs.openRead(f), 1 << 16))
    try {
      requireCheckpointMagic(in)
      val folded = in.readLong()
      (folded, (0 until in.readInt()).map { _ =>
        val e = readEntry(in)
        e.file -> e
      }.toMap)
    } finally in.close()
  }

  // segments are immutable once renamed in, so a (path, length, mtime)
  // key is exact; size-capped because a long-lived JVM visits many
  // stores and folds delete old segments. WHY: the CDC tail calls
  // commitHistory + changedEntries on EVERY trigger — without this an
  // idle 1 s tail re-opens and re-parses every retained segment twice
  // a second forever.
  // size-bounded LRU (access-order LinkedHashMap), not clear()-on-full:
  // a full clear would wipe the HOT entries every live CDC tail re-reads
  // twice a second along with the dead ones, causing a periodic
  // full-reparse storm; LRU evicts exactly the entries (folded/deleted
  // segments) nothing touches anymore
  private val segmentCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (Seq[String], Seq[ManifestEntry])](
        64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Seq[String], Seq[ManifestEntry])])
          : Boolean = size > 4096
    })

  private def parseSegment(f: java.io.File)
      : (Seq[String], Seq[ManifestEntry]) = {
    val key = s"${f.getCanonicalPath}:${EventLog.fs.length(f)}:${mtimeNanos(f)}"
    val hit = segmentCache.get(key)
    if (hit != null) return hit
    val parsed = parseSegmentUncached(f)
    segmentCache.put(key, parsed)
    parsed
  }

  private def parseSegmentUncached(f: java.io.File)
      : (Seq[String], Seq[ManifestEntry]) = {
    val in = new DataInputStream(
      new BufferedInputStream(EventLog.fs.openRead(f), 1 << 16))
    try {
      requireMagic(in, SegmentMagic,
        s"graft-eventlog: ${f.getName} has bad magic — not a manifest segment")
      val removes = (0 until in.readInt()).map(_ => readUtf(in))
      val adds = (0 until in.readInt()).map(_ => readEntry(in))
      (removes, adds)
    } finally in.close()
  }

  /** The dir's manifest state, keyed by file name; empty when absent (a
    * pre-manifest store). One parse per manifest CHANGE — unchanged
    * stores hit the (name, length, mtime-nanos)-keyed cache. A
    * present-but-unreadable manifest file is LOUD — silently planning
    * without it would quietly regress to per-file header IO. */
  def readManifest(dir: String): Map[String, ManifestEntry] = {
    val d = new java.io.File(dir)
    if (!EventLog.fs.isDirectory(d)) return Map.empty
    val (ck, segs) = manifestFiles(d)
    if (ck.isEmpty && segs.isEmpty) return Map.empty
    val key = (ck.toSeq ++ segs)
      .map(f => s"${f.getName}:${EventLog.fs.length(f)}:${mtimeNanos(f)}")
      .mkString("|")
    val dirKey = d.getCanonicalPath
    val hit = manifestCache.get(dirKey)
    if (hit != null && hit._1 == key) return hit._2
    manifestParses.incrementAndGet()
    var m = ck.map(parseCheckpoint(_)._2)
      .getOrElse(Map.empty[String, ManifestEntry])
    segs.foreach { f =>
      val (removes, adds) = parseSegment(f)
      m = m -- removes ++ adds.map(e => e.file -> e)
    }
    manifestCache.put(dirKey, (key, m))
    m
  }

  // ------------------------------------------------- retention policy

  val RetentionName = "_retention.gelr"

  /** Declare "keep the last `keepVersions` manifest versions READABLE
    * at row level": while a version is protected, the checkpoint fold
    * defers absorbing its segment (time travel needs it), and every
    * rewrite (compaction, merge, COW SQL, deletes) leaves its replaced
    * inputs ON DISK as removed-but-listed files — invisible to current
    * planning by the manifest arbitration rule, but still readable by
    * `VERSION AS OF` views that predate the rewrite. Expiry is handled
    * by the same fold that retires the segments: absorbing a remove
    * sweeps its dead bytes (the round-11 no-resurrection rule), so
    * reclaim needs no separate policy engine. `keepVersions = 0`
    * clears the policy (rewrites unlink eagerly again — the default).
    * COST, stated honestly: protected versions hold their segments and
    * replaced bytes, so planning pays O(keepVersions) extra segment
    * parses (cached) and the store holds the rewritten generations'
    * bytes until expiry — the Delta/Iceberg retention trade. */
  def setRetention(dir: String, keepVersions: Int): Unit = synchronized {
    require(keepVersions >= 0,
      s"graft-eventlog: keepVersions must be >= 0, got $keepVersions")
    commitRetentionMarker(dir,
      if (keepVersions == 0) None else Some(s"versions $keepVersions"))
  }

  /** Temp-write-rename the retention marker (None = clear) — the one
    * commit block both policy setters share. */
  private def commitRetentionMarker(dir: String,
      text: Option[String]): Unit = {
    val f = new java.io.File(dir, RetentionName)
    text match {
      case None => EventLog.fs.delete(f); ()
      case Some(t) =>
        val tmp = new java.io.File(dir,
          s".inprogress.retention.${java.util.UUID.randomUUID()}")
        EventLog.fs.writeAll(tmp, s"$t\n".getBytes("UTF-8"))
        if (!EventLog.fs.rename(tmp, f))
          throw new java.io.IOException(
            s"graft-eventlog: could not commit $RetentionName in $dir")
    }
  }

  /** Retention declared by WALL-CLOCK AGE instead of version count:
    * versions committed within the last `ms` stay row-readable (the
    * Delta `delta.deletedFileRetentionDuration` shape — age is judged
    * from segment-file mtimes, the same clock `versionAt` time travel
    * uses). `ms = 0` clears the policy. */
  def setRetentionMs(dir: String, ms: Long): Unit = synchronized {
    require(ms >= 0,
      s"graft-eventlog: retention ms must be >= 0, got $ms")
    commitRetentionMarker(dir, if (ms == 0) None else Some(s"ms $ms"))
  }

  /** A declared retention policy: by version count or wall-clock age. */
  sealed trait Retention
  object Retention {
    final case class Versions(n: Int) extends Retention
    final case class Millis(ms: Long) extends Retention
  }

  /** The store's retention policy, if declared. A torn or foreign
    * marker is LOUD — silently ignoring it would unlink bytes an
    * operator declared protected. */
  def readRetention(dir: String): Option[Retention] = {
    val f = new java.io.File(dir, RetentionName)
    if (!EventLog.fs.isFile(f)) return None
    val txt = new String(EventLog.fs.readAll(f),
      "UTF-8").trim
    def bad = throw new IllegalStateException(
      s"graft-eventlog: unreadable $RetentionName in $dir: '$txt'")
    try txt.split("\\s+") match {
      case Array("versions", n) if n.toInt > 0 =>
        Some(Retention.Versions(n.toInt))
      case Array("ms", t) if t.toLong > 0 =>
        Some(Retention.Millis(t.toLong))
      case _ => bad
    } catch { case _: NumberFormatException => bad }
  }

  /** The highest segment seq the fold may absorb under the policy:
    * everything (no policy), all but the last N (version retention),
    * or the longest PREFIX of segments older than the age cutoff
    * (time retention — prefix, because a checkpoint folds THROUGH a
    * point; segment mtimes are commit-ordered in practice, and a
    * young out-of-order segment simply stops the fold early, which
    * can only over-protect). */
  private def foldTarget(dir: String, curSeq: Long,
      segs: Seq[java.io.File]): Long = readRetention(dir) match {
    case None => curSeq
    case Some(Retention.Versions(k)) => curSeq - k
    case Some(Retention.Millis(ms)) =>
      val cutoff = System.currentTimeMillis() - ms
      var target = 0L
      segs.sortBy(_.getName).iterator
        .takeWhile(f => EventLog.fs.lastModified(f) < cutoff)
        .foreach(f => target = segSeq(f))
      target
  }

  // ------------------------------------------- cross-process commit lock

  val CommitLockName = "_commit.lock"

  /** A committer whose lock mtime has not refreshed within this window
    * is presumed dead (crashed while holding the lock) and its lock is
    * broken. Plain commits hold the lock for one fold-read plus one
    * rename; the CHECKPOINT FOLD can legitimately run long on a huge
    * store, so it HEARTBEATS the lock between its phases
    * ([[GelFs.touch]]) — a live holder is never mistaken for a corpse
    * unless a single fold phase stalls past this window. A `var` only
    * so specs can shrink the window; production leaves the default. */
  @volatile var CommitLockStaleMs: Long = 5L * 60 * 1000

  /** Total patience of a lock ACQUIRE before it throws (round 12) —
    * strictly larger than [[CommitLockStaleMs]], because a waiter must
    * outlast a crashed holder's full stale window before concluding
    * the store is wedged: a holder that died the instant after
    * claiming leaves a FRESH-looking lock that only becomes breakable
    * [[CommitLockStaleMs]] later, so giving up any earlier (the old
    * fixed 120s deadline) turned one crash into minutes of thrown
    * commits. A healthy long fold heartbeats its lock, and waiters
    * simply QUEUE behind it for as long as this allows — give-up is
    * reserved for pathological contention, not for slow-but-live
    * holders. */
  @volatile var CommitLockGiveUpMs: Long = 30L * 60 * 1000

  /** Heartbeat the commit lock (no-op if absent): called between the
    * fold's O(store) phases so a slow fold is never stale-broken —
    * which would let a second committer in and mint DUPLICATE seq
    * numbers. */
  private def refreshCommitLock(dir: String): Unit =
    fs.touch(new java.io.File(dir, CommitLockName))

  /** Serialize manifest COMMITS across OS processes: an atomic
    * `createNewFile` claims `_commit.lock`; stale locks (crashed
    * holders) are broken by RENAME-then-delete so two breakers can
    * never both think they cleared the way (rename is atomic — exactly
    * one succeeds, and the loser just re-polls). This is what makes
    * the conflict check in [[appendManifestChecked]] sound: the
    * re-fold and the segment rename happen under one critical section,
    * so no competing rewrite can land between them.
    *
    * OWNED release (round 12): the claim writes a per-holder token
    * into the lock file, and release is conditional on still OWNING
    * it. An unconditional `finally delete` would, after a slow holder
    * was stale-broken and a new committer claimed, delete the NEW
    * holder's lock — cascading the acknowledged dual-holder edge into
    * arbitrarily many holders and duplicate manifest seqs. Release
    * instead atomically renames the lock to a holder-private name and
    * inspects the token: ours → gone for good; someone else's (we
    * were broken and the lock re-claimed) → rename it straight back,
    * the release becoming a no-op. The yank-and-restore window is a
    * microsecond rename pair that can only even open after a holder
    * stalled a full [[CommitLockStaleMs]] — and a waiter that slips a
    * fresh lock into that window is itself restored-over or re-polls,
    * never silently unlocked.
    *
    * ACQUIRE patience (round 12): a dead holder's lock is broken as
    * soon as it looks stale, so post-crash availability is bounded by
    * [[CommitLockStaleMs]]; a LIVE (heartbeating) holder is queued
    * behind for up to [[CommitLockGiveUpMs]] — waiters outlast long
    * folds instead of failing while the store is merely busy. */
  private[v2] def withCommitLock[T](dir: String)(body: => T): T = {
    val d = new java.io.File(dir)
    EventLog.fs.mkdirs(d)
    val lock = new java.io.File(d, CommitLockName)
    val token = java.util.UUID.randomUUID().toString
    val start = System.currentTimeMillis()
    var sleep = 10L
    var held = false
    while (!held) {
      if (EventLog.fs.createNew(lock)) {
        EventLog.fs.writeAll(lock, token.getBytes("UTF-8"))
        held = true
      } else {
        val mod = EventLog.fs.lastModified(lock) // 0 when already gone — retry
        if (mod > 0 &&
            System.currentTimeMillis() - mod > CommitLockStaleMs) {
          val bin = new java.io.File(d,
            s".stale.lock.${java.util.UUID.randomUUID()}")
          if (EventLog.fs.rename(lock, bin)) EventLog.fs.delete(bin)
        } else if (System.currentTimeMillis() - start > CommitLockGiveUpMs)
          throw new IllegalStateException(
            s"graft-eventlog: could not acquire $CommitLockName in $dir " +
              s"within ${CommitLockGiveUpMs / 1000}s — the lock kept " +
              "heartbeating (live committers the whole time), so this " +
              "is pathological commit pressure, not a crash (a crashed " +
              s"holder is broken after ${CommitLockStaleMs / 1000}s)")
        else {
          Thread.sleep(sleep)
          sleep = math.min(sleep * 2, 250L) // backoff: poll hot at first,
          // settle to 4/s — a queue of waiters must not hammer the store
        }
      }
    }
    try body finally releaseCommitLock(d, lock, token)
  }

  /** Conditional lock release — see the ownership paragraph on
    * [[withCommitLock]]. */
  private def releaseCommitLock(d: java.io.File, lock: java.io.File,
      token: String): Unit = {
    val mine = new java.io.File(d, s".release.lock.$token")
    // atomic yank: if the lock is already gone (we were stale-broken
    // and nobody re-claimed yet) there is nothing to release
    if (!EventLog.fs.rename(lock, mine)) return
    val content =
      try new String(EventLog.fs.readAll(mine), "UTF-8")
      catch { case _: java.io.IOException => "" }
    if (content == token) { EventLog.fs.delete(mine); () }
    else {
      // we yanked a RE-CLAIMED lock (ours was broken while we ran):
      // put it back untouched; if a third committer claimed in the
      // yank window the restore fails and the yanked token is dropped
      // — its holder's own release then no-ops, which is the safe side
      if (!EventLog.fs.rename(mine, lock)) EventLog.fs.delete(mine)
    }
  }

  /** Record one commit's `entries` (new wins on a name collision) and
    * `removes` by writing ONE append-only delta segment — O(batch)
    * bytes, never a rewrite of the whole manifest — then fold the log
    * into a fresh checkpoint once it reaches [[CheckpointEvery]]
    * segments. Temp-and-rename at every step, so a torn manifest file
    * cannot exist. Serialized JVM-wide AND across processes (the
    * [[withCommitLock]] critical section): separate processes were
    * always safe for segment appends themselves (each writes its own
    * file under a fresh seq — no lost update), and since round 11 the
    * checkpoint fold is serialized by the same lock, so two processes
    * folding can no longer race a checkpoint over each other's
    * absorbed segments. */
  def appendManifest(dir: String, entries: Seq[ManifestEntry],
      removes: Seq[String] = Nil): Long =
    synchronized {
      if (entries.isEmpty && removes.isEmpty) return currentVersion(dir)
      withCommitLock(dir) {
        appendManifestLocked(dir, entries, removes)
      }
    }

  /** [[appendManifest]] with OPTIMISTIC WRITE-WRITE CONFLICT DETECTION —
    * the commit path of every REWRITE (compaction group, merge swap,
    * copy-on-write SQL, deletes): under the commit lock, re-fold the
    * manifest and verify every name in `mustBeLive` (the inputs this
    * commit removes, plus any entries it updates IN PLACE — deletion
    * vectors) is still live. A name a concurrent rewrite already
    * removed means this commit planned from a STALE snapshot: blindly
    * appending would re-remove replaced inputs and re-add rows the
    * competitor already rewrote — silent duplicates. Refused loudly
    * instead, naming the conflicting commit (the Delta-style check);
    * the caller rolls its outputs back and re-runs from a fresh
    * snapshot. Non-overlapping concurrent rewrites both pass.
    *
    * `underLock` (round 12) runs INSIDE the critical section, after
    * both conflict rungs pass and before the segment lands, receiving
    * the very manifest fold the check used — the finalize point for
    * commit-scoped side artifacts (DV sidecars rename from their
    * staged temps here, so a refused commit can never have renamed
    * over a winner's sidecar). A throw from it aborts the commit with
    * the lock still released cleanly. */
  def appendManifestChecked(dir: String, entries: Seq[ManifestEntry],
      removes: Seq[String], mustBeLive: Seq[String],
      expectedEntries: Map[String, ManifestEntry] = Map.empty,
      underLock: Map[String, ManifestEntry] => Unit = _ => ()): Long =
    synchronized {
      if (entries.isEmpty && removes.isEmpty) return currentVersion(dir)
      withCommitLock(dir) {
        val live = readManifest(dir)
        // IN-PLACE conflict rung (round-11 review fix): a name that is
        // still live but whose ENTRY differs from the snapshot this
        // rewrite planned against means a concurrent in-place update
        // landed — a deletion-vector delete shrinking the file where
        // it stands, or a remove+re-add under the same name. Blindly
        // committing would rebuild the input from its PRE-update rows
        // (silently resurrecting deleted ones) or overwrite the
        // competitor's entry. Name-level liveness alone cannot see
        // this; the entry compare can, and it survives checkpoint
        // folds (the CURRENT manifest carries the update regardless
        // of where its segment went).
        val changed = mustBeLive.filter(n => live.contains(n) &&
          expectedEntries.get(n).exists(_ != live(n)))
        if (changed.nonEmpty) {
          val name = changed.head
          val culprit = commitHistory(dir).reverse.collectFirst {
            case (v, adds, _) if adds.exists(_.file == name) => s"commit $v"
          }.getOrElse("a commit already folded into the checkpoint")
          throw new ConcurrentRewriteException(
            s"graft-eventlog: rewrite commit on $dir conflicts with a " +
              s"concurrent IN-PLACE update: its input $name" +
              (if (changed.size > 1) s" (and ${changed.size - 1} more)"
               else "") +
              s" was modified by $culprit since this operation planned " +
              "(a deletion-vector delete or a same-name rewrite) — its " +
              "outputs were rolled back, re-run it against the current " +
              "state")
        }
        // a name absent from the manifest is a CONFLICT only when there
        // is rewrite evidence: a retained commit removed it, or its
        // bytes are already unlinked (a remove whose evidence folded —
        // the round-11 fold sweeps exactly those unlinks, so evidence
        // and bytes never BOTH vanish while the file lives). A
        // never-manifested input with live bytes is a FOREIGN file
        // (pre-manifest store, external producer) — legitimately
        // rewritable, not a race.
        val candidates = mustBeLive.filterNot(live.contains)
        if (candidates.nonEmpty) {
          lazy val removedRetained: Set[String] =
            commitHistory(dir).iterator.flatMap(_._3).toSet
          val gone = candidates.filter(n =>
            removedRetained(n) || !EventLog.fs.isFile(new java.io.File(dir, n)))
          if (gone.nonEmpty) {
            val name = gone.head
            val culprit = commitHistory(dir).reverse.collectFirst {
              case (v, _, rem) if rem.contains(name) => s"commit $v"
            }.getOrElse("a commit already folded into the checkpoint " +
              "(its bytes are unlinked)")
            throw new ConcurrentRewriteException(
              s"graft-eventlog: rewrite commit on $dir conflicts with a " +
                s"concurrent rewrite: its input $name" +
                (if (gone.size > 1) s" (and ${gone.size - 1} more)"
                 else "") +
                s" was already removed by $culprit — this operation " +
                "planned from a stale snapshot; its outputs were rolled " +
                "back, re-run it against the current state")
          }
        }
        underLock(live)
        appendManifestLocked(dir, entries, removes)
      }
    }

  private def appendManifestLocked(dir: String, entries: Seq[ManifestEntry],
      removes: Seq[String]): Long = {
      val d = new java.io.File(dir)
      val (ckBefore, segsBefore) = manifestFiles(d)
      // seq numbering must clear the checkpoint's fold point too: after
      // a fold deletes the segments, restarting at 1 would alias old
      // VERSIONS. Only the 16-byte prefix is read — O(1) per commit,
      // never an O(store) checkpoint parse.
      val nextSeq = (segsBefore.map(_.getName).collect {
        case SegmentName(seq) => seq.toLong
      } ++ ckBefore.map(checkpointFoldedThrough)).foldLeft(0L)(math.max) + 1
      val uuid = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val fin = new java.io.File(d, f"_manifest.$nextSeq%08d.$uuid.gelmd")
      val tmp = new java.io.File(d,
        s".inprogress.manifest.${java.util.UUID.randomUUID()}")
      val o = new DataOutputStream(
        new BufferedOutputStream(EventLog.fs.openWrite(tmp), 1 << 16))
      try {
        o.write(SegmentMagic)
        o.writeInt(removes.length)
        removes.foreach(writeUtf(o, _))
        o.writeInt(entries.length)
        entries.foreach(writeEntry(o, _))
      } finally o.close()
      if (!EventLog.fs.rename(tmp, fin))
        throw new java.io.IOException(
          s"graft-eventlog: could not commit ${fin.getName} in $dir")
      manifestDeltaBytes.addAndGet(EventLog.fs.length(fin))
      if (segsBefore.size + 1 >= CheckpointEvery) {
        // retention defers the fold: only segments OUTSIDE the
        // protected window may be absorbed, and the fold fires when a
        // full batch of them exists — same fold cadence as an
        // unprotected store, just lagged by the policy. Cheap
        // precheck (names or stats only): no checkpoint parse on the
        // no-op path.
        readRetention(dir) match {
          case None => checkpointManifest(dir)
          case Some(Retention.Versions(k)) =>
            if ((segsBefore.map(segSeq) :+ nextSeq)
                .count(_ <= nextSeq - k) >= CheckpointEvery)
              checkpointManifest(dir)
          case Some(Retention.Millis(ms)) =>
            val cutoff = System.currentTimeMillis() - ms
            if (segsBefore.count(f =>
                EventLog.fs.lastModified(f) < cutoff) >= CheckpointEvery)
              checkpointManifest(dir)
        }
      }
      nextSeq
    }

  /** Fold checkpoint + all current segments into ONE new checkpoint and
    * delete the absorbed segments. Crash-idempotent: the checkpoint
    * rename is atomic, and a crash before the deletes finish just
    * re-applies absorbed segments over a checkpoint that already
    * contains their effect (see the class doc for why oldest-first
    * deletion keeps even partial deletes consistent). */
  private def checkpointManifest(dir: String): Unit = synchronized {
    val d = new java.io.File(dir)
    refreshCommitLock(dir) // the fold's phases are the long holds
    val (ckBefore, segs) = manifestFiles(d)
    val parsed = ckBefore.map(parseCheckpoint)
    val prevFolded = parsed.map(_._1).getOrElse(0L)
    val curSeq = (segs.map(segSeq) :+ prevFolded).foldLeft(0L)(math.max)
    // retention: absorb ONLY segments outside the protected window —
    // a protected version's segment must survive for readManifestAsOf
    // (fold point = time-travel floor), and its rewrites' replaced
    // bytes must survive for the row reads those versions serve
    val target = foldTarget(dir, curSeq, segs)
    val absorb = segs.filter(f => segSeq(f) <= target).sortBy(_.getName)
    if (absorb.isEmpty) return
    // FULL current state (checkpoint + every segment): the re-add
    // guard of the dead-file sweep below — a name removed in an
    // absorbed segment but alive anywhere later is never swept.
    // Folded from the ALREADY-PARSED checkpoint plus the (cached)
    // segments, so the fold parses the O(store) checkpoint ONCE.
    val full = {
      var m = parsed.map(_._2).getOrElse(Map.empty[String, ManifestEntry])
      segs.sortBy(_.getName).foreach { f =>
        val (removes, adds) = parseSegment(f)
        m = m -- removes ++ adds.map(e => e.file -> e)
      }
      m
    }
    // state AS OF the fold point: checkpoint + absorbed segments only
    var merged = parsed.map(_._2).getOrElse(Map.empty[String, ManifestEntry])
    absorb.foreach { f =>
      val (removes, adds) = parseSegment(f)
      merged = merged -- removes ++ adds.map(e => e.file -> e)
    }
    val foldedThrough = (absorb.map(segSeq) :+ prevFolded)
      .foldLeft(0L)(math.max)
    val tmp = new java.io.File(d,
      s".inprogress.manifest.${java.util.UUID.randomUUID()}")
    val o = new DataOutputStream(
      new BufferedOutputStream(EventLog.fs.openWrite(tmp), 1 << 16))
    try {
      o.write(ManifestMagic)
      o.writeLong(foldedThrough)
      o.writeInt(merged.size)
      merged.values.toSeq.sortBy(_.file).foreach(writeEntry(o, _))
    } finally o.close()
    val fin = new java.io.File(d, ManifestName)
    if (!EventLog.fs.rename(tmp, fin))
      throw new java.io.IOException(
        s"graft-eventlog: could not commit $ManifestName in $dir")
    manifestCheckpointBytes.addAndGet(EventLog.fs.length(fin))
    manifestCheckpoints.incrementAndGet()
    refreshCommitLock(dir) // next phase: the dead-file sweep
    // THE FOLD MUST NOT ERASE REMOVE EVIDENCE WHILE THE DEAD BYTES ARE
    // STILL ON DISK: planning's removed-but-listed invisibility rule and
    // vacuum's reclaim both derive removed names from RETAINED segments,
    // and this fold is about to delete those segments. After a crash
    // between a commit's manifest append and its input unlinks
    // (deleteWhere and the COW commit journal no intent), a folded-away
    // remove would leave the dead file unmanifested, non-maintenance-
    // named, and absent from removedRetained — zoneMaps would resurrect
    // it via header fallback (deleted rows / pre-rewrite duplicates
    // silently return) and vacuum could never reclaim it. So the fold
    // finishes the unlinks itself: every name the absorbed segments
    // removed that is still listed and NOT re-added in the merged state
    // (a re-appended name is live, never swept) is deleted here, with
    // its sidecars, BEFORE the segments go. Failure is LOUD and leaves
    // the segments retained — the evidence survives for the next fold.
    val deadRemoved = absorb.iterator.flatMap(f => parseSegment(f)._1)
      .filter(n => !merged.contains(n) && !full.contains(n)).toSet
    deadRemoved.foreach { n =>
      val f = new java.io.File(d, n)
      if (EventLog.fs.isFile(f) && !EventLog.fs.delete(f))
        throw new java.io.IOException(
          s"graft-eventlog: checkpoint fold could not unlink the " +
            s"logically-removed $n in $dir — retaining segments so the " +
            "remove evidence survives")
    }
    if (deadRemoved.nonEmpty)
      EventLog.fs.listFiles(d)
        .filter(f => sidecarDataFile(f.getName).exists(deadRemoved))
        .foreach(EventLog.fs.delete(_))
    absorb.foreach(EventLog.fs.delete(_)) // oldest first — name order
  }

  // ------------------------------------------------------- time travel

  private def segSeq(f: java.io.File): Long = f.getName match {
    case SegmentName(s) => s.toLong
  }

  /** The store's current version: the highest manifest commit seq
    * (segments present, or the checkpoint's fold point when all were
    * absorbed). 0 for a store with no manifest. */
  def currentVersion(dir: String): Long = {
    val d = new java.io.File(dir)
    if (!EventLog.fs.isDirectory(d)) return 0L
    val (ck, segs) = manifestFiles(d)
    (segs.map(segSeq) ++ ck.map(checkpointFoldedThrough)).foldLeft(0L)(math.max)
  }

  /** The manifest state AS OF `version` (the store after manifest commit
    * number `version`; 0 = empty). Bounded by retention: a version below
    * the checkpoint's fold point needs segments that were absorbed and
    * deleted — it refuses LOUDLY. Uncached (audit-path frequency). */
  def readManifestAsOf(dir: String, version: Long)
      : Map[String, ManifestEntry] = {
    require(version >= 0,
      s"graft-eventlog: version must be >= 0, got $version")
    val d = new java.io.File(dir)
    require(EventLog.fs.isDirectory(d), s"graft-eventlog: $dir is not a directory")
    val (ck, segs) = manifestFiles(d)
    val parsed = ck.map(parseCheckpoint)
    val folded = parsed.map(_._1).getOrElse(0L)
    val cur = (segs.map(segSeq) :+ folded).foldLeft(0L)(math.max)
    require(version <= cur,
      s"graft-eventlog: version $version does not exist in $dir " +
        s"(current version is $cur)")
    require(version >= folded,
      s"graft-eventlog: version $version was absorbed into the " +
        s"checkpoint (folded through $folded) and its segments are " +
        "deleted — time travel is bounded by checkpoint retention")
    var m = parsed.map(_._2).getOrElse(Map.empty[String, ManifestEntry])
    // crash-window leftovers with seq <= folded are skipped on purpose:
    // the checkpoint already contains their effect at the fold point
    segs.sortBy(_.getName).foreach { f =>
      val seq = segSeq(f)
      if (seq > folded && seq <= version) {
        val (removes, adds) = parseSegment(f)
        m = m -- removes ++ adds.map(e => e.file -> e)
      }
    }
    m
  }

  /** The per-commit anatomy of a changes window (`from`, `to`] — the
    * shared walk behind the plain feed ([[changedEntries]]) and the
    * typed CDC feed: one element per RETAINED commit in the window,
    * `(seq, newEntries, cdcParts)`.
    *
    *  - A plain APPEND commit yields its genuinely-new entries
    *    (re-appends from crash recovery dedup against the state as of
    *    that commit — idempotent for snapshots, but a feed that
    *    treated a re-append as new would deliver rows twice) and no
    *    parts.
    *  - A REWRITE commit (removes, or an in-place entry update — a
    *    deletion-vector delete shrinking a file where it stands)
    *    yields its committed change-data parts ([[EventLogCdc]]) and
    *    NO entries: its adds are re-layout, not new rows. With zero
    *    change rows (compaction's empty part) the commit contributes
    *    nothing — the CONTINUITY case a long-lived tail needs. With
    *    rows, `typed = false` REFUSES — appended rows cannot express
    *    updates or deletes; the error names `cdc.typed`. Without
    *    parts at all (a zone-proven whole-file delete, or one torn
    *    before its part renames) it refuses with the retention
    *    wording — absence of change evidence never reads as "no
    *    changes". */
  def changeCommits(dir: String, from: Long, to: Long, typed: Boolean)
      : Seq[(Long, Seq[ManifestEntry], Seq[java.io.File])] = {
    require(0 <= from && from <= to,
      s"graft-eventlog: bad changes window ($from, $to]")
    val d = new java.io.File(dir)
    require(EventLog.fs.isDirectory(d), s"graft-eventlog: $dir is not a directory")
    val (ck, segs) = manifestFiles(d)
    val parsed = ck.map(parseCheckpoint)
    val folded = parsed.map(_._1).getOrElse(0L)
    val cur = (segs.map(segSeq) :+ folded).foldLeft(0L)(math.max)
    require(to <= cur,
      s"graft-eventlog: changes.to $to does not exist in $dir " +
        s"(current version is $cur)")
    require(from >= folded,
      s"graft-eventlog: the changes window ($from, $to] needs segments " +
        s"at or below the checkpoint fold ($folded), which were " +
        "absorbed and deleted — the changes feed is bounded by " +
        "checkpoint retention")
    // fold the state forward from `from` so each commit classifies
    // against what the store looked like WHEN IT LANDED — re-append
    // dedup and in-place detection both need per-commit priors, not
    // just the window ends
    var state = readManifestAsOf(dir, from)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[ManifestEntry], Seq[java.io.File])]
    segs.sortBy(_.getName).foreach { f =>
      val seq = segSeq(f)
      if (seq > from && seq <= to) {
        val (removes, a) = parseSegment(f)
        val inPlace = a.exists(e =>
          state.get(e.file).exists(_.count != e.count))
        if (removes.nonEmpty || inPlace) {
          EventLogCdc.rowCountOf(dir, seq) match {
            case Some(0L) => () // pure re-layout (compaction): the
            // commit states "no rows changed" — contributes nothing
            case Some(n) =>
              if (typed) out += ((seq, Nil, EventLogCdc.partsOf(dir, seq).get))
              else throw new IllegalArgumentException(
                s"graft-eventlog: manifest commit $seq inside the " +
                  s"changes window ($from, $to] carries $n row-level " +
                  "changes (merge or delete) — a plain feed of appended " +
                  "rows cannot express updates or deletes; read it " +
                  "with .option(\"cdc.typed\", \"true\")")
            case None => throw new IllegalArgumentException(
              s"graft-eventlog: manifest commit $seq inside the changes " +
                s"window ($from, $to] contains removes — compaction or " +
                "delete rewrote history there without journaling " +
                "change data, and a row-level change feed cannot be " +
                "reconstructed from file-granular removes; read " +
                "full versions instead")
          }
        } else {
          // RE-APPEND dedup: crash recovery (sink marker window,
          // merge/compact intent roll-forward) re-appends entries an
          // EARLIER commit already added — "added at seq" means added
          // AND not already present just before it
          val fresh = a.filterNot(e => state.contains(e.file))
          if (fresh.nonEmpty) out += ((seq, fresh.toSeq, Nil))
        }
        state = state -- removes ++ a.map(e => e.file -> e)
      }
    }
    out.toSeq
  }

  /** The manifest entries ADDED in the version window (`from`, `to`] —
    * the PLAIN changes feed an incremental consumer tails. Rewrite
    * commits refuse unless their journaled change data says zero rows
    * (a compaction streams as nothing) — see [[changeCommits]]. */
  def changedEntries(dir: String, from: Long, to: Long): Seq[ManifestEntry] =
    changeCommits(dir, from, to, typed = false).flatMap(_._2)


  /** The RETAINED manifest commits, oldest first: (version, entries
    * added, file names removed). Commits absorbed into the checkpoint
    * are gone by design (retention); the checkpoint state itself is the
    * floor every surviving commit builds on. The `DESCRIBE HISTORY`
    * surface every table format grows — driver-side, O(segments). */
  def commitHistory(dir: String)
      : Seq[(Long, Seq[ManifestEntry], Seq[String])] = {
    val d = new java.io.File(dir)
    if (!EventLog.fs.isDirectory(d)) return Nil
    val (_, segs) = manifestFiles(d)
    segs.sortBy(_.getName).map { f =>
      val (removes, adds) = parseSegment(f)
      (segSeq(f), adds, removes)
    }
  }

  /** The version live at wall-clock `tsMicros` — the greatest retained
    * commit whose SEGMENT FILE mtime is at or before it (the Delta
    * convention: commit-file timestamps, best-effort wall clock, not an
    * embedded logical clock). A checkpoint whose own mtime is ≤ the ask
    * witnesses that its folded state already existed then. A timestamp
    * preceding all retained evidence refuses loudly — except on a
    * never-checkpointed store, where it provably predates commit 1 and
    * resolves to version 0 (empty). */
  def versionAt(dir: String, tsMicros: Long): Long = {
    val d = new java.io.File(dir)
    require(EventLog.fs.isDirectory(d), s"graft-eventlog: $dir is not a directory")
    val (ck, segs) = manifestFiles(d)
    val eligible = segs.filter(f => mtimeNanos(f) / 1000L <= tsMicros)
      .map(segSeq)
    val ckWitness = ck.filter(f => mtimeNanos(f) / 1000L <= tsMicros)
      .map(checkpointFoldedThrough)
    val candidates = eligible ++ ckWitness
    if (candidates.nonEmpty) candidates.max
    else if (ck.isEmpty) 0L
    else throw new IllegalArgumentException(
      s"graft-eventlog: no retained commit of $dir is as old as " +
        s"timestamp $tsMicros — the checkpoint absorbed (and its " +
        "rewrite re-stamped) the early commits; timestamp travel is " +
        "bounded by checkpoint retention")
  }

  /** Resolve manifest `entries` to live (file, header) zone maps; a
    * referenced file that no longer exists (compacted, deleted) is LOUD —
    * snapshot reads are bounded by physical file retention. */
  private def materializeEntries(dir: String, entries: Seq[ManifestEntry],
      what: String): Seq[(java.io.File, Header)] =
    entries.sortBy(_.file).map { e =>
      val f = new java.io.File(dir, e.file)
      require(EventLog.fs.isFile(f),
        s"graft-eventlog: $what of $dir references ${e.file}, which no " +
          "longer exists (compacted or deleted since) — snapshot reads " +
          "are bounded by physical file retention")
      (f, e.header)
    }

  /** Zone maps of the store AS OF `version` — manifest truth, not the
    * live listing (files added after the version are invisible; so are
    * unmanifested foreign files, which no version ever committed). */
  def snapshotZoneMaps(dir: String, version: Long)
      : Seq[(java.io.File, Header)] =
    materializeEntries(dir, readManifestAsOf(dir, version).values.toSeq,
      s"version $version")

  /** Zone maps of the files added in (`from`, `to`]. */
  def changesZoneMaps(dir: String, from: Long, to: Long)
      : Seq[(java.io.File, Header)] =
    materializeEntries(dir, changedEntries(dir, from, to),
      s"changes ($from, $to]")

  /** Which slice of the store a batch scan reads: the live listing
    * (default), a version snapshot, or a changes window — from the read
    * options `version` / `changes.from` + `changes.to`. */
  sealed trait TimeView
  object TimeView {
    case object Current extends TimeView
    final case class AsOf(version: Long) extends TimeView
    final case class Changes(from: Long, to: Long) extends TimeView
    def fromOptions(o: CaseInsensitiveStringMap): TimeView = {
      val v = Option(o.get("version")).map(_.toLong)
      val cf = Option(o.get("changes.from")).map(_.toLong)
      val ct = Option(o.get("changes.to")).map(_.toLong)
      (v, cf, ct) match {
        case (None, None, None) => Current
        case (Some(ver), None, None) => AsOf(ver)
        case (None, Some(f), Some(t)) => Changes(f, t)
        case _ => throw new IllegalArgumentException(
          "graft-eventlog: pass either version=<n>, or changes.from " +
            "and changes.to together — not a mix")
      }
    }
  }

  /** Maintenance-output file names: compaction chunks (`-c<hex8>`),
    * merge rewrites (`-m<hex8>`), merge inserts (`-u<hex8>`), and
    * copy-on-write rewrite outputs (`-w<nnnnn>-`). These become DATA
    * only when their commit's manifest segment lands — an unmanifested
    * one is a mid-swap or crashed artifact, and reading it would show
    * a concurrent reader transient duplicates. */
  private val MaintenanceOutName =
    """.*-(?:[cmu][0-9a-f]{8}\.gel|w\d{5}-[0-9a-f]{8}\.gel)""".r

  def isMaintenanceOutName(name: String): Boolean =
    MaintenanceOutName.matches(name)

  /** Planning-time zone maps for every file in `dir`: ONE manifest read
    * covers manifested files; only unmanifested ones fall back to a
    * per-file header open — and a LARGE unmanifested residue (a store
    * written by a foreign producer) reads its headers in parallel
    * instead of single-threaded, so even the worst case is bounded by
    * IO bandwidth, not driver thread count.
    *
    * SNAPSHOT CONSISTENCY for concurrent readers (round 10): on a
    * manifested store the MANIFEST arbitrates what exists —
    *  - an unmanifested file bearing a maintenance-output tag is a
    *    mid-swap (or crashed) artifact whose commit has not landed:
    *    INVISIBLE, so a reader planning during a compaction/merge/COW
    *    swap sees the pre-commit state instead of duplicates;
    *  - a listed file that a RETAINED manifest segment REMOVED is the
    *    not-yet-unlinked input of a commit that already landed:
    *    INVISIBLE, so a reader planning between the manifest append
    *    and the input deletes sees the post-commit state instead of
    *    duplicates.
    * Plain append-named files keep the header fallback (foreign
    * producers, and the file tail's task-commit visibility). */
  def zoneMaps(dir: String): Seq[(java.io.File, Header)] = {
    val man = readManifest(dir)
    val listed = listFiles(dir)
    val files =
      if (man.isEmpty) listed
      else {
        lazy val removedRetained: Set[String] =
          commitHistory(dir).iterator.flatMap(_._3).toSet
        // manifested files plan FROM THE MANIFEST, not the listing —
        // the manifest fold is a consistent snapshot of commits, so a
        // swap landing between any two filesystem operations here can
        // never show half a commit (a manifested name whose bytes a
        // LATER commit already unlinked surfaces loudly at read time,
        // the plan-vs-read race every overlapping maintenance op has)
        val fromMan = man.keysIterator.map(new java.io.File(dir, _)).toSeq
        val unman = listed.filter(f => !man.contains(f.getName) &&
          !isMaintenanceOutName(f.getName) &&
          !removedRetained(f.getName))
        (fromMan ++ unman).sortBy(_.getName)
      }
    val missing = files.filterNot(f => man.contains(f.getName))
    if (man.nonEmpty && missing.nonEmpty)
      // a manifested store planning through per-file fallbacks means a
      // FOREIGN producer dropped files in without manifest rows — the
      // O(1)-planning guarantee is silently degrading; say so once per
      // plan instead of letting it decay invisibly
      org.slf4j.LoggerFactory.getLogger(EventLog.getClass).warn(
        s"graft-eventlog: $dir has a manifest but ${missing.size} of " +
          s"${files.size} files are not in it — planning falls back to " +
          "per-file header reads for those; re-write them through the V2 " +
          "writer or compact the store to restore O(1) planning")
    val fallback: Map[String, Header] =
      if (missing.length <= 32)
        missing.map(f => f.getName -> readHeaderOf(f)).toMap
      else {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        Await.result(
          Future.traverse(missing)(f =>
            Future(f.getName -> readHeaderOf(f))), Duration.Inf).toMap
      }
    files.map(f => man.get(f.getName) match {
      case Some(e) => (f, e.header)
      case None => (f, fallback(f.getName))
    })
  }

  /** Write one `.gel` file — the single encoder behind every writer
    * (the V2 DataWriter, the streaming sink, compaction and merge). It
    * picks the wire: with no `lanes`, the base wire (GRAFTEL1); with
    * lanes, the extended wire (GRAFTEL3) — base records plus the named
    * added columns, one nullable fixed-width lane each, `laneVals`
    * aligned to `rows`. Lane values are typed (`java.lang.Long` /
    * `java.lang.Double` / `String` / null per the column's code);
    * STRING lanes dictionary-encode into the header, so records stay
    * fixed-width. A value whose runtime class contradicts its column's
    * code is LOUD — it means a pipeline dropped the type somewhere
    * upstream. Records land in the given order; the caller owns
    * sorting. Returns the manifest entry describing the written file
    * (under its FINAL name, [[entryOfRecords]]) — added columns have no
    * metadata lanes (predicates on them admit every file, which can
    * only over-read). */
  def writeGelFile(tmp: java.io.File, finalName: String,
      rows: scala.collection.Seq[(Long, Long, Long, String, Long)],
      lanes: Seq[ExtraCol] = Nil,
      laneVals: scala.collection.Seq[Array[AnyRef]] = Nil): ManifestEntry = {
    require(rows.nonEmpty, "graft-eventlog: refusing to write an empty file")
    require(lanes.isEmpty || laneVals.length == rows.length,
      s"graft-eventlog: ${rows.length} base rows vs ${laneVals.length} " +
        "lane-value rows")
    val entry = entryOfRecords(finalName, rows)
    val types = entry.types
    require(types.length <= 256,
      s"graft-eventlog: ${types.length} event types in one file exceed " +
        "the 1-byte dictionary — split the write by type first")
    val ord = types.zipWithIndex.toMap
    // per-file string dictionaries: sorted distinct values per STRING
    // lane; payloads are dictionary indexes
    val dicts: Array[Map[String, Int]] = lanes.zipWithIndex.map {
      case (c, j) =>
        if (c.code != ExtraString) Map.empty[String, Int]
        else laneVals.iterator.map(_(j)).filter(_ != null)
          .map(_.asInstanceOf[String]).toSeq.distinct.sorted
          .zipWithIndex.toMap
    }.toArray
    def laneBits(j: Int, v: AnyRef): Long = (lanes(j).code, v) match {
      case (ExtraBigint, l: java.lang.Long) => l.longValue
      case (ExtraDouble, d: java.lang.Double) =>
        java.lang.Double.doubleToLongBits(d.doubleValue)
      case (ExtraString, s: String) => dicts(j)(s).toLong
      case (code, other) => throw new IllegalArgumentException(
        s"graft-eventlog: added column ${lanes(j).name} has type code " +
          s"$code but a lane value of ${other.getClass.getName} — a " +
          "pipeline dropped the column's type")
    }
    val o = new DataOutputStream(
      new BufferedOutputStream(EventLog.fs.openWrite(tmp), 1 << 16))
    try {
      o.write(if (lanes.isEmpty) Magic else Magic3)
      o.writeInt(rows.length)
      o.writeLong(entry.minTs)
      o.writeLong(entry.maxTs)
      o.writeInt(types.length)
      types.foreach(t => writeUtf(o, t))
      if (lanes.nonEmpty) {
        o.writeInt(lanes.length)
        lanes.zipWithIndex.foreach { case (c, j) =>
          writeUtf(o, c.name)
          o.writeByte(c.code)
          if (c.code == ExtraString) {
            val vals = dicts(j).toSeq.sortBy(_._2).map(_._1)
            o.writeInt(vals.length)
            vals.foreach(writeUtf(o, _))
          }
        }
      }
      val vals =
        if (lanes.isEmpty) Iterator.continually(NoLanes) else laneVals.iterator
      rows.iterator.zip(vals).foreach {
        case ((id, ts, uid, tpe, cents), ev) =>
          o.writeLong(id); o.writeLong(ts); o.writeLong(uid)
          o.writeByte(ord(tpe)); o.writeLong(cents)
          var j = 0
          while (j < lanes.length) {
            val v = ev(j)
            if (v == null) { o.writeByte(0); o.writeLong(0L) }
            else { o.writeByte(1); o.writeLong(laneBits(j, v)) }
            j += 1
          }
      }
    } finally o.close()
    entry
  }

  /** The lanes of a record with no added columns. */
  private val NoLanes = Array.empty[AnyRef]

  /** The manifest entry describing `rows` stored under `name` — the one
    * place an entry's statistics are derived: [[writeGelFile]] returns
    * it at encode time, and the DV delete updates an entry with it
    * WITHOUT rewriting the file. */
  def entryOfRecords(name: String,
      rows: scala.collection.Seq[(Long, Long, Long, String, Long)]): ManifestEntry = {
    require(rows.nonEmpty,
      s"graft-eventlog: no live rows for $name — remove the file instead")
    val types = rows.map(_._4).distinct.sorted.toSeq
    val perType = rows.groupBy(_._4)
    ManifestEntry(name, rows.length,
      rows.iterator.map(_._2).min, rows.iterator.map(_._2).max,
      types, types.map(t => perType(t).length.toLong),
      Some(types.map(t => perType(t).iterator.map(_._5).sum)),
      Some((rows.iterator.map(_._3).min, rows.iterator.map(_._3).max)),
      Some((rows.iterator.map(_._1).min, rows.iterator.map(_._1).max)))
  }

  /** Decode every PHYSICAL record of `f` with its added-column lanes
    * aligned to `cols` (registry order) — the one `.gel` record decoder
    * behind the rewrites (compaction, merge, COW SQL, the DV delete)
    * and the CDC add-file read; scans go through the pruned readers
    * instead. A lane the file lacks (written before the column was
    * added) is null across its rows; lanes the file carries that
    * `cols` omits are skipped. Lane values are TYPED per the file's
    * own header codes (`java.lang.Long` / `java.lang.Double` /
    * `String` / null) — the wire is self-describing, so the caller
    * never threads the registry here. No deletion-vector mask: see
    * [[readLiveRecords]]. */
  def readRecords(f: java.io.File, cols: Seq[String] = Nil)
      : Seq[((Long, Long, Long, String, Long), Array[AnyRef])] = {
    val in = new DataInputStream(
      new BufferedInputStream(EventLog.fs.openRead(f), 1 << 16))
    val (recs, exts) = try {
      val h = readHeader(in)
      // output lane k ← file lane srcOf(k), or -1 = null fill
      val srcOf: Array[Int] = cols.map(h.extras.indexOf(_)).toArray
      val nFileEx = h.extras.size
      val used = new Array[Boolean](nFileEx)
      srcOf.foreach(s => if (s >= 0) used(s) = true)
      val codes: Array[Byte] = h.extraTypes.toArray
      val dicts: Array[IndexedSeq[String]] = h.extraDicts.toArray
      def decode(j: Int, bits: Long): AnyRef = codes(j) match {
        case ExtraBigint => java.lang.Long.valueOf(bits)
        case ExtraDouble =>
          java.lang.Double.valueOf(java.lang.Double.longBitsToDouble(bits))
        case ExtraString => dicts(j)(bits.toInt)
      }
      val base = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long, String, Long)](h.count)
      val ext = new scala.collection.mutable.ArrayBuffer[Array[AnyRef]](h.count)
      val lane = new Array[AnyRef](math.max(1, nFileEx))
      var i = 0
      while (i < h.count) {
        base += ((in.readLong(), in.readLong(), in.readLong(),
          h.types(in.readByte() & 0xff), in.readLong()))
        var j = 0
        while (j < nFileEx) {
          if (used(j)) {
            val present = in.readByte() == 1
            val v = in.readLong()
            lane(j) = if (present) decode(j, v) else null
          } else skipFully(in, 9)
          j += 1
        }
        ext += (if (srcOf.isEmpty) NoLanes
          else srcOf.map(s => if (s < 0) null else lane(s)))
        i += 1
      }
      (base.toSeq, ext.toSeq)
    } finally in.close()
    recs.zip(exts)
  }

  /** The LIVE records of a store file — [[readRecords]] with the file's
    * committed deletion vector applied (the rewrite-side read of
    * compaction, merge and COW SQL, so their outputs fold DVs away).
    * The manifest entry's count arbitrates whether the mask is
    * committed, exactly as in the scan readers ([[EventLogDv
    * .maskFor]]); an unmanifested file must carry no DV. */
  def readLiveRecords(dir: String, name: String, cols: Seq[String] = Nil)
      : Seq[((Long, Long, Long, String, Long), Array[AnyRef])] = {
    val f = new java.io.File(dir, name)
    val recs = readRecords(f, cols)
    val expect = readManifest(dir).get(name).map(_.count).getOrElse(-1)
    EventLogDv.maskFor(f, recs.size, expect) match {
      case None => recs
      case Some(dv) => recs.iterator.zipWithIndex
        .collect { case (r, i) if !dv.dead(i) => r }.toSeq
    }
  }

  // ------------------------------------------------------- bucketing

  /** The bucketed-store marker `_bucketing.gelb` ("user_id <n>"): a
    * store written with `.option("bucket.count", n)` routes every record
    * to `bucket = floorMod(user_id, n)` ([[GraftBucketFunction
    * .bucketOf]] — the same function the catalog exposes to Catalyst)
    * and tags each file name with `-b%04d-`. A bucketed store read
    * through [[graft.sources.v2.GraftCatalog]] reports
    * `KeyGroupedPartitioning(bucket(n, user_id))`, so a join of two
    * same-bucketed reads is STORAGE-PARTITIONED — no exchange above
    * either scan. */
  val BucketingName = "_bucketing.gelb"

  private val BucketTag = """.*-b(\d{4})-.*""".r

  /** The bucket id a bucketed writer encoded in `name`, if any. */
  def bucketOfName(name: String): Option[Int] = name match {
    case BucketTag(b) => Some(b.toInt)
    case _ => None
  }

  /** The store's bucket count when its marker is present. A torn or
    * foreign marker is LOUD. */
  def readBucketing(dir: String): Option[Int] = {
    val f = new java.io.File(dir, BucketingName)
    if (!EventLog.fs.isFile(f)) return None
    val txt = new String(EventLog.fs.readAll(f),
      "UTF-8").trim
    txt.split("\\s+") match {
      case Array("user_id", n) => Some(n.toInt)
      case _ => throw new IllegalStateException(
        s"graft-eventlog: unreadable $BucketingName in $dir: '$txt'")
    }
  }

  /** Persist the bucketing spec (temp-and-rename); a CONFLICTING
    * existing spec is refused loudly — re-bucketing a store is a
    * rewrite, not an append. */
  def writeBucketing(dir: String, n: Int): Unit = synchronized {
    readBucketing(dir) match {
      case Some(existing) if existing != n =>
        throw new IllegalStateException(
          s"graft-eventlog: $dir is bucketed user_id % $existing; an " +
            s"append with bucket.count=$n would break the layout — " +
            "rewrite the store to re-bucket")
      case Some(_) => ()
      case None =>
        val tmp = new java.io.File(dir,
          s".inprogress.bucketing.${java.util.UUID.randomUUID()}")
        EventLog.fs.writeAll(tmp,
          s"user_id $n\n".getBytes("UTF-8"))
        if (!EventLog.fs.rename(tmp, new java.io.File(dir, BucketingName)))
          throw new java.io.IOException(
            s"graft-eventlog: could not commit $BucketingName in $dir")
    }
  }

  // ------------------------------------------------------- maintenance

  /** The data file a sidecar name belongs to (bloom index or deletion
    * vector), if it is one: vacuum's orphan test and the rewrite
    * swap's input sweep share this so no sidecar family is ever left
    * behind by one of them. */
  private[v2] def sidecarDataFile(name: String): Option[String] =
    if (name.endsWith(".gelbloom")) Some(name.stripSuffix(".gelbloom"))
    else EventLogDv.dataFileOf(name)

  /** Sweep orphan `.inprogress.*` temp files older than `graceMs` — the
    * residue of HARD-KILLED writers (a batch task whose abort never
    * ran, a superseded sink attempt, a torn maintenance step) — plus
    * orphaned SIDECARS (`.gelbloom` bloom indexes, `.geldv` deletion
    * vectors) whose data file a later merge/compaction/delete unlinked:
    * nothing can ever read them, so leaving them would be dead bytes
    * the vacuum surface claims to reclaim. Safe by the writers' shared
    * protocol: temps become data only by RENAME on a commit path, so a
    * temp older than the grace period belongs to no live attempt —
    * EXCEPT one referenced by a still-pending intent (compaction's or
    * the streaming sink's), whose roll-forward may still need it; those
    * are skipped, never amputated. Committed data, the manifest log,
    * markers, intents, and dot-directories are never touched. Returns
    * the number of files removed. */
  def vacuum(dir: String, graceMs: Long = 24L * 3600 * 1000): Int =
    synchronized {
      val d = new java.io.File(dir)
      require(EventLog.fs.isDirectory(d), s"graft-eventlog: $dir is not a directory")
      val files = EventLog.fs.listFiles(d)
      val pinned: Set[String] =
        files.filter(_.getName.startsWith(EventLogCompact.IntentPrefix))
          .flatMap(f => EventLogCompact.readIntent(f).temps).toSet ++
        files.filter(_.getName.startsWith(EventLogSink.IntentPrefix))
          .flatMap(f => EventLogSink.readIntent(f)._2.map(_.temp))
      val cutoff = System.currentTimeMillis() - graceMs
      // logically-removed-but-listed data files: a crash between a
      // commit's manifest append and its unlinks leaves inputs on disk
      // that planning already skips (the removed-names rule) — dead
      // bytes, reclaimed here once past the grace period (a reader
      // that planned them BEFORE their remove committed may still be
      // scanning inside the window)
      val man = readManifest(dir)
      lazy val removedRetained: Set[String] =
        commitHistory(dir).iterator.flatMap(_._3).toSet
      // retention policy: a file removed by a commit still inside the
      // protected window is NOT dead bytes — it serves row-level time
      // travel of the protected versions; only expiry reclaims it
      lazy val protectedRemoves: Set[String] = readRetention(dir) match {
        case None => Set.empty
        case Some(Retention.Versions(k)) =>
          val floor = currentVersion(dir) - k
          commitHistory(dir).iterator.filter(_._1 > floor)
            .flatMap(_._3).toSet
        case Some(Retention.Millis(ms)) =>
          val cutoffP = System.currentTimeMillis() - ms
          val (_, segs) = manifestFiles(d)
          val young = segs.filter(f =>
            EventLog.fs.lastModified(f) >= cutoffP).map(segSeq).toSet
          commitHistory(dir).iterator.filter(c => young(c._1))
            .flatMap(_._3).toSet
      }
      val doomed = files.filter { f =>
        EventLog.fs.isFile(f) && (f.getName.startsWith(".inprogress.") ||
          f.getName.startsWith(".stale.lock.")) &&
          !pinned(f.getName) && EventLog.fs.lastModified(f) < cutoff
      } ++ files.filter { f =>
        EventLog.fs.isFile(f) && sidecarDataFile(f.getName)
          .exists(data => !EventLog.fs.isFile(new java.io.File(d, data)))
      } ++ files.filter { f =>
        EventLog.fs.isFile(f) && f.getName.endsWith(".gel") &&
          !man.contains(f.getName) && EventLog.fs.lastModified(f) < cutoff &&
          removedRetained(f.getName) && !protectedRemoves(f.getName)
      }
      doomed.foreach { f =>
        if (!EventLog.fs.delete(f)) throw new java.io.IOException(
          s"graft-eventlog: vacuum could not delete ${f.getName} in $dir")
      }
      // CDC parts for commits the checkpoint absorbed are unreachable
      // (the feed refuses below the fold) — dead bytes, swept here
      val sweptCdc = files.find(_.getName == ManifestName)
        .map(f => EventLogCdc.sweepBelow(dir, checkpointFoldedThrough(f)))
        .getOrElse(0)
      doomed.size + sweptCdc
    }

  // ----------------------------------------------- zone-map predicates

  /** May ANY row of a file with zone map `h` satisfy every filter?
    * Conservative: unknown filters admit (over-read, never drop) — the
    * shared planning test of the batch scan and the delete path. */
  def zoneAdmits(h: Header, filters: Array[Filter]): Boolean =
    filters.forall {
      case GreaterThan("ts_us", v: java.lang.Long) => h.maxTs > v
      case GreaterThanOrEqual("ts_us", v: java.lang.Long) => h.maxTs >= v
      case LessThan("ts_us", v: java.lang.Long) => h.minTs < v
      case LessThanOrEqual("ts_us", v: java.lang.Long) => h.minTs <= v
      case EqualTo("ts_us", v: java.lang.Long) => h.minTs <= v && h.maxTs >= v
      case EqualTo("event_type", v: String) => h.types.contains(v)
      case In("event_type", vs) =>
        vs.exists(v => h.types.contains(String.valueOf(v)))
      case In("ts_us", vs) => vs.exists {
        case v: java.lang.Long => h.minTs <= v && h.maxTs >= v
        case _ => true
      }
      // user_id zone lane (round 9): an entry without bounds (or a
      // header-fallback file) admits — it can only over-read
      case GreaterThan("user_id", v: java.lang.Long) =>
        h.users.forall(_._2 > v)
      case GreaterThanOrEqual("user_id", v: java.lang.Long) =>
        h.users.forall(_._2 >= v)
      case LessThan("user_id", v: java.lang.Long) =>
        h.users.forall(_._1 < v)
      case LessThanOrEqual("user_id", v: java.lang.Long) =>
        h.users.forall(_._1 <= v)
      case EqualTo("user_id", v: java.lang.Long) =>
        h.users.forall(u => u._1 <= v && u._2 >= v)
      case In("user_id", vs) => h.users.forall(u => vs.exists {
        case v: java.lang.Long => u._1 <= v && u._2 >= v
        case _ => true
      })
      // event_id KEY lane: point lookups and key-batch joins prune to
      // the files whose id range can contain the key
      case GreaterThan("event_id", v: java.lang.Long) =>
        h.ids.forall(_._2 > v)
      case GreaterThanOrEqual("event_id", v: java.lang.Long) =>
        h.ids.forall(_._2 >= v)
      case LessThan("event_id", v: java.lang.Long) =>
        h.ids.forall(_._1 < v)
      case LessThanOrEqual("event_id", v: java.lang.Long) =>
        h.ids.forall(_._1 <= v)
      case EqualTo("event_id", v: java.lang.Long) =>
        h.ids.forall(i => i._1 <= v && i._2 >= v)
      case In("event_id", vs) => h.ids.forall(i => vs.exists {
        case v: java.lang.Long => i._1 <= v && i._2 >= v
        case _ => true
      })
      case _ => true
    }

  /** Must EVERY row of a file with zone map `h` satisfy every filter?
    * Conservative the other way: unknown filters fail (a file is only
    * whole-deletable when metadata PROVES each row matches) — the dual
    * [[EventLogTable.deleteWhere]] needs for file-granular deletes. */
  def zoneAllMatch(h: Header, filters: Array[Filter]): Boolean =
    filters.forall {
      case GreaterThan("ts_us", v: java.lang.Long) => h.minTs > v
      case GreaterThanOrEqual("ts_us", v: java.lang.Long) => h.minTs >= v
      case LessThan("ts_us", v: java.lang.Long) => h.maxTs < v
      case LessThanOrEqual("ts_us", v: java.lang.Long) => h.maxTs <= v
      case EqualTo("ts_us", v: java.lang.Long) =>
        h.minTs == v.longValue && h.maxTs == v.longValue
      case EqualTo("event_type", v: String) => h.types == Seq(v)
      case In("event_type", vs) =>
        h.types.forall(t => vs.exists(v => String.valueOf(v) == t))
      case In("ts_us", vs) => h.minTs == h.maxTs && vs.exists {
        case v: java.lang.Long => v.longValue == h.minTs
        case _ => false
      }
      // user bounds prove all-match only when PRESENT — a missing lane
      // can never justify deleting a whole file
      case GreaterThan("user_id", v: java.lang.Long) =>
        h.users.exists(_._1 > v)
      case GreaterThanOrEqual("user_id", v: java.lang.Long) =>
        h.users.exists(_._1 >= v)
      case LessThan("user_id", v: java.lang.Long) =>
        h.users.exists(_._2 < v)
      case LessThanOrEqual("user_id", v: java.lang.Long) =>
        h.users.exists(_._2 <= v)
      case EqualTo("user_id", v: java.lang.Long) =>
        h.users.exists(u => u._1 == v.longValue && u._2 == v.longValue)
      case GreaterThan("event_id", v: java.lang.Long) =>
        h.ids.exists(_._1 > v)
      case GreaterThanOrEqual("event_id", v: java.lang.Long) =>
        h.ids.exists(_._1 >= v)
      case LessThan("event_id", v: java.lang.Long) =>
        h.ids.exists(_._2 < v)
      case LessThanOrEqual("event_id", v: java.lang.Long) =>
        h.ids.exists(_._2 <= v)
      case EqualTo("event_id", v: java.lang.Long) =>
        h.ids.exists(i => i._1 == v.longValue && i._2 == v.longValue)
      case _: org.apache.spark.sql.sources.AlwaysTrue => true
      case _ => false
    }

  /** Split top-level ANDs — delete conditions arrive as one conjunct
    * array, but defensively flatten nested Ands too. */
  def flattenAnd(filters: Array[Filter]): Array[Filter] =
    filters.flatMap {
      case org.apache.spark.sql.sources.And(l, r) =>
        flattenAnd(Array(l, r))
      case f => Array(f)
    }

  private val LongCols = Set("event_id", "ts_us", "user_id", "cents")

  /** Can every conjunct be evaluated EXACTLY against a decoded record?
    * The gate for row-level (deletion-vector) deletes: a conjunction
    * that passes evaluates identically here and in the engine above,
    * so the delete cuts exactly the rows the predicate names. Unknown
    * filter shapes fail — a DV built from an approximation would
    * silently delete the wrong rows. */
  def rowEvaluable(filters: Array[Filter]): Boolean = filters.forall {
    case EqualTo(c, _: java.lang.Long) if LongCols(c) => true
    case GreaterThan(c, _: java.lang.Long) if LongCols(c) => true
    case GreaterThanOrEqual(c, _: java.lang.Long) if LongCols(c) => true
    case LessThan(c, _: java.lang.Long) if LongCols(c) => true
    case LessThanOrEqual(c, _: java.lang.Long) if LongCols(c) => true
    case In(c, vs) if LongCols(c) =>
      vs.forall(_.isInstanceOf[java.lang.Long])
    case EqualTo("event_type", _: String) => true
    case In("event_type", vs) => vs.forall(_.isInstanceOf[String])
    case _: org.apache.spark.sql.sources.AlwaysTrue => true
    case _ => false
  }

  /** Evaluate a [[rowEvaluable]] conjunction against one record. */
  def rowMatches(filters: Array[Filter], id: Long, ts: Long, user: Long,
      tpe: String, cents: Long): Boolean = {
    def v(c: String): Long = c match {
      case "event_id" => id
      case "ts_us" => ts
      case "user_id" => user
      case "cents" => cents
    }
    filters.forall {
      case EqualTo("event_type", s: String) => tpe == s
      case In("event_type", vs) => vs.exists(_ == tpe)
      case EqualTo(c, x: java.lang.Long) => v(c) == x.longValue
      case GreaterThan(c, x: java.lang.Long) => v(c) > x.longValue
      case GreaterThanOrEqual(c, x: java.lang.Long) => v(c) >= x.longValue
      case LessThan(c, x: java.lang.Long) => v(c) < x.longValue
      case LessThanOrEqual(c, x: java.lang.Long) => v(c) <= x.longValue
      case In(c, vs) => vs.exists {
        case x: java.lang.Long => v(c) == x.longValue
        case _ => false
      }
      case _: org.apache.spark.sql.sources.AlwaysTrue => true
      case f => throw new IllegalStateException(
        s"graft-eventlog: $f passed rowEvaluable but has no evaluator — " +
          "the two must never diverge")
    }
  }

  // ------------------------------------------------- option predicates

  /** Source-scoped predicates from read OPTIONS: `ts.min` / `ts.max`
    * (inclusive epoch-micro bounds on `ts_us`) and `event.type`
    * (equality). Semantics are EXACT, not file-granular: zone maps skip
    * whole files at planning time AND surviving files re-filter
    * row-level in the reader, so the scoped source behaves exactly as
    * if the predicate were in the query. WHY options exist at all:
    * Spark 4 does not run V2 filter pushdown on micro-batch scans
    * (round-7 finding), so a STREAMING tail has no other way to tell
    * the source which files it will never need — `.option("ts.min", …)`
    * is that channel, and the batch scan honors the same options so one
    * reader definition means one thing. */
  case class OptPred(tsMin: Option[Long], tsMax: Option[Long],
      eventType: Option[String]) {
    def isEmpty: Boolean = tsMin.isEmpty && tsMax.isEmpty && eventType.isEmpty
    def admitsFile(h: Header): Boolean =
      tsMin.forall(h.maxTs >= _) && tsMax.forall(h.minTs <= _) &&
        eventType.forall(h.types.contains)
    // the ROW form of these predicates lives inlined in
    // EventLogReaderFactory (predTs/tsLo/tsHi + a per-file ordinal
    // admissibility array — one array index per row, no string compare);
    // change the semantics there, not here
  }

  object OptPred {
    val All: OptPred = OptPred(None, None, None)
    def fromOptions(o: CaseInsensitiveStringMap): OptPred = OptPred(
      Option(o.get("ts.min")).map(_.toLong),
      Option(o.get("ts.max")).map(_.toLong),
      Option(o.get("event.type")))
  }
}

/** The registered provider: `spark.read.format("graft-eventlog")
  * .load(dir)`. */
class EventLogSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-eventlog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Option(options.get("path")) match {
      case Some(p) if options.getBoolean("cdc.typed", false) =>
        EventLogCdc.typedSchemaOf(p)
      case Some(p) => EventLogSchema.schemaOf(p,
        EventLog.TimeView.fromOptions(options))
      case None => EventLog.Schema
    }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new EventLogTable(properties.get("path"),
      typedCdc = "true".equalsIgnoreCase(
        String.valueOf(properties.get("cdc.typed"))))
}

/** `defaultView` pins the whole TABLE to a version — how the catalog
  * serves `VERSION AS OF` / `TIMESTAMP AS OF` SQL; a pinned table is
  * read-only and refuses a conflicting view option. `typedCdc` turns
  * the table into the TYPED change feed ([[EventLogCdc]]): schema
  * grows `_change_type` + `_commit_version`, reads must be a changes
  * window or a stream tail, and writes refuse. */
class EventLogTable(path: String,
    defaultView: EventLog.TimeView = EventLog.TimeView.Current,
    typedCdc: Boolean = false)
    extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** `_file` — every row's store-relative data file name. Provenance
    * for ordinary queries (`SELECT _file, count(*) … GROUP BY _file`)
    * and the group key Spark's copy-on-write row-level rewrites
    * filter on. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = EventLog.FileMetaCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "store-relative data file name (graft-eventlog)"
    })

  /** SQL `UPDATE` / `MERGE INTO` / expression-level `DELETE` — the
    * COPY-ON-WRITE group rewrite ([[EventLogRowLevelOperation]]):
    * Spark discovers matched FILES through a runtime `_file` filter,
    * reads exactly those groups, hands back their full replacement
    * rows, and the commit swaps old files for new in ONE manifest
    * segment. Metadata-provable deletes keep taking the cheaper
    * lanes (whole-file unlink / deletion vectors) via
    * `canDeleteWhere`. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(defaultView == EventLog.TimeView.Current && !typedCdc,
      "graft-eventlog: row-level SQL applies to the live table only")
    () => new EventLogRowLevelOperation(path, info.command())
  }
  require(path != null, "graft-eventlog needs a path: .load/.save(<dir>)")
  override def name(): String = s"graft-eventlog($path)" +
    (if (defaultView == EventLog.TimeView.Current) "" else s"@$defaultView") +
    (if (typedCdc) "@cdc" else "")

  /** `SHOW TBLPROPERTIES graft.<store>` reads the DECLARED state back
    * — the retention policy surfaces under the same keys
    * `ALTER TABLE … SET TBLPROPERTIES` accepts. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    EventLog.readRetention(path).foreach {
      case EventLog.Retention.Versions(n) =>
        m.put("retention.versions", n.toString)
      case EventLog.Retention.Millis(ms) =>
        m.put("retention.ms", ms.toString)
    }
    m
  }
  override def schema(): StructType =
    if (typedCdc) EventLogCdc.typedSchemaOf(path)
    else EventLogSchema.schemaOf(path, defaultView)

  /** Deletes on three rungs, cheapest first, all decided per file from
    * metadata (the Delta/Iceberg ladder):
    *
    *  - a file whose zone map proves NO row matches is untouched;
    *  - a file whose zone map proves EVERY row matches is unlinked
    *    whole — retention (`ts_us < <day boundary>`) stays a manifest
    *    append plus N unlinks, never a rewrite;
    *  - a file the condition cuts INSIDE takes a DELETION VECTOR
    *    ([[EventLogDv]]): the data file is untouched, one row-mask
    *    sidecar is written, and the manifest entry is updated to the
    *    LIVE statistics — accepted only when every conjunct is exactly
    *    row-evaluable ([[EventLog.rowEvaluable]]) and the file is
    *    manifested (the entry's count arbitrates mask commitment);
    *    anything else refuses via `canDeleteWhere` before Spark
    *    touches the table.
    *
    * One manifest segment commits the whole delete; a later plain
    * changes-feed window over it refuses loudly (removes, or in-place
    * entry updates a row-feed cannot express). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    require(defaultView == EventLog.TimeView.Current,
      s"graft-eventlog: a table pinned to $defaultView is read-only — " +
        "deletes apply to the live table")
    val fs = EventLog.flattenAnd(filters)
    lazy val man = EventLog.readManifest(path)
    EventLog.zoneMaps(path).forall { case (f, h) =>
      EventLog.zoneAllMatch(h, fs) || !EventLog.zoneAdmits(h, fs) ||
        (EventLog.rowEvaluable(fs) && man.contains(f.getName))
    }
  }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val fs = EventLog.flattenAnd(filters)
    val man = EventLog.readManifest(path)
    val doomed = scala.collection.mutable.ArrayBuffer.empty[String]
    val partials = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    EventLog.zoneMaps(path).foreach { case (f, h) =>
      if (EventLog.zoneAllMatch(h, fs)) doomed += f.getName
      else if (!EventLog.zoneAdmits(h, fs)) ()
      else if (EventLog.rowEvaluable(fs) && man.contains(f.getName))
        partials += ((f.getAbsolutePath, h.count))
      else throw new IllegalStateException(
        s"graft-eventlog: ${f.getName} (ts ${h.minTs}..${h.maxTs}, types " +
          s"${h.types.mkString(",")}) only PARTIALLY matches the delete " +
          s"condition [${fs.mkString(", ")}], which is not row-evaluable " +
          "(or the file is unmanifested) — and the store changed " +
          "between canDeleteWhere and deleteWhere; re-run the delete")
    }
    // zone-proven dooms never decoded their rows, so a commit holding
    // one cannot journal complete change data (captured BEFORE the
    // row-level pass appends its own all-dead dooms, which DID decode)
    val zoneDoomedAny = doomed.nonEmpty
    val cdcTemps = scala.collection.mutable.ArrayBuffer.empty[String]
    // staged DV sidecars awaiting their under-lock finalize:
    // (temp name, data file name, live count)
    val dvStaged = scala.collection.mutable.ArrayBuffer.empty[(String, String, Int)]
    val updated: Seq[EventLog.ManifestEntry] =
      if (partials.isEmpty) Nil
      else {
        val spark = org.apache.spark.sql.SparkSession.active
        require(spark.sparkContext.isLocal || (EventLog.fs ne LocalGelFs),
          "graft-eventlog delete: row-level deletes write DV sidecars " +
            "into the store directory — driver and executors must share " +
            "one filesystem (local mode), like compaction and merge.")
        val fsB = fs
        val addedB = EventLogSchema.read(path)
        val extColsB = addedB.map(_.name)
        val extWireB = addedB.map(_.wire)
        val dirB = path
        // one task per cut file: decode, fold the prior committed mask,
        // evaluate the conjunction on live rows, write the cumulative
        // sidecar, return the LIVE entry. No matches → no-op; nothing
        // left alive → the file dooms whole instead of an all-dead mask.
        val results = EventLog.withFsProbe(path) { probeToken =>
          spark.sparkContext
          .parallelize(partials.toSeq, partials.size)
          .map { case (p, expect) =>
            EventLog.taskFsCheck(dirB, probeToken)
            val f = new java.io.File(p)
            val pairs = EventLog.readRecords(f, extColsB)
            val prior = EventLogDv.maskFor(f, pairs.size, expect)
            val dead = scala.collection.mutable.ArrayBuffer.empty[Int]
            val freshRows = scala.collection.mutable.ArrayBuffer
              .empty[EventLogCdc.Row]
            pairs.iterator.zipWithIndex.foreach { case ((r, lanes), i) =>
              if (prior.exists(_.dead(i))) dead += i
              else if (EventLog.rowMatches(fsB, r._1, r._2, r._3, r._4,
                  r._5)) {
                dead += i
                freshRows += EventLogCdc.Row(EventLogCdc.Delete, r._1,
                  r._2, r._3, r._4, r._5, lanes)
              }
            }
            // each task journals its own CDC part (its freshly-deleted
            // rows) next to the DV write — executor-side, batch-bounded
            val cdcTmp =
              if (freshRows.isEmpty) None
              else Some(EventLogCdc.writeTemp(f.getParent,
                freshRows.toSeq, extWireB))
            if (freshRows.isEmpty)
              (f.getName, 0, Option.empty[EventLog.ManifestEntry], cdcTmp,
                Option.empty[(String, Int)])
            else if (dead.size == pairs.size)
              (f.getName, 1, Option.empty[EventLog.ManifestEntry], cdcTmp,
                Option.empty[(String, Int)])
            else {
              val deadSet = dead.toSet
              val live = pairs.iterator.zipWithIndex
                .collect { case ((r, _), i) if !deadSet(i) => r }.toSeq
              // STAGED only: the sidecar's final name is shared with
              // any competing delete that leaves the same live count,
              // so the rename happens driver-side under the commit
              // lock, after the conflict check admits THIS delete —
              // a refused loser never clobbers the winner's mask
              val (dv, dvTmp) = EventLogDv.writeStaged(f, pairs.size, dead)
              (f.getName, 2, Some(EventLog.entryOfRecords(f.getName, live)),
                cdcTmp, Some((dvTmp, dv.live)))
            }
          }.collect().toSeq
        }
        doomed ++= results.collect { case (n, 1, _, _, _) => n }
        cdcTemps ++= results.flatMap(_._4)
        dvStaged ++= results.collect { case (n, 2, _, _, Some((t, l))) =>
          (t, n, l)
        }
        results.collect { case (_, 2, Some(e), _, _) => e }
      }
    // manifest first (the visibility point — a doomed-but-listed file
    // is already invisible to planning via the removed-names rule),
    // unlinks after: a concurrent reader sees pre- or post-state,
    // never a gap; a crash before the unlinks leaves logically-removed
    // files that vacuum's removed-but-listed sweep reclaims
    if (doomed.nonEmpty || updated.nonEmpty) {
      // CHECKED: the doomed unlinks AND the in-place DV entry updates
      // both assume their files are still live — a concurrent rewrite
      // that already replaced one means this delete planned from a
      // stale snapshot (blindly updating the entry would resurrect a
      // removed name). The loser cleans its CDC temps AND its staged
      // sidecar temps and rethrows — nothing of a refused delete ever
      // reaches a final sidecar name (the winner's mask is safe).
      val seq =
        try EventLog.appendManifestChecked(path, updated,
          removes = doomed.toSeq,
          // unmanifested dooms (header-fallback files) have no manifest
          // evidence to check — only planned-from-manifest names gate
          mustBeLive = doomed.toSeq.filter(man.contains) ++
            updated.map(_.file),
          // plan-time entries: a competitor's in-place DV update on
          // the same file (two racing deletes) must refuse, or the
          // second mask would silently drop the first delete's rows
          expectedEntries = (doomed.toSeq ++ updated.map(_.file))
            .flatMap(n => man.get(n).map(n -> _)).toMap,
          // commit-scoped finalize: rename the staged sidecars to
          // their (dataFile, live) names inside the critical section,
          // after this delete is admitted — the entries about to land
          // load exactly these masks
          underLock = manifest => dvStaged.foreach { case (t, n, l) =>
            EventLogDv.finalizeStaged(path, t, n, l, manifest)
          })
        catch { case e: ConcurrentRewriteException =>
          cdcTemps.foreach(t => EventLog.fs.delete(new java.io.File(path, t)))
          dvStaged.foreach { case (t, _, _) =>
            EventLog.fs.delete(new java.io.File(path, t))
          }
          throw e
        }
      // retention: doomed files stay on disk (removed-but-listed) so
      // protected versions keep their row reads; expiry reclaims them
      if (EventLog.readRetention(path).isEmpty)
        doomed.foreach { n =>
          val f = new java.io.File(path, n)
          if (EventLog.fs.isFile(f) && !EventLog.fs.delete(f)) throw new java.io.IOException(
            s"graft-eventlog: could not delete $n in $path")
          EventLogCompact.deleteWithSidecars(path, n)
        }
      // change data commits only when it is COMPLETE: a zone-proven
      // whole-file delete never decoded its rows (that is its whole
      // point), so a commit containing one journals nothing and its
      // feed window refuses — the retention-delete contract. Pure
      // row-level deletes journal every dead row and stay streamable.
      if (!zoneDoomedAny)
        cdcTemps.foreach { t =>
          val tmp = new java.io.File(path, t)
          if (EventLog.fs.isFile(tmp)) {
            val fin = new java.io.File(path, EventLogCdc.partName(seq))
            if (!EventLog.fs.rename(tmp, fin)) throw new java.io.IOException(
              s"graft-eventlog: could not commit CDC part ${fin.getName}")
          }
        }
      else cdcTemps.foreach(t => EventLog.fs.delete(new java.io.File(path, t)))
    }
  }
  /** A bucketed store advertises its layout: Catalyst resolves this
    * `bucket(n, user_id)` transform (through the catalog's function) and
    * can then trust the scan's reported `KeyGroupedPartitioning`. */
  override def partitioning(): Array[Transform] =
    EventLog.readBucketing(path) match {
      case Some(n) => Array(
        org.apache.spark.sql.connector.expressions.Expressions
          .bucket(n, "user_id"))
      case None => Array.empty
    }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.MICRO_BATCH_READ,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val view = (EventLog.TimeView.fromOptions(options), defaultView) match {
      case (EventLog.TimeView.Current, dv) => dv
      case (ov, EventLog.TimeView.Current) => ov
      case (ov, dv) => throw new IllegalArgumentException(
        s"graft-eventlog: the table is pinned to $dv but the read asks " +
          s"for $ov — pick one")
    }
    new EventLogScanBuilder(path, EventLog.OptPred.fromOptions(options), view,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      Option(options.get("maxBytesPerTrigger")).map(_.toLong),
      options.getBoolean("stream.changes", false),
      Option(options.get("changes.startingVersion")).map(_.toLong)
        .getOrElse(0L),
      typedCdc || options.getBoolean("cdc.typed", false))
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(defaultView == EventLog.TimeView.Current,
      s"graft-eventlog: a table pinned to $defaultView is read-only — " +
        "history is immutable; write to the live table instead")
    require(!typedCdc,
      "graft-eventlog: the typed CDC feed is read-only — write to the " +
        "store itself")
    new EventLogWriteBuilder(path, info.schema(), info.options(),
      info.queryId())
  }
}

/** Accepts `ts_us` range predicates and `event_type` equality for
  * file-level skipping; prunes the record decode to the required
  * columns. Accepted filters are ALSO returned as residuals — Spark
  * re-applies them row-level, so skipping is pure optimization. */
class EventLogScanBuilder(path: String,
    opts: EventLog.OptPred = EventLog.OptPred.All,
    view: EventLog.TimeView = EventLog.TimeView.Current,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    streamChanges: Boolean = false,
    startingVersion: Long = 0L,
    typedCdc: Boolean = false,
    captureScan: EventLogScan => Unit = null,
    cowGroups: Boolean = false) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownOffset {

  private var required: StructType =
    if (typedCdc) EventLogCdc.typedSchemaOf(path)
    else EventLogSchema.schemaOf(path, view)
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var offset: Option[Int] = None
  private def isCurrent: Boolean = view == EventLog.TimeView.Current

  /** LIMIT n plans only enough files to cover n rows (header counts are
    * exact) and each reader stops decoding at n — `df.limit(5)` on a
    * million-file store opens one file. PARTIAL semantics (Spark keeps
    * its own global limit above); accepted only on an unfiltered,
    * unscoped scan — under predicates a file's ADMITTED count is
    * unknowable from metadata, and Spark only pushes limits it has
    * proven no residual filter sits under anyway. */
  override def pushLimit(n: Int): Boolean = {
    if (pushed.nonEmpty || !opts.isEmpty || !isCurrent || offset.isDefined ||
      typedCdc)
      return false
    // a deletion vector splits a file's counts: metadata counts are
    // LIVE, record positions are PHYSICAL — the limit's file-coverage
    // arithmetic would mix them, so refuse (a plain scan + Spark's own
    // limit stays correct)
    if (EventLogDv.anyIn(path)) return false
    limit = Some(n)
    true
  }

  /** OFFSET n skips EXACTLY the first n rows in the store's
    * deterministic file order — whole files by their exact header
    * counts, plus a fixed-width record skip inside the boundary file.
    * Unlike limit, a pushed offset is COMPLETE (Spark deletes the
    * Offset node), so it is accepted only on a bare scan: no row
    * predicates or option scoping (admitted counts unknowable from
    * metadata), no co-pushed limit (mixed per-partition semantics), no
    * version/changes view — and the scan then withdraws its runtime
    * filtering offer, because join-driven file pruning would change
    * WHICH rows the skip lands on after the Offset node is gone. */
  override def pushOffset(n: Int): Boolean = {
    if (pushed.nonEmpty || !opts.isEmpty || !isCurrent || limit.isDefined ||
      typedCdc)
      return false
    // same DV rail as pushLimit: a COMPLETE offset pushdown computed
    // over live counts but skipped over physical positions would land
    // on the wrong row — refuse, Spark keeps its Offset node
    if (EventLogDv.anyIn(path)) return false
    offset = Some(n)
    true
  }
  private var statsAgg: Option[Seq[EventLogStatsScan.Stat]] = None
  private var groupedAgg: Option[(Seq[String], Seq[(String, Seq[Long])])] = None

  private def zoneUsable(f: Filter): Boolean = f match {
    case GreaterThan("ts_us", _: java.lang.Long) => true
    case GreaterThanOrEqual("ts_us", _: java.lang.Long) => true
    case LessThan("ts_us", _: java.lang.Long) => true
    case LessThanOrEqual("ts_us", _: java.lang.Long) => true
    case EqualTo("ts_us", _: java.lang.Long) => true
    case EqualTo("event_type", _: String) => true
    // the user_id zone lane: selective on Z-ordered/bucket-sorted
    // stores, a no-op admit on manifests without bounds
    case GreaterThan("user_id", _: java.lang.Long) => true
    case GreaterThanOrEqual("user_id", _: java.lang.Long) => true
    case LessThan("user_id", _: java.lang.Long) => true
    case LessThanOrEqual("user_id", _: java.lang.Long) => true
    case EqualTo("user_id", _: java.lang.Long) => true
    // the event_id KEY lane: point lookups open one file on a
    // sequential-id feed
    case GreaterThan("event_id", _: java.lang.Long) => true
    case GreaterThanOrEqual("event_id", _: java.lang.Long) => true
    case LessThan("event_id", _: java.lang.Long) => true
    case LessThanOrEqual("event_id", _: java.lang.Long) => true
    case EqualTo("event_id", _: java.lang.Long) => true
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(zoneUsable)
    filters // everything stays residual: skipping may only over-read
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** The manifest entries backing metadata aggregates for THIS view:
    * Current = the live listing (None when any listed file is
    * unmanifested — its breakdowns exist nowhere); AsOf/Changes = the
    * slice's entries. The slice's entries OUTLIVE its bytes: a
    * compacted-away version can no longer be record-scanned, but its
    * counts, sums, and spans still answer exactly from the commit log —
    * history's numbers survive its files. */
  private def metadataEntries: Option[Seq[EventLog.ManifestEntry]] =
    view match {
      case EventLog.TimeView.Current =>
        val man = EventLog.readManifest(path)
        val files = EventLog.listFiles(path)
        if (!files.forall(f => man.contains(f.getName))) None
        else Some(files.map(f => man(f.getName)))
      case EventLog.TimeView.AsOf(v) =>
        Some(EventLog.readManifestAsOf(path, v).values.toSeq.sortBy(_.file))
      case EventLog.TimeView.Changes(f, t) =>
        Some(EventLog.changedEntries(path, f, t))
    }

  /** COUNT / MIN(ts_us) / MAX(ts_us) with no grouping answer from file
    * HEADERS alone — the scan never opens a record. Partial semantics
    * (`supportCompletePushDown` stays false): the source emits one
    * stats row per file and Spark's final aggregate combines them.
    * Refused whenever filters were pushed (zone maps describe whole
    * files, so a row-level predicate invalidates header stats) — and
    * Spark itself only attempts the push when no post-scan filter
    * remains. COUNT(col) equals COUNT(*) here because the format has
    * no null lane (enforced at write). Version/changes VIEWS push too:
    * their slice's manifest entries carry everything these aggregates
    * need, so "revenue by type as of version n" is a metadata read —
    * even after compaction deleted the version's bytes. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    // row-level predicates invalidate per-file metadata: zone maps and
    // type counts describe WHOLE files. Option predicates are row-level
    // too (ts bounds cut inside files), so they refuse the same way.
    // The typed CDC feed has no metadata form at all.
    if (pushed.nonEmpty || !opts.isEmpty || typedCdc) return false
    // stream.changes is a readStream option: refuse the metadata scans
    // so a mis-addressed BATCH read falls through to EventLogScan,
    // whose toBatch names the right option loudly — an aggregate
    // answered from metadata would silently ignore the option instead
    if (streamChanges) return false
    def tsUs(e: org.apache.spark.sql.connector.expressions.Expression) =
      e match {
        case f: NamedReference => f.fieldNames.sameElements(Array("ts_us"))
        case _ => false
      }
    def knownField(e: org.apache.spark.sql.connector.expressions.Expression) =
      e match {
        case f: NamedReference => f.fieldNames.length == 1 &&
          EventLog.Schema.fieldNames.contains(f.fieldNames.head)
        case _ => false
      }
    def countName(e: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc)
        : Option[String] = e match {
      case _: CountStar => Some("count(*)")
      case c: Count if !c.isDistinct && knownField(c.column()) =>
        // no-null format: count(col) = count(*)
        Some(s"count(${c.column().asInstanceOf[NamedReference].fieldNames.head})")
      case _ => None
    }

    aggregation.groupByExpressions match {
      case Array(g: NamedReference)
          if g.fieldNames.sameElements(Array("event_type")) =>
        // grouped twin: COUNT(*) / SUM(cents) GROUP BY event_type from
        // the view's manifest entries — refused when any live file is
        // uncovered (the breakdowns live only there; headers don't
        // carry them), and SUM additionally refuses when any entry
        // lacks the per-type-sums lane
        val entries = metadataEntries match {
          case None => return false
          case Some(es) => es
        }
        lazy val countByType: Map[String, Long] = entries
          .flatMap(e => e.types.zip(e.typeCounts))
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        lazy val sumByType: Option[Map[String, Long]] =
          if (entries.forall(_.typeSums.isDefined))
            Some(entries.flatMap(e => e.types.zip(e.typeSums.get))
              .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap)
          else None
        val cols = aggregation.aggregateExpressions.map { e =>
          countName(e).map(n => (n, countByType)).orElse(e match {
            case s: Sum if !s.isDistinct && (s.column() match {
              case f: NamedReference =>
                f.fieldNames.sameElements(Array("cents"))
              case _ => false
            }) => sumByType.map(m => ("sum(cents)", m))
            case _ => None
          })
        }
        if (cols.exists(_.isEmpty)) return false
        val names = cols.map(_.get._1).toSeq
        // group VALUES come from the entries, never from the agg columns:
        // a pure GROUP BY (zero aggregate expressions — how a distinct()
        // or a count()-over-groups plans) must still emit one row per
        // type, or the pushed scan silently answers "no groups"
        val types = countByType.keys.toSeq.sorted
        val rows = types.map(t => (t, cols.map(_.get._2(t)).toSeq))
        groupedAgg = Some((names, rows))
        true
      case Array() =>
        // empty slice: partial pushdown would rewrite the final COUNT to
        // a SUM over ZERO stats rows — NULL where the plain scan says 0.
        // Refuse and let the ordinary aggregate keep its semantics.
        // (Current checks the LISTING: the stats scan's per-file
        // fallback covers unmanifested files via header opens there.)
        val viewEntries: Option[Seq[EventLog.ManifestEntry]] =
          if (isCurrent) None else metadataEntries
        if (isCurrent && EventLog.listFiles(path).isEmpty) return false
        if (!isCurrent && viewEntries.forall(_.isEmpty)) return false
        // global SUM(cents) is answerable from the manifest's per-type
        // sums — but only when EVERY entry in play is sums-bearing
        // (headers don't carry sums; sums-less entries don't either)
        lazy val sumsAvailable: Boolean = viewEntries match {
          case Some(es) => es.forall(_.typeSums.isDefined)
          case None =>
            val man = EventLog.readManifest(path)
            EventLog.listFiles(path)
              .forall(f => man.get(f.getName).exists(_.typeSums.isDefined))
        }
        val stats = aggregation.aggregateExpressions.map {
          case m: Min if tsUs(m.column()) => Some(EventLogStatsScan.MinTs)
          case m: Max if tsUs(m.column()) => Some(EventLogStatsScan.MaxTs)
          case s: Sum if !s.isDistinct && (s.column() match {
            case f: NamedReference => f.fieldNames.sameElements(Array("cents"))
            case _ => false
          }) && sumsAvailable => Some(EventLogStatsScan.SumCents)
          case e => countName(e).map(EventLogStatsScan.CountRows)
        }
        if (stats.exists(_.isEmpty)) return false
        val needSums = stats.flatten.contains(EventLogStatsScan.SumCents)
        // a view's stats rows come straight from its entries — computed
        // HERE, so the scan never lists or opens anything
        statsRows = viewEntries.map(_.map(e => (e.count.toLong, e.minTs,
          e.maxTs, if (needSums) Some(e.typeSums.get.sum) else None)))
        statsAgg = Some(stats.flatten.toSeq)
        true
      case _ => false // only the event_type grouping has metadata counts
    }
  }
  private var statsRows
      : Option[Seq[(Long, Long, Long, Option[Long])]] = None

  private def viewNote: String =
    if (isCurrent) "" else s", view=$view"

  override def build(): Scan =
    if (typedCdc)
      new EventLogCdcScan(path, required, view, streamChanges,
        startingVersion, maxFilesPerTrigger, maxBytesPerTrigger)
    else (groupedAgg, statsAgg) match {
      case (Some((names, totals)), _) =>
        new EventLogGroupedStatsScan(path, names, totals, viewNote)
      case (_, Some(stats)) =>
        new EventLogStatsScan(path, stats, statsRows, viewNote)
      case _ =>
        val s = new EventLogScan(path, required, pushed, opts, limit, view,
          offset, maxFilesPerTrigger, maxBytesPerTrigger, streamChanges,
          startingVersion, cowGroups)
        // a row-level (copy-on-write) operation captures its rewrite
        // scan here: the commit replaces exactly the files that scan
        // plans after runtime group filtering
        if (captureScan != null) captureScan(s)
        s
    }
}

/** Manifest-only grouped aggregate scan: one row per event type with
  * its store-wide record count / cent sum, ZERO file opens (data or
  * header). The group column comes first in the schema — Spark's
  * partial-pushdown rewrite binds scan output positionally as groupBy ++
  * aggregates and re-aggregates above (SUM of the pushed values), so
  * multiple writers' files merge correctly even though the scan
  * pre-merged per type. */
class EventLogGroupedStatsScan(path: String, aggNames: Seq[String],
    rows: Seq[(String, Seq[Long])],
    viewNote: String = "") extends Scan with Batch {

  override def readSchema(): StructType = StructType(
    StructField("event_type", StringType, nullable = false) +:
      aggNames.map(n => StructField(n, LongType, nullable = true)))
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-eventlog $path, manifest-only grouped " +
      s"[${aggNames.mkString(", ")}] by event_type" + viewNote

  private lazy val plannedPartitions: Array[InputPartition] = {
    EventLogStatsScan.manifestOnlyGroupScans.incrementAndGet()
    Array(EventLogGroupedStatsPartition(rows))
  }

  override def planInputPartitions(): Array[InputPartition] = plannedPartitions

  override def createReaderFactory(): PartitionReaderFactory =
    new EventLogGroupedStatsReaderFactory(aggNames.length)
}

case class EventLogGroupedStatsPartition(rows: Seq[(String, Seq[Long])])
    extends InputPartition

class EventLogGroupedStatsReaderFactory(nAggs: Int)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[EventLogGroupedStatsPartition].rows
    new PartitionReader[InternalRow] {
      private val it = rows.iterator
      private var cur: (String, Seq[Long]) = _
      override def next(): Boolean = it.hasNext && { cur = it.next(); true }
      override def get(): InternalRow = {
        val row = new GenericInternalRow(1 + nAggs)
        row.update(0, UTF8String.fromString(cur._1))
        (0 until nAggs).foreach(i => row.update(1 + i, cur._2(i)))
        row
      }
      override def close(): Unit = ()
    }
  }
}

/** Header-only aggregate scan: one row per file, no record IO. */
object EventLogStatsScan {
  sealed trait Stat { def name: String }
  case class CountRows(name: String) extends Stat
  case object MinTs extends Stat { val name = "min(ts_us)" }
  case object MaxTs extends Stat { val name = "max(ts_us)" }
  case object SumCents extends Stat { val name = "sum(cents)" }

  /** Files answered from metadata alone (manifest entry or header) —
    * spec observability. */
  val headerOnlyFiles = new AtomicLong(0)
  /** Grouped-count scans answered from the manifest alone. */
  val manifestOnlyGroupScans = new AtomicLong(0)
}

class EventLogStatsScan(path: String, stats: Seq[EventLogStatsScan.Stat],
    precomputed: Option[Seq[(Long, Long, Long, Option[Long])]] = None,
    viewNote: String = "")
    extends Scan with Batch {

  override def readSchema(): StructType =
    StructType(stats.map(s => StructField(s.name, LongType, nullable = true)))
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-eventlog $path, header-only aggregates=" +
      s"[${stats.map(_.name).mkString(", ")}]" + viewNote

  /** Per-file stats come from ONE manifest read on the driver at
    * planning time (per-file header opens only for unmanifested files —
    * they are ~50 bytes each, so scheduling one task per file would
    * cost more than it reads) and ship as ONE partition of precomputed
    * stat rows. A VIEW's rows arrive already computed from its manifest
    * entries (`precomputed`) — this scan then lists and opens nothing.
    * Memoized for the same AQE double-planning reason as
    * [[EventLogScan.plannedPartitions]]. */
  private lazy val plannedPartitions: Array[InputPartition] = {
    val rows = precomputed.getOrElse {
      val needSums = stats.contains(EventLogStatsScan.SumCents)
      val man = if (needSums) EventLog.readManifest(path)
        else Map.empty[String, EventLog.ManifestEntry]
      EventLog.zoneMaps(path).map { case (f, h) =>
        EventLogStatsScan.headerOnlyFiles.incrementAndGet()
        val sum = if (!needSums) None
          else Some(man.get(f.getName).flatMap(_.typeSums).getOrElse(
            // the push checked availability; a file added between push
            // and plan without sums must fail LOUDLY, never emit a
            // wrong total
            throw new IllegalStateException(
              s"graft-eventlog: ${f.getName} has no per-type sums but a " +
                "SUM(cents) aggregate was pushed — the store changed " +
                "between pushdown and planning")).sum)
        (h.count.toLong, h.minTs, h.maxTs, sum)
      }
    }
    Array(EventLogStatsPartition(rows))
  }

  override def planInputPartitions(): Array[InputPartition] = plannedPartitions

  override def createReaderFactory(): PartitionReaderFactory =
    new EventLogStatsReaderFactory(stats)
}

/** One row per file: (count, minTs, maxTs, centsSum) — the first three
  * header-derived, the sum manifest-derived (present only when the
  * pushed stats need it). */
case class EventLogStatsPartition(rows: Seq[(Long, Long, Long, Option[Long])])
    extends InputPartition

class EventLogStatsReaderFactory(stats: Seq[EventLogStatsScan.Stat])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[EventLogStatsPartition].rows
    new PartitionReader[InternalRow] {
      private val it = rows.iterator
      private var cur: (Long, Long, Long, Option[Long]) = _
      override def next(): Boolean = it.hasNext && { cur = it.next(); true }
      override def get(): InternalRow = {
        val row = new GenericInternalRow(stats.length)
        stats.zipWithIndex.foreach {
          case (EventLogStatsScan.CountRows(_), i) => row.update(i, cur._1)
          case (EventLogStatsScan.MinTs, i) =>
            if (cur._1 == 0) row.update(i, null) else row.update(i, cur._2)
          case (EventLogStatsScan.MaxTs, i) =>
            if (cur._1 == 0) row.update(i, null) else row.update(i, cur._3)
          case (EventLogStatsScan.SumCents, i) => row.update(i, cur._4.get)
        }
        row
      }
      override def close(): Unit = ()
    }
  }
}

class EventLogScan(path: String, required: StructType,
    pushed: Array[Filter],
    opts: EventLog.OptPred = EventLog.OptPred.All,
    limit: Option[Int] = None,
    view: EventLog.TimeView = EventLog.TimeView.Current,
    offset: Option[Int] = None,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    streamChanges: Boolean = false,
    startingVersion: Long = 0L,
    cowGroups: Boolean = false) extends Scan
    with Batch
    with SupportsRuntimeFiltering with SupportsReportStatistics
    with SupportsReportPartitioning {

  override def readSchema(): StructType = required
  override def toBatch: Batch = {
    require(!streamChanges,
      "graft-eventlog: stream.changes is a readStream option — a batch " +
        "read of a version window is .option(\"changes.from\"/\"changes.to\")")
    this
  }
  override def description(): String =
    s"graft-eventlog $path, pushed=[${pushed.mkString(", ")}], " +
      s"read=[${required.fieldNames.mkString(",")}]" +
      (if (opts.isEmpty) "" else s", opts=$opts") +
      limit.map(n => s", limit=$n").getOrElse("") +
      offset.map(n => s", offset=$n").getOrElse("") +
      (if (view == EventLog.TimeView.Current) "" else s", view=$view")

  /** Join-driven runtime filters (the DSv2 dynamic-pruning channel):
    * when the eventlog is the fact side of a join whose other side is
    * selective, Spark materializes the build side's join-key values and
    * hands them here as `In` sets BEFORE partitions are planned — whole
    * files whose zone map / dictionary admits none of the keys are
    * never opened. Pure optimization: the join itself enforces the
    * predicate row-level, so a conservative zone map can only
    * over-read. */
  @volatile private var runtime: Array[Filter] = Array.empty

  /** Only columns that SURVIVED pruning may be offered: Spark resolves
    * these against the scan's output, and a pruned-away name is an
    * analysis error, not a no-op. A pushed OFFSET withdraws the offer
    * entirely — join-driven file pruning would change which rows the
    * (already-deleted) Offset node skips. */
  override def filterAttributes(): Array[NamedReference] =
    if (offset.isDefined) Array.empty
    // the COPY-ON-WRITE rewrite scan offers ONLY `_file`: Spark's
    // group-filter rule keys its pruning subquery on EVERY offered
    // attribute, and a multi-attribute struct cannot convert to the
    // V1 In filter the whitelist consumes — one attribute keeps the
    // delivered set exactly "the matched files"
    else if (cowGroups)
      Array(EventLog.FileMetaCol)
        .filter(required.fieldNames.contains)
        .map(org.apache.spark.sql.connector.expressions.Expressions.column)
    // user_id and event_id joined the runtime-prunable set with the
    // round-9 zone lanes: a join-delivered In set prunes whole files
    // on a clustered (user) or sequential-key (id) store (bounds
    // absent → admit-all)
    else Array("event_type", "ts_us", "user_id", "event_id")
      .filter(required.fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  // runtime In(_file, …) narrows planning to EXACTLY those files —
  // the group restriction of a copy-on-write rewrite (null = no
  // restriction delivered)
  @volatile private var fileWhitelist: Set[String] = null

  override def filter(filters: Array[Filter]): Unit = synchronized {
    EventLog.runtimeFilterCalls.incrementAndGet()
    runtime = filters
    val ins = filters.collect {
      case In(EventLog.FileMetaCol, vs) =>
        vs.map(String.valueOf).toSet
    }
    fileWhitelist = if (ins.isEmpty) null else ins.reduce(_ intersect _)
    planned = null // re-plan under the narrowed zone maps
  }

  /** The file names the LAST planning pass admitted — what a
    * copy-on-write commit replaces ([[EventLogRowLevelOperation]]). */
  @volatile private[v2] var plannedDataFiles: Seq[String] = Nil

  /** The manifest SNAPSHOT that planning pass saw — the expected-state
    * evidence the copy-on-write commit's conflict check compares
    * against (an input whose entry changed since this snapshot means a
    * concurrent rewrite or DV delete landed mid-operation). */
  @volatile private[v2] var plannedManifest: Map[String, EventLog.ManifestEntry] =
    Map.empty

  /** Does the file's zone map admit any row under the pushed filters,
    * the source-scoped option predicates, and the runtime filters? */
  private def survives(h: EventLog.Header): Boolean =
    admits(h, pushed ++ runtime)

  private def admits(h: EventLog.Header, filters: Array[Filter]): Boolean =
    opts.admitsFile(h) && EventLog.zoneAdmits(h, filters)

  /** Memoized: AQE materializes the exec node once for the initial plan
    * and once for the final one — without memoization every zone map
    * would be read (and every skip counted) twice per action. A runtime
    * filter arriving via [[filter]] invalidates the memo once. */
  @volatile private var planned: Array[InputPartition] = _

  // one zone-map read per scan INSTANCE: estimateStatistics may be
  // asked several times during optimization and planInputPartitions
  // after a runtime filter — all off the same snapshot. Version/changes
  // views plan from MANIFEST truth (the slice's entries), not the live
  // listing — files added after the version are invisible by design.
  private lazy val zoneMaps = view match {
    case EventLog.TimeView.Current => EventLog.zoneMaps(path)
    case EventLog.TimeView.AsOf(v) => EventLog.snapshotZoneMaps(path, v)
    case EventLog.TimeView.Changes(f, t) => EventLog.changesZoneMaps(path, f, t)
  }

  private def survivors: Seq[(java.io.File, EventLog.Header)] =
    zoneMaps.filter { case (_, h) => survives(h) }

  /** The bucket layout of the STATICALLY surviving files (pushed filters
    * + options; runtime filters excluded on purpose): fixed at
    * optimization time, so the reported `KeyGroupedPartitioning` and the
    * executed partition count can never diverge when a runtime filter
    * later narrows individual groups — a pruned group just plans as an
    * empty partition. None on an unbucketed store, on an empty layout,
    * or when a file misses the bucket tag (a mixed store — warned, the
    * scan falls back to per-file planning and stays correct). */
  private lazy val bucketGroups
      : Option[Seq[(Int, Seq[(java.io.File, EventLog.Header)])]] =
    // a pushed LIMIT or OFFSET prunes files by cumulative count, which
    // would desync the group count from the reported partitioning —
    // such scans plan per-file and report no co-partitioning. Version
    // and changes views plan per-file too: the snapshot's bucket layout
    // may predate the current marker, so reporting it would be a guess.
    if (limit.isDefined || offset.isDefined ||
      view != EventLog.TimeView.Current) None
    else EventLog.readBucketing(path).flatMap { _ =>
      val static = zoneMaps.filter { case (_, h) => admits(h, pushed) }
      val tagged = static.map { case (f, h) =>
        (EventLog.bucketOfName(f.getName), f, h)
      }
      if (static.isEmpty) None
      else if (tagged.exists(_._1.isEmpty)) {
        org.slf4j.LoggerFactory.getLogger(EventLog.getClass).warn(
          s"graft-eventlog: $path has a bucketing marker but files " +
            "without a bucket tag — co-partitioning cannot be reported; " +
            "planning per file (correct, but joins will re-shuffle)")
        None
      } else Some(tagged.groupBy(_._1.get).view
        .mapValues(_.map(t => (t._2, t._3))).toSeq.sortBy(_._1))
    }

  /** The third DSv2 ladder after pushdown and runtime filtering: a
    * bucketed store reports `KeyGroupedPartitioning(bucket(n, user_id))`
    * so Catalyst (through [[GraftCatalog]]'s bucket function) can elide
    * the exchanges above two co-bucketed scans — the storage-partitioned
    * join. */
  override def outputPartitioning(): Partitioning = bucketGroups match {
    case Some(groups) =>
      new KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .bucket(EventLog.readBucketing(path).get, "user_id")),
        groups.size)
    case None => new UnknownPartitioning(0)
  }

  // the counters reflect this scan's FINAL plan: a runtime filter
  // triggers a re-plan, so the pre-filter pass's contribution is rolled
  // back first — observability reads one planning outcome per scan,
  // never the sum of superseded passes
  private var counted: (Long, Long) = (0L, 0L)

  override def planInputPartitions(): Array[InputPartition] = synchronized {
    if (planned == null) {
      EventLog.plannedFiles.addAndGet(-counted._1)
      EventLog.skippedFiles.addAndGet(-counted._2)
      var p = 0L
      var s = 0L
      // ONE manifest read per plan: both the per-file DV arbitration
      // keys (expect counts) and the conflict-check snapshot
      // (plannedManifest) derive from this single fold — two reads
      // here would let a DV delete committing between them pair
      // post-delete entries with pre-delete masks, and the COW
      // commit's conflict check would then pass against reads that
      // resurrect the concurrently deleted rows
      lazy val manifestSnapshot: Map[String, EventLog.ManifestEntry] =
        view match {
          case EventLog.TimeView.Current => EventLog.readManifest(path)
          case _ => null
        }
      // the DV arbitration key per file: a view's manifest-entry count,
      // or -1 for header-fallback files (Current view only — snapshot
      // and changes views plan from manifest truth by construction)
      def expectOf(f: java.io.File, h: EventLog.Header): Int =
        if (view != EventLog.TimeView.Current) h.count
        else manifestSnapshot.get(f.getName).map(_.count).getOrElse(-1)
      val wl = fileWhitelist
      def admitted(f: java.io.File, h: EventLog.Header): Boolean =
        survives(h) && (wl == null || wl(f.getName))
      val plannedNames = Seq.newBuilder[String]
      planned = bucketGroups match {
        case Some(groups) =>
          // one partition PER BUCKET (grouped, HasPartitionKey): runtime
          // filters still prune files inside a group; the group count
          // itself stays what outputPartitioning reported
          s += zoneMaps.size - groups.iterator.map(_._2.size).sum
          groups.map { case (b, files) =>
            val keep = files.filter { case (f, h) => admitted(f, h) }
            p += keep.size
            s += files.size - keep.size
            keep.foreach { case (f, _) => plannedNames += f.getName }
            EventLogBucketPartition(keep.map(_._1.getAbsolutePath), b,
              keep.map { case (f, h) => expectOf(f, h) })
              : InputPartition
          }.toArray
        case None =>
          // a pushed OFFSET skips whole files by exact header counts
          // (never planned) and hands the boundary file a record skip;
          // a pushed LIMIT plans only enough files to cover it: header
          // counts are exact, so once the cumulative count reaches the
          // limit every further file is provably unneeded. The builder
          // guarantees offset and limit are never co-pushed, and both
          // refuse on stores with deletion vectors (counts there are
          // live, skips are positional — they no longer align).
          var toSkip = offset.map(_.toLong).getOrElse(0L)
          var remaining = limit.map(_.toLong).getOrElse(Long.MaxValue)
          zoneMaps.flatMap { case (f, h) =>
            if (toSkip >= h.count) {
              toSkip -= h.count
              EventLog.offsetPrunedFiles.incrementAndGet()
              None
            } else if (remaining <= 0) {
              EventLog.limitPrunedFiles.incrementAndGet()
              None
            } else if (admitted(f, h)) {
              p += 1
              remaining -= h.count
              val skip = toSkip.toInt
              toSkip = 0
              plannedNames += f.getName
              Some(EventLogPartition(f.getAbsolutePath, skip,
                expectOf(f, h)): InputPartition)
            } else {
              s += 1
              None
            }
          }.toArray
      }
      plannedDataFiles = plannedNames.result()
      plannedManifest =
        if (view == EventLog.TimeView.Current) manifestSnapshot
        else EventLog.readManifest(path)
      counted = (p, s)
      EventLog.plannedFiles.addAndGet(p)
      EventLog.skippedFiles.addAndGet(s)
    }
    planned
  }

  /** EXACT post-skip statistics from the manifest (row counts are
    * header truth, bytes are file lengths of the surviving files) —
    * what lets Catalyst make the right broadcast call when the
    * filtered eventlog side of a join shrinks below the threshold,
    * instead of assuming an unknown-size scan. */
  override def estimateStatistics(): Statistics = {
    val s = survivors
    val rows = math.max(0L, s.iterator.map(_._2.count.toLong).sum -
      offset.map(_.toLong).getOrElse(0L))
    val bytes = s.iterator.map(p => EventLog.fs.length(p._1)).sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EventLogReaderFactory(required.fieldNames, opts, limit)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(view == EventLog.TimeView.Current,
      "graft-eventlog: version/changes options are batch-only — a " +
        "streaming tail reads the live store (its offsets ARE the " +
        "incremental-consumption mechanism)")
    if (streamChanges)
      new EventLogChangesStream(path, required.fieldNames, survives, opts,
        startingVersion, maxFilesPerTrigger, maxBytesPerTrigger)
    else
      new EventLogMicroBatchStream(path, required.fieldNames, survives, opts,
        maxFilesPerTrigger, maxBytesPerTrigger)
  }
}

/** Streaming tail of an eventlog directory — `spark.readStream
  * .format("graft-eventlog").load(dir)`: each micro-batch is the files
  * that appeared since the last committed offset, decoded through the
  * same pruned reader as the batch scan. The zone-map `survives` hook
  * is shared with the batch path, but Spark 4 does not run
  * V2ScanRelationPushDown on micro-batch scans, so no predicate
  * reaches it today — the hook admits every file (row-level filters
  * still apply above) and starts skipping the moment Spark pushes
  * streaming predicates.
  *
  * File skipping in the tail: Spark 4 does not run V2 filter pushdown
  * on micro-batch scans, so QUERY predicates never reach `survives`
  * here — but source OPTIONS ([[EventLog.OptPred]]: `ts.min`,
  * `ts.max`, `event.type`) do, and they prune whole files at every
  * planning step (plus row-level re-filtering in the reader, so the
  * scoped tail is exact). An option-scoped tail of a 30-day store that
  * only needs one event type opens only that type's files.
  *
  * Offset design: `(watermark, count)` where watermark is the greatest
  * file NAME processed. The producer contract is monotone file names —
  * exactly what [[EventLogDataWriter]] emits for in-order days, and
  * what any log-rolling producer does naturally. The `count` field
  * exists to make violations LOUD instead of silent: at every planning
  * step the source re-counts the listing at-or-below each boundary
  * watermark, and a file that later materialized below an already-
  * committed watermark (an out-of-order producer — rows that would
  * silently never be read) fails the query with the contract spelled
  * out. */
class EventLogMicroBatchStream(path: String, fields: Array[String],
    survives: EventLog.Header => Boolean,
    opts: EventLog.OptPred = EventLog.OptPred.All,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.ReadLimit
  import EventLogAdmission.{maxBytesOf, maxFilesOf}

  private def names: Seq[String] = EventLog.listFiles(path).map(_.getName)

  override def initialOffset(): Offset = EventLogOffset("", 0)

  /** ADMISSION CONTROL — `.option("maxFilesPerTrigger", n)`: a
    * backlogged store (a tail started against months of files, or a
    * consumer that fell behind) drains in BOUNDED micro-batches of at
    * most n files instead of one giant catch-up batch — the difference
    * between a recoverable restart and an executor-OOM loop at 100 TB.
    * The limit bounds per-batch work; exactly-once and ordering are
    * untouched (offsets stay watermark names). */
  override def getDefaultReadLimit: ReadLimit =
    EventLogAdmission.defaultLimit(maxFilesPerTrigger, maxBytesPerTrigger)

  /** `Trigger.AvailableNow` snapshots the listing ONCE: the run drains
    * to this fixed end (in bounded batches, if a limit is set) and
    * stops — files a live producer appends mid-run are the NEXT run's
    * work, exactly Spark's contract for the trigger. */
  @volatile private var availableNowCap: Option[Seq[String]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(names)

  private def visible: Seq[String] = availableNowCap.getOrElse(names)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[EventLogOffset]
    // the boundary check runs HERE too, against the LIVE listing: an
    // out-of-order producer whose file sorts below the committed
    // watermark produces no pending batch at all, so waiting for
    // planInputPartitions to notice would skip it SILENTLY — the exact
    // failure the offset's count lane exists to make loud
    checkBoundary(names, s)
    val ns = visible
    val pending = ns.filter(_ > s.watermark)
    if (pending.isEmpty) return s
    val byFiles = maxFilesOf(limit) match {
      case Some(n) => pending.take(math.max(1, n))
      case None => pending
    }
    // a byte budget admits files until it is spent — always at least
    // one, or a single over-budget file would wedge the tail forever
    val take = maxBytesOf(limit) match {
      case Some(budget) =>
        var left = budget
        val admitted = byFiles.takeWhile { n =>
          val sz = EventLog.fs.length(new java.io.File(path, n))
          val ok = left >= sz
          if (ok) left -= sz
          ok
        }
        if (admitted.isEmpty) byFiles.take(1) else admitted
      case None => byFiles
    }
    EventLogOffset(take.last, ns.count(_ <= take.last))
  }

  override def reportLatestOffset(): Offset = {
    val ns = names
    if (ns.isEmpty) EventLogOffset("", 0) else EventLogOffset(ns.last, ns.size)
  }

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "graft-eventlog: latestOffset(Offset, ReadLimit) should be called " +
      "instead of this method (SupportsAdmissionControl)")

  override def deserializeOffset(json: String): Offset =
    EventLogOffset.fromJson(json)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  private def checkBoundary(ns: Seq[String], o: EventLogOffset): Unit = {
    val atOrBelow = ns.count(_ <= o.watermark)
    if (atOrBelow != o.count)
      throw new IllegalStateException(
        s"graft-eventlog stream: $atOrBelow files sort at or below the " +
          s"committed watermark '${o.watermark}', but the offset " +
          s"committed ${o.count} — a producer wrote a file BELOW the " +
          "watermark (out-of-order file names); its rows would silently " +
          "never be read. The source contract is monotone file names.")
  }

  // memoized per boundary pair: Spark instantiates the scan exec more
  // than once per micro-batch (planning probes like supportsColumnar,
  // then execution), and each instantiation calls planInputPartitions —
  // without the cache every zone map would be re-read and every
  // skip/plan counter multi-counted per batch
  private var lastKey: (String, String) = _
  private var lastPlan: Array[InputPartition] = _

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = synchronized {
    val s = start.asInstanceOf[EventLogOffset]
    val e = end.asInstanceOf[EventLogOffset]
    val key = (s.watermark, e.watermark)
    if (key == lastKey) return lastPlan
    val ns = names
    checkBoundary(ns, s)
    checkBoundary(ns, e)
    val batch = ns.filter(n => n > s.watermark && n <= e.watermark)
    // one manifest read per micro-batch covers every manifested file;
    // per-file header opens only for files the manifest misses
    val man = if (batch.isEmpty) Map.empty[String, EventLog.ManifestEntry]
      else EventLog.readManifest(path)
    val plan = batch.flatMap { n =>
      val f = new java.io.File(path, n)
      val e = man.get(n)
      val h = e.map(_.header).getOrElse(EventLog.readHeaderOf(f))
      if (survives(h)) {
        EventLog.plannedFiles.incrementAndGet()
        Some(EventLogPartition(f.getAbsolutePath,
          expectRows = e.map(_.count).getOrElse(-1)): InputPartition)
      } else {
        EventLog.skippedFiles.incrementAndGet()
        None
      }
    }.toArray
    lastKey = key
    lastPlan = plan
    plan
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EventLogReaderFactory(fields, opts)
}

/** Admission control shared by the two stream tails: the default read
  * limit their `maxFilesPerTrigger` / `maxBytesPerTrigger` options
  * declare, and the file and byte caps a (possibly composite) limit
  * carries — None when it caps nothing (allAvailable and unknown kinds
  * admit everything). */
private[v2] object EventLogAdmission {
  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadLimit, ReadMaxBytes, ReadMaxFiles}

  def defaultLimit(maxFiles: Option[Int], maxBytes: Option[Long]): ReadLimit =
    (maxFiles.map(ReadLimit.maxFiles).toSeq ++
      maxBytes.map(ReadLimit.maxBytes).toSeq) match {
      case Nil => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }

  def maxFilesOf(limit: ReadLimit): Option[Int] = limit match {
    case m: ReadMaxFiles => Some(m.maxFiles)
    case c: CompositeReadLimit =>
      val ms = c.getReadLimits.flatMap(maxFilesOf(_))
      if (ms.isEmpty) None else Some(ms.min)
    case _ => None
  }

  def maxBytesOf(limit: ReadLimit): Option[Long] = limit match {
    case m: ReadMaxBytes => Some(m.maxBytes)
    case c: CompositeReadLimit =>
      val ms = c.getReadLimits.flatMap(maxBytesOf(_))
      if (ms.isEmpty) None else Some(ms.min)
    case _ => None
  }
}

case class EventLogOffset(watermark: String, count: Int) extends Offset {
  override def json(): String = {
    val esc = watermark.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"watermark":"$esc","count":$count}"""
  }
}

object EventLogOffset {
  private val Pattern = """\{"watermark":"(.*)","count":(\d+)\}""".r
  def fromJson(json: String): EventLogOffset = json match {
    case Pattern(w, c) =>
      EventLogOffset(w.replace("\\\"", "\"").replace("\\\\", "\\"), c.toInt)
    case _ => throw new IllegalArgumentException(
      s"graft-eventlog: unreadable offset $json")
  }
}

/** CDC tail over the MANIFEST LOG — `spark.readStream
  * .format("graft-eventlog").option("stream.changes", "true")
  * .load(dir)`: offsets are manifest VERSIONS, and each micro-batch is
  * exactly the files ADDED by the commits in `(startVersion,
  * endVersion]` ([[EventLog.changedEntries]] — the same window a batch
  * `changes.from`/`changes.to` read plans). This is the Delta
  * `readChangeFeed` shape, and it differs from the file-name tail
  * ([[EventLogMicroBatchStream]]) in WHAT an offset means:
  *
  *  - the file tail consumes "files as they appear, by name" — it
  *    needs the monotone-name producer contract and knows nothing of
  *    commits (half a job's files can land in one batch, the rest in
  *    the next);
  *  - the CDC tail consumes "commits as they happen": a micro-batch
  *    boundary is always a COMMIT boundary, so a downstream consumer
  *    sees each ingest job's output atomically — never a torn commit —
  *    and needs no naming contract at all.
  *
  * Planning is metadata-only until decode: versions come from the
  * cached manifest log, one parse per manifest change. Admission
  * control (`maxFilesPerTrigger`) admits WHOLE COMMITS while the file
  * budget lasts (always at least one commit, or a big commit would
  * wedge the tail) — a backlogged consumer catches up commit-by-commit
  * instead of in one giant batch.
  *
  * Loud rails, both inherited from the manifest log's own bounds:
  * a window crossing a checkpoint fold refuses (retention), and a
  * window containing REMOVES refuses — compaction, DELETE, or MERGE
  * rewrote file-granular history there, so a row-level change feed
  * cannot be reconstructed; the failure names the commit. A planned
  * entry whose file was removed by a LATER commit (compacted away
  * before the consumer caught up) also refuses, with the same
  * retention wording as time travel. */
class EventLogChangesStream(path: String, fields: Array[String],
    survives: EventLog.Header => Boolean,
    opts: EventLog.OptPred = EventLog.OptPred.All,
    startingVersion: Long = 0L,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    typed: Boolean = false) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.ReadLimit
  import EventLogAdmission.{maxBytesOf, maxFilesOf}

  override def initialOffset(): Offset = {
    val cur = EventLog.currentVersion(path)
    require(startingVersion <= cur,
      s"graft-eventlog changes stream: changes.startingVersion " +
        s"$startingVersion does not exist in $path (current version " +
        s"is $cur)")
    EventLogVersionOffset(startingVersion)
  }

  override def getDefaultReadLimit: ReadLimit =
    EventLogAdmission.defaultLimit(maxFilesPerTrigger, maxBytesPerTrigger)

  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(EventLog.currentVersion(path))

  private def visibleVersion: Long =
    availableNowCap.getOrElse(EventLog.currentVersion(path))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[EventLogVersionOffset].version
    val cur = visibleVersion
    if (cur <= s) return EventLogVersionOffset(s)
    (maxFilesOf(limit), maxBytesOf(limit)) match {
      case (None, None) => EventLogVersionOffset(cur)
      case (capFiles, capBytes) =>
        // whole commits, oldest first, while the budgets last — always
        // at least one. One pass over the retained commit log (cached
        // segment parses).
        val commits = EventLog.commitHistory(path)
          .filter { case (v, _, _) => v > s && v <= cur }
        // the pending window exists (cur > s) but no segment of it
        // survives: a checkpoint fold absorbed it. The uncapped path
        // refuses in changedEntries; under admission control the offset
        // would simply never advance — the exact silent-caught-up lie
        // the retention rails exist to prevent
        if (commits.isEmpty)
          throw new IllegalStateException(
            s"graft-eventlog changes stream: commits ($s, $cur] were " +
              "absorbed into the manifest checkpoint and their segments " +
              "deleted — the change feed is bounded by checkpoint " +
              "retention; restart from a later startingVersion")
        var v = s
        var files = 0
        var bytes = 0L
        val it = commits.iterator
        var full = false
        while (it.hasNext && !full) { // stop at the FIRST over-budget
          // commit: admitting a later one would reorder history — and
          // stop ITERATING too, so no per-commit sizing runs once full
          val (seq, adds, _) = it.next()
          // budget-unknown when a referenced file was already unlinked
          // by a later rewrite (merge/compaction): counting it as 0
          // bytes would silently over-admit; None admits only as the
          // mandatory first commit (planning still refuses loudly on
          // the missing file — admit-then-refuse, never admit-silently)
          val sz: Option[Long] =
            if (capBytes.isEmpty) Some(0L)
            else {
              val fs = adds.map(e => new java.io.File(path, e.file))
              if (fs.forall(EventLog.fs.isFile(_)))
                Some(fs.iterator.map(EventLog.fs.length(_)).sum)
              else None
            }
          val fileOk = capFiles.forall(files + adds.size <= _)
          val bytesOk = capBytes.forall(b => sz.exists(bytes + _ <= b))
          if (v == s || (fileOk && bytesOk)) {
            files += adds.size
            bytes += sz.getOrElse(0L)
            v = seq
          } else full = true
        }
        EventLogVersionOffset(v)
    }
  }

  override def reportLatestOffset(): Offset =
    EventLogVersionOffset(EventLog.currentVersion(path))

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "graft-eventlog: latestOffset(Offset, ReadLimit) should be called " +
      "instead of this method (SupportsAdmissionControl)")

  override def deserializeOffset(json: String): Offset =
    EventLogVersionOffset.fromJson(json)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  // memoized per boundary pair, same reason as the file tail: Spark
  // instantiates the scan exec more than once per micro-batch
  private var lastKey: (Long, Long) = _
  private var lastPlan: Array[InputPartition] = _

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = synchronized {
    val s = start.asInstanceOf[EventLogVersionOffset].version
    val e = end.asInstanceOf[EventLogVersionOffset].version
    val key = (s, e)
    if (key == lastKey) return lastPlan
    if (typed) {
      // the TYPED tail: per-commit change partitions — rewrite commits
      // serve their journaled parts, so a mid-stream merge or delete
      // streams instead of wedging the consumer
      lastKey = key
      lastPlan = EventLogCdc.planWindow(path, s, e)
      return lastPlan
    }
    val entries = EventLog.changedEntries(path, s, e)
    val plan = entries.flatMap { en =>
      val f = new java.io.File(path, en.file)
      require(EventLog.fs.isFile(f),
        s"graft-eventlog changes stream: window ($s, $e] references " +
          s"${en.file}, which no longer exists (compacted or deleted " +
          "since) — the changes feed is bounded by physical file " +
          "retention; restart from a later startingVersion")
      if (survives(en.header)) {
        EventLog.plannedFiles.incrementAndGet()
        Some(EventLogPartition(f.getAbsolutePath,
          expectRows = en.count): InputPartition)
      } else {
        EventLog.skippedFiles.incrementAndGet()
        None
      }
    }.toArray
    lastKey = key
    lastPlan = plan
    plan
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (typed) new EventLogCdcReaderFactory(fields)
    else new EventLogReaderFactory(fields, opts)
}

case class EventLogVersionOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

object EventLogVersionOffset {
  private val Pattern = """\{"version":(\d+)\}""".r
  def fromJson(json: String): EventLogVersionOffset = json match {
    case Pattern(v) => EventLogVersionOffset(v.toLong)
    case _ => throw new IllegalArgumentException(
      s"graft-eventlog: unreadable version offset $json")
  }
}

/** `skipRecords` > 0 only on the boundary file of a pushed OFFSET: the
  * reader seeks past that many records before decoding. `expectRows`
  * is the planning view's manifest-entry count — the deletion-vector
  * arbitration key ([[EventLogDv.maskFor]]); -1 = header-fallback file
  * (no entry, must carry no DV). */
case class EventLogPartition(file: String,
    skipRecords: Int = 0, expectRows: Int = -1) extends InputPartition

/** One partition per BUCKET of a bucketed store (possibly many files;
  * possibly none, when runtime filters emptied the group): the
  * `partitionKey` is what lets Spark group and align partitions across
  * the two sides of a storage-partitioned join. `expectRows` aligns
  * with `files` (empty = all -1, the pre-DV wire shape). */
case class EventLogBucketPartition(files: Seq[String], bucket: Int,
    expectRows: Seq[Int] = Nil)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
  def expectOf(i: Int): Int = if (expectRows.isEmpty) -1 else expectRows(i)
}

/** Decodes exactly the required fields per record; everything else is
  * positional skip arithmetic on the fixed-width layout.
  *
  * Reads are VECTORIZED by default ([[supportColumnarReads]]): records
  * decode straight into `OnHeapColumnVector`s in 4096-row
  * [[org.apache.spark.sql.vectorized.ColumnarBatch]]es, so the scan
  * feeds whole-stage codegen through `ColumnarToRow` exactly like the
  * built-in parquet reader — per-row object allocation and the
  * row-iterator virtual-call chain disappear from the hot path. The
  * row-based [[createReader]] stays as the contract-mandated fallback
  * (and is covered by a direct unit test). */
class EventLogReaderFactory(fields: Array[String],
    opts: EventLog.OptPred = EventLog.OptPred.All,
    limit: Option[Int] = None)
    extends PartitionReaderFactory {

  // -1 marks an ADDED (schema-evolution) column decoded from the
  // file's extra lanes; -3 is the `_file` METADATA column (constant
  // per file — provenance, and the grouping key of copy-on-write
  // row-level operations). Both route through the row reader.
  private def fieldIdx(name: String): Int = name match {
    case "event_id" => 0
    case "ts_us" => 1
    case "user_id" => 2
    case "event_type" => 3
    case "cents" => 4
    case EventLog.FileMetaCol => -3
    case _ => -1
  }

  // shared decode plan of both readers: positions of the requested
  // fields in output order, the per-source-field need bitmap, and the
  // output slot per source field (-1 when pruned)
  private val want = fields.map(fieldIdx)
  private val addedWanted: Set[String] =
    fields.filter(fieldIdx(_) == -1).toSet
  private val needed = {
    val n = new Array[Boolean](5)
    want.filter(_ >= 0).foreach(n(_) = true)
    n
  }
  private val slotOf = {
    val s = Array.fill(5)(-1)
    want.zipWithIndex.foreach { case (f, i) => if (f >= 0) s(f) = i }
    s
  }
  // option predicates force decoding ts/type even when pruned from the
  // output: the row-level re-filter is what makes option scoping EXACT
  private val predTs = opts.tsMin.isDefined || opts.tsMax.isDefined
  private val tsLo = opts.tsMin.getOrElse(Long.MinValue)
  private val tsHi = opts.tsMax.getOrElse(Long.MaxValue)
  private val decode = {
    val d = needed.clone()
    if (predTs) d(1) = true
    if (opts.eventType.isDefined) d(3) = true
    d
  }

  // added columns and `_file` decode through the row reader (per-file
  // dynamic); base-only projections stay vectorized
  override def supportColumnarReads(partition: InputPartition): Boolean =
    fields.forall(fieldIdx(_) >= 0)

  /** Sequentially chain per-file readers for a multi-file (bucket)
    * partition — the same forward-only streaming, one open file at a
    * time. */
  private def chain[A, T](files: Seq[A],
      mk: A => PartitionReader[T]): PartitionReader[T] =
    new PartitionReader[T] {
      private val it = files.iterator
      private var cur: PartitionReader[T] = _
      override def next(): Boolean = {
        while (cur != null || it.hasNext) {
          if (cur == null) cur = mk(it.next())
          if (cur.next()) return true
          cur.close(); cur = null
        }
        false
      }
      override def get(): T = cur.get()
      override def close(): Unit = if (cur != null) cur.close()
    }

  /** Pushed-LIMIT row cap, per partition (partial-limit semantics: any
    * partition only ever needs `limit` rows; Spark's own limit trims
    * globally above). */
  private def capColumnar(
      r: PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch],
      cap: Int): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private var left = cap
      override def next(): Boolean = left > 0 && r.next() && {
        val b = r.get()
        if (b.numRows() > left) b.setNumRows(left)
        left -= b.numRows()
        true
      }
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = r.get()
      override def close(): Unit = r.close()
    }

  private def capRows(r: PartitionReader[InternalRow],
      cap: Int): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var left = cap
      override def next(): Boolean = left > 0 && r.next() && { left -= 1; true }
      override def get(): InternalRow = r.get()
      override def close(): Unit = r.close()
    }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val raw = partition match {
      case p @ EventLogBucketPartition(files, _, _) =>
        chain(files.zipWithIndex,
          (fi: (String, Int)) => columnarFor(fi._1, 0, p.expectOf(fi._2)))
      case EventLogPartition(file, skip, expect) =>
        columnarFor(file, skip, expect)
    }
    limit.map(capColumnar(raw, _)).getOrElse(raw)
  }

  private def columnarFor(file: String, skip: Int, expect: Int)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    EventLog.lastDecodedFields.set(fields.length)
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
      import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

      private val in = new DataInputStream(
        new BufferedInputStream(
          EventLog.fs.openRead(new java.io.File(file)), 1 << 16))
      private val header = EventLog.readHeader(in)
      private val dictBytes = header.types.map(_.getBytes("UTF-8")).toArray
      // per-file ordinal admissibility under the event.type option: the
      // row check is one array index, never a string compare
      private val typeAdmits =
        header.types.map(t => opts.eventType.forall(_ == t)).toArray
      private val Capacity = 4096
      // vectors and batch allocated ONCE and reset per batch — the
      // parquet vectorized reader's reuse contract (downstream copies
      // before buffering), not an allocation per 4096 rows
      private val vecs = fields.map { f =>
        val dt: org.apache.spark.sql.types.DataType =
          if (f == "event_type") StringType else LongType
        new OnHeapColumnVector(Capacity, dt)
      }
      private val batch =
        new ColumnarBatch(vecs.map(v => v: ColumnVector).toArray)
      // deletion vector (committed iff the view's entry count matches):
      // masked rows decode through the filtered path and drop
      private val dvm: EventLogDv.Dv = EventLogDv.maskFor(
        new java.io.File(file), header.count, expect).orNull
      require(dvm == null || skip == 0,
        "graft-eventlog: a pushed OFFSET reached a DV-masked file — " +
          "pushOffset must refuse on stores with deletion vectors")
      // extended files: base-only projections skip the trailing
      // added-column lanes per record
      private val trail = 9 * header.extras.size
      // a pushed-OFFSET boundary file starts past its skipped prefix —
      // a fixed-width seek, not a decode
      if (skip > 0) EventLog.skipRecords(in, skip, header.recordBytes)
      private var read = skip

      override def next(): Boolean = {
        if (read >= header.count) return false
        vecs.foreach(_.reset())
        var r = 0
        if (opts.isEmpty && dvm == null) {
          // tight path: decode straight into the vectors
          val n = math.min(Capacity, header.count - read)
          while (r < n) {
            if (needed(0)) vecs(slotOf(0)).putLong(r, in.readLong())
            else EventLog.skipFully(in, 8)
            if (needed(1)) vecs(slotOf(1)).putLong(r, in.readLong())
            else EventLog.skipFully(in, 8)
            if (needed(2)) vecs(slotOf(2)).putLong(r, in.readLong())
            else EventLog.skipFully(in, 8)
            if (needed(3)) {
              val b = dictBytes(in.readByte() & 0xff)
              vecs(slotOf(3)).putByteArray(r, b)
            } else EventLog.skipFully(in, 1)
            if (needed(4)) vecs(slotOf(4)).putLong(r, in.readLong())
            else EventLog.skipFully(in, 8)
            if (trail > 0) EventLog.skipFully(in, trail)
            r += 1
          }
          read += n
        } else {
          // option-scoped path: decode through locals, admit row-level;
          // the loop keeps scanning until the batch fills or the file
          // ends, so an all-filtered stretch never emits an empty batch
          while (r < Capacity && read < header.count) {
            var eventId = 0L; var tsUs = 0L; var userId = 0L; var cents = 0L
            var ord = 0
            if (decode(0)) eventId = in.readLong() else EventLog.skipFully(in, 8)
            if (decode(1)) tsUs = in.readLong() else EventLog.skipFully(in, 8)
            if (decode(2)) userId = in.readLong() else EventLog.skipFully(in, 8)
            if (decode(3)) ord = in.readByte() & 0xff
            else EventLog.skipFully(in, 1)
            if (decode(4)) cents = in.readLong() else EventLog.skipFully(in, 8)
            if (trail > 0) EventLog.skipFully(in, trail)
            val live = dvm == null || !dvm.dead(read)
            read += 1
            if (live && (!predTs || (tsUs >= tsLo && tsUs <= tsHi)) &&
                typeAdmits(ord)) {
              if (needed(0)) vecs(slotOf(0)).putLong(r, eventId)
              if (needed(1)) vecs(slotOf(1)).putLong(r, tsUs)
              if (needed(2)) vecs(slotOf(2)).putLong(r, userId)
              if (needed(3)) vecs(slotOf(3)).putByteArray(r, dictBytes(ord))
              if (needed(4)) vecs(slotOf(4)).putLong(r, cents)
              r += 1
            }
          }
          if (r == 0) return false // file exhausted, nothing admitted
        }
        batch.setNumRows(r)
        true
      }

      override def get(): ColumnarBatch = batch
      override def close(): Unit = {
        batch.close()
        in.close()
      }
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val raw = partition match {
      case p @ EventLogBucketPartition(files, _, _) =>
        chain(files.zipWithIndex,
          (fi: (String, Int)) => rowFor(fi._1, 0, p.expectOf(fi._2)))
      case EventLogPartition(file, skip, expect) => rowFor(file, skip, expect)
    }
    limit.map(capRows(raw, _)).getOrElse(raw)
  }

  private def rowFor(file: String, skip: Int,
      expect: Int): PartitionReader[InternalRow] = {
    EventLog.lastDecodedFields.set(fields.length)
    new PartitionReader[InternalRow] {
      private val in = new DataInputStream(
        new BufferedInputStream(
          EventLog.fs.openRead(new java.io.File(file)), 1 << 16))
      private val header = EventLog.readHeader(in)
      private val dict = header.types.map(UTF8String.fromString).toArray
      private val typeAdmits =
        header.types.map(t => opts.eventType.forall(_ == t)).toArray
      private val dvm: EventLogDv.Dv = EventLogDv.maskFor(
        new java.io.File(file), header.count, expect).orNull
      require(dvm == null || skip == 0,
        "graft-eventlog: a pushed OFFSET reached a DV-masked file — " +
          "pushOffset must refuse on stores with deletion vectors")
      // added-column lanes of THIS file: wanted ones decode, the rest
      // skip; an output column the file lacks is null (schema
      // evolution's old-file fill)
      private val nEx = header.extras.size
      private val exWanted: Array[Boolean] =
        header.extras.map(addedWanted.contains).toArray
      private val exVal = new Array[Long](math.max(1, nEx))
      private val exNull = new Array[Boolean](math.max(1, nEx))
      // lane types from THIS file's header (self-describing wire);
      // string dictionaries pre-converted once per file, not per row
      private val exType: Array[Byte] = header.extraTypes.toArray
      private val exDictU8: Array[Array[UTF8String]] =
        header.extraDicts.map(_.map(UTF8String.fromString).toArray).toArray
      // output position i of an added column ← its lane in this file
      // (-1 = absent here → null)
      private val exSrc: Array[Int] = fields.map(f =>
        if (fieldIdx(f) != -1) -2 else header.extras.indexOf(f))
      // the `_file` metadata column: the store-relative name, constant
      // per file
      private val fileNameU8 = UTF8String.fromString(
        new java.io.File(file).getName)
      if (skip > 0) EventLog.skipRecords(in, skip, header.recordBytes)
      private var read = skip
      // fresh row per record: Spark's row-based V2 scan path does not
      // promise a defensive copy before buffering operators, so object
      // reuse here would be a correctness gamble for a micro-saving
      private var row: GenericInternalRow = _

      override def next(): Boolean = {
        // loop: under option predicates a record may be decoded and
        // dropped; the next emitted row is the next ADMITTED record
        while (read < header.count) {
          // pruned fixed-width decode: an unneeded field is a byte-skip
          var eventId = 0L; var tsUs = 0L; var userId = 0L; var cents = 0L
          var ord = 0
          if (decode(0)) eventId = in.readLong() else EventLog.skipFully(in, 8)
          if (decode(1)) tsUs = in.readLong() else EventLog.skipFully(in, 8)
          if (decode(2)) userId = in.readLong() else EventLog.skipFully(in, 8)
          if (decode(3)) ord = in.readByte() & 0xff
          else EventLog.skipFully(in, 1)
          if (decode(4)) cents = in.readLong() else EventLog.skipFully(in, 8)
          var j = 0
          while (j < nEx) {
            if (exWanted(j)) {
              exNull(j) = in.readByte() == 0
              exVal(j) = in.readLong()
            } else EventLog.skipFully(in, 9)
            j += 1
          }
          val live = dvm == null || !dvm.dead(read)
          read += 1
          if (live && (!predTs || (tsUs >= tsLo && tsUs <= tsHi)) &&
              typeAdmits(ord)) {
            row = new GenericInternalRow(want.length)
            var i = 0
            while (i < want.length) {
              want(i) match {
                case 0 => row.update(i, eventId)
                case 1 => row.update(i, tsUs)
                case 2 => row.update(i, userId)
                case 3 => row.update(i, dict(ord))
                case 4 => row.update(i, cents)
                case -3 => row.update(i, fileNameU8)
                case _ => exSrc(i) match {
                  case -1 => row.update(i, null) // file predates the column
                  case src =>
                    if (exNull(src)) row.update(i, null)
                    else exType(src) match {
                      case EventLog.ExtraBigint =>
                        row.update(i, exVal(src))
                      case EventLog.ExtraDouble => row.update(i,
                        java.lang.Double.longBitsToDouble(exVal(src)))
                      case EventLog.ExtraString =>
                        row.update(i, exDictU8(src)(exVal(src).toInt))
                    }
                }
              }
              i += 1
            }
            return true
          }
        }
        false
      }

      override def get(): InternalRow = row
      override def close(): Unit = in.close()
    }
  }
}

/** DSv2 write path — `df.write.format("graft-eventlog").mode("append")
  * .save(dir)` with the standard two-phase task-commit protocol:
  * each task writes `.inprogress.<uuid>` temp files and RENAMES them
  * into place only at task commit (abort deletes them), so a failed or
  * speculatively-duplicated task can never leave half-written `.gel`
  * files where the reader lists. Executors write in parallel — no
  * driver funnel — and each task rolls one file per UTC day it holds,
  * so a day-repartitioned frame lands as the day-per-file layout that
  * gives the reader's zone maps their selectivity.
  *
  * Task memory: records buffer per-day inside the task before the
  * header (count, min/max ts, type dictionary) can be fixed — by
  * design the format front-loads its zone map, so the writer is the
  * place that pays; callers size write partitions accordingly (a
  * 10M-row day is ~400 MB of buffered longs — repartition finer if
  * bigger). */
class EventLogWriteBuilder(path: String, schema: StructType,
    options: CaseInsensitiveStringMap =
      CaseInsensitiveStringMap.empty(),
    queryId: String = "batch") extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {

  private var truncateFirst = false

  /** `mode("overwrite")` — replace the store wholesale at job commit:
    * the new files land first (task commits), then commit unlinks every
    * pre-existing data file, the whole manifest log (VERSION HISTORY
    * RESETS — an overwrite is a rewrite, exactly like TRUNCATE+reload),
    * and the bucketing marker (re-written when the overwrite itself is
    * bucketed). NOT snapshot-isolated: like Spark's own filesystem
    * overwrite, a concurrent reader mid-commit can see mixed old/new
    * files — overwrite is a maintenance op, run without concurrent
    * readers (the compaction contract). A crash mid-commit leaves mixed
    * files with a consistent-but-partial manifest; re-run the
    * overwrite. */
  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = {
    val baseOk = schema.fieldNames.sameElements(EventLog.Schema.fieldNames) &&
      schema.fields.map(_.dataType)
        .sameElements(EventLog.Schema.fields.map(_.dataType))
    // schema evolution: a store with added columns also accepts
    // base ++ ALL added columns (registry order, each its registered
    // type) — a base-only frame still writes base-wire files that
    // read null-filled
    val added = EventLogSchema.read(path)
    val extNames = EventLog.Schema.fieldNames ++ added.map(_.name)
    val extOk = added.nonEmpty &&
      schema.fieldNames.sameElements(extNames) &&
      schema.fields.take(5).map(_.dataType)
        .sameElements(EventLog.Schema.fields.map(_.dataType)) &&
      schema.fields.drop(5).zip(added)
        .forall { case (f, c) => f.dataType == c.dtype }
    require(baseOk || extOk,
      s"graft-eventlog writes need schema ${EventLog.Schema.simpleString}" +
        (if (added.isEmpty) ""
         else s" or the extended (${extNames.mkString(", ")}) shape " +
           s"with types (${added.map(_.dtype.simpleString).mkString(", ")})") +
        s", got ${schema.simpleString}")
    val writeExtras: Seq[EventLogSchema.AddedCol] =
      if (extOk) added else Nil
    // bucketed write: .option("bucket.count", n) [+ bucket.by=user_id]
    val buckets = Option(options.get("bucket.count")).map(_.toInt)
    buckets.foreach { n =>
      require(n > 0 && n <= 9999,
        s"graft-eventlog: bucket.count must be in [1, 9999], got $n")
    }
    Option(options.get("bucket.by")).foreach { c =>
      require(c == "user_id",
        s"graft-eventlog: only user_id bucketing is supported, got $c")
      require(buckets.isDefined,
        "graft-eventlog: bucket.by needs bucket.count")
    }
    new Write {
      override def toBatch: BatchWrite =
        new EventLogBatchWrite(path, buckets, truncateFirst, writeExtras)
      /** Streaming (append-mode) writes — exactly-once epoch commits,
        * see [[EventLogSink]]. Complete mode would arrive here as a
        * truncating streaming write; the sink is append-only. */
      override def toStreaming: org.apache.spark.sql.connector.write
          .streaming.StreamingWrite = {
        require(!truncateFirst,
          "graft-eventlog: the streaming sink is append-only — " +
            "outputMode(\"complete\") would truncate the store per epoch")
        require(buckets.isEmpty,
          "graft-eventlog: bucketed writes are batch-only — the " +
            "streaming sink appends to plain stores")
        new EventLogStreamingWrite(path, queryId, writeExtras)

      }
    }
  }
}

class EventLogBatchWrite(path: String,
    buckets: Option[Int] = None,
    truncate: Boolean = false,
    extras: Seq[EventLogSchema.AddedCol] = Nil) extends BatchWrite {
  EventLog.fs.mkdirs(new java.io.File(path))
  // append mode: refuse a conflicting re-bucket BEFORE any task runs,
  // and refuse silently de-bucketing a bucketed store with a plain
  // append. Overwrite skips both — the old layout is about to go.
  if (!truncate) {
    buckets.foreach(EventLog.writeBucketing(path, _))
    require(buckets.isDefined || EventLog.readBucketing(path).isEmpty,
      s"graft-eventlog: $path is a bucketed store; append with the same " +
        "bucket.count or rewrite it — an unbucketed append would break " +
        "the co-partitioning its readers report")
  }
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new EventLogDataWriterFactory(path, buckets, extras)
  /** Job commit persists the HEADER MANIFEST: every task already holds
    * its files' header fields (count, ts range, type dictionary) plus
    * the per-type counts headers don't carry, so the commit messages
    * carry them here and one merged `_manifest.gelm` write makes all
    * future planning O(1) driver reads instead of one header open per
    * file — the 100 TB / million-file fix for zone-map planning. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val entries = messages.toSeq.flatMap {
      case EventLogCommit(es) => es
      case _ => Nil
    }
    if (truncate) {
      // replace wholesale: this job's files are already renamed in (task
      // commits), so unlink everything else — old data files, the whole
      // manifest log (version history resets), and the old bucketing
      // marker. See EventLogWriteBuilder.truncate for the (documented)
      // non-atomicity of a filesystem overwrite.
      val newNames = entries.map(_.file).toSet
      EventLog.deleteManifest(path)
      EventLog.fs.delete(new java.io.File(path, EventLog.BucketingName))
      // version history resets, so the schema registry (whose adds are
      // keyed to versions) resets with it — an overwrite is a rewrite.
      // But an EXTENDED overwrite frame was validated against the old
      // registry and its tasks already wrote GRAFTEL3 files carrying
      // the added-column lanes: deleting the registry would make the
      // columns this very job wrote invisible (schemaOf would return
      // base; readers would skip the lanes — silent data loss). Re-key
      // the registry to the fresh history instead (addedAt = 0: every
      // version of the new history sees the columns).
      if (extras.nonEmpty) EventLogSchema.resetAt(path, extras)
      else EventLog.fs.delete(EventLogSchema.registryFile(path))
      EventLog.listFiles(path).filterNot(f => newNames(f.getName))
        .foreach { f =>
          if (!EventLog.fs.delete(f)) throw new java.io.IOException(
            s"graft-eventlog: overwrite could not unlink ${f.getName}")
        }
      buckets.foreach(EventLog.writeBucketing(path, _))
    }
    if (entries.nonEmpty) EventLog.appendManifest(path, entries)
  }
  /** A failed JOB must not leave the files its already-committed tasks
    * renamed into place — each commit message names exactly those
    * files, so job abort deletes them (task-level temp files were
    * already handled by DataWriter.abort; the manifest was never
    * written — only commit writes it). */
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case EventLogCommit(entries) =>
        entries.foreach(e => EventLog.fs.delete(new java.io.File(path, e.file)))
      case _ => () // null = task never committed; its abort cleaned up
    }
}

case class EventLogCommit(entries: Seq[EventLog.ManifestEntry])
    extends WriterCommitMessage

class EventLogDataWriterFactory(path: String,
    buckets: Option[Int] = None,
    extras: Seq[EventLogSchema.AddedCol] = Nil,
    nameTag: String = "p") extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new EventLogDataWriter(path, partitionId, taskId, buckets, extras,
      nameTag)
}

/** `nameTag` "p" = plain append (task-commit visible, manifest at job
  * commit — the file tail's contract); "w" = a copy-on-write rewrite
  * output, INVISIBLE to batch planning until its swap commit lands
  * ([[EventLog.isMaintenanceOutName]]). */
class EventLogDataWriter(path: String, partitionId: Int, taskId: Long,
    buckets: Option[Int] = None,
    extras: Seq[EventLogSchema.AddedCol] = Nil,
    nameTag: String = "p") extends DataWriter[InternalRow] {

  private val buffer = new EventLogDayBuffer(extras, buckets)
  private val temps = scala.collection.mutable.ArrayBuffer.empty[(java.io.File, java.io.File)]
  private val entries = scala.collection.mutable.ArrayBuffer.empty[EventLog.ManifestEntry]

  override def write(r: InternalRow): Unit = buffer.add(r)

  override def commit(): WriterCommitMessage = {
    buffer.groups.foreach { case key @ (day, bucket) =>
      // the uuid makes the final name unique ACROSS jobs too: a second
      // append producing the same (day, partitionId) must add files,
      // never atomically rename over a previous job's output
      val bTag = if (bucket < 0) "" else f"b$bucket%04d-"
      val fin = new java.io.File(path,
        f"day_$day%05d-" + bTag + f"$nameTag$partitionId%05d-" +
          java.util.UUID.randomUUID().toString.take(8) + ".gel")
      val tmp = new java.io.File(path,
        s".inprogress.${java.util.UUID.randomUUID()}")
      // the shared encoder returns the manifest entry for free: the
      // task just computed every header field, plus the per-type
      // counts only it can know cheaply
      entries += buffer.encode(key, tmp, fin.getName)
      temps += ((tmp, fin))
    }
    // rename into place only now: the all-or-nothing point of the task
    temps.foreach { case (tmp, fin) =>
      if (!EventLog.fs.rename(tmp, fin))
        throw new java.io.IOException(
          s"graft-eventlog: could not commit ${tmp.getName} -> ${fin.getName}")
    }
    EventLogCommit(entries.toSeq)
  }

  override def abort(): Unit =
    temps.foreach(t => EventLog.fs.delete(t._1))
  override def close(): Unit = ()
}

/** The per-(day, bucket) row buffer both `.gel` writers share, the
  * batch [[EventLogDataWriter]] and the streaming
  * [[EventLogStreamDataWriter]]: it refuses a null base field, routes
  * each row to its UTC day (and, on a bucketed write, its bucket;
  * -1 otherwise), converts the added-column lanes (`extras`, frame
  * positions 5..) to their typed in-memory values, and encodes each
  * group through [[EventLog.writeGelFile]]. Naming and publishing stay
  * with each writer. */
private[v2] class EventLogDayBuffer(extras: Seq[EventLogSchema.AddedCol],
    buckets: Option[Int] = None) {

  // (event_id, ts_us, user_id, type, cents) per group; added columns
  // buffer in a parallel lane, nullable
  private val rows = scala.collection.mutable.LinkedHashMap
    .empty[(Long, Int), scala.collection.mutable.ArrayBuffer[(Long, Long, Long, String, Long)]]
  private val lanes = scala.collection.mutable.LinkedHashMap
    .empty[(Long, Int), scala.collection.mutable.ArrayBuffer[Array[AnyRef]]]

  def add(r: InternalRow): Unit = {
    var i = 0
    while (i < 5) {
      if (r.isNullAt(i))
        throw new IllegalArgumentException(
          s"graft-eventlog: null in field ${EventLog.Schema.fieldNames(i)} — " +
            "the format has no null lane; repair or filter first")
      i += 1
    }
    val ts = r.getLong(1)
    val key = (Math.floorDiv(ts, 86400000000L),
      buckets.map(GraftBucketFunction.bucketOf(r.getLong(2), _)).getOrElse(-1))
    rows.getOrElseUpdate(key, scala.collection.mutable.ArrayBuffer.empty) +=
      ((r.getLong(0), ts, r.getLong(2), r.getUTF8String(3).toString,
        r.getLong(4)))
    if (extras.nonEmpty) {
      val ev = new Array[AnyRef](extras.length)
      var j = 0
      while (j < extras.length) {
        if (!r.isNullAt(5 + j)) ev(j) = extras(j).dtype match {
          case org.apache.spark.sql.types.LongType =>
            java.lang.Long.valueOf(r.getLong(5 + j))
          case org.apache.spark.sql.types.DoubleType =>
            java.lang.Double.valueOf(r.getDouble(5 + j))
          case _ => r.getUTF8String(5 + j).toString
        }
        j += 1
      }
      lanes.getOrElseUpdate(key, scala.collection.mutable.ArrayBuffer.empty) += ev
    }
  }

  /** The buffered (day, bucket) groups, in first-seen order. */
  def groups: Iterable[(Long, Int)] = rows.keys

  /** Encode group `key` into `tmp`; its entry names `finalName`. */
  def encode(key: (Long, Int), tmp: java.io.File,
      finalName: String): EventLog.ManifestEntry =
    EventLog.writeGelFile(tmp, finalName, rows(key), extras.map(_.wire),
      lanes.getOrElse(key, Nil))
}
