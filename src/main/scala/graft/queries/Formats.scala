package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Queries over the custom `graft-eventlog` DataSource V2 binary format
  * ([[graft.sources.v2.EventLog]]): q281 round-trips the events table
  * through the format and aggregates THROUGH the V2 scan — zone-map
  * file skipping, filter pushdown, and pruned fixed-width decode all
  * sit inside the DuckDB-oracled correctness gate, because the oracle
  * computes the same aggregate from the original parquet. */
object Formats {

  /** The events table as eventlog rows (`event_id, ts_us, user_id,
    * event_type, cents`, cents the value in whole cents) — the input
    * of every store builder below. */
  private[graft] def eventlogRows(events: DataFrame): DataFrame =
    events.select(col("event_id"),
      unix_micros(col("ts")).as("ts_us"), col("user_id"),
      col("event_type"),
      expr("cast(round(value * 100) as bigint)").as("cents"))

  /** The day layout the store builders write: repartitioned by UTC day
    * and sorted by (ts_us, event_id) within each partition, so each
    * writing task rolls one zone-mapped `.gel` file per day. */
  private def dayLayout(df: DataFrame): DataFrame =
    df.withColumn("__day", expr("ts_us div 86400000000"))
      .repartition(col("__day"))
      .sortWithinPartitions("ts_us", "event_id")
      .drop("__day")

  /** One materialized eventlog store per (session, input dir), via the
    * shared [[graft.operators.TempStoreCache]]: repeated bench/verify
    * invocations reuse the converted store instead of re-writing a
    * throwaway copy into java.io.tmpdir per call. */
  private def eventlogStore(s: SparkSession, dir: String): String =
    graft.operators.TempStoreCache.getOrCreate(s, dir, "eventlog_store") { p =>
      // day-repartitioned V2 write: executors write in parallel, one
      // zone-mapped .gel file per UTC day (per writing partition)
      eventlogRows(Tables.events(s, dir))
        .transform(dayLayout)
        .write.format("graft-eventlog").mode("append").save(p)
    }

  /** 2024-01-16T00:00:00Z in epoch micros — the midpoint of the events
    * table's 30-day span at every SF, so the pushed range predicate
    * prunes about half the per-day files at planning time. */
  val EventlogCutoffUs = 1705363200000000L

  /** q281 — aggregate THROUGH the binary V2 source: per-type counts and
    * exact cent sums of the second half-month, read back from the
    * `.gel` store. The `ts_us` predicate reaches
    * [[graft.sources.v2.EventLogScan]] as a pushed filter (files whose
    * zone map ends before the cutoff are never opened), the projection
    * prunes the decode to the three touched fields, and Spark
    * re-applies the predicate row-level so skipping can only
    * over-read. The oracle aggregates the original parquet — any wire,
    * dictionary, skip, or decode bug lands as a hash mismatch. */
  def q281EventlogScan(s: SparkSession, dir: String): DataFrame = {
    val store = eventlogStore(s, dir)
    s.read.format("graft-eventlog").load(store)
      .where(col("ts_us") >= EventlogCutoffUs)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"))
  }

  /** q282 — corpus stats THROUGH the V2 aggregate pushdown: global
    * count / min / max of the event stream answered from `.gel` file
    * HEADERS alone ([[graft.sources.v2.EventLogStatsScan]] — one row
    * per file, zero record IO; Spark's final aggregate combines them).
    * This is the "how big is this feed, what span does it cover"
    * pre-flight every ingest job runs — at 100 TB the difference
    * between a metadata read and a full scan. The oracle computes the
    * same three numbers from the original parquet, so the header
    * statistics themselves (count, min ts, max ts, as WRITTEN by the
    * task-commit writer) sit inside the hash gate. */
  def q282EventlogStats(s: SparkSession, dir: String): DataFrame = {
    val store = eventlogStore(s, dir)
    s.read.format("graft-eventlog").load(store)
      .agg(count(col("event_id")).as("n"),
        min("ts_us").as("min_us"), max("ts_us").as("max_us"))
  }

  /** q283 — per-type event counts THROUGH the V2 GROUPED aggregate
    * pushdown: `COUNT(*) GROUP BY event_type` answered from the
    * commit-time header manifest's per-type counts
    * ([[graft.sources.v2.EventLogGroupedStatsScan]] — zero file opens,
    * data or header; Spark's final aggregate SUMs the manifest rows).
    * The "what's in this feed by type" breakdown every router/sampler
    * pre-flights — at 100 TB a metadata read vs a full scan, and the
    * grouped twin of q282's global header stats. The oracle computes
    * the same counts from the original parquet, so the manifest's
    * per-type counts (as WRITTEN by task commit and merged by job
    * commit) sit inside the hash gate. */
  def q283EventlogTypeCounts(s: SparkSession, dir: String): DataFrame = {
    val store = eventlogStore(s, dir)
    s.read.format("graft-eventlog").load(store)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
  }

  /** A deliberately FRAGMENTED store (three append jobs split by
    * user_id, each rolling its own per-day files) compacted back to
    * one file per day by [[graft.sources.v2.EventLogCompact]] — the
    * maintenance cycle a real ingest store lives through. */
  private def compactedStore(s: SparkSession, dir: String): String =
    graft.operators.TempStoreCache.getOrCreate(s, dir, "eventlog_compact") { p =>
      val ev = eventlogRows(Tables.events(s, dir))
      (0 until 3).foreach { k =>
        ev.where(pmod(col("user_id"), lit(3)) === k)
          .transform(dayLayout)
          .write.format("graft-eventlog").mode("append").save(p)
      }
      val st = graft.sources.v2.EventLogCompact.compact(s, p)
      require(st.filesAfter < st.filesBefore,
        s"eventlog compaction did not reduce the file count: $st")
    }

  /** q284 — the full store THROUGH compaction: per-type counts, exact
    * cent sums and ts spans read back from a store that was written as
    * three interleaved append jobs (3× files per day) and then merged
    * by the intent-journaled compactor. The oracle aggregates the
    * original parquet, so exactly-once through the merge — no record
    * lost, none duplicated, every field byte-faithful after re-encode —
    * sits inside the hash gate. */
  def q284EventlogCompacted(s: SparkSession, dir: String): DataFrame = {
    val store = compactedStore(s, dir)
    s.read.format("graft-eventlog").load(store)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"),
        min("ts_us").as("min_us"), max("ts_us").as("max_us"))
  }

  /** q285 — the store's per-day ops profile FROM THE MANIFEST: UTC day,
    * record count, and ts span as a DataFrame built from manifest
    * entries alone (driver-side, bounded by file count — the
    * `DESCRIBE DETAIL` surface every table format grows). Oracled
    * against DuckDB grouping the original parquet by day, so the
    * manifest's per-file counts and spans are proven to PARTITION the
    * corpus exactly — the integrity check that makes planning-from-
    * manifest trustworthy, as a query instead of a spec. */
  def q285EventlogDayProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val store = eventlogStore(s, dir)
    // zoneMaps, not readManifest: the profile must cover UNMANIFESTED
    // files too (header fallback), or a foreign-producer file would be
    // silently missing from the very integrity read-out
    graft.sources.v2.EventLog.zoneMaps(store)
      .map { case (f, h) =>
        // the whole-file bucket below assumes single-day files (our
        // writer's contract); a foreign file spanning a UTC day boundary
        // would silently mis-profile its tail into the wrong day, so the
        // integrity query is exactly where that must fail LOUDLY
        require(Math.floorDiv(h.minTs, 86400000000L) ==
            Math.floorDiv(h.maxTs, 86400000000L),
          s"graft-eventlog day profile: ${f.getName} spans a UTC day " +
            s"boundary (ts ${h.minTs}..${h.maxTs}) — the per-day profile " +
            "buckets whole files; split the file by day (compact) first")
        (Math.floorDiv(h.minTs, 86400000000L), h.count.toLong, h.minTs,
          h.maxTs)
      }
      .toDF("day", "n", "min_us", "max_us")
      .groupBy("day")
      .agg(sum("n").as("n"), min("min_us").as("min_us"),
        max("max_us").as("max_us"))
  }

  /** q288 — per-type counts AND exact cent sums answered from the
    * manifest alone ([[graft.sources.v2.EventLogGroupedStatsScan]] —
    * zero file opens, data or header): the round-9 extension of q283's
    * grouped COUNT pushdown to SUM, from the per-type cent sums the
    * manifest entries now carry. This is exactly q284's verification
    * aggregate as a metadata read — the "revenue by type" pre-flight
    * that at 100 TB is the difference between one driver-side manifest
    * parse and a full-store scan. The oracle computes the same numbers
    * from the original parquet, so the sums (as WRITTEN by task commit,
    * merged across append jobs by the manifest log, and re-derived by
    * compaction) sit inside the hash gate. */
  def q288EventlogTypeSums(s: SparkSession, dir: String): DataFrame = {
    val store = eventlogStore(s, dir)
    s.read.format("graft-eventlog").load(store)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"))
  }

  /** A TYPE-SPLIT store (repartitioned by event_type before the V2
    * write, so every file's dictionary holds ONE type) — the router
    * layout that makes `event_type` membership prunable at file
    * granularity, for q287's join-driven runtime filtering. */
  private def typeSplitStore(s: SparkSession, dir: String): String =
    graft.operators.TempStoreCache.getOrCreate(s, dir, "eventlog_bytype") { p =>
      eventlogRows(Tables.events(s, dir))
        // EXPLICIT 5-way range split: one type per partition (no hash
        // collisions), and an explicit count is exempt from AQE's
        // shuffle coalescing — which at small SFs would merge the types
        // back into one task and destroy the one-type-per-file layout
        .repartitionByRange(5, col("event_type"))
        .sortWithinPartitions("ts_us", "event_id")
        .write.format("graft-eventlog").mode("append").save(p)
    }

  /** A tiny event-type DIMENSION as a real parquet table (type + name
    * length): q287 needs a dim whose FILTERED scan survives into the
    * plan — a local Seq would constant-fold to a LocalRelation and
    * dynamic pruning would never see a selective build side. */
  private def typeDim(s: SparkSession, dir: String): String =
    graft.operators.TempStoreCache.getOrCreate(s, dir, "eventlog_typedim") { p =>
      Tables.events(s, dir).select("event_type").distinct()
        .withColumn("name_len", length(col("event_type")))
        .coalesce(1)
        .write.mode("overwrite").parquet(p)
    }

  /** q287 — join-driven FILE SKIPPING end-to-end (the DSv2
    * `SupportsRuntimeFiltering` channel inside the correctness gate): a
    * dimension filter that survives only at RUNTIME (`name_len > 5`
    * selects purchase+signup) is materialized from the broadcast join's
    * build side and delivered to [[graft.sources.v2.EventLogScan]] as an
    * `In(event_type, …)` set BEFORE partitions are planned — on the
    * type-split store, files whose one-type dictionary is not in the set
    * are never opened (3 of 5 type families skipped at any SF). The
    * static optimizer cannot do this: the admitted set exists only after
    * the dim scan runs. Oracle: DuckDB computes the same dim inline and
    * joins the original parquet. */
  def q287EventlogRuntimePrune(s: SparkSession, dir: String): DataFrame = {
    val store = typeSplitStore(s, dir)
    val dim = s.read.parquet(typeDim(s, dir))
      .where(col("name_len") > 5).select("event_type")
    s.read.format("graft-eventlog").load(store)
      .join(broadcast(dim), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"))
  }

  /** q286 — the two Catalyst extension ladders COMPOSED: clicks and
    * purchases read through the custom V2 source (`event_type` equality
    * pushed into the scan as zone-map skipping + pruned decode), joined
    * by the native as-of operator ([[graft.plans.AsOfJoinExec]] —
    * marker → rewrite → strategy → merge-walk exec). The point is the
    * seam: a source extension and an operator extension must meet in
    * one plan with nothing hand-wired between them — the exec's
    * required distribution inserts its exchanges above the V2 scans
    * exactly as above parquet. Oracle: DuckDB's native ASOF LEFT JOIN
    * on the original parquet (q274's truth, reached through a second
    * engine path). */
  def q286EventlogAsof(s: SparkSession, dir: String): DataFrame = {
    val store = eventlogStore(s, dir)
    graft.plans.AsOfJoinPlan.install(s)
    val ev = s.read.format("graft-eventlog").load(store)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id").as("c_user"),
        col("ts_us").as("c_us"))
    val purch = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_us").as("p_us"),
        col("cents").as("p_cents"))
    clicks
      .join(purch, expr("c_user = p_user AND graft_asof(c_us, p_us)"), "left")
      .select(col("event_id"), col("c_user").as("user_id"), col("c_us"),
        col("p_us"),
        when(col("p_us").isNotNull, col("c_us") - col("p_us")).as("delta_us"),
        col("p_cents").as("purchase_cents"))
  }

  /** A USER-BUCKETED store (`bucket.count=16` → floorMod(user_id, 16)
    * routing, bucket-tagged files, `_bucketing.gelb` marker): the layout
    * whose scans report `KeyGroupedPartitioning`, so same-key joins are
    * storage-partitioned. Pre-repartitioned by the same bucket
    * expression so each write task holds few buckets (bounded files). */
  private def bucketedStore(s: SparkSession, dir: String): String =
    graft.operators.TempStoreCache.getOrCreate(s, dir, "eventlog_bucketed") { p =>
      eventlogRows(Tables.events(s, dir))
        .repartition(16, pmod(col("user_id"), lit(16)))
        .sortWithinPartitions("ts_us", "event_id")
        .write.format("graft-eventlog")
        .option("bucket.by", "user_id").option("bucket.count", "16")
        .mode("append").save(p)
    }

  /** q289 — the STORAGE-PARTITIONED JOIN through the catalog ladder
    * ([[graft.sources.v2.GraftCatalog]] resolves the store's `bucket(16,
    * user_id)` transform, both scans report `KeyGroupedPartitioning`,
    * and Catalyst elides the exchanges a V2 self-join would otherwise
    * insert — the third DSv2 rung after pushdown and runtime filtering):
    * purchases attributed to later clicks per user, grouped per user. At
    * 100 TB this is THE join shape that matters — two reads of a
    * co-bucketed fact store joining with zero shuffle, the same win as
    * bucketed Hive/Iceberg tables. The oracle joins the original parquet
    * in DuckDB, so the routing, the per-bucket merge readers, and the
    * co-partitioned plan all sit inside the hash gate. */
  def q289EventlogSpj(s: SparkSession, dir: String): DataFrame = {
    val store = bucketedStore(s, dir)
    val name = s"events_by_user_${Integer.toHexString(dir.hashCode)}"
    graft.sources.v2.GraftCatalog.register(s, name, store)
    val t = s.table(s"graft.$name")
    val clicks = t.where(col("event_type") === "click")
      .select(col("user_id"), col("ts_us").as("c_us"))
    val purch = t.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us").as("p_us"), col("cents"))
    clicks.join(purch, "user_id")
      .where(col("p_us") <= col("c_us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"), sum("cents").as("cents_sum"))
  }

  /** q290 — ALL THREE extension ladders in one plan: the custom V2
    * source (bucketed store), the catalog's bucket function resolving
    * its reported `KeyGroupedPartitioning`, and the native as-of
    * operator ([[graft.plans.AsOfJoinExec]]) — whose
    * `ClusteredDistribution` requirement Catalyst now satisfies FROM
    * STORAGE: the same merge-walk that q286 runs behind two inserted
    * exchanges here plans with none, because both children are reads of
    * the co-bucketed store. Same oracle as q286 (DuckDB's native ASOF
    * LEFT JOIN on the original parquet): one truth, two physical
    * strategies, both inside the hash gate — and the zero-shuffle one is
    * what a 100 TB attribution join should look like. */
  def q290EventlogAsofSpj(s: SparkSession, dir: String): DataFrame = {
    val store = bucketedStore(s, dir)
    val name = s"events_by_user_${Integer.toHexString(dir.hashCode)}"
    graft.sources.v2.GraftCatalog.register(s, name, store)
    graft.plans.AsOfJoinPlan.install(s)
    val ev = s.table(s"graft.$name")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id").as("c_user"),
        col("ts_us").as("c_us"))
    val purch = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_us").as("p_us"),
        col("cents").as("p_cents"))
    clicks
      .join(purch, expr("c_user = p_user AND graft_asof(c_us, p_us)"), "left")
      .select(col("event_id"), col("c_user").as("user_id"), col("c_us"),
        col("p_us"),
        when(col("p_us").isNotNull, col("c_us") - col("p_us")).as("delta_us"),
        col("p_cents").as("purchase_cents"))
  }

  /** q291 — the full ingest pre-flight as ONE metadata read: count, ts
    * span (file headers) AND total revenue (the manifest's per-type cent
    * sums, summed) — q282 extended by the round-9 sums lane. At 100 TB:
    * "how big, what span, how much money" without opening a single data
    * file. Oracled against the original parquet, so the sums survive
    * task commit, manifest-log folds, and compaction byte-exactly. */
  def q291EventlogCorpusStats(s: SparkSession, dir: String): DataFrame = {
    val store = eventlogStore(s, dir)
    s.read.format("graft-eventlog").load(store)
      .agg(count(col("event_id")).as("n"),
        min("ts_us").as("min_us"), max("ts_us").as("max_us"),
        sum("cents").as("cents_sum"))
  }

  /** A TWO-COMMIT store (append 1 = the first half-month, append 2 = the
    * rest): each V2 job commit writes one manifest segment, so the store
    * has versions 1 and 2 — the fixture for time-travel (q292) and
    * changes-feed (q293) reads. */
  private def versionedStore(s: SparkSession, dir: String): String =
    graft.operators.TempStoreCache.getOrCreate(s, dir, "eventlog_versioned") { p =>
      val ev = eventlogRows(Tables.events(s, dir))
      Seq(col("ts_us") < EventlogCutoffUs, col("ts_us") >= EventlogCutoffUs)
        .foreach { half =>
          ev.where(half)
            .transform(dayLayout)
            .write.format("graft-eventlog").mode("append").save(p)
        }
      require(graft.sources.v2.EventLog.currentVersion(p) == 2L,
        "versioned store: expected exactly two manifest commits")
    }

  /** q292 — TIME TRAVEL over the manifest log: `.option("version", 1)`
    * reads the store AS OF its first append commit (the first
    * half-month), planning from that version's manifest entries instead
    * of the live listing — rows committed later are invisible, exactly
    * Delta/Iceberg snapshot semantics, built from the round-9
    * incremental manifest's segment seqs. At 100 TB this is the
    * reproducibility primitive: an audit or a training run pinned to a
    * version reads the same bytes forever (bounded by retention, and
    * loudly so). The oracle aggregates the original parquet under the
    * same cutoff, so the snapshot's file set is proven to partition the
    * corpus exactly at the commit boundary. */
  def q292EventlogTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val store = versionedStore(s, dir)
    s.read.format("graft-eventlog").option("version", "1").load(store)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"),
        min("ts_us").as("min_us"), max("ts_us").as("max_us"))
  }

  /** q293 — the CHANGES FEED: `.option("changes.from", 1)` +
    * `.option("changes.to", 2)` reads ONLY the files added by manifest
    * commit 2 (the second half-month) — the CDC window an incremental
    * consumer tails to process "what arrived since I last looked"
    * without rescanning the store. Append-only windows only: a window
    * containing removes (compaction/delete) refuses loudly. The oracle
    * aggregates the complement of q292's slice, so the two views are
    * proven to partition the corpus with nothing lost or duplicated
    * across the commit boundary. */
  def q293EventlogChanges(s: SparkSession, dir: String): DataFrame = {
    val store = versionedStore(s, dir)
    s.read.format("graft-eventlog")
      .option("changes.from", "1").option("changes.to", "2").load(store)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"),
        min("ts_us").as("min_us"), max("ts_us").as("max_us"))
  }

  /** A store with its first half-month RETAINED OUT via `DELETE FROM`:
    * the SQL delete resolves through [[graft.sources.v2.GraftCatalog]]
    * to [[graft.sources.v2.EventLogTable.deleteWhere]], which unlinks
    * exactly the whole files the zone maps prove fully-matching (the
    * writer splits days, and the cutoff is a UTC midnight) and appends
    * their removes to the manifest — never a rewrite. */
  private def retainedStore(s: SparkSession, dir: String): String =
    graft.operators.TempStoreCache.getOrCreate(s, dir, "eventlog_retained") { p =>
      eventlogRows(Tables.events(s, dir))
        .transform(dayLayout)
        .write.format("graft-eventlog").mode("append").save(p)
      val name = s"events_retained_${Integer.toHexString(p.hashCode)}"
      graft.sources.v2.GraftCatalog.register(s, name, p)
      s.sql(s"DELETE FROM graft.$name WHERE ts_us < $EventlogCutoffUs")
      val files = graft.sources.v2.EventLog.listFiles(p)
      require(files.nonEmpty && files.forall(f =>
          graft.sources.v2.EventLog.readManifest(p)(f.getName).minTs >=
            EventlogCutoffUs),
        "retention delete left files below the cutoff")
    }

  /** q294 — RETENTION as a metadata operation: `DELETE FROM … WHERE
    * ts_us < <midnight cutoff>` drops the first half-month as whole-file
    * unlinks plus one manifest segment of removes (file-granular
    * SupportsDelete — zone maps prove full matches, partial cuts
    * refuse), then the full-store aggregate reads what survived. The
    * 100 TB shape: expiring a day of a petabyte store is O(files-of-day)
    * metadata work, never a rewrite — and because the oracle aggregates
    * the original parquet under the complement predicate, "deleted
    * exactly the cutoff's rows, kept every other byte" sits inside the
    * hash gate. */
  def q294EventlogRetention(s: SparkSession, dir: String): DataFrame = {
    val store = retainedStore(s, dir)
    s.read.format("graft-eventlog").load(store)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"),
        min("ts_us").as("min_us"), max("ts_us").as("max_us"))
  }

  /** A store row-level-deleted by DELETION VECTORS: the day-per-file
    * store with `DELETE FROM … WHERE user_id <= max/5` — a predicate
    * that cuts INSIDE essentially every day file (user ids scatter
    * across days), so the delete lands as one `.geldv` row-mask
    * sidecar per touched file plus one manifest segment of live-stat
    * entry updates, with ZERO data files rewritten (asserted on names
    * + mtimes). */
  private def dvStore(s: SparkSession, dir: String): String =
    graft.operators.TempStoreCache.getOrCreate(s, dir, "eventlog_dv") { p =>
      eventlogRows(Tables.events(s, dir))
        .transform(dayLayout)
        .write.format("graft-eventlog").mode("append").save(p)
      val userHi = Tables.events(s, dir).agg(max("user_id")).head.getLong(0) / 5
      val before = graft.sources.v2.EventLog.listFiles(p)
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
      val name = s"events_dv_${Integer.toHexString(p.hashCode)}"
      graft.sources.v2.GraftCatalog.register(s, name, p)
      s.sql(s"DELETE FROM graft.$name WHERE user_id <= $userHi")
      require(graft.sources.v2.EventLogDv.anyIn(p),
        "DV fixture: the interior delete wrote no deletion vector")
      val after = graft.sources.v2.EventLog.listFiles(p)
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
      require(after.forall { case (n, sig) => before.get(n).contains(sig) },
        "DV fixture: a data file was rewritten — the delete must be " +
          "sidecar-only")
    }

  /** q307 — row-level DELETE via DELETION VECTORS inside the oracle
    * gate: an interior predicate (`user_id <= max/5` cuts inside every
    * day file) applied as row-mask sidecars — zero data files
    * rewritten, fixture-asserted — then the store aggregated per type
    * through the MASKED readers. The oracle aggregates the original
    * parquet under the complement predicate, so "masked exactly the
    * predicate's rows, kept every other byte byte-identical" sits
    * inside the hash gate. At 100 TB this is the GDPR-erasure shape:
    * deleting a scattered 20% of rows costs one sidecar per file,
    * never a rewrite. */
  def q307EventlogDvDelete(s: SparkSession, dir: String): DataFrame = {
    val store = dvStore(s, dir)
    s.read.format("graft-eventlog").load(store)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"),
        min("ts_us").as("min_us"), max("ts_us").as("max_us"))
  }

  /** q308 — the DV store's metadata twin: per-type counts and cent
    * sums answered from the manifest alone (the delete's entry updates
    * carry LIVE statistics, so the grouped aggregate pushdown stays
    * zero-file-open AND exact after row-level deletes). Same oracle
    * complement as q307 minus the spans — one truth, reached through
    * the masked record scan there and the commit log here. */
  def q308EventlogDvStats(s: SparkSession, dir: String): DataFrame = {
    val store = dvStore(s, dir)
    s.read.format("graft-eventlog").load(store)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"))
  }

  /** A store fed by the STREAMING sink: the events table staged as
    * parquet, tailed as a file stream in several micro-batches
    * (`maxFilesPerTrigger`), each epoch published by the exactly-once
    * intent-journaled commit ([[graft.sources.v2.EventLogSink]]). */
  private def streamedStore(s: SparkSession, dir: String): String =
    graft.operators.TempStoreCache.getOrCreate(s, dir, "eventlog_streamed") { p =>
      // dot-named staging/checkpoint dirs are invisible to the store's
      // readers (they list *.gel files and fixed metadata names only)
      val staging = new java.io.File(p, ".staging").toString
      eventlogRows(Tables.events(s, dir))
        .transform(dayLayout)
        .write.parquet(staging)
      val q = s.readStream
        .schema(org.apache.spark.sql.types.StructType(
          graft.sources.v2.EventLog.Schema.map(_.copy(nullable = true))))
        .option("maxFilesPerTrigger", "8") // several epochs, not one
        .parquet(staging)
        .writeStream.format("graft-eventlog")
        .option("checkpointLocation",
          new java.io.File(p, ".checkpoint").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(p)
      q.awaitTermination()
      require(graft.sources.v2.EventLogSink.lastCommitted(p,
          q.id.toString) >= 0, "streamed store: no epoch committed")
    }

  /** q295 — the STREAMING SINK inside the oracle gate: the corpus
    * arrives as a multi-epoch file stream and lands in the store
    * through [[graft.sources.v2.EventLogSink]]'s exactly-once commit
    * (tasks write invisible temps; the epoch commit publishes under an
    * intent journal, so a replayed epoch can never double records).
    * The verification aggregate is q288's (per-type counts and exact
    * cent sums), read back from the store — deliberately the same
    * oracle: one truth, reached through the batch writer there and the
    * epoch-commit protocol here, both hash-gated against the original
    * parquet. */
  def q295EventlogStreamSink(s: SparkSession, dir: String): DataFrame = {
    val store = streamedStore(s, dir)
    s.read.format("graft-eventlog").load(store)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"))
  }

  /** q296 — OFFSET pushdown inside the oracle gate: `.offset(250)` on
    * the day-per-file store reaches the scan as a COMPLETE pushdown
    * (Spark deletes the Offset node), so the source itself skips
    * exactly 250 rows — whole leading files by their exact header
    * counts (never planned, never opened) plus a fixed-width record
    * seek in the boundary file. The store's file order is
    * deterministic (day files in name order, rows sorted by
    * (ts_us, event_id) within), so the skipped prefix is exactly the
    * corpus's first 250 rows by (ts, id) — which is what the DuckDB
    * oracle skips with ORDER BY + OFFSET before aggregating. The
    * pagination/resume shape: at 100 TB, "continue from row N" opens
    * only the files past N. */
  def q296EventlogOffset(s: SparkSession, dir: String): DataFrame = {
    val store = eventlogStore(s, dir)
    s.read.format("graft-eventlog").load(store)
      .offset(250)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"))
  }

  /** q297 — `DESCRIBE HISTORY` for the store: one row per retained
    * manifest commit with its version, row count, exact cent sum, and
    * ts span — built ENTIRELY from the commit log's entries (zero data
    * or header file opens; the per-commit twin of q285's per-day
    * profile). Oracled against the original parquet split at the
    * commit boundary, so the manifest log's per-commit accounting —
    * what time travel and the changes feed plan from — is itself
    * proven exact by a second engine. */
  def q297EventlogHistory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val store = versionedStore(s, dir)
    graft.sources.v2.EventLog.commitHistory(store).map {
      case (version, adds, removes) =>
        require(removes.isEmpty && adds.nonEmpty,
          s"history of a two-append store: commit $version has " +
            s"${adds.size} adds / ${removes.size} removes")
        (version, adds.map(_.count.toLong).sum,
          adds.flatMap(e => e.typeSums.getOrElse(
            throw new IllegalStateException(
              s"graft-eventlog: ${e.file} predates the sums lane"))).sum,
          adds.map(_.minTs).min, adds.map(_.maxTs).max)
    }.toDF("version", "n", "cents_sum", "min_us", "max_us")
  }

  /** q298 — SQL time travel through the catalog: `VERSION AS OF 1`
    * resolves via [[graft.sources.v2.GraftCatalog]]'s time-travel
    * `loadTable` overload to a table PINNED to manifest commit 1
    * (read-only; writes and deletes refuse), planned exactly like
    * q292's option form — one truth, two API surfaces, both hash-gated.
    * This is the audit interface as analysts actually type it. */
  def q298EventlogSqlAsof(s: SparkSession, dir: String): DataFrame = {
    val store = versionedStore(s, dir)
    val name = s"events_versioned_${Integer.toHexString(dir.hashCode)}"
    graft.sources.v2.GraftCatalog.register(s, name, store)
    s.sql(
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         | sum(cents) AS cents_sum,
         | min(ts_us) AS min_us, max(ts_us) AS max_us
         |FROM graft.$name VERSION AS OF 1
         |GROUP BY event_type""".stripMargin)
  }

  /** q299 — metadata-only aggregates OVER A VERSION: `SUM(cents) /
    * COUNT(*) GROUP BY event_type` with `.option("version", 1)` is
    * answered from the version's manifest entries — zero file opens,
    * like q288, but for a historical snapshot. The deeper property
    * (spec-proven): the entries OUTLIVE the bytes, so after compaction
    * deletes the version's files its record scan refuses loudly while
    * these numbers still answer exactly — history's accounting survives
    * its data. Oracle: the first half-month's per-type counts and sums
    * from the original parquet. */
  def q299EventlogAsofStats(s: SparkSession, dir: String): DataFrame = {
    val store = versionedStore(s, dir)
    s.read.format("graft-eventlog").option("version", "1").load(store)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"))
  }

  /** q300 — the incremental consumer's pre-flight as a metadata read:
    * per-type counts and cent sums of ONLY the window (1, 2] — "what
    * arrived since I last looked, by type, and how much revenue" —
    * answered from the window's manifest entries with zero file opens.
    * The changes-feed twin of q299. */
  def q300EventlogChangesStats(s: SparkSession, dir: String): DataFrame = {
    val store = versionedStore(s, dir)
    s.read.format("graft-eventlog")
      .option("changes.from", "1").option("changes.to", "2").load(store)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"))
  }

  /** A store taken through one copy-on-write MERGE commit
    * ([[graft.sources.v2.EventLogMerge]]): one append (version 1), then
    * an upsert batch that UPDATES every row with `event_id % 101 = 0`
    * (cents + 7777, same key/ts/user/type) and INSERTS a shifted copy
    * of every row with `event_id % 103 = 0` (key displaced past the max
    * id, type `merged`) — version 2. Both halves are deterministic
    * functions of the events table, so DuckDB can replay them in SQL. */
  private def mergedStore(s: SparkSession, dir: String): String =
    graft.operators.TempStoreCache.getOrCreate(s, dir, "eventlog_merged") { p =>
      val ev = eventlogRows(Tables.events(s, dir))
      ev.transform(dayLayout)
        .write.format("graft-eventlog").mode("append").save(p)
      val updates = ev.where(col("event_id") % 101 === 0)
        .withColumn("cents", col("cents") + 7777L)
      val shift = ev.agg(max("event_id")).head.getLong(0) + 1L
      val inserts = ev.where(col("event_id") % 103 === 0)
        .withColumn("event_id", col("event_id") + shift)
        .withColumn("event_type", lit("merged"))
      val st = graft.sources.v2.EventLogMerge.upsert(s, p,
        updates.unionByName(inserts))
      require(st.matched > 0 && st.inserted > 0 && st.rewrittenFiles > 0,
        s"merge fixture applied nothing: $st")
      require(st.version == 2L,
        s"merge must be ONE commit (append=1, merge=2); got $st")
    }

  /** q301 — copy-on-write MERGE inside the oracle gate: the upsert
    * batch above applied by [[graft.sources.v2.EventLogMerge]], then
    * the full store aggregated per type. Only files containing a
    * matched key were rewritten; the swap committed as ONE manifest
    * segment (one version), crash-protected by the compactor's intent
    * journal. The oracle replays the same UPDATE + INSERT in SQL over
    * the original parquet, so exactly-once through the rewrite — no
    * row lost, duplicated, or half-updated — sits inside the hash
    * gate. At 100 TB this is the GDPR-fix / late-correction primitive:
    * touched files pay, untouched files don't. */
  def q301EventlogMerge(s: SparkSession, dir: String): DataFrame = {
    val store = mergedStore(s, dir)
    s.read.format("graft-eventlog").load(store)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"),
        min("ts_us").as("min_us"), max("ts_us").as("max_us"))
  }

  /** The q301 merge fixture applied through the SHUFFLE-JOIN path
    * ([[graft.sources.v2.EventLogMerge.upsertShuffle]]): same batch
    * (deterministic UPDATE + INSERT halves), same one-commit contract,
    * but the batch never materializes on the driver. */
  private def mergedShuffleStore(s: SparkSession, dir: String): String =
    graft.operators.TempStoreCache.getOrCreate(s, dir, "eventlog_merged_sh") { p =>
      val ev = eventlogRows(Tables.events(s, dir))
      ev.transform(dayLayout)
        .write.format("graft-eventlog").mode("append").save(p)
      val updates = ev.where(col("event_id") % 101 === 0)
        .withColumn("cents", col("cents") + 7777L)
      val shift = ev.agg(max("event_id")).head.getLong(0) + 1L
      val inserts = ev.where(col("event_id") % 103 === 0)
        .withColumn("event_id", col("event_id") + shift)
        .withColumn("event_type", lit("merged"))
      val st = graft.sources.v2.EventLogMerge.upsertShuffle(s, p,
        updates.unionByName(inserts))
      require(st.matched > 0 && st.inserted > 0 && st.rewrittenFiles > 0,
        s"shuffle-merge fixture applied nothing: $st")
      require(st.version == 2L,
        s"shuffle merge must be ONE commit (append=1, merge=2); got $st")
    }

  /** q306 — the SHUFFLE-JOIN MERGE inside the oracle gate: q301's
    * UPDATE + INSERT batch applied with the driver-collect boundary
    * removed — batch rows co-keyed with candidate files on `event_id`
    * (the manifest's key lane routes each row to only the files whose
    * id-range admits it), matched rows rewritten executor-side, inserts
    * resolved by a distributed anti-join, all committed as the same
    * one-segment intent-journaled swap. DELIBERATELY q301's oracle: one
    * truth, two physical merge strategies — the broadcast path there,
    * the unbounded shuffle path here — both hash-gated against DuckDB
    * replaying the merge in SQL. At 100 TB this is the backfill-scale
    * correction primitive: a batch the size of a day's feed merges
    * without ever touching driver memory. */
  def q306EventlogMergeShuffle(s: SparkSession, dir: String): DataFrame = {
    val store = mergedShuffleStore(s, dir)
    s.read.format("graft-eventlog").load(store)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"),
        min("ts_us").as("min_us"), max("ts_us").as("max_us"))
  }

  /** A store re-clustered by `compact(zorder = true)`: the fragmented
    * fixture's days merged into ~4 Z-ORDERED chunks each (chunk size =
    * day records / 4), so every file's manifest entry carries a TIGHT
    * `user_id` bound alongside its ts span — the layout that makes the
    * round-9 user zone lane selective. */
  private def zorderedStore(s: SparkSession, dir: String): String =
    graft.operators.TempStoreCache.getOrCreate(s, dir, "eventlog_zorder") { p =>
      val ev = eventlogRows(Tables.events(s, dir))
      (0 until 3).foreach { k =>
        ev.where(pmod(col("user_id"), lit(3)) === k)
          .transform(dayLayout)
          .write.format("graft-eventlog").mode("append").save(p)
      }
      val total = ev.count()
      val days = ev.select(expr("ts_us div 86400000000")).distinct.count()
      val chunk = math.max(1L, total / (days * 4)).toInt
      val st = graft.sources.v2.EventLogCompact.compact(s, p,
        maxRecordsPerFile = chunk, zorder = true)
      require(st.filesAfter > days,
        s"zorder fixture did not split days into chunks: $st ($days days)")
    }

  /** q302 — Z-ORDER clustering inside the oracle gate: a `user_id`
    * range × `ts_us` range aggregate over the re-clustered store. Both
    * predicates reach the scan as pushed filters; on this layout the
    * manifest's per-file user bounds (GRAFTML4 zone lane) prune whole
    * files in BOTH dimensions — the Delta `OPTIMIZE ZORDER BY` effect,
    * measured by `EventLogZOrderSpec` (user-range plans skip files
    * here, zero skips on the ts-striped layout) and proven harmless by
    * the oracle: DuckDB computes the same aggregate from the original
    * parquet, and skipping is planning-only (survivors re-filter
    * row-level). At 100 TB this is the difference between "user-scoped
    * queries scan the tenant's files" and "scan the world". */
  def q302EventlogZorder(s: SparkSession, dir: String): DataFrame = {
    val store = zorderedStore(s, dir)
    // SF-relative user bound (the id space grows with scale factor):
    // the literal the zone lane prunes against, same expression the
    // oracle computes — bottom fifth of the id range
    val userHi = Tables.events(s, dir).agg(max("user_id")).head.getLong(0) / 5
    s.read.format("graft-eventlog").load(store)
      .where(col("user_id") <= userHi && col("ts_us") >= EventlogCutoffUs)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"),
        min("ts_us").as("min_us"), max("ts_us").as("max_us"))
  }

  /** q303 — the CDC TAIL inside the oracle gate: the two-commit store
    * drained through [[graft.sources.v2.EventLogChangesStream]]
    * (`.option("stream.changes", "true")`, offsets = manifest VERSIONS,
    * each micro-batch = one commit's files) into a parquet landing
    * zone, then aggregated per type. This is the q293 changes-feed
    * window turned into what a consumer actually runs: an incremental
    * tail whose batch boundaries are COMMIT boundaries — a downstream
    * job sees each ingest job's output atomically, never torn. The
    * oracle aggregates the original parquet, so the drain is proven
    * exactly-once across both commits: nothing lost at the version-1/2
    * boundary, nothing read twice. At 100 TB, this is how a derived
    * table follows a store without ever rescanning it. */
  def q303EventlogCdc(s: SparkSession, dir: String): DataFrame = {
    val store = versionedStore(s, dir)
    // a FRESH landing zone per call — the drain is the measured
    // operator, so it must actually re-run — but materialized to a
    // bounded local relation and DELETED before returning: repeated
    // bench/verify calls must not accumulate corpus copies in tmpdir
    // (the TempStoreCache failure mode, which cannot apply here
    // because caching the landing zone would skip the drain)
    val land = java.nio.file.Files.createTempDirectory("gelcdc_land")
    try {
      val q = s.readStream.format("graft-eventlog")
        .option("stream.changes", "true").load(store)
        .writeStream.format("parquet")
        .option("path", new java.io.File(land.toFile, "data").toString)
        .option("checkpointLocation",
          new java.io.File(land.toFile, "ck").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val agg = s.read.schema(org.apache.spark.sql.types.StructType(
          graft.sources.v2.EventLog.Schema.map(_.copy(nullable = true))))
        .parquet(new java.io.File(land.toFile, "data").toString)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"),
          min("ts_us").as("min_us"), max("ts_us").as("max_us"))
      graft.operators.SmallResult.materialize(agg)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(land).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** q309 — TYPED CDC across a MID-STREAM MERGE inside the oracle
    * gate: the store lands as two append commits, a checkpointed typed
    * tail (`stream.changes` + `cdc.typed`) drains them, then q301's
    * deterministic merge batch rewrites history MID-STREAM and the
    * same tail continues — the merge commit arrives as
    * update_preimage/update_postimage pairs plus inserts from its
    * journaled change-data parts ([[graft.sources.v2.EventLogCdc]]),
    * never a wedge. The drained feed is then FOLDED (latest
    * non-preimage state per key, deletes dropped) and aggregated —
    * and the oracle is deliberately q301's MERGE truth: DuckDB replays
    * the merge in SQL, so "a consumer that only ever read the change
    * feed holds exactly the post-merge corpus" sits inside the hash
    * gate. At 100 TB this is THE derived-table contract: follow a
    * mutating store forever without rescanning it. */
  def q309EventlogCdcTyped(s: SparkSession, dir: String): DataFrame = {
    // the cache artifact is the DRAINED FEED (p/feed): the mid-stream
    // sequence (append, append, drain, merge, drain) is one-shot by
    // nature — after the merge, the bytes a from-scratch drain of the
    // early commits would need are gone (retention, loudly), so the
    // live-tail run happens once per (session, dir) and the fold +
    // aggregate over the feed is the per-call query
    val root = graft.operators.TempStoreCache.getOrCreate(s, dir,
        "eventlog_cdc_typed") { p =>
      val store = new java.io.File(p, "store").toString
      val ev = eventlogRows(Tables.events(s, dir))
      Seq(col("ts_us") < EventlogCutoffUs, col("ts_us") >= EventlogCutoffUs)
        .foreach { half =>
          ev.where(half)
            .transform(dayLayout)
            .write.format("graft-eventlog").mode("append").save(store)
        }
      def drain(): Unit = {
        val q = s.readStream.format("graft-eventlog")
          .option("stream.changes", "true").option("cdc.typed", "true")
          .load(store)
          .writeStream.format("parquet")
          .option("path", new java.io.File(p, "feed").toString)
          .option("checkpointLocation", new java.io.File(p, ".ck").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain() // the tail is caught up through both appends
      // MID-STREAM: q301's deterministic merge batch rewrites history
      val updates = ev.where(col("event_id") % 101 === 0)
        .withColumn("cents", col("cents") + 7777L)
      val shift = ev.agg(max("event_id")).head.getLong(0) + 1L
      val inserts = ev.where(col("event_id") % 103 === 0)
        .withColumn("event_id", col("event_id") + shift)
        .withColumn("event_type", lit("merged"))
      val st = graft.sources.v2.EventLogMerge.upsertShuffle(s, store,
        updates.unionByName(inserts))
      require(st.matched > 0 && st.inserted > 0,
        s"q309 merge applied nothing: $st")
      drain() // the SAME checkpointed tail rides across the rewrite
    }
    val feed = s.read.parquet(new java.io.File(root, "feed").toString)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_id").orderBy(col("_commit_version").desc)
    val folded = feed
      .where(col("_change_type") =!= "update_preimage")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1 && col("_change_type") =!= "delete")
    folded.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"),
        min("ts_us").as("min_us"), max("ts_us").as("max_us"))
  }

  /** q310 — SCHEMA EVOLUTION inside the oracle gate: the first
    * half-month lands under the base schema (version 1), `flags`
    * (nullable BIGINT) is added via the `_schema.gelsc` registry, and
    * the second half-month appends THROUGH the extended wire
    * (GRAFTEL2; null where `event_id % 11 = 0`, else `event_id % 7`).
    * The verification aggregate reads BOTH wire forms under the new
    * schema — old files null-fill, extended files decode their lane —
    * and the oracle replays the add in SQL over the original parquet,
    * so "no rewrite, nulls exactly where the old files are, values
    * exactly where the new wire put them" sits inside the hash gate.
    * At 100 TB this is the live-table ALTER: a petabyte of history
    * gains a column for the cost of one registry write. */
  def q310EventlogSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val store = graft.operators.TempStoreCache.getOrCreate(s, dir,
        "eventlog_schema") { p =>
      val ev = eventlogRows(Tables.events(s, dir))
      ev.where(col("ts_us") < EventlogCutoffUs)
        .transform(dayLayout)
        .write.format("graft-eventlog").mode("append").save(p)
      graft.sources.v2.EventLogSchema.addColumn(p, "flags")
      ev.where(col("ts_us") >= EventlogCutoffUs)
        .withColumn("flags", when(col("event_id") % 11 === 0, lit(null))
          .otherwise(col("event_id") % 7))
        .transform(dayLayout)
        .write.format("graft-eventlog").mode("append").save(p)
    }
    s.read.format("graft-eventlog").load(store)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"),
        count(col("flags")).as("n_flags"), sum("flags").as("flags_sum"))
  }

  /** q313 — MERGE on an EXTENDED store inside the oracle gate: the
    * q310 fixture (first half base wire, `flags` added, second half
    * extended) taken through a FULL-WIDTH shuffle merge — updates set
    * a lane value on rows of BOTH wire generations (`flags =
    * event_id % 5` where `event_id % 101 = 0`, cents + 7777), inserts
    * carry a null lane — then aggregated per type over cents AND
    * flags. The oracle replays add-column + merge in SQL, so "lanes
    * ride the rewrite, nulls stay nulls, pre-add rows gain values
    * exactly where the batch set them" sits inside the hash gate. */
  def q313EventlogExtMerge(s: SparkSession, dir: String): DataFrame = {
    val store = graft.operators.TempStoreCache.getOrCreate(s, dir,
        "eventlog_ext_merge") { p =>
      val ev = eventlogRows(Tables.events(s, dir))
      ev.where(col("ts_us") < EventlogCutoffUs)
        .transform(dayLayout)
        .write.format("graft-eventlog").mode("append").save(p)
      graft.sources.v2.EventLogSchema.addColumn(p, "flags")
      ev.where(col("ts_us") >= EventlogCutoffUs)
        .withColumn("flags", when(col("event_id") % 11 === 0, lit(null))
          .otherwise(col("event_id") % 7))
        .transform(dayLayout)
        .write.format("graft-eventlog").mode("append").save(p)
      val updates = ev.where(col("event_id") % 101 === 0)
        .withColumn("cents", col("cents") + 7777L)
        .withColumn("flags", col("event_id") % 5)
      val shift = ev.agg(max("event_id")).head.getLong(0) + 1L
      val inserts = ev.where(col("event_id") % 103 === 0)
        .withColumn("event_id", col("event_id") + shift)
        .withColumn("event_type", lit("merged"))
        .withColumn("flags", lit(null).cast("bigint"))
      val st = graft.sources.v2.EventLogMerge.upsertShuffle(s, p,
        updates.unionByName(inserts))
      require(st.matched > 0 && st.inserted > 0,
        s"extended-merge fixture applied nothing: $st")
    }
    s.read.format("graft-eventlog").load(store)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"),
        count(col("flags")).as("n_flags"), sum("flags").as("flags_sum"))
  }

  /** q311 — SQL `UPDATE` inside the oracle gate: q301's deterministic
    * update half issued as the statement analysts actually type
    * (`UPDATE graft.<store> SET cents = cents + 7777 WHERE event_id %
    * 101 = 0` — an EXPRESSION condition no metadata lane can serve),
    * executed by Spark's group-based copy-on-write rewrite through
    * [[graft.sources.v2.EventLogRowLevelOperation]]: the `_file`
    * metadata column keys a runtime group filter, ONLY matched files
    * rewrite, and the commit is one manifest segment. The oracle
    * replays the update in SQL over the original parquet. */
  def q311EventlogSqlUpdate(s: SparkSession, dir: String): DataFrame = {
    val store = graft.operators.TempStoreCache.getOrCreate(s, dir,
        "eventlog_sql_update") { p =>
      eventlogRows(Tables.events(s, dir))
        .transform(dayLayout)
        .write.format("graft-eventlog").mode("append").save(p)
      val name = s"q311_${Integer.toHexString(p.hashCode)}"
      graft.sources.v2.GraftCatalog.register(s, name, p)
      s.sql(s"UPDATE graft.$name SET cents = cents + 7777 " +
        "WHERE event_id % 101 = 0")
      require(graft.sources.v2.EventLog.currentVersion(p) == 2L,
        "SQL UPDATE must commit as ONE manifest segment")
    }
    s.read.format("graft-eventlog").load(store)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"),
        min("ts_us").as("min_us"), max("ts_us").as("max_us"))
  }

  /** q312 — SQL `MERGE INTO` inside the oracle gate: exactly q301's
    * batch (UPDATE matched, INSERT unmatched) expressed as the
    * standard statement (`MERGE INTO … USING … WHEN MATCHED THEN
    * UPDATE SET * WHEN NOT MATCHED THEN INSERT *`) and executed by the
    * copy-on-write row-level rewrite. DELIBERATELY the same oracle as
    * q301 and q306: ONE merge semantics, now reached through THREE
    * physical strategies — the broadcast Scala path, the shuffle-join
    * Scala path, and Spark's own SQL MERGE machinery — all
    * hash-gated against DuckDB's replay. */
  def q312EventlogSqlMerge(s: SparkSession, dir: String): DataFrame = {
    val store = graft.operators.TempStoreCache.getOrCreate(s, dir,
        "eventlog_sql_merge") { p =>
      val ev = eventlogRows(Tables.events(s, dir))
      ev.transform(dayLayout)
        .write.format("graft-eventlog").mode("append").save(p)
      val updates = ev.where(col("event_id") % 101 === 0)
        .withColumn("cents", col("cents") + 7777L)
      val shift = ev.agg(max("event_id")).head.getLong(0) + 1L
      val inserts = ev.where(col("event_id") % 103 === 0)
        .withColumn("event_id", col("event_id") + shift)
        .withColumn("event_type", lit("merged"))
      val view = s"q312_src_${Integer.toHexString(p.hashCode)}"
      updates.unionByName(inserts).createOrReplaceTempView(view)
      val name = s"q312_${Integer.toHexString(p.hashCode)}"
      graft.sources.v2.GraftCatalog.register(s, name, p)
      s.sql(
        s"""MERGE INTO graft.$name AS t USING $view AS s
           |ON t.event_id = s.event_id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      require(graft.sources.v2.EventLog.currentVersion(p) == 2L,
        "SQL MERGE must commit as ONE manifest segment")
    }
    s.read.format("graft-eventlog").load(store)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"),
        min("ts_us").as("min_us"), max("ts_us").as("max_us"))
  }

  /** q304 — KEY-LANE point lookup inside the oracle gate:
    * `WHERE event_id = <max id>` on the day-per-file store. The
    * manifest's per-file `event_id` (min, max) bounds — the round-9
    * key lane — admit exactly the files whose range can contain the
    * key; on this sequential-id feed that is ONE file out of ~30, so
    * the primary-key read every ops console runs ("show me event X")
    * opens one file and seeks nothing else. `EventLogKeyLaneSpec`
    * asserts the skip count; the oracle proves the pruned read returns
    * the same row DuckDB finds in the full corpus. At 100 TB: a key
    * lookup is O(files-of-one-day), not a scan. */
  def q304EventlogPointLookup(s: SparkSession, dir: String): DataFrame = {
    val store = eventlogStore(s, dir)
    val key = Tables.events(s, dir).agg(max("event_id")).head.getLong(0)
    s.read.format("graft-eventlog").load(store)
      .where(col("event_id") === key)
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("cents"))
  }

  /** q305 — maintenance through the SQL `CALL` surface: the fragmented
    * store compacted by `CALL graft.compact('<store>')` (Spark 4's
    * `ProcedureCatalog` path through [[graft.sources.v2.GraftCatalog]]),
    * then aggregated through the same catalog. Deliberately q284's
    * oracle: one truth — exactly-once through the merge — reached
    * through the scheduler-facing SQL surface instead of the Scala
    * entry point, proving the `CALL` layer drives the identical
    * intent-journaled swap (it delegates to the same
    * [[graft.sources.v2.EventLogCompact.compact]]). */
  def q305EventlogSqlCompact(s: SparkSession, dir: String): DataFrame = {
    val store = graft.operators.TempStoreCache.getOrCreate(s, dir,
        "eventlog_sql_compact") { p =>
      val ev = eventlogRows(Tables.events(s, dir))
      (0 until 3).foreach { k =>
        ev.where(pmod(col("user_id"), lit(3)) === k)
          .transform(dayLayout)
          .write.format("graft-eventlog").mode("append").save(p)
      }
      val name = s"q305_${Integer.toHexString(p.hashCode)}"
      graft.sources.v2.GraftCatalog.register(s, name, p)
      val row = s.sql(s"CALL graft.compact('$name')").collect().head
      require(row.getInt(1) < row.getInt(0),
        s"CALL graft.compact did not reduce the file count: $row")
    }
    val name = s"q305r_${Integer.toHexString(store.hashCode)}"
    graft.sources.v2.GraftCatalog.register(s, name, store)
    s.table(s"graft.$name")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"),
        min("ts_us").as("min_us"), max("ts_us").as("max_us"))
  }

  /** q314 — a DOUBLE added column inside the oracle gate (round 11):
    * first half base wire, `score` (nullable DOUBLE) added, second
    * half appends through the typed wire (GRAFTEL3 — the lane carries
    * IEEE-754 bits in the same fixed-width slot). Verified per type
    * via the integer-cents discipline (`round(score*100)` sums
    * bit-deterministically across engines); the oracle replays the
    * rule over the original parquet. */
  def q314EventlogDoubleLane(s: SparkSession, dir: String): DataFrame = {
    val store = graft.operators.TempStoreCache.getOrCreate(s, dir,
        "eventlog_double_lane") { p =>
      val ev = eventlogRows(Tables.events(s, dir))
      ev.where(col("ts_us") < EventlogCutoffUs)
        .transform(dayLayout)
        .write.format("graft-eventlog").mode("append").save(p)
      graft.sources.v2.EventLogSchema.addColumn(p, "score",
        org.apache.spark.sql.types.DoubleType)
      ev.where(col("ts_us") >= EventlogCutoffUs)
        .withColumn("score", when(col("event_id") % 11 === 0,
            lit(null).cast("double"))
          .otherwise(col("cents") / lit(100.0) + col("event_id") % 7))
        .transform(dayLayout)
        .write.format("graft-eventlog").mode("append").save(p)
    }
    s.read.format("graft-eventlog").load(store)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"),
        count(col("score")).as("n_score"),
        sum(expr("cast(round(score * 100) as bigint)"))
          .as("score_cents_sum"))
  }

  /** q315 — a STRING added column inside the oracle gate (round 11):
    * the typed wire dictionary-encodes each file's values in its
    * header (records stay fixed-width), and the fixture COMPACTS the
    * store after the extended append, so "dictionaries re-encode
    * through a rewrite, nulls stay nulls, old files null-fill" all
    * sit inside the hash gate. Grouped by the lane itself — the
    * string values round-trip byte-exactly or the hash breaks. */
  def q315EventlogStringLane(s: SparkSession, dir: String): DataFrame = {
    val store = graft.operators.TempStoreCache.getOrCreate(s, dir,
        "eventlog_string_lane") { p =>
      val ev = eventlogRows(Tables.events(s, dir))
      ev.where(col("ts_us") < EventlogCutoffUs)
        .transform(dayLayout)
        .write.format("graft-eventlog").mode("append").save(p)
      graft.sources.v2.EventLogSchema.addColumn(p, "tag",
        org.apache.spark.sql.types.StringType)
      ev.where(col("ts_us") >= EventlogCutoffUs)
        .withColumn("tag", when(col("event_id") % 11 === 0,
            lit(null).cast("string"))
          .otherwise(concat(col("event_type"), lit("_"),
            (col("event_id") % 5).cast("string"))))
        .transform(dayLayout)
        .write.format("graft-eventlog").mode("append").save(p)
      // lanes must survive the rewrite: per-file dictionaries are
      // rebuilt by the compactor's encoder
      graft.sources.v2.EventLogCompact.compact(s, p)
    }
    s.read.format("graft-eventlog").load(store)
      .groupBy("event_type", "tag")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q314_eventlog_double_lane" -> (q314EventlogDoubleLane _),
    "q315_eventlog_string_lane" -> (q315EventlogStringLane _),
    "q306_eventlog_merge_shuffle" -> (q306EventlogMergeShuffle _),
    "q307_eventlog_dv_delete" -> (q307EventlogDvDelete _),
    "q308_eventlog_dv_stats" -> (q308EventlogDvStats _),
    "q309_eventlog_cdc_typed" -> (q309EventlogCdcTyped _),
    "q310_eventlog_schema_evolution" -> (q310EventlogSchemaEvolution _),
    "q311_eventlog_sql_update" -> (q311EventlogSqlUpdate _),
    "q313_eventlog_ext_merge" -> (q313EventlogExtMerge _),
    "q312_eventlog_sql_merge" -> (q312EventlogSqlMerge _),
    "q301_eventlog_merge" -> (q301EventlogMerge _),
    "q302_eventlog_zorder" -> (q302EventlogZorder _),
    "q303_eventlog_cdc" -> (q303EventlogCdc _),
    "q304_eventlog_point_lookup" -> (q304EventlogPointLookup _),
    "q305_eventlog_sql_compact" -> (q305EventlogSqlCompact _),
    "q286_eventlog_asof" -> (q286EventlogAsof _),
    "q281_eventlog_scan" -> (q281EventlogScan _),
    "q282_eventlog_stats" -> (q282EventlogStats _),
    "q283_eventlog_type_counts" -> (q283EventlogTypeCounts _),
    "q284_eventlog_compacted" -> (q284EventlogCompacted _),
    "q285_eventlog_day_profile" -> (q285EventlogDayProfile _),
    "q287_eventlog_runtime_prune" -> (q287EventlogRuntimePrune _),
    "q288_eventlog_type_sums" -> (q288EventlogTypeSums _),
    "q289_eventlog_spj" -> (q289EventlogSpj _),
    "q290_eventlog_asof_spj" -> (q290EventlogAsofSpj _),
    "q291_eventlog_corpus_stats" -> (q291EventlogCorpusStats _),
    "q292_eventlog_time_travel" -> (q292EventlogTimeTravel _),
    "q293_eventlog_changes" -> (q293EventlogChanges _),
    "q294_eventlog_retention" -> (q294EventlogRetention _),
    "q295_eventlog_stream_sink" -> (q295EventlogStreamSink _),
    "q296_eventlog_offset" -> (q296EventlogOffset _),
    "q297_eventlog_history" -> (q297EventlogHistory _),
    "q298_eventlog_sql_asof" -> (q298EventlogSqlAsof _),
    "q299_eventlog_asof_stats" -> (q299EventlogAsofStats _),
    "q300_eventlog_changes_stats" -> (q300EventlogChangesStats _))

  val oracles: Map[String, String] = Map(
    "q301_eventlog_merge" -> MergeOracleSql,
    // q306 is q301's exact truth reached through the shuffle-join
    // strategy — deliberately the SAME oracle: one semantics, two
    // physical merge paths, both hash-gated
    "q306_eventlog_merge_shuffle" -> MergeOracleSql,
    // q309: a consumer that only ever read the typed change feed —
    // across the merge — holds exactly the post-merge corpus, so its
    // fold aggregates to the SAME merge truth
    "q309_eventlog_cdc_typed" -> MergeOracleSql,
    // q313: lanes ride the merge — add-column + merge replayed in SQL
    "q313_eventlog_ext_merge" ->
      s"""WITH base AS (
         | SELECT event_id, event_type,
         |  CAST(round(value * 100) AS BIGINT) AS cents,
         |  CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >= $EventlogCutoffUs
         |       AND event_id % 11 <> 0
         |   THEN event_id % 7 END AS flags
         | FROM events),
         |merged AS (
         | SELECT event_id, event_type,
         |  CASE WHEN event_id % 101 = 0 THEN cents + 7777
         |       ELSE cents END AS cents,
         |  CASE WHEN event_id % 101 = 0 THEN event_id % 5
         |       ELSE flags END AS flags
         | FROM base
         | UNION ALL
         | SELECT event_id + (SELECT max(event_id) + 1 FROM base),
         |  'merged', cents, NULL
         | FROM base WHERE event_id % 103 = 0)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(cents) AS BIGINT) AS cents_sum,
         | CAST(count(flags) AS BIGINT) AS n_flags,
         | CAST(sum(flags) AS BIGINT) AS flags_sum
         |FROM merged GROUP BY 1""".stripMargin,
    // q311: the SQL UPDATE's truth is q301's update half alone
    "q311_eventlog_sql_update" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CASE WHEN event_id % 101 = 0
        |   THEN CAST(round(value * 100) AS BIGINT) + 7777
        |   ELSE CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
        |  AS cents_sum,
        | min(epoch_us(CAST(ts AS TIMESTAMP))) AS min_us,
        | max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us
        |FROM events GROUP BY 1""".stripMargin,
    // q312 is q301's exact truth reached through Spark's own SQL
    // MERGE INTO machinery — the THIRD physical strategy on one oracle
    "q312_eventlog_sql_merge" -> MergeOracleSql,
    // q314: the DOUBLE lane replayed in SQL — integer-cents reduction
    // keeps the float aggregate bit-deterministic across engines
    "q314_eventlog_double_lane" ->
      s"""WITH ev AS (
         | SELECT event_id, event_type,
         |  CAST(round(value * 100) AS BIGINT) AS cents,
         |  CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >= $EventlogCutoffUs
         |       AND event_id % 11 <> 0
         |   THEN CAST(round(value * 100) AS BIGINT) / 100.0
         |        + event_id % 7 END AS score
         | FROM events)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(cents) AS BIGINT) AS cents_sum,
         | CAST(count(score) AS BIGINT) AS n_score,
         | CAST(sum(CAST(round(score * 100) AS BIGINT)) AS BIGINT)
         |  AS score_cents_sum
         |FROM ev GROUP BY 1""".stripMargin,
    // q315: the STRING lane replayed in SQL — grouping BY the lane
    // value makes byte-exact round-tripping part of the hash
    "q315_eventlog_string_lane" ->
      s"""WITH ev AS (
         | SELECT event_id, event_type,
         |  CAST(round(value * 100) AS BIGINT) AS cents,
         |  CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >= $EventlogCutoffUs
         |       AND event_id % 11 <> 0
         |   THEN event_type || '_' || CAST(event_id % 5 AS VARCHAR)
         |   END AS tag
         | FROM events)
         |SELECT event_type, tag, CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(cents) AS BIGINT) AS cents_sum
         |FROM ev GROUP BY 1, 2""".stripMargin,
    // q310: the added column is null across the old wire, valued per
    // the deterministic rule across the new wire
    "q310_eventlog_schema_evolution" ->
      s"""WITH ev AS (
         | SELECT event_id, event_type,
         |  CAST(round(value * 100) AS BIGINT) AS cents,
         |  CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >= $EventlogCutoffUs
         |       AND event_id % 11 <> 0
         |   THEN event_id % 7 END AS flags
         | FROM events)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(cents) AS BIGINT) AS cents_sum,
         | CAST(count(flags) AS BIGINT) AS n_flags,
         | CAST(sum(flags) AS BIGINT) AS flags_sum
         |FROM ev GROUP BY 1""".stripMargin,
    // the DV delete keeps exactly the complement of its predicate
    "q307_eventlog_dv_delete" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |  AS cents_sum,
        | min(epoch_us(CAST(ts AS TIMESTAMP))) AS min_us,
        | max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us
        |FROM events
        |WHERE user_id > (SELECT max(user_id) FROM events) // 5
        |GROUP BY 1""".stripMargin,
    // q308 is q307's truth from the manifest alone (live entry stats)
    "q308_eventlog_dv_stats" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |  AS cents_sum
        |FROM events
        |WHERE user_id > (SELECT max(user_id) FROM events) // 5
        |GROUP BY 1""".stripMargin,
    "q302_eventlog_zorder" ->
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |  AS cents_sum,
         | min(epoch_us(CAST(ts AS TIMESTAMP))) AS min_us,
         | max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us
         |FROM events
         |WHERE user_id <= (SELECT max(user_id) FROM events) // 5
         | AND epoch_us(CAST(ts AS TIMESTAMP)) >= $EventlogCutoffUs
         |GROUP BY 1""".stripMargin,
    // q305 deliberately shares q284's truth: the same exactly-once
    // compaction reached through the SQL CALL surface
    "q305_eventlog_sql_compact" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |  AS cents_sum,
        | min(epoch_us(CAST(ts AS TIMESTAMP))) AS min_us,
        | max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us
        |FROM events GROUP BY 1""".stripMargin,
    "q304_eventlog_point_lookup" ->
      """SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        | user_id, event_type,
        | CAST(round(value * 100) AS BIGINT) AS cents
        |FROM events
        |WHERE event_id = (SELECT max(event_id) FROM events)""".stripMargin,
    // the CDC drain of both commits covers exactly the whole corpus
    "q303_eventlog_cdc" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |  AS cents_sum,
        | min(epoch_us(CAST(ts AS TIMESTAMP))) AS min_us,
        | max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us
        |FROM events GROUP BY 1""".stripMargin,
    "q281_eventlog_scan" ->
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |  AS cents_sum
         |FROM events
         |WHERE epoch_us(CAST(ts AS TIMESTAMP)) >= $EventlogCutoffUs
         |GROUP BY 1""".stripMargin,
    "q282_eventlog_stats" ->
      """SELECT CAST(count(event_id) AS BIGINT) AS n,
        | min(epoch_us(CAST(ts AS TIMESTAMP))) AS min_us,
        | max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us
        |FROM events""".stripMargin,
    "q283_eventlog_type_counts" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "q284_eventlog_compacted" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |  AS cents_sum,
        | min(epoch_us(CAST(ts AS TIMESTAMP))) AS min_us,
        | max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us
        |FROM events GROUP BY 1""".stripMargin,
    "q285_eventlog_day_profile" ->
      """SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        | CAST(count(*) AS BIGINT) AS n,
        | min(epoch_us(CAST(ts AS TIMESTAMP))) AS min_us,
        | max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us
        |FROM events GROUP BY 1""".stripMargin,
    "q291_eventlog_corpus_stats" ->
      """SELECT CAST(count(event_id) AS BIGINT) AS n,
        | min(epoch_us(CAST(ts AS TIMESTAMP))) AS min_us,
        | max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |  AS cents_sum
        |FROM events""".stripMargin,
    "q289_eventlog_spj" ->
      """WITH c AS (
        | SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS c_us
        | FROM events WHERE event_type = 'click'),
        |p AS (
        | SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us,
        |  CAST(round(value * 100) AS BIGINT) AS cents
        | FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(sum(p.cents) AS BIGINT) AS cents_sum
        |FROM c JOIN p USING (user_id)
        |WHERE p.p_us <= c.c_us
        |GROUP BY 1""".stripMargin,
    "q287_eventlog_runtime_prune" ->
      """WITH dim AS (
        | SELECT DISTINCT event_type FROM events
        | WHERE length(event_type) > 5)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
        |  AS cents_sum
        |FROM events e JOIN dim USING (event_type)
        |GROUP BY 1""".stripMargin,
    "q288_eventlog_type_sums" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |  AS cents_sum
        |FROM events GROUP BY 1""".stripMargin,
    // q295 is q288's truth reached through the streaming sink's
    // exactly-once epoch commits — deliberately the same oracle
    "q295_eventlog_stream_sink" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |  AS cents_sum
        |FROM events GROUP BY 1""".stripMargin,
    "q292_eventlog_time_travel" ->
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |  AS cents_sum,
         | min(epoch_us(CAST(ts AS TIMESTAMP))) AS min_us,
         | max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us
         |FROM events
         |WHERE epoch_us(CAST(ts AS TIMESTAMP)) < $EventlogCutoffUs
         |GROUP BY 1""".stripMargin,
    "q299_eventlog_asof_stats" ->
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |  AS cents_sum
         |FROM events
         |WHERE epoch_us(CAST(ts AS TIMESTAMP)) < $EventlogCutoffUs
         |GROUP BY 1""".stripMargin,
    "q300_eventlog_changes_stats" ->
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |  AS cents_sum
         |FROM events
         |WHERE epoch_us(CAST(ts AS TIMESTAMP)) >= $EventlogCutoffUs
         |GROUP BY 1""".stripMargin,
    // q298 is q292's truth through the SQL VERSION AS OF surface —
    // deliberately the same oracle
    "q298_eventlog_sql_asof" ->
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |  AS cents_sum,
         | min(epoch_us(CAST(ts AS TIMESTAMP))) AS min_us,
         | max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us
         |FROM events
         |WHERE epoch_us(CAST(ts AS TIMESTAMP)) < $EventlogCutoffUs
         |GROUP BY 1""".stripMargin,
    "q293_eventlog_changes" ->
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |  AS cents_sum,
         | min(epoch_us(CAST(ts AS TIMESTAMP))) AS min_us,
         | max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us
         |FROM events
         |WHERE epoch_us(CAST(ts AS TIMESTAMP)) >= $EventlogCutoffUs
         |GROUP BY 1""".stripMargin,
    "q294_eventlog_retention" ->
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |  AS cents_sum,
         | min(epoch_us(CAST(ts AS TIMESTAMP))) AS min_us,
         | max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us
         |FROM events
         |WHERE epoch_us(CAST(ts AS TIMESTAMP)) >= $EventlogCutoffUs
         |GROUP BY 1""".stripMargin,
    "q296_eventlog_offset" ->
      """WITH tail AS (
        | SELECT event_type, value FROM events
        | ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
        | OFFSET 250)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |  AS cents_sum
        |FROM tail GROUP BY 1""".stripMargin,
    "q297_eventlog_history" ->
      s"""SELECT CAST(1 AS BIGINT) AS version,
         | CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |  AS cents_sum,
         | min(epoch_us(CAST(ts AS TIMESTAMP))) AS min_us,
         | max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us
         |FROM events WHERE epoch_us(CAST(ts AS TIMESTAMP)) < $EventlogCutoffUs
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
         | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT),
         | min(epoch_us(CAST(ts AS TIMESTAMP))),
         | max(epoch_us(CAST(ts AS TIMESTAMP)))
         |FROM events
         |WHERE epoch_us(CAST(ts AS TIMESTAMP)) >= $EventlogCutoffUs""".stripMargin,
    "q286_eventlog_asof" -> AsofOracleSql,
    // q290 is q286's exact semantics re-planned shuffle-free over the
    // bucketed store — deliberately the SAME oracle: one truth, two
    // physical strategies, both hash-gated
    "q290_eventlog_asof_spj" -> AsofOracleSql)

  /** DuckDB replay of the deterministic merge batch (UPDATE cents+7777
    * where id%101=0; INSERT shifted 'merged' copies where id%103=0) —
    * the shared truth of q301 (broadcast merge) and q306 (shuffle
    * merge). */
  private lazy val MergeOracleSql: String =
    """WITH base AS (
      | SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |  user_id, event_type,
      |  CAST(round(value * 100) AS BIGINT) AS cents
      | FROM events),
      |merged AS (
      | SELECT event_id, ts_us, user_id, event_type,
      |  CASE WHEN event_id % 101 = 0 THEN cents + 7777
      |       ELSE cents END AS cents
      | FROM base
      | UNION ALL
      | SELECT event_id + (SELECT max(event_id) + 1 FROM base), ts_us,
      |  user_id, 'merged', cents
      | FROM base WHERE event_id % 103 = 0)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(cents) AS BIGINT) AS cents_sum,
      | min(ts_us) AS min_us, max(ts_us) AS max_us
      |FROM merged GROUP BY 1""".stripMargin

  private lazy val AsofOracleSql: String =
    """WITH ev AS (
      | SELECT event_id, user_id, event_type, value,
      |  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |c AS (SELECT event_id, user_id AS c_user, us AS c_us FROM ev
      |      WHERE event_type = 'click'),
      |p AS (SELECT user_id AS p_user, us AS p_us, value AS p_value FROM ev
      |      WHERE event_type = 'purchase')
      |SELECT c.event_id, c.c_user AS user_id, c.c_us, p.p_us,
      | CASE WHEN p.p_us IS NOT NULL THEN c.c_us - p.p_us END AS delta_us,
      | CAST(round(p.p_value * 100) AS BIGINT) AS purchase_cents
      |FROM c ASOF LEFT JOIN p
      | ON c.c_user = p.p_user AND c.c_us >= p.p_us""".stripMargin
}
