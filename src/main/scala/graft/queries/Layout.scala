package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Data-layout effectiveness audit — the write-side half of the scan
  * story. Every read-side query in this engine leans on parquet
  * min/max pruning (PushedFilters) working; whether it CAN work is
  * decided when the data is written, by how rows are clustered into
  * files. q198 measures that decision: it lays the events table out
  * two ways — Z-order (Morton-interleaved (user, day) bits) vs
  * insertion order — and reports, per would-be file, the bounding box
  * a reader's min/max skipping would see. At 100 TB the difference is
  * not cosmetic: an insertion-ordered file spans ~every user (no
  * point-lookup ever prunes), a Z-ordered file covers ~1/files of the
  * (user × day) plane, so single-user and single-day scans skip
  * all-but-a-few files on BOTH dimensions from ONE sort key.
  *
  * The Morton math is pure integer div/mod SQL, so both engines run it
  * and the audit is oracle-checkable.
  */
object Layout {

  /** Bits per dimension (256 quantization buckets, 16-bit Z values). */
  val ZBits = 8

  /** Files the audit lays the table into. */
  val ZFiles = 16

  /** Morton interleave as a SQL expression string over integer columns
    * `xq`/`yq` ∈ [0, 2^ZBits): bit k of x lands at position 2k+1, of y
    * at 2k. Pure integer div/mod arithmetic, identical text in both
    * engines (`div` spelled per dialect) — no native bit intrinsics
    * whose width/sign rules could differ. */
  private[graft] def mortonExpr(idiv: String): String =
    (0 until ZBits).map { k =>
      val p = 1L << k
      s"((xq $idiv $p) % 2) * ${1L << (2 * k + 1)} + " +
        s"((yq $idiv $p) % 2) * ${1L << (2 * k)}"
    }.mkString("(", " + ", ")")

  /** q198 — Z-order vs insertion-order layout audit on events, keyed
    * (user_id, event day): both dims min/max-quantized to 8 bits from
    * the data's own bounds, Morton-interleaved, range-cut into 16
    * files; the insertion layout range-cuts event_id (arrival order)
    * into the same 16. Per (layout, file): row count, the per-dim
    * min/max a parquet footer would carry, the bounding-box area as
    * ppm of the full plane, and the layout's average box — the number
    * that says "a predicate on either key prunes N× better Z-ordered".
    *
    * Scale shape: one scan computes global bounds (6-long single-row
    * agg, broadcast back), a second scan assigns (z, file) as pure
    * projections — the real write path would range-partition on z
    * here — and the audit aggregates 2×16 groups with map-side
    * combine. The file spine is a constant; windows run on 16 rows. */
  /** Both layouts' file assignment for every row: (layout ∈ {zorder,
    * rowid}, file_id, user_id, d, xq, yq). One bounds scan broadcast
    * back, one projection scan — shared by the q198 geometry audit and
    * the q220 workload-pruning audit. */
  private[graft] def layoutLanes(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), to_date(col("ts")).as("d"))
    val bounds = e.agg(
      min("user_id").as("umin"), max("user_id").as("umax"),
      min("d").as("dmin"), max("d").as("dmax"),
      min("event_id").as("emin"), max("event_id").as("emax"))
    val q = e.crossJoin(broadcast(bounds))
      .withColumn("xq", expr(
        s"(user_id - umin) * ${1L << ZBits} div (umax - umin + 1)"))
      .withColumn("yq", expr(
        s"(datediff(d, dmin) * ${1L << ZBits}) div (datediff(dmax, dmin) + 1)"))
      .withColumn("z", expr(mortonExpr("div")))
      .withColumn("zfile", expr(s"z div ${(1L << (2 * ZBits)) / ZFiles}"))
      .withColumn("rfile", expr(
        s"(event_id - emin) * $ZFiles div (emax - emin + 1)"))
    q.select(lit("zorder").as("layout"), col("zfile").as("file_id"),
        col("user_id"), col("d"), col("xq"), col("yq"))
      .unionByName(q.select(lit("rowid").as("layout"), col("rfile").as("file_id"),
        col("user_id"), col("d"), col("xq"), col("yq")))
  }

  def q198ZorderLayout(s: SparkSession, dir: String): DataFrame = {
    val perFile = layoutLanes(s, dir).groupBy("layout", "file_id")
      .agg(count(lit(1)).as("n_rows"),
        min("xq").as("x_min"), max("xq").as("x_max"),
        min("yq").as("y_min"), max("yq").as("y_max"))
      .withColumn("span_ppm", expr(
        s"(x_max - x_min + 1) * (y_max - y_min + 1) * 1000000 div ${1L << (2 * ZBits)}"))
    perFile.withColumn("avg_span_ppm", expr(
      "sum(span_ppm) over (partition by layout) div count(1) over (partition by layout)"))
  }

  // ---------------------------------------------------------------- q220

  /** Probes per dimension in the q220 workload: the first
    * [[PruneProbes]] distinct users (point lookups) and days (daily
    * scans) — data-derived but deterministic in both engines. */
  val PruneProbes = 8

  /** q220 — zone-map pruning audit: q198 measures the GEOMETRY of the
    * two layouts' bounding boxes; this measures what a reader actually
    * feels — for a workload of single-user point lookups and
    * single-day scans, how many files' footer min/max ranges overlap
    * each probe. Reported per (layout, probe kind): files hit per
    * probe (milli) and the skip rate (ppm) — "the Z-order rewrite
    * turns an all-files user lookup into a 2-file one" as a number the
    * storage bill can be graded against.
    *
    * Scale shape: zone maps are one map-side-combining groupBy to
    * ≤ 2·[[ZFiles]] rows; probes are two bounded distinct-limit
    * frames; the overlap test is a broadcast nested-loop over
    * (files × probes) — thousands of cells at any corpus size, because
    * both sides are METADATA, not data. This is exactly the planning
    * work a lakehouse reader does per query; the audit just scores it
    * for the whole workload at once. */
  def q220PruningAudit(s: SparkSession, dir: String): DataFrame = {
    val lanes = layoutLanes(s, dir)
    val zone = lanes.groupBy("layout", "file_id").agg(
      min("user_id").as("u_min"), max("user_id").as("u_max"),
      min("d").as("d_min"), max("d").as("d_max"))
    val nf = zone.groupBy("layout").agg(count(lit(1)).as("n_files"))
    val one = lanes.where(col("layout") === "zorder")
    val users = one.select("user_id").distinct()
      .orderBy("user_id").limit(PruneProbes)
    val days = one.select("d").distinct().orderBy("d").limit(PruneProbes)

    def audit(probes: DataFrame, pCol: Column, lo: String, hi: String,
        kind: String) =
      zone.join(broadcast(probes), pCol.between(col(lo), col(hi)))
        .groupBy("layout").agg(count(lit(1)).as("hits"))
        .join(nf, "layout")
        .select(col("layout"), lit(kind).as("probe_kind"),
          lit(PruneProbes.toLong).as("n_probes"), col("n_files"),
          expr(s"hits * 1000 div $PruneProbes").as("avg_files_milli"),
          expr(s"($PruneProbes * n_files - hits) * 1000000" +
            s" div ($PruneProbes * n_files)").as("skip_ppm"))

    audit(users, col("user_id"), "u_min", "u_max", "user_point")
      .unionByName(audit(days, col("d"), "d_min", "d_max", "day_scan"))
  }

  // ---------------------------------------------------------------- q233

  /** q233 — distributed stable row numbering over the documents table:
    * contiguous 1-based ids in doc_id order via
    * [[graft.operators.StableIds]] — range-partition, per-partition
    * local ranks, and a broadcast offset spine, never the
    * single-partition global window `row_number() OVER (ORDER BY …)`
    * plans (THE textbook 100 TB scale-killer: one executor receives
    * the entire corpus). The id-assignment step every training
    * pipeline needs somewhere — sample indices, shard-relative
    * offsets, resumable cursors — done so the plan survives a 1000×
    * scale-up; the oracle is the very global window this avoids,
    * proving result-equality. */
  def q233StableIds(s: SparkSession, dir: String): DataFrame =
    graft.operators.StableIds.withStableIds(
      Tables.documents(s, dir).select("doc_id", "source"), col("doc_id"))
      .select("doc_id", "source", "stable_id")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q198_zorder_layout" -> (q198ZorderLayout _),
    "q220_pruning_audit" -> (q220PruningAudit _),
    "q233_stable_ids" -> (q233StableIds _))

  val oracles: Map[String, String] = Map(
    "q233_stable_ids" ->
      """SELECT doc_id, source,
        | CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS stable_id
        |FROM documents""".stripMargin,
    "q198_zorder_layout" -> {
      val morton = mortonExpr("//")
      s"""WITH e AS (
         | SELECT event_id, user_id, CAST(ts AS DATE) AS d FROM events),
         |bounds AS (
         | SELECT min(user_id) AS umin, max(user_id) AS umax,
         |  min(d) AS dmin, max(d) AS dmax,
         |  min(event_id) AS emin, max(event_id) AS emax FROM e),
         |q AS (
         | SELECT
         |  (user_id - umin) * ${1L << ZBits} // (umax - umin + 1) AS xq,
         |  (date_diff('day', dmin, d) * ${1L << ZBits})
         |    // (date_diff('day', dmin, dmax) + 1) AS yq,
         |  event_id, emin, emax
         | FROM e CROSS JOIN bounds),
         |z AS (
         | SELECT xq, yq,
         |  $morton // ${(1L << (2 * ZBits)) / ZFiles} AS zfile,
         |  (event_id - emin) * $ZFiles // (emax - emin + 1) AS rfile
         | FROM q),
         |lanes AS (
         | SELECT 'zorder' AS layout, zfile AS file_id, xq, yq FROM z
         | UNION ALL
         | SELECT 'rowid' AS layout, rfile AS file_id, xq, yq FROM z),
         |per_file AS (
         | SELECT layout, file_id, CAST(count(*) AS BIGINT) AS n_rows,
         |  min(xq) AS x_min, max(xq) AS x_max,
         |  min(yq) AS y_min, max(yq) AS y_max
         | FROM lanes GROUP BY layout, file_id)
         |SELECT layout, file_id, n_rows, x_min, x_max, y_min, y_max,
         | (x_max - x_min + 1) * (y_max - y_min + 1) * 1000000
         |   // ${1L << (2 * ZBits)} AS span_ppm,
         | CAST(sum((x_max - x_min + 1) * (y_max - y_min + 1) * 1000000
         |   // ${1L << (2 * ZBits)}) OVER (PARTITION BY layout)
         |  // count(*) OVER (PARTITION BY layout) AS BIGINT) AS avg_span_ppm
         |FROM per_file""".stripMargin
    },
    "q220_pruning_audit" -> {
      val morton = mortonExpr("//")
      s"""WITH e AS (
         | SELECT event_id, user_id, CAST(ts AS DATE) AS d FROM events),
         |bounds AS (
         | SELECT min(user_id) AS umin, max(user_id) AS umax,
         |  min(d) AS dmin, max(d) AS dmax,
         |  min(event_id) AS emin, max(event_id) AS emax FROM e),
         |q AS (
         | SELECT user_id, d,
         |  (user_id - umin) * ${1L << ZBits} // (umax - umin + 1) AS xq,
         |  (date_diff('day', dmin, d) * ${1L << ZBits})
         |    // (date_diff('day', dmin, dmax) + 1) AS yq,
         |  event_id, emin, emax
         | FROM e CROSS JOIN bounds),
         |z AS (
         | SELECT user_id, d,
         |  $morton // ${(1L << (2 * ZBits)) / ZFiles} AS zfile,
         |  (event_id - emin) * $ZFiles // (emax - emin + 1) AS rfile
         | FROM q),
         |lanes AS (
         | SELECT 'zorder' AS layout, zfile AS file_id, user_id, d FROM z
         | UNION ALL
         | SELECT 'rowid' AS layout, rfile AS file_id, user_id, d FROM z),
         |zone AS (
         | SELECT layout, file_id, min(user_id) AS u_min, max(user_id) AS u_max,
         |  min(d) AS d_min, max(d) AS d_max
         | FROM lanes GROUP BY 1, 2),
         |nf AS (SELECT layout, CAST(count(*) AS BIGINT) AS n_files
         |       FROM zone GROUP BY 1),
         |users AS (SELECT DISTINCT user_id FROM e ORDER BY user_id
         |          LIMIT $PruneProbes),
         |days AS (SELECT DISTINCT d FROM e ORDER BY d LIMIT $PruneProbes),
         |uh AS (SELECT layout, CAST(count(*) AS BIGINT) AS hits
         |       FROM zone JOIN users ON user_id BETWEEN u_min AND u_max
         |       GROUP BY 1),
         |dh AS (SELECT layout, CAST(count(*) AS BIGINT) AS hits
         |       FROM zone JOIN days ON d BETWEEN d_min AND d_max GROUP BY 1)
         |SELECT layout, 'user_point' AS probe_kind,
         | CAST($PruneProbes AS BIGINT) AS n_probes, nf.n_files,
         | hits * 1000 // $PruneProbes AS avg_files_milli,
         | ($PruneProbes * nf.n_files - hits) * 1000000
         |   // ($PruneProbes * nf.n_files) AS skip_ppm
         |FROM uh JOIN nf USING (layout)
         |UNION ALL
         |SELECT layout, 'day_scan', CAST($PruneProbes AS BIGINT), nf.n_files,
         | hits * 1000 // $PruneProbes,
         | ($PruneProbes * nf.n_files - hits) * 1000000
         |   // ($PruneProbes * nf.n_files)
         |FROM dh JOIN nf USING (layout)""".stripMargin
    })
}
