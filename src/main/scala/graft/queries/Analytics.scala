package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.BloomPrune
import graft.sources.Tables

/** Time-series / sequence / relevance analytics beyond the reference's
  * fixed pipeline — the operators an outbreak-style monitoring engine
  * (reference README.md: detrended daily series → anomaly score) grows
  * into next: seasonality removal, cross-series correlation, behavior
  * transition matrices, bloom-pruned selective joins, TF-IDF term
  * weighting. All five are DuckDB-oracle-checked; all integer-unit
  * arithmetic follows the cents/micro-unit scheme so hashes are stable
  * under any partial-aggregation merge order.
  */
object Analytics {

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100, 0).cast("long")

  /** q86 — day-of-week seasonal decomposition of the daily event series:
    * residual = count − dow mean (the classical-decomposition seasonal
    * term, the step between the reference's cumulative detrend and its
    * anomaly scorer). Two combinable aggregations; the 〈type, dow〉 mean
    * table is ≤ 7·|types| rows and broadcasts back. The mean is kept in
    * integer micro-units via integral division so residuals are exact —
    * no double accumulates anywhere. */
  def q86Deseasonalize(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("d"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("dow", dayofweek(col("d")))
    val means = daily.groupBy("event_type", "dow")
      .agg(expr("(sum(cnt) * 1000000) div count(1)").as("dow_mean_micro"))
    daily.join(broadcast(means), Seq("event_type", "dow"))
      .select(col("event_type"),
        date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("dow"), col("cnt"), col("dow_mean_micro"),
        (col("cnt") * 1000000L - col("dow_mean_micro")).as("residual_micro"))
  }

  /** q87 — Pearson correlation of each event type's daily count series
    * against the global daily total (which series track the aggregate —
    * the cross-region co-movement question behind multi-series outbreak
    * monitoring). Days where a type is silent count as 0 via a dense
    * types×days spine (types is a tiny broadcast side). All six
    * correlation sums are integer — one double division and two sqrt at
    * the very end, identical bits in both engines. */
  def q87SeriesCorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("d"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val totals = daily.groupBy("d").agg(sum("cnt").as("tot"))
    val types = daily.select("event_type").distinct()
    val dense = broadcast(types).crossJoin(totals)
      .join(daily, Seq("event_type", "d"), "left")
      .select(col("event_type"), col("tot"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val agg = dense.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum("cnt").as("sx"), sum("tot").as("sy"),
      sum(col("cnt") * col("cnt")).as("sxx"),
      sum(col("tot") * col("tot")).as("syy"),
      sum(col("cnt") * col("tot")).as("sxy"))
    val varx = col("n") * col("sxx") - col("sx") * col("sx")
    val vary = col("n") * col("syy") - col("sy") * col("sy")
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    agg.select(col("event_type"), col("n"),
      when(varx === 0L || vary === 0L, lit(null).cast("double"))
        .otherwise(round(num / (sqrt(varx.cast("double")) * sqrt(vary.cast("double"))), 6))
        .as("pearson_r"))
  }

  /** q88 — first-order Markov transition matrix over per-user event
    * sequences: P(next type | current type) as exact integer micro-unit
    * probabilities. One window pass (lag over the user's event-time
    * order — times are unique per user at μs precision, so the order is
    * total) then a combinable bigram count; row totals broadcast back.
    * The |types|² matrix is what sequence-behavior models train on. */
  def q88Transitions(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    val bigrams = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag("event_type", 1).over(byUser))
      .where(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("curr"))
      .agg(count(lit(1)).as("cnt"))
    val totals = bigrams.groupBy("prev").agg(sum("cnt").as("tot"))
    bigrams.join(broadcast(totals), "prev")
      .select(col("prev"), col("curr"), col("cnt"),
        expr("(cnt * 1000000) div tot").as("prob_micro"))
  }

  /** q89 — bloom-pruned selective equi-join ([[BloomPrune]]): revenue
    * for a dim subset too large to broadcast-join blindly at 100 TB but
    * selective enough that most fact rows can't match. The dim keys fold
    * into a bloom filter probed NATIVELY on the fact scan (codegen'd
    * `graft_bloom_might_contain`, plan-guarded) so non-matching rows die
    * before the shuffle; the exact join then removes false positives —
    * results identical to the plain join, which is the oracle. */
  def q89BloomJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.supplier(s, dir)
      .where(col("s_nationkey") < 5)
      .select(col("s_suppkey"), col("s_name"))
    val fact = Tables.lineitem(s, dir)
      .select(col("l_suppkey"), cents(col("l_extendedprice")).as("vc"))
    BloomPrune.prunedEquiJoin(fact, "l_suppkey", dim, "s_suppkey",
        expectedItems = 100000L)
      .groupBy("s_suppkey", "s_name")
      .agg(count(lit(1)).as("items"), (sum("vc") / 100.0).as("revenue"))
  }

  /** q90 — TF-IDF top-k salient terms per document (the classic
    * relevance/keyword-extraction signal next to q77's BM25). tf and df
    * are two combinable counts; df (vocab-sized) and the N row broadcast
    * back onto the tf table; smooth idf = ln((N+1)/(df+1)) ≥ 0. Scores
    * quantize to integer micro-units BEFORE ranking so the top-k order
    * (score desc, term asc) is the same total order in both engines. */
  def q90Tfidf(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id").orderBy(col("score_micro").desc, col("tok"))
    tf.join(broadcast(dfreq), "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("score_micro",
        round(col("tf") * log((col("n") + 1.0) / (col("df") + 1.0)) * 1000000.0, 0)
          .cast("long"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        col("score_micro"), col("rk"))
  }

  /** q91 — SCD Type-2 dimension build from a changelog: collapse each
    * user's event stream into state-validity intervals (run-length
    * collapse on consecutive equal states, then lead() closes each
    * interval; the open interval is the current row). Both window passes
    * key on user_id with the same order, so Catalyst reuses ONE
    * exchange+sort — the linear-cost shape changelog→dimension
    * compaction needs at 100 TB. */
  def q91Scd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val changes = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_state", lag("event_type", 1).over(w))
      .where(col("prev_state").isNull || col("event_type") =!= col("prev_state"))
    changes
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to_us", lead("us", 1).over(w))
      .select(col("user_id"), col("version"),
        col("event_type").as("state"), col("us").as("valid_from_us"),
        col("valid_to_us"),
        col("valid_to_us").isNull.cast("int").as("is_current"))
  }

  /** q92 — χ² test of independence between event type and day-of-week
    * (does behavior have weekly structure?). Observed/expected counts
    * stay exact integers; each cell's χ² term is quantized to integer
    * micro-units BEFORE the global sum, so the statistic is bit-stable
    * under any merge order. One combinable count + three tiny broadcast
    * margins — the contingency table never exceeds |types|·7 rows. */
  def q92ChiSquare(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.events(s, dir)
      .select(col("event_type"), dayofweek(to_date(col("ts"))).as("dow"))
      .groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
    val rt = obs.groupBy("event_type").agg(sum("o").as("r"))
    val ct = obs.groupBy("dow").agg(sum("o").as("c"))
    val nn = obs.agg(sum("o").as("n"))
    val d = (col("o") * col("n") - col("r") * col("c")).cast("double")
    val term = d * d /
      (col("n").cast("double") * col("r").cast("double") * col("c").cast("double"))
    val cells = obs.join(broadcast(rt), "event_type")
      .join(broadcast(ct), "dow").crossJoin(broadcast(nn))
    val dims = rt.agg(count(lit(1)).as("nr"))
      .crossJoin(ct.agg(count(lit(1)).as("nc")))
    cells.agg(count(lit(1)).as("n_cells"),
        (sum(round(term * 1000000.0, 0).cast("long")) / 1000000.0).as("chi2"))
      .crossJoin(broadcast(dims))
      .select(col("n_cells"), ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
        col("chi2"))
  }

  /** q93 — batch MERGE (upsert) semantics without a table format: fold a
    * change batch into a snapshot with matched-update / unmatched-insert /
    * tombstone-delete in ONE full-outer join on the key (both sides are
    * latest-state compactions à la q80, so the join is key-unique — no
    * row explosion). This is the compaction kernel a lakehouse MERGE
    * INTO lowers to; at scale both sides pre-bucket on user_id
    * (`bucketBy`) and the join is exchange-free. */
  def q93MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("us"), to_date(col("ts")).as("d"))
    def latest(df: DataFrame) = df.groupBy("user_id").agg(
      max_by(col("event_type"), col("us")).as("state"),
      max_by(col("value"), col("us")).as("value"),
      max(col("us")).as("us"))
    val split = lit("2024-01-21").cast("date")
    val target = latest(e.where(col("d") < split)).as("t")
    val source = latest(e.where(col("d") >= split)).as("s")
    target.join(source, Seq("user_id"), "full_outer")
      .where(!(col("s.state").isNotNull && col("s.state") === "error"))
      .select(col("user_id"),
        coalesce(col("s.state"), col("t.state")).as("state"),
        coalesce(col("s.value"), col("t.value")).as("value"),
        coalesce(col("s.us"), col("t.us")).as("last_us"),
        when(col("s.us").isNotNull && col("t.us").isNotNull, "update")
          .when(col("s.us").isNotNull, "insert").otherwise("keep").as("action"))
  }

  /** q94 — GROUPING SETS: the explicit multi-granularity aggregation
    * (finer than cube/rollup — only the requested grouping combinations
    * are computed). `grouping_id` disambiguates which set produced each
    * row, so downstream readers never confuse a subtotal NULL with a
    * data NULL. One scan, one expand — the planner shares the shuffle
    * across all sets. */
  def q94GroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("cnt"),
        grouping_id().as("gid"))

  /** q103 — weighted PageRank over the event-type transition graph (the
    * q88 bigram edges): which states dominate user flows once indirect
    * paths count, not just raw transition counts. Exact parts-per-1e9
    * integer ranks ([[graft.operators.PageRank]]) make the 5-round
    * iteration bit-reproducible, so the oracle simply unrolls the same
    * integer recurrence five times in SQL. */
  def q103PageRank(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    val edges = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag("event_type", 1).over(byUser))
      .where(col("prev").isNotNull)
      .groupBy(col("prev").as("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("w"))
    graft.operators.PageRank.ranks(edges, iterations = PrIters)
      .select(col("node"), col("rank").as("rank_ppb"))
  }

  private val PrIters = 5
  private val PrDamping = 85
  private val PrScale = 1000000000L

  /** Unrolled integer-PageRank oracle: r0..r`iters` as a CTE chain, each
    * round the exact recurrence the operator computes. */
  private def pagerankOracle(iters: Int, d: Int, scale: Long): String = {
    val head =
      """WITH ev AS (
        | SELECT user_id, event_id, event_type,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |b AS (
        | SELECT lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |   AS prev, event_type AS curr FROM ev),
        |e AS (SELECT prev AS src, curr AS dst, CAST(count(*) AS BIGINT) AS w
        |      FROM b WHERE prev IS NOT NULL GROUP BY 1, 2),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST($SCALE // n AS BIGINT) AS rank FROM nodes CROSS JOIN nn)"""
        .stripMargin.replace("$SCALE", scale.toString)
    val rounds = (1 to iters).map { k =>
      s"""r$k AS (
         | SELECT nodes.node,
         |  CAST(${(100L - d) * scale} // (100 * nn.n)
         |   + COALESCE(c.contrib, 0)
         |   + ($d * dg.dm) // (100 * nn.n) AS BIGINT) AS rank
         | FROM nodes
         | CROSS JOIN nn
         | CROSS JOIN (SELECT COALESCE(sum(p.rank), 0) AS dm FROM r${k - 1} p
         |             LEFT JOIN ow ON p.node = ow.src WHERE ow.src IS NULL) dg
         | LEFT JOIN (SELECT e.dst AS node,
         |             sum((p.rank * $d * e.w) // (100 * ow.outw)) AS contrib
         |            FROM e JOIN r${k - 1} p ON e.src = p.node
         |            JOIN ow ON e.src = ow.src
         |            GROUP BY e.dst) c ON nodes.node = c.node)""".stripMargin
    }
    (head +: rounds).mkString(",\n") + s"\nSELECT node, rank AS rank_ppb FROM r$iters"
  }

  /** Columns profiled by [[q110Profile]] — strings, integers, and an
    * ISO-rendered date: types whose min/max render identically as
    * strings in both engines (raw doubles would hit float-formatting
    * divergence, so callers string-render those upstream). */
  private val ProfileCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_returnflag", "l_linestatus", "ship_day")

  /** q110 — one-pass column profile of the lineitem table
    * ([[graft.operators.Profiler]]): per column, null count, exact
    * cardinality, min/max as strings. The query uses exact=true for the
    * cross-engine oracle; the operator's default is the mergeable-HLL
    * path (no Expand) for 100 TB profiling. */
  def q110Profile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiler.profile(
      Tables.lineitem(s, dir)
        .withColumn("ship_day", date_format(col("l_shipdate"), "yyyy-MM-dd")),
      ProfileCols, exact = true)

  private def profileOracle: String =
    "WITH li AS (SELECT *, strftime(l_shipdate, '%Y-%m-%d') AS ship_day FROM lineitem)\n" +
      ProfileCols.map(c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           | count($c) AS n_non_null, count(*) - count($c) AS n_null,
           | count(DISTINCT $c) AS n_distinct,
           | CAST(min($c) AS VARCHAR) AS min_s, CAST(max($c) AS VARCHAR) AS max_s
           |FROM li""".stripMargin).mkString("\nUNION ALL\n")

  /** q134 — declarative data-quality constraint battery (the Deequ
    * pattern — Schelter et al., VLDB 2018, public): completeness,
    * compound-key uniqueness, value range, accepted domain, and
    * referential integrity, reported one row per constraint as exact
    * violation counts. Shape: ONE combinable aggregation over the fact
    * table computes every column metric (single scan, 1-row result), a
    * left-anti probe counts referential orphans, and the constraint rows
    * are a literal explode of that 1-row frame — at 100 TB this is the
    * pre-ingest gate, and it costs one scan + one key join. */
  def q134TableConstraints(s: SparkSession, dir: String): DataFrame =
    q134TableConstraintsOn(Tables.lineitem(s, dir), Tables.orders(s, dir))

  def q134TableConstraintsOn(li: DataFrame, orders: DataFrame): DataFrame = {
    // ONE scan: the referential probe is a broadcast LEFT join (orders'
    // key side is the small dimension) and every metric — orphan count
    // included — folds into a single combinable aggregation. A separate
    // anti-join branch would re-read the whole fact table. o_orderkey is
    // the orders PK, so the join never fans rows out; a null FK gets no
    // match and counts as an orphan, exactly the NOT EXISTS semantics.
    val metrics = li
      .join(broadcast(orders.select(col("o_orderkey").as("__ok"))),
        col("l_orderkey") === col("__ok"), "left")
      .agg(
      count(lit(1)).as("__n"),
      count(col("l_orderkey")).as("__nk"),
      count_distinct(struct(col("l_orderkey"), col("l_linenumber"))).as("__uq"),
      sum(when(col("l_quantity") < 0, 1L).otherwise(0L)).as("__negq"),
      sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L).otherwise(0L))
        .as("__badflag"),
      sum(when(col("__ok").isNull, 1L).otherwise(0L)).as("__orphans"))
    metrics
      .select(explode(array(
        struct(lit("row_count_positive").as("rule"),
          when(col("__n") > 0, 0L).otherwise(1L).as("violations")),
        struct(lit("orderkey_complete").as("rule"),
          (col("__n") - col("__nk")).as("violations")),
        struct(lit("line_id_unique").as("rule"),
          (col("__n") - col("__uq")).as("violations")),
        struct(lit("quantity_non_negative").as("rule"),
          col("__negq").as("violations")),
        struct(lit("returnflag_in_domain").as("rule"),
          col("__badflag").as("violations")),
        struct(lit("orderkey_references_orders").as("rule"),
          col("__orphans").as("violations")))).as("__c"))
      .select(col("__c.rule").as("rule"),
        col("__c.violations").as("violations"),
        (col("__c.violations") === 0).as("pass"))
  }

  /** q135 flag threshold, in (events × days) scaled units — see below. */
  val CusumH = 50L

  /** q135 — CUSUM changepoint detection over each region's daily event
    * counts (Page 1954 — the classic sequential outbreak/shift detector,
    * re-derived for exact SQL): the one-sided CUSUM recursion
    * `s_i = max(0, s_{i-1} + x_i − μ)` has the closed form
    * `s_i = P_i − min(P_0..P_i)` with `P` the prefix sum of `x − μ` —
    * two window functions, no recursion. Everything stays in INTEGERS by
    * multiplying through by the day count N: Q_i = cumsum(N·x_i − S)
    * (S = region total), so `cusum_scaled = Q_i − min prefix` is exact
    * in both engines and a shift flags when it exceeds N·[[CusumH]].
    * Windows partition by region — bounded series per region, the same
    * shape as every detrend window in the outbreak path. */
  def q135Cusum(s: SparkSession, dir: String): DataFrame =
    q135CusumOnDaily(Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("date"),
        concat(lit("R"), col("user_id") % 5).as("region"))
      .agg(count(lit(1)).as("n")))

  /** The closed-form CUSUM over a (date, region, n) daily frame. */
  def q135CusumOnDaily(daily: DataFrame): DataFrame = {
    val byRegion = Window.partitionBy("region")
    val ordered = Window.partitionBy("region").orderBy("date")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("__N", count(lit(1)).over(byRegion))
      .withColumn("__S", sum("n").over(byRegion))
      .withColumn("__q", sum(col("__N") * col("n") - col("__S")).over(ordered))
      .withColumn("cusum_scaled", col("__q") - least(min("__q").over(ordered), lit(0L)))
      .withColumn("flag", col("cusum_scaled") > col("__N") * CusumH)
      .select(date_format(col("date"), "yyyy-MM-dd").as("date"),
        col("region"), col("n"), col("cusum_scaled"), col("flag"))
  }

  /** q136 — 2D skyline of the part catalog: the price/size Pareto
    * frontier (no part is both cheaper and at-least-as-large with one
    * strict). The frontier is [[graft.operators.Skyline]]'s three-pass
    * cumulative-max plan — never the quadratic `NOT EXISTS` dominance
    * self-join the oracle uses (fine at sf0.01, the job at 100 TB). */
  def q136Skyline(s: SparkSession, dir: String): DataFrame =
    graft.operators.Skyline
      .frontier2D(Tables.part(s, dir), "p_retailprice", "p_size")
      .select(col("p_partkey"), col("p_name"),
        cents(col("p_retailprice")).as("price_cents"), col("p_size"))

  /** q141 — exponentially-weighted moving average of each region's daily
    * event count, α = 1/2: `s₁ = n₁`, `sₜ = (sₜ₋₁ + nₜ)/2` — the
    * baseline smoother/forecaster next to q86's deseasonalizer and
    * q135's CUSUM. The recursion is inherently sequential per series, so
    * it runs as ONE `aggregate()` fold over each region's sorted
    * day array — state bounded by days-per-series, regions in parallel,
    * no driver loop, no global window. α = 1/2 is the reason this is
    * oracle-checkable at full precision: each step is one IEEE add and
    * one EXACT halving in fixed order, so Spark's fold and DuckDB's
    * recursive CTE produce bit-identical doubles. */
  def q141Ewma(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("d"),
        concat(lit("R"), (col("user_id") % 5).cast("string")).as("region"))
      .agg(count(lit(1)).as("n"))
    val series = daily.groupBy("region")
      .agg(array_sort(collect_list(struct(col("d"), col("n")))).as("s"))
    series
      .withColumn("e", expr(
        """aggregate(s,
          |  named_struct('arr', cast(array() as array<double>),
          |               'last', cast(null as double)),
          |  (acc, x) -> named_struct(
          |    'arr', concat(acc.arr, array(
          |      if(acc.last is null, cast(x.n as double),
          |         (acc.last + cast(x.n as double)) / 2.0d))),
          |    'last', if(acc.last is null, cast(x.n as double),
          |         (acc.last + cast(x.n as double)) / 2.0d)),
          |  acc -> acc.arr)""".stripMargin))
      .select(col("region"), col("e"), posexplode(col("s")))
      .select(col("region"),
        date_format(col("col.d"), "yyyy-MM-dd").as("date"),
        col("col.n").as("n"),
        round(element_at(col("e"), col("pos") + 1) * 1e6, 0).cast("long")
          .as("ewma_micro"))
  }

  /** Phrase for [[q143PhraseSearch]] — two adjacent tokens. */
  val PhraseFirst = "big"
  val PhraseSecond = "data"

  /** q143 — exact phrase search over a positional inverted index: the
    * IR primitive BM25 (q77) and TF-IDF (q90) cannot express, because
    * scoring ignores adjacency. The postings list (doc, position) is
    * derived per document with `posexplode` (narrow — no shuffle to
    * build), each phrase term selects ONLY its own postings, and
    * adjacency is an equi-join on (doc, aligned position) — never a
    * scan of non-matching tokens past the filter. At rest this layout
    * is the classic searchable index: partition postings by token
    * prefix and both probes become partition-pruned reads.
    * Positions are 1-based in the output. */
  def q143PhraseSearch(s: SparkSession, dir: String): DataFrame =
    q143PhraseSearchOn(Tables.documents(s, dir))

  /** [[q143PhraseSearch]] over any (doc_id, text) frame — the postings
    * derivation and adjacency join live in
    * [[graft.operators.PostingsStore]]. */
  def q143PhraseSearchOn(docs: DataFrame): DataFrame =
    graft.operators.PostingsStore.phraseOn(
      graft.operators.PostingsStore.postings(docs), PhraseFirst, PhraseSecond)

  /** q144 — join-key skew audit: the measurement half of skew handling
    * (salting the hot keys is the mitigation half). One
    * combinable key histogram, one 3-number stats row broadcast back,
    * and a TakeOrdered top-10 of the heaviest keys with their corpus
    * share — the numbers that decide salting factors and AQE skew
    * thresholds before a production join. All ratios integer (ppm /
    * micro), no doubles anywhere. */
  def q144SkewProfile(s: SparkSession, dir: String): DataFrame =
    q144SkewProfileOn(Tables.events(s, dir))

  /** [[q144SkewProfile]] over any (user_id, …) frame — exposed for
    * planted-skew specs. */
  def q144SkewProfileOn(events: DataFrame): DataFrame =
    skewProfileOfCounts(events
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt")))

  /** [[q144SkewProfileOn]] from a pre-aggregated (user_id, cnt) histogram
    * — exposed so the overflow-regime spec can plant counts near
    * Long.MaxValue without materializing the rows. */
  def skewProfileOfCounts(counts: DataFrame): DataFrame = {
    val stats = counts.agg(count(lit(1)).as("n_keys"),
      sum("cnt").as("total"), max("cnt").as("max_cnt"))
    counts.orderBy(col("cnt").desc, col("user_id")).limit(10)
      .crossJoin(broadcast(stats))
      .select(col("user_id"), col("cnt"),
        // cnt·1e6 already overflows Long at a ~1e13-row hot key — same
        // decimal(38,0) widening as the skew ratio below
        expr("cast(cast(cnt as decimal(38,0)) * 1000000 div total as bigint)")
          .as("share_ppm"),
        col("n_keys"), col("max_cnt"),
        // max_cnt·n_keys·1e6 overflows Long near 9.2e18 — ~1e10-row hot
        // key × 1e9 keys territory, i.e. exactly the 100 TB regime this
        // audit exists for. Widen to decimal(38,0) for the product;
        // IntegralDivide lands back on a bigint ratio.
        expr("cast(cast(max_cnt as decimal(38,0)) * n_keys * 1000000 div total as bigint)")
          .as("skew_ratio_micro"))
  }

  /** `round(ln(c)·10⁶)` as a long — the micro-nat snap, computed from
    * the SAME integer in both engines so every ln agrees bit-for-bit. */
  private def microLn(c: org.apache.spark.sql.Column) =
    round(log(c.cast("double")) * 1e6, 0).cast("long")

  /** q145 — per-column Shannon entropy profile: how concentrated each
    * column's value distribution is (the signal behind encoding choice,
    * dictionary-vs-plain, and "is this column worth bucketing").
    * Complements q110's null/distinct profile and reuses q127's
    * micro-nat scheme: H = ln N − (Σ c·ln c)/N with every ln snapped to
    * integer micro-nats per DISTINCT count and the weighted sum done in
    * longs — no float accumulation, any merge order. One combinable
    * histogram + one scalar agg per column; the three columns union. */
  def q145ColumnEntropy(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def entropyOf(colExpr: org.apache.spark.sql.Column, name: String): DataFrame =
      ev.groupBy(colExpr.cast("string").as("v")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_distinct"), sum("c").as("n"),
          sum(col("c") * microLn(col("c"))).as("s"))
        .select(lit(name).as("col_name"), col("n"), col("n_distinct"),
          (microLn(col("n")) - expr("s div n")).as("entropy_micro"))
    entropyOf(col("event_type"), "event_type")
      .unionByName(entropyOf(col("user_id"), "user_id"))
      .unionByName(entropyOf(to_date(col("ts")), "day"))
  }

  /** q146 — Holt linear-trend smoothing (double exponential) of each
    * region's daily counts, α = β = 1/2: level `sₜ = (nₜ + sₜ₋₁ + bₜ₋₁)/2`,
    * trend `bₜ = ((sₜ − sₜ₋₁) + bₜ₋₁)/2`, one-step forecast `sₜ + bₜ` —
    * what q141's flat EWMA cannot do: track a drifting level. The same
    * exactness argument as q141: every step is IEEE adds + exact
    * halvings in fixed order, so the `aggregate()` fold and the DuckDB
    * recursive CTE agree at full double precision. Initialization:
    * `s₁ = n₁`, `b₁ = 0`. */
  def q146Holt(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("d"),
        concat(lit("R"), (col("user_id") % 5).cast("string")).as("region"))
      .agg(count(lit(1)).as("n"))
    val series = daily.groupBy("region")
      .agg(array_sort(collect_list(struct(col("d"), col("n")))).as("s"))
    series
      .withColumn("e", expr(
        """aggregate(s,
          |  named_struct('arr', cast(array() as array<struct<l: double, b: double>>),
          |               'l', cast(null as double), 'b', cast(null as double)),
          |  (acc, x) -> named_struct(
          |    'arr', concat(acc.arr, array(named_struct(
          |      'l', if(acc.l is null, cast(x.n as double),
          |              (cast(x.n as double) + acc.l + acc.b) / 2.0d),
          |      'b', if(acc.l is null, cast(0.0 as double),
          |              (((cast(x.n as double) + acc.l + acc.b) / 2.0d) - acc.l
          |               + acc.b) / 2.0d)))),
          |    'l', if(acc.l is null, cast(x.n as double),
          |            (cast(x.n as double) + acc.l + acc.b) / 2.0d),
          |    'b', if(acc.l is null, cast(0.0 as double),
          |            (((cast(x.n as double) + acc.l + acc.b) / 2.0d) - acc.l
          |             + acc.b) / 2.0d)),
          |  acc -> acc.arr)""".stripMargin))
      .select(col("region"), col("e"), posexplode(col("s")))
      .select(col("region"),
        date_format(col("col.d"), "yyyy-MM-dd").as("date"),
        col("col.n").as("n"),
        round(element_at(col("e"), col("pos") + 1).getField("l") * 1e6, 0)
          .cast("long").as("level_micro"),
        round(element_at(col("e"), col("pos") + 1).getField("b") * 1e6, 0)
          .cast("long").as("trend_micro"),
        round((element_at(col("e"), col("pos") + 1).getField("l") +
          element_at(col("e"), col("pos") + 1).getField("b")) * 1e6, 0)
          .cast("long").as("forecast_micro"))
  }

  /** q181 — additive Holt–Winters (triple exponential) smoothing of each
    * region's daily counts with weekly seasonality (m = 7) and
    * α = β = γ = 1/2 — what q146's Holt cannot do: separate a weekly
    * rhythm from a drifting level, the decomposition an outbreak monitor
    * needs before calling a Monday spike anomalous. Recurrences on the
    * zero-densified day grid (lag-7 must mean "same weekday last week"):
    * `lₜ = ((yₜ − sₜ₋₇) + (lₜ₋₁ + bₜ₋₁))/2`, `bₜ = ((lₜ − lₜ₋₁) + bₜ₋₁)/2`,
    * `sₜ = ((yₜ − lₜ) + sₜ₋₇)/2`, one-step forecast `lₜ + bₜ + sₜ₋₆`.
    * Initialized from the first week: `l₀ = (Σ₁..₇ yᵢ)/7` (integer sum,
    * ONE division), `b₀ = 0`, `sᵢ = yᵢ − l₀`; emission starts at day 8.
    *
    * Exactness (the q141/q146 argument, extended): every step is IEEE
    * adds/subtracts + exact halvings in a fixed order, and the single
    * init division divides an exact integer — so the Scala fold and the
    * DuckDB recursive CTE agree at FULL double precision; outputs snap
    * to micro-units only at the end, in the engine's round() on both
    * sides.
    *
    * Shape: the 13-double state (level, trend, 7-slot seasonal ring) is
    * past what a readable SQL `aggregate()` fold carries, so the
    * recursion runs as ONE `flatMapGroups` over region — the M7
    * fan-out discipline: one shuffle keyed on region, series bounded by
    * calendar days (not volume), state O(1) per series. */
  def q181HoltWinters(s: SparkSession, dir: String): DataFrame =
    q181HoltWintersOn(Tables.events(s, dir))

  /** [[q181HoltWinters]] over any (ts, user_id) events frame. */
  def q181HoltWintersOn(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val daily = events
      .groupBy(to_date(col("ts")).as("d"),
        concat(lit("R"), (col("user_id") % 5).cast("string")).as("region"))
      .agg(count(lit(1)).as("n"))
    val days = daily.select("d").distinct()
    val regions = daily.select("region").distinct()
    val dense = broadcast(regions).crossJoin(days)
      .join(daily, Seq("region", "d"), "left")
      .select(col("region"), date_format(col("d"), "yyyy-MM-dd").as("date"),
        coalesce(col("n"), lit(0L)).as("n"))
    val fitted = dense.as[(String, String, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (region, it) =>
        val rows = it.toArray.sortBy(_._2) // ISO dates sort lexicographically
        if (rows.length < 8) Iterator.empty
        else {
          val y = rows.map(_._3.toDouble)
          val l0 = rows.take(7).map(_._3).sum.toDouble / 7.0
          val ring = Array.tabulate(7)(i => y(i) - l0)
          var l = l0; var b = 0.0
          Iterator.range(7, rows.length).map { t =>
            val sLag = ring(t % 7)
            val lN = ((y(t) - sLag) + (l + b)) / 2.0
            val bN = ((lN - l) + b) / 2.0
            val sN = ((y(t) - lN) + sLag) / 2.0
            ring(t % 7) = sN; l = lN; b = bN
            (region, rows(t)._2, rows(t)._3, lN, bN, sN, lN + bN + ring((t + 1) % 7))
          }
        }
      }
      .toDF("region", "date", "n", "l", "b", "s", "f")
    // snap AFTER the fold, in the engine's round() (HALF_UP both sides)
    fitted.select(col("region"), col("date"), col("n"),
      round(col("l") * 1e6, 0).cast("long").as("level_micro"),
      round(col("b") * 1e6, 0).cast("long").as("trend_micro"),
      round(col("s") * 1e6, 0).cast("long").as("seasonal_micro"),
      round(col("f") * 1e6, 0).cast("long").as("forecast_micro"))
  }

  /** q188 — seasonal-strength score per event type: how much of the
    * daily series' variance the day-of-week profile explains,
    * `1 − Var(residual)/Var(raw)` in exact ppm — the variance-
    * decomposition number (Hyndman's seasonal strength) that decides
    * whether q86's deseasonalizing or q181's Holt-Winters is even
    * warranted for a series. Residuals are q86's integer micro-unit
    * residuals verbatim, so the score certifies exactly the
    * decomposition the engine ships.
    *
    * Exactness: both variances come from (n·Σx² − (Σx)²) integer
    * sufficient statistics — residual sums in decimal(38,0) (r ~ 10⁸
    * micro-units squares past Long at corpus scale), the ratio one
    * integral division, clamped at 0 (the truncated dow means can
    * leave the integer residual SS a hair above total SS on
    * near-constant series). Two combinable aggregations total. */
  def q188SeasonalStrength(s: SparkSession, dir: String): DataFrame =
    q188SeasonalStrengthOn(Tables.events(s, dir))

  /** [[q188SeasonalStrength]] over any (ts, event_type) frame. */
  def q188SeasonalStrengthOn(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(to_date(col("ts")).as("d"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("dow", dayofweek(col("d")))
    val means = daily.groupBy("event_type", "dow")
      .agg(expr("(sum(cnt) * 1000000) div count(1)").as("dm"))
    val r = daily.join(broadcast(means), Seq("event_type", "dow"))
      .select(col("event_type"), col("cnt"),
        (col("cnt") * 1000000L - col("dm")).as("r"))
    r.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum("cnt").as("sc"),
        sum(col("cnt") * col("cnt")).as("scc"),
        sum(expr("cast(r as decimal(38,0))")).as("sr"),
        sum(expr("cast(r as decimal(38,0)) * r")).as("srr"))
      .select(col("event_type"), col("n"),
        when(expr("n * scc - sc * sc") === 0L, lit(null).cast("long"))
          .otherwise(expr(
            """cast(greatest(cast(0 as decimal(38,0)),
              |  1000000 - (cast(n as decimal(38,0)) * srr - sr * sr) * 1000000
              |    div ((cast(n as decimal(38,0)) * scc - cast(sc as decimal(38,0)) * sc) * 1000000000000))
              |as bigint)""".stripMargin))
          .as("strength_ppm"))
  }

  /** q147 — mutual information between event type and region:
    * `MI = H(a) + H(b) − H(a,b)` — the feature-dependence audit ("does
    * region tell you anything about behavior?") built from the same
    * micro-nat entropy machinery as q145, so three combinable
    * histograms and three scalar rows are the whole job. MI ≥ 0 up to
    * the integral-mean snap; independence ⇒ ≈ 0. */
  def q147MutualInfo(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_type").as("a"),
      concat(lit("R"), (col("user_id") % 5).cast("string")).as("b"))
    val ha = e.groupBy("a").agg(count(lit(1)).as("c"))
      .agg(sum("c").as("n"), sum(col("c") * microLn(col("c"))).as("sa"))
    val hb = e.groupBy("b").agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * microLn(col("c"))).as("sb"))
    val hab = e.groupBy("a", "b").agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * microLn(col("c"))).as("sab"))
    ha.crossJoin(broadcast(hb)).crossJoin(broadcast(hab))
      .select(col("n"),
        (microLn(col("n")) - expr("sa div n")).as("h_a_micro"),
        (microLn(col("n")) - expr("sb div n")).as("h_b_micro"),
        (microLn(col("n")) - expr("sab div n")).as("h_joint_micro"),
        (microLn(col("n")) - expr("sa div n") - expr("sb div n") +
          expr("sab div n")).as("mi_micro"))
  }

  // ---------------------------------------------------------------- q245

  /** q245 — exact-distinct bitmap rollup through the persisted
    * [[graft.operators.BitmapStore]]: per (event type, day) the user
    * set compresses to a dense bitmap landed partition-per-day; the
    * per-type distinct-users-ever answer then comes from OR-ing
    * bitmap rows — history is never re-read, and unlike the HLL
    * store (q110/q151) the answer is EXACT, which is what billing,
    * dedup accounting, and k-anonymity thresholds (q172/q240)
    * actually require. The query is self-auditing (the q48
    * discipline): it recomputes the distinct count directly from the
    * raw events IN the same result and emits the equality flag the
    * oracle asserts — a drifting bitmap path fails the gate instead
    * of passing quietly.
    *
    * Scale shape: one groupBy compresses the corpus to (type × day)
    * bitmap rows before anything persists; the rollup reads bitmap
    * rows only (store-proportional, partition-prunable on `__batch`);
    * the direct-audit branch is the one extra corpus aggregate. */
  /** Events as (event_type, user_id, epoch day), plus the per-(type,
    * day) bitmap store for them — shared by q245/q246. Cached per
    * (session, dir) via [[graft.operators.TempStoreCache]] (the store
    * is a persisted artifact by design; rebuilding it per query was
    * the artificial part — and the tmpdir-accumulation failure mode of
    * long sweeps). */
  private def dayBitmapStore(s: SparkSession, dir: String)
      : (DataFrame, String) = {
    import graft.operators.BitmapStore
    val e = Tables.events(s, dir).select(col("event_type"), col("user_id"),
      expr("datediff(to_date(ts), date'1970-01-01')").cast("long").as("day"))
    val store = graft.operators.TempStoreCache.getOrCreate(
        s, dir, "bitmap_store") { p =>
      // one job: per-(type, day) bitmaps, partition-per-day store layout
      BitmapStore.bitmaps(e, Seq("event_type", "day"), "user_id")
        .withColumnRenamed("day", "__batch")
        .write.partitionBy("__batch")
        .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(p)
    }
    (e, store)
  }

  def q245BitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.BitmapStore
    val (e, store) = dayBitmapStore(s, dir)
    val rolled = BitmapStore.countDistinct(s, store, Seq("event_type"))
    val direct = e.groupBy("event_type")
      .agg(count_distinct(col("user_id")).as("n_direct"))
    rolled.join(direct, "event_type")
      .select(col("event_type"), col("n_epochs"), col("n_distinct"),
        col("n_direct"), (col("n_distinct") === col("n_direct")).as("exact"))
  }

  // ---------------------------------------------------------------- q246

  /** Window length (days, inclusive of the anchor day) for
    * [[q246SlidingDistinct]]. */
  val SlidingDays = 7

  /** q246 — EXACT trailing-7-day distinct users per (type, day), off
    * the q245 bitmap store: each (type, anchor-day) unions the ≤ 7
    * daily bitmaps in its window and popcounts. Exact sliding
    * distinct is the classically painful rollup — distinct does not
    * subtract, so a naive engine re-scans 7 days of raw events per
    * anchor; mergeable daily bitmaps turn it into a
    * store-proportional join (type × day rows, partition-prunable on
    * `__batch`), the same trick q110's HLL store plays but exact.
    *
    * Scale shape: the corpus is touched ONCE (building the daily
    * bitmaps); the window expansion is bitmap-rows × window — the
    * calendar-bounded metadata join pattern (q220) — never
    * events × window. */
  def q246SlidingDistinct(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.BitmapStore
    val (_, store) = dayBitmapStore(s, dir)
    val bm = s.read.parquet(store)
    val days = bm.select(col("__batch").cast("long").as("d")).distinct()
    bm.join(broadcast(days),
        col("__batch") >= col("d") - (SlidingDays - 1) &&
          col("__batch") <= col("d"))
      .groupBy("event_type", "d")
      .agg(count(lit(1)).as("n_days_present"),
        BitmapStore.popcountCol(BitmapStore.unionAggCol(col("bitmap")))
          .as("distinct_trailing"))
  }

  // ---------------------------------------------------------------- q247

  /** Max cohort age (days) reported by [[q247BitmapRetention]]. */
  val RetentionMaxAge = 7

  /** q247 — the full retention TRIANGLE (cohort day × age), exact,
    * from bitmap set algebra: daily activity bitmaps fold into
    * first-seen cohorts (day ∖ everything-prior — ANDNOT), and cell
    * (c, a) is |cohort(c) ∩ active(c+a)| (AND + popcount). q73
    * reports one fixed horizon; the triangle is the whole curve per
    * cohort, the artifact growth teams actually read — and set
    * algebra on day bitmaps answers it without EVER joining users to
    * users. Cells with zero retained users are omitted (matching the
    * oracle's join semantics).
    *
    * Scale shape: the corpus collapses to one bitmap row per day
    * (ONE groupBy); the fold and the age×cohort cells run on that
    * calendar-bounded metadata on the driver (P7 — ~n_days·8·max_id
    * bits of it), which is the same boundedness argument as q222's
    * greedy and q234's PAV. */
  def q247BitmapRetention(s: SparkSession, dir: String): DataFrame =
    bitmapRetentionOn(s, Tables.events(s, dir).select(col("user_id"),
      expr("datediff(to_date(ts), date'1970-01-01')").cast("long").as("day")))

  /** [[q247BitmapRetention]] over any (`user_id`, `day`) frame. */
  def bitmapRetentionOn(s: SparkSession, e: DataFrame): DataFrame = {
    import graft.operators.BitmapStore
    val daily = BitmapStore.bitmaps(e, Seq("day"), "user_id")
      .orderBy("day").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("bitmap"))
    val byDay = daily.toMap
    var prior = Array.emptyByteArray
    val rows = Seq.newBuilder[(Long, Long, Long, Long)]
    daily.foreach { case (c, bm) =>
      val cohort = BitmapStore.andNot(bm, prior)
      prior = BitmapStore.or(prior, bm)
      val nCohort = BitmapStore.popcount(cohort)
      if (nCohort > 0)
        (0 to RetentionMaxAge).foreach { a =>
          byDay.get(c + a).foreach { act =>
            val kept = BitmapStore.popcount(BitmapStore.and(cohort, act))
            if (kept > 0) rows += ((c, a.toLong, nCohort, kept))
          }
        }
    }
    import s.implicits._
    rows.result().toDF("c", "a", "n_cohort", "n_retained")
  }

  // ---------------------------------------------------------------- q249

  /** Max day-pair lag reported by [[q249AudienceOverlap]] (keeps the
    * output near-diagonal: overlap beyond a week is q73/q247's job). */
  val OverlapMaxLag = 3

  /** q249 — exact day-over-day audience overlap: for day pairs up to
    * [[OverlapMaxLag]] apart, |A_i ∩ A_j|, |A_i ∪ A_j| and the exact
    * Jaccard in ppm, from the same daily user bitmaps as q245-q247
    * (AND/OR + popcount). The stickiness readout between q73's fixed
    * horizon and q247's cohort triangle: how much of ANY day's
    * audience is the same people as d+1, d+2, d+3 — computed without
    * ever joining users to users.
    *
    * Scale shape: corpus → one bitmap row per day (ONE groupBy); the
    * near-diagonal pair enumeration folds calendar-bounded metadata
    * on the driver (P7). */
  def q249AudienceOverlap(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.BitmapStore
    val e = Tables.events(s, dir).select(col("user_id"),
      expr("datediff(to_date(ts), date'1970-01-01')").cast("long").as("day"))
    val daily = BitmapStore.bitmaps(e, Seq("day"), "user_id")
      .orderBy("day").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("bitmap"))
    val byDay = daily.toMap
    val rows = for {
      (d1, a) <- daily.toSeq
      lag <- 1 to OverlapMaxLag
      b <- byDay.get(d1 + lag)
    } yield {
      val inter = BitmapStore.popcount(BitmapStore.and(a, b))
      val union = BitmapStore.popcount(BitmapStore.or(a, b))
      (d1, d1 + lag, inter, union, inter * 1000000L / union)
    }
    import s.implicits._
    rows.toDF("d1", "d2", "n_both", "n_either", "jaccard_ppm")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q245_bitmap_distinct" -> (q245BitmapDistinct _),
    "q246_sliding_distinct" -> (q246SlidingDistinct _),
    "q247_bitmap_retention" -> (q247BitmapRetention _),
    "q249_audience_overlap" -> (q249AudienceOverlap _),
    "q181_holt_winters" -> (q181HoltWinters _),
    "q188_seasonal_strength" -> (q188SeasonalStrength _),
    "q147_mutual_info" -> (q147MutualInfo _),
    "q146_holt" -> (q146Holt _),
    "q145_column_entropy" -> (q145ColumnEntropy _),
    "q144_skew_profile" -> (q144SkewProfile _),
    "q143_phrase_search" -> (q143PhraseSearch _),
    "q141_ewma" -> (q141Ewma _),
    "q136_skyline" -> (q136Skyline _),
    "q135_cusum" -> (q135Cusum _),
    "q134_table_constraints" -> (q134TableConstraints _),
    "q110_profile" -> (q110Profile _),
    "q103_pagerank" -> (q103PageRank _),
    "q86_deseasonalize" -> (q86Deseasonalize _),
    "q87_series_corr" -> (q87SeriesCorr _),
    "q88_transitions" -> (q88Transitions _),
    "q89_bloom_join" -> (q89BloomJoin _),
    "q90_tfidf" -> ((s: SparkSession, d: String) => q90Tfidf(s, d)),
    "q91_scd2" -> (q91Scd2 _),
    "q92_chi_square" -> (q92ChiSquare _),
    "q93_merge_upsert" -> (q93MergeUpsert _),
    "q94_grouping_sets" -> (q94GroupingSets _))

  val oracles: Map[String, String] = Map(
    "q245_bitmap_distinct" ->
      """SELECT event_type,
        | CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_epochs,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_direct,
        | true AS exact
        |FROM events GROUP BY event_type""".stripMargin,
    "q249_audience_overlap" ->
      s"""WITH e AS (
         | SELECT DISTINCT user_id,
         |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
         | FROM events),
         |days AS (SELECT DISTINCT day FROM e),
         |pairs AS (
         | SELECT a.day AS d1, b.day AS d2
         | FROM days a JOIN days b
         |  ON b.day > a.day AND b.day <= a.day + $OverlapMaxLag),
         |inter AS (
         | SELECT p.d1, p.d2, CAST(count(*) AS BIGINT) AS n_both
         | FROM pairs p
         | JOIN e x ON x.day = p.d1
         | JOIN e y ON y.day = p.d2 AND y.user_id = x.user_id
         | GROUP BY 1, 2),
         |sizes AS (SELECT day, CAST(count(*) AS BIGINT) AS n
         |          FROM e GROUP BY 1)
         |SELECT p.d1, p.d2,
         | COALESCE(i.n_both, 0) AS n_both,
         | s1.n + s2.n - COALESCE(i.n_both, 0) AS n_either,
         | COALESCE(i.n_both, 0) * 1000000
         |  // (s1.n + s2.n - COALESCE(i.n_both, 0)) AS jaccard_ppm
         |FROM pairs p
         |LEFT JOIN inter i ON i.d1 = p.d1 AND i.d2 = p.d2
         |JOIN sizes s1 ON s1.day = p.d1
         |JOIN sizes s2 ON s2.day = p.d2""".stripMargin,
    "q247_bitmap_retention" ->
      s"""WITH e AS (
         | SELECT DISTINCT user_id,
         |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
         | FROM events),
         |f AS (SELECT user_id, min(day) AS c FROM e GROUP BY 1),
         |cohort AS (SELECT c, CAST(count(*) AS BIGINT) AS n_cohort
         |           FROM f GROUP BY 1),
         |r AS (
         | SELECT f.c, e.day - f.c AS a,
         |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_retained
         | FROM f JOIN e USING (user_id)
         | WHERE e.day - f.c BETWEEN 0 AND $RetentionMaxAge
         | GROUP BY 1, 2)
         |SELECT r.c, r.a, cohort.n_cohort, r.n_retained
         |FROM r JOIN cohort USING (c)""".stripMargin,
    "q246_sliding_distinct" ->
      s"""WITH e AS (
         | SELECT event_type, user_id,
         |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
         | FROM events),
         |days AS (SELECT DISTINCT day AS d FROM e)
         |SELECT e.event_type, days.d,
         | CAST(count(DISTINCT e.day) AS BIGINT) AS n_days_present,
         | CAST(count(DISTINCT e.user_id) AS BIGINT) AS distinct_trailing
         |FROM days JOIN e
         | ON e.day BETWEEN days.d - ${SlidingDays - 1} AND days.d
         |GROUP BY 1, 2""".stripMargin,
    "q147_mutual_info" ->
      """WITH e AS (
        | SELECT event_type AS a,
        |  'R' || CAST(user_id % 5 AS VARCHAR) AS b
        | FROM events),
        |ha AS (
        | SELECT CAST(sum(c) AS BIGINT) AS n,
        |  CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0, 0) AS BIGINT))
        |    AS BIGINT) AS sa
        | FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM e GROUP BY a)),
        |hb AS (
        | SELECT CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0, 0) AS BIGINT))
        |    AS BIGINT) AS sb
        | FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM e GROUP BY b)),
        |hab AS (
        | SELECT CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0, 0) AS BIGINT))
        |    AS BIGINT) AS sab
        | FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM e GROUP BY a, b))
        |SELECT n,
        | CAST(round(ln(CAST(n AS DOUBLE)) * 1000000.0, 0) AS BIGINT) - (sa // n)
        |  AS h_a_micro,
        | CAST(round(ln(CAST(n AS DOUBLE)) * 1000000.0, 0) AS BIGINT) - (sb // n)
        |  AS h_b_micro,
        | CAST(round(ln(CAST(n AS DOUBLE)) * 1000000.0, 0) AS BIGINT) - (sab // n)
        |  AS h_joint_micro,
        | CAST(round(ln(CAST(n AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
        |  - (sa // n) - (sb // n) + (sab // n) AS mi_micro
        |FROM ha CROSS JOIN hb CROSS JOIN hab""".stripMargin,
    "q188_seasonal_strength" ->
      """WITH daily AS (
        | SELECT CAST(ts AS DATE) AS d, event_type,
        |  CAST(count(*) AS BIGINT) AS cnt
        | FROM events GROUP BY 1, 2),
        |dd AS (SELECT event_type, cnt, dayofweek(d) + 1 AS dow FROM daily),
        |means AS (
        | SELECT event_type, dow,
        |  CAST((sum(cnt) * 1000000) // count(*) AS BIGINT) AS dm
        | FROM dd GROUP BY 1, 2),
        |r AS (
        | SELECT dd.event_type, dd.cnt,
        |  CAST(dd.cnt * 1000000 - m.dm AS HUGEINT) AS r
        | FROM dd JOIN means m ON dd.event_type = m.event_type AND dd.dow = m.dow),
        |agg AS (
        | SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cnt) AS BIGINT) AS sc,
        |  CAST(sum(cnt * cnt) AS BIGINT) AS scc,
        |  CAST(sum(r) AS HUGEINT) AS sr,
        |  CAST(sum(r * r) AS HUGEINT) AS srr
        | FROM r GROUP BY 1)
        |SELECT event_type, n,
        | CASE WHEN n * scc - sc * sc = 0 THEN NULL
        |  ELSE CAST(greatest(CAST(0 AS HUGEINT),
        |   1000000 - (CAST(n AS HUGEINT) * srr - sr * sr) * 1000000
        |     // ((CAST(n AS HUGEINT) * scc - CAST(sc AS HUGEINT) * sc) * 1000000000000))
        |   AS BIGINT) END AS strength_ppm
        |FROM agg""".stripMargin,
    "q181_holt_winters" ->
      """WITH RECURSIVE daily AS (
        | SELECT CAST(ts AS DATE) AS d,
        |  'R' || CAST(user_id % 5 AS VARCHAR) AS region,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM events GROUP BY 1, 2),
        |days AS (SELECT DISTINCT d FROM daily),
        |regions AS (SELECT DISTINCT region FROM daily),
        |dense AS (
        | SELECT r.region, dd.d, COALESCE(x.n, 0) AS n,
        |  CAST(row_number() OVER (PARTITION BY r.region ORDER BY dd.d) AS BIGINT) AS rn
        | FROM regions r CROSS JOIN days dd
        | LEFT JOIN daily x ON x.region = r.region AND x.d = dd.d),
        |init AS (
        | SELECT region, CAST(sum(n) AS DOUBLE) / 7.0 AS l0,
        |  list(CAST(n AS DOUBLE) ORDER BY rn) AS y7
        | FROM dense WHERE rn <= 7 GROUP BY region),
        |rec AS (
        | SELECT region, CAST(7 AS BIGINT) AS rn, CAST(NULL AS DATE) AS d,
        |  CAST(NULL AS BIGINT) AS n, l0 AS l, CAST(0.0 AS DOUBLE) AS b,
        |  CAST(NULL AS DOUBLE) AS s, CAST(NULL AS DOUBLE) AS f,
        |  y7[1] - l0 AS c1, y7[2] - l0 AS c2, y7[3] - l0 AS c3,
        |  y7[4] - l0 AS c4, y7[5] - l0 AS c5, y7[6] - l0 AS c6,
        |  y7[7] - l0 AS c7
        | FROM init
        | UNION ALL
        | SELECT o.region, o.rn, o.d, o.n,
        |  ((CAST(o.n AS DOUBLE) - r.c1) + (r.l + r.b)) / 2.0 AS l,
        |  ((((CAST(o.n AS DOUBLE) - r.c1) + (r.l + r.b)) / 2.0 - r.l) + r.b) / 2.0 AS b,
        |  ((CAST(o.n AS DOUBLE) - ((CAST(o.n AS DOUBLE) - r.c1) + (r.l + r.b)) / 2.0) + r.c1) / 2.0 AS s,
        |  ((CAST(o.n AS DOUBLE) - r.c1) + (r.l + r.b)) / 2.0
        |   + ((((CAST(o.n AS DOUBLE) - r.c1) + (r.l + r.b)) / 2.0 - r.l) + r.b) / 2.0
        |   + r.c2 AS f,
        |  r.c2 AS c1, r.c3 AS c2, r.c4 AS c3, r.c5 AS c4, r.c6 AS c5,
        |  r.c7 AS c6,
        |  ((CAST(o.n AS DOUBLE) - ((CAST(o.n AS DOUBLE) - r.c1) + (r.l + r.b)) / 2.0) + r.c1) / 2.0 AS c7
        | FROM dense o JOIN rec r ON o.region = r.region AND o.rn = r.rn + 1)
        |SELECT region, strftime(d, '%Y-%m-%d') AS date, n,
        | CAST(round(l * 1000000.0, 0) AS BIGINT) AS level_micro,
        | CAST(round(b * 1000000.0, 0) AS BIGINT) AS trend_micro,
        | CAST(round(s * 1000000.0, 0) AS BIGINT) AS seasonal_micro,
        | CAST(round(f * 1000000.0, 0) AS BIGINT) AS forecast_micro
        |FROM rec WHERE rn >= 8""".stripMargin,
    "q146_holt" ->
      """WITH RECURSIVE daily AS (
        | SELECT CAST(ts AS DATE) AS d,
        |  'R' || CAST(user_id % 5 AS VARCHAR) AS region,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM events GROUP BY 1, 2),
        |o AS (
        | SELECT d, region, n,
        |  CAST(row_number() OVER (PARTITION BY region ORDER BY d) AS BIGINT) AS rn
        | FROM daily),
        |r AS (
        | SELECT region, rn, d, n, CAST(n AS DOUBLE) AS l,
        |  CAST(0.0 AS DOUBLE) AS b
        | FROM o WHERE rn = 1
        | UNION ALL
        | SELECT o.region, o.rn, o.d, o.n,
        |  (CAST(o.n AS DOUBLE) + r.l + r.b) / 2.0,
        |  (((CAST(o.n AS DOUBLE) + r.l + r.b) / 2.0) - r.l + r.b) / 2.0
        | FROM o JOIN r ON o.region = r.region AND o.rn = r.rn + 1)
        |SELECT region, strftime(d, '%Y-%m-%d') AS date, n,
        | CAST(round(l * 1000000.0, 0) AS BIGINT) AS level_micro,
        | CAST(round(b * 1000000.0, 0) AS BIGINT) AS trend_micro,
        | CAST(round((l + b) * 1000000.0, 0) AS BIGINT) AS forecast_micro
        |FROM r""".stripMargin,
    "q145_column_entropy" ->
      """WITH h1 AS (SELECT event_type AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |h2 AS (SELECT user_id AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |h3 AS (SELECT CAST(ts AS DATE) AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |a1 AS (SELECT 'event_type' AS col_name, CAST(sum(c) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0, 0) AS BIGINT))
        |    AS BIGINT) AS s FROM h1),
        |a2 AS (SELECT 'user_id' AS col_name, CAST(sum(c) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0, 0) AS BIGINT))
        |    AS BIGINT) AS s FROM h2),
        |a3 AS (SELECT 'day' AS col_name, CAST(sum(c) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0, 0) AS BIGINT))
        |    AS BIGINT) AS s FROM h3)
        |SELECT col_name, n, n_distinct,
        | CAST(round(ln(CAST(n AS DOUBLE)) * 1000000.0, 0) AS BIGINT) - (s // n)
        |  AS entropy_micro
        |FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2
        |      UNION ALL SELECT * FROM a3)""".stripMargin,
    "q144_skew_profile" ->
      """WITH c AS (
        | SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
        | FROM events GROUP BY 1),
        |s AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(cnt) AS BIGINT) AS total,
        |  CAST(max(cnt) AS BIGINT) AS max_cnt
        | FROM c),
        |t AS (SELECT user_id, cnt FROM c ORDER BY cnt DESC, user_id LIMIT 10)
        |SELECT user_id, cnt,
        | CAST(CAST(cnt AS HUGEINT) * 1000000 // total AS BIGINT) AS share_ppm,
        | n_keys, max_cnt,
        | CAST(CAST(max_cnt AS HUGEINT) * n_keys * 1000000 // total AS BIGINT) AS skew_ratio_micro
        |FROM t CROSS JOIN s""".stripMargin,
    "q143_phrase_search" ->
      s"""WITH p AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |  generate_subscripts(string_split(text, ' '), 1) AS pos
        | FROM documents),
        |a AS (SELECT doc_id, pos FROM p WHERE tok = '$PhraseFirst'),
        |b AS (SELECT doc_id, pos - 1 AS pos FROM p WHERE tok = '$PhraseSecond')
        |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_matches,
        | CAST(min(a.pos) AS BIGINT) AS first_pos
        |FROM a JOIN b USING (doc_id, pos)
        |GROUP BY a.doc_id""".stripMargin,
    "q141_ewma" ->
      """WITH RECURSIVE daily AS (
        | SELECT CAST(ts AS DATE) AS d,
        |  'R' || CAST(user_id % 5 AS VARCHAR) AS region,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM events GROUP BY 1, 2),
        |o AS (
        | SELECT d, region, n,
        |  CAST(row_number() OVER (PARTITION BY region ORDER BY d) AS BIGINT) AS rn
        | FROM daily),
        |r AS (
        | SELECT region, rn, d, n, CAST(n AS DOUBLE) AS s FROM o WHERE rn = 1
        | UNION ALL
        | SELECT o.region, o.rn, o.d, o.n, (r.s + CAST(o.n AS DOUBLE)) / 2.0
        | FROM o JOIN r ON o.region = r.region AND o.rn = r.rn + 1)
        |SELECT region, strftime(d, '%Y-%m-%d') AS date, n,
        | CAST(round(s * 1000000.0, 0) AS BIGINT) AS ewma_micro
        |FROM r""".stripMargin,
    "q136_skyline" ->
      """SELECT a.p_partkey, a.p_name,
        | CAST(round(a.p_retailprice * 100, 0) AS BIGINT) AS price_cents,
        | a.p_size
        |FROM part a WHERE NOT EXISTS (
        | SELECT 1 FROM part b
        | WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        |  AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))""".stripMargin,
    "q135_cusum" ->
      s"""WITH daily AS (
        | SELECT CAST(ts AS DATE) AS date,
        |  'R' || CAST(user_id % 5 AS VARCHAR) AS region,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM events GROUP BY 1, 2),
        |w AS (
        | SELECT date, region, n,
        |  CAST(count(*) OVER (PARTITION BY region) AS BIGINT) AS nn,
        |  CAST(sum(n) OVER (PARTITION BY region) AS BIGINT) AS s
        | FROM daily),
        |p AS (
        | SELECT date, region, n, nn,
        |  CAST(sum(nn * n - s) OVER (PARTITION BY region ORDER BY date
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS q
        | FROM w),
        |c AS (
        | SELECT date, region, n, nn,
        |  q - least(min(q) OVER (PARTITION BY region ORDER BY date
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS cusum_scaled
        | FROM p)
        |SELECT strftime(date, '%Y-%m-%d') AS date, region, n,
        | CAST(cusum_scaled AS BIGINT) AS cusum_scaled,
        | cusum_scaled > nn * $CusumH AS flag
        |FROM c""".stripMargin,
    "q134_table_constraints" ->
      """WITH m AS (
        | SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(l_orderkey) AS BIGINT) AS nk,
        |  CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS uq,
        |  CAST(sum(CASE WHEN l_quantity < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negq,
        |  CAST(sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS badflag
        | FROM lineitem),
        |o AS (
        | SELECT CAST(count(*) AS BIGINT) AS orphans FROM lineitem l
        | WHERE NOT EXISTS (SELECT 1 FROM orders x WHERE x.o_orderkey = l.l_orderkey)),
        |rules AS (
        | SELECT 'row_count_positive' AS rule,
        |  CAST(CASE WHEN n > 0 THEN 0 ELSE 1 END AS BIGINT) AS violations FROM m
        | UNION ALL SELECT 'orderkey_complete', n - nk FROM m
        | UNION ALL SELECT 'line_id_unique', n - uq FROM m
        | UNION ALL SELECT 'quantity_non_negative', negq FROM m
        | UNION ALL SELECT 'returnflag_in_domain', badflag FROM m
        | UNION ALL SELECT 'orderkey_references_orders', orphans FROM o)
        |SELECT rule, violations, violations = 0 AS pass FROM rules""".stripMargin,
    "q110_profile" -> profileOracle,
    "q103_pagerank" -> pagerankOracle(PrIters, PrDamping, PrScale),
    "q86_deseasonalize" ->
      """WITH daily AS (
        | SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS cnt
        | FROM events GROUP BY 1, 2),
        |dw AS (SELECT *, CAST(dayofweek(d) + 1 AS INTEGER) AS dow FROM daily),
        |m AS (
        | SELECT event_type, dow,
        |  CAST((sum(cnt) * 1000000) // count(*) AS BIGINT) AS dow_mean_micro
        | FROM dw GROUP BY 1, 2)
        |SELECT dw.event_type, strftime(d, '%Y-%m-%d') AS day, dow, cnt,
        | dow_mean_micro,
        | CAST(cnt * 1000000 - dow_mean_micro AS BIGINT) AS residual_micro
        |FROM dw JOIN m USING (event_type, dow)""".stripMargin,
    "q87_series_corr" ->
      """WITH daily AS (
        | SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS cnt
        | FROM events GROUP BY 1, 2),
        |totals AS (SELECT d, CAST(sum(cnt) AS BIGINT) AS tot FROM daily GROUP BY d),
        |types AS (SELECT DISTINCT event_type FROM daily),
        |dense AS (
        | SELECT t.event_type, tt.tot, COALESCE(dd.cnt, 0) AS cnt
        | FROM types t CROSS JOIN totals tt
        | LEFT JOIN daily dd ON dd.event_type = t.event_type AND dd.d = tt.d),
        |a AS (
        | SELECT event_type, count(*) AS n,
        |  CAST(sum(cnt) AS BIGINT) AS sx, CAST(sum(tot) AS BIGINT) AS sy,
        |  CAST(sum(cnt * cnt) AS BIGINT) AS sxx,
        |  CAST(sum(tot * tot) AS BIGINT) AS syy,
        |  CAST(sum(cnt * tot) AS BIGINT) AS sxy
        | FROM dense GROUP BY event_type)
        |SELECT event_type, n,
        | CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0 THEN NULL
        |  ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |   (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |    sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
        | END AS pearson_r
        |FROM a""".stripMargin,
    "q88_transitions" ->
      """WITH e AS (
        | SELECT user_id, event_id, event_type,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |b AS (
        | SELECT lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |   AS prev, event_type AS curr FROM e),
        |c AS (SELECT prev, curr, count(*) AS cnt FROM b
        |      WHERE prev IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev, CAST(sum(cnt) AS BIGINT) AS tot FROM c GROUP BY prev)
        |SELECT c.prev, c.curr, c.cnt,
        | CAST((c.cnt * 1000000) // t.tot AS BIGINT) AS prob_micro
        |FROM c JOIN t USING (prev)""".stripMargin,
    "q89_bloom_join" ->
      """SELECT s_suppkey, s_name, count(*) AS items,
        | CAST(sum(CAST(round(l_extendedprice*100.0) AS BIGINT)) AS BIGINT)/100.0 AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_nationkey < 5
        |GROUP BY s_suppkey, s_name""".stripMargin,
    "q90_tfidf" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        | SELECT doc_id, tok, tf, df,
        |  CAST(round(tf * ln((n + 1.0) / (df + 1.0)) * 1000000.0) AS BIGINT)
        |    AS score_micro
        | FROM tf JOIN df USING (tok) CROSS JOIN n)
        |SELECT doc_id, tok, tf, df, score_micro, rk FROM (
        | SELECT *, CAST(row_number() OVER (
        |   PARTITION BY doc_id ORDER BY score_micro DESC, tok) AS INTEGER) AS rk
        | FROM scored) WHERE rk <= 3""".stripMargin,
    "q91_scd2" ->
      """WITH e AS (
        | SELECT user_id, event_id, event_type,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |marked AS (
        | SELECT *, lag(event_type, 1) OVER w AS prev_state FROM e
        | WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |changes AS (
        | SELECT * FROM marked
        | WHERE prev_state IS NULL OR event_type <> prev_state)
        |SELECT user_id,
        | CAST(row_number() OVER w AS INTEGER) AS version,
        | event_type AS state, us AS valid_from_us,
        | lead(us, 1) OVER w AS valid_to_us,
        | CASE WHEN lead(us, 1) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
        |FROM changes
        |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)""".stripMargin,
    "q92_chi_square" ->
      """WITH obs AS (
        | SELECT event_type, CAST(dayofweek(CAST(ts AS DATE)) + 1 AS INTEGER) AS dow,
        |  count(*) AS o
        | FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY 1),
        |ct AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY 1),
        |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
        |cells AS (
        | SELECT o, r, c, n, CAST(o * n - r * c AS DOUBLE) AS d
        | FROM obs JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN nn)
        |SELECT count(*) AS n_cells,
        | CAST((SELECT count(*) FROM rt) - 1 AS BIGINT) *
        |  ((SELECT count(*) FROM ct) - 1) AS dof,
        | CAST(sum(CAST(round(d * d /
        |   (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
        |   * 1000000.0) AS BIGINT)) AS BIGINT) / 1000000.0 AS chi2
        |FROM cells""".stripMargin,
    "q93_merge_upsert" ->
      """WITH e AS (
        | SELECT user_id, event_type, value,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us, CAST(ts AS DATE) AS d
        | FROM events),
        |t AS (
        | SELECT user_id, arg_max(event_type, us) AS state,
        |  arg_max(value, us) AS value, max(us) AS us
        | FROM e WHERE d < DATE '2024-01-21' GROUP BY user_id),
        |s AS (
        | SELECT user_id, arg_max(event_type, us) AS state,
        |  arg_max(value, us) AS value, max(us) AS us
        | FROM e WHERE d >= DATE '2024-01-21' GROUP BY user_id)
        |SELECT COALESCE(t.user_id, s.user_id) AS user_id,
        | COALESCE(s.state, t.state) AS state,
        | COALESCE(s.value, t.value) AS value,
        | COALESCE(s.us, t.us) AS last_us,
        | CASE WHEN s.us IS NOT NULL AND t.us IS NOT NULL THEN 'update'
        |      WHEN s.us IS NOT NULL THEN 'insert' ELSE 'keep' END AS action
        |FROM t FULL OUTER JOIN s ON t.user_id = s.user_id
        |WHERE NOT (s.state IS NOT NULL AND s.state = 'error')""".stripMargin,
    "q94_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        | sum(l_quantity) AS sum_qty, count(*) AS cnt,
        | CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        | (l_returnflag), ())""".stripMargin)
}
