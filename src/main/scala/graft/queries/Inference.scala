package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Lineage.CutOps
import graft.sources.Tables

/** Statistical-inference / series-diagnostics family over the events,
  * customer, and documents tables: OLS trend fitting, robust (MAD)
  * outlier detection, least-squares changepoint location, epidemic
  * growth-rate estimation, conversion attribution, Fellegi–Sunter
  * record-linkage scoring, and snapshot dataset diffing. The reference
  * engine's outbreak domain motivates the series half (trend, change-
  * point, growth rate are the standard epidemic-curve diagnostics next
  * to its detrend/PCA/KMeans pipeline); the linkage/diff half serves
  * the training-data-curation side of the engine.
  *
  * Every query is DuckDB-oracle-checked. The family-wide discipline is
  * the integer-exactness convention from [[Analytics]]: sufficient
  * statistics, medians, and scores are computed in exact integer units
  * (micro-units, ppm, doubled-median units) so partial-aggregation
  * merge order can never drift a result, and doubles appear only in
  * final `round(_, 6)` projections computed from identical integers on
  * both engines.
  */
object Inference {

  /** Event time as whole epoch seconds — cross-engine-stable unit. */
  private def epochS = unix_timestamp(col("ts"))

  // ---------------------------------------------------------------- q162

  /** q162 — per-type OLS trend of the daily event-count series: slope,
    * intercept, and R² of `count ~ day_index`, the "is this series
    * rising and how fast" primitive under every outbreak dashboard
    * (the linear complement of q146's Holt smoothing).
    *
    * Scale shape: one map-side-combining groupBy builds the daily
    * histogram; a second reduces each type's series to SIX integer
    * sufficient statistics (n, Σx, Σy, Σxx, Σxy, Σyy), so the shuffle
    * carries 6 longs per type regardless of series length — the
    * closed-form OLS never materializes a design matrix. Day indices
    * are anchored at the GLOBAL min day (one broadcast scalar) so x is
    * a small exact integer; every statistic stays in Long far past
    * 100 TB volumes (x ≤ days, y = daily counts).
    *
    * Slope/intercept/R² are closed-form ratios of the integer stats,
    * rounded to 6dp from identical integers on both engines. */
  def q162LinregTrend(s: SparkSession, dir: String): DataFrame =
    q162LinregTrendOn(Tables.events(s, dir))

  /** [[q162LinregTrend]] over any (ts, event_type) frame — exposed for
    * the planted-perfect-line spec. */
  def q162LinregTrendOn(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(to_date(col("ts")).as("d"), col("event_type"))
      .agg(count(lit(1)).as("y"))
    val d0 = daily.agg(min("d").as("d0"))
    val xy = daily.crossJoin(broadcast(d0))
      .select(col("event_type"),
        datediff(col("d"), col("d0")).cast("long").as("x"), col("y"))
    val stats = xy.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"))
    val varx = col("n") * col("sxx") - col("sx") * col("sx")
    val vary = col("n") * col("syy") - col("sy") * col("sy")
    val cov  = col("n") * col("sxy") - col("sx") * col("sy")
    stats.select(col("event_type"), col("n"),
      when(varx === 0L, lit(null).cast("double"))
        .otherwise(round(cov.cast("double") / varx.cast("double"), 6))
        .as("slope"),
      when(varx === 0L, lit(null).cast("double"))
        .otherwise(round(
          (col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double") /
            varx.cast("double"), 6))
        .as("intercept"),
      when(varx === 0L || vary === 0L, lit(null).cast("double"))
        .otherwise(round(
          (cov * cov).cast("double") / (varx * vary).cast("double"), 6))
        .as("r2"))
  }

  // ---------------------------------------------------------------- q163

  /** q163 — robust outlier profile per event type: median, MAD, and the
    * count of values beyond the standard 3·1.4826·MAD fence. The
    * median/MAD pair is the robust twin of q141's EWMA mean/stddev —
    * immune to the very outliers it counts.
    *
    * Exactness: `value` snaps to integer micro-units once, then every
    * derived quantity stays integer — medians of integers are either
    * whole or half-integers, so they are carried DOUBLED (med2 =
    * 2·median, mad4 = 2·median(2·|dev|) = 4·MAD) and the fence becomes
    * the pure-integer predicate `2·dev2·10⁴ > 44478·mad4` (3·1.4826 =
    * 4.4478). No float compare anywhere, so both engines flag the
    * identical value set.
    *
    * Scale shape: exact medians require a per-group sort — this query
    * accepts ONE shuffle keyed by event_type (bounded alphabet) where
    * each group sorts locally; for unbounded-cardinality keys the
    * engine's GK sketch (q48's exactness-gated `percentile_approx`)
    * is the scale path. */
  def q163MadOutliers(s: SparkSession, dir: String): DataFrame =
    q163MadOutliersOn(Tables.events(s, dir))

  /** [[q163MadOutliers]] over any (event_type, value) frame — exposed
    * for the known-median/planted-outlier spec. */
  def q163MadOutliersOn(events: DataFrame): DataFrame = {
    val v = events.select(col("event_type"),
      round(col("value") * 1e6, 0).cast("long").as("v"))
    val med = v.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      (expr("percentile(v, 0.5)") * 2).cast("long").as("med2"))
    val dev = v.join(broadcast(med), "event_type")
      .withColumn("dev2", abs(col("v") * 2 - col("med2")))
    val mad = dev.groupBy("event_type").agg(
      (expr("percentile(dev2, 0.5)") * 2).cast("long").as("mad4"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"), col("n"), col("med2").as("med2_micro"),
        col("mad4").as("mad4_micro"))
      .agg(sum(when(col("dev2") * 20000L > col("mad4") * 44478L, 1L)
        .otherwise(0L)).as("n_outliers"))
  }

  // ---------------------------------------------------------------- q164

  /** q164 — least-squares changepoint: for each type's daily-count
    * series, the split day maximizing the between-segment sum-of-
    * squares gain (the k=1 case of binary segmentation, and the
    * offline twin of q135's CUSUM monitor — CUSUM says "a shift
    * happened", this says "here").
    *
    * The objective f(k) = S_l²/n_l + S_r²/n_r is evaluated for every
    * split from ONE cumulative-sum window pass (prefix sums turn the
    * O(n²) segment-cost scan into O(n)), in `decimal(38,0)` integer
    * arithmetic: at 100 TB a hot type's S_l² overflows Long around
    * 3e9 total events, exactly the regime the audit targets (the q144
    * widening precedent). Both engines floor-divide the same decimal
    * products, so the argmax — ties broken on earliest day — is
    * bit-identical. */
  def q164Changepoint(s: SparkSession, dir: String): DataFrame =
    q164ChangepointOn(Tables.events(s, dir))

  /** [[q164Changepoint]] over any (ts, event_type) frame — exposed for
    * the planted-step-series spec. */
  def q164ChangepointOn(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("y"))
    val byType = Window.partitionBy("event_type").orderBy("d")
    val cum = daily
      .withColumn("k", row_number().over(byType).cast("long"))
      .withColumn("sl", sum("y").over(
        byType.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy("event_type")).cast("long"))
      .withColumn("stot", sum("y").over(Window.partitionBy("event_type")))
      .where(col("k") < col("n"))
    val scored = cum.select(col("event_type"), col("d"), col("n"),
      expr("""cast(
          (cast(sl as decimal(38,0)) * sl * (n - k) +
           cast(stot - sl as decimal(38,0)) * (stot - sl) * k) * 1000000
          div (k * (n - k)) as bigint)""").as("score_micro"),
      expr("cast(cast(stot as decimal(38,0)) * stot * 1000000 div n as bigint)")
        .as("base_micro"))
    val best = Window.partitionBy("event_type")
      .orderBy(col("score_micro").desc, col("d").asc)
    scored.withColumn("rk", row_number().over(best))
      .where(col("rk") === 1)
      .select(col("event_type"), col("n").as("n_days"),
        date_format(col("d"), "yyyy-MM-dd").as("split_day"),
        (col("score_micro") - col("base_micro")).as("gain_micro"))
  }

  // ---------------------------------------------------------------- q165

  /** q165 — epidemic growth factor: per type and day, the ratio of the
    * trailing 7-day event count to the 7 days before it — THE headline
    * number of outbreak surveillance (Rt's week-over-week proxy), and
    * the rolling counterpart of q162's whole-series slope.
    *
    * Days with no events count as zero, so the series is densified
    * first (types × days, the q87 broadcast-cross-join shape — day
    * count is bounded by calendar time, never by data volume). Both
    * 7-day windows come from one ordered window pass; the ratio is
    * exact integer ppm. Rows where the 14-day lookback is incomplete
    * are excluded rather than emitted with a partial denominator. */
  def q165GrowthRate(s: SparkSession, dir: String): DataFrame =
    q165GrowthRateOn(Tables.events(s, dir))

  /** [[q165GrowthRate]] over any (ts, event_type) frame — exposed for
    * the planted-doubling spec. */
  def q165GrowthRateOn(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt"))
    val days = daily.select("d").distinct()
    val types = daily.select("event_type").distinct()
    val dense = broadcast(types).crossJoin(days)
      .join(daily, Seq("event_type", "d"), "left")
      .select(col("event_type"), col("d"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val byType = Window.partitionBy("event_type").orderBy("d")
    dense
      .withColumn("idx", row_number().over(byType))
      .withColumn("cur7", sum("cnt").over(byType.rowsBetween(-6, 0)))
      .withColumn("prev7", sum("cnt").over(byType.rowsBetween(-13, -7)))
      .where(col("idx") >= 14 && col("prev7") > 0L)
      .select(col("event_type"), date_format(col("d"), "yyyy-MM-dd").as("d"),
        col("cur7"), col("prev7"),
        expr("cast(cast(cur7 as decimal(38,0)) * 1000000 div prev7 as bigint)")
          .as("growth_ppm"))
  }

  // ---------------------------------------------------------------- q166

  /** q166 — conversion attribution: every purchase credits (a) the
    * FIRST event type of its session — first-touch, reusing q71's
    * 30-minute-gap sessionization — and (b) the LAST non-purchase
    * event within the trailing 30 minutes — last-touch. The two
    * credit columns per type are the input to any marketing-mix /
    * campaign-weighting model downstream of the q72 funnel.
    *
    * Scale shape: both touches come from ONE window pass over the
    * user-partitioned ordered stream (`last(..., ignoreNulls)` over
    * an unbounded-preceding frame — no self-join against history),
    * then two tiny per-type aggregations outer-merge. The only wide
    * exchange is the user_id partitioning every behavioral query
    * shares. Ties are impossible by construction: ordering is on
    * (es, event_id) and event_id is unique. */
  def q166Attribution(s: SparkSession, dir: String): DataFrame =
    q166AttributionOn(Tables.events(s, dir))

  /** [[q166Attribution]] over any (user_id, event_id, event_type, ts)
    * frame — exposed for the hand-built-session spec. */
  def q166AttributionOn(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("es", "event_id")
    val e = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        epochS.as("es"))
      .withColumn("new_sess",
        when(col("es") - lag("es", 1).over(byUser) > 1800L, 1L)
          .otherwise(lit(0L)))
      .withColumn("sidx", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("first_type", first("event_type").over(
        Window.partitionBy("user_id", "sidx").orderBy("es", "event_id")))
      .withColumn("lt", last(
        when(col("event_type") =!= "purchase",
          struct(col("es").as("les"), col("event_type").as("ltype"))),
        ignoreNulls = true)
        .over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("first_type"),
        when(col("lt").isNotNull && col("lt.les") >= col("es") - 1800L,
          col("lt.ltype")).as("last_type"))
    val ft = purchases.groupBy(col("first_type").as("attributed_type"))
      .agg(count(lit(1)).as("n_first_touch"))
    val lt = purchases.where(col("last_type").isNotNull)
      .groupBy(col("last_type").as("attributed_type"))
      .agg(count(lit(1)).as("n_last_touch"))
    ft.join(lt, Seq("attributed_type"), "full_outer")
      .select(col("attributed_type"),
        coalesce(col("n_first_touch"), lit(0L)).as("n_first_touch"),
        coalesce(col("n_last_touch"), lit(0L)).as("n_last_touch"))
  }

  // ---------------------------------------------------------------- q167

  /** Fellegi–Sunter field weights in integer micro-log-units
    * (`round(ln(m/u)·10⁶)` for fixed published m/u rates) — literal
    * constants so both engines sum identical integers. Fields:
    * market-segment agreement (m=.9, u=.2), account-balance within 50
    * (m=.8, u=.05), custkey within 100 (m=.7, u=.3). */
  private val SegAgree = 1504077L;  private val SegDis  = -2079442L
  private val BalAgree = 2772589L;  private val BalDis  = -1558145L
  private val KeyAgree = 847298L;   private val KeyDis  = -847298L
  private val LinkThreshold = 3000000L

  /** q167 — probabilistic record linkage (Fellegi & Sunter 1969): score
    * every within-block customer pair by summed agreement/disagreement
    * log-weights and classify link / possible / non-link. The
    * probabilistic upgrade of q160's sorted-neighborhood edit-distance
    * pass: same blocking discipline, calibrated evidence instead of a
    * raw distance.
    *
    * Scale shape: candidate generation is a self-equi-join on the
    * blocking key (nation) — never all-pairs; at 100 TB the blocking
    * key is the audit's first knob and q144's skew profile the second
    * (a hot block is exactly a hot join key, which salting splits).
    * Scoring is embarrassingly parallel integer addition;
    * the global decision histogram is a 3-number broadcast. Output is
    * the top-50 pairs (deterministic order) with the histogram
    * attached — the reviewer-queue slice, not the full pair set. */
  def q167FellegiSunter(s: SparkSession, dir: String): DataFrame =
    q167FellegiSunterOn(Tables.customer(s, dir))

  /** [[q167FellegiSunter]] over any customer-shaped frame — exposed for
    * the hand-scored-pair spec. */
  /** The full within-block scored/classified pair set — the core q167
    * slices its reviewer queue from and q190's entity resolution
    * consumes (the `link` band becomes the merge edge set). */
  private[queries] def fsScoredPairs(customer: DataFrame): DataFrame = {
    val c = customer.select(
      col("c_custkey").as("k"), col("c_nationkey").as("nat"),
      col("c_mktsegment").as("seg"), col("c_acctbal").as("bal"))
    val a = c.toDF("a_id", "nat", "a_seg", "a_bal")
    val b = c.toDF("b_id", "nat", "b_seg", "b_bal")
    a.join(b, "nat").where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (when(col("a_seg") === col("b_seg"), SegAgree).otherwise(SegDis) +
         when(abs(col("a_bal") - col("b_bal")) <= 50.0d, BalAgree)
           .otherwise(BalDis) +
         when(col("b_id") - col("a_id") <= 100L, KeyAgree).otherwise(KeyDis))
          .as("score_micro"))
      .withColumn("decision",
        when(col("score_micro") >= LinkThreshold, "link")
          .when(col("score_micro") >= 0L, "possible")
          .otherwise("nonlink"))
  }

  def q167FellegiSunterOn(customer: DataFrame): DataFrame = {
    val scored = fsScoredPairs(customer)
    val hist = scored.agg(
      sum(when(col("decision") === "link", 1L).otherwise(0L)).as("n_link"),
      sum(when(col("decision") === "possible", 1L).otherwise(0L))
        .as("n_possible"),
      sum(when(col("decision") === "nonlink", 1L).otherwise(0L))
        .as("n_nonlink"))
    scored.orderBy(col("score_micro").desc, col("a_id"), col("b_id"))
      .limit(50)
      .crossJoin(broadcast(hist))
  }

  // ---------------------------------------------------------------- q168

  /** q168 — snapshot dataset diff: given two corpus snapshots, the
    * added / removed / changed / same histogram per source — the
    * audit a training-data pipeline runs between crawl refreshes
    * before re-deduplicating (and the batch complement of q80's CDC
    * snapshot reconstruction, which replays row history instead of
    * comparing materialized states).
    *
    * Snapshots are derived deterministically from the base documents
    * table (drop-by-modulus + an in-place edit on a third modulus) so
    * both engines diff identical inputs. The diff itself is the scale
    * pattern: full outer join on the key carrying only (key, source,
    * 128-bit content digest) — 24-ish bytes a row, never the text —
    * then a tiny histogram aggregation. Digest compare (md5) detects
    * in-place edits that row-count reconciliation would miss. */
  def q168DatasetDiff(s: SparkSession, dir: String): DataFrame =
    q168DatasetDiffOn(Tables.documents(s, dir))

  /** [[q168DatasetDiff]] over any (doc_id, source, text) frame —
    * exposed for the hand-computed-statuses spec. */
  def q168DatasetDiffOn(documents: DataFrame): DataFrame = {
    val docs = documents
      .select(col("doc_id"), col("source"), col("text"))
    val snapA = docs.where(col("doc_id") % 7 =!= 0L)
      .select(col("doc_id"), col("source"), md5(col("text")).as("dig_a"))
    val snapB = docs.where(col("doc_id") % 5 =!= 0L)
      .select(col("doc_id"), col("source").as("source_b"),
        md5(when(col("doc_id") % 11 === 0L, concat(col("text"), lit(" v2")))
          .otherwise(col("text"))).as("dig_b"))
    snapA.join(snapB, Seq("doc_id"), "full_outer")
      .select(coalesce(col("source"), col("source_b")).as("source"),
        when(col("dig_a").isNull, "added")
          .when(col("dig_b").isNull, "removed")
          .when(col("dig_a") =!= col("dig_b"), "changed")
          .otherwise("same").as("status"))
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n"))
  }

  // ---------------------------------------------------------------- q170

  /** q170 — forecast backtest: one-step-ahead seasonal-naive-7 and
    * naive-1 forecasts of each type's daily counts, scored by MAE and
    * sMAPE over the evaluation window — the evaluation harness that
    * decides whether q146's Holt smoothing actually beats "same as
    * last week" before anyone ships a forecast.
    *
    * Both metrics are exact integers: MAE in micro-events via one
    * integer division at the end, sMAPE as the mean of per-day
    * floor(|p−a|·2·10⁶ / (p+a)) terms — nested integer divisions,
    * identical on both engines by construction. One window pass
    * produces both forecasts (lag 7 and lag 1 over the dense day
    * grid); rows before day 8 are excluded so every scored day has
    * both predictions defined. */
  def q170Backtest(s: SparkSession, dir: String): DataFrame =
    q170BacktestOn(Tables.events(s, dir))

  /** [[q170Backtest]] over any (ts, event_type) frame — exposed for
    * the hand-scored-forecast spec. */
  def q170BacktestOn(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt"))
    val days = daily.select("d").distinct()
    val types = daily.select("event_type").distinct()
    val dense = broadcast(types).crossJoin(days)
      .join(daily, Seq("event_type", "d"), "left")
      .select(col("event_type"), col("d"),
        coalesce(col("cnt"), lit(0L)).as("a"))
    val byType = Window.partitionBy("event_type").orderBy("d")
    val preds = dense
      .withColumn("idx", row_number().over(byType))
      .withColumn("p_sn7", lag("a", 7).over(byType))
      .withColumn("p_n1", lag("a", 1).over(byType))
      .where(col("idx") >= 8)
    def score(pred: Column, model: String): DataFrame = preds
      .select(col("event_type"), col("a"), pred.as("p"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("p") - col("a"))).as("sae"),
        sum(when(col("p") + col("a") > 0L,
          expr("abs(p - a) * 2000000 div (p + a)")).otherwise(0L))
          .as("ssm"))
      .select(col("event_type"), lit(model).as("model"), col("n_days"),
        expr("sae * 1000000 div n_days").as("mae_micro"),
        expr("ssm div n_days").as("smape_micro"))
    score(col("p_sn7"), "seasonal_naive_7")
      .unionByName(score(col("p_n1"), "naive_1"))
  }

  // ---------------------------------------------------------------- q171

  /** q171 — cross-source quantile calibration: each document's quality
    * proxy (length) mapped to its within-source percentile, then
    * bucketed into deciles per source. Downstream mixture sampling
    * (q78/q126) filters on "top-X% quality" — if that threshold is
    * applied on RAW scores, verbose sources dominate; per-source
    * percentile remap is the standard fix, and this query both
    * computes it and audits it (every source's decile histogram must
    * be near-uniform by construction — visible drift means tied
    * scores, which the tie column exposes).
    *
    * Percentiles are exact integer ppm — `(rank−1)·10⁶ div (n−1)` —
    * never a float percent_rank; one window shuffle keyed on source. */
  def q171QuantileNorm(s: SparkSession, dir: String): DataFrame =
    q171QuantileNormOn(Tables.documents(s, dir))

  /** [[q171QuantileNorm]] over any (doc_id, source, n_chars) frame. */
  def q171QuantileNormOn(documents: DataFrame): DataFrame = {
    val bySrc = Window.partitionBy("source")
      .orderBy(col("n_chars"), col("doc_id"))
    documents.select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rk", row_number().over(bySrc).cast("long"))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy("source")).cast("long"))
      .where(col("n") > 1L)
      .withColumn("pr_ppm", expr("(rk - 1) * 1000000 div (n - 1)"))
      .groupBy(col("source"),
        expr("least(pr_ppm div 100000, 9)").as("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
  }

  // ---------------------------------------------------------------- q172

  /** k-anonymity threshold: classes smaller than this are "at risk". */
  private val KAnon = 5L

  /** q172 — k-anonymity audit (Sweeney 2002): group customers by their
    * quasi-identifier tuple (nation, segment, balance rounded to
    * 1000s) and report the equivalence-class size histogram plus the
    * at-risk mass — rows whose class has fewer than k members, i.e.
    * the re-identifiable slice a release-for-training export must
    * generalize or drop. The privacy-side complement of q63's PII
    * redaction: q63 removes direct identifiers, this measures the
    * QUASI-identifier exposure that survives redaction.
    *
    * Two combinable aggregations (rows → classes → histogram); the
    * only shuffles key on the QI tuple and the class size. At-risk
    * counts ride along via conditional sums — no second pass over the
    * rows. */
  def q172KAnonymity(s: SparkSession, dir: String): DataFrame =
    q172KAnonymityOn(Tables.customer(s, dir))

  /** [[q172KAnonymity]] over any customer-shaped frame. */
  def q172KAnonymityOn(customer: DataFrame): DataFrame = {
    // floor, not cast: double→long CAST truncates in Spark but ROUNDS
    // in DuckDB — floor() is the one bucketing both engines agree on
    val classes = customer.groupBy(
        col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") / 1000.0d).cast("long").as("bal_k"))
      .agg(count(lit(1)).as("class_size"))
    classes.groupBy("class_size")
      .agg(count(lit(1)).as("n_classes"))
      .withColumn("n_rows", col("class_size") * col("n_classes"))
      .withColumn("at_risk", col("class_size") < KAnon)
  }

  // ---------------------------------------------------------------- q173

  /** q173 — corpus concentration audit: per source, the
    * Herfindahl–Hirschman index and Gini coefficient of the document
    * length distribution — "is this source a long tail of small docs
    * or five giants wearing a trenchcoat". The mixture-design signal
    * next to q127's drift and q78's weights: a high-HHI source's
    * token mass rides on a few documents, so doc-level dedup/sampling
    * decisions move its token share wildly.
    *
    * Both indices are exact integers from the classic rank formula:
    * HHI = Σ share_ppm² div 10⁶ (share_ppm is itself an integer div),
    * Gini = (2·Σ rank·x − (n+1)·Σx) · 10⁶ div (n·Σx), ranks assigned
    * by one per-source window (ties broken by doc_id — both engines
    * identically). Products are widened to decimal(38,0): rank·chars
    * at corpus scale overflows Long exactly like the q144/q161
    * products did. */
  def q173Concentration(s: SparkSession, dir: String): DataFrame =
    q173ConcentrationOn(Tables.documents(s, dir))

  /** [[q173Concentration]] over any (doc_id, source, n_chars) frame. */
  def q173ConcentrationOn(documents: DataFrame): DataFrame = {
    val bySrc = Window.partitionBy("source")
      .orderBy(col("n_chars"), col("doc_id"))
    documents.select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rk", row_number().over(bySrc).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        sum(expr("cast(rk as decimal(38,0)) * n_chars")).as("rx"),
        sum(expr("cast(n_chars as decimal(38,0)) * n_chars")).as("xx"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        // Σ(xᵢ/T)² = Σxᵢ²/T² — one decimal division instead of per-doc
        // share rounding (exact, and immune to share_ppm floor bias)
        expr("""cast(xx * 1000000 div
            (cast(total_chars as decimal(38,0)) * total_chars)
            as bigint)""").as("hhi_ppm"),
        expr("""cast((2 * rx - cast(n_docs + 1 as decimal(38,0)) * total_chars)
            * 1000000 div (cast(n_docs as decimal(38,0)) * total_chars)
            as bigint)""").as("gini_micro"))
  }

  // ---------------------------------------------------------------- q169

  /** Peeling rounds for q169 — ≥ the measured peeling depth of the
    * dup-pair graph at every test scale factor (3–4 rounds), with
    * headroom; correctness does NOT depend on this (both engines run
    * the identical finite recurrence), only core-ness certification
    * does, and [[graft.operators.KCore.kcore]] is the certifying
    * variant. */
  private val KcoreRounds = 6

  /** q169 — dense dup-clique cores: the 2-core of the q31 near-dup
    * pair graph, by fixed-round distributed peeling
    * ([[graft.operators.KCore]]). q70's connected components answer
    * "which docs are transitively related"; the k-core answers "which
    * of those sit in DENSELY interlinked template farms" — a chain of
    * borderline matches has no 2-core, a boilerplate clique is all
    * core. Production curation treats the two differently (cores are
    * templates to strip, chains are often false positives).
    *
    * Scale shape: every peeling round is one degree groupBy + one
    * semi-join, all keyed on doc_id — never an all-pairs step, and the
    * edge set only shrinks. The oracle unrolls the same
    * [[KcoreRounds]] rounds in SQL over the same pair CTE, so the
    * result — including each survivor's in-core degree — is
    * bit-identical cross-engine whether or not the peel has converged. */
  def q169DupKcore(s: SparkSession, dir: String): DataFrame = {
    val pairs = PipelineQueries.q31NgramJaccard(s, dir)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    // q31's pairs are canonical by construction (DISTINCT, a_id < b_id)
    // — skip the canonicalization shuffle
    graft.operators.KCore
      .kcoreRounds(pairs, k = 2, rounds = KcoreRounds, assumeCanonical = true)
      .select(col("id").as("doc_id"), col("core_degree"))
  }

  /** Unrolled fixed-round peeling oracle: e0 = the q31 pair edges,
    * each round r computes degrees → keep-set → e(r+1). Plain string
    * concatenation (not stripMargin) because the embedded q31 SQL
    * contains `||` concat lines — the q70-oracle lesson. */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    def degSql(r: Int) =
      s"(SELECT id, CAST(count(*) AS BIGINT) AS deg FROM " +
        s"(SELECT src AS id FROM e$r UNION ALL SELECT dst FROM e$r) " +
        s"GROUP BY 1)"
    // MATERIALIZED is load-bearing: each e(r+1) references e(r) three
    // times (two degree scans + the join), so an inlining planner
    // re-expands the whole chain 3^rounds times — re-opening the
    // parquet per copy ("too many open files" long before slowness)
    val head = "WITH pairs31 AS MATERIALIZED (\n" +
      PipelineQueries.q31PairsSqlOn("documents") + "\n),\n" +
      "e0 AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM pairs31),\n"
    val roundCtes = (0 until rounds).map { r =>
      s"k$r AS MATERIALIZED (SELECT id FROM ${degSql(r)} WHERE deg >= $k),\n" +
        s"e${r + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM e$r e " +
        s"JOIN k$r ka ON e.src = ka.id JOIN k$r kb ON e.dst = kb.id),\n"
    }.mkString
    head + roundCtes +
      s"fin AS (SELECT * FROM ${degSql(rounds)} WHERE deg >= $k)\n" +
      "SELECT id AS doc_id, deg AS core_degree FROM fin"
  }

  // ---------------------------------------------------------------- q174

  /** q174 — trained unigram-LM tokenizer vocabulary
    * ([[graft.operators.UnigramLm]], Kudo 2018 hard-EM): the top-100
    * pieces by final-segmentation count with their micro-nat
    * log-probs. BPE (q107) and unigram-LM are the two production
    * subword algorithms; the corpus is touched in ONE shuffle (word
    * types), EM rounds run over broadcast vocab + word types only.
    * No SQL oracle (iterative EM) — pinned by golden hash and the
    * planted-corpus spec. */
  def q174UnigramVocab(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.operators.UnigramLm
      .train(Tables.documents(s, dir), "text",
        vocabSize = 256, maxPieceLen = 8, iters = 3)
      .toDF()
      .orderBy(col("n").desc, col("piece").asc)
      .limit(100)
  }

  // ---------------------------------------------------------------- q190

  /** q190 — entity resolution end to end: q167's `link` pairs close
    * into entity clusters (star-contraction connected components,
    * [[graft.operators.ConnectedComponents]] — singletons included),
    * and each entity emits ONE golden record by survivorship rules:
    * modal market segment (ties → lexicographic min) and the maximum
    * balance in exact cents. The MDM "merge" step the linkage family
    * was building toward: q160/q167 find the matches, this ships the
    * deduplicated customer master.
    *
    * Scale shape: link pairs come from the blocked q167 join (never
    * all-pairs); the component loop is O(log n) rounds on the pair
    * sliver; survivorship is two combinable aggregations + a
    * WindowGroupLimit modal pick, all keyed on the entity id. */
  def q190EntityGolden(s: SparkSession, dir: String): DataFrame =
    q190EntityGoldenOn(Tables.customer(s, dir))

  /** [[q190EntityGolden]] over any customer-shaped frame. */
  def q190EntityGoldenOn(customer: DataFrame): DataFrame = {
    val links = fsScoredPairs(customer).where(col("decision") === "link")
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val comp = graft.operators.ConnectedComponents.components(links,
      allNodes = Some(customer.select(col("c_custkey").as("id"))))
    val joined = customer.select(col("c_custkey").as("id"),
        col("c_mktsegment").as("seg"),
        round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
      .join(comp, "id")
    val segCnt = joined.groupBy("component", "seg")
      .agg(count(lit(1)).as("c"))
    val wSeg = Window.partitionBy("component")
      .orderBy(col("c").desc, col("seg"))
    val golden = segCnt.withColumn("rn", row_number().over(wSeg))
      .where(col("rn") === 1)
      .select(col("component"), col("seg").as("golden_segment"))
    joined.groupBy("component")
      .agg(count(lit(1)).as("n_members"), max("cents").as("max_bal_cents"))
      .join(golden, "component")
      .select(col("component").as("entity_id"), col("n_members"),
        col("golden_segment"), col("max_bal_cents"))
  }

  // ---------------------------------------------------------------- q187

  /** Fixed MM rounds for [[q187BradleyTerry]] — both engines run the
    * identical finite recurrence (the q103/q169 discipline), so results
    * match bit-for-bit converged or not. */
  val BtRounds = 5

  /** q187 — Bradley–Terry pairwise-preference ranking via Hunter's MM
    * iteration: aggregate noisy pairwise outcomes into per-item skill
    * ratings — the arena-style aggregation behind preference-data
    * curation and model leaderboards. Matches here are the behavioral
    * transition pairs (q88's bigrams, self-transitions excluded): the
    * follow-up event "beats" the one it displaced; swap in any
    * (winner, loser, count) table for judged model comparisons.
    *
    * Update (5 rounds, ratings start at 10⁶ micro-units):
    * `pᵢ ← Wᵢ / Σⱼ nᵢⱼ/(pᵢ+pⱼ)`, then normalize to Σp = K·10⁶. Every
    * step is integer arithmetic — per-pair terms `nᵢⱼ·10¹² div
    * (rᵢ+rⱼ)` (decimal-widened; n reaches 10¹² at corpus scale — the
    * q144 lesson), long sums, integral division — so partial-agg merge
    * order can never drift a rating and the DuckDB oracle unrolls the
    * identical recurrence.
    *
    * Scale shape: the corpus is touched ONCE (the bigram count); the
    * iteration runs on the |alphabet|² pair table and a K-row rating
    * frame — broadcast-sized, like q103's PageRank on the same graph. */
  def q187BradleyTerry(s: SparkSession, dir: String): DataFrame =
    q187BradleyTerryOn(Tables.events(s, dir))

  /** [[q187BradleyTerry]] over any (user_id, event_id, event_type, ts)
    * events frame. */
  def q187BradleyTerryOn(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    val wins0 = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag("event_type", 1).over(byUser))
      .where(col("prev").isNotNull && col("prev") =!= col("event_type"))
      .groupBy(col("event_type").as("i"), col("prev").as("j"))
      .agg(count(lit(1)).as("n")) // i beat j, n times
      .cache()
    val matches = wins0.select(col("i"), col("j"), col("n"))
      .unionByName(wins0.select(col("j").as("i"), col("i").as("j"), col("n")))
      .groupBy("i", "j").agg(sum("n").as("m"))
      .cache()
    val items = matches.select("i").distinct()
    val wAll = items
      .join(wins0.groupBy("i").agg(sum("n").as("w0")), Seq("i"), "left")
      .select(col("i"), coalesce(col("w0"), lit(0L)).as("w"))
      .cache()
    // Each round references r TWICE (ri, rj) and raw twice (total +
    // output) — without an eager lineage cut per round the plan tree
    // grows ~4^rounds and Spark RECOMPUTES the shared subtrees that
    // many times (measured: minutes per round even on a 5-item
    // alphabet). The rating frame is alphabet-sized, so the per-round
    // localCheckpoint is microseconds — the q103/PageRank discipline.
    var r = items.withColumn("r", lit(1000000L)).cut()
    for (_ <- 1 to BtRounds) {
      val denom = matches
        .join(r.select(col("i"), col("r").as("ri")), "i")
        .join(r.select(col("i").as("j"), col("r").as("rj")), "j")
        .select(col("i"), expr(
          "cast(cast(m as decimal(38,0)) * 1000000000000 div (ri + rj) as bigint)")
          .as("t"))
        .groupBy("i").agg(sum("t").as("denom"))
      val raw = wAll.join(denom, "i")
        .select(col("i"), expr(
          "cast(cast(w as decimal(38,0)) * 1000000000000 div denom as bigint)")
          .as("raw"))
        .cut()
      val tot = raw.agg(sum("raw").as("s"), count(lit(1)).as("k"))
      r = raw.crossJoin(broadcast(tot))
        .select(col("i"), expr(
          "cast(cast(raw as decimal(38,0)) * k * 1000000 div s as bigint)")
          .as("r"))
        .cut()
    }
    val out = r.select(col("i").as("event_type"), col("r").as("rating_micro"))
    Seq(wins0, matches, wAll).foreach(_.unpersist())
    out
  }

  // ------------------------------------------------------------ registry

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q162_linreg_trend" -> (q162LinregTrend _),
    "q163_mad_outliers" -> (q163MadOutliers _),
    "q164_changepoint" -> (q164Changepoint _),
    "q165_growth_rate" -> (q165GrowthRate _),
    "q166_attribution" -> (q166Attribution _),
    "q167_fellegi_sunter" -> (q167FellegiSunter _),
    "q168_dataset_diff" -> (q168DatasetDiff _),
    "q169_dup_kcore" -> (q169DupKcore _),
    "q170_backtest" -> (q170Backtest _),
    "q171_quantile_norm" -> (q171QuantileNorm _),
    "q172_k_anonymity" -> (q172KAnonymity _),
    "q173_concentration" -> (q173Concentration _),
    "q174_unigram_vocab" -> (q174UnigramVocab _),
    "q187_bradley_terry" -> (q187BradleyTerry _),
    "q190_entity_golden" -> (q190EntityGolden _))

  /** One Bradley–Terry MM round as SQL over the previous round's
    * ratings CTE — per-term snaps to BIGINT mirror the Spark side
    * exactly. */
  /** Every CTE here is MATERIALIZED: DuckDB inlines multiply-referenced
    * CTEs by default, and each round reads the previous rating twice
    * (ri, rj) and `raw` twice (total + output) — inlined, the
    * recurrence re-evaluates the base window ~4^rounds times (measured:
    * a 5-round chain over 10k events never finished). Materialization
    * makes the oracle linear in rounds, like the engine. */
  private def btRoundSql(prev: String, cur: String): String =
    s"""d_$cur AS MATERIALIZED (
       | SELECT m.i, CAST(sum(CAST(CAST(m.m AS HUGEINT) * 1000000000000
       |   // (ri.r + rj.r) AS BIGINT)) AS BIGINT) AS denom
       | FROM matches m JOIN $prev ri ON m.i = ri.i JOIN $prev rj ON m.j = rj.i
       | GROUP BY m.i),
       |raw_$cur AS MATERIALIZED (
       | SELECT w.i, CAST(CAST(w.w AS HUGEINT) * 1000000000000 // d.denom AS BIGINT) AS raw
       | FROM wall w JOIN d_$cur d ON w.i = d.i),
       |t_$cur AS MATERIALIZED (SELECT CAST(sum(raw) AS BIGINT) AS s,
       |  CAST(count(*) AS BIGINT) AS k FROM raw_$cur),
       |$cur AS MATERIALIZED (
       | SELECT raw_$cur.i, CAST(CAST(raw AS HUGEINT) * k * 1000000 // s AS BIGINT) AS r
       | FROM raw_$cur CROSS JOIN t_$cur)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q190_entity_golden" ->
      s"""WITH RECURSIVE c AS (
         | SELECT c_custkey AS k, c_nationkey AS nat, c_mktsegment AS seg,
         |  c_acctbal AS bal
         | FROM customer),
         |pairs AS (
         | SELECT a.k AS a_id, b.k AS b_id
         | FROM c a JOIN c b ON a.nat = b.nat AND a.k < b.k
         | WHERE (CASE WHEN a.seg = b.seg THEN $SegAgree ELSE $SegDis END +
         |        CASE WHEN abs(a.bal - b.bal) <= 50.0 THEN $BalAgree ELSE $BalDis END +
         |        CASE WHEN b.k - a.k <= 100 THEN $KeyAgree ELSE $KeyDis END)
         |   >= $LinkThreshold),
         |sym AS (
         | SELECT a_id AS a, b_id AS b FROM pairs
         | UNION SELECT b_id, a_id FROM pairs),
         |r AS (
         | SELECT k AS id, k AS reach FROM c
         | UNION
         | SELECT r.id, s.b FROM r JOIN sym s ON r.reach = s.a),
         |comp AS (SELECT id, min(reach) AS component FROM r GROUP BY id),
         |j AS (
         | SELECT comp.component, c.seg,
         |  CAST(round(c.bal * 100.0, 0) AS BIGINT) AS cents
         | FROM comp JOIN c ON comp.id = c.k),
         |segc AS (SELECT component, seg, count(*) AS cnt FROM j GROUP BY 1, 2),
         |best AS (
         | SELECT component, seg FROM (
         |  SELECT component, seg,
         |   row_number() OVER (PARTITION BY component ORDER BY cnt DESC, seg) AS rn
         |  FROM segc)
         | WHERE rn = 1)
         |SELECT j.component AS entity_id, CAST(count(*) AS BIGINT) AS n_members,
         | b.seg AS golden_segment, CAST(max(j.cents) AS BIGINT) AS max_bal_cents
         |FROM j JOIN best b ON j.component = b.component
         |GROUP BY 1, 3""".stripMargin,
    "q187_bradley_terry" -> {
      val rounds = (1 to BtRounds)
        .map(i => btRoundSql(if (i == 1) "r0" else s"r${i - 1}", s"r$i"))
        .mkString(",\n")
      s"""WITH ev AS (
         | SELECT user_id, event_id, event_type,
         |  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
         |b AS (
         | SELECT lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id)
         |   AS prev, event_type AS curr FROM ev),
         |wins AS MATERIALIZED (
         | SELECT curr AS i, prev AS j, CAST(count(*) AS BIGINT) AS n
         | FROM b WHERE prev IS NOT NULL AND prev <> curr GROUP BY 1, 2),
         |matches AS MATERIALIZED (
         | SELECT i, j, CAST(sum(n) AS BIGINT) AS m
         | FROM (SELECT i, j, n FROM wins UNION ALL SELECT j, i, n FROM wins)
         | GROUP BY 1, 2),
         |items AS MATERIALIZED (SELECT DISTINCT i FROM matches),
         |wall AS MATERIALIZED (
         | SELECT items.i, COALESCE(wn.wn, 0) AS w
         | FROM items LEFT JOIN
         |  (SELECT i, CAST(sum(n) AS BIGINT) AS wn FROM wins GROUP BY 1) wn
         |  ON items.i = wn.i),
         |r0 AS MATERIALIZED (SELECT i, CAST(1000000 AS BIGINT) AS r FROM items),
         |$rounds
         |SELECT i AS event_type, r AS rating_micro FROM r$BtRounds""".stripMargin
    },
    "q169_dup_kcore" -> kcoreOracle(2, KcoreRounds),
    "q170_backtest" ->
      """WITH daily AS (
        | SELECT event_type, CAST(ts AS DATE) AS d,
        |  CAST(count(*) AS BIGINT) AS cnt
        | FROM events GROUP BY 1, 2),
        |days AS (SELECT DISTINCT d FROM daily),
        |types AS (SELECT DISTINCT event_type FROM daily),
        |dense AS (
        | SELECT t.event_type, dd.d, COALESCE(x.cnt, 0) AS a
        | FROM types t CROSS JOIN days dd
        | LEFT JOIN daily x ON x.event_type = t.event_type AND x.d = dd.d),
        |w AS (
        | SELECT event_type, a, row_number() OVER tw AS idx,
        |  lag(a, 7) OVER tw AS p_sn7, lag(a, 1) OVER tw AS p_n1
        | FROM dense WINDOW tw AS (PARTITION BY event_type ORDER BY d)),
        |e AS (SELECT * FROM w WHERE idx >= 8),
        |u AS (
        | SELECT event_type, 'seasonal_naive_7' AS model,
        |  CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(abs(p_sn7 - a)) AS BIGINT) AS sae,
        |  CAST(sum(CASE WHEN p_sn7 + a > 0
        |    THEN abs(p_sn7 - a) * 2000000 // (p_sn7 + a) ELSE 0 END)
        |   AS BIGINT) AS ssm
        | FROM e GROUP BY 1
        | UNION ALL
        | SELECT event_type, 'naive_1', CAST(count(*) AS BIGINT),
        |  CAST(sum(abs(p_n1 - a)) AS BIGINT),
        |  CAST(sum(CASE WHEN p_n1 + a > 0
        |    THEN abs(p_n1 - a) * 2000000 // (p_n1 + a) ELSE 0 END)
        |   AS BIGINT)
        | FROM e GROUP BY 1)
        |SELECT event_type, model, n_days,
        | sae * 1000000 // n_days AS mae_micro,
        | ssm // n_days AS smape_micro
        |FROM u""".stripMargin,
    "q171_quantile_norm" ->
      """WITH r AS (
        | SELECT doc_id, source, n_chars,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars, doc_id) AS BIGINT) AS rk,
        |  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        | FROM documents),
        |p AS (
        | SELECT *, (rk - 1) * 1000000 // (n - 1) AS pr_ppm
        | FROM r WHERE n > 1)
        |SELECT source, least(pr_ppm // 100000, 9) AS decile,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM p GROUP BY 1, 2""".stripMargin,
    "q172_k_anonymity" ->
      """WITH cls AS (
        | SELECT c_nationkey AS nat, c_mktsegment AS seg,
        |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_k,
        |  CAST(count(*) AS BIGINT) AS class_size
        | FROM customer GROUP BY 1, 2, 3)
        |SELECT class_size, CAST(count(*) AS BIGINT) AS n_classes,
        | class_size * CAST(count(*) AS BIGINT) AS n_rows,
        | class_size < 5 AS at_risk
        |FROM cls GROUP BY 1""".stripMargin,
    "q173_concentration" ->
      """WITH r AS (
        | SELECT doc_id, source, n_chars,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars, doc_id) AS BIGINT) AS rk
        | FROM documents),
        |a AS (
        | SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  sum(CAST(rk AS HUGEINT) * n_chars) AS rx,
        |  sum(CAST(n_chars AS HUGEINT) * n_chars) AS xx
        | FROM r GROUP BY 1)
        |SELECT source, n_docs, total_chars,
        | CAST(xx * 1000000 //
        |   (CAST(total_chars AS HUGEINT) * total_chars) AS BIGINT)
        |  AS hhi_ppm,
        | CAST((2 * rx - CAST(n_docs + 1 AS HUGEINT) * total_chars) * 1000000
        |   // (CAST(n_docs AS HUGEINT) * total_chars) AS BIGINT)
        |  AS gini_micro
        |FROM a""".stripMargin,
    "q162_linreg_trend" ->
      """WITH daily AS (
        | SELECT CAST(ts AS DATE) AS d, event_type,
        |  CAST(count(*) AS BIGINT) AS y
        | FROM events GROUP BY 1, 2),
        |d0 AS (SELECT min(d) AS d0 FROM daily),
        |xy AS (
        | SELECT event_type,
        |  CAST(date_diff('day', d0, d) AS BIGINT) AS x, y
        | FROM daily CROSS JOIN d0),
        |st AS (
        | SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx,
        |  CAST(sum(x * y) AS BIGINT) AS sxy,
        |  CAST(sum(y * y) AS BIGINT) AS syy
        | FROM xy GROUP BY 1)
        |SELECT event_type, n,
        | CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |  ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |             CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS slope,
        | CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |  ELSE round(CAST(sy * sxx - sx * sxy AS DOUBLE) /
        |             CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS intercept,
        | CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
        |  ELSE round(CAST((n * sxy - sx * sy) * (n * sxy - sx * sy) AS DOUBLE) /
        |   CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS DOUBLE), 6)
        | END AS r2
        |FROM st""".stripMargin,
    "q163_mad_outliers" ->
      """WITH v AS (
        | SELECT event_type, CAST(round(value * 1000000.0, 0) AS BIGINT) AS v
        | FROM events),
        |med AS (
        | SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(quantile_cont(v, 0.5) * 2 AS BIGINT) AS med2
        | FROM v GROUP BY 1),
        |dev AS (
        | SELECT v.event_type, med.n, med.med2, abs(v.v * 2 - med.med2) AS dev2
        | FROM v JOIN med USING (event_type)),
        |mad AS (
        | SELECT event_type, CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) AS mad4
        | FROM dev GROUP BY 1)
        |SELECT dev.event_type, n, med2 AS med2_micro, mad4 AS mad4_micro,
        | CAST(sum(CASE WHEN dev2 * 20000 > mad4 * 44478 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_outliers
        |FROM dev JOIN mad USING (event_type)
        |GROUP BY 1, 2, 3, 4""".stripMargin,
    "q164_changepoint" ->
      """WITH daily AS (
        | SELECT event_type, CAST(ts AS DATE) AS d,
        |  CAST(count(*) AS BIGINT) AS y
        | FROM events GROUP BY 1, 2),
        |cum AS (
        | SELECT event_type, d,
        |  CAST(row_number() OVER w AS BIGINT) AS k,
        |  CAST(sum(y) OVER (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sl,
        |  CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |  CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT) AS stot
        | FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |scored AS (
        | SELECT event_type, d, n,
        |  CAST((CAST(sl AS HUGEINT) * sl * (n - k) +
        |        CAST(stot - sl AS HUGEINT) * (stot - sl) * k) * 1000000
        |       // (k * (n - k)) AS BIGINT) AS score_micro,
        |  CAST(CAST(stot AS HUGEINT) * stot * 1000000 // n AS BIGINT)
        |    AS base_micro
        | FROM cum WHERE k < n),
        |ranked AS (
        | SELECT *, row_number() OVER (PARTITION BY event_type
        |   ORDER BY score_micro DESC, d ASC) AS rk
        | FROM scored)
        |SELECT event_type, n AS n_days, CAST(d AS VARCHAR) AS split_day,
        | score_micro - base_micro AS gain_micro
        |FROM ranked WHERE rk = 1""".stripMargin,
    "q165_growth_rate" ->
      """WITH daily AS (
        | SELECT event_type, CAST(ts AS DATE) AS d,
        |  CAST(count(*) AS BIGINT) AS cnt
        | FROM events GROUP BY 1, 2),
        |days AS (SELECT DISTINCT d FROM daily),
        |types AS (SELECT DISTINCT event_type FROM daily),
        |dense AS (
        | SELECT t.event_type, dd.d, COALESCE(x.cnt, 0) AS cnt
        | FROM types t CROSS JOIN days dd
        | LEFT JOIN daily x ON x.event_type = t.event_type AND x.d = dd.d),
        |w AS (
        | SELECT event_type, d,
        |  row_number() OVER tw AS idx,
        |  CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS cur7,
        |  CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 13 PRECEDING AND 7 PRECEDING) AS BIGINT) AS prev7
        | FROM dense WINDOW tw AS (PARTITION BY event_type ORDER BY d))
        |SELECT event_type, CAST(d AS VARCHAR) AS d, cur7, prev7,
        | CAST(CAST(cur7 AS HUGEINT) * 1000000 // prev7 AS BIGINT)
        |   AS growth_ppm
        |FROM w WHERE idx >= 14 AND prev7 > 0""".stripMargin,
    "q166_attribution" ->
      """WITH e AS (
        | SELECT user_id, event_id, event_type,
        |  CAST(floor(epoch_ms(ts) / 1000) AS BIGINT) AS es
        | FROM events),
        |flagged AS (
        | SELECT *, CASE WHEN es - lag(es, 1) OVER w > 1800 THEN 1 ELSE 0 END
        |   AS new_sess
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)),
        |sess AS (
        | SELECT *, sum(new_sess) OVER (PARTITION BY user_id
        |   ORDER BY es, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sidx
        | FROM flagged),
        |touched AS (
        | SELECT *,
        |  first_value(event_type) OVER (PARTITION BY user_id, sidx
        |    ORDER BY es, event_id) AS first_type,
        |  last_value(CASE WHEN event_type <> 'purchase' THEN es END
        |    IGNORE NULLS) OVER pw AS lt_es,
        |  last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |    IGNORE NULLS) OVER pw AS lt_type
        | FROM sess WINDOW pw AS (PARTITION BY user_id ORDER BY es, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |purchases AS (
        | SELECT first_type,
        |  CASE WHEN lt_es IS NOT NULL AND lt_es >= es - 1800
        |   THEN lt_type END AS last_type
        | FROM touched WHERE event_type = 'purchase'),
        |ft AS (SELECT first_type AS attributed_type,
        |        CAST(count(*) AS BIGINT) AS n_first_touch
        |       FROM purchases GROUP BY 1),
        |lt AS (SELECT last_type AS attributed_type,
        |        CAST(count(*) AS BIGINT) AS n_last_touch
        |       FROM purchases WHERE last_type IS NOT NULL GROUP BY 1)
        |SELECT COALESCE(ft.attributed_type, lt.attributed_type)
        |  AS attributed_type,
        | COALESCE(n_first_touch, 0) AS n_first_touch,
        | COALESCE(n_last_touch, 0) AS n_last_touch
        |FROM ft FULL OUTER JOIN lt USING (attributed_type)""".stripMargin,
    "q167_fellegi_sunter" ->
      """WITH c AS (
        | SELECT c_custkey AS k, c_nationkey AS nat, c_mktsegment AS seg,
        |  c_acctbal AS bal
        | FROM customer),
        |scored AS (
        | SELECT a.k AS a_id, b.k AS b_id,
        |  (CASE WHEN a.seg = b.seg THEN 1504077 ELSE -2079442 END +
        |   CASE WHEN abs(a.bal - b.bal) <= 50.0 THEN 2772589
        |        ELSE -1558145 END +
        |   CASE WHEN b.k - a.k <= 100 THEN 847298 ELSE -847298 END)
        |    AS score_micro
        | FROM c a JOIN c b ON a.nat = b.nat AND a.k < b.k),
        |dec AS (
        | SELECT *, CASE WHEN score_micro >= 3000000 THEN 'link'
        |   WHEN score_micro >= 0 THEN 'possible'
        |   ELSE 'nonlink' END AS decision
        | FROM scored),
        |hist AS (
        | SELECT
        |  CAST(sum(CASE WHEN decision = 'link' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_link,
        |  CAST(sum(CASE WHEN decision = 'possible' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_possible,
        |  CAST(sum(CASE WHEN decision = 'nonlink' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_nonlink
        | FROM dec)
        |SELECT a_id, b_id, CAST(score_micro AS BIGINT) AS score_micro,
        | decision, n_link, n_possible, n_nonlink
        |FROM (SELECT * FROM dec
        |      ORDER BY score_micro DESC, a_id, b_id LIMIT 50) t
        |CROSS JOIN hist""".stripMargin,
    "q168_dataset_diff" ->
      """WITH docs AS (SELECT doc_id, source, text FROM documents),
        |a AS (
        | SELECT doc_id, source, md5(text) AS dig_a
        | FROM docs WHERE doc_id % 7 <> 0),
        |b AS (
        | SELECT doc_id, source AS source_b,
        |  md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END)
        |    AS dig_b
        | FROM docs WHERE doc_id % 5 <> 0)
        |SELECT COALESCE(a.source, b.source_b) AS source,
        | CASE WHEN dig_a IS NULL THEN 'added'
        |  WHEN dig_b IS NULL THEN 'removed'
        |  WHEN dig_a <> dig_b THEN 'changed'
        |  ELSE 'same' END AS status,
        | CAST(count(*) AS BIGINT) AS n
        |FROM a FULL OUTER JOIN b USING (doc_id)
        |GROUP BY 1, 2""".stripMargin)
}
