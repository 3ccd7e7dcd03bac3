package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Lineage.CutOps
import graft.functions.{TextFunctions => T}
import graft.sources.Tables

/** Behavioral / clickstream analytics over the events table — the
  * sessionize → funnel → retention triad every event-analytics engine
  * ships. All three are windowed or join-reduced aggregations whose
  * shuffles key on `user_id` (the natural partitioning at scale), and
  * all three are DuckDB-oracle-checked.
  */
object Behavioral {

  /** Event time as whole epoch seconds (Long) — the cross-engine-stable
    * unit (micros survive the nanos→micros parquet conversion exactly). */
  private def epochS = unix_timestamp(col("ts"))

  /** Batch sessionization: a gap > `gapMinutes` between a user's
    * consecutive events opens a new session (the batch analog of
    * Spark's streaming `session_window`). Classic
    * lag → is-new-flag → running-sum session index; one shuffle on
    * user_id serves both windows. */
  def q71Sessionize(s: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("es", "event_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), epochS.as("es"))
      .withColumn("new_sess",
        when(col("es") - lag("es", 1).over(byUser) > gapMinutes * 60L, 1L)
          .otherwise(lit(0L)))
      .withColumn("session_idx",
        sum("new_sess").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min("es").as("start_s"), max("es").as("end_s"))
      .withColumn("duration_s", col("end_s") - col("start_s"))
  }

  /** Ordered conversion funnel view → click → purchase: each stage's
    * timestamp must strictly follow the previous stage's FIRST completion
    * (min-ts semantics — the standard "first touch" funnel). Three grouped
    * aggregations joined on user_id (AQE broadcasts when small); one row. */
  def q72Funnel(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"),
      col("event_type"), epochS.as("es"))
    val v = e.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("es").as("f1"))
    val c = e.where(col("event_type") === "click")
      .join(v, "user_id").where(col("es") > col("f1"))
      .groupBy("user_id").agg(min("es").as("f2"))
    val p = e.where(col("event_type") === "purchase")
      .join(c, "user_id").where(col("es") > col("f2"))
      .groupBy("user_id").agg(min("es").as("f3"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click_after")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase_after")))
  }

  /** Daily cohort retention: users grouped by their FIRST activity day;
    * retained = any event within days 1..7 after it. Two aggregations
    * joined on user_id — never a per-day scan of history. */
  def q73Retention(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val cohorts = e.groupBy("user_id").agg(min("d").as("cohort_day"))
    val retained = e.join(cohorts, "user_id")
      .where(col("d") > col("cohort_day") &&
        col("d") <= date_add(col("cohort_day"), 7))
      .select("user_id").distinct()
      .withColumn("retained", lit(1L))
    cohorts.join(retained, Seq("user_id"), "left")
      .groupBy(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"))
      .agg(count(lit(1)).as("n_users"),
        sum(coalesce(col("retained"), lit(0L))).as("n_retained_7d"))
  }

  /** q142 — event-type co-occurrence with pointwise mutual information:
    * which behaviors happen to the SAME user more (or less) often than
    * independence predicts — the association-mining signal behind
    * market-basket analysis and feature co-occurrence audits.
    *
    * Scale shape: the only corpus-wide shuffle is the distinct
    * (user, type) reduction on user_id; pair generation then happens
    * per user over that user's distinct-type SET, whose size is bounded
    * by the type alphabet (not by event volume), so the "self-join" is
    * a bounded per-key flatMap, never an unbounded pair explosion. PMI
    * is kept cross-engine-exact the micro-nat way: both engines divide
    * the SAME two integer products in double, take one `ln`, and round
    * to integer micro-nats. */
  def q142CooccurrencePmi(s: SparkSession, dir: String): DataFrame =
    q142CooccurrencePmiOn(Tables.events(s, dir))

  /** [[q142CooccurrencePmi]] over any (user_id, event_type, …) frame —
    * exposed for planted-signal specs. */
  def q142CooccurrencePmiOn(events: DataFrame): DataFrame = {
    // the ONE corpus-wide shuffle: per-user sorted distinct-type sets
    // (collect_set dedups, so no separate distinct pass). The cached
    // frame backs all three consumers of the returned plan — pair
    // counts, single counts, and N (the count() that materializes it);
    // releasing it before the caller's action (the DistCumSum pattern)
    // would instead recompute the corpus shuffle per consumer subtree.
    // One row per user with a type-alphabet-bounded array, and Spark
    // caches spill — session-lifetime residency is the cheaper side.
    val sets = events
      .groupBy("user_id")
      .agg(array_sort(collect_set(col("event_type"))).as("ts"))
      .cache()
    val nUsers = sets.count()
    val typeCounts = sets.select(explode(col("ts")).as("event_type"))
      .groupBy("event_type").agg(count(lit(1)).as("c_single"))
    val pairs = sets
      .select(explode(expr(
        """flatten(transform(ts, (a, i) ->
          |  transform(slice(ts, i + 2, size(ts)),
          |            b -> named_struct('a', a, 'b', b))))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.a").as("type_a"), col("p.b").as("type_b"))
      .agg(count(lit(1)).as("c_pair"))
    pairs
      .join(broadcast(typeCounts.select(col("event_type").as("type_a"),
        col("c_single").as("c_a"))), "type_a")
      .join(broadcast(typeCounts.select(col("event_type").as("type_b"),
        col("c_single").as("c_b"))), "type_b")
      .select(col("type_a"), col("type_b"), col("c_a"), col("c_b"), col("c_pair"),
        round(log((col("c_pair") * nUsers).cast("double") /
          (col("c_a") * col("c_b")).cast("double")) * 1e6, 0).cast("long")
          .as("pmi_micro"))
  }

  // ---------------------------------------------------------------- q210

  /** RFM quintile count for [[q210RfmSegments]]. */
  val RfmQuantiles = 5

  /** q210 — RFM segmentation (the classic marketing-analytics cube):
    * per user Recency (days since last event, vs the corpus max date),
    * Frequency (event count), Monetary (Σ cents); each metric maps to
    * its quintile 0‥4 (ascending by value — r_q 0 = most recent, f_q 4
    * = most frequent, m_q 4 = highest spend) and users aggregate per
    * (r_q, f_q, m_q) cell with mean frequency/monetary. "Champions"
    * (0,4,4) vs "hibernating" (4,0,0) is the whole game.
    *
    * Quintile semantics are q204's equi-depth rule — boundaries fall
    * only BETWEEN distinct metric values (`users_before · 5 div n`), a
    * tie cohort lands in one quintile — and the cumulative rank runs on
    * the metric-value SPINE via [[DistCumSum]]'s two-level scan, so no
    * corpus-width `ntile()` window exists anywhere (the global-sort
    * scale killer this operator usually ships with).
    *
    * Scale shape: one groupBy(user) over the corpus; three spine scans
    * (alphabet-bounded: day counts, event-count alphabet, cents
    * alphabet) joined back on the metric value; a ≤ 125-cell output. */
  def q210RfmSegments(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"),
      to_date(col("ts")).as("d"),
      expr("cast(round(value * 100) as bigint)").as("cents"))
    val perUser = e.crossJoin(broadcast(e.agg(max("d").as("dref"))))
      .groupBy("user_id")
      .agg(max(col("d")).as("dlast"), max(col("dref")).as("dref"),
        count(lit(1)).as("frequency"), sum("cents").as("monetary_cents"))
      .select(col("user_id"),
        datediff(col("dref"), col("dlast")).cast("long").as("recency_days"),
        col("frequency"), col("monetary_cents"))
    rfmOn(perUser)
  }

  /** [[q210RfmSegments]] over any (user_id, recency_days, frequency,
    * monetary_cents) frame — exposed for the hand-computed spec. */
  def rfmOn(perUser0: DataFrame): DataFrame = {
    // three quintile joins + the final aggregate consume the per-user
    // frame; cache across them, release before returning
    val perUser = perUser0.cache()
    val n = broadcast(perUser.agg(count(lit(1)).as("__n")))
    def quintile(metric: String, out: String): DataFrame = {
      val spine = perUser.groupBy(metric).agg(count(lit(1)).as("__c"))
      graft.operators.DistCumSum.overDomain(spine, metric, "__c", "__cum")
        .crossJoin(n)
        .select(col(metric),
          expr(s"(__cum - __c) * $RfmQuantiles div __n").as(out))
    }
    val out = perUser
      .join(quintile("recency_days", "r_q"), "recency_days")
      .join(quintile("frequency", "f_q"), "frequency")
      .join(quintile("monetary_cents", "m_q"), "monetary_cents")
      .groupBy("r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("n_users"),
        expr("cast(sum(cast(frequency as decimal(38,0))) div count(1) as bigint)")
          .as("mean_frequency"),
        expr("cast(sum(cast(monetary_cents as decimal(38,0))) div count(1) as bigint)")
          .as("mean_monetary_cents"))
      .cut() // materialize before the cache below dies
    perUser.unpersist()
    out
  }

  // ---------------------------------------------------------------- q211

  /** q211 — transition dwell times: for each consecutive event pair
    * within a user's stream, the seconds between them, aggregated per
    * (src → dst) type transition. q88 counts WHERE flows go; dwell says
    * HOW LONG each hop takes — the edge-weight matrix a journey
    * time-model or abandonment analysis reads (a view→purchase edge
    * averaging 20s vs 2h is two different products).
    *
    * Scale shape: the same single user-partitioned window as q71/q88
    * (one shuffle on user_id), then a groupBy whose spine is the type²
    * alphabet. Dwells are whole seconds by integral division of exact
    * epoch micros; means by decimal-widened integral division. */
  def q211TransitionDwell(s: SparkSession, dir: String): DataFrame =
    q211TransitionDwellOn(Tables.events(s, dir))

  /** [[q211TransitionDwell]] over any (user_id, event_id, event_type,
    * ts) frame — exposed for the hand-computed spec. */
  def q211TransitionDwellOn(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag("event_type", 1).over(byUser))
      .withColumn("prev_us", lag("us", 1).over(byUser))
      .where(col("prev").isNotNull)
      .withColumn("dwell_s", expr("(us - prev_us) div 1000000"))
      .groupBy(col("prev").as("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("n"),
        expr("cast(sum(cast(dwell_s as decimal(38,0))) div count(1) as bigint)")
          .as("mean_dwell_s"),
        min("dwell_s").as("min_dwell_s"),
        max("dwell_s").as("max_dwell_s"))
  }

  // ---------------------------------------------------------------- q213

  /** LTV horizon in days for [[q213CohortLtv]]. */
  val LtvHorizonDays = 7

  /** q213 — cohort lifetime-value curves: users cohorted by first-seen
    * day; for each (cohort, age ≤ [[LtvHorizonDays]]) the cumulative
    * spend per cohort user. q73 answers "did they come back"; LTV
    * answers "what are they worth by day a" — the payback-window curve
    * acquisition spend is graded against. Ages with zero cohort spend
    * emit no row (no gap-fill — identical in both engines).
    *
    * Scale shape: one groupBy(user) for cohorts, one groupBy(cohort,
    * age) for daily totals (spine = cohorts × horizon), a cumulative
    * window over that bounded spine partitioned by cohort, and the
    * cohort-size frame broadcast back. Cents stay exact longs;
    * per-user LTV is one integral division. */
  def q213CohortLtv(s: SparkSession, dir: String): DataFrame =
    q213CohortLtvOn(Tables.events(s, dir).select(col("user_id"),
      to_date(col("ts")).as("d"),
      expr("cast(round(value * 100) as bigint)").as("cents")))

  /** [[q213CohortLtv]] over any (user_id, `d` date, `cents` long)
    * frame — exposed for the hand-computed spec. */
  def q213CohortLtvOn(e: DataFrame): DataFrame = {
    val cohorts = e.groupBy("user_id").agg(min("d").as("cohort_day"))
    val sizes = cohorts.groupBy("cohort_day")
      .agg(count(lit(1)).as("n_users"))
    val daily = e.join(cohorts, "user_id")
      .withColumn("age", datediff(col("d"), col("cohort_day")).cast("long"))
      .where(col("age") <= LtvHorizonDays)
      .groupBy("cohort_day", "age")
      .agg(sum("cents").as("day_cents"))
    val byCohort = Window.partitionBy("cohort_day").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.withColumn("cum_cents", sum("day_cents").over(byCohort))
      .join(broadcast(sizes), "cohort_day")
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("age"), col("n_users"),
        expr("cast(cast(cum_cents as decimal(38,0)) div n_users as bigint)")
          .as("ltv_cents_per_user"))
  }

  // ---------------------------------------------------------------- q214

  /** q214 — Markov next-event predictor, train/test evaluated: the
    * top-1 transition table (argmax next type per current type, built
    * on a 3/4 hash-split of USERS) scored on held-out users' actual
    * transitions. The simplest sequence model there is — which makes
    * it the BASELINE every fancier next-event model must beat, and the
    * eval harness (leakage-free user-level split, per-state accuracy)
    * is the operator. Test transitions from states unseen in training
    * drop out (inner join — no prediction, no credit), identically in
    * both engines.
    *
    * Scale shape: two window passes partitioned by user (train/test
    * bigrams), a type-alphabet argmax via one row_number over the
    * bigram spine, and a broadcast join of the ≤|alphabet| predictor
    * onto the test bigram aggregate. */
  def q214MarkovAccuracy(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    markovAccuracyOn(Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"),
        T.hashMod("mkv:", col("user_id"), 4).as("split"))
      .withColumn("prev", lag("event_type", 1).over(byUser))
      .where(col("prev").isNotNull)
      .select(col("split"), col("prev"), col("event_type").as("curr")))
  }

  /** [[q214MarkovAccuracy]] over any (`split` 0-3, `prev`, `curr`)
    * bigram frame — exposed for the hand-computed spec. Splits 0-2
    * train the predictor, 3 evaluates it. */
  def markovAccuracyOn(bigrams: DataFrame): DataFrame = {
    val trainCounts = bigrams.where(col("split") < 3)
      .groupBy("prev", "curr").agg(count(lit(1)).as("c"))
    val byPrev = Window.partitionBy("prev")
      .orderBy(col("c").desc, col("curr"))
    val predictor = trainCounts
      .withColumn("rn", row_number().over(byPrev))
      .where(col("rn") === 1)
      .select(col("prev"), col("curr").as("predicted"))
    bigrams.where(col("split") === 3)
      .join(broadcast(predictor), "prev")
      .groupBy("prev")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("curr") === col("predicted"), 1L).otherwise(0L))
          .as("hits"),
        max("predicted").as("predicted"))
      .select(col("prev"), col("predicted"), col("n_test"), col("hits"),
        expr("hits * 1000000 div n_test").as("acc_ppm"))
  }

  // ---------------------------------------------------------------- q227

  /** q227 — time-weighted average event value per user: each event's
    * value (exact cents) HOLDS until the user's next event, and the
    * average weights each held value by its hold duration in
    * microseconds — the irregular-sampling average (sensor readings,
    * account balances, feature values between updates) where the
    * row-mean q06 reports is simply wrong: a value held for 6 days
    * must count 6000× one held for 90 seconds.
    *
    * Integer discipline: numerator Σ cents·Δµs accumulates in
    * decimal(38,0) (cents·µs products are 10¹⁶ per hold — a Long sum
    * dies within a user-year), one final integral div onto a
    * milli-cent scale. Users whose events all share one timestamp
    * (span 0) are excluded in both engines rather than divided by
    * zero.
    *
    * Scale shape: ONE hash shuffle on user_id, a per-user sort for
    * `lead` (partitioned window — never a global sort), then the
    * groupBy(user) reuses the SAME partitioning: Catalyst plans zero
    * additional exchanges after the window. Output is one row per
    * user with ≥ 2 distinct event times. */
  def q227TimeWeightedAvg(s: SparkSession, dir: String): DataFrame =
    twaOn(Tables.events(s, dir).select(col("user_id"), col("ts"),
      col("event_id"), expr("cast(round(value * 100) as bigint)").as("c")))

  /** [[q227TimeWeightedAvg]] over any (`user_id`, `ts`, `event_id`,
    * `c` cents) frame — exposed for the hand-computed spec. */
  def twaOn(e: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    e.withColumn("next_ts", lead(col("ts"), 1).over(w))
      .where(col("next_ts").isNotNull)
      .select(col("user_id"), col("c"),
        (expr("unix_micros(next_ts)") - expr("unix_micros(ts)")).as("dt_us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_holds"), sum("dt_us").as("span_us"),
        sum(col("c").cast("decimal(38,0)") * col("dt_us")).as("num"))
      .where(col("span_us") > 0L)
      .select(col("user_id"), col("n_holds"), col("span_us"),
        expr("cast(num * 1000 div cast(span_us as decimal(38,0)) as bigint)")
          .as("twa_millicents"))
  }

  // ---------------------------------------------------------------- q244

  /** q244 — MATCH_RECOGNIZE-style sequence-motif matching (the
    * SQL:2016 row-pattern operator Spark has no built-in for): each
    * user's event history becomes an ordered one-char-per-event
    * journey string (c/e/p/s/v), and regex motifs count
    * non-overlapping occurrences per user — `v+cp` (browse streak
    * ending in a purchase), `pe` (purchase immediately followed by an
    * error — the refund-risk motif), `s[^p]*p` (signup through first
    * purchase). q72's funnel asks "did steps happen in order, ever";
    * motifs ask about ADJACENCY and repetition — the CEP questions.
    *
    * Determinism: events order by the q241 (µs·2²⁰ + event_id) key,
    * so same-instant ties serialize identically in both engines;
    * greedy leftmost regex semantics agree between Java regex and
    * DuckDB's RE2 on these quantifier-simple motifs, and both count
    * non-overlapping matches (`regexp_count` vs
    * `len(regexp_extract_all)`).
    *
    * Scale shape: ONE hash shuffle on user_id; journeys are bounded
    * by per-user activity (collect_list + array_sort inside the
    * aggregate, the q76-packing discipline), and each motif is a
    * codegen'd string function over that bounded string. A user with
    * 10⁸ events needs session-chunking first (q71) — noted contract. */
  def q244MatchRecognize(s: SparkSession, dir: String): DataFrame =
    matchRecognizeOn(Tables.events(s, dir))

  /** [[q244MatchRecognize]] over any events-shaped frame — exposed
    * for the hand-planted journey spec. */
  def matchRecognizeOn(events: DataFrame): DataFrame =
    events
      .select(col("user_id"),
        expr("""cast(unix_micros(ts) as decimal(38,0)) * 1048576
               | + event_id""".stripMargin).as("tk"),
        substring(col("event_type"), 1, 1).as("ch"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        array_join(expr("transform(array_sort(collect_list(struct(tk, ch)))," +
          " x -> x.ch)"), "").as("j"))
      .select(col("user_id"), col("n_events"),
        expr("regexp_count(j, 'v+cp')").cast("long").as("browse_buy"),
        expr("regexp_count(j, 'pe')").cast("long").as("buy_error"),
        expr("regexp_count(j, 's[^p]*p')").cast("long").as("signup_convert"))

  // ---------------------------------------------------------------- q251

  /** q251 — per-type adoption rate with a 95% WILSON interval: the
    * fraction of all users who ever fired each event type, bracketed
    * by the score interval that stays honest at small n and extreme
    * p̂ (the normal-approximation ±z√(p̂(1−p̂)/n) interval collapses to
    * a point at p̂ ∈ {0,1} and goes negative near the edges — Wilson
    * does neither, which is why it is the binomial-CI default). The
    * "is this feature actually used, within error" readout product
    * reviews want next to every q72 funnel.
    *
    * Determinism: (k, n) are exact integers off two distinct-count
    * aggregates; both engines evaluate the IDENTICAL double formula
    * (z² = 3.8416 literal, same op order) and snap to ppm — the q203
    * sqrt discipline.
    *
    * Scale shape: one groupBy(type) distinct-count + one global
    * distinct-count broadcast back; k rows of arithmetic after. */
  def q251WilsonAdoption(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select("event_type", "user_id")
    val n = e.agg(count_distinct(col("user_id")).as("n"))
    e.groupBy("event_type")
      .agg(count_distinct(col("user_id")).as("k"))
      .crossJoin(broadcast(n))
      .withColumn("p", col("k").cast("double") / col("n"))
      .withColumn("z2n", lit(3.8416) / col("n"))
      .withColumn("center", (col("p") + col("z2n") / 2) / (lit(1.0) + col("z2n")))
      .withColumn("half",
        sqrt(col("p") * (lit(1.0) - col("p")) / col("n") +
          col("z2n") / (col("n") * 4)) * lit(1.96) /
          (lit(1.0) + col("z2n")))
      .select(col("event_type"), col("k"), col("n"),
        expr("cast(round(p * 1000000) as bigint)").as("p_ppm"),
        expr("cast(round((center - half) * 1000000) as bigint)").as("lo_ppm"),
        expr("cast(round((center + half) * 1000000) as bigint)").as("hi_ppm"))
  }

  /** Half-life (days) of [[q277DecayScore]]'s exponential decay. */
  val DecayHalfLifeDays = 7.0
  /** Leaderboard size. */
  val DecayTopK = 20

  /** q277 — time-decay engagement score: Σ cents·2^(−Δt/halflife) per
    * user against the corpus's latest event, top-[[DecayTopK]] under a
    * total order — the recency-weighted counterpart to q210's RFM
    * buckets (RFM discretizes recency; the decay kernel makes it
    * continuous, the standard churn/engagement feature). Each term is
    * quantized to whole cents AFTER the decay (integer Δμs ratio →
    * one IEEE pow2 → round — identical bits cross-engine, the q264
    * exp/ln discipline), so the per-user sum is an exact integer.
    *
    * Scale shape: the reference instant is one broadcast scalar; terms
    * are a narrow map; the per-user sum is one combinable aggregate;
    * the leaderboard a tiny sorted limit. */
  def q277DecayScore(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"),
        expr("cast(round(value * 100) as bigint)").as("cents"),
        unix_micros(col("ts")).as("us"))
    val ref = ev.agg(max("us").as("ref_us"))
    ev.crossJoin(broadcast(ref))
      .select(col("user_id"),
        expr(s"""cast(round(cents * pow(2.0,
               | -(cast(ref_us - us as double)
               |   / (${DecayHalfLifeDays}d * 86400.0 * 1000000.0))))
               | as bigint)""".stripMargin).as("t_c100"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("t_c100").as("score_c100"))
      .orderBy(col("score_c100").desc, col("user_id"))
      .limit(DecayTopK)
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q277_decay_score" -> (q277DecayScore _),
    "q244_match_recognize" -> (q244MatchRecognize _),
    "q251_wilson_adoption" -> (q251WilsonAdoption _),
    "q142_cooccurrence_pmi" -> (q142CooccurrencePmi _),
    "q71_sessionize" -> ((s: SparkSession, d: String) => q71Sessionize(s, d)),
    "q72_funnel" -> (q72Funnel _),
    "q73_retention" -> (q73Retention _),
    "q210_rfm_segments" -> (q210RfmSegments _),
    "q211_transition_dwell" -> (q211TransitionDwell _),
    "q213_cohort_ltv" -> (q213CohortLtv _),
    "q214_markov_accuracy" -> (q214MarkovAccuracy _),
    "q227_time_weighted_avg" -> (q227TimeWeightedAvg _))

  /** One ascending-value quintile spine as SQL: `(v, <out>)` from the
    * per-user frame's `<metric>` column — the q204 first-row rule. */
  private def quintileSql(metric: String, out: String): String =
    s"""(SELECT v, CAST(prior * $RfmQuantiles // n.n AS BIGINT) AS $out
       | FROM (SELECT $metric AS v, COALESCE(sum(cnt) OVER (ORDER BY $metric
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
       |   FROM (SELECT $metric, CAST(count(*) AS BIGINT) AS cnt
       |         FROM pu GROUP BY $metric))
       | CROSS JOIN n)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q277_decay_score" ->
      s"""WITH ev AS (
        | SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |ref AS (SELECT max(us) AS ref_us FROM ev),
        |terms AS (
        | SELECT user_id,
        |  CAST(round(cents * pow(2.0, -(CAST(ref_us - us AS DOUBLE)
        |    / ($DecayHalfLifeDays * 86400.0 * 1000000.0)))) AS BIGINT)
        |   AS t_c100
        | FROM ev, ref)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(t_c100) AS BIGINT) AS score_c100
        |FROM terms GROUP BY 1
        |ORDER BY score_c100 DESC, user_id LIMIT $DecayTopK""".stripMargin,
    "q251_wilson_adoption" ->
      """WITH n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n
        |           FROM events),
        |k AS (SELECT event_type,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS k
        |      FROM events GROUP BY 1),
        |w AS (
        | SELECT k.event_type, k.k, n.n,
        |  CAST(k.k AS DOUBLE) / n.n AS p, 3.8416 / n.n AS z2n
        | FROM k CROSS JOIN n),
        |c AS (
        | SELECT *, (p + z2n / 2) / (1.0 + z2n) AS center,
        |  sqrt(p * (1.0 - p) / n + z2n / (n * 4)) * 1.96 / (1.0 + z2n)
        |   AS half
        | FROM w)
        |SELECT event_type, k, n,
        | CAST(round(p * 1000000) AS BIGINT) AS p_ppm,
        | CAST(round((center - half) * 1000000) AS BIGINT) AS lo_ppm,
        | CAST(round((center + half) * 1000000) AS BIGINT) AS hi_ppm
        |FROM c""".stripMargin,
    "q244_match_recognize" ->
      """WITH e AS (
        | SELECT user_id,
        |  CAST(epoch_us(ts) AS HUGEINT) * 1048576 + event_id AS tk,
        |  substr(event_type, 1, 1) AS ch
        | FROM events),
        |j AS (
        | SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  string_agg(ch, '' ORDER BY tk) AS j
        | FROM e GROUP BY user_id)
        |SELECT user_id, n_events,
        | CAST(len(regexp_extract_all(j, 'v+cp')) AS BIGINT) AS browse_buy,
        | CAST(len(regexp_extract_all(j, 'pe')) AS BIGINT) AS buy_error,
        | CAST(len(regexp_extract_all(j, 's[^p]*p')) AS BIGINT)
        |  AS signup_convert
        |FROM j""".stripMargin,
    "q227_time_weighted_avg" ->
      """WITH holds AS (
        | SELECT user_id, CAST(round(value * 100) AS BIGINT) AS c,
        |  epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
        |   - epoch_us(ts) AS dt_us
        | FROM events),
        |agg AS (
        | SELECT user_id, CAST(count(*) AS BIGINT) AS n_holds,
        |  CAST(sum(dt_us) AS BIGINT) AS span_us,
        |  sum(CAST(c AS HUGEINT) * dt_us) AS num
        | FROM holds WHERE dt_us IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_holds, span_us,
        | CAST(num * 1000 // CAST(span_us AS HUGEINT) AS BIGINT)
        |  AS twa_millicents
        |FROM agg WHERE span_us > 0""".stripMargin,
    "q213_cohort_ltv" ->
      s"""WITH e AS (
         | SELECT user_id, CAST(ts AS DATE) AS d,
         |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         |cohorts AS (SELECT user_id, min(d) AS cohort_day FROM e GROUP BY 1),
         |sizes AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_users
         |          FROM cohorts GROUP BY 1),
         |daily AS (
         | SELECT c.cohort_day,
         |  CAST(date_diff('day', c.cohort_day, e.d) AS BIGINT) AS age,
         |  CAST(sum(e.cents) AS BIGINT) AS day_cents
         | FROM e JOIN cohorts c USING (user_id)
         | WHERE date_diff('day', c.cohort_day, e.d) <= $LtvHorizonDays
         | GROUP BY 1, 2),
         |cum AS (
         | SELECT cohort_day, age,
         |  sum(day_cents) OVER (PARTITION BY cohort_day ORDER BY age
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents
         | FROM daily)
         |SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day, c.age,
         | s.n_users,
         | CAST(CAST(c.cum_cents AS HUGEINT) // s.n_users AS BIGINT)
         |  AS ltv_cents_per_user
         |FROM cum c JOIN sizes s USING (cohort_day)""".stripMargin,
    "q214_markov_accuracy" ->
      """WITH ev AS (
        | SELECT user_id, event_id, event_type,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |  ('0x' || substr(md5('mkv:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 4
        |   AS split
        | FROM events),
        |b AS (
        | SELECT split,
        |  lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |   AS prev, event_type AS curr
        | FROM ev),
        |bigrams AS (SELECT split, prev, curr FROM b WHERE prev IS NOT NULL),
        |tc AS (SELECT prev, curr, CAST(count(*) AS BIGINT) AS c
        |       FROM bigrams WHERE split < 3 GROUP BY 1, 2),
        |pred AS (
        | SELECT prev, curr AS predicted FROM (
        |  SELECT prev, curr,
        |   row_number() OVER (PARTITION BY prev ORDER BY c DESC, curr) AS rn
        |  FROM tc) WHERE rn = 1)
        |SELECT t.prev, p.predicted, CAST(count(*) AS BIGINT) AS n_test,
        | CAST(sum(CASE WHEN t.curr = p.predicted THEN 1 ELSE 0 END) AS BIGINT)
        |  AS hits,
        | CAST(sum(CASE WHEN t.curr = p.predicted THEN 1 ELSE 0 END) * 1000000
        |   // count(*) AS BIGINT) AS acc_ppm
        |FROM bigrams t JOIN pred p USING (prev)
        |WHERE t.split = 3 GROUP BY 1, 2""".stripMargin,
    "q210_rfm_segments" ->
      s"""WITH e AS (
         | SELECT user_id, CAST(ts AS DATE) AS d,
         |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         |ref AS (SELECT max(d) AS dref FROM e),
         |pu AS (
         | SELECT user_id,
         |  CAST(date_diff('day', max(d), max(dref)) AS BIGINT) AS recency_days,
         |  CAST(count(*) AS BIGINT) AS frequency,
         |  CAST(sum(cents) AS BIGINT) AS monetary_cents
         | FROM e CROSS JOIN ref GROUP BY user_id),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pu),
         |rq AS ${quintileSql("recency_days", "r_q")},
         |fq AS ${quintileSql("frequency", "f_q")},
         |mq AS ${quintileSql("monetary_cents", "m_q")},
         |j AS (
         | SELECT rq.r_q, fq.f_q, mq.m_q, p.frequency, p.monetary_cents
         | FROM pu p
         | JOIN rq ON p.recency_days = rq.v
         | JOIN fq ON p.frequency = fq.v
         | JOIN mq ON p.monetary_cents = mq.v)
         |SELECT r_q, f_q, m_q, CAST(count(*) AS BIGINT) AS n_users,
         | CAST(sum(CAST(frequency AS HUGEINT)) // count(*) AS BIGINT)
         |  AS mean_frequency,
         | CAST(sum(CAST(monetary_cents AS HUGEINT)) // count(*) AS BIGINT)
         |  AS mean_monetary_cents
         |FROM j GROUP BY 1, 2, 3""".stripMargin,
    "q211_transition_dwell" ->
      """WITH ev AS (
        | SELECT user_id, event_id, event_type,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |w AS (
        | SELECT event_type, us,
        |  lag(event_type, 1) OVER uw AS prev,
        |  lag(us, 1) OVER uw AS prev_us
        | FROM ev WINDOW uw AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT prev AS src, event_type AS dst, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST((us - prev_us) // 1000000 AS HUGEINT)) // count(*)
        |  AS BIGINT) AS mean_dwell_s,
        | CAST(min((us - prev_us) // 1000000) AS BIGINT) AS min_dwell_s,
        | CAST(max((us - prev_us) // 1000000) AS BIGINT) AS max_dwell_s
        |FROM w WHERE prev IS NOT NULL GROUP BY 1, 2""".stripMargin,
    "q142_cooccurrence_pmi" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |n AS (SELECT count(DISTINCT user_id) AS nu FROM events),
        |tc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c_single
        |       FROM ut GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |       CAST(count(*) AS BIGINT) AS c_pair
        |      FROM ut a JOIN ut b
        |       ON a.user_id = b.user_id AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT type_a, type_b, ca.c_single AS c_a, cb.c_single AS c_b, c_pair,
        | CAST(round(ln(CAST(c_pair * nu AS DOUBLE)
        |   / CAST(ca.c_single * cb.c_single AS DOUBLE)) * 1000000.0, 0)
        |  AS BIGINT) AS pmi_micro
        |FROM p JOIN tc ca ON p.type_a = ca.event_type
        | JOIN tc cb ON p.type_b = cb.event_type CROSS JOIN n""".stripMargin,
    "q71_sessionize" ->
      """WITH t AS (
        | SELECT user_id, event_id,
        |  CAST(floor(epoch_ms(ts)/1000) AS BIGINT) AS es
        | FROM events),
        |flagged AS (
        | SELECT user_id, event_id, es,
        |  CASE WHEN es - lag(es, 1) OVER w > 1800 THEN 1 ELSE 0 END AS new_sess
        | FROM t WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)),
        |sessions AS (
        | SELECT user_id, es,
        |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY es, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        | FROM flagged)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        | count(*) AS n_events, min(es) AS start_s, max(es) AS end_s,
        | max(es) - min(es) AS duration_s
        |FROM sessions GROUP BY user_id, session_idx""".stripMargin,
    "q72_funnel" ->
      """WITH e AS (
        | SELECT user_id, event_type, CAST(floor(epoch_ms(ts)/1000) AS BIGINT) AS es
        | FROM events),
        |v AS (SELECT user_id, min(es) AS f1 FROM e WHERE event_type='view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(es) AS f2 FROM e JOIN v USING (user_id)
        |      WHERE event_type='click' AND es > f1 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(es) AS f3 FROM e JOIN c USING (user_id)
        |      WHERE event_type='purchase' AND es > f2 GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM v) AS n_view,
        |       (SELECT count(*) FROM c) AS n_click_after,
        |       (SELECT count(*) FROM p) AS n_purchase_after""".stripMargin,
    "q73_retention" ->
      """WITH e AS (
        | SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |cohorts AS (SELECT user_id, min(d) AS cohort_day FROM e GROUP BY user_id),
        |retained AS (
        | SELECT DISTINCT e.user_id FROM e JOIN cohorts USING (user_id)
        | WHERE e.d > cohort_day AND e.d <= cohort_day + INTERVAL 7 DAY)
        |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
        | count(*) AS n_users,
        | CAST(sum(CASE WHEN r.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_retained_7d
        |FROM cohorts c LEFT JOIN retained r ON c.user_id = r.user_id
        |GROUP BY 1""".stripMargin)
}
