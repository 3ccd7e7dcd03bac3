package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.ml.fpm.{FPGrowth, PrefixSpan}
import graft.sources.Tables
import graft.operators.CountMinSketch

/** Pattern-mining family over the events table: frequent itemsets
  * (parallel FP-growth), sequential patterns (PrefixSpan), Count-Min
  * frequency estimation, and interval-concurrency — the association /
  * sketch layer a behavioral analytics engine ships next to the
  * sessionize/funnel/PMI triad in [[Behavioral]].
  *
  * Every query here is DuckDB-oracle-checked, including the mined
  * OUTPUT of the MLlib miners: length-2 itemsets and length-2
  * sequential patterns are exactly re-derivable in ANSI SQL (a
  * self-join on the basket / position table), so the oracle confirms
  * the miners' support counting and threshold semantics
  * (`minCount = ceil(minSupport × n)`), not just row counts.
  */
object Mining {

  /** Pair support sits at 0.128–0.161 across the three scale factors
    * (measured), so 0.143 lands INSIDE the support cluster: the
    * threshold provably discriminates (some pairs survive, some are
    * cut) at sf0.001/sf0.01 while staying non-empty everywhere. Safe
    * for cross-engine compare because both engines threshold the same
    * exact integer counts. */
  val PairMinSupport = 0.143
  /** Sequential-pattern support spans 0.055–0.106 across SFs; 0.084
    * discriminates at sf0.1 and stays non-empty at all three. */
  val SeqMinSupport = 0.084

  /** q156 — frequent event-type pairs via parallel FP-growth (PFP,
    * Li et al. 2008, the algorithm behind `ml.fpm.FPGrowth`): baskets
    * are the distinct event types a user fires in one day.
    *
    * Scale shape: PFP shuffles each basket once, partitioned by item
    * suffix, and mines conditional FP-trees independently per
    * partition — no candidate-generation joins (Apriori's scale
    * killer) and no driver-side tree. Basket construction is one
    * `collect_set` shuffle on (user, day); basket width is bounded by
    * the type alphabet, not event volume.
    *
    * The itemset lattice is mined in full; the query projects the
    * size-2 slice because that slice has an exact ANSI-SQL oracle
    * (basket self-join), which pins FPGrowth's support counts and its
    * `ceil(minSupport · n)` threshold cross-engine. */
  def q156FrequentPairs(s: SparkSession, dir: String): DataFrame =
    q156FrequentPairsOn(Tables.events(s, dir), PairMinSupport)

  /** [[q156FrequentPairs]] over any (user_id, ts, event_type) frame —
    * exposed for the brute-force-comparison spec. */
  def q156FrequentPairsOn(events: DataFrame, minSupport: Double): DataFrame = {
    // PFP scans its input twice (item frequencies, then suffix fan-out);
    // cache the basket frame so the collect_set shuffle runs once. One
    // short array per (user, day) — bounded, spillable, session-lifetime
    // residency is the cheaper side (the q142 cache contract).
    val baskets = events
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(collect_set(col("event_type")).as("items"))
      .cache()
    val model = new FPGrowth()
      .setItemsCol("items")
      .setMinSupport(minSupport)
      // association rules are not consumed; skip that stage's work
      .setMinConfidence(1.0)
      .fit(baskets)
    model.freqItemsets
      .where(size(col("items")) === 2)
      // FPGrowth orders items by descending frequency; re-sort
      // lexically so output is engine-order-independent
      .select(array_sort(col("items")).as("p"), col("freq"))
      .select(element_at(col("p"), 1).as("type_a"),
        element_at(col("p"), 2).as("type_b"),
        col("freq").as("support"))
  }

  /** q157 — Count-Min frequency estimation with an exactness contract
    * (Cormode & Muthukrishnan 2005): sketch the full event stream's
    * user frequencies into a depth×width table (a few KiB), then
    * estimate the true top-20 users and emit estimate, exact count,
    * and the overcount — Count-Min never under-estimates, and the
    * DuckDB oracle replays the identical universal-hash arithmetic so
    * the ESTIMATES are hash-compared, not just the exact counts
    * (same accuracy-contract pattern as q151's HLL store).
    *
    * Scale shape: the sketch build is one map-side-combining shuffle
    * producing ≤ depth·width rows; estimation broadcasts the sketch —
    * the 100 TB side never shuffles for the lookup. */
  def q157CountMinHeavy(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"))
    val sketch = CountMinSketch.build(e, "user_id")
    val top = e.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id"))
      .limit(20)
    CountMinSketch.estimate(sketch, top, "user_id")
      .withColumn("overcount", col("est") - col("n_exact"))
  }

  /** q158 — frequent sequential patterns via PrefixSpan (Pei et al.
    * 2001, `ml.fpm.PrefixSpan`): sequences are one user-day's events
    * in (ts, event_id) order; mined patterns ⟨a, b⟩ = "some a occurs
    * strictly before some b in the same user-day", supported by the
    * fraction of user-day sequences containing the subsequence.
    *
    * Scale shape: PrefixSpan shuffles on pattern prefix and projects
    * databases per prefix partition — never an all-pairs join; the
    * per-sequence work is bounded by sequence length, and
    * `maxPatternLength = 2` caps the lattice depth. Sequence
    * construction is one `sort_array(collect_list(struct))` shuffle —
    * the sort inside the group makes ordering deterministic under ties
    * (event_id is unique).
    *
    * Oracle: length-2 subsequence support is exactly a position-table
    * self-join (`pos_a < pos_b`, DISTINCT per sequence) — ANSI SQL. */
  def q158SeqPatterns(s: SparkSession, dir: String): DataFrame =
    q158SeqPatternsOn(Tables.events(s, dir), SeqMinSupport)

  /** [[q158SeqPatterns]] over any (user_id, ts, event_id, event_type)
    * frame — exposed for the brute-force-comparison spec. */
  def q158SeqPatternsOn(events: DataFrame, minSupport: Double): DataFrame = {
    // PrefixSpan re-reads the input per prefix-growth round; cache the
    // sequence frame so the collect_list shuffle runs once (same bounded
    // cache contract as the FPGrowth baskets above).
    val seqs = events
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(sort_array(collect_list(struct(
        col("ts"), col("event_id"), col("event_type")))).as("evs"))
      .select(expr("transform(evs, e -> array(e.event_type))").as("sequence"))
      .cache()
    new PrefixSpan()
      .setSequenceCol("sequence")
      .setMinSupport(minSupport)
      .setMaxPatternLength(2)
      .findFrequentSequentialPatterns(seqs)
      .where(size(col("sequence")) === 2)
      .select(element_at(element_at(col("sequence"), 1), 1).as("type_a"),
        element_at(element_at(col("sequence"), 2), 1).as("type_b"),
        col("freq").as("support"))
  }

  /** q159 — peak session concurrency per day, the classic sweep-line
    * reduced to relational ops: each session (from the q71 sessionizer)
    * contributes +1 at its start and −1 one second after its inclusive
    * end; net deltas are pre-aggregated per instant (making the running
    * sum tie-free and order-independent), then a per-day cumulative sum
    * peaks at the day's max concurrency. A session is attributed to its
    * START day (documented choice — avoids day-spanning explosion; the
    * metric is "concurrency among sessions opened that day").
    *
    * Scale shape: the sweep is partitioned by day — the running-sum
    * window never sees a global ordering, so no single-partition
    * bottleneck; days are the natural parallelism unit. Day is the
    * epoch-day integer (`start_s div 86400`) — pure integer arithmetic,
    * immune to engine time-zone defaults. */
  def q159Concurrency(s: SparkSession, dir: String): DataFrame =
    q159ConcurrencyOn(Behavioral.q71Sessionize(s, dir))

  /** [[q159Concurrency]] over any (start_s, end_s) session frame —
    * exposed for planted-interval specs. */
  def q159ConcurrencyOn(sessions: DataFrame): DataFrame = {
    val sess = sessions.select(col("start_s"), col("end_s"))
    val deltas = sess.select(expr("start_s div 86400").as("day_idx"),
        col("start_s").as("t"), lit(1L).as("delta"))
      .unionByName(sess.select(expr("start_s div 86400").as("day_idx"),
        (col("end_s") + 1L).as("t"), lit(-1L).as("delta")))
    val net = deltas.groupBy("day_idx", "t").agg(sum("delta").as("net"))
    val byDay = Window.partitionBy("day_idx").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    net.withColumn("conc", sum("net").over(byDay))
      .groupBy("day_idx")
      .agg(max("conc").as("max_concurrent"), count(lit(1)).as("n_points"))
  }

  /** q160 — sorted-neighborhood record linkage (Hernández & Stolfo
    * 1995), the OTHER canonical blocking scheme next to q62's
    * LSH-banded candidates: sort records by a normalized key inside a
    * coarse block, compare each record only to its next `w` neighbors
    * in key order, verify with exact edit distance. O(n·w) comparisons
    * instead of O(n²).
    *
    * Scale shape: the sort is PARTITIONED by (source, lang) — the
    * window never needs a global ordering, so no single-partition
    * bottleneck; the per-block sort is the same shuffle a groupBy
    * would pay. `lead()` materializes each candidate pair once;
    * `levenshtein` is codegen'd. (The classic recall caveat applies
    * and is documented, not hidden: near-dups straddling a block
    * boundary need a second pass with a rotated key.) */
  def q160SortedNeighborhood(s: SparkSession, dir: String): DataFrame =
    q160SortedNeighborhoodOn(Tables.documents(s, dir))

  /** Sorted-neighborhood candidate pairs within (source, lang) blocks
    * on the lowercased `prefixLen`-char text prefix: (a_id, b_id, k_a,
    * k_b) for every lead offset 1..window — the shared O(n·w) pair
    * scaffold under q160 (levenshtein ranking), q276 (scheme
    * evaluation), and q278 (Damerau–Levenshtein typo canopy). */
  private[queries] def neighborPairs(docs: DataFrame, window: Int,
      prefixLen: Int): DataFrame = {
    val keyed = docs.select(col("doc_id"),
      lower(substring(col("text"), 1, prefixLen)).as("k"),
      col("source"), col("lang"))
    val byBlock = Window.partitionBy("source", "lang").orderBy("k", "doc_id")
    val withLeads = keyed.select(
      col("doc_id") +: col("k") +:
        (1 to window).flatMap(o => Seq(
          lead("doc_id", o).over(byBlock).as(s"__id$o"),
          lead("k", o).over(byBlock).as(s"__k$o"))): _*)
    (1 to window).map(o =>
      withLeads.where(col(s"__id$o").isNotNull)
        .select(col("doc_id").as("a_id"), col(s"__id$o").as("b_id"),
          col("k").as("k_a"), col(s"__k$o").as("k_b")))
      .reduce(_ unionByName _)
  }

  /** [[q160SortedNeighborhood]] over any (doc_id, text, source, lang)
    * frame — exposed for planted-duplicate specs. */
  def q160SortedNeighborhoodOn(docs: DataFrame, window: Int = 2,
      maxDist: Int = 12): DataFrame =
    neighborPairs(docs, window, 24)
      .select(col("a_id"), col("b_id"),
        levenshtein(col("k_a"), col("k_b")).cast("long").as("edit_dist"))
      .where(col("edit_dist") <= maxDist)

  /** q161 — join-size pre-flight audit: the exact output cardinality
    * and per-key contribution profile of `orders ⋈ lineitem` computed
    * WITHOUT running the join — two per-key count aggregations (output
    * is key-cardinality-sized, a fraction of the join's own shuffle)
    * joined on the key histogram. At 100 TB this is the go/no-go check
    * before a fact-fact join: `total_join_rows` says whether the
    * output explodes, and the top contributors name the skewed keys a
    * salting pass must split.
    * Products are widened to decimal(38,0) before the integral divide
    * — two 1e10-row hot sides would overflow a Long contribution (the
    * q144 lesson, applied two-sided). */
  def q161JoinSizeAudit(s: SparkSession, dir: String): DataFrame =
    q161JoinSizeAuditOn(
      Tables.orders(s, dir).select(col("o_orderkey").as("k")),
      Tables.lineitem(s, dir).select(col("l_orderkey").as("k")))

  /** [[q161JoinSizeAudit]] over any two single-column key frames —
    * exposed for planted-histogram specs. */
  def q161JoinSizeAuditOn(left: DataFrame, right: DataFrame): DataFrame = {
    val o = left.groupBy("k").agg(count(lit(1)).as("c_left"))
    val l = right.groupBy("k").agg(count(lit(1)).as("c_right"))
    val joined = o.join(l, "k")
      .withColumn("contrib",
        expr("cast(cast(c_left as decimal(38,0)) * c_right as bigint)"))
    val stats = joined
      .agg(sum(expr("cast(c_left as decimal(38,0)) * c_right")).as("t"),
        count(lit(1)).as("n_shared_keys"))
      .select(expr("cast(t as bigint)").as("total_join_rows"),
        col("n_shared_keys"))
    joined.orderBy(col("contrib").desc, col("k")).limit(10)
      .crossJoin(broadcast(stats))
      .select(col("k").as("orderkey"), col("c_left"), col("c_right"),
        col("contrib"),
        expr("cast(cast(contrib as decimal(38,0)) * 1000000 div total_join_rows as bigint)")
          .as("contrib_ppm"),
        col("total_join_rows"), col("n_shared_keys"))
  }

  /** Jaccard threshold for [[q183PrefixJoin]] (micro-units). */
  val PrefixTau = 500000L

  /** q183 — EXACT set-similarity self-join via prefix filtering
    * (Chaudhuri et al. 2006 SSJoin / Xiao et al. PPJoin): every doc
    * pair with token-set Jaccard ≥ 0.5, with a correctness GUARANTEE —
    * the third canonical blocking scheme, completing the triad: LSH
    * banding (q31/q53) is probabilistic, sorted-neighborhood (q160)
    * trades recall at block boundaries; prefix filtering is exact. Each
    * doc's tokens order by (global df, token) — rarest first — and only
    * its first `n − ⌈τ·n⌉ + 1` tokens (pure integer: `n − (n+1) div 2
    * + 1` at τ = 1/2) emit as candidate keys: the theorem says two sets
    * with Jaccard ≥ τ MUST share a prefix token under any common total
    * order, and the df-ascending order makes those keys the RAREST
    * tokens, which is what bounds the join fan-out.
    *
    * Scale shape: one df histogram (combinable), one per-doc window
    * shuffle for the prefix rank, a hash self-join keyed on rare tokens
    * only (plus the SSJoin length filter — sets with Jaccard ≥ τ have
    * sizes within a τ factor), exact verification by the native O(n+m)
    * merge walk on the candidate sliver. The exactness spec proves
    * equality with the brute-force all-pairs join.
    *
    * Degenerate-vocab caveat (the minhash ScaleSmoke lesson, exact-join
    * edition): candidate volume is Σ_prefix-token df², which is small
    * precisely when vocabularies obey Heaps' law. On the synthetic
    * testdata (31 distinct tokens over 5k docs) nearly every pair truly
    * clears τ = 0.5, so the output itself is near-quadratic and the
    * exact join runs output-proportional (~11M candidates at sf0.1) —
    * no exact algorithm does better when the answer is that large. On
    * such corpora use the banded q31/q53 path with a threshold, or
    * block on (source, lang) first. */
  def q183PrefixJoin(s: SparkSession, dir: String): DataFrame =
    q183PrefixJoinOn(Tables.documents(s, dir))

  /** Default candidate budget for [[q183PrefixJoinOn]]: the sf0.1
    * synthetic corpus (31-token vocabulary — the documented degenerate
    * case, deliberately kept runnable as the output-bound stress row)
    * measures a pre-filter fan-out of ~113M, so the default sits above
    * it; a corpus quadratic enough to clear 250M pairs is past the
    * point where an exact self-join is a defensible plan without a
    * deliberate override. */
  val PrefixPairBudget = 250000000L

  /** The exact candidate-pair fan-out of a prefix table: Σ over
    * prefix tokens of c·(c−1)/2 — one combinable aggregate over
    * per-token counts, NO pair ever materializes. This is the q161
    * join-size-audit discipline applied as a PRE-FLIGHT: it upper-
    * bounds the true ≥τ pair count (every qualifying pair shares a
    * prefix token by the theorem), so a prediction under budget
    * proves the join safe and a prediction over it refuses before
    * any pairing job runs. */
  private[queries] def prefixFanout(pref: DataFrame): Long = {
    val fanout = pref.groupBy("tok")
      .agg(count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) div 2")).as("pairs"))
      .collect()(0)
    if (fanout.isNullAt(0)) 0L else fanout.getLong(0)
  }

  /** The q183 pre-flight alone — the predicted candidate-pair count
    * for `docs`, computed exactly as [[q183PrefixJoinOn]] computes it
    * before deciding to run (exposed for audits and the predicted-vs-
    * true spec). */
  def q183Preflight(docs0: DataFrame): Long =
    prefixFanout(prefixTable(sortedTokens(docs0)))

  /** `(doc_id, toks)`: each non-null doc's distinct tokens, sorted. */
  private def sortedTokens(docs0: DataFrame): DataFrame =
    docs0.where(col("text").isNotNull)
      .select(col("doc_id"),
        sort_array(graft.functions.TextFunctions.distinctTokens(col("text"))).as("toks"))

  /** q183's prefix table `(tok, doc_id, n)` over a [[sortedTokens]]
    * frame: each doc's first `n − (n+1) div 2 + 1` tokens in (global
    * df, token) order, with its token count `n`. */
  private def prefixTable(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(col("toks")).as("tok"))
    val dfreq = tok.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("tok"))
    tok.join(dfreq, "tok")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .where(col("rn") <= col("n") - expr("(n + 1) div 2") + 1)
      .select(col("tok"), col("doc_id"), col("n"))
  }

  /** [[q183PrefixJoin]] over any (doc_id, text) frame.
    *
    * `pairBudget` is the 100 TB safety rail the scaladoc caveat above
    * calls for: before the candidate self-join runs, its EXACT fan-out
    * (Σ over prefix tokens of cnt·(cnt−1)/2 — one cheap agg over the
    * already-cached prefix table) is checked against the budget, and a
    * corpus degenerate enough to exceed it fails LOUDLY with a pointer
    * to the bounded alternatives instead of launching an output-volume
    * job no cluster should run unreviewed. */
  def q183PrefixJoinOn(docs0: DataFrame,
      pairBudget: Long = PrefixPairBudget): DataFrame = {
    val docs = sortedTokens(docs0).cache()
    // cached: the candidate self-join references pref on BOTH sides,
    // and recomputing it costs a df join + per-doc window sort each time
    val pref = prefixTable(docs).cache()
    // pair-budget rail: the join's exact pre-filter fan-out, computed
    // from per-token prefix counts BEFORE any pair exists
    val nPairs = prefixFanout(pref)
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"q183 pre-flight: candidate fan-out $nPairs pairs " +
        s"(budget $pairBudget)")
    if (nPairs > pairBudget)
      throw new IllegalStateException(
        s"q183 prefix join: candidate fan-out $nPairs exceeds the " +
          s"pair budget $pairBudget — the corpus vocabulary is too " +
          "degenerate for an exact set-similarity self-join (the answer " +
          "itself is near-quadratic). Use the banded LSH path " +
          "(Dedup.minhashLshKeep / q31) or block on a coarse key " +
          "(source, lang) first, or raise pairBudget deliberately.")
    // length filter (SSJoin): Jaccard >= tau forces tau*|A| <= |B| <= |A|/tau,
    // so size-incompatible pairs prune INSIDE the token join, before the
    // distinct — a necessary condition, exactness untouched
    val cand = pref.select(col("tok"), col("doc_id").as("a_id"), col("n").as("na"))
      .join(pref.select(col("tok"), col("doc_id").as("b_id"), col("n").as("nb")), "tok")
      .where(col("a_id") < col("b_id") &&
        col("nb") * 2 >= col("na") && col("na") * 2 >= col("nb"))
      .select("a_id", "b_id").distinct()
    cand
      .join(docs.select(col("doc_id").as("a_id"), col("toks").as("a_toks")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("toks").as("b_toks")), "b_id")
      .withColumn("o", call_function("graft_intersect_size",
        col("a_toks"), col("b_toks")).cast("long"))
      .withColumn("jacc_micro",
        expr("o * 1000000 div (size(a_toks) + size(b_toks) - o)"))
      .where(col("jacc_micro") >= PrefixTau)
      .select(col("a_id"), col("b_id"), col("jacc_micro"))
  }

  /** q276 — blocking-quality evaluation of q160's sorted-neighborhood
    * scheme: pairs completeness (what fraction of true same-key pairs
    * the blocking surfaces as candidates) and reduction ratio (what
    * fraction of the n² comparison space it prunes) — the two numbers
    * Christen's record-linkage methodology says every blocking scheme
    * must report before anyone trusts its matches. Truth here = pairs
    * sharing the normalized 24-char key q160 itself sorts on, so the
    * read-out isolates the SCHEME's loss (window misses inside big tie
    * groups and — dominant on this corpus, by construction — true
    * pairs straddling the (source, lang) block partition: completeness
    * ~2-4% at 99.4%+ reduction, the classic "rotate the blocking key /
    * add a pass" signal made measurable).
    *
    * Scale shape: truth rides the key histogram (one self-join keyed
    * on the 24-char key — group-size-bounded, the standard caveat that
    * truth-pair enumeration is quadratic in a tie group documented at
    * the operator); candidates are q160's O(n·w); the intersection is
    * one hash semi-join on the normalized pair id. The reduction
    * denominator n·(n−1)/2 is exact through `div` up to ~4.3e6 docs —
    * decimal-stage it beyond (the q224 rescale rule). */
  def q276BlockingQuality(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).where(col("text").isNotNull).cache()
    val keyed = docs
      .select(col("doc_id"), lower(substring(col("text"), 1, 24)).as("k"))
    val truth = keyed.select(col("doc_id").as("ta"), col("k"))
      .join(keyed.select(col("doc_id").as("tb"), col("k")), "k")
      .where(col("ta") < col("tb"))
      .select("ta", "tb")
    // window pairs only — maxDist = 24 keeps every candidate (the keys
    // are 24 chars, so no levenshtein can exceed it)
    val cand = q160SortedNeighborhoodOn(docs, 2, 24)
      .select(least(col("a_id"), col("b_id")).as("ca"),
        greatest(col("a_id"), col("b_id")).as("cb"))
    val found = truth
      .join(cand, col("ta") === col("ca") && col("tb") === col("cb"),
        "left_semi")
    graft.operators.SmallResult.materialize(
      truth.agg(count(lit(1)).as("n_truth_pairs"))
        .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidates"))))
        .crossJoin(broadcast(found.agg(count(lit(1)).as("n_found"))))
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
        .withColumn("c2", expr("cast(n as decimal(38,0)) * (n - 1) div 2"))
        .select(col("n_truth_pairs"), col("n_candidates"), col("n_found"),
          when(col("n_truth_pairs") === 0, lit(null))
            .otherwise(
              expr("cast(n_found * 1000000 div n_truth_pairs as bigint)"))
            .cast("long").as("completeness_ppm"),
          expr("""cast(cast(c2 - n_candidates as decimal(38,0)) * 1000000
                 | div c2 as bigint)""".stripMargin).as("reduction_ppm")),
      docs)
  }

  /** Canopy prefix width (chars) and the admission threshold (edits)
    * for [[q278TypoCanopy]]. */
  val TypoPrefixLen = 40
  val TypoMaxEdits = 16

  /** q278 — typo-canopy audit: transposition-aware edit distance over
    * the sorted-neighborhood candidate pairs, via the native
    * [[graft.plans.DamerauLevenshteinExpr]] (`graft_damerau`). Plain
    * levenshtein (what q160 ranks by) double-charges the single most
    * common human typo class — adjacent transpositions ("recieve",
    * "hte") — so a levenshtein-calibrated threshold either misses
    * transposed near-dups or over-admits; full Damerau–Levenshtein
    * prices them at 1. The expression is codegen'd (a UDF here would
    * break whole-stage codegen inside the hottest pair loop) and
    * byte-compatible with DuckDB's `damerau_levenshtein`, so this
    * query is an engine-vs-engine oracle on the native expression over
    * every candidate pair.
    *
    * Scale shape: candidates are q160's O(n·w) sorted-neighborhood
    * pairs (one window over (source, lang) blocks — no self-join, no
    * n²); the distance runs on [[TypoPrefixLen]]-char prefixes, so the
    * per-pair DP matrix is a bounded 42×42 — and the expression throws
    * rather than degrade onto unbounded text. */
  def q278TypoCanopy(s: SparkSession, dir: String): DataFrame =
    neighborPairs(Tables.documents(s, dir).where(col("text").isNotNull),
        window = 2, prefixLen = TypoPrefixLen)
      .select(col("a_id"), col("b_id"),
        expr("graft_damerau(k_a, k_b)").cast("long").as("dl"))
      .where(col("dl") <= TypoMaxEdits)

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q278_typo_canopy" -> (q278TypoCanopy _),
    "q276_blocking_quality" -> (q276BlockingQuality _),
    "q183_prefix_join" -> (q183PrefixJoin _),
    "q156_frequent_pairs" -> (q156FrequentPairs _),
    "q157_countmin_heavy" -> (q157CountMinHeavy _),
    "q158_seq_patterns" -> (q158SeqPatterns _),
    "q159_concurrency" -> (q159Concurrency _),
    "q160_sorted_neighborhood" ->
      ((s: SparkSession, d: String) => q160SortedNeighborhood(s, d)),
    "q161_join_size_audit" -> (q161JoinSizeAudit _))

  val oracles: Map[String, String] = Map(
    "q278_typo_canopy" ->
      s"""WITH d AS (
        | SELECT doc_id, source, lang,
        |  lower(substr(text, 1, $TypoPrefixLen)) AS k
        | FROM documents WHERE text IS NOT NULL),
        |srt AS (
        | SELECT doc_id, k, source, lang,
        |  row_number() OVER (PARTITION BY source, lang ORDER BY k, doc_id)
        |   AS rn
        | FROM d)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        | CAST(damerau_levenshtein(a.k, b.k) AS BIGINT) AS dl
        |FROM srt a JOIN srt b ON a.source = b.source AND a.lang = b.lang
        | AND b.rn - a.rn BETWEEN 1 AND 2
        |WHERE damerau_levenshtein(a.k, b.k) <= $TypoMaxEdits""".stripMargin,
    "q276_blocking_quality" ->
      """WITH d AS (
        | SELECT doc_id, source, lang, lower(substr(text, 1, 24)) AS k
        | FROM documents WHERE text IS NOT NULL),
        |truth AS (
        | SELECT a.doc_id AS ta, b.doc_id AS tb
        | FROM d a JOIN d b ON a.k = b.k AND a.doc_id < b.doc_id),
        |srt AS (
        | SELECT doc_id, source, lang,
        |  row_number() OVER (PARTITION BY source, lang ORDER BY k, doc_id)
        |   AS rn
        | FROM d),
        |cand AS (
        | SELECT least(a.doc_id, b.doc_id) AS ca,
        |  greatest(a.doc_id, b.doc_id) AS cb
        | FROM srt a JOIN srt b ON a.source = b.source AND a.lang = b.lang
        |  AND b.rn - a.rn BETWEEN 1 AND 2),
        |counts AS (
        | SELECT (SELECT count(*) FROM truth) AS t,
        |  (SELECT count(*) FROM cand) AS c,
        |  (SELECT count(*) FROM truth JOIN cand ON ta = ca AND tb = cb) AS f,
        |  (SELECT count(*) FROM d) AS n)
        |SELECT CAST(t AS BIGINT) AS n_truth_pairs,
        | CAST(c AS BIGINT) AS n_candidates, CAST(f AS BIGINT) AS n_found,
        | CASE WHEN t > 0
        |  THEN CAST(CAST(f AS HUGEINT) * 1000000 // t AS BIGINT)
        | END AS completeness_ppm,
        | CAST((CAST(n AS HUGEINT) * (n - 1) // 2 - c) * 1000000
        |  // (CAST(n AS HUGEINT) * (n - 1) // 2) AS BIGINT) AS reduction_ppm
        |FROM counts""".stripMargin,
    "q183_prefix_join" ->
      s"""WITH d AS (
        | SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS toks
        | FROM documents WHERE text IS NOT NULL),
        |tok AS (SELECT doc_id, unnest(toks) AS tok FROM d),
        |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tok GROUP BY 1),
        |ordered AS (
        | SELECT t.doc_id, t.tok,
        |  row_number() OVER (PARTITION BY t.doc_id ORDER BY f.df, t.tok) AS rn,
        |  count(*) OVER (PARTITION BY t.doc_id) AS n
        | FROM tok t JOIN dfreq f ON t.tok = f.tok),
        |pref AS (SELECT doc_id, tok, n FROM ordered WHERE rn <= n - (n + 1) // 2 + 1),
        |cand AS (
        | SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        | FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  AND 2 * b.n >= a.n AND 2 * a.n >= b.n),
        |ver AS (
        | SELECT c.a_id, c.b_id,
        |  CAST(len(list_intersect(da.toks, db.toks)) AS BIGINT) AS o,
        |  CAST(len(da.toks) AS BIGINT) AS na, CAST(len(db.toks) AS BIGINT) AS nb
        | FROM cand c JOIN d da ON c.a_id = da.doc_id JOIN d db ON c.b_id = db.doc_id)
        |SELECT a_id, b_id,
        | CAST(o * 1000000 // (na + nb - o) AS BIGINT) AS jacc_micro
        |FROM ver WHERE o * 1000000 // (na + nb - o) >= $PrefixTau""".stripMargin,
    "q156_frequent_pairs" ->
      """WITH b AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
        |           FROM events),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nb
        |      FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) FROM events)),
        |p AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
        |       CAST(count(*) AS BIGINT) AS support
        |      FROM b x JOIN b y
        |       ON x.user_id = y.user_id AND x.d = y.d
        |        AND x.event_type < y.event_type
        |      GROUP BY 1, 2)
        |SELECT type_a, type_b, support FROM p CROSS JOIN n
        |WHERE support >= ceil(0.143 * nb)""".stripMargin,
    "q157_countmin_heavy" ->
      """WITH cm AS (
        | SELECT i, bucket, CAST(count(*) AS BIGINT) AS c FROM (
        |  SELECT 0 AS i, ((user_id * 1000003 + 12345) % 2147483647) % 1024
        |    AS bucket FROM events
        |  UNION ALL
        |  SELECT 1, ((user_id * 2000003 + 67890) % 2147483647) % 1024
        |   FROM events
        |  UNION ALL
        |  SELECT 2, ((user_id * 3000017 + 13579) % 2147483647) % 1024
        |   FROM events)
        | GROUP BY 1, 2),
        |top AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact
        |        FROM events GROUP BY 1
        |        ORDER BY n_exact DESC, user_id LIMIT 20)
        |SELECT t.user_id, t.n_exact,
        | least(c0.c, c1.c, c2.c) AS est,
        | least(c0.c, c1.c, c2.c) - t.n_exact AS overcount
        |FROM top t
        |JOIN cm c0 ON c0.i = 0
        | AND c0.bucket = ((t.user_id * 1000003 + 12345) % 2147483647) % 1024
        |JOIN cm c1 ON c1.i = 1
        | AND c1.bucket = ((t.user_id * 2000003 + 67890) % 2147483647) % 1024
        |JOIN cm c2 ON c2.i = 2
        | AND c2.bucket = ((t.user_id * 3000017 + 13579) % 2147483647) % 1024""".stripMargin,
    "q158_seq_patterns" ->
      """WITH s AS (SELECT user_id, CAST(ts AS DATE) AS d, event_type,
        |        row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                           ORDER BY ts, event_id) AS pos
        |       FROM events),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS ns
        |      FROM (SELECT DISTINCT user_id, d FROM s)),
        |pr AS (SELECT DISTINCT x.user_id, x.d,
        |        x.event_type AS type_a, y.event_type AS type_b
        |       FROM s x JOIN s y
        |        ON x.user_id = y.user_id AND x.d = y.d AND x.pos < y.pos),
        |g AS (SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS support
        |      FROM pr GROUP BY 1, 2)
        |SELECT type_a, type_b, support FROM g CROSS JOIN n
        |WHERE support >= ceil(0.084 * ns)""".stripMargin,
    "q159_concurrency" ->
      """WITH t AS (
        | SELECT user_id, event_id,
        |  CAST(floor(epoch_ms(ts)/1000) AS BIGINT) AS es
        | FROM events),
        |flagged AS (
        | SELECT user_id, event_id, es,
        |  CASE WHEN es - lag(es, 1) OVER w > 1800 THEN 1 ELSE 0 END AS new_sess
        | FROM t WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)),
        |sess0 AS (
        | SELECT user_id, es,
        |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY es, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sidx
        | FROM flagged),
        |sessions AS (
        | SELECT user_id, sidx, min(es) AS start_s, max(es) AS end_s
        | FROM sess0 GROUP BY 1, 2),
        |deltas AS (
        | SELECT start_s // 86400 AS day_idx, start_s AS t, 1 AS delta
        | FROM sessions
        | UNION ALL
        | SELECT start_s // 86400 AS day_idx, end_s + 1 AS t, -1 AS delta
        | FROM sessions),
        |net AS (SELECT day_idx, t, CAST(sum(delta) AS BIGINT) AS net
        |        FROM deltas GROUP BY 1, 2),
        |c AS (SELECT day_idx, t,
        |       sum(net) OVER (PARTITION BY day_idx ORDER BY t
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |      FROM net)
        |SELECT day_idx, CAST(max(conc) AS BIGINT) AS max_concurrent,
        | CAST(count(*) AS BIGINT) AS n_points
        |FROM c GROUP BY 1""".stripMargin,
    "q160_sorted_neighborhood" ->
      """WITH keyed AS (
        | SELECT doc_id, lower(substring(text, 1, 24)) AS k, source, lang
        | FROM documents),
        |leads AS (
        | SELECT doc_id, k,
        |  lead(doc_id, 1) OVER w AS id1, lead(k, 1) OVER w AS k1,
        |  lead(doc_id, 2) OVER w AS id2, lead(k, 2) OVER w AS k2
        | FROM keyed
        | WINDOW w AS (PARTITION BY source, lang ORDER BY k, doc_id)),
        |pairs AS (
        | SELECT doc_id AS a_id, id1 AS b_id,
        |  CAST(levenshtein(k, k1) AS BIGINT) AS edit_dist
        | FROM leads WHERE id1 IS NOT NULL
        | UNION ALL
        | SELECT doc_id AS a_id, id2 AS b_id,
        |  CAST(levenshtein(k, k2) AS BIGINT) AS edit_dist
        | FROM leads WHERE id2 IS NOT NULL)
        |SELECT a_id, b_id, edit_dist FROM pairs
        |WHERE edit_dist <= 12""".stripMargin,
    "q161_join_size_audit" ->
      """WITH o AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS c_left
        |           FROM orders GROUP BY 1),
        |l AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS c_right
        |      FROM lineitem GROUP BY 1),
        |j AS (SELECT o.k, c_left, c_right,
        |       CAST(c_left * c_right AS BIGINT) AS contrib
        |      FROM o JOIN l USING (k)),
        |st AS (SELECT CAST(sum(contrib) AS BIGINT) AS total_join_rows,
        |       CAST(count(*) AS BIGINT) AS n_shared_keys FROM j)
        |SELECT k AS orderkey, c_left, c_right, contrib,
        | CAST(contrib * 1000000 // total_join_rows AS BIGINT) AS contrib_ppm,
        | total_join_rows, n_shared_keys
        |FROM (SELECT * FROM j ORDER BY contrib DESC, k LIMIT 10) t
        |CROSS JOIN st""".stripMargin)
}
