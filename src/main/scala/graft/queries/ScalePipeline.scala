package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => V}
import graft.sources.Tables

/** Scale-pipeline operators: the remaining building blocks a 100 TB
  * training-data / analytics pipeline needs beyond dedup + curation —
  * deterministic stratified sampling, as-of (temporal nearest) joins,
  * concat-and-chunk sequence packing, BM25 relevance, and
  * temperature-based source mixture weighting. All five are
  * DuckDB-oracle-checked and shaped for scale: sampling is a pure filter
  * (zero shuffles), as-of is ONE hash shuffle (no range-join pair
  * explosion), packing is a per-shard window, BM25 is a narrow map plus
  * one tiny broadcast of global stats, mixture weighting aggregates to
  * #sources rows.
  */
object ScalePipeline {

  /** Deterministic hash bucket in [0, 100) — see
    * [[graft.functions.TextFunctions.hashMod]], the one definition.
    * Sampling by hash instead of rand() is reproducible across runs,
    * engines, and retries — a hard requirement for training-data lineage. */
  private def hashPct(salt: String, id: Column): Column =
    graft.functions.TextFunctions.hashMod(salt, id, 100)

  /** q74 — stratified downsampling to rebalance the language mix: keep
    * p_lang% of each stratum, chosen by a deterministic per-doc hash.
    * A pure filter over the scan — zero shuffles, trivially parallel at
    * any scale, and the same docs survive on every engine/run (no rand()).
    * (Rebalancing lang/source mixes is a standard LLM-corpus step.) */
  def q74StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val rate = when(col("lang") === "en", 40)
      .when(col("lang") === "zh", 80)
      .otherwise(100)
    Tables.documents(s, dir)
      .where(hashPct("smp:", col("doc_id")) < rate)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** q98 — deterministic train/val/test split (90/5/5): each doc's split
    * is a pure function of its id, so the assignment is reproducible
    * across runs, engines, and retries, and any doc's membership is
    * auditable without the split job's output — the lineage property
    * training pipelines require (a rand() split has none of it). A pure
    * narrow map: zero shuffles at any scale. */
  def q98TrainSplit(s: SparkSession, dir: String): DataFrame = {
    val pct = hashPct("split:", col("doc_id"))
    Tables.documents(s, dir).select(col("doc_id"),
      when(pct < 90, "train").when(pct < 95, "val").otherwise("test")
        .as("split"))
  }

  /** Sample size for [[q102BottomkSample]]. */
  val BottomK = 8

  /** q102 — deterministic bottom-k sample per group: the k docs whose
    * salted md5 is smallest. Unlike rand()-reservoirs this is a pure
    * FUNCTION of the ids — reproducible across runs/engines (oracle
    * hash-checks it exactly), MERGEABLE (bottom-k of a union = bottom-k
    * of the parts' bottom-ks — how per-partition/per-day samples combine
    * without resampling), and doubles as a KMV distinct-count sketch.
    * One WindowGroupLimit-pruned shuffle. */
  def q102BottomkSample(s: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(concat(lit("bk:"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    val w = Window.partitionBy("source").orderBy(col("__h"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), h.as("__h"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= BottomK)
      .select(col("source"), col("doc_id"), col("rank").cast("int").as("rank"))
  }

  /** Sample size for [[q126WeightedSample]]. */
  val WeightedK = 8

  /** q126 — deterministic WEIGHTED sample per group (Efraimidis &
    * Spirakis 2006): each doc draws an exponential key with rate = its
    * weight (token count here) from a salted-md5 uniform, and the k
    * smallest keys per source win — inclusion probability ∝ weight,
    * with q102's engineering properties intact: a pure function of the
    * ids (reproducible across runs/engines/retries, no rand()), and
    * MERGEABLE (bottom-k by key of a union = bottom-k of the parts'
    * bottom-ks), so per-partition samples combine without resampling.
    *
    * Determinism across engines: u = (h52 + 1) / 2^52 is EXACT in
    * binary (power-of-two divisor), ln(u) is snapped to integer
    * micro-nats, and the key is that integer divided by the integer
    * weight — the same two operands in both engines, hence the same
    * IEEE double, hence the same ranking. One WindowGroupLimit-pruned
    * shuffle on (source). */
  def q126WeightedSampleOn(docs: DataFrame, k: Int = WeightedK): DataFrame = {
    val h = conv(substring(md5(concat(lit("ws:"),
      col("doc_id").cast("string"))), 1, 13), 16, 10).cast("long")
    val u = (h + lit(1L)).cast("double") / lit(4503599627370496.0) // 2^52
    val eMicro = (-round(log(u) * 1e6, 0).cast("long")).as("__e")
    val wTok = size(split(col("text"), " ")).cast("long")
    // nulls LAST explicitly: a null text nulls the key, and Spark's
    // default ASC NULLS FIRST would hand it rank 1 while DuckDB ranks
    // it beyond k — the one ordering divergence between the engines
    val bySrc = Window.partitionBy("source")
      .orderBy(col("__key").asc_nulls_last, col("doc_id"))
    docs
      .select(col("source"), col("doc_id"), wTok.as("w_tokens"), eMicro)
      .withColumn("__key", col("__e").cast("double") / col("w_tokens"))
      .withColumn("rank", row_number().over(bySrc))
      .where(col("rank") <= k)
      .select(col("source"), col("doc_id"), col("w_tokens"),
        col("rank").cast("int").as("rank"))
  }

  def q126WeightedSample(s: SparkSession, dir: String): DataFrame =
    q126WeightedSampleOn(Tables.documents(s, dir))

  /** q75 — as-of join (temporal nearest, the classic operator Spark has
    * no built-in for): attribute every click to the same user's most
    * recent purchase at-or-before it. Implemented as ONE window over the
    * event stream — `last(purchase, ignoreNulls)` over (user, time) —
    * i.e. one hash shuffle on user_id and a per-user sort; never the
    * O(clicks × purchases) pair blow-up of an inequality range join.
    * Event timestamps are unique at microsecond precision (verified on
    * the corpus); event_id tiebreaks deterministically regardless. */
  def q75AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isPurch = col("event_type") === "purchase"
    Tables.events(s, dir)
      .withColumn("p_ts", last(when(isPurch, col("ts")), ignoreNulls = true).over(w))
      .withColumn("p_value", last(when(isPurch, col("value")), ignoreNulls = true).over(w))
      .where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
        date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        (unix_micros(col("ts")) - unix_micros(col("p_ts"))).as("delta_us"),
        col("p_value").as("purchase_value"))
  }

  /** Tokens-per-sequence budget for [[q76PackSequences]]. */
  val PackBudget = 512

  /** q76 — concat-and-chunk sequence packing: assign every doc a
    * (training-sequence id, offset) by cumulative token count within its
    * source shard — the standard way LLM pipelines pack variable-length
    * docs into fixed-length training rows (concatenate, then cut every
    * `budget` tokens; docs may straddle a cut). Pure integer window math
    * partitioned by source: shards pack independently and in parallel,
    * so the plan is one shuffle and scales with shard count. */
  def q76PackSequences(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).as("n_tokens"))
      .withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        floor(col("start_tok") / PackBudget).as("seq_id"),
        pmod(col("start_tok"), lit(PackBudget)).as("seq_offset"))
  }

  /** BM25 hyperparameters (standard defaults). */
  private val K1 = 1.2
  private val B = 0.75
  /** The fixed query terms for q77 (high-df corpus tokens). */
  val Bm25Terms: Seq[String] = Seq("join", "hash", "filter")

  /** q77 — BM25 relevance of every document to a fixed query. Shape:
    * one narrow map computes per-term tf + doc length (tokens split
    * ONCE per row via an attribute boundary), one tiny global aggregate
    * yields (N, Σdl, df_t) which cross-joins back as a broadcast single
    * row — the corpus never shuffles. The idf/tf formula is written with
    * the same association order in both engines so doubles match before
    * the final round. */
  def q77Bm25(s: SparkSession, dir: String): DataFrame =
    bm25Raw(s, dir)
      .select(col("doc_id") +: col("dl") +:
        Bm25Terms.indices.map(i => col(s"tf$i")) :+
        round(col("__bm25"), 4).as("bm25"): _*)

  /** Matching docs with the RAW (unrounded) BM25 score `__bm25` —
    * [[q77Bm25]] rounds it for presentation, [[q148HybridRrf]] ranks on
    * it. One narrow tf map + one broadcast single-row stats join. */
  private def bm25Raw(s: SparkSession, dir: String): DataFrame = {
    val withTf = Tables.documents(s, dir)
      .withColumn("__toks", split(col("text"), " "))
      .select(col("doc_id") +: size(col("__toks")).as("dl") +:
        Bm25Terms.zipWithIndex.map { case (t, i) =>
          size(filter(col("__toks"), x => x === lit(t))).as(s"tf$i")
        }: _*)
    val stats = withTf.agg(
      count(lit(1)).as("n"),
      sum(col("dl")).as("sum_dl") +:
        Bm25Terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*)
    val term = Bm25Terms.indices.map { i =>
      val tf = col(s"tf$i").cast("double")
      val idf = log((col("n") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5) + 1.0)
      val norm = tf + lit(K1) * (lit(1 - B) + lit(B) * col("dl") /
        (col("sum_dl").cast("double") / col("n")))
      // (K1 + 1) as the decimal literal 2.2, NOT computed: 1.2 + 1.0 in
      // binary rounds to a different double than parsing "2.2", and the
      // oracle hash-compare is bit-exact
      idf * (tf * lit(2.2)) / norm
    }.reduce(_ + _)
    withTf.crossJoin(broadcast(stats))
      .where(Bm25Terms.indices.map(i => col(s"tf$i") > 0).reduce(_ || _))
      .select(col("doc_id") +: col("dl") +:
        Bm25Terms.indices.map(i => col(s"tf$i")) :+ term.as("__bm25"): _*)
  }

  /** q78 — temperature-based source mixture weighting (α = 0.5): the
    * per-source sampling boost that flattens a skewed corpus toward
    * uniform, as used for multilingual/multi-source training mixes.
    * sqrt-weights are quantized to integer micro-units BEFORE the global
    * sum so the result is exact under any partial-aggregation merge
    * order (and bit-identical in DuckDB). Aggregates 20 rows — the
    * corpus shuffles only its (source, n_tokens) projection. */
  def q78MixtureWeights(s: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.documents(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).as("n_tokens"))
      .withColumn("sqrt_q", round(sqrt(col("n_tokens")) * 1e6).cast("long"))
    val tot = perSource.agg(sum(col("n_tokens")).as("tot_tokens"),
      sum(col("sqrt_q")).as("tot_sqrt"))
    perSource.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens") / col("tot_tokens"), 6).as("raw_share"),
        round(col("sqrt_q") / col("tot_sqrt"), 6).as("temp_share"),
        round((col("sqrt_q") / col("tot_sqrt")) /
          (col("n_tokens") / col("tot_tokens")), 6).as("boost"))
  }

  /** q79 — calendar gap-fill + forward-fill (resample): rebuild each
    * user's daily series on a dense calendar spine and carry the last
    * observation forward into gaps — the standard time-series repair
    * before detrending/windowing (the outbreak pipeline's daily table
    * needs exactly this when regions go silent). Sums are integer cents
    * (exact under any merge order); the spine is a tiny keys × calendar
    * cross join (broadcast bounds); fill is one window keyed on user_id —
    * the same shuffle key as the aggregation, so at scale the exchange is
    * reused. Leading gaps (before a user's first activity) stay null. */
  def q79GapFill(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("user_id", "day").agg(sum("cents").as("cents"))
    val bounds = daily.agg(min("day").as("lo"), max("day").as("hi"))
    val spine = daily.select("user_id").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled", last(col("cents"), ignoreNulls = true).over(w))
      .select(col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        (col("filled") / 100.0).as("value"),
        col("cents").isNull.cast("int").as("is_gap"))
  }

  /** q80 — CDC changelog → snapshot compaction (latest-wins upsert with
    * tombstones): collapse an event log to each key's current state,
    * dropping keys whose latest record is a delete marker (`error` here).
    * `max_by` over the event-time makes this ONE map-side-combinable
    * aggregation — no window sort, no self-join — which is the shape that
    * keeps log compaction linear at 100 TB. Event times are unique per
    * user at microsecond precision (verified), so latest-wins is
    * deterministic. */
  def q80CdcSnapshot(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_versions"),
        max_by(col("event_type"), col("us")).as("last_type"),
        max_by(col("value"), col("us")).as("last_value"),
        max(col("us")).as("last_us"))
      .where(col("last_type") =!= "error")

  /** q81 — winsorization at exact rank-based p01/p99: order-statistic
    * bounds computed from a value HISTOGRAM (groupBy value → cumulative
    * count over the distinct-value axis), never a global row sort — the
    * distributed way to get exact quantile bounds when the value domain
    * compresses (money in cents). Clip + aggregate is then a second pass
    * in integer cents. The only narrow spot is the window over distinct
    * values; quantize coarser if the domain explodes. */
  def q81Winsorize(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
    val tot = o.agg(count(lit(1)).as("n"))
    val cum = graft.operators.DistCumSum.overDomain(
      o.groupBy("cents").agg(count(lit(1)).as("c")), "cents", "c")
    val bounds = cum.crossJoin(broadcast(tot))
      .agg(min(when(col("cum") >= ceil(col("n") * 0.01), col("cents"))).as("lo"),
        min(when(col("cum") >= ceil(col("n") * 0.99), col("cents"))).as("hi"),
        first(col("n")).as("n"))
    o.crossJoin(broadcast(bounds))
      .groupBy("n", "lo", "hi")
      .agg(
        sum(when(col("cents") < col("lo"), col("lo"))
          .when(col("cents") > col("hi"), col("hi"))
          .otherwise(col("cents"))).as("wcents"),
        sum(when(col("cents") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("cents") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"))
      .select(col("n"), (col("lo") / 100.0).as("lo"), (col("hi") / 100.0).as("hi"),
        (col("wcents") / 100.0).as("winsorized_total"),
        col("n_clip_lo"), col("n_clip_hi"))
  }

  /** q82 — quota sampling: exactly `k` docs per stratum (vs q74's rate
    * sampling), chosen by deterministic hash rank — the reproducible
    * equivalent of per-group reservoir sampling. One window shuffle keyed
    * on the stratum; rank order is a hash, so the quota is an unbiased
    * draw yet stable across runs and engines. */
  def q82QuotaSample(s: SparkSession, dir: String, k: Int = 30): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(md5(concat(lit("quota:"), col("doc_id").cast("string"))), col("doc_id"))
    Tables.documents(s, dir)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("doc_id"), col("lang"), col("rk"))
  }

  /** q83 — interval (range) join: purchases within 24 h after each
    * signup, per user. Spark has no native range-join optimization — a
    * raw `t1.ts BETWEEN t2.lo AND t2.hi` predicate plans as a
    * pair-exploding nested-loop join. The scalable shape is BIN
    * BUCKETING: intervals explode into the hour bins they overlap
    * (bounded: ≤ 25 per 24 h window), points hash-join on
    * (key, bin), and the exact predicate verifies. Pair generation is
    * bounded by points-per-bin, never |signups| × |purchases|. Zero-match
    * signups are kept via a final left join (count 0, sum 0). */
  def q83RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val HourUs = 3600L * 1000000L
    val winUs = 24 * HourUs
    val ev = Tables.events(s, dir)
    val signups = ev.where(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"),
        unix_micros(col("ts")).as("s_us"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("bin", floor(col("p_us") / HourUs))
    val sBins = signups.withColumn("bin",
      explode(sequence(floor(col("s_us") / HourUs), floor((col("s_us") + winUs) / HourUs))))
    val matched = sBins.join(purchases, Seq("user_id", "bin"))
      .where(col("p_us") >= col("s_us") && col("p_us") < col("s_us") + winUs)
      .groupBy("signup_id")
      .agg(count(lit(1)).as("n_purchases_24h"), sum("cents").as("cents"))
    signups.join(matched, Seq("signup_id"), "left")
      .select(col("signup_id"), col("user_id"),
        coalesce(col("n_purchases_24h"), lit(0L)).as("n_purchases_24h"),
        (coalesce(col("cents"), lit(0L)) / 100.0).as("purchase_total"))
  }

  /** q84 — int8 embedding quantization: per-vector absmax scaling to
    * [-127, 127] — the standard 4× storage/bandwidth cut before ANN
    * serving or shipping vectors between stages. A pure narrow map
    * (transform over the array, no shuffle); the oracle compares an md5
    * digest of the quantized ints (exact integers cross-engine; the
    * float→double promotion and one double division are bit-identical).
    * Zero vectors quantize to all-zero with scale 0. */
  def q84QuantizeEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val maxabs = array_max(transform(col("embedding"), x => abs(x))).cast("double")
    Tables.embeddings(s, dir)
      .withColumn("__ma", maxabs)
      .withColumn("__scale", col("__ma") / 127.0)
      .select(col("vec_id"),
        round(col("__scale"), 6).as("scale"),
        md5(when(col("__ma") === 0.0, lit(""))
          .otherwise(concat_ws(",", transform(col("embedding"),
            x => round(x.cast("double") / col("__scale")).cast("int").cast("string")))))
          .as("qdigest"),
        size(filter(col("embedding"),
          x => abs(x).cast("double") === col("__ma"))).as("n_saturated"))
  }

  /** q85 — exact heavy hitters: top-k most frequent tokens per source
    * (vocabulary / boilerplate profiling). One explode → one combinable
    * count aggregation → per-source row_number with a rank filter Spark
    * compiles to WindowGroupLimit (top-k applied BEFORE the final window
    * shuffle, plan-guarded). Ties break lexicographically so the result
    * is total-order deterministic. */
  def q85TopTerms(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("cnt").desc, col("tok"))
    Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
  }

  /** q112 — deterministic training-shard manifest: every doc is assigned
    * a shard (first md5 nibble — uniform, a pure value function) and a
    * pseudo-random in-shard position (independent salted hash), i.e. the
    * global-shuffle-then-shard step that turns a curated corpus into
    * training shards. The manifest emits per-shard doc/token mass plus an
    * order fingerprint (md5 of the comma-joined doc ids in shard order) —
    * the artifact a trainer checks before streaming a shard, and the
    * lineage record that makes the shuffle auditable. One combinable
    * aggregation; the hash order means NO global sort anywhere. */
  def q112ShardManifest(s: SparkSession, dir: String): DataFrame =
    shardAssign(Tables.documents(s, dir))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("__n").as("n_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("__ord").as("o"), col("doc_id").as("d")))),
          x => x.getField("d").cast("string")), ",")).as("order_fp"))

  /** q138 — Merkle manifest of the training shards: a tamper-evident
    * content fingerprint per shard plus one dataset-level root, the
    * artifact that lets a trainer (or an auditor) prove the bytes it
    * streamed are exactly the bytes the curation run produced. Built as
    * a real Merkle tree, not one giant concat: leaf digests fold into
    * 256 sub-buckets per shard (first leaf byte), sub-hashes fold into
    * the shard hash, 16 shard hashes fold into the root — every
    * `collect_list` group is ~N/4096 of the corpus, so no single
    * aggregation buffer ever holds a corpus-order string. Order inside
    * every level is the sorted digest order, so the manifest is
    * invariant to partitioning and ingestion order. */
  def q138MerkleManifest(s: SparkSession, dir: String): DataFrame =
    // distinct: the manifest fingerprints the corpus as a SET of
    // (doc_id, text)
    merkleFold(merkleLeaves(Tables.documents(s, dir)).distinct())

  /** (shard, leaf) digest per doc — the Merkle tree's leaf level; a pure
    * per-row projection. */
  private[graft] def merkleLeaves(docs: DataFrame): DataFrame =
    shardAssign(docs)
      .select(col("shard"),
        md5(concat(col("doc_id").cast("string"), lit(":"),
          coalesce(col("text"), lit("")))).as("leaf"))

  /** Fold (shard, leaf) rows into the manifest: leaves sorted by digest
    * inside each sub-bucket; sub-hashes concatenated in sub-bucket-id
    * order (= leaf-digest-prefix order) and shard hashes in shard-id
    * order — an external verifier must use the same child-ID order, not
    * digest order, at the two upper levels. Assumes leaves are a SET
    * (duplicate leaf rows would change every hash on their path). */
  private[graft] def merkleFold(leaves: DataFrame): DataFrame = {
    val subs = leaves
      .groupBy(col("shard"), substring(col("leaf"), 1, 2).as("__sub"))
      .agg(count(lit(1)).as("n_docs"),
        md5(array_join(array_sort(collect_list(col("leaf"))), "")).as("__sh"))
    val shards = subs.groupBy("shard")
      .agg(sum("n_docs").as("n_docs"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("__sub").as("s"), col("__sh").as("h")))),
          x => x.getField("h")), "")).as("shard_hash"))
    val root = shards.agg(
      md5(array_join(transform(
        array_sort(collect_list(struct(col("shard").as("s"), col("shard_hash").as("h")))),
        x => x.getField("h")), "")).as("root_hash"))
    shards.crossJoin(broadcast(root))
      .select(col("shard"), col("n_docs"), col("shard_hash"), col("root_hash"))
  }

  /** q139 — vocabulary coverage spectrum: for each distinct token
    * frequency, how many word types occur that often and what share of
    * the corpus token mass the types at-or-above it cover — the curve a
    * tokenizer designer reads to size a vocabulary ("top how many types
    * cover 99%?"). Grouping by FREQUENCY (not type) makes the cumulated
    * domain small even when the vocabulary is hundreds of millions of
    * types, and the running totals use [[graft.operators.DistCumSum]]'s
    * bucketed scan — no single-partition window, no driver-side type
    * table. All arithmetic is exact integers; coverage is ppm via
    * integral division (corpus < ~9·10^12 tokens before the ×10^6
    * scaling could overflow a long). */
  def q139VocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    val spec = tf.groupBy("freq").agg(count(lit(1)).as("n_types"))
      .withColumn("mass", col("freq") * col("n_types"))
      .withColumn("__negf", -col("freq")) // cumulate in DESCENDING freq
    val cum = graft.operators.DistCumSum.overDomainAll(spec, "__negf",
      Seq("n_types" -> "cum_types", "mass" -> "cum_mass"))
    val total = spec.agg(sum("mass").cast("long").as("__tot"))
    cum.crossJoin(broadcast(total))
      .select(col("freq"), col("n_types"), col("cum_types"), col("cum_mass"),
        expr("(cum_mass * 1000000) div __tot").as("coverage_ppm"))
  }

  /** Adds (shard, __ord, __n) to a documents frame — pure per-row
    * projections (no join, no shuffle), shared by the manifest query,
    * the physical shard writer, and the streaming sharded ingest. */
  private[graft] def shardAssign(docs: DataFrame): DataFrame =
    docs
      .withColumn("shard",
        substring(md5(concat(lit("shard:"), col("doc_id").cast("string"))), 1, 1))
      .withColumn("__ord", graft.functions.TextFunctions
        .md5Hash60(concat(lit("ord:"), col("doc_id").cast("string"))))
      .withColumn("__n", graft.functions.TextFunctions.tokenCount(col("text")))

  /** q113 — epoch-mix materialization: balance the source mix by
    * REPLICATION (upsampling), the step that turns q78-style mixture
    * weights into an actual epoch's row stream. Target: every source
    * contributes equally (weight w_s = T / (k·n_s)). Each doc yields
    * floor(w_s) copies plus one more with probability frac(w_s) — decided
    * by a deterministic per-doc hash, and computed in EXACT integer
    * arithmetic: with D = k·n_s, q = T div D, r = T mod D, a doc gets
    * q + (hash mod D < r) copies, so every source lands within one doc
    * of T/k in expectation with zero floating point anywhere.
    * Shape: two tiny aggregates (source counts) broadcast back, then a
    * narrow per-row sequence fan-out — rows multiply inside the scan
    * stage, no shuffle of the payload. */
  def q113EpochMix(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val perSource = docs.groupBy("source").agg(count(lit(1)).as("__ns"))
    // k and T derive lazily from the per-source counts (1-row broadcast;
    // a NULL source is its own group in both engines) — building this
    // frame must run no jobs (plan inspection, EXPLAIN)
    val scalars = broadcast(perSource
      .agg(sum("__ns").as("__t"), count(lit(1)).as("__k")))
    val h = pmod(graft.functions.TextFunctions
      .md5Hash60(concat(lit("mix:"), col("doc_id").cast("string"))), col("__d"))
    docs.join(broadcast(perSource), Seq("source"))
      .crossJoin(scalars)
      .withColumn("__d", col("__k") * col("__ns"))
      .withColumn("__copies",
        expr("__t div __d") + when(h < col("__t") % col("__d"), 1L).otherwise(0L))
      // sequence(1, 0) would count DOWN ([1,0]) — zero-copy docs must
      // yield an empty array so explode drops them
      .withColumn("__seq", when(col("__copies") >= 1,
        sequence(lit(1L), col("__copies"))).otherwise(array().cast("array<bigint>")))
      .select(col("source"), col("doc_id"), explode(col("__seq")).as("__copy"))
      .select(col("source"), col("doc_id"), col("__copy").cast("int").as("copy"))
  }

  /** Token budget per curriculum stage (q133). */
  val StageTokenBudget = 5000L

  /** q133 — quality-first curriculum staging: order the corpus by the
    * q24 quality score (DESC, doc_id tiebreak) and cut it into
    * contiguous stages of ~[[StageTokenBudget]] tokens, so a trainer
    * consumes the best material first in fixed-budget chunks (quality
    * curricula are standard practice for pre-training data ordering).
    * The global running token sum is the classic scale trap — a naive
    * `sum over (ORDER BY …)` window drags the corpus into ONE partition
    * — so it runs through [[graft.operators.DistCumSum]]: bucketed cut
    * points, partitioned windows, broadcast offsets; exact at any scale.
    * A doc's stage is decided by the tokens STRICTLY BEFORE it, so stage
    * boundaries never split on rounding. */
  def q133CurriculumOn(docs: DataFrame): DataFrame = {
    // null-text docs have no tokens to schedule and would otherwise land
    // in the cumsum's nulls-first bucket (= front of the curriculum)
    val scored = docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        round(graft.functions.TextFunctions.qualityScore(col("text")), 6)
          .as("quality"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    // ONE lexically-orderable key encoding (quality DESC, doc_id ASC):
    // quality is a 6-decimal fixed-point in [0,1], so 1e6 - micro(q)
    // zero-padded sorts descending-by-quality. The id tiebreak is the
    // sign-flipped long as fixed 16-char hex — signed order == unsigned
    // order of (id XOR Long.MinValue) == lexical order of its hex, exact
    // for EVERY long (lpad-of-decimal truncates past 12 digits and
    // mis-orders negatives)
    val key = concat(
      lpad((lit(1000000L) - round(col("quality") * 1e6, 0).cast("long"))
        .cast("string"), 7, "0"),
      lit(":"),
      format_string("%016x", col("doc_id").bitwiseXOR(lit(Long.MinValue))))
    graft.operators.DistCumSum.overDomain(
        scored.withColumn("__k", key), "__k", "n_tok", "cum_tokens")
      .withColumn("stage",
        floor((col("cum_tokens") - col("n_tok")).cast("double")
          / StageTokenBudget).cast("int"))
      .select("doc_id", "quality", "n_tok", "cum_tokens", "stage")
  }

  def q133Curriculum(s: SparkSession, dir: String): DataFrame =
    q133CurriculumOn(Tables.documents(s, dir))

  /** RRF constant (Cormack et al. 2009's k = 60) and per-system list
    * depth for q148. */
  val RrfK = 60
  val RrfDepth = 100

  /** q148 — hybrid retrieval via reciprocal-rank fusion: the lexical
    * ranking (q77's BM25 over the fixed query terms) and the dense
    * ranking (exact cosine to document 0's embedding) fuse as
    * Σ 1/(k + rank) — the standard way production retrieval stacks
    * combine keyword and embedding search, and the retrieval layer of a
    * RAG pipeline over a curated corpus.
    *
    * Scale shape: each system's candidate scan is narrow (the BM25 tf
    * map; one broadcast query vector against the collection) and its
    * top-[[RrfDepth]] is a distributed `TakeOrdered`, never a global
    * window; ranks are then assigned on [[RrfDepth]]-row frames and the
    * fusion is a full-outer join of two ≤[[RrfDepth]]-row lists —
    * nothing downstream of the scans grows with the corpus.
    *
    * Determinism: ranks are integers (ties broken by doc_id), so the
    * fused score is a sum of exactly two machine-representable
    * reciprocals in fixed order — bit-identical in DuckDB. */
  def q148HybridRrf(s: SparkSession, dir: String): DataFrame = {
    val lexTop = bm25Raw(s, dir)
      .where(col("doc_id") =!= 0)
      .select(col("doc_id"), col("__bm25"))
      .orderBy(col("__bm25").desc, col("doc_id")).limit(RrfDepth)
    val lex = lexTop.withColumn("rank_lex", row_number().over(
      Window.orderBy(col("__bm25").desc, col("doc_id")))).drop("__bm25")
    val e = Tables.embeddings(s, dir)
    val qv = e.where(col("vec_id") === 0).select(col("embedding").as("__qv"))
    val denseTop = e.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        V.nativeCosine(col("__qv"), col("embedding")).as("__sim"))
      .orderBy(col("__sim").desc, col("doc_id")).limit(RrfDepth)
    val dense = denseTop.withColumn("rank_dense", row_number().over(
      Window.orderBy(col("__sim").desc, col("doc_id")))).drop("__sim")
    lex.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK) + col("rank_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("rank_dense")), lit(0.0)))
      .orderBy(col("rrf").desc, col("doc_id")).limit(20)
      .select(col("doc_id"), col("rank_lex"), col("rank_dense"),
        round(col("rrf") * 1e6).cast("long").as("rrf_micro"))
  }

  /** Fold count for [[q189StratifiedKfold]]. */
  val KFolds = 5

  /** q189 — stratified k-fold assignment: fold = (hash-rank within the
    * language stratum − 1) mod 5, so folds are EXACTLY balanced per
    * stratum (sizes differ by ≤ 1) — what q98's plain hash split can't
    * promise on a small or skewed class. Deterministic (salted md5
    * rank, doc_id tiebreak): reproducible across runs/engines/retries
    * like every split in the family (q98/q82/q128). One window shuffle
    * keyed on the stratum. */
  def q189StratifiedKfold(s: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(concat(lit("fold:"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    val w = Window.partitionBy("lang").orderBy(col("__h"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), h.as("__h"))
      .withColumn("fold",
        pmod(row_number().over(w).cast("long") - 1L, lit(KFolds.toLong)))
      .select(col("doc_id"), col("lang"), col("fold"))
  }

  /** Sample size for [[q228PrioritySample]]. */
  val PriorityK = 16

  /** q228 — Duffield–Lund–Thorup priority sampling with the
    * Horvitz–Thompson threshold estimator: each doc draws priority
    * q = w / u (w = its char weight, u uniform(0,1] from a salted
    * md5 — a pure value function, the q102/q126 discipline), the k
    * largest priorities are kept, and each kept doc carries
    * ŵ = max(w, τ) with τ = the (k+1)-th priority. Σŵ over the k-row
    * sample is an UNBIASED estimator of total corpus weight with
    * provably near-optimal variance — the operator that prices a
    * 100 TB slice (total tokens, total bytes) from 16 rows, which
    * q126's sample (inclusion ∝ weight, but no estimator) cannot do.
    *
    * Integer discipline: u = (h48+1)/2⁴⁸, so q = w·2⁴⁸ div (h48+1)
    * is exact integer w-units (≤ 2.8e18 for 10⁴-char docs — inside
    * bigint); both engines rank by (q desc, doc_id) and truncate
    * alike. Scale shape: priorities are map-side; the top-(k+1) cut
    * is `orderBy.limit` = TakeOrdered (per-partition heaps + one
    * k-row merge, NO global sort); the rank/τ window then runs on a
    * ≤ k+1-row frame. */
  def q228PrioritySample(s: SparkSession, dir: String): DataFrame =
    prioritySampleOn(Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars").as("w")), PriorityK)

  /** [[q228PrioritySample]] over any (`doc_id`, `w` long) frame. */
  def prioritySampleOn(docs: DataFrame, k: Int): DataFrame = {
    val h = conv(substring(md5(concat(lit("pr:"),
      col("doc_id").cast("string"))), 1, 12), 16, 10).cast("long")
    val top = docs
      .select(col("doc_id"), col("w"), h.as("h48"))
      // 2^48 · 10⁴-char docs stay inside bigint; decimal-widen first
      // so a pathological multi-MB doc cannot silently wrap
      .withColumn("pr", expr(
        "cast(cast(w as decimal(38,0)) * 281474976710656 div (h48 + 1) as bigint)"))
      .select(col("doc_id"), col("w"), col("pr"))
      .orderBy(col("pr").desc, col("doc_id")).limit(k + 1)
    // window over the ≤ k+1 surviving rows only — bounded, not corpus
    val wk = Window.orderBy(col("pr").desc, col("doc_id"))
    val ranked = top.withColumn("rn", row_number().over(wk))
    val tau = ranked.agg(coalesce(max(when(col("rn") === k + 1, col("pr"))),
      lit(0L)).as("tau"))
    ranked.where(col("rn") <= k).crossJoin(broadcast(tau))
      .select(col("doc_id"), col("w"), col("pr"),
        greatest(col("w"), col("tau")).as("w_hat"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q228_priority_sample" -> (q228PrioritySample _),
    "q189_stratified_kfold" -> (q189StratifiedKfold _),
    "q133_curriculum" -> (q133Curriculum _),
    "q112_shard_manifest" -> (q112ShardManifest _),
    "q138_merkle_manifest" -> (q138MerkleManifest _),
    "q139_vocab_coverage" -> (q139VocabCoverage _),
    "q113_epoch_mix" -> (q113EpochMix _),
    "q74_stratified_sample" -> (q74StratifiedSample _),
    "q75_asof_join" -> (q75AsofJoin _),
    "q76_pack_sequences" -> (q76PackSequences _),
    "q77_bm25" -> (q77Bm25 _),
    "q78_mixture_weights" -> (q78MixtureWeights _),
    "q79_gap_fill" -> (q79GapFill _),
    "q80_cdc_snapshot" -> (q80CdcSnapshot _),
    "q81_winsorize" -> (q81Winsorize _),
    "q82_quota_sample" -> ((s: SparkSession, d: String) => q82QuotaSample(s, d)),
    "q83_range_join" -> (q83RangeJoin _),
    "q84_quantize_embeddings" -> (q84QuantizeEmbeddings _),
    "q85_top_terms" -> ((s: SparkSession, d: String) => q85TopTerms(s, d)),
    "q98_train_split" -> (q98TrainSplit _),
    "q102_bottomk_sample" -> (q102BottomkSample _),
    "q126_weighted_sample" -> (q126WeightedSample _),
    "q148_hybrid_rrf" -> (q148HybridRrf _))

  val oracles: Map[String, String] = Map(
    "q228_priority_sample" ->
      s"""WITH pri AS (
         | SELECT doc_id, n_chars AS w,
         |  CAST(CAST(n_chars AS HUGEINT) * 281474976710656
         |   // (('0x' || substr(md5('pr:' || CAST(doc_id AS VARCHAR)), 1, 12))
         |        ::BIGINT + 1) AS BIGINT) AS pr
         | FROM documents),
         |r AS (SELECT *, row_number() OVER (ORDER BY pr DESC, doc_id) AS rn
         |      FROM pri),
         |tau AS (SELECT COALESCE(max(CASE WHEN rn = ${PriorityK + 1} THEN pr
         |                             END), 0) AS tau FROM r)
         |SELECT doc_id, w, pr, greatest(w, tau.tau) AS w_hat
         |FROM r CROSS JOIN tau WHERE rn <= $PriorityK""".stripMargin,
    "q189_stratified_kfold" ->
      """SELECT doc_id, lang,
        | CAST((row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) - 1) % 5
        |   AS BIGINT) AS fold
        |FROM (SELECT doc_id, lang,
        |  ('0x' || substr(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        | FROM documents)""".stripMargin,
    "q148_hybrid_rrf" ->
      """WITH t AS (
        | SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS dl,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x = 'join')) AS INTEGER) AS tf0,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x = 'hash')) AS INTEGER) AS tf1,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x = 'filter')) AS INTEGER) AS tf2
        | FROM documents),
        |s AS (
        | SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sum_dl,
        |  CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
        |  CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
        |  CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
        | FROM t),
        |lexs AS (
        | SELECT doc_id,
        |  ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * (CAST(tf0 AS DOUBLE) * 2.2)
        |    / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n)))
        | + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * (CAST(tf1 AS DOUBLE) * 2.2)
        |    / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n)))
        | + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * (CAST(tf2 AS DOUBLE) * 2.2)
        |    / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n)))
        |  AS score
        | FROM t, s
        | WHERE (tf0 > 0 OR tf1 > 0 OR tf2 > 0) AND doc_id <> 0),
        |lexr AS (
        | SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank_lex
        | FROM lexs),
        |lex AS (SELECT doc_id, rank_lex FROM lexr WHERE rank_lex <= 100),
        |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
        |ds AS (
        | SELECT e.vec_id AS doc_id,
        |  list_dot_product(CAST(q AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
        |   / (sqrt(list_dot_product(CAST(q AS DOUBLE[]), CAST(q AS DOUBLE[])))
        |      * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))) AS sim
        | FROM embeddings e, qv WHERE e.vec_id <> 0),
        |denr AS (
        | SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY sim DESC, doc_id) AS INTEGER) AS rank_dense
        | FROM ds),
        |den AS (SELECT doc_id, rank_dense FROM denr WHERE rank_dense <= 100),
        |f AS (
        | SELECT coalesce(l.doc_id, d.doc_id) AS doc_id, l.rank_lex, d.rank_dense,
        |  coalesce(CAST(1.0 AS DOUBLE) / (60 + l.rank_lex), CAST(0.0 AS DOUBLE))
        |   + coalesce(CAST(1.0 AS DOUBLE) / (60 + d.rank_dense), CAST(0.0 AS DOUBLE)) AS rrf
        | FROM lex l FULL OUTER JOIN den d ON l.doc_id = d.doc_id)
        |SELECT doc_id, rank_lex, rank_dense,
        | CAST(round(rrf * 1000000.0) AS BIGINT) AS rrf_micro
        |FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,
    "q133_curriculum" ->
      s"""WITH q AS (
        | SELECT doc_id,
        |  round(least(1.0, CAST(len(string_split(text,' ')) AS DOUBLE)/200.0)
        |    * (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
        |       / len(string_split(text,' '))), 6) AS quality,
        |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok
        | FROM documents WHERE text IS NOT NULL),
        |c AS (
        | SELECT doc_id, quality, n_tok,
        |  CAST(sum(n_tok) OVER (ORDER BY quality DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        | FROM q)
        |SELECT doc_id, quality, n_tok, cum_tokens,
        | CAST(floor(CAST(cum_tokens - n_tok AS DOUBLE) / $StageTokenBudget)
        |   AS INTEGER) AS stage
        |FROM c""".stripMargin,
    "q138_merkle_manifest" ->
      """WITH leaves AS (
        | SELECT DISTINCT
        |  substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
        |  md5(CAST(doc_id AS VARCHAR) || ':' || COALESCE(text, '')) AS leaf
        | FROM documents),
        |subs AS (
        | SELECT shard, substr(leaf, 1, 2) AS sub,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  md5(string_agg(leaf, '' ORDER BY leaf)) AS sh
        | FROM leaves GROUP BY shard, sub),
        |shards AS (
        | SELECT shard, CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |  md5(string_agg(sh, '' ORDER BY sub)) AS shard_hash
        | FROM subs GROUP BY shard),
        |root AS (
        | SELECT md5(string_agg(shard_hash, '' ORDER BY shard)) AS root_hash
        | FROM shards)
        |SELECT shard, n_docs, shard_hash, root_hash
        |FROM shards CROSS JOIN root""".stripMargin,
    "q139_vocab_coverage" ->
      """WITH tf AS (
        | SELECT tok, CAST(count(*) AS BIGINT) AS freq
        | FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        | WHERE len(tok) > 0 GROUP BY tok),
        |spec AS (
        | SELECT freq, CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(freq * count(*) AS BIGINT) AS mass
        | FROM tf GROUP BY freq),
        |c AS (
        | SELECT freq, n_types, mass,
        |  CAST(sum(n_types) OVER (ORDER BY freq DESC) AS BIGINT) AS cum_types,
        |  CAST(sum(mass) OVER (ORDER BY freq DESC) AS BIGINT) AS cum_mass
        | FROM spec),
        |t AS (SELECT CAST(sum(mass) AS BIGINT) AS tot FROM spec)
        |SELECT freq, n_types, cum_types, cum_mass,
        | CAST((cum_mass * 1000000) // tot AS BIGINT) AS coverage_ppm
        |FROM c CROSS JOIN t""".stripMargin,
    "q112_shard_manifest" ->
      """SELECT shard, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
        | md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY o, doc_id)) AS order_fp
        |FROM (SELECT doc_id,
        |  substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
        |  ('0x' || substr(md5('ord:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS o,
        |  len(string_split(text, ' ')) AS n
        | FROM documents)
        |GROUP BY shard""".stripMargin,
    "q113_epoch_mix" ->
      """WITH ns AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
        |tk AS (SELECT count(*) AS t, (SELECT count(*) FROM ns) AS k FROM documents),
        |c AS (
        | SELECT d.source, d.doc_id,
        |  (t // (k * n_s)) +
        |  (CASE WHEN ('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |          % (k * n_s) < t % (k * n_s)
        |    THEN 1 ELSE 0 END) AS copies
        | FROM documents d JOIN ns ON d.source = ns.source CROSS JOIN tk)
        |SELECT source, doc_id, CAST(u.copy AS INTEGER) AS copy
        |FROM c, unnest(generate_series(1, copies)) AS u(copy)
        |WHERE copies >= 1""".stripMargin,
    "q126_weighted_sample" ->
      s"""SELECT source, doc_id, w_tokens, CAST(rank AS INTEGER) AS rank FROM (
        | SELECT source, doc_id, w_tokens,
        |  row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS rank
        | FROM (
        |  SELECT source, doc_id,
        |   CAST(len(string_split(text, ' ')) AS BIGINT) AS w_tokens,
        |   CAST(-CAST(round(ln(
        |     (('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1)
        |       / 4503599627370496.0) * 1000000) AS BIGINT) AS DOUBLE)
        |     / len(string_split(text, ' ')) AS key
        |  FROM documents))
        |WHERE rank <= $WeightedK""".stripMargin,
    "q102_bottomk_sample" ->
      s"""SELECT source, doc_id, CAST(rank AS INTEGER) AS rank FROM (
        | SELECT source, doc_id, row_number() OVER (PARTITION BY source
        |  ORDER BY ('0x' || substr(md5('bk:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id) AS rank
        | FROM documents)
        |WHERE rank <= $BottomK""".stripMargin,
    "q98_train_split" ->
      """SELECT doc_id,
        | CASE WHEN pct < 90 THEN 'train' WHEN pct < 95 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS pct
        | FROM documents)""".stripMargin,
    "q74_stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE ('0x' || substr(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
        |  < CASE WHEN lang = 'en' THEN 40 WHEN lang = 'zh' THEN 80 ELSE 100 END""".stripMargin,
    "q75_asof_join" ->
      """WITH w AS (
        | SELECT event_id, user_id, event_type, value, CAST(ts AS TIMESTAMP) AS t,
        |  last_value(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_ts,
        |  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_value
        | FROM events)
        |SELECT event_id, user_id,
        | strftime(t, '%Y-%m-%d %H:%M:%S') AS click_ts,
        | strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        | epoch_us(t) - epoch_us(p_ts) AS delta_us,
        | p_value AS purchase_value
        |FROM w WHERE event_type = 'click'""".stripMargin,
    "q76_pack_sequences" ->
      """WITH t AS (
        | SELECT doc_id, source,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
        | FROM documents),
        |c AS (
        | SELECT doc_id, source, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_tok
        | FROM t)
        |SELECT doc_id, source, n_tokens,
        | CAST(floor(start_tok / 512) AS BIGINT) AS seq_id,
        | CAST(start_tok % 512 AS BIGINT) AS seq_offset
        |FROM c""".stripMargin,
    "q77_bm25" ->
      """WITH t AS (
        | SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS dl,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x = 'join')) AS INTEGER) AS tf0,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x = 'hash')) AS INTEGER) AS tf1,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x = 'filter')) AS INTEGER) AS tf2
        | FROM documents),
        |s AS (
        | SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sum_dl,
        |  CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
        |  CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
        |  CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
        | FROM t)
        |SELECT doc_id, dl, tf0, tf1, tf2,
        | round(
        |   ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * (CAST(tf0 AS DOUBLE) * 2.2)
        |     / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n)))
        | + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * (CAST(tf1 AS DOUBLE) * 2.2)
        |     / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n)))
        | + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * (CAST(tf2 AS DOUBLE) * 2.2)
        |     / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n))), 4)
        |  AS bm25
        |FROM t, s
        |WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0""".stripMargin,
    "q78_mixture_weights" ->
      """WITH p AS (
        | SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(round(sqrt(CAST(sum(len(string_split(text, ' '))) AS BIGINT)) * 1e6) AS BIGINT) AS sqrt_q
        | FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
        |             CAST(sum(sqrt_q) AS BIGINT) AS tot_sqrt FROM p)
        |SELECT source, n_docs, n_tokens,
        | round(CAST(n_tokens AS DOUBLE) / tot_tokens, 6) AS raw_share,
        | round(CAST(sqrt_q AS DOUBLE) / tot_sqrt, 6) AS temp_share,
        | round((CAST(sqrt_q AS DOUBLE) / tot_sqrt) / (CAST(n_tokens AS DOUBLE) / tot_tokens), 6) AS boost
        |FROM p, t""".stripMargin,
    "q79_gap_fill" ->
      """WITH daily AS (
        | SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |  CAST(sum(CAST(round(value*100.0) AS BIGINT)) AS BIGINT) AS cents
        | FROM events GROUP BY 1, 2),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
        |spine AS (
        | SELECT u.user_id, CAST(d.d AS DATE) AS day
        | FROM (SELECT DISTINCT user_id FROM daily) u,
        |  (SELECT unnest(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP),
        |     INTERVAL 1 DAY)) AS d FROM b) d),
        |j AS (SELECT s.user_id, s.day, d.cents
        |      FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        | last_value(cents IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0 AS value,
        | CAST(cents IS NULL AS INTEGER) AS is_gap
        |FROM j""".stripMargin,
    "q80_cdc_snapshot" ->
      """SELECT user_id, count(*) AS n_versions,
        | arg_max(event_type, epoch_us(CAST(ts AS TIMESTAMP))) AS last_type,
        | arg_max(value, epoch_us(CAST(ts AS TIMESTAMP))) AS last_value,
        | max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
        |FROM events GROUP BY user_id HAVING last_type <> 'error'""".stripMargin,
    "q81_winsorize" ->
      """WITH o AS (SELECT CAST(round(o_totalprice*100.0) AS BIGINT) AS cents FROM orders),
        |tot AS (SELECT count(*) AS n FROM o),
        |hist AS (SELECT cents, count(*) AS c FROM o GROUP BY cents),
        |cum AS (SELECT cents, sum(c) OVER (ORDER BY cents
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hist),
        |bounds AS (SELECT min(CASE WHEN cum >= ceil(n*0.01) THEN cents END) AS lo,
        |                  min(CASE WHEN cum >= ceil(n*0.99) THEN cents END) AS hi,
        |                  min(n) AS n
        |           FROM cum, tot)
        |SELECT n, lo/100.0 AS lo, hi/100.0 AS hi,
        | CAST(sum(CASE WHEN cents < lo THEN lo WHEN cents > hi THEN hi ELSE cents END) AS BIGINT)/100.0
        |   AS winsorized_total,
        | CAST(sum(CASE WHEN cents < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
        | CAST(sum(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi
        |FROM o, bounds GROUP BY n, lo, hi""".stripMargin,
    "q82_quota_sample" ->
      """SELECT doc_id, lang, rk FROM (
        | SELECT doc_id, lang,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY md5('quota:' || CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rk
        | FROM documents)
        |WHERE rk <= 30""".stripMargin,
    "q83_range_join" ->
      """WITH s AS (
        | SELECT event_id AS signup_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s_us
        | FROM events WHERE event_type = 'signup'),
        |p AS (
        | SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us,
        |  CAST(round(value*100.0) AS BIGINT) AS cents
        | FROM events WHERE event_type = 'purchase'),
        |m AS (
        | SELECT s.signup_id, count(*) AS n, CAST(sum(p.cents) AS BIGINT) AS cents
        | FROM s JOIN p ON s.user_id = p.user_id
        |  AND p.p_us >= s.s_us AND p.p_us < s.s_us + 86400000000
        | GROUP BY s.signup_id)
        |SELECT s.signup_id, s.user_id,
        | coalesce(m.n, 0) AS n_purchases_24h,
        | coalesce(m.cents, 0) / 100.0 AS purchase_total
        |FROM s LEFT JOIN m ON s.signup_id = m.signup_id""".stripMargin,
    "q84_quantize_embeddings" ->
      """WITH t AS (
        | SELECT vec_id, embedding,
        |  CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
        | FROM embeddings)
        |SELECT vec_id, round(ma/127.0, 6) AS scale,
        | CASE WHEN ma = 0 THEN md5('')
        |  ELSE md5(list_aggregate(list_transform(embedding,
        |    x -> CAST(CAST(round(CAST(x AS DOUBLE) / (ma/127.0)) AS INTEGER) AS VARCHAR)),
        |    'string_agg', ',')) END AS qdigest,
        | CAST(len(list_filter(embedding, x -> CAST(abs(x) AS DOUBLE) = ma)) AS INTEGER)
        |  AS n_saturated
        |FROM t""".stripMargin,
    "q85_top_terms" ->
      """SELECT source, tok, cnt, rk FROM (
        | SELECT source, tok, count(*) AS cnt,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY count(*) DESC, tok) AS INTEGER) AS rk
        | FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
        | GROUP BY source, tok)
        |WHERE rk <= 5""".stripMargin)
}
