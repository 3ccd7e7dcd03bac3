package graft.queries

import graft.functions.{TextFunctions => T}
import graft.operators.Dedup
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-based curation: the trained-model counterparts of the
  * heuristic filters — a Naive Bayes classifier trained and applied as
  * pure aggregations (the CCNet/fastText-style quality-model stage),
  * DSIR importance weights (Xie et al. 2023, "Data Selection for
  * Language Models via Importance Resampling"), and a measured
  * precision/recall audit of the MinHash-LSH candidate generator
  * against exact Jaccard ground truth.
  *
  * Everything follows the engine-wide determinism scheme: model
  * parameters are integer MICRO-NATS (`round(ln(p)·1e6)` per distinct
  * probability), so per-doc scores are exact long sums — merge-order
  * invariant and bit-identical in DuckDB.
  */
object Modeling {

  private def hashMod(salt: String, id: Column, m: Int): Column =
    T.hashMod(salt, id, m)

  // ---------------------------------------------------------------- q122

  /** q122 — multinomial Naive Bayes language classifier, trained on a
    * deterministic 80% hash-split and scored on the held-out 20%: the
    * TRAINED twin of q23's n-gram heuristic, and the shape of every
    * model-based quality filter (train a cheap classifier on labeled
    * strata, score the corpus, gate on the prediction).
    *
    * Training is two aggregations (per-(class, token) counts, per-class
    * totals) + a vocab distinct — one corpus token shuffle. The model is
    * a DENSE (vocab × classes) table of add-one-smoothed log-likelihoods
    * in micro-nats; class count is small, so it is O(V). Scoring joins
    * test tokens to the model on the token key (shuffle keyed on token,
    * never on pairs), sums longs per (doc, class), folds in the prior
    * and the unseen-token penalty, and takes the per-doc argmax under a
    * (score DESC, class ASC) total order — a C-row window per doc.
    * No step is quadratic; the corpus is scanned twice (train, score).
    */
  def q122NbLangidOn(docs: DataFrame): DataFrame = {
    val nPart = docs.sparkSession.sessionState.conf.numShufflePartitions
    val base = docs.select(col("doc_id"), col("lang"), col("text"),
      (hashMod("nb:", col("doc_id"), 100) < 80).as("__train"))
    // cached: the final plan reaches this subtree ~5 ways (class counts,
    // vocab, dense, known-sum, unknown-count) — without the boundary the
    // corpus would tokenize once per consumer instead of once total
    val toks = base.repartition(nPart)
      .select(col("doc_id"), col("lang"), col("__train"),
        explode(T.tokens(col("text"))).as("__tok"))
      .cache()
    val trainToks = toks.where(col("__train"))

    val classCnt = trainToks.groupBy("lang", "__tok")
      .agg(count(lit(1)).as("__c"))
    val classTot = classCnt.groupBy("lang").agg(sum("__c").as("__tot"))
    val vocab = trainToks.select("__tok").distinct()
    val vSize = vocab.agg(count(lit(1)).as("__v"))

    // dense (token, class) log-likelihoods: absent counts smooth to
    // ln(1/(tot+V)) — the same value unseen tokens contribute below
    val dense = vocab.crossJoin(broadcast(classTot))
      .join(classCnt, Seq("lang", "__tok"), "left")
      .na.fill(0L, Seq("__c"))
      .crossJoin(broadcast(vSize))
      .select(col("__tok"), col("lang").as("__cls"),
        round(log((col("__c") + lit(1.0)) / (col("__tot") + col("__v"))) * 1e6, 0)
          .cast("long").as("__lp"))
    val trainDocs = base.where(col("__train"))
    val prior = trainDocs.groupBy("lang").agg(count(lit(1)).as("__nd"))
      .crossJoin(broadcast(trainDocs.agg(count(lit(1)).as("__n"))))
      .select(col("lang").as("__cls"),
        round(log(col("__nd").cast("double") / col("__n")) * 1e6, 0)
          .cast("long").as("__prior"))
    val unkLp = classTot.crossJoin(broadcast(vSize))
      .select(col("lang").as("__cls"),
        round(log(lit(1.0) / (col("__tot") + col("__v"))) * 1e6, 0)
          .cast("long").as("__unklp"))

    val testToks = toks.where(!col("__train")).select("doc_id", "__tok")
    val knownSum = testToks.join(dense, Seq("__tok"))
      .groupBy("doc_id", "__cls").agg(sum("__lp").as("__ks"))
    val unkCnt = testToks.join(vocab, Seq("__tok"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("__n_unk"))

    val byDoc = Window.partitionBy("doc_id")
      .orderBy(col("__score").desc, col("__cls"))
    base.where(!col("__train")).select(col("doc_id"), col("lang"))
      .crossJoin(broadcast(prior.join(unkLp, "__cls")))
      .join(knownSum, Seq("doc_id", "__cls"), "left")
      .join(unkCnt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("__cls"),
        (col("__prior") + coalesce(col("__ks"), lit(0L)) +
          coalesce(col("__n_unk"), lit(0L)) * col("__unklp")).as("__score"))
      .withColumn("__rn", row_number().over(byDoc))
      .where(col("__rn") === 1)
      .select(col("doc_id"), col("lang"), col("__cls").as("predicted"),
        col("__score").as("score_micro"),
        (col("lang") === col("__cls")).cast("long").as("correct"))
  }

  def q122NbLangid(s: SparkSession, dir: String): DataFrame =
    q122NbLangidOn(Tables.documents(s, dir))

  // ---------------------------------------------------------------- q123

  /** Audit-stratum rate (percent of docs, by deterministic hash). The
    * stratum's all-pairs truth is quadratic BY DESIGN — the rate is the
    * audit's cost knob, and 10% keeps the bench corpus's stratum at
    * ~500 docs while still surfacing thousands of true pairs. */
  val AuditPct = 10

  /** q123 — measured precision/recall of the MinHash-LSH candidate
    * generator against EXACT Jaccard ≥ 0.5 ground truth, on a
    * deterministic [[AuditPct]]% hash stratum: the dedup counterpart of
    * q115's ANN recall eval. Recall says what fraction of true near-dup
    * pairs the banding surfaces (the S-curve's promise); precision says
    * how much verify work each surfaced candidate costs.
    *
    * Ground truth is all-pairs WITHIN THE STRATUM only — the one place
    * a quadratic join is the point (there is no oracle for recall
    * without exact truth). The stratum is a fixed fraction here; at
    * full scale tune the rate so the stratum stays ~10⁴ docs (~10⁷·½
    * pairs) — the audit's cost is then constant while the production
    * dedup stays banded. Candidates come from the SAME signature
    * pipeline production uses ([[Dedup.minhashIndex]] →
    * [[Dedup.bandedCandidates]]), so the measured curve is the shipped
    * curve. */
  def q123DedupAuditOn(docs: DataFrame): DataFrame = {
    val samp = docs
      .where(hashMod("audit:", col("doc_id"), 100) < AuditPct)
      .select(col("doc_id"), col("text"))
    val toks = samp.select(col("doc_id"),
      sort_array(T.distinctTokens(col("text"))).as("__toks")).cache()

    val b = toks.select(col("doc_id").as("__b_id"), col("__toks").as("__b_toks"))
    val inter = call_function("graft_intersect_size",
      col("__toks"), col("__b_toks"))
    val truth = toks.join(broadcast(b), col("doc_id") < col("__b_id"))
      .where(inter.cast("double") /
        (size(col("__toks")) + size(col("__b_toks")) - inter) >= 0.5)
      .select(col("doc_id").as("__a_id"), col("__b_id"))
      .cache()

    val cand = Dedup.bandedCandidates(
      Dedup.minhashIndex(samp, "doc_id", "text"), "doc_id", bands = 8)
      .cache()
    val hit = truth.join(cand, Seq("__a_id", "__b_id"), "left_semi")

    toks.agg(count(lit(1)).as("n_docs"))
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_docs"), col("n_truth"), col("n_cand"), col("n_hit"),
        when(col("n_cand") > 0,
          round(col("n_hit").cast("double") / col("n_cand"), 6))
          .otherwise(0.0).as("cand_precision"),
        when(col("n_truth") > 0,
          round(col("n_hit").cast("double") / col("n_truth"), 6))
          .otherwise(0.0).as("pair_recall"))
  }

  def q123DedupAudit(s: SparkSession, dir: String): DataFrame =
    q123DedupAuditOn(Tables.documents(s, dir))

  // ---------------------------------------------------------------- q124

  /** Feature buckets for [[q124DsirWeightsOn]] — hashed unigrams, the
    * paper's hashed n-gram feature space collapsed to unigrams (the
    * corpus is synthetic; the MACHINERY is the point). */
  val DsirBuckets = 256

  /** q124 — DSIR importance weights: score every doc by how much more
    * likely its hashed-token bag is under the TARGET distribution (here:
    * the `en` stratum, standing in for the high-quality corpus) than
    * under the RAW corpus distribution — `lw(d) = Σ_tok ln p_T(b(tok)) −
    * ln p_R(b(tok))`, add-one smoothing over [[DsirBuckets]] buckets.
    * Resampling docs ∝ exp(lw) tilts the corpus toward the target; the
    * weight (in micro-nats, exact long sum) is the artifact.
    *
    * Scale shape: both feature distributions are one count-agg to a
    * [[DsirBuckets]]-row table (broadcast); scoring is a narrow
    * map + broadcast join + one per-doc sum. Nothing shuffles wider
    * than the corpus token explode, and the model is O(buckets) however
    * large the corpus — the reason DSIR scales where perplexity-filter
    * LMs don't. */
  def q124DsirWeightsOn(docs: DataFrame, targetLang: String = "en"): DataFrame = {
    val nPart = docs.sparkSession.sessionState.conf.numShufflePartitions
    val tb = docs.repartition(nPart)
      .select(col("doc_id"), col("lang"), explode(T.tokens(col("text"))).as("__tok"))
      .select(col("doc_id"), col("lang"),
        hashMod("ds:", col("__tok"), DsirBuckets).as("__b"))
    val cT = tb.where(col("lang") === targetLang)
      .groupBy("__b").agg(count(lit(1)).as("__ct"))
    val cR = tb.groupBy("__b").agg(count(lit(1)).as("__cr"))
    val tots = cT.agg(sum("__ct").as("__totT"))
      .crossJoin(cR.agg(sum("__cr").as("__totR")))
    // every observed bucket appears in cR, so a left join from cR is
    // dense over the support; target-empty buckets smooth to 1/(totT+B)
    val logRatio = cR.join(cT, Seq("__b"), "left")
      .na.fill(0L, Seq("__ct"))
      .crossJoin(broadcast(tots))
      .select(col("__b"),
        (round(log((col("__ct") + lit(1.0)) / (col("__totT") + lit(DsirBuckets))) * 1e6, 0)
            .cast("long") -
          round(log((col("__cr") + lit(1.0)) / (col("__totR") + lit(DsirBuckets))) * 1e6, 0)
            .cast("long")).as("__lr"))
    tb.join(broadcast(logRatio), Seq("__b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("__lr").as("lw_micro"))
  }

  def q124DsirWeights(s: SparkSession, dir: String): DataFrame =
    q124DsirWeightsOn(Tables.documents(s, dir))

  // ---------------------------------------------------------------- q125

  /** q125 — train→eval span leakage (the train-test overlap report of
    * MassiveText/GPT-3-style decontamination): for every doc the q98
    * hash split holds out (pct ≥ 90: val + test), the fraction of its
    * [[Curation.SpanK]]-token spans that also occur in ANY training
    * doc. High leak_ratio means the eval example is memorizable from
    * the training set and its metrics are compromised.
    *
    * Scale shape: only 32-byte span digests ever shuffle (q105's
    * two-shuffle scheme). The training span set is DISTINCT before the
    * probe join — a span seen in many training docs must count once per
    * eval occurrence, not multiply. One digest-keyed hash join however
    * large the corpus. */
  def q125SplitLeakageOn(docs: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    val spans = docs.where(size(t) >= Curation.SpanK)
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"),
        (hashMod("split:", col("doc_id"), 100) < 90).as("__train"),
        explode(Curation.spanHashArr(col("text"))).as("__h"))
    val trainSpans = spans.where(col("__train"))
      .select("__h").distinct().withColumn("__leaked", lit(1))
    spans.where(!col("__train"))
      .join(trainSpans, Seq("__h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        count(col("__leaked")).as("n_leaked"))
      .withColumn("leak_ratio",
        round(col("n_leaked").cast("double") / col("n_spans"), 6))
  }

  def q125SplitLeakage(s: SparkSession, dir: String): DataFrame =
    q125SplitLeakageOn(Tables.documents(s, dir))

  // ---------------------------------------------------------------- q127

  /** q127 — per-source distribution drift: add-one-smoothed KL
    * divergence of each source's hashed-token distribution from the
    * whole corpus's, in micro-nats — the monitoring stat that catches a
    * crawl source going off the rails (template flood, language flip,
    * spam injection) before it pollutes a training mix.
    *
    * Exactness at any scale: the weighted sum Σ_b ct(b)·lr(b) runs in
    * DECIMAL(38,0) over integer micro-nat log-ratios (a long would
    * overflow once per-source bucket counts pass ~10¹²); the single
    * division by the source's token total happens once, on identical
    * operands in both engines. Model size is O(sources × buckets)
    * regardless of corpus size — two count aggregations and one
    * broadcast join, same shape as q124. */
  def q127SourceDriftOn(docs: DataFrame): DataFrame = {
    val nPart = docs.sparkSession.sessionState.conf.numShufflePartitions
    val tb = docs.repartition(nPart)
      .select(col("source"), explode(T.tokens(col("text"))).as("__tok"))
      .select(col("source"), hashMod("kl:", col("__tok"), DsirBuckets).as("__b"))
    val ct = tb.groupBy("source", "__b").agg(count(lit(1)).as("__ct"))
    val st = ct.groupBy("source").agg(sum("__ct").as("__tot"))
    val cr = tb.groupBy("__b").agg(count(lit(1)).as("__cr"))
    val tots = cr.agg(sum("__cr").as("__totR"))
    val lr = ct.join(broadcast(st), "source")
      .join(broadcast(cr), "__b")
      .crossJoin(broadcast(tots))
      .select(col("source"), col("__ct"),
        (round(log((col("__ct") + lit(1.0)) / (col("__tot") + lit(DsirBuckets))) * 1e6, 0)
            .cast("long") -
          round(log((col("__cr") + lit(1.0)) / (col("__totR") + lit(DsirBuckets))) * 1e6, 0)
            .cast("long")).as("__lr"))
    lr.groupBy("source")
      .agg(sum(col("__ct")).as("n_tok"),
        sum(col("__ct").cast("decimal(38,0)") * col("__lr")).as("__wsum"))
      .select(col("source"), col("n_tok"),
        round(col("__wsum").cast("double") / col("n_tok"), 0)
          .cast("long").as("kl_micro"))
  }

  def q127SourceDrift(s: SparkSession, dir: String): DataFrame =
    q127SourceDriftOn(Tables.documents(s, dir))

  // ---------------------------------------------------------------- q128

  /** q128 — LEAKAGE-FREE train/val/test split: the fix for what q125
    * measures. q98's per-doc hash split can land two near-duplicates on
    * opposite sides of the boundary (memorizable eval examples); here
    * the split key is the doc's near-dup CLUSTER representative (min id
    * of its connected component over the verified q31 similarity
    * pairs), so a whole duplicate family always travels together.
    * Singleton docs are their own component — their assignment is
    * IDENTICAL to q98's, so adopting the cluster split re-shuffles only
    * the docs that were leaking.
    *
    * Scale shape: candidate pairs come from the banded LSH machinery
    * (never all-pairs), components from the Large-Star/Small-Star loop
    * (logarithmic rounds, edges-keyed shuffles), and the split itself
    * is a narrow map over (id, component). */
  def q128ClusterSplit(s: SparkSession, dir: String): DataFrame = {
    val pairs = PipelineQueries.q31NgramJaccard(s, dir)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val docs = Tables.documents(s, dir).select("doc_id")
    val comp = graft.operators.ConnectedComponents.components(pairs, Some(docs))
    val pct = hashMod("split:", col("component"), 100)
    comp.select(col("id").as("doc_id"),
      when(pct < 90, "train").when(pct < 95, "val").otherwise("test")
        .as("split"))
  }

  // ------------------------------------------------------------ wiring

  /** q140 — farthest-point diversity coreset over the embeddings table:
    * [[graft.operators.KCenter]] picks [[KCenterK]] maximally-spread
    * exemplars; the output is the pick order plus the coverage-radius
    * curve (how far the farthest uncovered point sits after each pick —
    * the quantity k-center greedily minimizes). Rows-only by design
    * (iterative argmax has no tractable SQL oracle); KCenterSpec proves
    * cluster coverage, the non-increasing radius curve, and
    * partitioning-invariance instead. */
  def q140KcenterCoreset(s: SparkSession, dir: String): DataFrame =
    graft.operators.KCenter.select(
      Tables.embeddings(s, dir), "vec_id", "embedding", KCenterK)

  val KCenterK = 8

  /** Feature space for the q152 classifier (hashed bag-of-words dims). */
  val QcDims = 256

  /** q152 — model-based quality filtering: train a logistic-regression
    * quality classifier IN the engine (MLlib `Tokenizer → HashingTF →
    * LogisticRegression`) on weak labels from the heuristic quality
    * score's confident extremes, then score every document — the
    * fastText-classifier pattern of CCNet/LLaMA-style curation, where a
    * cheap heuristic bootstraps a model that generalizes past it.
    *
    * Weak labels are corpus-ADAPTIVE: the top quartile of the quality
    * score → 1, bottom quartile → 0, the middle unlabeled (excluded
    * from the fit, still scored) — fixed thresholds would degenerate to
    * one class on any corpus whose score mass sits off their band.
    * Shape: training folds the corpus through LBFGS treeAggregate
    * passes (each one map-side partial over hashed 256-dim sparse
    * vectors — no shuffle of text); inference is one narrow map with
    * the model broadcast. Rows-only by design (LBFGS iterates have no
    * SQL oracle); QualityClassifierSpec proves holdout accuracy on
    * planted separable corpora instead. */
  def q152QualityClassifierOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.{HashingTF, Tokenizer}
    val scored = docs.where(col("text").isNotNull)
      .select(col("doc_id"), col("text"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("__q"))
    val Array(lo, hi) = scored.stat
      .approxQuantile("__q", Array(0.25, 0.75), 0.001)
    require(lo < hi,
      s"q152: quality score is (near-)constant on this corpus ($lo == $hi) " +
        "— quartile weak labels would collapse to one class")
    val base = scored.withColumn("label",
      when(col("__q") >= hi, 1.0).when(col("__q") <= lo, 0.0))
    val pipe = new Pipeline().setStages(Array(
      new Tokenizer().setInputCol("text").setOutputCol("__toks"),
      new HashingTF().setInputCol("__toks").setOutputCol("features")
        .setNumFeatures(QcDims),
      new LogisticRegression().setMaxIter(50).setRegParam(0.01)))
    val labeled = base.where(col("label").isNotNull).cache()
    try {
      val model = pipe.fit(labeled)
      model.transform(base)
        .select(col("doc_id"),
          col("label").cast("int").as("weak_label"),
          col("prediction").cast("int").as("pred_label"),
          round(element_at(org.apache.spark.ml.functions
            .vector_to_array(col("probability"), "float64"), 2), 4)
            .as("p_good"))
    } finally { labeled.unpersist(); () }
  }

  def q152QualityClassifier(s: SparkSession, dir: String): DataFrame =
    q152QualityClassifierOn(Tables.documents(s, dir))

  /** q193 — inter-rater agreement (Cohen's κ) between the engine's two
    * language classifiers — q23's charset/stopword heuristic and
    * q122's trained Naive Bayes — on the NB test slice: the
    * weak-supervision audit that tells you whether two labelers agree
    * BEYOND what their marginal label rates force (raw agreement can
    * run high on a skewed corpus while κ sits near 0). κ lands in
    * exact ppm from integer confusion counts:
    * `κ = (N·Σnₖₖ − Σ rowₖ·colₖ)·10⁶ div (N² − Σ rowₖ·colₖ)`,
    * decimal-widened (N² passes Long at corpus scale).
    *
    * Scale shape: both classifier queries run as shipped (the audit
    * can't drift from the classifiers); the join is doc_id-keyed; the
    * confusion matrix is |labels|² rows and every margin product runs
    * on that broadcast-sized frame. */
  def q193RaterKappa(s: SparkSession, dir: String): DataFrame = {
    val a = TextVector.q23LangId(s, dir)
      .select(col("doc_id"), col("lang_guess").as("a"))
    val b = q122NbLangid(s, dir)
      .select(col("doc_id"), col("predicted").as("b"))
    val conf = a.join(b, "doc_id").groupBy("a", "b")
      .agg(count(lit(1)).as("c"))
      // bounded (lang-alphabet² rows) and consumed by THREE branches
      // (row marginals, column marginals, agreement total) — without the
      // cut, both langid pipelines (q23 scan + the whole q122 NB train +
      // score) re-executed once per branch
      .persist()
    val rows = conf.groupBy(col("a").as("k")).agg(sum("c").as("rt"))
    val cols = conf.groupBy(col("b").as("k")).agg(sum("c").as("ct"))
    val peNum = rows.join(cols, "k")
      .agg(coalesce(sum(expr("cast(rt as decimal(38,0)) * ct")),
        expr("cast(0 as decimal(38,0))")).as("pe_num"))
    val tot = conf.agg(sum("c").as("n"),
      sum(when(col("a") === col("b"), col("c")).otherwise(0L)).as("agree"))
    val out = tot.crossJoin(broadcast(peNum))
      .select(col("n"), col("agree"),
        expr("cast(cast(agree as decimal(38,0)) * 1000000 div n as bigint)")
          .as("po_ppm"),
        expr("cast(pe_num * 1000000 div (cast(n as decimal(38,0)) * n) as bigint)")
          .as("pe_ppm"),
        when(expr("cast(n as decimal(38,0)) * n - pe_num") === 0.0,
          lit(null).cast("long"))
          .otherwise(expr(
            """cast((cast(n as decimal(38,0)) * agree - pe_num) * 1000000
              | div (cast(n as decimal(38,0)) * n - pe_num) as bigint)""".stripMargin))
          .as("kappa_ppm"))
    graft.operators.SmallResult.materialize(out, conf)
  }

  // ---------------------------------------------------------------- q239

  /** q239 — Jensen–Shannon divergence between the two
    * lexicographically-first sources' token distributions:
    * JS(P,Q) = ½·Σp·ln(2p/(p+q)) + ½·Σq·ln(2q/(p+q)), reported in
    * micro-nats (0 = identical language, ln 2 ≈ 693147 = disjoint
    * vocabularies). The SYMMETRIC, always-finite distribution
    * distance the rest of the drift family lacks: q127's PSI needs a
    * binning choice and q124's DSIR log-ratios blow up on
    * vocabulary-miss (KL is infinite when q=0); JS is bounded and
    * zero-safe by construction, which is why corpus-mix papers report
    * it between sources.
    *
    * Integer discipline: per-token ln arguments are RATIOS OF EXACT
    * INTEGERS (a = c₁·n₂, b = c₂·n₁ — one IEEE division + ln, micro-
    * snapped identically in both engines, the q104 discipline); each
    * is weighted by the exact count and the two sums land as longs;
    * the final ½/n normalizations are two integral divs.
    *
    * Scale shape: corpus → (source, token) spine in one pass; the
    * full-outer token join of the two sources' spines is
    * vocabulary-bounded; one scalar aggregate after. */
  def q239JsDivergence(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ss = docs.select("source").distinct().orderBy("source")
      .limit(2).collect().map(_.getString(0))
    jsDivergenceOn(docs.where(col("source").isin(ss(0), ss(1)))
      .select((col("source") === ss(0)).as("a"),
        explode(split(col("text"), " ")).as("tok")), ss(0), ss(1))
  }

  /** [[q239JsDivergence]] over any two-sample (`a` bool, `tok`) frame. */
  def jsDivergenceOn(toks: DataFrame, srcA: String, srcB: String)
      : DataFrame = {
    val spine = toks.groupBy("tok").agg(
      sum(when(col("a"), 1L).otherwise(0L)).as("c1"),
      sum(when(!col("a"), 1L).otherwise(0L)).as("c2"))
    val n = spine.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    spine.crossJoin(broadcast(n))
      // widen BEFORE the product: count·total crosses the long range
      // long before a corpus is interesting; the double is exact to
      // 2^53 and both engines derive it from the same integers
      .withColumn("x", col("c1").cast("double") * col("n2"))
      .withColumn("y", col("c2").cast("double") * col("n1"))
      .agg(
        sum(when(col("c1") > 0L, col("c1") *
          expr("cast(round(ln(2.0 * x / (x + y)) * 1000000) as bigint)")))
          .as("t1"),
        sum(when(col("c2") > 0L, col("c2") *
          expr("cast(round(ln(2.0 * y / (x + y)) * 1000000) as bigint)")))
          .as("t2"),
        first("n1").as("n1"), first("n2").as("n2"))
      .select(lit(srcA).as("src_a"), lit(srcB).as("src_b"),
        col("n1"), col("n2"),
        expr("t1 div (2 * n1) + t2 div (2 * n2)").as("js_micro"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q239_js_divergence" -> (q239JsDivergence _),
    "q193_rater_kappa" -> (q193RaterKappa _),
    "q140_kcenter_coreset" -> (q140KcenterCoreset _),
    "q152_quality_classifier" -> (q152QualityClassifier _),
    "q122_nb_langid" -> (q122NbLangid _),
    "q123_dedup_audit" -> (q123DedupAudit _),
    "q124_dsir_weights" -> (q124DsirWeights _),
    "q125_split_leakage" -> (q125SplitLeakage _),
    "q127_source_drift" -> (q127SourceDrift _),
    "q128_cluster_split" -> (q128ClusterSplit _))

  private val nbSplitPct =
    "('0x' || substr(md5('nb:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100"
  private val auditPct =
    "('0x' || substr(md5('audit:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100"

  // q123: candidates re-derive the Kirsch–Mitzenmacher lanes CTE the
  // dedup oracles share, restricted to the audit stratum. Composed by
  // plain concatenation — stripMargin would corrupt embedded || lines.
  private lazy val q123OracleSql: String =
    PipelineQueries.kmLanesCte(s" WHERE $auditPct < $AuditPct") + """,
cand AS (
 SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
 FROM lanes a JOIN lanes b
 ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
truth AS (
 SELECT a.doc_id AS a_id, b.doc_id AS b_id
 FROM tokhash a JOIN tokhash b ON a.doc_id < b.doc_id
 WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
   / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.5),
hit AS (SELECT a_id, b_id FROM truth INTERSECT SELECT a_id, b_id FROM cand),
m AS (SELECT
  (SELECT count(*) FROM tokhash) AS n_docs,
  (SELECT count(*) FROM truth) AS n_truth,
  (SELECT count(*) FROM cand) AS n_cand,
  (SELECT count(*) FROM hit) AS n_hit)
SELECT CAST(n_docs AS BIGINT) AS n_docs, CAST(n_truth AS BIGINT) AS n_truth,
 CAST(n_cand AS BIGINT) AS n_cand, CAST(n_hit AS BIGINT) AS n_hit,
 CASE WHEN n_cand > 0 THEN round(CAST(n_hit AS DOUBLE) / n_cand, 6)
  ELSE 0.0 END AS cand_precision,
 CASE WHEN n_truth > 0 THEN round(CAST(n_hit AS DOUBLE) / n_truth, 6)
  ELSE 0.0 END AS pair_recall
FROM m"""

  // q128: q70's recursive transitive closure over the q31 pair SQL,
  // with the q98 split CASE keyed on the component. Concatenated, NOT
  // outer-stripMargined (the embedded q31 SQL carries || concat lines).
  private lazy val q128OracleSql: String =
    "WITH RECURSIVE pairs31 AS (\n" + PipelineQueries.q31PairsSql + "\n),\n" + """
sym AS (
 SELECT a_id AS a, b_id AS b FROM pairs31
 UNION SELECT b_id, a_id FROM pairs31),
r AS (
 SELECT doc_id AS id, doc_id AS reach FROM documents
 UNION
 SELECT r.id, s.b FROM r JOIN sym s ON r.reach = s.a),
comp AS (SELECT id, min(reach) AS component FROM r GROUP BY id)
SELECT id AS doc_id,
 CASE WHEN pct < 90 THEN 'train' WHEN pct < 95 THEN 'val' ELSE 'test' END AS split
FROM (SELECT id,
  ('0x' || substr(md5('split:' || CAST(component AS VARCHAR)), 1, 8))::BIGINT % 100 AS pct
 FROM comp)"""

  /** q122's oracle as a standalone value so q193 can embed it. */
  private lazy val OracleSqlQ122: String =
      s"""WITH base AS (
        | SELECT doc_id, lang, text,
        |  CASE WHEN $nbSplitPct < 80 THEN 1 ELSE 0 END AS is_train
        | FROM documents),
        |toks AS (
        | SELECT doc_id, lang, is_train,
        |  unnest(string_split(text, ' ')) AS tok
        | FROM base),
        |cc AS (SELECT lang, tok, count(*) AS c FROM toks
        |       WHERE is_train = 1 GROUP BY lang, tok),
        |ct AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tot FROM cc GROUP BY lang),
        |vocab AS (SELECT DISTINCT tok FROM toks WHERE is_train = 1),
        |v AS (SELECT count(*) AS v FROM vocab),
        |dense AS (
        | SELECT vocab.tok, ct.lang AS cls,
        |  CAST(round(ln((COALESCE(cc.c, 0) + 1.0) / (ct.tot + v.v)) * 1000000)
        |   AS BIGINT) AS lp
        | FROM vocab CROSS JOIN ct CROSS JOIN v
        | LEFT JOIN cc ON cc.tok = vocab.tok AND cc.lang = ct.lang),
        |ntr AS (SELECT count(*) AS n FROM base WHERE is_train = 1),
        |prior AS (
        | SELECT lang AS cls,
        |  CAST(round(ln(CAST(count(*) AS DOUBLE) / ntr.n) * 1000000) AS BIGINT) AS prior
        | FROM base, ntr WHERE is_train = 1 GROUP BY lang, ntr.n),
        |unk AS (
        | SELECT ct.lang AS cls,
        |  CAST(round(ln(1.0 / (ct.tot + v.v)) * 1000000) AS BIGINT) AS unklp
        | FROM ct CROSS JOIN v),
        |tt AS (SELECT doc_id, tok FROM toks WHERE is_train = 0),
        |ks AS (
        | SELECT tt.doc_id, d.cls, CAST(sum(d.lp) AS BIGINT) AS ks
        | FROM tt JOIN dense d ON d.tok = tt.tok GROUP BY tt.doc_id, d.cls),
        |nu AS (
        | SELECT doc_id, count(*) AS n_unk FROM tt
        | WHERE NOT EXISTS (SELECT 1 FROM vocab WHERE vocab.tok = tt.tok)
        | GROUP BY doc_id),
        |scores AS (
        | SELECT b.doc_id, b.lang, p.cls,
        |  p.prior + COALESCE(ks.ks, 0) + COALESCE(nu.n_unk, 0) * u.unklp AS score
        | FROM base b CROSS JOIN prior p
        | JOIN unk u ON u.cls = p.cls
        | LEFT JOIN ks ON ks.doc_id = b.doc_id AND ks.cls = p.cls
        | LEFT JOIN nu ON nu.doc_id = b.doc_id
        | WHERE b.is_train = 0),
        |ranked AS (
        | SELECT doc_id, lang, cls, score,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls) AS rn
        | FROM scores)
        |SELECT doc_id, lang, cls AS predicted,
        | CAST(score AS BIGINT) AS score_micro,
        | CAST(CASE WHEN lang = cls THEN 1 ELSE 0 END AS BIGINT) AS correct
        |FROM ranked WHERE rn = 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "q239_js_divergence" ->
      """WITH pair AS (
        | SELECT min(source) AS s1,
        |  min(CASE WHEN source > (SELECT min(source) FROM documents)
        |      THEN source END) AS s2
        | FROM documents),
        |toks AS (
        | SELECT source = (SELECT s1 FROM pair) AS a,
        |  unnest(string_split(text, ' ')) AS tok
        | FROM documents
        | WHERE source IN (SELECT s1 FROM pair)
        |    OR source IN (SELECT s2 FROM pair)),
        |spine AS (
        | SELECT tok,
        |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |  CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS c2
        | FROM toks GROUP BY tok),
        |n AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |             CAST(sum(c2) AS BIGINT) AS n2 FROM spine),
        |xy AS (
        | SELECT c1, c2, CAST(c1 AS DOUBLE) * n.n2 AS x,
        |  CAST(c2 AS DOUBLE) * n.n1 AS y
        | FROM spine CROSS JOIN n),
        |t AS (
        | SELECT
        |  CAST(sum(CASE WHEN c1 > 0 THEN c1 *
        |   CAST(round(ln(2.0 * x / (x + y)) * 1000000) AS BIGINT) END)
        |   AS BIGINT) AS t1,
        |  CAST(sum(CASE WHEN c2 > 0 THEN c2 *
        |   CAST(round(ln(2.0 * y / (x + y)) * 1000000) AS BIGINT) END)
        |   AS BIGINT) AS t2
        | FROM xy)
        |SELECT (SELECT s1 FROM pair) AS src_a, (SELECT s2 FROM pair) AS src_b,
        | n.n1, n.n2, t.t1 // (2 * n.n1) + t.t2 // (2 * n.n2) AS js_micro
        |FROM t CROSS JOIN n""".stripMargin,
    // plain concatenation (NOT an outer stripMargin): the embedded
    // classifier oracles contain DuckDB || lines stripMargin would mangle
    "q193_rater_kappa" ->
      ("WITH ra AS (\n" + TextVector.oracles("q23_langid") + "\n),\n" +
        "rb AS (\n" + OracleSqlQ122 + "\n),\n" +
        """conf AS (
          | SELECT ra.lang_guess AS a, rb.predicted AS b,
          |  CAST(count(*) AS BIGINT) AS c
          | FROM ra JOIN rb ON ra.doc_id = rb.doc_id GROUP BY 1, 2),
          |m AS (
          | SELECT r.k, CAST(r.rt AS HUGEINT) * c.ct AS p
          | FROM (SELECT a AS k, CAST(sum(c) AS BIGINT) AS rt FROM conf GROUP BY 1) r
          | JOIN (SELECT b AS k, CAST(sum(c) AS BIGINT) AS ct FROM conf GROUP BY 1) c
          |  ON r.k = c.k),
          |pe AS (SELECT COALESCE(CAST(sum(p) AS HUGEINT), CAST(0 AS HUGEINT)) AS pe_num FROM m),
          |t AS (
          | SELECT CAST(sum(c) AS BIGINT) AS n,
          |  CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS agree
          | FROM conf)
          |SELECT n, agree,
          | CAST(CAST(agree AS HUGEINT) * 1000000 // n AS BIGINT) AS po_ppm,
          | CAST(pe_num * 1000000 // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_ppm,
          | CASE WHEN CAST(n AS HUGEINT) * n - pe_num = 0 THEN NULL
          |  ELSE CAST((CAST(n AS HUGEINT) * agree - pe_num) * 1000000
          |   // (CAST(n AS HUGEINT) * n - pe_num) AS BIGINT) END AS kappa_ppm
          |FROM t CROSS JOIN pe""".stripMargin),
    "q128_cluster_split" -> q128OracleSql,
    "q122_nb_langid" -> OracleSqlQ122,
    "q123_dedup_audit" -> q123OracleSql,
    "q127_source_drift" ->
      s"""WITH tb AS (
        | SELECT source,
        |  ('0x' || substr(md5('kl:' || tok), 1, 8))::BIGINT % $DsirBuckets AS b
        | FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |       FROM documents)),
        |ct AS (SELECT source, b, count(*) AS ct FROM tb GROUP BY source, b),
        |st AS (SELECT source, CAST(sum(ct) AS BIGINT) AS tot FROM ct GROUP BY source),
        |cr AS (SELECT b, count(*) AS cr FROM tb GROUP BY b),
        |tots AS (SELECT CAST(sum(cr) AS BIGINT) AS totr FROM cr),
        |lr AS (
        | SELECT ct.source, ct.ct,
        |  CAST(round(ln((ct.ct + 1.0) / (st.tot + $DsirBuckets)) * 1000000) AS BIGINT)
        |  - CAST(round(ln((cr.cr + 1.0) / (tots.totr + $DsirBuckets)) * 1000000) AS BIGINT) AS lr
        | FROM ct JOIN st USING (source) JOIN cr USING (b) CROSS JOIN tots)
        |SELECT source, CAST(sum(ct) AS BIGINT) AS n_tok,
        | CAST(round(CAST(sum(ct * lr) AS DOUBLE) / sum(ct), 0) AS BIGINT) AS kl_micro
        |FROM lr GROUP BY source""".stripMargin,
    "q125_split_leakage" ->
      s"""WITH toks AS (
        | SELECT doc_id,
        |  ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |    % 100 AS pct,
        |  string_split(text, ' ') AS t FROM documents
        | WHERE len(string_split(text, ' ')) >= ${Curation.SpanK}),
        |pos AS (
        | SELECT doc_id, pct, t,
        |  unnest(generate_series(1, len(t) - ${Curation.SpanK - 1})) AS i
        | FROM toks),
        |spans AS (
        | SELECT doc_id, pct,
        |  md5(array_to_string(t[i : i + ${Curation.SpanK - 1}], ' ')) AS h
        | FROM pos),
        |train AS (SELECT DISTINCT h FROM spans WHERE pct < 90),
        |ev AS (SELECT doc_id, h FROM spans WHERE pct >= 90)
        |SELECT ev.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        | CAST(count(tr.h) AS BIGINT) AS n_leaked,
        | round(CAST(count(tr.h) AS DOUBLE) / count(*), 6) AS leak_ratio
        |FROM ev LEFT JOIN train tr ON tr.h = ev.h
        |GROUP BY ev.doc_id""".stripMargin,
    "q124_dsir_weights" ->
      s"""WITH tb AS (
        | SELECT doc_id, lang,
        |  ('0x' || substr(md5('ds:' || tok), 1, 8))::BIGINT % $DsirBuckets AS b
        | FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |       FROM documents)),
        |ct AS (SELECT b, count(*) AS ct FROM tb WHERE lang = 'en' GROUP BY b),
        |cr AS (SELECT b, count(*) AS cr FROM tb GROUP BY b),
        |tots AS (SELECT
        |  (SELECT CAST(sum(ct) AS BIGINT) FROM ct) AS tott,
        |  (SELECT CAST(sum(cr) AS BIGINT) FROM cr) AS totr),
        |lr AS (
        | SELECT cr.b,
        |  CAST(round(ln((COALESCE(ct.ct, 0) + 1.0) / (tots.tott + $DsirBuckets))
        |    * 1000000) AS BIGINT)
        |  - CAST(round(ln((cr.cr + 1.0) / (tots.totr + $DsirBuckets))
        |    * 1000000) AS BIGINT) AS lr
        | FROM cr LEFT JOIN ct USING (b) CROSS JOIN tots)
        |SELECT tb.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        | CAST(sum(lr.lr) AS BIGINT) AS lw_micro
        |FROM tb JOIN lr USING (b) GROUP BY tb.doc_id""".stripMargin)
}
