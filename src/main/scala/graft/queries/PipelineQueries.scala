package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{SimHash, TextFunctions => T, VectorFunctions => V}
import graft.operators.Multimodal
import graft.outbreak.{AnomalyScorer, Preprocess}
import graft.sources.Tables

/** Composite / ML / approximate queries. q31 has a DuckDB oracle; the rest
  * are rows-only (ML models, hash functions, and partition-batched
  * extraction are not expressible in DuckDB SQL).
  */
object PipelineQueries {

  /** The events table's type vocabulary (shared with Relational). */
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Events reinterpreted as the reference's tidy daily table
    * `(date, region, kw, value)` (SURVEY §1.2): day = date(ts),
    * region = user bucket, kw = event_type, value = daily sum. */
  def dailyFromEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(
        to_date(col("ts")).as("date"),
        concat(lit("R"), col("user_id") % 5).as("region"),
        col("event_type").as("kw"))
      // integer-cents accumulation: exact in Long, so the daily value is
      // independent of partial-agg merge order (oracle-stable)
      .agg((sum(round(col("value") * 100.0, 0).cast("long")) / 100.0).as("value"))

  /** The wide ML feature table: daily → detrend → static pivot → month
    * one-hot (reference EP2 preprocess, Main.scala:168-250 semantics). */
  def outbreakFeatures(s: SparkSession, dir: String): DataFrame = {
    val wide = Preprocess.withMonthOneHot(
      Preprocess.pivotWide(Preprocess.detrend(dailyFromEvents(s, dir)), EventTypes))
    val kwCols = EventTypes.map(c => round(col(c), 6).as(c))
    val monthCols = Preprocess.MonthNames.map(m => col(s"is_$m"))
    wide.select(date_format(col("date"), "yyyy-MM-dd").as("date") +:
      col("region") +: (kwCols ++ monthCols): _*)
  }

  /** Flagship: full anomaly scoring — daily → detrend → pivot → assemble
    * → KMeans (silhouette-selected k) → z-scored centroid distance. */
  def outbreakScores(s: SparkSession, dir: String): DataFrame =
    AnomalyScorer.fit(dailyFromEvents(s, dir), EventTypes, pcaK = 0)._1

  /** Token-set Jaccard similarity (≥ 0.5) for same-(source, lang) pairs —
    * candidates come from MinHash-LSH BANDS (the q53 machinery via
    * [[graft.operators.Dedup.bandedCandidates]], block keys included in
    * the band join), then exact-Jaccard verification. Pair count is
    * bounded by bucket collisions, never quadratic in block size — the
    * coarse-key self-join this query used to run became the whole job at
    * scale. Oracle-checked: DuckDB replicates band → candidate → verify. */
  def q31NgramJaccard(s: SparkSession, dir: String): DataFrame =
    q31NgramJaccardOn(Tables.documents(s, dir))

  /** [[q31NgramJaccard]] over any (doc_id, source, lang, text) frame —
    * the q154 export pipeline runs it on gated+stripped documents. */
  def q31NgramJaccardOn(docs0: DataFrame): DataFrame = {
    val s = docs0.sparkSession
    // tokens sorted once per doc so the per-pair intersect is a native
    // O(n+m) merge walk (graft_intersect_size) instead of a hash set build
    val docs = docs0
      .repartition(s.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), col("source"), col("lang"),
        sort_array(T.distinctTokens(col("text"))).as("toks"),
        T.bandKey(col("text"), 0, 2).as("__b0"),
        T.bandKey(col("text"), 1, 2).as("__b1"))
      .cache()
    val cand = graft.operators.Dedup.bandedCandidates(
      docs, "doc_id", bands = 2, blockCols = Seq("source", "lang"))
    // |A ∪ B| = |A| + |B| − |A ∩ B| — one array traversal per pair instead
    // of two (arrays are distinct-token sets, so the identity is exact).
    cand
      .join(docs.select(col("doc_id").as("__a_id"), col("toks").as("a_toks")), "__a_id")
      .join(docs.select(col("doc_id").as("__b_id"), col("toks").as("b_toks")), "__b_id")
      .withColumn("inter", call_function("graft_intersect_size", col("a_toks"), col("b_toks")))
      .select(col("__a_id").as("a_id"), col("__b_id").as("b_id"),
        (col("inter").cast("double") /
          (size(col("a_toks")) + size(col("b_toks")) - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= 0.5)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** 64-bit SimHash per (doc_id, text) frame via the custom typed
    * Aggregator — one narrow pass + one map-side-combinable agg. Token
    * hash is the 60-bit md5 prefix (lanes 60-63 vote 0), the same
    * DuckDB-replicable family the minhash dedups use, so q32/q33 get
    * full hash-checked oracles; swap in `xxhash64` for the cheaper
    * non-replicable production hash — every property except the oracle
    * is hash-agnostic. */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val simhashUdaf = udaf(SimHash)
    docs
      .select(col("doc_id"), explode(T.distinctTokens(col("text"))).as("tok"))
      .select(col("doc_id"), T.md5Hash60(col("tok")).as("h"))
      .groupBy("doc_id")
      .agg(simhashUdaf(col("h")).as("simhash"))
  }

  /** SimHash near-dup candidates over a (doc_id, text) frame: the shared
    * pigeonhole banding ([[graft.operators.Dedup.simhashBandPairs]] —
    * maxHamming+1 disjoint chunks make candidate generation EXACT; the
    * old 4×16-bit layout only guaranteed Hamming ≤ 3 and missed ~half
    * the true pairs at the ≤8 cut, caught by SimHashPairsSpec) over the
    * token signatures. */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int = 8): DataFrame =
    graft.operators.Dedup.simhashBandPairs(
      simhashSignatures(docs).cache(), "doc_id", "simhash", maxHamming)

  /** Near-duplicate CLUSTERS: connected components over the verified
    * q31 similarity pairs (star-contraction,
    * [[graft.operators.ConnectedComponents]]) → per-cluster doc counts.
    * The survivor-rule dedups (q52-q57) drop greedily without building
    * components; this is the exact-cluster view a curation pipeline uses
    * for stratified sampling / canonical-doc election. Oracle-checked:
    * DuckDB computes the same components with a recursive CTE. */
  def q70DupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = q31NgramJaccard(s, dir)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val docs = Tables.documents(s, dir).select("doc_id")
    graft.operators.ConnectedComponents.components(pairs, Some(docs))
      .groupBy("component")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** q131 — QUALITY-AWARE dedup survivor selection: q70's near-dup
    * clusters, but the kept document is the cluster's argmax q24 quality
    * (ties by min doc_id) instead of blind min-id. This is what
    * production pipelines actually ship — when a boilerplate-ridden copy
    * and a clean copy collide, min-id keeps whichever crawled first;
    * keep-best keeps the clean one. Ranking runs inside each component
    * (row_number over component — components are near-dup clusters, so
    * partitions are small by construction; no global sort). */
  def q131DedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val pairs = q31NgramJaccard(s, dir)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val docs = Tables.documents(s, dir).select("doc_id")
    val comp = graft.operators.ConnectedComponents.components(pairs, Some(docs))
    val w = Window.partitionBy("component")
      .orderBy(col("quality").desc, col("doc_id"))
    comp.select(col("id").as("doc_id"), col("component"))
      .join(TextVector.q24Quality(s, dir), Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .groupBy("component")
      .agg(count(lit(1)).as("n_docs"),
        max(when(col("rn") === 1, col("doc_id"))).as("keep_id"),
        max(when(col("rn") === 1, col("quality"))).as("keep_quality"))
  }

  def q32SimHash(s: SparkSession, dir: String): DataFrame =
    simhashSignatures(Tables.documents(s, dir))

  def q33SimHashNearDup(s: SparkSession, dir: String): DataFrame =
    simhashNearDupPairs(Tables.documents(s, dir))

  /** Deterministic random hyperplanes for cosine LSH (fixed seed). */
  private lazy val planes: Seq[Array[Double]] = V.gaussianPlanes(6, 64, 42L)

  /** LSH-bucketed ANN with MULTIPROBE: queries probe their hyperplane
    * bucket plus all buckets within Hamming distance 2 (22 of 64) via an
    * exploded probe-key hash join — never a cross join against the
    * collection. Single-bucket probing starved sparse buckets (<k
    * neighbors); multiprobe fills k. Recall note (measured, AnnRecallSpec):
    * on a corpus of genuinely-near neighbors recall@10 ≥ 0.9; on this
    * synthetic near-RANDOM corpus (top-10 cosine ≈ 0.3) no sublinear probe
    * can reach that — radius 2 gives ≈0.5 here, asserted as the floor. */
  def q34AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    graft.operators.AnnLsh.search(
      e, e.where(col("vec_id") < 5),
      planes, idCol = "vec_id", vecCol = "embedding",
      qIdCol = "vec_id", qVecCol = "embedding", k = 10, radius = 2)
  }

  /** Multimodal binary-column pipeline: REAL BMP/WAV decode (pure-JDK
    * codecs) over per-partition batches; synthesis is the fixture. */
  def q35Multimodal(s: SparkSession, dir: String): DataFrame =
    Multimodal.pipeline(s, Tables.documents(s, dir))

  /** Audio-fingerprint dedup (q101): gain-invariant energy-delta hash
    * over the REAL decoded PCM — completes the near-dup family across
    * modalities. Rows-only (DuckDB cannot decode WAV); gain invariance
    * and exact pair sets asserted in AudioDedupSpec. */
  def q101AudioNearDup(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioNearDupPairs(
      Multimodal.attachBinary(Tables.documents(s, dir)))

  /** Perceptual-hash image dedup (q100): dHash over the REAL decoded
    * pixels, candidates from the shared pigeonhole banding — the
    * multimodal member of the near-dup family (text minhash q53, token
    * SimHash q33, embedding cosine q54, images here). Rows-only entry
    * (DuckDB cannot decode BMP); invariants asserted in MultimodalSpec. */
  def q100ImageNearDup(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageNearDupPairs(
      Multimodal.attachBinary(Tables.documents(s, dir)))

  /** IVF-indexed ANN: KMeans coarse quantizer (16 cells), probe the 3
    * nearest cells per query — the density-adaptive scale path next to
    * hyperplane LSH (q34) and brute force (q29). */
  def q49AnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val (indexed, centers) = graft.operators.AnnIvf.buildIndex(
      s, e.select(col("vec_id"), col("embedding")), "embedding",
      nLists = 16, seed = 1L)
    val queries = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("__qid"), col("embedding").as("qv"))
    graft.operators.AnnIvf.search(indexed, centers, queries,
      qVecCol = "qv", vecCol = "embedding", idCol = "vec_id",
      k = 10, nProbe = 3, excludeSelf = true)
  }

  /** Product-quantization ANN (q95): train per-subspace codebooks, encode
    * the collection to m=8 int codes (64× smaller than the floats), then
    * ADC top-k — the memory-scale ANN variant; see
    * [[graft.operators.AnnPq]]. Rows-only entry (codebooks are trained,
    * so no static SQL oracle); recall is asserted against a planted
    * corpus in AnnPqSpec. */
  def q95AnnPq(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val cb = graft.operators.AnnPq.train(e, "embedding", m = 8, ksub = 16, seed = 1L)
    val encoded = graft.operators.AnnPq.encode(e, "embedding", cb)
    graft.operators.AnnPq.search(encoded, cb, e.where(col("vec_id") < 5),
      qIdCol = "vec_id", qVecCol = "embedding", idCol = "vec_id", k = 10)
  }

  /** IVFADC (q96): IVF cells prune candidates, PQ codes rank them — the
    * composition production ANN systems run at 10^11-vector scale (codes
    * fit in memory, probes touch nProbe/nLists of them). Rows-only entry;
    * AnnPqSpec asserts the nProbe=nLists degeneration equals full ADC and
    * planted recall. */
  def q96AnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")).cache()
    e.count()
    // the coarse quantizer and the sub-codebooks are independent models —
    // fit them concurrently (Spark schedules both job groups at once)
    val coarseF = Future(graft.operators.AnnIvf.buildIndex(
      s, e, "embedding", nLists = 16, seed = 1L))
    val cbF = Future(graft.operators.AnnPq.train(
      e, "embedding", m = 8, ksub = 16, seed = 1L))
    val (indexed, centers) = Await.result(coarseF, Duration.Inf)
    val cb = Await.result(cbF, Duration.Inf)
    val encoded = graft.operators.AnnPq.encode(indexed, "embedding", cb)
    graft.operators.AnnPq.searchIvf(encoded, cb, centers,
      e.where(col("vec_id") < 5), qIdCol = "vec_id", qVecCol = "embedding",
      idCol = "vec_id", k = 10, nProbe = 4)
  }

  /** Shingle(3-gram) MinHash signature — the dedup unit that catches
    * token re-orderings. Oracle-checked (MD5 family replicated in DuckDB
    * over the same word-trigram windows). */
  def q50ShingleMinhash(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      // spread the hash-heavy narrow work off the single input split
      .repartition(s.sessionState.conf.numShufflePartitions)
      // materialize the shingle set once; both minhashes map over it
      .withColumn("__sh", T.shingles(col("text"), 3))
      .select(col("doc_id"),
        array_min(transform(col("__sh"), sh => md5(concat(lit("0|"), sh)))).as("smh0"),
        array_min(transform(col("__sh"), sh => md5(concat(lit("1|"), sh)))).as("smh1"))

  /** Multimodal frame sampling over REAL decoded media (BMP pixel rows /
    * WAV sample windows). */
  def q51FrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(Multimodal.attachBinary(Tables.documents(s, dir)))
      .select(col("doc_id"), col("frame_idx"),
        round(element_at(col("features"), 1).cast("double"), 5).as("f0"))

  /** q155 — image resize-on-ingest audit: every image payload bilinearly
    * resampled to a fixed 16×16 thumbnail (the normalize stage a crawl
    * pipeline runs so downstream feature passes never touch raw bytes),
    * reported as one audit row per image — in/out byte sizes, the md5
    * of the RESIZED payload (golden-hashable: the resampler is
    * hand-rolled deterministic bilinear, not Java2D), and mean
    * luminance before/after in milli-units (bilinear resampling must
    * approximately preserve it — the spec bounds the drift). */
  def q155ImageResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ONE narrow pass per image — synthesize, featurize, resize,
    // re-featurize, digest, all inside the same task; only the small
    // audit row leaves the partition (payloads never join or shuffle)
    Multimodal.attachBinary(Tables.documents(s, dir))
      .filter(_.media_type == "image/bmp")
      .mapPartitions(_.map { r =>
        val resized = Multimodal.resizeImages16(r)
        def lumMilli(p: Array[Byte]): Long =
          math.round(Multimodal.meanLuminance(p) * 1000.0)
        (r.doc_id, r.n_bytes, resized.n_bytes,
          lumMilli(r.payload), lumMilli(resized.payload),
          java.security.MessageDigest.getInstance("MD5")
            .digest(resized.payload).map("%02x".format(_)).mkString)
      })
      .toDF("doc_id", "in_bytes", "out_bytes",
        "lum_in_milli", "lum_out_milli", "out_digest")
  }

  /** Per-region Isolation Forest anomaly scoring of the latest day — the
    * reference's Scala scoring path (Main.scala:283-341 semantics) with the
    * driver loop replaced by a single mapGroups fan-out. */
  def q36IForestScores(s: SparkSession, dir: String): DataFrame = {
    val wide = Preprocess.withMonthOneHot(
      Preprocess.pivotWide(Preprocess.detrend(dailyFromEvents(s, dir)), EventTypes))
    val scoreDate = graft.outbreak.RegionScorers.latestDate(wide)
    graft.outbreak.RegionScorers
      .isolationForestScores(s, wide, Preprocess.featureCols(EventTypes), scoreDate)
      .select(date_format(col("date"), "yyyy-MM-dd").as("date"), col("region"),
        col("predictedLabel"), round(col("outlierScore"), 6).as("outlierScore"))
  }

  def q40OutbreakScores(s: SparkSession, dir: String): DataFrame = {
    val scores = outbreakScores(s, dir)
    scores.select(col("date"), col("region"), round(col("score"), 6).as("score"))
  }

  /** Full EP3 with StandardScaler + PCA(4) ahead of KMeans — the exact
    * notebook path (SURVEY M2/M3/M4/M5). */
  def q37OutbreakPcaScores(s: SparkSession, dir: String): DataFrame =
    AnomalyScorer.fit(dailyFromEvents(s, dir), EventTypes, pcaK = 4)._1
      .select(date_format(col("date"), "yyyy-MM-dd").as("date"), col("region"),
        round(col("score"), 6).as("score"))

  /** Exact-dedup survivor set (min-id rule). */
  def q52DedupExactKeep(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.exactKeep(Tables.documents(s, dir), "doc_id", "text")
      .select("doc_id")

  /** MinHash-LSH near-dup survivor set: bands → candidates → Jaccard
    * verify → min-id rule. (8 bands × 3 rows: S-curve midpoint at the
    * 0.5 threshold; double-hashing family — see Dedup.minhashLshKeep.) */
  def q53DedupMinhashKeep(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.minhashLshKeep(Tables.documents(s, dir),
      "doc_id", "text", threshold = 0.5)
      .select("doc_id")

  /** Incremental dedup (q97): even doc_ids play the already-ingested
    * corpus (as a persisted [[graft.operators.Dedup.minhashIndex]]), odd
    * doc_ids the new crawl batch; admit odd docs that near-dup neither an
    * indexed doc nor a lower-id batch doc. Oracle replicates the banding
    * plus the existing-always-wins precedence. */
  def q97DedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // ONE tokenize+hash pass builds the whole index; the halves are
    // filter views of it (band keys are per-doc functions, so slicing
    // the shared index ≡ indexing each half separately)
    val index = graft.operators.Dedup.minhashIndex(docs, "doc_id", "text")
    graft.operators.Dedup.incrementalMinhashKeep(
        index.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), "doc_id", "text",
        threshold = 0.5,
        incomingIndex = Some(index.where(col("doc_id") % 2 === 1)))
      .select("doc_id")
  }

  /** Neighbors kept per doc in [[q108KnnGraph]]. */
  val KnnK = 5

  /** Sorted-neighborhood window for [[q108KnnGraph]] candidates. */
  val KnnWindow = 8

  /** q108 — corpus k-NN similarity graph: for every document, its top-k
    * most-similar documents by exact token Jaccard, with candidates from
    * the minhash bands via SORTED-NEIGHBORHOOD blocking
    * ([[graft.operators.Dedup.sortedNeighborCandidates]]): dup-heavy
    * corpora turn plain in-bucket pairing quadratic (this corpus's
    * template cliques emit 10M pairs at sf0.1), while the
    * window-of-successors rule is exactly linear — ≤ bands·window
    * candidates per doc — at the cost of approximate recall. The
    * building block of SemDeDup-style cluster dedup, graph clustering,
    * and retrieval eval sets. Similarity is emitted as integer
    * MICRO-JACCARD (inter·10⁶ div union — exact longs, so the hash
    * compare is bit-stable) and the (jacc DESC, neighbor ASC) rank order
    * is total; the top-k is a WindowGroupLimit, not a global sort. Docs
    * whose bands collide with nothing (no near-neighbors at this
    * S-curve) are absent by design — at 100 TB emitting "no neighbors"
    * rows for the long tail would dominate the output. */
  def q108KnnGraph(s: SparkSession, dir: String): DataFrame = {
    val sig = graft.operators.Dedup.minhashIndex(
      Tables.documents(s, dir), "doc_id", "text")
    val cand = graft.operators.Dedup.sortedNeighborCandidates(
      sig, "doc_id", bands = 8, window = KnnWindow)
    val a = sig.select(col("doc_id").as("__a_id"), col("__toks").as("__a_toks"))
    val b = sig.select(col("doc_id").as("__b_id"), col("__toks").as("__b_toks"))
    val inter = call_function("graft_intersect_size",
      col("__a_toks"), col("__b_toks"))
    // Jaccard is symmetric: verify each candidate pair ONCE in a<b form,
    // cache the (ids, jacc) triples — they are the graph's edge list, a
    // sliver of the corpus — and mirror the scored edges instead of
    // re-running candidate generation + token joins for the b→a side.
    val scored = cand.join(a, "__a_id").join(b, "__b_id")
      .withColumn("__i", inter.cast("long"))
      .select(col("__a_id").as("doc_id"), col("__b_id").as("neighbor_id"),
        expr("(__i * 1000000) div (size(__a_toks) + size(__b_toks) - __i)")
          .as("jacc_micro"))
      .cache()
    val w = Window.partitionBy("doc_id")
      .orderBy(col("jacc_micro").desc, col("neighbor_id"))
    scored.unionByName(scored.select(col("neighbor_id").as("doc_id"),
        col("doc_id").as("neighbor_id"), col("jacc_micro")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= KnnK)
  }

  /** Second hyperplane family for [[q109EmbeddingKnn]] (seed 43): two
    * independent bucketings double the chance a true neighbor pair
    * co-buckets somewhere — the band count of this LSH. */
  private lazy val planesB: Seq[Array[Double]] = V.gaussianPlanes(6, 64, 43L)

  /** q109 — embedding-space k-NN graph (the [[q108KnnGraph]] twin over
    * vectors): top-3 neighbors per embedding by exact cosine, candidates
    * from sorted-neighborhood windows inside TWO independent hyperplane
    * bucketings (lead-window pass per band — no join, linear in bucket
    * size). sim ordering uses the raw IEEE double (identical in both
    * engines — q29 precedent), output rounded to 4dp. Completes the
    * similarity-graph family: tokens (q108) and embeddings (here). */
  def q109EmbeddingKnn(s: SparkSession, dir: String): DataFrame = {
    val knnWindow = 8
    val e = Tables.embeddings(s, dir)
    val lanes = e.select(col("vec_id"), lit(0).as("__band"),
        V.hyperplaneBucket(col("embedding"), planes).as("__bucket"))
      .unionByName(e.select(col("vec_id"), lit(1).as("__band"),
        V.hyperplaneBucket(col("embedding"), planesB).as("__bucket")))
    val w = Window.partitionBy("__band", "__bucket").orderBy("vec_id")
    val cand = lanes
      .withColumn("__next",
        array((1 to knnWindow).map(i => lead(col("vec_id"), i).over(w)): _*))
      .select(col("vec_id").as("__a_id"), explode(col("__next")).as("__b_id"))
      .where(col("__b_id").isNotNull)
      .distinct()
    val a = e.select(col("vec_id").as("__a_id"), col("embedding").as("__a_vec"))
    val b = e.select(col("vec_id").as("__b_id"), col("embedding").as("__b_vec"))
    val scored = cand.join(a, "__a_id").join(b, "__b_id")
      .select(col("__a_id").as("vec_id"), col("__b_id").as("neighbor_id"),
        V.nativeCosine(col("__a_vec"), col("__b_vec")).as("__sim"))
      .cache()
    val rankW = Window.partitionBy("vec_id")
      .orderBy(col("__sim").desc, col("neighbor_id"))
    scored.unionByName(scored.select(col("neighbor_id").as("vec_id"),
        col("vec_id").as("neighbor_id"), col("__sim")))
      .withColumn("rank", row_number().over(rankW))
      .where(col("rank") <= 3)
      .select(col("vec_id"), col("neighbor_id"), col("rank"),
        round(col("__sim"), 4).as("sim"))
  }

  /** q115 — ANN recall evaluation as a first-class query: per anchor,
    * how many of the exact top-10 (q29 brute force) the multiprobe LSH
    * (q34) retrieved. Retrieval quality is a pipeline ARTIFACT a curation
    * run must monitor — approximate indexes silently rot as the corpus
    * drifts — so the eval is a query with an oracle, not just a spec
    * assertion (AnnRecallSpec keeps the planted-neighbor floor). Shape:
    * both sides are bounded (anchors × k rows); the join is a broadcast
    * on (query, neighbor). */
  def q115AnnRecall(s: SparkSession, dir: String): DataFrame = {
    val truth = TextVector.q29AnnBruteForce(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    val got = q34AnnLsh(s, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    truth.join(broadcast(got), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("__hit")).as("n_hits"), count(lit(1)).as("n_truth"))
      // divide by the per-anchor truth count, not a hard-coded k: on a
      // small/filtered eval set the exact top-10 can hold <10 rows and a
      // perfect retriever must still score 1.0
      .withColumn("recall_at_10",
        round(col("n_hits").cast("double") / col("n_truth"), 6))
  }

  /** q116 — curation funnel: the attrition report a pipeline operator
    * reads before shipping a corpus — per-filter standalone pass counts
    * on the raw corpus (raw, exact-unique, near-dup survivors, quality
    * floor, contamination-free). Each stage reuses the EXACT query the
    * corresponding operator runs (q52/q53/q24/q64 defs), so the funnel
    * can never drift from the filters it reports on; the oracle composes
    * those stages' oracles the same way. Five independent aggregations —
    * each a count over an already-scale-shaped query. */
  def q116CurationFunnel(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val stages: Seq[(String, DataFrame)] = Seq(
      "1_raw" -> docs,
      "2_exact_unique" -> q52DedupExactKeep(s, dir),
      "3_near_dup_survivor" -> q53DedupMinhashKeep(s, dir),
      "4_quality_ok" -> TextVector.q24Quality(s, dir)
        .where(col("quality") >= 0.5),
      "5_contamination_free" -> docs.where(col("doc_id") >= 20)
        .join(Curation.q64Contamination(s, dir).select("doc_id"),
          Seq("doc_id"), "left_anti"))
    stages.map { case (name, df) =>
      df.agg(count(lit(1)).as("n_docs")).select(lit(name).as("stage"), col("n_docs"))
    }.reduce(_ unionByName _)
  }

  /** q121 — triangle count + global clustering coefficient over the
    * corpus k-NN similarity graph (q108): how clique-y the near-dup
    * structure is — template-generated corpora show high transitivity,
    * organic near-dups low. The classic scale shape: edges are ORIENTED
    * from the lexicographically-smaller (degree, id) endpoint, so every
    * triangle is counted exactly once at its smallest vertex and the
    * wedge join's fan-out per vertex is bounded by arboricity (a
    * hub's O(deg²) wedge explosion lands on the low-degree side),
    * then one semi-join closes wedges against the oriented edge list.
    * Wedge total comes from the degree table, not enumeration. */
  def q121TriangleCount(s: SparkSession, dir: String): DataFrame = {
    val e = q108KnnGraph(s, dir)
      .select(least(col("doc_id"), col("neighbor_id")).as("a"),
        greatest(col("doc_id"), col("neighbor_id")).as("b"))
      .distinct().cache()
    val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("dd"))
      .cache()
    val wedges = oriented.select(col("src"), col("dst").as("v1"), col("dd").as("d1"))
      .join(oriented.select(col("src"), col("dst").as("v2"), col("dd").as("d2")),
        Seq("src"))
      .where(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("v1") < col("v2")))
    val closed = wedges.join(
      oriented.select(col("src").as("v1"), col("dst").as("v2")),
      Seq("v1", "v2"), "left_semi")
    val nT = closed.agg(count(lit(1)).as("n_triangles"))
    val nW = deg.agg(sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    nT.crossJoin(broadcast(nW)).select(col("n_triangles"), col("n_wedges"),
      round(when(col("n_wedges") > 0,
        col("n_triangles") * 3.0 / col("n_wedges")).otherwise(0.0), 6)
        .as("transitivity"))
  }

  /** Embedding-cosine near-dup survivor set via hyperplane-LSH buckets. */
  def q54DedupEmbeddingKeep(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.embeddingKeep(Tables.embeddings(s, dir),
      "vec_id", "embedding", planes, threshold = 0.2)
      .select("vec_id")

  /** Within-cluster cosine threshold for [[q137SemDedup]] — chosen so
    * the prune path actually fires on the synthetic embeddings (max
    * within-cluster sim there is ≈0.44; production SemDeDup runs far
    * tighter, e.g. 0.95+). */
  val SemDedupTau = 0.35

  /** q137 — SemDeDup-style semantic deduplication (Abbas et al. 2023):
    * partition the embedding space into clusters, compare pairs ONLY
    * within a cluster, and drop every vector whose cosine to a
    * lower-id cluster-mate reaches [[SemDedupTau]]. The paper's KMeans
    * clustering is replaced by a deterministic coarse quantizer (argmax
    * component) so the result is DuckDB-reproducible; swap in
    * [[graft.operators.AnnIvf]] centroids for a learned partition.
    *
    * Scale shape: candidates only pair within a cluster, and the pair
    * generation reuses [[graft.operators.Dedup]]'s two-pass exact
    * scheme (bucket-min decimation, then survivors-only pairing) rather
    * than materializing every in-cluster pair — a skewed giant cluster
    * is decimated before it can go quadratic. Vectors shuffle once on
    * the cluster key; the cosine is the codegen'd native expression. */
  def q137SemDedup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"),
      expr("cast(array_position(embedding, array_max(embedding)) as int)")
        .as("cluster"))
    val dropped = graft.operators.Dedup.cosineDropsWithinBuckets(
      e.select(col("vec_id"), col("embedding"), col("cluster").as("__bucket")),
      "vec_id", "embedding", SemDedupTau)
    e.join(dropped.withColumn("__dup", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("__dup").isNull.as("kept"))
  }

  /** DuckDB expression for one hyperplane sign bit (plane as literal). */
  private def planeBitSql(p: Array[Double]): String = {
    val lit = p.map(_.toString).mkString("[", ",", "]")
    s"CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), $lit) >= 0 THEN '1' ELSE '0' END"
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q52_dedup_exact_keep" -> (q52DedupExactKeep _),
    "q53_dedup_minhash_keep" -> (q53DedupMinhashKeep _),
    "q54_dedup_embedding_keep" -> (q54DedupEmbeddingKeep _),
    "q137_semdedup" -> (q137SemDedup _),
    "q57_dedup_minhash_fast" -> ((s: SparkSession, dir: String) =>
      graft.operators.Dedup.fastMinhashLshKeep(
        Tables.documents(s, dir), "doc_id", "text").select("doc_id")),
    "q97_dedup_incremental" -> (q97DedupIncremental _),
    "q108_knn_graph" -> (q108KnnGraph _),
    "q121_triangle_count" -> (q121TriangleCount _),
    "q109_embedding_knn" -> (q109EmbeddingKnn _),
    "q31_ngram_jaccard" -> (q31NgramJaccard _),
    "q32_simhash" -> (q32SimHash _),
    "q33_simhash_neardup" -> (q33SimHashNearDup _),
    "q34_ann_lsh" -> (q34AnnLsh _),
    "q115_ann_recall" -> (q115AnnRecall _),
    "q116_curation_funnel" -> (q116CurationFunnel _),
    "q35_multimodal" -> (q35Multimodal _),
    "q100_image_neardup" -> (q100ImageNearDup _),
    "q101_audio_neardup" -> (q101AudioNearDup _),
    "q36_iforest_scores" -> (q36IForestScores _),
    "q37_outbreak_pca_scores" -> (q37OutbreakPcaScores _),
    "q49_ann_ivf" -> (q49AnnIvf _),
    "q95_ann_pq" -> (q95AnnPq _),
    "q96_ann_ivfpq" -> (q96AnnIvfPq _),
    "q50_shingle_minhash" -> (q50ShingleMinhash _),
    "q51_frame_sample" -> (q51FrameSample _),
    "q155_image_resize" -> (q155ImageResize _),
    "q40_outbreak_features" -> (outbreakFeatures _),
    "q41_outbreak_scores" -> (q40OutbreakScores _),
    "q70_dup_clusters" -> (q70DupClusters _),
    "q131_dedup_keep_best" -> (q131DedupKeepBest _),
  )

  /** q31's near-dup pairs closed into connected components (symmetrize →
    * recursive reachability → min-label), ending in CTE `comp(id,
    * component)` — shared by the q70 and q131 oracles. Concatenated, NOT
    * an outer stripMargin: the embedded q31 SQL has lines starting with
    * the || concat operator, which stripMargin would mangle into `|`. */
  private lazy val ccCompCtes: String =
    "WITH RECURSIVE " + ccClosureCtes("documents", q31PairsSql)

  /** The reachability closure as nameable CTEs (`pairs31`, `sym`, `r`,
    * `comp(id, component)`) over an arbitrary pair SQL and vertex source
    * — the caller supplies the leading `WITH RECURSIVE`. Shared by
    * [[ccCompCtes]] and the q154 export oracle (vertices = cleaned
    * docs). Plain concatenation — see the stripMargin note above. */
  private[queries] def ccClosureCtes(src: String, pairsSql: String): String =
    "pairs31 AS (\n" + pairsSql + "\n),\n" +
    s"""sym AS (
      | SELECT a_id AS a, b_id AS b FROM pairs31
      | UNION SELECT b_id, a_id FROM pairs31),
      |r AS (
      | SELECT doc_id AS id, doc_id AS reach FROM $src
      | UNION
      | SELECT r.id, s.b FROM r JOIN sym s ON r.reach = s.a),
      |comp AS (SELECT id, min(reach) AS component FROM r GROUP BY id)""".stripMargin

  /** q108's oracle (banding + sorted-neighborhood window + rank),
    * shared with q121's triangle composition. */
  private lazy val q108OracleSql: String = kmLanesCte() + s""",
      |cands AS (
      | SELECT doc_id AS a_id, unnest([${(1 to KnnWindow).map(i =>
             s"lead(doc_id, $i) OVER w").mkString(", ")}]) AS b_id
      | FROM lanes WINDOW w AS (PARTITION BY band, bucket ORDER BY doc_id)),
      |pairs AS (
      | SELECT DISTINCT c.a_id, c.b_id, a.toks AS a_toks, b.toks AS b_toks
      | FROM cands c
      |  JOIN tokhash a ON c.a_id = a.doc_id
      |  JOIN tokhash b ON c.b_id = b.doc_id
      | WHERE c.b_id IS NOT NULL),
      |scored1 AS (
      | SELECT a_id AS doc_id, b_id AS neighbor_id,
      |  (CAST(len(list_intersect(a_toks, b_toks)) AS BIGINT) * 1000000)
      |    // (len(a_toks) + len(b_toks) - len(list_intersect(a_toks, b_toks)))
      |    AS jacc_micro
      | FROM pairs),
      |scored AS (
      | SELECT * FROM scored1
      | UNION ALL
      | SELECT neighbor_id AS doc_id, doc_id AS neighbor_id, jacc_micro
      | FROM scored1),
      |ranked AS (
      | SELECT doc_id, neighbor_id, jacc_micro,
      |  CAST(row_number() OVER (
      |    PARTITION BY doc_id ORDER BY jacc_micro DESC, neighbor_id)
      |   AS INTEGER) AS rank
      | FROM scored)
      |SELECT doc_id, neighbor_id, jacc_micro, rank
      |FROM ranked WHERE rank <= $KnnK""".stripMargin

  /** q34's oracle, shared with q115's recall join. Multiprobe radius 2 ≡
    * all pairs at bucket-Hamming ≤ 2: the oracle states the SEMANTICS as
    * a distance filter; the Spark plan realizes it as an exploded
    * probe-key hash join (never a cross join). */
  private lazy val q34OracleSql: String = {
    val bucket = planes.map(planeBitSql).mkString(" || ")
    val ham = (1 to planes.length).map(i =>
      s"(CASE WHEN substr(e.bucket,$i,1) <> substr(q.q_bucket,$i,1) THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH bucketed AS (
      | SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
      |q AS (SELECT vec_id AS query_id, embedding AS qv, bucket AS q_bucket
      |      FROM bucketed WHERE vec_id < 5),
      |sims AS (
      | SELECT query_id, e.vec_id AS neighbor_id,
      |  list_dot_product(CAST(qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
      |   / (sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))
      |      * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))) AS sim
      | FROM q JOIN bucketed e
      |  ON e.vec_id <> q.query_id AND ($ham) <= 2),
      |ranked AS (
      | SELECT query_id, neighbor_id, sim,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
      | FROM sims)
      |SELECT query_id, neighbor_id, rank, round(sim, 4) AS sim
      |FROM ranked WHERE rank <= 10""".stripMargin
  }

  /** q52's/q53's oracles, shared with the q116 funnel composition. */
  private lazy val q52OracleSql: String =
    """SELECT doc_id FROM documents
      |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))""".stripMargin
  private lazy val q53OracleSql: String = kmDedupOracle(
    pairCond = "a.doc_id < b.doc_id",
    finalSelect = """SELECT doc_id FROM documents
      |WHERE doc_id NOT IN (SELECT b_id FROM drops)""".stripMargin)

  /** q31's pair SQL over a parameterized doc source — shared by its own
    * oracle, q70's closure oracle, and the q154 export composition. */
  private[queries] def q31PairsSqlOn(src: String): String =
    s"""WITH sig AS (
      | SELECT doc_id, source, lang, list_distinct(string_split(text,' ')) AS toks,
      |  md5(list_aggregate(list_transform(list_distinct(string_split(text,' ')), t -> md5('0|' || t)), 'min')
      |   || '|' || list_aggregate(list_transform(list_distinct(string_split(text,' ')), t -> md5('1|' || t)), 'min')) AS b0,
      |  md5(list_aggregate(list_transform(list_distinct(string_split(text,' ')), t -> md5('2|' || t)), 'min')
      |   || '|' || list_aggregate(list_transform(list_distinct(string_split(text,' ')), t -> md5('3|' || t)), 'min')) AS b1
      | FROM $src),
      |lanes AS (
      | SELECT 0 AS band, b0 AS bucket, doc_id, source, lang, toks FROM sig
      | UNION ALL SELECT 1, b1, doc_id, source, lang, toks FROM sig),
      |pairs AS (
      | SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
      |  a.toks AS a_toks, b.toks AS b_toks
      | FROM lanes a JOIN lanes b
      |  ON a.band = b.band AND a.bucket = b.bucket
      |  AND a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id)
      |SELECT a_id, b_id,
      | round(CAST(len(list_intersect(a_toks, b_toks)) AS DOUBLE)
      |  / (len(a_toks) + len(b_toks) - len(list_intersect(a_toks, b_toks))), 6) AS jaccard
      |FROM pairs
      |WHERE CAST(len(list_intersect(a_toks, b_toks)) AS DOUBLE)
      |  / (len(a_toks) + len(b_toks) - len(list_intersect(a_toks, b_toks))) >= 0.5""".stripMargin

  private[queries] lazy val q31PairsSql: String = q31PairsSqlOn("documents")

  /** Shared oracle template for the Kirsch–Mitzenmacher (8 bands × 3
    * rows) minhash dedups: per token ONE md5 → (h1, h2) = hex[1..15] /
    * hex[17..29]; hash i is h1 + i·h2; band j's bucket is
    * md5(mh_3j || '|' || …). `pairCond` decides which banded pairs may
    * drop `b`; `finalSelect` shapes the survivor set. */
  /** The tokenize→double-hash→band CTE chain shared by every
    * Kirsch–Mitzenmacher minhash oracle (ends at `lanes`). `where`
    * restricts the source docs (e.g. q123's audit stratum). */
  private[queries] def kmLanesCte(where: String = ""): String = {
    def mh(i: Int) =
      s"""list_aggregate(list_transform(hp, p -> p.h1 + $i * p.h2), 'min')"""
    val buckets = (0 until 8).map { b =>
      val parts = (0 until 3).map(i => s"CAST(${mh(3 * b + i)} AS VARCHAR)")
      s"md5(${parts.mkString(" || '|' || ")}) AS b$b"
    }.mkString(",\n  ")
    val lanes = (0 until 8).map(b =>
      s"SELECT $b AS band, b$b AS bucket, doc_id, toks FROM sig")
      .mkString("\n UNION ALL ")
    s"""WITH tokhash AS (
      | SELECT doc_id, list_distinct(string_split(text,' ')) AS toks,
      |  list_transform(list_distinct(string_split(text,' ')),
      |    t -> {'h1': ('0x' || substr(md5(t), 1, 15))::BIGINT,
      |          'h2': ('0x' || substr(md5(t), 17, 13))::BIGINT}) AS hp
      | FROM documents$where),
      |sig AS (
      | SELECT doc_id, toks,
      |  $buckets
      | FROM tokhash),
      |lanes AS (
      | $lanes)""".stripMargin
  }

  private def kmDedupOracle(pairCond: String, finalSelect: String): String = {
    kmLanesCte() + s""",
      |pairs AS (
      | SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
      |  a.toks AS a_toks, b.toks AS b_toks
      | FROM lanes a JOIN lanes b
      |  ON a.band = b.band AND a.bucket = b.bucket AND $pairCond),
      |drops AS (
      | SELECT DISTINCT b_id FROM pairs
      | WHERE CAST(len(list_intersect(a_toks, b_toks)) AS DOUBLE)
      |   / (len(a_toks) + len(b_toks) - len(list_intersect(a_toks, b_toks))) >= 0.5)
      |""".stripMargin + finalSelect
  }

  /** Shared CTE: per-doc 64-bit SimHash from 60-bit md5-prefix token
    * hashes — replicates [[simhashSignatures]] + the SimHash Aggregator
    * (majority vote per bit lane, ties set the bit). */
  private val simhashSigSql: String =
    """WITH tok AS (
      | SELECT doc_id, ('0x' || substr(md5(t.tok), 1, 15))::BIGINT AS h
      | FROM (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok
      |       FROM documents) t),
      |lanes AS (
      | SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      | FROM tok, range(60) r(j) GROUP BY doc_id, j),
      |sig AS (
      | SELECT doc_id,
      |  CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
      | FROM lanes GROUP BY doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q137_semdedup" ->
      s"""WITH e AS (
        | SELECT vec_id, embedding,
        |  CAST(list_indexof(embedding, list_aggregate(embedding, 'max'))
        |    AS INTEGER) AS cluster
        | FROM embeddings),
        |d AS (
        | SELECT DISTINCT b.vec_id FROM e a JOIN e b
        | ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  AND list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |   / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
        |      * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))
        |   >= $SemDedupTau)
        |SELECT e.vec_id, e.cluster, d.vec_id IS NULL AS kept
        |FROM e LEFT JOIN d ON e.vec_id = d.vec_id""".stripMargin,
    "q50_shingle_minhash" ->
      """WITH sh AS (
        | SELECT doc_id,
        |  CASE WHEN len(string_split(text,' ')) < 3 THEN [text]
        |   ELSE list_transform(generate_series(1, len(string_split(text,' ')) - 2),
        |     i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
        |       || ' ' || string_split(text,' ')[i+2]) END AS grams
        | FROM documents)
        |SELECT doc_id,
        | list_aggregate(list_transform(grams, g -> md5('0|' || g)), 'min') AS smh0,
        | list_aggregate(list_transform(grams, g -> md5('1|' || g)), 'min') AS smh1
        |FROM sh""".stripMargin,
    "q34_ann_lsh" -> q34OracleSql,
    "q115_ann_recall" -> {
      val truth = graft.queries.TextVector.oracles("q29_ann_bruteforce")
      s"""SELECT t.query_id, count(g.neighbor_id) AS n_hits,
        | count(*) AS n_truth,
        | round(CAST(count(g.neighbor_id) AS DOUBLE) / count(*), 6) AS recall_at_10
        |FROM ($truth) t
        |LEFT JOIN ($q34OracleSql) g
        | ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id
        |GROUP BY t.query_id""".stripMargin
    },
    "q52_dedup_exact_keep" -> q52OracleSql,
    "q53_dedup_minhash_keep" -> q53OracleSql,
    // plain concatenation: a stripMargin over the composed string would
    // corrupt embedded oracle lines that START with DuckDB's || operator
    "q116_curation_funnel" ->
      ("SELECT '1_raw' AS stage, count(*) AS n_docs FROM documents\n" +
        s"UNION ALL SELECT '2_exact_unique', count(*) FROM ($q52OracleSql)\n" +
        s"UNION ALL SELECT '3_near_dup_survivor', count(*) FROM ($q53OracleSql)\n" +
        "UNION ALL SELECT '4_quality_ok', count(*)\n" +
        s" FROM (${graft.queries.TextVector.oracles("q24_quality")}) WHERE quality >= 0.5\n" +
        "UNION ALL SELECT '5_contamination_free',\n" +
        " (SELECT count(*) FROM documents WHERE doc_id >= 20) - count(*)\n" +
        s" FROM (${graft.queries.Curation.oracles("q64_contamination")})"),
    // Incremental variant: even ids are the indexed corpus (always win),
    // odd ids the batch; a batch doc drops on a verified pair with ANY
    // even doc or a LOWER odd doc — [[Dedup.incrementalMinhashKeep]].
    // k-NN graph oracle: identical banding, sorted-neighborhood candidate
    // rule (each bucket member vs its 8 id-successors), exact integer
    // micro-Jaccard, same total rank order, mirrored edges.
    "q108_knn_graph" -> q108OracleSql,
    // plain concatenation (not stripMargin over the composed string —
    // the q116 lesson) around the q108 edge-list oracle
    "q121_triangle_count" ->
      (s"WITH knn AS ($q108OracleSql),\n" +
        """edges AS (
          | SELECT DISTINCT least(doc_id, neighbor_id) AS a,
          |  greatest(doc_id, neighbor_id) AS b FROM knn),
          |deg AS (
          | SELECT v, count(*) AS d FROM (
          |  SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)
          | GROUP BY v),
          |oriented AS (
          | SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
          |          THEN e.a ELSE e.b END AS src,
          |  CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
          |   THEN e.b ELSE e.a END AS dst,
          |  CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
          |   THEN db.d ELSE da.d END AS dd
          | FROM edges e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
          |wedges AS (
          | SELECT e1.dst AS v1, e2.dst AS v2
          | FROM oriented e1 JOIN oriented e2 ON e1.src = e2.src
          |  AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst))),
          |tri AS (
          | SELECT count(*) AS t FROM wedges w
          | WHERE EXISTS (SELECT 1 FROM oriented o WHERE o.src = w.v1 AND o.dst = w.v2)),
          |wtot AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS w FROM deg)
          |SELECT t AS n_triangles, w AS n_wedges,
          | round(CASE WHEN w > 0 THEN t * 3.0 / w ELSE 0.0 END, 6) AS transitivity
          |FROM tri, wtot""".stripMargin),
    // embedding k-NN oracle: same two plane families (literal vectors),
    // same window rule, raw-double cosine ordering, mirrored edges.
    "q109_embedding_knn" -> {
      val bucketA = planes.map(planeBitSql).mkString(" || ")
      val bucketB = planesB.map(planeBitSql).mkString(" || ")
      val leads = (1 to 8).map(i => s"lead(vec_id, $i) OVER w").mkString(", ")
      s"""WITH lanes AS (
        | SELECT vec_id, 0 AS band, $bucketA AS bucket FROM embeddings
        | UNION ALL
        | SELECT vec_id, 1 AS band, $bucketB AS bucket FROM embeddings),
        |cands AS (
        | SELECT vec_id AS a_id, unnest([$leads]) AS b_id
        | FROM lanes WINDOW w AS (PARTITION BY band, bucket ORDER BY vec_id)),
        |pairs AS (
        | SELECT DISTINCT a_id, b_id FROM cands WHERE b_id IS NOT NULL),
        |scored1 AS (
        | SELECT a_id AS vec_id, b_id AS neighbor_id,
        |  list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |   / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
        |      * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) AS sim
        | FROM pairs JOIN embeddings a ON a_id = a.vec_id
        |  JOIN embeddings b ON b_id = b.vec_id),
        |scored AS (
        | SELECT * FROM scored1
        | UNION ALL
        | SELECT neighbor_id AS vec_id, vec_id AS neighbor_id, sim FROM scored1),
        |ranked AS (
        | SELECT vec_id, neighbor_id, sim,
        |  CAST(row_number() OVER (
        |    PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
        | FROM scored)
        |SELECT vec_id, neighbor_id, rank, round(sim, 4) AS sim
        |FROM ranked WHERE rank <= 3""".stripMargin
    },
    "q97_dedup_incremental" -> kmDedupOracle(
      pairCond =
        "b.doc_id % 2 = 1 AND (a.doc_id % 2 = 0 OR a.doc_id < b.doc_id)",
      finalSelect = """SELECT doc_id FROM documents
        |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT b_id FROM drops)""".stripMargin),
    "q54_dedup_embedding_keep" -> {
      val bucket = planes.map(planeBitSql).mkString(" || ")
      s"""WITH bucketed AS (
        | SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
        |drops AS (
        | SELECT DISTINCT b.vec_id AS b_id
        | FROM bucketed a JOIN bucketed b
        |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        | WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |   / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
        |      * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.2)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT b_id FROM drops)""".stripMargin
    },
    "q31_ngram_jaccard" -> q31PairsSql,
    // SimHash oracle: per-lane vote sums over the same 60-bit md5-prefix
    // token hash, bit j set iff its vote sum >= 0 (the Aggregator's tie
    // rule). Lanes 60-63 can never go positive (h < 2^60) so shifts stay
    // in BIGINT range.
    "q32_simhash" -> (simhashSigSql + "\nSELECT doc_id, simhash FROM sig"),
    // The band join is pigeonhole-EXACT (maxHamming+1 disjoint bands), so
    // the oracle states pure semantics: ALL pairs at Hamming <= 8. A
    // banding bug that dropped candidates would hash-mismatch here.
    "q33_simhash_neardup" -> (simhashSigSql +
      """
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        | CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 8""".stripMargin),
    "q70_dup_clusters" ->
      (ccCompCtes + "\n" +
      "SELECT component, count(*) AS n_docs FROM comp GROUP BY component"),
    "q131_dedup_keep_best" ->
      // shared reachability CTEs + the q24 oracle verbatim as the qual
      // CTE — if either changes, both consumers move together. Plain
      // concatenation (NOT an outer stripMargin — see ccCompCtes note)
      (ccCompCtes + ",\nqual AS (\n" + TextVector.oracles("q24_quality") + "),\n" +
      """ranked AS (
        | SELECT c.component, c.id AS doc_id, q.quality,
        |  row_number() OVER (
        |    PARTITION BY c.component ORDER BY q.quality DESC, c.id) AS rn
        | FROM comp c JOIN qual q ON c.id = q.doc_id)
        |SELECT component, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS keep_id,
        | max(CASE WHEN rn = 1 THEN quality END) AS keep_quality
        |FROM ranked GROUP BY component""".stripMargin),
    "q40_outbreak_features" ->
      """WITH daily AS (
        | SELECT CAST(ts AS DATE) AS date,
        |  'R' || CAST(user_id % 5 AS VARCHAR) AS region,
        |  event_type AS kw,
        |  CAST(sum(CAST(round(value*100.0) AS BIGINT)) AS BIGINT)/100.0 AS value
        | FROM events GROUP BY 1, 2, 3),
        |det AS (
        | SELECT date, region, kw,
        |  CASE WHEN cma IS NULL OR cma = 0 THEN 1.0 ELSE value / cma END AS value
        | FROM (SELECT daily.*,
        |   avg(value) OVER (PARTITION BY kw, region ORDER BY date
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cma
        |  FROM daily))
        |SELECT strftime(date, '%Y-%m-%d') AS date, region,
        | round(coalesce(max(CASE WHEN kw='click' THEN value END), 0), 6) AS click,
        | round(coalesce(max(CASE WHEN kw='error' THEN value END), 0), 6) AS error,
        | round(coalesce(max(CASE WHEN kw='purchase' THEN value END), 0), 6) AS purchase,
        | round(coalesce(max(CASE WHEN kw='signup' THEN value END), 0), 6) AS signup,
        | round(coalesce(max(CASE WHEN kw='view' THEN value END), 0), 6) AS view,
        | CAST(CASE WHEN month(date)=1 THEN 1 ELSE 0 END AS BIGINT) AS is_january,
        | CAST(CASE WHEN month(date)=2 THEN 1 ELSE 0 END AS BIGINT) AS is_february,
        | CAST(CASE WHEN month(date)=3 THEN 1 ELSE 0 END AS BIGINT) AS is_march,
        | CAST(CASE WHEN month(date)=4 THEN 1 ELSE 0 END AS BIGINT) AS is_april,
        | CAST(CASE WHEN month(date)=5 THEN 1 ELSE 0 END AS BIGINT) AS is_may,
        | CAST(CASE WHEN month(date)=6 THEN 1 ELSE 0 END AS BIGINT) AS is_june,
        | CAST(CASE WHEN month(date)=7 THEN 1 ELSE 0 END AS BIGINT) AS is_july,
        | CAST(CASE WHEN month(date)=8 THEN 1 ELSE 0 END AS BIGINT) AS is_august,
        | CAST(CASE WHEN month(date)=9 THEN 1 ELSE 0 END AS BIGINT) AS is_september,
        | CAST(CASE WHEN month(date)=10 THEN 1 ELSE 0 END AS BIGINT) AS is_october,
        | CAST(CASE WHEN month(date)=11 THEN 1 ELSE 0 END AS BIGINT) AS is_november,
        | CAST(CASE WHEN month(date)=12 THEN 1 ELSE 0 END AS BIGINT) AS is_december
        |FROM det GROUP BY date, region""".stripMargin,
  )
}
