package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T, VectorFunctions => V}
import graft.sources.Tables

/** LLM-data-pipeline operators over `documents` and `embeddings`:
  * deduplication, text analysis, and similarity search. DuckDB-oracle-
  * checkable subset (hash family = MD5 in both engines; vector math folds
  * in double in both engines). The non-SQL-expressible variants (SimHash,
  * LSH-ANN, the ML pipeline) live in [[PipelineQueries]] as rows-only.
  */
object TextVector {

  /** Exact dedup via content hash: scalable groupBy on md5(text) — the
    * 100 TB pattern (hash once, shuffle the 32-byte digest, not the text). */
  def q21DedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** Token statistics: counts + type–token ratio (lexical diversity). */
  def q22TextStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        T.tokenCount(col("text")).as("n_tokens"),
        T.uniqueTokenCount(col("text")).as("n_unique"),
        round(T.typeTokenRatio(col("text")), 6).as("ttr"))

  /** Heuristic language ID: CJK charset check, then English stopword
    * density. */
  def q23LangId(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        round(T.wordSetRatio(col("text"), T.EnglishStopwords), 6).as("en_ratio"),
        T.langGuess(col("text")).as("lang_guess"))

  /** Composite quality score (length saturation × lexical diversity). */
  def q24Quality(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), round(T.qualityScore(col("text")), 6).as("quality"))

  /** Normalized content fingerprint (near-exact dedup key). */
  def q25Fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), T.fingerprint(col("text")).as("fp"))

  /** MinHash signature (k=4) over the distinct-token set. */
  def q26MinhashSig(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id") +: T.minhashSignature(col("text"), 4): _*)

  /** MinHash-LSH banding (2 bands × 2 rows): documents sharing a band
    * bucket are near-duplicate candidates. The bucket-join is the scale
    * path — candidates only, never all-pairs. */
  def q27LshBuckets(s: SparkSession, dir: String): DataFrame = {
    val sig = Tables.documents(s, dir)
      .select(col("doc_id"),
        T.bandKey(col("text"), 0, 2).as("b0"),
        T.bandKey(col("text"), 1, 2).as("b1"))
    val lanes = sig.select(lit(0).as("band"), col("b0").as("bucket"), col("doc_id"))
      .unionByName(sig.select(lit(1).as("band"), col("b1").as("bucket"), col("doc_id")))
    lanes.groupBy("band", "bucket")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"))
      .where(col("n_docs") > 1)
  }

  /** Per-vector stats: dimension, L2 norm, element sum — all in double. */
  def q28EmbeddingStats(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        size(col("embedding")).as("dim"),
        round(V.l2Norm(col("embedding")), 4).as("l2"),
        round(V.elementSum(col("embedding")), 4).as("ssum"))

  /** Brute-force cosine top-k ANN baseline: broadcast the (tiny) query
    * set against the full collection — one scan, no shuffle of the
    * collection; per-query top-k via window. The scale path (LSH-bucketed)
    * is q43 in [[PipelineQueries]]. */
  def q29AnnBruteForce(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val queries = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val sims = e.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        V.nativeCosine(col("qv"), col("embedding")).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim"), 4).as("sim"))
  }

  /** q114 — hard-negative mining for contrastive/embedding training: for
    * each anchor, the top-k most-similar vectors with a DIFFERENT label
    * (high-similarity wrong-class examples — the negatives that actually
    * move a contrastive loss). Same scale shape as q29: the bounded
    * anchor set broadcasts, similarity is one narrow codegen'd pass over
    * the collection, top-k is a WindowGroupLimit (never a global sort).
    * At corpus-×-corpus mining scale, swap the broadcast for the IVF
    * probe ([[graft.operators.AnnIvf]]) with the label predicate pushed
    * into the cell scan — the ranking rule stays identical. */
  def q114HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val anchors = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val sims = e.join(broadcast(anchors), col("label") =!= col("qlabel"))
      .select(col("query_id"), col("vec_id").as("neg_id"),
        V.nativeCosine(col("qv"), col("embedding")).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neg_id"))
    sims.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("neg_id"), col("rank"),
        round(col("sim"), 4).as("sim"))
  }

  /** Intra-label cohesion: mean cosine to the label CENTROID — O(n·d),
    * replacing the O(n²) all-pairs formulation that became the job at
    * scale (pair count quadratic in label size). The centroid pass is
    * posexplode → partial-aggregated (label, dim) sums (map-side combine
    * collapses to |labels|·d rows per partition), centroids broadcast
    * back — nothing quadratic anywhere. Per-dim sums quantize to integer
    * micro-units so the centroid is exact in Long and merge-order-free
    * (oracle-stable). */
  def q30LabelCohesion(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "label", "embedding")
    val cent = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("label", "i")
      .agg((sum(round(col("x").cast("double") * 1000000.0, 0).cast("long"))
        .cast("double") / 1000000.0 / count(lit(1))).as("cx"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("cx")))),
        f => f.getField("cx")).as("centroid"))
    e.join(broadcast(cent), "label")
      .select(col("label"), V.nativeCosine(col("embedding"), col("centroid")).as("sim"))
      .groupBy("label")
      // quantize to integer micro-units pre-avg: the group sum becomes
      // exact in Long, so the mean is merge-order-independent
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(round(col("sim") * 1000000.0, 0).cast("long")) / 1000000.0, 4)
          .as("mean_cos"))
  }

  /** Datasketches lgConfigK of q151's sketches: 2^12 registers ≈ 0.8%
    * relative error. */
  private val HllLgK = 12

  /** q151 — partial→union sketch algebra as a query: per-(event_type,
    * month) HLL sketches union into the all-time distinct-user estimate,
    * exactly what a reader of per-epoch persisted sketches computes.
    * Like q48, the sketch internals can't cross-engine
    * compare, so the CONTRACT is the output: exact distinct (the oracle
    * recomputes it) + an in-query ±5% accuracy bool the oracle expects
    * TRUE — an out-of-tolerance sketch fails the gate. The partial pass
    * map-side combines; only (key, month, kilobyte-sketch) rows shuffle
    * twice — never raw user ids corpus-wide. */
  def q151SketchDistinct(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val parts = e.groupBy(col("event_type"), month(col("ts")).as("__epoch"))
      .agg(hll_sketch_agg(col("user_id"), lit(HllLgK))
        .as("__sk"))
    val merged = parts.groupBy("event_type")
      .agg(count(lit(1)).as("n_epochs"),
        hll_sketch_estimate(hll_union_agg(col("__sk"))).as("__est"))
    val exact = e.groupBy("event_type")
      .agg(count_distinct(col("user_id")).as("n_exact"))
    merged.join(exact, "event_type")
      .select(col("event_type"), col("n_epochs"), col("n_exact"),
        (abs(col("__est") - col("n_exact")) / col("n_exact") <= 0.05)
          .as("est_ok"))
  }

  /** q149 target dimension (64 → 16). */
  val RpOutDim = 16
  /** q149 input dimension (the embeddings table's). */
  val RpInDim = 64

  /** The q149 projection matrix, column-major: `rpCols(j)(i)` is R[i][j]
    * in [−8, 8], derived from md5("rp:i:j") by exactly the
    * [[graft.functions.TextFunctions.hashMod]] recipe (first 8 hex chars
    * as a long, mod 17, shift) so the DuckDB oracle regenerates it
    * bit-for-bit in SQL. A fixed seeded matrix — not rand() — is what
    * makes the reduction reproducible across runs, engines, and retries. */
  private lazy val rpCols: Array[Array[Long]] =
    Array.tabulate(RpOutDim) { j =>
      Array.tabulate(RpInDim) { i =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"rp:$i:$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val word = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
          ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
        word % 17 - 8
      }
    }

  /** q149 — Johnson–Lindenstrauss random projection to [[RpOutDim]]
    * dims, fixed-point: elements quantize to integer micro-units, the
    * projection matrix is small signed integers, so every output is an
    * EXACT Long (no float summation order anywhere — bit-identical under
    * any partitioning and in DuckDB). Shape: the matrix rides along as a
    * 16×64 literal inside one codegen'd narrow map — no shuffle, no
    * join, no driver traffic; the classic cheap first stage before
    * clustering/ANN when the raw dimension is the cost driver. */
  def q149RandomProjectionOn(e: DataFrame): DataFrame = {
    val vm = transform(col("embedding"),
      x => round(x.cast("double") * 1000000.0, 0).cast("long"))
    val projs = array(rpCols.map { colJ =>
      aggregate(
        zip_with(col("__vm"), typedLit(colJ.toSeq), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x)
    }: _*)
    e.select(col("vec_id"), vm.as("__vm"))
      .select(col("vec_id"), posexplode(projs).as(Seq("j", "proj")))
  }

  def q149RandomProjection(s: SparkSession, dir: String): DataFrame =
    q149RandomProjectionOn(Tables.embeddings(s, dir))

  /** Sketch-based distinct/quantile estimation (HyperLogLog++ and
    * Greenwald-Khanna) — the 100 TB substitutes for exact distinct counts
    * and sort-based percentiles. Sketch internals are implementation-
    * defined, so the raw estimates can't cross-engine hash-compare;
    * instead the accuracy CONTRACT is the output: each `_ok` column is
    * |approx − exact| / exact ≤ bound computed in-query, and the oracle
    * expects TRUE — a sketch drifting out of tolerance fails the
    * correctness gate, not just a unit test. */
  def q48ApproxStats(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    // pass 1: the sketches themselves (what production would run)
    val sketches = e.groupBy("event_type").agg(
      count_distinct(col("user_id")).as("n_users"),
      approx_count_distinct(col("user_id"), 0.01).as("__au"),
      element_at(percentile_approx(col("value"), array(lit(0.5), lit(0.9)),
        lit(10000)), 1).as("__p50"),
      element_at(percentile_approx(col("value"), array(lit(0.5), lit(0.9)),
        lit(10000)), 2).as("__p90"))
    // pass 2: validate the quantile estimates by their exact RANK — one
    // O(n) scan, no sort (the GK sketch's own guarantee is a rank bound,
    // and an exact `percentile` here would cost the very sort the sketch
    // exists to avoid)
    val ranks = e.join(broadcast(sketches), "event_type")
      .groupBy("event_type")
      .agg(
        (sum(when(col("value") <= col("__p50"), 1L).otherwise(0L))
          / count(lit(1))).as("__r50"),
        (sum(when(col("value") <= col("__p90"), 1L).otherwise(0L))
          / count(lit(1))).as("__r90"))
    sketches.join(ranks, "event_type")
      .select(col("event_type"), col("n_users"),
        (abs(col("__au") - col("n_users")) / col("n_users") <= 0.05).as("users_ok"),
        (abs(col("__r50") - 0.5) <= 0.02).as("p50_ok"),
        (abs(col("__r90") - 0.9) <= 0.02).as("p90_ok"))
  }

  // ---------------------------------------------------------------- q222

  /** MMR balance: score = (λ·rel − (1−λ)·redundancy) in tenths —
    * 7/3 ⇒ λ = 0.7. */
  val MmrLambdaTenths = 7

  /** Diversified picks returned. */
  val MmrK = 10

  /** Relevance-ranked candidate pool the greedy runs on. */
  val MmrCandidates = 32

  /** q222 — Maximal Marginal Relevance selection (Carbonell &
    * Goldstein 1998): the diversified top-k that RAG retrieval and
    * dedup-aware sampling actually want — pure top-k (q29) returns ten
    * copies of the same passage; MMR greedily picks
    * argmax(λ·sim(q,c) − (1−λ)·max_{s∈S} sim(c,s)), so every pick is
    * relevant AND novel against what's already selected.
    *
    * Determinism: similarities snap to e4 integers (the q29 rounding
    * contract) and the greedy score is the exact integer
    * 7·sim − 3·max_pair with ties broken by vec_id — both engines walk
    * the identical selection path; the oracle unrolls the
    * [[MmrK]] greedy rounds as SQL.
    *
    * Scale shape: the corpus-wide work is ONE broadcast-query scan for
    * the candidate pool (TakeOrdered top-[[MmrCandidates]]) plus the
    * pool's pairwise similarities (candidates², a metadata-sized
    * broadcast self-join); the greedy itself runs on that ≤32×32
    * integer matrix — a bounded driver fold (SURVEY P7 discipline),
    * exactly how a retrieval server re-ranks. At larger k·candidates,
    * swap the pool scan for the IVF probe (q49) — the greedy is
    * unchanged. */
  def q222MmrSelect(s: SparkSession, dir: String): DataFrame =
    mmrOn(Tables.embeddings(s, dir))

  /** [[q222MmrSelect]] over any (vec_id, embedding) frame; vec 0 is
    * the query — exposed for the planted-geometry spec. */
  def mmrOn(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    val qv = e.where(col("vec_id") === 0).select(col("embedding").as("qv"))
    val simE4 = (a: Column, b: Column) =>
      round(V.nativeCosine(a, b) * 10000).cast("long")
    val cand = e.crossJoin(broadcast(qv)).where(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"),
        simE4(col("qv"), col("embedding")).as("sim_e4"))
      .orderBy(col("sim_e4").desc, col("vec_id")).limit(MmrCandidates)
      .cache()
    val c2 = cand.select(col("vec_id").as("b"), col("embedding").as("eb"))
    val pairs = cand
      .select(col("vec_id").as("a"), col("embedding").as("ea"))
      .join(broadcast(c2), col("a") =!= col("b"))
      .select(col("a"), col("b"), simE4(col("ea"), col("eb")).as("p_e4"))

    val rel = cand.select("vec_id", "sim_e4").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pm = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    cand.unpersist()

    var selected = Vector.empty[(Long, Long)] // (vec_id, score_x10)
    var remaining = rel.keySet
    while (selected.size < MmrK && remaining.nonEmpty) {
      val scored = remaining.toSeq.map { c =>
        // max similarity to the already-selected set — NO zero clamp:
        // an all-negative row must keep its (diversity-rewarding) sign,
        // exactly as the oracle's max() does
        val red =
          if (selected.isEmpty) 0L
          else selected.map { case (sId, _) => pm((c, sId)) }.max
        c -> (MmrLambdaTenths * rel(c) - (10 - MmrLambdaTenths) * red)
      }
      val (pick, score) = scored.minBy { case (id, sc) => (-sc, id) }
      selected :+= (pick, score)
      remaining -= pick
    }
    import s.implicits._
    selected.zipWithIndex
      .map { case ((id, sc), i) => (i + 1L, id, sc) }
      .toDF("rank", "vec_id", "score_x10")
  }

  /** Rank depth for [[q229ZipfFit]]. */
  val ZipfTopN = 64

  /** q229 — Zipf power-law fit over the corpus token-frequency
    * spectrum: OLS of ln(freq) on ln(rank) over the top-[[ZipfTopN]]
    * tokens. Natural text sits near slope −1; a corpus whose slope
    * drifts toward 0 is template/boilerplate-heavy, one past −1.5 is
    * degenerate repetition — the single-number read-out of q66/q139's
    * whole distribution, and a pretraining-mix health check (Zipf
    * drift after dedup/filter stages means the stage changed the
    * LANGUAGE, not just the volume).
    *
    * Determinism: ranks and counts are exact integers; both engines
    * snap ln(rank) and ln(count) — the same integer-derived IEEE
    * doubles — to micro-nats (the q104 discipline), so the OLS
    * sufficient statistics are integer math from there: slope =
    * (nΣxy − ΣxΣy)·10⁶ div (nΣxx − ΣxΣx), in micro (−1.0 ≡ −10⁶).
    *
    * Scale shape: corpus → token spine (ONE map-side-combining
    * groupBy — the only shuffle that sees data volume); the top-N cut
    * is `orderBy.limit` = TakeOrdered per-partition heaps, and the
    * rank window + OLS run on the ≤ N-row survivor frame. */
  def q229ZipfFit(s: SparkSession, dir: String): DataFrame =
    zipfFitOn(Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok")), ZipfTopN)

  /** [[q229ZipfFit]] over any single-column (`tok`) frame. */
  def zipfFitOn(toks: DataFrame, topN: Int): DataFrame = {
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(topN)
    // window over the <= topN survivor rows only — bounded, not corpus
    val w = Window.orderBy(col("cnt").desc, col("tok"))
    freq.withColumn("r", row_number().over(w))
      .select(expr("cast(round(ln(r) * 1000000) as bigint)").as("x"),
        expr("cast(round(ln(cnt) * 1000000) as bigint)").as("y"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
      .withColumn("slope_micro",
        expr("""cast((n_terms * sxy - sx * sy) * 1000000
               | div (n_terms * sxx - sx * sx) as bigint)""".stripMargin))
      .select(col("n_terms"), col("slope_micro"),
        // ln f at rank 1, from the fit: (Σy − m·Σx)/n in micro-nats
        expr("""cast((sy - cast(slope_micro as decimal(38,0)) * sx div 1000000)
               | div n_terms as bigint)""".stripMargin).as("intercept_micro"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q229_zipf_fit" -> (q229ZipfFit _),
    "q222_mmr_select" -> (q222MmrSelect _),
    "q114_hard_negatives" -> (q114HardNegatives _),
    "q48_approx_stats" -> (q48ApproxStats _),
    "q21_dedup_exact" -> (q21DedupExact _),
    "q22_text_stats" -> (q22TextStats _),
    "q23_langid" -> (q23LangId _),
    "q24_quality" -> (q24Quality _),
    "q25_fingerprint" -> (q25Fingerprint _),
    "q26_minhash_sig" -> (q26MinhashSig _),
    "q27_lsh_buckets" -> (q27LshBuckets _),
    "q28_embedding_stats" -> (q28EmbeddingStats _),
    "q29_ann_bruteforce" -> (q29AnnBruteForce _),
    "q30_label_cohesion" -> (q30LabelCohesion _),
    "q149_random_projection" -> (q149RandomProjection _),
    "q151_sketch_distinct" -> (q151SketchDistinct _),
  )

  private val stop = TextFunctions_oracleStopwords

  /** One DuckDB cosine in e4 integers between embedding columns
    * `$a` and `$b` (the q29 formula + the q222 rounding contract). */
  private def cosE4Sql(a: String, b: String): String =
    s"""CAST(round(list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))
       | / (sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[])))
       |    * sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[]))))
       | * 10000) AS BIGINT)""".stripMargin

  /** Greedy MMR round `k` ≥ 2 as SQL: score the remaining candidates
    * against sel`k-1`, pick the argmax (ties by vec_id). */
  private def mmrRoundSql(k: Int): String = {
    val l = MmrLambdaTenths
    s"""s$k AS MATERIALIZED (
       | SELECT c.vec_id, $l * c.sim_e4 - ${10 - l} *
       |   (SELECT max(p.p_e4) FROM prs p
       |    JOIN sel${k - 1} s ON p.b = s.vec_id
       |    WHERE p.a = c.vec_id) AS score
       | FROM cand c
       | WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${k - 1})
       | ORDER BY score DESC, c.vec_id LIMIT 1),
       |sel$k AS MATERIALIZED (SELECT * FROM sel${k - 1}
       |          UNION ALL SELECT vec_id, score, $k FROM s$k)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q229_zipf_fit" ->
      s"""WITH toks AS (
         | SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         |freq AS (
         | SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
         | ORDER BY cnt DESC, tok LIMIT $ZipfTopN),
         |rk AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS r
         |       FROM freq),
         |xy AS (SELECT CAST(round(ln(r) * 1000000) AS BIGINT) AS x,
         |              CAST(round(ln(cnt) * 1000000) AS BIGINT) AS y FROM rk),
         |st AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |  sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         |  sum(CAST(x AS HUGEINT) * y) AS sxy,
         |  sum(CAST(x AS HUGEINT) * x) AS sxx FROM xy),
         |m AS (SELECT *,
         |  (n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) AS sl FROM st)
         |SELECT CAST(n AS BIGINT) AS n_terms, CAST(sl AS BIGINT) AS slope_micro,
         | CAST((sy - sl * sx // 1000000) // n AS BIGINT) AS intercept_micro
         |FROM m""".stripMargin,
    "q222_mmr_select" -> {
      val rounds = (2 to MmrK).map(mmrRoundSql).mkString(",\n")
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |cand AS MATERIALIZED (
         | SELECT e.vec_id, e.embedding,
         |  ${cosE4Sql("q.qv", "e.embedding")} AS sim_e4
         | FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
         | ORDER BY sim_e4 DESC, e.vec_id LIMIT $MmrCandidates),
         |prs AS MATERIALIZED (
         | SELECT a.vec_id AS a, b.vec_id AS b,
         |  ${cosE4Sql("a.embedding", "b.embedding")} AS p_e4
         | FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
         |s1 AS (SELECT vec_id, $MmrLambdaTenths * sim_e4 AS score FROM cand
         |       ORDER BY score DESC, vec_id LIMIT 1),
         |sel1 AS (SELECT vec_id, score, 1 AS rank FROM s1),
         |$rounds
         |SELECT CAST(rank AS BIGINT) AS rank, vec_id,
         | CAST(score AS BIGINT) AS score_x10
         |FROM sel$MmrK""".stripMargin
    },
    "q151_sketch_distinct" ->
      """SELECT event_type,
        | CAST(count(DISTINCT month(ts)) AS BIGINT) AS n_epochs,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        | TRUE AS est_ok
        |FROM events GROUP BY event_type""".stripMargin,
    "q149_random_projection" ->
      """WITH u AS (
        | SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
        |  CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS vm
        | FROM embeddings),
        |r AS (
        | SELECT ii.range AS i, CAST(jj.range AS INTEGER) AS j,
        |  (('0x' || substr(md5('rp:' || CAST(ii.range AS VARCHAR) || ':'
        |      || CAST(jj.range AS VARCHAR)), 1, 8))::BIGINT % 17) - 8 AS rij
        | FROM range(64) ii, range(16) jj)
        |SELECT u.vec_id, r.j, CAST(sum(u.vm * r.rij) AS BIGINT) AS proj
        |FROM u JOIN r ON u.i = r.i
        |GROUP BY u.vec_id, r.j""".stripMargin,
    "q114_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
        |  FROM embeddings WHERE vec_id < 10),
        |sims AS (
        | SELECT query_id, e.vec_id AS neg_id,
        |  list_dot_product(CAST(qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
        |   / (sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))
        |      * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))) AS sim
        | FROM q, embeddings e WHERE e.label <> q.qlabel),
        |ranked AS (
        | SELECT query_id, neg_id, sim,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neg_id) AS INTEGER) AS rank
        | FROM sims)
        |SELECT query_id, neg_id, rank, round(sim, 4) AS sim
        |FROM ranked WHERE rank <= 5""".stripMargin,
    "q48_approx_stats" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        | TRUE AS users_ok, TRUE AS p50_ok, TRUE AS p90_ok
        |FROM events GROUP BY event_type""".stripMargin,
    "q21_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q22_text_stats" ->
      """SELECT doc_id,
        | CAST(len(string_split(text,' ')) AS INTEGER) AS n_tokens,
        | CAST(len(list_distinct(string_split(text,' '))) AS INTEGER) AS n_unique,
        | round(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
        |   / len(string_split(text,' ')), 6) AS ttr
        |FROM documents""".stripMargin,
    "q23_langid" ->
      raw"""SELECT doc_id,
        | round(CAST(len(list_filter(string_split(text,' '),
        |     t -> list_contains($stop, t))) AS DOUBLE)
        |   / len(string_split(text,' ')), 6) AS en_ratio,
        | CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |      WHEN CAST(len(list_filter(string_split(text,' '),
        |          t -> list_contains($stop, t))) AS DOUBLE)
        |        / len(string_split(text,' ')) >= 0.05 THEN 'en'
        |      ELSE 'und' END AS lang_guess
        |FROM documents""".stripMargin,
    "q24_quality" ->
      """SELECT doc_id,
        | round(least(1.0, CAST(len(string_split(text,' ')) AS DOUBLE)/200.0)
        |   * (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
        |      / len(string_split(text,' '))), 6) AS quality
        |FROM documents""".stripMargin,
    "q25_fingerprint" ->
      """SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,
    "q26_minhash_sig" ->
      """SELECT doc_id,
        | list_aggregate(list_transform(list_distinct(string_split(text,' ')), t -> md5('0|' || t)), 'min') AS mh0,
        | list_aggregate(list_transform(list_distinct(string_split(text,' ')), t -> md5('1|' || t)), 'min') AS mh1,
        | list_aggregate(list_transform(list_distinct(string_split(text,' ')), t -> md5('2|' || t)), 'min') AS mh2,
        | list_aggregate(list_transform(list_distinct(string_split(text,' ')), t -> md5('3|' || t)), 'min') AS mh3
        |FROM documents""".stripMargin,
    "q27_lsh_buckets" ->
      """WITH sig AS (
        | SELECT doc_id,
        |  md5(list_aggregate(list_transform(list_distinct(string_split(text,' ')), t -> md5('0|' || t)), 'min')
        |   || '|' || list_aggregate(list_transform(list_distinct(string_split(text,' ')), t -> md5('1|' || t)), 'min')) AS b0,
        |  md5(list_aggregate(list_transform(list_distinct(string_split(text,' ')), t -> md5('2|' || t)), 'min')
        |   || '|' || list_aggregate(list_transform(list_distinct(string_split(text,' ')), t -> md5('3|' || t)), 'min')) AS b1
        | FROM documents),
        |lanes AS (
        | SELECT 0 AS band, b0 AS bucket, doc_id FROM sig
        | UNION ALL
        | SELECT 1 AS band, b1 AS bucket, doc_id FROM sig)
        |SELECT band, bucket, count(*) AS n_docs, min(doc_id) AS min_doc,
        |  max(doc_id) AS max_doc
        |FROM lanes GROUP BY band, bucket HAVING count(*) > 1""".stripMargin,
    "q28_embedding_stats" ->
      """SELECT vec_id, label, CAST(len(embedding) AS INTEGER) AS dim,
        | round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 4) AS l2,
        | round(list_dot_product(CAST(embedding AS DOUBLE[]), list_transform(embedding, x -> 1.0)), 4) AS ssum
        |FROM embeddings""".stripMargin,
    "q29_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |sims AS (
        | SELECT query_id, e.vec_id AS neighbor_id,
        |  list_dot_product(CAST(qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
        |   / (sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))
        |      * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))) AS sim
        | FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |ranked AS (
        | SELECT query_id, neighbor_id, sim,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
        | FROM sims)
        |SELECT query_id, neighbor_id, rank, round(sim, 4) AS sim
        |FROM ranked WHERE rank <= 10""".stripMargin,
    "q30_label_cohesion" ->
      """WITH u AS (
        | SELECT label, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
        | FROM embeddings),
        |cent AS (
        | SELECT label, i,
        |  CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
        |    / 1000000.0 / count(*) AS cx
        | FROM u GROUP BY label, i),
        |cl AS (SELECT label, list(cx ORDER BY i) AS centroid FROM cent GROUP BY label),
        |sims AS (
        | SELECT e.label,
        |  list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid)
        |   / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
        |      * sqrt(list_dot_product(c.centroid, c.centroid))) AS sim
        | FROM embeddings e JOIN cl c ON e.label = c.label)
        |SELECT label, count(*) AS n_vecs,
        | round(avg(CAST(round(sim * 1000000.0) AS BIGINT)) / 1000000.0, 4) AS mean_cos
        |FROM sims GROUP BY label""".stripMargin,
  )

  /** DuckDB list literal of the English stopwords (kept in sync with
    * [[graft.functions.TextFunctions.EnglishStopwords]]). */
  private def TextFunctions_oracleStopwords: String =
    T.EnglishStopwords.map(w => s"'$w'").mkString("[", ",", "]")
}
