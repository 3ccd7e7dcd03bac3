package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}
import graft.sources.Tables

/** Training-data curation operators — the filters a large-scale LLM data
  * pipeline runs between raw crawl and training shards: PII scrubbing,
  * benchmark-contamination screening, boilerplate/repetition scoring,
  * and corpus shape profiling. All four are pure column expressions /
  * single-shuffle aggregations (scale-shaped), and all four are
  * DuckDB-oracle-checked.
  */
object Curation {

  /** PII patterns kept deliberately simple & portable: the SAME regex text
    * must compile in Spark (Java) and DuckDB (RE2). */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  private val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction over any (doc_id, text) frame: count + scrub emails,
    * phone numbers, IPv4 addresses. A narrow map — at 100 TB this is
    * exactly as parallel as the scan. */
  def q63PiiRedactionOn(docs: DataFrame): DataFrame = {
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")
    // group 0 = whole match (the patterns define no capture groups)
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_email"),
      size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).as("n_phone"),
      size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0))).as("n_ip"),
      redacted.as("redacted"))
  }

  /** Oracle form: fingerprint instead of the redacted text (small hash). */
  def q63PiiRedaction(s: SparkSession, dir: String): DataFrame =
    q63PiiRedactionOn(Tables.documents(s, dir))
      .withColumn("redacted_fp", md5(col("redacted")))
      .drop("redacted")

  /** Benchmark-contamination screen: which corpus docs share a word
    * 5-gram with the "benchmark" set (stand-in: doc_id < 20)? Corpus
    * shingles explode once and LEFT-SEMI broadcast-join the (tiny)
    * benchmark shingle set — the industry-standard n-gram overlap check,
    * shaped so the corpus never shuffles (benchmark side broadcasts). */
  def q64ContaminationOn(docs: DataFrame): DataFrame = {
    val benchShingles = docs.where(col("doc_id") < 20)
      .select(explode(T.shingles(col("text"), 5)).as("sh")).distinct()
    docs.where(col("doc_id") >= 20)
      // spread before the shingle explode: single-file inputs are one
      // partition and would serialize the n-gram construction
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), explode(T.shingles(col("text"), 5)).as("sh"))
      .join(broadcast(benchShingles), Seq("sh"), "left_semi")
      .groupBy("doc_id")
      .agg(count_distinct(col("sh")).as("n_shared_5grams"))
  }

  def q64Contamination(s: SparkSession, dir: String): DataFrame =
    q64ContaminationOn(Tables.documents(s, dir))

  /** Repetition / boilerplate score: 1 − distinct/total word trigrams —
    * high values flag templated or looping text (a standard crawl-quality
    * filter). Pure column expressions, zero shuffles. */
  def q65RepetitionOn(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    // positional (non-distinct) trigram windows — duplicates are the
    // signal. n_grams is pure arithmetic; the gram array is built and
    // referenced exactly once (token array lambda-bound inside), so the
    // whole thing is one split + one window pass per row.
    val nGrams = greatest(size(toks) - 2, lit(1))
    val nDistinct = size(array_distinct(element_at(transform(array(toks), tk =>
      transform(sequence(lit(1), greatest(size(tk) - 2, lit(1))),
        i => concat_ws(" ",
          element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2)))), 1)))
    docs
      .where(size(toks) >= 3)
      .select(col("doc_id"),
        nGrams.as("n_grams"),
        round(lit(1.0) - nDistinct.cast("double") / nGrams, 6).as("rep_ratio"))
  }

  def q65Repetition(s: SparkSession, dir: String): DataFrame =
    q65RepetitionOn(Tables.documents(s, dir))

  /** Corpus shape profile: doc counts and token mass per 10-token length
    * bucket — the histogram a curation run reads before choosing length
    * cutoffs. One map-side-combinable aggregation. */
  def q66LengthHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select((floor(T.tokenCount(col("text")) / 10) * 10).as("bucket_lo"),
        T.tokenCount(col("text")).as("n"))
      .groupBy("bucket_lo")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))

  /** Exact DECIMAL money arithmetic end-to-end: prices cast to
    * DECIMAL(12,2) at the scan, summed/discounted in decimal (no binary
    * floating point anywhere) — the type-safe alternative to the
    * integer-cents idiom used elsewhere. Output rendered as strings so
    * the cross-engine compare is textual-exact. */
  def q67DecimalMoney(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        col("l_extendedprice").cast("decimal(12,2)").as("price"),
        col("l_discount").cast("decimal(12,2)").as("disc"),
        col("l_quantity").cast("decimal(12,2)").as("qty"))
      .groupBy("l_returnflag")
      .agg(
        sum(col("price")).as("gross"),
        sum(col("price") * (lit(java.math.BigDecimal.ONE).cast("decimal(12,2)") - col("disc")))
          .as("net"),
        sum(col("qty")).as("qty"))
      .select(col("l_returnflag"),
        col("gross").cast("decimal(18,2)").cast("string").as("gross"),
        col("net").cast("decimal(18,4)").cast("string").as("net"),
        col("qty").cast("decimal(18,2)").cast("string").as("qty"))

  /** Token counting, whitespace vs a BPE-ish regex segmentation (letters
    * runs / single digits / single punctuation — the shape of GPT-style
    * pre-tokenizers, portable between Java and RE2 regex engines). The
    * piece/word ratio approximates tokens-per-word for budget planning. */
  def q68BpeTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        T.tokenCount(col("text")).as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit(BpePieceRe), lit(0)))
          .as("n_bpe_pieces"))
      .withColumn("pieces_per_word",
        round(col("n_bpe_pieces").cast("double") / col("n_ws_tokens"), 6))

  /** Chunk size / overlap for [[q99ChunkDocs]] (tokens). */
  val ChunkSize = 32
  val ChunkOverlap = 8

  /** q99 — overlapping document chunking, the step before embedding /
    * context-window packing: cut each doc's token stream into
    * [[ChunkSize]]-token windows every stride = size − overlap tokens
    * (chunk k starts at token 1 + k·stride; the tail chunk may be
    * short). Starts stop at n − overlap so a tail of ≤ overlap tokens —
    * already fully inside the previous window — never becomes a
    * zero-new-content chunk (every token is still covered: the last
    * start is > n − overlap − stride = n − size). Pure `sequence` +
    * `slice` column algebra — a narrow map with NO explode-shuffle: rows
    * multiply ~n/stride× inside the same stage, exactly as parallel as
    * the scan at 100 TB. */
  def q99ChunkDocs(s: SparkSession, dir: String): DataFrame = {
    val stride = ChunkSize - ChunkOverlap
    Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("__toks"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1),
            greatest(size(col("__toks")) - ChunkOverlap, lit(1)), lit(stride)),
          start => slice(col("__toks"), start, lit(ChunkSize))))
          .as(Seq("chunk_id", "__chunk")))
      .select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
        array_join(col("__chunk"), " ").as("chunk"),
        size(col("__chunk")).as("n_tokens"))
  }

  /** q104 — corpus bigram language-model counts: the token-pair
    * frequency table an n-gram LM (or a tokenizer-merge pass à la BPE
    * training) starts from. Bigrams come from zipping the token array
    * with its own 1-shifted slice — a narrow map, no join, no explode
    * shuffle (rows multiply inside the scan stage) — then ONE combinable
    * count aggregation; the top-100 cut is a TakeOrdered (per-partition
    * top-k + driver merge of 100-row heaps, never a global sort). The
    * (count DESC, bigram ASC) order is total, so the cut is
    * deterministic and oracle-stable. */
  def q104BigramLm(s: SparkSession, dir: String): DataFrame = {
    val t = split(col("text"), " ")
    Tables.documents(s, dir)
      .where(size(t) >= 2)
      .select(explode(zip_with(
        slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => concat_ws(" ", a, b))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(100)
  }

  // ---------------------------------------------------------------- q236

  /** q236 — interpolated Kneser–Ney bigram probabilities (Kneser &
    * Ney 1995; the Chen–Goodman-winning smoother), for the corpus's
    * top-100 bigrams: P(w|v) = max(c(vw)−d, 0)/c(v·) +
    * d·N1+(v·)/c(v·) · N1+(·w)/N1+(··), d = 0.75. The upgrade over
    * q104's raw counts that makes the LM signal usable for scoring:
    * continuation probability ranks "Francisco" LOW after anything
    * but "San" even though its raw unigram count is high — exactly
    * the distinction add-k smoothing cannot make.
    *
    * Integer discipline: d = 3/4 clears by working in quarter-counts
    * (4c−3 ≥ 1 for observed bigrams), so term1 = (4c−3)·10⁶ div 4c(v·)
    * and term2 = 3·N1+(v·)·N1+(·w)·10⁶ div (4·c(v·)·N1+(··)) are two
    * integral divisions both engines evaluate identically;
    * p_ppm = term1 + term2. All inputs are exact counts off ONE
    * bigram-spine aggregation.
    *
    * Scale shape: corpus → bigram spine (the q104/q106 single-shuffle
    * discipline); the left/right context spines are two more
    * token-alphabet-bounded aggregations of the SPINE, not the
    * corpus; the top-100 cut is TakeOrdered; the final joins key the
    * 100-row slice against the spines. */
  def q236KneserNey(s: SparkSession, dir: String): DataFrame = {
    val t = split(col("text"), " ")
    kneserNeyOn(Tables.documents(s, dir)
      .where(size(t) >= 2)
      .select(explode(zip_with(
        slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("v"), b.as("w")))).as("b"))
      .select(col("b.v").as("v"), col("b.w").as("w"))
      .groupBy("v", "w").agg(count(lit(1)).as("c")))
  }

  /** [[q236KneserNey]] over any (`v`, `w`, `c` count) bigram spine —
    * exposed for the hand-computed spec. */
  def kneserNeyOn(bi0: DataFrame): DataFrame = {
    // ONE corpus tokenization: the bigram spine feeds four branches
    // (left/right context spines, the type total, the top cut) —
    // uncached, each would re-run the corpus explode
    val bi = bi0.persist()
    val left = bi.groupBy("v").agg(sum("c").as("cv"),
      count(lit(1)).as("n1v"))
    val right = bi.groupBy("w").agg(count(lit(1)).as("n1w"))
    val tot = bi.agg(count(lit(1)).as("nbb"))
    val out = bi.orderBy(col("c").desc, col("v"), col("w")).limit(100)
      .join(left, "v").join(right, "w").crossJoin(broadcast(tot))
      .withColumn("term1_ppm", expr(
        "(4 * c - 3) * 1000000 div (4 * cv)"))
      .withColumn("term2_ppm", expr(
        """cast(3 * cast(n1v as decimal(38,0)) * n1w * 1000000
          | div (4 * cast(cv as decimal(38,0)) * nbb) as bigint)"""
          .stripMargin))
      .select(col("v"), col("w"), col("c"), col("cv"), col("n1v"),
        col("n1w"), (col("term1_ppm") + col("term2_ppm")).as("p_ppm"))
    graft.operators.SmallResult.materialize(out, bi)
  }

  /** Span length (tokens) for [[q105DupSpans]]. */
  val SpanK = 8

  /** q105 — exact substring-span dedup stats (the span-level dedup of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): every [[SpanK]]-token window is fingerprinted, windows
    * whose fingerprint occurs ≥ 2 times ANYWHERE in the corpus (other
    * docs or a repeat inside the same doc) are duplicated spans; emit
    * per-doc span totals and the duplicated fraction. Shape: spans
    * derive NARROWLY from the scan (token-array window algebra — no
    * explode-join of raw text), and only the 32-byte md5 fingerprint
    * ever shuffles: once into the count agg, once into the count join —
    * the canonical two-shuffle MapReduce for span counting, linear at
    * 100 TB. The span array is built once per row (array(t)-lambda
    * binding stops CollapseProject re-splitting the text per window). */
  /** md5 fingerprints of every [[SpanK]]-token window of `textCol` — the
    * span array q105 and the streaming curation gate share. Docs shorter
    * than [[SpanK]] yield ONE whole-text window (the greatest() floor
    * also keeps `sequence` ascending — q105 filters those docs out, the
    * gate uses the single span as an exact-dup fingerprint). The
    * array(t)-lambda binding evaluates the split once per row. */
  def spanHashArr(textCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    element_at(transform(array(split(textCol, " ")), tk =>
      transform(sequence(lit(1), greatest(size(tk) - (SpanK - 1), lit(1))),
        i => md5(concat_ws(" ", slice(tk, i, lit(SpanK)))))), 1)

  def q105DupSpansOn(docs: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    val spanArr = spanHashArr(col("text"))
    val spans = docs
      .where(size(t) >= SpanK)
      // spread before the window fan-out: a single-file input is one
      // partition and would serialize span construction
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), explode(spanArr).as("__h"))
    val counts = spans.groupBy("__h").agg(count(lit(1)).as("__c"))
    spans.join(counts, Seq("__h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__c") >= 2, 1L).otherwise(0L)).as("dup_spans"))
      .withColumn("dup_ratio",
        round(col("dup_spans").cast("double") / col("n_spans"), 6))
  }

  def q105DupSpans(s: SparkSession, dir: String): DataFrame =
    q105DupSpansOn(Tables.documents(s, dir))

  /** q150 — exact duplicate-span REMOVAL, the rewrite stage q105 only
    * measures (Lee et al. strip repeated spans instead of dropping whole
    * docs). Every [[SpanK]]-token window whose fingerprint occurs ≥ 2
    * times corpus-wide keeps its FIRST occurrence (min (doc_id, position)
    * — one global canonical survivor per fingerprint) and every other
    * occurrence's tokens are cut; each doc's text is rebuilt from its
    * surviving tokens.
    *
    * Shape: spans derive narrowly (q105's window algebra), only 32-byte
    * digests shuffle into the one h-partitioned window (count + canonical
    * rank share the exchange); removal POSITIONS — bounded by dup volume,
    * not corpus size — aggregate per doc and hash-join back on doc_id;
    * the rebuild itself is a higher-order filter inside the row, so
    * token-level data never shuffles. Linear at 100 TB with the dup
    * volume, like the dedup family.
    *
    * Overlapping duplicated spans compose: a token is cut iff ANY
    * non-canonical occurrence covers it. Output is exact strings +
    * integer counts — hash-stable across engines. */
  def q150SpanStripOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val d = docs.where(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("__tk"))
    // (doc_id, i, h): 1-based window start + fingerprint, built once per
    // row (the array(tk)-lambda binding trick from spanHashArr)
    val spanStructs = element_at(transform(array(col("__tk")), tk =>
      transform(sequence(lit(1), size(tk) - (SpanK - 1)),
        i => struct(i.as("i"),
          md5(concat_ws(" ", slice(tk, i, lit(SpanK)))).as("h")))), 1)
    val spans = d.where(size(col("__tk")) >= SpanK)
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), explode(spanStructs).as("__s"))
      .select(col("doc_id"), col("__s.i").as("i"), col("__s.h").as("h"))
    val byH = Window.partitionBy("h")
    val marked = spans
      .withColumn("__n", count(lit(1)).over(byH))
      .withColumn("__rn",
        row_number().over(Window.partitionBy("h").orderBy("doc_id", "i")))
    val rmSets = marked.where(col("__n") >= 2 && col("__rn") >= 2)
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (SpanK - 1))).as("__pos"))
      .groupBy("doc_id").agg(collect_set(col("__pos")).as("__rm"))
    d.join(rmSets, Seq("doc_id"), "left")
      .withColumn("__rm2", coalesce(col("__rm"), typedLit(Array.empty[Int])))
      .withColumn("__kept", filter(col("__tk"),
        (tok, idx) => !array_contains(col("__rm2"), idx + lit(1))))
      .select(col("doc_id"),
        size(col("__tk")).as("n_tok"),
        size(col("__kept")).as("n_kept"),
        (size(col("__tk")) - size(col("__kept"))).as("n_removed"),
        array_join(col("__kept"), " ").as("clean_text"))
  }

  def q150SpanStrip(s: SparkSession, dir: String): DataFrame =
    q150SpanStripOn(Tables.documents(s, dir))

  /** Deflate-compressed length of a UTF-8 string at a FIXED level (6,
    * zlib-wrapped) — the byte count only, computed into a reused scratch
    * buffer. Deterministic for a given JVM zlib; that is why q153 is
    * rows-only (no cross-engine oracle for deflate internals). */
  private val deflatedLen = udf { (s: String) =>
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val d = new java.util.zip.Deflater(6, false)
    try {
      d.setInput(bytes); d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }

  /** q153 — compression-ratio quality signal: deflate(text)/bytes(text),
    * the cheap whole-document redundancy detector Gopher-class pipelines
    * run alongside token-level repetition rules (q65 sees repeated
    * WORDS; a low deflate ratio also catches repeated phrases, boiler-
    * plate and character-level junk that token stats miss). One narrow
    * CPU-bound map over the scan — embarrassingly parallel, nothing
    * shuffles but the per-doc stat row. Rows-only by design (deflate
    * byte counts are zlib-implementation-defined); CompressionSignalSpec
    * pins the behavioral contract on planted corpora. */
  def q153CompressionSignalOn(docs: DataFrame): DataFrame =
    docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        deflatedLen(col("text")).as("n_deflate"))
      .where(col("n_bytes") > 0)
      .withColumn("ratio",
        round(col("n_deflate").cast("double") / col("n_bytes"), 4))

  def q153CompressionSignal(s: SparkSession, dir: String): DataFrame =
    q153CompressionSignalOn(Tables.documents(s, dir))

  /** The q150 strip chain as DuckDB CTEs over `src`(doc_id, …, text),
    * ending in `stripped(doc_id, n_tok, n_kept, n_removed, clean_text)` —
    * shared by the q150 oracle (src = documents) and the q154 export
    * composition (src = the gated subset). CTE names are `ss_`-prefixed
    * so embedding compositions can't collide. Self-contained literal, so
    * stripMargin is safe here (nothing composed is embedded). */
  private[queries] def spanStripCtes(src: String): String =
    s"""ss_d AS (
      | SELECT doc_id, string_split(text, ' ') AS t FROM $src
      | WHERE text IS NOT NULL),
      |ss_pos AS (
      | SELECT doc_id, t, unnest(generate_series(1, len(t) - ${SpanK - 1})) AS i
      | FROM ss_d WHERE len(t) >= $SpanK),
      |ss_spans AS (
      | SELECT doc_id, i, md5(array_to_string(t[i : i + ${SpanK - 1}], ' ')) AS h
      | FROM ss_pos),
      |ss_canon AS (
      | SELECT doc_id, i,
      |  row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn,
      |  count(*) OVER (PARTITION BY h) AS n
      | FROM ss_spans),
      |ss_rm AS (
      | SELECT DISTINCT doc_id, pos FROM (
      |  SELECT doc_id, unnest(generate_series(i, i + ${SpanK - 1})) AS pos
      |  FROM ss_canon WHERE n >= 2 AND rn >= 2)),
      |ss_tok AS (
      | SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos FROM ss_d),
      |ss_keptt AS (
      | SELECT tk.doc_id, tk.pos, tk.tok
      | FROM ss_tok tk LEFT JOIN ss_rm rm ON tk.doc_id = rm.doc_id AND tk.pos = rm.pos
      | WHERE rm.pos IS NULL),
      |ss_agg AS (
      | SELECT doc_id, count(*) AS n_kept,
      |  string_agg(tok, ' ' ORDER BY pos) AS clean_text
      | FROM ss_keptt GROUP BY doc_id),
      |stripped AS (
      | SELECT ss_d.doc_id, CAST(len(ss_d.t) AS INTEGER) AS n_tok,
      |  CAST(coalesce(a.n_kept, 0) AS INTEGER) AS n_kept,
      |  CAST(len(ss_d.t) - coalesce(a.n_kept, 0) AS INTEGER) AS n_removed,
      |  coalesce(a.clean_text, '') AS clean_text
      | FROM ss_d LEFT JOIN ss_agg a USING (doc_id))""".stripMargin

  /** q106 — bigram language-model scoring of every document against the
    * corpus-wide LM (add-one smoothing): per-position surprisal
    * ln((c(w1,w2)+1)/(c(w1)+V)) is snapped to integer MICRO-NATS at the
    * bigram level — one deterministic ln per distinct probability — so
    * the per-doc aggregation is an exact long sum (merge-order
    * invariant), following the integer-unit scheme used engine-wide.
    * The unigram context count derives from the bigram table (c1 = Σ_w2
    * c12) so the corpus aggregates in ONE bigram shuffle; scoring joins
    * shuffle only (w1, w2) keys. Low avg_lp_micro ⇒ off-corpus text —
    * the perplexity-style quality filter of a training-data pipeline. */
  def q106LmScoreOn(docs: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    val bg = docs.where(size(t) >= 2)
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), t.as("__t"))
      .select(col("doc_id"), explode(bigramStructs(col("__t"))).as("__p"))
      .select(col("doc_id"), col("__p.w1").as("w1"), col("__p.w2").as("w2"))
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("__c12"))
    val c1 = c12.groupBy("w1").agg(sum("__c12").as("__c1"))
    val vocab = docs.select(explode(t).as("__tok"))
      .agg(count_distinct(col("__tok")).as("__v"))
    bg.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        lpMicroExpr(col("__c12"), col("__c1"), col("__v")).as("__lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("__lp").as("sum_lp_micro"))
      .withColumn("avg_lp_micro",
        round(col("sum_lp_micro").cast("double") / col("n_bigrams"), 6))
  }

  def q106LmScore(s: SparkSession, dir: String): DataFrame =
    q106LmScoreOn(Tables.documents(s, dir))

  /** Merge rounds for [[q107BpeMerges]] — enough to fuse the corpus's
    * dominant suffixes while keeping the bench iteration count honest. */
  val BpeMerges = 10

  /** q107 — trained BPE merge table over the corpus (the real iterative
    * argmax-merge loop; q68 is the static segmentation-regex
    * approximation). Rows-only by design: the training loop's argmax +
    * list rewrite isn't SQL-expressible; correctness is pinned by
    * BpeTrainerSpec against an independent single-machine reference,
    * plus a partitioning-invariance test. */
  def q107BpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.operators.BpeTrainer.train(Tables.documents(s, dir), "text", BpeMerges)

  /** Chunk length (tokens) for [[q111BoilerplateStrip]]. */
  val BoilerK = 8

  /** q111 — cross-document boilerplate stripping (the REWRITE step the
    * span stats of q105 inform; RefinedWeb/C4-style line dedup re-cast
    * over token chunks, since this corpus is single-line): cut each doc
    * into non-overlapping [[BoilerK]]-token chunks, call a chunk
    * boilerplate when its fingerprint appears in ≥ 2 DISTINCT docs
    * (navigation chrome, cookie banners, license headers), and rebuild
    * every doc from its surviving chunks in order. Emits counts + the
    * md5 of the cleaned text, not the text itself (output stays narrow).
    *
    * Scale shape: chunks derive narrowly from the scan; only 32-byte
    * fingerprints shuffle (count agg + membership join — the q105
    * two-shuffle scheme), and the rebuild is one per-doc aggregation of
    * (position, chunk) pairs. No step is quadratic and no text ever
    * joins against text. */
  def q111BoilerplateStripOn(docs: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    val chunks = docs
      // spread before the chunk fan-out (single-file inputs are one partition)
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1), greatest(size(t), lit(1)), lit(BoilerK)),
          start => array_join(slice(t, start, lit(BoilerK)), " ")))
          .as(Seq("__i", "__chunk")))
      .withColumn("__h", md5(col("__chunk")))
    val boiler = chunks.groupBy("__h")
      .agg(count_distinct(col("doc_id")).as("__d"))
      .where(col("__d") >= 2)
      .select(col("__h"), lit(1).as("__b"))
    chunks.join(boiler, Seq("__h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__b").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("__b").isNull,
            struct(col("__i").as("i"), col("__chunk").as("c"))))),
          x => x.getField("c")), " ")).as("clean_fp"))
  }

  def q111BoilerplateStrip(s: SparkSession, dir: String): DataFrame =
    q111BoilerplateStripOn(Tables.documents(s, dir))

  /** q117 — cross-source overlap audit: for every source pair, how many
    * distinct content fingerprints they share (and the Jaccard) — the
    * report that catches one crawl feed republishing another's content
    * before both are "deduped" into a skewed mixture. EXACT at scale:
    * only (32-byte digest, source) pairs ever shuffle; the pair join
    * fans out per digest by its source count (≤ #sources, a constant),
    * never by corpus size; totals are a #sources-row broadcast. */
  def q117SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // cached: totals and the self-join would otherwise each re-scan and
    // re-hash the corpus (the per-query harness clears caches; the
    // lshKeep signature cache follows the same convention)
    val fp = docs.select(md5(col("text")).as("__h"), col("source")).distinct()
      .cache()
    val totals = fp.groupBy("source").agg(count(lit(1)).as("__n"))
    val shared = fp.select(col("__h"), col("source").as("source_a"))
      .join(fp.select(col("__h"), col("source").as("source_b")), "__h")
      .where(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
    val allPairs = totals.select(col("source").as("source_a"), col("__n").as("__na"))
      .crossJoin(totals.select(col("source").as("source_b"), col("__n").as("__nb")))
      .where(col("source_a") < col("source_b"))
    // hint the RIGHT side: LeftOuter only supports BuildRight, so a
    // broadcast hint on the left frame would be silently ignored
    allPairs.join(broadcast(shared), Seq("source_a", "source_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .select(col("source_a"), col("source_b"), col("__na").as("n_a"),
        col("__nb").as("n_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("__na") + col("__nb") - col("n_shared")), 6).as("jaccard"))
  }

  /** Signature size for [[q118SourceOverlapKmv]]. */
  val KmvK = 64

  /** q118 — the sketch twin of q117 for 100 TB: pairwise source overlap
    * ESTIMATED from per-source bottom-[[KmvK]] KMV signatures instead of
    * the full digest sets. Per source only k 60-bit hashes survive (a
    * WindowGroupLimit-pruned shuffle); signatures merge by taking the k
    * smallest of the union (the same mergeability [[q102BottomkSample]]
    * exploits), the k-th smallest normalized hash v estimates
    * |A∪B| ≈ (n−1)·2⁶⁰/v (exact count when the union is smaller than k),
    * and the fraction of those k present in BOTH signatures estimates
    * the Jaccard. Every number is a pure function of the data — the
    * oracle replicates the sketch bit-for-bit — and CurationSpec bounds
    * the estimates against exact q117. */
  def q118SourceOverlapKmv(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("h")
    // null text → null hash: exclude it, or Spark's nulls-first rank
    // order would seat it at rank 1 while DuckDB ranks nulls last —
    // a latent bit-level oracle divergence
    val sig = docs.select(col("source"), T.md5Hash60(col("text")).as("h")).distinct()
      .where(col("h").isNotNull)
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= KmvK).drop("__rk")
    val sources = sig.select("source").distinct()
    val pairLanes = sources.select(col("source").as("source_a"))
      .crossJoin(sources.select(col("source").as("source_b")))
      .where(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        explode(array(col("source_a"), col("source_b"))).as("__src"))
    val merged = broadcast(pairLanes)
      .join(sig.withColumnRenamed("source", "__src"), Seq("__src"))
      .groupBy("source_a", "source_b", "h")
      .agg(max(when(col("__src") === col("source_a"), 1).otherwise(0)).as("__inA"),
        max(when(col("__src") === col("source_b"), 1).otherwise(0)).as("__inB"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("source_a", "source_b").orderBy("h")
    merged.withColumn("__rk", row_number().over(wp))
      .where(col("__rk") <= KmvK)
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("__n"), max(col("h")).as("__vk"),
        sum(col("__inA") * col("__inB")).as("__both"))
      .select(col("source_a"), col("source_b"),
        round(when(col("__n") < KmvK, col("__n").cast("double"))
          .otherwise((col("__n") - 1).cast("double") * math.pow(2.0, 60)
            / col("__vk").cast("double")), 4).as("union_est"),
        round(col("__both").cast("double") / col("__n"), 6).as("jaccard_est"))
  }

  /** q119 — Unicode NFC normalization (native [[graft.plans.NfcNormalizeExpr]]
    * expression; see its scaladoc): visually identical strings with
    * different codepoint sequences defeat exact dedup, span fingerprints,
    * and tokenizer merges unless composed first. Emits the normalized
    * fingerprint + an already-normalized flag; a narrow codegen'd map,
    * zero-copy on the (overwhelmingly common) already-NFC rows. */
  def q119UnicodeNormalize(s: SparkSession, dir: String): DataFrame = {
    val nfc = call_function("graft_nfc", col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"), md5(nfc).as("nfc_fp"),
        (nfc === col("text")).as("already_nfc"))
  }

  /** Boundary-window width / cut modulus for [[q120CdcChunks]]: a cut
    * falls after token i when the hash of the W tokens starting at i is
    * ≡ 0 (mod D) — expected chunk length D tokens. */
  val CdcW = 4
  val CdcD = 8

  /** q120 — content-defined chunking (the restic/FastCDC boundary trick
    * over tokens): chunk boundaries come from a rolling window HASH, not
    * fixed offsets, so inserting one token shifts only the chunks around
    * the edit — q111's fixed 8-token grid would re-cut the whole
    * document suffix and miss every repeated chunk after the insertion
    * point. Emits per-doc chunk stats + the corpus-duplicated fraction
    * (the q105 counting scheme over CDC units). Shape: boundaries and
    * chunks are narrow column algebra over the token array (no explode
    * until the 32-byte chunk fingerprints), then the two-shuffle
    * count-join — linear at any scale. */
  def q120CdcChunksOn(docs: DataFrame): DataFrame = {
    val cut = (tk: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =>
      pmod(conv(substring(md5(concat_ws(" ", slice(tk, i, lit(CdcW)))), 1, 8), 16, 10)
        .cast("long"), lit(CdcD)) === 0
    // per-row: cuts → (start, end) pairs → chunk strings; array(t)-lambda
    // binding evaluates the split once (the spanHashArr trick)
    val chunkArr = element_at(transform(array(split(col("text"), " ")), tk => {
      val n = size(tk)
      val cuts = filter(sequence(lit(1), greatest(n - 1, lit(1))), i => cut(tk, i))
      val starts = concat(array(lit(1)), transform(cuts, c => c + 1))
      val ends = concat(cuts, array(n))
      filter(zip_with(starts, ends, (s, e) =>
        when(e >= s, concat_ws(" ", slice(tk, s, e - s + 1)))), c => c.isNotNull)
    }), 1)
    val chunks = docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), explode(chunkArr).as("__c"))
      .select(col("doc_id"), md5(col("__c")).as("__h"))
    val counts = chunks.groupBy("__h").agg(count(lit(1)).as("__n"))
    chunks.join(counts, Seq("__h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__n") >= 2, 1L).otherwise(0L)).as("dup_chunks"))
      .withColumn("dup_ratio",
        round(col("dup_chunks").cast("double") / col("n_chunks"), 6))
  }

  def q120CdcChunks(s: SparkSession, dir: String): DataFrame =
    q120CdcChunksOn(Tables.documents(s, dir))

  /** BPE-ish pre-tokenizer pieces (one regex portable between Java and
    * RE2) — shared by q68 and q129. */
  val BpePieceRe = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"

  /** Adjacent-token pairs of a split array as array<struct<w1,w2>> —
    * THE bigram construction (q106 and q132 must tokenize identically). */
  private[graft] def bigramStructs(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    zip_with(
      slice(t, lit(1), size(t) - 1),
      slice(t, lit(2), size(t) - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))

  /** Add-1-smoothed bigram log-prob in integer micro-nats — THE lp
    * scheme, shared bit-for-bit by q106, q132 and the stream router. */
  private[graft] def lpMicroExpr(c12: org.apache.spark.sql.Column,
      c1: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    round(log((c12 + lit(1.0)) / (c1 + v)) * 1e6, 0).cast("long")

  /** q129 — tokenizer fertility per language: pieces-per-word and
    * bytes-per-piece under the q68 pre-tokenizer. THE tokenizer-health
    * report a multilingual training pipeline watches (a language whose
    * fertility explodes is being shredded into bytes and overpays its
    * token budget). One combinable aggregation — sums of per-row ints —
    * so the 100 TB shape is a map + one 5-row shuffle. */
  def q129TokenizerFertilityOn(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(T.tokenCount(col("text")).cast("long")).as("n_words"),
        sum(size(regexp_extract_all(col("text"), lit(BpePieceRe), lit(0)))
          .cast("long")).as("n_pieces"),
        sum(octet_length(col("text")).cast("long")).as("n_bytes"))
      .withColumn("fertility",
        round(col("n_pieces").cast("double") / col("n_words"), 6))
      .withColumn("bytes_per_piece",
        round(col("n_bytes").cast("double") / col("n_pieces"), 6))

  def q129TokenizerFertility(s: SparkSession, dir: String): DataFrame =
    q129TokenizerFertilityOn(Tables.documents(s, dir))

  /** q130 rule bounds (Gopher-style, Rae et al. 2021 §A1.1 — public
    * heuristics, re-derived as portable column expressions). */
  val QrMinWords = 50
  val QrMaxWords = 100000
  val QrMinMeanLen = 3.0
  val QrMaxMeanLen = 10.0
  val QrMinAlphaRatio = 0.8
  val QrMinStopHits = 2

  /** q130 — document-quality rule battery: word count, mean word length,
    * fraction of words containing an alphabetic character, stopword
    * hits, plus one boolean verdict per rule and the conjunction. Every
    * metric is a narrow per-row expression (no shuffle at all), which is
    * the whole point: the Gopher battery runs AT SCAN SPEED over 100 TB
    * and gates what the expensive downstream stages ever see. */
  def q130QualityRulesOn(docs: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    val stopSet = array(T.EnglishStopwords.map(lit): _*)
    docs
      .select(col("doc_id"),
        size(t).as("n_words"),
        round(length(translate(col("text"), " ", "")).cast("double") / size(t), 6)
          .as("mean_word_len"),
        round(size(filter(t, w => w.rlike("[A-Za-z]"))).cast("double") / size(t), 6)
          .as("alpha_ratio"),
        // DISTINCT stopwords (the Gopher rule): a doc repeating one
        // stopword must not pass on occurrence count
        size(array_intersect(array_distinct(t), stopSet)).as("stop_hits"))
      .withColumn("pass_words",
        col("n_words") >= QrMinWords && col("n_words") <= QrMaxWords)
      .withColumn("pass_word_len",
        col("mean_word_len") >= QrMinMeanLen && col("mean_word_len") <= QrMaxMeanLen)
      .withColumn("pass_alpha", col("alpha_ratio") >= QrMinAlphaRatio)
      .withColumn("pass_stop", col("stop_hits") >= QrMinStopHits)
      .withColumn("pass_all",
        col("pass_words") && col("pass_word_len") && col("pass_alpha") && col("pass_stop"))
  }

  def q130QualityRules(s: SparkSession, dir: String): DataFrame =
    q130QualityRulesOn(Tables.documents(s, dir))

  /** q132 — CCNet-style perplexity bucketing (Wenzek et al. 2020 —
    * public pipeline): per language, rank documents by the q106 LM
    * score and cut into head / middle / tail terciles; training mixes
    * then up-sample head and down-sample tail. Ordering key is the
    * integer-derived `avg_lp_micro` with doc_id tiebreak, so the tercile
    * assignment is deterministic and engine-portable.
    *
    * Scale note: ntile-per-lang is a per-language sort; languages are
    * few and huge, so at 100 TB the same cut comes from ONE pass of
    * per-lang quantile summaries (range-partitioner style) rather than a
    * total sort — the tercile SEMANTICS asserted here are unchanged. */
  def q132CcnetBucketsOn(docs: DataFrame): DataFrame = {
    // LEFT join from the corpus: a doc with no bigrams (<2 tokens) has
    // no LM score but must still land in a bucket — NULLS LAST ranks it
    // worst, so short junk routes to the tail instead of vanishing from
    // the training mix (the same totality rule the stream router keeps)
    val w = Window.partitionBy("lang")
      .orderBy(col("avg_lp_micro").desc_nulls_last, col("doc_id"))
    docs.select("doc_id", "lang")
      .join(q106LmScoreOn(docs), Seq("doc_id"), "left")
      .withColumn("tile", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("sum_lp_micro"), col("avg_lp_micro"),
        when(col("tile") === 1, "head")
          .when(col("tile") === 2, "middle")
          .otherwise("tail").as("bucket"))
  }

  def q132CcnetBuckets(s: SparkSession, dir: String): DataFrame =
    q132CcnetBucketsOn(Tables.documents(s, dir))

  /** Fingerprint popularity cap for [[q182QuotePairs]]: a window shared
    * by MORE docs than this is corpus boilerplate (q111's territory),
    * not a quote — it stops participating in pair generation, which is
    * also what bounds the per-fingerprint fan-out at ≤ cap². */
  val QuoteFpCap = 16

  /** Containment floor (ppm of the SMALLER doc's window set) for an
    * emitted quote pair. */
  val QuoteMinPpm = 500000L

  /** q182 — quote/containment pairs: doc pairs where most of the smaller
    * doc appears VERBATIM inside the larger one, scored by span-set
    * containment `|Wa ∩ Wb| / min(|Wa|, |Wb|)` over the [[SpanK]]-token
    * window fingerprints. The asymmetric-dup detector resemblance dedup
    * structurally misses: a 30-token doc fully quoted inside a 200-token
    * doc has Jaccard ≈ 0.15 — minhash BANDS almost never fire on it (the
    * S-curve is calibrated to 0.5 resemblance), so q31/q53 let it
    * through; its containment is 1.0. Candidates come from SHARED
    * fingerprints (a pair with high containment shares many windows by
    * definition — recall 100% above any floor > 0), with
    * corpus-boilerplate fingerprints (> [[QuoteFpCap]] docs) excluded by
    * deliberate semantics, not approximation.
    *
    * Scale shape: the q105 two-shuffle span-count discipline — windows
    * derive narrowly, only 32-byte digests + doc ids shuffle; pair
    * fan-out per fingerprint is capped at ≤ cap²; per-doc window totals
    * hash-join back on doc_id. Linear at 100 TB in corpus + true quote
    * volume. */
  def q182QuotePairs(s: SparkSession, dir: String): DataFrame =
    q182QuotePairsOn(Tables.documents(s, dir))

  /** [[q182QuotePairs]] over any (doc_id, text) frame. */
  def q182QuotePairsOn(docs: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    val wins = docs
      .where(col("text").isNotNull && size(t) >= SpanK)
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), explode(spanHashArr(col("text"))).as("__h"))
      .distinct() // windows as a SET: in-doc repeats count once
      .cache()
    val perDoc = wins.groupBy("doc_id").agg(count(lit(1)).as("nw"))
    val fp = wins.groupBy("__h").agg(count(lit(1)).as("nd"))
    val ok = wins.join(fp.where(col("nd").between(2, QuoteFpCap)), "__h")
    val pairs = ok.select(col("__h"), col("doc_id").as("a_id"))
      .join(ok.select(col("__h"), col("doc_id").as("b_id")), "__h")
      .where(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("shared_windows"))
    pairs
      .join(perDoc.select(col("doc_id").as("a_id"), col("nw").as("na")), "a_id")
      .join(perDoc.select(col("doc_id").as("b_id"), col("nw").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"), col("shared_windows"),
        least(col("na"), col("nb")).as("min_windows"),
        expr("shared_windows * 1000000 div least(na, nb)").as("cont_ppm"))
      .where(col("cont_ppm") >= QuoteMinPpm)
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q182_quote_pairs" -> (q182QuotePairs _),
    "q129_tokenizer_fertility" -> (q129TokenizerFertility _),
    "q130_quality_rules" -> (q130QualityRules _),
    "q132_ccnet_buckets" -> (q132CcnetBuckets _),
    "q120_cdc_chunks" -> (q120CdcChunks _),
    "q119_unicode_normalize" -> (q119UnicodeNormalize _),
    "q118_source_overlap_kmv" -> (q118SourceOverlapKmv _),
    "q117_source_overlap" -> (q117SourceOverlap _),
    "q111_boilerplate_strip" -> (q111BoilerplateStrip _),
    "q104_bigram_lm" -> (q104BigramLm _),
    "q236_kneser_ney" -> (q236KneserNey _),
    "q105_dup_spans" -> (q105DupSpans _),
    "q150_span_strip" -> (q150SpanStrip _),
    "q153_compression_signal" -> (q153CompressionSignal _),
    "q106_lm_score" -> (q106LmScore _),
    "q107_bpe_merges" -> (q107BpeMerges _),
    "q99_chunk_docs" -> (q99ChunkDocs _),
    "q63_pii_redaction" -> (q63PiiRedaction _),
    "q64_contamination" -> (q64Contamination _),
    "q65_repetition" -> (q65Repetition _),
    "q66_length_histogram" -> (q66LengthHistogram _),
    "q67_decimal_money" -> (q67DecimalMoney _),
    "q68_bpe_tokens" -> (q68BpeTokens _))

  /** q106's CTE chain and final projection, split so q132 can extend the
    * chain instead of duplicating the LM-score SQL. */
  private val q106Ctes =
    """toks AS (
      | SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |pos AS (
      | SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
      | FROM toks WHERE len(t) >= 2),
      |bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM pos),
      |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
      |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
      |v AS (SELECT count(DISTINCT tok) AS v
      |      FROM (SELECT unnest(t) AS tok FROM toks)),
      |lp AS (
      | SELECT bg.doc_id,
      |  CAST(round(ln((c12.c12 + 1.0) / (c1.c1 + v.v)) * 1000000) AS BIGINT) AS lp
      | FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)""".stripMargin

  private val q106Select =
    """SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      | CAST(sum(lp) AS BIGINT) AS sum_lp_micro,
      | round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_lp_micro
      |FROM lp GROUP BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q182_quote_pairs" ->
      s"""WITH d AS (
        | SELECT doc_id, string_split(text, ' ') AS t FROM documents
        | WHERE text IS NOT NULL),
        |pos AS (
        | SELECT doc_id, t, unnest(generate_series(1, len(t) - ${SpanK - 1})) AS i
        | FROM d WHERE len(t) >= $SpanK),
        |wins AS (
        | SELECT DISTINCT doc_id,
        |  md5(array_to_string(t[i : i + ${SpanK - 1}], ' ')) AS h
        | FROM pos),
        |perdoc AS (
        | SELECT doc_id, CAST(count(*) AS BIGINT) AS nw FROM wins GROUP BY 1),
        |fp AS (SELECT h, count(*) AS nd FROM wins GROUP BY 1),
        |ok AS (
        | SELECT w.doc_id, w.h FROM wins w JOIN fp ON w.h = fp.h
        | WHERE fp.nd BETWEEN 2 AND $QuoteFpCap),
        |pairs AS (
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(count(*) AS BIGINT) AS shared_windows
        | FROM ok a JOIN ok b ON a.h = b.h AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |j AS (
        | SELECT p.a_id, p.b_id, p.shared_windows,
        |  least(pa.nw, pb.nw) AS min_windows
        | FROM pairs p
        |  JOIN perdoc pa ON p.a_id = pa.doc_id
        |  JOIN perdoc pb ON p.b_id = pb.doc_id)
        |SELECT a_id, b_id, shared_windows, min_windows,
        | CAST(shared_windows * 1000000 // min_windows AS BIGINT) AS cont_ppm
        |FROM j WHERE shared_windows * 1000000 // min_windows >= $QuoteMinPpm""".stripMargin,
    "q120_cdc_chunks" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bounds AS (
        | SELECT doc_id, t, len(t) AS n,
        |  list_filter(generate_series(1, greatest(len(t) - 1, 1)),
        |   i -> ('0x' || substr(md5(array_to_string(t[i : i + ${CdcW - 1}], ' ')), 1, 8))::BIGINT
        |         % $CdcD = 0) AS cuts
        | FROM toks),
        |spans AS (
        | SELECT doc_id, t,
        |  list_prepend(1, list_transform(cuts, c -> c + 1)) AS starts,
        |  list_append(cuts, n) AS ends
        | FROM bounds),
        |chunks AS (
        | SELECT doc_id, md5(array_to_string(t[starts[j] : ends[j]], ' ')) AS h
        | FROM spans, unnest(generate_series(1, len(starts))) AS u(j)
        | WHERE ends[j] >= starts[j]),
        |counts AS (SELECT h, count(*) AS cn FROM chunks GROUP BY h)
        |SELECT c.doc_id, count(*) AS n_chunks,
        | CAST(sum(CASE WHEN cnt.cn >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
        | round(CAST(sum(CASE WHEN cnt.cn >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
        |  AS dup_ratio
        |FROM chunks c JOIN counts cnt ON c.h = cnt.h
        |GROUP BY c.doc_id""".stripMargin,
    "q119_unicode_normalize" ->
      """SELECT doc_id, md5(nfc_normalize(text)) AS nfc_fp,
        | nfc_normalize(text) = text AS already_nfc
        |FROM documents""".stripMargin,
    "q118_source_overlap_kmv" ->
      s"""WITH sig AS (
        | SELECT source, h FROM (
        |  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rk
        |  FROM (SELECT DISTINCT source,
        |         ('0x' || substr(md5(text), 1, 15))::BIGINT AS h FROM documents)
        |  WHERE h IS NOT NULL)
        | WHERE rk <= $KmvK),
        |pairs AS (
        | SELECT a.source AS source_a, b.source AS source_b
        | FROM (SELECT DISTINCT source FROM sig) a,
        |      (SELECT DISTINCT source FROM sig) b
        | WHERE a.source < b.source),
        |merged AS (
        | SELECT p.source_a, p.source_b, s.h,
        |  max(CASE WHEN s.source = p.source_a THEN 1 ELSE 0 END) AS inA,
        |  max(CASE WHEN s.source = p.source_b THEN 1 ELSE 0 END) AS inB
        | FROM pairs p JOIN sig s ON s.source = p.source_a OR s.source = p.source_b
        | GROUP BY 1, 2, 3),
        |ranked AS (
        | SELECT *, row_number() OVER (PARTITION BY source_a, source_b ORDER BY h) AS rk
        | FROM merged)
        |SELECT source_a, source_b,
        | round(CASE WHEN count(*) < $KmvK THEN CAST(count(*) AS DOUBLE)
        |   ELSE CAST(count(*) - 1 AS DOUBLE) * power(2.0, 60) / CAST(max(h) AS DOUBLE)
        |  END, 4) AS union_est,
        | round(CAST(sum(inA * inB) AS DOUBLE) / count(*), 6) AS jaccard_est
        |FROM ranked WHERE rk <= $KmvK
        |GROUP BY 1, 2""".stripMargin,
    "q117_source_overlap" ->
      """WITH fp AS (SELECT DISTINCT md5(text) AS h, source FROM documents),
        |totals AS (SELECT source, count(*) AS n FROM fp GROUP BY source),
        |shared AS (
        | SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        | FROM fp a JOIN fp b ON a.h = b.h AND a.source < b.source
        | GROUP BY 1, 2)
        |SELECT ta.source AS source_a, tb.source AS source_b,
        | ta.n AS n_a, tb.n AS n_b,
        | coalesce(s.n_shared, 0) AS n_shared,
        | round(CAST(coalesce(s.n_shared, 0) AS DOUBLE)
        |   / (ta.n + tb.n - coalesce(s.n_shared, 0)), 6) AS jaccard
        |FROM totals ta JOIN totals tb ON ta.source < tb.source
        |LEFT JOIN shared s ON s.source_a = ta.source AND s.source_b = tb.source""".stripMargin,
    "q111_boilerplate_strip" ->
      s"""WITH toks AS (
        | SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |chunks AS (
        | SELECT doc_id, i,
        |  array_to_string(t[i : i + ${BoilerK - 1}], ' ') AS chunk
        | FROM toks, unnest(generate_series(1, greatest(len(t), 1), $BoilerK)) AS u(i)),
        |boiler AS (
        | SELECT md5(chunk) AS h FROM chunks
        | GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2)
        |SELECT c.doc_id, count(*) AS n_chunks,
        | CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        | md5(coalesce(string_agg(CASE WHEN b.h IS NULL THEN c.chunk END, ' ' ORDER BY c.i), ''))
        |  AS clean_fp
        |FROM chunks c LEFT JOIN boiler b ON md5(c.chunk) = b.h
        |GROUP BY c.doc_id""".stripMargin,
    "q105_dup_spans" ->
      s"""WITH toks AS (
        | SELECT doc_id, string_split(text, ' ') AS t FROM documents
        | WHERE len(string_split(text, ' ')) >= $SpanK),
        |pos AS (
        | SELECT doc_id, t, unnest(generate_series(1, len(t) - ${SpanK - 1})) AS i
        | FROM toks),
        |spans AS (
        | SELECT doc_id, md5(array_to_string(t[i : i + ${SpanK - 1}], ' ')) AS h
        | FROM pos),
        |c AS (SELECT h, count(*) AS c FROM spans GROUP BY h)
        |SELECT s.doc_id,
        | CAST(count(*) AS BIGINT) AS n_spans,
        | CAST(sum(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
        | round(CAST(sum(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*), 6) AS dup_ratio
        |FROM spans s JOIN c USING (h)
        |GROUP BY s.doc_id""".stripMargin,
    "q106_lm_score" -> ("WITH " + q106Ctes + "\n" + q106Select),
    "q150_span_strip" ->
      ("WITH " + spanStripCtes("documents") +
        "\nSELECT doc_id, n_tok, n_kept, n_removed, clean_text FROM stripped"),
    "q132_ccnet_buckets" ->
      // q106's CTE chain reused verbatim; plain concatenation, each piece
      // stripMargins ITSELF (an outer stripMargin would corrupt embedded
      // lines — see the q70 oracle note)
      ("WITH " + q106Ctes + ",\nscored AS (\n" + q106Select + "),\n" +
      """j AS (
        | SELECT d.doc_id, d.lang, s.n_bigrams, s.sum_lp_micro, s.avg_lp_micro,
        |  CAST(ntile(3) OVER (
        |    PARTITION BY d.lang
        |    ORDER BY s.avg_lp_micro DESC NULLS LAST, d.doc_id)
        |   AS INTEGER) AS tile
        | FROM documents d LEFT JOIN scored s USING (doc_id))
        |SELECT doc_id, lang, n_bigrams, sum_lp_micro, avg_lp_micro,
        | CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM j""".stripMargin),
    "q129_tokenizer_fertility" ->
      """WITH m AS (
        | SELECT lang, len(string_split(text, ' ')) AS w,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS p,
        |  strlen(text) AS b
        | FROM documents)
        |SELECT lang, count(*) AS n_docs,
        | CAST(sum(w) AS BIGINT) AS n_words,
        | CAST(sum(p) AS BIGINT) AS n_pieces,
        | CAST(sum(b) AS BIGINT) AS n_bytes,
        | round(CAST(sum(p) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6) AS fertility,
        | round(CAST(sum(b) AS DOUBLE) / CAST(sum(p) AS DOUBLE), 6) AS bytes_per_piece
        |FROM m GROUP BY lang""".stripMargin,
    "q130_quality_rules" -> {
      val stopList = T.EnglishStopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH m AS (
        | SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
        |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |    / len(string_split(text, ' ')), 6) AS mean_word_len,
        |  round(CAST(len(list_filter(string_split(text, ' '),
        |      w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
        |    / len(string_split(text, ' ')), 6) AS alpha_ratio,
        |  CAST(len(list_filter(list_distinct(string_split(text, ' ')),
        |      w -> w IN ($stopList))) AS INTEGER) AS stop_hits
        | FROM documents)
        |SELECT doc_id, n_words, mean_word_len, alpha_ratio, stop_hits,
        | n_words >= $QrMinWords AND n_words <= $QrMaxWords AS pass_words,
        | mean_word_len >= $QrMinMeanLen AND mean_word_len <= $QrMaxMeanLen AS pass_word_len,
        | alpha_ratio >= $QrMinAlphaRatio AS pass_alpha,
        | stop_hits >= $QrMinStopHits AS pass_stop,
        | (n_words >= $QrMinWords AND n_words <= $QrMaxWords)
        |  AND (mean_word_len >= $QrMinMeanLen AND mean_word_len <= $QrMaxMeanLen)
        |  AND alpha_ratio >= $QrMinAlphaRatio
        |  AND stop_hits >= $QrMinStopHits AS pass_all
        |FROM m""".stripMargin
    },
    "q104_bigram_lm" ->
      """WITH t AS (
        | SELECT string_split(text, ' ') AS l FROM documents
        | WHERE len(string_split(text, ' ')) >= 2),
        |g AS (
        | SELECT unnest(list_transform(generate_series(1, len(l) - 1),
        |   i -> l[i] || ' ' || l[i + 1])) AS bigram FROM t)
        |SELECT bigram, count(*) AS cnt FROM g
        |GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 100""".stripMargin,
    "q236_kneser_ney" ->
      """WITH t AS (
        | SELECT string_split(text, ' ') AS l FROM documents
        | WHERE len(string_split(text, ' ')) >= 2),
        |pairs AS (
        | SELECT unnest(list_transform(generate_series(1, len(l) - 1),
        |   i -> struct_pack(v := l[i], w := l[i + 1]))) AS b FROM t),
        |bi AS (
        | SELECT b.v AS v, b.w AS w, CAST(count(*) AS BIGINT) AS c
        | FROM pairs GROUP BY 1, 2),
        |lft AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv,
        |        CAST(count(*) AS BIGINT) AS n1v FROM bi GROUP BY v),
        |rgt AS (SELECT w, CAST(count(*) AS BIGINT) AS n1w FROM bi GROUP BY w),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS nbb FROM bi),
        |top AS (SELECT * FROM bi ORDER BY c DESC, v, w LIMIT 100)
        |SELECT top.v, top.w, top.c, lft.cv, lft.n1v, rgt.n1w,
        | (4 * top.c - 3) * 1000000 // (4 * lft.cv)
        |  + CAST(3 * CAST(lft.n1v AS HUGEINT) * rgt.n1w * 1000000
        |     // (4 * CAST(lft.cv AS HUGEINT) * tot.nbb) AS BIGINT) AS p_ppm
        |FROM top JOIN lft USING (v) JOIN rgt USING (w) CROSS JOIN tot"""
        .stripMargin,
    "q99_chunk_docs" -> {
      val stride = ChunkSize - ChunkOverlap
      s"""WITH toks AS (
        | SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |starts AS (
        | SELECT doc_id, t,
        |  unnest(generate_series(1, greatest(len(t) - $ChunkOverlap, 1), $stride)) AS s
        | FROM toks)
        |SELECT doc_id,
        | CAST((s - 1) / $stride AS INTEGER) AS chunk_id,
        | array_to_string(t[s : least(s + ${ChunkSize - 1}, len(t))], ' ') AS chunk,
        | CAST(least(s + ${ChunkSize - 1}, len(t)) - s + 1 AS INTEGER) AS n_tokens
        |FROM starts""".stripMargin
    },
    "q63_pii_redaction" ->
      raw"""SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
        | CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS INTEGER) AS n_phone,
        | CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ip,
        | md5(regexp_replace(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS redacted_fp
        |FROM documents""".stripMargin,
    "q64_contamination" ->
      """WITH sh AS (
        | SELECT doc_id,
        |  CASE WHEN len(string_split(text,' ')) < 5 THEN [text]
        |   ELSE list_transform(generate_series(1, len(string_split(text,' ')) - 4),
        |     i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' '
        |       || string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3] || ' '
        |       || string_split(text,' ')[i+4]) END AS grams
        | FROM documents),
        |bench AS (SELECT DISTINCT unnest(grams) AS g FROM sh WHERE doc_id < 20),
        |corpus AS (SELECT doc_id, unnest(grams) AS g FROM sh WHERE doc_id >= 20)
        |SELECT c.doc_id, count(DISTINCT c.g) AS n_shared_5grams
        |FROM corpus c JOIN bench b ON c.g = b.g
        |GROUP BY c.doc_id""".stripMargin,
    "q65_repetition" ->
      """WITH g AS (
        | SELECT doc_id,
        |  list_transform(generate_series(1, greatest(len(string_split(text,' ')) - 2, 1)),
        |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' '
        |      || string_split(text,' ')[i+2]) AS grams
        | FROM documents
        | WHERE len(string_split(text,' ')) >= 3)
        |SELECT doc_id, CAST(len(grams) AS INTEGER) AS n_grams,
        | round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6) AS rep_ratio
        |FROM g""".stripMargin,
    "q66_length_histogram" ->
      """SELECT CAST(floor(len(string_split(text,' ')) / 10) * 10 AS BIGINT) AS bucket_lo,
        | count(*) AS n_docs,
        | CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens
        |FROM documents GROUP BY 1""".stripMargin,
    "q67_decimal_money" ->
      """SELECT l_returnflag,
        | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS gross,
        | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |   * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DECIMAL(18,4)) AS VARCHAR) AS net,
        | CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS VARCHAR) AS qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q68_bpe_tokens" ->
      """SELECT doc_id,
        | CAST(len(string_split(text,' ')) AS INTEGER) AS n_ws_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS INTEGER) AS n_bpe_pieces,
        | round(CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS DOUBLE)
        |   / len(string_split(text,' ')), 6) AS pieces_per_word
        |FROM documents""".stripMargin)
}
