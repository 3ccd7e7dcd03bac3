package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text-analysis building blocks for the LLM-data-pipeline
  * operators (dedup, language ID, quality scoring, fingerprinting).
  *
  * Everything here is built from `org.apache.spark.sql.functions` so the
  * expressions stay inside whole-stage codegen — no UDFs, no Python. All
  * hashes are MD5 (present in both Spark and DuckDB) so correctness oracles
  * can replicate the exact computation.
  */
object TextFunctions {

  /** Whitespace tokenization (documents use single-space separators). */
  def tokens(text: Column): Column = split(text, " ")

  def distinctTokens(text: Column): Column = array_distinct(tokens(text))

  def tokenCount(text: Column): Column = size(tokens(text))

  def uniqueTokenCount(text: Column): Column = size(distinctTokens(text))

  /** Type–token ratio — a standard lexical-diversity quality signal. */
  def typeTokenRatio(text: Column): Column =
    uniqueTokenCount(text).cast("double") / tokenCount(text)

  /** Fraction of token OCCURRENCES that belong to `words` (stopword ratio). */
  def wordSetRatio(text: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(tokens(text), t => array_contains(set, t))).cast("double") /
      tokenCount(text)
  }

  /** English function words for the language-ID heuristic. */
  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "or", "to", "in", "is", "it",
    "for", "on", "with", "as", "by", "at", "this", "that")

  /** Contains CJK ideographs (charset-based language signal). */
  def hasCjk(text: Column): Column = text.rlike("[\\x{4e00}-\\x{9fff}]")

  /** Heuristic language ID: charset check first, then English stopword
    * density. Deterministic, so it is oracle-checkable; honest about
    * uncertainty via "und". */
  def langGuess(text: Column): Column =
    when(hasCjk(text), "zh")
      .when(wordSetRatio(text, EnglishStopwords) >= 0.05, "en")
      .otherwise("und")

  /** Composite quality score in [0,1]: length saturation × lexical
    * diversity. Deterministic SQL-expressible formula. */
  def qualityScore(text: Column): Column =
    least(lit(1.0), tokenCount(text).cast("double") / 200.0) *
      typeTokenRatio(text)

  /** Canonical document fingerprint: MD5 of case/whitespace-normalized text. */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(text, "\\s+", " ")))

  /** Bind `expr` ONCE as a lambda variable and build `body` over it. A
    * subexpression referenced inside a `transform` lambda re-evaluates
    * PER ELEMENT (no CSE across lambda boundaries — a split() referenced
    * in an n-element lambda costs n splits per row, quadratic in doc
    * length; measured 4× on shingle generation). Routing it through a
    * single-element outer transform evaluates it once per row. */
  private def bindOnce(expr: Column)(body: Column => Column): Column =
    element_at(transform(array(expr), body), 1)

  /** Word n-gram shingles (distinct): the dedup unit that catches
    * re-orderings unigrams miss. `sequence` + `transform` keeps it inside
    * codegen — no explode/regroup shuffle; the token array is lambda-bound
    * so the split runs once per row. */
  def shingles(text: Column, n: Int): Column =
    array_distinct(bindOnce(tokens(text)) { toks =>
      when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*)))
    })

  /** One MinHash value: min over the distinct-token set of a seeded MD5.
    * Lexicographic min over hex digests is a valid min-wise hash family;
    * the seed is prefixed so the k hash functions are independent. */
  def minhash(text: Column, seed: Int): Column =
    bindOnce(distinctTokens(text))(minhashOfTokens(_, seed))

  /** [[minhash]] over an already-tokenized distinct-token array — callers
    * computing several minhashes tokenize ONCE and map k times (the text
    * would otherwise be re-split per hash function). */
  def minhashOfTokens(toks: Column, seed: Int): Column =
    array_min(transform(toks, t => md5(concat(lit(s"$seed|"), t))))

  // ---- Kirsch–Mitzenmacher double-hashing minhash family ----------------
  //
  // k min-wise hash functions from ONE digest per token:
  // h_i(t) = h1(t) + i·h2(t), with h1 < 2^60 and h2 < 2^52 so every
  // combination stays far from Long overflow (Spark 4 runs ANSI mode —
  // overflow would throw, not wrap). ~k× less hash work than k seeded
  // digests, and replicable in DuckDB ('0x…'::BIGINT hex parsing).

  /** 60-bit token hash from the MD5 prefix (hex chars 1-15) — the same
    * h1 the minhash family uses, as a standalone scalar for consumers
    * like SimHash that need ONE replicable hash per token. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Deterministic hash bucket in [0, m): salted md5 prefix of the key,
    * mod m — the engine-wide reproducible sampling/splitting/bucketing
    * primitive (no rand(): identical across runs, engines, retries).
    * DuckDB replica: `('0x'||substr(md5(salt||key),1,8))::BIGINT % m`.
    * THE one definition — the sampling queries and feature hashers all
    * route here so the expression can never desynchronize from its
    * oracles copy-by-copy. */
  def hashMod(salt: String, key: Column, m: Int): Column =
    pmod(conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 8), 16, 10)
      .cast("long"), lit(m))

  /** Per-token (h1, h2) pairs from one MD5: hex chars 1-15 (60 bits) and
    * 17-29 (52 bits). */
  def md5HashPairs(toks: Column): Column =
    transform(toks, t => struct(
      md5Hash60(t).as("h1"),
      conv(substring(md5(t), 17, 13), 16, 10).cast("long").as("h2")))

  /** Per-token (h1, h2) pairs from xxhash64 (production family, not
    * DuckDB-replicable): shifted to 60/52 bits for the same no-overflow
    * envelope. */
  def xxHashPairs(toks: Column): Column =
    transform(toks, t => struct(
      shiftrightunsigned(xxhash64(lit(1), t), 4).as("h1"),
      shiftrightunsigned(xxhash64(lit(2), t), 12).as("h2")))

  /** MinHash value i over a pre-computed (h1, h2) pair array. */
  def dhMinhash(hashPairs: Column, i: Int): Column =
    array_min(transform(hashPairs,
      p => p.getField("h1") + lit(i.toLong) * p.getField("h2")))

  /** LSH band key over `bandSize` adjacent double-hashing minhashes. */
  def dhBandKey(hashPairs: Column, band: Int, bandSize: Int): Column =
    md5(concat_ws("|", (0 until bandSize).map(i =>
      dhMinhash(hashPairs, band * bandSize + i).cast("string")): _*))

  /** MinHash signature of `k` hashes. */
  def minhashSignature(text: Column, k: Int): Seq[Column] =
    (0 until k).map(i => minhash(text, i).as(s"mh$i"))

  /** LSH band key: hash of `bandSize` adjacent signature components.
    * Documents agreeing on ANY band are near-dup candidates. */
  def bandKey(text: Column, band: Int, bandSize: Int): Column = {
    val parts = (0 until bandSize).map(i => minhash(text, band * bandSize + i))
    md5(concat_ws("|", parts: _*))
  }

  /** Character n-gram windows (positional, 1-based — mirrors the DuckDB
    * `generate_series`/`substr` replication exactly). Strings shorter than
    * `n` yield themselves as the single window. Only the min-hash of the
    * set is consumed, so duplicates are harmless. */
  def charShingles(s: Column, n: Int): Column =
    transform(sequence(lit(1), greatest(length(s) - (n - 1), lit(1))),
      i => s.substr(i, lit(n)))

  /** One MinHash value over character n-grams (seeded MD5 family) — the
    * LSH unit for EDIT-DISTANCE similarity: strings at small edit distance
    * share most char n-grams, so they agree on min-hashes with high
    * probability. DuckDB-replicable. */
  def charMinhash(s: Column, n: Int, seed: Int): Column =
    array_min(transform(charShingles(s, n),
      t => md5(concat(lit(s"$seed|"), t))))
}
