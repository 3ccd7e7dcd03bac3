package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}
import graft.sources.Tables

/** The end-to-end batch curation EXPORT: every stage the corpus queries
  * check individually, composed into the one pipeline a training run
  * actually consumes —
  *
  *   gate (q130 Gopher rules) → strip duplicated spans (q150) →
  *   near-dup keep-best dedup (q31 pairs → components → argmax quality)
  *   → sequence packing (q76) → sharded layout + manifest.
  *
  * q154 is the pure PLAN of that pipeline (who survives, how they pack)
  * and is hash-checked end-to-end: its DuckDB oracle composes the same
  * per-stage oracle CTEs, so a drift in ANY stage's semantics fails the
  * gate.
  *
  * Stage-order semantics (deliberate, spec-pinned): the gate runs FIRST,
  * so rejected junk neither claims canonical spans nor votes in dedup;
  * span-strip runs before dedup, so near-dup detection sees CLEANED
  * text; keep-best quality is scored on the cleaned text too.
  *
  * Scale shape: each stage keeps its own audited plan (narrow gate
  * filter; digest-only strip shuffles; banded LSH candidates — never
  * quadratic; per-component ranking — components are near-dup clusters,
  * so partitions are small by construction; per-source packing windows).
  * The composition adds ONE doc_id hash join between consecutive stages
  * and nothing else. `cleaned` is cached: three downstream consumers
  * (pair generation, quality, packing) would otherwise re-run the strip
  * chain; the cache is deliberately left for Spark's LRU to evict since
  * callers consume the returned frame lazily (q142 precedent).
  */
object Exporter {

  /** Gate + strip + re-attach dims: (doc_id, source, lang, text) where
    * text is the CLEANED text of gate-passing docs that still hold
    * [[Curation.QrMinWords]] tokens after span removal. */
  private def cleanedOn(docs: DataFrame): DataFrame = {
    val gated = docs.join(
      Curation.q130QualityRulesOn(docs).where(col("pass_all")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    Curation.q150SpanStripOn(gated)
      .where(col("n_kept") >= Curation.QrMinWords)
      .select(col("doc_id"), col("clean_text"))
      .join(docs.select("doc_id", "source", "lang"), "doc_id")
      .select(col("doc_id"), col("source"), col("lang"),
        col("clean_text").as("text"))
      .cache()
  }

  /** Keep-best survivor rows of `cleaned` (argmax cleaned-text quality
    * per near-dup component, min doc_id ties). */
  private def survivorsOf(cleaned: DataFrame): DataFrame = {
    val pairs = PipelineQueries.q31NgramJaccardOn(cleaned)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val comp = graft.operators.ConnectedComponents
      .components(pairs, Some(cleaned.select("doc_id")))
    val w = Window.partitionBy("component")
      .orderBy(col("quality").desc, col("doc_id"))
    val keep = comp.select(col("id").as("doc_id"), col("component"))
      .join(cleaned.select(col("doc_id"),
        round(T.qualityScore(col("text")), 6).as("quality")), Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("doc_id")
    cleaned.join(keep, Seq("doc_id"), "left_semi")
  }

  /** q76's packing assignment over survivor rows. */
  private def packed(survivors: DataFrame): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    survivors
      .select(col("doc_id"), col("source"), col("lang"),
        size(split(col("text"), " ")).as("n_tokens"))
      .withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
        floor(col("start_tok") / ScalePipeline.PackBudget).as("seq_id"),
        pmod(col("start_tok"), lit(ScalePipeline.PackBudget)).as("seq_offset"))
  }

  /** q154 — the export plan: survivors of gate→strip→keep-best with
    * their packed (seq_id, seq_offset) assignment. */
  def q154ExportPlanOn(docs: DataFrame): DataFrame =
    packed(survivorsOf(cleanedOn(docs)))

  def q154ExportPlan(s: SparkSession, dir: String): DataFrame =
    q154ExportPlanOn(Tables.documents(s, dir))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q154_export_plan" -> (q154ExportPlan _))

  /** The q154 oracle: the per-stage oracle CTEs (q130 gate conditions,
    * q150 strip chain, q31 pairs + reachability closure, q24 quality,
    * q76 packing) composed over each other instead of over `documents`.
    * Assembled by plain concatenation — an outer stripMargin would
    * corrupt embedded `||` lines (see the q70 oracle note). */
  private lazy val exportOracleSql: String = {
    val stopList = T.EnglishStopwords.map(w => s"'$w'").mkString(", ")
    "WITH RECURSIVE gated AS (\n" +
    s""" SELECT doc_id, source, lang, text FROM (
      |  SELECT doc_id, source, lang, text,
      |   CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
      |   round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |     / len(string_split(text, ' ')), 6) AS mean_word_len,
      |   round(CAST(len(list_filter(string_split(text, ' '),
      |       w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
      |     / len(string_split(text, ' ')), 6) AS alpha_ratio,
      |   CAST(len(list_filter(list_distinct(string_split(text, ' ')),
      |       w -> w IN ($stopList))) AS INTEGER) AS stop_hits
      |  FROM documents)
      | WHERE n_words >= ${Curation.QrMinWords} AND n_words <= ${Curation.QrMaxWords}
      |  AND mean_word_len >= ${Curation.QrMinMeanLen}
      |  AND mean_word_len <= ${Curation.QrMaxMeanLen}
      |  AND alpha_ratio >= ${Curation.QrMinAlphaRatio}
      |  AND stop_hits >= ${Curation.QrMinStopHits}),""".stripMargin + "\n" +
    Curation.spanStripCtes("gated") + ",\n" +
    s"""cleaned AS (
      | SELECT s.doc_id, g.source, g.lang, s.clean_text AS text
      | FROM stripped s JOIN gated g USING (doc_id)
      | WHERE s.n_kept >= ${Curation.QrMinWords}),""".stripMargin + "\n" +
    PipelineQueries.ccClosureCtes("cleaned",
      PipelineQueries.q31PairsSqlOn("cleaned")) + ",\n" +
    s"""qual AS (
      | SELECT doc_id,
      |  round(least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 200.0)
      |   * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |      / len(string_split(text, ' '))), 6) AS quality
      | FROM cleaned),
      |ranked AS (
      | SELECT c.component, c.id AS doc_id,
      |  row_number() OVER (
      |    PARTITION BY c.component ORDER BY q.quality DESC, c.id) AS rn
      | FROM comp c JOIN qual q ON c.id = q.doc_id),
      |surv AS (
      | SELECT cl.doc_id, cl.source, cl.lang,
      |  CAST(len(string_split(cl.text, ' ')) AS INTEGER) AS n_tokens
      | FROM cleaned cl JOIN ranked r2 ON cl.doc_id = r2.doc_id AND r2.rn = 1),
      |packedc AS (
      | SELECT doc_id, source, lang, n_tokens,
      |  sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_tok
      | FROM surv)
      |SELECT doc_id, source, lang, n_tokens,
      | CAST(floor(start_tok / ${ScalePipeline.PackBudget}) AS BIGINT) AS seq_id,
      | CAST(start_tok % ${ScalePipeline.PackBudget} AS BIGINT) AS seq_offset
      |FROM packedc""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q154_export_plan" -> exportOracleSql)
}
