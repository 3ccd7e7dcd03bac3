package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Privacy / release-gate family: the checks and transforms that sit
  * between a curated corpus and anything that leaves the pipeline —
  * noised statistics releases, attribute-disclosure audits, and
  * split-distribution drift. Extends the q63 (PII redaction) / q172
  * (k-anonymity) line: q63 strips direct identifiers, q172 measures
  * quasi-identifier re-identification risk, q176 measures attribute
  * disclosure (a class can be k-anonymous yet reveal everyone's
  * sensitive value when the class is homogeneous), q175 releases
  * aggregate statistics under calibrated noise, and q177 audits that a
  * train/holdout split did not drift the corpus distribution.
  *
  * Family-wide discipline (the [[Analytics]] convention): every score
  * is computed in exact integer units (micro-nats / micro-log2 / ppm)
  * from logarithms snapped per DISTINCT integer input, so both engines
  * run the identical integer arithmetic and partial-aggregation merge
  * order can never drift a result.
  */
object Privacy {

  /** `round(ln(c)·10⁶)` as a long — micro-nat snap from the same
    * integer in both engines (shared convention with [[Analytics]]). */
  private def microLn(c: Column): Column =
    round(log(c.cast("double")) * 1e6, 0).cast("long")

  /** `round(log2(c)·10⁶)` as a long — the base-2 twin, used by the
    * geometric-noise inverse CDF. Deliberately `ln(x)/ln 2`, NOT the
    * engine's log2: both engines (and the spec's driver replica) then
    * run the same correctly-rounded-ln quotient, where native log2
    * implementations differ in ulps across libms. */
  private def microLog2(c: Column): Column =
    round(log(c.cast("double")) / log(lit(2.0d)) * 1e6, 0).cast("long")

  // ---------------------------------------------------------------- q175

  /** q175 — ε-differentially-private statistics release: per-(source,
    * lang) document counts under two-sided geometric (discrete
    * Laplace) noise — the corpus-card numbers a data steward can
    * publish about a private corpus. Mechanism (Ghosh–Roughgarden–
    * Sundararajan 2009): noise = G₁ − G₂ with Gᵢ iid Geometric(α=1/2)
    * ⇒ P(noise = k) ∝ 2^(−|k|), the ε = ln 2 discrete Laplace; counts
    * clamp at 0 post-noise.
    *
    * The geometric draws are SEEDED — inverse-CDF over a salted-md5
    * uniform on the group key: u = (m + isn't-needed)/10⁶ with
    * m = md5 mod 10⁶, and G = ⌊−log2(1 − u)⌋ computed as
    * `(L(10⁶) − L(10⁶ − m)) div 10⁶` with L = micro-log2 of an
    * INTEGER — both engines run identical integer arithmetic, so the
    * release is bit-reproducible (auditable, replay-stable across
    * retries) rather than a fresh draw per run. A production release
    * would drop the `n` column; it stays here because this artifact
    * IS the audit (the spec and oracle check released = max(0, n +
    * noise) and the noise marginals).
    *
    * Scale shape: one map-side-combining count per key + a narrow
    * noise projection — the noise needs only the key's md5, so the
    * release costs exactly what the histogram costs at any corpus
    * size. */
  def q175DpRelease(s: SparkSession, dir: String): DataFrame =
    q175DpReleaseOn(Tables.documents(s, dir))

  /** [[q175DpRelease]] over any documents-shaped frame. */
  def q175DpReleaseOn(docs: DataFrame): DataFrame = {
    def draw(salt: String): Column = {
      val m = pmod(conv(substring(md5(concat(lit(salt), col("source"),
        lit("|"), col("lang"))), 1, 8), 16, 10).cast("long"), lit(1000000))
      // G = floor(-log2(1-u)) with 1-u = (1e6 - m)/1e6: survival
      // P(G >= g) = 2^(-g) exactly on the 1e6-granular uniform. The
      // numerator is a nonnegative micro-log2 difference (< 2e7), so
      // floor() over double division is the exact integral divide.
      floor((microLog2(lit(1000000)) - microLog2(lit(1000000) - m))
        .cast("double") / 1000000.0d).cast("long")
    }
    docs.groupBy("source", "lang").agg(count(lit(1)).as("n"))
      .withColumn("noise", (draw("dpA:") - draw("dpB:")).cast("long"))
      .select(col("source"), col("lang"), col("n"), col("noise"),
        greatest(lit(0L), col("n") + col("noise")).as("released"))
  }

  // ---------------------------------------------------------------- q176

  /** Diversity floor for [[q176LDiversity]]'s at-risk flag. */
  val LDiv = 3

  /** q176 — l-diversity audit (Machanavajjhala et al. 2007): the
    * attribute-disclosure complement of q172's k-anonymity. Customers
    * group by the quasi-identifier pair (nation, balance-in-1000s);
    * within each class, l = the number of DISTINCT sensitive values
    * (market segment). A class can be large enough to pass k-anonymity
    * and still leak: if all 50 members share one segment, membership
    * alone discloses it — exactly the l = 1 rows this audit flags.
    * Output: classes-per-l histogram + row mass, at-risk when l < 3.
    *
    * Scale shape: two combinable aggregations (rows → QI classes with
    * a distinct-count, classes → histogram); shuffles key on the QI
    * tuple then on l. The distinct lands inside the first aggregation
    * (partial per partition) — no second pass over the rows. */
  def q176LDiversity(s: SparkSession, dir: String): DataFrame =
    q176LDiversityOn(Tables.customer(s, dir))

  /** [[q176LDiversity]] over any customer-shaped frame. */
  def q176LDiversityOn(customer: DataFrame): DataFrame = {
    // floor, not cast: double→long CAST truncates in Spark but ROUNDS
    // in DuckDB (the q172 lesson)
    val classes = customer.groupBy(
        col("c_nationkey").as("nat"),
        floor(col("c_acctbal") / 1000.0d).cast("long").as("bal_k"))
      .agg(countDistinct(col("c_mktsegment")).as("l"),
        count(lit(1)).as("class_size"))
    classes.groupBy("l")
      .agg(count(lit(1)).as("n_classes"),
        sum("class_size").as("n_rows"))
      .withColumn("at_risk", col("l") < LDiv)
  }

  // ---------------------------------------------------------------- q177

  /** Bin width (chars) and bin count for [[q177PsiSplitDrift]]. */
  val PsiBinChars = 500
  val PsiBins     = 10

  /** q177 — population stability index between the q98 train split and
    * its holdout (val + test) over document-length bins: the standard
    * drift gate (PSI < 0.1 stable / > 0.25 shifted) applied where it
    * bites a training pipeline — "is the holdout measuring the same
    * distribution the model trains on?". A hash split SHOULD pass; a
    * time- or source-ordered split fails loudly (spec-planted).
    *
    * PSI = Σᵢ (pᵢ − qᵢ)·ln(pᵢ/qᵢ) with add-one smoothing over the
    * fixed bin domain (so empty bins never hit ln 0). Exactness: with
    * smoothed counts c, d and totals Np = Σc, Nq = Σd,
    * pᵢ − qᵢ = (c·Nq − d·Np)/(Np·Nq) and ln(pᵢ/qᵢ) = ln c − ln Np −
    * ln d + ln Nq, so each term is one decimal(38,0)-widened integer
    * product (c·Nq overflows Long at corpus scale — the q144 lesson)
    * times a micro-nat difference, floor-divided by Np·Nq; terms are
    * mathematically ≥ 0 and clamp at 0 BEFORE the division so the ±1
    * snap jitter can't push an engine-dependent negative through
    * trunc-vs-floor division. Output: per-bin counts + term, plus the
    * summed psi_micro (repeated per row — the 10-row result IS the
    * report).
    *
    * Scale shape: split tag and bin are pure hash/arithmetic columns —
    * the corpus aggregates ONCE on (bin, split); everything after is
    * a 10-row frame joined to a broadcast totals row. */
  def q177PsiSplitDrift(s: SparkSession, dir: String): DataFrame =
    q177PsiSplitDriftOn(Tables.documents(s, dir))

  /** [[q177PsiSplitDrift]] over any documents-shaped frame (the spec
    * plants a shifted holdout). Expects doc_id + n_chars. */
  def q177PsiSplitDriftOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val pct = pmod(conv(substring(md5(concat(lit("split:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"), lit(100))
    val binned = docs
      .select(when(pct < 90, lit("train")).otherwise(lit("holdout")).as("side"),
        least(floor(col("n_chars") / PsiBinChars.toDouble).cast("long"),
          lit(PsiBins - 1L)).as("bin"))
      .groupBy("bin")
      .agg(sum(when(col("side") === "train", 1L).otherwise(0L)).as("ct_raw"),
        sum(when(col("side") === "holdout", 1L).otherwise(0L)).as("ch_raw"))
    // dense bin spine: smoothing must cover EMPTY bins too
    val spine = spark.range(PsiBins).select(col("id").as("bin"))
    val sm = spine.join(binned, Seq("bin"), "left")
      .select(col("bin"),
        (coalesce(col("ct_raw"), lit(0L)) + 1L).as("c"),
        (coalesce(col("ch_raw"), lit(0L)) + 1L).as("d"))
    // totals and the psi sum via unpartitioned windows over the 10-row
    // frame — constant domain (PsiBins), so the single-partition window
    // is not a scale hazard, and it keeps the corpus aggregation ONE
    // subtree (separate agg branches re-scanned the corpus 3x)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val num = expr(
      "greatest(cast(0 as decimal(38,0)), " +
        "(cast(c as decimal(38,0)) * nq - cast(d as decimal(38,0)) * np) * " +
        "(ln_c - ln_np - ln_d + ln_nq))")
    val term = expr("cast(num div (cast(np as decimal(38,0)) * nq) as bigint)")
    sm.withColumn("np", sum("c").over(wAll))
      .withColumn("nq", sum("d").over(wAll))
      .withColumn("ln_c", microLn(col("c")))
      .withColumn("ln_d", microLn(col("d")))
      .withColumn("ln_np", microLn(col("np")))
      .withColumn("ln_nq", microLn(col("nq")))
      .withColumn("num", num)
      .withColumn("term_micro", term)
      .withColumn("psi_micro", sum("term_micro").over(wAll))
      .select(col("bin"), (col("c") - 1L).as("n_train"),
        (col("d") - 1L).as("n_holdout"), col("term_micro"), col("psi_micro"))
  }

  // ---------------------------------------------------------------- q240

  /** Anonymity parameter for [[q240MondrianKAnon]]. */
  val MondrianK = 10

  /** q240 — Mondrian multidimensional k-anonymization (LeFevre et al.
    * 2006): recursively median-split the quasi-identifier space
    * (nation × balance cents) while both sides keep ≥ k rows; the
    * leaves are the generalized equivalence classes. The ENFORCEMENT
    * half of the privacy line — q172 measures re-identification risk,
    * q176 measures attribute disclosure, q240 produces the
    * generalization that caps the risk at k by construction (every
    * class row-count ≥ k whenever the table has ≥ k rows).
    *
    * Determinism: split dimension = the one with more distinct values
    * in the partition (tie → nation), cut = the smallest distinct-
    * value prefix holding ≥ half the row mass; both are pure
    * functions of the spine, so the class table is golden-hash-
    * pinnable. Classes get DFS-order ids.
    *
    * Scale shape: the corpus collapses to the QI value spine in ONE
    * map-side-combining groupBy (bounded by the QI alphabet, not row
    * count — the q234 discipline); the recursion walks spine CELLS on
    * the driver (P7 bounded fetch) and emits the ≤ n/k-row class
    * table. Mapping corpus rows to classes is a broadcast range join
    * against that table, left to the caller. */
  def q240MondrianKAnon(s: SparkSession, dir: String): DataFrame =
    mondrianOn(s, Tables.customer(s, dir).select(
      col("c_nationkey").cast("long").as("q1"),
      expr("cast(round(c_acctbal * 100) as bigint)").as("q2")), MondrianK)

  /** [[q240MondrianKAnon]] over any (`q1` long, `q2` long) frame. */
  def mondrianOn(s: SparkSession, rows: DataFrame, k: Int): DataFrame = {
    val spine = rows.groupBy("q1", "q2").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val out = Seq.newBuilder[(Long, Long, Long, Long, Long, Long)]
    var nextId = 0L
    def mass(cells: Array[(Long, Long, Long)]) = cells.map(_._3).sum
    // cut `cells` on dimension `dim` at the lower-median of row mass;
    // None when every distinct value is on one side
    def cut(cells: Array[(Long, Long, Long)], dim: Int)
        : Option[(Array[(Long, Long, Long)], Array[(Long, Long, Long)])] = {
      val key: ((Long, Long, Long)) => Long =
        if (dim == 0) _._1 else _._2
      val vals = cells.map(key).distinct.sorted
      if (vals.length < 2) return None
      val total = mass(cells)
      val byVal = cells.groupBy(key)
      var acc = 0L
      var cutIdx = -1
      var i = 0
      while (i < vals.length && cutIdx < 0) {
        acc += byVal(vals(i)).map(_._3).sum
        if (acc * 2 >= total) cutIdx = i
        i += 1
      }
      // keep at least one distinct value on the right
      val c = math.min(cutIdx, vals.length - 2)
      val left = vals.take(c + 1).toSet
      Some((cells.filter(x => left(key(x))),
        cells.filterNot(x => left(key(x)))))
    }
    def recurse(cells: Array[(Long, Long, Long)]): Unit = {
      val dims = // more distinct values first; tie -> q1
        if (cells.map(_._2).distinct.length > cells.map(_._1).distinct.length)
          Seq(1, 0)
        else Seq(0, 1)
      val split = dims.view.flatMap(cut(cells, _))
        .find { case (l, r) => mass(l) >= k && mass(r) >= k }
      split match {
        case Some((l, r)) => recurse(l); recurse(r)
        case None =>
          val id = nextId; nextId += 1
          out += ((id, cells.map(_._1).min, cells.map(_._1).max,
            cells.map(_._2).min, cells.map(_._2).max, mass(cells)))
      }
    }
    if (spine.nonEmpty) recurse(spine)
    import s.implicits._
    out.result()
      .toDF("class_id", "q1_lo", "q1_hi", "q2_lo", "q2_hi", "n_rows")
  }

  // ------------------------------------------------------------ registry

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q175_dp_release" -> (q175DpRelease _),
    "q176_l_diversity" -> (q176LDiversity _),
    "q177_psi_split_drift" -> (q177PsiSplitDrift _),
    "q240_mondrian_kanon" -> (q240MondrianKAnon _))

  val oracles: Map[String, String] = Map(
    "q175_dp_release" ->
      """WITH c AS (
        | SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        | FROM documents GROUP BY 1, 2),
        |g AS (
        | SELECT source, lang, n,
        |  ('0x' || substr(md5('dpA:' || source || '|' || lang), 1, 8))::BIGINT
        |    % 1000000 AS m1,
        |  ('0x' || substr(md5('dpB:' || source || '|' || lang), 1, 8))::BIGINT
        |    % 1000000 AS m2
        | FROM c),
        |d AS (
        | SELECT source, lang, n,
        |  (CAST(round(ln(1000000.0) / ln(2.0) * 1000000.0, 0) AS BIGINT) -
        |   CAST(round(ln(CAST(1000000 - m1 AS DOUBLE)) / ln(2.0) * 1000000.0, 0) AS BIGINT))
        |    // 1000000
        |  -
        |  (CAST(round(ln(1000000.0) / ln(2.0) * 1000000.0, 0) AS BIGINT) -
        |   CAST(round(ln(CAST(1000000 - m2 AS DOUBLE)) / ln(2.0) * 1000000.0, 0) AS BIGINT))
        |    // 1000000 AS noise
        | FROM g)
        |SELECT source, lang, n, CAST(noise AS BIGINT) AS noise,
        | CAST(greatest(0, n + noise) AS BIGINT) AS released
        |FROM d""".stripMargin,
    "q176_l_diversity" ->
      """WITH classes AS (
        | SELECT c_nationkey AS nat,
        |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_k,
        |  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l,
        |  CAST(count(*) AS BIGINT) AS class_size
        | FROM customer GROUP BY 1, 2)
        |SELECT l, CAST(count(*) AS BIGINT) AS n_classes,
        | CAST(sum(class_size) AS BIGINT) AS n_rows,
        | l < 3 AS at_risk
        |FROM classes GROUP BY l""".stripMargin,
    "q177_psi_split_drift" ->
      """WITH tagged AS (
        | SELECT CASE WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
        |   THEN 'train' ELSE 'holdout' END AS side,
        |  least(CAST(floor(n_chars / 500.0) AS BIGINT), 9) AS bin
        | FROM documents),
        |binned AS (
        | SELECT bin,
        |  CAST(sum(CASE WHEN side = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS ct_raw,
        |  CAST(sum(CASE WHEN side = 'holdout' THEN 1 ELSE 0 END) AS BIGINT) AS ch_raw
        | FROM tagged GROUP BY 1),
        |sm AS (
        | SELECT s.bin, COALESCE(b.ct_raw, 0) + 1 AS c, COALESCE(b.ch_raw, 0) + 1 AS d
        | FROM (SELECT CAST(range AS BIGINT) AS bin FROM range(10)) s
        | LEFT JOIN binned b ON s.bin = b.bin),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS np, CAST(sum(d) AS BIGINT) AS nq FROM sm),
        |terms AS (
        | SELECT sm.bin, sm.c, sm.d, tot.np, tot.nq,
        |  CAST(greatest(CAST(0 AS HUGEINT),
        |   (CAST(sm.c AS HUGEINT) * tot.nq - CAST(sm.d AS HUGEINT) * tot.np) *
        |   (CAST(round(ln(CAST(sm.c AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
        |    - CAST(round(ln(CAST(tot.np AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
        |    - CAST(round(ln(CAST(sm.d AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
        |    + CAST(round(ln(CAST(tot.nq AS DOUBLE)) * 1000000.0, 0) AS BIGINT)))
        |   // (CAST(tot.np AS HUGEINT) * tot.nq) AS BIGINT) AS term_micro
        | FROM sm CROSS JOIN tot),
        |total AS (SELECT CAST(sum(term_micro) AS BIGINT) AS psi_micro FROM terms)
        |SELECT bin, c - 1 AS n_train, d - 1 AS n_holdout, term_micro, psi_micro
        |FROM terms CROSS JOIN total""".stripMargin)
}
