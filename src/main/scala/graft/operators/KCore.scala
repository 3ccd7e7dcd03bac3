package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Lineage.CutOps

/** Distributed k-core decomposition by synchronous peeling (the
  * MapReduce formulation of Matula & Beck 1983's linear-time peeling;
  * same round structure as Montresor et al., "Distributed k-Core
  * Decomposition", PODC 2011 — public algorithms, re-derived on
  * DataFrames).
  *
  * A k-core is the maximal subgraph where every node has degree ≥ k
  * WITHIN the subgraph — the standard "dense cluster" notion that
  * degree thresholds get wrong (a hub with k spoke-neighbors has high
  * degree but is in no 2-core). Each peeling round is one groupBy
  * (degrees) + one semi-join (drop edges touching peeled nodes) — both
  * shuffles keyed on node id, never an all-pairs step; lineage is cut
  * per round (`localCheckpoint`, the [[ConnectedComponents]] lesson).
  *
  * Round count is the peeling DEPTH of the graph (how many onion
  * layers below k), not its size — small for real near-dup graphs,
  * which are unions of dense cliques. Adversarial chains can force
  * O(n) rounds; `maxIter` backstops with the same loud-failure
  * contract as [[ConnectedComponents]].
  */
object KCore {

  private def degrees(df: DataFrame): DataFrame =
    df.select(col("src").as("id"))
      .unionByName(df.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))

  /** Edges per partition in the iteration's working set — the AQE
    * coalesce target applied by hand, because AQE only rebalances
    * shuffle reads and the per-round checkpoints pin whatever layout
    * the first materialization had: a 100k-edge graph inherited a
    * 32-way layout and every one of the ~18 round-stages scheduled 32
    * near-empty tasks. */
  private val EdgesPerPartition = 250000L

  /** Canonical undirected form: no self-loops, each edge once as
    * (min, max) — a reversed duplicate must not double a degree —
    * coalesced to size-proportional partitioning for the iteration.
    * `assumeCanonical` skips the dedup shuffle for producers whose
    * output is canonical by construction (e.g. LSH pair generators
    * emitting distinct `a_id < b_id` pairs) — one full shuffle of the
    * edge set saved, on the CALLER's honor: a violated promise inflates
    * degrees silently. */
  private def clean(edges: DataFrame, assumeCanonical: Boolean): DataFrame = {
    val canon =
      if (assumeCanonical) edges.select(col("src"), col("dst"))
      else edges.select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst"))
        .where(col("src") =!= col("dst")).distinct()
    val e = canon.cut()
    val parts = e.rdd.getNumPartitions
    val target = ((e.count() + EdgesPerPartition - 1) / EdgesPerPartition)
      .toInt.max(1).min(parts)
    if (target < parts) e.coalesce(target) else e
  }

  /** One peeling round: drop every edge touching a sub-k node. Only
    * the OUTPUT is checkpointed: `e` arriving materialized already
    * stops the 3^rounds plan re-expansion (each round reads its
    * predecessor three times), and the keep-set is just one cheap
    * aggregation over that materialized input — recomputing it for the
    * second semi-join is cheaper than an extra eager job per round. */
  private def step(e: DataFrame, k: Int): DataFrame = {
    val keep = degrees(e).where(col("deg") >= k).select("id")
      .cut()
    e.join(keep.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(keep.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .cut()
  }

  private def survivors(e: DataFrame, k: Int): DataFrame =
    degrees(e).where(col("deg") >= k)
      .select(col("id"), col("deg").as("core_degree"))

  /** Nodes of the k-core of `edges` (numeric `src`/`dst` columns),
    * with each survivor's degree inside the core. Empty result = the
    * graph has no k-core. */
  def kcore(edges: DataFrame, k: Int, maxIter: Int = 50,
      failOnMaxIter: Boolean = true, assumeCanonical: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    var e = clean(edges, assumeCanonical)
    // edge-set cardinality is monotonically nonincreasing under
    // peeling, so a stable count IS the fixpoint — no hash fingerprint
    // needed (unlike star contraction, which rewrites edges)
    var n = e.count()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = step(e, k)
      val nNext = next.count()
      converged = nNext == n
      e = next
      n = nNext
      iter += 1
    }
    if (!converged) {
      val msg = s"KCore(k=$k) did not converge within $maxIter rounds " +
        "— survivors may include sub-k nodes; raise maxIter (rounds = " +
        "peeling depth of the graph)"
      if (failOnMaxIter) throw new IllegalStateException(msg)
      else System.err.println(s"WARN $msg")
    }
    survivors(e, k)
  }

  /** Exactly `rounds` peeling rounds, no convergence check — the
    * oracle-checkable variant: an ANSI-SQL twin unrolls the identical
    * rounds, and because both engines run the same finite recurrence
    * the results match bit-for-bit whether or not the peel has reached
    * its fixpoint (extra rounds past the fixpoint are no-ops). Use
    * [[kcore]] when convergence must be certified instead. */
  def kcoreRounds(edges: DataFrame, k: Int, rounds: Int,
      assumeCanonical: Boolean = false): DataFrame = {
    require(k >= 1 && rounds >= 0, s"bad k=$k rounds=$rounds")
    var e = clean(edges, assumeCanonical)
    for (_ <- 0 until rounds) e = step(e, k)
    survivors(e, k)
  }
}
