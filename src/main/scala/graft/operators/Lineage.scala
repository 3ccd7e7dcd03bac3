package graft.operators

import org.apache.spark.sql.DataFrame

/** The engine's lineage-cut seam (guide §5).
  *
  * Iterative operators (PageRank, Borůvka MST, star-contraction CC,
  * k-core, HITS, LPA, ANF, BFS/SSSP, Bradley–Terry) must materialize
  * per round or the DataFrame plan re-expands exponentially. Locally
  * the right cut is `localCheckpoint(eager = true)` — no I/O, blocks
  * live in the block manager. At cluster scale localCheckpoint PINS
  * blocks to the executors that computed them: one lost executor
  * (routine under dynamic allocation) kills the query with no
  * recompute path. That trade must be a DEPLOYMENT decision, not a
  * per-call-site literal — so every cut in the engine goes through
  * this one helper, governed by runtime conf:
  *
  *   spark.graft.checkpoint.mode = local     (default: localCheckpoint(true))
  *   spark.graft.checkpoint.mode = reliable  (Dataset.checkpoint(true) into
  *       spark.graft.checkpoint.dir — set it to a fault-tolerant FS path;
  *       an already-configured SparkContext checkpoint dir also counts)
  *
  * The keys carry the `spark.` prefix because `spark-submit --conf` and
  * `spark-defaults.conf` drop any other key.
  *
  * Reliable mode never deletes what it writes: every round's checkpoint
  * files stay in the directory for the application's lifetime and after
  * it, because Spark's `spark.cleaner.referenceTracking.cleanCheckpoints`
  * defaults to false. A deployment that runs reliable mode sets it to
  * true (the context cleaner then deletes a round's files once the
  * driver garbage-collects that round's RDD) and still removes the
  * per-application directory itself after the run.
  *
  * Both modes materialize eagerly and preserve the input's
  * partitioning, so plan shape and results are identical — only the
  * failure-recovery story changes. CheckpointModeSpec runs the
  * iterative operators in both modes and compares outputs.
  */
object Lineage {

  val ModeKey = "spark.graft.checkpoint.mode"
  val DirKey = "spark.graft.checkpoint.dir"

  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(ModeKey).getOrElse("local") match {
      case "local" => df.localCheckpoint(true)
      case "reliable" =>
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty) {
          val dir = spark.conf.getOption(DirKey).getOrElse(
            throw new IllegalStateException(
              s"$ModeKey=reliable needs $DirKey " +
                "(or a pre-set SparkContext checkpoint dir)"))
          sc.setCheckpointDir(dir)
        }
        df.checkpoint(true)
      case other => throw new IllegalArgumentException(
        s"$ModeKey must be local|reliable, got '$other'")
    }
  }

  /** [[cut]] as postfix syntax, so call sites chain like the
    * `localCheckpoint` they replace: `df.groupBy(...).agg(...).cut()`. */
  implicit class CutOps(private val df: DataFrame) extends AnyVal {
    def cut(): DataFrame = Lineage.cut(df)
  }
}
