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
  * `spark-defaults.conf` drop any other key. The unprefixed names
  * `graft.checkpoint.{mode,dir}`, which a session can still set at
  * runtime, are read where the prefixed ones are unset.
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
    def conf(key: String) =
      spark.conf.getOption(key).orElse(spark.conf.getOption(key.stripPrefix("spark.")))
    conf(ModeKey).getOrElse("local") match {
      case "local" => df.localCheckpoint(true)
      case "reliable" =>
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty) {
          val dir = conf(DirKey).getOrElse(
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
