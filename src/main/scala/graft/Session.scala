package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session builder of every entry point. Each setting is a
  * default, applied only where the deployment has not set the key:
  * `spark-submit`, `--conf`, `spark-defaults.conf` and `-D` all reach the
  * driver as `new SparkConf()`, and a running session's (an embedding
  * caller's, a spec's) set keys are its `conf.getAll` (`getOption` would
  * answer Spark's default for an unset SQL key).
  *
  * The master is `master` (a caller's flag), else `spark.master`, else
  * `localMaster`. Shuffle partitions are the started context's
  * `defaultParallelism`, a local master's cores: AQE is off for a stateful
  * stream, which keeps its first batch's count in its checkpoint. Then
  * UTC, the UI off unless `ui`, the entry's `defaults`, and the driver's
  * event-log filesystem from `spark.graft.eventlog.fs.impl`. */
object Session {

  def apply(localMaster: String, master: Option[String] = None, ui: Boolean = false)(
      defaults: (String, String)*): SparkSession = {
    val deployed: String => Boolean =
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .fold[String => Boolean](new SparkConf().contains)(_.conf.getAll.contains)
    val builder = SparkSession.builder()
    master.orElse(if (deployed("spark.master")) None else Some(localMaster))
      .foreach(builder.master)
    (Seq("spark.sql.session.timeZone" -> "UTC") ++
      (if (ui) Nil else Seq("spark.ui.enabled" -> "false")) ++ defaults)
      .filterNot { case (k, _) => deployed(k) }
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    if (!spark.conf.getAll.contains("spark.sql.shuffle.partitions"))
      spark.conf.set("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism.toLong)
    spark.sparkContext.setLogLevel("WARN")
    graft.sources.v2.EventLog.installFsFromConf(spark)
    spark
  }
}
