package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** The `query_mix` client: one closed loop over a fixed subset of
  * `SparkEntry.queries`, each written to the `noop` sink, with the query
  * function's eager work (`build`) and the final write (`run`) timed
  * apart. On the first pass each timed write also observes its output's
  * row count and an order-insensitive fingerprint. A pass's time is the
  * sum of its queries' timed intervals.
  *
  * Usage: QueryMix <dataDir> <q1,q2,...> <seconds> <trace 0|1> <master>
  * Passes repeat until `seconds` have passed; there is at least one. With
  * an empty query list it only sets up (builds the session and loads the
  * query table), logs `ready` and exits: one more set-up sample.
  *
  * The session is configured as the engine's own `graft.Bench` builds
  * it. Output goes to the log named by `spark.perfbench.log`. */
object QueryMix {

  def main(args: Array[String]): Unit = {
    val Array(dir, order, secondsArg, traceArg, master) = args
    val names = order.split(",").toSeq.filter(_.nonEmpty)
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cpus = master.stripPrefix("local[").stripSuffix("]")
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    Probe.open(sc.getConf.get("spark.perfbench.log", ""))
    Probe.watchGc()
    val queries = SparkEntry.queries
    Probe.emit("ev" -> "ready", "t" -> Probe.now())
    if (names.isEmpty) {
      spark.stop()
      return
    }

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    val start = Probe.now()
    var pass = 0
    while (pass == 0 || Probe.now() - start < seconds) {
      var timed = 0.0
      names.foreach { name =>
        val t0 = Probe.now()
        val df =
          if (traced) Probe.span(sc, "queries.build", "query" -> name)(queries(name)(spark, dir))
          else queries(name)(spark, dir)
        val t1 = Probe.now()
        val observed = if (pass == 0) Some(Observation(name)) else None
        val out = observed.fold(df)(fingerprinted(df, _))
        if (traced) Probe.span(sc, "queries.run", "query" -> name)(noop(out)) else noop(out)
        val t2 = Probe.now()
        timed += t2 - t0
        Probe.emit("ev" -> "query", "name" -> name, "pass" -> pass,
          "build_s" -> (t1 - t0), "run_s" -> (t2 - t1))
        // the fingerprint was observed on the timed write; the rest of
        // the check runs outside the timed intervals
        observed.foreach(check(name, df, _))
        spark.catalog.clearCache()
      }
      Probe.emit("ev" -> "pass", "pass" -> pass, "s" -> timed)
      pass += 1
    }
    Probe.emit("ev" -> "timed_end", "t" -> Probe.now(), "old_gen_mb" -> Probe.peakOldGenMb(),
      "live_heap_mb" -> Probe.liveHeapMb())
    if (traced) {
      org.apache.spark.PerfbenchBus.drain(sc)
      Probe.emit(Seq("ev" -> "engine", "t" -> Probe.now()) ++ Engine.snapshot(): _*)
    }
    spark.stop()
  }

  private def check(name: String, df: DataFrame, observed: Observation): Unit = {
    val m = observed.get
    val fp = Option(m("fp")).map(v => new java.math.BigDecimal(v.toString).toPlainString)
    Probe.emit("ev" -> "fingerprint", "name" -> name, "rows" -> m("rows"),
      "fp" -> fp.getOrElse("0"))
    if (name == OutbreakQuery) {
      val flagged = df.where(abs(col("score")) > 2.0)
        .select(col("region"), col("date").cast("string")).collect()
        .map(r => s"${r.getString(0)}|${r.getString(1)}").sorted
      Probe.emit("ev" -> "anomalies", "name" -> name, "rows" -> flagged.mkString(","))
    }
  }

  /** The query whose scores the outbreak recall/precision are read from:
    * features, silhouette-selected KMeans, z-scored centroid distance. */
  val OutbreakQuery = "q41_outbreak_scores"

  /** `df`, observing on its write the row count (`rows`) and an
    * order-insensitive fingerprint (`fp`): the sum of a 64-bit hash of each
    * row's JSON, with floating-point values rounded to four decimals so
    * last-bit differences in summation order do not count. The output is
    * checked on the timed write itself, with no second execution. */
  def fingerprinted(df: DataFrame, observed: Observation): DataFrame = {
    def rounded(c: Column, dt: org.apache.spark.sql.types.DataType): Column = dt match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 4) + lit(0.0)
      case ArrayType(DoubleType | FloatType, _) =>
        transform(c, x => round(x.cast(DoubleType), 4) + lit(0.0))
      case _ => c
    }
    val cols = df.schema.fields.toSeq.map(f => rounded(col(s"`${f.name}`"), f.dataType).as(f.name))
    df.observe(observed, count(lit(1)).as("rows"),
      sum(xxhash64(to_json(struct(cols: _*))).cast("decimal(38,0)")).as("fp"))
  }
}
