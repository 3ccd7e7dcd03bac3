package perfbench

import java.nio.file.{Files, Paths}

import graft.app.Main
import graft.outbreak.IncrementalOutbreak
import graft.streaming.Ingest
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{abs, col}
import org.apache.spark.sql.streaming.Trigger

/** The traced run of the outbreak app. `graft.app.Main` wires its
  * micro-batch body as a private closure, so this program makes the same
  * public calls in `Main`'s order, with the same session settings and
  * defaults, and records a span around each call:
  *
  *   Ingest.dailyAggregate, Ingest.start → per batch: landing write,
  *   IncrementalOutbreak.loadState, then fitFull or scoreIncrement,
  *   score write, saveState.
  *
  * Every batch's decision (refit, increment, redelivery skip, or empty)
  * is logged as observed. The flags are `Main`'s, plus `--stop-file`: the
  * continuous query stops once that file exists. Keep this file in step
  * with `Main` when `Main` changes. */
object TracedApp {

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    val landing = arg(args, "--landing").getOrElse("/tmp/graft/landing")
    val scoresOut = arg(args, "--scores").getOrElse("/tmp/graft/scores")
    val checkpoint = arg(args, "--checkpoint").getOrElse("/tmp/graft/ckpt")
    val watermark = arg(args, "--watermark").getOrElse("1 hour")
    val vocab = arg(args, "--terms").map(_.split(",").toSeq).getOrElse(Main.DefaultTerms)
    val once = args.contains("--once")
    val master = arg(args, "--master").orElse(sys.env.get("SPARK_MASTER")).getOrElse("local[*]")
    val spark = SparkSession.builder()
      .appName("graft-outbreak")
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    Probe.open(sc.getConf.get("spark.perfbench.log", ""))

    val parsed = spark.readStream.schema(Ingest.eventSchema)
      .json(arg(args, "--json-dir").getOrElse(sys.error("need --json-dir <dir>")))
    val refitEvery = arg(args, "--refit-every").map(_.toInt).getOrElse(30)
    val stateDir = arg(args, "--state").getOrElse(s"$checkpoint/graft-state")
    val zThreshold = arg(args, "--threshold").map(_.toDouble).getOrElse(2.0)

    def writeAnomalies(scores: DataFrame, overwriteAll: Boolean): Unit =
      Probe.span(sc, "app.score_write") {
        scores.where(abs(col("score")) > zThreshold)
          .write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", if (overwriteAll) "static" else "dynamic")
          .partitionBy("date").parquet(scoresOut)
      }

    def decision(batchId: Long, what: String): Unit =
      Probe.emit("ev" -> "decision", "batch" -> batchId, "decision" -> what)

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val daily = Probe.span(sc, "streaming.daily_aggregate") {
      Ingest.dailyAggregate(parsed, watermark)
    }
    val query = Probe.span(sc, "streaming.start") {
      Ingest.start(daily, checkpoint,
        persist = batch => Probe.span(sc, "app.landing_write") {
          batch.write.mode(SaveMode.Overwrite).partitionBy("date").parquet(landing)
        },
        analyze = (batch, batchId) => if (batch.isEmpty) decision(batchId, "empty") else {
          val state =
            if (batchId % refitEvery == 0) None
            else Probe.span(sc, "outbreak.state_load") {
              IncrementalOutbreak.loadState(spark, stateDir)
            }
          state match {
            case Some((model, _)) if model.lastBatchId >= batchId =>
              decision(batchId, "skip")
            case Some((model, detrendState)) =>
              decision(batchId, "increment")
              val (scores, newState) = Probe.span(sc, "outbreak.increment") {
                IncrementalOutbreak.scoreIncrement(
                  spark, batch.select("date", "region", "kw", "value"),
                  model, detrendState)
              }
              writeAnomalies(scores, overwriteAll = false)
              Probe.span(sc, "outbreak.state_save") {
                IncrementalOutbreak.saveState(spark, stateDir,
                  model.copy(lastBatchId = batchId), newState)
              }
            case None =>
              decision(batchId, "refit")
              val history = spark.read.parquet(landing)
                .select("date", "region", "kw", "value")
              val (scores, model, detrendState) = Probe.span(sc, "outbreak.fit") {
                IncrementalOutbreak.fitFull(spark, history, vocab, batchId = batchId)
              }
              writeAnomalies(scores, overwriteAll = true)
              Probe.span(sc, "outbreak.state_save") {
                IncrementalOutbreak.saveState(spark, stateDir, model, detrendState)
              }
          }
        },
        trigger = if (once) Trigger.AvailableNow() else Trigger.ProcessingTime(0L))
    }
    arg(args, "--stop-file").filterNot(_ => once).foreach { stop =>
      val watcher = new Thread(() => {
        while (query.isActive && !Files.exists(Paths.get(stop))) Thread.sleep(20)
        query.stop()
      })
      watcher.setDaemon(true)
      watcher.start()
    }
    query.awaitTermination()
    org.apache.spark.PerfbenchBus.drain(sc)
    Probe.emit(Seq("ev" -> "engine", "t" -> Probe.now()) ++ Engine.snapshot(): _*)
    spark.stop()
  }
}
