package graft.app

import graft.outbreak.{AnomalyScorer, IncrementalOutbreak}
import graft.streaming.Ingest
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Application wiring — the reference's `main()` (EP1 + EP2) with
  * externalized configuration (the reference hard-codes topics, JDBC URLs
  * and credentials in source; SURVEY §7 module 8 forbids replicating that).
  *
  * Sources: `--kafka host:port --topic t` in production, or
  * `--json-dir <dir>` (a file-stream of JSON-lines event files — same
  * producer contract, fully drivable offline). `--once` uses the
  * AvailableNow trigger: process everything pending, then exit — the
  * batch-replay / backfill mode. Note append-mode semantics: the most
  * recent day(s) still inside the watermark are NOT final and therefore
  * not landed by a `--once` run; they emit on the next run once newer
  * events advance the watermark past their window end. A deployment's
  * conf overrides [[graft.Session]]'s settings; the Spark UI stays on.
  *
  * Flow: stream → single parse → watermarked daily aggregation → ONE
  * foreachBatch that (a) appends closed daily rows to the parquet landing
  * zone partitioned by date, and (b) scores the NEW rows incrementally
  * against persisted model + detrend state
  * ([[graft.outbreak.IncrementalOutbreak]]: the fit's driver front and
  * scorer, continued from the state), writing `(date, region, score)`
  * anomalies partitioned by date. A full re-fit over all history runs on
  * the first scored batch, whenever the state is missing/unreadable, on
  * the first scored batch whose id has passed a multiple of
  * `--refit-every` (default 30) since the model's last batch, and on a
  * batch the driver front declines (over the fit's driver caps, or a null
  * date). In append mode only some batch ids carry closed days, so a test
  * of `batchId % refitEvery == 0` alone could miss every multiple. The
  * reference (and round 1) re-ran the full pipeline on EVERY batch,
  * linear in history.
  */
object Main {

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    val landing = arg(args, "--landing").getOrElse("/tmp/graft/landing")
    val scoresOut = arg(args, "--scores").getOrElse("/tmp/graft/scores")
    val checkpoint = arg(args, "--checkpoint").getOrElse("/tmp/graft/ckpt")
    val watermark = arg(args, "--watermark").getOrElse("1 hour")
    val vocab = arg(args, "--terms")
      .map(_.split(",").toSeq).getOrElse(DefaultTerms)
    val once = args.contains("--once")
    val preexistingSession =
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).isDefined

    val spark = graft.Session("local[*]", master = arg(args, "--master"), ui = true)(
      "spark.app.name" -> "graft-outbreak",
      // RocksDB-backed streaming state: keeps watermark/dedup state off the
      // executor heap — the difference between OOM and steady-state when
      // the key space (terms × regions × open windows) grows at scale.
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    val parsed = (arg(args, "--kafka"), arg(args, "--json-dir")) match {
      case (Some(servers), _) =>
        Ingest.fromKafka(spark, servers,
          arg(args, "--topic").getOrElse("symptoms"))
      case (None, Some(dir)) =>
        spark.readStream.schema(Ingest.eventSchema).json(dir)
      case _ =>
        sys.error("need --kafka host:port or --json-dir <dir>")
    }

    val refitEvery = arg(args, "--refit-every").map(_.toInt).getOrElse(30)
    val stateDir = arg(args, "--state").getOrElse(s"$checkpoint/graft-state")
    val zThreshold = arg(args, "--threshold").map(_.toDouble).getOrElse(2.0)

    def writeAnomalies(scores: DataFrame, overwriteAll: Boolean): Unit =
      AnomalyScorer.outliers(scores, zThreshold)
        // dynamic: an incremental batch rewrites only its own date
        // partitions (also what makes at-least-once re-delivery
        // idempotent); static: a full refit truncates stale partitions
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", if (overwriteAll) "static" else "dynamic")
        .partitionBy("date").parquet(scoresOut)

    // foreachBatch is at-least-once: a crash between the write and the
    // epoch commit re-delivers the batch. In append mode every row of a
    // given date closes in the SAME batch (all 1-day windows share the
    // watermark crossing), so dynamic partition overwrite by date makes
    // the retry idempotent: the re-run rewrites the same date partitions.
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val daily = Ingest.dailyAggregate(parsed, watermark)
    val query = Ingest.start(daily, checkpoint,
      persist = batch => batch.write.mode(SaveMode.Overwrite)
        .partitionBy("date").parquet(landing),
      analyze = (batch, batchId) => if (!batch.isEmpty) {
        IncrementalOutbreak.loadState(spark, stateDir) match {
          case Some((model, _)) if model.lastBatchId >= batchId =>
            // re-delivered batch: the state commit (saveState) happens
            // strictly AFTER the score write, so a state that already
            // records this batchId proves its scores landed — no-op
            ()
          case state =>
            val increment = for {
              (model, detrendState) <- state
              if batchId / refitEvery <= model.lastBatchId / refitEvery
              (scores, newState) <- IncrementalOutbreak.tryScoreIncrement(spark,
                batch.select("date", "region", "kw", "value"), model, detrendState)
            } yield (scores, model.copy(lastBatchId = batchId), newState)
            // no usable state, a refit boundary was crossed, or the driver
            // front declined the batch: refit over all history
            val (scores, model, detrendState) = increment.getOrElse {
              val history = spark.read.schema(Ingest.landingSchema).parquet(landing)
                .select("date", "region", "kw", "value")
              IncrementalOutbreak.fitFull(spark, history, vocab, batchId = batchId)
            }
            writeAnomalies(scores, overwriteAll = increment.isEmpty)
            IncrementalOutbreak.saveState(spark, stateDir, model, detrendState)
        }
      },
      trigger = if (once) Trigger.AvailableNow() else Trigger.ProcessingTime(0L))
    query.awaitTermination()
    // only stop a session this app created (embedded callers keep theirs)
    if (once && !preexistingSession) spark.stop()
  }

  /** The reference's 20 symptom terms (procucer/master/symptoms.json). */
  val DefaultTerms: Seq[String] = Seq(
    "Influenza", "Common cold", "Pneumonia", "Virus", "Cough", "Headache",
    "Fever", "Abdominal pain", "Diarrhea", "Vomiting", "Nausea", "Dizziness",
    "Mucus", "Phlegm", "Sore throat", "Sneeze", "Shortness of breath",
    "Pharyngitis", "Skin rash", "Itch")
}
