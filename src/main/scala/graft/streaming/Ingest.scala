package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming ingest — the reference's EP1 re-expressed as ONE Structured
  * Streaming query (cf. `/root/reference/spark_scala_impl/src/main/scala/
  * Main.scala:26-96`, re-derived):
  *
  *   Kafka/JSON → parse once → watermark(1h) → tumbling 1-day sum per
  *   (date, region, kw) → single foreachBatch (persist, then analyze).
  *
  * Deliberate departures from the reference, for scale + correctness:
  *  - ONE streaming query with one foreachBatch doing persist-then-analyze;
  *    the reference runs two independent queries off the same topic, which
  *    double-reads Kafka and lets the sinks diverge (SURVEY §2.2 K1).
  *  - `from_json` is applied ONCE and star-expanded; the reference's Python
  *    variant parses the payload 5× (SURVEY P2).
  *  - checkpointLocation is mandatory; the reference sets none and loses
  *    state on restart (SURVEY §2.9).
  */
object Ingest {

  /** Stream record contract (SURVEY §1.1; reference Main.scala:38-43). */
  val eventSchema: StructType = StructType(Array(
    StructField("datetime", TimestampType),
    StructField("kw", StringType),
    StructField("region", StringType),
    StructField("value", DoubleType)))

  /** Kafka streaming scan (SURVEY S1): earliest offsets, rate-limited.
    *
    * Coverage boundary, verified 2026-08-12: no Kafka connector/client
    * jars exist in this offline environment (neither `/opt/spark/jars`
    * nor the coursier cache), so an embedded-broker round-trip test is
    * not buildable here. This method is thin declarative config over
    * Spark's `kafka` source; everything downstream of it (parse →
    * watermark → window → sink) is exercised via MemoryStream in
    * IngestSpec, which shares the exact same DataFrame lineage. */
  def fromKafka(spark: SparkSession, bootstrapServers: String, topic: String,
      maxOffsetsPerTrigger: Long = 1000L): DataFrame =
    parseJson(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger.toString)
        .load()
        .selectExpr("CAST(value AS STRING) AS json"))

  /** Single-parse JSON unmarshal + star expansion (SURVEY P1/P2). */
  def parseJson(raw: DataFrame, jsonCol: String = "json"): DataFrame =
    raw.select(from_json(col(jsonCol), eventSchema).as("r")).select("r.*")

  /** The rows [[dailyAggregate]] emits, as the app lands them: the read
    * schema of the landing zone, `date` its partition column. */
  val landingSchema: StructType = StructType(Array(
    StructField("date", DateType),
    StructField("region", StringType),
    StructField("kw", StringType),
    StructField("value", DoubleType)))

  /** Event-time daily aggregation with late-data handling (SURVEY A1):
    * terms sanitized, 1-hour watermark, tumbling 1-day window, sum.
    * Append mode ⇒ each (date, region, kw) row is emitted exactly once,
    * after the watermark passes the end of its day. */
  def dailyAggregate(parsed: DataFrame, watermark: String = "1 hour"): DataFrame =
    parsed
      .withColumn("kw", regexp_replace(col("kw"), " ", "_"))
      .withWatermark("datetime", watermark)
      .groupBy(
        window(col("datetime"), "1 day"),
        to_date(col("datetime")).as("date"),
        col("region"), col("kw"))
      .agg(sum("value").as("value"))
      .drop("window")

  /** Sliding-window variant (SURVEY A1b — the reference's Python path uses
    * a 60-day window sliding daily; each record lands in window/slide
    * windows). Tumbling daily (above) is canonical; this is the config
    * knob. Emits (window_start, window_end, region, kw, value). */
  def slidingAggregate(parsed: DataFrame, windowLen: String = "60 days",
      slide: String = "1 day", watermark: String = "1 hour"): DataFrame =
    parsed
      .withColumn("kw", regexp_replace(col("kw"), " ", "_"))
      .withWatermark("datetime", watermark)
      .groupBy(window(col("datetime"), windowLen, slide),
        col("region"), col("kw"))
      .agg(sum("value").as("value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("region"), col("kw"), col("value"))

  /** Start the single sink: persist the closed daily rows, then run the
    * batch analysis — both inside one foreachBatch so Kafka is read once
    * and both consumers see the same cached batch. foreachBatch delivery
    * is AT-LEAST-ONCE: `persist` must be idempotent per batch (e.g.
    * dynamic partition overwrite keyed by date — see graft.app.Main) or a
    * crash between write and epoch commit duplicates rows on restart. */
  def start(daily: DataFrame, checkpointDir: String,
      persist: DataFrame => Unit,
      analyze: (DataFrame, Long) => Unit = (_, _) => (),
      trigger: Trigger = Trigger.ProcessingTime(0L))
      : StreamingQuery =
    daily.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cached = batch.cache()
        try {
          persist(cached)
          analyze(cached, batchId)
        } finally cached.unpersist()
        ()
      }
      .start()

  /** Session-window aggregation: activity bursts per (region, kw) where
    * events within `gap` of each other merge into one session (beyond the
    * reference's tumbling/sliding windows — completes the window-kind
    * surface; SURVEY §2.9 notes "no session windows" in the reference). */
  def sessionAggregate(parsed: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    parsed
      .withWatermark("datetime", watermark)
      .groupBy(session_window(col("datetime"), gap), col("region"), col("kw"))
      .agg(sum("value").as("value"), count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("region"), col("kw"), col("value"), col("n_events"))

  /** Watermarked stream-stream inner join on a key plus an event-time
    * interval: right-side events within `[left.ts - lag, left.ts]` match.
    * Both sides carry watermarks so the join state is bounded — unbounded
    * stream-stream joins are the classic state-explosion trap (SURVEY
    * §2.9: absent from the reference; table stakes for the engine).
    *
    * Column contract: `left` has (ts, key, ...), `right` has
    * (r_ts, key, ...). */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      lag: String = "1 hour", watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
    val r = right.withWatermark("r_ts", watermark)
    l.join(r, l(key) === r(key) &&
      col("r_ts") >= col("ts") - expr(s"INTERVAL $lag") &&
      col("r_ts") <= col("ts"))
      .drop(r(key))
  }

  /** Stream-static enrichment join: decorate each streamed record with
    * dimension attributes. The static side is explicitly broadcast — on a
    * cluster the dim ships once per executor and the stream NEVER
    * shuffles, which is the only join shape that keeps per-micro-batch
    * latency flat as stream volume grows. Left join ⇒ unmatched stream
    * rows pass through with nulls (never silently dropped); the static
    * plan is re-resolved every micro-batch, so a dim refreshed in place
    * is picked up without restarting the query. */
  def enrich(parsed: DataFrame, dim: DataFrame, key: String): DataFrame =
    parsed.join(broadcast(dim), Seq(key), "left")

  /** Streaming exact-deduplication: drop re-deliveries of the same key(s)
    * with state bounded by the watermark — the streaming form of the
    * LLM-pipeline exact-dedup operator. At scale the state store holds only
    * keys younger than the watermark (RocksDB provider recommended via
    * `spark.sql.streaming.stateStore.providerClass`). */
  def streamingDedup(df: DataFrame, eventTimeCol: String, watermark: String,
      keys: Seq[String]): DataFrame =
    df.withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Durable columnar landing (SURVEY K5 — the commented-out parquet sink
    * the reference never enabled, made the default). */
  def startParquetSink(daily: DataFrame, path: String, checkpointDir: String)
      : StreamingQuery =
    daily.writeStream
      .format("parquet")
      .outputMode(OutputMode.Append)
      .option("path", path)
      .option("checkpointLocation", checkpointDir)
      .start()
}
