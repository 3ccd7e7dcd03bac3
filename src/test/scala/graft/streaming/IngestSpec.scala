package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming semantics of the daily aggregation (SURVEY §2.9 / test
  * strategy §5.4): in-order merge, ≤1h-late merge, >1h-late drop,
  * append-mode single emission — driven through MemoryStream. */
case class Raw(datetime: Timestamp, kw: String, region: String, value: Double)

class IngestSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Feed batches through dailyAggregate in append mode; return the rows
    * emitted to the memory sink after all batches. */
  private def runStream(batches: Seq[Seq[Raw]]): Array[(String, String, String, Double)] = {
    val input = MemoryStream[Raw](spark)
    val daily = Ingest.dailyAggregate(input.toDF(), watermark = "1 hour")
    val name = s"daily_sink_${System.nanoTime()}"
    val query = daily.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation",
        Files.createTempDirectory("ingest-ckpt").toString)
      .start()
    try {
      batches.foreach { b => input.addData(b); query.processAllAvailable() }
    } finally query.stop()
    spark.table(name)
      .select(date_format($"date", "yyyy-MM-dd"), $"region", $"kw", $"value")
      .as[(String, String, String, Double)].collect()
  }

  test("minutely records collapse into one daily row per (date, region, kw)") {
    val out = runStream(Seq(
      Seq(
        Raw(ts("2020-01-01 00:01:00"), "Cough", "US", 1.0),
        Raw(ts("2020-01-01 10:00:00"), "Cough", "US", 2.0),
        Raw(ts("2020-01-01 10:00:00"), "Fever", "US", 5.0)),
      // advance watermark past end of Jan 1 (+1h) so the day closes
      Seq(Raw(ts("2020-01-02 02:00:00"), "Cough", "US", 9.0))))
    assert(out.toSet.contains(("2020-01-01", "US", "Cough", 3.0)))
    assert(out.toSet.contains(("2020-01-01", "US", "Fever", 5.0)))
    // Jan 2 is still open (watermark at 01:00) — not emitted yet
    assert(!out.exists(_._1 == "2020-01-02"))
  }

  test("late-but-within-watermark record is merged into its day") {
    val out = runStream(Seq(
      Seq(Raw(ts("2020-01-01 23:00:00"), "Cough", "US", 1.0)),
      // 23:30 arrives after 23:50 was seen — still within the 1h watermark
      Seq(Raw(ts("2020-01-01 23:50:00"), "Cough", "US", 10.0),
          Raw(ts("2020-01-01 23:30:00"), "Cough", "US", 100.0)),
      Seq(Raw(ts("2020-01-02 02:00:00"), "Cough", "US", 9.0))))
    assert(out.toSet.contains(("2020-01-01", "US", "Cough", 111.0)))
  }

  test("record older than the watermark is dropped") {
    val out = runStream(Seq(
      Seq(Raw(ts("2020-01-02 05:00:00"), "Cough", "US", 1.0)), // watermark → 04:00
      Seq(Raw(ts("2020-01-01 12:00:00"), "Cough", "US", 777.0)), // > 1h late: dropped
      Seq(Raw(ts("2020-01-03 02:00:00"), "Cough", "US", 9.0))))
    val jan1 = out.filter(_._1 == "2020-01-01")
    assert(jan1.isEmpty) // the too-late record must not create/patch Jan 1
    assert(out.toSet.contains(("2020-01-02", "US", "Cough", 1.0)))
  }

  test("append mode emits each closed day exactly once") {
    val out = runStream(Seq(
      Seq(Raw(ts("2020-01-01 08:00:00"), "Cough", "US", 1.0)),
      Seq(Raw(ts("2020-01-02 02:00:00"), "Cough", "US", 2.0)),
      Seq(Raw(ts("2020-01-03 02:00:00"), "Cough", "US", 3.0))))
    assert(out.count(r => r._1 == "2020-01-01" && r._3 == "Cough") == 1)
  }

  test("terms are sanitized before grouping (spaces → underscores)") {
    val out = runStream(Seq(
      Seq(Raw(ts("2020-01-01 08:00:00"), "Sore throat", "US", 1.0)),
      Seq(Raw(ts("2020-01-02 02:00:00"), "Cough", "US", 2.0))))
    assert(out.exists(_._3 == "Sore_throat"))
  }

  test("landingSchema is the schema dailyAggregate emits, field by field") {
    val daily = Ingest.dailyAggregate(MemoryStream[Raw](spark).toDF())
    assert(daily.schema.map(f => f.name -> f.dataType) ==
      Ingest.landingSchema.map(f => f.name -> f.dataType))
  }

  test("parseJson unmarshals the producer contract in one pass") {
    val raw = Seq(
      """{"datetime":"2020-01-01T00:01:00","kw":"Cough","region":"US","value":12.0}""")
      .toDF("json")
    val parsed = Ingest.parseJson(raw).as[Raw].collect()
    assert(parsed.head == Raw(ts("2020-01-01 00:01:00"), "Cough", "US", 12.0))
  }
}
