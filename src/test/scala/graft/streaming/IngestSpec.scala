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

/** Streaming dedup: duplicate keys within the watermark are dropped. */
class StreamingDedupSpec extends graft.SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import java.nio.file.Files
  import java.sql.Timestamp

  case class Doc(ts: Timestamp, doc_id: Long, text: String)

  test("re-delivered doc_ids are emitted exactly once") {
    val input = MemoryStream[Doc](spark)
    val out = Ingest.streamingDedup(input.toDF(), "ts", "10 minutes", Seq("doc_id"))
    val name = s"dedup_sink_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("dedup-ckpt").toString)
      .start()
    def t(s: String) = Timestamp.valueOf(s)
    try {
      input.addData(Seq(
        Doc(t("2020-01-01 00:00:00"), 1L, "a"),
        Doc(t("2020-01-01 00:00:30"), 1L, "a")))  // same-batch dup
      q.processAllAvailable()
      input.addData(Seq(
        Doc(t("2020-01-01 00:05:00"), 1L, "a"),   // cross-batch dup
        Doc(t("2020-01-01 00:05:00"), 2L, "b")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(name).select($"doc_id").as[Long].collect().sorted
    assert(rows.toSeq == Seq(1L, 2L))
  }
}

/** Session windows: events within the gap merge; a quiet period splits. */
class SessionWindowSpec extends graft.SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import java.nio.file.Files
  import java.sql.Timestamp

  test("burst within gap is one session; a gap splits sessions") {
    def t(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[Raw](spark)
    val out = Ingest.sessionAggregate(input.toDF(), gap = "30 minutes",
      watermark = "1 hour")
    val name = s"sess_sink_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("sess-ckpt").toString)
      .start()
    try {
      input.addData(Seq(
        Raw(t("2020-01-01 10:00:00"), "Cough", "US", 1.0),
        Raw(t("2020-01-01 10:10:00"), "Cough", "US", 2.0),  // same session
        Raw(t("2020-01-01 12:00:00"), "Cough", "US", 4.0))) // new session
      q.processAllAvailable()
      input.addData(Seq(Raw(t("2020-01-01 15:00:00"), "Cough", "US", 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(name)
      .select($"value", $"n_events").as[(Double, Long)].collect().toSet
    assert(rows.contains((3.0, 2L))) // merged burst
    assert(rows.contains((4.0, 1L))) // isolated event
  }
}

/** Sliding windows (SURVEY A1b): each record contributes to window/slide
  * overlapping windows. */
class SlidingWindowSpec extends graft.SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import java.nio.file.Files
  import java.sql.Timestamp

  test("a record lands in windowLen/slide overlapping windows") {
    def t(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[Raw](spark)
    val out = Ingest.slidingAggregate(input.toDF(), windowLen = "3 days",
      slide = "1 day", watermark = "1 hour")
    val name = s"slide_sink_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("slide-ckpt").toString)
      .start()
    try {
      input.addData(Seq(Raw(t("2020-01-05 12:00:00"), "Cough", "US", 2.0)))
      q.processAllAvailable()
      // push the watermark far past all three windows' ends
      input.addData(Seq(Raw(t("2020-01-20 12:00:00"), "Cough", "US", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(name)
      .select($"window_start".cast("string"), $"value")
      .as[(String, Double)].collect().filter(_._2 == 2.0)
    // 3-day window, 1-day slide: the Jan 5 record is in windows starting
    // Jan 3, Jan 4, Jan 5
    assert(rows.length == 3, rows.mkString(","))
    assert(rows.map(_._1.take(10)).sorted.toSeq ==
      Seq("2020-01-03", "2020-01-04", "2020-01-05"))
  }
}

/** Stream-stream interval join with bounded state on both watermarks. */
class IntervalJoinSpec extends graft.SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import java.nio.file.Files
  import java.sql.Timestamp

  case class L(ts: Timestamp, region: String, alert: String)
  case class R(r_ts: Timestamp, region: String, reading: Double)

  test("right events join only within the time interval behind the left event") {
    def t(s: String) = Timestamp.valueOf(s)
    val lin = MemoryStream[L](spark)
    val rin = MemoryStream[R](spark)
    val joined = Ingest.intervalJoin(lin.toDF(), rin.toDF(), "region", "1 hour")
    val name = s"ij_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ij").toString)
      .start()
    try {
      rin.addData(Seq(
        R(t("2020-01-01 09:30:00"), "US", 1.0),  // 30 min before: in window
        R(t("2020-01-01 07:00:00"), "US", 2.0),  // 3h before: outside
        R(t("2020-01-01 09:45:00"), "IL", 3.0))) // wrong key
      lin.addData(Seq(L(t("2020-01-01 10:00:00"), "US", "spike")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(name).select($"reading").as[Double].collect().toSeq
    assert(rows == Seq(1.0), rows.mkString(","))
  }
}

/** Stream-static enrichment: broadcast dim, left-join pass-through. */
class EnrichSpec extends graft.SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import java.nio.file.Files
  import java.sql.Timestamp

  case class Ev(datetime: Timestamp, region: String, value: Double)

  test("stream rows gain dim attributes; unmatched rows survive with nulls") {
    val dim = Seq(("US", "America"), ("IL", "Asia")).toDF("region", "continent")
    val in = MemoryStream[Ev](spark)
    val enriched = Ingest.enrich(in.toDF(), dim, "region")
    val name = s"enr_${System.nanoTime()}"
    val q = enriched.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("enr").toString)
      .start()
    try {
      in.addData(Seq(
        Ev(Timestamp.valueOf("2020-01-01 10:00:00"), "US", 1.0),
        Ev(Timestamp.valueOf("2020-01-01 11:00:00"), "XX", 2.0)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(name)
      .select($"region", $"continent", $"value")
      .as[(String, Option[String], Double)].collect().toMap2
    assert(rows("US") == (Some("America"), 1.0))
    assert(rows("XX") == (None, 2.0), "unmatched stream row must pass through")
  }

  private implicit class Arr(a: Array[(String, Option[String], Double)]) {
    def toMap2: Map[String, (Option[String], Double)] =
      a.map { case (k, c, v) => k -> (c, v) }.toMap
  }
}
