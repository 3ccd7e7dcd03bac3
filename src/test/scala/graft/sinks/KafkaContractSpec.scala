package graft.sinks

import graft.streaming.Ingest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The Kafka wire contract, broker-free (no Kafka connector jars exist
  * offline — see the coverage note on [[Ingest.fromKafka]]). What IS
  * assertable without a broker is the serialization contract the
  * reference relies on (`spark_main.py:90-98`): the producer folds every
  * column into one JSON `value`, and the consumer's single `from_json`
  * with the stream schema recovers the record. This spec round-trips
  * that wire frame through [[Ingest.parseJson]] and asserts identity.
  */
class KafkaContractSpec extends graft.SparkTestBase {
  import spark.implicits._

  /** The reference producer's wire frame: every column in one JSON
    * `value`. */
  private def kafkaJsonValue(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))

  test("kafkaJson value round-trips through the consumer's from_json") {
    val rows = Seq(
      ("2020-03-01 10:30:00", "fever cough", "EU", 3.5),
      ("2020-03-02 23:59:59", "covid_19", "US", 0.0),
      ("2020-12-31 00:00:00", "influenza b", "AP", -1.25))
    val records = rows.toDF("dt", "kw", "region", "value")
      .select(to_timestamp($"dt").as("datetime"),
        $"kw", $"region", $"value")

    val wire = kafkaJsonValue(records)
    // the wire frame has EXACTLY the kafka-writer shape: one string value
    assert(wire.columns.toSeq == Seq("value"))
    assert(wire.schema("value").dataType ==
      org.apache.spark.sql.types.StringType)

    val back = Ingest.parseJson(wire.withColumnRenamed("value", "json"))
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Ingest.eventSchema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"consumer schema drifted: ${back.schema}")
    val got = back
      .select(date_format($"datetime", "yyyy-MM-dd HH:mm:ss"),
        $"kw", $"region", $"value")
      .as[(String, String, String, Double)].collect().toSet
    assert(got == rows.toSet, s"round-trip diverged: $got")
  }

  test("null fields survive the wire (consumer must not drop the record)") {
    val records = Seq((Option.empty[String], "EU", 1.0))
      .toDF("kw", "region", "value")
      .withColumn("datetime", to_timestamp(lit("2020-01-01 00:00:00")))
      .select("datetime", "kw", "region", "value")
    val back = Ingest.parseJson(
      kafkaJsonValue(records).withColumnRenamed("value", "json"))
    val r = back.collect()
    assert(r.length == 1 && r.head.isNullAt(1) && r.head.getString(2) == "EU")
  }
}
