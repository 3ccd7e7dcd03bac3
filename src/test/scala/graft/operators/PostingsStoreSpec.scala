package graft.operators

import java.nio.file.Files

import graft.queries.Analytics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q143's postings and phrase match over a postings table written
  * partitioned by token prefix: the probe equals the batch query and
  * reads only its two terms' prefix directories. */
class PostingsStoreSpec extends graft.SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** One directory per token prefix, postings sorted (tok, doc, pos). */
  private def writeIndex(docs: DataFrame, path: String): Unit =
    PostingsStore.postings(docs)
      .repartition(col("__pfx"))
      .sortWithinPartitions("__pfx", "tok", "doc_id", "pos")
      .write.partitionBy("__pfx").mode("overwrite").parquet(path)

  private def phrase(path: String, first: String, second: String): DataFrame =
    PostingsStore.phraseOn(spark.read.parquet(path), first, second)

  test("store probe equals the batch q143 phrase query") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val store = Files.createTempDirectory("postings").toString
    writeIndex(docs, store)
    val probed = phrase(store, Analytics.PhraseFirst, Analytics.PhraseSecond)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val batch = Analytics.q143PhraseSearchOn(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(probed == batch)
    assert(probed.nonEmpty, "phrase must occur in the fixture")
  }

  test("probe partition-prunes to the two terms' prefix directories") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val store = Files.createTempDirectory("postings_prune").toString
    writeIndex(docs, store)
    val probe = phrase(store, "big", "data")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__pfx"),
      s"probe plan misses partition filters:\n$plan")
    // the files actually read sit ONLY under __pfx=b and __pfx=d
    val touched = spark.read.parquet(store)
      .where(col("__pfx").isin("b", "d") && col("tok").isin("big", "data"))
      .select(input_file_name()).distinct().as[String].collect()
    assert(touched.nonEmpty &&
      touched.forall(f => f.contains("__pfx=b") || f.contains("__pfx=d")),
      s"probe touched foreign partitions: ${touched.filterNot(f =>
        f.contains("__pfx=b") || f.contains("__pfx=d")).toSeq}")
  }
}
