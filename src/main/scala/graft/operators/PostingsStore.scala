package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted positional inverted index — the at-rest layout behind the
  * q143 phrase query: postings (doc, position) land partitioned by
  * token PREFIX, so a phrase probe reads only its terms' prefix
  * directories (PartitionFilters — spec-asserted on files actually
  * touched) instead of scanning the corpus-wide postings table. The
  * in-partition sort (tok, doc, pos) keeps each term's rows co-located
  * for row-group pruning on top of the directory pruning.
  *
  * The layout is [[Dedup.writeLaneIndex]]'s pattern applied to IR:
  * write once, probe forever, per-probe cost ∝ the probed terms'
  * postings — never the index size.
  */
object PostingsStore {

  /** (doc_id, pos, tok, __pfx) postings rows — positions 1-based, empty
    * tokens dropped; a pure narrow projection shared by the batch
    * query and the store writer. */
  private[graft] def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "tok")
      .where(length(col("tok")) > 0)
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("tok"),
        substring(col("tok"), 1, 1).as("__pfx"))

  /** Adjacent-pair phrase semantics over a postings frame: docs where
    * `first` is immediately followed by `second`, with match count and
    * the first (1-based) match position. */
  private[graft] def phraseOn(postings: DataFrame, first: String,
      second: String): DataFrame = {
    val a = postings.where(col("__pfx") === first.substring(0, 1) &&
        col("tok") === first)
      .select(col("doc_id"), col("pos"))
    val b = postings.where(col("__pfx") === second.substring(0, 1) &&
        col("tok") === second)
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    a.join(b, Seq("doc_id", "pos"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"),
        min(col("pos")).cast("long").as("first_pos"))
  }

  /** Materialize the index: one directory per token prefix, postings
    * sorted (tok, doc, pos) within. The ONE shuffle is the prefix
    * co-location before the partitioned write. */
  def write(docs: DataFrame, path: String): Unit =
    postings(docs)
      .repartition(col("__pfx"))
      .sortWithinPartitions("__pfx", "tok", "doc_id", "pos")
      .write.partitionBy("__pfx").mode("overwrite").parquet(path)

  /** Phrase probe against a written store — only the two terms' prefix
    * partitions are read. */
  def phrase(spark: SparkSession, path: String, first: String,
      second: String): DataFrame =
    phraseOn(spark.read.parquet(path), first, second)
}
