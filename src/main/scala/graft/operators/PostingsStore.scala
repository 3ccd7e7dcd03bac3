package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Positional postings and the adjacent-pair phrase match behind the
  * q143 phrase query. Each postings row carries its token's PREFIX
  * (`__pfx`), and a phrase term selects on it before the token itself,
  * so a postings table partitioned by prefix is read only in its terms'
  * prefix directories.
  */
object PostingsStore {

  /** (doc_id, pos, tok, __pfx) postings rows — positions 1-based, empty
    * tokens dropped; a pure narrow projection. */
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
}
