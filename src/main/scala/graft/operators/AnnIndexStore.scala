package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED IVF index — the build-once / probe-forever production shape
  * the in-memory [[AnnIvf]] build lacks. At 100 TB the collection is
  * embedded once, indexed once, and then probed by every retrieval /
  * dedup / mining job for months; re-running KMeans per query job would
  * dwarf the queries themselves.
  *
  * Layout under `path`:
  *   - `centroids.parquet` — (cell, centroid), nLists rows, one file;
  *   - `cells/cell=<c>/` — the collection partitioned BY CELL.
  *
  * A probe batch collects the union of its probe cells (≤ queries ×
  * nProbe ints) and scans `cells` with a literal IN filter — partition
  * pruning turns that into reads of ONLY the probed cell directories
  * (spec-asserted on PartitionFilters + files touched), the on-disk
  * analog of fetching inverted lists.
  *
  * [[append]] grows the index without re-clustering: new vectors are
  * assigned to their nearest EXISTING centroid (same squared-L2 rule as
  * the KMeans assignment) in a narrow map against broadcast centroids
  * and land in their cell partitions — centroids are immutable once
  * written, so readers never see a half-moved index. Rebuild (a fresh
  * [[write]]) is the periodic compaction, exactly like every other
  * epoch store in this repo.
  */
object AnnIndexStore {

  /** Cluster `collection` into `nLists` cells and persist the index. */
  def write(spark: SparkSession, collection: DataFrame, idCol: String,
      vecCol: String, path: String, nLists: Int, seed: Long = 1L): Unit = {
    val (indexed, centers) = AnnIvf.buildIndex(spark, collection, vecCol, nLists, seed)
    indexed.select(col(idCol), col(vecCol), col("cell"))
      .repartition(col("cell"))
      .write.partitionBy("cell").mode(SaveMode.Overwrite)
      .parquet(s"$path/cells")
    spark.createDataFrame(centers.zipWithIndex.map { case (c, i) => (i, c) }.toSeq)
      .toDF("cell", "centroid")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/centroids.parquet")
  }

  /** The index's centroids, cell-ordered (tiny: nLists rows). */
  def loadCenters(spark: SparkSession, path: String): Array[Array[Double]] =
    spark.read.parquet(s"$path/centroids.parquet")
      .orderBy("cell")
      .collect()
      .map(_.getSeq[Double](1).toArray)

  /** NARROW per-row cell assignment against literal centroids — the
    * KMeans rule (squared-L2 argmin, lowest index on ties) as one
    * codegen'd expression: no crossJoin, no window shuffle, and no
    * uniqueness requirement on ids (a probe-based assignment keyed on
    * the id silently dropped one of two same-id vectors). */
  def assignCell(vec: org.apache.spark.sql.Column,
      centers: Array[Array[Double]]): org.apache.spark.sql.Column =
    array_min(array(centers.zipWithIndex.map { case (c, i) =>
      struct(
        call_function("graft_sqdist", vec.cast("array<double>"),
          typedLit(c.toSeq)).as("d"),
        lit(i).as("i"))
    }.toIndexedSeq: _*)).getField("i")

  /** (`idCol`, `vecCol`, cell) for a batch of vectors under frozen
    * centroids. */
  def assign(vectors: DataFrame, idCol: String, vecCol: String,
      centers: Array[Array[Double]]): DataFrame =
    vectors.select(col(idCol), col(vecCol),
      assignCell(col(vecCol), centers).as("cell"))

  /** Assign new vectors to their nearest existing centroid and append
    * them into their cell partitions. */
  def append(spark: SparkSession, newVectors: DataFrame, idCol: String,
      vecCol: String, path: String): Unit =
    assign(newVectors, idCol, vecCol, loadCenters(spark, path))
      .repartition(col("cell"))
      .write.partitionBy("cell").mode(SaveMode.Append)
      .parquet(s"$path/cells")

  /** A cell store scan pruned to `probeSet` — the literal IN over the
    * partition column is what turns the probe into reads of only the
    * probed directories. */
  private[graft] def readPruned(spark: SparkSession, cellsPath: String,
      probeSet: Array[Int], idCol: String, vecCol: String): DataFrame =
    spark.read.parquet(cellsPath)
      .where(col("cell").isin(probeSet.map(_.asInstanceOf[Any]).toIndexedSeq: _*))
      .select(col(idCol), col(vecCol), col("cell"))

  /** Top-k cosine neighbors per query against the persisted index,
    * scanning ONLY the probed cell directories. `queries` must carry a
    * unique `__qid` and the query vector in `qVecCol`. */
  def search(spark: SparkSession, path: String, queries: DataFrame,
      qVecCol: String, idCol: String, vecCol: String, k: Int, nProbe: Int)
      : DataFrame = {
    val centers = loadCenters(spark, path)
    // ONE probe pass serves both the pruning IN-list and the candidate
    // join (re-deriving it inside search would scan the queries twice)
    val probed = AnnIvf.probeCells(queries, qVecCol, centers, nProbe).cache()
    val probeSet = probed.select("cell").distinct().collect().map(_.getInt(0))
    AnnIvf.searchProbed(
      readPruned(spark, s"$path/cells", probeSet, idCol, vecCol),
      probed, qVecCol, vecCol, idCol, k)
  }
}
