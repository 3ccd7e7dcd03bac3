package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The Lineage seam: both checkpoint modes must produce identical
  * results on the iterative operators, reliable mode must actually
  * write RDD checkpoint files, and a mis-configured mode must fail
  * loudly rather than silently fall back to local. */
class CheckpointModeSpec extends SparkTestBase {
  import spark.implicits._

  private def runIteratives(): (Seq[String], Seq[String], Seq[String]) = {
    val mstEdges = Seq((1L, 2L, 5L), (2L, 3L, 3L), (1L, 3L, 9L),
      (3L, 4L, 2L), (5L, 6L, 1L)).toDF("a", "b", "w")
    val prEdges = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 1L, 1L),
      (4L, 1L, 1L)).toDF("src", "dst", "w")
    val ccEdges = Seq((1L, 2L), (2L, 3L), (7L, 8L), (9L, 8L)).toDF("src", "dst")
    (Mst.boruvka(mstEdges).orderBy("a", "b").collect().map(_.toString).toSeq,
      PageRank.ranks(prEdges, iterations = 3).orderBy("node")
        .collect().map(_.toString).toSeq,
      ConnectedComponents.components(ccEdges).orderBy("id")
        .collect().map(_.toString).toSeq)
  }

  // runs before the reliable-mode test, which sets the shared SparkContext's
  // checkpoint dir for the rest of the JVM
  test("unknown mode and missing dir fail loudly") {
    val df = Seq((1L, 2L)).toDF("src", "dst")
    for (mode <- Seq(Lineage.ModeKey, "graft.checkpoint.mode")) {
      spark.conf.set(mode, "turbo")
      try intercept[IllegalArgumentException] { Lineage.cut(df) }
      finally spark.conf.unset(mode)
      assert(spark.sparkContext.getCheckpointDir.isEmpty)
      spark.conf.set(mode, "reliable")
      try {
        val e = intercept[IllegalStateException] { Lineage.cut(df) }
        assert(e.getMessage.contains(Lineage.DirKey))
      } finally spark.conf.unset(mode)
    }
  }

  test("reliable mode matches local mode bit-for-bit and writes checkpoint files") {
    val Seq(dir, oldKeyDir) = Seq("graft-ckpt", "graft-ckpt-old").map { name =>
      val d = java.nio.file.Files.createTempDirectory(name).toFile
      d.deleteOnExit()
      d
    }
    val local = runIteratives()
    spark.conf.set(Lineage.ModeKey, "reliable")
    spark.conf.set(Lineage.DirKey, dir.getAbsolutePath)
    spark.conf.set("graft.checkpoint.dir", oldKeyDir.getAbsolutePath)
    try {
      val reliable = runIteratives()
      assert(reliable == local)
      // the reliable path was actually exercised: RDD checkpoint data on
      // disk, under the prefixed key's dir
      def countFiles(f: java.io.File): Int =
        if (f.isFile) 1 else Option(f.listFiles()).toSeq.flatten.map(countFiles).sum
      assert(countFiles(dir) > 0, "no checkpoint files written")
      assert(countFiles(oldKeyDir) == 0, "the unprefixed key won over the prefixed one")
    } finally {
      Seq(Lineage.ModeKey, Lineage.DirKey, "graft.checkpoint.dir").foreach(spark.conf.unset)
    }
  }
}
