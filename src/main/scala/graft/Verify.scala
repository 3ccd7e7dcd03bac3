package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — trailing names restrict the
    // dump to those queries (local iteration); the driver passes two args.
    val Array(sfDir, outDir, rest @ _*) = args: @unchecked
    val only: Set[String] = rest.toSet
    val spark = Session(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")()
    new java.io.File(outDir).mkdirs()
    // failures are per-query (one broken query must not hide the other
    // 150 results) but they must not exit 0 either — r5 lost 35 queries
    // to one loader bug and the harness still looked green
    var failed = 0
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          failed += 1
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        finally spark.catalog.clearCache() // per-query caches must not leak
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[verify] $failed queries failed")
      // Exit contract: the driver's gate reads the per-query dumps, and
      // a partial dump (151 good results + 1 flake) must stay usable —
      // so the default exit stays 0 with the loud count above, and CI
      // that wants a hard gate sets SPARK_GRAFT_STRICT=1.
      if (sys.env.get("SPARK_GRAFT_STRICT").contains("1")) sys.exit(1)
    }
  }
}
