package graft

import java.io.File

import org.apache.spark.sql.functions.col

/** The test JVM runs on the build's runtime classpath, not on the whole
  * Spark distribution: no jar of a family that `build.sbt` excludes is on
  * it. The build writes its exclusion globs to the `excluded-jars.txt`
  * test resource; an edit that puts the whole distribution directory back
  * fails here. Most unit tests run on local relations, which the optimizer
  * evaluates without generated code, so the classes that only generated
  * code links get a check of their own. */
class ClasspathSpec extends SparkTestBase {

  test("no jar of an excluded Spark family is on the test JVM's classpath") {
    val src = scala.io.Source.fromResource("excluded-jars.txt")
    val globs = try src.getLines().filter(_.nonEmpty).toList finally src.close()
    assert(globs.nonEmpty)
    val patterns = globs.map(g => g.split("\\*", -1).map(java.util.regex.Pattern.quote)
      .mkString(".*").r)
    val jars = sys.props("java.class.path").split(File.pathSeparator)
      .map(new File(_).getName).filter(_.endsWith(".jar")).toSeq
    assert(jars.exists(_.startsWith("spark-sql_")), jars)
    val excludedOnPath = for (j <- jars; (g, p) <- globs.zip(patterns) if p.matches(j))
      yield s"$j ($g)"
    assert(excludedOnPath.isEmpty)
  }

  test("generated code finds what it links: rlike with a literal pattern") {
    // Spark writes a literal rlike pattern into the generated Java through
    // commons-text's StringEscapeUtils. A file scan keeps the optimizer from
    // evaluating the filter on a local relation, where no code is generated.
    val dir = java.nio.file.Files.createTempDirectory("classpath-rlike").toString
    spark.range(3).selectExpr("cast(id AS string) AS s")
      .write.mode("overwrite").parquet(dir)
    assert(spark.read.parquet(dir).where(col("s").rlike("[\\x{31}]")).count() == 1)
  }
}
