package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkTestBase.session

  override protected def afterAll(): Unit = super.afterAll()
}

object SparkTestBase {
  // One session per JVM (Test / fork := true gives each test run its own).
  lazy val session: SparkSession = {
    val s = Session("local[4]")(
      "spark.app.name" -> "graft-test",
      // managed tables (bucketed-write specs) land in tmp, not the repo
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    graft.plans.VectorExpressions.register(s)
    s
  }
}
