package graft
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = Session("local[4]")()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    // no args = every declared query (the guide §1 full-plan capture)
    val names = if (args.nonEmpty) args.toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    for (name <- names) {
      println(s"===== $name =====")
      println(SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
