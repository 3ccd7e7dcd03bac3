package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Session("local[8]")()
    val df = SparkEntry.entry(spark)
    println("ENTRY ROWS=" + df.count())
    df.show(5)
    spark.stop()
  }
}
