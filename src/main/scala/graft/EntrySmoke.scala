package graft
import org.apache.spark.sql.SparkSession
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sources.v2.EventLog.installFsFromConf(spark)
    val df = SparkEntry.entry(spark)
    println("ENTRY ROWS=" + df.count())
    df.show(5)
    spark.stop()
  }
}
