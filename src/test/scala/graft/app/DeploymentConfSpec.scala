package graft.app

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import graft.SparkTestBase

/** `graft.app.Main --once` in a JVM of its own, configured the way
  * `spark-submit` and `spark-defaults.conf` configure a driver: through
  * system properties, with no `--master` flag. A key the deployment sets
  * wins over `Main`'s default for it; shuffle partitions the deployment
  * leaves unset follow the master's cores; and a restarted query keeps
  * the count its checkpoint recorded, whatever the new launch sets. */
class DeploymentConfSpec extends SparkTestBase {

  private val HdfsProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  private def eventLines(day: Int): Seq[String] = for {
    region <- Seq("US", "IL")
    kw <- Seq("Cough", "Fever")
    hh <- Seq("06", "18")
  } yield s"""{"datetime":"2020-01-0${day}T$hh:00:00","kw":"$kw","region":"$region","value":40.0}"""

  /** Runs `Main` in a child JVM with `props` as `-D` flags; fails with its
    * output unless it exits 0. */
  private def launch(props: Map[String, String], args: Seq[String], log: File): Unit = {
    // the JVM reports each `--add-opens x` as `--add-opens=x`
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("--add-opens="))
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(javaBin, "-Xmx1g") ++ opens ++
      props.map { case (k, v) => s"-D$k=$v" } ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.app.Main") ++ args
    val child = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log).start()
    val exited = child.waitFor(5, TimeUnit.MINUTES)
    if (!exited) child.destroyForcibly()
    assert(exited && child.exitValue() == 0,
      s"Main failed:\n${new String(Files.readAllBytes(log.toPath), "UTF-8")}")
  }

  /** The SQL conf a committed batch recorded in the offset log. */
  private def offsetConf(ckpt: String, batch: Long, key: String): Option[String] = {
    val text = new String(Files.readAllBytes(Paths.get(s"$ckpt/offsets/$batch")), "UTF-8")
    ("\"" + java.util.regex.Pattern.quote(key) + "\":\"([^\"]*)\"").r
      .findFirstMatchIn(text).map(_.group(1))
  }

  private def lastBatch(ckpt: String): Long =
    new File(s"$ckpt/offsets").list().filter(_.forall(_.isDigit)).map(_.toLong).max

  test("a deployment's keys win over Main's defaults, and a restart keeps the checkpoint's") {
    val in = Files.createTempDirectory("deploy-in").toString
    val out = Files.createTempDirectory("deploy-out").toString
    val ckpt = s"$out/ckpt"
    val args = Seq("--json-dir", in, "--landing", s"$out/landing",
      "--scores", s"$out/scores", "--checkpoint", ckpt, "--terms", "Cough,Fever", "--once")
    val deployment = Map("spark.master" -> "local[3]", "spark.ui.enabled" -> "false",
      "spark.sql.streaming.stateStore.providerClass" -> HdfsProvider)

    // launch 1: days 1 and 2; day 2 closes day 1
    Files.write(Paths.get(s"$in/day1.json"), (eventLines(1) ++ eventLines(2)).mkString("\n").getBytes)
    launch(deployment, args, new File(s"$out/launch1.log"))
    assert(Seq("spark.sql.shuffle.partitions", "spark.sql.streaming.stateStore.providerClass")
      .map(offsetConf(ckpt, 0, _)) == Seq(Some("3"), Some(HdfsProvider)))
    val batch1 = lastBatch(ckpt)

    // launch 2 on the same checkpoint: day 3 closes day 2; the new master
    // and partition count do not reach the stateful query
    Files.write(Paths.get(s"$in/day3.json"), eventLines(3).mkString("\n").getBytes)
    launch(deployment ++ Map("spark.master" -> "local[2]", "spark.sql.shuffle.partitions" -> "7"),
      args, new File(s"$out/launch2.log"))
    val batch2 = lastBatch(ckpt)
    assert(batch2 > batch1)
    assert(offsetConf(ckpt, batch2, "spark.sql.shuffle.partitions").contains("3"))
    val statePartitions = new File(s"$ckpt/state/0").list().filter(_.forall(_.isDigit)).toSet
    assert(statePartitions == Set("0", "1", "2"))
    val landed = spark.read.parquet(s"$out/landing")
      .groupBy("date").count().collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(landed == Map("2020-01-01" -> 4L, "2020-01-02" -> 4L))
  }
}
