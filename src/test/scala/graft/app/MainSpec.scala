package graft.app

import java.nio.file.Files

import graft.SparkTestBase

/** End-to-end application test: JSON file-stream → daily landing →
  * anomaly scores, with a planted spike that must be detected. Codifies
  * the manual drive of `graft.app.Main --once`. */
class MainSpec extends SparkTestBase {
  import spark.implicits._

  private def eventLines(days: Range, spikeDays: Set[Int],
      regions: Seq[String] = Seq("US", "IL")): Seq[String] =
    (for {
      day <- days
      region <- regions
      kw <- Seq("Cough", "Fever")
      hh <- Seq("06", "18")
    } yield {
      val base = 40.0 + (day % 7) + (if (region == "US") 5 else 0)
      val spike = if (region == "US" && spikeDays(day)) 8.0 else 1.0
      val date = java.time.LocalDate.of(2020, 1, 1).plusDays(day - 1)
      s"""{"datetime":"${date}T$hh:00:00","kw":"$kw","region":"$region","value":${base * spike / 2}}"""
    })

  private def dayStr(day: Int): String =
    java.time.LocalDate.of(2020, 1, 1).plusDays(day - 1).toString

  /** What the two-run drive left behind: each run's anomalies, the
    * score files (path -> mtime) and the state's last batch id after
    * each run. */
  private case class Drive(run1: Set[(String, String)], run2: Set[(String, String)],
      filesBefore: Map[String, Long], filesAfter: Map[String, Long],
      batch1: Long, batch2: Long)

  /** Run 1 lands days 1..40 (spike on 36..38) and fully fits; run 2 adds
    * days 41..46 (spike on 43) and the event lines `run2Extra`, each its
    * own (date, region, kw). `extraArgs` go to both runs. */
  private def twoRunDrive(extraArgs: Seq[String] = Nil, run2Extra: Seq[String] = Nil): Drive = {
    val in = Files.createTempDirectory("app-in").toString
    val out = Files.createTempDirectory("app-out").toString
    val appArgs = Array("--json-dir", in, "--landing", s"$out/landing",
      "--scores", s"$out/scores", "--checkpoint", s"$out/ckpt",
      "--terms", "Cough,Fever", "--once") ++ extraArgs
    def anomalies() = spark.read.parquet(s"$out/scores")
      .select($"region", $"date".cast("string")).as[(String, String)]
      .collect().toSet
    def lastBatchId() = graft.outbreak.IncrementalOutbreak
      .loadState(spark, s"$out/ckpt/graft-state").get._1.lastBatchId
    def partitionFiles(): Map[String, Long] = {
      val base = new java.io.File(s"$out/scores")
      base.listFiles().filter(_.getName.startsWith("date="))
        .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> f.lastModified())).toMap
    }

    // ---- run 1: days 1..40, spike on 36..38 (full fit)
    Files.write(java.nio.file.Paths.get(s"$in/events.json"),
      eventLines(1 to 40, Set(36, 37, 38)).mkString("\n").getBytes)
    Main.main(appArgs)

    // 40 days x 2 regions x 2 kw, minus the last (still-open) day
    assert(spark.read.parquet(s"$out/landing").count() == 39L * 2 * 2)
    val run1 = anomalies()
    assert(new java.io.File(s"$out/ckpt/graft-state/model").exists(),
      "full fit must persist incremental state")
    val before = partitionFiles()
    val batch1 = lastBatchId()

    // ---- run 2: days 41..46 arrive, spike on 43
    Files.write(java.nio.file.Paths.get(s"$in/events2.json"),
      (eventLines(41 to 46, Set(43)) ++ run2Extra).mkString("\n").getBytes)
    Main.main(appArgs)

    // landing advanced to 45 closed days
    assert(spark.read.parquet(s"$out/landing").count() == 45L * 2 * 2 + run2Extra.size)
    Drive(run1, anomalies(), before, partitionFiles(), batch1, lastBatchId())
  }

  private val spikeDays = (36 to 38).map(dayStr).toSet

  test("a fresh deployment whose first batch closes a single day refits on it, " +
      "then scores the second day") {
    // two regions, and one: a single feature row has no covariance for PCA
    for (regions <- Seq(Seq("US", "IL"), Seq("US"))) {
      val in = Files.createTempDirectory("app-in").toString
      val out = Files.createTempDirectory("app-out").toString
      val appArgs = Array("--json-dir", in, "--landing", s"$out/landing",
        "--scores", s"$out/scores", "--checkpoint", s"$out/ckpt",
        "--terms", "Cough,Fever", "--once")
      // run 1: day 1, and the first record of day 2, which closes day 1. On
      // one day every value is its own cumulative average, so all regions'
      // feature rows are identical and every candidate k fits one cluster
      val day2 = eventLines(2 to 2, Set.empty, regions)
      Files.write(java.nio.file.Paths.get(s"$in/events.json"),
        (eventLines(1 to 1, Set.empty, regions) :+ day2.head).mkString("\n").getBytes)
      Main.main(appArgs)
      assert(spark.read.parquet(s"$out/landing").count() == regions.size * 2L)
      assert(new java.io.File(s"$out/ckpt/graft-state/model").exists(),
        s"the refit on one day of $regions must persist the state")
      // run 2: the rest of day 2, and the first record of day 3
      Files.write(java.nio.file.Paths.get(s"$in/events2.json"),
        (day2.tail :+ eventLines(3 to 3, Set.empty, regions).head).mkString("\n").getBytes)
      Main.main(appArgs)
      assert(spark.read.parquet(s"$out/landing").count() == regions.size * 2L * 2)
    }
  }

  /** Both runs flag only planted spikes; run 1 flags at least one of
    * its own and run 2 flags the new one. */
  private def assertDetections(d: Drive): Unit = {
    assert(d.run1.nonEmpty)
    assert(d.run1.forall(_._1 == "US"), s"non-US anomaly: ${d.run1}")
    assert(d.run1.map(_._2).subsetOf(spikeDays), s"false positive: ${d.run1}")
    assert(d.run2.forall(_._1 == "US"), s"non-US anomaly in run 2: ${d.run2}")
    assert(d.run2.contains(("US", dayStr(43))), s"new spike not flagged: ${d.run2}")
    assert(d.run2.map(_._2).subsetOf(spikeDays + dayStr(43)),
      s"false positive in run 2: ${d.run2}")
  }

  test("--once run lands daily rows and flags the planted outbreak; " +
      "a second run scores only the new days incrementally") {
    val d = twoRunDrive()
    assertDetections(d)
    // old anomalies still present
    assert(d.run1.subsetOf(d.run2), "run 2 dropped run-1 anomalies")
    // incremental proof: run 2 did not rewrite run-1 date partitions
    val unchanged = d.filesAfter.filter { case (p, _) => d.filesBefore.contains(p) }
    assert(unchanged == d.filesBefore,
      "run 2 rewrote old score partitions - incremental path not taken")
  }

  test("an increment batch holding a null-region event is scored as an increment, not a refit") {
    val nullRegion =
      s"""{"datetime":"${dayStr(42)}T12:00:00","kw":"Cough","region":null,"value":30.0}"""
    val d = twoRunDrive(run2Extra = Seq(nullRegion))
    assert((d.batch1, d.batch2) == ((1L, 3L)))
    // an increment rewrites only its own date partitions; a refit would
    // have replaced every run-1 score file
    assert(d.filesBefore.nonEmpty)
    val unchanged = d.filesAfter.filter { case (p, _) => d.filesBefore.contains(p) }
    assert(unchanged == d.filesBefore, "run 2 rewrote run-1 score partitions: it refitted")
    assert(d.run2.contains(("US", dayStr(43))), s"new spike not flagged: ${d.run2}")
  }

  test("--refit-every 2: run 2's closing batch crosses a multiple of 2 " +
      "and refits over all history") {
    // run 1 closes its days in batch 1, run 2 in batch 3 (batches 0 and 2
    // only ingest): 3 / 2 > 1 / 2, so run 2 refits although 3 % 2 != 0
    val d = twoRunDrive(Seq("--refit-every", "2"))
    assert((d.batch1, d.batch2) == ((1L, 3L)))
    assertDetections(d)
    // a refit overwrites every score partition (static overwrite): no
    // run-1 score file survives run 2
    assert(d.filesBefore.nonEmpty)
    assert(d.filesBefore.keySet.intersect(d.filesAfter.keySet).isEmpty,
      "run 2 kept run-1 score files - periodic refit did not fire")
  }
}
