package graft

/** Per-round benchmark: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Results are written to the `noop` sink — a plain `count()` would let
  * Catalyst prune the computed columns and measure only the scan. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session(s"local[$cpus]")(
      // 110 queries × several codegen stages far exceeds the default
      // 100-entry compiled-class cache — thrash re-Janino-compiles the
      // big vector/LSH expressions on every run (q109: 6.1s cold vs
      // 0.75s warm). Static conf, so it must be set at session build.
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      // Sweep-integrity (r4/r5 medians up to 10× mins on identical
      // code): ContextCleaner reclaims broadcasts/shuffles only when the
      // JVM GCs, and the default periodic GC is every 30 MIN — a
      // 450-run sweep accumulates gigabytes of dead broadcast and
      // shuffle state between collections, and whichever query runs
      // during the eventual collection eats it. Collect every minute,
      // plus an explicit gc between queries below.
      "spark.cleaner.periodicGC.interval" -> "1min")
    // the measurement is only meaningful with real heap headroom —
    // make a too-small launcher configuration loudly visible
    val maxGb = Runtime.getRuntime.maxMemory / (1L << 30)
    if (maxGb < 16)
      System.err.println(s"[bench] WARNING: JVM max heap ${maxGb}g < 16g — " +
        "sweep timings will be GC-noisy; launch with SPARK_DRIVER_MEM=32g")
    // Warm the JVM + parquet footers once so per-query times measure the
    // query, not first-touch costs.
    SparkEntry.queries.values.headOption.foreach { fn =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // n=3 timed runs per query, min recorded as the score (median emitted
    // alongside): local[32] scheduling noise is ±30% on sub-second queries
    // and the recorded number becomes the baseline future rounds are
    // graded against — min is the least-noisy estimator of true cost.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // optional comma-separated query filter for local iteration
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    // Sweep-integrity canary (r6 lesson): the driver's r6 sweep degraded
    // PROGRESSIVELY — per-query times drifted from 1.0× the isolated cost
    // early in the run to 3-9× by the end, on code whose re-run showed no
    // drift at all (environmental, not plan). A fixed cheap probe re-timed
    // every few queries turns that failure mode from "unexplained slow
    // tail" into an explicit in-artifact drift series: if canary_drift
    // (max/min of the probe) is large, the box degraded during the sweep
    // and the late absolute numbers are not the queries' cost.
    val canaryName = "q06_global_stats"
    val canaryFn = SparkEntry.queries.get(canaryName)
    val canarySeries = Seq.newBuilder[Double]
    // every 5 (was 10): the driver's r12 sweep had a 5-query degraded
    // window (q270–q274, 2.4–2.9× slow) fall exactly BETWEEN two probes —
    // at cadence 5 a window that wide must hit at least one probe
    val canaryEvery = 5
    def runCanary(): Unit = canaryFn.foreach { fn =>
      val t0 = System.nanoTime()
      // a FAILED probe must not enter the series: its (fast) elapsed time
      // would read as a healthy floor and understate canary_drift
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] canary $canaryName failed: ${e.getMessage}")
          false
        }
      if (ok) canarySeries += (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .zipWithIndex
      .map { case ((name, fn), idx) =>
      if (only.isEmpty && idx % canaryEvery == 0) runCanary()
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache() // per-query caches must not leak across
        // outside the timed window: drive ContextCleaner's weak refs NOW
        // so the previous run's broadcast/shuffle debris is reclaimed
        // before — not during — the next measurement
        System.gc()
        if (ok) t else Double.NaN
      }
      // a failed query is recorded as -1, never as a (fast) success
      if (times.exists(_.isNaN)) name -> (-1.0, -1.0)
      else name -> (times.min, times.sorted.apply(times.size / 2))
    }
    // The driver captures only a bounded (~2 KB) tail of stdout and the
    // per-query contract line — 312 short-keyed entries, ~4.6 KB — has
    // exceeded it since round 1 (BENCH_r01..r12 all record parsed:null).
    // So: the contract line with the full per-query map is still printed
    // (unchanged methodology, old numbers kept), and a SHORT summary
    // line (<300 bytes: metric/value/unit/failed/canary_drift/sf plus a
    // pointer to the side file) is printed LAST so the driver's tail
    // capture always contains one complete, parseable JSON line.
    if (only.isEmpty) runCanary() // closing probe after the last query
    def r3(v: Double) = if (v < 0) "-1" else f"$v%.3f"
    def fmt(sel: ((Double, Double)) => Double, key: String => String) = results
      .map { case (k, v) => "\"" + key(k) + "\":" + r3(sel(v)) }.mkString("{", ",", "}")
    val canary = canarySeries.result()
    // first probe amortizes residual warmup — drift is over the rest
    val drift =
      if (canary.drop(1).size >= 2 && canary.drop(1).min > 0)
        canary.drop(1).max / canary.drop(1).min
      else 1.0
    if (drift > 3.0)
      System.err.println(f"[bench] WARNING: canary drifted $drift%.1fx during " +
        "the sweep — environmental degradation; late per-query numbers " +
        "overstate query cost (see canary series in the full JSON)")
    val total = results.collect { case (_, (v, _)) if v >= 0 => v }.sum
    // Failed queries are -1 in the map, but automation gating on the
    // harness must not read a partially-broken sweep as green: surface
    // an explicit failed count in the JSON line (and a nonzero exit
    // below) so a round with dark queries can't report "[success]".
    val failed = results.count(_._2._1 < 0)
    val shortKey = (n: String) => n.takeWhile(_ != '_')
    val driftStr = f"$drift%.2f"
    val canaryStr = canary.map(v => f"$v%.3f").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","failed":$failed,"canary_drift":$driftStr,"queries":${fmt(_._1, shortKey)},"sf":"$sfDir"}"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"canary_drift":$driftStr,"canary":$canaryStr,"queries":${fmt(_._1, identity)},"queries_median":${fmt(_._2, identity)},"sf":"$sfDir"}"""
    // cpu-suffixed side-file name: the driver re-runs the bench at a
    // lower core count, and a fixed name made the 8-cpu run clobber the
    // 32-cpu artifact (r12 lesson)
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", s"bench_full_c$cpus.json")
    // filtered (BENCH_ONLY) iteration runs must not clobber the
    // committed full-sweep side artifact
    if (only.isEmpty) try {
      java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
        full.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    spark.stop()
    println(line)
    // short summary line LAST — the one the driver's bounded tail capture
    // is guaranteed to hold in full (see comment above)
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","failed":$failed,"canary_drift":$driftStr,"n_queries":${results.size},"queries_file":"$fullPath","sf":"$sfDir"}""")
    // a sweep with failures must not exit 0
    if (failed > 0) sys.exit(1)
  }
}
