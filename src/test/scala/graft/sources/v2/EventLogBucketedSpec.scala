package graft.sources.v2

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Bucketed eventlog stores and the STORAGE-PARTITIONED JOIN: the
  * bucketed V2 write routes by floorMod(user_id, n) and tags file
  * names, the table/scan report the bucket transform, GraftCatalog
  * resolves the bucket function, and a self-join on user_id plans with
  * NO exchange above either scan. Layout-protecting refusals and
  * compaction's bucket preservation ride along. */
class EventLogBucketedSpec extends graft.SparkTestBase {
  import spark.implicits._

  private val Day = 86400000000L

  // users 100..107 → buckets 0..3 under n=4; two UTC days; type is
  // DECORRELATED from user/bucket (first half clicks, second half
  // purchases, same user rotation) so each side of a type-filtered
  // self-join occupies every bucket — the co-partitioning the exact
  // partition-value check needs (a correlated fixture where clicks and
  // purchases live in disjoint buckets is the FALLBACK case instead)
  private val rows = (0 until 32).map { i =>
    (i.toLong, (i % 2) * Day + i * 1000L, 100L + (i % 8),
      if (i < 16) "click" else "purchase", i * 10L)
  }

  private def writeBucketed(n: Int = 4): String = {
    val dir = Files.createTempDirectory("gelb").toString
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .coalesce(1)
      .write.format("graft-eventlog")
      .option("bucket.by", "user_id").option("bucket.count", n.toString)
      .mode("append").save(dir)
    dir
  }

  test("bucketed write: marker, per-file bucket tags, single-bucket files, round-trip") {
    val dir = writeBucketed()
    assert(EventLog.readBucketing(dir).contains(4))
    val files = EventLog.listFiles(dir)
    assert(files.nonEmpty)
    files.foreach { f =>
      val b = EventLog.bucketOfName(f.getName)
      assert(b.isDefined, s"${f.getName} lacks a bucket tag")
      // every record in the file actually belongs to the tagged bucket
      EventLog.readRecords(f).map(_._1).foreach { r =>
        assert(GraftBucketFunction.bucketOf(r._3, 4) == b.get,
          s"record user ${r._3} in bucket-${b.get} file ${f.getName}")
      }
    }
    val got = spark.read.format("graft-eventlog").load(dir)
      .as[(Long, Long, Long, String, Long)].collect().toSet
    assert(got == rows.toSet)
  }

  test("an unbucketed append to a bucketed store is refused loudly") {
    val dir = writeBucketed()
    val e = intercept[Exception] {
      rows.take(2).toDF("event_id", "ts_us", "user_id", "event_type", "cents")
        .write.format("graft-eventlog").mode("append").save(dir)
    }
    assert(e.getMessage.contains("bucketed store"), e.getMessage)
    val e2 = intercept[Exception] {
      rows.take(2).toDF("event_id", "ts_us", "user_id", "event_type", "cents")
        .write.format("graft-eventlog").option("bucket.count", "8")
        .mode("append").save(dir)
    }
    assert(e2.getMessage.contains("break the layout"), e2.getMessage)
  }

  test("self-join on user_id is storage-partitioned: no exchange above either scan") {
    val dir = writeBucketed()
    GraftCatalog.register(spark, "evb_spj", dir)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val clicks = spark.table("graft.evb_spj")
        .where(col("event_type") === "click")
        .select(col("user_id"), col("cents").as("c_cents"))
      val purch = spark.table("graft.evb_spj")
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("cents").as("p_cents"))
      val joined = clicks.join(purch, "user_id")
      val got = joined.select("user_id", "c_cents", "p_cents")
        .as[(Long, Long, Long)].collect().toSet
      val c = rows.filter(_._4 == "click").map(r => (r._3, r._5))
      val p = rows.filter(_._4 == "purchase").map(r => (r._3, r._5))
      val expect = for {
        (cu, cc) <- c; (pu, pc) <- p if cu == pu
      } yield (cu, cc, pc)
      assert(got == expect.toSet)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        "storage-partitioned join still shuffled:\n" + plan.take(2000))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan.take(1000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("compaction preserves the bucket layout; the SPJ survives it") {
    val dir = writeBucketed()
    // fragment each (day, bucket) further with a second bucketed append
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .withColumn("event_id", col("event_id") + 1000L)
      .coalesce(1)
      .write.format("graft-eventlog")
      .option("bucket.count", "4").mode("append").save(dir)
    val st = EventLogCompact.compact(spark, dir)
    assert(st.filesAfter < st.filesBefore, st.toString)
    val files = EventLog.listFiles(dir)
    assert(files.forall(f => EventLog.bucketOfName(f.getName).isDefined),
      "compaction dropped bucket tags: " + files.map(_.getName).mkString(", "))
    // per (day, bucket): exactly one compacted file
    assert(files.groupBy(f => (f.getName.take(9),
      EventLog.bucketOfName(f.getName).get)).forall(_._2.size == 1))
    GraftCatalog.register(spark, "evb_spj2", dir)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val t = spark.table("graft.evb_spj2")
      val a = t.where(col("event_type") === "click")
        .select(col("user_id"), col("cents").as("c_cents"))
      val b = t.where(col("event_type") === "purchase")
        .select(col("user_id"), col("cents").as("p_cents"))
      val joined = a.join(b, "user_id").groupBy("user_id")
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        "post-compaction SPJ re-shuffled:\n" + plan.take(2000))
      assert(joined.as[(Long, Long)].collect().toMap.values.forall(_ > 0))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("the as-of exec elides exchanges over co-bucketed scans; mismatched buckets fall back") {
    // co-bucketed: the custom exec's storage-co-partitioning check (the
    // SMJ/SHJ-only gate in EnsureRequirements never fires for custom
    // execs) removes both exchanges and the merge-walk zips storage
    // partitions directly
    val dir = writeBucketed()
    GraftCatalog.register(spark, "evb_asof", dir)
    graft.plans.AsOfJoinPlan.install(spark)
    def asof(leftName: String, rightName: String) = {
      val c = spark.table(s"graft.$leftName")
        .where(col("event_type") === "click")
        .select(col("event_id"), col("user_id").as("c_user"),
          col("ts_us").as("c_us"))
      val p = spark.table(s"graft.$rightName")
        .where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts_us").as("p_us"),
          col("cents").as("p_cents"))
      c.join(p, expr("c_user = p_user AND graft_asof(c_us, p_us)"), "left")
        .select(col("event_id"), col("p_us"), col("p_cents"))
    }
    val spj = asof("evb_asof", "evb_asof")
    val spjPlan = spj.queryExecution.executedPlan.toString
    assert(spjPlan.contains("AsOfJoin") && !spjPlan.contains("Exchange"),
      "co-bucketed as-of still shuffled:\n" + spjPlan.take(1500))
    // expected truth: per click, latest same-user purchase at/before it
    val purchases = rows.filter(_._4 == "purchase")
    val expect = rows.filter(_._4 == "click").map { c =>
      val best = purchases.filter(p => p._3 == c._3 && p._2 <= c._2)
        .sortBy(_._2).lastOption
      (c._1, best.map(_._2), best.map(_._5))
    }.toSet
    assert(spj.as[(Long, Option[Long], Option[Long])].collect().toSet == expect)
    // MISMATCHED bucketing (4 vs 8): the check must refuse and fall back
    // to clustered distribution — exchanges reappear, results identical
    val dir8 = Files.createTempDirectory("gelb8").toString
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "cents")
      .coalesce(1).write.format("graft-eventlog")
      .option("bucket.count", "8").mode("append").save(dir8)
    GraftCatalog.register(spark, "evb_asof8", dir8)
    val mixed = asof("evb_asof", "evb_asof8")
    val mixedPlan = mixed.queryExecution.executedPlan.toString
    assert(mixedPlan.contains("Exchange hashpartitioning"),
      "mismatched bucket counts must re-shuffle, never zip misaligned " +
        "partitions:\n" + mixedPlan.take(1500))
    assert(mixed.as[(Long, Option[Long], Option[Long])].collect().toSet ==
      expect)
  }

  test("a mixed store (marker but untagged files) falls back per-file and stays correct") {
    val dir = writeBucketed()
    // smuggle in an untagged file the way a foreign producer would: a
    // direct encoder write plus a manifest row
    val tmp = new java.io.File(dir, ".inprogress.foreign")
    val entry = EventLog.writeGelFile(tmp, "day_00000-p99999-zzzz.gel",
      scala.collection.mutable.ArrayBuffer((9999L, 42L, 777L, "click", 1L)))
    assert(tmp.renameTo(new java.io.File(dir, entry.file)))
    EventLog.appendManifest(dir, Seq(entry))
    val got = spark.read.format("graft-eventlog").load(dir).count()
    assert(got == rows.size + 1) // falls back, reads everything
  }
}
