package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling smoke: times the heavy text/dedup operators on the sf0.1
  * corpus and on a 10× synthetic blow-up of it (each replica mutated by
  * an appended marker token, so replicas are NEAR-dups — the worst case
  * for candidate generation: every doc sits in a 10-deep dup clique).
  * A scale-safe operator should grow ≲ linearly in rows here; anything
  * quadratic in clique/bucket size explodes visibly at 10×.
  *
  * Dev tool (not part of the driver contract): run with
  * `sbt "runMain graft.tools.ScaleSmoke"`.
  */
object ScaleSmoke {

  private def blowUp(docs: DataFrame, copies: Int, nDocs: Long): DataFrame =
    (0 until copies).map { k =>
      if (k == 0) docs
      else docs.select((col("doc_id") + k * nDocs).as("doc_id"),
        concat_ws(" ", col("text"), lit(s"replica$k")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val spark = graft.Session("local[32]")()
    // optional name filter: `runMain graft.tools.ScaleSmoke asof topk`
    // times only matching operators (substring match)
    val only = args.toSet
    def sel(name: String): Boolean =
      only.isEmpty || only.exists(name.contains)
    val base = graft.sources.Tables
      .documents(spark, "/root/testdata/sf0.1").cache()
    val n = base.count()
    val big = blowUp(base, 10, n)
      .repartition(32).cache()
    val nBig = big.count()
    println(s"[scale] corpus 1x = $n docs, 10x = $nBig docs")

    def time(name: String)(f: DataFrame => DataFrame): Unit = if (sel(name)) {
      for ((label, df) <- Seq("1x" -> base, "10x" -> big)) {
        val t0 = System.nanoTime()
        val out = f(df)
        val rows = out.count()
        println(f"[scale] $name%-22s $label%3s  ${(System.nanoTime() - t0) / 1e9}%7.2f s  ($rows rows)")
        spark.catalog.clearCache()
        base.cache().count(); big.cache().count() // keep inputs hot
      }
    }

    time("minhashLshKeep (exact)")(d =>
      graft.operators.Dedup.minhashLshKeep(d, "doc_id", "text", threshold = 0.5))
    time("minhashLshKeep (cap=512)")(d =>
      graft.operators.Dedup.minhashLshKeep(d, "doc_id", "text", threshold = 0.5,
        denseBucketCap = 512))
    time("dup_spans")(graft.queries.Curation.q105DupSpansOn)
    time("lm_score")(graft.queries.Curation.q106LmScoreOn)
    time("knn_graph") { d =>
      val sig = graft.operators.Dedup.minhashIndex(d, "doc_id", "text")
      val cand = graft.operators.Dedup.sortedNeighborCandidates(sig, "doc_id", 8)
      cand
    }
    time("exactKeep")(d => graft.operators.Dedup.exactKeep(d, "doc_id", "text"))
    time("boilerplate_strip")(graft.queries.Curation.q111BoilerplateStripOn)
    // model-based curation family: all built on token shuffles + O(model)
    // broadcasts — must stay linear in rows however dup-heavy the corpus
    time("nb_langid")(graft.queries.Modeling.q122NbLangidOn)
    time("dsir_weights")(graft.queries.Modeling.q124DsirWeightsOn(_))
    time("split_leakage")(graft.queries.Modeling.q125SplitLeakageOn)
    time("source_drift")(graft.queries.Modeling.q127SourceDriftOn)
    time("weighted_sample")(d =>
      graft.queries.ScalePipeline.q126WeightedSampleOn(d))
    // scan-speed rule battery + single-shuffle fertility roll-up: these
    // must track the scan almost exactly at 10x
    time("quality_rules")(graft.queries.Curation.q130QualityRulesOn)
    time("tokenizer_fertility")(graft.queries.Curation.q129TokenizerFertilityOn)
    time("ccnet_buckets")(graft.queries.Curation.q132CcnetBucketsOn)
    // round-4 batch: manifest fold, frequency-spectrum cumsum, phrase
    // adjacency, and the 2D frontier — all must track the scan
    time("merkle_manifest")(d => graft.queries.ScalePipeline.merkleFold(
      graft.queries.ScalePipeline.merkleLeaves(d).distinct()))
    time("phrase_search")(graft.queries.Analytics.q143PhraseSearchOn)
    time("skyline_2d")(d => graft.operators.Skyline.frontier2D(
      d.select(col("doc_id"), (col("n_chars") % 997).cast("double").as("x"),
        (col("doc_id") % 131).cast("int").as("y")), "x", "y"))

    // dir-based defs (overlap audits, q31, q62) all read the SAME parked
    // blow-up: one parquet dump for the whole run, not one per consumer
    val bigDir = java.nio.file.Files.createTempDirectory("scale_docs").toString
    big.write.mode("overwrite").parquet(s"$bigDir/documents.parquet")
    def timeQ(name: String, fn: (SparkSession, String) => DataFrame,
        dir10: String = bigDir): Unit = if (sel(name)) {
      for ((label, dir) <- Seq("1x" -> "/root/testdata/sf0.1", "10x" -> dir10)) {
        val t0 = System.nanoTime()
        val rows = fn(spark, dir).count()
        println(f"[scale] $name%-22s $label%3s  ${(System.nanoTime() - t0) / 1e9}%7.2f s  ($rows rows)")
        spark.catalog.clearCache() // dir-based reads never touch base/big
      }
    }
    timeQ("source_overlap_exact", graft.queries.Curation.q117SourceOverlap)
    timeQ("source_overlap_kmv", graft.queries.Curation.q118SourceOverlapKmv)

    // embedding family on a 10x vector blow-up (replicas perturbed by a
    // per-copy scale — high-cosine near-dups of their original)
    val ebase = graft.sources.Tables
      .embeddings(spark, "/root/testdata/sf0.1").cache()
    val en = ebase.count()
    val ebig = (0 until 10).map { k =>
      if (k == 0) ebase.select(col("vec_id"), col("embedding"))
      else ebase.select((col("vec_id") + k * en).as("vec_id"),
        transform(col("embedding"),
          x => x * (lit(1.0f) + lit(k) * lit(1e-3f))).as("embedding"))
    }.reduce(_ unionByName _).repartition(32).cache()
    println(s"[scale] vectors 1x = $en, 10x = ${ebig.count()}")
    val planes = graft.functions.VectorFunctions.gaussianPlanes(6, 64, 42L)
    def timeE(name: String)(f: DataFrame => DataFrame): Unit = if (sel(name)) {
      for ((label, df) <- Seq("1x" -> ebase, "10x" -> ebig)) {
        val t0 = System.nanoTime()
        val rows = f(df).count()
        println(f"[scale] $name%-22s $label%3s  ${(System.nanoTime() - t0) / 1e9}%7.2f s  ($rows rows)")
        spark.catalog.clearCache()
        ebase.cache().count(); ebig.cache().count()
      }
    }
    timeE("embeddingKeep")(d =>
      graft.operators.Dedup.embeddingKeep(d, "vec_id", "embedding", planes, 0.2))
    // SemDeDup at 10x is the dense-cluster worst case: every replica
    // clique shares its original's argmax dim, so the two-pass
    // decimation (not the per-cluster square) must carry the load
    timeE("semdedup_drops")(d =>
      graft.operators.Dedup.cosineDropsWithinBuckets(
        d.select(col("vec_id"), col("embedding"),
          expr("cast(array_position(embedding, array_max(embedding)) as int)")
            .as("__bucket")),
        "vec_id", "embedding", 0.9))
    timeE("kcenter_k8")(d =>
      graft.operators.KCenter.select(d, "vec_id", "embedding", 8))

    // the two bandedCandidates consumers (char-trigram prefix bands)
    timeQ("q31_ngram_jaccard", graft.queries.PipelineQueries.q31NgramJaccard)
    timeQ("q62_edit_distance", graft.queries.Relational.q62EditDistance)
    // keep-best dedup at 10x is the CC worst case: every doc sits in a
    // 10-deep near-dup clique, so components are dense and plentiful
    timeQ("dedup_keep_best", graft.queries.PipelineQueries.q131DedupKeepBest)

    // round-7 operators over the events table: the native as-of joins,
    // the bounded-heap top-k aggregate, and the eventlog V2 source —
    // blown up 10× by replicating USERS (each replica a fresh user_id,
    // so per-user series keep their length: the as-of merge-walk's
    // per-key cost must stay flat while the key count grows 10×, and
    // the top-k heap count grows with groups, not group size)
    if (Seq("asof_native (q274)", "asof_forward (q275)",
        "topk_aggregate (q279)", "eventlog_scan (q281)",
        "eventlog_types (q283)", "eventlog_compact",
        "eventlog_compacted (q284)", "eventlog_dayprofile (q285)",
        "eventlog_asof (q286)", "eventlog_runtime (q287)",
        "eventlog_sums (q288)", "eventlog_spj (q289)",
        "eventlog_timetravel (q292)", "eventlog_changes (q293)",
        "eventlog_retention (q294)", "eventlog_streamsink (q295)",
        "eventlog_offset (q296)", "eventlog_history (q297)",
        "eventlog_sql_asof (q298)", "eventlog_merge (q301)",
        "eventlog_zorder (q302)", "eventlog_cdc (q303)",
        "eventlog_lookup (q304)", "eventlog_merge_cost",
        "eventlog_bloom_cost", "eventlog_zorder_cost",
        "eventlog_shuffle_merge", "eventlog_dv_delete",
        "eventlog_cow_update").exists(sel)) {
      val evBase = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      val nEv = evBase.count()
      val evDir = java.nio.file.Files.createTempDirectory("scale_events").toString
      (0 until 10).map { k =>
        if (k == 0) evBase
        else evBase
          .withColumn("event_id", col("event_id") + lit(k * nEv))
          .withColumn("user_id", col("user_id") + lit(k * 10000000L))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$evDir/events.parquet")
      timeQ("asof_native (q274)", graft.queries.Robust.q274AsofNative, evDir)
      timeQ("asof_forward (q275)", graft.queries.Robust.q275AsofForward, evDir)
      timeQ("topk_aggregate (q279)", graft.queries.Ranking.q279TopkAggregate,
        evDir)
      // eventlog store build is a one-time persisted-artifact cost
      // (TempStoreCache) — warm it first so the row times the SCAN,
      // then the manifest-only grouped counts, which must be ~flat
      def timeWarm(name: String, fn: (SparkSession, String) => DataFrame): Unit =
        if (sel(name)) for ((label, dir) <-
            Seq("1x" -> "/root/testdata/sf0.1", "10x" -> evDir)) {
          fn(spark, dir).count() // build the store outside the window
          val t0 = System.nanoTime()
          val rows = fn(spark, dir).count()
          println(f"[scale] $name%-22s $label%3s  ${(System.nanoTime() - t0) / 1e9}%7.2f s  ($rows rows)")
          spark.catalog.clearCache()
        }
      timeWarm("eventlog_scan (q281)", graft.queries.Formats.q281EventlogScan)
      timeWarm("eventlog_types (q283)",
        graft.queries.Formats.q283EventlogTypeCounts)
      // round-9 rows: the compacted-store record aggregate (q284, linear
      // in bytes), the manifest-only day profile (q285, driver-side,
      // ~flat), the as-of exec composed over the V2 source (q286), the
      // runtime-pruned join (q287, tracks the SURVIVING 2/5 of files),
      // the manifest-only grouped sums (q288, zero file opens — flat),
      // and the storage-partitioned self-join (q289, no shuffle: linear).
      // q284/q286/q289 time a COLLECT: a count() over their aggregates
      // prunes to metadata-only plans and would time the wrong thing
      def timeWarmC(name: String, fn: (SparkSession, String) => DataFrame): Unit =
        if (sel(name)) for ((label, dir) <-
            Seq("1x" -> "/root/testdata/sf0.1", "10x" -> evDir)) {
          fn(spark, dir).collect() // build the store outside the window
          val t0 = System.nanoTime()
          val rows = fn(spark, dir).collect().length
          println(f"[scale] $name%-22s $label%3s  ${(System.nanoTime() - t0) / 1e9}%7.2f s  ($rows rows)")
          spark.catalog.clearCache()
        }
      timeWarmC("eventlog_compacted (q284)",
        graft.queries.Formats.q284EventlogCompacted)
      timeWarm("eventlog_dayprofile (q285)",
        graft.queries.Formats.q285EventlogDayProfile)
      timeWarmC("eventlog_asof (q286)", graft.queries.Formats.q286EventlogAsof)
      timeWarm("eventlog_runtime (q287)",
        graft.queries.Formats.q287EventlogRuntimePrune)
      timeWarmC("eventlog_sums (q288)",
        graft.queries.Formats.q288EventlogTypeSums)
      timeWarmC("eventlog_spj (q289)", graft.queries.Formats.q289EventlogSpj)
      // round-9 second wave: snapshot/changes planning (manifest truth,
      // then the same pruned readers over the slice — the slice is half
      // the store at both sizes), retention-delete survivors, the
      // streaming-sink store read-back, the offset skip (boundary seek
      // + never-planned leading files), and the two metadata-only
      // surfaces (history, SQL VERSION AS OF = q292's plan)
      timeWarmC("eventlog_timetravel (q292)",
        graft.queries.Formats.q292EventlogTimeTravel)
      timeWarmC("eventlog_changes (q293)",
        graft.queries.Formats.q293EventlogChanges)
      timeWarmC("eventlog_retention (q294)",
        graft.queries.Formats.q294EventlogRetention)
      timeWarmC("eventlog_streamsink (q295)",
        graft.queries.Formats.q295EventlogStreamSink)
      timeWarmC("eventlog_offset (q296)",
        graft.queries.Formats.q296EventlogOffset)
      timeWarmC("eventlog_history (q297)",
        graft.queries.Formats.q297EventlogHistory)
      timeWarmC("eventlog_sql_asof (q298)",
        graft.queries.Formats.q298EventlogSqlAsof)
      // round-9 third wave: the post-merge aggregate (q301 — the merge
      // itself runs in the warm pass, timed separately below), the
      // user-range aggregate over the z-ordered layout (q302 — survivors
      // ∝ selectivity), the CDC drain (q303 — re-drains both commits per
      // call: linear in commit bytes), and the key-lane point lookup
      // (q304 — plans ONE file at both sizes: must be flat)
      timeWarmC("eventlog_merge (q301)",
        graft.queries.Formats.q301EventlogMerge)
      timeWarmC("eventlog_zorder (q302)",
        graft.queries.Formats.q302EventlogZorder)
      timeWarmC("eventlog_cdc (q303)", graft.queries.Formats.q303EventlogCdc)
      timeWarmC("eventlog_lookup (q304)",
        graft.queries.Formats.q304EventlogPointLookup)
      // the MERGE COST itself: a 2-day key batch against the
      // day-per-file store — the key lane holds candidates to the two
      // touched days at BOTH sizes; decode cost tracks their bytes
      // (10× rows per day at 10×), never the store
      if (sel("eventlog_merge_cost")) {
        // the 10× leg interleaves replica ids (id*10+k) instead of
        // offsetting by k·n: a chronological feed's ids grow with ts,
        // so the honest 10× of a sequential-id store keeps per-day id
        // ranges tight and DISJOINT — the layout the key lane prunes.
        // (The evDir offset blow-up makes every file span the whole id
        // space — that scattered-key case is the bloom lane's territory
        // and is covered as the bounds-less path in EventLogKeyLaneSpec.)
        val ev1x = graft.sources.Tables.events(spark, "/root/testdata/sf0.1")
          .transform(graft.queries.Formats.eventlogRows)
        for ((label, ev) <- Seq(
            "1x" -> ev1x,
            "10x" -> (0 until 10).map(k =>
              ev1x.withColumn("event_id", col("event_id") * 10L + lit(k.toLong))
                .withColumn("user_id", col("user_id") + lit(k * 10000000L)))
              .reduce(_ unionByName _))) {
          val store = java.nio.file.Files.createTempDirectory("scale_gelm").toString
          ev.withColumn("__day", expr("ts_us div 86400000000"))
            .repartition(col("__day")).drop("__day")
            .write.format("graft-eventlog").mode("append").save(store)
          val dayLo = ev.agg(min(expr("ts_us div 86400000000"))).head.getLong(0)
          val batch = ev.where(expr(s"ts_us div 86400000000 <= ${dayLo + 1}") &&
            col("event_id") % 7 === 0)
            .withColumn("cents", col("cents") + 1L)
          val t0 = System.nanoTime()
          val st = graft.sources.v2.EventLogMerge.upsert(spark, store, batch)
          println(f"[scale] eventlog_merge_cost   $label%3s  ${(System.nanoTime() - t0) / 1e9}%7.2f s  " +
            s"(${st.matched} matched, ${st.candidateFiles} candidates of " +
            s"${graft.sources.v2.EventLog.listFiles(store).size} files)")
        }
      }
      // the BLOOM-GATED merge on the SCATTERED-key 10× store (the evDir
      // offset blow-up makes every file's id RANGE span the whole key
      // space — ranges admit all 30 files): sidecars must clear the 28
      // files that hold none of the 2-day batch's keys before any decode
      if (sel("eventlog_bloom_cost")) {
        for ((label, dir) <- Seq("1x" -> "/root/testdata/sf0.1", "10x" -> evDir)) {
          val store = java.nio.file.Files.createTempDirectory("scale_gelbl").toString
          val ev = graft.sources.Tables.events(spark, dir)
            .transform(graft.queries.Formats.eventlogRows)
          ev.withColumn("__day", expr("ts_us div 86400000000"))
            .repartition(col("__day")).drop("__day")
            .write.format("graft-eventlog").mode("append").save(store)
          graft.sources.v2.EventLogBloom.build(spark, store)
          val dayLo = ev.agg(min(expr("ts_us div 86400000000"))).head.getLong(0)
          val batch = ev.where(expr(s"ts_us div 86400000000 <= ${dayLo + 1}") &&
            col("event_id") % 7 === 0)
            .withColumn("cents", col("cents") + 1L)
          val t0 = System.nanoTime()
          val st = graft.sources.v2.EventLogMerge.upsert(spark, store, batch)
          println(f"[scale] eventlog_bloom_cost   $label%3s  ${(System.nanoTime() - t0) / 1e9}%7.2f s  " +
            s"(${st.matched} matched, ${st.candidateFiles} candidates, " +
            s"${st.bloomSkipped} bloom-cleared, ${st.rewrittenFiles} rewritten)")
        }
      }
      // the Z-ORDER CLUSTERING COST: fragmented store re-laid out along
      // the day Z-curve — in-task day sort, linear-ish in bytes with the
      // O(n log n) sort on top, executor-parallel by day
      if (sel("eventlog_zorder_cost")) {
        for ((label, dir) <- Seq("1x" -> "/root/testdata/sf0.1", "10x" -> evDir)) {
          val frag = java.nio.file.Files.createTempDirectory("scale_gelz").toString
          val ev = graft.sources.Tables.events(spark, dir)
            .transform(graft.queries.Formats.eventlogRows)
          (0 until 3).foreach { k =>
            ev.where(pmod(col("user_id"), lit(3)) === k)
              .withColumn("__day", expr("ts_us div 86400000000"))
              .repartition(col("__day")).drop("__day")
              .write.format("graft-eventlog").mode("append").save(frag)
          }
          val total = ev.count()
          val days = ev.select(expr("ts_us div 86400000000")).distinct.count()
          val n0 = graft.sources.v2.EventLog.listFiles(frag).size
          val t0 = System.nanoTime()
          val st = graft.sources.v2.EventLogCompact.compact(spark, frag,
            maxRecordsPerFile = math.max(1L, total / (days * 4)).toInt,
            zorder = true)
          println(f"[scale] eventlog_zorder_cost  $label%3s  ${(System.nanoTime() - t0) / 1e9}%7.2f s  ($n0 -> ${st.filesAfter} files)")
        }
      }
      // compaction cost itself: 3-job fragmented store (~90 files)
      // merged to 30 — must scale with bytes, executor-parallel by day
      if (sel("eventlog_compact")) {
        for ((label, dir) <- Seq("1x" -> "/root/testdata/sf0.1", "10x" -> evDir)) {
          val frag = java.nio.file.Files.createTempDirectory("scale_gelc").toString
          val ev = graft.sources.Tables.events(spark, dir)
            .transform(graft.queries.Formats.eventlogRows)
          (0 until 3).foreach { k =>
            ev.where(pmod(col("user_id"), lit(3)) === k)
              .withColumn("__day", expr("ts_us div 86400000000"))
              .repartition(col("__day")).drop("__day")
              .write.format("graft-eventlog").mode("append").save(frag)
          }
          val n0 = graft.sources.v2.EventLog.listFiles(frag).size
          val t0 = System.nanoTime()
          val st = graft.sources.v2.EventLogCompact.compact(spark, frag)
          println(f"[scale] eventlog_compact      $label%3s  ${(System.nanoTime() - t0) / 1e9}%7.2f s  ($n0 -> ${st.filesAfter} files)")
        }
      }
      // the SHUFFLE-JOIN merge on the same day-clustered batch the
      // broadcast smoke uses: cost must track candidate files + batch
      // size (one routing shuffle on top of the broadcast path), and
      // stay linear at 10×
      if (sel("eventlog_shuffle_merge")) {
        for ((label, dir) <- Seq("1x" -> "/root/testdata/sf0.1", "10x" -> evDir)) {
          val store = java.nio.file.Files.createTempDirectory("scale_gelsm").toString
          val ev = graft.sources.Tables.events(spark, dir)
            .transform(graft.queries.Formats.eventlogRows)
          ev.withColumn("__day", expr("ts_us div 86400000000"))
            .repartition(col("__day")).drop("__day")
            .write.format("graft-eventlog").mode("append").save(store)
          val dayLo = ev.agg(min(expr("ts_us div 86400000000"))).head.getLong(0)
          val batch = ev.where(expr(s"ts_us div 86400000000 <= ${dayLo + 1}") &&
            col("event_id") % 7 === 0)
            .withColumn("cents", col("cents") + 1L)
          val t0 = System.nanoTime()
          val st = graft.sources.v2.EventLogMerge.upsertShuffle(spark, store, batch)
          println(f"[scale] eventlog_shuffle_merge $label%3s ${(System.nanoTime() - t0) / 1e9}%7.2f s  " +
            s"(${st.matched} matched, ${st.candidateFiles} candidates of " +
            s"${graft.sources.v2.EventLog.listFiles(store).size} files)")
        }
      }
      // DELETION-VECTOR delete: an interior predicate cutting inside
      // every file — cost is one decode+mask pass per cut file and
      // ZERO data rewrites, so it must track store bytes linearly
      if (sel("eventlog_dv_delete")) {
        for ((label, dir) <- Seq("1x" -> "/root/testdata/sf0.1", "10x" -> evDir)) {
          val store = java.nio.file.Files.createTempDirectory("scale_geldv").toString
          val ev = graft.sources.Tables.events(spark, dir)
            .transform(graft.queries.Formats.eventlogRows)
          ev.withColumn("__day", expr("ts_us div 86400000000"))
            .repartition(col("__day")).drop("__day")
            .write.format("graft-eventlog").mode("append").save(store)
          val name = s"scale_dv_${Integer.toHexString(store.hashCode)}"
          graft.sources.v2.GraftCatalog.register(spark, name, store)
          val userHi = ev.agg(max("user_id")).head.getLong(0) / 5
          val before = graft.sources.v2.EventLog.listFiles(store)
            .map(_.getName).toSet
          val t0 = System.nanoTime()
          spark.sql(s"DELETE FROM graft.$name WHERE user_id <= $userHi")
          val after = graft.sources.v2.EventLog.listFiles(store)
            .map(_.getName).toSet
          println(f"[scale] eventlog_dv_delete   $label%3s  ${(System.nanoTime() - t0) / 1e9}%7.2f s  " +
            s"(rewrites=${(before -- after).size}, files=${after.size})")
        }
      }
      // SQL UPDATE (copy-on-write): the runtime _file group filter must
      // bound the rewrite to matched files — a 2-day condition rewrites
      // ~2 days of files whatever the store size
      if (sel("eventlog_cow_update")) {
        for ((label, dir) <- Seq("1x" -> "/root/testdata/sf0.1", "10x" -> evDir)) {
          val store = java.nio.file.Files.createTempDirectory("scale_gelcw").toString
          val ev = graft.sources.Tables.events(spark, dir)
            .transform(graft.queries.Formats.eventlogRows)
          ev.withColumn("__day", expr("ts_us div 86400000000"))
            .repartition(col("__day")).drop("__day")
            .write.format("graft-eventlog").mode("append").save(store)
          val name = s"scale_cw_${Integer.toHexString(store.hashCode)}"
          graft.sources.v2.GraftCatalog.register(spark, name, store)
          val dayLo = ev.agg(min(expr("ts_us div 86400000000"))).head.getLong(0)
          val before = graft.sources.v2.EventLog.listFiles(store)
            .map(_.getName).toSet
          val t0 = System.nanoTime()
          spark.sql(s"UPDATE graft.$name SET cents = cents + 1 " +
            s"WHERE ts_us div 86400000000 <= ${dayLo + 1} AND cents % 7 = 0")
          val after = graft.sources.v2.EventLog.listFiles(store)
            .map(_.getName).toSet
          println(f"[scale] eventlog_cow_update  $label%3s  ${(System.nanoTime() - t0) / 1e9}%7.2f s  " +
            s"(rewrote=${(before -- after).size} of ${before.size} files)")
        }
      }
    }
    spark.stop()
  }
}
