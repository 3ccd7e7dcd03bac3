package graft.outbreak

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkTestBase
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-job counts of the outbreak fit, the app's state load and increment,
  * pinned as upper bounds. On tables of a few hundred rows the fit's cost
  * is job scheduling, not arithmetic, so a change that adds jobs per fit
  * is a regression even when the outputs stay identical. Up to the fit's
  * driver cap each bound is the count measured with the features and the
  * whole model built on the driver from one collect of the tidy daily
  * table: what is left is that collect and, for the queries, the jobs of
  * the events aggregate in front of it. Above the cap the refit runs the
  * declined capped collect, the Spark feature front, MLlib's scaler and
  * PCA fits and one collect of the projected rows; the k selection, the
  * distance normalization and the scores run on the driver and add no
  * job. */
class JobCountSpec extends SparkTestBase {

  /** Jobs started while `body` runs, from any thread (a job group would
    * miss jobs submitted from pool threads, such as concurrent model
    * fits). Listener events arrive asynchronously, so the counter is read
    * only once every started job has ended and the count has held still
    * for a few polls; the same wait runs before `body`, to drain events
    * of earlier jobs. Suites run one at a time, so no other jobs mix in. */
  private def jobsOf(body: => Unit): Int = {
    val started = new AtomicInteger
    val ended = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()
    }
    def settle(): Unit = {
      var last = -1
      var still = 0
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (still < 5 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val now = started.get()
        still = if (now == last && ended.get() >= now) still + 1 else 0
        last = now
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      settle()
      started.set(0); ended.set(0)
      body
      settle()
      info(s"${started.get()} jobs")
      started.get()
    } finally sc.removeSparkListener(listener)
  }

  private val sf0001 = "/root/testdata/sf0.001"

  test("IncrementalOutbreak.fitFull on IncrementalOutbreakSpec's 30-day table: at most 1 job") {
    val daily = IncrementalOutbreakSpec.mkDaily(spark, 1 to 30).cache()
    daily.count()
    val jobs = jobsOf(IncrementalOutbreak.fitFull(spark, daily, IncrementalOutbreakSpec.terms))
    daily.unpersist()
    assert(jobs <= 1, s"fitFull ran $jobs jobs")
  }

  test("fitFull over the driver cap, 300 days × 175 regions: at most 11 jobs") {
    val daily = IncrementalOutbreakSpec.overCap(spark, 1 to 300).cache()
    daily.count()
    val jobs = jobsOf(IncrementalOutbreak.fitFull(spark, daily, IncrementalOutbreakSpec.terms))
    daily.unpersist()
    assert(jobs <= 11, s"fitFull ran $jobs jobs")
  }

  test("saveState of fitFull's state on IncrementalOutbreakSpec's 30-day table: at most 2 jobs") {
    val daily = IncrementalOutbreakSpec.mkDaily(spark, 1 to 30).cache()
    daily.count()
    val (_, model, state) = IncrementalOutbreak.fitFull(spark, daily, IncrementalOutbreakSpec.terms)
    val dir = java.nio.file.Files.createTempDirectory("save-jobs").toString
    val jobs = jobsOf(IncrementalOutbreak.saveState(spark, dir, model, state))
    daily.unpersist()
    assert(jobs <= 2, s"saveState ran $jobs jobs")
  }

  test("loadState of a saved state: 1 job, the model row's") {
    val (_, model, state) = IncrementalOutbreak.fitFull(spark,
      IncrementalOutbreakSpec.mkDaily(spark, 1 to 30), IncrementalOutbreakSpec.terms)
    val dir = java.nio.file.Files.createTempDirectory("load-jobs").toString
    IncrementalOutbreak.saveState(spark, dir, model, state)
    var loaded: Option[(IncrementalOutbreak.OutbreakModel, DataFrame)] = None
    val jobs = jobsOf { loaded = IncrementalOutbreak.loadState(spark, dir) }
    assert(jobs == 1, s"loadState ran $jobs jobs")
    assert(loaded.map(_._1) == Some(model))
    assert(loaded.get._2.collect().toSet == state.collect().toSet)
  }

  test("loadState of a missing state: None, 0 jobs, nothing logged") {
    val dir = java.nio.file.Files.createTempDirectory("load-missing").toString
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("load-missing", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        logged.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(capture)
    var loaded: Option[(IncrementalOutbreak.OutbreakModel, DataFrame)] = null
    val jobs = try jobsOf { loaded = IncrementalOutbreak.loadState(spark, s"$dir/state") }
      finally { root.removeAppender(capture); capture.stop() }
    assert(loaded == None)
    assert(jobs == 0, s"loadState ran $jobs jobs")
    assert(logged.isEmpty, s"loadState logged: $logged")
  }

  test("one increment on IncrementalOutbreakSpec's 30-day table plus 3 days: " +
      "at most 5 jobs, none with an Exchange") {
    val (_, fitted, fittedState) = IncrementalOutbreak.fitFull(spark,
      IncrementalOutbreakSpec.mkDaily(spark, 1 to 30), IncrementalOutbreakSpec.terms)
    val dir = java.nio.file.Files.createTempDirectory("increment-jobs").toString
    IncrementalOutbreak.saveState(spark, dir, fitted, fittedState)
    val Some((model, state)) = IncrementalOutbreak.loadState(spark, dir): @unchecked
    val batch = IncrementalOutbreakSpec.mkDaily(spark, 31 to 33).cache()
    batch.count()
    // the executed plan of every action: scores, score write, state save
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val planListener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(s"$action: ${qe.executedPlan}")
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(planListener)
    val jobs = try jobsOf {
      val (scores, newState) = IncrementalOutbreak.scoreIncrement(spark, batch, model, state)
      scores.write.parquet(s"$dir/scores")
      IncrementalOutbreak.saveState(spark, dir, model.copy(lastBatchId = 1L), newState)
    } finally spark.listenerManager.unregister(planListener)
    batch.unpersist()
    assert(jobs <= 5, s"the increment ran $jobs jobs")
    assert(plans.size >= 3, s"plans seen: $plans")
    plans.forEach(p => assert(!p.contains("Exchange"), p))
  }

  test("q41_outbreak_scores query function at sf0.001: at most 3 jobs") {
    val jobs = jobsOf(graft.SparkEntry.queries("q41_outbreak_scores")(spark, sf0001))
    assert(jobs <= 3, s"q41 build ran $jobs jobs")
  }

  test("q37_outbreak_pca_scores query function at sf0.001: at most 3 jobs") {
    val jobs = jobsOf(graft.SparkEntry.queries("q37_outbreak_pca_scores")(spark, sf0001))
    assert(jobs <= 3, s"q37 build ran $jobs jobs")
  }
}
