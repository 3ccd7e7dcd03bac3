package perfbench

import java.io.{FileWriter, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.time.Instant
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.{PerfbenchBus, SparkConf, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The benchmark's JSON-lines event log, shared by the listeners and the
  * spans of one JVM. The path comes from `spark.perfbench.log`. */
object Probe {
  private var out: PrintWriter = _

  def open(path: String): Unit = synchronized {
    if (out == null && path != null && path.nonEmpty)
      out = new PrintWriter(new FileWriter(path, true))
  }

  def emit(fields: (String, Any)*): Unit = synchronized {
    if (out != null) {
      out.println(fields.map { case (k, v) => s""""$k":${json(v)}""" }
        .mkString("{", ",", "}"))
      out.flush()
    }
  }

  private def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case m: Map[_, _] =>
      m.map { case (k, x) => s""""$k":${json(x)}""" }.mkString("{", ",", "}")
    case o => o.toString
  }

  /** Wall clock in epoch seconds, microsecond resolution. */
  def now(): Double = { val i = Instant.now(); i.getEpochSecond + i.getNano / 1e9 }

  // ---------------------------------------------------------------- heap

  private val oldGenPeak = new AtomicLong(0L)
  private val gcMillis = new AtomicLong(0L)
  @volatile private var gcWatching = false

  /** Old-generation usage after each garbage collection; the peak of that
    * is the live-set high-water mark. */
  def watchGc(): Unit = synchronized {
    if (!gcWatching) {
      gcWatching = true
      val listener = new NotificationListener {
        def handleNotification(n: Notification, hb: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            gcMillis.addAndGet(info.getGcInfo.getDuration)
            info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if pool.contains("Old Gen") || pool.contains("Tenured") => u.getUsed }
              .foreach(used => oldGenPeak.accumulateAndGet(used, math.max))
          }
      }
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
        case _ => ()
      }
    }
  }

  private def oldGenUsed(): Long = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP &&
      (p.getName.contains("Old Gen") || p.getName.contains("Tenured")))
    .map(_.getUsage.getUsed).sum

  /** Peak old-generation usage after GC, in MiB. When no collection has
    * reached the old generation yet, the current old-generation usage. */
  def peakOldGenMb(): Double = {
    val peak = oldGenPeak.get()
    (if (peak > 0) peak else oldGenUsed()) / 1048576.0
  }

  def gcSeconds(): Double = gcMillis.get() / 1e3

  /** Old-generation usage right after a full collection, in MiB: the heap
    * the program retains. The second collection runs after Spark's context
    * cleaner has dropped the blocks whose owners the first one freed. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    oldGenUsed() / 1048576.0
  }

  /** Log the retained heap whenever the file `<log>.gc` appears (the
    * benchmark creates it once its timed window is over), then delete it. */
  def serveHeapRequests(logPath: String): Unit = synchronized {
    if (!heapServed && logPath.nonEmpty) {
      heapServed = true
      val request = java.nio.file.Paths.get(logPath + ".gc")
      val t = new Thread(() => while (true) {
        if (java.nio.file.Files.exists(request)) {
          emit("ev" -> "heap", "t" -> now(), "live_heap_mb" -> liveHeapMb())
          java.nio.file.Files.delete(request)
        }
        Thread.sleep(20)
      })
      t.setDaemon(true)
      t.start()
    }
  }
  @volatile private var heapServed = false

  // -------------------------------------------------------------- spans

  /** Time `body` as a span named `name`, with the Spark jobs it started.
    * A span is one log line: name, start, end, jobs, and its parent. */
  private val stack = new ThreadLocal[List[String]] { override def initialValue() = Nil }

  def span[T](sc: SparkContext, name: String, attrs: (String, Any)*)(body: => T): T = {
    PerfbenchBus.drain(sc)
    val jobs0 = Engine.jobs.get()
    val parent = stack.get().headOption.orNull
    stack.set(name :: stack.get())
    val t0 = now()
    try body
    finally {
      val t1 = now()
      stack.set(stack.get().tail)
      PerfbenchBus.drain(sc)
      emit(Seq("ev" -> "span", "name" -> name, "parent" -> parent, "t0" -> t0,
        "t1" -> t1, "jobs" -> (Engine.jobs.get() - jobs0)) ++ attrs: _*)
    }
  }
}

/** Spark engine counters, summed over the application. Attached through
  * `spark.extraListeners` in traced runs only. */
object Engine {
  val jobs, stages, tasks = new AtomicLong(0L)
  val runMs, shuffleRead, shuffleWrite, spill = new AtomicLong(0L)
  val cpuSeconds = new DoubleAdder
  /** Wall-clock extent of the jobs started from `selectKModel`, told
    * apart by their call site. Inside a streaming micro-batch every job
    * carries the stream's call site instead, so there this stays 0. */
  private val selectKJobs = mutable.Set.empty[Int]
  val selectKSeconds = new DoubleAdder
  private var selectKFrom = 0.0

  def snapshot(): Map[String, Any] = Map(
    "jobs" -> jobs.get(), "stages" -> stages.get(), "tasks" -> tasks.get(),
    "executor_run_s" -> runMs.get() / 1e3, "executor_cpu_s" -> cpuSeconds.sum(),
    "shuffle_read_bytes" -> shuffleRead.get(), "shuffle_write_bytes" -> shuffleWrite.get(),
    "spill_bytes" -> spill.get(), "gc_s" -> Probe.gcSeconds(),
    "select_k_s" -> selectKSeconds.sum())

  private[perfbench] def jobStarted(id: Int, selectK: Boolean, t: Double): Unit = synchronized {
    if (selectK) {
      if (selectKJobs.isEmpty) selectKFrom = t
      selectKJobs += id
    }
  }

  private[perfbench] def jobEnded(id: Int, t: Double): Unit = synchronized {
    // concurrent candidate fits overlap: count the union of their spans
    if (selectKJobs.remove(id) && selectKJobs.isEmpty) selectKSeconds.add(t - selectKFrom)
  }
}

class EngineListener(conf: SparkConf) extends SparkListener {
  Probe.open(conf.get("spark.perfbench.log", ""))
  Probe.watchGc()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    Engine.jobs.incrementAndGet()
    Engine.jobStarted(e.jobId,
      e.stageInfos.exists(_.details.contains("selectKModel")), e.time / 1e3)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Engine.jobEnded(e.jobId, e.time / 1e3)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Engine.stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Engine.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      Engine.runMs.addAndGet(m.executorRunTime)
      Engine.cpuSeconds.add(m.executorCpuTime / 1e9)
      Engine.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      Engine.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      Engine.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** One log line per streaming trigger: what it read, how long each phase
  * took, and the state store's size. This is also the benchmark's
  * completion signal for the app workloads, so it runs in every run. */
class ProgressLog(conf: SparkConf) extends StreamingQueryListener {
  Probe.open(conf.get("spark.perfbench.log", ""))
  Probe.watchGc()
  Probe.serveHeapRequests(conf.get("spark.perfbench.log", ""))
  import StreamingQueryListener._

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    Probe.emit("ev" -> "started", "t" -> Probe.now())

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }.withDefaultValue(0.0)
    val start = Instant.parse(p.timestamp)
    val st = p.stateOperators.toSeq
    Probe.emit(
      "ev" -> "batch", "t" -> Probe.now(), "batch" -> p.batchId,
      "t_start" -> (start.getEpochSecond + start.getNano / 1e9),
      "trigger_s" -> d("triggerExecution"),
      "input_rows" -> p.numInputRows,
      "add_batch_s" -> d("addBatch"), "planning_s" -> d("queryPlanning"),
      "source_s" -> (d("getBatch") + d("latestOffset")),
      "commit_s" -> (d("walCommit") + d("commitOffsets")),
      "rows_emitted" -> st.map(_.numRowsRemoved).sum,
      "state_rows" -> st.map(_.numRowsTotal).sum,
      "state_bytes" -> st.map(_.memoryUsedBytes).sum,
      "state_commit_s" -> st.map(_.commitTimeMs).sum / 1e3,
      "state_store_instances" -> st.map(_.numStateStoreInstances).sum,
      "shuffle_partitions" -> st.map(_.numShufflePartitions).sum,
      "old_gen_mb" -> Probe.peakOldGenMb())
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    Probe.emit("ev" -> "terminated", "t" -> Probe.now(),
      "error" -> e.exception.orNull)
}
