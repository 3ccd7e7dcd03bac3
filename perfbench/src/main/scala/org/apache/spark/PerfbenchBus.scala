package org.apache.spark

/** Lets a span wait until every listener event posted so far has been
  * delivered, so counters read at the span's end include its own jobs. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
