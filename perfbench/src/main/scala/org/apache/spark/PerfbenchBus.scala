package org.apache.spark

/** Lets the benchmark wait until the listener bus has delivered every
  * event posted so far. Spark calls return before their job-end and
  * task-end events reach listeners, so a span that reads listener
  * counters right after a call would miss its own tail.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
