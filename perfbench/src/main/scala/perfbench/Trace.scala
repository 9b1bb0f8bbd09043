package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Cumulative Spark work counters at one instant. */
final case class Counters(jobs: Long = 0, tasks: Long = 0, taskMs: Long = 0,
                          cpuNs: Long = 0, gcMs: Long = 0,
                          inputBytes: Long = 0, shuffleReadBytes: Long = 0,
                          shuffleWriteBytes: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    taskMs - o.taskMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    inputBytes - o.inputBytes, shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
    taskMs + o.taskMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    inputBytes + o.inputBytes, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes)
}

/** Counts jobs, tasks, task/CPU/GC time, input and shuffle bytes, and
  * keeps every job's wall interval so that the time no job was running
  * (the driver gap: planning, listing, commits, driver-side work) can
  * be read for any window.
  */
final class Listener extends SparkListener {
  private var c = Counters()
  private val open = scala.collection.mutable.Map.empty[Int, Long]
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    open(e.jobId) = e.time
    c = c.copy(jobs = c.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c =
      if (m == null) c.copy(tasks = c.tasks + 1)
      else c + Counters(0, 1, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten)
  }

  def counters: Counters = synchronized(c)

  /** Milliseconds of [a, b) covered by at least one running job. */
  def busyMs(a: Long, b: Long): Long = synchronized {
    val clipped = (intervals ++ open.values.map(s => (s, b)))
      .map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy + (curE - curS)
  }
}

/** One call into a layer: its wall interval, the span it ran inside,
  * the timed operation it belongs to, and the Spark work it caused.
  */
final case class Span(id: Int, name: String, parent: Int, op: Long,
                      startMs: Long, endMs: Long, secs: Double,
                      work: Counters, gapMs: Long)

/** Records spans around the benchmark's calls into the program. Its
  * listener is registered only while an outermost span runs, so calls
  * outside spans (the untraced cycles of a traced run) pay no event
  * delivery to it. Off, `span` only runs its body.
  */
final class Tracer(val sc: SparkContext, val on: Boolean) {
  private val listener = if (on) new Listener else null
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack = List.empty[Int]

  def span[T](name: String, op: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      PerfbenchBus.drain(sc)
      val outermost = stack.isEmpty
      if (outermost) sc.addSparkListener(listener)
      try {
        val id = nextId
        nextId += 1
        val parent = stack.headOption.getOrElse(-1)
        val c0 = listener.counters
        val ms0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        stack = id :: stack
        val r = try body finally stack = stack.tail
        val secs = (System.nanoTime() - t0) / 1e9
        val ms1 = System.currentTimeMillis()
        PerfbenchBus.drain(sc)
        spans += Span(id, name, parent, op, ms0, ms1, secs,
          listener.counters - c0, (ms1 - ms0) - listener.busyMs(ms0, ms1))
        r
      } finally if (outermost) sc.removeSparkListener(listener)
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def totals: Counters =
    if (on) { PerfbenchBus.drain(sc); listener.counters } else Counters()
}

/** Aggregates over a set of spans, as layer metrics. */
object SpanStats {
  /** Totals divided by `calls` (by default, one call per span). */
  def perCall(ss: Seq[Span], calls: Int = -1): Map[String, Double] = {
    val n = math.max(1, if (calls > 0) calls else ss.size).toDouble
    val w = ss.map(_.work).foldLeft(Counters())(_ + _)
    val secs = ss.map(_.secs).sum
    Map(
      "s" -> secs / n,
      "jobs" -> w.jobs / n,
      "tasks" -> w.tasks / n,
      "task_s" -> w.taskMs / 1e3 / n,
      "task_cpu_s" -> w.cpuNs / 1e9 / n,
      "gc_s" -> w.gcMs / 1e3 / n,
      "input_mb" -> w.inputBytes / 1e6 / n,
      "shuffle_read_mb" -> w.shuffleReadBytes / 1e6 / n,
      "shuffle_write_mb" -> w.shuffleWriteBytes / 1e6 / n,
      "driver_gap_s" -> ss.map(_.gapMs).sum / 1e3 / n,
      "slot_busy_share" ->
        (if (secs <= 0) 0.0 else w.taskMs / 1e3 / (secs * Main.cpus)))
  }
}
