package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The run's result line and trace file. */
object Json {

  /** Unit of a metric, read off the words of its last name part. */
  def unit(name: String): String = {
    val w = name.split('.').last.split('_').toSeq
    if (w.endsWith(Seq("per", "s")))
      if (w.head == "mb") "MB/s"
      else if (w.contains("mpostings")) "Mpostings/s"
      else "1/s"
    else if (w.contains("ms")) "ms"
    else if (w.contains("s")) "s"
    else if (w.contains("mb")) "MB"
    else if (w.contains("kb")) "kB"
    else if (w.exists(Set("share", "recall", "bytes", "bound"))) "ratio"
    else "count"
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def metrics(ms: Seq[(String, Double)]): String =
    ms.map { case (k, v) =>
      s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(unit(k))}}"
    }.mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Long, failed: Long,
             ms: Seq[(String, Double)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${metrics(ms)}}"""
}

/** Writes the traced run's listener counters (the work of every span),
  * spans and per-layer metrics as one JSON file.
  */
object TraceFile {
  def write(path: String, workload: String, seed: Long, tr: Tracer,
            ms: Seq[(String, Double)]): Unit = {
    val t = tr.totals
    val spans = tr.spans.sortBy(_.id).map { s =>
      Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "op" -> s.op.toString,
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "secs" -> Json.num(s.secs), "jobs" -> s.work.jobs.toString,
        "tasks" -> s.work.tasks.toString, "task_ms" -> s.work.taskMs.toString,
        "cpu_ns" -> s.work.cpuNs.toString, "gc_ms" -> s.work.gcMs.toString,
        "input_bytes" -> s.work.inputBytes.toString,
        "shuffle_read_bytes" -> s.work.shuffleReadBytes.toString,
        "shuffle_write_bytes" -> s.work.shuffleWriteBytes.toString,
        "driver_gap_ms" -> s.gapMs.toString)
        .map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
    }
    val body =
      s"""{"workload": ${Json.str(workload)}, "seed": $seed,
         |"listener": {"jobs": ${t.jobs}, "tasks": ${t.tasks}, "task_ms": ${t.taskMs}, "cpu_ns": ${t.cpuNs}, "gc_ms": ${t.gcMs}, "input_bytes": ${t.inputBytes}, "shuffle_read_bytes": ${t.shuffleReadBytes}, "shuffle_write_bytes": ${t.shuffleWriteBytes}},
         |"metrics": ${Json.metrics(ms)},
         |"spans": [
         |${spans.mkString(",\n")}
         |]}
         |""".stripMargin
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, body.getBytes(StandardCharsets.UTF_8))
  }
}
