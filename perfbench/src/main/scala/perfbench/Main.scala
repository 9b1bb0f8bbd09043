package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One run: set up the workload, warm up,
  * measure for `--seconds`, check every timed result, print one JSON
  * line. `--trace 0` prints the end-to-end metrics; `--trace 1`
  * alternates untraced and traced operations and prints the per-layer
  * metrics (see perfbench/NOTES.md).
  *
  * Usage: Main --workload build|serve|update|dedup --seed N --seconds S
  *             --trace 0|1 --work DIR [--trace-out FILE] [--corrupt 1]
  */
object Main {
  val cpus: Int = Runtime.getRuntime.availableProcessors

  val Workloads = Seq("build", "serve", "update", "dedup")

  /** Full-size instance of a workload, or the small instance a traced
    * run uses for layers its own workload leaves idle (the checker's
    * self-check runs it too).
    */
  def make(name: String, ctx: Ctx, small: Boolean): Workload = {
    def sz(full: Int, sweep: Int) = if (small) sweep else full
    name match {
      case "build"  => new BuildWorkload(ctx, sz(2000, 800))
      case "serve"  => new ServeWorkload(ctx, sz(2000, 800))
      case "dedup"  => new DedupWorkload(ctx, sz(2000, 800))
      case "update" => new UpdateWorkload(ctx, sz(1500, 800), sz(150, 100),
        sz(75, 50), gens = if (small) 1 else 2, singlesPerGen = 3)
    }
  }

  /** Operations per cycle of a workload's pattern (serve: two singles
    * and one batch).
    */
  def cycle(name: String): Int = if (name == "serve") Serve.Every else 1

  /** Operations run before timing (JIT, codegen, caches). The first
    * build in a JVM takes about twice as long as later ones, and the
    * third is still about a fifth slower than the fourth; timed builds
    * start at the fourth.
    */
  def warmOps(name: String): Int =
    if (name == "serve") Serve.WarmCycles * Serve.Every else 3

  /** Operations a timed pass runs at least, however long they take:
    * three builds, so the median is over more than two.
    */
  def minTimed(name: String): Int = 3 * cycle(name)

  /** Operations a small traced instance runs: six serve cycles hold
    * twelve single calls, and every eleven reach every query shape.
    */
  def sweepOps(name: String): Int = if (name == "serve") 6 * Serve.Every else 1

  def pass(w: Workload, tr: Tracer, secs: Double, first: Int, minOps: Int): Acc = {
    val acc = new Acc
    val t0 = System.nanoTime()
    var i = first
    while (acc.ops < minOps || (System.nanoTime() - t0) / 1e9 < secs) {
      w.op(i, tr, acc)
      i += 1
    }
    acc
  }

  /** Untraced and traced cycles in turn, for `secs` in all, so both
    * see the same JIT and host state. Each traced operation runs in an
    * "op" span whose children are its timed calls. Returns (untraced,
    * traced) timings.
    */
  def alternate(w: Workload, tr: Tracer, secs: Double, first: Int,
                cycle: Int): (Acc, Acc) = {
    val off = new Tracer(tr.sc, on = false)
    val (plain, traced) = (new Acc, new Acc)
    val t0 = System.nanoTime()
    var i = first
    while (plain.ops == 0 || traced.ops == 0 || (System.nanoTime() - t0) / 1e9 < secs) {
      if ((i - first) / cycle % 2 == 0) w.op(i, off, plain)
      else tr.span("op", i)(w.op(i, tr, traced))
      i += 1
    }
    (plain, traced)
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = o.getOrElse("workload", "")
    require(Workloads.contains(name), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = o("seed").toLong
    val secs = o("seconds").toDouble
    val traced = o.getOrElse("trace", "0") == "1"
    val work = o("work")
    val ctlBefore = if (traced) graft.Bench.cpuControl(cpus) else 0.0

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (2 * cpus).toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val corrupt = o.getOrElse("corrupt", "0") == "1"
    val checks = new Checks(corrupt)
    val ctx = new Ctx(spark, seed, s"$work/main", checks)
    val w = make(name, ctx, small = corrupt)

    val setupReps = (0 until w.setupReps).map(r => Timed(w.setup(r))._2)
    val (_, prepSecs) = Timed {
      w.expect()
      pass(w, new Tracer(spark.sparkContext, on = false), 0, 0, warmOps(name))
    }
    val setupS = Timed.median(setupReps) + prepSecs

    val metrics: Seq[(String, Double)] =
      if (!traced) {
        val (plain, plainSecs) = Timed(pass(w, new Tracer(spark.sparkContext, on = false),
          secs, warmOps(name), minTimed(name)))
        System.err.println(f"perfbench: set-up reps ${setupReps.map(x => f"$x%.1f").mkString(" ")} s, " +
          f"expectations and warm-up $prepSecs%.1f s, measured ${plain.ops} ops in $plainSecs%.1f s; " +
          s"rates ${plain.rates.map(x => f"$x%.0f").mkString(" ")}; " +
          s"call ms ${plain.callMs.map(x => f"$x%.0f").mkString(" ")}")
        Seq(
          "setup_s" -> setupS,
          "throughput_per_s" -> plain.rate,
          "call_p50_ms" -> Timed.median(plain.callMs.toSeq))
      } else {
        val tr = new Tracer(spark.sparkContext, on = true)
        val (plain, acc) = alternate(w, tr, secs, warmOps(name), cycle(name))
        val own = w.layers(tr, acc)
        val sweep = Workloads.filterNot(_ == name).flatMap { other =>
          val c = new Ctx(spark, seed, s"$work/sweep-$other", checks)
          val s = make(other, c, small = true)
          s.setup(0)
          s.expect()
          s.layers(tr, pass(s, tr, 0, 0, sweepOps(other)))
        }
        // the timed calls inside each traced operation, not its checks
        val ops = tr.named("op").map(_.id).toSet
        val op = SpanStats.perCall(tr.spans.filter(s => ops(s.parent)).toSeq, ops.size)
        val layerMetrics = (own ++ sweep).toSeq ++
          Seq("jobs", "tasks", "task_cpu_s", "gc_s", "input_mb", "shuffle_write_mb",
            "driver_gap_s").map(k => s"workload.${k}_per_op" -> op(k)) ++ Seq(
          "workload.slot_busy_share" -> op("slot_busy_share"),
          "trace.overhead_share" -> (plain.rate / acc.rate - 1.0),
          "host.before.ctl_hash_per_s" -> ctlBefore,
          "host.after.ctl_hash_per_s" -> graft.Bench.cpuControl(cpus),
          "error_share" -> checks.failed.toDouble / math.max(1L, checks.attempted),
          "peak_rss_mb" -> Rss.peakMb)
        o.get("trace-out").foreach(f => TraceFile.write(f, name, seed, tr, layerMetrics))
        layerMetrics
      }
    val ok = checks.failed == 0
    if (!ok) System.err.println(
      s"${checks.failed} of ${checks.attempted} checked operations failed")
    println(Json.result(ok, checks.attempted, checks.failed, metrics))
    spark.stop()
  }
}

object Rss {
  /** Process high-water resident set size (VmHWM), in MB. */
  def peakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
