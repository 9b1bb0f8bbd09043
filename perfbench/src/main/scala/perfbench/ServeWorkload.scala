package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.index._
import graft.query.{QuerySpec, Searcher}

/** `serve`: a closed loop with one client over one index built in
  * set-up (salting engaged). Every third operation is a batched call
  * of 512 queries; the rest are single-query calls. Single calls are
  * dominated by fixed per-query overhead, batched calls by scan and
  * WAND, so a driver-local fast path should move the first only.
  */
final class ServeWorkload(ctx: Ctx, n: Int) extends Workload(ctx) {
  private val pages = new PagesInput(ctx, n)
  private var dir: String = _
  // the warm-up cycles draw their queries from streams of another seed
  // than the timed streams
  private val warmSingles = Inputs.queries(ctx.seed + 1, 0L, 48)
  private val warmBatches = (0 until 3).map(b => Inputs.queries(ctx.seed + 1,
    200000L + 10000L * b, Serve.Batch, Inputs.OrWeights))
  private val warm = warmSingles +: warmBatches
  private val singles = Inputs.queries(ctx.seed, 1000L, 400)
  private val batches = (0 until 4).map(b => Inputs.queries(ctx.seed,
    100000L + 10000L * b, Serve.Batch, Inputs.OrWeights))
  private val want = scala.collection.mutable.Map.empty[Long, Seq[(Long, Double)]]

  def setupReps = 1
  def setup(rep: Int): Unit = {
    pages.write(s"serve/pages$rep")
    dir = ctx.dir(s"serve/idx$rep")
    IndexBuilder.build(DocIds.fromPages(pages.ds, ctx.parts, useExtractor = true),
      dir, Cfg.index)
  }

  def expect(): Unit = {
    val all = singles ++ batches.flatten ++ warm.flatten
    val corpus = Expect.corpus(pages.docs, all.flatMap(_.terms).toSet)
    want ++= Expect.allHits(corpus, all, Cfg.K)
    // a serving engine's dictionary cache holds the terms it is asked
    // for; filling it here keeps cold lookups (one extra Spark job
    // each) from splitting single-call latencies into two modes
    Searcher.termMetas(spark, Seq(dir), all.flatMap(_.terms))
  }

  def op(i: Int, tr: Tracer, acc: Acc): Unit = {
    acc.ops += 1
    val warmUp = i < Serve.WarmCycles * Serve.Every
    if (i % Serve.Every == Serve.Every - 1) {
      val bs = if (warmUp) warmBatches else batches
      val qs = bs((i / Serve.Every) % bs.size)
      val (got, secs) = Timed {
        tr.span("query.Searcher.batch", i)(Search.run(spark, Seq(dir), qs))
      }
      acc.add(qs.size, secs)
      ctx.checks(Search.allSame(ctx.checks.hits(got), qs, want),
        s"serve batch $i differs from the oracle")
    } else {
      val qs = if (warmUp) warmSingles else singles
      val q = qs((i - i / Serve.Every) % qs.size)
      val (got, secs) = Timed {
        tr.span("query.Searcher.single", i) {
          Searcher.search(spark, dir, Seq(QuerySpec(q.id, q.text)), Cfg.K,
            q.mode, offset = q.offset).collect().toSeq
        }
      }
      acc.callMs += secs * 1e3
      acc.shapeMs.getOrElseUpdate(q.shape, ArrayBuffer.empty) += secs * 1e3
      ctx.checks(Expect.same(ctx.checks.hits(got), want(q.id), q.offset),
        s"serve query ${q.id} '${q.text}' (${q.shape}) differs from the oracle")
    }
  }

  def layers(tr: Tracer, acc: Acc): Map[String, Double] = {
    import spark.implicits._
    val one = tr.named("query.Searcher.single")
    val s = SpanStats.perCall(one)
    val b = SpanStats.perCall(tr.named("query.Searcher.batch"))
    val p50 = Timed.median(acc.callMs.toSeq)
    val perQuery = Map(
      "jobs" -> s("jobs"), "tasks" -> s("tasks"), "task_ms" -> s("task_s") * 1e3,
      "driver_gap_ms" -> s("driver_gap_s") * 1e3,
      "input_kb" -> s("input_mb") * 1e3,
      "shuffle_kb" -> (s("shuffle_read_mb") + s("shuffle_write_mb")) * 1e3)
      .map { case (k, v) => s"query.Searcher.${k}_per_query" -> v }
    val shapes = Inputs.Shapes.map(sh => s"query.Searcher.$sh.p50_ms" ->
      Timed.median(acc.shapeMs.getOrElse(sh, ArrayBuffer.empty[Double]).toSeq)).toMap
    // dictionary lookups: rare terms no stream uses (cold), then again (warm)
    val fresh = (0 until 5).map(j => graft.data.PagesGen.word(45000 + j))
    val cold = fresh.map(t => Timed(Searcher.termMetas(spark, Seq(dir), Seq(t)))._2 * 1e3)
    val warmMs = (0 until 4).flatMap(_ => fresh.map(t =>
      Timed(Searcher.termMetas(spark, Seq(dir), Seq(t)))._2 * 1e3))
    // WAND on the driver over the blocks of a sample of queries with hits
    val sample = singles.filter(q => want(q.id).nonEmpty)
      .groupBy(_.shape).values.flatMap(_.take(2)).toSeq
    val runs = sample.map { q =>
      val (top, secs, nb) = Layers.wand(ctx, dir, q)
      ctx.checks(top == want(q.id), s"driver-side Wand differs on query ${q.id} '${q.text}'")
      (secs, nb)
    }
    val wandMs = Timed.median(runs.map(_._1 * 1e3))
    val wandMean = runs.map(_._1 * 1e3).sum / math.max(1, runs.size)
    // batches hold OR queries at offset 0 only
    val orMs = sample.zip(runs).collect { case (q, (secs, _)) if !q.and && q.offset == 0 => secs * 1e3 }
    val batchMs = if (acc.rate <= 0) 0.0 else Serve.Batch / acc.rate * 1e3
    val blocks = spark.read.parquet(s"$dir/segments").as[SegmentBlock].collect()
    perQuery ++ shapes ++ Inputs.queryProps(singles, warm.flatten, q => want(q.id).isEmpty) ++ Map(
      "query.Searcher.single_p50_ms" -> p50,
      "query.Searcher.single_p95_ms" -> Timed.quantile(acc.callMs.toSeq, 0.95),
      "query.Searcher.single_samples" -> acc.callMs.size.toDouble,
      "query.Searcher.batch_queries_per_s" -> acc.rate,
      "query.Searcher.batch_tasks" -> b("tasks"),
      "query.Searcher.batch_task_s" -> b("task_s"),
      "query.Searcher.batch_driver_gap_s" -> b("driver_gap_s"),
      "query.Searcher.dict_lookup_cold_ms" -> Timed.median(cold),
      "query.Searcher.dict_lookup_warm_ms" -> Timed.median(warmMs),
      "query.Searcher.batch_fixed_share" -> (if (batchMs <= 0) 0.0 else p50 / batchMs),
      "query.Wand.ms_per_query" -> wandMean,
      "query.Wand.share_of_batch" ->
        (if (batchMs <= 0 || orMs.isEmpty) 0.0
         else orMs.sum / orMs.size * Serve.Batch / (batchMs * Main.cpus)),
      "query.Wand.blocks_per_query" -> runs.map(_._2.toDouble).sum / math.max(1, runs.size),
      "query.Wand.share_of_p50" -> (if (p50 <= 0) 0.0 else wandMs / p50),
      "index.Codec.decode_mpostings_per_s" -> Layers.decodeRate(blocks))
  }
}

object Serve {
  /** Queries per batched call: enough that the call's fixed cost (about
    * one single call's latency) is under a third of it.
    */
  val Batch = 512
  /** Every Every-th operation is a batched call. Two single calls per
    * batch give the batched calls about 60% of the measured time: their
    * rates follow the host's speed more than single-call latencies do,
    * so their median needs the larger share.
    */
  val Every = 3
  /** Cycles run before timing, over the warm-up streams: call times
    * fall steeply over the first fifteen or so calls of a JVM (JIT),
    * and the first batched calls are up to half slower than later ones.
    */
  val WarmCycles = 6

}
