package perfbench

import org.apache.spark.sql.DataFrame

import graft.pipeline.Dedup

/** `dedup`: minhashLsh → clusters → dedupCorpus over a corpus with
  * planted near-duplicate clusters of skewed sizes plus self-loop
  * edges. The only workload where `pipeline.Dedup` and its `Adaptive`
  * width scopes do the work. No `graft.cc.*` conf is set, so the CC
  * path follows `Dedup.DefaultCcDriverThreshold`.
  */
final class DedupWorkload(ctx: Ctx, n: Int) extends Workload(ctx) {
  private val corpus = Inputs.dupCorpus(ctx.seed, n)
  private var dir: String = _
  private var planted: Set[(Long, Long)] = _
  private var found = Set.empty[(Long, Long)]
  private var edges = 0L

  def setupReps = 3
  def setup(rep: Int): Unit = {
    import spark.implicits._
    dir = ctx.dir(s"dedup/docs$rep")
    spark.createDataset(corpus.docs).toDF("doc_id", "text")
      .repartition(ctx.parts).write.mode("overwrite").parquet(dir)
  }

  def expect(): Unit =
    planted = corpus.docs.map(_._1).groupBy(id => corpus.cluster(id.toInt))
      .values.flatMap(ids => for (a <- ids; b <- ids if a < b) yield (a, b)).toSet

  def op(i: Int, tr: Tracer, acc: Acc): Unit = {
    import spark.implicits._
    val docs: DataFrame = spark.read.parquet(dir)
    val ((pairs, labels, kept), secs) = Timed {
      val pairs = tr.span("pipeline.Dedup.minhashLsh", i) {
        Dedup.minhashLsh(docs, "doc_id", "text", 16, 4, 0.5)
          .select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq
      }
      val edgeDf = spark.createDataset(pairs ++ corpus.selfLoops.map(d => (d, d)))
        .toDF("a", "b")
      val labels = tr.span("pipeline.Dedup.clusters", i) {
        Dedup.clusters(edgeDf, "a", "b").select("doc_id", "cluster_id")
          .as[(Long, Long)].collect().toMap
      }
      val kept = tr.span("pipeline.Dedup.dedupCorpus", i) {
        Dedup.dedupCorpus(docs, "doc_id", edgeDf, "a", "b")
          .select("doc_id").as[Long].collect().toSet
      }
      (pairs, labels, kept)
    }
    acc.ops += 1
    acc.add(n, secs)
    acc.callMs += secs * 1e3
    found = pairs.toSet
    edges = pairs.size.toLong + corpus.selfLoops.size
    // labels = driver union-find over the emitted edges (each label its
    // component's minimum id); exactly one keeper per component
    val uf = Expect.components(pairs ++ corpus.selfLoops.map(d => (d, d)))
    val got = ctx.checks.labels(labels)
    val keepers = corpus.docs.map(_._1).filter(d => uf.getOrElse(d, d) == d).toSet
    ctx.checks(got == uf && kept == keepers,
      s"dedup $i: labels ${if (got == uf) "match" else "differ"}, " +
        s"keepers ${kept.size} vs ${keepers.size}")
  }

  def layers(tr: Tracer, acc: Acc): Map[String, Double] = {
    val m = SpanStats.perCall(tr.named("pipeline.Dedup.minhashLsh"))
    val c = SpanStats.perCall(tr.named("pipeline.Dedup.clusters"))
    val d = SpanStats.perCall(tr.named("pipeline.Dedup.dedupCorpus"))
    val all = Seq(m, c, d)
    def sum(k: String) = all.map(_(k)).sum
    val sizes = corpus.sizes
    def clusters(p: Int => Boolean) = sizes.filter(x => p(x._1)).values.sum.toDouble
    Map(
      "pipeline.Dedup.minhashLsh_s" -> m("s"),
      "pipeline.Dedup.pairs" -> found.size.toDouble,
      "pipeline.Dedup.planted_pair_recall" ->
        (if (planted.isEmpty) 1.0 else planted.count(found.contains).toDouble / planted.size),
      "pipeline.Dedup.clusters_s" -> c("s"),
      "pipeline.Dedup.clusters_jobs" -> c("jobs"),
      "pipeline.Dedup.edges_per_cc_bound" -> edges.toDouble / Dedup.DefaultCcDriverThreshold,
      "pipeline.Dedup.dedupCorpus_s" -> d("s"),
      "pipeline.Dedup.tasks" -> sum("tasks"),
      "pipeline.Dedup.shuffle_write_mb" -> sum("shuffle_write_mb"),
      "pipeline.Dedup.driver_gap_s" -> sum("driver_gap_s"),
      "input.planted_singletons" -> clusters(_ == 1),
      "input.planted_pair_clusters" -> clusters(_ == 2),
      "input.planted_small_clusters" -> clusters(s => s > 2 && s < 10),
      "input.planted_large_clusters" -> clusters(_ >= 10),
      "input.self_pairs" -> corpus.selfLoops.size.toDouble)
  }
}
