package perfbench

import org.apache.spark.sql.functions.col

import graft.functions.{TextExtractor, Tokenize}
import graft.index._
import graft.query.ScalarOracle

/** `build`: each operation assigns docIds with the extractor and builds
  * a fresh index over the same pages table. Exercises `functions`,
  * `DocIds`, `IndexBuilder`, `Codec` encode and `Norms`; `query` stays
  * idle, so a serve-side change must leave it unchanged.
  */
final class BuildWorkload(ctx: Ctx, n: Int) extends Workload(ctx) {
  private val pages = new PagesInput(ctx, n)
  private val checkQs = Inputs.queries(ctx.seed ^ 0xB17DL, 0L, 24)
  private var corpus: ScalarOracle.Corpus = _
  private var lastDir: String = _

  def setupReps = 3
  def setup(rep: Int): Unit = pages.write(s"build/pages$rep")
  def expect(): Unit =
    corpus = Expect.corpus(pages.docs, checkQs.flatMap(_.terms).toSet)

  def op(i: Int, tr: Tracer, acc: Acc): Unit = {
    val dir = ctx.dir(s"build/idx$i")
    val (stats, secs) = Timed {
      tr.span("index.IndexBuilder", i) {
        IndexBuilder.build(
          DocIds.fromPages(pages.ds, ctx.parts, useExtractor = true),
          dir, Cfg.index)
      }
    }
    acc.ops += 1
    acc.add(n, secs)
    acc.callMs += secs * 1e3
    val got = ctx.checks.hits(Search.run(spark, Seq(dir), checkQs))
    ctx.checks(stats.numDocs == n && stats.totalTokens == pages.tokens &&
      Search.allSame(got, checkQs,
        id => Expect.hits(corpus, checkQs.find(_.id == id).get, Cfg.K)),
      s"build $i: docs=${stats.numDocs}/$n tokens=${stats.totalTokens}/${pages.tokens} or hits differ")
    if (lastDir != null) ctx.delete(lastDir)
    lastDir = dir
  }

  def layers(tr: Tracer, acc: Acc): Map[String, Double] = {
    import spark.implicits._
    val b = SpanStats.perCall(tr.named("index.IndexBuilder"))
    val builder = Seq("s", "jobs", "tasks", "task_cpu_s", "gc_s",
      "shuffle_write_mb", "driver_gap_s", "slot_busy_share")
      .map(k => s"index.IndexBuilder.$k" -> b(k)).toMap
    val docIdsS = tr.span("index.DocIds") {
      Timed(DocIds.fromPages(pages.ds, ctx.parts, useExtractor = true)
        .write.format("noop").mode("overwrite").save())._2
    }
    val blocks = spark.read.parquet(s"$lastDir/segments").as[SegmentBlock].collect()
    val salted = spark.read.parquet(s"$lastDir/terms")
      .filter(col("saltCount") > 1).count()
    def mb(sub: String) = IndexPaths.dirBytes(spark, s"$lastDir/$sub") / 1e6
    val sizes = Seq("segments", "terms", "docs", "norms")
      .map(s => s"index.IndexPaths.${s}_mb" -> mb(s)).toMap
    builder ++ sizes ++ Map(
      "index.DocIds.s" -> docIdsS,
      "index.IndexBuilder.postings" -> blocks.map(_.n.toLong).sum.toDouble,
      "index.IndexBuilder.blocks" -> blocks.length.toDouble,
      "index.IndexBuilder.salted_terms" -> salted.toDouble,
      "index.IndexPaths.bytes_per_text_byte" ->
        sizes.values.sum * 1e6 / pages.textBytes,
      "functions.TextExtractor.mb_per_s" -> extractorRate(),
      "functions.Tokenize.mb_per_s" -> tokenizeRate(),
      "index.Codec.encode_mpostings_per_s" -> Layers.encodeRate(ctx, blocks))
  }

  /** Single-thread extraction over the run's html; output must equal
    * the generator's text.
    */
  private def extractorRate(): Double = {
    val rows = pages.rows
    ctx.checks(rows.forall(r => TextExtractor.extract(r.html) == r.text),
      "TextExtractor output differs from the generated text")
    val bytes = rows.map(_.html.length.toLong).sum
    Layers.rate(bytes / 1e6)(rows.foreach(r => TextExtractor.extract(r.html)))
  }

  private def tokenizeRate(): Double = {
    val texts = pages.rows.map(_.text)
    Layers.rate(pages.textBytes / 1e6)(texts.foreach(Tokenize.tokens))
  }
}
