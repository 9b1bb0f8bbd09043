package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.Det
import graft.data.PageRow
import graft.index._
import graft.query.{QuerySpec, Searcher}

/** `update`: writes beside reads. From a base index built in set-up,
  * one operation applies `gens` delta generations (new pages plus
  * re-crawls of base urls, `allowRecrawl`), serves single queries and a
  * checked batch over base plus deltas after each (tombstone-masked, no
  * θ₀ floors), then compacts and serves the batch again. Small builds
  * are dominated by the fixed per-build cost, and multi-generation
  * serving takes the mask path.
  */
final class UpdateWorkload(ctx: Ctx, nBase: Int, nNew: Int, nRecrawl: Int,
                           gens: Int, singlesPerGen: Int) extends Workload(ctx) {
  private val base = new PagesInput(ctx, nBase)
  private var baseDir: String = _
  private val checkQs = Inputs.queries(ctx.seed ^ 0x0DA7EL, 0L, 40)
    .filter(q => !q.and && q.offset == 0).take(16)
  private val singles = Inputs.queries(ctx.seed ^ 0x516EL, 5000L, 64)

  /** Generation g's pages: new pages above the base range, and
    * re-crawls of distinct base pages.
    */
  private def deltaRows(g: Int): Seq[PageRow] = {
    val first = nBase.toLong + g.toLong * nNew
    val fresh = Inputs.pageRows(ctx.seed, first, first + nNew)
    val again = (0L until nBase.toLong)
      .filter(i => Math.floorMod(Det.h(ctx.seed, i, 5L), gens.toLong) == g)
      .take(nRecrawl).map(i => Inputs.recrawl(ctx.seed, g, i))
    fresh ++ again
  }
  private val deltas = (0 until gens).map(deltaRows)
  private var deltaDirs: IndexedSeq[String] = _
  // expectations per checkpoint: after delta g, and after compaction
  private val wantAfter = ArrayBuffer.empty[Map[Long, Seq[(Long, Double)]]]
  private var wantCompact: Map[Long, Seq[(Long, Double)]] = _
  private val wantSingles = ArrayBuffer.empty[Map[Long, Seq[(Long, Double)]]]
  private var liveDocs = 0L

  def setupReps = 1
  def setup(rep: Int): Unit = {
    import spark.implicits._
    base.write(s"update/pages$rep")
    baseDir = ctx.dir(s"update/base$rep")
    IndexBuilder.build(DocIds.fromPages(base.ds, ctx.parts, useExtractor = true),
      baseDir, Cfg.index)
    deltaDirs = (0 until gens).map { g =>
      val d = ctx.dir(s"update/pages$rep-delta$g")
      spark.createDataset(deltas(g)).repartition(ctx.parts)
        .write.mode("overwrite").parquet(d)
      d
    }
  }

  def expect(): Unit = {
    val vocab = (checkQs ++ singles).flatMap(_.terms).toSet
    // physical docs (url, docId, text) in generation order
    val physical = ArrayBuffer.empty[(String, Long, String)]
    physical ++= base.rows.map(r => (r.url, base.ids(r.url), r.text))
    val dead = scala.collection.mutable.Set.empty[Long]
    deltas.foreach { rows =>
      val offset = physical.map(_._2).max + 1
      val ids = Expect.docIds(rows.map(_.url), offset)
      val urls = rows.map(_.url).toSet
      dead ++= physical.filter(p => urls.contains(p._1)).map(_._2)
      physical ++= rows.map(r => (r.url, ids(r.url), r.text))
      val c = Expect.corpus(physical.map(p => p._2 -> p._3).toSeq, vocab)
      val d = dead.toSet
      wantAfter += checkQs.map(q => q.id -> Expect.hits(c, q, Cfg.K, d)).toMap
      wantSingles += singles.map(q => q.id -> Expect.hits(c, q, Cfg.K, d)).toMap
    }
    val live = physical.filterNot(p => dead.contains(p._2))
    liveDocs = live.size.toLong
    val c = Expect.corpus(live.map(p => p._2 -> p._3).toSeq, vocab)
    wantCompact = checkQs.map(q => q.id -> Expect.hits(c, q, Cfg.K)).toMap
  }

  def recrawlShare: Double =
    deltas.map(_.size - nNew).sum.toDouble / deltas.map(_.size).sum

  def op(i: Int, tr: Tracer, acc: Acc): Unit = {
    import spark.implicits._
    acc.ops += 1
    val dirs = ArrayBuffer(baseDir)
    (0 until gens).foreach { g =>
      val out = ctx.dir(s"update/op$i-delta$g")
      val pages = spark.read.parquet(deltaDirs(g)).as[PageRow]
      val (_, secs) = Timed {
        tr.span("index.Incremental", i) {
          Incremental.buildDelta(pages, dirs.toSeq, out, Cfg.index,
            allowRecrawl = true)
        }
      }
      acc.add(deltas(g).size, secs)
      dirs += out
      val got = Search.run(spark, dirs.toSeq, checkQs)
      ctx.checks(Search.allSame(ctx.checks.hits(got), checkQs, wantAfter(g)),
        s"update $i: hits after delta $g differ from the oracle")
      (0 until singlesPerGen).foreach { j =>
        val q = singles((g * singlesPerGen + j) % singles.size)
        val (hits, ms) = Timed {
          tr.span("query.Searcher.gens_single", i) {
            Searcher.searchMulti(spark, dirs.toSeq, Seq(QuerySpec(q.id, q.text)),
              Cfg.K, q.mode, offset = q.offset).collect().toSeq
          }
        }
        acc.callMs += ms * 1e3
        ctx.checks(Expect.same(hits, wantSingles(g)(q.id), q.offset),
          s"update $i: gens query ${q.id} '${q.text}' after delta $g differs")
      }
    }
    val compacted = ctx.dir(s"update/op$i-compact")
    val (_, secs) = Timed {
      tr.span("index.Compaction", i) {
        Compaction.compact(spark, dirs.toSeq, compacted, Cfg.index, resume = false)
      }
    }
    compactSecs += secs
    val got = Search.run(spark, Seq(compacted), checkQs)
    ctx.checks(Search.allSame(got, checkQs, wantCompact),
      s"update $i: hits after compaction differ from the oracle")
    lastOp = (dirs.toSeq, compacted)
  }
  private val compactSecs = ArrayBuffer.empty[Double]
  private var lastOp: (Seq[String], String) = _

  def layers(tr: Tracer, acc: Acc): Map[String, Double] = {
    val d = SpanStats.perCall(tr.named("index.Incremental"))
    val q = SpanStats.perCall(tr.named("query.Searcher.gens_single"))
    val c = SpanStats.perCall(tr.named("index.Compaction"))
    val (dirs, compacted) = lastOp
    val inBytes = dirs.map(IndexPaths.dirBytes(spark, _)).sum
    Map(
      "update.delta_docs_per_s" -> acc.rate,
      "update.gens_query_p50_ms" -> Timed.median(acc.callMs.toSeq),
      "update.compact_docs_per_s" -> liveDocs / Timed.median(compactSecs.toSeq),
      "index.Incremental.buildDelta_s" -> d("s"),
      "index.Incremental.jobs" -> d("jobs"),
      "index.Incremental.driver_gap_s" -> d("driver_gap_s"),
      "index.Tombstones.ids" ->
        dirs.map(Incremental.tombstoneParquetCount(spark, _)).sum.toDouble,
      "query.Searcher.gens_jobs_per_query" -> q("jobs"),
      "query.Searcher.gens_driver_gap_ms_per_query" -> q("driver_gap_s") * 1e3,
      "query.Searcher.gens_input_kb_per_query" -> q("input_mb") * 1e3,
      "index.Compaction.s" -> c("s"),
      "index.Compaction.jobs" -> c("jobs"),
      "index.Compaction.shuffle_write_mb" -> c("shuffle_write_mb"),
      "index.Compaction.rewrite_bytes_per_live_byte" ->
        IndexPaths.dirBytes(spark, compacted).toDouble / math.max(1L, inBytes),
      "input.recrawl_share" -> recrawlShare)
  }
}
