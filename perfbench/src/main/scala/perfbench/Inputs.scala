package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.Det
import graft.data.{PageRow, PagesGen}
import graft.query.Searcher

/** One query of the serve stream. `shape` names the QuerySet shape it
  * was drawn from; AND queries and page-2 queries carry their mode and
  * offset.
  */
final case class Q(id: Long, text: String, shape: String,
                   and: Boolean, offset: Int) {
  def mode: Searcher.Mode = if (and) Searcher.And else Searcher.Or
  def terms: Seq[String] = graft.functions.Tokenize.tokens(text).distinct.toSeq
}

/** Seeded input generators. The program only ever sees the tables and
  * query texts these produce; the same seed gives the same inputs.
  */
object Inputs {

  /** Pages `from until to` of the PagesGen table for `seed`, as a
    * Spark dataset (the rows are pure functions of (seed, i)).
    */
  def pages(spark: SparkSession, seed: Long, from: Long, to: Long,
            parts: Int): Dataset[PageRow] = {
    import spark.implicits._
    spark.range(from, to, 1L, parts).map(i => PagesGen.row(seed, i))
  }

  /** The same pages, built on the driver for the expectations. */
  def pageRows(seed: Long, from: Long, to: Long): Seq[PageRow] =
    (from until to).map(i => PagesGen.row(seed, i))

  /** A re-crawl of page `i`: same url, new text and html, a later
    * `warc_ts`. The new content is the page drawn under another seed.
    */
  def recrawl(seed: Long, gen: Int, i: Long): PageRow = {
    val old = PagesGen.row(seed, i)
    val fresh = PagesGen.row(Det.h(seed, gen.toLong, 77L), i)
    old.copy(text = fresh.text, html = fresh.html,
      warc_ts = new Timestamp(old.warc_ts.getTime + 86400000L * (gen + 1)))
  }

  private def zipfWord(seed: Long, q: Long, j: Long): String =
    PagesGen.word(PagesGen.sampleRank(Det.unit(Det.h(seed, q, j))))

  /** A Zipfian rank of at least `min`: the first of a few draws that
    * clears it, else a fixed rank in the tail.
    */
  private def rareWord(seed: Long, q: Long, min: Int): String = {
    val r = (1L to 16L).iterator
      .map(j => PagesGen.sampleRank(Det.unit(Det.h(seed, q, 50L + j))))
      .find(_ >= min).getOrElse(min)
    PagesGen.word(r)
  }

  /** Shapes of the query stream and their weights. The first six are
    * QuerySet's groups with its own counts; its five tokenizer-noise
    * queries are left out, as the stream's texts are plain tokens.
    * QuerySet has no AND or page-2 group: each gets the weight of its
    * smallest groups.
    */
  val Weights: Seq[(String, Int)] = Seq("stopword" -> 5, "rare" -> 5,
    "two_term" -> 15, "three_term" -> 10, "stopword_heavy" -> 5,
    "no_hit" -> 5, "and" -> 5, "page2" -> 5)

  /** The shapes a batched call can hold (one mode and offset per call). */
  val OrWeights: Seq[(String, Int)] =
    Weights.filterNot { case (sh, _) => sh == "and" || sh == "page2" }

  val Shapes: Seq[String] = Weights.map(_._1)

  /** Query `id` of `shape`, terms drawn Zipfian from the page vocabulary. */
  def query(seed: Long, id: Long, shape: String): Q = {
    def z(j: Long) = zipfWord(seed, id, 10L + j)
    def stop(j: Long) =
      PagesGen.word(Math.floorMod(Det.h(seed, id, 20L + j), 30L).toInt)
    shape match {
      case "stopword" => Q(id, stop(0), shape, and = false, 0)
      case "rare" => Q(id, rareWord(seed, id, 300), shape, and = false, 0)
      case "two_term" => Q(id, s"${z(0)} ${z(1)}", shape, and = false, 0)
      case "three_term" =>
        Q(id, s"${z(0)} ${z(1)} ${z(2)}", shape, and = false, 0)
      case "stopword_heavy" =>
        Q(id, s"${stop(0)} ${stop(1)} ${stop(2)}", shape, and = false, 0)
      case "no_hit" =>
        Q(id, s"nohit${Math.floorMod(Det.h(seed, id, 3L), 100000L)}", shape,
          and = false, 0)
      case "and" => Q(id, s"${z(0)} ${z(1)}", shape, and = true, 0)
      case "page2" => Q(id, s"${stop(0)} ${z(1)}", shape, and = false, 10)
    }
  }

  /** `n` queries with ids `first until first + n`. Shapes follow
    * `weights` by smooth weighted round-robin, so every stretch of the
    * stream holds close to the weighted mix whatever the seed; the
    * seed draws the terms.
    */
  def queries(seed: Long, first: Long, n: Int,
              weights: Seq[(String, Int)] = Weights): IndexedSeq[Q] = {
    val total = weights.map(_._2).sum
    val credit = Array.fill(weights.size)(0)
    (first until first + n).map { id =>
      weights.indices.foreach(s => credit(s) += weights(s)._2)
      val pick = weights.indices.maxBy(s => credit(s))
      credit(pick) -= total
      query(seed, id, weights(pick)._1)
    }
  }

  /** Input properties of a query stream that follows `warm` (the
    * warm-up stream): stopword-query share, first-seen-term share and
    * no-hit share (no hits expected by the oracle).
    */
  def queryProps(stream: Seq[Q], warm: Seq[Q],
                 noHit: Q => Boolean): Map[String, Double] = {
    val seen = scala.collection.mutable.Set.empty[String]
    warm.foreach(q => seen ++= q.terms)
    var firstSeen = 0
    stream.foreach { q =>
      if (q.terms.exists(t => !seen.contains(t))) firstSeen += 1
      seen ++= q.terms
    }
    val n = math.max(1, stream.size).toDouble
    Map(
      "input.stopword_query_share" ->
        stream.count(q => q.shape == "stopword" ||
          q.shape == "stopword_heavy") / n,
      "input.first_seen_term_share" -> firstSeen / n,
      "input.no_hit_share" -> stream.count(noHit) / n)
  }

  /** The planted-duplicate corpus: clusters of near-copies of a root
    * text (a few tokens replaced per copy), with skewed sizes: mostly
    * singletons and pairs, some small clusters and a few large ones.
    * Returns (doc_id, text) rows and each doc's planted cluster.
    */
  final case class DupCorpus(docs: IndexedSeq[(Long, String)],
                             cluster: IndexedSeq[Int],
                             selfLoops: IndexedSeq[Long]) {
    def sizes: Map[Int, Int] = cluster.groupBy(identity).values
      .map(_.size).groupBy(identity).map { case (s, v) => s -> v.size }
  }

  def dupCorpus(seed: Long, n: Int): DupCorpus = {
    val docs = IndexedSeq.newBuilder[(Long, String)]
    val cluster = IndexedSeq.newBuilder[Int]
    var id = 0
    var c = 0
    while (id < n) {
      val u = Math.floorMod(Det.h(seed, c.toLong, 1L), 1000L)
      val size =
        if (u < 550) 1
        else if (u < 850) 2
        else if (u < 985) 3 + Math.floorMod(Det.h(seed, c.toLong, 2L), 4L).toInt
        else 12 + Math.floorMod(Det.h(seed, c.toLong, 3L), 20L).toInt
      val len = 60 + Math.floorMod(Det.h(seed, c.toLong, 4L), 60L).toInt
      val root = Array.tabulate(len)(j => zipfWord(seed, 1000000L + c, j))
      (0 until math.min(size, n - id)).foreach { m =>
        val toks = root.clone()
        if (m > 0) (0 until 2).foreach { e =>
          val p = Math.floorMod(Det.h(seed, id.toLong, 10L + e), len.toLong).toInt
          toks(p) = zipfWord(seed, 2000000L + id, e)
        }
        docs += ((id.toLong, toks.mkString(" ")))
        cluster += c
        id += 1
      }
      c += 1
    }
    val all = docs.result()
    // self-loop edges for a few docs: the CC step must still label them
    val loops = all.map(_._1).filter(d => Math.floorMod(Det.h(seed, d, 9L), 50L) == 0)
    DupCorpus(all, cluster.result(), loops)
  }
}
