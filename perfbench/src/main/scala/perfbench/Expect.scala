package perfbench

import graft.functions.Tokenize
import graft.query.{ScalarOracle, SearchHit}

/** Expected results, computed on the driver without the engine. */
object Expect {

  /** docId contract of the index: the rank of the url in ascending
    * order, above `offset` (a delta numbers above its base).
    */
  def docIds(urls: Seq[String], offset: Long = 0L): Map[String, Long] =
    urls.sorted.zipWithIndex.map { case (u, i) => u -> (offset + i) }.toMap

  /** A ScalarOracle corpus over `docs` that keeps term frequencies only
    * for `vocab`. `ScalarOracle.topK` reads nothing but the query's
    * terms, so its answers equal those over the full corpus.
    */
  def corpus(docs: Seq[(Long, String)], vocab: Set[String]): ScalarOracle.Corpus = {
    val tf = scala.collection.mutable.Map.empty[String,
      scala.collection.mutable.Map[Long, Int]]
    val dl = scala.collection.mutable.Map.empty[Long, Int]
    docs.foreach { case (id, text) =>
      val toks = Tokenize.tokens(text)
      dl(id) = toks.length
      toks.foreach { t =>
        if (vocab.contains(t)) {
          val m = tf.getOrElseUpdate(t, scala.collection.mutable.Map.empty)
          m(id) = m.getOrElse(id, 0) + 1
        }
      }
    }
    val n = docs.size.toLong
    val avgdl = if (n == 0) 0.0 else dl.values.map(_.toLong).sum.toDouble / n
    ScalarOracle.Corpus(n, avgdl,
      tf.map { case (k, v) => k -> v.toMap }.toMap, dl.toMap)
  }

  /** The oracle's page of hits for `q`: ranks offset+1 .. offset+k,
    * never offering a `dead` (tombstoned) doc.
    */
  def hits(c: ScalarOracle.Corpus, q: Q, k: Int,
           dead: Long => Boolean = null): Seq[(Long, Double)] =
    if (dead == null) ScalarOracle.topK(c, q.text, q.offset + k, q.and).drop(q.offset)
    else ScalarOracle.topK(c, q.text, Int.MaxValue, q.and)
      .filterNot(h => dead(h._1)).slice(q.offset, q.offset + k)

  /** `hits` of every query, computed on all cores of the driver. */
  def allHits(c: ScalarOracle.Corpus, qs: Seq[Q], k: Int): Map[Long, Seq[(Long, Double)]] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val parts = qs.grouped(math.max(1, qs.size / (4 * Main.cpus))).toSeq
      .map(g => Future(g.map(q => q.id -> hits(c, q, k))))
    Await.result(Future.sequence(parts), Duration.Inf).flatten.toMap
  }

  /** Rank-identical with bit-exact scores. */
  def same(got: Seq[SearchHit], want: Seq[(Long, Double)], offset: Int): Boolean = {
    val g = got.sortBy(_.rank)
    g.size == want.size && g.zip(want).zipWithIndex.forall {
      case ((h, (d, s)), i) =>
        h.rank == offset + i + 1 && h.docId == d &&
          java.lang.Double.compare(h.score, s) == 0
    }
  }

  /** Connected-component minimum id of every node of `edges`. */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(x => x -> find(x)).toMap
  }
}
