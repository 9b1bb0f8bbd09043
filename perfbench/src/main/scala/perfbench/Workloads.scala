package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.data.PageRow
import graft.index._
import graft.query.{QuerySpec, SearchHit, Searcher}

/** Counts checked operations and failures. With `corrupt` set (the
  * checker's self-check), the first result checked is damaged before
  * it is compared, so that run must report a failure.
  */
final class Checks(corrupt: Boolean) {
  var attempted = 0L
  var failed = 0L
  private var damaged = !corrupt

  def hits(got: Seq[SearchHit]): Seq[SearchHit] =
    if (damaged) got
    else {
      damaged = true
      if (got.isEmpty) Seq(SearchHit(-1L, 1, 0L, 1.0))
      else got.head.copy(score = Math.nextUp(got.head.score)) +: got.tail
    }

  def labels(got: Map[Long, Long]): Map[Long, Long] =
    if (damaged || got.isEmpty) got
    else { damaged = true; got.updated(got.keys.max, -1L) }

  def apply(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failed <= 5) System.err.println(s"check failed: $what")
    }
  }
}

/** Timings of one measured pass: items per second of each
  * throughput-bound call, and the latency of each latency-bound call.
  */
final class Acc {
  var ops = 0
  val rates = ArrayBuffer.empty[Double]
  val callMs = ArrayBuffer.empty[Double]
  val shapeMs = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
  def add(items: Double, secs: Double): Unit = rates += items / secs
  /** Median over calls, so one call slowed by the host does not move it. */
  def rate: Double = Timed.median(rates.toSeq)
}

final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
                val checks: Checks) {
  val parts: Int = spark.sessionState.conf.numShufflePartitions
  def dir(name: String): String = s"$work/$name"
  def delete(path: String): Unit = IndexPaths.delete(spark, path)
}

object Timed {
  def apply[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** One workload: set-up (repeatable into fresh directories), driver-side
  * expectations, one timed and checked operation, and the per-layer
  * metrics of the layers it owns.
  */
abstract class Workload(val ctx: Ctx) {
  def setupReps: Int
  def setup(rep: Int): Unit
  def expect(): Unit
  def op(i: Int, tr: Tracer, acc: Acc): Unit
  def layers(tr: Tracer, acc: Acc): Map[String, Double]
  protected val spark: SparkSession = ctx.spark
}

/** Index config shared by every workload: 16 hash-range buckets and a
  * salt target low enough that the top stopwords are salted.
  */
object Cfg {
  val index = IndexBuilder.Config(numBuckets = 16, saltTarget = 500L)
  val K = 10
}

/** Pages table written in set-up; docIds, extracted-text size, token
  * total and oracle corpus computed on the driver.
  */
final class PagesInput(ctx: Ctx, n: Int) {
  var dir: String = _
  def write(name: String): Unit = {
    dir = ctx.dir(name)
    Inputs.pages(ctx.spark, ctx.seed, 0L, n.toLong, ctx.parts)
      .write.mode("overwrite").parquet(dir)
  }
  def ds: Dataset[PageRow] = {
    import ctx.spark.implicits._
    ctx.spark.read.parquet(dir).as[PageRow]
  }
  lazy val rows: Seq[PageRow] = Inputs.pageRows(ctx.seed, 0L, n.toLong)
  lazy val ids: Map[String, Long] = Expect.docIds(rows.map(_.url))
  lazy val docs: Seq[(Long, String)] = rows.map(r => ids(r.url) -> r.text)
  lazy val textBytes: Long = rows.map(_.text.getBytes("UTF-8").length.toLong).sum
  lazy val tokens: Long = rows.map(r => graft.functions.Tokenize.tokens(r.text).length.toLong).sum
}

/** Searcher calls grouped by (mode, offset), as the API takes them. */
object Search {
  def run(spark: SparkSession, dirs: Seq[String], qs: Seq[Q]): Seq[SearchHit] =
    qs.groupBy(q => (q.and, q.offset)).toSeq.flatMap { case ((and, off), g) =>
      Searcher.searchMulti(spark, dirs, g.map(q => QuerySpec(q.id, q.text)),
        Cfg.K, if (and) Searcher.And else Searcher.Or, offset = off).collect()
    }

  /** Every query's hits against its expectation. */
  def allSame(got: Seq[SearchHit], qs: Seq[Q],
              want: Long => Seq[(Long, Double)]): Boolean = {
    val byQ = got.groupBy(_.queryId)
    got.forall(h => qs.exists(_.id == h.queryId)) &&
      qs.forall(q => Expect.same(byQ.getOrElse(q.id, Seq.empty), want(q.id), q.offset))
  }
}
