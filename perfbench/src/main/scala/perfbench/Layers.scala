package perfbench

import graft.index._
import graft.query._

/** Direct single-thread calls into one layer, outside Spark. */
object Layers {

  /** `units` of work per second: `body` repeated until at least 0.3 s
    * have passed, the median of the repetitions' rates.
    */
  def rate(units: Double)(body: => Unit): Double = {
    val rs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (rs.size < 3 || System.nanoTime() - t0 < 300000000L) {
      val (_, s) = Timed(body)
      rs += units / math.max(s, 1e-9)
    }
    Timed.median(rs.toSeq)
  }

  private def decoded(b: SegmentBlock): (Array[Long], Array[Long]) =
    (Codec.decodeDeltas(b.docIdsEnc, b.n, b.firstDocId),
      Codec.decodeVarByte(b.tfsEnc, b.n))

  /** Re-encodes every block's docIds and tfs; the bytes must equal the
    * stored ones.
    */
  def encodeRate(ctx: Ctx, blocks: Array[SegmentBlock]): Double = {
    val plain = blocks.map(decoded)
    ctx.checks(blocks.zip(plain).forall { case (b, (d, t)) =>
      java.util.Arrays.equals(Codec.encodeDeltas(d, b.firstDocId), b.docIdsEnc) &&
        java.util.Arrays.equals(Codec.encodeVarByte(t), b.tfsEnc)
    }, "Codec re-encode differs from the stored blocks")
    val postings = blocks.map(_.n.toLong).sum / 1e6
    rate(postings)(blocks.zip(plain).foreach { case (b, (d, t)) =>
      Codec.encodeDeltas(d, b.firstDocId); Codec.encodeVarByte(t)
    })
  }

  def decodeRate(blocks: Array[SegmentBlock]): Double =
    rate(blocks.map(_.n.toLong).sum / 1e6)(blocks.foreach(decoded))

  /** Block-max WAND run on the driver over one query's blocks, with
    * norms from `Norms.taskReader`: the evaluator the gather tasks run,
    * without scatter, scheduling or gather. Returns the page of hits,
    * the Wand seconds and the number of blocks the query owns.
    */
  def wand(ctx: Ctx, dir: String, q: Q): (Seq[(Long, Double)], Double, Int) = {
    val spark = ctx.spark
    import spark.implicits._
    val st = IndexPaths.readStats(spark, dir)
    val metas = Searcher.termMetas(spark, Seq(dir), q.terms)
    val keys = q.terms.zipWithIndex.flatMap { case (t, ti) =>
      metas.get(t).toSeq.flatMap { tm =>
        val ks = if (tm.saltCount > 1)
          (0 until tm.saltCount).map(IndexBuilder.saltKey(t, _)) else Seq(t)
        ks.map(k => k -> ((ti, tm)))
      }
    }.toMap
    val depth = Cfg.K + q.offset
    if (keys.isEmpty || (q.and && metas.size < q.terms.size))
      return (Seq.empty, 0.0, 0)
    val hashes = keys.keys.map(IndexBuilder.xxhash).toSeq
    val blocks = spark.read.parquet(s"$dir/segments")
      .filter(org.apache.spark.sql.functions.col("termHash").isin(hashes: _*))
      .as[SegmentBlock].collect().filter(b => keys.contains(b.skey))
    val norms = Norms.taskReader(
      Array(Norms.GenMeta(dir, st.minDocId, st.maxDocId)),
      new Norms.SerConf(spark.sparkContext.hadoopConfiguration))
    val (top, secs) = Timed {
      val bySkey = blocks.groupBy(_.skey).toSeq
      def idf(tm: TermMeta) = BM25.idf(st.numDocs, tm.df)
      val cursors = bySkey.map { case (k, bs) =>
        val (ti, tm) = keys(k)
        new Cursor(ti, idf(tm), bs.sortBy(_.firstDocId), st.avgdl, 0L,
          Long.MaxValue, norms.dl)
      }.toArray
      if (q.and)
        Wand.intersectAnd(q.terms.flatMap(metas.get).sortBy(_.df)
          .map(tm => cursors.filter(c => q.terms(c.termIdx) == tm.term))
          .toArray, depth)
      else if (metas.size == 1)
        Wand.singleTermTopK(blocks, idf(metas.values.head), st.avgdl, depth,
          0L, Long.MaxValue, dlOf = norms.dl)
      else Wand.wandOr(cursors, depth)
    }
    (top.toSeq.slice(q.offset, depth), secs, blocks.length)
  }
}
