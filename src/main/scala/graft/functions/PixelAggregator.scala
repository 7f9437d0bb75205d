package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Corpus-level pixel statistics as a typed `Aggregator[IN, BUF, OUT]`
  * (SURVEY §4 custom-work item 3 / §7.2 M2b): where `ImageStats`
  * computes the four statistics of ONE image in one pass, this
  * aggregates them across MANY images — partial buffers merge
  * map-side, so a 100 TB corpus reduces to one 8-field buffer per
  * partition before any shuffle, instead of exploding ~13 M pixel
  * rows per image (SURVEY §4: "not explode").
  *
  * Semantics per pixel are identical to ImageStats (nodata=0
  * conflation, 153/25.5 white thresholds — main.py:247-286);
  * equivalence with the per-image expression is pinned in
  * TypedApiSpec.
  */
object PixelStatsAgg extends Aggregator[Seq[Seq[Seq[Int]]], PixelBuf, CorpusPixelStats] {

  override def zero: PixelBuf = PixelBuf(0, 0, 0, 0, 0, 0, 0, 0)

  override def reduce(b: PixelBuf, cube: Seq[Seq[Seq[Int]]]): PixelBuf = {
    if (cube == null || cube.length != 3) return b
    val Seq(r, g, bl) = cube
    var sumR = b.sumR; var cntR = b.cntR
    var sumG = b.sumG; var cntG = b.cntG
    var sumB = b.sumB; var cntB = b.cntB
    var white = b.white; var inBounds = b.inBounds
    // iterators only: encoder-built cubes are linked lists, where
    // `apply(i)` walks i cells
    val ri = r.iterator; val gi = g.iterator; val bi = bl.iterator
    while (ri.hasNext) {
      val rr = ri.next().iterator; val gr = gi.next().iterator; val br = bi.next().iterator
      while (rr.hasNext) {
        val rv = rr.next(); val gv = gr.next(); val bv = br.next()
        if (rv != 0) { sumR += rv; cntR += 1 }
        if (gv != 0) { sumG += gv; cntG += 1 }
        if (bv != 0) { sumB += bv; cntB += 1 }
        val mx = math.max(rv, math.max(gv, bv))
        val mn = math.min(rv, math.min(gv, bv))
        if (mx != 0) {
          inBounds += 1
          if (mn >= 153.0 && (mx - mn) <= 25.5) white += 1
        }
      }
    }
    PixelBuf(sumR, cntR, sumG, cntG, sumB, cntB, white, inBounds)
  }

  override def merge(a: PixelBuf, b: PixelBuf): PixelBuf =
    PixelBuf(
      a.sumR + b.sumR, a.cntR + b.cntR,
      a.sumG + b.sumG, a.cntG + b.cntG,
      a.sumB + b.sumB, a.cntB + b.cntB,
      a.white + b.white, a.inBounds + b.inBounds)

  override def finish(b: PixelBuf): CorpusPixelStats = {
    def mean(s: Long, c: Long): Option[Double] = if (c == 0) None else Some(s.toDouble / c)
    CorpusPixelStats(
      mean(b.sumR, b.cntR), mean(b.sumG, b.cntG), mean(b.sumB, b.cntB),
      if (b.inBounds == 0) None else Some(b.white.toDouble / b.inBounds),
      b.inBounds)
  }

  override def bufferEncoder: Encoder[PixelBuf] = Encoders.product[PixelBuf]
  override def outputEncoder: Encoder[CorpusPixelStats] = Encoders.product[CorpusPixelStats]
}

case class PixelBuf(
    sumR: Long, cntR: Long, sumG: Long, cntG: Long,
    sumB: Long, cntB: Long, white: Long, inBounds: Long)

case class CorpusPixelStats(
    redAverage: Option[Double], greenAverage: Option[Double], blueAverage: Option[Double],
    whiteFraction: Option[Double], inBoundsPixels: Long)
