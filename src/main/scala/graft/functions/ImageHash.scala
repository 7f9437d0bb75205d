package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData

/** Perceptual image hashing (dHash) — the multimodal dedup leg: a
  * training corpus with images needs near-duplicate detection that
  * survives RESIZING and RE-ENCODING, which content hashes (q17's
  * md5) cannot give. The recipe is the published difference-hash:
  * downsample to a tiny grid, keep only the SIGN of each horizontal
  * gradient — brightness scaling, JPEG noise, and resampling move the
  * block means a little but rarely flip an ordering, so near-dup
  * images land within a small hamming distance and pair under the
  * same pigeonhole banded join as q56's text simhash.
  *
  * Grid is [[GridRows]]×[[GridCols]] = 7×9 → 7 rows × 8 horizontal
  * gradients = 56 bits. 56, not the textbook 64: the DuckDB oracle
  * builds the identical hash and `1 << 63` overflows BIGINT there, so
  * the grid keeps every shift strictly below the sign bit — identical
  * integer arithmetic in both engines, zero loss of the invariance
  * property (two fewer grid rows).
  *
  * Two input forms, one shared grid/gradient kernel:
  *  - [[PixelDHash]]: a decoded H×W×C pixel cube
  *    ([[Raster.decodeImage]]'s type, the reference's pixel pipeline
  *    at main.py:259-286) — 2-D block means. The REAL image leg;
  *    RasterSpec proves planted resized + JPEG-re-encoded duplicates
  *    pair with their originals through [[graft.operators.Dedup.imageNearDupPixels]].
  *  - [[VecDHash]]: a float-vector raster, dims quantized
  *    floor(x·1024) (q82's integer-exact bridge), with an optional
  *    deterministic ±[[NoiseAmp]] perturbation keyed on (id, dim) —
  *    the ORACLE-EXPRESSIBLE form (DuckDB cannot decode PNG but
  *    replays this arithmetic bit-for-bit). q87 hashes each
  *    embedding at noise 0 AND as its perturbed "re-encoded copy",
  *    then the banded join must recover exactly the planted
  *    copy-pairs — the perceptual pipeline oracle-checked end-to-end
  *    (fixture margins: copies within hamming ≤ 1, distinct vectors
  *    ≥ 9 apart).
  */
object ImageHash {
  val GridRows = 7
  val GridCols = 9
  /** Hash width: GridRows rows × (GridCols−1) gradients. */
  val Bits: Int = GridRows * (GridCols - 1)
  /** Minimum elements so every grid block covers ≥ 1 value. */
  val MinDims: Int = GridRows * GridCols
  /** q82's float→integer bridge: floor(x · 1024). */
  val Quant = 1024
  /** Default "re-encode noise" amplitude for the perturbed copy. */
  val NoiseAmp = 8

  /** Gradient-sign packing over a row-major GridRows×GridCols grid of
    * block means: bit r·8+c set iff g(r,c) > g(r,c+1). */
  private[functions] def dhash56(g: Array[Long]): Long = {
    var h = 0L
    var k = 0
    while (k < Bits) {
      val r = k / (GridCols - 1)
      val c = k % (GridCols - 1)
      if (g(r * GridCols + c) > g(r * GridCols + c + 1)) h |= 1L << k
      k += 1
    }
    h
  }

  /** Vector-raster dHash worker (called from interpreted eval AND
    * generated code): m float dims → quantize floor(x·1024) → add the
    * (key, dim)-keyed noise when amp > 0 → 7 row segments → 9 block
    * means each (floorDiv: sums can be negative; NOTE DuckDB's `//`
    * truncates toward zero, so the oracle emulates floor division
    * via the non-negative remainder — see imageNearDupSql) → 56
    * gradient bits. Returns Long.MinValue when
    * m < [[MinDims]] (unreachable as a real hash — only the low 56
    * bits can be set — the caller maps it to SQL null). */
  def vecDhashOrMin(emb: ArrayData, key: Long, amp: Int): Long = {
    val m: Long = emb.numElements()
    if (m < MinDims) return Long.MinValue
    val span = 2L * amp + 1L
    val g = new Array[Long](GridRows * GridCols)
    var r = 0
    while (r < GridRows) {
      val r0 = r * m / GridRows
      val r1 = (r + 1) * m / GridRows
      var c = 0
      while (c < GridCols) {
        val bs = r0 + c * (r1 - r0) / GridCols
        val be = r0 + (c + 1) * (r1 - r0) / GridCols
        var sum = 0L
        var i = bs
        while (i < be) {
          var v = math.floor(emb.getFloat(i.toInt).toDouble * Quant).toLong
          if (amp > 0)
            v += ((key * 31L + i) * 2654435761L % 4294967296L) % span - amp
          sum += v
          i += 1
        }
        g(r * GridCols + c) = java.lang.Math.floorDiv(sum, be - bs)
        c += 1
      }
      r += 1
    }
    dhash56(g)
  }

  /** Pixel-cube dHash worker: [C][H][W] int cube ([[Raster]]'s band-
    * major layout; H ≥ 7, W ≥ 9, else Long.MinValue → null) →
    * per-pixel gray = channel mean → 7×9 block means over 2-D pixel
    * blocks → gradient bits. Operates on catalyst [[ArrayData]]
    * directly so generated code calls it without converting to Scala
    * collections (stays inside whole-stage codegen;
    * KernelDualModeSpec pins codegen ≡ interpreter — both paths run
    * this). */
  def pixelDhashOrMin(img: ArrayData): Long = {
    val nch = img.numElements()
    if (nch == 0) return Long.MinValue
    val chans = Array.tabulate(nch)(img.getArray)
    val h = chans(0).numElements()
    if (h < GridRows) return Long.MinValue
    val w = chans(0).getArray(0).numElements()
    if (w < GridCols) return Long.MinValue
    val g = new Array[Long](GridRows * GridCols)
    var r = 0
    while (r < GridRows) {
      val y0 = (r.toLong * h / GridRows).toInt
      val y1 = ((r + 1).toLong * h / GridRows).toInt
      var c = 0
      while (c < GridCols) {
        val x0 = (c.toLong * w / GridCols).toInt
        val x1 = ((c + 1).toLong * w / GridCols).toInt
        var sum = 0L
        var cnt = 0L
        var y = y0
        while (y < y1) {
          val rows = Array.tabulate(nch)(ch => chans(ch).getArray(y))
          var x = x0
          while (x < x1) {
            var chSum = 0L
            var ch = 0
            while (ch < nch) { chSum += rows(ch).getInt(x); ch += 1 }
            sum += chSum / nch // integer gray; pixels non-negative
            cnt += 1
            x += 1
          }
          y += 1
        }
        g(r * GridCols + c) = sum / cnt
        c += 1
      }
      r += 1
    }
    dhash56(g)
  }

  /** Driver-side replay for specs: the same math over Scala
    * collections ([C][H][W]). */
  def pixelDhashSeq(px: Seq[Seq[Seq[Int]]]): Long = {
    val p = Raster.Planes(px)
    val (nch, h, w) = (p.ch.length, p.h, p.w)
    require(h >= GridRows && w >= GridCols, s"image ${h}x$w below grid")
    val g = new Array[Long](GridRows * GridCols)
    for (r <- 0 until GridRows; c <- 0 until GridCols) {
      val y0 = r * h / GridRows; val y1 = (r + 1) * h / GridRows
      val x0 = c * w / GridCols; val x1 = (c + 1) * w / GridCols
      var sum = 0L; var cnt = 0L
      for (y <- y0 until y1; x <- x0 until x1) {
        var chSum = 0L
        p.ch.foreach(plane => chSum += plane(y * w + x))
        sum += chSum / nch
        cnt += 1
      }
      g(r * GridCols + c) = sum / cnt
    }
    dhash56(g)
  }

  /** Column form of [[VecDHash]]: `amp = 0` hashes the vector as-is
    * (key ignored); `amp > 0` hashes the deterministically-perturbed
    * copy keyed on `key`. */
  def vecDhash(emb: org.apache.spark.sql.Column, key: org.apache.spark.sql.Column,
      amp: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      VecDHash(org.apache.spark.sql.GraftSqlBridge.expression(emb),
        org.apache.spark.sql.GraftSqlBridge.expression(key), amp))

  /** Column form of [[PixelDHash]]. */
  def pixelDhash(px: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      PixelDHash(org.apache.spark.sql.GraftSqlBridge.expression(px)))
}

/** 56-bit dHash of a float-vector raster (see [[ImageHash]]): dims
  * quantized floor(x·1024), optional ±amp noise keyed on (key, dim).
  * Null when the vector has fewer than [[ImageHash.MinDims]] dims. */
case class VecDHash(left: Expression, right: Expression, amp: Int)
    extends BinaryExpression {
  import org.apache.spark.sql.types._

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_dhash requires (array<float>, bigint), got (${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(e: Any, k: Any): Any = {
    val h = ImageHash.vecDhashOrMin(e.asInstanceOf[ArrayData], k.asInstanceOf[Long], amp)
    if (h == Long.MinValue) null else h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, k) => {
      val tmp = ctx.freshName("dh")
      s"""
         |long $tmp = graft.functions.ImageHash.vecDhashOrMin($e, $k, $amp);
         |if ($tmp == Long.MIN_VALUE) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDHash =
    copy(left = l, right = r)
  override def prettyName: String = "vec_dhash"
}

/** 56-bit dHash of a decoded H×W×C pixel cube (see [[ImageHash]]).
  * Null when the image is smaller than the 7×9 grid. */
case class PixelDHash(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types._

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(ArrayType(ArrayType(IntegerType, _), _), _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pixel_dhash requires array<array<array<int>>>, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any = {
    val h = ImageHash.pixelDhashOrMin(v.asInstanceOf[ArrayData])
    if (h == Long.MinValue) null else h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("dh")
      s"""
         |long $tmp = graft.functions.ImageHash.pixelDhashOrMin($c);
         |if ($tmp == Long.MIN_VALUE) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp; }
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): PixelDHash = copy(child = c)
  override def prettyName: String = "pixel_dhash"
}
