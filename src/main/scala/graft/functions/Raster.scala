package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{array, udf}
import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import scala.collection.immutable.ArraySeq

/** What the daily job derives from one image ([[Raster.products]]). */
final case class RasterProducts(
    clipped: Seq[Seq[Seq[Int]]],
    clippedTif: Array[Byte],
    fullTif: Array[Byte],
    thumbnailPng: Array[Byte])

/** Raster kernels (SURVEY §2.5) over the pixel-cube representation
  * `array<array<array<int>>>` = [channel][row][col], 3 channels RGB,
  * values 0–255 (IntegerType — JVM has no unsigned byte, SURVEY §7.3).
  *
  * Every kernel runs on a primitive core: a cube is copied once into
  * one row-major `int[]` per channel ([[Planes]]), and the clip, the
  * codecs and the thumbnail index those arrays. The `Seq` entry points
  * convert once on the way in and once on the way out, so a nested
  * `List` (the form ScalaUDF hands over) costs O(H·W) like any other
  * `Seq`. The clip is a scanline fill, O(H·E + H·W) per image for E
  * polygon edges. [[products]] derives the clipped cube and all three
  * artifacts of one image from one conversion. Each kernel is a
  * per-row function with no shuffle of its own; at the reference's
  * 2100×2100×3 cap (BASELINE.md) one cube is 13.2 M values, ~53 MB as
  * `int[]` planes.
  */
object Raster {

  /** A cube as one row-major plane per channel: the value at row `i`,
    * column `j` of channel `c` is `ch(c)(i * w + j)`. */
  private[graft] final class Planes(val h: Int, val w: Int, val ch: Array[Array[Int]]) {
    /** Back to the nested `Seq` form, as indexed collections. */
    def toSeq: Seq[Seq[Seq[Int]]] = ArraySeq.unsafeWrapArray(ch.map(rows(_, h, w)))

    /** An RGB image: the packed planes, stored with one bulk `setRGB`. */
    def toImage: BufferedImage = {
      require(ch.length == 3, s"expected 3 channels, got ${ch.length}")
      val Array(r, g, b) = ch
      val rgb = new Array[Int](h * w)
      var k = 0
      while (k < rgb.length) { rgb(k) = (r(k) << 16) | (g(k) << 8) | b(k); k += 1 }
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, w, h, rgb, 0, w)
      img
    }
  }

  private[graft] object Planes {
    /** One pass over any nested `Seq` (iterators only, never `apply`);
      * every channel must be `h` rows of `w` values. */
    def apply(pixels: Seq[Seq[Seq[Int]]]): Planes =
      if (pixels.isEmpty) new Planes(0, 0, Array.empty)
      else {
        val h = pixels.head.length
        val w = if (h == 0) 0 else pixels.head.head.length
        new Planes(h, w, pixels.iterator.map(flatten(_, h, w)).toArray)
      }

    /** Bulk `getRGB`, split into R, G, B planes. */
    def apply(img: BufferedImage): Planes = {
      val h = img.getHeight
      val w = img.getWidth
      val rgb = img.getRGB(0, 0, w, h, null, 0, w)
      val r = new Array[Int](h * w)
      val g = new Array[Int](h * w)
      val b = new Array[Int](h * w)
      var k = 0
      while (k < rgb.length) {
        val v = rgb(k)
        r(k) = (v >> 16) & 0xff
        g(k) = (v >> 8) & 0xff
        b(k) = v & 0xff
        k += 1
      }
      new Planes(h, w, Array(r, g, b))
    }
  }

  private def flatten(plane: Seq[Seq[Int]], h: Int, w: Int): Array[Int] = {
    val out = new Array[Int](h * w)
    val rowIt = plane.iterator
    var i = 0
    while (rowIt.hasNext) {
      require(i < h, s"ragged cube: a channel has more than $h rows")
      val it = rowIt.next().iterator
      var k = i * w
      val end = k + w
      while (it.hasNext) {
        require(k < end, s"ragged cube: row $i is longer than $w")
        out(k) = it.next()
        k += 1
      }
      require(k == end, s"ragged cube: row $i is shorter than $w")
      i += 1
    }
    require(i == h, s"ragged cube: a channel has $i rows, expected $h")
    out
  }

  /** Row-major `h`×`w` values as `h` indexed rows. */
  private def rows(flat: Array[Int], h: Int, w: Int): Seq[Seq[Int]] =
    ArraySeq.unsafeWrapArray(Array.tabulate(h)(i =>
      ArraySeq.unsafeWrapArray(java.util.Arrays.copyOfRange(flat, i * w, (i + 1) * w))))

  /** R1 band stacking (reference main.py:206-232): three single-band
    * planes → one [3][H][W] cube. Pure built-in. */
  def stackBands(r: Column, g: Column, b: Column): Column = array(r, g, b)

  /** R2 raster clip/mask by multi-polygon (reference main.py:240-243,
    * rasterio.mask.mask with nodata=0): pixel centers are mapped
    * through the north-up affine transform
    *   lon = minLon + (col + 0.5)·(maxLon − minLon)/W
    *   lat = maxLat − (row + 0.5)·(maxLat − minLat)/H
    * and pixels whose center falls outside every polygon become 0
    * (nodata, main.py:41). Divergence from the reference, documented:
    * rasterio also CROPS to the polygon bbox; we keep dimensions —
    * downstream stats are identical because cropped-away pixels are
    * nodata either way, and fixed dims keep the column shape stable.
    *
    * The mask is computed once per image, not per channel
    * ([[clipMask]]). */
  def clip(
      pixels: Seq[Seq[Seq[Int]]],
      minLon: Double, maxLon: Double, minLat: Double, maxLat: Double,
      polys: Seq[Seq[Seq[Double]]]): Seq[Seq[Seq[Int]]] = {
    if (pixels == null || pixels.isEmpty || pixels.head.isEmpty) return pixels
    if (polys == null || polys.isEmpty) return pixels // no geometry → no mask
    clipPlanes(Planes(pixels), minLon, maxLon, minLat, maxLat, polys).toSeq
  }

  val clipUdf = udf(clip _)

  /** `p` itself when there is no geometry (no mask). */
  private def clipPlanes(
      p: Planes, minLon: Double, maxLon: Double, minLat: Double, maxLat: Double,
      polys: Seq[Seq[Seq[Double]]]): Planes = {
    if (polys == null || polys.isEmpty) return p
    val mask = clipMask(p.h, p.w, minLon, maxLon, minLat, maxLat, polys)
    new Planes(p.h, p.w, p.ch.map { c =>
      val out = c.clone()
      var k = 0
      while (k < out.length) { if (!mask(k)) out(k) = 0; k += 1 }
      out
    })
  }

  /** Row-major mask of the pixel centers inside any ring of `polys`
    * (rings OR'ed: union semantics, GeoSpec's golden). A scanline
    * fill: per pixel row, each ring's edge crossings come from
    * [[Geo.ringCrossings]] (the exact [[Geo.pointInRing]] formula) and
    * are sorted; a center is inside a ring when an odd number of them
    * lie strictly right of it (`x < xCross`). Bit-identical to the
    * per-pixel ray cast at O(H·E + H·W) instead of O(H·W·E). */
  private[graft] def clipMask(
      h: Int, w: Int, minLon: Double, maxLon: Double, minLat: Double, maxLat: Double,
      polys: Seq[Seq[Seq[Double]]]): Array[Boolean] = {
    val rings = polys.iterator.map { ring =>
      val xs = new Array[Double](ring.length)
      val ys = new Array[Double](ring.length)
      var k = 0
      ring.foreach { v => xs(k) = v(0); ys(k) = v(1); k += 1 }
      (xs, ys)
    }.toArray
    val cross = new Array[Double](rings.iterator.map(_._1.length).maxOption.getOrElse(0))
    val lons = Array.tabulate(w)(j => minLon + (j + 0.5) * (maxLon - minLon) / w)
    val mask = new Array[Boolean](h * w)
    var i = 0
    while (i < h) {
      val lat = maxLat - (i + 0.5) * (maxLat - minLat) / h
      val row = i * w
      rings.foreach { case (xs, ys) =>
        val n = Geo.ringCrossings(xs, ys, lat, cross)
        if (n > 0) {
          java.util.Arrays.sort(cross, 0, n)
          var j = 0
          while (j < w) {
            // crossings not right of the center form a sorted prefix
            val x = lons(j)
            var lo = 0
            var hi = n
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (x < cross(mid)) hi = mid else lo = mid + 1
            }
            if (((n - lo) & 1) == 1) mask(row + j) = true
            j += 1
          }
        }
      }
      i += 1
    }
    mask
  }

  /** R2 + R5 + R6 for one image from one conversion: the clipped cube
    * (for the stats), the clipped and full TIFFs, and the clipped
    * thumbnail PNG — each byte-identical to [[clip]], [[encodeTiff]]
    * and [[encodePng]]∘[[thumbnailArray]] on the same cube. */
  def products(
      pixels: Seq[Seq[Seq[Int]]],
      minLon: Double, maxLon: Double, minLat: Double, maxLat: Double,
      polys: Seq[Seq[Seq[Double]]], factor: Int): RasterProducts = {
    if (pixels == null) return null
    val full = Planes(pixels)
    val fullImg = full.toImage
    val clipped = clipPlanes(full, minLon, maxLon, minLat, maxLat, polys)
    val clippedImg = if (clipped eq full) fullImg else clipped.toImage
    RasterProducts(clipped.toSeq, encode(clippedImg, "tiff"), encode(fullImg, "tiff"),
      encode(thumbnail(clippedImg, factor), "png"))
  }

  val productsUdf = udf(products _)

  /** R5 thumbnail (reference main.py:288-308): bicubic downscale by
    * factor 7 (THUMBNAIL_SCALE_FACTOR, main.py:40) via java.awt —
    * PIL-bicubic parity is structural (dims, channel means), not
    * bit-exact (SURVEY §7.3). */
  def thumbnailArray(pixels: Seq[Seq[Seq[Int]]], factor: Int): Seq[Seq[Seq[Int]]] =
    Planes(thumbnail(Planes(pixels).toImage, factor)).toSeq

  private def thumbnail(img: BufferedImage, factor: Int): BufferedImage = {
    val tw = math.max(1, img.getWidth / factor)
    val th = math.max(1, img.getHeight / factor)
    val out = new BufferedImage(tw, th, BufferedImage.TYPE_INT_RGB)
    val g2 = out.createGraphics()
    g2.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
      RenderingHints.VALUE_INTERPOLATION_BICUBIC)
    g2.drawImage(img, 0, 0, tw, th, null)
    g2.dispose()
    out
  }

  val thumbnailUdf = udf((px: Seq[Seq[Seq[Int]]], factor: Int) => thumbnailArray(px, factor))

  /** S5/R5 artifact form: PNG-encoded thumbnail bytes (BinaryType). */
  val thumbnailPngUdf = udf((px: Seq[Seq[Seq[Int]]], factor: Int) =>
    encode(thumbnail(Planes(px).toImage, factor), "png"))

  // ------------------------------------------------------------ codecs

  /** S4-inverse/R6 codec: cube → PNG bytes (ImageIO, JDK built-in). */
  def encodePng(pixels: Seq[Seq[Seq[Int]]]): Array[Byte] =
    encode(Planes(pixels).toImage, "png")

  /** R6 clipped-tif re-encode analog: cube → TIFF bytes (the JDK
    * ships a TIFF plugin since Java 9 — still no external deps). */
  def encodeTiff(pixels: Seq[Seq[Seq[Int]]]): Array[Byte] =
    encode(Planes(pixels).toImage, "tiff")

  private def encode(img: BufferedImage, format: String): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    val ok = ImageIO.write(img, format, baos)
    require(ok, s"no ImageIO writer for $format")
    baos.toByteArray
  }

  /** S4 decode: PNG/TIFF/JPEG bytes → [3][H][W] cube (ImageIO sniffs
    * the container, so one decoder serves every supported format). */
  def decodeImage(bytes: Array[Byte]): Seq[Seq[Seq[Int]]] =
    Planes(ImageIO.read(new ByteArrayInputStream(bytes))).toSeq

  /** JPEG encode at an explicit quality (JDK writer — no external
    * deps). JPEG is LOSSY: the roundtrip contract is structural (dims
    * exact, channel means close), never bit-exact — which is why the
    * artifact tier (R6) stays TIFF/PNG and JPEG is the thumbnail/
    * preview tier a real catalog serves. */
  def encodeJpeg(pixels: Seq[Seq[Seq[Int]]], quality: Float = 0.9f): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    val baos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(baos)
    try {
      writer.setOutput(ios)
      writer.write(null,
        new javax.imageio.IIOImage(Planes(pixels).toImage, null, null), params)
    } finally { writer.dispose(); ios.close() }
    baos.toByteArray
  }

  /** Zip-of-band-TIFFs codec — the delivery format satellite archives
    * actually serve (one single-band GeoTIFF per spectral band, zipped;
    * reference main.py fetches per-band TIFF URLs and stacks them
    * client-side). Encode: each channel becomes an 8-bit grayscale
    * TIFF entry `<band>.tif` (lossless, so THIS roundtrip IS
    * bit-exact). Decode: entries are matched to `bandOrder` by name
    * and stacked into the standard [bands][H][W] cube — the in-archive
    * order is irrelevant, as with real products. */
  def encodeBandZip(pixels: Seq[Seq[Seq[Int]]], bands: Seq[String]): Array[Byte] = {
    require(pixels.length == bands.length,
      s"${pixels.length} planes but ${bands.length} band names")
    val baos = new ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(baos)
    bands.zip(pixels).foreach { case (name, plane) =>
      zip.putNextEntry(new java.util.zip.ZipEntry(s"$name.tif"))
      zip.write(encodeGrayTiff(plane))
      zip.closeEntry()
    }
    zip.close()
    baos.toByteArray
  }

  def decodeBandZip(bytes: Array[Byte], bandOrder: Seq[String]): Seq[Seq[Seq[Int]]] = {
    val zip = new java.util.zip.ZipInputStream(new ByteArrayInputStream(bytes))
    val planes = scala.collection.mutable.Map[String, Seq[Seq[Int]]]()
    var entry = zip.getNextEntry
    while (entry != null) {
      val name = entry.getName.stripSuffix(".tif")
      planes(name) = decodeGrayTiff(zip.readAllBytes())
      entry = zip.getNextEntry
    }
    zip.close()
    bandOrder.map(b => planes.getOrElse(b,
      throw new IllegalArgumentException(
        s"band $b missing from archive (has ${planes.keys.mkString(",")})")))
  }

  /** Band-zip decode without a caller-declared band list: planes stack
    * in NAME-sorted order (deterministic for any archive entry order)
    * — the generic-ingest path when no band mapping is configured. */
  def decodeBandZipSorted(bytes: Array[Byte]): Seq[Seq[Seq[Int]]] = {
    val zip = new java.util.zip.ZipInputStream(new ByteArrayInputStream(bytes))
    val planes = scala.collection.mutable.Map[String, Seq[Seq[Int]]]()
    var entry = zip.getNextEntry
    while (entry != null) {
      planes(entry.getName) = decodeGrayTiff(zip.readAllBytes())
      entry = zip.getNextEntry
    }
    zip.close()
    require(planes.nonEmpty, "empty band archive")
    planes.toSeq.sortBy(_._1).map(_._2)
  }

  /** Single-band 8-bit grayscale TIFF (TYPE_BYTE_GRAY is its own
    * color space — roundtrips sample values exactly). */
  private def encodeGrayTiff(plane: Seq[Seq[Int]]): Array[Byte] = {
    val h = plane.length; val w = plane.head.length
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setSamples(0, 0, w, h, 0, flatten(plane, h, w))
    encode(img, "tiff")
  }

  private def decodeGrayTiff(bytes: Array[Byte]): Seq[Seq[Int]] = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    val (h, w) = (img.getHeight, img.getWidth)
    rows(img.getRaster.getSamples(0, 0, w, h, 0, null: Array[Int]), h, w)
  }

  val encodePngUdf = udf(encodePng _)
  val encodeTiffUdf = udf(encodeTiff _)
  val encodeJpegUdf = udf((px: Seq[Seq[Seq[Int]]], q: Float) => encodeJpeg(px, q))
  val decodeImageUdf = udf(decodeImage _)
  val encodeBandZipUdf = udf(encodeBandZip _)
  val decodeBandZipUdf = udf(decodeBandZip _)
}
