package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Geo, ImageHash, PixelStatsAgg, Raster}
import scala.util.Random

/** Golden tests for the raster kernels (FIXTURES.md §B raster_pixels
  * plan; reference main.py:206-308). */
class RasterSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def gray(v: Int, h: Int, w: Int): Seq[Seq[Seq[Int]]] =
    Seq.fill(3)(Seq.fill(h)(Seq.fill(w)(v)))

  val diamond: Seq[Seq[Seq[Double]]] =
    Seq(Seq(Seq(3.7, 2.0), Seq(2.0, 3.7), Seq(0.3, 2.0), Seq(2.0, 0.3)))

  test("clip golden: 4×4 / diamond keeps exactly the 4 center pixels") {
    val cube = gray(200, 4, 4)
    val clipped = Raster.clip(cube, 0, 4, 0, 4, diamond)
    for (c <- 0 until 3; i <- 0 until 4; j <- 0 until 4) {
      val expectIn = (i == 1 || i == 2) && (j == 1 || j == 2)
      assert(clipped(c)(i)(j) == (if (expectIn) 200 else 0),
        s"pixel c=$c i=$i j=$j")
    }
  }

  test("clip golden: 8×8 / triangle polygon matches half-plane closed form") {
    // triangle (0,0)-(8,0)-(0,8): pixel center (x,y) inside iff x+y<8
    val tri = Seq(Seq(Seq(0.0, 0.0), Seq(8.0, 0.0), Seq(0.0, 8.0)))
    val clipped = Raster.clip(gray(99, 8, 8), 0, 8, 0, 8, tri)
    for (i <- 0 until 8; j <- 0 until 8) {
      val x = j + 0.5; val y = 7.5 - i
      val in = x + y < 8.0 // no center lands exactly on the hypotenuse (x+y ∈ {1,2,…})
      assert(clipped(0)(i)(j) == (if (in) 99 else 0), s"i=$i j=$j x=$x y=$y")
    }
  }

  test("clip is idempotent (SURVEY §5 property)") {
    val cube = Seq.tabulate(3, 6, 6)((c, i, j) => (c * 37 + i * 11 + j * 5) % 256)
    val once = Raster.clip(cube, 0, 6, 0, 6, diamond)
    val twice = Raster.clip(once, 0, 6, 0, 6, diamond)
    assert(once == twice)
  }

  test("stack + thumbnail: 14×14 → 2×2 with channel means preserved on uniform input") {
    val thumb = Raster.thumbnailArray(gray(180, 14, 14), 7)
    assert(thumb.length == 3 && thumb.head.length == 2 && thumb.head.head.length == 2)
    // uniform image: bicubic must return the same uniform value
    for (c <- 0 until 3; i <- 0 until 2; j <- 0 until 2)
      assert(thumb(c)(i)(j) == 180)
  }

  test("thumbnail of non-uniform image keeps means within tolerance (PIL-parity is structural)") {
    val cube = Seq.tabulate(3, 14, 14)((c, i, j) => if (j < 7) 40 else 200)
    val thumb = Raster.thumbnailArray(cube, 7)
    val mean = thumb.head.flatten.sum.toDouble / 4
    assert(math.abs(mean - 120.0) < 40.0, s"half-dark/half-light mean ≈ 120, got $mean")
  }

  test("PNG codec roundtrip is lossless") {
    val cube = Seq.tabulate(3, 5, 7)((c, i, j) => (c * 83 + i * 29 + j * 13) % 256)
    assert(Raster.decodeImage(Raster.encodePng(cube)) == cube)
  }

  test("TIFF codec roundtrip is lossless (JDK ImageIO TIFF plugin)") {
    val cube = Seq.tabulate(3, 4, 4)((c, i, j) => (c * 51 + i * 17 + j * 7) % 256)
    assert(Raster.decodeImage(Raster.encodeTiff(cube)) == cube)
  }

  test("JPEG codec: real lossy roundtrip — dims exact, channel means close, smaller payload") {
    // LCG noise, 64×64: incompressible for PNG, so the size claim is
    // about JPEG's lossy transform, not header overhead
    var seed = 42L
    def next(): Int = { seed = (seed * 6364136223846793005L + 1442695040888963407L); ((seed >>> 33) % 256).toInt }
    val cube = Seq.fill(3, 64, 64)(next())
    val bytes = Raster.encodeJpeg(cube, 0.9f)
    // a real JPEG container, not a renamed bitmap
    assert((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8, "missing SOI marker")
    val back = Raster.decodeImage(bytes)
    assert(back.length == 3 && back.head.length == 64 && back.head.head.length == 64)
    def mean(p: Seq[Seq[Int]]): Double = p.flatten.sum.toDouble / p.flatten.size
    (0 until 3).foreach { c =>
      assert(math.abs(mean(back(c)) - mean(cube(c))) < 4.0,
        s"channel $c mean drifted: ${mean(back(c))} vs ${mean(cube(c))}")
    }
    // and the point of JPEG: the payload actually compresses
    assert(bytes.length < Raster.encodePng(cube).length,
      "lossy JPEG at q=0.9 should beat lossless PNG on noise")
  }

  test("zip-of-band-TIFFs codec: order-insensitive bit-exact roundtrip; missing band is loud") {
    val cube = Seq.tabulate(3, 6, 9)((c, i, j) => (c * 91 + i * 31 + j * 11) % 256)
    val bands = Seq("B04", "B03", "B02")
    val zip = Raster.encodeBandZip(cube, bands)
    assert(Raster.decodeBandZip(zip, bands) == cube, "same-order roundtrip")
    // archives deliver entries in arbitrary order — decode stacks by NAME
    val reordered = Raster.decodeBandZip(zip, Seq("B02", "B04", "B03"))
    assert(reordered == Seq(cube(2), cube(0), cube(1)), "by-name stacking")
    val err = intercept[IllegalArgumentException](
      Raster.decodeBandZip(zip, Seq("B04", "B08")))
    assert(err.getMessage.contains("B08"))
    // zip is a real archive: entry names visible to plain java.util.zip
    val zin = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(zip))
    val names = Iterator.continually(zin.getNextEntry).takeWhile(_ != null).map(_.getName).toSet
    assert(names == Set("B04.tif", "B03.tif", "B02.tif"))
  }

  test("q87 pixel leg: planted resized + JPEG-re-encoded duplicates pair with their " +
      "original through imageNearDupPixels; a distinct image stays out") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.{ImageHash, Raster}
    // smooth structured image — strong block-to-block gradients, so
    // the dHash has real margins (flat/noisy inputs would make the
    // gradient signs coin flips, which is not the perceptual regime)
    def img(fx: Double, fy: Double, phase: Double): Seq[Seq[Seq[Int]]] =
      Seq.tabulate(3, 56, 72)((c, y, x) =>
        math.max(0, math.min(255,
          (128 + 110 * math.sin(x / fx + phase) * math.cos(y / fy)).toInt)))
    val base = img(11.0, 9.0, 0.3)
    val distinct = img(5.0, 13.0, 2.1) // different spatial frequencies
    val resized = Raster.thumbnailArray(base, 2) // bicubic 56×72 → 28×36
    val jpeg = Raster.decodeImage(Raster.encodeJpeg(base, 0.85f))
    // kernel-level invariance (driver replay)
    val h0 = ImageHash.pixelDhashSeq(base)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h0, ImageHash.pixelDhashSeq(resized)) <= operators.Dedup.DHashHamMax,
      "bicubic 2x resize must stay within the pairing radius")
    assert(ham(h0, ImageHash.pixelDhashSeq(jpeg)) <= operators.Dedup.DHashHamMax,
      "JPEG q=0.85 re-encode must stay within the pairing radius")
    assert(ham(h0, ImageHash.pixelDhashSeq(distinct)) > operators.Dedup.DHashHamMax,
      "a structurally different image must not pair")
    // operator end-to-end: decode-side types, codegen'd expression,
    // banded pigeonhole join
    val df = Seq((0L, base), (1L, resized), (2L, jpeg), (10L, distinct))
      .toDF("doc_id", "pixels")
    val pairs = operators.Dedup.imageNearDupPixels(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (0L, 2L), (1L, 2L)),
      s"planted duplicates (and only they) must pair, got $pairs")
  }

  test("clip UDF works inside a DataFrame pipeline (R2 in plan form)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1L, gray(200, 4, 4))).toDF("id", "pixels")
      .withColumn("clipped",
        Raster.clipUdf(col("pixels"), lit(0.0), lit(4.0), lit(0.0), lit(4.0),
          typedlit(diamond)))
      .select(graft.functions.PixelOps.imageStats(col("clipped")).as("s"))
      .select("s.*")
    val r = df.head()
    assert(r.getDouble(0) == 200.0 && r.getDouble(3) == 1.0)
  }

  // ------------------------------------------- scanline clip ≡ ray cast

  type Polys = Seq[Seq[Seq[Double]]]

  /** The per-pixel reference: `Geo.pointInPolygon` at every center. */
  private def rayCastMask(h: Int, w: Int, minLon: Double, maxLon: Double,
      minLat: Double, maxLat: Double, polys: Polys): Array[Boolean] =
    Array.tabulate(h * w) { k =>
      val (i, j) = (k / w, k % w)
      val lat = maxLat - (i + 0.5) * (maxLat - minLat) / h
      val lon = minLon + (j + 0.5) * (maxLon - minLon) / w
      Geo.pointInPolygon(lon, lat, polys)
    }

  private def ring(pts: Seq[(Double, Double)]): Seq[Seq[Double]] = pts.map { case (x, y) => Seq(x, y) }

  /** Star-shaped ring around (cx, cy): convex when every radius is r. */
  private def star(rnd: Random, cx: Double, cy: Double, r: Double, n: Int,
      convex: Boolean): Seq[Seq[Double]] = {
    val phase = rnd.nextDouble() * 2 * math.Pi
    ring((0 until n).map { k =>
      val a = phase + 2 * math.Pi * k / n
      val rk = if (convex) r else r * (0.2 + 0.8 * rnd.nextDouble())
      (cx + rk * math.cos(a), cy + rk * math.sin(a))
    })
  }

  /** Rectilinear skyline: every edge horizontal or vertical, with the
    * horizontal ones on pixel-center latitudes and the vertical ones
    * on pixel-center longitudes, so vertices sit exactly on centers. */
  private def skyline(rnd: Random, h: Int, w: Int, minLon: Double, maxLon: Double,
      minLat: Double, maxLat: Double): Seq[Seq[Double]] = {
    def lat(i: Int) = maxLat - (i + 0.5) * (maxLat - minLat) / h
    def lon(j: Int) = minLon + (j + 0.5) * (maxLon - minLon) / w
    val cols = (0 until w).filter(_ => rnd.nextInt(3) == 0).distinct.sorted
    val xs = (if (cols.length < 2) Seq(0, w - 1) else cols).map(lon)
    val base = lat(h - 1 - rnd.nextInt(math.max(1, h / 3)))
    val tops = xs.indices.init.map(_ => lat(rnd.nextInt(h)))
    ring(Seq((xs.head, base), (xs.last, base)) ++
      tops.indices.reverse.flatMap(k => Seq((xs(k + 1), tops(k)), (xs(k), tops(k)))))
  }

  test("scanline clip mask equals the per-pixel pointInPolygon mask on seeded random shapes") {
    val rnd = new Random(20261017L)
    var cases = 0
    for (round <- 0 until 240) {
      val h = 1 + rnd.nextInt(40)
      val w = 1 + rnd.nextInt(40)
      val (minLon, minLat) = (rnd.nextDouble() * 10 - 5, rnd.nextDouble() * 10 - 5)
      val (dLon, dLat) = (0.1 + rnd.nextDouble() * 3, 0.1 + rnd.nextDouble() * 3)
      // some bboxes are given flipped (max < min): centers then run
      // right-to-left, which the scanline must not assume away
      val flip = round % 17 == 0
      val (maxLon, maxLat) = if (flip) (minLon - dLon, minLat - dLat) else (minLon + dLon, minLat + dLat)
      val (cx, cy) = ((minLon + maxLon) / 2, (minLat + maxLat) / 2)
      val r = math.min(dLon, dLat) * (0.2 + 0.5 * rnd.nextDouble())
      val kind = round % 6
      val polys: Polys = kind match {
        case 0 => Seq(star(rnd, cx, cy, r, 3 + rnd.nextInt(40), convex = true))
        case 1 => Seq(star(rnd, cx, cy, r, 5 + rnd.nextInt(130), convex = false))
        case 2 => // overlapping multi-polygon: the union, not an XOR
          Seq.fill(2 + rnd.nextInt(2))(star(rnd, cx + (rnd.nextDouble() - 0.5) * r,
            cy + (rnd.nextDouble() - 0.5) * r, r, 4 + rnd.nextInt(60), convex = rnd.nextBoolean()))
        case 3 => Seq(skyline(rnd, h, w, minLon, maxLon, minLat, maxLat))
        case 4 => // degenerate rings beside a real one
          Seq(Seq.empty, ring(Seq((cx, cy))), ring(Seq((cx - r, cy - r), (cx + r, cy + r))),
            star(rnd, cx, cy, r, 3 + rnd.nextInt(20), convex = false))
        case _ => // self-intersecting vertex soup, partly outside the bbox
          Seq(ring(Seq.fill(3 + rnd.nextInt(30))(
            (cx + (rnd.nextDouble() - 0.5) * 2 * dLon, cy + (rnd.nextDouble() - 0.5) * 2 * dLat))))
      }
      val expect = rayCastMask(h, w, minLon, maxLon, minLat, maxLat, polys)
      val got = Raster.clipMask(h, w, minLon, maxLon, minLat, maxLat, polys)
      val bad = expect.indices.filter(k => expect(k) != got(k))
      assert(bad.isEmpty, s"round $round kind $kind ${h}x$w: ${bad.size} pixels differ, first ${bad.take(5)}")
      // and through the Seq wrapper: kept pixels are exactly the mask
      val ones = Seq.fill(2)(Seq.fill(h)(Seq.fill(w)(1)))
      val clipped = Raster.clip(ones, minLon, maxLon, minLat, maxLat, polys)
      assert(clipped.forall(_.flatten.map(_ == 1) == expect.toSeq), s"round $round clip")
      cases += 1
    }
    assert(cases == 240)
  }

  test("clip: rings with fewer than 3 vertices keep nothing; empty or null geometry keeps all") {
    val cube = Seq.tabulate(3, 5, 6)((c, i, j) => 1 + (c * 7 + i * 3 + j) % 200)
    val tiny: Polys = Seq(Seq.empty, Seq(Seq(2.0, 2.0)), Seq(Seq(0.0, 0.0), Seq(6.0, 5.0)))
    assert(Raster.clip(cube, 0, 6, 0, 5, tiny).forall(_.flatten.forall(_ == 0)))
    assert(rayCastMask(5, 6, 0, 6, 0, 5, tiny).forall(!_))
    assert(Raster.clip(cube, 0, 6, 0, 5, Seq.empty) == cube, "no geometry → no mask")
    assert(Raster.clip(cube, 0, 6, 0, 5, null) == cube, "null geometry → no mask")
    assert(Raster.clip(null, 0, 6, 0, 5, diamond) == null)
  }

  // ---------------------------------------------- fused kernel ≡ wrappers

  private def noiseCube(rnd: Random, h: Int, w: Int): Seq[Seq[Seq[Int]]] =
    Seq.fill(3, h, w)(rnd.nextInt(256))

  test("products: clipped cube, clipped TIFF, full TIFF and thumbnail PNG equal the Seq wrappers") {
    val rnd = new Random(7L)
    for ((h, w) <- Seq((8, 8), (30, 45), (64, 64), (100, 71))) {
      val cube = noiseCube(rnd, h, w)
      val geoms: Seq[Polys] = Seq(
        Seq(star(rnd, 5.0, 5.0, 3.0, 120, convex = false)),
        Seq(star(rnd, 4.0, 4.0, 2.5, 30, convex = true), star(rnd, 6.0, 6.0, 2.5, 30, convex = false)),
        Seq.empty, null)
      for (polys <- geoms) {
        val p = Raster.products(cube, 1.0, 9.0, 1.0, 9.0, polys, 7)
        val clipped = Raster.clip(cube, 1.0, 9.0, 1.0, 9.0, polys)
        assert(p.clipped == clipped, s"${h}x$w clipped cube")
        assert(p.clippedTif.sameElements(Raster.encodeTiff(clipped)), s"${h}x$w clipped tif")
        assert(p.fullTif.sameElements(Raster.encodeTiff(cube)), s"${h}x$w full tif")
        assert(p.thumbnailPng.sameElements(Raster.encodePng(Raster.thumbnailArray(clipped, 7))),
          s"${h}x$w thumbnail png")
      }
    }
    assert(Raster.products(null, 0, 1, 0, 1, diamond, 7) == null)
  }

  test("a 512x512 cube given as nested Lists (the ScalaUDF form) gives identical output " +
      "through every wrapper") {
    val (h, w) = (512, 512)
    def v(c: Int, i: Int, j: Int) = (c * 71 + i * 13 + j * 7 + (i * j) % 29) % 256
    val asList: Seq[Seq[Seq[Int]]] = List.tabulate(3, h, w)(v)
    val asIndexed: Seq[Seq[Seq[Int]]] = Vector.tabulate(3, h, w)(v)
    assert(asList.head.head.isInstanceOf[List[_]])
    val polys: Polys = Seq(star(new Random(3L), 0.5, 0.5, 0.4, 130, convex = false))
    def same(what: String)(f: Seq[Seq[Seq[Int]]] => Any): Unit = {
      def norm(x: Any): Any = x match {
        case b: Array[Byte] => b.toSeq
        case p: graft.functions.RasterProducts =>
          (p.clipped, p.clippedTif.toSeq, p.fullTif.toSeq, p.thumbnailPng.toSeq)
        case o => o
      }
      assert(norm(f(asList)) == norm(f(asIndexed)), what)
    }
    same("clip")(Raster.clip(_, 0, 1, 0, 1, polys))
    same("thumbnailArray")(Raster.thumbnailArray(_, 7))
    same("encodePng")(Raster.encodePng)
    same("encodeTiff")(Raster.encodeTiff)
    same("encodeJpeg")(Raster.encodeJpeg(_, 0.9f))
    // entry by entry: the archive headers carry the time of the call
    same("encodeBandZip") { c =>
      val zin = new java.util.zip.ZipInputStream(
        new java.io.ByteArrayInputStream(Raster.encodeBandZip(c, Seq("R", "G", "B"))))
      Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
        .map(e => e.getName -> zin.readAllBytes().toSeq).toList
    }
    same("products")(Raster.products(_, 0, 1, 0, 1, polys, 7))
    same("PixelStatsAgg.reduce")(PixelStatsAgg.reduce(PixelStatsAgg.zero, _))
    same("pixelDhashSeq")(ImageHash.pixelDhashSeq)
    // and the lossless codecs give the cube back
    assert(Raster.decodeImage(Raster.encodeTiff(asList)) == asIndexed)
    assert(Raster.decodeBandZip(Raster.encodeBandZip(asList, Seq("R", "G", "B")),
      Seq("R", "G", "B")) == asIndexed)
  }
}
