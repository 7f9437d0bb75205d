package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Pure-Scala computational geometry (SURVEY §7.2: F1 general
  * polygon-contains and the R2 clip kernel need custom code; no
  * external geo libs in the offline build).
  *
  * Geometry representation follows the reference's nested-list layout
  * (`water_body_geometries.geometry`, reference main.py:357, 375-377):
  * `array<array<array<double>>>` = polygons → ring vertices → [lon,
  * lat] (z, if present, is dropped upstream — P7).
  */
object Geo {

  /** Even-odd ray cast against one ring (vertices as [x, y] pairs).
    * Boundary behavior: half-open (standard crossing rule) — callers
    * that need exactness on edges must not place test points on them.
    */
  def pointInRing(x: Double, y: Double, ring: IndexedSeq[IndexedSeq[Double]]): Boolean = {
    var inside = false
    var i = 0
    val n = ring.length
    var j = n - 1
    while (i < n) {
      val xi = ring(i)(0); val yi = ring(i)(1)
      val xj = ring(j)(0); val yj = ring(j)(1)
      if ((yi > y) != (yj > y) && x < crossX(xi, yi, xj, yj, y)) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  /** Where edge (xi, yi)–(xj, yj) meets the horizontal line at `y`;
    * meaningful only when `(yi > y) != (yj > y)`. The one formula both
    * [[pointInRing]] and [[ringCrossings]] use, so their crossings are
    * bit-identical. */
  @inline def crossX(xi: Double, yi: Double, xj: Double, yj: Double, y: Double): Double =
    (xj - xi) * (y - yi) / (yj - yi) + xi

  /** Scanline form of [[pointInRing]]: writes into `out` the crossing
    * x of every edge of the ring (vertices `xs(k)`, `ys(k)`) that
    * straddles the line at `y`, walking the edges in the same order,
    * and returns how many there are. A point (x, y) is inside the ring
    * exactly when an odd number of them satisfy `x < xCross`. NaN
    * crossings are dropped: `x < NaN` never toggles. `out` must hold
    * `xs.length` values. */
  def ringCrossings(xs: Array[Double], ys: Array[Double], y: Double, out: Array[Double]): Int = {
    var count = 0
    val n = xs.length
    var i = 0
    var j = n - 1
    while (i < n) {
      if ((ys(i) > y) != (ys(j) > y)) {
        val c = crossX(xs(i), ys(i), xs(j), ys(j), y)
        if (!c.isNaN) { out(count) = c; count += 1 }
      }
      j = i
      i += 1
    }
    count
  }

  /** Multi-polygon containment: inside any ring (disjoint-polygon OR —
    * the reference unions its polygons into one boundary, P9
    * main.py:386-390; keeping the multi-polygon and OR-ing is
    * equivalent for disjoint parts, SURVEY §2.4 P9 'our choice'). */
  def pointInPolygon(x: Double, y: Double, polys: Seq[Seq[Seq[Double]]]): Boolean =
    polys.exists(r => pointInRing(x, y, r.map(_.toIndexedSeq).toIndexedSeq))

  /** Column form for joins/filters: point_in_polygon(lon, lat, geom). */
  val pointInPolygonUdf =
    udf((x: Double, y: Double, polys: Seq[Seq[Seq[Double]]]) => pointInPolygon(x, y, polys))

  def pointInPolygonCol(lon: Column, lat: Column, geom: Column): Column =
    pointInPolygonUdf(lon, lat, geom)
}
