package graft

import graft.core.{CellIndex, CoverTable, Geom, WktParser}

/** A polygon layer and probe points that stress the spatial join's
  * boundary cases: a hole, a multipolygon, nested and touching rectangles
  * whose edges lie on cell boundaries, polygons near the poles, and a
  * world-spanning polygon whose cover is the level-0 root cell (packed id
  * 0L). The points add every vertex, every edge midpoint, a grid over the
  * nested rectangles on their edges, and latitudes of ±84°. */
object AdversarialLayer {
  val polygons: Seq[(Long, String)] = Seq(
    1L -> "POLYGON ((10 10, 40 12, 42 38, 12 40, 10 10), (20 20, 30 20, 30 30, 20 30, 20 20))",
    2L -> "MULTIPOLYGON (((-60 -20, -40 -25, -35 -5, -55 0, -60 -20)), ((70 50, 85 52, 83 64, 71 60, 70 50)))",
    3L -> "POLYGON ((0 0, 8 0, 8 6, 0 6, 0 0))",
    4L -> "POLYGON ((2 1, 6 1, 6 5, 2 5, 2 1))",
    5L -> "POLYGON ((8 0, 11.25 0, 11.25 5.625, 8 5.625, 8 0))",
    6L -> "POLYGON ((-170 78, 170 78, 170 85, -170 85, -170 78))",
    7L -> "POLYGON ((-120 -85, -60 -85, -90 -80, -120 -85))",
    8L -> "POLYGON ((-181 -91, 181 -91, 181 91, -181 91, -181 -91))")

  val geoms: Seq[Geom] = polygons.map(p => WktParser.parse(p._2))

  val points: Seq[(Double, Double)] = {
    val rnd = new scala.util.Random(84)
    val random = Seq.fill(2000)((rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90))
    val rings = geoms.flatMap(_.polygonRings)
    val vertices = rings.flatMap(_.map(p => (p(0), p(1))))
    val midpoints = rings.flatMap(r => r.zip(r.tail).map { case (a, b) =>
      ((a(0) + b(0)) / 2, (a(1) + b(1)) / 2)
    })
    val grid = for (x <- -4 to 24; y <- -2 to 14) yield (x * 0.5, y * 0.5)
    val polar = for (x <- -24 to 24; lat <- Seq(-84.0, 84.0)) yield (x * 7.5, lat)
    // the grid clamps points off [-180, 180] x [-90, 90] into its edge
    // cells, so points there are out of the join's domain
    (random ++ vertices ++ midpoints ++ grid ++ polar)
      .filter { case (x, y) => math.abs(x) <= 180 && math.abs(y) <= 90 }
  }

  /** A table input row for `g`, covered at `level` as the join covers it. */
  def tablePolygon(g: Geom, level: Int): CoverTable.Polygon = {
    val cov = CellIndex.cover(g, level)
    CoverTable.Polygon(cov.map(_.cell), cov.map(_.full),
      g.polygonRings.map(_.map(_.toArray).toArray).toArray)
  }
}
