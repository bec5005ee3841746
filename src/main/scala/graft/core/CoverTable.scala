package graft.core

/** Compact cell → polygon table: the build side of the broadcast spatial
  * join, probed once per point by walking its ancestor chain.
  *
  * Layout (flat primitive arrays, after *CAMEL Hash Table*, EDBT 2026):
  *  - `keys`: open-addressing table of cover cell ids, linear probing,
  *    power-of-two capacity. Empty slots hold -1: packed cell ids are never
  *    negative, while the level-0 root cell packs to 0L.
  *  - `slotStart`/`entries`: CSR entry lists per slot; an entry is
  *    `polyIdx << 1 | full`.
  *  - `polyRings`/`ringStart`/`coords`: every polygon's rings stored once,
  *    as interleaved (x, y) doubles. Polygon p owns rings
  *    `polyRings(p) until polyRings(p + 1)`; ring r owns points
  *    `ringStart(r) until ringStart(r + 1)`.
  *
  * A polygon's cover is disjoint, so a point's ancestor chain meets it in at
  * most one cell: a probe reports each matching polygon exactly once. Full
  * cells match outright; boundary cells ray-cast with the parity rule of
  * [[RayCast.containsRings]], on the same arithmetic, so both agree bit for
  * bit. */
final class CoverTable private (
    keys: Array[Long],
    slotStart: Array[Int],
    entries: Array[Int],
    polyRings: Array[Int],
    ringStart: Array[Int],
    coords: Array[Double]) extends Serializable {

  private val mask = keys.length - 1

  private def slotOf(cell: Long): Int = {
    var s = CoverTable.mix(cell).toInt & mask
    while (keys(s) != cell && keys(s) != CoverTable.Empty) s = (s + 1) & mask
    s
  }

  /** Calls `hit(polyIdx)` once for every polygon containing (x, y), walking
    * the point's cells at levels `level` down to 0. */
  def probe(x: Double, y: Double, level: Int)(hit: Int => Unit): Unit = {
    val (ix, iy) = CellIndex.cellXY(x, y, level)
    // a parent's Morton code is its child's shifted right by one level
    var morton = CellIndex.interleave(ix, iy)
    var l = level
    while (l >= 0) {
      val s = slotOf(CellIndex.pack(l, morton))
      if (keys(s) != CoverTable.Empty) {
        var e = slotStart(s)
        val end = slotStart(s + 1)
        while (e < end) {
          val entry = entries(e)
          val p = entry >>> 1
          if ((entry & 1) == 1 || contains(p, x, y)) hit(p)
          e += 1
        }
      }
      morton >>>= 2
      l -= 1
    }
  }

  /** Number of polygons containing (x, y). */
  def count(x: Double, y: Double, level: Int): Int = {
    var c = 0
    probe(x, y, level)(_ => c += 1)
    c
  }

  /** Even-odd ray cast of (x, y) against polygon `p`'s rings. */
  private def contains(p: Int, x: Double, y: Double): Boolean = {
    var parity = false
    var r = polyRings(p)
    while (r < polyRings(p + 1)) {
      val s = ringStart(r)
      val e = ringStart(r + 1)
      var inside = false
      var i = s
      var j = e - 1
      while (i < e) {
        val xi = coords(2 * i); val yi = coords(2 * i + 1)
        val xj = coords(2 * j); val yj = coords(2 * j + 1)
        if ((yi > y) != (yj > y)) {
          val xCross = (xj - xi) * (y - yi) / (yj - yi) + xi
          if (x < xCross) inside = !inside
        }
        j = i
        i += 1
      }
      if (inside) parity = !parity
      r += 1
    }
    parity
  }
}

object CoverTable {
  private val Empty = -1L

  /** murmur3's 64-bit finalizer: spreads the level and Morton bits over the
    * low bits the slot mask keeps. */
  private def mix(k: Long): Long = {
    var h = k
    h ^= h >>> 33
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** One polygon of the layer: its cover cells with their `full` flags, and
    * its rings (each point as an (x, y, ...) array). A null `cells` or
    * `rings` (a null geometry) matches nothing. */
  final case class Polygon(cells: Array[Long], full: Array[Boolean],
                           rings: Array[Array[Array[Double]]])

  object Polygon {
    /** Geometry `g`'s disjoint cover at `level` and its rings; a null `g`
      * gives the polygon that matches nothing. */
    def of(g: Geom, level: Int): Polygon =
      if (g == null) Polygon(null, null, null)
      else {
        val cov = CellIndex.cover(g, level)
        Polygon(cov.map(_.cell), cov.map(_.full),
          g.polygonRings.map(_.map(_.toArray).toArray).toArray)
      }
  }

  /** Builds the table; polygon indexes follow `polys`' order. */
  def build(polys: IndexedSeq[Polygon]): CoverTable = {
    def cellsOf(p: Polygon) = if (p.cells == null) Array.emptyLongArray else p.cells
    def ringsOf(p: Polygon) = if (p.rings == null) Array.empty[Array[Array[Double]]] else p.rings
    val nEntries = polys.iterator.map(cellsOf(_).length).sum
    // load factor at most 1/2
    val cap = Integer.highestOneBit(math.max(2, nEntries) * 2 - 1) * 2
    val mask = cap - 1
    val keys = Array.fill(cap)(Empty)
    val counts = new Array[Int](cap + 1)
    def slot(cell: Long): Int = {
      require(cell != Empty, "cell ids are non-negative")
      var s = mix(cell).toInt & mask
      while (keys(s) != cell && keys(s) != Empty) s = (s + 1) & mask
      keys(s) = cell
      s
    }
    polys.foreach(p => cellsOf(p).foreach(c => counts(slot(c) + 1) += 1))
    var s = 0
    while (s < cap) { counts(s + 1) += counts(s); s += 1 }
    val slotStart = counts.clone()
    val entries = new Array[Int](nEntries)
    polys.iterator.zipWithIndex.foreach { case (p, i) =>
      val cells = cellsOf(p)
      var k = 0
      while (k < cells.length) {
        val s = slot(cells(k))
        entries(counts(s)) = i << 1 | (if (p.full(k)) 1 else 0)
        counts(s) += 1
        k += 1
      }
    }
    val polyRings = polys.iterator.map(ringsOf(_).length).scanLeft(0)(_ + _).toArray
    val allRings = polys.flatMap(ringsOf)
    val ringStart = allRings.iterator.map(_.length).scanLeft(0)(_ + _).toArray
    val coords = new Array[Double](2 * ringStart.last)
    var pt = 0
    allRings.foreach(_.foreach { xy =>
      coords(2 * pt) = xy(0); coords(2 * pt + 1) = xy(1)
      pt += 1
    })
    new CoverTable(keys, slotStart, entries, polyRings, ringStart, coords)
  }
}
