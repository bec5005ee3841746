package graftbench

import graft.core.{CellIndex, RayCast, TileMath, WktParser}
import graft.functions.textexprs
import graft.operators.Images
import org.apache.spark.sql.catalyst.expressions.Literal

/** `core` kernel micro-timings: pure Scala on one thread, no Spark session,
  * after a warmup, on inputs from the same seeded generators the workloads
  * use. Each figure is the median of five timed passes, per operation. */
object Kernels {

  private var sink = 0L

  /** ns per op of `pass`, which performs `ops` operations. */
  private def nsPerOp(ops: Long)(pass: => Long): Double = {
    val warmEnd = System.nanoTime() + 200000000L
    while (System.nanoTime() < warmEnd) sink += pass
    // repeat the pass so one timed sample lasts at least ~20 ms
    val t0 = System.nanoTime(); sink += pass
    val reps = math.max(1, (20000000L / math.max(1L, System.nanoTime() - t0)).toInt)
    val samples = Array.fill(5) {
      val s = System.nanoTime()
      var i = 0
      while (i < reps) { sink += pass; i += 1 }
      (System.nanoTime() - s).toDouble / reps
    }.sorted
    samples(2) / ops
  }

  def run(seed: Long): Map[String, Double] = {
    val wkts = Gen.polygons(seed, 300).map(_._2)
    val geoms = wkts.map(WktParser.parse)
    val rings = geoms.map(_.polygonRings)
    val bboxes = geoms.map(_.bbox.get)
    val r = new scala.util.Random(seed)
    val pts = Array.fill(2000) {
      if (r.nextInt(5) == 0) (r.nextDouble() * 8.0, r.nextDouble() * 6.0)
      else (-170.0 + r.nextDouble() * 340.0, -80.0 + r.nextDouble() * 160.0)
    }
    // ray-cast work: every (point, polygon) pair whose bbox holds the point
    val pairs = for {
      (x, y) <- pts.toSeq; i <- rings.indices
      (x0, y0, x1, y1) = bboxes(i) if x >= x0 && x <= x1 && y >= y0 && y <= y1
    } yield (x, y, i)
    val pairVerts = pairs.map(p => rings(p._3).map(_.length).sum.toLong).sum
    val imgs = (0 until 60).map { i =>
      val fmt = Seq("png", "bmp", "jpg")(i % 3)
      Images.synthBytes(f"img-$i%09d", 16 + i % 5 * 16, 16 + i % 3 * 16, fmt)
    }
    val pixels = imgs.map(b => Images.decodeToPixels(b).pixels.length.toLong).sum
    val docs = Gen.docs(seed, 200).map(_._2)
    val grams = docs.map(d => math.max(1, d.codePointCount(0, d.length) - 16 + 1).toLong).sum
    val shingles = docs.map(d => textexprs.shingles(d, 3).length.toLong).sum
    val cells = geoms.map(g => CellIndex.cover(g, 12).length.toLong).sum

    Map(
      "core.wkt_parse_ns" -> nsPerOp(wkts.length)(wkts.map(WktParser.parse(_).typeTag.toLong).sum),
      "core.cover_ns" -> nsPerOp(geoms.length)(geoms.map(CellIndex.cover(_, 12).length.toLong).sum),
      "core.cover_cells" -> cells.toDouble / geoms.length,
      "core.ancestors_ns" -> nsPerOp(pts.length)(pts.map(p => CellIndex.ancestors(p._1, p._2, 12)(12)).sum),
      "core.raycast_ns_per_vertex" -> nsPerOp(math.max(1L, pairVerts))(
        pairs.count(p => RayCast.containsRings(rings(p._3), p._1, p._2)).toLong),
      "core.disk_ns" -> nsPerOp(pts.length)(pts.map(p => CellIndex.disk(p._1, p._2, 8, 2).length.toLong).sum),
      "core.decode_ns_per_px" -> nsPerOp(pixels)(imgs.map(Images.decodeToPixels(_).w.toLong).sum),
      "core.tile_ns" -> nsPerOp(pts.length)(pts.map(p => TileMath.tileX(p._1, 8) + TileMath.tileY(p._2, 8)).sum),
      "core.gram_hash_ns" -> nsPerOp(grams)(docs.map(d =>
        textexprs.NgramHashSet(Literal(d), Literal(16)).eval().hashCode.toLong).sum),
      "core.minhash_ns" -> nsPerOp(shingles)(docs.map(d =>
        textexprs.MinHash(Literal(d), Literal(64), Literal(3)).eval().hashCode.toLong).sum))
  }
}
