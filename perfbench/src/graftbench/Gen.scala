package graftbench

import scala.util.Random

import graft.sources.SynthData
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every workload input is a pure function of the
  * seed (and the size scale), so one seed always yields the same tables.
  * The engine only ever sees the tables these produce. */
object Gen {

  /** First point id of a seed's id range. The point arithmetic of
    * [[SynthData.pointsN]] is modular in the id, so shifting the range moves
    * every point while keeping 20% of them in the hot region. */
  def idOffset(seed: Long): Long = Math.floorMod(seed * 1000003L, 1L << 40)

  /** `n` payload-free points (point_id, lon, lat): the `pointsN` arithmetic
    * over a seed-shifted id range. */
  def points(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val off = idOffset(seed)
    spark.range(off, off + n).select(col("id").as("point_id"),
      expr(SynthData.pointLonSql.replace("o_orderkey", "id")).as("lon"),
      expr(SynthData.pointLatSql.replace("o_orderkey", "id")).as("lat"))
  }

  /** A star-shaped ring of `nv` vertices around (cx, cy), closed, counter-
    * clockwise. Star-shaped rings with monotone angles are always simple. */
  private def ring(r: Random, cx: Double, cy: Double, rad: Double, nv: Int): Vector[(Double, Double)] = {
    val pts = Vector.tabulate(nv) { i =>
      val a = 2 * math.Pi * i / nv
      val d = rad * (0.7 + 0.3 * r.nextDouble())
      (cx + d * math.cos(a), cy + d * math.sin(a))
    }
    pts :+ pts.head
  }

  private def fmt(ring: Vector[(Double, Double)]): String =
    ring.map { case (x, y) => f"$x%.6f $y%.6f" }.mkString("(", ", ", ")")

  /** Centre of cell `i` of a grid of about `n` cells over [x0, x0 + w] x
    * [y0, y0 + h], moved by up to half a cell in each axis. Spreading shapes
    * this way keeps the amount of overlap and coverage nearly the same from
    * seed to seed, while every coordinate still changes with the seed. */
  private def jittered(r: Random, i: Int, n: Int, x0: Double, y0: Double,
                       w: Double, h: Double): (Double, Double) = {
    val cols = math.max(1, math.round(math.sqrt(n * w / h)).toInt)
    val rows = (n + cols - 1) / cols
    (x0 + (i % cols + r.nextDouble()) * w / cols, y0 + (i / cols + r.nextDouble()) * h / rows)
  }

  /** Polygon layer (poly_id, wkt): rings of 16-40 vertices, a fifth with a
    * hole, and 30% of the polygons packed over the hot point region so that
    * they overlap each other. Denser than the sf0.1 rectangle layer. */
  def polygons(seed: Long, n: Int): Vector[(Long, String)] = {
    val r = new Random(seed * 31 + 7)
    // shares, sizes and vertex counts are fixed by index, so only positions
    // and outlines vary with the seed
    val hot = (0 until n).map(_ % 10 < 3)
    val nHot = hot.count(identity)
    var (iHot, iCold) = (0, 0)
    Vector.tabulate(n) { i =>
      val u = (i * 37 % 100) / 100.0
      val ((cx, cy), rad) =
        if (hot(i)) { iHot += 1; (jittered(r, iHot - 1, nHot, 0.0, 0.0, 8.0, 6.0), 0.3 + u * 1.7) }
        else { iCold += 1; (jittered(r, iCold - 1, n - nHot, -165.0, -75.0, 330.0, 150.0), 0.5 + u * 3.5) }
      val shell = ring(r, cx, cy, rad, 16 + i % 25)
      val wkt =
        if (i % 5 == 1) {
          // a hole well inside the shell's minimum radius (0.7 * rad), wound
          // clockwise
          val hole = ring(r, cx, cy, rad * 0.3, 16).reverse
          s"POLYGON (${fmt(shell)}, ${fmt(hole)})"
        } else s"POLYGON (${fmt(shell)})"
      (i.toLong, wkt)
    }
  }

  /** Rectangle layer (poly_id, wkt): the sf-table rectangle arithmetic of
    * [[SynthData.polygons]] over a seed-shifted id range, 10% over the hot
    * point region, integral corners. */
  def rectangles(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import graft.functions.GraftFunctions.st_polygon_wkt
    def e(sql: String) = expr(sql.replace("s_suppkey", "id"))
    val off = idOffset(seed + 1)
    spark.range(off, off + n)
      .select(col("id").as("poly_id"), e(SynthData.polyX0Sql).as("x0"),
        e(SynthData.polyY0Sql).as("y0"), e(SynthData.polyWSql).as("w"), e(SynthData.polyHSql).as("h"))
      .select(col("poly_id"), st_polygon_wkt(array(array(
        array(col("x0"), col("y0")),
        array(col("x0") + col("w"), col("y0")),
        array(col("x0") + col("w"), col("y0") + col("h")),
        array(col("x0"), col("y0") + col("h")),
        array(col("x0"), col("y0")))), 0).as("wkt"))
  }

  /** kNN queries (query_id, qlon, qlat): a third in the hot region. */
  def queries(seed: Long, n: Int): Vector[(Long, Double, Double)] = {
    val r = new Random(seed * 17 + 3)
    val nHot = (n + 2) / 3
    Vector.tabulate(n) { i =>
      val (x, y) =
        if (i % 3 == 0) jittered(r, i / 3, nHot, 0.2, 0.2, 7.6, 5.6)
        else jittered(r, i - i / 3 - 1, n - nHot, -165.0, -75.0, 330.0, 150.0)
      (i.toLong, x, y)
    }
  }

  /** Document corpus (doc_id, text) over a vocabulary of `vocab` pseudo
    * words drawn Zipf-like, with planted near-duplicate clusters: a third of
    * the documents are copies of an earlier one with a few words replaced,
    * dropped or inserted. */
  def docs(seed: Long, n: Int, vocab: Int = 4000): Vector[(Long, String)] = {
    val r = new Random(seed * 13 + 5)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val words = Array.fill(vocab)(
      Array.fill(3 + r.nextInt(7))(letters(r.nextInt(26))).mkString)
    // Zipf(1) by inverse transform over the harmonic prefix sums
    val cum = words.indices.scanLeft(0.0)((s, i) => s + 1.0 / (i + 1)).tail.toArray
    def word(): String = {
      val u = r.nextDouble() * cum.last
      val i = java.util.Arrays.binarySearch(cum, u)
      words(if (i >= 0) i else math.min(-i - 1, vocab - 1))
    }
    val out = new Array[Vector[String]](n)
    for (i <- 0 until n) {
      out(i) =
        if (i >= 10 && i % 6 == 0 || i >= 10 && i % 6 == 3) {
          // docs 6k+1 get two copies (6k+6 and 6k+9): clusters of three
          val base = out(if (i % 6 == 0) i - 5 else i - 8)
          base.flatMap { w =>
            val u = r.nextDouble()
            if (u < 0.02) Vector.empty
            else if (u < 0.04) Vector(word())
            else if (u < 0.05) Vector(w, word())
            else Vector(w)
          }
        } else Vector.fill(12 + r.nextInt(48))(word())
    }
    out.toVector.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
  }
}
