package graft.operators

import graft.functions.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact kNN over the cell grid in two fixed phases (north_rule: "kNN via
  * expanding H3 k-ring search"), the bound-then-verify shape of
  * [[Ann.ivfTopK]]'s search:
  *
  *   1. bound: each query's disk(r0) — the Chebyshev rings 0..r0 around its
  *      cell — is joined to the celled points and ranked; the k-th smallest
  *      distance found, `kth`, bounds the true k-th distance d_k from above.
  *   2. verify: each query joins its disk(R), R = ceil(sqrt(kth) / cellH)
  *      + 1, and ranks exactly.
  *
  * Exactness: a cell is cellH tall and 2·cellH wide, so every point at
  * distance <= sqrt(kth) lies within ceil(sqrt(kth) / cellH) cells of the
  * query's cell on each axis; the +1 absorbs FP rounding. Every top-k
  * point, and every point tied with the k-th, is in disk(R), so the
  * `(dist, point_id)` ranking equals [[knnBrute]]'s. Rings are clipped at
  * the grid edge, with no wraparound, and the distance does not wrap either.
  *
  * A query whose disk would not pay off — fewer than k points in disk(r0),
  * or (2R+1)² cells outnumbering the points — takes the brute-force cross
  * join instead; the result is the union of both routes.
  *
  * Distance is squared euclidean in lon/lat degrees with a fixed expression
  * shape so the DuckDB oracle reproduces the exact doubles; ties break on
  * point_id — fully deterministic output.
  *
  * The returned frame is one lazy plan that stores nothing of its own, so
  * repeated calls leave no block storage behind, and its job count does
  * not depend on the data (an empty route may let AQE skip a stage).
  */
object Knn {

  val distExpr = "(qlon - lon) * (qlon - lon) + (qlat - lat) * (qlat - lat)"
  private val win = Window.partitionBy("query_id").orderBy(col("dist"), col("point_id"))

  /** queries(query_id, qlon, qlat) x points(point_id, lon, lat) -> top-k
    * (query_id, point_id, rnk), equal to [[knnBrute]]'s rows for points
    * with coordinates.
    *
    * Runs one `points.count()` at call time: r0 is sized so disk(r0)
    * expects ~4k points under a uniform-density estimate, and the count
    * also caps the verify radius where the cross join becomes cheaper. */
  def knn(queries: DataFrame, points: DataFrame, k: Int, level: Int = 8): DataFrame = {
    val cellH = 180.0 / (1L << level).toDouble
    val maxR = (1L << level).toInt
    val nPts = points.count()
    val density = math.max(nPts.toDouble, 1.0) / (360.0 * 180.0)
    val r0 = math.max(1, math.min(maxR,
      math.ceil((math.sqrt(4.0 * k / density) / cellH - 1.0) / 2.0).toInt))
    // largest verify radius whose (2R+1)² disk cells do not outnumber the
    // points
    val rMax = math.min(maxR, ((math.sqrt(nPts.toDouble) - 1.0) / 2.0).toInt)

    // a point without coordinates has no cell and is no query's neighbour;
    // both routes read this one frame, so they share its scan
    val pts = points.withColumn("cell", st_cellid(col("lon"), col("lat"), level))
      .where(col("cell").isNotNull)
    def topKInDisk(qs: DataFrame, r: Column): DataFrame =
      broadcast(qs.withColumn("rr", explode(sequence(lit(0), r)))
        .withColumn("cell", explode(st_ring_cells(col("qlon"), col("qlat"), level, col("rr"))))
        .drop("rr"))
        .join(pts, "cell")
        .withColumn("dist", expr(distExpr))
        .withColumn("rnk", row_number().over(win))
        .where(col("rnk") <= k)

    val qs = queries.select("query_id", "qlon", "qlat")
    // phase 1 keeps the queries whose disk pays off, with their verify
    // radius: k points found and R no larger than rMax.
    // Null ids take the brute route, which groups them as knnBrute does;
    // filtering them here also keeps the planner from inferring the filter
    // for one route only, so both routes share phase 1's stages.
    val bounds = topKInDisk(qs.where(col("query_id").isNotNull), lit(r0))
      .groupBy("query_id", "qlon", "qlat")
      .agg(count(lit(1)).as("found"), max(col("dist")).as("kth"))
      .where(col("found") === k)
      .withColumn("R", (ceil(sqrt(col("kth")) / lit(cellH)) + 1).cast("int"))
      .where(col("R") <= rMax)
      .select("query_id", "qlon", "qlat", "R")
    val viaDisk = topKInDisk(bounds, col("R")).select("query_id", "point_id", "rnk")
    // bounds has at most one row per query, like the broadcast disks
    val viaBrute = knnBrute(qs.join(broadcast(bounds), Seq("query_id"), "left_anti"), pts, k)
    viaDisk.unionByName(viaBrute)
  }

  /** Brute-force oracle-shaped variant (used by tests and as [[knn]]'s
    * brute route). */
  def knnBrute(queries: DataFrame, points: DataFrame, k: Int): DataFrame =
    broadcast(queries).crossJoin(points)
      .withColumn("dist", expr(distExpr))
      .withColumn("rnk", row_number().over(win))
      .where(col("rnk") <= k)
      .select("query_id", "point_id", "rnk")
}
