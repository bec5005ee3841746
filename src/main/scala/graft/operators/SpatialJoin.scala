package graft.operators

import graft.functions.GraftFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cell-equijoin spatial join (north_star: "broadcast-or-shuffled
  * cell-equijoin followed by exact ray-casting point-in-polygon refinement").
  *
  * One operator, [[SpatialJoin.pointsInPolygons]], with two join branches:
  *
  *   polys ──st_cover(geom, L)──explode──▸ (poly cols, cell, full, rings)
  *   points ──st_cell_ancestors(lon,lat,L)──explode──▸ (point cols, cell)
  *   broadcastCover = true:  join on cell, cover side broadcast
  *   broadcastCover = false: join on (cell, salt); hot cells salted
  *   filter full OR st_contains_rings(rings, lon, lat)
  *
  * Because the quadtree cover is DISJOINT (graft.core.CellIndex.cover), a
  * point's ancestor chain meets each polygon's cover in at most one cell —
  * the join emits each (point, polygon) candidate exactly once and needs NO
  * dropDuplicates shuffle afterwards. `full` cells skip the ray-cast.
  *
  * Scale notes (100 TB / 1000 executors):
  *  - the cover side is |polys| × O(cells) rows of (long, bool, rings) —
  *    broadcast it whenever it fits (`broadcastCover = true`): a broadcast
  *    hash join has no shuffle partitions to skew, so it takes no hot-cell
  *    sample and no salt;
  *  - the point side explodes to (maxLevel+1) rows per point but is joined
  *    immediately (no materialization) and whole-stage codegen fuses
  *    explode+join probe;
  *  - for huge polygon layers (`broadcastCover = false`) the equijoin may
  *    shuffle both sides; hot cells found by a point-side sample are spread
  *    over S salt buckets (north_rule: "skew handled explicitly") and AQE
  *    skew-join splits what the sample missed.
  */
object SpatialJoin {

  // salt buckets per hot cell, and the point-side sample of the hot-cell
  // pre-pass
  private val salt = 8
  private val sampleFraction = 0.01

  /** Explode a polygon layer (must carry `geom`) into its cover cells.
    * The covering (quadtree descent per polygon) is CPU-heavy relative to
    * the layer's row count and typically arrives as a single small file —
    * repartition first or one task serializes the whole covering. */
  def coverSide(polys: DataFrame, level: Int): DataFrame =
    polys
      .repartition(polys.sparkSession.sparkContext.defaultParallelism)
      .withColumn("rings", st_rings(col("geom")))
      .withColumn("cov", explode(st_cover(col("geom"), level)))
      .withColumn("cell", col("cov.cell"))
      .withColumn("full", col("cov.full"))
      // interior (full) cells never ray-cast: drop their ring payload so the
      // broadcast/shuffle carries rings only for boundary cells
      .withColumn("rings", when(col("full"), lit(null)).otherwise(col("rings")))
      .drop("cov", "geom")

  /** points(pointCols..., lon, lat) ⋈ polys(polyCols..., geom) -> matches.
    *
    * @param broadcastCover true pins the cover side as the broadcast build
    *   and joins on `cell` alone. false takes the salted `(cell, salt)`
    *   equijoin: a cheap pre-pass counts a `sampleFraction` sample of the
    *   points per ancestor cell and collects the cells at or above
    *   `hotThreshold` (scaled to the sample); a hot cell's point rows each
    *   carry one of S salt buckets, hashed from all point columns, while its
    *   cover rows are replicated over all S, so every pair still meets
    *   exactly once. Cold rows join at salt 0 on both sides. Hot membership
    *   depends on `cell` alone, so a hot cell no polygon covers only salts
    *   point rows that join nothing. Nothing is cached: the cover is read
    *   by the join only.
    * @param hotThreshold per-cell probe-row count (at full scale) above
    *   which the salted branch spreads a cell; unused when broadcasting. */
  def pointsInPolygons(
      points: DataFrame,
      polys: DataFrame,
      level: Int = 12,
      broadcastCover: Boolean = false,
      hotThreshold: Long = 10000L): DataFrame = {
    val cover = coverSide(polys, level)
    val pts = points.withColumn("cell",
      explode(st_cell_ancestors(col("lon"), col("lat"), level)))
    val joined =
      if (broadcastCover) pts.join(broadcast(cover), "cell")
      else {
        val hot = points.sample(sampleFraction)
          .select(explode(st_cell_ancestors(col("lon"), col("lat"), level)).as("cell"))
          .groupBy("cell").count()
          .where(col("count") >= math.max(1L, (hotThreshold * sampleFraction).toLong))
          .select("cell").collect().map(_.getLong(0))
        // Catalyst turns a long literal list into one InSet hash lookup
        val isHot = col("cell").isin(hot: _*)
        val saltedPts = pts.withColumn("salt",
          when(isHot, pmod(hash(points.columns.map(col): _*), lit(salt))).otherwise(lit(0)))
        // the named `_hot` marker is how plans (and perfbench's salt_rows
        // metric) find the salt explode
        val saltedCover = cover.withColumn("_hot", isHot)
          .withColumn("salt", explode(when(col("_hot"),
            sequence(lit(0), lit(salt - 1))).otherwise(array(lit(0)))))
          .drop("_hot")
        saltedPts.join(saltedCover, Seq("cell", "salt")).drop("salt")
      }
    joined
      .where(col("full") || st_contains_rings(col("rings"), col("lon"), col("lat")))
      .drop("cell", "full", "rings")
  }

  /** Forwarding alias under the name perfbench's skew probe calls. */
  def pointsInPolygonsSalted(points: DataFrame, polys: DataFrame, level: Int = 12,
      hotThreshold: Long = 10000L, broadcastCover: Option[Boolean] = None): DataFrame =
    pointsInPolygons(points, polys, level, broadcastCover.contains(true), hotThreshold)

  /** Z/X/Y tile assignment of points at zoom z (footprint-level; the decoded
    * pixel-block variant lives in graft.operators.Images). */
  def tileCounts(points: DataFrame, z: Int): DataFrame =
    points
      .withColumn("x", st_tile_x(col("lon"), z))
      .withColumn("y", st_tile_y(col("lat"), z))
      .groupBy(lit(z).as("z"), col("x"), col("y"))
      .agg(count(lit(1)).as("cnt"))
}
