package graft.operators

import graft.functions.GraftFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cell-equijoin spatial join (north_star: "broadcast-or-shuffled
  * cell-equijoin followed by exact ray-casting point-in-polygon refinement").
  *
  * Plan shape (all narrow except the single equijoin shuffle):
  *
  *   polys ──st_cover(geom, L)──explode──▸ (poly cols, cell, full, rings)
  *   points ──st_cell_ancestors(lon,lat,L)──explode──▸ (point cols, cell)
  *   join on cell  [broadcast when the cover side is small, else
  *                  shuffle + AQE skew split; optional hot-cell salting]
  *   filter full OR st_contains_rings(rings, lon, lat)
  *
  * Because the quadtree cover is DISJOINT (graft.core.CellIndex.cover), a
  * point's ancestor chain meets each polygon's cover in at most one cell —
  * the join emits each (point, polygon) candidate exactly once and needs NO
  * dropDuplicates shuffle afterwards. `full` cells skip the ray-cast.
  *
  * Scale notes (100 TB / 1000 executors):
  *  - the cover side is |polys| × O(cells) rows of (long, bool, rings) —
  *    broadcast it whenever it fits (`broadcastCover = Some(true)`);
  *  - the point side explodes to (maxLevel+1) rows per point but is joined
  *    immediately (no materialization) and whole-stage codegen fuses
  *    explode+join probe;
  *  - for huge polygon layers the equijoin shuffles both sides hashed by
  *    cell; AQE skew-join splits oversized partitions, and
  *    [[pointsInPolygonsSalted]] additionally spreads identified hot cells
  *    over S salt buckets (north_rule: "skew handled explicitly").
  */
object SpatialJoin {

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
    * @param broadcastCover Some(true) pins the cover side as the broadcast
    *   build; None (and Some(false), which is treated the same) lets
    *   Catalyst/AQE pick the join strategy. Nothing forces a shuffle. */
  def pointsInPolygons(
      points: DataFrame,
      polys: DataFrame,
      level: Int = 12,
      broadcastCover: Option[Boolean] = None): DataFrame = {
    val cover0 = coverSide(polys, level)
    val cover = broadcastCover match {
      case Some(true)  => broadcast(cover0)
      case _           => cover0
    }
    val pts = points.withColumn("cell",
      explode(st_cell_ancestors(col("lon"), col("lat"), level)))
    pts.join(cover, "cell")
      .where(col("full") || st_contains_rings(col("rings"), col("lon"), col("lat")))
      .drop("cell", "full", "rings")
  }

  /** Skew-resistant variant: identifies hot cover cells from a point-side
    * sample, splits the join into a salted hot part (cover rows replicated
    * S ways, points hashed into one salt bucket) and a plain cold part.
    * Result set is identical to [[pointsInPolygons]]. */
  def pointsInPolygonsSalted(
      points: DataFrame,
      polys: DataFrame,
      level: Int = 12,
      salt: Int = 8,
      sampleFraction: Double = 0.01,
      hotThreshold: Long = 10000L,
      broadcastCover: Option[Boolean] = None): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    // cached once: the CPU-heavy quadtree covering feeds the pre-pass and
    // both join branches. Dataset-level cache is held by the session
    // CacheManager until explicitly uncached (it is NOT freed by GC) —
    // one-shot jobs are unaffected; long-lived sessions should
    // spark.catalog.clearCache() between batches (see Dedup's lifecycle
    // contract).
    val cover = coverSide(polys, level).cache()
    val pts = points.withColumn("cell",
      explode(st_cell_ancestors(col("lon"), col("lat"), level)))

    // cheap pre-pass: sampled per-cell probe counts, restricted to cells
    // that exist in the cover (every point is "hot" at the coarse ancestor
    // levels, but those cells join nothing unless a polygon covers them).
    // The sample is taken BEFORE the ancestor explode (r6): the per-cell
    // count of sampled points has the same expectation either way, and the
    // explode+join pre-pass then touches sampleFraction of the corpus
    // instead of all of it.
    val hotCells = points.sample(sampleFraction)
      .withColumn("cell", explode(st_cell_ancestors(col("lon"), col("lat"), level)))
      .join(cover.select("cell"), "cell")
      .groupBy("cell").count()
      .where(col("count") >= math.max(1L, (hotThreshold * sampleFraction).toLong))
      .select("cell").collect().map(_.getLong(0)).toSet

    val refined = (df: DataFrame) => df
      .where(col("full") || st_contains_rings(col("rings"), col("lon"), col("lat")))
      .drop("cell", "full", "rings", "salt")

    // same contract as pointsInPolygons: Some(true) pins the cover side as
    // the broadcast build (r6: the salt explode defeats the planner's size
    // estimate, silently degrading the equijoin to sort-merge — two extra
    // exchanges — on a cover that comfortably fits a broadcast); None, like
    // Some(false), lets Catalyst/AQE decide for huge polygon layers
    val bc: DataFrame => DataFrame = broadcastCover match {
      case Some(true) => broadcast
      case _          => identity
    }
    if (hotCells.isEmpty) {
      refined(pts.join(bc(cover), "cell"))
    } else {
      // ONE (cell, salt) equijoin instead of (cold join on cell) UNION (hot
      // join on cell+salt) — r6: cold rows ride the same join with salt
      // pinned to 0 on both sides. The matched pair set is identical (a hot
      // cell's point row carries exactly one salt bucket while its cover
      // rows are replicated across all S buckets, so the pair meets once;
      // a cold pair meets once at salt 0), but the point side is scanned
      // and exploded ONCE instead of twice and the plan loses a second
      // join + the union (plans/r06/q16_*: 2 joins -> 1).
      // Hot membership: a codegen'd literal isin for small hot sets (zero
      // extra exchanges), ONE broadcast left join with a marker column for
      // large ones (constant plan size regardless of |hotCells|).
      val markHot: DataFrame => DataFrame =
        if (hotCells.size <= 32) {
          val lits = hotCells.toSeq
          df => df.withColumn("_hot", col("cell").isin(lits: _*))
        } else {
          val hotDf = broadcast(hotCells.toSeq.toDF("cell")
            .withColumn("_hot", lit(true)))
          df => df.join(hotDf, Seq("cell"), "left")
            .withColumn("_hot", coalesce(col("_hot"), lit(false)))
        }
      // salt by a hash of ALL point columns, not a hard-coded id name: the
      // points schema is caller-defined (point_id here, image_id in the
      // pipeline) and the salt only needs per-row dispersion
      val saltedPts = markHot(pts)
        .withColumn("salt", when(col("_hot"),
          pmod(hash(points.columns.map(col): _*), lit(salt))).otherwise(lit(0)))
        .drop("_hot")
      val saltedCover = markHot(cover)
        .withColumn("salt", explode(when(col("_hot"),
          sequence(lit(0), lit(salt - 1))).otherwise(array(lit(0)))))
        .drop("_hot")
      refined(saltedPts.join(bc(saltedCover), Seq("cell", "salt")))
    }
  }

  /** Z/X/Y tile assignment of points at zoom z (footprint-level; the decoded
    * pixel-block variant lives in graft.operators.Images). */
  def tileCounts(points: DataFrame, z: Int): DataFrame =
    points
      .withColumn("x", st_tile_x(col("lon"), z))
      .withColumn("y", st_tile_y(col("lat"), z))
      .groupBy(lit(z).as("z"), col("x"), col("y"))
      .agg(count(lit(1)).as("cnt"))
}
