package graft.operators

import scala.jdk.CollectionConverters._

import graft.core.CoverTable
import graft.functions.GraftFunctions._
import graft.functions.{exprs, GeomData}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Cell-equijoin spatial join (north_star: "broadcast-or-shuffled
  * cell-equijoin followed by exact ray-casting point-in-polygon refinement").
  *
  * One operator, [[SpatialJoin.pointsInPolygons]], with two join branches:
  *
  *   broadcastCover = true (the compact cover table):
  *     polys ──one RDD job: cover(geom, L), rings(geom) per polygon──collect
  *       ──▸ driver: CoverTable (cell keys, CSR entries, flat rings) ──broadcast
  *     points ──st_cover_probe(lon, lat, L)──▸ (point cols, poly_idx)
  *       walks the L+1 ancestor cells, ray-casts boundary entries inline,
  *       emits only hits
  *     ⋈ poly_idx with the one-row-per-polygon attribute frame ──▸ poly cols
  *   broadcastCover = false (salted):
  *     polys ──st_cover(geom, L)──explode──▸ (poly cols, cell, full, rings)
  *     points ──st_cell_ancestors(lon,lat,L)──explode──▸ (point cols, cell)
  *     join on (cell, salt); hot cells salted
  *     filter full OR st_contains_rings(rings, lon, lat)
  *
  * Because the quadtree cover is DISJOINT (graft.core.CellIndex.cover), a
  * point's ancestor chain meets each polygon's cover in at most one cell —
  * either branch emits each (point, polygon) pair exactly once and needs NO
  * dropDuplicates shuffle afterwards. `full` cells skip the ray-cast.
  *
  * Scale notes (100 TB / 1000 executors):
  *  - the broadcast branch collects the cover when the operator is called
  *    and ships it as a [[graft.core.CoverTable]]: each polygon's rings
  *    once, each cover cell as a hash key and a 4-byte entry. The exploded
  *    cover this replaces carried a ring copy per boundary cell (75.5 MB
  *    for the flagship's 1,000 rectangles, against 7.3 MB of table now);
  *  - the point side is neither exploded nor joined: one generator call per
  *    point does the level+1 hash probes and the refinement, inside the
  *    scan's stage, and emits only hits. [[SpatialJoin.matchCounts]] emits
  *    one row per matched point with its match count, so a per-point
  *    regroup needs no shuffle;
  *  - a pair frame keeps its table broadcast alive while the frame is
  *    reachable; Spark's ContextCleaner removes it after that, as it does
  *    for its own broadcast joins. A caller that runs its plan at once can
  *    `close()` the [[SpatialJoin.CoverBroadcast]] instead;
  *  - for huge polygon layers (`broadcastCover = false`) the equijoin may
  *    shuffle both sides; hot cells found by a point-side sample are spread
  *    over S salt buckets (north_rule: "skew handled explicitly") and AQE
  *    skew-join splits what the sample missed.
  */
object SpatialJoin {

  // salt buckets per hot cell, and the point-side sample of the hot-cell
  // pre-pass; the sample is seeded so identical inputs get one hot set and
  // one plan
  private val salt = 8
  private val sampleFraction = 0.01
  private val sampleSeed = 0x5a17L

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

  /** The broadcast branch's build side: the layer's cover as one broadcast
    * [[CoverTable]], and the layer's other columns as one row per polygon
    * keyed by `_poly_idx`, its index in the table (None when `geom` is the
    * only column). `close()` destroys the broadcast. */
  final class CoverBroadcast private[SpatialJoin] (
      private[SpatialJoin] val table: Broadcast[CoverTable],
      private[SpatialJoin] val level: Int,
      private[SpatialJoin] val attrs: Option[DataFrame]) extends AutoCloseable {
    def close(): Unit = table.destroy()
  }

  /** Collects polys(polyCols..., geom) as one row per polygon — its
    * attribute row and its [[CoverTable.Polygon]] (cover cells, `full`
    * flags and rings), built in the tasks — and broadcasts the
    * [[CoverTable]] built from them on the driver. Runs one job now: the
    * layer is spread over every core by a round-robin RDD shuffle, because
    * it typically arrives as one small file and the covering is CPU-heavy
    * per row. */
  def collectCover(polys: DataFrame, level: Int): CoverBroadcast = {
    val spark = polys.sparkSession
    val attrSchema = polys.drop("geom").schema
    val g = attrSchema.length
    val rows = polys
      .select(attrSchema.fieldNames.toSeq.map(col) :+ col("geom").cast(GeomData.geometryType): _*)
      .queryExecution.toRdd.map(_.copy())
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        val toScala = attrSchema.fields.map(f =>
          CatalystTypeConverters.createToScalaConverter(f.dataType))
        it.map { r =>
          val attrs =
            Row.fromSeq(toScala.indices.map(i => toScala(i)(r.get(i, attrSchema(i).dataType))))
          val geom = if (r.isNullAt(g)) null else GeomData.fromRow(r.getStruct(g, 3))
          (attrs, CoverTable.Polygon.of(geom, level))
        }
      }
      .collect()
    val table = spark.sparkContext.broadcast(CoverTable.build(rows.map(_._2).toIndexedSeq))
    val attrs = Option.when(attrSchema.nonEmpty)(spark.createDataFrame(
      rows.iterator.zipWithIndex.map { case ((r, _), i) => Row.fromSeq(r.toSeq :+ i) }.toSeq.asJava,
      attrSchema.add("_poly_idx", IntegerType, nullable = false)))
    new CoverBroadcast(table, level, attrs)
  }

  private def probe(cover: CoverBroadcast, counting: Boolean): Column =
    GraftColumnBridge.column(exprs.StCoverProbe(
      Seq(UnresolvedAttribute("lon"), UnresolvedAttribute("lat")),
      cover.table, cover.level, counting))

  /** points(pointCols..., lon, lat) -> (pointCols..., lon, lat, n_matches):
    * one row per point that lies in at least one polygon of `cover`, with
    * the number of such polygons. No shuffle: the probe runs in the
    * points' own stage. */
  def matchCounts(points: DataFrame, cover: CoverBroadcast): DataFrame =
    points.select(col("*"), probe(cover, counting = true).as("n_matches"))

  /** The (point, polygon) pairs of `cover`: point columns, then the
    * polygon columns joined on by polygon index. */
  private def matchPairs(points: DataFrame, cover: CoverBroadcast): DataFrame = {
    val hits = points.select(col("*"), probe(cover, counting = false).as("_poly_idx"))
    cover.attrs.fold(hits)(a => hits.join(broadcast(a), "_poly_idx")).drop("_poly_idx")
  }

  /** points(pointCols..., lon, lat) ⋈ polys(polyCols..., geom) -> matches.
    *
    * @param broadcastCover true collects the layer into a broadcast
    *   [[CoverTable]] now ([[collectCover]]) and returns
    *   [[matchPairs]] over it. false takes the salted `(cell, salt)`
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
      hotThreshold: Long = 10000L): DataFrame =
    if (broadcastCover) matchPairs(points, collectCover(polys, level))
    else {
      val cover = coverSide(polys, level)
      val pts = points.withColumn("cell",
        explode(st_cell_ancestors(col("lon"), col("lat"), level)))
      val hot = points.sample(sampleFraction, sampleSeed)
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
