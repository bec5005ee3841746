package graft

import graft.functions.GraftFunctions
import graft.functions.GraftFunctions._
import graft.operators.SpatialJoin
import graft.sources.{Snapshots, SynthData}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The spark-submit-able flagship job (north_rule): spatial-join +
  * raster-tile assignment over the image+caption table.
  *
  *   prepare: synthesize the images table (REAL encoded bytes via
  *            javax.imageio) + polygon layer once, write to Parquet.
  *   run:     read the prepared tables and execute ONE plan
  *            one narrow pass over the images scan: WKT parse (once)
  *              -> centroid, header-only decode dims; bytes dropped
  *            polygons -> disjoint quadtree cover
  *            cell equijoin (broadcast cover) -> ray-cast refinement
  *            group per matched image (n_matches = its polygon count)
  *            8x8 pixel-block -> Z/X/Y tile explode, weighted by n_matches
  *            groupBy(z,x,y) tile aggregation
  *            write with per-partition lineage snapshot (resumable).
  *
  * Usage: Pipeline prepare <sfDir> <workDir>
  *        Pipeline run <workDir> [zoom] [level]
  */
object Pipeline {

  def prepare(spark: SparkSession, sfDir: String, workDir: String): Unit =
    prepareWith(spark, withBytes(spark, SynthData.images(spark, sfDir)), sfDir, workDir)

  /** Scale-test prepare: n synthetic images (table-free) + the sfDir polygon
    * layer. */
  def prepareN(spark: SparkSession, n: Long, sfDir: String, workDir: String): Unit =
    prepareWith(spark, withBytes(spark, SynthData.imagesN(spark, n)), sfDir, workDir)

  /** Images table with real encoded bytes + WKT footprint, in the prepared
    * table's column order. */
  private def withBytes(spark: SparkSession, imgs: DataFrame): DataFrame = {
    GraftFunctions.register(spark)
    imgs
      .withColumn("bytes", image_synth(struct(col("image_id"), col("w"), col("h"), col("fmt"))))
      .withColumn("footprint_wkt", st_point_wkt(col("lon"), col("lat"), 16))
      .select("image_id", "point_id", "bytes", "w", "h", "fmt", "caption", "phash",
        "footprint_wkt")
  }

  private def prepareWith(spark: SparkSession, imgs: DataFrame, sfDir: String,
                          workDir: String): Unit = {
    GraftFunctions.register(spark)
    // repartition only when the source is under-partitioned (the sf-table
    // path reads a handful of parquet files): a range-derived synth input
    // is already balanced, and shuffling it would spill the ENCODED bytes
    // — at 24M images that is ~30 GB of transient shuffle files for zero
    // balance gain (measured: it doubled prepare's peak disk)
    val par = spark.sparkContext.defaultParallelism
    val balanced =
      if (imgs.rdd.getNumPartitions >= par) imgs
      else imgs.repartition(par * 2)
    balanced.write.mode(SaveMode.Overwrite).parquet(s"$workDir/images")
    val n = spark.read.parquet(s"$workDir/images").count()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$workDir/images_count.txt"), n.toString)
    SynthData.polygons(spark, sfDir)
      .select("poly_id", "wkt")
      .write.mode(SaveMode.Overwrite).parquet(s"$workDir/polygons")
  }

  /** The measured job. Returns (output row count, input image count). */
  def run(spark: SparkSession, workDir: String, zoom: Int = 8, level: Int = 10,
          snapshotId: Long = 1L): (Long, Long) = {
    GraftFunctions.register(spark)
    val images = spark.read.parquet(s"$workDir/images")
    // input cardinality was fixed at prepare time — re-counting here would
    // add a serial metadata job to every measured run
    val countFile = java.nio.file.Paths.get(s"$workDir/images_count.txt")
    val nImages =
      if (java.nio.file.Files.exists(countFile))
        java.nio.file.Files.readString(countFile).trim.toLong
      else images.count()

    // one narrow pass over the scan: the WKT is parsed ONCE into the
    // struct, the centroid reused, and the decode reads only the codec
    // header (image_decode_dims), so the encoded bytes are dropped here and
    // never reach the join, a shuffle or a broadcast
    val pts = images
      .withColumn("c", st_centroid(st_geomfromtext(col("footprint_wkt"))))
      .select(col("image_id"), col("c.lon").as("lon"), col("c.lat").as("lat"),
        col("w"), col("h"), image_decode_dims(col("bytes")).as("px"))

    val polys = spark.read.parquet(s"$workDir/polygons")
      .withColumn("geom", st_geomfromtext(col("wkt")))
      .select("poly_id", "geom")

    val joined = SpatialJoin.pointsInPolygons(pts, polys, level = level,
      broadcastCover = true)

    // one row per matched image: with hot-region skew a single image can
    // match many polygons, so its tiles are exploded ONCE and weighted by
    // the match count. A skinny shuffle with map-side partial aggregation;
    // unmatched images never reach the tile explode.
    val matched = joined.groupBy("image_id", "lon", "lat", "w", "h", "px")
      .agg(count(lit(1)).as("n_matches"))

    // raster-tile assignment: map 8x8 blocks of the footprint bbox
    // (centroid +- half a pixel-degree extent) to tiles
    val tiles = matched
      .withColumn("half_w", col("w").cast("double") / 2.0 / 1000.0)
      .withColumn("half_h", col("h").cast("double") / 2.0 / 1000.0)
      .withColumn("tb", explode(image_tile_blocks(struct(
        (col("lon") - col("half_w")).as("lon_min"),
        (col("lat") - col("half_h")).as("lat_min"),
        (col("lon") + col("half_w")).as("lon_max"),
        (col("lat") + col("half_h")).as("lat_max"),
        col("px.w"), col("px.h"), lit(zoom).as("z"), lit(8).as("block")))))
      .select(col("image_id"), col("n_matches"),
        lit(zoom).as("z"), col("tb.tx").as("x"), col("tb.ty").as("y"),
        col("tb.px_count").as("px_count"))

    // `matched` has one row per image and image_tile_blocks emits each tile
    // once per image, so the row count per tile IS the exact distinct-image
    // count
    val agg = tiles.groupBy("z", "x", "y")
      .agg(sum(col("n_matches")).as("assignments"),
        sum(col("px_count") * col("n_matches")).as("pixels"),
        count(lit(1)).as("n_images"))

    val metas = Snapshots.writeSnapshot(spark, agg, s"$workDir/tile_stats",
      snapshotId, nParts = 8, keyCol = "x", operation = "tile-assign")
    // every path, a no-op resume included, returns one meta per part
    (metas.map(_.rowCount).sum, nImages)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = ParUtil.localSession("graft-pipeline", cpus.toInt)
    try args(0) match {
      case "prepare" => prepare(spark, args(1), args(2))
      case "run" =>
        val t0 = System.nanoTime()
        val (out, n) = run(spark, args(1),
          zoom = if (args.length > 2) args(2).toInt else 8,
          level = if (args.length > 3) args(3).toInt else 10)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"stage":"run","images":$n,"tiles":$out,"sec":$sec%.3f,"rows_per_sec":${n / sec}%.1f}""")
      case other => sys.error(s"unknown mode $other")
    } finally spark.stop()
  }
}
