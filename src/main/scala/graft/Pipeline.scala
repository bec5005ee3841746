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
  *   run:     read the prepared tables and execute
  *            WKT parse (once) -> centroid -> cell ancestors
  *            polygons -> disjoint quadtree cover
  *            cell equijoin (broadcast cover) -> ray-cast refinement
  *            image decode -> 8x8 pixel-block -> Z/X/Y tile explode
  *            groupBy(z,x,y) tile aggregation
  *            write with per-partition lineage snapshot (resumable).
  *
  * Usage: Pipeline prepare <sfDir> <workDir>
  *        Pipeline run <workDir> [zoom] [level]
  */
object Pipeline {

  /** Images table with real encoded bytes + WKT footprint. */
  def prepareImages(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.register(spark)
    SynthData.images(spark, sfDir)
      .withColumn("bytes", image_synth(struct(col("image_id"), col("w"), col("h"), col("fmt"))))
      .withColumn("footprint_wkt", st_point_wkt(col("lon"), col("lat"), 16))
      .select("image_id", "point_id", "bytes", "w", "h", "fmt", "caption", "phash",
        "footprint_wkt")
  }

  def prepare(spark: SparkSession, sfDir: String, workDir: String): Unit =
    prepareWith(spark, prepareImages(spark, sfDir), sfDir, workDir)

  /** Scale-test prepare: n synthetic images (table-free) + the sfDir polygon
    * layer. */
  def prepareN(spark: SparkSession, n: Long, sfDir: String, workDir: String): Unit = {
    GraftFunctions.register(spark)
    val imgs = SynthData.imagesN(spark, n)
      .withColumn("bytes", image_synth(struct(col("image_id"), col("w"), col("h"), col("fmt"))))
      .withColumn("footprint_wkt", st_point_wkt(col("lon"), col("lat"), 16))
      .select("image_id", "point_id", "bytes", "w", "h", "fmt", "caption", "phash",
        "footprint_wkt")
    prepareWith(spark, imgs, sfDir, workDir)
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

    // geometry frontend: WKT parsed ONCE into the struct, centroid reused
    val pts = images
      .withColumn("g", st_geomfromtext(col("footprint_wkt")))
      .withColumn("c", st_centroid(col("g")))
      .withColumn("lon", col("c.lon")).withColumn("lat", col("c.lat"))
      .drop("g", "c", "footprint_wkt")

    val polys = spark.read.parquet(s"$workDir/polygons")
      .withColumn("geom", st_geomfromtext(col("wkt")))
      .select("poly_id", "geom")

    // cell equijoin + raycast; bytes are pruned from the probe side BEFORE
    // the explode/join (never shuffle or replicate the payload)
    val joined = SpatialJoin.pointsInPolygons(
      pts.drop("bytes", "caption"), polys, level = level,
      broadcastCover = Some(true))

    // per-image match multiplicity: with hot-region skew a single image can
    // match many polygons — decode each image ONCE, not once per match, and
    // weight its tile contributions by the match count. Skinny shuffle
    // (image_id, 1) with map-side partial aggregation.
    val matchCnt = joined.groupBy("image_id")
      .agg(count(lit(1)).as("n_matches"))
      .persist()
    val nMatched = matchCnt.count()

    // semi-join pushed BELOW the decode, without shuffling bytes: the
    // matched-id set is reduced to a fixed-size Bloom filter (broadcastable
    // no matter how many images matched), so with a SELECTIVE polygon layer
    // decode work is proportional to matches, not corpus size. False
    // positives only waste a decode — the exact inner join on matchCnt
    // below removes them from the output. Runtime-adaptive: when most
    // images match anyway (dense layer), the filter can't save decode work,
    // so skip building/applying it and keep the stage overhead at zero.
    val selective = nMatched < (nImages / 2)
    // expectedNumItems is CAPPED: sizing by nMatched alone would make the
    // driver-built literal grow ~10 bits per matched image (1.2 GB at 10^9
    // matches — a driver/plan-size scale-killer on exactly the selective
    // inputs this pushdown targets). Past the cap the fpp degrades
    // gracefully instead: false positives only waste a decode, and the
    // exact matchCnt join below removes them from the output.
    val bloomCap = 64L << 20 // ~64 MB of filter at 2% fpp
    val bloomBytes =
      if (!selective) Array.empty[Byte]
      else graft.functions.sketchexprs.toBytes(
        matchCnt.stat.bloomFilter(xxhash64(col("image_id")),
          math.min(math.max(nMatched, 1L), bloomCap), 0.02))

    // raster-tile assignment: decode pixels and map 8x8 blocks of the
    // footprint bbox (centroid +- half a pixel-degree extent) to tiles —
    // a NARROW stage straight off the parquet scan (bytes never shuffle,
    // nothing broadcast: matchCnt grows with the corpus, so the combine is
    // a skinny shuffle join on image_id instead of a driver-side broadcast)
    val ptsPruned =
      if (selective) pts.where(bloom_contains(bloomBytes, xxhash64(col("image_id"))))
      else pts
    val tilesPerImage = ptsPruned
      .withColumn("half_w", col("w").cast("double") / 2.0 / 1000.0)
      .withColumn("half_h", col("h").cast("double") / 2.0 / 1000.0)
      .withColumn("px", image_decode_dims(col("bytes")))
      .withColumn("tb", explode(image_tile_blocks(struct(
        (col("lon") - col("half_w")).as("lon_min"),
        (col("lat") - col("half_h")).as("lat_min"),
        (col("lon") + col("half_w")).as("lon_max"),
        (col("lat") + col("half_h")).as("lat_max"),
        col("px.w"), col("px.h"), lit(zoom).as("z"), lit(8).as("block")))))
      .select(col("image_id"),
        lit(zoom).as("z"), col("tb.tx").as("x"), col("tb.ty").as("y"),
        col("tb.px_count").as("px_count"))

    val tiles = tilesPerImage.join(matchCnt, "image_id")

    val agg = tiles.groupBy("z", "x", "y")
      .agg(sum(col("n_matches")).as("assignments"),
        sum(col("px_count") * col("n_matches")).as("pixels"),
        approx_count_distinct(col("image_id")).as("n_images"))

    val metas = Snapshots.writeSnapshot(spark, agg, s"$workDir/tile_stats",
      snapshotId, nParts = 8, keyCol = "x", operation = "tile-assign")
    val out =
      if (metas.nonEmpty) metas.map(_.rowCount).sum
      else Snapshots.readData(spark, s"$workDir/tile_stats").count() // resumed no-op
    matchCnt.unpersist(false)
    (out, nImages)
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
