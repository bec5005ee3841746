package graft

import graft.core.{Centroid, RayCast, TileMath, WktParser}
import graft.functions.GraftFunctions._
import graft.operators.{Images, SpatialJoin}
import graft.sources.Snapshots
import org.apache.spark.grafttest.Bus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Image payload invariants (BASELINE.json input_hint): decoded-pixel exact
  * for lossless fmt, PSNR >= 40 dB for JPEG, caption equality through the
  * pipeline; plus pixel-block tile assignment and snapshot/lineage resume. */
class ImagesSpec extends SparkTestBase {
  import spark.implicits._

  test("lossless round trip is pixel-exact; JPEG PSNR >= 40 dB") {
    for (fmt <- Seq("png", "bmp")) {
      val img = Images.render("img-x1", 48, 32)
      val back = Images.decode(Images.encode(img, fmt))
      assert(Images.psnr(img, back).isInfinity, s"$fmt must be lossless")
    }
    // smallest sizes are the chroma-subsampling worst case: the fixed
    // 96-px pattern wavelength must keep them over the 40 dB invariant
    for ((w, h) <- Seq((16, 16), (16, 48), (32, 32))) {
      val im = Images.render(s"img-small-$w-$h", w, h)
      val p = Images.psnr(im, Images.decode(Images.encode(im, "jpg")))
      assert(p >= 40.0, s"JPEG PSNR $p below 40 dB at ${w}x$h")
    }
    val img = Images.render("img-x2", 64, 48)
    val p = Images.psnr(img, Images.decode(Images.encode(img, "jpg")))
    assert(p >= 40.0, s"JPEG PSNR $p below 40 dB")
  }

  test("header-only dims agree with the full decode for every codec") {
    for (fmt <- Seq("png", "bmp", "jpg"); (w, h) <- Seq((16, 16), (48, 32), (80, 48))) {
      val bytes = Images.synthBytes(s"img-d-$fmt-$w", w, h, fmt)
      val d = graft.core.FastImage.dims(bytes)
      assert(d != null && d(0) == w && d(1) == h, s"$fmt header dims at ${w}x$h")
      val full = Images.decodeToPixels(bytes)
      assert(full.w == d(0) && full.h == d(1))
    }
    assert(graft.core.FastImage.dims(Array[Byte](1, 2, 3, 4)) == null)
    assert(graft.core.FastImage.dims("GIF89a junk that is not supported".getBytes) == null)
    // PNG signature with a corrupt chunk tag must NOT yield garbage dims
    val fakePng = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10) ++
      Array.fill[Byte](24)(0x41)
    assert(graft.core.FastImage.dims(fakePng) == null)
    // valid signature + garbage payload: every decode surface nulls instead
    // of throwing (signature-only corruption is dirty data, not a bug)
    assert(graft.core.FastImage.decode(fakePng) == null)
    assert(Images.decode(fakePng) == null)
    val r = Seq(Tuple1(fakePng)).toDF("b")
      .select(image_decode($"b"), image_phash($"b"), image_psnr($"b", $"b"))
      .collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("image expressions over a DataFrame: synth/decode/psnr/phash") {
    val df = (1 to 20).map(i => (s"img-$i", 32, 24, if (i % 2 == 0) "png" else "jpg"))
      .toDF("image_id", "w", "h", "fmt")
      .withColumn("bytes", image_synth(struct($"image_id", $"w", $"h", $"fmt")))
    val dec = df.withColumn("px", image_decode($"bytes"))
      .select($"image_id", $"fmt", $"px.w".as("dw"), $"px.h".as("dh"),
        image_psnr($"bytes", $"bytes").as("self_psnr"),
        image_phash($"bytes").as("ph"))
      .collect()
    dec.foreach { r =>
      assert(r.getInt(2) == 32 && r.getInt(3) == 24)
      assert(r.getDouble(4) == 999.0)
    }
    // phash of same content encoded differently should be close
    val ph = (1 to 5).map { i =>
      val png = Images.phash(Images.decode(Images.synthBytes(s"img-$i", 32, 24, "png")))
      val jpg = Images.phash(Images.decode(Images.synthBytes(s"img-$i", 32, 24, "jpg")))
      java.lang.Long.bitCount(png ^ jpg)
    }
    assert(ph.forall(_ <= 6), s"phash png-vs-jpg hamming too big: $ph")
  }

  test("pixel-block tile assignment covers the footprint and conserves pixels") {
    val df = Seq(("img-t", 64, 48, "png")).toDF("image_id", "w", "h", "fmt")
      .withColumn("bytes", image_synth(struct($"image_id", $"w", $"h", $"fmt")))
      .withColumn("px", image_decode($"bytes"))
      .withColumn("tb", explode(image_tile_blocks(struct(
        lit(10.0).as("lon_min"), lit(40.0).as("lat_min"),
        lit(10.4).as("lon_max"), lit(40.3).as("lat_max"),
        $"px.w", $"px.h", lit(12).as("z"), lit(8).as("block")))))
      .select($"tb.tx", $"tb.ty", $"tb.px_count")
    val rows = df.collect()
    assert(rows.map(_.getInt(2)).sum == 64 * 48, "pixel counts must sum to w*h")
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length > 1,
      "footprint should span multiple tiles at z=12")
    // hostile zoom from table data: the 32-bit packed tile key is valid to
    // z = 30; beyond that the expression nulls instead of merging tiles
    val zbad = Seq(40, -1).toDF("z").select(image_tile_blocks(struct(
      lit(0.0).as("lon_min"), lit(0.0).as("lat_min"),
      lit(1.0).as("lon_max"), lit(1.0).as("lat_max"),
      lit(16).as("w"), lit(16).as("h"), $"z", lit(8).as("block"))).as("tb")).collect()
    assert(zbad(0).isNullAt(0) && zbad(1).isNullAt(0), "z outside [0,30] -> null")
  }

  test("full pipeline on sf0.001 produces joined tile stats (entry contract)") {
    val out = SparkEntry.entry(spark)
    assert(out.count() > 0)
  }

  test("sparse polygon layer: selective join, pixel totals match the matched set") {
    val work = java.nio.file.Files.createTempDirectory("pipe-sparse").toString
    Pipeline.prepare(spark, "/root/testdata/sf0.001", work)
    // overwrite the layer with ONE small polygon -> selective: most images
    // match nothing and must contribute no tile rows
    Seq((1L, "POLYGON ((0 0, 8 0, 8 6, 0 6, 0 0))")).toDF("poly_id", "wkt")
      .write.mode("overwrite").parquet(s"$work/polygons")
    val (tiles, n) = Pipeline.run(spark, work)
    assert(tiles > 0)
    val matched = graft.sources.SynthData.images(spark, "/root/testdata/sf0.001")
      .where($"lon" > 0 && $"lon" < 8 && $"lat" > 0 && $"lat" < 6)
    val mCount = matched.count()
    assert(mCount > 0 && mCount < n / 2, "layer must be selective for this test")
    // each matched image matches exactly one polygon (n_matches = 1), so
    // total weighted pixels across tiles == sum of matched images' w*h
    // (pixel conservation through the block explode)
    val gotPixels = Snapshots.readData(spark, s"$work/tile_stats")
      .agg(sum("pixels")).collect()(0).getLong(0)
    val wantPixels = matched.agg(sum($"w".cast("long") * $"h")).collect()(0).getLong(0)
    assert(gotPixels == wantPixels, s"pixels $gotPixels != matched-set pixels $wantPixels")
  }

  /** sf0.001 with a dense polygon layer, prepared and run through
    * [[Pipeline.run]] once; shared by the dense-layer cases. */
  private lazy val denseWork: String = {
    val work = java.nio.file.Files.createTempDirectory("pipe-dense").toString
    Pipeline.prepare(spark, "/root/testdata/sf0.001", work)
    // the sf0.001 rectangles do not overlap: add two nested ones over the
    // hot point region so that images there match two or three polygons
    val layer = spark.read.parquet(s"$work/polygons").collect()
      .map(r => (r.getLong(0), r.getString(1))) ++ Seq(
        (-1L, "POLYGON ((0 0, 8 0, 8 6, 0 6, 0 0))"),
        (-2L, "POLYGON ((2 1, 6 1, 6 5, 2 5, 2 1))"))
    layer.toSeq.toDF("poly_id", "wkt").write.mode("overwrite").parquet(s"$work/polygons")
    Pipeline.run(spark, work)
    work
  }

  test("dense polygon layer: tile stats weight each image by its polygon matches") {
    val work = denseWork
    val got = Snapshots.readData(spark, s"$work/tile_stats")
      .agg(sum("assignments"), sum("pixels")).collect()(0)
    // the (image, polygon) pairs over the same footprints, joined apart
    // from the pipeline (other cover level, full decode for the dims)
    val pts = spark.read.parquet(s"$work/images")
      .withColumn("c", st_centroid(st_geomfromtext($"footprint_wkt")))
      .select($"image_id", $"c.lon".as("lon"), $"c.lat".as("lat"), $"w", $"h", $"bytes")
    val polys = spark.read.parquet(s"$work/polygons")
      .select($"poly_id", st_geomfromtext($"wkt").as("geom"))
    val perImage = SpatialJoin.pointsInPolygons(pts, polys, level = 12)
      .groupBy("image_id", "lon", "lat", "w", "h", "bytes")
      .agg(count(lit(1)).as("n_matches"))
      .withColumn("px", image_decode($"bytes"))
      .withColumn("n_tiles", size(image_tile_blocks(struct(
        ($"lon" - $"w" / 2000.0).as("lon_min"), ($"lat" - $"h" / 2000.0).as("lat_min"),
        ($"lon" + $"w" / 2000.0).as("lon_max"), ($"lat" + $"h" / 2000.0).as("lat_max"),
        $"px.w", $"px.h", lit(8).as("z"), lit(8).as("block")))))
      .select($"n_matches", $"n_tiles", ($"w".cast("long") * $"h").as("px"))
      .collect()
    assert(perImage.exists(_.getLong(0) > 1), "the layer must give some image several matches")
    // one assignment per (image, polygon) pair and tile the image's blocks land in
    val wantAssignments = perImage.map(r => r.getLong(0) * r.getInt(1)).sum
    val wantPixels = perImage.map(r => r.getLong(0) * r.getLong(2)).sum
    assert(got.getLong(0) == wantAssignments, s"assignments ${got.getLong(0)} != $wantAssignments")
    assert(got.getLong(1) == wantPixels, s"pixels ${got.getLong(1)} != $wantPixels")
  }

  test("dense polygon layer: tile_stats equals a brute-force oracle row for row") {
    val work = denseWork
    val zoom = 8
    // every (image, polygon) pair by ray cast against every polygon's rings:
    // no cover, no cells
    val rings = spark.read.parquet(s"$work/polygons").collect()
      .map(r => WktParser.parse(r.getString(1)).polygonRings)
    // each image's 8x8 pixel blocks (edge blocks clipped; pixel rows run
    // north to south) land in the zoom tile holding the block center
    def blockTiles(lonMin: Double, latMin: Double, lonMax: Double, latMax: Double,
                   w: Int, h: Int): Map[(Long, Long), Long] =
      (for (by <- 0 until h by 8; bx <- 0 until w by 8) yield {
        val bh = math.min(8, h - by)
        val bw = math.min(8, w - bx)
        val lat = latMax - (by + bh / 2.0) / h * (latMax - latMin)
        val lon = lonMin + (bx + bw / 2.0) / w * (lonMax - lonMin)
        (TileMath.tileX(lon, zoom), TileMath.tileY(lat, zoom)) -> (bw * bh).toLong
      }).groupMapReduce(_._1)(_._2)(_ + _)
    // (x, y) -> (assignments, pixels, n_images)
    val want = scala.collection.mutable.Map[(Long, Long), (Long, Long, Long)]()
    var multi = 0
    spark.read.parquet(s"$work/images").select("footprint_wkt", "w", "h", "bytes")
      .collect().foreach { r =>
        val (lon, lat) = Centroid.centroid(WktParser.parse(r.getString(0))).get
        val nMatches = rings.count(RayCast.containsRings(_, lon, lat)).toLong
        if (nMatches > 1) multi += 1
        if (nMatches > 0) {
          val halfW = r.getInt(1).toDouble / 2.0 / 1000.0
          val halfH = r.getInt(2).toDouble / 2.0 / 1000.0
          val px = Images.decodeToPixels(r.getAs[Array[Byte]](3))
          blockTiles(lon - halfW, lat - halfH, lon + halfW, lat + halfH, px.w, px.h)
            .foreach { case (tile, n) =>
              val (a, p, i) = want.getOrElse(tile, (0L, 0L, 0L))
              want(tile) = (a + nMatches, p + n * nMatches, i + 1)
            }
        }
      }
    assert(multi > 0, "the layer must give some image several matches")
    val got = Snapshots.readData(spark, s"$work/tile_stats")
      .select("z", "x", "y", "assignments", "pixels", "n_images").collect()
    assert(got.forall(_.getInt(0) == zoom))
    val gotMap = got.map(r =>
      (r.getLong(1), r.getLong(2)) -> ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(gotMap.size == got.length, "one tile_stats row per tile")
    val diff = (gotMap.keySet ++ want.keySet).filter(t => gotMap.get(t) != want.get(t))
    assert(diff.isEmpty, s"${diff.size} of ${want.size} tiles differ, e.g. " +
      diff.take(3).map(t => s"$t: got ${gotMap.get(t)} want ${want.get(t)}").mkString("; "))
  }

  test("snapshot write + lineage + idempotent resume") {
    val dir = java.nio.file.Files.createTempDirectory("snap").toString
    val df = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val m1 = Snapshots.writeSnapshot(spark, df, s"$dir/t", snapshotId = 1L,
      nParts = 4, keyCol = "k")
    assert(m1.map(_.rowCount).sum == 1000)
    assert(Snapshots.currentSnapshot(s"$dir/t").contains(1L))
    assert(Snapshots.readData(spark, s"$dir/t").count() == 1000)
    // resume same snapshot: all partitions already committed -> no new
    // writes, but the SAME total row count is reported (consistent across
    // fresh / partial / no-op resume paths)
    val m2 = Snapshots.writeSnapshot(spark, df, s"$dir/t", snapshotId = 1L,
      nParts = 4, keyCol = "k")
    assert(m2.map(_.rowCount).sum == 1000, "no-op resume reports the full snapshot count")
    assert(m2.map(_.partId).toSet == Set(0, 1, 2, 3))
    assert(Snapshots.readData(spark, s"$dir/t").count() == 1000)
    // manifest stays one row per snapshot across resumes
    assert(Snapshots.readSnapshots(spark, s"$dir/t")
      .where(col("snapshot_id") === 1).count() == 1)
    // partial-failure simulation: pre-commit 2 of 4 partitions for snapshot 2
    val m3 = Snapshots.writeSnapshot(spark, df, s"$dir/t2", snapshotId = 2L,
      nParts = 2, keyCol = "k")
    assert(Snapshots.readPartitionMeta(spark, s"$dir/t2")
      .where(col("snapshot_id") === 2).count() == 2)
    // lineage hash is content-derived and stable
    val m4meta = Snapshots.readPartitionMeta(spark, s"$dir/t")
      .orderBy("part_id").collect().map(_.getLong(3))
    assert(m4meta.length == 4 && m4meta.toSet.size >= 3)
  }

  test("micro-batch commit: partial run leaves CURRENT unmoved, resume completes") {
    val dir = java.nio.file.Files.createTempDirectory("snap-partial").toString
    val df = (1 to 900).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    // run 1 "crashes" after 2 of 6 partitions: lineage rows exist for those
    // two, but the snapshot is not current and no manifest row was written
    val m1 = Snapshots.writeSnapshot(spark, df, s"$dir/t", snapshotId = 1L,
      nParts = 6, keyCol = "k", portableParts = true, maxPartsPerRun = 2)
    assert(m1.map(_.partId).toSet == Set(0, 1))
    assert(Snapshots.currentSnapshot(s"$dir/t").isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/t/_meta/snapshots")))
    // resume: completes the remaining 4, flips CURRENT, reports all 6
    val m2 = Snapshots.writeSnapshot(spark, df, s"$dir/t", snapshotId = 1L,
      nParts = 6, keyCol = "k", portableParts = true)
    assert(m2.map(_.partId).toSet == (0 to 5).toSet)
    assert(m2.map(_.rowCount).sum == 900)
    assert(Snapshots.currentSnapshot(s"$dir/t").contains(1L))
    // portable partitioning: per-part counts recomputable as k % 6
    val want = (1 to 900).groupBy(_ % 6).view.mapValues(_.size.toLong).toMap
    m2.foreach(m => assert(m.rowCount == want(m.partId)))
    assert(Snapshots.readData(spark, s"$dir/t").count() == 900)
    assert(Snapshots.readSnapshots(spark, s"$dir/t")
      .where(col("snapshot_id") === 1).count() == 1)
  }

  test("resume rewrites a committed part whose data dir was swept (r6 advice fix)") {
    val dir = java.nio.file.Files.createTempDirectory("snap-swept").toString
    val df = (1 to 600).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    // run 1 "crashes" after committing parts 0-1 of 4
    Snapshots.writeSnapshot(spark, df, s"$dir/t", snapshotId = 1L,
      nParts = 4, keyCol = "k", portableParts = true, maxPartsPerRun = 2)
    // an expire-style sweep deletes part 1's data dir while its lineage row
    // survives (the uncommitted-snapshot-below-horizon scenario)
    graft.FsUtil.rmTree(s"$dir/t/data/snap_id=1/part_id=1")
    // resume must re-add part 1 to pending and rewrite it — previously it
    // trusted the lineage row, skipped the rewrite, and published a
    // manifest whose reads hit the deleted dir
    val m = Snapshots.writeSnapshot(spark, df, s"$dir/t", snapshotId = 1L,
      nParts = 4, keyCol = "k", portableParts = true)
    assert(m.map(_.partId).toSet == (0 to 3).toSet)
    assert(Snapshots.currentSnapshot(s"$dir/t").contains(1L))
    assert(Snapshots.readData(spark, s"$dir/t").count() == 600)
    assert(Snapshots.readData(spark, s"$dir/t")
      .where(pmod(col("k"), lit(4)) === 1).count() == 150)
  }

  test("portable parts: null keys land in part 0, are counted and read back") {
    // pmod(null, n) is null, and a null part_id is written to a
    // __HIVE_DEFAULT_PARTITION__ dir that lineage never counts and readData
    // never reads
    val dir = java.nio.file.Files.createTempDirectory("snap-nullkey").toString
    val df = Seq((Some(1L), "a"), (None, "b"), (Some(2L), "c"), (None, "d")).toDF("k", "v")
    val m = Snapshots.writeSnapshot(spark, df, s"$dir/t", snapshotId = 1L,
      nParts = 2, keyCol = "k", portableParts = true)
    assert(m.map(_.rowCount).sum == 4)
    assert(m.find(_.partId == 0).map(_.rowCount).contains(3L), "2 null keys + key 2")
    val back = Snapshots.readData(spark, s"$dir/t")
    assert(back.count() == 4)
    assert(back.where($"k".isNull).select("part_id").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(0))
  }

  test("wide snapshot: 256 parts take the one-job stats path, exact on resume") {
    val dir = java.nio.file.Files.createTempDirectory("snap-wide").toString
    val n = 256
    val nRows = 20000
    val df = (1 to nRows).map(i => (i.toLong, s"v${i % 977}")).toDF("k", "v")
    val want: Map[Int, (Long, Long)] = df
      .groupBy(pmod(hash($"k"), lit(n)).as("p"))
      .agg(count(lit(1)), sum(hash($"k", $"v").cast("long")))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val wantAll = (0 until n).map(p => p -> want.getOrElse(p, (0L, 0L))).toMap
    def check(t: String, metas: Seq[Snapshots.PartitionMeta]): Unit = {
      assert(metas.map(m => m.partId -> ((m.rowCount, m.lineageHash))).toMap == wantAll)
      val lineage = Snapshots.readPartitionMeta(spark, t).collect().map(r =>
        r.getAs[Int]("part_id") -> ((r.getAs[Long]("row_count"), r.getAs[Long]("lineage_hash"))))
      assert(lineage.length == n, "one lineage row per part")
      assert(lineage.toMap == wantAll)
      assert(Snapshots.readData(spark, t).count() == nRows)
    }
    val sc = spark.sparkContext

    var wide = Seq.empty[Snapshots.PartitionMeta]
    val wideJobs = Bus.jobsOf(sc) {
      wide = Snapshots.writeSnapshot(spark, df, s"$dir/wide", snapshotId = 1L,
        nParts = n, keyCol = "k")
    }
    check(s"$dir/wide", wide)
    val narrowJobs = Bus.jobsOf(sc) {
      Snapshots.writeSnapshot(spark, df, s"$dir/narrow", snapshotId = 1L, nParts = 8, keyCol = "k")
    }
    assert(wideJobs <= narrowJobs, s"256-part commit ran $wideJobs jobs, 8-part ran $narrowJobs")

    // micro-batch of 100 parts, then a resume of the other 156: both runs
    // are wider than 64 pending parts
    val first = Snapshots.writeSnapshot(spark, df, s"$dir/resumed", snapshotId = 1L,
      nParts = n, keyCol = "k", maxPartsPerRun = 100)
    assert(first.map(_.partId) == (0 until 100))
    assert(Snapshots.currentSnapshot(s"$dir/resumed").isEmpty)
    val resumed = Snapshots.writeSnapshot(spark, df, s"$dir/resumed", snapshotId = 1L,
      nParts = n, keyCol = "k")
    assert(Snapshots.currentSnapshot(s"$dir/resumed").contains(1L))
    check(s"$dir/resumed", resumed)
  }

  test("time travel: asOf reads each snapshot exactly; expire keeps referenced files") {
    val dir = java.nio.file.Files.createTempDirectory("snap-tt").toString
    val t = s"$dir/t"
    def rows(n: Int, tag: String) = (1 to n).map(i => (i.toLong, s"$tag$i"))
    def expect(want: Seq[(Long, String)], asOf: Option[Long]): Unit = {
      val got = Snapshots.readData(spark, t, asOf).select("k", "v")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(got == want.sorted, s"asOf=$asOf mismatch (${got.length} vs ${want.length} rows)")
    }
    // snap 1: 400 rows over 4 parts; snap 2: nParts=2 partial overwrite of
    // parts 0-1; snap 3: full rewrite at nParts=4
    Snapshots.writeSnapshot(spark, rows(400, "a").toDF("k", "v"), t,
      snapshotId = 1L, nParts = 4, keyCol = "k", portableParts = true)
    Snapshots.writeSnapshot(spark, rows(100, "b").toDF("k", "v"), t,
      snapshotId = 2L, nParts = 2, keyCol = "k", portableParts = true)
    Snapshots.writeSnapshot(spark, rows(200, "c").toDF("k", "v"), t,
      snapshotId = 3L, nParts = 4, keyCol = "k", portableParts = true)
    val at1 = rows(400, "a")
    val at2 = rows(100, "b") ++ rows(400, "a").filter(r => r._1 % 4 >= 2)
    val at3 = rows(200, "c")
    expect(at3, None) // current
    expect(at1, Some(1L))
    expect(at2, Some(2L))
    expect(at3, Some(3L))
    intercept[IllegalArgumentException](Snapshots.readData(spark, t, Some(99L)))

    // expire snapshot 1: time travel to it refuses, but its parts 2-3 files
    // survive because snapshot 2 (retained) still resolves to them
    assert(Snapshots.expireSnapshots(spark, t, keepLast = 2) == Seq(1L))
    intercept[IllegalArgumentException](Snapshots.readData(spark, t, Some(1L)))
    expect(at2, Some(2L))
    expect(at3, None)
    def exists(p: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(p))
    assert(!exists(s"$t/data/snap_id=1/part_id=0"), "unreferenced expired part deleted")
    assert(exists(s"$t/data/snap_id=1/part_id=2"), "still-referenced expired part retained")

    // expire snapshot 2 as well: snapshot 3 covers every part, so nothing
    // old stays referenced and both old snapshot dirs disappear entirely
    assert(Snapshots.expireSnapshots(spark, t, keepLast = 1) == Seq(2L))
    expect(at3, None)
    assert(!exists(s"$t/data/snap_id=1") && !exists(s"$t/data/snap_id=2"))
    assert(Snapshots.expireSnapshots(spark, t, keepLast = 1).isEmpty)

    // snapshot ISOLATION: abandoned partial snapshot 9 writes parts 0-2
    // (lineage rows + data files, no manifest, CURRENT untouched), then
    // snapshot 10 commits a 2-part overwrite. Part 2 must resolve to the
    // last COMMITTED writer (snapshot 3) — never to uncommitted 9, whose
    // lineage rows beat 3 on snapshot_id alone
    Snapshots.writeSnapshot(spark, rows(100, "x").toDF("k", "v"), t,
      snapshotId = 9L, nParts = 4, keyCol = "k", portableParts = true,
      maxPartsPerRun = 3)
    expect(at3, None) // still current = 3, nothing of 9 visible
    Snapshots.writeSnapshot(spark, rows(80, "y").toDF("k", "v"), t,
      snapshotId = 10L, nParts = 2, keyCol = "k", portableParts = true)
    expect(rows(80, "y") ++ rows(200, "c").filter(_._1 % 4 >= 2), None)
    intercept[IllegalArgumentException](Snapshots.readData(spark, t, Some(9L)))
  }

  test("writeSnapshot refuses a legacy flat-layout data dir") {
    val dir = java.nio.file.Files.createTempDirectory("snap-legacy").toString
    val t = s"$dir/t"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$t/data/part_id=0"))
    val df = (1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val e = intercept[IllegalArgumentException](
      Snapshots.writeSnapshot(spark, df, t, snapshotId = 1L, nParts = 2, keyCol = "k"))
    assert(e.getMessage.contains("flat layout"))
    // and a time-travel read on a flat table must refuse — it has no
    // history, so serving current data for asOf would be silently wrong
    val e2 = intercept[IllegalArgumentException](
      Snapshots.readData(spark, t, asOf = Some(1L)))
    assert(e2.getMessage.contains("flat layout"))
    // a plain read refuses the same way: the store reads only its own layout
    val e3 = intercept[IllegalArgumentException](Snapshots.readData(spark, t))
    assert(e3.getMessage.contains("flat layout"))
  }

  test("leftover hidden files in _meta are ignored by every read") {
    // a crash inside a driver-side metadata write leaves a dot-prefixed
    // .part-meta-*.inprogress-* temp file in _meta/partitions; it sits next
    // to the manifest claim locks and the .expired-* tombstones. Two tables
    // get the same operations, one with a complete and a torn temp file
    // planted: every answer must match
    val dir = java.nio.file.Files.createTempDirectory("snap-hidden").toString
    def rows(n: Int, tag: String) = (1 to n).map(i => (i.toLong, s"$tag$i")).toDF("k", "v")
    def run(t: String, plant: Boolean) = {
      Snapshots.writeSnapshot(spark, rows(300, "a"), t, snapshotId = 1L, nParts = 4, keyCol = "k")
      Snapshots.writeSnapshot(spark, rows(200, "b"), t, snapshotId = 2L, nParts = 2, keyCol = "k")
      Snapshots.writeSnapshot(spark, rows(250, "c"), t, snapshotId = 3L, nParts = 4,
        keyCol = "k", maxPartsPerRun = 2)
      if (plant) {
        val parts = java.nio.file.Paths.get(s"$t/_meta/partitions")
        val published = {
          val s = java.nio.file.Files.list(parts)
          try s.iterator().asScala.toList finally s.close()
        }
        // a complete file (crash after close, before the publishing move)
        // whose rows would double the lineage, and a torn one that would
        // fail any parquet reader
        java.nio.file.Files.copy(published.head,
          parts.resolve(s".${published.head.getFileName}.inprogress-1"))
        val bytes = java.nio.file.Files.readAllBytes(published.head)
        java.nio.file.Files.write(parts.resolve(".part-meta-x.parquet.inprogress-2"),
          bytes.take(bytes.length / 2))
      }
      val resumed = Snapshots.writeSnapshot(spark, rows(250, "c"), t, snapshotId = 3L,
        nParts = 4, keyCol = "k")
      def read(asOf: Option[Long]) = Snapshots.readData(spark, t, asOf).select("k", "v")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      def lineage() = Snapshots.readPartitionMeta(spark, t).collect().map(_.toSeq).sortBy(_.toString).toSeq
      val before = (Seq(1L, 2L, 3L).map(s => read(Some(s))), lineage())
      val expired = Snapshots.expireSnapshots(spark, t, keepLast = 2)
      (resumed, before, expired, read(None), read(Some(2L)), lineage())
    }
    val clean = run(s"$dir/clean", plant = false)
    val dirty = run(s"$dir/dirty", plant = true)
    assert(clean._3 == Seq(1L))
    assert(dirty == clean)
  }

  test("a committed all-empty snapshot reads back as an empty frame, not an error") {
    val dir = java.nio.file.Files.createTempDirectory("snap-empty").toString
    val t = s"$dir/t"
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    Snapshots.writeSnapshot(spark, df, t, snapshotId = 1L, nParts = 2, keyCol = "k")
    // snapshot 2 legitimately empties the table (e.g. a decontamination
    // pass dropped every row); it commits and must read back as zero rows
    // with the table schema — while asOf=1 still returns the old state
    Snapshots.writeSnapshot(spark, df.where($"k" < 0), t, snapshotId = 2L,
      nParts = 2, keyCol = "k", operation = "overwrite")
    assert(Snapshots.currentSnapshot(t).contains(2L))
    val empty = Snapshots.readData(spark, t)
    assert(empty.columns.toSet == Set("k", "v", "part_id"))
    assert(empty.count() == 0)
    assert(Snapshots.readData(spark, t, Some(1L)).count() == 100)
  }

  test("snapshot store: randomized op sequence matches an in-memory model") {
    // model-based check of the round-5 store surgery: random full/partial-
    // width/empty/abandoned writes and expires, with the expected per-
    // snapshot state tracked in plain Scala. After every op, every LIVE
    // snapshot must read back exactly its modeled state and every expired
    // or abandoned one must refuse.
    val rnd = new scala.util.Random(42)
    val dir = java.nio.file.Files.createTempDirectory("snap-model").toString
    val t = s"$dir/t"
    def dataset(sid: Int, n: Int) =
      (1 to n).map(i => (i.toLong, s"s$sid-v$i"))
    // model: committed snapshots -> full expected row set
    var model = Map.empty[Long, Set[(Long, String)]]
    var expiredOrAbandoned = Set.empty[Long]
    var widths = Map.empty[Long, Int]          // committed sid -> its nParts
    var allWrites = Map.empty[Long, Set[(Long, String)]] // committed sid -> rows WRITTEN by it
    // sid 1 is always a committed non-empty write: a table whose only
    // committed content is empty has no parquet file to recover a schema
    // from (documented readData limitation), and expiring/abandoning
    // before any commit exercises nothing
    for (sid <- 1 to 10) {
      val op = if (sid == 1) 9 else rnd.nextInt(10)
      if (op < 2 && model.nonEmpty) {
        // expire to a random keepLast
        val keep = 1 + rnd.nextInt(model.size)
        val committed = model.keys.toVector.sorted
        val gone = committed.dropRight(keep)
        Snapshots.expireSnapshots(spark, t, keepLast = keep)
        expiredOrAbandoned ++= gone
        model --= gone
      } else if (op < 4) {
        // abandoned partial write: lineage + files land, never committed
        Snapshots.writeSnapshot(spark, dataset(sid, 64).toDF("k", "v"), t,
          snapshotId = sid.toLong, nParts = 4, keyCol = "k",
          portableParts = true, maxPartsPerRun = 1 + rnd.nextInt(3))
        expiredOrAbandoned += sid.toLong
      } else {
        // committed write at a random width (narrower width = partial
        // overwrite: parts >= width keep their previous winners),
        // sometimes with an empty frame (overwrite-to-empty)
        val nParts = Seq(2, 4, 8)(rnd.nextInt(3))
        val n = if (sid > 1 && rnd.nextInt(5) == 0) 0 else 30 + rnd.nextInt(120)
        val rows = dataset(sid, n)
        Snapshots.writeSnapshot(spark, rows.toDF("k", "v"), t,
          snapshotId = sid.toLong, nParts = nParts, keyCol = "k", portableParts = true)
        widths += sid.toLong -> nParts
        allWrites += sid.toLong -> rows.toSet
        model += sid.toLong -> resolveModel(widths, allWrites, sid.toLong)
      }
      // verify every live snapshot + refusal of dead ones. Compared as
      // SORTED SEQUENCES, not sets: a store bug that double-resolves a
      // part dir would produce duplicate physical rows that a set compare
      // silently collapses
      model.foreach { case (s, want) =>
        val got = Snapshots.readData(spark, t, Some(s)).select("k", "v")
          .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
        assert(got == want.toSeq.sorted,
          s"snapshot $s after op $sid: ${got.size} vs ${want.size} rows")
      }
      expiredOrAbandoned.filterNot(model.contains).foreach { s =>
        intercept[IllegalArgumentException](Snapshots.readData(spark, t, Some(s)))
      }
    }
    assert(model.nonEmpty, "sequence must end with at least one live snapshot")
  }

  /** Model-side winner resolution mirroring the store's rule: a row (k, v)
    * written by committed snapshot S (width w_S, so it sits in part
    * P = k % w_S) is visible at `asOf` iff S is the NEWEST committed
    * snapshot <= asOf whose width covers P — i.e. no later committed
    * snapshot has width > P (wider-or-equal later snapshots rewrite P). */
  private def resolveModel(widths: Map[Long, Int],
                           writes: Map[Long, Set[(Long, String)]],
                           asOf: Long): Set[(Long, String)] = {
    val committed = widths.keys.toVector.sorted.filter(_ <= asOf)
    committed.flatMap { s =>
      val w = widths(s)
      writes(s).filter { case (k, _) =>
        val p = k % w
        !committed.exists(s2 => s2 > s && widths(s2) > p)
      }
    }.toSet
  }

  test("snapshot metadata runs no Spark job: resume, expire and readData stay in budget") {
    // the _meta tables are read on the driver, so on an 80-part table with
    // 3 snapshots a commit pays only its data write, a no-op resume and
    // expiry run no job, and a readData frame costs what a plain parquet
    // read of the same number of winning dirs costs
    val dir = java.nio.file.Files.createTempDirectory("snap-jobs").toString
    val t = s"$dir/t"
    val n = 80
    val df = (1 to 8000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val sc = spark.sparkContext
    var fresh = Seq.empty[Snapshots.PartitionMeta]
    val freshJobs = Bus.jobsOf(sc) {
      fresh = Snapshots.writeSnapshot(spark, df, s"$dir/fresh", 1L, n, "k")
    }
    Snapshots.writeSnapshot(spark, df, t, 1L, n, "k")
    Snapshots.writeSnapshot(spark, df, t, 2L, n, "k")
    val historyJobs = Bus.jobsOf(sc)(Snapshots.writeSnapshot(spark, df, t, 3L, n, "k"))
    assert(historyJobs == freshJobs, s"commit with history ran $historyJobs jobs, fresh $freshJobs")
    var noop = Seq.empty[Snapshots.PartitionMeta]
    assert(Bus.jobsOf(sc) { noop = Snapshots.writeSnapshot(spark, df, t, 3L, n, "k") } == 0)
    assert(noop.map(_.partId) == (0 until n))
    // the plain read goes over the fresh table's dirs, so neither read
    // finds a listing the other one cached
    val dirs = fresh.filter(_.rowCount > 0)
      .map(m => s"$dir/fresh/data/snap_id=1/part_id=${m.partId}")
    val plainJobs = Bus.jobsOf(sc)(spark.read.option("basePath", s"$dir/fresh/data").parquet(dirs: _*))
    val readJobs = Bus.jobsOf(sc)(Snapshots.readData(spark, t))
    assert(readJobs <= plainJobs, s"readData built in $readJobs jobs, a plain read in $plainJobs")
    var expired = Seq.empty[Long]
    assert(Bus.jobsOf(sc) { expired = Snapshots.expireSnapshots(spark, t, keepLast = 2) } == 0)
    assert(expired == Seq(1L))
    assert(Snapshots.readData(spark, t).count() == 8000)
  }

  test("resume completes a first commit that crashed between lock and publish") {
    // regression: a snapshots dir holding ONLY hidden entries (the claim
    // lock, a crashed .tmp dir) was counted as legacy manifest parts, and
    // the resume probed it with spark.read.parquet -> unable-to-infer-schema
    val dir = java.nio.file.Files.createTempDirectory("snap-crash").toString
    val t = s"$dir/t"
    val snapDir = java.nio.file.Paths.get(s"$t/_meta/snapshots")
    java.nio.file.Files.createDirectories(snapDir)
    java.nio.file.Files.createFile(snapDir.resolve(".manifest-1.lock"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$t/_meta/.tmp-manifest-1-deadbeef"))
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val m = Snapshots.writeSnapshot(spark, df, t, snapshotId = 1L, nParts = 2, keyCol = "k")
    assert(m.map(_.rowCount).sum == 100)
    assert(Snapshots.currentSnapshot(t).contains(1L))
    assert(Snapshots.readSnapshots(spark, t).where(col("snapshot_id") === 1).count() == 1)
  }

  test("concurrent committers: manifest publish has exactly one winner") {
    // the commit point is an atomic no-replace rename of a one-row parquet
    // file: two racing committers (and two racing writeSnapshot calls over
    // a fully-committed partition set) must leave exactly ONE manifest row
    // and a CURRENT pointer — never two rows, never a half-written file
    val dir = java.nio.file.Files.createTempDirectory("snap-race").toString
    val df = (1 to 200).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    // seed partitions WITHOUT a manifest (micro-batch stop before the last)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/t/_meta"))
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    val futs = (1 to 2).map { _ =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          gate.await()
          Snapshots.ensureManifest(s"$dir/t", 7L, "append", 4)
        }
      })
    }
    gate.countDown()
    futs.foreach(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(Snapshots.readSnapshots(spark, s"$dir/t")
      .where(col("snapshot_id") === 7).count() == 1, "exactly one manifest row")
    val files = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/t/_meta/snapshots"))
      try s.iterator().asScala.map(_.getFileName.toString).toList
      finally s.close()
    }
    // exactly one PUBLISHED manifest; the dot-prefixed claim lock is
    // invisible to parquet readers
    assert(files.filterNot(_.startsWith(".")) == List("manifest-7.parquet"),
      s"one published file, got $files")
    assert(files.contains(".manifest-7.lock"), "winner's claim lock present")
    // no temp litter left behind in _meta
    val metaFiles = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/t/_meta"))
      try s.iterator().asScala.map(_.getFileName.toString).toList finally s.close()
    }
    assert(!metaFiles.exists(_.startsWith(".tmp-manifest")), s"temp cleaned, got $metaFiles")

    // two interleaved writeSnapshot calls over the same fully-committed
    // table race only in the (idempotent, CAS'd) commit step
    val t2 = s"$dir/t2"
    Snapshots.writeSnapshot(spark, df, t2, snapshotId = 1L, nParts = 4, keyCol = "k")
    val gate2 = new CountDownLatch(1)
    val pool2 = Executors.newFixedThreadPool(2)
    val futs2 = (1 to 2).map { _ =>
      pool2.submit(new Runnable {
        override def run(): Unit = {
          gate2.await()
          Snapshots.writeSnapshot(spark, df, t2, snapshotId = 1L, nParts = 4, keyCol = "k")
        }
      })
    }
    gate2.countDown()
    futs2.foreach(_.get(120, TimeUnit.SECONDS))
    pool2.shutdown()
    assert(Snapshots.currentSnapshot(t2).contains(1L))
    assert(Snapshots.readSnapshots(spark, t2).where(col("snapshot_id") === 1).count() == 1)
    assert(Snapshots.readData(spark, t2).count() == 200)
  }

  /** Entry names of a directory, sorted. */
  private def entries(dir: String): Seq[String] = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
  }

  test("commit protocol: two attempts at one part publish one file, the winner's") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val dir = java.nio.file.Files.createTempDirectory("snap-attempts").toString
    val files = Snapshots.DataFiles(spark, s"$dir/snap",
      new StructType().add("k", LongType).add("v", StringType))
    // (k, v) data columns, then the part id and the row hash
    def rows(n: Int, tag: String) = (1 to n).iterator.map(i =>
      InternalRow(i.toLong, UTF8String.fromString(s"$tag$i"), 3, 10L * i))
    // a first attempt that lost (failed, or a speculative duplicate), then
    // the attempt whose result the job kept
    val lost = files.writeAttempt(7L, rows(5, "lost"))
    val won = files.writeAttempt(8L, rows(3, "won"))
    assert(lost == Seq(Snapshots.PartWrite(3, 7L, 5L, 150L)))
    assert(won == Seq(Snapshots.PartWrite(3, 8L, 3L, 60L)))
    assert(entries(s"$dir/snap/part_id=3") == Seq(files.attemptName(7L), files.attemptName(8L)).sorted)
    files.publish(Seq(3), won)
    assert(entries(s"$dir/snap/part_id=3") == Seq(files.fileName(3)),
      "exactly one visible file and no hidden file")
    val back = spark.read.parquet(s"$dir/snap/part_id=3").as[(Long, String)].collect().sorted.toSeq
    assert(back == (1 to 3).map(i => (i.toLong, s"won$i")))
  }

  test("commit protocol: an attempt file left at the very name a task writes is replaced") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val dir = java.nio.file.Files.createTempDirectory("snap-leftover").toString
    val files = Snapshots.DataFiles(spark, s"$dir/snap",
      new StructType().add("k", LongType).add("v", StringType))
    // a killed process left a torn file where attempt 0 of part 1 writes
    // (task attempt ids restart at 0 in every SparkContext)
    val part1 = java.nio.file.Paths.get(s"$dir/snap/part_id=1")
    java.nio.file.Files.createDirectories(part1)
    java.nio.file.Files.write(part1.resolve(files.attemptName(0L)), Array[Byte](1, 2, 3))
    val input = (1 to 50).map(i => (i.toLong, s"v$i"))
    val writes = files.writeAttempt(0L, input.iterator.map { case (k, v) =>
      InternalRow(k, UTF8String.fromString(v), 1, k) })
    assert(writes == Seq(Snapshots.PartWrite(1, 0L, 50L, (1 to 50).sum.toLong)))
    files.publish(Seq(1), writes)
    assert(entries(part1.toString) == Seq(files.fileName(1)))
    val back = spark.read.parquet(part1.toString).as[(Long, String)].collect().sorted.toSeq
    assert(back == input)
  }

  test("commit protocol: two commits of one snapshot name their attempt files apart") {
    import org.apache.spark.sql.types.{LongType, StructType}
    val schema = new StructType().add("k", LongType)
    val a = Snapshots.DataFiles(spark, "/unused", schema)
    val b = Snapshots.DataFiles(spark, "/unused", schema)
    assert(a.attemptName(0L) != b.attemptName(0L))
    assert(a.attemptName(0L).startsWith(".") && a.attemptName(0L).endsWith(".inprogress"))
  }

  test("commit protocol: resume over a stale visible file and a hidden attempt file") {
    val dir = java.nio.file.Files.createTempDirectory("snap-stale").toString
    val t = s"$dir/t"
    val input = (1 to 400).map(i => (i.toLong, s"v$i"))
    val df = input.toDF("k", "v")
    // run 1 commits parts 0-1 of 4, then crashes while writing part 2: its
    // dir holds a visible file (a copy of part 0's, whose rows would be
    // read twice if it survived) and a torn hidden attempt file
    Snapshots.writeSnapshot(spark, df, t, snapshotId = 1L, nParts = 4, keyCol = "k",
      portableParts = true, maxPartsPerRun = 2)
    val part0 = java.nio.file.Paths.get(s"$t/data/snap_id=1/part_id=0")
    val part2 = java.nio.file.Paths.get(s"$t/data/snap_id=1/part_id=2")
    java.nio.file.Files.createDirectories(part2)
    java.nio.file.Files.copy(part0.resolve(entries(part0.toString).head),
      part2.resolve("part-2.stale.parquet"))
    java.nio.file.Files.write(part2.resolve(".attempt-99.inprogress"), Array[Byte](1, 2, 3))
    val m = Snapshots.writeSnapshot(spark, df, t, snapshotId = 1L, nParts = 4, keyCol = "k",
      portableParts = true)
    assert(m.map(_.rowCount).sum == 400)
    (0 until 4).foreach { p =>
      val names = entries(s"$t/data/snap_id=1/part_id=$p")
      assert(names.size == 1 && !names.head.startsWith("."), s"part $p holds $names")
    }
    val back = Snapshots.readData(spark, t).select("k", "v").as[(Long, String)].collect().sorted.toSeq
    assert(back == input)
  }

  test("snapshot data files round-trip every column type like a plain parquet write") {
    val dir = java.nio.file.Files.createTempDirectory("snap-types").toString
    val df = spark.sql("""
      SELECT id,
        IF(id % 5 = 0, NULL, CAST(id AS INT)) AS i,
        IF(id % 5 = 1, NULL, CAST(id AS DOUBLE) / 3) AS d,
        IF(id % 5 = 2, NULL, CAST(id AS DECIMAL(18, 4)) / 8) AS dec,
        IF(id % 5 = 3, NULL, CONCAT('s', id)) AS s,
        IF(id % 5 = 4, NULL, CAST(CONCAT('b', id) AS BINARY)) AS b,
        IF(id % 7 = 0, NULL, DATE_ADD(DATE'2020-01-01', CAST(id AS INT))) AS dt,
        IF(id % 7 = 1, NULL, TIMESTAMP_SECONDS(1600000000 + id * 3600)) AS ts,
        IF(id % 7 = 2, NULL, ARRAY(id, IF(id % 2 = 0, NULL, id + 1))) AS arr,
        IF(id % 7 = 3, NULL, NAMED_STRUCT('a', id, 's', IF(id % 2 = 0, NULL, CONCAT('x', id)))) AS st,
        IF(id % 7 = 4, NULL, MAP(CONCAT('k', id), IF(id % 2 = 0, NULL, id))) AS m
      FROM RANGE(0, 60)""")
    Snapshots.writeSnapshot(spark, df, s"$dir/t", snapshotId = 1L, nParts = 4, keyCol = "id")
    df.write.parquet(s"$dir/plain")
    val got = Snapshots.readData(spark, s"$dir/t").drop("part_id")
    val want = spark.read.parquet(s"$dir/plain")
    assert(got.schema == want.schema, s"${got.schema.treeString} vs ${want.schema.treeString}")
    def json(f: DataFrame) = f.withColumn("b", hex(col("b")))
      .select(to_json(struct(col("*")))).as[String].collect().sorted.toSeq
    assert(json(got) == json(want))
    assert(json(got).size == 60)
  }

  test("snapshot commits maps nested in structs, arrays and maps; equal maps hash alike") {
    val dir = java.nio.file.Files.createTempDirectory("snap-nested-maps").toString
    // the same rows twice, every map built in the other key order
    def frame(flip: Boolean) = {
      def m(a: String, b: String) = if (flip) s"MAP($b, $a)" else s"MAP($a, $b)"
      def kv(k: String, v: String) = s"$k, $v"
      spark.sql(s"""
        SELECT id,
          IF(id % 4 = 0, NULL, NAMED_STRUCT('m', ${m(kv("'a'", "id"), kv("'b'", "id + 1"))})) AS sm,
          ARRAY(${m(kv("'x'", "id"), kv("'y'", "NULL"))}, NULL) AS am,
          ${m(kv("'p'", s"${m(kv("'q'", "id"), kv("'r'", "2"))}"), kv("'s'", "NULL"))} AS mm
        FROM RANGE(0, 40)""")
    }
    val m1 = Snapshots.writeSnapshot(spark, frame(flip = false), s"$dir/a", snapshotId = 1L,
      nParts = 3, keyCol = "id", portableParts = true)
    val m2 = Snapshots.writeSnapshot(spark, frame(flip = true), s"$dir/b", snapshotId = 1L,
      nParts = 3, keyCol = "id", portableParts = true)
    assert(m1.map(_.rowCount).sum == 40)
    assert(m1.map(m => (m.partId, m.rowCount, m.lineageHash)).sorted ==
      m2.map(m => (m.partId, m.rowCount, m.lineageHash)).sorted)
    frame(flip = false).write.parquet(s"$dir/plain")
    val got = Snapshots.readData(spark, s"$dir/a").drop("part_id")
    val want = spark.read.parquet(s"$dir/plain")
    assert(got.schema == want.schema, s"${got.schema.treeString} vs ${want.schema.treeString}")
    def json(f: DataFrame) = f.select(to_json(struct(col("*")))).as[String].collect().sorted.toSeq
    assert(json(got) == json(want))
  }
}
