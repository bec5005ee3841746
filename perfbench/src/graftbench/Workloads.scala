package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.core.{RayCast, WktParser}
import graft.functions.GraftFunctions._
import graft.operators.{Dedup, Knn, SpatialJoin}
import graft.sources.Snapshots
import graft.{FsUtil, Pipeline}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark workload: seeded inputs, the public engine calls a run
  * makes, and the check of a run's outputs.
  *
  * Life cycle: `generate` writes the input tables (timed as set-up);
  * `reference` computes the brute-force answers for the check once
  * (untimed); `run` makes the calls and forces every result (timed);
  * `check` returns a failure reason, if any; `reset` removes what a run left
  * on disk. `layers` turns one traced run's spans and plans into per-layer
  * metrics. */
abstract class Workload(val seed: Long, val scale: Double, val dir: String) {
  type Out
  def rowKind: String
  def inputRows: Long
  def generate(spark: SparkSession): Unit
  def reference(spark: SparkSession): Unit
  def run(spark: SparkSession, t: Tracer): Out
  def check(spark: SparkSession, out: Out): Option[String]
  def reset(): Unit = ()
  def layers(spark: SparkSession, t: Tracer, root: Int): Map[String, Double] = Map.empty

  protected def sized(n: Double, min: Int): Int = math.max(min, (n * scale).toInt)
  protected def path(name: String): String = s"$dir/$name"

  protected def writeParquet(df: DataFrame, name: String): Unit =
    df.write.mode("overwrite").parquet(path(name))

  /** Time of the spans named `name` under `root`, in seconds. */
  protected def spanS(t: Tracer, root: Int, name: String): Double =
    t.spans.filter(s => s.name == name && t.subtree(root).contains(s.id))
      .map(s => (s.endNs - s.startNs) / 1e9).sum

  protected def spanIds(t: Tracer, root: Int, name: String): Seq[Int] =
    t.spans.filter(s => s.name == name && t.subtree(root).contains(s.id)).map(_.id).toSeq
}

object Workload {
  val names: Seq[String] = Seq("flagship", "near_dup")

  def apply(name: String, seed: Long, scale: Double, dir: String): Workload = name match {
    case "flagship" => new Flagship(seed, scale, dir)
    case "near_dup" => new NearDup(seed, scale, dir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Runs workload `w` as a per-layer probe inside another workload's traced
    * run: inputs, one untraced warm-up run, then one traced and checked run
    * whose spans give `w`'s layer metrics. */
  def probe(spark: SparkSession, t: Tracer, w: Workload, layer: String): Map[String, Double] = {
    w.generate(spark)
    w.reference(spark)
    w.run(spark, new Tracer(spark, enabled = false))
    Main.clear(spark)
    w.reset()
    val out = t.span("probe")(w.run(spark, t))
    // storage the calls left behind, before anything is released
    val retained = Main.retainedMb(spark)
    w.check(spark, out).foreach(why =>
      throw new IllegalStateException(s"${w.getClass.getSimpleName} probe: $why"))
    val m = w.layers(spark, t, t.spans.lastIndexWhere(_.name == "probe"))
    Main.clear(spark)
    m + (s"$layer.retained_mb" -> retained)
  }

  /** Order-independent fingerprint of a frame's rows, forced in one job. */
  def countAndHash(df: DataFrame): (Long, Long) = {
    // 32-bit row hashes summed as longs (the lineage-hash shape): no overflow
    val r = df.agg(count(lit(1)),
      coalesce(sum(hash(df.columns.map(col).toIndexedSeq: _*).cast("long")), lit(0L))).first()
    (r.getLong(0), r.getLong(1))
  }

  /** Forces `df` through the noop sink while an observation collects its row
    * count and the rows matching `keep` (the checked sample). */
  def forceObserved(df: DataFrame, keep: org.apache.spark.sql.Column,
                    cols: Seq[String]): (Long, Seq[Row]) = {
    val obs = Observation(s"graftbench-${java.util.UUID.randomUUID}")
    df.observe(obs, count(lit(1)).as("n"),
      collect_list(when(keep, struct(cols.map(col): _*))).as("s"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("n").asInstanceOf[Long], m("s").asInstanceOf[Seq[Row]])
  }
}

/** BASELINE flagship: `Pipeline.run` over images with real encoded bytes and
  * a rectangle polygon layer, zoom 8, level 10. Row kind: images. */
final class Flagship(seed: Long, scale: Double, dir: String) extends Workload(seed, scale, dir) {
  type Out = (Long, Long)
  val nImages: Int = sized(8000, 100)
  // as many rectangles as sf0.1's supplier table: most images match, so the
  // pipeline's decode pushdown stays off on every seed
  val nPolys: Int = sized(1000, 40)
  def rowKind = "images"
  def inputRows: Long = nImages.toLong

  def generate(spark: SparkSession): Unit = {
    val imgs = graft.sources.SynthData.imagesFrom(Gen.points(spark, seed, nImages))
      .withColumn("bytes", image_synth(struct(col("image_id"), col("w"), col("h"), col("fmt"))))
      .withColumn("footprint_wkt", st_point_wkt(col("lon"), col("lat"), 16))
      .select("image_id", "point_id", "bytes", "w", "h", "fmt", "caption", "phash",
        "footprint_wkt")
    writeParquet(imgs, "images")
    Files.writeString(Paths.get(path("images_count.txt")), nImages.toString)
    writeParquet(Gen.rectangles(spark, seed, nPolys), "polygons")
  }

  def reference(spark: SparkSession): Unit = ()

  def run(spark: SparkSession, t: Tracer): Out =
    t.span("Pipeline.run")(Pipeline.run(spark, dir, zoom = 8, level = 10, snapshotId = 1L))

  def check(spark: SparkSession, out: Out): Option[String] = {
    val (rows, n) = out
    val table = path("tile_stats")
    val lineageRows = Snapshots.readPartitionMeta(spark, table)
      .where(col("snapshot_id") === 1L).agg(sum("row_count")).first().getLong(0)
    val read = Snapshots.readData(spark, table).count()
    if (n != nImages) Some(s"input images $n != $nImages")
    else if (rows <= 0) Some("no tile rows")
    else if (rows != lineageRows) Some(s"output rows $rows != lineage rows $lineageRows")
    else if (read != lineageRows) Some(s"read rows $read != lineage rows $lineageRows")
    else None
  }

  override def reset(): Unit = FsUtil.rmTree(path("tile_stats"))

  override def layers(spark: SparkSession, t: Tracer, root: Int): Map[String, Double] = {
    // Images layer: decode dims + tile blocks over the workload's own images,
    // forced outside the measured run
    val blocks = t.span("Images.decode") {
      spark.read.parquet(path("images"))
        .withColumn("px", image_decode_dims(col("bytes")))
        .withColumn("tb", image_tile_blocks(struct(
          (col("w") * -0.0005).as("lon_min"), (col("h") * -0.0005).as("lat_min"),
          (col("w") * 0.0005).as("lon_max"), (col("h") * 0.0005).as("lat_max"),
          col("px.w"), col("px.h"), lit(8).as("z"), lit(8).as("block"))))
        .agg(sum(size(col("tb")))).first().getLong(0)
    }
    // layers the flagship does not reach on its own: the skewed salted join
    // and kNN, and the Snapshots lineage sequence past the 8-part commit
    // inside Pipeline.run
    val spatial = Workload.probe(spark, t, new SpatialSkew(seed, scale, path("spatial")), "SpatialJoin")
    val lineage = Workload.probe(spark, t, new Lineage(seed, scale, path("lineage")), "Snapshots")
    spatial ++ lineage ++ Map(
      "Images.decode_s" -> spanS(t, -1, "Images.decode"),
      "Images.blocks" -> blocks.toDouble)
  }
}

/** Skewed point-in-polygon join plus kNN, no decode and no commit: 20% of
  * the points in the hot region, under overlapping hot polygons with holes.
  * Run as a per-layer probe of the flagship's traced run. Row kind: points. */
final class SpatialSkew(seed: Long, scale: Double, dir: String) extends Workload(seed, scale, dir) {
  type Out = ((Long, Seq[Row]), Array[Row])
  val nPoints: Int = sized(50000, 4000)
  val nPolys: Int = sized(300, 60)
  val nQueries: Int = sized(100, 16)
  val k = 10
  val level = 12
  // the default threshold is sized for about 2M points; scaled with the
  // point count so the same cells count as hot at this size
  val hotThreshold: Long = math.max(20L, 10000L * nPoints / 2000000L)
  // sampled points for the brute-force check: ~1 in 200
  private def sampled = pmod(xxhash64(col("point_id"), lit(seed)), lit(200)) === 0
  private val checkQueries = 16

  private var expectedPairs: Set[(Long, Long)] = Set.empty
  private var expectedKnn: Set[(Long, Long, Int)] = Set.empty
  private var lastMatches = 0L

  def rowKind = "points"
  def inputRows: Long = nPoints.toLong

  def generate(spark: SparkSession): Unit = {
    writeParquet(Gen.points(spark, seed, nPoints), "points")
    writeParquet(spark.createDataFrame(Gen.polygons(seed, nPolys)).toDF("poly_id", "wkt"), "polygons")
    writeParquet(spark.createDataFrame(Gen.queries(seed, nQueries)).toDF("query_id", "qlon", "qlat"),
      "queries")
  }

  private def points(spark: SparkSession) = spark.read.parquet(path("points"))
  private def queries(spark: SparkSession) = spark.read.parquet(path("queries"))

  def reference(spark: SparkSession): Unit = {
    // join: every sampled point against every polygon by ray cast (bbox
    // pre-test only), no cell index
    val polys = Gen.polygons(seed, nPolys).map { case (id, wkt) =>
      val g = WktParser.parse(wkt)
      (id, g.bbox.get, g.polygonRings)
    }
    val pts = points(spark).where(sampled).collect()
    expectedPairs = pts.flatMap { r =>
      val (pid, x, y) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
      polys.collect { case (id, (x0, y0, x1, y1), rings)
        if x >= x0 && x <= x1 && y >= y0 && y <= y1 && RayCast.containsRings(rings, x, y) => (pid, id)
      }
    }.toSet
    // kNN: brute force for a fixed subset of the queries
    val qs = queries(spark).where(col("query_id") < checkQueries)
    expectedKnn = Knn.knnBrute(qs, points(spark), k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
  }

  def run(spark: SparkSession, t: Tracer): Out = {
    val pts = points(spark)
    val polys = spark.read.parquet(path("polygons"))
      .withColumn("geom", st_geomfromtext(col("wkt"))).select("poly_id", "geom")
    val joined = t.span("SpatialJoin.pointsInPolygonsSalted") {
      val j = SpatialJoin.pointsInPolygonsSalted(pts, polys, level = level,
        hotThreshold = hotThreshold, broadcastCover = None)
      Workload.forceObserved(j, sampled, Seq("point_id", "poly_id"))
    }
    lastMatches = joined._1
    val knn = t.span("Knn.knn")(Knn.knn(queries(spark), pts, k).collect())
    (joined, knn)
  }

  def check(spark: SparkSession, out: Out): Option[String] = {
    val ((n, sample), knn) = out
    val pairs = sample.map(r => (r.getLong(0), r.getLong(1))).toSet
    val knnRows = knn.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val knnSample = knnRows.filter(_._1 < checkQueries).toSet
    if (sample.length != pairs.size) Some("join emitted a sampled pair twice")
    else if (pairs != expectedPairs)
      Some(s"join sample: ${(pairs -- expectedPairs).size} extra, ${(expectedPairs -- pairs).size} missing")
    else if (n < pairs.size) Some(s"join count $n below its own sample")
    else if (knnRows.length != nQueries * k) Some(s"knn rows ${knnRows.length} != ${nQueries * k}")
    else if (knnSample != expectedKnn) Some("knn differs from knnBrute on the checked queries")
    else None
  }

  override def layers(spark: SparkSession, t: Tracer, root: Int): Map[String, Double] = {
    val js = spanIds(t, root, "SpatialJoin.pointsInPolygonsSalted")
    val nodes = js.flatMap(t.nodesUnder)
    val w = js.map(t.workUnder)
    def gen(f: String) = nodes.filter(n => n.nodeName == "Generate" && n.toString.contains(f))
      .map(Tracer.rows)
    // the largest ancestor explode is the probe side (the other one explodes
    // the hot-cell sample); the salt explode adds the cover-row replicas
    val probe = gen("st_cell_ancestors").foldLeft(0L)(math.max)
    val saltRows = nodes.filter(n => n.nodeName == "Generate" && n.toString.contains("_hot"))
      .map(n => Tracer.rows(n) - Tracer.rows(n.children.head)).sum
    val matches = lastMatches
    // candidates: the cell equijoin's rows before the ray-cast refine, counted
    // on the same cover through the public cover builder
    val candidates = t.span("SpatialJoin.candidates") {
      val pts = points(spark)
      val polys = spark.read.parquet(path("polygons"))
        .withColumn("geom", st_geomfromtext(col("wkt"))).select("poly_id", "geom")
      pts.withColumn("cell", explode(st_cell_ancestors(col("lon"), col("lat"), level)))
        .join(SpatialJoin.coverSide(polys, level), "cell").count()
    }
    val skew = w.flatMap(_.stageTaskMs.values).filter(_.length > 1).sortBy(-_.sum).headOption
      .map { d => val s = d.sorted; s.last.toDouble / math.max(1L, s(s.length / 2)) }
      .getOrElse(1.0)
    val knnW = spanIds(t, root, "Knn.knn").map(t.workUnder)
    Map(
      "SpatialJoin.s" -> spanS(t, root, "SpatialJoin.pointsInPolygonsSalted"),
      "SpatialJoin.probe_rows" -> probe.toDouble,
      "SpatialJoin.candidates" -> candidates.toDouble,
      "SpatialJoin.matches" -> matches.toDouble,
      "SpatialJoin.refine_yield" -> matches.toDouble / math.max(1L, candidates),
      "SpatialJoin.salt_rows" -> saltRows.toDouble,
      "SpatialJoin.join_skew" -> skew,
      "SpatialJoin.shuffle_mb" -> w.map(_.shuffleWriteB).sum / 1e6,
      "Knn.s" -> spanS(t, root, "Knn.knn"),
      "Knn.jobs" -> knnW.map(_.jobs).sum.toDouble)
  }
}

/** The Snapshots lineage sequence: commits at 80 parts (above the 64-part
  * observe path), one stopped halfway and resumed (that half takes the
  * observe path), time-travel reads of every snapshot and expiry. Run as a
  * per-layer probe of the flagship's traced run. Row kind: tile rows. */
final class Lineage(seed: Long, scale: Double, dir: String) extends Workload(seed, scale, dir) {
  type Out = (Seq[(Long, Long)], Int, Int, Seq[Long])
  val nPoints: Int = sized(20000, 4000)
  val nParts = 80
  val zoom = 10
  private val snaps = 1 to 3
  private var rows: Seq[Long] = Nil
  private var expected: Seq[(Long, Long)] = Nil
  private var skipped = 0
  def rowKind = "tile rows"
  def inputRows: Long = rows.sum

  def generate(spark: SparkSession): Unit = {
    val pts = Gen.points(spark, seed, nPoints)
    rows = snaps.map { s =>
      // each snapshot counts a different seeded 3/4 of the points
      writeParquet(SpatialJoin.tileCounts(
        pts.where(pmod(xxhash64(col("point_id"), lit(seed + s)), lit(4)) =!= 0), zoom),
        s"tiles_$s")
      spark.read.parquet(path(s"tiles_$s")).count()
    }
  }

  private def tiles(spark: SparkSession, s: Int) = spark.read.parquet(path(s"tiles_$s"))

  def reference(spark: SparkSession): Unit =
    expected = snaps.map(s => Workload.countAndHash(tiles(spark, s)))

  def run(spark: SparkSession, t: Tracer): Out = {
    val table = path("table")
    def commit(s: Int, maxParts: Int = Int.MaxValue) =
      t.span("Snapshots.writeSnapshot")(Snapshots.writeSnapshot(spark, tiles(spark, s), table,
        s.toLong, nParts, keyCol = "x", maxPartsPerRun = maxParts))
    commit(1)
    val partial = commit(2, nParts / 2).length
    val before = partFiles(table, 2)
    val resumed = t.span("Snapshots.resume")(Snapshots.writeSnapshot(spark, tiles(spark, 2), table,
      2L, nParts, keyCol = "x"))
    // a skipped part keeps the files the partial run wrote
    skipped = partFiles(table, 2).count { case (part, files) => before.get(part).contains(files) }
    commit(3)
    val reads = snaps.map { s =>
      t.span("Snapshots.readData")(
        Workload.countAndHash(Snapshots.readData(spark, table, Some(s.toLong)).drop("part_id")))
    }
    val expired = t.span("Snapshots.expireSnapshots")(Snapshots.expireSnapshots(spark, table, 2))
    (reads, partial, resumed.length, expired)
  }

  def check(spark: SparkSession, out: Out): Option[String] = {
    val (reads, partial, resumed, expired) = out
    if (reads != expected) Some(s"asOf reads $reads != written $expected")
    else if (partial != nParts / 2) Some(s"partial commit wrote $partial parts")
    else if (resumed != nParts) Some(s"resume returned $resumed parts")
    else if (skipped != partial) Some(s"resume skipped $skipped of $partial committed parts")
    else if (expired != Seq(1L)) Some(s"expired $expired")
    else None
  }

  override def reset(): Unit = FsUtil.rmTree(path("table"))

  /** File names under each part directory snapshot `sid` wrote. */
  private def partFiles(table: String, sid: Int): Map[String, Set[String]] = {
    val dir = new java.io.File(s"$table/data/snap_id=$sid")
    Option(dir.listFiles).toSeq.flatten.filter(_.isDirectory)
      .map(d => d.getName -> Option(d.list).toSeq.flatten.toSet).toMap
  }

  override def layers(spark: SparkSession, t: Tracer, root: Int): Map[String, Double] = {
    val commits = spanIds(t, root, "Snapshots.writeSnapshot")
    val full = commits.filterNot(_ == commits(1)) // the second is the partial run
    val data = Paths.get(path("table"), "data")
    val files = Files.walk(data).iterator().asScala.filter(p =>
      Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
    Map(
      "Snapshots.commit_s" -> full.map(id => t.spans(id)).map(s => (s.endNs - s.startNs) / 1e9).sum / full.length,
      "Snapshots.jobs_per_commit" -> full.map(id => t.workUnder(id).jobs).sum.toDouble / full.length,
      // after expiry only snapshots 2 and 3 keep data files
      "Snapshots.bytes_per_row" -> files.map(Files.size).sum.toDouble / math.max(1L, rows(1) + rows(2)),
      "Snapshots.files" -> files.length.toDouble,
      "Snapshots.resume_s" -> spanS(t, root, "Snapshots.resume"),
      "Snapshots.parts_skipped" -> skipped.toDouble,
      "Snapshots.read_asof_s" -> spanS(t, root, "Snapshots.readData") / snaps.length,
      "Snapshots.expire_s" -> spanS(t, root, "Snapshots.expireSnapshots"))
  }
}

/** Near-duplicate detection over a corpus with a vocabulary well above 64
  * words: word-set Jaccard, 16-gram Jaccard, minhash pairs and their groups.
  * Row kind: documents. */
final class NearDup(seed: Long, scale: Double, dir: String) extends Workload(seed, scale, dir) {
  type Out = (Array[Row], Array[Row], Array[Row], Array[Row])
  val nDocs: Int = sized(600, 200)
  val threshold = 0.8
  val n = 16
  // brute-force block: the first docs of the corpus (planted copies point
  // back at earlier docs, so the block holds duplicate pairs)
  val block: Int = math.min(nDocs, 600)
  private var expectedWord: Set[(Long, Long)] = Set.empty
  private var expectedGram: Set[(Long, Long)] = Set.empty
  private var lastPairs = 0L
  def rowKind = "documents"
  def inputRows: Long = nDocs.toLong

  def generate(spark: SparkSession): Unit =
    writeParquet(spark.createDataFrame(Gen.docs(seed, nDocs)).toDF("doc_id", "text"), "docs")

  private def jaccardPairs[T](sets: IndexedSeq[(Long, Set[T])]): Set[(Long, Long)] =
    (for {
      i <- sets.indices.iterator
      j <- (i + 1 until sets.length).iterator
      (a, sa) = sets(i)
      (b, sb) = sets(j)
      inter = sa.count(sb.contains)
      if inter.toDouble / (sa.size + sb.size - inter) >= threshold
    } yield (math.min(a, b), math.max(a, b))).toSet

  def reference(spark: SparkSession): Unit = {
    val docs = Gen.docs(seed, nDocs).take(block)
    expectedWord = jaccardPairs(docs.map { case (id, t) => id -> t.split(" ").toSet }
      .filter(_._2.nonEmpty))
    expectedGram = jaccardPairs(docs.map { case (id, t) =>
      val cp = t.codePoints().toArray
      id -> (if (cp.length <= n) Set(t)
             else (0 to cp.length - n).map(i => new String(cp, i, n)).toSet)
    })
  }

  def run(spark: SparkSession, t: Tracer): Out = {
    val docs = spark.read.parquet(path("docs"))
    val word = t.span("Dedup.jaccardPairs")(
      Dedup.jaccardPairs(docs, "doc_id", "text", threshold).collect())
    val gram = t.span("Dedup.ngramJaccardPairs")(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = n, threshold = threshold).collect())
    lastPairs = word.length + gram.length
    val mh = t.span("Dedup.minhashPairs")(Dedup.minhashPairs(docs, "doc_id", "text").collect())
    val groups = t.span("Dedup.dedupGroups") {
      val pairs = spark.createDataFrame(
        spark.sparkContext.parallelize(mh.toIndexedSeq), NearDup.pairSchema)
      Dedup.dedupGroups(docs.select("doc_id"), pairs, "doc_id").collect()
    }
    (word, gram, mh, groups)
  }

  private def blockPairs(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1))).filter(p => p._1 < block && p._2 < block).toSet

  def check(spark: SparkSession, out: Out): Option[String] = {
    val (word, gram, mh, groups) = out
    // component minimum of every doc over the minhash pairs (union-find)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    mh.foreach { r =>
      val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val reps = groups.map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (blockPairs(word) != expectedWord)
      Some(s"word Jaccard block: ${blockPairs(word).size} pairs, brute force ${expectedWord.size}")
    else if (blockPairs(gram) != expectedGram)
      Some(s"16-gram Jaccard block: ${blockPairs(gram).size} pairs, brute force ${expectedGram.size}")
    else if (mh.exists(r => r.getLong(0) >= r.getLong(1) || r.getDouble(2) < 0.7))
      Some("minhash pair out of order or below its threshold")
    else if (reps.size != nDocs) Some(s"groups cover ${reps.size} of $nDocs docs")
    else if (reps.exists { case (id, rep) => rep != find(id) }) Some("group rep is not the component minimum")
    else None
  }

  override def layers(spark: SparkSession, t: Tracer, root: Int): Map[String, Double] = {
    val exact = spanIds(t, root, "Dedup.jaccardPairs") ++ spanIds(t, root, "Dedup.ngramJaccardPairs")
    // candidates: rows entering the exact verify (the largest join output of
    // each exact route); pairs: the pairs both routes returned
    val cands = exact.map(id => t.nodesUnder(id).filter(_.nodeName.contains("Join"))
      .map(Tracer.rows).foldLeft(0L)(math.max)).sum
    val pairs = lastPairs
    Map(
      "Dedup.jaccard_s" -> spanS(t, root, "Dedup.jaccardPairs"),
      "Dedup.ngram_s" -> spanS(t, root, "Dedup.ngramJaccardPairs"),
      "Dedup.minhash_s" -> spanS(t, root, "Dedup.minhashPairs"),
      "Dedup.groups_s" -> spanS(t, root, "Dedup.dedupGroups"),
      "Dedup.candidates" -> cands.toDouble,
      "Dedup.pairs" -> pairs.toDouble,
      "Dedup.verify_yield" -> pairs.toDouble / math.max(1L, cands),
      "Dedup.groups_jobs" -> spanIds(t, root, "Dedup.dedupGroups").map(t.workUnder(_).jobs).sum.toDouble)
  }
}

object NearDup {
  val pairSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL("id_a BIGINT, id_b BIGINT, est_jaccard DOUBLE")
}
