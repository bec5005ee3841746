package graft.functions

import graft.functions.{exprs => E}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.{call_function, lit}

/** Session registration + Column facade for the st_* expression family.
  *
  * Register once per session (`GraftFunctions.register(spark)`, or via
  * `spark.sql.extensions=graft.functions.GraftExtensions`); afterwards every
  * function is callable from SQL text and from the typed facade below, which
  * resolves through the registry (public API only — no private[sql] access).
  */
object GraftFunctions {

  private def arity(n: Int, f: Seq[Expression] => Expression)
      : Seq[Expression] => Expression = { args =>
    require(args.length == n, s"expected $n arguments, got ${args.length}")
    f(args)
  }

  val registry: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "st_geomfromtext" -> arity(1, a => E.StGeomFromText(a(0))),
    "st_try_geomfromtext" -> arity(1, a => E.StTryGeomFromText(a(0))),
    "st_astext" -> arity(2, a => E.StAsText(a(0), a(1))),
    "st_astext_compact" -> arity(1, a => E.StAsTextCompact(a(0))),
    "st_iswkt" -> arity(1, a => E.StIsWkt(a(0))),
    "st_isempty" -> arity(1, a => E.StIsEmpty(a(0))),
    "st_centroid" -> arity(1, a => E.StCentroid(a(0))),
    "st_aswkb" -> arity(1, a => E.StAsWkb(a(0))),
    "st_geomfromwkb" -> arity(1, a => E.StGeomFromWkb(a(0))),
    "st_wkb_wkt" -> arity(1, a => E.StWkbToWkt(a(0))),
    "st_asgeojson" -> arity(4, a => E.StAsGeoJson(a)),
    "st_geomfromgeojson" -> arity(1, a => E.StGeomFromGeoJson(a(0))),
    "st_properties" -> arity(3, a => E.StProperties(a(0), a(1), a(2))),
    "st_as_featurecollection" -> arity(1, a => E.StAsFeatureCollection(a(0))),
    "st_wktview" -> arity(2, a => E.StWktView(a(0), a(1))),
    "st_point" -> arity(2, a => E.StPoint(a(0), a(1))),
    "st_point_wkt" -> arity(3, a => E.StPointWkt(a(0), a(1), a(2))),
    "st_multipoint_wkt" -> arity(2, a => E.StConstructWkt(a(0), a(1), 1)),
    "st_linestring_wkt" -> arity(2, a => E.StConstructWkt(a(0), a(1), 2)),
    "st_polygon_wkt" -> arity(2, a => E.StConstructWkt(a(0), a(1), 3)),
    "st_multilinestring_wkt" -> arity(2, a => E.StConstructWkt(a(0), a(1), 4)),
    "st_multipolygon_wkt" -> arity(2, a => E.StConstructWkt(a(0), a(1), 5)),
    "st_circularstring_wkt" -> arity(2, a => E.StConstructWkt(a(0), a(1), 6)),
    "st_collect_wkt" -> arity(1, a => E.StCollectWkt(a(0))),
    "st_cellid" -> arity(3, a => E.StCellId(a(0), a(1), a(2))),
    "st_cell_ancestors" -> arity(3, a => E.StCellAncestors(a(0), a(1), a(2))),
    "st_cover" -> arity(2, a => E.StCover(a(0), a(1))),
    "st_contains" -> arity(3, a => E.StContains(a(0), a(1), a(2))),
    "st_contains_rings" -> arity(3, a => E.StContainsRings(a(0), a(1), a(2))),
    "st_rings" -> arity(1, a => E.StRings(a(0))),
    "st_ring_cells" -> arity(4, a => E.StRingCells(a)),
    "st_tile_x" -> arity(2, a => E.StTileX(a(0), a(1))),
    "st_tile_y" -> arity(2, a => E.StTileY(a(0), a(1))),
    "vec_dot" -> arity(2, a => vecexprs.VecDot(a(0), a(1))),
    "vec_norm2" -> arity(1, a => vecexprs.VecNorm2(a(0))),
    "vec_lsh_bucket" -> arity(2, a => vecexprs.VecLshBucket(a(0), a(1))),
    "sig_agree" -> arity(2, a => vecexprs.SigAgree(a(0), a(1))),
    "minhash" -> arity(3, a => textexprs.MinHash(a(0), a(1), a(2))),
    "lsh_bands" -> arity(2, a => textexprs.LshBands(a(0), a(1))),
    "simhash" -> arity(1, a => textexprs.SimHash(a(0))),
    "hamming_dist" -> arity(2, a => textexprs.HammingDist(a(0), a(1))),
    "doc_fingerprint" -> arity(2, a => textexprs.Fingerprint(a(0), a(1))),
    "ngram_hash_set" -> arity(2, a => textexprs.NgramHashSet(a(0), a(1))),
    "word_ngram_hash_set" -> arity(2, a => textexprs.WordNgramHashSet(a(0), a(1))),
    "lang_id" -> arity(1, a => textexprs.LangId(a(0))),
    "image_decode" -> arity(1, a => graft.operators.Images.ImageDecode(a(0))),
    "image_decode_dims" -> arity(1, a => graft.operators.Images.ImageDecodeDims(a(0))),
    "image_synth" -> arity(1, a => graft.operators.Images.ImageSynth(a(0))),
    "image_psnr" -> arity(2, a => graft.operators.Images.ImagePsnr(a(0), a(1))),
    "image_phash" -> arity(1, a => graft.operators.Images.ImagePHash(a(0))),
    "image_resize" -> arity(3, a => graft.operators.Media.ImageResize(a(0), a(1), a(2))),
    "video_synth" -> arity(1, a => graft.operators.Media.VideoSynth(a(0))),
    "video_n_frames" -> arity(1, a => graft.operators.Media.VideoNFrames(a(0))),
    "video_frame_sample" -> arity(2, a => graft.operators.Media.VideoFrameSample(a(0), a(1))),
    "audio_synth" -> arity(1, a => graft.operators.Media.AudioSynth(a(0))),
    "audio_stats" -> arity(1, a => graft.operators.Media.AudioStats(a(0))),
    "image_tile_blocks" -> arity(1, a => graft.operators.Images.ImageTileBlocks(a(0)))
  )

  /** Idempotent per session: skips silently when the family is already
    * registered (avoids per-query "function X replaced" warning spam).
    *
    * Note: Spark 4.1 ships an embryonic `expressions.st` package whose
    * ST_GeomFromWKB collides with our `st_geomfromwkb`; we deliberately
    * shadow it because ours returns THIS engine's geometry struct, which the
    * whole st_* family composes over. The builtin binding is dropped from
    * the session clone first so the shadowing is silent (registerFunction
    * over an existing name logs a "replaced" warning per session). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (reg.functionExists(FunctionIdentifier(registry.last._1))) return
    registry.foreach { case (name, builder) =>
      val id = FunctionIdentifier(name)
      reg.dropFunction(id)
      reg.registerFunction(
        id,
        new ExpressionInfo("graft.functions.exprs", name),
        builder)
    }
  }

  // ---------- Column facade ----------

  def st_geomfromtext(wkt: Column): Column = call_function("st_geomfromtext", wkt)
  def st_try_geomfromtext(wkt: Column): Column = call_function("st_try_geomfromtext", wkt)
  def st_astext(geom: Column, fmt: Int): Column = call_function("st_astext", geom, lit(fmt))
  def st_astext_compact(geom: Column): Column = call_function("st_astext_compact", geom)
  def st_iswkt(wkt: Column): Column = call_function("st_iswkt", wkt)
  def st_isempty(geom: Column): Column = call_function("st_isempty", geom)
  def st_centroid(geom: Column): Column = call_function("st_centroid", geom)
  def st_aswkb(geom: Column): Column = call_function("st_aswkb", geom)
  def st_geomfromwkb(wkb: Column): Column = call_function("st_geomfromwkb", wkb)
  def st_wkb_wkt(wkb: Column): Column = call_function("st_wkb_wkt", wkb)
  def st_asgeojson(geom: Column, feature: Boolean = true, numeric: Boolean = true, fmt: Int = 16): Column =
    call_function("st_asgeojson", geom, lit(feature), lit(numeric), lit(fmt))
  def st_geomfromgeojson(json: Column): Column = call_function("st_geomfromgeojson", json)
  def st_properties(feature: Column, style: Column, popup: Column): Column =
    call_function("st_properties", feature, style, popup)
  def st_as_featurecollection(feature: Column): Column =
    call_function("st_as_featurecollection", feature)
  def st_wktview(wkt: Column, zoom: Int = 5): Column =
    call_function("st_wktview", wkt, lit(zoom))
  def st_point(lon: Column, lat: Column): Column = call_function("st_point", lon, lat)
  def st_point_wkt(lon: Column, lat: Column, fmt: Int = 16): Column =
    call_function("st_point_wkt", lon, lat, lit(fmt))
  def st_multipoint_wkt(pts: Column, fmt: Int = 16): Column =
    call_function("st_multipoint_wkt", pts, lit(fmt))
  def st_linestring_wkt(pts: Column, fmt: Int = 16): Column =
    call_function("st_linestring_wkt", pts, lit(fmt))
  def st_polygon_wkt(rings: Column, fmt: Int = 16): Column =
    call_function("st_polygon_wkt", rings, lit(fmt))
  def st_multilinestring_wkt(lines: Column, fmt: Int = 16): Column =
    call_function("st_multilinestring_wkt", lines, lit(fmt))
  def st_multipolygon_wkt(polys: Column, fmt: Int = 16): Column =
    call_function("st_multipolygon_wkt", polys, lit(fmt))
  def st_circularstring_wkt(pts: Column, fmt: Int = 16): Column =
    call_function("st_circularstring_wkt", pts, lit(fmt))
  def st_collect_wkt(wkts: Column): Column = call_function("st_collect_wkt", wkts)
  def st_cellid(lon: Column, lat: Column, level: Int): Column =
    call_function("st_cellid", lon, lat, lit(level))
  def st_cell_ancestors(lon: Column, lat: Column, maxLevel: Int): Column =
    call_function("st_cell_ancestors", lon, lat, lit(maxLevel))
  def st_cover(geom: Column, maxLevel: Int): Column =
    call_function("st_cover", geom, lit(maxLevel))
  def st_contains(geom: Column, x: Column, y: Column): Column =
    call_function("st_contains", geom, x, y)
  def st_contains_rings(rings: Column, x: Column, y: Column): Column =
    call_function("st_contains_rings", rings, x, y)
  def st_rings(geom: Column): Column = call_function("st_rings", geom)
  def st_ring_cells(lon: Column, lat: Column, level: Int, r: Column): Column =
    call_function("st_ring_cells", lon, lat, lit(level), r)
  def st_tile_x(lon: Column, z: Int): Column = call_function("st_tile_x", lon, lit(z))
  def st_tile_y(lat: Column, z: Int): Column = call_function("st_tile_y", lat, lit(z))
  def vec_dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)
  def vec_norm2(v: Column): Column = call_function("vec_norm2", v)
  def vec_lsh_bucket(v: Column, nBits: Int): Column =
    call_function("vec_lsh_bucket", v, lit(nBits))
  def sig_agree(a: Column, b: Column): Column = call_function("sig_agree", a, b)
  def minhash(text: Column, n: Int, shingleWidth: Int = 3): Column =
    call_function("minhash", text, lit(n), lit(shingleWidth))
  def lsh_bands(sig: Column, bands: Int): Column = call_function("lsh_bands", sig, lit(bands))
  def simhash(text: Column): Column = call_function("simhash", text)
  def hamming_dist(a: Column, b: Column): Column = call_function("hamming_dist", a, b)
  def doc_fingerprint(text: Column, k: Int): Column =
    call_function("doc_fingerprint", text, lit(k))
  def ngram_hash_set(text: Column, n: Int): Column =
    call_function("ngram_hash_set", text, lit(n))
  def word_ngram_hash_set(text: Column, n: Int): Column =
    call_function("word_ngram_hash_set", text, lit(n))
  def lang_id(text: Column): Column = call_function("lang_id", text)
  def image_decode(bytes: Column): Column = call_function("image_decode", bytes)
  def image_decode_dims(bytes: Column): Column = call_function("image_decode_dims", bytes)
  def image_synth(args: Column): Column = call_function("image_synth", args)
  def image_psnr(a: Column, b: Column): Column = call_function("image_psnr", a, b)
  def image_phash(bytes: Column): Column = call_function("image_phash", bytes)
  def image_resize(bytes: Column, tw: Column, th: Column): Column =
    call_function("image_resize", bytes, tw, th)
  def video_synth(args: Column): Column = call_function("video_synth", args)
  def video_n_frames(bytes: Column): Column = call_function("video_n_frames", bytes)
  def video_frame_sample(bytes: Column, every: Int): Column =
    call_function("video_frame_sample", bytes, lit(every))
  def audio_synth(args: Column): Column = call_function("audio_synth", args)
  def audio_stats(bytes: Column): Column = call_function("audio_stats", bytes)
  def image_tile_blocks(args: Column): Column = call_function("image_tile_blocks", args)
}

/** `spark.sql.extensions` entry point: injects every st_* function at
  * session build time. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.registry.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.exprs", name),
        builder))
    }
  }
}
