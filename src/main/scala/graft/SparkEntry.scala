package graft

import graft.functions.GraftFunctions
import graft.functions.GraftFunctions._
import graft.operators.{Ann, Dedup, Knn, SpatialJoin}
import graft.sources.{Snapshots, SynthData}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract (see SURVEY.md §7): one `queries` entry per implemented
  * operator, with DuckDB-equivalent `oracleSql` wherever the semantics are
  * SQL-expressible. All numeric outputs are exact-integer-valued (sums of
  * integer-quantized values, counts, ranks) or derive from identical SQL
  * expression text on both sides, so the driver's hash-compare is
  * deterministic — no FP-summation-order hazards.
  */
object SparkEntry {

  private def reg(spark: SparkSession): Unit = GraftFunctions.register(spark)

  // ParUtil.widen: the sf tables are single small parquet files, so
  // without it every per-row-heavy stage (codecs, hashes, WKT formatting)
  // above a scan runs as ONE task regardless of core count
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    ParUtil.widen(spark.read.parquet(s"$dir/$name.parquet"))

  /** Flagship: [[Pipeline.run]] on sf0.001 in a fresh temp dir — WKT
    * parsed once, header-only decode, cell-equijoined and ray-cast refined,
    * pixel blocks tiled, snapshot committed. Returns the committed
    * `tile_stats`. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val work = java.nio.file.Files.createTempDirectory("graft-entry").toString
    Pipeline.prepare(spark, dir, work)
    Pipeline.run(spark, work)
    Snapshots.readData(spark, s"$work/tile_stats")
  }

  // ---------- shared synthetic layers (Spark side) ----------

  private def pts(spark: SparkSession, dir: String): DataFrame =
    SynthData.points(spark, dir)
  private def polys(spark: SparkSession, dir: String): DataFrame =
    SynthData.polygons(spark, dir)

  // DuckDB oracle CTE prefix shared by the spatial queries
  private val P = s"WITH pts AS (${SynthData.ptsCte}), polys AS (${SynthData.polysCte}), " +
    s"queries AS (${SynthData.queriesCte}) "

  /** Relational-core scan WITHOUT [[ParUtil.widen]] (guide §2.4 "remove
    * shuffles outright"): q01-q04 do no per-row-heavy kernel work above the
    * scan — their first exchange is the aggregation/window hash partitioning
    * itself, so the widen round-robin exchange was a pure extra shuffle of
    * every payload byte (plan evidence: plans/r06/q01..q04_before vs _after,
    * 3 Exchange -> 2). At 100 TB the table arrives well-partitioned and
    * widen is a no-op, so this changes nothing at scale; the per-row-heavy
    * queries (text/codec/WKT kernels) keep widening via [[t]]. */
  private def tRaw(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** PID-scoped scratch dir under /tmp for the self-contained snapshot
    * queries (r5 advice: concurrent Bench + Verify must not rmTree each
    * other's table). Stale siblings left by DEAD processes are swept here
    * so the per-process dirs cannot accumulate across invocations; a live
    * process's dir — or any name whose pid cannot be confirmed dead — is
    * never touched. */
  private def pidScopedWork(prefix: String): String = {
    val slash = prefix.lastIndexOf('/')
    val parent = new java.io.File(prefix.substring(0, slash))
    val base = prefix.substring(slash + 1) + "-p"
    val kids = parent.listFiles()
    if (kids != null) kids.filter(_.getName.startsWith(base)).foreach { f =>
      val dead = scala.util.Try {
        val pid = f.getName.substring(base.length).toLong
        !ProcessHandle.of(pid).map[java.lang.Boolean](_.isAlive).orElse(false)
      }.getOrElse(false)
      if (dead) FsUtil.rmTree(f)
    }
    prefix + "-p" + ProcessHandle.current().pid()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core ----
    "q01_pricing_agg" -> ((s, dir) => {
      reg(s)
      tRaw(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_base_cents"),
          sum(round(col("l_discount") * 10000).cast("long")).as("sum_disc_bp"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q02_top_customers" -> ((s, dir) => {
      reg(s)
      val o = tRaw(s, dir, "orders")
      val c = tRaw(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_custkey", "c_mktsegment")
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("revenue_cents"),
          count(lit(1)).as("n_orders"))
        .orderBy(desc("revenue_cents"), col("c_custkey"))
        .limit(10)
    }),
    "q03_events_window" -> ((s, dir) => {
      reg(s)
      tRaw(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(floor(col("value") * 100).cast("long")).as("sum_value_cents"))
        .select(col("w.start").as("window_start"), col("event_type"), col("cnt"),
          col("sum_value_cents"))
        .orderBy("window_start", "event_type")
    }),
    "q04_top_events_per_user" -> ((s, dir) => {
      reg(s)
      val w = Window.partitionBy("user_id").orderBy(desc("value"), col("event_id"))
      tRaw(s, dir, "events")
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select(col("user_id"), col("event_id"), col("rnk").cast("long").as("rnk"))
        .orderBy("user_id", "rnk")
    }),

    // ---- geometry codec family ----
    "q10_point_wkt" -> ((s, dir) => {
      reg(s)
      pts(s, dir)
        .withColumn("wkt", st_point_wkt(col("lon"), col("lat"), 16))
        .withColumn("g", st_geomfromtext(col("wkt")))
        .withColumn("c", st_centroid(col("g")))
        .select(col("point_id"), col("wkt"), col("c.lon").as("lon2"), col("c.lat").as("lat2"))
        .orderBy("point_id")
    }),
    "q11_poly_centroid" -> ((s, dir) => {
      reg(s)
      polys(s, dir)
        .withColumn("c", st_centroid(st_geomfromtext(col("wkt"))))
        .select(col("poly_id"), col("c.lon").as("clon"), col("c.lat").as("clat"))
        .orderBy("poly_id")
    }),
    "q12_lint" -> ((s, dir) => {
      reg(s)
      polys(s, dir)
        .withColumn("wkt2", when(col("poly_id") % 3 === 0,
          regexp_replace(col("wkt"), "POLYGON", "polygon")).otherwise(col("wkt")))
        .select(col("poly_id"), st_iswkt(col("wkt2")).as("is_wkt"))
        .orderBy("poly_id")
    }),
    "q13_wkb_roundtrip" -> ((s, dir) => {
      reg(s)
      polys(s, dir)
        .withColumn("wkb", st_aswkb(st_geomfromtext(col("wkt"))))
        .select(col("poly_id"), st_wkb_wkt(col("wkb")).as("wkt_compact"))
        .orderBy("poly_id")
    }),
    "q14_geojson_roundtrip" -> ((s, dir) => {
      reg(s)
      polys(s, dir)
        .withColumn("g", st_geomfromtext(col("wkt")))
        .withColumn("gj", st_asgeojson(col("g")))
        .withColumn("g2", st_geomfromgeojson(col("gj")))
        .select(col("poly_id"), st_astext(col("g2"), 0).as("wkt0"))
        .orderBy("poly_id")
    }),
    "q19_group_multipoint" -> ((s, dir) => {
      reg(s)
      // widen = false: the WKT formatting runs AFTER the 7-group agg on 7
      // rows; pre-agg work is a modulo filter (guide §2.4)
      val sub = SynthData.points(s, dir, widen = false)
        .where(col("point_id") % 53 === 0)
        .withColumn("gid", col("point_id") % 7)
      sub.groupBy("gid")
        .agg(sort_array(collect_list(struct(col("point_id"), col("lon"), col("lat")))).as("ps"))
        .select(col("gid"),
          st_multipoint_wkt(expr("transform(ps, p -> array(p.lon, p.lat))"), 16).as("mp_wkt"))
        .orderBy("gid")
    }),

    // ---- constructor / codec coverage (reference test-*.R goldens) ----
    "q29_linestring" -> ((s, dir) => {
      reg(s)
      val corners = expr("array(array(x0, y0), array(x0 + w, y0), " +
        "array(x0 + w, y0 + h), array(x0, y0 + h))")
      polys(s, dir)
        .withColumn("ls_wkt", st_linestring_wkt(corners, 0))
        .select(col("poly_id"), col("ls_wkt"),
          st_astext(st_geomfromtext(col("ls_wkt")), 0).as("ls_rt"))
        .orderBy("poly_id")
    }),
    "q30_multilinestring" -> ((s, dir) => {
      reg(s)
      val lines = expr("array(" +
        "array(array(x0, y0), array(x0 + w, y0 + h)), " +
        "array(array(x0 + 1, y0 + 1), array(x0 + w + 1, y0 + h + 1)))")
      polys(s, dir)
        .withColumn("mls_wkt", st_multilinestring_wkt(lines, 0))
        .select(col("poly_id"), col("mls_wkt"),
          st_astext(st_geomfromtext(col("mls_wkt")), 0).as("mls_rt"))
        .orderBy("poly_id")
    }),
    "q31_multipolygon" -> ((s, dir) => {
      reg(s)
      def ring(dx: String): String =
        s"array(array(x0 + $dx, y0), array(x0 + w + $dx, y0), " +
          s"array(x0 + w + $dx, y0 + h), array(x0 + $dx, y0 + h), array(x0 + $dx, y0))"
      val mp = expr(s"array(array(${ring("0")}), array(${ring("100")}))")
      polys(s, dir)
        .withColumn("mp_wkt", st_multipolygon_wkt(mp, 0))
        .select(col("poly_id"), col("mp_wkt"),
          st_astext(st_geomfromtext(col("mp_wkt")), 0).as("mp_rt"))
        .orderBy("poly_id")
    }),
    "q32_circularstring" -> ((s, dir) => {
      reg(s)
      val pts3 = expr("array(array(x0, y0), array(x0 + w, y0), array(x0 + w, y0 + h))")
      polys(s, dir)
        .select(col("poly_id"), st_circularstring_wkt(pts3, 0).as("cs_wkt"))
        .orderBy("poly_id")
    }),
    "q33_collect" -> ((s, dir) => {
      reg(s)
      polys(s, dir)
        .withColumn("gc_wkt", st_collect_wkt(
          array(st_point_wkt(col("x0"), col("y0"), 0), col("wkt"))))
        .select(col("poly_id"), col("gc_wkt"),
          st_astext(st_geomfromtext(col("gc_wkt")), 0).as("gc_rt"))
        .orderBy("poly_id")
    }),
    "q34_isempty" -> ((s, dir) => {
      reg(s)
      polys(s, dir)
        .withColumn("wkt2",
          when(col("poly_id") % 4 === 0, lit("POINT EMPTY"))
            .when(col("poly_id") % 4 === 2, lit("MULTIPOLYGON EMPTY"))
            .when(col("poly_id") % 4 === 3, lit("linestring empty"))
            .otherwise(col("wkt")))
        .select(col("poly_id"),
          st_isempty(st_geomfromtext(col("wkt2"))).as("is_empty"))
        .orderBy("poly_id")
    }),
    "q35_properties" -> ((s, dir) => {
      reg(s)
      polys(s, dir)
        .withColumn("feat", st_asgeojson(
          st_geomfromtext(st_point_wkt(col("x0"), col("y0"), 0))))
        .select(col("poly_id"), st_properties(col("feat"),
          lit("""{"color":"red"}"""),
          concat(lit("""{"text":"p"""), col("poly_id"), lit("\"}"))).as("feat_props"))
        .orderBy("poly_id")
    }),
    "q36_featurecollection" -> ((s, dir) => {
      reg(s)
      polys(s, dir)
        .withColumn("feat", st_asgeojson(
          st_geomfromtext(st_point_wkt(col("x0"), col("y0"), 0))))
        .select(col("poly_id"), st_as_featurecollection(col("feat")).as("fc"))
        .orderBy("poly_id")
    }),
    "q37_pipeline_tiles" -> ((s, dir) => {
      // the flagship pipeline's tile aggregation, oracle-checked: parse-once
      // footprints -> cover equijoin -> raycast -> zoom-6 tile counts
      reg(s)
      val ipts = SynthData.images(s, dir)
        .withColumn("g", st_geomfromtext(st_point_wkt(col("lon"), col("lat"), 16)))
        .withColumn("c", st_centroid(col("g")))
        .select(col("image_id"), col("c.lon").as("lon"), col("c.lat").as("lat"))
      val p = polys(s, dir).withColumn("geom", st_geomfromtext(col("wkt")))
        .select("poly_id", "geom")
      SpatialJoin.pointsInPolygons(ipts, p, level = 10, broadcastCover = Some(true))
        .withColumn("x", st_tile_x(col("lon"), 6))
        .withColumn("y", st_tile_y(col("lat"), 6))
        .groupBy("poly_id", "x", "y").agg(count(lit(1)).as("images"))
        .orderBy("poly_id", "x", "y")
    }),

    "q39_us_cities" -> ((s, dir) => {
      // the reference's us_cities demo flow (tests/testthat/test-point.R:27,
      // test-multipoint.R:17): vectorized point constructor over a city
      // table + grouped multipoint per state
      reg(s)
      val cities = SynthData.usCities(s, dir)
        .withColumn("pt_wkt", st_point_wkt(col("lon"), col("lat"), 16))
      cities.groupBy("country_etc")
        .agg(count(lit(1)).as("n_cities"), sum(col("pop")).as("pop"),
          sort_array(collect_list(struct(col("name"), col("lon"), col("lat")))).as("cs"))
        .select(col("country_etc"), col("n_cities"), col("pop"),
          st_multipoint_wkt(expr("transform(cs, c -> array(c.lon, c.lat))"), 16).as("mp_wkt"))
        .orderBy("country_etc")
    }),
    "q40_dirty_parse" -> ((s, dir) => {
      // web-scale dirty input through the tolerance contract (SURVEY 2.4):
      // lowercase keyword, missing closing paren, and runs of spaces all
      // parse; an unknown type yields NULL via st_try_geomfromtext
      reg(s)
      polys(s, dir)
        .withColumn("dirty",
          when(col("poly_id") % 5 === 0, lower(col("wkt")))
            .when(col("poly_id") % 5 === 1, expr("substring(wkt, 1, length(wkt) - 1)"))
            .when(col("poly_id") % 5 === 2, lit("SQUARE (1 2, 3 4)"))
            .when(col("poly_id") % 5 === 3, regexp_replace(col("wkt"), ", ", ",   "))
            .otherwise(col("wkt")))
        .select(col("poly_id"),
          coalesce(st_astext(st_try_geomfromtext(col("dirty")), 0), lit("<invalid>"))
            .as("parsed"))
        .orderBy("poly_id")
    }),
    "q38_image_invariants" -> ((s, dir) => {
      // north_star's per-row invariants, end-to-end through the REAL codecs:
      // synth -> encode -> decode, PSNR vs the losslessly-encoded reference
      // (>= 40 dB for jpeg, exactly 999 = identical for png/bmp), decoded
      // dims == table dims, caption equality. The oracle recomputes the
      // expected booleans + caption from the table alone.
      reg(s)
      SynthData.images(s, dir).where(col("point_id") % 20 === 0)
        .withColumn("bytes", image_synth(struct(col("image_id"), col("w"), col("h"), col("fmt"))))
        .withColumn("ref_png", image_synth(struct(col("image_id"), col("w"), col("h"), lit("png"))))
        .withColumn("px", image_decode(col("bytes")))
        .withColumn("psnr", image_psnr(col("bytes"), col("ref_png")))
        .select(col("image_id"), col("fmt"), col("caption"),
          (col("px.w") === col("w") && col("px.h") === col("h")).as("dims_ok"),
          (col("psnr") >= 40.0).as("psnr_ok"),
          (col("fmt") === "jpg" || col("psnr") === 999.0).as("lossless_exact"))
        .orderBy("image_id")
    }),

    // ---- spatial join / kNN / tiles ----
    "q15_spatial_join" -> ((s, dir) => {
      reg(s)
      val p = polys(s, dir).withColumn("geom", st_geomfromtext(col("wkt")))
        .select("poly_id", "geom")
      SpatialJoin.pointsInPolygons(pts(s, dir), p, level = 10, broadcastCover = Some(true))
        .select("point_id", "poly_id")
        .orderBy("point_id", "poly_id")
    }),
    "q16_spatial_join_salted" -> ((s, dir) => {
      reg(s)
      val p = polys(s, dir).withColumn("geom", st_geomfromtext(col("wkt")))
        .select("poly_id", "geom")
      SpatialJoin.pointsInPolygonsSalted(pts(s, dir), p, level = 10, salt = 8,
        sampleFraction = 0.05, hotThreshold = 2000L, broadcastCover = Some(true))
        .select("point_id", "poly_id")
        .orderBy("point_id", "poly_id")
    }),
    "q17_knn" -> ((s, dir) => {
      reg(s)
      Knn.knn(SynthData.knnQueries(s, dir), pts(s, dir), k = 5, level = 7)
        .select(col("query_id"), col("point_id"), col("rnk").cast("long").as("rnk"))
        .orderBy("query_id", "rnk")
    }),
    "q18_tiles" -> ((s, dir) => {
      reg(s)
      // widen = false: st_tile_x/y are trivial per-row; the groupBy's own
      // hash exchange is the first real stage boundary (guide §2.4)
      SpatialJoin.tileCounts(SynthData.points(s, dir, widen = false), 6)
        .orderBy("x", "y")
    }),

    // ---- training-data ops: dedup / similarity / text ----
    "q20_dedup_exact" -> ((s, dir) => {
      reg(s)
      // tRaw: the md5 runs on ~500 post-agg rows and the pre-agg work is a
      // substring — exactKeep's own hash exchange is the first stage
      // boundary, so the widen shuffle was pure overhead (guide §2.4)
      Dedup.exactKeep(
        tRaw(s, dir, "documents").withColumn("key", substring(col("text"), 1, 16)),
        "doc_id", "key")
        .select(md5(col("key")).as("key_md5"), col("keep_id"), col("dupes"))
        .orderBy("key_md5")
    }),
    "q21_text_stats" -> ((s, dir) => {
      reg(s)
      t(s, dir, "documents")
        .withColumn("n_nospace", length(regexp_replace(col("text"), " ", "")).cast("long"))
        .withColumn("n_tokens", (length(col("text")) - col("n_nospace") + 1).cast("long"))
        .select(col("doc_id"), col("n_tokens"), col("n_nospace"),
          floor(col("n_nospace") * 1000.0 / col("n_tokens")).cast("long").as("awl_milli"))
        .orderBy("doc_id")
    }),
    "q22_ann_topk" -> ((s, dir) => {
      reg(s)
      val e = t(s, dir, "embeddings")
      Ann.bruteTopK(e, e.where(col("vec_id") % 100 === 0), k = 10)
        .select(col("query_id"), col("vec_id"), col("rnk").cast("long").as("rnk"),
          col("dist2").cast("long").as("dist2"))
        .orderBy("query_id", "rnk")
    }),
    "q23_minhash_pairs" -> ((s, dir) => {
      reg(s)
      // bands = numHashes (one row per band): est >= 0.5 means >= 32 of 64
      // minima agree, so at least one band collides — recall is provably
      // 1.0 and the DuckDB oracle can recompute the full signature compare
      Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
          numHashes = 64, bands = 64, shingleW = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("est_jaccard") * 64).cast("long").as("agree64"))
        .orderBy("id_a", "id_b")
    }),
    "q24_simhash_pairs" -> ((s, dir) => {
      reg(s)
      // maxHamming = 3 with 4 sub-bands: pigeonhole-exact candidates
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("id_a", "id_b")
    }),
    "q25_langid" -> ((s, dir) => {
      reg(s)
      t(s, dir, "documents")
        .select(col("doc_id"), lang_id(col("text")).as("pred_lang"), col("lang"))
        .orderBy("doc_id")
    }),
    "q26_fingerprint" -> ((s, dir) => {
      reg(s)
      // rolling_fp is EMITTED and hash-compared: the fingerprint is the
      // portable md5-min over 16-char windows, recomputed verbatim in SQL
      t(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("md5_fp"),
          doc_fingerprint(col("text"), 16).as("rolling_fp"))
        .orderBy("doc_id")
    }),
    "q27_jaccard_pairs" -> ((s, dir) => {
      reg(s)
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", threshold = 0.9)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),
    "q28_embed_dups" -> ((s, dir) => {
      reg(s)
      Ann.cosineDupPairs(t(s, dir, "embeddings"), threshold = 0.4)
        .orderBy("id_a", "id_b")
    }),
    "q41_ann_ivf" -> ((s, dir) => {
      // the SCALE-PATH ANN query: exact IVF with triangle-inequality cell
      // pruning (bucketed equijoin plan, corpus never broadcast), checked
      // against the same brute-force oracle shape as q22 — recall is
      // provably 1.0, so the hash compare must match bit-for-bit
      reg(s)
      val e = t(s, dir, "embeddings")
      Ann.ivfTopK(e, e.where(col("vec_id") % 50 === 0), k = 10, nProbe = 3)
        .select(col("query_id"), col("vec_id"), col("rnk").cast("long").as("rnk"),
          col("dist2").cast("long").as("dist2"))
        .orderBy("query_id", "rnk")
    }),
    "q53_ann_cosine" -> ((s, dir) => {
      // the brute-force COSINE top-k baseline (the euclidean baseline is
      // q22; on unnormalized vectors the orderings differ). cos is the
      // exact-integer dot over the exact-integer norms in one fixed
      // expression shape, so the doubles — and hence rank and hash — are
      // engine-independent
      reg(s)
      val e = t(s, dir, "embeddings")
      Ann.bruteTopKCosine(e, e.where(col("vec_id") % 60 === 0), k = 10)
        .select(col("query_id"), col("vec_id"), col("rnk").cast("long").as("rnk"),
          col("cos"))
        .orderBy("query_id", "rnk")
    }),
    "q51_dedup_groups" -> ((s, dir) => {
      // the last stage of a dedup pipeline: near-dup PAIRS (q23's portable
      // minhash machinery) collapsed into connected components, every doc
      // labeled with its component's min id. Pointer-jumping propagation
      // (O(log diameter) rounds) vs the oracle's recursive-CTE closure.
      reg(s)
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        numHashes = 64, bands = 64, shingleW = 3, threshold = 0.5)
      Dedup.dedupGroups(docs.select("doc_id"), pairs, "doc_id")
        .orderBy("doc_id")
    }),
    "q52_ngram_jaccard" -> ((s, dir) => {
      // the n-gram flavor of exact Jaccard dedup: character 16-gram sets,
      // word-ORDER-sensitive (a shuffled word salad keeps the word set of
      // q27 but loses most 16-grams); same prefix plan and
      // the identical inter/union double compare as q27's oracle
      reg(s)
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 16, threshold = 0.8)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),
    "q54_decontamination" -> ((s, dir) => {
      // benchmark decontamination: flag every corpus doc sharing an exact
      // word 13-gram with an eval-set doc (the standard train/test-overlap
      // protocol). The eval set here is a deterministic slice of the corpus
      // (doc_id % 97 == 0) so the oracle can rebuild it; grams are the
      // portable md5 hashes the oracle recomputes verbatim.
      reg(s)
      val docs = t(s, dir, "documents")
      val evalSet = docs.where(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("eval_id"), col("text"))
      Dedup.contaminationPairs(docs, "doc_id", "text", evalSet, "eval_id", "text", n = 13)
        .orderBy("doc_id", "eval_id")
    }),
    "q50_ann_lsh" -> ((s, dir) => {
      // the probabilistic ANN variant, oracle-pinned in its PROVABLE-recall
      // regime: nBits = 1 with hamming-1 multi-probe spans the entire code
      // space ({b, b xor 1} = both buckets), so recall is exactly 1.0 by
      // construction and the bucketed machinery — vec_lsh_bucket hashing,
      // probe expansion, candidate dedup, exact re-rank, tie-breaks — must
      // match the brute-force oracle bit-for-bit. Recall at production
      // coarseness (nBits = 6-8) stays the OperatorsSpec property test.
      reg(s)
      val e = t(s, dir, "embeddings")
      Ann.lshTopK(e, e.where(col("vec_id") % 40 === 0), k = 8, nBits = 1)
        .select(col("query_id"), col("vec_id"), col("rnk").cast("long").as("rnk"),
          col("dist2").cast("long").as("dist2"))
        .orderBy("query_id", "rnk")
    }),
    "q42_snapshot_resume" -> ((s, dir) => {
      // checkpointed-lineage pillar, driver-checked end-to-end: snapshot 1
      // is committed in two runs — run 1 stops after 3 of 8 partitions (a
      // deterministic mid-snapshot crash: lineage rows exist, CURRENT does
      // not move), run 2 resumes and completes. The emitted manifest
      // (part_id, row_count, re-counted data rows) must equal what SQL
      // computes from the source table alone — portable `key % 8`
      // partitioning makes that recomputable.
      reg(s)
      // PID-scoped work dir (r5 advice): two processes running this query
      // concurrently (e.g. Bench and Verify on one sfDir) must not rmTree
      // and rewrite the same table under each other
      val work = pidScopedWork("/tmp/graft-q42-" + dir.replaceAll("[^0-9a-zA-Z.]", ""))
      FsUtil.rmTree(work) // clean slate: the query is self-contained
      val df = t(s, dir, "events").select(col("event_id"), col("user_id"), col("event_type"))
      Snapshots.writeSnapshot(s, df, work, snapshotId = 1L, nParts = 8,
        keyCol = "event_id", operation = "init", portableParts = true,
        maxPartsPerRun = 3) // "crash" after 3 partitions
      require(Snapshots.currentSnapshot(work).isEmpty,
        "partial run must NOT flip CURRENT")
      Snapshots.writeSnapshot(s, df, work, snapshotId = 1L, nParts = 8,
        keyCol = "event_id", operation = "init", portableParts = true) // resume
      require(Snapshots.currentSnapshot(work).contains(1L),
        "resumed run must complete the snapshot")
      val meta = Snapshots.readPartitionMeta(s, work)
        .where(col("snapshot_id") === 1L)
        .select(col("part_id").cast("long").as("part_id"), col("row_count"))
      val data = Snapshots.readData(s, work)
        .groupBy(col("part_id").cast("long").as("part_id"))
        .agg(count(lit(1)).as("data_rows"))
      meta.join(data, "part_id")
        .select(lit(1L).as("snapshot_id"), col("part_id"), col("row_count"), col("data_rows"))
        .orderBy("part_id")
    }),
    "q55_time_travel" -> ((s, dir) => {
      // time-travel pillar, driver-checked end-to-end: snapshot 1 commits
      // the events projection; snapshot 2 overwrites with only the rows in
      // parts 0-3 (event_id % 8 < 4), upper-cased — parts 4-7 get 0-row
      // lineage (overwrite-to-empty). readData(asOf=1) must return the
      // ORIGINAL table and the current read the overwritten state, both
      // recomputable by SQL from the source table alone (portable parts).
      reg(s)
      // PID-scoped work dir (r5 advice) — same rationale as q42
      val work = pidScopedWork("/tmp/graft-q55-" + dir.replaceAll("[^0-9a-zA-Z.]", ""))
      FsUtil.rmTree(work) // clean slate: the query is self-contained
      val df = t(s, dir, "events").select(col("event_id"), col("event_type"))
      Snapshots.writeSnapshot(s, df, work, snapshotId = 1L, nParts = 8,
        keyCol = "event_id", operation = "init", portableParts = true)
      val df2 = df.where(pmod(col("event_id"), lit(8)) < 4)
        .withColumn("event_type", upper(col("event_type")))
      Snapshots.writeSnapshot(s, df2, work, snapshotId = 2L, nParts = 8,
        keyCol = "event_id", operation = "overwrite", portableParts = true)
      def state(asOf: Option[Long], tag: Int) =
        Snapshots.readData(s, work, asOf)
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"),
            min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
          .select(lit(tag.toLong).as("snap"), col("event_type"),
            col("cnt"), col("min_id"), col("max_id"))
      state(Some(1L), 1).unionByName(state(None, 2)).orderBy("snap", "event_type")
    }),
    "q43_image_phash_blocks" -> ((s, dir) => {
      // the last two image subops, oracle-pinned via payload invariants:
      // block-mean phash agrees exactly across the lossless codecs (png ==
      // bmp: identical pixels), stays within a small hamming distance of
      // the jpeg encode (PSNR >= 40 dB content), and the raster tile-block
      // decomposition conserves pixels (sum(px_count) == w*h). Block
      // geometry uses the TABLE dims — decoded-dims == table-dims is
      // already q38's dims_ok invariant; re-decoding here would only repeat
      // that check at the cost of a fourth codec pass per row.
      reg(s)
      val mk = (f: String) => image_synth(struct(col("image_id"), col("w"), col("h"), lit(f)))
      SynthData.images(s, dir).where(col("point_id") % 20 === 1)
        .withColumn("png", mk("png")).withColumn("bmp", mk("bmp")).withColumn("jpg", mk("jpg"))
        .withColumn("ph_png", image_phash(col("png")))
        .withColumn("half_w", col("w").cast("double") / 2000.0)
        .withColumn("half_h", col("h").cast("double") / 2000.0)
        .withColumn("tb", image_tile_blocks(struct(
          (col("lon") - col("half_w")).as("lon_min"),
          (col("lat") - col("half_h")).as("lat_min"),
          (col("lon") + col("half_w")).as("lon_max"),
          (col("lat") + col("half_h")).as("lat_max"),
          col("w"), col("h"), lit(8).as("z"), lit(8).as("block"))))
        .select(col("image_id"),
          (col("ph_png") === image_phash(col("bmp"))).as("phash_lossless_eq"),
          (hamming_dist(col("ph_png"), image_phash(col("jpg"))) <= 10).as("phash_jpg_ok"),
          expr("aggregate(tb, 0L, (acc, x) -> acc + x.px_count)").as("px_total"),
          (size(col("tb")) >= 1).as("tiles_ok"))
        .orderBy("image_id")
    }),
    "q44_format_num" -> ((s, dir) => {
      // format_num / numeric=FALSE GeoJSON path (reference
      // R/wkt2geojson.R:117-119): coordinates render as "%.{fmt}f" STRINGS
      reg(s)
      polys(s, dir)
        .withColumn("g", st_geomfromtext(st_point_wkt(col("x0"), col("y0"), 0)))
        .select(col("poly_id"),
          st_asgeojson(col("g"), feature = false, numeric = false, fmt = 3).as("gj_str"))
        .orderBy("poly_id")
    }),
    "q46_doc_quality" -> ((s, dir) => {
      // LLM-curation quality scoring: length / punctuation / stopword
      // ratios as exact-integer milli rates. Punctuation is synthesized
      // portably (both engines apply the identical replace) because the
      // corpus is punctuation-free word soup.
      reg(s)
      t(s, dir, "documents")
        .withColumn("t2", expr("replace(replace(text, 'fast', 'fast,'), 'value', 'value.')"))
        .withColumn("n_chars", length(col("t2")).cast("long"))
        .withColumn("n_tokens",
          (length(col("t2")) - length(expr("replace(t2, ' ', '')")) + 1).cast("long"))
        .withColumn("n_punct",
          (length(col("t2")) - length(translate(col("t2"), ".,!?;:", ""))).cast("long"))
        .withColumn("n_stop", expr(
          "size(filter(split(t2, ' '), x -> x IN ('the','a','of','and','to','is','in')))")
          .cast("long"))
        // BPE-ish subtoken count: letter runs / digit runs / single symbols
        // (disjoint character classes, so Java and RE2 match identically)
        .withColumn("n_subtokens", expr(
          "size(regexp_extract_all(t2, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))").cast("long"))
        .select(col("doc_id"), col("n_chars"), col("n_tokens"), col("n_punct"), col("n_stop"),
          col("n_subtokens"),
          floor(col("n_punct") * lit(1000.0) / col("n_chars")).cast("long").as("punct_milli"),
          floor(col("n_stop") * lit(1000.0) / col("n_tokens")).cast("long").as("stop_milli"))
        .orderBy("doc_id")
    }),
    "q56_repetition" -> ((s, dir) => {
      // Gopher-style within-doc repetition signals: duplicate char-8-gram
      // and word-3-gram fractions (milli rates, exact integers). Composed
      // entirely from the existing gram kernels: total windows come from
      // code-point length / token count (the kernels' own window formulas),
      // distinct windows from the sorted-distinct hash sets.
      reg(s)
      t(s, dir, "documents")
        .withColumn("total8", greatest(length(col("text")) - lit(7), lit(1)).cast("long"))
        .withColumn("distinct8", size(ngram_hash_set(col("text"), 8)).cast("long"))
        .withColumn("dup8_milli",
          floor((col("total8") - col("distinct8")) * lit(1000.0) / col("total8")))
        .withColumn("ntok",
          expr("size(filter(split(text, '\\\\s+'), t -> t != ''))").cast("long"))
        .withColumn("total_w3", when(col("ntok") === 0, lit(0L))
          .when(col("ntok") < 3, lit(1L)).otherwise(col("ntok") - 2))
        .withColumn("distinct_w3", size(word_ngram_hash_set(col("text"), 3)).cast("long"))
        .withColumn("dupw3_milli", when(col("total_w3") > 0,
          floor((col("total_w3") - col("distinct_w3")) * lit(1000.0) / col("total_w3")))
          .otherwise(lit(0L)))
        .select("doc_id", "total8", "distinct8", "dup8_milli",
          "ntok", "total_w3", "distinct_w3", "dupw3_milli")
        .orderBy("doc_id")
    }),
    "q58_stratified_sample" -> ((s, dir) => {
      // deterministic data-mixing: per-language keep rates via the portable
      // id-hash test — the oracle recomputes the exact kept row set, which
      // is the reproducibility property the operator exists for
      reg(s)
      operators.Sampling.stratified(t(s, dir, "documents"),
          "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),
    "q57_pii_redact" -> ((s, dir) => {
      // PII scrubbing (the standard pre-training redaction pass): emails,
      // IPv4s and +number runs are synthesized portably per doc (the corpus
      // itself is PII-free word soup), then redacted with the RE2-safe
      // pattern chain both engines run byte-identically. Output pins the
      // full redacted text plus per-class match counts.
      reg(s)
      import graft.functions.Pii
      t(s, dir, "documents")
        .withColumn("t2", concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or +"), (col("doc_id") + 12000000).cast("string"),
          lit(" from 10."), pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".0.1 end")))
        .select(col("doc_id"),
          Pii.piiCount(col("t2"), Pii.EmailPattern).cast("long").as("n_email"),
          Pii.piiCount(col("t2"), Pii.Ipv4Pattern).cast("long").as("n_ip"),
          Pii.piiCount(col("t2"), Pii.PhonePattern).cast("long").as("n_phone"),
          Pii.redactPii(col("t2")).as("redacted"))
        .orderBy("doc_id")
    }),
    "q47_image_resize" -> ((s, dir) => {
      // multimodal resize: NN-resample over REAL decoded pixels, re-encoded
      // PNG; invariants = decoded resized dims + phash stability (the 8x8
      // block-mean hash is scale-invariant by construction, so a half-size
      // resample stays within a small hamming distance)
      reg(s)
      SynthData.images(s, dir).where(col("point_id") % 20 === 2)
        .withColumn("png", image_synth(struct(col("image_id"), col("w"), col("h"), lit("png"))))
        .withColumn("small", image_resize(col("png"),
          (col("w") / 2).cast("int"), (col("h") / 2).cast("int")))
        .withColumn("spx", image_decode_dims(col("small")))
        .select(col("image_id"),
          col("spx.w").cast("long").as("rw"), col("spx.h").cast("long").as("rh"),
          (hamming_dist(image_phash(col("png")), image_phash(col("small"))) <= lit(12))
            .as("phash_stable"))
        .orderBy("image_id")
    }),
    "q48_video_frames" -> ((s, dir) => {
      // multimodal frame-sampling: deterministic video container of REAL
      // encoded frames; sample every 2nd frame, prove each decodes at the
      // table dims AND that the sampler extracted exactly frames 0/2/4 —
      // each sampled frame must byte-equal its re-synthesized original
      // (exact by construction; a phash-distinctness check would be
      // probabilistic on small smooth-gradient frames)
      // frames are fixed 16x16 (dims diversity is q38/q43/q47's job): the
      // invariants here are about the CONTAINER — count, sampling stride,
      // byte-exact extraction — and 16x16 keeps the 9-encodes-per-row cost
      // proportionate
      reg(s)
      SynthData.images(s, dir).where(col("point_id") % 40 === 3)
        .withColumn("vid", video_synth(struct(col("image_id"), lit(16), lit(16), lit(6))))
        .withColumn("frames", video_frame_sample(col("vid"), 2))
        .select(col("image_id"),
          video_n_frames(col("vid")).cast("long").as("n_frames"),
          size(col("frames")).cast("long").as("n_sampled"),
          expr("forall(transform(frames, f -> image_decode_dims(f)), " +
            "d -> d.w = 16 AND d.h = 16)").as("frames_ok"),
          expr("forall(transform(frames, (f, j) -> f = image_synth(struct(" +
            "concat(image_id, '#f', CAST(j * 2 AS STRING)), 16, 16, 'png'))), x -> x)")
            .as("frames_exact"))
        .orderBy("image_id")
    }),
    "q49_audio_stats" -> ((s, dir) => {
      // multimodal audio: PCM16 container (seeded sine, 100 samples/period);
      // exact integer stats — sample count, peak in [cos(pi/100)*A, A],
      // 2 zero crossings per period
      reg(s)
      SynthData.images(s, dir).where(col("point_id") % 40 === 4)
        .withColumn("aud", audio_synth(struct(col("image_id"), lit(1000))))
        .withColumn("st", audio_stats(col("aud")))
        .select(col("image_id"),
          col("st.n_samples").cast("long").as("n_samples"),
          (col("st.peak") >= 26000 && col("st.peak") <= 26214).as("peak_ok"),
          (col("st.zero_cross") >= 19 && col("st.zero_cross") <= 21).as("zc_ok"))
        .orderBy("image_id")
    }),
    "q45_wktview" -> ((s, dir) => {
      // wktview analog (reference R/wktview.R): WKT -> centroid-centered
      // leaflet HTML document; the oracle reassembles the byte-identical
      // document from the same template constants
      reg(s)
      polys(s, dir)
        .select(col("poly_id"),
          st_wktview(st_point_wkt(col("x0"), col("y0"), 0), 5).as("html"))
        .orderBy("poly_id")
    })
  )

  def oracleSql: Map[String, String] = {
    // integer rect corners rendered as text for the WKT-string oracles
    val xi = "CAST(x0 AS BIGINT)"; val yi = "CAST(y0 AS BIGINT)"
    val xw = "CAST(x0 + w AS BIGINT)"; val yh = "CAST(y0 + h AS BIGINT)"
    def pair(a: String, b: String, sep: String) = s"printf('%d$sep%d', $a, $b)"
    val ringSpaced = Seq(
      pair(xi, yi, " "), pair(xw, yi, " "), pair(xw, yh, " "),
      pair(xi, yh, " "), pair(xi, yi, " ")).mkString(" || ', ' || ")
    val ringCompact = Seq(
      pair(xi, yi, " "), pair(xw, yi, " "), pair(xw, yh, " "),
      pair(xi, yh, " "), pair(xi, yi, " ")).mkString(" || ',' || ")

    // integer-rendered corner "x y" for arbitrary integral corner expressions
    def pt(xe: String, ye: String) =
      s"printf('%d %d', CAST($xe AS BIGINT), CAST($ye AS BIGINT))"
    val line4 = Seq(("x0", "y0"), ("x0 + w", "y0"), ("x0 + w", "y0 + h"), ("x0", "y0 + h"))
      .map((pt _).tupled).mkString(" || ', ' || ")
    def ringAt(dx: String) = Seq(
      (s"x0 + $dx", "y0"), (s"x0 + w + $dx", "y0"), (s"x0 + w + $dx", "y0 + h"),
      (s"x0 + $dx", "y0 + h"), (s"x0 + $dx", "y0")).map((pt _).tupled).mkString(" || ', ' || ")
    // Jackson-compact Feature JSON for an integral point (doubles render N.0)
    val featJson = "'{\"type\":\"Feature\",\"geometry\":{\"type\":\"Point\",\"coordinates\":[' || " +
      "printf('%d', CAST(x0 AS BIGINT)) || '.0,' || printf('%d', CAST(y0 AS BIGINT)) || '.0]}'"

    // the fully-portable minhash signature chain (shingle -> md5 hash ->
    // 64 affine-mod-2^61 minima -> per-pair agreement count), shared by the
    // q23 pair oracle and the q51 connected-components oracle
    val minhashCtes =
      "toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), t -> length(t) > 0) AS L FROM documents), " +
        "sh AS (SELECT doc_id, CASE WHEN len(L) < 3 THEN array_to_string(L, ' ') " +
        "ELSE array_to_string(L[i:i+2], ' ') END AS s FROM " +
        "(SELECT doc_id, L, unnest(CASE WHEN len(L) = 0 THEN CAST([] AS BIGINT[]) " +
        "ELSE range(1, greatest(1, len(L) - 2) + 1) END) AS i FROM toks)), " +
        "hv AS (SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h FROM sh), " +
        "sig AS (SELECT doc_id, j, min(CAST((CAST(2*j+3 AS HUGEINT) * h + (5*j+7)) % 2305843009213693951 AS BIGINT)) AS m " +
        "FROM hv, generate_series(0, 63) t(j) GROUP BY 1, 2), " +
        "agree AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS BIGINT) AS agree64 " +
        "FROM sig a JOIN sig b ON a.j = b.j AND a.doc_id < b.doc_id GROUP BY 1, 2)"

    Map(
      "q01_pricing_agg" ->
        ("SELECT l_returnflag, l_linestatus, CAST(sum(l_quantity) AS BIGINT) AS sum_qty, " +
          "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents, " +
          "CAST(sum(CAST(round(l_discount * 10000) AS BIGINT)) AS BIGINT) AS sum_disc_bp, " +
          "count(*) AS cnt FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"),
      "q02_top_customers" ->
        ("SELECT c_custkey, c_mktsegment, " +
          "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents, " +
          "count(*) AS n_orders FROM orders JOIN customer ON o_custkey = c_custkey " +
          "GROUP BY 1, 2 ORDER BY revenue_cents DESC, c_custkey LIMIT 10"),
      "q03_events_window" ->
        ("SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS cnt, " +
          "CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents " +
          "FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
      "q04_top_events_per_user" ->
        ("SELECT user_id, event_id, rnk FROM (SELECT user_id, event_id, " +
          "row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk " +
          "FROM events) WHERE rnk <= 3 ORDER BY user_id, rnk"),
      "q10_point_wkt" ->
        (P + "SELECT point_id, 'POINT (' || printf('%.16f', lon) || ' ' || printf('%.16f', lat) || ')' AS wkt, " +
          "CAST(printf('%.16f', lon) AS DOUBLE) AS lon2, CAST(printf('%.16f', lat) AS DOUBLE) AS lat2 " +
          "FROM pts ORDER BY point_id"),
      "q11_poly_centroid" ->
        (P + "SELECT poly_id, (5.0 * x0 + 2.0 * w) / 5.0 AS clon, (5.0 * y0 + 2.0 * h) / 5.0 AS clat " +
          "FROM polys ORDER BY poly_id"),
      "q12_lint" ->
        (P + "SELECT poly_id, poly_id % 3 <> 0 AS is_wkt FROM polys ORDER BY poly_id"),
      "q13_wkb_roundtrip" ->
        (P + s"SELECT poly_id, 'POLYGON((' || $ringCompact || '))' AS wkt_compact " +
          "FROM polys ORDER BY poly_id"),
      "q14_geojson_roundtrip" ->
        (P + s"SELECT poly_id, 'POLYGON ((' || $ringSpaced || '))' AS wkt0 " +
          "FROM polys ORDER BY poly_id"),
      "q19_group_multipoint" ->
        (P + "SELECT point_id % 7 AS gid, 'MULTIPOINT (' || string_agg(" +
          "'(' || printf('%.16f', lon) || ' ' || printf('%.16f', lat) || ')', ', ' ORDER BY point_id) || ')' AS mp_wkt " +
          "FROM pts WHERE point_id % 53 = 0 GROUP BY 1 ORDER BY gid"),
      "q29_linestring" ->
        (P + s"SELECT poly_id, s AS ls_wkt, s AS ls_rt FROM " +
          s"(SELECT poly_id, 'LINESTRING (' || $line4 || ')' AS s FROM polys) ORDER BY poly_id"),
      "q30_multilinestring" ->
        (P + "SELECT poly_id, s AS mls_wkt, s AS mls_rt FROM (SELECT poly_id, " +
          s"'MULTILINESTRING ((' || ${Seq(("x0", "y0"), ("x0 + w", "y0 + h")).map((pt _).tupled).mkString(" || ', ' || ")} || " +
          s"'), (' || ${Seq(("x0 + 1", "y0 + 1"), ("x0 + w + 1", "y0 + h + 1")).map((pt _).tupled).mkString(" || ', ' || ")} || '))' AS s " +
          "FROM polys) ORDER BY poly_id"),
      "q31_multipolygon" ->
        (P + "SELECT poly_id, s AS mp_wkt, s AS mp_rt FROM (SELECT poly_id, " +
          s"'MULTIPOLYGON (((' || ${ringAt("0")} || ')), ((' || ${ringAt("100")} || ')))' AS s " +
          "FROM polys) ORDER BY poly_id"),
      "q32_circularstring" ->
        (P + "SELECT poly_id, 'CIRCULARSTRING (' || " +
          Seq(("x0", "y0"), ("x0 + w", "y0"), ("x0 + w", "y0 + h")).map((pt _).tupled).mkString(" || ', ' || ") +
          " || ')' AS cs_wkt FROM polys ORDER BY poly_id"),
      "q33_collect" ->
        (P + "SELECT poly_id, " +
          s"'GEOMETRYCOLLECTION (POINT (' || xs || ' ' || ys || '), POLYGON ((' || $ringSpaced || ')))' AS gc_wkt, " +
          "'GEOMETRYCOLLECTION (POINT (' || lpad(xs, pw, ' ') || ' ' || lpad(ys, pw, ' ') || " +
          s"'), POLYGON ((' || $ringSpaced || ')))' AS gc_rt FROM " +
          "(SELECT *, printf('%d', CAST(x0 AS BIGINT)) AS xs, printf('%d', CAST(y0 AS BIGINT)) AS ys, " +
          "CAST(greatest(length(printf('%d', CAST(x0 AS BIGINT))), length(printf('%d', CAST(y0 AS BIGINT)))) AS INTEGER) AS pw " +
          "FROM polys) ORDER BY poly_id"),
      "q34_isempty" ->
        (P + "SELECT poly_id, poly_id % 4 <> 1 AS is_empty FROM polys ORDER BY poly_id"),
      "q35_properties" ->
        (P + s"SELECT poly_id, $featJson || ',\"properties\":{\"style\":{\"color\":\"red\"}," +
          "\"popup\":{\"text\":\"p' || poly_id || '\"}}}' AS feat_props FROM polys ORDER BY poly_id"),
      "q36_featurecollection" ->
        (P + s"SELECT poly_id, '{\"type\":\"FeatureCollection\",\"features\":[' || $featJson || " +
          "',\"properties\":{}}]}' AS fc FROM polys ORDER BY poly_id"),
      "q37_pipeline_tiles" ->
        (P + "SELECT pl.poly_id, " +
          "CAST(floor((p.lon + 180.0) / 360.0 * 64.0) AS BIGINT) AS x, " +
          "CAST(floor((1.0 - ln(tan(radians(p.lat)) + 1.0 / cos(radians(p.lat))) / pi()) / 2.0 * 64.0) AS BIGINT) AS y, " +
          "count(*) AS images FROM pts p JOIN polys pl ON " +
          "p.lon > pl.x0 AND p.lon < pl.x0 + pl.w AND p.lat > pl.y0 AND p.lat < pl.y0 + pl.h " +
          "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),
      "q40_dirty_parse" ->
        (P + s"SELECT poly_id, CASE WHEN poly_id % 5 = 2 THEN '<invalid>' " +
          s"ELSE 'POLYGON ((' || $ringSpaced || '))' END AS parsed FROM polys ORDER BY poly_id"),
      "q39_us_cities" ->
        ("WITH cities AS (" + SynthData.usCitiesCte + ") " +
          "SELECT country_etc, count(*) AS n_cities, CAST(sum(pop) AS BIGINT) AS pop, " +
          "'MULTIPOINT (' || string_agg('(' || printf('%.16f', lon) || ' ' || printf('%.16f', lat) || ')', ', ' ORDER BY name) || ')' AS mp_wkt " +
          "FROM cities GROUP BY 1 ORDER BY country_etc"),
      "q38_image_invariants" ->
        (P + "SELECT printf('img-%09d', point_id) AS image_id, " +
          "CASE CAST(point_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'jpg' END AS fmt, " +
          "'caption for img-' || point_id || ' seed 42' AS caption, " +
          "true AS dims_ok, true AS psnr_ok, true AS lossless_exact " +
          "FROM pts WHERE point_id % 20 = 0 ORDER BY image_id"),
      "q15_spatial_join" ->
        (P + "SELECT p.point_id, y.poly_id FROM pts p JOIN polys y ON " +
          "p.lon > y.x0 AND p.lon < y.x0 + y.w AND p.lat > y.y0 AND p.lat < y.y0 + y.h " +
          "ORDER BY p.point_id, y.poly_id"),
      "q16_spatial_join_salted" ->
        (P + "SELECT p.point_id, y.poly_id FROM pts p JOIN polys y ON " +
          "p.lon > y.x0 AND p.lon < y.x0 + y.w AND p.lat > y.y0 AND p.lat < y.y0 + y.h " +
          "ORDER BY p.point_id, y.poly_id"),
      "q17_knn" ->
        (P + "SELECT query_id, point_id, rnk FROM (SELECT q.query_id, p.point_id, " +
          "row_number() OVER (PARTITION BY q.query_id ORDER BY " +
          "(q.qlon - p.lon) * (q.qlon - p.lon) + (q.qlat - p.lat) * (q.qlat - p.lat), p.point_id) AS rnk " +
          "FROM queries q CROSS JOIN pts p) WHERE rnk <= 5 ORDER BY query_id, rnk"),
      "q18_tiles" ->
        (P + "SELECT 6 AS z, CAST(floor((lon + 180.0) / 360.0 * 64.0) AS BIGINT) AS x, " +
          "CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0 * 64.0) AS BIGINT) AS y, " +
          "count(*) AS cnt FROM pts GROUP BY 1, 2, 3 ORDER BY x, y"),
      "q20_dedup_exact" ->
        ("SELECT md5(substr(text, 1, 16)) AS key_md5, min(doc_id) AS keep_id, count(*) AS dupes " +
          "FROM documents GROUP BY substr(text, 1, 16) ORDER BY key_md5"),
      "q21_text_stats" ->
        ("SELECT doc_id, length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens, " +
          "length(replace(text, ' ', '')) AS n_nospace, " +
          "CAST(floor(length(replace(text, ' ', '')) * 1000.0 / " +
          "(length(text) - length(replace(text, ' ', '')) + 1)) AS BIGINT) AS awl_milli " +
          "FROM documents ORDER BY doc_id"),
      "q22_ann_topk" ->
        ("WITH ev AS (SELECT vec_id, j, floor(CAST(embedding[j] AS DOUBLE) * 1000.0) AS x " +
          "FROM embeddings, generate_series(1, 64) t(j)), " +
          "pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id, " +
          "SUM((q.x - c.x) * (q.x - c.x)) AS dist2 FROM ev q JOIN ev c " +
          "ON q.j = c.j AND q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id GROUP BY 1, 2) " +
          "SELECT query_id, vec_id, rnk, CAST(dist2 AS BIGINT) AS dist2 FROM " +
          "(SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist2, vec_id) AS rnk FROM pairs) " +
          "WHERE rnk <= 10 ORDER BY query_id, rnk"),
      "q26_fingerprint" ->
        ("WITH pos AS (SELECT doc_id, text, unnest(range(1, greatest(length(text) - 15, 1) + 1)) AS i FROM documents), " +
          "fp AS (SELECT doc_id, min(CAST('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 16)), 1, 15) AS BIGINT)) AS rolling_fp " +
          "FROM pos GROUP BY 1) " +
          "SELECT d.doc_id, md5(d.text) AS md5_fp, f.rolling_fp FROM documents d " +
          "JOIN fp f USING (doc_id) ORDER BY d.doc_id"),
      "q27_jaccard_pairs" ->
        ("WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tk FROM documents), " +
          "sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1), " +
          "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i FROM tok a " +
          "JOIN tok b ON a.tk = b.tk AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
          "SELECT id_a, id_b FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b " +
          "WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.9 ORDER BY id_a, id_b"),
      "q52_ngram_jaccard" ->
        ("WITH g AS (SELECT doc_id, unnest(list_distinct([CAST('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 16)), 1, 15) AS BIGINT) " +
          "FOR i IN range(1, greatest(length(text) - 15, 1) + 1)])) AS tk FROM documents), " +
          "sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1), " +
          "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i FROM g a " +
          "JOIN g b ON a.tk = b.tk AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
          "SELECT id_a, id_b FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b " +
          "WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8 ORDER BY id_a, id_b"),
      "q55_time_travel" ->
        ("SELECT * FROM (" +
          "SELECT CAST(1 AS BIGINT) AS snap, event_type, count(*) AS cnt, min(event_id) AS min_id, max(event_id) AS max_id " +
          "FROM events GROUP BY 2 " +
          "UNION ALL " +
          "SELECT CAST(2 AS BIGINT), upper(event_type), count(*), min(event_id), max(event_id) " +
          "FROM events WHERE event_id % 8 < 4 GROUP BY 2) " +
          "ORDER BY snap, event_type"),
      "q56_repetition" ->
        ("WITH t AS (SELECT doc_id, text, list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0) AS tk FROM documents) " +
          "SELECT doc_id, total8, distinct8, CAST(floor((total8 - distinct8) * 1000.0 / total8) AS BIGINT) AS dup8_milli, " +
          "ntok, total_w3, distinct_w3, " +
          "CASE WHEN total_w3 > 0 THEN CAST(floor((total_w3 - distinct_w3) * 1000.0 / total_w3) AS BIGINT) ELSE 0 END AS dupw3_milli FROM (" +
          "SELECT doc_id, CAST(greatest(length(text) - 7, 1) AS BIGINT) AS total8, " +
          "len(list_distinct([CAST('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 8)), 1, 15) AS BIGINT) " +
          "FOR i IN range(1, CAST(greatest(length(text) - 7, 1) AS INTEGER) + 1)])) AS distinct8, " +
          "len(tk) AS ntok, " +
          "CAST(CASE WHEN len(tk) = 0 THEN 0 WHEN len(tk) < 3 THEN 1 ELSE len(tk) - 2 END AS BIGINT) AS total_w3, " +
          "CASE WHEN len(tk) = 0 THEN 0 ELSE len(list_distinct(" +
          "[CAST('0x' || substr(md5(CASE WHEN len(tk) < 3 THEN array_to_string(tk, ' ') " +
          "ELSE array_to_string(list_slice(tk, CAST(i AS INTEGER), CAST(i AS INTEGER) + 2), ' ') END), 1, 15) AS BIGINT) " +
          "FOR i IN range(1, CAST(greatest(len(tk) - 2, 1) AS INTEGER) + 1)])) END AS distinct_w3 " +
          "FROM t) ORDER BY doc_id"),
      "q58_stratified_sample" ->
        ("SELECT doc_id, lang FROM documents " +
          "WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 < " +
          "CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000 ELSE 100000 END " +
          "ORDER BY doc_id"),
      "q57_pii_redact" -> {
        val em = graft.functions.Pii.EmailPattern
        val ip = graft.functions.Pii.Ipv4Pattern
        val ph = graft.functions.Pii.PhonePattern
        "WITH t AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
          "'@example.com or +' || CAST(doc_id + 12000000 AS VARCHAR) || " +
          "' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 end' AS t2 FROM documents) " +
          s"SELECT doc_id, CAST(len(regexp_extract_all(t2, '$em')) AS BIGINT) AS n_email, " +
          s"CAST(len(regexp_extract_all(t2, '$ip')) AS BIGINT) AS n_ip, " +
          s"CAST(len(regexp_extract_all(t2, '$ph')) AS BIGINT) AS n_phone, " +
          s"regexp_replace(regexp_replace(regexp_replace(t2, '$em', '[EMAIL]', 'g'), " +
          s"'$ip', '[IP]', 'g'), '$ph', '[PHONE]', 'g') AS redacted " +
          "FROM t ORDER BY doc_id"
      },
      "q54_decontamination" ->
        // word 13-grams via shingle semantics: whitespace tokens, windows
        // joined with ' ', whole token list as the single gram when a doc
        // has fewer than 13 tokens, zero-token docs contribute nothing
        ("WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), t -> length(t) > 0) AS ts FROM documents), " +
          "g AS (SELECT doc_id, unnest(list_distinct(" +
          "[CAST('0x' || substr(md5(CASE WHEN len(ts) < 13 THEN array_to_string(ts, ' ') " +
          "ELSE array_to_string(list_slice(ts, CAST(i AS INTEGER), CAST(i AS INTEGER) + 12), ' ') END), 1, 15) AS BIGINT) " +
          "FOR i IN range(1, CAST(greatest(len(ts) - 12, 1) AS INTEGER) + 1)])) AS gram " +
          "FROM tk WHERE len(ts) > 0) " +
          "SELECT c.doc_id, e.doc_id AS eval_id, count(*) AS shared_grams " +
          "FROM g c JOIN (SELECT * FROM g WHERE doc_id % 97 = 0) e USING (gram) " +
          "GROUP BY 1, 2 ORDER BY 1, 2"),
      "q23_minhash_pairs" ->
        ("WITH " + minhashCtes +
          " SELECT id_a, id_b, agree64 FROM agree WHERE agree64 >= 32 ORDER BY id_a, id_b"),
      "q53_ann_cosine" ->
        ("WITH ev AS (SELECT vec_id, j, floor(CAST(embedding[j] AS DOUBLE) * 1000.0) AS x " +
          "FROM embeddings, generate_series(1, 64) t(j)), " +
          "n AS (SELECT vec_id, SUM(x * x) AS n2 FROM ev GROUP BY 1), " +
          "pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id, SUM(q.x * c.x) AS dot " +
          "FROM ev q JOIN ev c ON q.j = c.j AND q.vec_id % 60 = 0 AND q.vec_id <> c.vec_id GROUP BY 1, 2) " +
          "SELECT query_id, vec_id, rnk, cos FROM " +
          "(SELECT p.query_id, p.vec_id, p.dot / (sqrt(nq.n2) * sqrt(nc.n2)) AS cos, " +
          "row_number() OVER (PARTITION BY p.query_id " +
          "ORDER BY p.dot / (sqrt(nq.n2) * sqrt(nc.n2)) DESC, p.vec_id) AS rnk " +
          "FROM pairs p JOIN n nq ON nq.vec_id = p.query_id JOIN n nc ON nc.vec_id = p.vec_id " +
          "WHERE nq.n2 > 0 AND nc.n2 > 0) " +
          "WHERE rnk <= 10 ORDER BY query_id, rnk"),
      "q51_dedup_groups" ->
        // connected components over the SAME portable minhash pairs as q23:
        // the oracle takes the recursive-CTE transitive closure and labels
        // every doc with min(reachable ids ∪ self) — exactly the fixpoint
        // the Spark pointer-jumping propagation computes
        ("WITH RECURSIVE " + minhashCtes + ", " +
          "prs AS (SELECT id_a, id_b FROM agree WHERE agree64 >= 32), " +
          "e AS (SELECT id_a AS a, id_b AS b FROM prs UNION ALL SELECT id_b, id_a FROM prs), " +
          "reach(s, t) AS (SELECT a, b FROM e " +
          "UNION SELECT r.s, x.b FROM reach r JOIN e x ON x.a = r.t), " +
          "rep AS (SELECT s AS doc_id, min(t) AS mn FROM reach GROUP BY s) " +
          "SELECT d.doc_id, COALESCE(least(r.mn, d.doc_id), d.doc_id) AS rep_id " +
          "FROM documents d LEFT JOIN rep r USING (doc_id) ORDER BY d.doc_id"),
      "q24_simhash_pairs" ->
        ("WITH toks AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> length(t) > 0)) AS tok FROM documents), " +
          "hv AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM toks), " +
          "bits AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS acc " +
          "FROM hv, generate_series(0, 59) t(b) GROUP BY 1, 2), " +
          "sig AS (SELECT doc_id, CAST(sum(CASE WHEN acc > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sg FROM bits GROUP BY 1) " +
          "SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(bit_count(xor(a.sg, b.sg)) AS BIGINT) AS hamming " +
          "FROM sig a JOIN sig b ON a.doc_id < b.doc_id " +
          "WHERE bit_count(xor(a.sg, b.sg)) <= 3 ORDER BY id_a, id_b"),
      "q25_langid" ->
        ("WITH toks AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> length(t) > 0)) AS tok FROM documents), " +
          "sw(slang, stok, prio) AS (VALUES " +
          graft.functions.textexprs.LangId.profiles.zipWithIndex.flatMap {
            case ((lang, words), i) => words.toSeq.sorted.map(w => s"('$lang', '$w', $i)")
          }.mkString(", ") + "), " +
          "scores AS (SELECT t.doc_id, s.slang, s.prio, count(*) AS score FROM toks t " +
          "JOIN sw s ON t.tok = s.stok GROUP BY 1, 2, 3), " +
          "best AS (SELECT doc_id, slang, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, prio ASC) AS rn FROM scores) " +
          "SELECT d.doc_id, COALESCE(b.slang, 'und') AS pred_lang, d.lang FROM documents d " +
          "LEFT JOIN (SELECT doc_id, slang FROM best WHERE rn = 1) b USING (doc_id) ORDER BY d.doc_id"),
      "q28_embed_dups" ->
        ("WITH ev AS (SELECT vec_id, j, floor(CAST(embedding[j] AS DOUBLE) * 1000.0) AS x " +
          "FROM embeddings, generate_series(1, 64) t(j)), " +
          "m AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, SUM(a.x * b.x) AS dot, " +
          "SUM(a.x * a.x) AS na2_part FROM ev a JOIN ev b ON a.j = b.j AND a.vec_id < b.vec_id GROUP BY 1, 2), " +
          "n AS (SELECT vec_id, SUM(x * x) AS n2 FROM ev GROUP BY 1) " +
          "SELECT id_a, id_b FROM m JOIN n x ON x.vec_id = id_a JOIN n y ON y.vec_id = id_b " +
          "WHERE dot > 0 AND dot * dot >= 0.4 * 0.4 * x.n2 * y.n2 ORDER BY id_a, id_b"),
      "q41_ann_ivf" ->
        ("WITH ev AS (SELECT vec_id, j, floor(CAST(embedding[j] AS DOUBLE) * 1000.0) AS x " +
          "FROM embeddings, generate_series(1, 64) t(j)), " +
          "pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id, " +
          "SUM((q.x - c.x) * (q.x - c.x)) AS dist2 FROM ev q JOIN ev c " +
          "ON q.j = c.j AND q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id GROUP BY 1, 2) " +
          "SELECT query_id, vec_id, rnk, CAST(dist2 AS BIGINT) AS dist2 FROM " +
          "(SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist2, vec_id) AS rnk FROM pairs) " +
          "WHERE rnk <= 10 ORDER BY query_id, rnk"),
      "q50_ann_lsh" ->
        ("WITH ev AS (SELECT vec_id, j, floor(CAST(embedding[j] AS DOUBLE) * 1000.0) AS x " +
          "FROM embeddings, generate_series(1, 64) t(j)), " +
          "pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id, " +
          "SUM((q.x - c.x) * (q.x - c.x)) AS dist2 FROM ev q JOIN ev c " +
          "ON q.j = c.j AND q.vec_id % 40 = 0 AND q.vec_id <> c.vec_id GROUP BY 1, 2) " +
          "SELECT query_id, vec_id, rnk, CAST(dist2 AS BIGINT) AS dist2 FROM " +
          "(SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist2, vec_id) AS rnk FROM pairs) " +
          "WHERE rnk <= 8 ORDER BY query_id, rnk"),
      "q42_snapshot_resume" ->
        ("SELECT CAST(1 AS BIGINT) AS snapshot_id, event_id % 8 AS part_id, " +
          "count(*) AS row_count, count(*) AS data_rows " +
          "FROM events GROUP BY 2 ORDER BY part_id"),
      "q43_image_phash_blocks" ->
        (P + "SELECT printf('img-%09d', point_id) AS image_id, " +
          "true AS phash_lossless_eq, true AS phash_jpg_ok, " +
          "CAST((point_id % 5 * 16 + 16) * (point_id % 3 * 16 + 16) AS BIGINT) AS px_total, " +
          "true AS tiles_ok " +
          "FROM pts WHERE point_id % 20 = 1 ORDER BY image_id"),
      "q44_format_num" ->
        (P + "SELECT poly_id, '{\"type\":\"Point\",\"coordinates\":[\"' || printf('%.3f', x0) || " +
          "'\",\"' || printf('%.3f', y0) || '\"]}' AS gj_str FROM polys ORDER BY poly_id"),
      "q46_doc_quality" ->
        ("WITH d AS (SELECT doc_id, replace(replace(text, 'fast', 'fast,'), 'value', 'value.') AS t2 FROM documents), " +
          "c AS (SELECT doc_id, length(t2) AS n_chars, " +
          "length(t2) - length(replace(t2, ' ', '')) + 1 AS n_tokens, " +
          "length(t2) - length(translate(t2, '.,!?;:', '')) AS n_punct, " +
          "len(regexp_extract_all(t2, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_subtokens FROM d), " +
          "st AS (SELECT doc_id, count(*) AS n_stop FROM " +
          "(SELECT doc_id, unnest(string_split(t2, ' ')) AS tok FROM d) " +
          "WHERE tok IN ('the','a','of','and','to','is','in') GROUP BY 1) " +
          "SELECT c.doc_id, n_chars, n_tokens, n_punct, COALESCE(n_stop, 0) AS n_stop, n_subtokens, " +
          "CAST(floor(n_punct * 1000.0 / n_chars) AS BIGINT) AS punct_milli, " +
          "CAST(floor(COALESCE(n_stop, 0) * 1000.0 / n_tokens) AS BIGINT) AS stop_milli " +
          "FROM c LEFT JOIN st USING (doc_id) ORDER BY c.doc_id"),
      "q47_image_resize" ->
        (P + "SELECT printf('img-%09d', point_id) AS image_id, " +
          "CAST((point_id % 5 * 16 + 16) / 2 AS BIGINT) AS rw, " +
          "CAST((point_id % 3 * 16 + 16) / 2 AS BIGINT) AS rh, " +
          "true AS phash_stable FROM pts WHERE point_id % 20 = 2 ORDER BY image_id"),
      "q48_video_frames" ->
        (P + "SELECT printf('img-%09d', point_id) AS image_id, " +
          "CAST(6 AS BIGINT) AS n_frames, CAST(3 AS BIGINT) AS n_sampled, " +
          "true AS frames_ok, true AS frames_exact " +
          "FROM pts WHERE point_id % 40 = 3 ORDER BY image_id"),
      "q49_audio_stats" ->
        (P + "SELECT printf('img-%09d', point_id) AS image_id, " +
          "CAST(1000 AS BIGINT) AS n_samples, true AS peak_ok, true AS zc_ok " +
          "FROM pts WHERE point_id % 40 = 4 ORDER BY image_id"),
      "q45_wktview" -> {
        // the HTML document is reassembled from the SAME template constants
        // the engine uses (graft.core.WktView) — byte-identical or the hash
        // compare fails. setView order is [lat, lon].
        val latE = "printf('%d', CAST(y0 AS BIGINT)) || '.0'"
        val lonE = "printf('%d', CAST(x0 AS BIGINT)) || '.0'"
        P + s"SELECT poly_id, '${graft.core.WktView.head}' || $latE || ',' || $lonE || " +
          s"'${graft.core.WktView.midZoom}5${graft.core.WktView.midGeo}' || " +
          featJson + " || ',\"properties\":{\"style\":{}}}' || " +
          s"'${graft.core.WktView.tail}' AS html FROM polys ORDER BY poly_id"
      }
    )
  }
}
