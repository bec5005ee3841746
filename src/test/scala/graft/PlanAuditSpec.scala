package graft

import graft.functions.GraftFunctions._
import graft.operators.{Ann, Dedup, SpatialJoin}
import graft.sources.SynthData
import org.apache.spark.grafttest.Bus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** Physical-plan shape audit: the properties that make the operators safe at
  * 100x the data are asserted on `explain` output, not just prose —
  * broadcast goes to the SMALL side, payload columns are pruned at the scan,
  * aggregations keep their map-side partial step, and nothing degenerates
  * into a cartesian product.
  */
class PlanAuditSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  test("spatial join: cover side broadcast, no cartesian, raycast after equijoin") {
    val polys = SynthData.polygons(spark, dir)
      .withColumn("geom", st_geomfromtext(col("wkt"))).select("poly_id", "geom")
    val p = plan(SpatialJoin.pointsInPolygons(
      SynthData.points(spark, dir), polys, level = 10, broadcastCover = Some(true)))
    assert(p.contains("BroadcastHashJoin"), "cover must broadcast-hash-join")
    assert(!p.contains("CartesianProduct"), "no cartesian product")
    assert(p.contains("st_contains_rings"), "raycast refinement present as a filter")
  }

  test("pipeline probe side: bytes/caption pruned from the join scan") {
    val images = SynthData.images(spark, dir)
      .withColumn("bytes", lit(Array[Byte](1, 2, 3)))
      .withColumn("footprint_wkt", st_point_wkt(col("lon"), col("lat"), 16))
    val pts = images
      .withColumn("c", st_centroid(st_geomfromtext(col("footprint_wkt"))))
      .select(col("image_id"), col("c.lon").as("lon"), col("c.lat").as("lat"))
    val polys = SynthData.polygons(spark, dir)
      .withColumn("geom", st_geomfromtext(col("wkt"))).select("poly_id", "geom")
    val joined = SpatialJoin.pointsInPolygons(pts, polys, level = 10, broadcastCover = Some(true))
    val analyzed = joined.queryExecution.optimizedPlan.toString()
    assert(!analyzed.contains("bytes") && !analyzed.contains("caption"),
      "payload columns must be pruned below the join")
  }

  test("pipeline: one plan, no cache, images scanned once and only by the snapshot write") {
    val work = java.nio.file.Files.createTempDirectory("pipe-audit").toString
    Pipeline.prepare(spark, dir, work)
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = runs.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = runs.add(qe)
    }
    spark.listenerManager.register(listener)
    try Pipeline.run(spark, work)
    finally {
      Bus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    def images(h: HadoopFsRelation): Int =
      h.location.rootPaths.count(_.toString.endsWith(s"$work/images"))
    // scans of the images table, counting those inside a cached relation
    def imageScans(p: LogicalPlan): Int = p.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => images(h)
        case _ => 0
      }
      case r: InMemoryRelation => AqeTree.collect(r.cacheBuilder.cachedPlan) {
        case s: FileSourceScanExec => images(s.relation)
      }.sum
    }.sum
    val plans = runs.asScala.toSeq
    assert(plans.nonEmpty, "the listener saw no executed plan")
    plans.foreach { qe =>
      val cached = qe.optimizedPlan.collect { case r: InMemoryRelation => r }
      assert(cached.isEmpty && !qe.executedPlan.toString.contains("InMemoryTableScan"),
        s"an executed plan reads a cached relation:\n${qe.optimizedPlan.treeString.take(1500)}")
    }
    val readers = plans.filter(qe => imageScans(qe.optimizedPlan) > 0)
    val nReaders = readers.size
    assert(nReaders == 1, s"only the snapshot write may read images, got $nReaders plans")
    assert(readers.head.logical.toString.contains(s"$work/tile_stats"),
      s"the images reader must be the tile_stats write:\n${readers.head.logical.treeString.take(1500)}")
    assert(imageScans(readers.head.optimizedPlan) == 1, "images scanned once")
  }

  test("exact dedup: partial (map-side) aggregation precedes the shuffle") {
    val p = plan(Dedup.exactKeep(
      spark.read.parquet(s"$dir/documents.parquet").withColumn("key", substring(col("text"), 1, 8)),
      "doc_id", "key"))
    // two HashAggregates (partial + final) around one exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final aggregate expected")
    assert(p.contains("Exchange hashpartitioning"), "hash shuffle on the dedup key")
  }

  test("blocked cosine join: no broadcast of the corpus, block-pair key join") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(Ann.cosineDupPairs(e, 0.4, blocks = 8))
    assert(!p.contains("CartesianProduct"), "no cartesian product")
    assert(p.contains("vec_dot"), "codegen'd dot kernel in the verify")
    // the only broadcasts are the tiny block-pair frames (and possibly an
    // AQE-converted small side at this SF) — never a crossJoin of the corpus
    assert(!p.contains("BroadcastNestedLoopJoin"), "no nested-loop broadcast join")
  }

  test("IVF ANN: narrow capped-centroid assignment, persisted + reused, corpus never broadcast") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = Ann.ivfTopK(e, e.where(col("vec_id") % 50 === 0), k = 10, nProbe = 3)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), "no cartesian product")
    assert(p.contains("vec_nearest"), "assignment must be the narrow vec_nearest kernel")
    assert(p.contains("vec_dot"), "codegen'd dot kernel for the exact re-rank")
    // the assignment and the query-centroid distances are persisted: every
    // consumer reads the cache instead of re-running the subtree
    assert(p.contains("InMemoryTableScan"), "persisted index must be reused via cache scans")
    // the ONLY nested-loop join is the small query side x the CAPPED
    // centroid frame (its subtree prints once per cache reference); the
    // corpus-side plan has no join at all before the cell equijoin
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnl <= 4, s"only the query x capped-centroids crossJoin, got $bnl")
  }

  test("decontamination: eval grams broadcast, corpus never nested-loop joined") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val evalSet = docs.where(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("eval_id"), col("text"))
    val p = plan(Dedup.contaminationPairs(docs, "doc_id", "text",
      evalSet, "eval_id", "text", n = 13))
    assert(p.contains("word_ngram_hash_set"), "narrow gram kernel on both sides")
    assert(p.contains("BroadcastHashJoin"), "eval gram set must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "gram equijoin only — the corpus is never all-pairs joined")
    // the only shuffle after the broadcast join is the (id, eval_id) count,
    // with its map-side partial step
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final aggregate expected")
  }

  test("dict jaccard: distinct-mask frame computed once, not once per join side") {
    spark.catalog.clearCache()
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "b c d"), (4L, "d e"),
      (5L, "a e")).toDF("doc_id", "text")
    val out = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5)
    // the tokenize, mask and distinct-mask subtrees are all persisted, so in
    // the optimized plan every aggregate lives INSIDE an InMemoryRelation
    // leaf — zero live Aggregate nodes may remain in the result plan itself.
    // (Before the r6 fix the distinct-mask aggregation appeared once per
    // side of the blocked self-join: a duplicated corpus-sized agg at scale.)
    val aggs = out.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.isEmpty,
      s"distinct-mask aggregate must come from the cache, found ${aggs.size} live")
    spark.catalog.clearCache()
  }

  test("word jaccard: one hashed-long token path, merge-kernel verify") {
    spark.catalog.clearCache()
    // 120 distinct words: above the 64-token dict cutoff, so the prefix route
    val docs = (0 until 40).map(i =>
      (i.toLong, (0 until 12).map(j => s"w${(i * 7 + j * 11) % 120}").mkString(" ")))
      .toDF("doc_id", "text")
    val opt = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5).queryExecution.optimizedPlan
    val p = opt.toString
    assert("sorted_inter_count\\(".r.findFirstIn(p).isDefined, "merge-kernel verify expected")
    assert(!p.contains("array_intersect"), "no per-pair hash-set intersect")
    // token columns anywhere in the plan, including inside the cached
    // tokenize/prefix subtrees, are array<bigint> — never array<string>
    val stringArrays = opt.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cacheBuilder.cachedPlan.collect { case n => n.output }.flatten
      case n => n.output
    }.flatten.filter(_.dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, _) => true
      case _ => false
    })
    assert(stringArrays.isEmpty, s"array<string> columns in the plan: $stringArrays")
    spark.catalog.clearCache()
  }

  test("tile counts: single shuffle with partial aggregation") {
    val p = plan(SpatialJoin.tileCounts(SynthData.points(spark, dir), 6))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, "exactly one shuffle")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "map-side combine expected")
  }

  test("parquet scan prunes columns for a two-column projection") {
    val df = spark.read.parquet(s"$dir/orders.parquet").select("o_orderkey", "o_custkey")
    val p = plan(df)
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>"),
      s"scan must read only the projected columns, got:\n${p.take(800)}")
  }
}

/** Physical-plan traversal that descends into adaptive query stages. */
private object AqeTree extends AdaptiveSparkPlanHelper
