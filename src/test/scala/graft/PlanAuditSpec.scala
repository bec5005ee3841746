package graft

import graft.functions.GraftFunctions._
import graft.functions.exprs
import graft.operators.{Ann, Dedup, Knn, SpatialJoin}
import graft.sources.{Snapshots, SynthData}
import org.apache.spark.grafttest.{Blocks, Bus}
import org.apache.spark.sql.grafttest.Caches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{ExternalRDD, FileSourceScanExec, GenerateExec, LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
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

  test("spatial join: cover table probe, no cell equijoin, no cartesian") {
    val polys = SynthData.polygons(spark, dir)
      .withColumn("geom", st_geomfromtext(col("wkt"))).select("poly_id", "geom")
    val exec = SpatialJoin.pointsInPolygons(
      SynthData.points(spark, dir), polys, level = 10, broadcastCover = true)
      .queryExecution.executedPlan
    val generators = AqeTree.collect(exec) { case g: GenerateExec => g.generator }
    assert(generators.count(_.isInstanceOf[exprs.StCoverProbe]) == 1,
      s"one cover probe per point, generators: $generators")
    assert(!exec.toString.contains("st_cell_ancestors"), "no ancestor explode")
    val joinKeys = AqeTree.collect(exec) {
      case j: BroadcastHashJoinExec => j.leftKeys ++ j.rightKeys
    }.flatten.flatMap(_.references.map(_.name))
    assert(!joinKeys.contains("cell"), s"no broadcast hash join on cell, keys: $joinKeys")
    assert(!exec.toString.contains("CartesianProduct"), "no cartesian product")
  }

  test("spatial join: q16 runs q15's plan, no hot-cell sample job, no cache") {
    def run(name: String): (Int, DataFrame) = {
      var df: DataFrame = null
      val jobs = Bus.jobsOf(spark.sparkContext) {
        df = SparkEntry.queries(name)(spark, dir)
        df.collect()
      }
      (jobs, df)
    }
    val (q15Jobs, _) = run("q15_spatial_join")
    val (q16Jobs, q16) = run("q16_spatial_join_salted")
    assert(q16Jobs <= q15Jobs, s"q16 started $q16Jobs jobs, q15 $q15Jobs")
    assert(q16.queryExecution.optimizedPlan.collect { case r: InMemoryRelation => r }.isEmpty,
      "q16's plan must not read a cached cover")
  }

  test("spatial join: repeated salted calls leave no persisted RDD or cache entry") {
    val sc = spark.sparkContext
    val pts = SynthData.points(spark, dir)
    val polys = SynthData.polygons(spark, dir)
      .withColumn("geom", st_geomfromtext(col("wkt"))).select("poly_id", "geom")
    val rdds0 = sc.getPersistentRDDs.size
    val cached0 = Caches.entries(spark)
    // ten batches in one long-lived session, each over its own layer
    val counts = (0 until 10).map { i =>
      val layer = polys.where(col("poly_id") % 10 =!= i)
      SpatialJoin.pointsInPolygons(pts, layer, level = 10,
        broadcastCover = false, hotThreshold = 100L).count()
    }
    assert(counts.forall(_ > 0), s"counts $counts")
    val (rdds, cached) = (sc.getPersistentRDDs.size, Caches.entries(spark))
    assert(rdds == rdds0, s"persisted RDDs $rdds0 -> $rdds")
    assert(cached == cached0, s"cache entries $cached0 -> $cached")
  }

  test("spatial join: the salted branch's hot-cell sample is seeded, one hot set per input") {
    val pts = SynthData.points(spark, dir)
    val polys = SynthData.polygons(spark, dir)
      .withColumn("geom", st_geomfromtext(col("wkt"))).select("poly_id", "geom")
    def hotSet(): Set[Any] = SpatialJoin.pointsInPolygons(pts, polys, level = 10,
        broadcastCover = false, hotThreshold = 100L)
      .queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case i: InSet => i.hset })).flatten.toSet
    val (a, b) = (hotSet(), hotSet())
    assert(a.nonEmpty, "the sample found no hot cell")
    assert(a == b, s"hot sets differ: ${(a -- b).size} and ${(b -- a).size} cells only in one")
  }

  test("kNN: repeated calls leave no persisted RDD, cache entry or RDD block") {
    val sc = spark.sparkContext
    val (qs, pts) = (SynthData.knnQueries(spark, dir), SynthData.points(spark, dir))
    def held() = (sc.getPersistentRDDs.size, Caches.entries(spark), Blocks.rddBlocks(sc))
    val before = held()
    (0 until 10).foreach(_ => Knn.knn(qs, pts, k = 5, level = 7).collect())
    assert(held() == before, "(persisted RDDs, cache entries, RDD blocks)")
    val plan = Knn.knn(qs, pts, k = 5, level = 7).queryExecution.optimizedPlan
    assert(plan.collect { case r: LogicalRDD => r; case r: InMemoryRelation => r }.isEmpty,
      s"no checkpoint or cache in the returned plan:\n$plan")
  }

  test("kNN: a fixed number of jobs per call, 11 on q17's input") {
    def jobs(qs: DataFrame, pts: DataFrame): Int =
      Bus.jobsOf(spark.sparkContext)(Knn.knn(qs, pts, k = 5, level = 7).collect())
    val q17 = jobs(SynthData.knnQueries(spark, dir), SynthData.points(spark, dir))
    assert(q17 <= 11, s"q17's input ran $q17 jobs")
    // two inputs that both send queries down both routes, one sparse and
    // one clustered with a few outlying queries: the job count must not
    // follow the density
    val rnd = new scala.util.Random(5)
    def cloud(n: Int, x0: Double, w: Double) =
      Seq.fill(n)((x0 + rnd.nextDouble() * w, rnd.nextDouble() * w / 2 - w / 4))
    def frame(xys: Seq[(Double, Double)], names: String*) =
      xys.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }.toDF(names: _*)
    val sparse = jobs(frame(cloud(50, -150, 300), "query_id", "qlon", "qlat"),
      frame(cloud(500, -150, 300), "point_id", "lon", "lat"))
    val clustered = jobs(frame(cloud(45, -60, 100) ++ cloud(5, 150, 20), "query_id", "qlon", "qlat"),
      frame(cloud(5000, -60, 100), "point_id", "lon", "lat"))
    assert(sparse == clustered, s"sparse input ran $sparse jobs, clustered $clustered")
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
    val joined = SpatialJoin.pointsInPolygons(pts, polys, level = 10, broadcastCover = true)
    val analyzed = joined.queryExecution.optimizedPlan.toString()
    assert(!analyzed.contains("bytes") && !analyzed.contains("caption"),
      "payload columns must be pruned below the join")
  }

  test("pipeline: one plan, no cache, images scanned once and only by the snapshot write") {
    val work = java.nio.file.Files.createTempDirectory("pipe-audit").toString
    Pipeline.prepare(spark, dir, work)
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        runs.add(funcName -> qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        runs.add(funcName -> qe)
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
    val named = runs.asScala.toSeq
    val plans = named.map(_._2)
    assert(plans.nonEmpty, "the listener saw no executed plan")
    plans.foreach { qe =>
      val cached = qe.optimizedPlan.collect { case r: InMemoryRelation => r }
      assert(cached.isEmpty && !qe.executedPlan.toString.contains("InMemoryTableScan"),
        s"an executed plan reads a cached relation:\n${qe.optimizedPlan.treeString.take(1500)}")
    }
    val namedReaders = named.filter { case (_, qe) => imageScans(qe.optimizedPlan) > 0 }
    val readers = namedReaders.map(_._2)
    val nReaders = readers.size
    assert(nReaders == 1, s"only the snapshot write may read images, got $nReaders plans")
    assert(namedReaders.head._1 == Snapshots.CommitExecution,
      s"the images reader must be the snapshot commit, got ${namedReaders.head._1}:\n" +
        readers.head.logical.treeString.take(1500))
    assert(imageScans(readers.head.optimizedPlan) == 1, "images scanned once")
    // the per-image match count comes from the cover probe in the scan's
    // stage: nothing shuffles or broadcasts between the images scan and the
    // tile explode
    val tileExplode = AqeTree.collect(readers.head.executedPlan) {
      case g: GenerateExec if g.generator.toString.contains("image_tile_blocks") => g
    }
    assert(tileExplode.size == 1, s"one tile explode, got ${tileExplode.size}")
    val below = AqeTree.collect(tileExplode.head) {
      case e: Exchange => e.nodeName
      case q: QueryStageExec => q.nodeName
    }
    assert(below.isEmpty, s"no exchange between the images scan and the tile explode: $below")
    assert(AqeTree.collect(tileExplode.head) {
      case s: FileSourceScanExec => images(s.relation)
    }.sum == 1, "the tile explode reads the images scan directly")
  }

  /** A prepared sf0.001 flagship work dir, shared by the run-budget cases. */
  private lazy val pipelineWork: String = {
    val work = java.nio.file.Files.createTempDirectory("pipe-budget").toString
    Pipeline.prepare(spark, dir, work)
    work
  }

  test("pipeline: a first commit runs at most 4 Spark jobs") {
    // prepared outside the count: the cover build, the tile aggregate's and
    // the commit's exchanges, and the commit's write
    val work = pipelineWork
    val jobs = Bus.jobsOf(spark.sparkContext)(Pipeline.run(spark, work, snapshotId = 100L))
    assert(jobs <= 4, s"Pipeline.run started $jobs jobs")
  }

  test("pipeline: sequential runs leave no cover table broadcast behind") {
    val sc = spark.sparkContext
    val cls = classOf[graft.core.CoverTable]
    val baseline = Blocks.broadcastValues(sc, cls)
    (1 to 5).foreach(i => Pipeline.run(spark, pipelineWork, snapshotId = 200L + i))
    // Broadcast.destroy() removes the blocks asynchronously
    val deadline = System.nanoTime() + 20000000000L
    while (Blocks.broadcastValues(sc, cls) > baseline && System.nanoTime() < deadline)
      Thread.sleep(50)
    val left = Blocks.broadcastValues(sc, cls)
    assert(left <= baseline, s"cover table broadcasts $baseline -> $left after 5 runs")
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
    // the prefix route: its verify (the SortedLongs merge) runs in the RDD
    // pipeline, which returns as one external RDD leaf; no dict masks, no
    // per-pair hash-set intersect
    assert(opt.collect { case r: ExternalRDD[_] => r }.size == 1, s"one RDD leaf expected:\n$p")
    assert(!p.contains("bit_count") && !p.contains("array_intersect"), p)
    // the tokens leave SQL through the tokenize plan, which the route reads
    // without caching it: its token column is array<bigint>, and no column
    // anywhere in it is array<string>
    val toks = Dedup.tokenSets(docs, "doc_id", "text", 0)
    assert(Caches.entries(spark) == 0 && !Caches.holds(spark, toks),
      "the route probe and the prefix plan must cache nothing")
    assert(toks.schema("toks").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.LongType, toks.schema.treeString)
    val stringArrays = toks.queryExecution.optimizedPlan.collect { case n => n.output }.flatten
      .filter(_.dataType match {
        case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, _) => true
        case _ => false
      })
    assert(stringArrays.isEmpty, s"array<string> columns in the tokenize plan: $stringArrays")
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
