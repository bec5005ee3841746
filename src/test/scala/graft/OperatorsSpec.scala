package graft

import graft.core.{RayCast, WktParser}
import graft.functions.GraftFunctions._
import graft.operators.{Ann, Dedup, Knn, SpatialJoin}
import org.apache.spark.grafttest.{Bus, Codegen}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.ExternalRDD
import org.apache.spark.sql.grafttest.Caches
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.sql.functions._

/** Operator-level correctness: spatial join vs an O(n*m) brute-force oracle
  * on NON-rectangular polygons with holes (both join branches), kNN vs brute
  * force, LSH ANN recall. */
class OperatorsSpec extends SparkTestBase {
  import spark.implicits._

  private val polyWkts = Seq(
    (1L, "POLYGON ((10 10, 40 12, 42 38, 12 40, 10 10), (20 20, 30 20, 30 30, 20 30, 20 20))"),
    (2L, "MULTIPOLYGON (((-60 -20, -40 -25, -35 -5, -55 0, -60 -20)), ((70 50, 85 52, 83 64, 71 60, 70 50)))"),
    (3L, "POLYGON ((-10 -10, 15 -12, 18 14, -8 12, -10 -10))"), // overlaps poly 1 region
    (4L, "POLYGON ((100 -80, 170 -80, 170 -10, 100 -10, 100 -80))")) // large -> coarse cells

  private def randomPoints(n: Int) = {
    val rnd = new scala.util.Random(77)
    (0 until n).map(i => (i.toLong,
      rnd.nextDouble() * 340 - 170, rnd.nextDouble() * 160 - 80))
  }

  /** The O(n*m) oracle: every (point, polygon) pair by ray cast, no cells. */
  private def rayCastPairs(pts: Seq[(Long, Double, Double)]): Set[(Long, Long)] = {
    val geoms = polyWkts.map { case (id, w) => (id, WktParser.parse(w)) }
    (for {
      (pid, lon, lat) <- pts
      (gid, g) <- geoms
      if RayCast.contains(g, lon, lat)
    } yield (pid, gid)).toSet
  }

  test("spatial join == brute-force ray-cast oracle (holes, multipolygons)") {
    val pts = randomPoints(4000)
    val ptsDf = pts.toDF("point_id", "lon", "lat")
    val polysDf = polyWkts.toDF("poly_id", "wkt")
      .withColumn("geom", st_geomfromtext($"wkt")).select("poly_id", "geom")

    val got = SpatialJoin.pointsInPolygons(ptsDf, polysDf, level = 9)
      .select("point_id", "poly_id").as[(Long, Long)].collect().toSet

    val want = rayCastPairs(pts)
    assert(got == want, s"diff: got-want=${(got -- want).take(5)} want-got=${(want -- got).take(5)}")
    assert(want.nonEmpty)
  }

  test("spatial join: broadcast and salted branches both equal the ray-cast oracle") {
    val pts = randomPoints(3000)
    val polysDf = polyWkts.toDF("poly_id", "wkt")
      .withColumn("geom", st_geomfromtext($"wkt")).select("poly_id", "geom")
    val want = rayCastPairs(pts)
    assert(want.nonEmpty)
    // at 3k points the coarse ancestor cells hold hundreds of probe rows
    // each, so a threshold of 200 makes some of them hot
    def run(broadcastCover: Boolean) = SpatialJoin.pointsInPolygons(
      pts.toDF("point_id", "lon", "lat"), polysDf, level = 9,
      broadcastCover = broadcastCover, hotThreshold = 200L)
    val salted = run(broadcastCover = false)
    val got = salted.select("point_id", "poly_id").as[(Long, Long)].collect()
    val joinKeys = AqeTree.collect(salted.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.HashJoin => j.leftKeys
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j.leftKeys
    }.flatten.flatMap(_.references.map(_.name))
    assert(joinKeys.contains("salt"), s"salted branch must join on salt, keys: $joinKeys")
    val hotSets = salted.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case i: org.apache.spark.sql.catalyst.expressions.In => i.list.size
      case i: org.apache.spark.sql.catalyst.expressions.InSet => i.hset.size
    }))
    assert(hotSets.exists(_ > 0), s"the threshold must make some cells hot, sets: $hotSets")
    assert(got.length == want.size && got.toSet == want, "salted branch != oracle")
    val plain = run(broadcastCover = true)
      .select("point_id", "poly_id").as[(Long, Long)].collect()
    assert(plain.length == want.size && plain.toSet == want, "broadcast branch != oracle")
  }

  test("spatial join: cover-table pairs == salted pairs on the adversarial layer") {
    val layer = AdversarialLayer
    val pts = layer.points.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      .toDF("point_id", "lon", "lat")
    val polys = layer.polygons.toDF("poly_id", "wkt")
      .select($"poly_id", st_geomfromtext($"wkt").as("geom"))
    def pairs(broadcastCover: Boolean) = SpatialJoin.pointsInPolygons(pts, polys,
      level = 9, broadcastCover = broadcastCover, hotThreshold = 200L)
      .select("point_id", "poly_id").as[(Long, Long)].collect()
    val table = pairs(broadcastCover = true)
    val salted = pairs(broadcastCover = false)
    assert(table.length == table.toSet.size, "the cover table emitted a pair twice")
    assert(table.toSet == salted.toSet && table.length == salted.length,
      s"table-salted=${(table.toSet -- salted).take(5)} salted-table=${(salted.toSet -- table).take(5)}")
    // every point lies in the world polygon
    assert(table.count(_._2 == 8L) == layer.points.length)
  }

  test("expanding k-ring kNN == brute force") {
    val pts = randomPoints(3000).toDF("point_id", "lon", "lat")
    val qs = (0 until 20).map(i => (i.toLong, (i * 37 % 340) - 170.0 + 0.3, (i * 53 % 160) - 80.0 + 0.7))
      .toDF("query_id", "qlon", "qlat")
    val fast = Knn.knn(qs, pts, k = 7, level = 6)
      .as[(Long, Long, Int)].collect().toSet
    val brute = Knn.knnBrute(qs, pts, k = 7)
      .as[(Long, Long, Int)].collect().toSet
    assert(fast == brute)
    assert(brute.size == 20 * 7)
  }

  test("kNN == brute force on ties, duplicates, empty regions, grid edges, k > n and INT ids") {
    val rnd = new scala.util.Random(31)
    // a uniform cloud with a hole around the lattice, so the lattice
    // queries' k-th distance is a tie among lattice points alone
    val cloud = Iterator.continually((rnd.nextDouble() * 120 - 60, rnd.nextDouble() * 100 - 50))
      .filterNot { case (x, y) => x > 16 && x < 24 && y > 16 && y < 24 }.take(1500).toSeq
    val lattice = for (i <- -4 to 4; j <- -4 to 4) yield (20.0 + i * 0.5, 20.0 + j * 0.5)
    val dups = Seq((-30.0, -30.0), (5.5, -12.25)).flatMap(Seq.fill(3)(_))
    // clusters at the four grid corners: their queries take the disk route
    // with rings clipped at the grid edge
    val corners = for {
      (cx, cy) <- Seq((179.6, 89.6), (-179.6, 89.6), (179.6, -89.6), (-179.6, -89.6))
      _ <- 0 until 40
    } yield (cx + rnd.nextDouble() * 0.6 - 0.3, cy + rnd.nextDouble() * 0.6 - 0.3)
    val pts = (cloud ++ lattice ++ dups ++ corners).zipWithIndex
      .map { case ((x, y), i) => (i.toLong, x, y) }.toDF("point_id", "lon", "lat")
    val qs = (Seq(
      (20.0, 20.0), (20.25, 20.25), (20.5, 19.0), // lattice: ties at the k-th distance
      (-30.0, -30.0), (5.5, -12.0), // duplicated coordinates
      (150.0, -40.0), (-120.0, 30.0), // empty regions
      (179.9, 89.9), (-179.9, 89.9), (179.9, -89.9), (-179.9, -89.9), // corners
      (179.9, 0.0), (-179.9, 0.0), (0.0, 89.9), (0.0, -89.9)) ++ // empty edges
      Seq.fill(20)((rnd.nextDouble() * 120 - 60, rnd.nextDouble() * 100 - 50)))
      .zipWithIndex.map { case ((x, y), i) => (i, x, y) } // INT query_id, as q17's
      .toDF("query_id", "qlon", "qlat")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    val fast = Knn.knn(qs, pts, k = 6, level = 6)
    val got = rows(fast) // collects `fast` itself, so its plan carries the metrics
    assert(got == rows(Knn.knnBrute(qs, pts, k = 6)))
    assert(got.size == 35 * 6)
    // both routes emitted rows: the union's first input is the disk route,
    // its second the brute-force cross join
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan, UnionExec}
    def outRows(p: SparkPlan): Long = p match {
      case f: FilterExec => f.metrics("numOutputRows").value
      case _ => p.children.map(outRows).sum
    }
    val union = AqeTree.collect(fast.queryExecution.executedPlan) { case u: UnionExec => u }
    assert(union.length == 1, s"one union of the two routes, got $union")
    val Seq(viaDisk, viaBrute) = union.head.children.map(outRows)
    assert(viaDisk > 0 && viaBrute > 0 && viaDisk + viaBrute == got.size,
      s"disk route $viaDisk rows, brute route $viaBrute rows")

    // k beyond the point count: every query gets every point
    val few = pts.where($"point_id" < 5)
    val fewGot = rows(Knn.knn(qs, few, k = 9, level = 6))
    assert(fewGot == rows(Knn.knnBrute(qs, few, k = 9)) && fewGot.size == 35 * 5)
    // no queries: no rows
    assert(Knn.knn(qs.limit(0), pts, k = 6, level = 6).collect().isEmpty)
  }

  test("kNN with k larger than point count falls back to brute force") {
    val pts = randomPoints(5).toDF("point_id", "lon", "lat")
    val qs = Seq((0L, 0.0, 0.0)).toDF("query_id", "qlon", "qlat")
    val out = Knn.knn(qs, pts, k = 9, level = 6).collect()
    assert(out.length == 5)
  }

  test("exact dedup keeps smallest id per key") {
    val df = Seq((1L, "aa"), (2L, "bb"), (3L, "aa"), (4L, "aa")).toDF("id", "k")
    val kept = Dedup.exactKeep(df, "id", "k").as[(String, Long, Long)].collect()
      .map { case (k, keep, n) => k -> ((keep, n)) }.toMap
    assert(kept("aa") == ((1L, 3L)))
  }

  test("minhash LSH finds planted near-duplicates") {
    val base = (1 to 60).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 60).map(i => if (i == 30) "CHANGED" else s"token$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, (100 to 160).map(i => s"other$i").mkString(" "))) ++
      (10 to 40).map(i => (i.toLong, (i to i + 50).map(j => s"w${j * 7 % 97}").mkString(" ")))
    val pairs = Dedup.minhashPairs(docs.toDF("doc_id", "text"), "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("jaccard pairs: dict (small-vocab) and prefix (large-vocab) paths == naive") {
    val rnd = new scala.util.Random(11)
    def naive(docs: Seq[(Long, String)], t: Double): Set[(Long, Long)] = {
      val sets = docs.map { case (id, s) => id -> s.split(" ").toSet }
      (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        j = (sa intersect sb).size.toDouble / (sa union sb).size
        if j >= t
      } yield (a, b)).toSet
    }
    def run(docs: Seq[(Long, String)], t: Double): Set[(Long, Long)] =
      Dedup.jaccardPairs(docs.toDF("doc_id", "text"), "doc_id", "text", t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet

    // small vocabulary (12 tokens) -> dictionary/bitmask plan
    val vocabS = (1 to 12).map(i => s"t$i")
    val small = (0 until 80).map(i =>
      (i.toLong, rnd.shuffle(vocabS).take(6 + rnd.nextInt(5)).mkString(" ")))
    assert(run(small, 0.7) == naive(small, 0.7))

    // large vocabulary (300 tokens) -> prefix-filter plan
    val vocabL = (1 to 300).map(i => s"w$i")
    val big = (0 until 60).map { i =>
      val base = rnd.shuffle(vocabL).take(25)
      (i.toLong, (if (i % 3 == 0) base.updated(3, "swapped") else base).mkString(" "))
    }
    assert(run(big, 0.85) == naive(big, 0.85))
    // and directly exercise the prefix path on the small-vocab corpus too
    val toks = small.toDF("doc_id", "text")
      .select(col("doc_id").as("id"),
        // jaccardPairsPrefix's contract: sorted, distinct array<bigint>
        array_sort(array_distinct(
          transform(split(col("text"), " "), t => xxhash64(t)))).as("toks"))
      .withColumn("sz", size(col("toks")))
    val viaPrefix = Dedup.jaccardPairsPrefix(toks, 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(viaPrefix == naive(small, 0.7))
  }

  test("jaccard tokenizer: empty tokens, minTokenLen and empty sets match a naive split on both routes") {
    val rnd = new scala.util.Random(23)
    // split(" ", -1) keeps empty tokens from double and trailing spaces, the
    // same tokens Spark's split and DuckDB's string_split produce
    def naive(docs: Seq[(Long, String)], t: Double, minLen: Int): Set[(Long, Long)] = {
      val sets = docs.map { case (id, s) => id -> s.split(" ", -1).filter(_.length >= minLen).toSet }
        .filter(_._2.nonEmpty)
      (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        j = (sa intersect sb).size.toDouble / (sa union sb).size
        if j >= t
      } yield (a, b)).toSet
    }
    // every separator is one or two spaces, and some docs end in a space
    def doc(vocab: IndexedSeq[String], k: Int): String =
      rnd.shuffle(vocab).take(k).map(w => if (rnd.nextInt(4) == 0) w + " " else w)
        .mkString(" ") + (if (rnd.nextBoolean()) " " else "")
    def corpus(vocab: IndexedSeq[String], n: Int, k: Int): Seq[(Long, String)] = {
      val base = (0 until n).map(i => (i.toLong, doc(vocab, k)))
      // near-dups that differ only in spacing or in short tokens, plus
      // docs whose sets are empty once minTokenLen filters them
      base ++ base.take(n / 3).map { case (id, s) => (id + 1000L, s.replace(" ", "  ") + " x") } ++
        Seq((5000L, "a b  c "), (5001L, "a b c"), (5002L, ""), (5003L, " "))
    }
    def run(docs: Seq[(Long, String)], t: Double, minLen: Int): (Set[(Long, Long)], LogicalPlan) = {
      val out = Dedup.jaccardPairs(docs.toDF("doc_id", "text"), "doc_id", "text", t,
        minTokenLen = minLen)
      val plan = out.queryExecution.optimizedPlan
      (out.select("id_a", "id_b").as[(Long, Long)].collect().toSet, plan)
    }
    // the prefix route leaves SQL at its input and comes back as one RDD
    def viaRdd(plan: LogicalPlan) = plan.collect { case r: ExternalRDD[_] => r }.nonEmpty
    val small = corpus((1 to 12).map(i => s"t$i") ++ Seq("u", "v"), 60, 7)
    val big = corpus((1 to 200).map(i => s"w$i") ++ Seq("u", "v"), 60, 20)
    for ((minLen, t) <- Seq((0, 0.5), (2, 0.8))) {
      val (dictPairs, dictPlan) = run(small, t, minLen)
      assert(dictPlan.toString.contains("bit_count") && !viaRdd(dictPlan),
        "a vocabulary of <= 64 tokens takes the dict route")
      assert(dictPairs == naive(small, t, minLen), s"dict route, minTokenLen=$minLen t=$t")
      val (prefixPairs, prefixRoutePlan) = run(big, t, minLen)
      assert(viaRdd(prefixRoutePlan) && !prefixRoutePlan.toString.contains("bit_count"),
        "a vocabulary above 64 tokens takes the prefix route")
      assert(prefixPairs == naive(big, t, minLen), s"prefix route, minTokenLen=$minLen t=$t")
      spark.catalog.clearCache()
    }
    // the empty token is a real token at minTokenLen 0 and filtered above it
    assert(!run(small, 0.99, 0)._1.contains((5000L, 5001L)))
    assert(run(small, 0.99, 1)._1.contains((5000L, 5001L)))
    spark.catalog.clearCache()
  }

  test("character-n-gram jaccard pairs == naive; order-sensitive vs word sets") {
    def grams(s: String, n: Int): Set[String] =
      if (s.length <= n) Set(s)
      else (0 to s.length - n).map(i => s.substring(i, i + n)).toSet
    def naive(docs: Seq[(Long, String)], n: Int, t: Double): Set[(Long, Long)] = {
      val sets = docs.map { case (id, s) => id -> grams(s, n) }
      (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        j = (sa intersect sb).size.toDouble / (sa union sb).size
        if j >= t
      } yield (a, b)).toSet
    }
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
      (3L, "dog lazy the over jumps fox brown quick the"), // SAME word set as 1
      (4L, "completely unrelated content right here"),
      (5L, ""), (6L, ""), // empty texts pair as exact duplicates
      (7L, "short")) // shorter than n: whole text is the single gram
    val got = Dedup.ngramJaccardPairs(docs.toDF("doc_id", "text"), "doc_id", "text",
        n = 12, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == naive(docs, 12, 0.5))
    assert(got.contains((1L, 2L)), "near-identical texts share most 12-grams")
    assert(!got.contains((1L, 3L)),
      "word-salad doc shares the WORD set of doc 1 but almost no 12-grams")
    assert(Dedup.jaccardPairs(docs.take(3).toDF("doc_id", "text"), "doc_id", "text", 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet.contains((1L, 3L)),
      "sanity: the word-set variant DOES pair the word salad")
    assert(got.contains((5L, 6L)), "empty texts are exact duplicates of each other")
  }

  /** Naive all-pairs Jaccard over the documents with a non-null id and a
    * non-empty set, with the operator's double compare. */
  private def naiveJaccard[T](sets: Seq[(Option[Long], Option[Set[T]])],
                              t: Double): Map[(Long, Long), Double] = {
    val docs = sets.collect { case (Some(id), Some(s)) if s.nonEmpty => (id, s) }
    (for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      inter = (sa intersect sb).size
      j = inter.toDouble / (sa.size + sb.size - inter).toDouble
      if j >= t
    } yield (a, b) -> j).toMap
  }

  test("jaccard prefix route == naive all-pairs: null ids, null and empty sets, size-1 sets, df ties, t = 1.0, integral c*sz") {
    val rnd = new scala.util.Random(2024)
    // 30 tokens over ~200 sets: many tokens share a df, so the (df, tok)
    // order breaks ties by token. c = t/(1+t): sizes 3, 6 and 9 put c*sz on
    // an integer at t = 0.5, sizes 9 and 18 at t = 0.8, and at t = 0.4 the
    // double c*sz lands just ABOVE 2 and 4 at sizes 7 and 14, the case
    // the plen epsilon exists for.
    val base = (0 until 120).map { i =>
      val sz = Seq(1, 2, 3, 6, 7, 9, 14, 18, rnd.nextInt(12))(rnd.nextInt(9))
      rnd.shuffle((0 until 30).toList).take(sz).map(_.toLong * 7919L - 50000L).toSet
    }
    // near-duplicates: one token swapped, dropped or added
    val near = base.take(60).map { s =>
      rnd.nextInt(3) match {
        case 0 if s.nonEmpty => s - s.head + 99L
        case 1 if s.size > 1 => s - s.head
        case _ => s + 77L
      }
    }
    val sets: Seq[(Option[Long], Option[Set[Long]])] =
      (base ++ near ++ base.take(10)).zipWithIndex.map { case (s, i) => (Some(i.toLong), Some(s)) } ++
        Seq((None, Some(base(0))), (None, Some(base(0))), // null ids pair with nothing
          (Some(900L), None), (Some(901L), Some(Set.empty[Long])), (Some(902L), Some(Set.empty[Long])),
          (Some(903L), Some(Set(5L))), (Some(904L), Some(Set(5L)))) // size-1 twins
    val toks = sets.map { case (id, s) => (id, s.map(_.toSeq.sorted)) }.toDF("id", "toks")
    for (t <- Seq(0.4, 0.5, 0.8, 1.0)) {
      val got = Dedup.jaccardPairsPrefix(toks, t).as[(Long, Long, Double)].collect()
      assert(got.length == got.map(p => (p._1, p._2)).distinct.length, s"duplicate pairs at t=$t")
      assert(got.map(p => (p._1, p._2) -> p._3).toMap == naiveJaccard(sets, t), s"word sets, t=$t")
    }
    assert(Dedup.jaccardPairsPrefix(toks.limit(0), 0.5).collect().isEmpty, "empty corpus")
    // n-gram route: null text has no set, the empty text's one gram is the
    // empty string, and a text shorter than n is its own single gram
    def grams(s: String, n: Int): Set[String] =
      if (s.length <= n) Set(s) else (0 to s.length - n).map(i => s.substring(i, i + n)).toSet
    val words = Seq("ab", "cd", "ef", "gh", "ij")
    val texts: Seq[(Option[Long], Option[String])] =
      (0 until 80).map(i => (Some(i.toLong),
        Some(Seq.fill(1 + rnd.nextInt(6))(words(rnd.nextInt(words.size))).mkString(" ")))) ++
        Seq((None, Some("ab cd")), (Some(200L), None), (Some(201L), Some("")), (Some(202L), Some("")),
          (Some(203L), Some("x")), (Some(204L), Some("x")))
    for (t <- Seq(0.5, 1.0)) {
      val got = Dedup.ngramJaccardPairs(texts.toDF("doc_id", "text"), "doc_id", "text", n = 4, threshold = t)
        .as[(Long, Long, Double)].collect()
      val want = naiveJaccard(texts.map { case (id, s) => (id, s.map(grams(_, 4))) }, t)
      assert(got.map(p => (p._1, p._2) -> p._3).toMap == want, s"4-grams, t=$t")
      assert(want.contains((201L, 202L)) && want.contains((203L, 204L)))
    }
  }

  test("jaccard prefix route: one job, no generated code when warm, no cache, integral ids kept") {
    val sc = spark.sparkContext
    val rnd = new scala.util.Random(5)
    def corpus(n: Int) = (0 until n).map { i =>
      (i.toLong, Seq.fill(3 + rnd.nextInt(8))(s"w${rnd.nextInt(25)}").mkString(" "))
    }.toDF("doc_id", "text")
    def pairs(df: DataFrame) =
      Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 6, threshold = 0.5).collect()
    val (first, second) = (corpus(120), corpus(90))
    pairs(first) // warm: the input and output plans compile once
    val baseline = (sc.getPersistentRDDs.size, Caches.entries(spark))
    val jobs = Bus.jobsOf(sc)(pairs(first))
    assert(jobs == 1, s"a warm ngramJaccardPairs collect ran $jobs jobs")
    val compiled = Codegen.compiled(pairs(second))
    assert(compiled == 0, s"a call over another corpus compiled $compiled classes")
    assert((sc.getPersistentRDDs.size, Caches.entries(spark)) == baseline,
      "the prefix route must leave no persisted RDD or cache entry")
    // an INT id comes back as INT with the same pairs; a STRING id is refused
    val asInt = Dedup.ngramJaccardPairs(first.select(col("doc_id").cast("int"), col("text")),
      "doc_id", "text", n = 6, threshold = 0.5)
    assert(asInt.schema("id_a").dataType == IntegerType && asInt.schema("id_b").dataType == IntegerType)
    assert(asInt.collect().map(r => (r.getInt(0).toLong, r.getInt(1).toLong, r.getDouble(2))).toSet ==
      pairs(first).map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    intercept[IllegalArgumentException](Dedup.ngramJaccardPairs(
      first.select(col("doc_id").cast("string"), col("text")), "doc_id", "text", n = 6))
  }

  test("ANN LSH top-k achieves high recall vs brute force") {
    // clustered embeddings (LSH's applicability regime): 20 centers + noise
    val rnd = new scala.util.Random(5)
    val centers = Array.fill(20)(Array.fill(32)(rnd.nextFloat() * 2 - 1))
    val vecs = (0 until 400).map { i =>
      val c = centers(i % 20)
      (i.toLong, c.map(v => v + rnd.nextFloat() * 0.1f - 0.05f).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = vecs.where($"vec_id" % 80 === 0)
    val brute = Ann.bruteTopK(vecs, queries, k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val lsh = Ann.lshTopK(vecs, queries, k = 10, nBits = 6)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.6, s"LSH recall too low: $recall")
  }

  test("IVF top-k is EXACT (== brute force), including the <k fallback") {
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(10)(Array.fill(16)(rnd.nextFloat() * 2 - 1))
    val vecs = (0 until 300).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(v => v + rnd.nextFloat() * 0.3f - 0.15f).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = vecs.where($"vec_id" % 30 === 0)
    val brute = Ann.bruteTopK(vecs, queries, k = 7)
      .select("query_id", "vec_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val ivf = Ann.ivfTopK(vecs, queries, k = 7, maxCentroids = 12, nProbe = 2)
      .select("query_id", "vec_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(ivf == brute, "triangle-inequality pruning must not lose a true neighbor")
    // degenerate regime: k near corpus size forces the d_k-null fallback
    val tiny = vecs.where($"vec_id" < 6)
    val b2 = Ann.bruteTopK(tiny, tiny, k = 5)
      .select("query_id", "vec_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val i2 = Ann.ivfTopK(tiny, tiny, k = 5, maxCentroids = 3, nProbe = 1)
      .select("query_id", "vec_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(i2 == b2)
    // skewed id distribution (odd ids only): the hash sample is still
    // well-defined and the result stays exact
    val odd = vecs.where($"vec_id" % 2 === 1)
    val i3 = Ann.ivfTopK(odd, odd.limit(3), k = 3, maxCentroids = 2, nProbe = 1)
      .select("query_id", "vec_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val b3 = Ann.bruteTopK(odd, odd.limit(3), k = 3)
      .select("query_id", "vec_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(i3 == b3 && i3.nonEmpty)
    // empty corpus: no crash, zero rows (brute fallback)
    assert(Ann.ivfTopK(vecs.where($"vec_id" < 0), vecs.limit(2), k = 3).count() == 0)
    // mixed-length vectors: brute's dist2 = n_q - 2*dot_minlen + n_v is the
    // zero-padding semantics, and the assignment kernel must match it (a
    // min-length-truncated distance would shrink cell radii and let phase 2
    // prune true neighbors)
    val mixed = (0 until 120).map { i =>
      val d = if (i % 3 == 0) 8 else 16
      (i.toLong, (0 until d).map(j => (((i * 7 + j * 13) % 19) - 9) / 10.0f).toSeq)
    }.toDF("vec_id", "embedding")
    val qm = mixed.where($"vec_id" % 20 === 0)
    val bm = Ann.bruteTopK(mixed, qm, k = 5)
      .select("query_id", "vec_id", "rnk").as[(Long, Long, Int)].collect().toSet
    val im = Ann.ivfTopK(mixed, qm, k = 5, maxCentroids = 10, nProbe = 2)
      .select("query_id", "vec_id", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(im == bm && im.nonEmpty, "mixed-length corpora must stay exact")
    // the cap is corpus-size-independent: C(n) is monotone then flat
    assert(Ann.centroidCap(100) == 40 && Ann.centroidCap(1L << 40) == 4096 &&
      Ann.centroidCap(1) == 16)
  }

  test("blocked theta-joins: output invariant across block counts (incl. auto)") {
    val rnd = new scala.util.Random(11)
    val base = Array.fill(40)(Array.fill(16)(rnd.nextFloat() + 0.1f))
    val vecs = (0 until 80).map { i =>
      val v = if (i < 40) base(i) else base(i - 40).map(x => x * 1.001f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    def run(blocks: Int) = Ann.cosineDupPairs(vecs, 0.95, blocks)
      .as[(Long, Long)].collect().toSet
    val auto = run(0)
    assert(auto == run(3) && auto == run(16) && auto.nonEmpty,
      "pair set must not depend on the block count")
    // auto policy tracks parallelism: ~2x slots worth of uniform reducers
    val b = Dedup.ThetaBlocks.resolve(spark, 0)
    assert(b >= 4 &&
      b == math.ceil(math.sqrt(4.0 * spark.sparkContext.defaultParallelism)).toInt)
  }

  /** 400 nodes: a random sparse graph on 0-199, a 140-node CHAIN on
    * 200-339 (pointer jumping's worst case: diameter >> 1, must converge in
    * O(log d) rounds) and isolated nodes above. */
  private lazy val ccEdges: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(21)
    val randomEdges = (0 until 150).map(_ => (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    randomEdges ++ (200 until 339).map(i => (i.toLong, (i + 1).toLong)) // 140-node path
  }
  private def ccNodes = (0 until 400).map(_.toLong).toDF("doc_id")
  private def ccPairs = ccEdges.toDF("id_a", "id_b")

  test("dedupGroups == naive union-find (random graph, chain, singletons)") {
    def naiveCC(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    }
    val (n, edges, nodes, pairs) = (400, ccEdges, ccNodes, ccPairs)
    val got = Dedup.dedupGroups(nodes, pairs, "doc_id")
      .as[(Long, Long)].collect().toMap
    val want = naiveCC(n, edges)
    assert(got == want, "component representative must be the exact component min")
    assert(got(339L) == 200L, "chain end must resolve to the chain head")
    assert(got(399L) == 399L, "isolated nodes keep themselves as representative")
    // pairs referencing ids NOT in nodes (stale pair file) are ignored: a
    // foreign id must never become a rep_id
    val dirty = Dedup.dedupGroups(Seq(5L, 6L).toDF("doc_id"),
        Seq((2L, 5L), (5L, 6L), (7L, 9L)).toDF("id_a", "id_b"), "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(dirty == Map(5L -> 5L, 6L -> 5L),
      s"foreign-id pairs must be dropped, got $dirty")
    // EMPTY pair set (clean corpus): every node is its own representative,
    // and the loop must not start on an empty seed
    val clean = Dedup.dedupGroups(Seq(1L, 2L, 3L).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(clean == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("dedupGroups checkpoints reliably when the session has a checkpoint dir") {
    val nodes = (0L until 60L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 22L), (22L, 21L))
      .toDF("id_a", "id_b")
    def groups() = Dedup.dedupGroups(nodes, pairs, "doc_id").as[(Long, Long)].collect().toMap
    val local = groups()
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt")
    val reliable = org.apache.spark.grafttest.Checkpoints.withDir(spark.sparkContext, dir.toString)(groups())
    val files = java.nio.file.Files.walk(dir)
      .filter(f => java.nio.file.Files.isRegularFile(f)).count()
    assert(files > 0, s"no checkpoint files under $dir")
    assert(reliable == local && local(4L) == 1L && local(21L) == 20L && local(59L) == 59L)
  }

  test("dedupGroups runs one job per round and compiles no code when warm") {
    val sc = spark.sparkContext
    def groups(nodes: DataFrame, pairs: DataFrame) =
      Dedup.dedupGroups(nodes, pairs, "doc_id").as[(Long, Long)].collect().toMap
    // the seed, one job per round (8 on the 400-node graph) and the collect
    val jobs = Bus.jobsOf(sc)(groups(ccNodes, ccPairs))
    assert(jobs <= 10, s"dedupGroups ran $jobs jobs")
    // a different graph converging in a different number of rounds: with
    // the input and output plans warm, the rounds generate no code
    val (cliqueNodes, cliquePairs) = ((0L until 50L).toDF("doc_id"),
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L)).toDF("id_a", "id_b"))
    var clique = Map.empty[Long, Long]
    val compiled = Codegen.compiled { clique = groups(cliqueNodes, cliquePairs) }
    assert(compiled == 0, s"a warm dedupGroups call compiled $compiled classes")
    assert(clique(3L) == 1L && clique(11L) == 10L && clique(49L) == 49L)
  }

  test("decontamination flags exactly the docs sharing a word 13-gram with the eval set") {
    // 13 words the contaminated corpus docs embed verbatim; clean docs
    // share VOCABULARY with the eval set but never 13 consecutive words
    val evalSeq = (1 to 13).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, s"intro text then $evalSeq and a tail"),      // embeds the gram mid-doc
      (2L, evalSeq),                                     // exactly the eval doc
      (3L, (1 to 13).map(i => s"w${14 - i}").mkString(" ")), // same words, reversed
      (4L, "completely unrelated content here"),
      (5L, (1 to 12).map(i => s"w$i").mkString(" ")),    // 12-word prefix only
      (6L, "")                                           // zero tokens: never flagged
    ).toDF("doc_id", "text")
    val evalSet = Seq((100L, evalSeq), (101L, "short eval probe")).toDF("eval_id", "text")
    val pairs = Dedup.contaminationPairs(corpus, "doc_id", "text",
      evalSet, "eval_id", "text", n = 13)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1 contains the full window (1 shared gram of its 8 windows);
    // doc 2 IS the window. Reversed/shorter/unrelated docs share nothing.
    assert(pairs == Set((1L, 100L, 1L), (2L, 100L, 1L)))
    // eval doc 101 is SHORTER than 13 tokens: its whole text is its one
    // gram, so only a doc containing that exact token sequence as a
    // whole-doc gram (or window) can match — none here
    // short-eval matching does work when the exact sequence appears: a
    // corpus doc equal to the short eval doc is flagged
    val c2 = Seq((7L, "short eval probe")).toDF("doc_id", "text")
    val p2 = Dedup.contaminationPairs(c2, "doc_id", "text",
      evalSet, "eval_id", "text", n = 13)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2 == Set((7L, 101L)))
  }

  test("stratified sampling: deterministic, per-stratum rates, default fallback") {
    val df = (0 until 3000).map(i =>
      (i.toLong, Seq("A", "B", "C")(i % 3))).toDF("id", "stratum")
    def run() = graft.operators.Sampling.stratified(df, "id", "stratum",
        Map("A" -> 0.5, "B" -> 0.0), defaultRate = 1.0)
      .select("id").as[Long].collect().toSet
    val kept = run()
    val byStratum = kept.groupBy(id => Seq("A", "B", "C")((id % 3).toInt))
      .view.mapValues(_.size).toMap
    assert(byStratum.getOrElse("B", 0) == 0, "rate 0.0 keeps nothing")
    assert(byStratum("C") == 1000, "absent stratum falls back to defaultRate 1.0")
    val a = byStratum("A")
    assert(a > 350 && a < 650, s"rate 0.5 keeps about half, got $a of 1000")
    assert(run() == kept, "hash-based selection is deterministic")
    // invariance under repartitioning: the kept SET is a pure row property
    assert(graft.operators.Sampling.stratified(df.repartition(7), "id", "stratum",
      Map("A" -> 0.5, "B" -> 0.0), defaultRate = 1.0)
      .select("id").as[Long].collect().toSet == kept)
  }

  test("zero-token docs never acquire signatures (minhash + simhash)") {
    // includes tab/newline-only docs: Spark trim() strips only spaces, so a
    // trim-based guard would still pair (5, 6)
    val docs = Seq((1L, ""), (2L, "   "), (5L, "\t\t"), (6L, "\n \t"),
      (3L, "real text here with words"),
      (4L, "real text here with words")).toDF("doc_id", "text")
    val mh = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(mh == Set((3L, 4L)), s"empty docs must not pair up, got $mh")
    val sh = Dedup.simhashPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sh == Set((3L, 4L)))
    assert(graft.functions.textexprs.shingles("   ", 3).isEmpty)
    // direct SQL callers see null signatures for token-less docs, not the
    // degenerate all-MaxValue / all-zero values
    val sigs = docs.select(minhash(col("text"), 16, 3).as("mh"), simhash(col("text")).as("sh"))
      .collect()
    assert(sigs.count(r => r.isNullAt(0)) == 4 && sigs.count(r => r.isNullAt(1)) == 4)
  }

  test("jaccard: docs whose token sets filter to empty pair with nothing") {
    // minTokenLen filters 'a b' to the EMPTY set: the dict plan must not
    // report empty-set twins as J=1.0 while the prefix plan emits nothing
    val docs = Seq((1L, "a b"), (2L, "c d"), (3L, "longword other words"),
      (4L, "longword other words")).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.9, minTokenLen = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((3L, 4L)), s"empty-set docs must not pair: $pairs")
  }

  test("minhash bands beyond the signature length are clamped, not constant-key") {
    val docs = (0 until 30).map(i => (i.toLong,
      if (i % 2 == 0) s"alpha beta gamma delta epsilon zeta token$i"
      else s"totally different words here number $i unique")).toDF("doc_id", "text")
    val sane = Dedup.minhashPairs(docs, "doc_id", "text",
        numHashes = 16, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val clamped = Dedup.minhashPairs(docs, "doc_id", "text",
        numHashes = 16, bands = 64, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(clamped == sane, "bands > numHashes must behave as bands == numHashes")
  }
}
