package graft.operators

import graft.functions.GraftFunctions.{vec_dot, vec_lsh_bucket, vec_norm2}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Approximate-nearest-neighbor search and cosine similarity join over an
  * embedding column (array<float>).
  *
  * Exactness strategy: embeddings are quantized to integer-valued doubles
  * (floor(x*1000)) before any arithmetic, so every dot product / squared
  * distance is an exact integer no matter the summation order — results are
  * bit-deterministic across engines and partitionings (and therefore
  * oracle-checkable in DuckDB).
  *
  * All per-pair arithmetic is a tight primitive loop per pair, not an
  * interpreted higher-order function: the codegen'd [[graft.functions.vecexprs]]
  * kernels (vec_dot / vec_norm2) in the SQL plans, and the same loops in
  * [[cosineDupPairs]]' RDD compare.
  *
  *  - [[bruteTopK]]: exact top-k by squared euclidean on the quantized
  *    vectors; the correctness baseline. One broadcast of the (small) query
  *    side; no shuffle on the corpus.
  *  - [[lshTopK]]: random-hyperplane LSH bucketing — corpus is hashed once
  *    into sign-bit buckets, queries probe their bucket (plus multi-probe
  *    neighbors at hamming distance 1); candidates are re-ranked exactly.
  *    The approximate scale path for HIGH similarity thresholds / top-k.
  *  - [[cosineDupPairs]]: EXACT cosine-threshold self-join on
  *    [[Dedup.blockPairs]], the block-pair decomposition of the
  *    1-Bucket-Theta join (Okcan & Riedewald, SIGMOD'11) as one RDD job:
  *    n rows are hashed into B blocks, each unordered block pair (i<=j)
  *    is one sort key, and each key compares only its (n/B)^2 pair square.
  *    No side is ever broadcast whole; each row is sent B times, block
  *    pairs are uniform by construction (hash blocks, not data-dependent
  *    buckets), and B scales with cluster size. Exactness matters here:
  *    the synthetic corpus plants near-dup pairs within 1e-4 of the 0.4
  *    threshold, so NO LSH family has usable recall at that margin — an
  *    exact-verify-everything plan with a tight kernel is the only design
  *    that matches the oracle, and the blocked shape is how it
  *    distributes at 10^12 rows.
  *
  * [[ivfTopK]] is the one operator whose returned plan reads persisted
  * frames; see its lifecycle note.
  */
object Ann {

  val quantExpr: String =
    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS DOUBLE))"

  def quantize(df: DataFrame, idAs: String, vecAs: String): DataFrame =
    df.select(col("vec_id").as(idAs), expr(quantExpr).as(vecAs))

  /** Exact top-k neighbors for each query vector.
    * dist2 = |q|^2 - 2 q.v + |v|^2 — every term an exact integer on the
    * quantized vectors, so identical to the elementwise-difference sum. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = quantize(corpus, "vec_id", "v").withColumn("n_v", vec_norm2(col("v")))
    val q = quantize(queries, "query_id", "qv").withColumn("n_q", vec_norm2(col("qv")))
    val win = Window.partitionBy("query_id").orderBy(col("dist2"), col("vec_id"))
    broadcast(q).crossJoin(c)
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("dist2", col("n_q") - lit(2.0) * vec_dot(col("qv"), col("v")) + col("n_v"))
      .withColumn("rnk", row_number().over(win))
      .where(col("rnk") <= k)
      .select("query_id", "vec_id", "rnk", "dist2")
  }

  /** Exact top-k by COSINE similarity — the brute-force cosine baseline
    * (on L2-normalized embeddings this ordering coincides with
    * [[bruteTopK]]'s euclidean one; on unnormalized vectors they differ,
    * so both baselines ship). cos = dot / (sqrt(|q|^2) * sqrt(|v|^2)) over
    * the quantized vectors: the dot and both norms are exact integers, so
    * the IEEE result of this exact expression shape is bit-identical in
    * any engine that evaluates the same text — rank and value are
    * oracle-checkable (q53). Zero vectors have no cosine and are excluded
    * on both sides. The approximate scale path for cosine is [[lshTopK]]
    * (random-hyperplane LSH is the cosine family). */
  def bruteTopKCosine(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = quantize(corpus, "vec_id", "v").withColumn("n_v", vec_norm2(col("v")))
    val q = quantize(queries, "query_id", "qv").withColumn("n_q", vec_norm2(col("qv")))
    val win = Window.partitionBy("query_id").orderBy(desc("cos"), col("vec_id"))
    broadcast(q).crossJoin(c)
      .where(col("query_id") =!= col("vec_id"))
      .where(col("n_v") > 0 && col("n_q") > 0)
      .withColumn("cos",
        vec_dot(col("qv"), col("v")) / (sqrt(col("n_q")) * sqrt(col("n_v"))))
      .withColumn("rnk", row_number().over(win))
      .where(col("rnk") <= k)
      .select("query_id", "vec_id", "rnk", "cos")
  }

  /** LSH-bucketed top-k: exact re-rank inside candidate buckets. Recall is
    * tunable via nBits (fewer bits = bigger buckets = higher recall). The
    * per-row bucket hash is the codegen'd [[graft.functions.vecexprs.VecLshBucket]]
    * kernel (NOT an interpreted HOF — see the round-1 postmortem in
    * BENCH/BASELINE.md). Probabilistic recall: use [[ivfTopK]] when the
    * answer must be exact with a bucketed plan. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, nBits: Int = 8): DataFrame = {
    val c = quantize(corpus, "vec_id", "v")
      .withColumn("bucket", vec_lsh_bucket(col("v"), nBits))
      .withColumn("n_v", vec_norm2(col("v")))
    // multi-probe: query probes its own bucket and all buckets at hamming 1
    val q = quantize(queries, "query_id", "v")
      .withColumn("bucket0", vec_lsh_bucket(col("v"), nBits))
      .withColumn("n_q", vec_norm2(col("v")))
      .withColumn("probe", explode(expr(
        s"array_union(array(bucket0), transform(sequence(0, ${nBits - 1}), " +
          "b -> CAST(bucket0 ^ shiftleft(1L, b) AS BIGINT)))")))
      .select(col("query_id"), col("v").as("qv"), col("n_q"), col("probe").as("bucket"))
    val win = Window.partitionBy("query_id").orderBy(col("dist2"), col("vec_id"))
    q.join(c, "bucket")
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("dist2", col("n_q") - lit(2.0) * vec_dot(col("qv"), col("v")) + col("n_v"))
      .dropDuplicates("query_id", "vec_id")
      .withColumn("rnk", row_number().over(win))
      .where(col("rnk") <= k)
      .select("query_id", "vec_id", "rnk", "dist2")
  }

  /** Centroid count for an n-row corpus: ~4*sqrt(n), floored at 16 and
    * CAPPED at `maxCentroids` — independent of corpus size past the cap, so
    * the index-build broadcast and the per-row assignment cost stop growing
    * with n (the round-3 quadratic-at-default defect). At the 4096 default
    * the matrix is <= 2 MB of doubles for 64-dim vectors. */
  def centroidCap(n: Long, maxCentroids: Int = 4096): Int =
    math.min(math.max(16L, 4L * math.sqrt(n.toDouble).toLong), maxCentroids.toLong).toInt

  /** EXACT top-k via an IVF (inverted-file) index with triangle-inequality
    * cell pruning — the oracle-provable ANN scale path (vs [[bruteTopK]]'s
    * O(|q| * n) crossJoin and [[lshTopK]]'s probabilistic recall).
    *
    * Index: centroids are a deterministic pseudo-random sample of the
    * corpus itself — the min(4*sqrt(n), `maxCentroids`) lowest rows by
    * (hash(vec_id), vec_id), one distributed top-C pass ([[centroidCap]]).
    * Exactness never depends on WHICH centroids are chosen (the triangle
    * bound below holds for any partition of the corpus), only pruning
    * efficiency does, and a uniform hash sample tracks the data
    * distribution. Every corpus vector is assigned to its nearest centroid
    * by the NARROW [[graft.functions.vecexprs.VecNearest]] kernel (the
    * capped matrix rides inside the expression — no join, no shuffle, no
    * corpus-proportional broadcast); each cell records its radius
    * r_c = max member distance. Search:
    *
    *   phase 1 — each query probes its `nProbe` nearest cells and ranks the
    *     members found there exactly; the kth-best distance d_k (an UPPER
    *     bound on the true kth distance) comes out of the same plan;
    *   phase 2 — a cell c can contain a true top-k member only if
    *     dist(q, mu_c) - r_c <= true d_k <= phase-1 d_k (triangle
    *     inequality), so the final candidate set is exactly the members of
    *     cells passing that bound (+1e-6 slack for sqrt rounding — extra
    *     probes only). Since assignment is a partition, each (query,
    *     candidate) pair appears once: no dedup shuffle.
    *
    * Scale shape: the broadcasts are the capped centroid frame, the
    * per-query probe lists, and the quantized QUERY frame itself — queries
    * are the small side in the service shape (batches of 10^3-10^6 against
    * a corpus of 10^9+); the corpus-side assignment is ONE narrow kernel
    * pass whose result is persisted (MEMORY_AND_DISK) so the d_k and
    * phase-2 subtrees reuse it instead of recomputing it per consumer (the
    * round-3 5x-re-execution smell); the probe join is a plain equijoin on
    * cell id. Nothing is ever all-pairs and the corpus is never broadcast.
    * Exactness has no data assumptions, so the DuckDB brute-force oracle
    * must match bit-for-bit (q41).
    *
    * Lifecycle: the two persisted intermediates (assignment, query-centroid
    * distances) back the RETURNED plan, so they cannot be unpersisted here;
    * Dataset-level persist is held by the session CacheManager until an
    * explicit `spark.catalog.clearCache()` / uncache (NOT freed by GC), so
    * one-shot jobs are unaffected but long-lived sessions should clear
    * between batches. This is the only operator with that contract: the
    * pair operators of [[Dedup]] and [[cosineDupPairs]] cache nothing. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              maxCentroids: Int = 4096, nProbe: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = quantize(corpus, "vec_id", "v").withColumn("n_v", vec_norm2(col("v")))
    // ONE distributed top-maxCentroids pass doubles as the corpus-size probe:
    // when it returns fewer than maxCentroids rows, that number IS n and the
    // separate count() job is skipped (the service/bench shape); only a
    // corpus larger than the cap still pays the count to size centroidCap.
    // The retained prefix is identical to the old count-then-limit(cCap)
    // sample — same (hash(vec_id), vec_id) order, cCap <= maxCentroids.
    val capMax = math.max(1, maxCentroids)
    val sample = c
      .select(col("vec_id"), col("v"))
      .orderBy(hash(col("vec_id")), col("vec_id")).limit(capMax)
      .collect()
    if (sample.isEmpty) return bruteTopK(corpus, queries, k) // empty corpus
    val n = if (sample.length < capMax) sample.length.toLong else c.count()
    val cCap = centroidCap(n, capMax)
    val centVecs: Array[Array[Double]] = sample.take(cCap)
      .map(_.getSeq[Double](1).toArray)
    val dim = centVecs.map(_.length).max
    val flat = new Array[Double](centVecs.length * dim) // short vecs zero-pad
    centVecs.zipWithIndex.foreach { case (v, i) =>
      System.arraycopy(v, 0, flat, i * dim, v.length)
    }
    val nearest = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.vecexprs.VecNearest(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("v"), flat, dim))
    val assigned = c.withColumn("nc", nearest)
      .select(col("vec_id"), col("v"), col("n_v"), col("nc.cell").as("cell"),
        sqrt(greatest(col("nc.d2"), lit(0.0))).as("dc"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cells = assigned.groupBy("cell").agg(max(col("dc")).as("rc"))
    val centsDf = centVecs.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq.toDF("cent_id", "cv")
    ivfSearch(queries, assigned, cells, centsDf, k, nProbe)
  }

  /** Search internals: `assigned(vec_id, v, n_v, cell, dc)` must be a
    * PARTITION of the corpus; `cells(cell, rc)` its radii; `centsDf
    * (cent_id, cv)` the centroid vectors (capped, hence broadcastable).
    * The quantized query frame is broadcast into both rankMembers joins
    * (see ivfTopK's scale shape). */
  private def ivfSearch(queries: DataFrame, assigned: DataFrame, cells: DataFrame,
                        centsDf: DataFrame, k: Int, nProbe: Int): DataFrame = {
    // query-to-centroid distances (|q| x C, C capped): skinny rows; both
    // probe phases read them, so they are persisted (held by the
    // CacheManager until the caller clears it — see ivfTopK's lifecycle
    // note)
    val cents = centsDf.withColumn("n_c", vec_norm2(col("cv")))
    val q = quantize(queries, "query_id", "qv").withColumn("n_q", vec_norm2(col("qv")))
    val qc = q.crossJoin(broadcast(cents))
      .withColumn("dqc2", col("n_q") - lit(2.0) * vec_dot(col("qv"), col("cv")) + col("n_c"))
      .select(col("query_id"), col("cent_id"),
        sqrt(greatest(col("dqc2"), lit(0.0))).as("dqc"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val pWin = Window.partitionBy("query_id").orderBy(col("dqc"), col("cent_id"))
    val rWin = Window.partitionBy("query_id").orderBy(col("dist2"), col("vec_id"))
    def rankMembers(probes: DataFrame): DataFrame =
      probes.join(assigned, probes("cent_id") === assigned("cell"))
        .join(broadcast(q), "query_id")
        .where(col("query_id") =!= col("vec_id"))
        .withColumn("dist2",
          col("n_q") - lit(2.0) * vec_dot(col("qv"), col("v")) + col("n_v"))
        .withColumn("rnk", row_number().over(rWin))
        .where(col("rnk") <= k)

    // phase 1: nProbe nearest cells -> d_k upper bound (null if < k found,
    // which falls back to probing every cell — still exact, never wrong)
    val probes1 = qc.withColumn("prn", row_number().over(pWin))
      .where(col("prn") <= nProbe).select("query_id", "cent_id")
    val dk = rankMembers(probes1).groupBy("query_id")
      .agg(count(lit(1)).as("found"), max(sqrt(col("dist2"))).as("dk0"))
      .select(col("query_id"), when(col("found") === k, col("dk0")).as("dk"))

    // phase 2: all cells whose lower bound beats d_k (includes every
    // phase-1 cell that contributed a top-k member, by the same inequality).
    // The capped `cells` frame may broadcast freely (corpus-bounded,
    // <= maxCentroids rows).
    val probes2 = qc.join(cells, qc("cent_id") === cells("cell"))
      .join(dk, Seq("query_id"), "left")
      .where(col("dk").isNull || (col("dqc") - col("rc") <= col("dk") + lit(1e-6)))
      .select("query_id", "cent_id")
    rankMembers(probes2).select("query_id", "vec_id", "rnk", "dist2")
  }

  /** Embedding-cosine near-duplicate pairs (quantized, exact arithmetic):
    * cos = dot/(|a||b|); compared via dot^2 >= t^2 * |a|^2 |b|^2 in exact
    * integer math (no sqrt), so the threshold decision is deterministic.
    * The arithmetic is `vec_dot`'s and `vec_norm2`'s, in their order:
    * `dot > 0 && dot * dot >= (t * t) * n2(id_a) * n2(id_b)` in IEEE
    * doubles, id_a the smaller id.
    *
    * Execution: the vectors are quantized in SQL ([[quantExpr]]) and leave
    * it as (id, [norm2, components...]) rows of raw double bits, which meet
    * in [[Dedup.blockPairs]]: one RDD job per action, nothing broadcast
    * whole, no generated code between the input and output plans and no
    * cache. Every unordered pair of rows is compared exactly once, in one
    * of the B(B+1)/2 block pairs, B from [[Dedup.thetaBlocks]].
    *
    * Contract: `vec_id` is integral (the output ids keep its type; any
    * other type is refused). A null id or vector names no document.
    * Returns (id_a, id_b) with id_a < id_b. */
  def cosineDupPairs(corpus: DataFrame, threshold: Double): DataFrame = {
    val idType = Dedup.integralId(corpus.schema("vec_id").dataType, "cosineDupPairs")
    import java.lang.Double.{doubleToRawLongBits => bits, longBitsToDouble => dbl}
    // (id, [norm2, components...]) as raw double bits, the norm summed in
    // vec_norm2's order
    val vecs = Dedup.nonNullRows(quantize(corpus, "vec_id", "v"), col("vec_id").cast("long"), col("v")) { r =>
      val v = r.getArray(1).toDoubleArray()
      Some((r.getLong(0), (v.foldLeft(0.0)((s, x) => s + x * x) +: v).map(bits)))
    }
    val pairs = Dedup.blockPairs(vecs, Dedup.shufflePartitioner(corpus),
        Dedup.thetaBlocks(corpus.sparkSession)) { (x, y) =>
      var dot = 0.0
      var i = 1
      while (i < math.min(x.length, y.length)) { dot += dbl(x(i)) * dbl(y(i)); i += 1 }
      dot > 0 && dot * dot >= threshold * threshold * dbl(x(0)) * dbl(y(0))
    }
    Dedup.pairFrame(pairs, corpus.sparkSession, idType)
  }
}
