package graft.operators

import graft.core.SortedLongs
import graft.functions.GraftFunctions._
import graft.functions.textexprs
import org.apache.spark.{HashPartitioner, SortedRuns}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

/** Deduplication operators for training-data curation at 100 TB scale.
  * Exact dedup is one hash-groupBy shuffle. Every pair operator runs on
  * RDD pair operators over one `HashPartitioner`: one job each instead of
  * one adaptive-execution job per exchange, no generated code and no
  * cache. The LSH variants ([[minhashPairs]], [[simhashPairs]]) search
  * band buckets ([[bandedPairs]]), the exact Jaccard prefix join
  * ([[jaccardPairsPrefix]]) prefix-token posting lists, and the
  * small-vocabulary Jaccard route ([[jaccardPairsDict]]) and
  * [[graft.operators.Ann.cosineDupPairs]] hash blocks ([[blockPairs]]).
  * The iterative grouping stage ([[dedupGroups]]) runs on the same RDD
  * operators, one job per round (see there). Candidate generation is
  * bounded by bucketing (band buckets, prefix tokens, block pairs), so the
  * pairwise verify only runs inside a bucket or a block pair; the
  * key-sorted shuffles sort on Spark's spillable Tungsten sorter
  * ([[org.apache.spark.SortedRuns]]).
  */
object Dedup {

  /** See [[graft.ParUtil.widen]] — every signature/tokenize entry point
    * widens its source before the CPU-heavy narrow pass. */
  private def widen(df: DataFrame): DataFrame = graft.ParUtil.widen(df)

  /** Exact dedup on a key column: keeps the smallest id per key.
    * One shuffle (partial-agg map side combine applies). */
  def exactKeep(df: DataFrame, idCol: String, keyCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dupes"))

  /** Connected-component grouping over near-duplicate PAIRS — the standard
    * last stage of a dedup pipeline: pairs from [[minhashPairs]] /
    * [[simhashPairs]] / [[jaccardPairs]] /
    * [[graft.operators.Ann.cosineDupPairs]] are collapsed into groups and
    * every document gets its component's MINIMUM id as the canonical
    * representative (`rep_id`); keep rows where `idCol == rep_id`, or route
    * others to review.
    *
    * Algorithm: iterated min-label propagation with POINTER JUMPING — each
    * round first takes the min label over graph neighbors, then replaces
    * every label by its label's label (path halving), so convergence is
    * O(log diameter) rounds rather than O(diameter): an adversarial
    * near-dup CHAIN of length 10^6 resolves in ~20 rounds, not 10^6. Only
    * PAIRED nodes enter the loop — the singleton majority of a real corpus
    * is attached at the end with one left join. The first neighbor-min
    * round is fused into the seed, so clique-shaped groups (the common
    * case) converge in one confirming round.
    *
    * Execution: the whole operator runs on `RDD[(Long, Long)]` pair
    * operators over ONE shared `HashPartitioner` (the session's shuffle
    * partition count). Every join is narrow: both sides are partitioned
    * alike, so partition i of one is zipped with partition i of the other
    * and the label-sized side is built into a `LongMap`; the corpus-sized
    * node rows are only streamed (a cogroup-based version, which buffers
    * every key of both sides, took twice as long on `ScaleBench dedup` at
    * 4M ids). A round is three skinny shuffles (messages to neighbors, the
    * pointer jump's request to the label's partition, the answer back) and
    * ONE action: the changed-label count, which also materializes the
    * round's labels. No round is a SQL plan, so no round generates code or
    * pays adaptive execution's job per exchange; a dedup pass's generated
    * classes then fit the session's codegen cache instead of being
    * recompiled every pass. Every shuffled record's key and value is a
    * primitive `Long`: Spark picks Kryo for a `partitionBy`/`reduceByKey`
    * shuffle only when both classes qualify (a tuple value falls back to
    * Java serialization, measured 28% slower on `ScaleBench dedup` at one
    * core). Ids are read as `bigint`; a null id names no document and gets
    * no row.
    *
    * The edge list is persisted once; each round's labels are
    * checkpoint-truncated, or the lineage would grow by a round each time,
    * and the previous round's blocks are freed at once. Durability: when
    * the session has a checkpoint dir (`sc.setCheckpointDir`) rounds are
    * truncated with a reliable `checkpoint()`, which survives executor
    * loss on a real cluster, as GraphX and MLlib's iterative algorithms
    * do; without one they use executor-local `localCheckpoint()`, which is
    * correct and needs no checkpoint-dir I/O in local mode.
    *
    * Exactness: labels start at own id and only ever decrease via mins over
    * component members, so the fixpoint label of every node is exactly the
    * component minimum — no data assumptions, DuckDB-oracle-provable via a
    * recursive-CTE transitive closure (q51). */
  def dedupGroups(nodes: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val spark = nodes.sparkSession
    val reliable = spark.sparkContext.getCheckpointDir.isDefined
    val part = shufflePartitioner(nodes)
    // marks `rdd` for truncation; the next action over it materializes it
    def truncate(rdd: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      if (reliable) rdd.persist(StorageLevel.MEMORY_AND_DISK).checkpoint()
      else rdd.localCheckpoint()
      rdd
    }
    // (id, 0L) per node row: the key set of the two semi-joins, and the
    // rows that get the final labels
    val nodeRows = nonNullRows(nodes, col(idCol).cast("long"))(r => Some((r.getLong(0), 0L))).partitionBy(part)
    // Every join below zips two RDDs partitioned by `part` (partition i of
    // one holds exactly the keys of partition i of the other) and builds a
    // LongMap of the pair- or label-sized side.
    // `rows` kept where their key is a node id (a semi-join)
    def keepNodes(rows: RDD[(Long, Long)]): RDD[(Long, Long)] =
      rows.zipPartitions(nodeRows, preservesPartitioning = true) { (rs, ns) =>
        val buf = rs.toArray
        val isNode = mutable.LongMap.from(buf.iterator.map(r => (r._1, false)))
        ns.foreach { case (id, _) => if (isNode.contains(id)) isNode(id) = true }
        buf.iterator.filter(r => isNode(r._1))
      }
    // each row (k, v) whose key has a `table` value t becomes f(k, v, t);
    // `table` holds one value per key
    def lookup(rows: RDD[(Long, Long)], table: RDD[(Long, Long)], sameKey: Boolean)(
        f: (Long, Long, Long) => (Long, Long)): RDD[(Long, Long)] =
      rows.zipPartitions(table, preservesPartitioning = sameKey) { (rs, ts) =>
        val m = mutable.LongMap.from(ts)
        rs.collect { case (k, v) if m.contains(k) => f(k, v, m(k)) }
      }
    // pairs referencing ids absent from `nodes` (stale/filtered pair
    // files) are dropped up front: otherwise a foreign id could win the
    // component minimum and be emitted as a rep_id that names no real
    // document. Both directions keyed by src, kept if src is a node, then
    // re-keyed by dst and kept if dst is a node: the edge set is symmetric,
    // so the survivors keyed by dst are exactly the valid edges keyed by src.
    // Persisted once: `pairs` is usually the lazy output of a whole
    // near-dup pipeline (minhash signatures + band join for q51), and every
    // round reads the edge list.
    val edges = keepNodes(keepNodes(
        nonNullRows(pairs, col("id_a").cast("long"), col("id_b").cast("long")) { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          Iterator((a, b), (b, a))
        }.partitionBy(part))
        .map(_.swap).partitionBy(part))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // seed = the first neighbor-min round: min(neighbors ∪ self), a narrow
    // aggregate over the src-partitioned edges; its count (the paired-node
    // count) is the action that materializes the edges and the seed
    var labels = truncate(edges.reduceByKey(part, math.min(_, _))
      .mapPartitions(_.map { case (id, l) => (id, math.min(id, l)) }, preservesPartitioning = true))
    var changed = labels.count()
    while (changed > 0) {
      // neighbor min: lbl'(v) = min(lbl(v), min over u~v of lbl(u));
      // persisted because the pointer jump reads it three times
      val nbrMin = lookup(edges, labels, sameKey = false)((_, dst, l) => (dst, l))
        .union(labels).reduceByKey(part, math.min(_, _))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // pointer jump: lbl''(v) = min(lbl'(v), lbl'(lbl'(v))). Each node
      // asks its label's partition for the label's label (labels are node
      // ids, so every request is answered), and the answer goes back to the
      // node's partition to meet its own label.
      val answers = lookup(nbrMin.map(_.swap).partitionBy(part), nbrMin, sameKey = false)(
        (_, id, jl) => (id, jl))
      val next = truncate(lookup(answers.partitionBy(part), nbrMin, sameKey = true)(
        (id, jl, l) => (id, math.min(jl, l))))
      changed = lookup(next, labels, sameKey = false)((_, n, o) => (n, o))
        .filter(r => r._1 != r._2).count()
      nbrMin.unpersist(false) // next is materialized; the round cache is dead
      labels.unpersist(false)
      labels = next
    }
    edges.unpersist(false) // the final join reads only labels + nodes
    // singletons (no label) represent themselves
    val groups = nodeRows.zipPartitions(labels) { (ns, ls) =>
      val m = mutable.LongMap.from(ls)
      ns.map { case (id, _) => (id, m.getOrElse(id, id)) }
    }
    spark.createDataFrame(groups).toDF(idCol, "rep_id")
  }

  /** MinHash+LSH near-duplicate candidate pairs above a Jaccard estimate
    * threshold: shingle -> minhash signature -> band buckets -> verify
    * with the signature agreement rate (marginally unbiased Jaccard
    * estimator; note the SQL-portable affine permutation family trades
    * statistical independence across rows for oracle reproducibility — the
    * rows are correlated, so `est_jaccard` is coarser than an ideal
    * 64-trial estimate).
    *
    * Execution: one lazy job on [[bandedPairs]]. The signature
    * ([[graft.functions.textexprs.minhashOf]] over the text's shingles)
    * and its band keys ([[graft.functions.textexprs.bandKey]]) are computed
    * in the RDD pass that feeds the bucket sort, so only documents sharing
    * a band bucket meet, the verify is a compare of two signatures, and no
    * SQL plan, generated code or cache sits between the input and the
    * pairs.
    *
    * Contract: `idCol` is integral (the output ids keep its type; any
    * other type is refused). A null id or text, or a text with no word
    * (zero shingles, no signature), names no document. */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleW: Int = 3,
      threshold: Double = 0.7): DataFrame = {
    val (docs, idType) = docTexts(df, idCol, textCol, "minhashPairs")
    val sigs = docs.flatMap { case (id, text) =>
      val sh = textexprs.shingles(text, shingleW)
      if (sh.isEmpty) None else Some((id, textexprs.minhashOf(sh, numHashes)))
    }
    pairFrame(minhashSigPairs(sigs, shufflePartitioner(df), numHashes, bands, threshold),
      df.sparkSession, idType, "est_jaccard")
  }

  /** The pairs of [[minhashPairs]] over (id, numHashes-long signature)
    * rows: (smaller id, larger id, est_jaccard). */
  private[graft] def minhashSigPairs(sigs: RDD[(Long, Array[Long])], part: HashPartitioner,
                                     numHashes: Int, bands: Int,
                                     threshold: Double): RDD[(Long, Long, Double)] = {
    // bands beyond the signature length would hash ZERO elements — every
    // doc would get the identical constant key there, degenerating the
    // candidate search into all-pairs — so clamp first
    val nBands = math.min(bands, numHashes)
    // one-row-band mode (bands == numHashes, recall provably 1.0): a pair
    // above threshold agrees on >= ceil(t*n) positions, so it disagrees on
    // at most n - ceil(t*n) — among any fixed n - ceil(t*n) + 1 positions
    // at least one agrees (pigeonhole). Probing only that prefix of bands
    // halves the bucket entries at t = 0.5 with zero recall loss.
    val probeBands =
      if (nBands >= numHashes) nBands - math.ceil(threshold * numHashes).toInt + 1
      else nBands
    // entries are [band, id, sig...]: the agreement counts positions 2..
    bandedPairs(sigs, part)(
        sig => Array.tabulate(math.max(0, probeBands))(textexprs.bandKey(sig, nBands, _))) { (x, y) =>
      var agree = 0
      var i = 2
      while (i < x.length) { if (x(i) == y(i)) agree += 1; i += 1 }
      agree
    }(_.toDouble / numHashes >= threshold)
      .map { case (a, b, agree) => (a, b, agree.toDouble / numHashes) }
  }

  /** SimHash near-dup pairs: bucket by the 4 15-bit sub-bands of the 60-bit
    * signature (any pair at hamming distance <= 3 shares at least one exact
    * sub-band — pigeonhole, so recall is PROVABLY 1.0 at maxHamming <= 3),
    * verify by full hamming distance. Same one-job [[bandedPairs]]
    * execution and contract as [[minhashPairs]]; a bucket key is its band
    * index above the sub-band's 15 bits. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame = {
    val (docs, idType) = docTexts(df, idCol, textCol, "simhashPairs")
    val sigs = docs.flatMap { case (id, text) =>
      val ws = textexprs.words(text)
      if (ws.isEmpty) None else Some((id, Array(textexprs.simhashOf(ws))))
    }
    val pairs = bandedPairs(sigs, shufflePartitioner(df))(
        sig => Array.tabulate(4)(b => (b.toLong << 15) | ((sig(0) >>> (15 * b)) & 32767L)))(
        (x, y) => java.lang.Long.bitCount(x(2) ^ y(2)))(_ <= maxHamming)
    pairFrame(pairs, df.sparkSession, idType, "hamming")
  }

  /** The banded-bucket pair search of [[minhashPairs]] and
    * [[simhashPairs]], as one lazy pipeline of RDD operators over one
    * `HashPartitioner`. Each (id, sig) enters the bucket of each of its
    * band keys (`keys(sig)`, indexed by band); two documents are a
    * candidate when they share a bucket IN THE SAME BAND, and a candidate
    * is kept when `keep(score(x, y))` on its two [band, id, sig...]
    * entries. Returns (smaller id, larger id, score), each pair once.
    *   1. (bucket, [band, id, sig...]) entries are sorted by bucket
    *      ([[org.apache.spark.SortedRuns]]); a bucket's run is split by
    *      exact band (two bands can share a key) and each new pair of a
    *      band group is scored, the pairs this task already met skipped in
    *      a bounded [[PairSet]];
    *   2. kept pairs (smaller id, [larger id, score]) are sorted by the
    *      smaller id, and each run drops the partners it repeats (a pair
    *      met in two tasks, or forgotten by the set).
    * A bucket's run is held while its pairs are enumerated (a hub bucket's
    * candidates are quadratic in it either way); the sorts spill. Keys and
    * values are `Long` and `Array[Long]`, so every shuffle uses Kryo. */
  private def bandedPairs(sigs: RDD[(Long, Array[Long])], part: HashPartitioner)(
      keys: Array[Long] => Array[Long])(score: (Array[Long], Array[Long]) => Int)(
      keep: Int => Boolean): RDD[(Long, Long, Int)] = {
    val entries = sigs.flatMap { case (id, sig) =>
      val ks = keys(sig)
      Iterator.tabulate(ks.length) { b =>
        val e = new Array[Long](sig.length + 2)
        e(0) = b; e(1) = id
        System.arraycopy(sig, 0, e, 2, sig.length)
        (ks(b), e)
      }
    }
    val kept = SortedRuns.byKey(entries, part).mapPartitions { it =>
      val seen = new PairSet
      runs(it).flatMap { case (_, vs) =>
        val group = vs.toArray.sortBy(_(0)) // by band
        Iterator.range(0, group.length).flatMap { i =>
          val x = group(i)
          Iterator.range(i + 1, group.length).takeWhile(j => group(j)(0) == x(0)).flatMap { j =>
            val y = group(j)
            val (a, b) = (math.min(x(1), y(1)), math.max(x(1), y(1)))
            if (a == b || !seen.add(a, b)) Iterator.empty
            else {
              val s = score(x, y)
              if (keep(s)) Iterator.single((a, Array(b, s.toLong))) else Iterator.empty
            }
          }
        }
      }
    }
    SortedRuns.byKey(kept, part).mapPartitions { it =>
      runs(it).flatMap { case (a, vs) =>
        val bs = vs.toArray.sortBy(_(0))
        Iterator.range(0, bs.length).collect {
          case k if k == 0 || bs(k)(0) != bs(k - 1)(0) => (a, bs(k)(0), bs(k)(1).toInt)
        }
      }
    }
  }

  /** The block-pair pair search of [[jaccardPairsDict]] and
    * [[graft.operators.Ann.cosineDupPairs]], the 1-Bucket-Theta shape of
    * Okcan and Riedewald (SIGMOD'11) as one lazy pipeline of RDD operators
    * over one `HashPartitioner`. Each (id, payload) row falls in block
    * b = mix64(id) mod `blocks` and is sent to the `blocks` keys of the
    * unordered block pairs (min(b, j), max(b, j)); the entries are sorted
    * by key ([[org.apache.spark.SortedRuns]]) and each run compares its
    * lower block's rows with its upper block's, or, on a diagonal key, each
    * two of its rows once. So every unordered pair of rows meets exactly
    * once, at any `blocks`, and no dedup shuffle follows. A pair is kept
    * when `keep(payload of the smaller id, payload of the larger id)`;
    * returns (smaller id, larger id), and rows with equal ids never pair.
    * A run holds the rows of its two blocks while it compares them (the
    * compares are quadratic in them either way); the sort spills. */
  private[graft] def blockPairs(rows: RDD[(Long, Array[Long])], part: HashPartitioner, blocks: Int)(
      keep: (Array[Long], Array[Long]) => Boolean): RDD[(Long, Long)] = {
    // dense key of the block pair (lo <= hi), so consecutive keys spread
    // over the partitions
    def key(lo: Int, hi: Int): Long = lo.toLong * blocks - lo.toLong * (lo - 1) / 2 + (hi - lo)
    val entries = rows.flatMap { case (id, v) =>
      val b = java.lang.Math.floorMod(textexprs.mix64(id), blocks.toLong).toInt
      val e = Array(b.toLong, id) ++ v // [block, id, payload...]
      Iterator.tabulate(blocks)(j => (key(math.min(b, j), math.max(b, j)), e))
    }
    SortedRuns.byKey(entries, part).mapPartitions { it =>
      runs(it).flatMap { case (k, vs) =>
        val group = vs.toArray.sortBy(_(0))
        val (n, ids, payloads) = (group.length, group.map(_(1)), group.map(_.drop(2)))
        val lo = group(0)(0).toInt
        val diagonal = k == key(lo, lo)
        // off the diagonal, the lower block's rows meet the upper block's,
        // from its first row on (-1, meeting none, if that block is empty)
        val upper = if (diagonal) 0 else group.indexWhere(_(0) != lo)
        Iterator.range(0, if (diagonal) n else upper).flatMap { i =>
          Iterator.range(if (diagonal) i + 1 else upper, n).flatMap { j =>
            val (s, l) = if (ids(i) < ids(j)) (i, j) else (j, i)
            if (ids(s) != ids(l) && keep(payloads(s), payloads(l))) Some((ids(s), ids(l))) else None
          }
        }
      }
    }
  }

  /** Block count of [[blockPairs]]: B = max(4, ceil(sqrt(4 *
    * defaultParallelism))), so the B(B+1)/2 block pairs number about twice
    * the task slots at any cluster size without caller tuning. Each row is
    * sent B times; the output is the same at every B. */
  private[graft] def thetaBlocks(spark: SparkSession): Int =
    math.max(4, math.ceil(math.sqrt(4.0 * spark.sparkContext.defaultParallelism)).toInt)

  /** (id, text) rows of `df` for the signature operators, spread over at
    * least `defaultParallelism` partitions by an id-hashed `partitionBy`:
    * [[widen]] at the RDD level, so building the rows runs no job (a
    * DataFrame widen is an exchange, which adaptive execution runs as a job
    * of its own when the RDD is built). Returns the id column's type, which
    * must be integral. A null id or text names no document. */
  private def docTexts(df: DataFrame, idCol: String, textCol: String,
                       op: String): (RDD[(Long, String)], DataType) = {
    val idType = integralId(df.schema(idCol).dataType, op)
    val rows = nonNullRows(df, col(idCol).cast("long"), col(textCol).cast("string"))(
      r => Some((r.getLong(0), r.getString(1))))
    val par = df.sparkSession.sparkContext.defaultParallelism
    (if (rows.getNumPartitions >= par) rows else rows.partitionBy(new HashPartitioner(par)), idType)
  }

  /** `t`, if it is an integral type: the id types the RDD operators carry
    * as `Long` and cast back. */
  private[operators] def integralId(t: DataType, op: String): DataType = {
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(t),
      s"$op needs an integral id column, got ${t.simpleString}")
    t
  }

  /** The `HashPartitioner` of the RDD operators: the session's shuffle
    * partition count. */
  private[operators] def shufflePartitioner(df: DataFrame): HashPartitioner =
    new HashPartitioner(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** (id_a, id_b, `scoreCols`...) rows of an RDD operator's pairs, the
    * ids cast back to `idType`. */
  private[operators] def pairFrame[P <: Product: TypeTag](pairs: RDD[P], spark: SparkSession,
                                                          idType: DataType, scoreCols: String*): DataFrame = {
    val out = spark.createDataFrame(pairs).toDF("id_a" +: "id_b" +: scoreCols: _*)
    if (idType == LongType) out
    else out.select(col("id_a").cast(idType) +: col("id_b").cast(idType) +: scoreCols.map(col): _*)
  }

  /** Exact word-set Jaccard similar pairs. Adaptive: one cheap probe
    * decides between two provably-equivalent plans —
    *
    *  - tiny global vocabulary (<= 64 distinct tokens, common for tag /
    *    category / template corpora): [[jaccardPairsDict]] — token sets
    *    dictionary-encoded into a single 64-bit mask, identical masks
    *    collapsed, and mask pairs compared with one popcount each in a
    *    block-pair search. Per-pair cost is two bit-ops instead of a
    *    sorted-array merge, and duplicate masks pay once.
    *  - otherwise: [[jaccardPairsPrefix]] — PPJoin-style prefix filter.
    *
    * Both routes are one RDD job per action that caches nothing, and
    * return the same pairs: (smaller id, larger id, jaccard), a null id or
    * text naming no document. Tokens are carried as 64-bit `xxhash64`
    * values (see [[tokenSets]]), the same sorted-long representation as
    * [[ngramJaccardPairs]]. The probe is one job that caches nothing; the
    * chosen plan tokenizes again. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, minTokenLen: Int = 0): DataFrame =
    adaptiveJaccard(tokenSets(df, idCol, textCol, minTokenLen), threshold)

  /** CHARACTER-n-gram Jaccard near-dup pairs — the n-gram flavor of
    * [[jaccardPairs]] (word-order-sensitive where the word-set variant is
    * not: a shuffled word salad shares the word set but few 12-grams).
    * The gram set is `distinct(substring(text, i, n) for i in 1..len-n+1)`
    * — a narrow per-row expression; a text shorter than n contributes its
    * whole self as the single gram (both engines' substring semantics, so
    * the DuckDB oracle reproduces it verbatim, q52). Empty texts pair with
    * each other as exact duplicates (one empty gram), consistent on both
    * sides.
    *
    * Grams are carried as PORTABLE 60-bit md5 hashes (the q23/q26 hash:
    * `conv(substr(md5(g), 1, 15), 16, 10)`, recomputed verbatim by the
    * oracle) rather than strings: candidate verification merges long
    * arrays instead of 12-char strings — measured 26 s -> ~8 s at sf0.1,
    * where a template corpus defeats prefix filtering and verification is
    * near-all-pairs. Jaccard over injectively-hashed grams equals gram
    * Jaccard except under a 60-bit collision (p < 1e-9 per corpus), and
    * both engines hash identically so the comparison can never drift.
    * Goes straight to the PPJoin prefix plan (an n-gram vocabulary is
    * never <= 64), with no probe and no cache: the gram pass runs once,
    * inside the prefix plan's one job. A null text has no gram set and
    * pairs with nothing. For web-scale fuzzy matching use [[minhashPairs]]
    * (LSH-bounded candidates); exact n-gram Jaccard is the verifier tier. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 12, threshold: Double = 0.8): DataFrame = {
    require(n >= 1, "ngramJaccardPairs needs n >= 1")
    // ngram_hash_set: one narrow kernel pass producing the sorted distinct
    // hash set directly (replaces a sequence/transform/md5-hex/conv/
    // array_distinct/array_sort SQL chain that allocated a hex string and
    // a string-parse per gram)
    val grams = widen(df).select(col(idCol).as("id"),
        ngram_hash_set(col(textCol), n).as("toks"))
    jaccardPairsPrefix(grams, threshold)
  }

  /** Shared dispatch: one bounded vocabulary probe picks the
    * dictionary/bitmask plan for tiny vocabularies (<= 64 distinct tokens),
    * the PPJoin-style prefix plan otherwise.
    *
    * The probe is one job over the tokenize RDD: each partition stops once
    * it has seen 65 distinct tokens, and the driver unions at most 65 per
    * partition, capped at 65. A union of 64 or fewer means no partition
    * stopped early, so it is the whole vocabulary and the route is exact. A
    * large-vocabulary corpus only tokenizes up to its first 65 distinct
    * tokens per partition. Nothing is cached: the chosen plan tokenizes
    * again, which costs less than caching the tokenize frame for one more
    * read. Unordered:
    * [[jaccardPairsDict]] sorts the vocabulary itself. */
  private def adaptiveJaccard(toks: DataFrame, threshold: Double): DataFrame = {
    val vocab = toks.select(col("toks")).queryExecution.toRdd
      .mapPartitions { rows =>
        val seen = mutable.LongMap.empty[Unit]
        while (rows.hasNext && seen.size <= 64) {
          val r = rows.next()
          if (!r.isNullAt(0)) {
            val ts = r.getArray(0)
            var i = 0
            while (i < ts.numElements() && seen.size <= 64) { seen(ts.getLong(i)) = (); i += 1 }
          }
        }
        Iterator.single(seen.keys.toArray)
      }
      .collect().iterator.flatten.distinct.take(65).toArray
    if (vocab.length <= 64) jaccardPairsDict(toks, vocab, threshold)
    else jaccardPairsPrefix(toks, threshold)
  }

  /** Word token sets as SORTED, duplicate-free `array<bigint>`: the tokens
    * of `split(text, ' ')` (empty tokens from repeated or trailing spaces
    * included), filtered to `length >= minTokenLen`, each hashed with
    * Spark's built-in `xxhash64`. Set Jaccard over the hashes equals set
    * Jaccard over the words except under a 64-bit collision, and the
    * sorted-long contract is the one [[jaccardPairsPrefix]]'s merge verify
    * and [[jaccardPairsDict]]'s mask encoding read. A text with no token
    * left has the empty set, which both routes pair with nothing (Jaccard
    * over two empty sets is 0/0). */
  private[graft] def tokenSets(df: DataFrame, idCol: String, textCol: String,
                               minTokenLen: Int): DataFrame =
    widen(df).select(col(idCol).as("id"),
        array_sort(array_distinct(transform(
          filter(split(col(textCol), " "), t => length(t) >= minTokenLen),
          t => xxhash64(t)))).as("toks"))

  /** Dictionary/bitmask plan (vocab <= 64): every token set becomes a long
    * bitmask (bit i is the i-th token of the sorted vocabulary), and the
    * pair search runs over DISTINCT masks, so a duplicate group costs one
    * comparison, not |group|^2. The Jaccard test is
    * bitCount(a & b) / bitCount(a | b) as a double compare: the same
    * integers as |intersect| / |union| on the sets, so the threshold
    * decision is bit-identical to the naive and prefix plans.
    *
    * Execution: one lazy pipeline of RDD operators over one
    * `HashPartitioner`, the model of [[jaccardPairsPrefix]]: one Spark job
    * per action, no generated code between its input and output plans and
    * no cache.
    *   1. (mask, id) rows are sorted by mask, so a run is one
    *      identical-set group; each run emits its own pairs at J = 1.0 and
    *      one distinct-mask row;
    *   2. the distinct masks meet in [[blockPairs]], one popcount pair per
    *      compare;
    *   3. each qualifying mask pair (m_a, m_b) is sorted by m_a and merged
    *      with the runs to pick up m_a's ids, then sorted by m_b and merged
    *      again, where m_a's ids meet m_b's.
    * The mask-sorted runs are read four times (steps 1, 2 and both merges
    * of 3) rather than cached, each read re-sorting the shuffled records.
    * A group's ids are held as one array while its pairs are emitted (they
    * are quadratic in it either way).
    *
    * Contract: `toks` holds (id, toks) as for [[jaccardPairsPrefix]] (an
    * integral `id`, kept in the output; a sorted, duplicate-free
    * `array<bigint>`), and `vocab` every token of `toks`, at most 64 (a
    * token outside it fails the job). A null id or a null set names no
    * document, and an empty set pairs with nothing. */
  def jaccardPairsDict(toks: DataFrame, vocab: Array[Long],
                       threshold: Double): DataFrame = {
    val idType = integralId(toks.schema("id").dataType, "jaccardPairsDict")
    val dict = vocab.distinct.sorted
    require(dict.length <= 64, s"jaccardPairsDict takes at most 64 tokens, got ${dict.length}")
    val part = shufflePartitioner(toks)
    def jaccard(a: Long, b: Long): Double =
      java.lang.Long.bitCount(a & b).toDouble / java.lang.Long.bitCount(a | b).toDouble
    // 1. (mask, sorted ids) per identical-set group, in mask order
    val maskIds = nonNullRows(toks, col("id").cast("long"), col("toks")) { r =>
      val mask = r.getArray(1).toLongArray().foldLeft(0L) { (m, t) =>
        val bit = java.util.Arrays.binarySearch(dict, t)
        require(bit >= 0, s"token $t is not in the vocabulary")
        m | 1L << bit
      }
      if (mask == 0L) None else Some((mask, r.getLong(0)))
    }
    val groups = SortedRuns.byKey(maskIds, part)
      .mapPartitions(runs(_).map { case (m, ids) => (m, ids.toArray.sorted) }, preservesPartitioning = true)
    val same = groups.flatMap { case (_, ids) =>
      for (i <- Iterator.range(0, ids.length); j <- Iterator.range(i + 1, ids.length) if ids(i) < ids(j))
        yield (ids(i), ids(j), 1.0)
    }
    // 2. distinct-mask pairs (m_a < m_b)
    val maskPairs = blockPairs(groups.map { case (m, _) => (m, Array(m)) }, part, thetaBlocks(toks.sparkSession))(
      (x, y) => jaccard(x(0), y(0)) >= threshold)
    // 3. m_a's ids, m_a appended, go to m_b's partition and meet m_b's ids
    val toLarger = mergeSorted(SortedRuns.byKey(maskPairs, part), groups)((ma, mb, ids) => Some((mb, ids :+ ma)))
    val cross = mergeSorted(SortedRuns.byKey(toLarger, part), groups) { (mb, idsA, idsB) =>
      val j = jaccard(idsA.last, mb)
      for (a <- idsA.iterator.take(idsA.length - 1); b <- idsB.iterator if a != b)
        yield (math.min(a, b), math.max(a, b), j)
    }
    pairFrame(same.union(cross), toks.sparkSession, idType, "jaccard")
  }

  /** Benchmark decontamination — the standard train/test-overlap check a
    * real curation pipeline runs before training: flag every corpus
    * document sharing at least one exact word n-gram (default n = 13, the
    * common protocol) with any document of an evaluation set. Returns one
    * row per contaminated (corpus doc, eval doc) pair with the count of
    * distinct shared grams.
    *
    * Scale shape: the eval side is small BY NATURE (benchmarks are
    * thousands of docs, the corpus is billions), so its distinct gram
    * hashes are broadcast and the corpus side pays exactly one narrow
    * gram-kernel pass + a broadcast semi-ish join — the 100 TB corpus is
    * never shuffled on raw text, and the only shuffle carries surviving
    * (id, eval_id) hits, which are rare by construction. Grams are the
    * portable 60-bit md5 hashes ([[graft.functions.textexprs.portableHash60]]),
    * so a SQL oracle recomputes the whole check verbatim (q54). */
  def contaminationPairs(corpus: DataFrame, idCol: String, textCol: String,
                         evalSet: DataFrame, evalIdCol: String, evalTextCol: String,
                         n: Int = 13): DataFrame = {
    require(n >= 1, "contamination check needs n >= 1")
    val evalGrams = widen(evalSet).select(col(evalIdCol).as("eval_id"),
      explode(word_ngram_hash_set(col(evalTextCol), n)).as("gram"))
    val corpusGrams = widen(corpus).select(col(idCol).as(idCol),
      explode(word_ngram_hash_set(col(textCol), n)).as("gram"))
    // per-doc gram sets are already distinct (kernel contract), so the
    // count after the gram equijoin is exactly |grams(doc) ∩ grams(eval)|
    corpusGrams.join(broadcast(evalGrams), "gram")
      .groupBy(idCol, "eval_id").agg(count(lit(1)).as("shared_grams"))
  }

  /** PPJoin-style prefix-filtered plan (general vocabularies —
    * Bayardo et al. WWW'07, Vernica et al. SIGMOD'10 for the MapReduce
    * shape). Provably the same output as the naive all-token join, at a
    * fraction of the fan-out:
    *
    *   1. global token order = (document frequency asc, token hash asc)
    *      — hub tokens ("the") sort LAST;
    *   2. each doc indexes only its first p = sz - ceil(t/(1+t) * sz) + 1
    *      tokens in that order (its rarest ~53% at t = 0.9). Completeness:
    *      if two sets with J >= t shared no prefix token, every common
    *      token would lie in one of the two suffixes, so
    *      overlap <= (ceil(c*sa) - 1) + (ceil(c*sb) - 1) < c*(sa+sb)
    *      with c = t/(1+t) — but J >= t forces overlap >= c*(sa+sb).
    *      Contradiction, so every qualifying pair collides on a prefix
    *      token. Hub tokens never enter the index, so the candidate
    *      fan-out is bounded by rare-token df, not corpus size;
    *   3. candidates are size-filtered (t * max(sa, sb) <= min(sa, sb) is
    *      necessary for J >= t) and position-filtered (PPJoin, Xiao et al.
    *      WWW'08: a pair is dropped under a token whose positions bound
    *      the overlap below t if that token were the pair's first common
    *      one — see [[CandidatePairs]] why that loses no pair), then
    *      verified EXACTLY on the full token sets with the
    *      allocation-free two-pointer merge
    *      [[graft.core.SortedLongs.interCount]]: a pair is kept when
    *      inter / (sa + sb - inter) >= t as a double compare, with
    *      id_a < id_b — no approximation anywhere.
    *
    * Execution: one lazy pipeline of RDD pair operators over ONE
    * `HashPartitioner` (the session's shuffle partition count), the model
    * of [[dedupGroups]], so a call costs the caller's action ONE Spark job,
    * generates no code between its input and output plans and caches
    * nothing:
    *   1. (tok, id) rows are shuffled by token and sorted within each
    *      partition, so a token's posting list is one run and its length
    *      is the token's exact document frequency — no frequency
    *      aggregate and no frequency join;
    *   2. one shuffle by id gives each document its (tok, df) entries:
    *      its sorted full set, and its prefix in (df, tok) order;
    *   3. one shuffle of prefix entries by token emits each posting list's
    *      filtered pairs (smaller id, larger id), deduplicated map-side in
    *      a bounded primitive open-addressing set;
    *   4. one shuffle by the smaller id deduplicates its pairs and attaches
    *      its set, and one shuffle by the larger id verifies against that
    *      id's set.
    * Every key-sorted shuffle (steps 1, 2, 3 and the verify's) sorts with
    * [[org.apache.spark.SortedRuns]]: Spark's Tungsten sorter, which
    * accounts memory in bytes, radix-sorts the `Long` key and spills (the
    * shuffle reader's boxed sort it replaces spent most of its time in
    * `SizeEstimator` sampling). The by-id output of step 2 is read three
    * times (steps 3, 4 and 4 again) rather than cached, each read
    * re-sorting the shuffled records. Token-keyed stages hold one posting
    * list at a time. The by-id stages stream the documents in id order,
    * one at a time: the verify merges them with the
    * id-sorted payloads, and the pair dedup holds only its partition's
    * candidate pairs, in a `LongMap` (8 bytes a pair: the candidate-sized
    * side, as in [[dedupGroups]]' joins). Every shuffled key is a `Long`
    * and every value a `Long` or an `Array[Long]`, so Spark picks Kryo for
    * every shuffle (see [[dedupGroups]]), and per-row code works on
    * primitive arrays. The result comes back through `createDataFrame`.
    * Under adaptive execution, an input plan with an exchange of its own
    * (a `widen` repartition, say) runs that exchange as a separate job
    * when the call builds its input RDD; a scan or a cached frame does
    * not.
    *
    * Contract: `toks` holds (id, toks) with an integral `id` (the output
    * ids keep its type; any other type is refused) and `toks` a SORTED,
    * duplicate-free `array<bigint>` — [[tokenSets]] and `ngram_hash_set`
    * both produce it; other columns are ignored. A null id or a null set
    * names no document, and an empty set pairs with nothing (J of two
    * empty sets is 0/0). */
  def jaccardPairsPrefix(toks: DataFrame, threshold: Double): DataFrame = {
    val idType = integralId(toks.schema("id").dataType, "jaccardPairsPrefix")
    val part = shufflePartitioner(toks)
    val c = threshold / (1.0 + threshold)
    // 1-2. (tok, id) by token: a run is one posting list, its length the
    // token's df; then (id, [tok, df, ...]) by id, one run per document
    val tokIds = nonNullRows(toks, col("id").cast("long"), col("toks")) { r =>
      val id = r.getLong(0)
      r.getArray(1).toLongArray().iterator.map((_, id))
    }
    val byId = SortedRuns.byKey(SortedRuns.byKey(tokIds, part).mapPartitions { it =>
        // a document's [tok, df, tok, df, ...] entries leave in one record
        // per batch, so the by-id shuffle moves about one record per
        // document and task, not one per token; a batch holds at most
        // `batchEntries` entries, never the whole partition
        val ids = new LongBuf
        val batch = mutable.LongMap.empty[LongBuf]
        var held = 0
        def flush(): Iterator[(Long, Array[Long])] = {
          val out = batch.toArray.map { case (id, b) => (id, java.util.Arrays.copyOf(b.array, b.size)) }
          batch.clear(); held = 0
          out.iterator
        }
        runs(it).flatMap { case (tok, vs) =>
          ids.clear(); vs.foreach(ids += _)
          val df = ids.size.toLong
          var i = 0
          while (i < ids.size) {
            val b = batch.getOrElseUpdate(ids(i), new LongBuf)
            b += tok; b += df
            i += 1
          }
          held += ids.size
          if (held >= batchEntries) flush() else Iterator.empty
        } ++ flush()
      }, part)
    // every document's full sorted set, in id order
    val docs = byId.mapPartitions({ it =>
      val buf = new LongBuf
      runs(it).map { case (id, vs) =>
        buf.clear()
        vs.foreach { e => var k = 0; while (k < e.length) { buf += e(k); k += 2 } }
        val set = java.util.Arrays.copyOf(buf.array, buf.size)
        java.util.Arrays.sort(set)
        (id, set)
      }
    }, preservesPartitioning = true)
    // 3. prefix entries (tok, [id, sz << 32 | position]) by token ->
    // candidate pairs
    val prefixes = byId.mapPartitions { it =>
      val toks = new LongBuf
      val dfs = new LongBuf
      runs(it).flatMap { case (id, vs) =>
        toks.clear(); dfs.clear()
        vs.foreach { e => var k = 0; while (k < e.length) { toks += e(k); dfs += e(k + 1); k += 2 } }
        val sz = toks.size
        val set = java.util.Arrays.copyOf(toks.array, sz)
        java.util.Arrays.sort(set)
        // (df asc, tok asc) as one long: df (saturated at 2^32 - 1, still
        // one global total order) above the token's index in the sorted set
        val order = new Array[Long](sz)
        var i = 0
        while (i < sz) {
          order(i) = (math.min(dfs(i), 0xFFFFFFFFL) << 31) |
            java.util.Arrays.binarySearch(set, toks(i))
          i += 1
        }
        java.util.Arrays.sort(order)
        // FP-safe overlap bound: subtract an epsilon before ceil so a
        // rounding artifact that lands c*sz infinitesimally ABOVE an exact
        // integer cannot shorten the prefix by one (longer prefix = extra
        // candidates only; the exact verify removes them)
        val plen = math.min(sz, sz - math.ceil(c * sz - 1e-9).toInt + 1)
        // each entry carries the token's position k in the doc's global
        // order, for the positional filter of step 3
        Iterator.tabulate(plen)(k =>
          (set((order(k) & 0x7FFFFFFFL).toInt), Array(id, (sz.toLong << 32) | k)))
      }
    }
    val cands = SortedRuns.byKey(prefixes, part)
      .mapPartitions(it => new CandidatePairs(runs(it), threshold))
    // 4. by the smaller id: its partners are held in a LongMap (the
    // candidate-sized side, as in dedupGroups' narrow joins) while the
    // documents stream past; each distinct partner is sent the id's set
    // (with the id appended) to the larger id's partition
    val withSetA = cands.partitionBy(part)
      .zipPartitions(docs) { (cs, ds) =>
        val partners = mutable.LongMap.empty[LongBuf]
        cs.foreach { case (a, b) => partners.getOrElseUpdate(a, new LongBuf) += b }
        ds.flatMap { case (a, set) =>
          partners.get(a) match {
            case None => Iterator.empty
            case Some(bs) =>
              java.util.Arrays.sort(bs.array, 0, bs.size)
              val payload = java.util.Arrays.copyOf(set, set.length + 1)
              payload(set.length) = a
              Iterator.range(0, bs.size)
                .filter(k => k == 0 || bs(k) != bs(k - 1))
                .map(k => (bs(k), payload))
          }
        }
      }
    // ... and verified there against the larger id's set
    val pairs = mergeSorted(SortedRuns.byKey(withSetA, part), docs) { (b, setA, setB) =>
      val na = setA.length - 1
      val inter = SortedLongs.interCount(setA, na, setB, setB.length)
      val jaccard = inter.toDouble / (na + setB.length - inter).toDouble
      if (jaccard >= threshold) Some((setA(na), b, jaccard)) else None
    }
    pairFrame(pairs, toks.sparkSession, idType, "jaccard")
  }

  /** Entries a by-token task of [[jaccardPairsPrefix]] batches per
    * document before it sends them (16 bytes each). */
  private val batchEntries = 1 << 16

  /** `f` over the rows of `df.select(cols)` that hold no null, as an RDD:
    * the way the pair operators leave SQL. */
  private[operators] def nonNullRows[T: ClassTag](df: DataFrame, cols: Column*)(
      f: InternalRow => IterableOnce[T]): RDD[T] =
    df.select(cols: _*).queryExecution.toRdd
      .flatMap(r => if ((0 until r.numFields).exists(r.isNullAt)) None else f(r))

  /** `f(k, v, t)` over each (k, v) of `sorted`, t the value `table` holds
    * at k: both are key-sorted in the same partitions, and `table` holds
    * every key of `sorted`, once. */
  private def mergeSorted[V, T, R: ClassTag](sorted: RDD[(Long, V)], table: RDD[(Long, T)])(
      f: (Long, V, T) => IterableOnce[R]): RDD[R] =
    sorted.zipPartitions(table) { (vs, ts) =>
      val t = ts.buffered
      vs.flatMap { case (k, v) => while (t.head._1 < k) t.next(); f(k, v, t.head._2) }
    }

  /** The runs of equal keys of a key-sorted iterator, as (key, values).
    * A run's values are read from the underlying iterator, so they are
    * valid until the next run is asked for (unread ones are skipped). */
  private def runs[V](sorted: Iterator[(Long, V)]): Iterator[(Long, Iterator[V])] = {
    val it = sorted.buffered
    new Iterator[(Long, Iterator[V])] {
      private var open = false
      private var key = 0L
      def hasNext: Boolean = {
        if (open) { while (it.hasNext && it.head._1 == key) it.next(); open = false }
        it.hasNext
      }
      def next(): (Long, Iterator[V]) = {
        if (!hasNext) throw new NoSuchElementException
        val k = it.head._1
        key = k; open = true
        (k, new Iterator[V] {
          def hasNext: Boolean = it.hasNext && it.head._1 == k
          def next(): V = it.next()._2
        })
      }
    }
  }

  /** Growable primitive `long` buffer, reused from one run to the next. */
  private final class LongBuf {
    var array = new Array[Long](16)
    var size = 0
    def clear(): Unit = size = 0
    def +=(v: Long): Unit = {
      if (size == array.length) array = java.util.Arrays.copyOf(array, size * 2)
      array(size) = v
      size += 1
    }
    def apply(i: Int): Long = array(i)
  }

  /** Step 3 of [[jaccardPairsPrefix]]: the pairs (smaller id, larger id)
    * of each posting list (entries [id, sz << 32 | position of the token
    * in the doc's global order]) that pass the size and positional filters,
    * skipping pairs this task already sent.
    *
    * Positional filter (PPJoin, Xiao et al. WWW'08): if the token is the
    * pair's FIRST common token at positions p_a and p_b, the overlap is at
    * most ub = 1 + min(sa - p_a - 1, sb - p_b - 1). A pair whose
    * ub / (sa + sb - ub) — the verify's own double expression, monotone in
    * the overlap — is below t cannot qualify if this token is its first
    * common one, and if it is not, the pair is also emitted under its first
    * common prefix token, where the bound holds. So dropping it here loses
    * nothing, and later (shorter-suffix) common tokens emit fewer
    * duplicates. */
  private final class CandidatePairs(postings: Iterator[(Long, Iterator[Array[Long]])],
                                     threshold: Double) extends Iterator[(Long, Long)] {
    private val ids = new LongBuf
    private val rest = new LongBuf // sz - position - 1, per entry
    private val bySize = new LongBuf // sz << 32 | entry index, ascending
    private val seen = new PairSet
    private var i = 0
    private var j = 0
    private var a = 0L
    private var b = 0L
    private var ready = false

    private def load(): Unit = {
      ids.clear(); rest.clear(); bySize.clear()
      postings.next()._2.foreach { e =>
        val sz = e(1) >>> 32
        bySize += (sz << 32) | ids.size
        rest += sz - (e(1) & 0xFFFFFFFFL) - 1
        ids += e(0)
      }
      java.util.Arrays.sort(bySize.array, 0, bySize.size)
      i = 0; j = 1
    }

    private def advance(): Boolean = {
      while (true) {
        while (i < bySize.size) {
          val si = bySize(i) >>> 32
          val ki = (bySize(i) & 0xFFFFFFFFL).toInt
          while (j < bySize.size) {
            val sj = bySize(j) >>> 32
            // sizes ascend, so sj = max(si, sj); once t * sj > si no later
            // entry passes either
            if (threshold * sj > si) j = bySize.size
            else {
              val kj = (bySize(j) & 0xFFFFFFFFL).toInt
              j += 1
              val ub = 1 + math.min(rest(ki), rest(kj))
              val x = ids(ki); val y = ids(kj)
              if (ub.toDouble / (si + sj - ub).toDouble >= threshold && x != y &&
                  seen.add(math.min(x, y), math.max(x, y))) {
                a = math.min(x, y); b = math.max(x, y)
                return true
              }
            }
          }
          i += 1; j = i + 1
        }
        if (!postings.hasNext) return false
        load()
      }
      false
    }

    def hasNext: Boolean = ready || { ready = advance(); ready }
    def next(): (Long, Long) = {
      if (!hasNext) throw new NoSuchElementException
      ready = false
      (a, b)
    }
  }

  /** Open-addressing set of (a, b) long pairs, the map-side candidate
    * dedup of [[jaccardPairsPrefix]]. It doubles up to 2^20 slots and,
    * half full at that size, forgets everything: memory stays bounded, and
    * a forgotten pair is only sent again (step 4 deduplicates). */
  private final class PairSet {
    private val maxSlots = 1 << 20
    private var slots = 1 << 10
    private var as = new Array[Long](slots)
    private var bs = new Array[Long](slots)
    private var used = new Array[Boolean](slots)
    private var size = 0

    private def slot(a: Long, b: Long): Int = {
      var h = a * 0x9E3779B97F4A7C15L ^ b
      h ^= h >>> 32; h *= 0xD6E8FEB86659FD93L; h ^= h >>> 32
      h.toInt & (slots - 1)
    }

    private def insert(a: Long, b: Long): Boolean = {
      var h = slot(a, b)
      while (used(h)) {
        if (as(h) == a && bs(h) == b) return false
        h = (h + 1) & (slots - 1)
      }
      used(h) = true; as(h) = a; bs(h) = b; size += 1
      true
    }

    /** true if (a, b) was not in the set */
    def add(a: Long, b: Long): Boolean = {
      if (2 * size >= slots) {
        size = 0
        if (slots == maxSlots) java.util.Arrays.fill(used, false)
        else {
          val (oa, ob, ou) = (as, bs, used)
          slots *= 2
          as = new Array[Long](slots); bs = new Array[Long](slots); used = new Array[Boolean](slots)
          var k = 0
          while (k < oa.length) { if (ou(k)) insert(oa(k), ob(k)); k += 1 }
        }
      }
      insert(a, b)
    }
  }
}
