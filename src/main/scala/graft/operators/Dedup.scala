package graft.operators

import graft.functions.GraftFunctions._
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** Deduplication operators for training-data curation at 100 TB scale.
  * Every pair-finding variant is a pure DataFrame pipeline: exact dedup is
  * one hash-groupBy shuffle; the near-dup variants bound candidate
  * generation with LSH bucketing so the expensive pairwise verify only runs
  * inside buckets (never all-pairs). The iterative grouping stage,
  * [[dedupGroups]], runs on RDD pair operators (see there why).
  */
object Dedup {

  /** Shared block-count policy for the 1-Bucket-Theta self-joins
    * ([[jaccardPairsDict]], [[graft.operators.Ann.cosineDupPairs]]):
    * B = ceil(sqrt(4 * defaultParallelism)), so the B(B+1)/2 uniform
    * reducers number ~2x the available slots at ANY cluster size without
    * caller tuning. Replication per input row is B+1; the output row set is
    * invariant in B (each unordered pair still meets exactly once). */
  object ThetaBlocks {
    def resolve(spark: org.apache.spark.sql.SparkSession, requested: Int): Int =
      if (requested > 0) requested
      else math.max(4,
        math.ceil(math.sqrt(4.0 * spark.sparkContext.defaultParallelism)).toInt)
  }

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
    val part = new HashPartitioner(spark.sessionState.conf.numShufflePartitions)
    // marks `rdd` for truncation; the next action over it materializes it
    def truncate(rdd: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      if (reliable) rdd.persist(StorageLevel.MEMORY_AND_DISK).checkpoint()
      else rdd.localCheckpoint()
      rdd
    }
    // (id, 0L) per node row: the key set of the two semi-joins, and the
    // rows that get the final labels
    val nodeRows = nodes.select(col(idCol).cast("long")).queryExecution.toRdd
      .flatMap(r => if (r.isNullAt(0)) Iterator.empty else Iterator((r.getLong(0), 0L)))
      .partitionBy(part)
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
        pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
          .queryExecution.toRdd
          .flatMap { r =>
            if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
            else { val (a, b) = (r.getLong(0), r.getLong(1)); Iterator((a, b), (b, a)) }
          }
          .partitionBy(part))
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
    * threshold: shingle -> minhash signature -> band-bucket join -> verify
    * with the signature agreement rate (marginally unbiased Jaccard
    * estimator; note the SQL-portable affine permutation family trades
    * statistical independence across rows for oracle reproducibility — the
    * rows are correlated, so `est_jaccard` is coarser than an ideal
    * 64-trial estimate).
    *
    * Scale shape: explode by `bands` band keys, self-join on (band, bucket)
    * — only colliding docs meet; signature verify is a zip-compare, no
    * original text needed after the signature pass. */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleW: Int = 3,
      threshold: Double = 0.7): DataFrame = {
    // bands beyond the signature length would hash ZERO elements — LshBands
    // gives every doc the identical constant key there, degenerating the
    // candidate join into an all-pairs cross product — so clamp first
    val nBands = math.min(bands, numHashes)
    // one-row-band mode (bands == numHashes, recall provably 1.0): a pair
    // above threshold agrees on >= ceil(t*n) positions, so it disagrees on
    // at most n - ceil(t*n) — among any fixed n - ceil(t*n) + 1 positions
    // at least one agrees (pigeonhole). Probing only that prefix of bands
    // halves the index explode at t = 0.5 with zero recall loss.
    val probeBands =
      if (nBands >= numHashes) nBands - math.ceil(threshold * numHashes).toInt + 1
      else nBands
    // zero-token docs have no shingles and therefore no signature — exclude
    // them up front so engine and oracle agree on degenerate inputs (rlike
    // \S, because trim() strips only spaces and a tab/newline-only doc is
    // just as tokenless)
    // signature frame persisted BELOW the band explode: both sides of the
    // band self-join read it, and the r6 plan audit showed the signature
    // pass — the expensive kernel, one md5 + 64 affine perms per shingle
    // over the whole corpus — planned TWICE (the b-side under a
    // BroadcastExchange; ReuseExchange does not dedup across a broadcast
    // boundary). Caching the compact (id, sig) rows rather than the
    // exploded band rows keeps the cache bands-times smaller (measured 89
    // vs ~3 MB at sf0.1); the explode re-runs per consumer but is pure
    // projection. Same CacheManager lifecycle contract as the jaccard
    // plans (see jaccardPairsDict docstring).
    val sigs = widen(df.where(col(textCol).rlike("\\S")))
      .select(col(idCol).as("id"), minhash(col(textCol), numHashes, shingleW).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val withBands = sigs
      .select(col("id"), col("sig"),
        posexplode(expr(s"slice(lsh_bands(sig, $nBands), 1, $probeBands)"))
          .as(Seq("band_idx", "bucket")))
    val a = withBands.select(col("id").as("id_a"), col("sig").as("sig_a"), col("band_idx"), col("bucket"))
    val b = withBands.select(col("id").as("id_b"), col("sig").as("sig_b"), col("band_idx"), col("bucket"))
    // verify INSIDE the band join (codegen'd sig_agree, no materialization),
    // so the dedup shuffle only carries surviving pairs — on hub-heavy
    // corpora the candidate set approaches all-pairs while survivors stay
    // tiny, and deduping candidates first would be the dominant shuffle
    a.join(b, Seq("band_idx", "bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("est_jaccard",
        sig_agree(col("sig_a"), col("sig_b")).cast("double") / lit(numHashes))
      .where(col("est_jaccard") >= threshold)
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "est_jaccard")
  }

  /** SimHash near-dup pairs: bucket by the 4 15-bit sub-bands of the 60-bit
    * signature (any pair at hamming distance <= 3 shares at least one exact
    * sub-band — pigeonhole, so recall is PROVABLY 1.0 at maxHamming <= 3),
    * verify by full hamming distance. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame = {
    // exclude zero-token docs (no tokens -> no signature), same as minhash
    // signature frame persisted below the band explode, for the same
    // both-sides-of-the-self-join reason as minhashPairs (r6)
    val sigs0 = widen(df.where(col(textCol).rlike("\\S")))
      .select(col(idCol).as("id"), simhash(col(textCol)).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sigs = sigs0
      .withColumn("band_idx", explode(sequence(lit(0), lit(3))))
      .withColumn("bucket", expr("(sig >> (band_idx * 15)) & 32767"))
    val a = sigs.select(col("id").as("id_a"), col("sig").as("sig_a"), col("band_idx"), col("bucket"))
    val b = sigs.select(col("id").as("id_b"), col("sig").as("sig_b"), col("band_idx"), col("bucket"))
    a.join(b, Seq("band_idx", "bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("hamming", hamming_dist(col("sig_a"), col("sig_b")))
      .where(col("hamming") <= maxHamming) // verify before dedup: tiny shuffle
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "hamming")
  }

  /** Exact word-set Jaccard similar pairs. Adaptive: one cheap probe
    * decides between two provably-equivalent plans —
    *
    *  - tiny global vocabulary (<= 64 distinct tokens, common for tag /
    *    category / template corpora): [[jaccardPairsDict]] — token sets
    *    dictionary-encoded into a single 64-bit mask, identical masks
    *    collapsed, and mask pairs compared with one popcount each in a
    *    blocked self-join. Per-pair cost is two bit-ops instead of a
    *    sorted-array merge, and duplicate masks pay once.
    *  - otherwise: [[jaccardPairsPrefix]] — PPJoin-style prefix filter.
    *
    * Tokens are carried as 64-bit `xxhash64` values (see [[tokenSets]]),
    * the same sorted-long representation as [[ngramJaccardPairs]]. */
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
    * never <= 64). For web-scale fuzzy matching use [[minhashPairs]]
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
      .withColumn("sz", size(col("toks")))
    jaccardPairsPrefix(grams, threshold)
  }

  /** Shared dispatch: one bounded vocabulary probe (<= 65 rows collected)
    * picks the dictionary/bitmask plan for tiny vocabularies, the
    * PPJoin-style prefix plan otherwise. */
  private def adaptiveJaccard(toks0: DataFrame, threshold: Double): DataFrame = {
    // persist the tokenize subtree BEFORE the vocabulary probe: the probe is
    // an action, and without the cache the full tokenize pass would execute
    // once for the probe and again for whichever plan wins (measured as a
    // duplicated q27 stage in round 6). Same CacheManager lifecycle contract
    // as the plans themselves (see jaccardPairsDict docstring).
    val toks = toks0.persist(StorageLevel.MEMORY_AND_DISK)
    // unordered: the route depends only on the count, and jaccardPairsDict
    // sorts the vocabulary itself (a sort here cost a range exchange, its
    // sampling job and the sort's generated classes)
    val vocab = toks.select(explode(col("toks")).as("tok")).distinct()
      .as(org.apache.spark.sql.Encoders.scalaLong).take(65)
    if (vocab.length <= 64) jaccardPairsDict(toks, vocab, threshold)
    else jaccardPairsPrefix(toks, threshold)
  }

  /** Word token sets as SORTED, duplicate-free `array<bigint>`: the tokens
    * of `split(text, ' ')` (empty tokens from repeated or trailing spaces
    * included), filtered to `length >= minTokenLen`, each hashed with
    * Spark's built-in `xxhash64`. Set Jaccard over the hashes equals set
    * Jaccard over the words except under a 64-bit collision, and the
    * sorted-long contract is the one [[jaccardPairsPrefix]]'s merge verify
    * and [[jaccardPairsDict]]'s mask encoding read. */
  private def tokenSets(df: DataFrame, idCol: String, textCol: String,
                        minTokenLen: Int): DataFrame =
    widen(df).select(col(idCol).as("id"),
        array_sort(array_distinct(transform(
          filter(split(col(textCol), " "), t => length(t) >= minTokenLen),
          t => xxhash64(t)))).as("toks"))
      .withColumn("sz", size(col("toks")))
      // Jaccard over two EMPTY sets is 0/0: such docs pair with nothing in
      // the naive/prefix plan, so drop them here too — otherwise the dict
      // plan would report them as mask-0 twins with J = 1.0 and the two
      // "provably equivalent" plans would disagree on degenerate input
      .where(col("sz") > 0)

  /** Dictionary/bitmask plan (vocab <= 64): every token set becomes a long
    * bitmask; the blocked 1-Bucket-Theta self-join (same shape as
    * [[graft.operators.Ann.cosineDupPairs]]) runs over DISTINCT masks only
    * — duplicate documents cost one comparison, not |group|^2 — and
    * qualifying mask pairs are expanded back to document pairs with two
    * skinny shuffle joins (never a collect_list: a million-document
    * duplicate group stays a million ROWS, not one giant array row; AQE
    * skew-join splits hot masks). The Jaccard test is
    * popcount(a&b)/popcount(a|b) — identical integers to
    * |intersect|/|union| on the raw sets, so the threshold decision is
    * bit-identical to the naive plan.
    *
    * Lifecycle: the tokenize+mask subtree is persisted (MEMORY_AND_DISK)
    * because it feeds four joins of the returned plan, and therefore CANNOT
    * be unpersisted before the caller consumes the result. Dataset-level
    * persist is registered with the session CacheManager, which holds it
    * until explicitly uncached — it is NOT freed when the DataFrame is
    * GC'd. One-shot jobs (and the bench, which clears per pass) are
    * unaffected; a long-lived session issuing MANY dedup calls must
    * materialize each result (write / localCheckpoint(eager = true)) and
    * then `spark.catalog.clearCache()` between calls. Same contract for
    * the prefix plan's token cache and [[graft.operators.Ann.ivfTopK]]. */
  def jaccardPairsDict(toks: DataFrame, vocab: Array[Long],
                       threshold: Double): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    val nBlocks = ThetaBlocks.resolve(spark, 0)
    val vmap = typedLit(vocab.sorted.zipWithIndex.toMap)
    // cached: this subtree feeds FOUR joins below (both sides of the
    // same-mask pairing, both sides of the mask-pair expansion) — without
    // persist the tokenize+mask pass would re-read the corpus four times.
    // Held by the CacheManager until the caller clears it (docstring).
    val withMask = toks
      .withColumn("mask", aggregate(col("toks"), lit(0L),
        (acc, t) => acc.bitwiseOR(
          call_function("shiftleft", lit(1L), element_at(vmap, t)))))
      .select("id", "mask")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // persisted (r6): the distinct-mask frame feeds BOTH sides of the
    // blocked self-join below, and without the cache the distinct
    // aggregation over the corpus-sized mask cache was planned and executed
    // once per side (q27 plan evidence) — at scale that is a duplicated
    // full-corpus aggregation pass. Same CacheManager lifecycle contract
    // as `withMask` (docstring above).
    val masks = withMask.select("mask").distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // same-mask pairs: J = 1.0 by construction (row-level self-join — no
    // per-group array materialization)
    val same = withMask.select(col("mask"), col("id").as("id_a"))
      .join(withMask.select(col("mask"), col("id").as("id_b")), "mask")
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))

    // distinct-mask pairs: blocked self-join, one popcount per pair
    val withBlk = masks.withColumn("blk", pmod(hash(col("mask")), lit(nBlocks)))
    val blockPairs = (for { i <- 0 until nBlocks; j <- i until nBlocks } yield (i, j))
      .toDF("ba", "bb")
    val lhs = withBlk.join(broadcast(blockPairs), col("blk") === col("ba"))
      .select(col("ba"), col("bb"), col("mask").as("m_l"))
    val rhs = withBlk.join(broadcast(blockPairs), col("blk") === col("bb"))
      .select(col("ba"), col("bb"), col("mask").as("m_r"))
    val maskPairs = lhs.join(rhs, Seq("ba", "bb"))
      .where(col("m_l") =!= col("m_r") &&
        (col("ba") =!= col("bb") || col("m_l") < col("m_r")))
      .withColumn("jaccard",
        bit_count(col("m_l").bitwiseAND(col("m_r"))).cast("double") /
          bit_count(col("m_l").bitwiseOR(col("m_r"))).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("m_l", "m_r", "jaccard")

    // expand qualifying mask pairs to document pairs (skinny joins)
    val cross = maskPairs
      .join(withMask.select(col("mask").as("m_l"), col("id").as("id_l")), "m_l")
      .join(withMask.select(col("mask").as("m_r"), col("id").as("id_r")), "m_r")
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"), col("jaccard"))

    same.unionByName(cross)
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
    *      token. Hub tokens never enter the index, so the self-join
    *      fan-out is bounded by rare-token df, not corpus size;
    *   3. candidates are size-filtered (t * max(sa, sb) <= min(sa, sb) is
    *      necessary for J >= t) and verified EXACTLY on the full token
    *      sets with the allocation-free two-pointer merge
    *      [[graft.functions.vecexprs.SortedInterCount]] — no approximation
    *      anywhere.
    *
    * Contract: `toks` holds (id, toks, sz) with `toks` a SORTED,
    * duplicate-free `array<bigint>` — [[tokenSets]] and `ngram_hash_set`
    * both produce it. */
  def jaccardPairsPrefix(toks0: DataFrame, threshold: Double): DataFrame = {
    // the tokenize/gram subtree feeds THREE consumers (the inverted index
    // and both sides of the verify join) — persist it once, same lifecycle
    // contract as jaccardPairsDict's mask cache (held by the CacheManager
    // until the caller clears it; see that docstring). Skipped when the
    // caller (adaptiveJaccard) already persisted it.
    val toks =
      if (toks0.storageLevel == StorageLevel.NONE)
        toks0.persist(StorageLevel.MEMORY_AND_DISK)
      else toks0
    // the prefix frame has two consumers — both sides of the candidate
    // self-join: ReuseExchange does NOT deduplicate the two sides here (the
    // r6 q52/q27 before-plans show the whole inverted-index subtree — df
    // aggregate, df join, per-doc sort, prefix explode — planned twice, once
    // under a BroadcastExchange), so persist it; same CacheManager
    // lifecycle contract as `toks`
    val prefix = prefixIndex(toks, threshold)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
          lit(threshold) * greatest(col("a.sz"), col("b.sz")) <=
            least(col("a.sz"), col("b.sz")).cast("double"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // exact verify on the full token sets
    val full = toks.select(col("id"), col("toks"), col("sz"))
    cand
      .join(full.select(col("id").as("id_a"), col("toks").as("toks_a"), col("sz").as("sz_a")), "id_a")
      .join(full.select(col("id").as("id_b"), col("toks").as("toks_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("inter", sorted_inter_count(col("toks_a"), col("toks_b")))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** The per-doc prefix inverted index of [[jaccardPairsPrefix]] steps 1-2
    * (one row per (id, indexed prefix token), with the doc size). */
  private def prefixIndex(toks: DataFrame, threshold: Double): DataFrame = {
    val c = threshold / (1.0 + threshold)
    val inv = toks.select(col("id"), explode(col("toks")).as("tok"))
    val dfreq = inv.groupBy("tok").agg(count(lit(1)).as("df"))
    // per-doc prefix in global (df, tok) order
    inv.join(dfreq, "tok")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("sorted"))
      .withColumn("sz", size(col("sorted")))
      // FP-safe overlap bound: subtract an epsilon before ceil so a
      // rounding artifact that lands c*sz infinitesimally ABOVE an exact
      // integer cannot shorten the prefix by one (longer prefix = extra
      // candidates only; the exact verify removes them)
      .withColumn("plen", (col("sz") - ceil(lit(c) * col("sz") - lit(1e-9)) + 1).cast("int"))
      .select(col("id"), col("sz"),
        explode(expr("transform(slice(sorted, 1, plen), s -> s.tok)")).as("tok"))
  }
}
