package graft.operators

import graft.functions.GraftFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Exact kNN via expanding k-ring search over the cell grid (north_rule:
  * "kNN via expanding H3 k-ring search").
  *
  * Each round r joins the still-pending queries' disk(r) cells against the
  * celled point table, takes per-query top-k by exact euclidean distance,
  * and retires a query once its kth distance is STRICTLY below r*cellHeight
  * — no point outside the disk can beat it (a cell at Chebyshev distance
  * > r is at least r full cells away), and boundary ties force one more
  * expansion round so tie-breaks match the brute-force ordering. Radius
  * doubles per round, so rounds = O(log gridSize) even for isolated
  * queries.
  *
  * Distance is squared euclidean in lon/lat degrees with a fixed expression
  * shape so the DuckDB oracle reproduces the exact doubles; ties break on
  * point_id — fully deterministic output.
  *
  * Scale shape: the celled corpus is persisted ONCE before the loop —
  * every round joins the broadcast exploded query-disk against the same
  * materialized blocks, no per-round rescan of the raw table. Pending
  * queries shrink geometrically (tracked by one count per round on the new
  * pending set — the same action that materializes it). Per-round caches
  * are unpersisted as soon as their successor is materialized, so storage
  * stays O(one round).
  *
  * Fault tolerance: by default the per-round pending set is truncated with
  * `localCheckpoint(eager = true)`, which stores blocks on executors
  * WITHOUT lineage — correct and fast in local mode (this harness), but on
  * a real cluster an executor loss makes the truncated lineage
  * unrecoverable and fails the job. Pass `reliableCheckpoint = true` (with
  * `sc.setCheckpointDir`) at cluster scale: the pending set is
  * queries-sized, i.e. tiny relative to the corpus, so the durable write
  * is cheap per round.
  */
object Knn {

  val distExpr = "(qlon - lon) * (qlon - lon) + (qlat - lat) * (qlat - lat)"

  /** queries(query_id, qlon, qlat) x points(point_id, lon, lat) -> top-k
    * (query_id, point_id, rnk).
    *
    * `reliableCheckpoint = true` truncates the per-round pending set with a
    * durable `checkpoint()` (requires `sc.setCheckpointDir`) instead of
    * executor-local `localCheckpoint()` — survives executor loss on a real
    * cluster; the pending set is queries-sized, so the durable write is
    * cheap per round. Local mode keeps the default (no durability need,
    * no checkpoint-dir I/O). */
  def knn(queries: DataFrame, points: DataFrame, k: Int, level: Int = 8,
          reliableCheckpoint: Boolean = false): DataFrame = {
    // celled corpus: materialized once (memory/disk cache), reused by every
    // round; released on exit — the returned result is checkpoint-truncated
    // and self-contained
    val pts = points.withColumn("cell", st_cellid(col("lon"), col("lat"), level))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try knnCelled(queries, pts, k, level, reliableCheckpoint)
    finally pts.unpersist(false)
  }

  /** The round loop of [[knn]] over the persisted celled corpus
    * (`pts` carries a `cell` column computed at the SAME `level`). */
  private def knnCelled(queries: DataFrame, pts: DataFrame, k: Int, level: Int,
                        reliableCheckpoint: Boolean): DataFrame = {
    if (reliableCheckpoint)
      require(queries.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "knn(reliableCheckpoint = true) needs sc.setCheckpointDir(...)")
    def truncate(df: DataFrame): DataFrame =
      if (reliableCheckpoint) df.checkpoint(true) else df.localCheckpoint(true)
    val cellH = 180.0 / (1L << level).toDouble
    val maxR = (1L << level).toInt

    val nPts = pts.count() // one pass: sizes r0 (and fills the corpus cache)

    // adaptive start radius: size disk(r0) so it expects ~4k points under a
    // uniform-density estimate — most queries then retire in round one and
    // the driver-side round loop (the fixed-cost item at small SF) stays
    // 1-2 iterations. Sparse regions still converge by doubling; the exact
    // retirement bound is untouched, so the OUTPUT is radius-independent.
    val density = math.max(nPts.toDouble, 1.0) / (360.0 * 180.0)
    val r0 = math.max(1, math.min(maxR,
      math.ceil((math.sqrt(4.0 * k / density) / cellH - 1.0) / 2.0).toInt))

    var pending = queries.cache()
    var nPending = pending.count()
    val finishedParts = scala.collection.mutable.Buffer[DataFrame]()
    val roundCaches = scala.collection.mutable.Buffer[DataFrame]()
    var r = r0
    val win = Window.partitionBy("query_id").orderBy(col("dist"), col("point_id"))

    while (r <= 2 * maxR && nPending > 0) {
      // disk of radius r = rings 0..r, exploded per pending query
      val disk = pending.withColumn("rr", explode(sequence(lit(0), lit(math.min(r, maxR)))))
        .withColumn("cell", explode(st_ring_cells(col("qlon"), col("qlat"), level, col("rr"))))
        .drop("rr")

      // cached but NOT materialized here — the pending checkpoint below is
      // the round's single action and fills this cache as a side effect
      val ranked = broadcast(disk).join(pts, "cell")
        .withColumn("dist", expr(distExpr))
        .withColumn("rnk", row_number().over(win))
        .where(col("rnk") <= k)
        .select("query_id", "point_id", "rnk", "dist")
        .cache()

      val bound = r * cellH
      // strict bound: boundary ties force one more round, matching the
      // brute-force tie-break ordering exactly
      val done = ranked.groupBy("query_id")
        .agg(count(lit(1)).as("cnt"), max(col("dist")).as("kth"))
        .where(col("cnt") === k && col("kth") < lit(bound * bound))
        .select("query_id")

      finishedParts += ranked.join(done, "query_id").select("query_id", "point_id", "rnk")
      roundCaches += ranked

      val prevPending = pending
      // localCheckpoint: materializes the (tiny) new pending set AND
      // truncates its lineage, so the per-round plan tree stays O(1)-deep
      // instead of doubling every round (left_anti chains otherwise nest).
      // The pending count rides the same checkpoint job as an observed
      // metric (r6): one driver round-trip per round instead of two.
      val obs = org.apache.spark.sql.Observation(
        s"knn-pending-${java.util.UUID.randomUUID}")
      pending = truncate(pending.join(done, Seq("query_id"), "left_anti")
        .observe(obs, count(lit(1)).as("n")))
      nPending = obs.get.get("n") match {
        case Some(v: java.lang.Number) => v.longValue
        case _ => 0L
      }
      // NOTE deliberately NOT ParUtil.freeCheckpoint(prevPending): the
      // finishedParts plans can recompute through the cached `ranked` back
      // to this frame if a cache block is lost — its (queries-sized)
      // checkpoint blocks are left to the ContextCleaner instead
      prevPending.unpersist(false)
      r *= 2
    }

    // any stragglers (fewer than k points in the whole grid): brute force
    if (nPending > 0) {
      finishedParts += broadcast(pending).crossJoin(pts)
        .withColumn("dist", expr(distExpr))
        .withColumn("rnk", row_number().over(win))
        .where(col("rnk") <= k)
        .select("query_id", "point_id", "rnk")
    }
    if (finishedParts.isEmpty) { // no queries at all
      pending.unpersist(false)
      return knnBrute(queries, pts, k)
    }
    // one final materialization; eager localCheckpoint makes the result
    // self-contained (queries x k rows — tiny) so every per-round cache can
    // be released immediately after
    val results = truncate(finishedParts.reduce(_ unionByName _))
    roundCaches.foreach(_.unpersist(false))
    pending.unpersist(false)
    results
  }

  /** Brute-force oracle-shaped variant (used by tests and as the fallback). */
  def knnBrute(queries: DataFrame, points: DataFrame, k: Int): DataFrame = {
    val win = Window.partitionBy("query_id").orderBy(col("dist"), col("point_id"))
    broadcast(queries).crossJoin(points)
      .withColumn("dist", expr(distExpr))
      .withColumn("rnk", row_number().over(win))
      .where(col("rnk") <= k)
      .select("query_id", "point_id", "rnk")
  }
}
