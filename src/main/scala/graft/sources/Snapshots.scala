package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Checkpointed partition lineage with Iceberg-shaped semantics, emulated on
  * Parquet (no Iceberg jar ships in this environment — SURVEY.md §7.6):
  *
  *   table/
  *     data/snap_id=S/part_id=N/...parquet  -- partitions written BY snapshot S
  *     _meta/snapshots/...parquet       -- snapshot_id, ts, operation, n_partitions
  *     _meta/partitions/...parquet      -- snapshot_id, part_id, row_count, lineage_hash
  *     _meta/CURRENT                    -- atomically-renamed pointer file
  *
  * Data files are immutable once their snapshot commits: snapshot S only
  * writes under `data/snap_id=S`, and the table state AT any snapshot is
  * resolved from the lineage table (for each part_id, the newest writer
  * <= that snapshot). That is what buys Iceberg's two reader guarantees:
  * time travel ([[readData]] `asOf`) and snapshot isolation (an in-flight
  * snapshot's files are invisible until its manifest publishes and can
  * never tear a concurrent read of the current snapshot, because nothing
  * is rewritten in place). [[expireSnapshots]] prunes history like
  * Iceberg's expire_snapshots: old manifests go away, data dirs survive
  * exactly as long as some retained snapshot still resolves to them.
  *
  * Commit protocol: data + partition lineage are written first, then the
  * one-row manifest is PUBLISHED with an atomic no-replace rename (see
  * [[ensureManifest]] — exactly one winner under concurrent committers),
  * then the CURRENT pointer is moved with an atomic rename — a crashed run
  * leaves the previous snapshot intact. Resume = read CURRENT, skip
  * partitions already recorded for that snapshot (north_rule: "resumable
  * from checkpoint with per-partition lineage + metrics"). Concurrent DATA
  * writes to one snapshot stay single-writer (documented in
  * [[ensureManifest]]); the metadata commit itself is race-safe.
  */
object Snapshots {

  final case class PartitionMeta(snapshotId: Long, partId: Int, rowCount: Long, lineageHash: Long)

  private def metaDir(table: String) = s"$table/_meta"
  private def currentPath(table: String): Path = Paths.get(metaDir(table), "CURRENT")

  def currentSnapshot(table: String): Option[Long] = {
    val p = currentPath(table)
    if (Files.exists(p)) Some(Files.readString(p).trim.toLong) else None
  }

  /** Per-partition metadata already committed for snapshot `sid` (resume
    * set). Deduplicated by part_id so a crash-then-resume that produced a
    * duplicate lineage row can never double-count. */
  def committedMetas(spark: SparkSession, table: String, sid: Long): Seq[PartitionMeta] = {
    val dir = s"${metaDir(table)}/partitions"
    if (!Files.exists(Paths.get(dir))) Seq.empty
    else spark.read.parquet(dir)
      .where(col("snapshot_id") === sid)
      .dropDuplicates("part_id")
      .collect()
      .map(r => PartitionMeta(sid, r.getAs[Int]("part_id"),
        r.getAs[Long]("row_count"), r.getAs[Long]("lineage_hash"))).toSeq
  }

  /** Write `df` bucketed into `nParts` logical partitions with per-partition
    * lineage rows; skips partitions already committed for this snapshot id
    * (idempotent resume). Returns per-partition metadata for the WHOLE
    * snapshot — previously committed partitions included — so every resume
    * path (fresh, partial, no-op) reports the same total row count.
    *
    * A completed snapshot records a lineage row for EVERY part in
    * `0 until nParts` (0-row parts included), so at its own `nParts` width
    * it REPLACES the table content; partitions >= nParts from an earlier
    * wider snapshot shine through unchanged ([[readData]] resolves per-part
    * winners). Pass a smaller nParts for a partial overwrite.
    *
    * `portableParts`: partition by `keyCol % nParts` on the (numeric) key
    * instead of Spark's murmur hash — lets an external SQL oracle recompute
    * the partition assignment verbatim (q42 evidence path). A null key lands
    * in part 0 (`coalesce(k % n, 0)` in SQL), so it is counted and read back
    * like any other row; the hash route needs no rule (`hash(null)` is the
    * seed).
    * `maxPartsPerRun`: commit at most this many still-pending partitions,
    * then stop WITHOUT flipping the CURRENT pointer or writing the
    * manifest row — a micro-batch commit that doubles as a deterministic
    * mid-snapshot-crash simulation (the snapshot only becomes current once
    * every partition's lineage row exists). */
  def writeSnapshot(
      spark: SparkSession, df: DataFrame, table: String,
      snapshotId: Long, nParts: Int, keyCol: String,
      operation: String = "append",
      portableParts: Boolean = false,
      maxPartsPerRun: Int = Int.MaxValue): Seq[PartitionMeta] = {
    // refuse to mix layouts: writing snap_id dirs next to a legacy FLAT
    // data/part_id=N table would leave readData's winner resolution
    // pointing at data/snap_id=<old>/... dirs that never existed, making
    // the table unreadable. Legacy tables stay readable (readData's flat
    // branch); migrating means rewriting them through writeSnapshot into a
    // fresh table path.
    val legacyFlat =
      entryNames(Paths.get(s"$table/data")).exists(_.startsWith("part_id="))
    require(!legacyFlat,
      s"$table/data uses the pre-snapshot-dir flat layout; rewrite it into a fresh table first")
    // resume safety (r5 advice): expireSnapshots can sweep the data dirs of
    // an UNCOMMITTED (crashed/abandoned) snapshot id below the retention
    // horizon while its lineage rows survive — trusting those rows on
    // resume would skip rewriting the parts and publish a manifest whose
    // reads hit deleted dirs. A committed part counts as done only if its
    // data dir still exists; 0-row parts write no dir and stay trusted
    // (there is nothing on disk to lose). The rewrite appends a duplicate
    // lineage row with identical recomputed stats, which committedMetas /
    // readData already deduplicate.
    val committed = committedMetas(spark, table, snapshotId).filter(m =>
      m.rowCount == 0L || Files.isDirectory(
        Paths.get(s"$table/data/snap_id=$snapshotId/part_id=${m.partId}")))
    val done = committed.map(_.partId).toSet
    val pendingAll = (0 until nParts).filterNot(done.contains)
    if (pendingAll.isEmpty) {
      // a crash can land AFTER the last lineage append but BEFORE the
      // manifest write — the resume must still complete the commit fully
      ensureManifest(spark, table, snapshotId, operation, nParts)
      ensureCurrent(table, snapshotId)
      return committed
    }
    val pending = pendingAll.take(maxPartsPerRun)
    // a zero-budget micro-batch call commits nothing: no job, no lineage
    if (pending.isEmpty) return committed
    val partialRun = pending.length < pendingAll.length

    // ONE job for data + stats at every width, NOT a job per partition (a
    // driver-side loop would serialize nParts small jobs and wreck N->4N
    // scaling efficiency — Amdahl) and NOT a second stats pass over a
    // persisted copy either (guide §1.2/§5): the per-partition row counts
    // and order-independent lineage hashes ride the write job itself as one
    // observed [[PartStats]] aggregate, collected by the same tasks that
    // write the files, with a buffer of 2 * nParts longs. The CollectMetrics
    // node sits ABOVE the repartition exchange, i.e. inside the write's
    // result stage, where the scheduler applies accumulator updates exactly
    // once per partition (failed and duplicate speculative completions are
    // dropped), so the lineage stats stay exact under retries at cluster
    // scale. Dynamic partition overwrite keeps resume safe: a crashed run's
    // partially-written partitions are simply rewritten, and
    // already-committed partitions are filtered out up front.
    val partExpr =
      if (portableParts)
        coalesce(pmod(col(keyCol).cast("long"), lit(nParts.toLong)).cast("int"), lit(0))
      else pmod(hash(col(keyCol)), lit(nParts)).cast("int")
    val withPart = df.withColumn("part_id", partExpr)
    val filtered = if (pending.length == nParts) withPart
                   else withPart.where(col("part_id").isin(pending: _*))

    val rowHash = hash(df.columns.map(col): _*).cast("long")
    val obs = Observation()
    // co-locate each logical partition into ONE writer task: without this,
    // every upstream task writes a file per part_id it sees (cores x nParts
    // small files + commit objects — the file churn was 2-3 s of fixed wall
    // per snapshot at 32 cores on tiny outputs). One file per partition,
    // deterministic layout. At 100 TB output scale, add a salt column to
    // the repartition key to widen write parallelism within a partition.
    // The write lands under THIS snapshot's own dir (never touching earlier
    // snapshots' files — that immutability is what makes asOf reads and
    // snapshot isolation work); dynamic overwrite within it keeps the
    // crash-resume rewrite of a partially-written partition safe.
    filtered.repartition(nParts, col("part_id"))
      .observe(obs, udaf(new PartStats(nParts)).apply(col("part_id"), rowHash).as("stats"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("part_id")
      .parquet(s"$table/data/snap_id=$snapshotId")
    // the write action completed, so this returns promptly
    val stats = obs.get("stats").asInstanceOf[scala.collection.Seq[Long]]
    val metas = pending.map(pid =>
      PartitionMeta(snapshotId, pid, stats(2 * pid), stats(2 * pid + 1)))
    // metadata-scale rows: written directly by the driver (atomic publish),
    // not via a Spark job — see MetaParquet
    MetaParquet.appendLineage(s"${metaDir(table)}/partitions",
      metas.map(m => (m.snapshotId, m.partId, m.rowCount, m.lineageHash)))
    // a partial (micro-batch / crash-simulation) run stops here: no
    // manifest row, no CURRENT flip — the snapshot is not yet complete
    if (partialRun) return committed ++ metas

    ensureManifest(spark, table, snapshotId, operation, nParts)
    ensureCurrent(table, snapshotId)
    committed ++ metas
  }

  /** Publish the snapshot's manifest row exactly once — the COMMIT point of
    * the protocol, made safe for CONCURRENT committers of the same snapshot
    * (the Iceberg semantics being emulated are precisely about this):
    *
    *   1. the committer CLAIMS the snapshot with an atomic
    *      `Files.createFile` of a dot-prefixed lock — a racing loser stops
    *      as soon as the winner's file is published (in the narrow window
    *      where the winner holds the lock but has not yet published, the
    *      loser falls through — publishing is idempotent and the atomic
    *      replace below still leaves exactly one valid file);
    *   2. the winner writes the one-row manifest to a dot-prefixed temp
    *      file beside the target (dot-prefixed paths are invisible to
    *      parquet readers), then
    *   3. publishes it into `_meta/snapshots/manifest-<sid>.parquet` with a
    *      same-directory ATOMIC_MOVE — readers can never observe a
    *      half-written file, and the manifest can never hold two rows for
    *      one snapshot.
    *
    * A crash between steps leaves a lock with no published target; the next
    * (sequential) resume detects that and completes the publish. Concurrent DATA writes for the
    * same snapshot remain single-writer-per-snapshot territory — two
    * writers racing the same `data/snap_id=S/part_id=N` directories is undefined, as
    * it is for any filesystem table format without a catalog lock; the
    * crash-then-RESUME path (sequential) is fully safe and q42-proven. */
  private[graft] def ensureManifest(spark: SparkSession, table: String, snapshotId: Long,
                                      operation: String, nParts: Int): Unit = {
    val snapDir = Paths.get(s"${metaDir(table)}/snapshots")
    val target = snapDir.resolve(s"manifest-$snapshotId.parquet")
    if (Files.exists(target)) return
    // legacy tables (pre-CAS layout) appended part-*.parquet rows: honor
    // them so a resume on an old table does not duplicate the manifest row
    // hidden entries (the persistent .manifest-<sid>.lock claim files, crashed
    // .tmp dirs) are NOT legacy parts — counting them made a fresh table whose
    // first commit crashed mid-publish probe an all-hidden snapshots dir with
    // spark.read.parquet, which throws unable-to-infer-schema and wedged the
    // documented crash-resume path
    val hasLegacyParts = entryNames(snapDir)
      .exists(n => !n.startsWith("manifest-") && !n.startsWith("."))
    if (hasLegacyParts &&
        !readSnapshots(spark, table).where(col("snapshot_id") === snapshotId).isEmpty) return

    // claim FIRST with an atomic dot-file create (invisible to parquet
    // readers): losers of a live race stop here without even paying the
    // temp write. A lock with no published target means the claimant
    // crashed mid-publish — the (sequential, documented) resume falls
    // through and publishes.
    Files.createDirectories(snapDir)
    val lock = snapDir.resolve(s".manifest-$snapshotId.lock")
    try Files.createFile(lock)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        if (Files.exists(target)) return // already published by the winner
    }
    // one-row, driver-side parquet write + same-directory ATOMIC_MOVE
    // (MetaParquet): readers can never observe a half-written manifest, and
    // no Spark job is launched for a single metadata row. Replace semantics
    // only matter in the crashed-claimant resume path above, where the
    // replacement row is the same snapshot's.
    MetaParquet.writeManifest(target, snapshotId,
      java.time.Instant.now.toString, operation, nParts)
  }

  /** Per-part (rows, lineage hash) of a snapshot write as one flat buffer
    * of `2 * nParts` longs: slot `2p` counts part p's rows, slot `2p + 1`
    * sums their row hashes (order-independent, so the lineage hash does not
    * depend on task order). An empty input yields the zero buffer. */
  private final class PartStats(nParts: Int)
      extends Aggregator[(Int, Long), Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](2 * nParts)
    def reduce(b: Array[Long], in: (Int, Long)): Array[Long] = {
      b(2 * in._1) += 1L
      b(2 * in._1 + 1) += in._2
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Atomic CURRENT pointer flip (idempotent). */
  private def ensureCurrent(table: String, snapshotId: Long): Unit = {
    if (currentSnapshot(table).contains(snapshotId)) return
    val tmp = Paths.get(metaDir(table), s".CURRENT.tmp.$snapshotId")
    Files.createDirectories(tmp.getParent)
    Files.writeString(tmp, snapshotId.toString)
    Files.move(tmp, currentPath(table), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def readSnapshots(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(s"${metaDir(table)}/snapshots")

  def readPartitionMeta(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(s"${metaDir(table)}/partitions")

  private def manifestPath(table: String, sid: Long): Path =
    Paths.get(s"${metaDir(table)}/snapshots/manifest-$sid.parquet")

  /** Entry names of `dir` (empty when it is not a directory). Every
    * directory listing in this object goes through here. */
  private def entryNames(dir: Path): Vector[String] = {
    if (!Files.isDirectory(dir)) return Vector.empty
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toVector
    finally s.close()
  }

  /** Snapshot ids with a LIVE published manifest, ascending — the
    * time-travelable set. */
  private def committedSids(table: String): Vector[Long] =
    entryNames(Paths.get(s"${metaDir(table)}/snapshots"))
      .collect { case n if n.startsWith("manifest-") && n.endsWith(".parquet") =>
        n.stripPrefix("manifest-").stripSuffix(".parquet").toLong }
      .sorted

  /** Snapshot ids that were EVER committed: live manifests plus the hidden
    * `.expired-<sid>` tombstones [[expireSnapshots]] leaves behind. Winner
    * resolution must consult exactly this set — not raw lineage rows
    * (in-flight / crashed / abandoned partial snapshots have lineage too,
    * and trusting them would leak uncommitted data into reads), and not
    * only live manifests (an expired snapshot's surviving still-referenced
    * files must keep resolving for the retained snapshots that read
    * through them). */
  private def everCommittedSids(table: String): Vector[Long] =
    entryNames(Paths.get(s"${metaDir(table)}/snapshots"))
      .collect {
        case n if n.startsWith("manifest-") && n.endsWith(".parquet") =>
          n.stripPrefix("manifest-").stripSuffix(".parquet").toLong
        case n if n.startsWith(".expired-") =>
          n.stripPrefix(".expired-").toLong
      }
      .distinct.sorted

  /** Table state at a snapshot: for each part_id, the files written by the
    * NEWEST snapshot <= `asOf` that wrote that partition (resolved from the
    * lineage table — metadata-scale work, nParts result rows). Defaults to
    * the CURRENT snapshot; pass `asOf = Some(sid)` to time-travel to any
    * still-retained snapshot. A snapshot whose winning lineage row counts 0
    * rows for a partition hides all older data for it (overwrite-to-empty).
    *
    * Snapshot isolation falls out of the same resolution: an in-flight
    * snapshot's `data/snap_id=S` dir is never selected until its manifest
    * publishes and CURRENT advances, and nothing ever rewrites a committed
    * snapshot's files under a reader. */
  def readData(spark: SparkSession, table: String, asOf: Option[Long] = None): DataFrame = {
    val dataDir = s"$table/data"
    // pre-r5 tables laid data out flat (data/part_id=N, overwritten in
    // place): no snap_id dirs to resolve, read as-is
    val hasSnapDirs = entryNames(Paths.get(dataDir)).exists(_.startsWith("snap_id="))
    if (!hasSnapDirs) {
      // legacy tables overwrote data/part_id=N in place — no history
      // exists, so silently serving CURRENT data for an asOf read would be
      // wrong data with no error
      require(asOf.isEmpty,
        s"$table uses the pre-snapshot-dir flat layout; time travel is not available")
      return spark.read.parquet(dataDir)
    }
    val sid = asOf.orElse(currentSnapshot(table)).getOrElse(
      throw new IllegalArgumentException(s"$table has no committed snapshot"))
    asOf.foreach { s =>
      if (!Files.exists(manifestPath(table, s)))
        throw new IllegalArgumentException(
          s"snapshot $s of $table is not committed or has been expired")
    }
    // only EVER-COMMITTED snapshots resolve (everCommittedSids): an
    // abandoned partial write leaves lineage rows without a manifest, and
    // those rows must never beat a committed writer — otherwise readers
    // would see data from a snapshot that never published
    val committed = everCommittedSids(table).filter(_ <= sid)
    // struct max = lexicographic on (snapshot_id, row_count); snapshot_id is
    // unique per (snapshot, part) modulo crash-resume duplicates, which carry
    // identical recomputed stats
    val winners = readPartitionMeta(spark, table)
      .where(col("snapshot_id").isin(committed: _*))
      .groupBy("part_id")
      .agg(max(struct(col("snapshot_id"), col("row_count"))).as("w"))
      .select(col("part_id"), col("w.snapshot_id").as("sid"), col("w.row_count").as("rows"))
      .where(col("rows") > 0)
      .collect()
    if (winners.isEmpty)
      // a committed all-empty snapshot (every lineage row 0 rows — e.g.
      // a decontamination pass dropped everything) is a legitimate state:
      // return an EMPTY frame with the table schema (recovered from the
      // existing snapshot dirs; hasSnapDirs guarantees at least one file
      // exists)
      return spark.read.option("basePath", dataDir).parquet(dataDir)
        .drop("snap_id").where(lit(false))
    val dirs = winners.map { r =>
      s"$dataDir/snap_id=${r.getAs[Long]("sid")}/part_id=${r.getAs[Int]("part_id")}"
    }
    spark.read.option("basePath", dataDir).parquet(dirs.toIndexedSeq: _*).drop("snap_id")
  }

  /** Iceberg-style `expire_snapshots`: drop all but the newest `keepLast`
    * committed snapshots. Expired manifests are deleted (time travel to
    * them then refuses with a clear error) and an expired snapshot's data
    * dirs are deleted EXCEPT partitions some retained snapshot still
    * resolves to (a part last written by an old snapshot survives until a
    * retained snapshot rewrites it — exactly Iceberg's
    * still-referenced-files rule). Lineage rows are retained: winner
    * resolution for live snapshots needs the expired writers' rows, and the
    * lineage table is metadata-scale. Returns the expired snapshot ids. */
  def expireSnapshots(spark: SparkSession, table: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val committed = committedSids(table)
    val expired = committed.dropRight(keepLast)
    if (expired.isEmpty) return Nil
    val rMin = committed(committed.size - keepLast) // oldest retained
    // (S, P) with S expired stays on disk iff S is still the newest
    // ever-committed writer of P as of the oldest retained snapshot — then
    // every retained snapshot's read of P resolves to S's file (same
    // rule as readData's winner resolution, so previously-expired-but-
    // still-referenced snapshots compete too and their surviving files are
    // never deleted out from under a retained read)
    val resolvable = everCommittedSids(table).filter(_ <= rMin)
    val stillReferenced: Set[(Long, Int)] = readPartitionMeta(spark, table)
      .where(col("snapshot_id").isin(resolvable: _*))
      .groupBy("part_id")
      .agg(max(col("snapshot_id")).as("sid"))
      .collect()
      .map(r => (r.getAs[Long]("sid"), r.getAs[Int]("part_id")))
      .filter { case (s, _) => s < rMin }
      .toSet
    // retract the expired snapshots from the catalog BEFORE touching any
    // data file: tombstone (the was-ever-committed fact must survive for
    // winner resolution), then delete the manifest. A crash mid-expire then
    // leaves expired-but-unswept files — re-running expire finishes the
    // sweep — never a live manifest pointing at deleted dirs (which would
    // turn a valid asOf read into PATH_NOT_FOUND instead of the designed
    // expired error).
    expired.foreach { s =>
      val tomb = Paths.get(s"${metaDir(table)}/snapshots/.expired-$s")
      try Files.createFile(tomb)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      Files.deleteIfExists(manifestPath(table, s))
    }
    // sweep every on-disk snapshot dir older than the oldest retained
    // snapshot — including dirs a PREVIOUS expire left behind because they
    // were still referenced then (their manifests are already gone, so the
    // expired-id list alone would never revisit them)
    val oldDirs = entryNames(Paths.get(s"$table/data"))
      .collect { case n if n.startsWith("snap_id=") => n.stripPrefix("snap_id=").toLong }
      .filter(_ < rMin)
    oldDirs.foreach { s =>
      val sDir = Paths.get(s"$table/data/snap_id=$s")
      entryNames(sDir).filter(_.startsWith("part_id=")).foreach { pn =>
        val pid = pn.stripPrefix("part_id=").toInt
        if (!stillReferenced.contains((s, pid)))
          graft.FsUtil.rmTree(sDir.resolve(pn).toString)
      }
      if (entryNames(sDir).isEmpty) graft.FsUtil.rmTree(sDir.toString)
    }
    expired
  }
}
