package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** N -> 4N scaling-efficiency evidence (north_rule; sandbox substitute per
  * BASELINE.md: the same job + input at local[8] vs local[32]).
  *
  * Protocol: prepare the input once; then for each core count, ONE session
  * runs an unrecorded warmup followed by two measured runs (best-of-2).
  * Both core counts are measured warm inside their own session, so neither
  * is charged the session-restart / first-run JIT costs the other skipped —
  * this matches how a long-lived cluster job actually runs. (JIT state is
  * JVM-global and both configs get a same-session warmup, so the shared JVM
  * favors neither.) Prints one JSON line with throughputs and
  * efficiency = (rps4N / rpsN) / 4.
  *
  * Jobs (5th arg):
  *  - `pipeline` (default): the flagship spatial-join + tile-assign run;
  *  - `dedup`: [[graft.operators.Dedup.dedupGroups]] over a planted graph
  *    (10% of ids in 4-node chains, the realistic dup-group shape) — the
  *    operator a 100 TB curation run iterates in;
  *  - `ivf`: [[graft.operators.Ann.ivfTopK]] (index build + exact search,
  *    1000 queries) over synthesized 32-dim embeddings;
  *  - `ngram`: [[graft.operators.Dedup.ngramJaccardPairs]] (n = 16,
  *    t = 0.8, q52's call) over `<sfDir>/documents.parquet` as it is;
  *    `rows` is ignored and the document count is reported.
  *
  * Usage: ScaleBench <sfDir> <workDir> [rows] [N] [job]
  */
object ScaleBench {

  /** One warmup + two measured runs at `cores` in one session;
    * returns best (seconds, rows/sec). */
  private def timed(cores: Int, rows: Long)(run: SparkSession => Unit): (Double, Double) = {
    val spark = ParUtil.localSession(s"graft-scale-$cores", cores)
    try {
      def once(): (Double, Double) = {
        // clean slate per pass: clearCache drops CacheManager entries, and
        // the explicit sweep drops persisted and (local)checkpointed RDDs
        // too — those live in the BlockManager only (dedupGroups' final
        // labels RDD, which its returned plan still reads), so clearCache
        // alone would leak one per pass
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        val t0 = System.nanoTime()
        run(spark)
        val sec = (System.nanoTime() - t0) / 1e9
        (sec, rows / sec)
      }
      once() // warmup, unrecorded
      val a = once()
      val b = once()
      if (a._1 <= b._1) a else b
    } finally spark.stop()
  }

  /** Remove every `_READY-<job>-<rows>` marker in `work` (called before a
    * re-prepare: exactly one marker may certify the on-disk data). */
  private def dropReadyMarkers(work: String): Unit = {
    val d = new java.io.File(work)
    if (d.isDirectory)
      d.listFiles().filter(_.getName.startsWith("_READY-")).foreach(_.delete())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val work = if (args.length > 1) args(1) else "/tmp/graft-scale"
    // large enough that parallel work dwarfs fixed job overheads
    val rows = if (args.length > 2) args(2).toLong else 1500000L
    val nCores = if (args.length > 3) args(3).toInt else 8
    val job = if (args.length > 4) args(4) else "pipeline"
    val n4Cores = nCores * 4

    // ---- prepare once (32 cores), job-specific input ----
    val prep = ParUtil.localSession("graft-scale-32", 32)
    var docRows = 0L
    try job match {
      case "pipeline" =>
        // the count file is written LAST: a crashed prepare (e.g. ENOSPC)
        // leaves the images dir without it, so the retry re-prepares
        // instead of benchmarking a truncated table
        if (!new java.io.File(s"$work/images_count.txt").exists())
          Pipeline.prepareN(prep, rows, sfDir, work)
      case "dedup" =>
        // marker is per-job AND per-size: a workDir prepared for another
        // job (or another `rows`) must re-prepare, not silently reuse
        // wrong data — the printed rows/s is published evidence. Stale
        // sibling markers are dropped first, or an A->B->A size sequence
        // would find A's old marker still certifying B's data.
        if (!new java.io.File(s"$work/_READY-dedup-$rows").exists()) {
          dropReadyMarkers(work)
          // 4-node chains on the first 4 ids of every 40-id block: 10% of
          // nodes paired (the realistic dup-group minority), singleton
          // majority exercised through the final attach join
          prep.range(rows).toDF("id")
            .repartition(32).write.mode("overwrite").parquet(s"$work/nodes")
          prep.range(rows / 40)
            .selectExpr("explode(array(" +
              "struct(id*40   AS id_a, id*40+1 AS id_b)," +
              "struct(id*40+1 AS id_a, id*40+2 AS id_b)," +
              "struct(id*40+2 AS id_a, id*40+3 AS id_b))) AS e")
            .select("e.*")
            .repartition(32).write.mode("overwrite").parquet(s"$work/pairs")
          new java.io.File(s"$work/_READY-dedup-$rows").createNewFile()
        }
      case "ivf" =>
        if (!new java.io.File(s"$work/_READY-ivf-$rows").exists()) {
          dropReadyMarkers(work)
          // deterministic 32-dim embeddings CLUSTERED around 200 centers
          // (center + small noise): uniform random vectors are the known
          // worst case for any metric index — in high dimension all
          // pairwise distances concentrate, the triangle bound prunes
          // nothing, and phase 2 degenerates to brute force. Real embedding
          // corpora are clustered, which is the workload IVF exists for.
          prep.range(rows).toDF("vec_id")
            .withColumn("embedding", expr(
              "transform(sequence(0, 31), j -> " +
                "CAST(pmod(hash(pmod(vec_id, 200), j), 1000) AS FLOAT) / 1000.0 + " +
                "CAST(pmod(hash(vec_id, j), 1000) AS FLOAT) / 20000.0)"))
            .repartition(32).write.mode("overwrite").parquet(s"$work/vecs")
          new java.io.File(s"$work/_READY-ivf-$rows").createNewFile()
        }
      case "ngram" =>
        docRows = prep.read.parquet(s"$sfDir/documents.parquet").count()
      case other => sys.error(s"unknown job '$other' (pipeline|dedup|ivf|ngram)")
    } finally prep.stop()

    // ---- the measured job ----
    def run(spark: SparkSession): Unit = job match {
      case "pipeline" =>
        FsUtil.rmTree(s"$work/tile_stats")
        Pipeline.run(spark, work)
      case "dedup" =>
        val nodes = spark.read.parquet(s"$work/nodes")
        val pairs = spark.read.parquet(s"$work/pairs")
        Bench.force(graft.operators.Dedup.dedupGroups(nodes, pairs, "id"))
      case "ivf" =>
        val vecs = spark.read.parquet(s"$work/vecs")
        val queries = vecs.where(pmod(col("vec_id"), lit(math.max(1L, rows / 1000))) === 0)
        Bench.force(graft.operators.Ann.ivfTopK(vecs, queries, k = 10))
      case "ngram" =>
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        Bench.force(graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          n = 16, threshold = 0.8))
    }

    // throughput must reflect the data ACTUALLY on disk: a pipeline workDir
    // prepared earlier with a different size is reused (count-file guard),
    // so read the recorded count back rather than trusting the CLI arg —
    // the printed rows/s is published scaling evidence
    val effRows = job match {
      case "pipeline" =>
        val f = java.nio.file.Paths.get(s"$work/images_count.txt")
        if (java.nio.file.Files.exists(f))
          java.nio.file.Files.readString(f).trim.toLong
        else rows
      case "ngram" => docRows
      case _ => rows // per-job-and-size _READY marker guarantees the match
    }
    val (bestN, rpsN) = timed(nCores, effRows)(run)
    val (best4N, rps4N) = timed(n4Cores, effRows)(run)
    val eff = (rps4N / rpsN) / 4.0
    println(f"""{"job":"$job","sf":"$sfDir","rows":$effRows,"n_cores":$nCores,"sec_N":$bestN%.3f,"rps_N":$rpsN%.1f,"sec_4N":$best4N%.3f,"rps_4N":$rps4N%.1f,"scaling_efficiency_N_to_4N":$eff%.3f}""")
  }
}
