package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parallelism guard for narrow-but-CPU-heavy stages.
  *
  * Spark sizes scan partitions by BYTES (maxPartitionBytes), which is right
  * for I/O-bound scans and wrong for compute-bound rows: a 2 MB parquet
  * file whose rows each cost a millisecond of codec/hash work runs as ONE
  * task no matter how many cores exist. Profiled on this harness as
  * consecutive 1-task multi-second stages behind q52 (md5-per-gram) and the
  * image queries (encode/decode per row) — see BENCH/BASELINE.md round 4.
  *
  * `widen` repartitions only when the source has fewer partitions than the
  * cluster, so a well-partitioned 100 TB table pays nothing; the shuffle it
  * introduces on small sources moves the raw rows once (kilobytes) to buy
  * full-width execution of everything above.
  */
object ParUtil {
  def widen(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= par) df else df.repartition(par)
  }

  /** The local session every non-frozen main starts from: `cores` task
    * slots and as many shuffle partitions, AQE with skew-join splitting, no
    * UI, WARN logging, the graft functions registered, and the per-stage
    * [[Profile]] listener attached when `SPARK_GRAFT_PROFILE=1`. A main that
    * needs more (e.g. a broadcast threshold) sets it on the returned
    * session's runtime conf. */
  def localSession(appName: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    if (sys.env.get("SPARK_GRAFT_PROFILE").contains("1")) Profile.attach(spark, cores)
    spark
  }

  /** The `SPARK_GRAFT_ONLY` query filter, ONE parse shared by Bench and
    * Verify so the contract cannot drift: comma-separated names, tokens
    * trimmed, blank counts as unset. */
  def onlyFilter: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.trim).filter(_.nonEmpty)
      .map(_.split(",").map(_.trim).toSet)
}
