package graft

/** Plan-evidence dumper for the optimization rounds (guide §1: capture
  * `.explain("formatted")` for every declared query before/after a change).
  * NOT part of the measurement harness — Bench.scala is frozen; this main
  * only writes `plans/<tag>/<query>_<suffix>.txt`.
  *
  * Usage: SPARK_GRAFT_PLAN_TAG=r06 SPARK_GRAFT_PLAN_SUFFIX=before \
  *          sbt "runMain graft.PlanDump"
  * Respects SPARK_GRAFT_ONLY for targeted dumps. Note q42/q55/q41 execute
  * their embedded preparation actions (snapshot writes, centroid sample)
  * while the plan is being built, and so do q15/q16/q37: the broadcast
  * spatial join collects its cover table when it is called, and q17: kNN
  * counts the points to size its first disk. The dump pays those, which is
  * why it is a separate main and never timed.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "r06")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = ParUtil.localSession("graft-plandump", cpus.toInt)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)

    val only = ParUtil.onlyFilter
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    val dir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(dir)

    SparkEntry.queries.toSeq.sortBy(_._1).filter(q => wanted(q._1)).foreach {
      case (name, fn) =>
        spark.catalog.clearCache()
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(dir.resolve(s"${name}_$suffix.txt"), plan)
          println(s"[plandump] $name ok")
        } catch {
          case scala.util.control.NonFatal(e) =>
            println(s"[plandump] $name FAILED: ${e.getMessage}")
        }
    }
    spark.stop()
  }
}
