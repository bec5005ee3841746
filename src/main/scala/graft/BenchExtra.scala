package graft

/** Optimization-round measurement harness (guide §1.4/§1.5) — NOT the
  * driver contract (Bench.scala is frozen): times each query in isolation
  * with the noop sink, optionally with the per-stage Profile listener
  * attached (SPARK_GRAFT_PROFILE=1) and per-query job descriptions so the
  * stage dump maps back to operators. Prints one line per query per run.
  *
  * Usage: SPARK_GRAFT_ONLY=q52_ngram_jaccard,q55_time_travel \
  *          SPARK_GRAFT_PROFILE=1 sbt "runMain graft.BenchExtra"
  * Same session config as Bench so numbers are comparable.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt)
    val spark = ParUtil.localSession("graft-benchextra", cpus.toInt)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)

    val only = ParUtil.onlyFilter
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1).filter(q => wanted(q._1))

    // warmup at the smallest SF (JIT/codec warm, same protocol as Bench)
    val warmDir = "/root/testdata/sf0.001"
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0" &&
        new java.io.File(warmDir).isDirectory) {
      sorted.foreach { case (name, fn) =>
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[benchextra] warmup $name: ${e.getMessage}") }
      }
    }

    for (r <- 1 to runs) {
      spark.catalog.clearCache()
      sorted.foreach { case (name, fn) =>
        spark.sparkContext.setJobDescription(s"$name run$r")
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          println(f"[benchextra] $name run$r ${(System.nanoTime() - t0) / 1e9}%.3f s")
        } catch {
          case scala.util.control.NonFatal(e) =>
            println(s"[benchextra] $name run$r FAILED: ${e.getMessage}")
        }
        spark.sparkContext.setJobDescription(null)
      }
    }
    spark.stop()
  }
}
