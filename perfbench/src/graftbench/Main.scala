package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Try
import scala.util.control.NonFatal

import graft.FsUtil
import org.apache.spark.sql.SparkSession

/** Benchmark harness: one workload, one seed, one process.
  *
  * Set-up (session start, input generation, one warm-up run) is repeated
  * three times and reported as its median. After further unmeasured runs,
  * until three in a row agree, the workload runs warm and untraced, in a
  * closed loop, for the measured seconds; every run's outputs are checked.
  * A traced run (`--trace 1`) instead alternates untraced and traced runs
  * (their difference is the tracing overhead), derives the per-layer
  * metrics from the traced runs, times one warm run in a one-core session
  * for the 1→4 scaling ratio, and ends with the `core` kernel
  * micro-timings.
  *
  * The last stdout line is `RESULT <json>`; diagnostics go to stderr.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> [--scale <f>] [--cores <n>]
  *          [--spans <file>]
  */
object Main {

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 10.0,
                        trace: Boolean = false, work: String = "", scale: Double = 1.0,
                        cores: Int = Runtime.getRuntime.availableProcessors(),
                        spans: String = "")

  private def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, a.copy(work = v))
    case "--scale" :: v :: rest => parse(rest, a.copy(scale = v.toDouble))
    case "--cores" :: v :: rest => parse(rest, a.copy(cores = v.toInt))
    case "--spans" :: v :: rest => parse(rest, a.copy(spans = v))
    case Nil => a
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }

  private val confKeys = Seq("spark.master", "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.skewJoin.enabled", "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.shuffle.partitions")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  private def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")

  /** Storage still held by persisted or checkpointed RDDs, in MB. */
  def retainedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Drops every cached frame and checkpointed RDD, so the next run starts
    * from the same empty storage. */
  def clear(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Runs of one workload with outcome bookkeeping. */
  final class Runner(wl: Workload) {
    var attempted = 0
    var failed = 0
    val errors = ArrayBuffer[String]()

    /** One checked run: its wall seconds, retained MB and root span id (-1
      * untraced), None if it failed. */
    def once(spark: SparkSession, t: Tracer): Option[(Double, Double, Int)] = {
      wl.reset()
      attempted += 1
      val t0 = System.nanoTime()
      val outcome =
        try {
          val out = t.span("run")(wl.run(spark, t))
          val wall = (System.nanoTime() - t0) / 1e9
          val retained = retainedMb(spark)
          val root = t.spans.lastIndexWhere(_.parent == -1)
          wl.check(spark, out).map(Left(_)).getOrElse(Right((wall, retained, root)))
        } catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      clear(spark)
      outcome match {
        case Left(why) =>
          failed += 1
          if (errors.length < 5) errors += why
          log(s"run failed: $why")
          None
        case Right(r) => Some(r)
      }
    }

    /** Closed loop for `seconds`, at least `minRuns` runs. */
    def loop(spark: SparkSession, t: Tracer, seconds: Double, minRuns: Int): Seq[(Double, Double, Int)] = {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      val out = ArrayBuffer[(Double, Double, Int)]()
      var n = 0
      while (n < minRuns || System.nanoTime() < end) {
        t.run = n
        once(spark, t).foreach(out += _)
        n += 1
      }
      out.toSeq
    }
  }

  /** Scheduler-layer metrics of one traced run under span `root`. */
  def perRun(t: Tracer, root: Span, wall: Double, retained: Double, cores: Int): Map[String, Double] = {
    val w = t.workUnder(root.id)
    val named = t.spans.filter(_.parent == root.id).map(s => s.endNs - s.startNs).sum
    Map(
      "spark.jobs" -> w.jobs.toDouble,
      "spark.stages" -> w.stages.toDouble,
      "spark.tasks" -> w.tasks.toDouble,
      "spark.task_cpu_s" -> w.cpuNs / 1e9,
      "spark.gc_s" -> w.gcMs / 1e3,
      "spark.shuffle_write_mb" -> w.shuffleWriteB / 1e6,
      "spark.spill_mb" -> w.spillB / 1e6,
      // wall time in which the cores ran no task: driver work, job and
      // stage barriers, scheduling
      "spark.barrier_s" -> (wall - w.runMs / 1e3 / cores),
      "spark.retained_mb" -> retained,
      "trace.named_share" -> named.toDouble / (root.endNs - root.startNs))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(Workload.names.contains(a.workload), s"--workload must be one of ${Workload.names.mkString(", ")}")
    require(a.work.nonEmpty, "--work <dir> is required")
    FsUtil.rmTree(a.work)
    new java.io.File(a.work).mkdirs()
    val wl = Workload(a.workload, a.seed, a.scale, s"${a.work}/data")
    val runner = new Runner(wl)
    val off = (s: SparkSession) => new Tracer(s, enabled = false)

    // ---- set-up, repeated; the last session stays up for the measured runs
    var spark: SparkSession = null
    val setups = (1 to (if (a.trace) 1 else 3)).map { i =>
      if (spark != null) { spark.stop(); FsUtil.rmTree(s"${a.work}/data") }
      val t0 = System.nanoTime()
      spark = session(a.cores, a.work)
      val t1 = System.nanoTime()
      wl.generate(spark)
      wl.reset()
      val t2 = System.nanoTime()
      val warm = Try(wl.run(spark, off(spark)))
      val sec = (System.nanoTime() - t0) / 1e9
      log(f"setup $i: session ${(t1 - t0) / 1e9}%.3f s, inputs ${(t2 - t1) / 1e9}%.3f s, warm-up ${(System.nanoTime() - t2) / 1e9}%.3f s")
      // the brute-force references are harness work: computed once, untimed
      if (i == 1) wl.reference(spark)
      runner.attempted += 1
      warm.fold(e => Some(e.toString), wl.check(spark, _)).foreach { why =>
        runner.failed += 1; runner.errors += s"warm-up: $why"; log(s"warm-up failed: $why")
      }
      clear(spark)
      sec
    }
    val confs = confKeys.map(k => k -> spark.conf.getOption(k).getOrElse("")).toMap
    val metrics = scala.collection.mutable.LinkedHashMap[String, Double]()
    val minRuns = 2

    // ---- the JIT keeps speeding runs up for a while after the set-ups:
    // checked but unmeasured runs until three in a row agree within 5%, for
    // at most twice the measured time
    val settleEnd = System.nanoTime() + (a.seconds * 2 * 1e9).toLong
    val recent = ArrayBuffer[Double]()
    while (System.nanoTime() < settleEnd &&
           (recent.length < 3 || recent.takeRight(3).max > 1.05 * recent.takeRight(3).min))
      runner.once(spark, off(spark)).foreach(recent += _._1)
    log(s"settle: ${recent.map(w => f"$w%.3f").mkString(" ")}")

    if (!a.trace) {
      // ---- end-to-end: warm, untraced, at all cores
      val runs = runner.loop(spark, off(spark), a.seconds, minRuns)
      val wall = median(runs.map(_._1))
      metrics("wall_s") = wall
      metrics("rows_per_s") = wl.inputRows / wall
      metrics("setup_s") = median(setups)
      spark.stop()
      log(s"runs: ${runs.length}, walls: ${runs.map(r => f"${r._1}%.3f").mkString(" ")}")
    } else {
      // ---- untraced and traced runs, alternated so that the warm-up trend
      // does not leak into the tracing overhead
      val t = new Tracer(spark, enabled = true)
      val plain = ArrayBuffer[(Double, Double, Int)]()
      val tracedRuns = ArrayBuffer[(Double, Double, Int)]()
      val end = System.nanoTime() + (a.seconds * 0.7 * 1e9).toLong
      while (tracedRuns.length < 2 || System.nanoTime() < end) {
        runner.once(spark, off(spark)).foreach(plain += _)
        t.run = tracedRuns.length
        runner.once(spark, t).foreach(tracedRuns += _)
      }
      val traced = tracedRuns.toSeq.map { case (wall, retained, root) =>
        (wall, perRun(t, t.spans(root), wall, retained, a.cores))
      }
      traced.flatMap(_._2.keys).distinct.foreach { k =>
        metrics(k) = median(traced.flatMap(_._2.get(k)))
      }
      metrics("trace.overhead_s") = median(traced.map(_._1)) - median(plain.toSeq.map(_._1))
      // layer probes check their own outputs too
      runner.attempted += 1
      Try(wl.layers(spark, t, tracedRuns.last._3)).fold({ e =>
        runner.failed += 1; runner.errors += s"layer probe: $e"; log(s"layer probe failed: $e")
      }, metrics ++= _)
      t.close()
      // self time per span name, summed over the traced runs
      t.spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
        val w = ss.map(s => t.work.getOrElse(s.id, new SpanWork))
        log(f"self $name: ${ss.map(t.selfNs).sum / 1e9}%.3f s over ${ss.length} spans, " +
          s"${w.map(_.jobs).sum} jobs, ${w.map(_.tasks).sum} tasks, ${w.map(_.runMs).sum} task ms")
      }
      if (a.spans.nonEmpty) {
        val p = java.nio.file.Paths.get(a.spans)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, t.jsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
      }
      spark.stop()
      // ---- 1→4 scaling on the same input: a warm run on one core against
      // the untraced four-core median
      metrics("spark.scaling_eff_1to4") =
        if (a.cores < 4) Double.NaN
        else {
          def wallAt(cores: Int, runs: Int): Double = {
            val s = session(cores, a.work)
            try {
              runner.once(s, off(s)) // first run in a fresh session: warm-up
              median(runner.loop(s, off(s), 0.0, runs).map(_._1))
            } finally s.stop()
          }
          val wall4 = if (a.cores == 4) median(plain.toSeq.map(_._1)) else wallAt(4, 2)
          wallAt(1, 1) / (4.0 * wall4)
        }
      metrics ++= Kernels.run(a.seed)
    }

    val result = Seq(
      "workload" -> a.workload, "seed" -> a.seed, "row_kind" -> wl.rowKind,
      "input_rows" -> wl.inputRows, "cores" -> a.cores, "scale" -> a.scale,
      "attempted" -> runner.attempted, "failed" -> runner.failed,
      "errors" -> runner.errors.toSeq, "confs" -> confs,
      "metrics" -> metrics.toMap)
    FsUtil.rmTree(s"${a.work}/data")
    println("RESULT " + Json.obj(result))
  }
}
