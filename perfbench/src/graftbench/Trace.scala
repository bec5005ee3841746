package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval around a public call (or the forcing action of its
  * result). `parent` is the enclosing span's id, -1 at the top. */
final case class Span(id: Int, name: String, parent: Int, run: Int, startNs: Long, var endNs: Long)

/** Scheduler work attributed to one span. */
final class SpanWork {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  /** Task durations per stage id, for the skew ratio. */
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
}

/** Spans and the scheduler/plan counts inside them.
  *
  * Disabled (the untimed default), `span` only runs its body. Enabled, it
  * records each span in memory and sets the local property [[Tracer.Prop]],
  * which Spark copies into every job the calling thread submits; the
  * listener then attributes jobs, stages and task metrics to the innermost
  * span. Executed plans of the queries that finish inside a span are kept
  * with it, for `numOutputRows`-style counts. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  val work = mutable.Map[Int, SpanWork]()
  /** (span id, executed plan) of every query that succeeded while traced. */
  val plans = mutable.ArrayBuffer[(Int, SparkPlan)]()
  // the innermost open span; the QE listener runs on the listener thread,
  // where local properties are not visible, and reads it there: exact,
  // because spans drain the bus when they open and close
  @volatile private var current = -1
  var run = 0

  private val stageSpan = mutable.Map[Int, Int]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
        .map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(s => stageSpan(s) = sid)
      w(sid).jobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      w(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val sw = w(stageSpan.getOrElse(e.stageId, -1))
        sw.tasks += 1
        sw.runMs += m.executorRunTime
        sw.cpuNs += m.executorCpuTime
        sw.gcMs += m.jvmGCTime
        sw.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        sw.spillB += m.diskBytesSpilled
        sw.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        plans += ((current, qe.executedPlan))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private def w(sid: Int): SpanWork = work.getOrElseUpdate(sid, new SpanWork)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      drain()
      val parent = current
      val s = Span(spans.length, name, parent, run, System.nanoTime(), 0L)
      spans += s
      current = s.id
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      try body
      finally {
        drain()
        s.endNs = System.nanoTime()
        current = parent
        sc.setLocalProperty(Tracer.Prop, if (parent < 0) null else parent.toString)
      }
    }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(sc)

  def close(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Ids of span `id` and all spans below it. */
  def subtree(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    kids.flatMap(subtree).toSet + id
  }

  /** Work of every span below and including `id`, summed. */
  def workUnder(id: Int): SpanWork = {
    val ids = subtree(id)
    val out = new SpanWork
    synchronized {
      work.foreach { case (sid, x) if ids.contains(sid) =>
        out.jobs += x.jobs; out.stages += x.stages; out.tasks += x.tasks
        out.runMs += x.runMs; out.cpuNs += x.cpuNs; out.gcMs += x.gcMs
        out.shuffleWriteB += x.shuffleWriteB; out.spillB += x.spillB
        x.stageTaskMs.foreach { case (st, d) => out.stageTaskMs(st) = d }
      case _ => ()
      }
    }
    out
  }

  /** Every executed plan node (AQE stages unwrapped) of the queries that
    * finished inside span `id` or below it. */
  def nodesUnder(id: Int): Seq[SparkPlan] = {
    val ids = subtree(id)
    plans.collect { case (sid, p) if ids.contains(sid) => p }.flatMap(Tracer.flatten).toSeq
  }

  /** Self time of each span: its duration minus the union of its children's
    * intervals (children are sequential here, so the union is their sum). */
  def selfNs(s: Span): Long =
    (s.endNs - s.startNs) - spans.filter(_.parent == s.id).map(c => c.endNs - c.startNs).sum

  /** The spans as JSON lines. */
  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    Json.obj(Seq("run" -> s.run, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> selfNs(s)))
  }
}

object Tracer {
  val Prop = "graftbench.span"

  def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => flatten(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(flatten)
  }

  /** numOutputRows of a plan node, 0 when it has none. */
  def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
}
