package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters of one timed operation, summed over every Spark job
  * the operation ran. */
final class OpStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var schedWaitMs = 0L
  var planMs = 0L
  var scans = 0
  var exchanges = 0
  var reusedExchanges = 0
  /** Task run times of every stage, for the skew measure. */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Max over median task time in the op's longest stage (by summed
    * task time); 1.0 when the op ran no tasks. */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 1.0
    else {
      val ts = stageTaskMs.values.maxBy(_.sum).sorted
      val med = ts(ts.length / 2).toDouble
      ts.last / math.max(med, 1.0)
    }
}

/** Counts Spark work per operation from outside the engine: a
  * `SparkListener` for jobs, stages and task metrics, and a
  * `QueryExecutionListener` for planning time (`QueryExecution.tracker`)
  * and the final adaptive plan's scans and exchanges. Work is attributed
  * through the `perfbench.op` local property the harness sets on the
  * driver thread before each operation. */
final class Probe(sc: SparkContext) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val stats = new ConcurrentHashMap[String, OpStats]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  @volatile var currentOp: String = null

  private def of(op: String): OpStats = stats.computeIfAbsent(op, _ => new OpStats)

  def statsFor(op: String): OpStats = stats.getOrDefault(op, new OpStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).map(_.getProperty(Probe.OpKey)).orNull
    if (op != null) {
      val s = of(op)
      s.synchronized {
        s.jobs += 1
        e.stageInfos.foreach(si => stageOp.put(si.stageId, op))
      }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val op = Option(e.properties).map(_.getProperty(Probe.OpKey)).orNull
    if (op != null) {
      stageOp.put(e.stageInfo.stageId, op)
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val op = stageOp.get(e.stageInfo.stageId)
    if (op != null) { val s = of(op); s.synchronized { s.stages += 1 } }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.get(e.stageId)
    if (op == null) return
    val s = of(op)
    s.synchronized {
      s.tasks += 1
      if (!e.taskInfo.successful) s.failedTasks += 1
      val sub = stageSubmit.get(e.stageId)
      if (sub != null) s.schedWaitMs += math.max(0L, e.taskInfo.launchTime - sub)
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val op = currentOp
    if (op == null) return
    val planMs = qe.tracker.phases.iterator
      .filter { case (phase, _) => phase != "parsing" }
      .map(_._2.durationMs).sum
    val plan = qe.executedPlan
    val scans = collectWithSubqueries(plan) {
      case p if p.children.isEmpty && p.nodeName.contains("Scan") => p
    }.size
    val exch = collectWithSubqueries(plan) { case p: Exchange => p }.size
    val reused = collectWithSubqueries(plan) { case p: ReusedExchangeExec => p }.size
    val s = of(op)
    s.synchronized {
      s.planMs += planMs
      s.scans += scans
      s.exchanges += exch
      s.reusedExchanges += reused
    }
  }

  /** Blocks until every posted listener event has been delivered, so an
    * operation's counters are complete before the next one starts. The
    * bus is engine-internal; it is reached reflectively. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

object Probe {
  val OpKey = "perfbench.op"
}

/** One traced call: `layer` is one of the engine's modules (sources,
  * functions, operators, queries) or "op" for a whole operation. */
final case class Span(id: Int, parent: Int, op: String, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder; written out once at exit. Disabled, it runs
  * the body and records nothing. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  var op: String = ""

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, op, layer, name, t0, t1)
      }
    }

  /** Self time of each span: its duration minus the part its direct
    * children cover (children run sequentially on one thread, so their
    * durations do not overlap). */
  def selfMs: Map[Int, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }
}
