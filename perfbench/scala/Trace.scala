package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracer: spans recorded by the benchmark around its calls
  * into each engine layer. Spans live in memory and are written once,
  * at exit. Disabled, `span` is a direct call.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, op: Long, layer: String,
      name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
    def startMs: Long = wallMs(startNs)
    def endMs: Long = wallMs(endNs)
  }

  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  def wallMs(nano: Long): Long = wall0 + (nano - nano0) / 1000000L

  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Long = 0L

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, layer, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Span duration minus the time its direct children cover (children
    * of one span never overlap: the driver thread is sequential).
    */
  def selfSeconds: Map[String, Double] = {
    val childTime = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0)
      childTime(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endNs - s.startNs - childTime(s.id)) / 1e9).sum
    }
  }

  def json: String = spans.map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs)
  }.mkString("[\n", ",\n", "\n]")
}

/** Per-op execution counters from task and stage events. Jobs are
  * attributed to the op named by the `graftbench.op` local property,
  * which the benchmark sets only while tracing.
  */
final class PlanListener extends SparkListener {
  final class OpStats {
    var stages = 0L
    var tasks = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var gcMs = 0L
    var cpuNs = 0L
    val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  }

  val byOp = mutable.Map[Long, OpStats]()
  private val stageOp = mutable.Map[Int, Long]()

  private def opOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(PlanListener.OpKey)))
      .flatMap(_.toLongOption)

  override def onStageSubmitted(
      e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
    synchronized {
      opOf(e.properties).foreach(op => stageOp(e.stageInfo.stageId) = op)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageOp.get(e.stageInfo.stageId).foreach(op =>
        byOp.getOrElseUpdate(op, new OpStats).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val s = byOp.getOrElseUpdate(op, new OpStats)
      s.tasks += 1
      s.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
        e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.gcMs += m.jvmGCTime
        s.cpuNs += m.executorCpuTime
      }
    }
  }

  /** Max over the op's multi-task stages of max/median task time. */
  def skew(s: OpStats): Double = {
    val ratios = s.taskMs.values.filter(_.size >= 2).map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med > 0) ts.max / med else 1.0
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  def opMetrics(ops: Seq[Long]): Map[String, Double] = synchronized {
    val rows = ops.map(op => byOp.getOrElse(op, new OpStats))
    def med(f: OpStats => Double) = Stats.median(rows.map(f))
    Map(
      "plan.stages" -> med(_.stages.toDouble),
      "plan.tasks" -> med(_.tasks.toDouble),
      "plan.shuffle_write_bytes" -> med(_.shuffleWrite.toDouble),
      "plan.shuffle_read_bytes" -> med(_.shuffleRead.toDouble),
      "plan.spill_bytes" -> med(_.spill.toDouble),
      "plan.gc_s" -> med(_.gcMs / 1e3),
      "plan.executor_cpu_s" -> med(_.cpuNs / 1e9),
      "plan.task_skew" -> med(skew))
  }
}

object PlanListener {
  val OpKey = "graftbench.op"
}

/** Analysis + optimization + physical planning time of each finished
  * query, from its phase tracker. Listener events arrive on another
  * thread, so queries are attributed to spans by the wall-clock start
  * of their first phase.
  */
final class PhaseListener extends QueryExecutionListener {
  val planned = mutable.ArrayBuffer[(Long, Double)]() // (start ms, seconds)

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
    if (ph.nonEmpty)
      planned += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum / 1e3))
  }

  /** Planning seconds of the queries that started inside [t0, t1] ms. */
  def seconds(t0Ms: Long, t1Ms: Long): Double = synchronized {
    planned.collect { case (st, s) if st >= t0Ms && st <= t1Ms => s }.sum
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)
}

/** Micro-batch progress of the streaming query. */
final class StreamProgress extends StreamingQueryListener {
  final case class Batch(rows: Long, triggerMs: Double,
      addBatchMs: Double, walMs: Double, stateCommitMs: Double,
      stateRows: Long, stateBytes: Long)

  val batches = mutable.ArrayBuffer[Batch]()

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    def d(k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val st = p.stateOperators.toSeq
    batches += Batch(p.numInputRows, d("triggerExecution"),
      d("addBatch"), d("walCommit"), st.map(_.commitTimeMs.toDouble).sum,
      st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum)
  }
}
