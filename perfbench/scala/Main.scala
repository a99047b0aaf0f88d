package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What one measured segment produced: one latency per unit of work
  * (a pass, or an event on the streaming workload) plus extras.
  */
final case class Segment(latencies: Seq[Double], ops: Seq[Long],
    extra: Map[String, Any] = Map.empty)

/** Result of checking the workload's outputs. */
final case class Check(attempted: Long, failed: Long, detail: String)

/** One benchmark workload, driven only through the engine's public
  * entry points.
  */
trait Workload {
  /** The fixed warm-up op every set-up cycle ends with. */
  def warmup(spark: SparkSession, t: Tracer): Unit
  /** Runs units of work for about `seconds`. */
  def measure(spark: SparkSession, t: Tracer, seconds: Double): Segment
  /** Checks the outputs of the last measured segment. */
  def check(spark: SparkSession, corrupt: Boolean): Check
  /** Layer metrics measured in isolation (traced runs only). */
  def layers(spark: SparkSession, t: Tracer, seg: Segment,
      phases: PhaseListener): Map[String, Double]
  /** Input properties recorded with every run. */
  def props: Map[String, Any] = Map.empty
  /** Whether units of work can alternate between traced and untraced;
    * otherwise the measured window is split into two halves.
    */
  def interleaved: Boolean = true

  /** Untimed units of work that fill caches and let the JIT settle
    * before measuring: pass times keep falling for several seconds of
    * work after the first pass. */
  def warmPass(spark: SparkSession): Unit = {
    val end = System.nanoTime() + (warmSeconds * 1e9).toLong
    do measure(spark, new Tracer(false), 0.0) while (System.nanoTime() < end)
  }
  def warmSeconds: Double
  /** The fewest units one measured window holds. */
  def minUnits: Int = 1
}

/** Benchmark driver. Usage:
  * `graftbench.Main --workload W --input DIR --out DIR --seconds S
  *  --trace 0|1 --corrupt 0|1`
  * Writes `result.json` (and `spans.json` when tracing) into `--out`.
  */
object Main {
  val SetupCycles = 3

  private var nextOp = 1L

  /** Tags the jobs of the op that follows with a fresh op id (only
    * traced ops carry the tag the listeners count).
    */
  def beginOp(spark: SparkSession, t: Tracer): Long = {
    val op = nextOp
    nextOp += 1
    t.op = op
    spark.sparkContext.setLocalProperty(PlanListener.OpKey,
      if (t.enabled) op.toString else null)
    op
  }

  def rssHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workloadName = a("workload")
    val input = a("input")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val trace = a.get("trace").contains("1")
    val corrupt = a.get("corrupt").contains("1")
    Files.createDirectories(Paths.get(out))
    val w: Workload = workloadName match {
      case "detect_batch" => new DetectBatch(input, out)
      case "pipeline_scaled" => new PipelineScaled(input, out)
      case "detect_stream" => new DetectStream(input, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val off = new Tracer(false)

    // Set-up: process start (first cycle) or session stop (later
    // cycles) to the end of the warm-up op, never traced.
    val setup = mutable.ArrayBuffer[Double]()
    val create = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 1 to SetupCycles) {
      val t0 =
        if (i == 1) System.nanoTime() - 1000000L *
          (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime)
        else System.nanoTime()
      val c0 = System.nanoTime()
      spark = GraftSession.create()
      create += (System.nanoTime() - c0) / 1e9
      w.warmup(spark, off)
      setup += (System.nanoTime() - t0) / 1e9
      if (i < SetupCycles) spark.stop()
    }

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workloadName, "cores" -> Runtime.getRuntime.availableProcessors,
      "setup_s" -> setup.toSeq, "session_create_s" -> create.toSeq)

    if (!trace) {
      w.warmPass(spark)
      val seg = w.measure(spark, off, seconds)
      result ++= Seq("latencies_s" -> seg.latencies, "extra" -> seg.extra)
    } else {
      val tracer = new Tracer(true)
      // one traced set-up cycle, against the untraced ones
      spark.stop()
      val t0 = System.nanoTime()
      spark = tracer.span("session", "GraftSession.create")(GraftSession.create())
      tracer.span("bench", "warmup")(w.warmup(spark, tracer))
      val tracedSetup = (System.nanoTime() - t0) / 1e9
      w.warmPass(spark)
      val plan = new PlanListener
      val phases = new PhaseListener
      val progress = new StreamProgress
      spark.sparkContext.addSparkListener(plan)
      spark.listenerManager.register(phases)
      spark.streams.addListener(progress)
      // untraced and traced units alternate (or split the window in two
      // halves), so drift hits both sides alike; the listeners only
      // count jobs of traced ops
      val (plain, seg) =
        if (!w.interleaved)
          (w.measure(spark, off, seconds / 2), w.measure(spark, tracer, seconds / 2))
        else {
          val end = System.nanoTime() + (seconds * 1e9).toLong
          val ps, ts = mutable.ArrayBuffer[Segment]()
          while (ps.isEmpty || System.nanoTime() < end) {
            ps += w.measure(spark, off, 0.0)
            ts += w.measure(spark, tracer, 0.0)
          }
          def cat(xs: Seq[Segment]) = Segment(xs.flatMap(_.latencies), xs.flatMap(_.ops))
          (cat(ps.toSeq), cat(ts.toSeq))
        }
      spark.sparkContext.setLocalProperty(PlanListener.OpKey, null)
      Thread.sleep(500) // listener events are delivered asynchronously
      val layer = mutable.LinkedHashMap[String, Double]()
      // the streaming op is a whole feed: report its counters per batch
      val perOp = seg.extra.get("batches").map(_.toString.toDouble.max(1.0)).getOrElse(1.0)
      layer ++= plan.opMetrics(seg.ops).map {
        case (k, v) if k != "plan.task_skew" => k -> v / perOp
        case kv => kv
      }
      layer("session.create_s") = Stats.median(create.toSeq)
      layer ++= w.layers(spark, tracer, seg, phases)
      layer ++= tracer.selfSeconds.map { case (k, v) => s"self.${k}_s" -> v }
      val opSpans = tracer.spans.filter(_.parent < 0).groupBy(_.op)
      layer("queries.plan_s") = Stats.median(seg.ops.map(op =>
        opSpans.getOrElse(op, Nil).map(s => phases.seconds(s.startMs, s.endMs)).sum))
      if (progress.batches.nonEmpty) {
        val bs = progress.batches.toSeq.filter(_.rows > 0)
        def med(f: progress.Batch => Double) = Stats.median(bs.map(f))
        layer ++= Seq(
          "streaming.trigger_ms_p50" -> med(_.triggerMs),
          "streaming.add_batch_ms_p50" -> med(_.addBatchMs),
          "streaming.wal_commit_ms_p50" -> med(_.walMs),
          "streaming.state_commit_ms_p50" -> med(_.stateCommitMs),
          "streaming.state_rows" -> bs.map(_.stateRows.toDouble).lastOption.getOrElse(0.0),
          "streaming.state_bytes" -> bs.map(_.stateBytes.toDouble).lastOption.getOrElse(0.0),
          "streaming.rows_per_batch_p50" -> med(_.rows.toDouble))
      }
      result ++= Seq(
        "latencies_s" -> seg.latencies, "extra" -> seg.extra,
        "untraced_latencies_s" -> plain.latencies,
        "untraced_extra" -> plain.extra,
        "traced_setup_s" -> tracedSetup, "layer" -> layer,
        "spans" -> tracer.spans.size)
      Files.writeString(Paths.get(s"$out/spans.json"), tracer.json)
    }
    val chk = w.check(spark, corrupt)
    result ++= Seq("attempted" -> chk.attempted, "failed" -> chk.failed,
      "check" -> chk.detail, "props" -> w.props)
    spark.stop()
    result("rss_hwm_mb") = rssHwmMb()
    Files.writeString(Paths.get(s"$out/result.json"), Json.value(result))
  }
}
