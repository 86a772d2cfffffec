package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.connector.ChScan
import graft.pushdown.ClickHouseRemoteExec

object Tracer {
  /** The first traced cycle: the seeded sequence every run with that seed
    * repeats, over which counts are taken.
    */
  val CountedCycle = 1
}

final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, opId: Long)

/** Spans and per-layer accumulators of a traced run.
  *
  * A traced run starts with one untraced cycle, then alternates whole
  * cycles: odd cycles are traced and even ones run untraced, so the run can
  * report its own tracing overhead without the first cycle's warm-up in
  * either side. Spans stay in memory and are written out by [[write]] when
  * the run ends. Replay spans (client-layer calls re-issued on an
  * operation's captured remote SQL) run after the operation's clock stopped.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.CountedCycle
  /** True while the current cycle is traced. */
  var active = false
  /** Current cycle index; counts are kept for [[CountedCycle]] only. */
  var cycle = 0

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var opId = -1L
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val ns = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val counted = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var spark: SparkSession = _
  private val counters = new SparkCounters

  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(counters)
  }

  def span[T](name: String)(f: => T): T =
    if (!active) f
    else {
      val idx = spans.length
      spans += Span(name, System.nanoTime(), -1L, stack.headOption.getOrElse(-1), opId)
      stack = idx :: stack
      try f
      finally {
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
        stack = stack.tail
      }
    }

  /** Time one operation; with tracing active it is one span, and the
    * Spark listener's deltas over it are recorded under `kind`.
    */
  def op[T](kind: String)(f: => T): (T, Double) = {
    opId += 1
    val before = if (active) { org.apache.spark.perfbench.Bus.drain(spark); counters.snapshot() } else null
    val first = spans.length
    val t0 = System.nanoTime()
    val r = span(kind)(f)
    val ms = (System.nanoTime() - t0) / 1e6
    if (active) {
      org.apache.spark.perfbench.Bus.drain(spark)
      val d = counters.snapshot().zip(before).map { case (a, b) => a - b }
      val Array(jobs, stages, tasks, cpuNs, runMs, shuffle) = d
      count("spark.jobs", jobs); count("spark.stages", stages); count("spark.tasks", tasks)
      count("spark.shuffle_bytes", shuffle)
      sample("spark.executor_cpu_ms", cpuNs / 1e6)
      sample("spark.executor_run_ms", runMs.toDouble)
      sample(s"$kind.executor_run_ms", runMs.toDouble)
      val opSpan = spans(first)
      val childNs = spans.iterator.drop(first + 1).filter(_.parent == first)
        .map(s => s.endNs - s.startNs).sum
      sample("trace.op_self_ms", (opSpan.endNs - opSpan.startNs - childNs) / 1e6)
    }
    (r, ms)
  }

  /** Client-layer calls on an operation's captured remote SQL. */
  def replay(f: => Unit): Unit = if (active) span("replay")(f)

  /** Time `f` as a child span and record its duration as a sample. */
  def timed[T](name: String, scale: Double = 1e-6)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = span(name)(f)
    sample(name, (System.nanoTime() - t0) * scale)
    r
  }

  def sample(name: String, v: Double): Unit = if (active) { sums(name) += v; ns(name) += 1 }
  def count(name: String, v: Double): Unit = if (active && cycle == CountedCycle) counted(name) += v
  def gauge(name: String, v: Double): Unit = if (active && cycle == CountedCycle) counted(name) = v

  def mean(name: String): Double = if (ns(name) == 0) 0.0 else sums(name) / ns(name)
  def total(name: String): Double = sums(name)
  def countedValue(name: String): Double = counted(name)

  /** Spans as JSON lines: name, start, end, parent, op id. */
  def write(file: Path): Unit = if (enabled) {
    Files.createDirectories(file.getParent)
    val lines = spans.iterator.map { s =>
      s"""{"name": ${Json.str(s.name)}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "parent": ${s.parent}, "op": ${s.opId}}"""
    }
    Files.write(file, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Job, stage and task counts and task metrics from the listener bus. */
final class SparkCounters extends SparkListener {
  private val v = Array.fill(6)(new AtomicLong)
  def snapshot(): Array[Long] = v.map(_.get)
  override def onJobStart(e: SparkListenerJobStart): Unit = v(0).incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = v(1).incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    v(2).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      v(3).addAndGet(m.executorCpuTime)
      v(4).addAndGet(m.executorRunTime)
      v(5).addAndGet(m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
    }
  }
}

/** The connector's nodes in an executed plan (AQE stages included). */
object Plans extends AdaptiveSparkPlanHelper {
  /** (remote SQL, rows the node delivered) per remote statement. */
  def remote(plan: SparkPlan): Seq[(String, Long)] = collectWithSubqueries(plan) {
    case b: BatchScanExec if b.scan.isInstanceOf[ChScan] =>
      (b.scan.asInstanceOf[ChScan].generatedSql,
        b.metrics.get("chRowsRead").map(_.value).getOrElse(0L))
    case r: ClickHouseRemoteExec =>
      (r.sql, r.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
  }

  /** Record the Catalyst phase and pushdown-rule figures of a finished query. */
  def recordPlanning(tr: Tracer, qe: org.apache.spark.sql.execution.QueryExecution): Unit =
    if (tr.active) {
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        tr.sample(s"spark.${p}_ms", phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
      }
      val rule = qe.tracker.rules.collectFirst {
        case (name, s) if name.contains("ClickHouseFunctionPushdown") => s
      }
      tr.sample("pushdown.rule_ms", rule.map(_.totalTimeNs / 1e6).getOrElse(0.0))
      tr.sample("pushdown.rule_invocations", rule.map(_.numInvocations.toDouble).getOrElse(0.0))
      tr.sample("pushdown.rule_effective", rule.map(_.numEffectiveInvocations.toDouble).getOrElse(0.0))
      tr.count("pushdown.rule_calls", rule.map(_.numInvocations.toDouble).getOrElse(0.0))
    }
}
