package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.UtxoInputPartition

/** In-memory spans recorded around the benchmark's calls into each
  * layer (traced runs only); written out once when the run ends. Spans
  * of one timed operation share its `op` number.
  */
final class Tracer {
  final case class Span(name: String, op: Int, startNs: Long, durNs: Long)
  val spans = ArrayBuffer.empty[Span]
  private val origin = System.nanoTime()

  def span[T](name: String, op: Int)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally spans += Span(name, op, t0 - origin, System.nanoTime() - t0)
  }

  /** Per-op durations (seconds) of spans named `name`. */
  def seconds(name: String): Seq[Double] = spans.filter(_.name == name).map(_.durNs / 1e9).toSeq

  def json: String = spans.map { s =>
    s"""{"name":"${s.name}","op":${s.op},"start_ns":${s.startNs},"dur_ns":${s.durNs}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Task-level counters from a SparkListener. */
final class StageCounters extends SparkListener {
  val names = Seq("task_run_ms", "task_cpu_ms", "gc_ms", "shuffle_write_bytes",
    "fetch_wait_ms", "spill_bytes", "input_bytes")
  private val c = names.map(_ -> new AtomicLong).toMap

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    c("task_run_ms").addAndGet(m.executorRunTime)
    c("task_cpu_ms").addAndGet(m.executorCpuTime / 1000000L)
    c("gc_ms").addAndGet(m.jvmGCTime)
    c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
    c("fetch_wait_ms").addAndGet(m.shuffleReadMetrics.fetchWaitTime)
    c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    c("input_bytes").addAndGet(m.inputMetrics.bytesRead)
  }

  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }
}

/** The split plan of every `utxo` scan and the partition count of every
  * shuffle exchange in the queries executed while attached.
  */
final class PlanShapes extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val scans = ArrayBuffer.empty[Seq[UtxoInputPartition]]
  val buckets = ArrayBuffer.empty[Int]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    scans ++= collect(qe.executedPlan) { case s: BatchScanExec =>
      s.inputPartitions.collect { case p: UtxoInputPartition => p }
    }.filter(_.nonEmpty)
    buckets ++= collect(qe.executedPlan) { case e: ShuffleExchangeLike => e.numPartitions }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Planning time (analysis + optimization + planning) of every query
  * execution, from a QueryExecutionListener.
  */
final class PlanCounter extends QueryExecutionListener {
  val planMs = new AtomicLong
  private def add(qe: QueryExecution): Unit =
    planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** Micro-batch progress from a StreamingQueryListener. */
final class StreamCounters extends StreamingQueryListener {
  val triggerMs = ArrayBuffer.empty[Long]
  val addBatchMs = new AtomicLong
  val commitMs = new AtomicLong

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val d = e.progress.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    triggerMs += ms("triggerExecution")
    addBatchMs.addAndGet(ms("addBatch"))
    commitMs.addAndGet(ms("walCommit") + ms("commitOffsets"))
  }
}
