package graftbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** A named measurement with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What one run reports: operations attempted and failed, the metrics of
  * the requested mode, and free-form provenance/detail fields. */
final case class Outcome(attempted: Long, failed: Long, metrics: Seq[Metric],
    detail: Seq[(String, Any)])

object Stats {
  /** Linear-interpolated percentile (numpy's default), p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Benchmark-owned SparkListener: counts jobs, tasks, executor CPU time,
  * shuffle bytes written and bytes spilled while `enabled`. It sits outside
  * graft and sees only the public listener events. */
final class TaskCounter extends SparkListener {
  @volatile private var enabled = false
  val jobs, tasks, cpuNanos, shuffleBytes, spillBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (enabled) jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (enabled) {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        cpuNanos.addAndGet(m.executorCpuTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

  private def reset(): Unit = Seq(jobs, tasks, cpuNanos, shuffleBytes, spillBytes).foreach(_.set(0))

  /** Runs `body` with counting on and returns the counts it caused. Listener
    * events arrive asynchronously, so it waits for the bus to drain. */
  def during[T](spark: SparkSession)(body: => T): (T, TaskCounter.Counts) = {
    reset(); enabled = true
    val out = try body finally {
      org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
      enabled = false
    }
    (out, TaskCounter.Counts(jobs.get, tasks.get, cpuNanos.get / 1e9,
      shuffleBytes.get, spillBytes.get))
  }
}

object TaskCounter {
  final case class Counts(jobs: Long, tasks: Long, cpuS: Double, shuffleBytes: Long,
      spillBytes: Long)
}
