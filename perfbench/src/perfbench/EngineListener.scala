package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Engine-layer counters for the traced run: jobs, stages, tasks and
  * the task metrics Spark reports at task end. Registered only with
  * `--trace 1`; the time spent in its own callbacks is kept as well,
  * so the trace's cost is visible next to what it measured. */
final class EngineListener extends SparkListener {
  private val names = Seq("jobs", "stages", "tasks", "task_ns", "cpu_ns",
    "gc_ms", "shuffle_read_b", "shuffle_write_b", "spill_b", "scan_b", "self_ns")
  private val c = names.map(_ -> new AtomicLong).toMap

  private def timedCallback(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    c("self_ns").addAndGet(System.nanoTime() - t0): Unit
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    timedCallback(c("jobs").incrementAndGet())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    timedCallback(c("stages").incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedCallback {
    c("tasks").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c("task_ns").addAndGet(m.executorRunTime * 1000000L)
      c("cpu_ns").addAndGet(m.executorCpuTime)
      c("gc_ms").addAndGet(m.jvmGCTime)
      c("shuffle_read_b").addAndGet(
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      c("shuffle_write_b").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("spill_b").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c("scan_b").addAndGet(m.inputMetrics.bytesRead)
    }
  }

  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }

  /** Engine metrics over the interval between two snapshots. */
  def report(a: Map[String, Long], b: Map[String, Long], wallS: Double,
             out: scala.collection.mutable.Map[String, Double]): Unit = {
    def d(k: String): Double = (b(k) - a(k)).toDouble
    val taskS = d("task_ns") / 1e9
    out("engine.jobs") = d("jobs")
    out("engine.stages") = d("stages")
    out("engine.tasks") = d("tasks")
    out("engine.task_s") = taskS
    out("engine.cpu_s") = d("cpu_ns") / 1e9
    out("engine.gc_s") = d("gc_ms") / 1e3
    out("engine.parallel_eff") = taskS / (wallS * 4)
    out("engine.shuffle_read_mb") = d("shuffle_read_b") / 1e6
    out("engine.shuffle_write_mb") = d("shuffle_write_b") / 1e6
    out("engine.spill_mb") = d("spill_b") / 1e6
    out("engine.scan_mb") = d("scan_b") / 1e6
    out("trace.listener_ms") = d("self_ns") / 1e6
  }
}
