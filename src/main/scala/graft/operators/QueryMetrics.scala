package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Query-history capture — the `information_schema.query_history`
  * surface every warehouse exposes, recovered from Spark's
  * [[QueryExecutionListener]] hook: one row per completed action with
  * wall-clock duration, output rows (from the root operator's SQL
  * metrics), and the failure message if the action threw. Ops reads:
  * which pipeline stage dominates the nightly run, what regressed
  * after a deploy, which queries fail.
  *
  * The listener is passive metadata collection — per-query overhead is
  * one record append plus an O(1) size check on the driver (an
  * AtomicInteger tracks the count: ConcurrentLinkedQueue.size walks
  * the list). History is PER SESSION — each installed session gets its
  * own bounded buffer ([[MaxEntries]], oldest dropped), keyed weakly
  * so a discarded session's history is collectable. `history(spark)`
  * snapshots that session's buffer as a DataFrame.
  */
object QueryMetrics {

  val MaxEntries = 10000

  final case class QueryRecord(
    funcName: String, durationMs: Long, outputRows: Long,
    succeeded: Boolean, error: String)

  private final class Buffer {
    val queue = new ConcurrentLinkedQueue[QueryRecord]()
    val n = new AtomicInteger(0)
    def add(r: QueryRecord): Unit = {
      queue.add(r)
      if (n.incrementAndGet() > MaxEntries && queue.poll() != null)
        n.decrementAndGet(): Unit
    }
  }

  // weak keys: a dropped SparkSession must not be pinned by its history
  private val buffers =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Buffer]())

  private def bufferFor(spark: SparkSession): Buffer =
    buffers.synchronized {
      var b = buffers.get(spark)
      if (b == null) { b = new Buffer; buffers.put(spark, b) }
      b
    }

  /** Root-operator output rows. The literal root rarely carries the
    * metric: AQE wraps the plan in AdaptiveSparkPlanExec (no metrics)
    * and codegen in WholeStageCodegenExec (pipelineTime only) — both
    * must be unwrapped or every real query records -1. */
  private def outputRows(qe: QueryExecution): Long =
    try {
      def first(p: org.apache.spark.sql.execution.SparkPlan): Option[Long] =
        p.metrics.get("numOutputRows").map(_.value).orElse(p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            first(a.executedPlan)
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
            first(w.child)
          case other => other.children.headOption.flatMap(first)
        })
      first(qe.executedPlan).getOrElse(-1L)
    } catch { case NonFatal(e) =>
      System.err.println(s"[query-metrics] output rows unreadable: $e")
      -1L
    }

  private final class Listener(session: SparkSession) extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      bufferFor(session).add(QueryRecord(funcName, durationNs / 1000000L,
        outputRows(qe), succeeded = true, error = null))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      bufferFor(session).add(QueryRecord(funcName, -1L, -1L, succeeded = false,
        error = String.valueOf(e.getMessage)))
  }

  private val installedSessions =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Idempotently attach the listener to THIS session (per-session, not
    * process-global: a second session gets its own registration and its
    * own history). */
  def install(spark: SparkSession): Unit =
    installedSessions.synchronized {
      if (installedSessions.add(spark))
        spark.listenerManager.register(new Listener(spark))
    }

  /** Snapshot this session's captured history as a queryable DataFrame. */
  def history(spark: SparkSession): DataFrame = {
    import spark.implicits._
    bufferFor(spark).queue.asScala.toSeq.toDF()
  }

  /** Test hook: clear this session's buffer. */
  private[graft] def reset(spark: SparkSession): Unit = {
    val b = bufferFor(spark); b.queue.clear(); b.n.set(0)
  }
}
