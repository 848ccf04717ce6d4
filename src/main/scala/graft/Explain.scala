package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool: the plans of registered queries, three ways.
  *
  *  - `static`: the formatted physical plan before execution (pushed
  *    filters, ReadSchema pruning, WholeStageCodegen spans, join
  *    strategies).
  *  - `executed`: the final adaptive plan of every action the query
  *    runs, its own last: AQE join rewrites, coalesced reads and
  *    ReusedExchange, and the per-round plans of iterative operators
  *    inside Mat barrier builds, none of which the static plan shows.
  *  - `phases`: three passes of construct / plan / execute seconds,
  *    after an untimed prebuild of every Mat barrier.
  *
  * Usage: sbt "runMain graft.Explain static|executed|phases <sfDir> [queryName ...]"
  * (no names = every registered query).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.Explain static|executed|phases <sfDir> [queryName ...]"
    require(args.length >= 2, usage)
    val Array(mode, sfDir) = args.take(2)
    val show: (SparkSession, String) => Unit = mode match {
      case "static" => (spark, n) => SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      case "executed" => (spark, n) =>
        executedPlans(spark, sfDir, n).zipWithIndex.foreach { case ((action, plan), i) =>
          println(s"== action $i ($action) shuffleExchanges=${shuffleExchanges(plan)} ==\n$plan")
        }
      case "phases" => (spark, n) =>
        (1 to 3).foreach { pass =>
          val (construct, plan, exec) = phases(spark, sfDir, n)
          println(f"$n%-28s pass$pass construct=$construct%6.3f plan=$plan%6.3f exec=$exec%6.3f")
        }
      case _ => throw new IllegalArgumentException(usage)
    }
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    try {
      if (mode == "phases") Models.prebuildMarts(spark, sfDir)
      names.foreach { n =>
        println(s"\n========== $n ==========")
        try show(spark, n)
        catch { case NonFatal(e) => println(s"[explain] $n failed: ${e.getMessage}") }
      }
    } finally GraftSession.stop(spark)
  }

  /** (action name, final executed plan) of every action that completes
    * while query `name` is built and written to a noop sink, in
    * completion order: Mat barrier builds and eager checkpoints first,
    * the query's own write last. */
  def executedPlans(spark: SparkSession, sfDir: String, name: String): Seq[(String, String)] = {
    val plans = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(funcName -> qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      Bridge.awaitListeners(spark)
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** Shuffle exchanges that ran in `plan`: broadcasts and reuses excluded. */
  def shuffleExchanges(plan: String): Int =
    plan.linesIterator.count(l => l.contains("Exchange") &&
      !l.contains("BroadcastExchange") && !l.contains("ReusedExchange"))

  /** Seconds to construct the query's DataFrame, to analyze, optimize
    * and plan its [[Bench.fingerprint]], and to execute that. */
  def phases(spark: SparkSession, sfDir: String, name: String): (Double, Double, Double) = {
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    val fp = Bench.fingerprint(fn(spark, sfDir))
    val t1 = System.nanoTime()
    fp.queryExecution.executedPlan
    val t2 = System.nanoTime()
    fp.collect()
    val t3 = System.nanoTime()
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
  }
}
