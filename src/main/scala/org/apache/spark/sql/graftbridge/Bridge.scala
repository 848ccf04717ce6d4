package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made the classic converters
  * `private[sql]` (Connect split); extensions shipping custom Catalyst
  * expressions expose them via an `org.apache.spark.sql` subpackage —
  * the same access pattern third-party Spark extension libraries use.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Stop the StateStore maintenance task (and unload loaded
    * providers) BEFORE `spark.stop()`: the scheduled maintenance
    * thread outlives the SparkEnv and its next tick prints an
    * "SparkEnv not active" IllegalStateException stack into every
    * harness artifact tail (VERDICT r15 #4a). `StateStore.stop()` is
    * `private[sql]`, hence the bridge. */
  def stopStateStoreMaintenance(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()

  /** Block until every listener event posted so far is delivered.
    * `QueryExecutionListener` callbacks ride that bus, so once an
    * action has returned, this makes its callbacks have run.
    * `SparkContext.listenerBus` is `private[spark]`. */
  def awaitListeners(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** `localCheckpoint(eager)` that PRESERVES the checkpointed plan's
    * output partitioning (and ordering) under AQE.
    *
    * Why: `Dataset.checkpoint` records
    * `queryExecution.executedPlan.outputPartitioning` into the
    * LogicalRDD — but under adaptive execution that plan is the
    * `AdaptiveSparkPlanExec` WRAPPER, whose static partitioning is
    * `UnknownPartitioning`. A `repartition(key)` immediately before a
    * checkpoint is therefore invisible to every downstream plan, and
    * an iterative operator re-shuffles state that is already
    * correctly partitioned on every round (measured: the PartProbe
    * run logged in OPTIMIZATION_r19.md).
    *
    * Fix: checkpoint as usual (the action finalizes the AQE plan),
    * then rebuild the root LogicalRDD with the FINAL physical plan's
    * partitioning/ordering, attribute-remapped onto the checkpoint's
    * output. Only partitionings whose references all survive into the
    * output are claimed; anything else falls back to the stock
    * checkpoint (never a wrong claim — a mis-claimed partitioning
    * would elide exchanges incorrectly). `plans.Checkpoints.free`
    * still matches the rebuilt root and frees the same RDD. */
  def localCheckpointPartitioned(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Expression, SortOrder}
    import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
    import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val cp = df.localCheckpoint(true)
    @annotation.tailrec
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case pc: PartitioningCollection => firstLeaf(pc.partitionings.head)
      case other => other
    }
    val finalPlan: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    cp.queryExecution.analyzed match {
      case lr: LogicalRDD if finalPlan.output.length == lr.output.length =>
        val attrMap = AttributeMap(finalPlan.output.zip(lr.output))
        def remap(e: Expression): Expression =
          e.transform { case a: Attribute => attrMap.getOrElse(a, a) }
        val part: Partitioning = firstLeaf(finalPlan.outputPartitioning) match {
          case ep: Expression =>
            val r = remap(ep)
            if (r.references.subsetOf(lr.outputSet)) r.asInstanceOf[Partitioning]
            else lr.outputPartitioning
          case p => p // non-expression partitionings carry no attrs
        }
        val ordering: Seq[SortOrder] = finalPlan.outputOrdering
          .map(so => remap(so).asInstanceOf[SortOrder])
          .takeWhile(_.references.subsetOf(lr.outputSet))
        val rebuilt = lr.makeCopy(Array(
          lr.output, lr.rdd, part, ordering,
          java.lang.Boolean.valueOf(lr.isStreaming), lr.stream))
        org.apache.spark.sql.classic.Dataset.ofRows(
          cp.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          rebuilt.asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])
      case _ => cp
    }
  }
}
