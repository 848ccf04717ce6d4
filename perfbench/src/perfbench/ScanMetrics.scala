package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Files read and files pruned by the file scans of an executed query,
  * from the scans' SQL metrics (`numFiles`) against the data files under
  * each scanned table's root. */
object ScanMetrics {

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  private def dataFiles(root: java.net.URI): Long = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val st = java.nio.file.Files.walk(p)
      try st.filter { f =>
        val n = f.getFileName.toString
        java.nio.file.Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.count()
      finally st.close()
    }
  }

  /** (files read, files pruned) over every file scan of `df`'s executed plan. */
  def of(df: DataFrame): (Long, Long) = {
    val catalog = df.sparkSession.sessionState.catalog
    val perScan = scans(df.queryExecution.executedPlan).map { s =>
      val read = s.metrics.get("numFiles").fold(0L)(_.value)
      val roots = s.tableIdentifier match {
        case Some(t) => Seq(catalog.getTableMetadata(t).location)
        case None => s.relation.location.rootPaths.map(_.toUri)
      }
      val total = roots.filter(_.getScheme == "file").map(dataFiles(_)).sum
      (read, math.max(0L, total - read))
    }
    (perScan.map(_._1).sum, perScan.map(_._2).sum)
  }
}
