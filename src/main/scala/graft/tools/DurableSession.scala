package graft.tools

import scala.util.control.NonFatal
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.GraftSession

/** Subprocess entry points for the durable-mart cross-JVM specs
  * (`MatDurableSpec`): each mode opens a FRESH SparkSession — a
  * genuinely different applicationId in a different JVM, the thing an
  * in-process test cannot fake — against a [[graft.MatLog]] root
  * written by the parent test session.
  *
  *  - `read <logRoot> <sfDir> <name> <expectVersion> <expectRows>`:
  *    adopt the committed mart WITHOUT rebuilding (the build thunk
  *    throws if forced) and check version + row count.
  *  - `merge-restart <logRoot> <sfDir> <ingestDir> <ckptDir> <name>`:
  *    restart the [[graft.streaming.Streams.mergeSink]] query with the
  *    parent's checkpoint: committed batches are SKIPPED, the adopted
  *    mart is upserted with only the new file, and the final snapshot
  *    must equal last-event-per-user over the whole ingest directory —
  *    the crash-recovery contract the transaction log exists for.
  *
  * Exit 0 on success; non-zero with the failure on stderr.
  */
object DurableSession {

  private def session(logRoot: String): SparkSession = {
    val s = GraftSession.local("4")
    s.conf.set(graft.Mat.LogRootConf, logRoot)
    s
  }

  private def lastPerUser(df: DataFrame): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("__rn") === 1).drop("__rn")

  def main(args: Array[String]): Unit = {
    val rc =
      try {
        args(0) match {
          case "read" =>
            val Array(_, logRoot, sfDir, name, expectV, expectRows) = args
            val spark = session(logRoot)
            val df = graft.Mat.table(spark, sfDir, name)(
              throw new IllegalStateException(
                "build thunk forced in a fresh session — adoption from the log failed"))
            val v = graft.Mat.currentVersion(spark, sfDir, name)
            val rows = df.count()
            require(v == expectV.toInt, s"adopted version $v != expected $expectV")
            require(rows == expectRows.toLong, s"adopted rows $rows != expected $expectRows")
            GraftSession.stop(spark); 0
          case "merge-restart" =>
            val Array(_, logRoot, sfDir, ingestDir, ckptDir, name) = args
            val spark = session(logRoot)
            val stream = spark.readStream
              .schema("user_id long, event_id long, ts long, value double")
              .option("maxFilesPerTrigger", "1")
              .parquet(ingestDir)
            val q = graft.streaming.Streams
              .mergeSink(stream, sfDir, name, "user_id", "ts", ckptDir)
              .trigger(Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            val got = spark.table(s"${graft.Mat.schemaFor(sfDir)}.$name")
            val expected = lastPerUser(spark.read.parquet(ingestDir))
            val missing = expected.exceptAll(got).count()
            val extra = got.exceptAll(expected).count()
            require(missing == 0 && extra == 0,
              s"restarted merge mart diverged: $missing missing, $extra extra rows")
            GraftSession.stop(spark); 0
          case other =>
            System.err.println(s"unknown mode: $other"); 2
        }
      } catch {
        case NonFatal(t) =>
          System.err.println(s"DurableSession failed: $t")
          t.printStackTrace()
          1
      }
    sys.exit(rc)
  }
}
