package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.{Level, LogManager}

/** Every main and spec plans with the same session: one factory, no
  * second builder that could drift from it, and an executed-plan
  * capture that waits on the listener bus instead of a guessed sleep. */
class GraftSessionSpec extends SparkSpec {

  private def source(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  test("a factory session carries the shared settings and the excluded rule") {
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get("spark.sql.optimizer.excludedRules") ==
      operators.BoundedWindow.ExcludedRule)
    assert(LogManager.getRootLogger.getLevel == Level.WARN)
  }

  test("GraftSession.scala is the only source file that builds a session") {
    // split so this file does not match its own search
    val needle = "SparkSession" + ".builder"
    val builders = Seq(Paths.get("src", "main", "scala"), Paths.get("src", "test", "scala"))
      .flatMap(root => Files.walk(root).iterator().asScala)
      .filter(p => p.toString.endsWith(".scala") && source(p).contains(needle))
    assert(builders == Seq(Paths.get("src", "main", "scala", "graft", "GraftSession.scala")))
  }

  test("executed capture returns every action's final plan, the query's own last") {
    val plans = Explain.executedPlans(spark, sf, "supplier_rollup")
    assert(plans.nonEmpty)
    val (_, last) = plans.last
    assert(last.startsWith("OverwriteByExpression NoopWrite"), last)
    assert(last.contains("isFinalPlan=true"), last)
    assert(Explain.shuffleExchanges(last) > 0, last)
    assert(!source(Paths.get("src", "main", "scala", "graft", "Explain.scala"))
      .contains("Thread" + ".sleep"))
  }
}
