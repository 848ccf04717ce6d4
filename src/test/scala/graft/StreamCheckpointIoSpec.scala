package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, Path}
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.DataFrame
import graft.streaming.Streams

/** Checkpoint I/O of the one-shot streams: their FileContext writes
  * (state-store commits, offset and commit logs) start no process, and
  * their results stay those of the batch oracles. */
class StreamCheckpointIoSpec extends SparkSpec {

  /** The one-shot streams of the `stream_ingest` benchmark. */
  private val streams = Seq("stream_windowed_counts", "stream_sessions_multibatch",
    "stream_dedup_multibatch", "stream_user_rollup_multibatch",
    "stream_attribution_multibatch", "stream_sink_parquet", "stream_sink_merge")

  /** `jdk.ProcessStart` events, with stacks, of the processes `body` starts. */
  private def processStarts[T](body: => T): (T, Seq[RecordedEvent]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val out = try body finally rec.stop()
    val f = Files.createTempFile("process-start", ".jfr")
    try { rec.dump(f); (out, RecordingFile.readAllEvents(f).asScala.toSeq) }
    finally { rec.close(); Files.deleteIfExists(f) }
  }

  private def viaFileContext(e: RecordedEvent): Boolean =
    Option(e.getStackTrace).exists(_.getFrames.asScala.exists { fr =>
      val t = fr.getMethod.getType.getName
      t == "org.apache.hadoop.fs.FileContext" || t.startsWith("org.apache.hadoop.fs.FileContext$")
    })

  private def withTag[T](tag: String)(body: => T): T = {
    val prev = Streams.scratchTag
    Streams.scratchTag = tag
    try body finally Streams.scratchTag = prev
  }

  /** The DuckDB oracle in Spark's dialect. Spark has no `list_reduce`
    * (`aggregate` over the same (ts, event_id) order is the same
    * sequential fold) and no `qualify` (a filtered subquery is). */
  private def oracle(name: String): DataFrame =
    spark.sql(SparkEntry.oracleSql(name)
      .replace("list_reduce(list(value order by ts, event_id), (a, x) -> a + x)",
        "aggregate(transform(array_sort(collect_list(struct(ts, event_id, value))), " +
          "e -> e.value), 0D, (a, x) -> a + x)")
      .replaceAll("(?s)select ([^()]*?) from events\\s+qualify row_number\\(\\) over\\s*\\((.*?)\\) = 1",
        "select $1 from (select *, row_number() over ($2) as rn_ from events) where rn_ = 1"))

  private def assertSameRows(got: DataFrame, want: DataFrame, clue: String): Unit = {
    val w = want.select(got.columns.toSeq.map(want.col): _*)
    assert(got.exceptAll(w).isEmpty && w.exceptAll(got).isEmpty, clue)
  }

  /** The per-batch input rows of a `Streams.lastAccounting` entry. */
  private def batchRows(acct: String): Seq[Long] =
    Option(acct).flatMap("\"batch_rows\":\\[([0-9,]*)\\]".r.findFirstMatchIn(_))
      .fold(Seq.empty[Long])(_.group(1).split(",").toSeq.filter(_.nonEmpty).map(_.toLong))

  override def beforeAll(): Unit = {
    super.beforeAll()
    Tables.events(spark, sf).createOrReplaceTempView("events")
  }
  override def afterAll(): Unit = {
    spark.catalog.dropTempView("events")
    super.afterAll()
  }

  test("the guard sees FileContext forks of Hadoop's own LocalFs") {
    val dir = Files.createTempDirectory("forkguard-control")
    val (_, events) = processStarts {
      val fc = FileContext.getFileContext(new Configuration())
      fc.create(new Path(dir.resolve("f").toUri), java.util.EnumSet.of(CreateFlag.CREATE)).close()
    }
    if (!NativeCodeLoader.isNativeCodeLoaded)
      assert(events.exists(viaFileContext), s"${events.size} process starts, none via FileContext")
  }

  test("one-shot streams start no process through FileContext; results match the oracles") {
    val (results, events) = withTag("forkguard") {
      processStarts {
        streams.map { n =>
          Streams.lastAccounting.remove(n)
          val df = SparkEntry.queries(n)(spark, sf)
          df.count()
          n -> df
        }
      }
    }
    val forked = events.filter(viaFileContext)
    assert(forked.size == 0, s"${forked.size} of ${events.size} process starts came " +
      s"through FileContext, e.g.:\n${forked.headOption.fold("")(_.getStackTrace.toString)}")
    results.foreach { case (n, df) =>
      // a fresh tag makes every stream process, not replay a checkpoint
      assert(batchRows(Streams.lastAccounting.get(n)).exists(_ > 0), s"$n processed no rows")
      assertSameRows(df, oracle(n), n)
    }
  }

  test("tagged merge-sink runs each build their own mart and match the oracle") {
    val runs = Seq("merge-a", "merge-b").map { t =>
      withTag(t) {
        val rows = Streams.mergeSinkOnce(spark, sf)
        rows -> Streams.lastAccounting.get("stream_sink_merge")
      }
    }
    val (a, b) = (batchRows(runs(0)._2), batchRows(runs(1)._2))
    assert(a == b, runs.map(_._2))
    // the first batch creates the mart, reading its input once; an
    // upsert into a mart left by an earlier run reads it three times
    assert(a.headOption.contains(spark.table("events").count()), runs.map(_._2))
    runs.foreach { case (rows, _) => assertSameRows(rows, oracle("stream_sink_merge"), "merge") }
  }
}
