package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.TimeUnit
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

/** Measured side of the benchmark: one JVM runs one workload against
  * the benchmark's input tables and writes its raw records (per-op seconds and
  * fingerprints, set-up timestamps, layer counters) as one JSON object.
  * `run.py` turns that into the metrics; this file only measures.
  *
  * It reaches the program through public entry points alone:
  * `Models.<mart>`, `Mat.ec`, `Mat.buildSeconds`, `SparkEntry.queries`,
  * `Streams.scratchTag` and `Streams.lastAccounting`, plus Spark's
  * listener and the JVM management beans.
  *
  *   Harness --workload W --data DIR --out FILE --seconds N --seed N
  *           --trace 0|1 --deadline-s N --ops A,B,.. --warmup A,B,..
  */
object Harness {

  /** Roots of the marts the metric queries read; their parents build
    * transitively: order_items, orders, customers, products_core,
    * products and customer_segmentation, 6 `Mat` barriers in all. */
  val SemanticRoots: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "customers" -> graft.Models.customers,
    "products" -> graft.Models.products,
    "customer_segmentation" -> graft.Models.customerSegmentation)

  final case class Args(workload: String, data: String, out: String,
                        seconds: Double, seed: Long, trace: Boolean,
                        deadlineS: Double, ops: Seq[String], warmup: Seq[String])

  /** `--ops` and `--warmup` are comma-separated op names: the timed
    * round, and the untimed ops run before it. */
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def names(k: String): Seq[String] = m(k).split(",").toSeq.filter(_.nonEmpty)
    Args(m("workload"), m("data"), m("out"), m("seconds").toDouble,
      m("seed").toLong, m("trace") == "1", m("deadline-s").toDouble,
      names("ops"), names("warmup"))
  }

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.excludedRules",
        graft.operators.BoundedWindow.ExcludedRule)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The `Bench` reduction: xxhash64 over every output column, then
    * bit_xor, so no column's work can be pruned away. */
  def fingerprintFrame(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.map(col).toSeq: _*).as("h")).agg(bit_xor(col("h")))

  def fingerprintOf(rows: Array[org.apache.spark.sql.Row]): String =
    f"${if (rows.head.isNullAt(0)) 0L else rows.head.getLong(0)}%016x"

  def now(): Long = System.nanoTime()
  def secs(from: Long, to: Long): Double = (to - from) / 1e9

  /** A seeded permutation of `xs`, different for every round. */
  def permuted[T](xs: Seq[T], seed: Long, round: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + round).shuffle(xs)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rec = new Recorder(a)
    val ok =
      try { new Runner(a, rec).run(); true }
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          rec.fatal = Some(e.toString)
          false
      }
    rec.write()
    // Spark's shutdown hook stops the app; Mat's pool and Spark leave
    // non-daemon threads behind, so the process is ended explicitly.
    System.exit(if (ok) 0 else 1)
  }
}

/** Everything a run writes, as plain values, rendered to JSON at the end. */
final class Recorder(val a: Harness.Args) {
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  private val uptime0S = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
  private val t0 = System.nanoTime()
  /** Seconds since the JVM started. */
  def uptimeS(): Double = uptime0S + (System.nanoTime() - t0) / 1e9
  var setupS: Double = 0.0
  var runS: Double = 0.0
  var liveHeapMb: Double = 0.0
  /** Wall seconds of each timed round. */
  val roundS = ArrayBuffer[Double]()
  val ticks0: CpuTicks = CpuTicks.read()
  /** Share of busy CPU time the host took away (steal), during set-up
    * and during the timed section. */
  var stealSetup: Double = 0.0
  var stealRun: Double = 0.0
  var fatal: Option[String] = None
  val builds = ArrayBuffer[Json.Obj]()
  val ops = ArrayBuffer[Json.Obj]()
  val layers = scala.collection.mutable.LinkedHashMap[String, Double]()

  def write(): Unit = {
    val jvm = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .fold(0L)(_.getTotalCompilationTime)
    layers("jvm.gc_ms") = jvm.toDouble
    layers("jvm.jit_ms") = jit.toDouble
    layers("jvm.threads_peak") = ManagementFactory.getThreadMXBean.getPeakThreadCount.toDouble
    val body = Json.Obj(
      "workload" -> Json.Str(a.workload),
      "seed" -> Json.Num(a.seed.toDouble),
      "trace" -> Json.Bool(a.trace),
      "setup_s" -> Json.Num(setupS),
      "run_s" -> Json.Num(runS),
      "live_heap_mb" -> Json.Num(liveHeapMb),
      "round_s" -> Json.Arr(roundS.toSeq.map(Json.Num)),
      "steal_setup" -> Json.Num(stealSetup),
      "steal_run" -> Json.Num(stealRun),
      "fatal" -> fatal.fold[Json.Value](Json.Null)(Json.Str),
      "builds" -> Json.Arr(builds.toSeq),
      "ops" -> Json.Arr(ops.toSeq),
      "layers" -> Json.Obj(layers.toSeq.map { case (k, v) => k -> Json.Num(v) }: _*))
    java.nio.file.Files.write(java.nio.file.Paths.get(a.out),
      Json.render(body).getBytes("UTF-8"))
  }
}

final class Runner(a: Harness.Args, rec: Recorder) {
  import Harness._

  private val deadline = rec.jvmStartMs + (a.deadlineS * 1000).toLong
  private def await[T](f: Future[T]): T = Await.result(f,
    Duration(math.max(1L, deadline - System.currentTimeMillis()), TimeUnit.MILLISECONDS))

  private val queries = graft.SparkEntry.queries
  private val listener = if (a.trace) Some(new EngineListener) else None
  private val spark: SparkSession = session()
  listener.foreach(spark.sparkContext.addSparkListener)

  def run(): Unit = a.workload match {
    case "semantic_queries" => semanticQueries()
    case "stream_ingest" => streamIngest()
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Runs `body` in rounds until the timed section has lasted `seconds`
    * (whole rounds only, so every run covers every op equally often);
    * `run_s` is the section's wall time per round. */
  private def timed(body: Int => Unit): Unit = {
    rec.setupS = rec.uptimeS()
    rec.stealSetup = CpuTicks.read().stealShareSince(rec.ticks0)
    val ticks0 = CpuTicks.read()
    val engine0 = listener.map(_.snapshot())
    val t0 = now()
    var round = 0
    while (round == 0 || secs(t0, now()) < a.seconds) {
      val r0 = now()
      body(round)
      rec.roundS += secs(r0, now())
      round += 1
    }
    val wall = secs(t0, now())
    rec.runS = wall / round
    rec.stealRun = CpuTicks.read().stealShareSince(ticks0)
    for (l <- listener; e0 <- engine0) l.report(e0, l.snapshot(), wall, rec.layers)
    rec.liveHeapMb = liveHeapMb()
  }

  /** Heap left after a full collection: each heap pool's usage as the
    * last GC left it, so allocation racing the read does not count. */
  private def liveHeapMb(): Double = {
    // the second collection runs after Spark's cleaner has had time to
    // drop the blocks the first one made unreachable
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
  }

  /** A cold build of the barriers under `roots`: one Future per root on
    * `Mat.ec`, as `Models.prebuildMarts` launches them, so a change to
    * Mat's scheduling shows here unchanged. */
  private def build(label: String,
                    roots: Seq[(String, (SparkSession, String) => DataFrame)]): Unit = {
    val self0 = graft.Mat.buildSeconds.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
    val t0 = now()
    val done = roots.map { case (name, fn) =>
      name -> Future { fn(spark, a.data); secs(t0, now()) }(graft.Mat.ec)
    }.map { case (n, f) => n -> await(f) }
    val wall = secs(t0, now())
    val self = graft.Mat.buildSeconds.asScala.toSeq.map { case (k, v) =>
      k -> (v.doubleValue - self0.getOrElse(k, 0.0)) }.filter(_._2 > 0).sortBy(_._1)
    val (files, bytes) = martFiles()
    rec.builds += Json.Obj(
      "label" -> Json.Str(label),
      "wall_s" -> Json.Num(wall),
      "roots" -> Json.Obj(done.map { case (k, s) => k -> Json.Num(s) }: _*),
      "self_s" -> Json.Obj(self.map { case (k, v) => k -> Json.Num(v) }: _*),
      "files" -> Json.Num(files.toDouble),
      "bytes" -> Json.Num(bytes.toDouble))
  }

  /** Data files and bytes under this app's mart directory. */
  private def martFiles(): (Long, Long) = {
    val root = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      "graft-marts", spark.sparkContext.applicationId)
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      val st = java.nio.file.Files.walk(root)
      try {
        val fs = st.iterator().asScala.filter(p =>
          java.nio.file.Files.isRegularFile(p) && {
            val n = p.getFileName.toString
            !n.startsWith(".") && !n.startsWith("_")
          }).toSeq
        (fs.size.toLong, fs.map(java.nio.file.Files.size).sum)
      } finally st.close()
    }
  }

  private def failed(base: Json.Obj, t0: Long, e: Throwable): Unit = {
    System.err.println(s"[perfbench] op failed: ${Json.render(base)}: $e")
    rec.ops += base ++ Json.Obj("s" -> Json.Num(secs(t0, now())), "error" -> Json.Str(e.toString))
  }

  // ---- semantic_queries -----------------------------------------------

  /** One op: registry call, physical planning, execution. Scan metrics
    * are read from the executed plan only when tracing. */
  private def query(name: String, round: Int): Unit = {
    val base = Json.Obj("name" -> Json.Str(name), "round" -> Json.Num(round),
      "warmup" -> Json.Bool(round < 0))
    val t0 = now()
    try {
      val df = fingerprintFrame(queries(name)(spark, a.data))
      val t1 = now()
      df.queryExecution.executedPlan
      val t2 = now()
      val fp = fingerprintOf(df.collect())
      val t3 = now()
      val (read, pruned) = if (a.trace) ScanMetrics.of(df) else (0L, 0L)
      rec.ops += base ++ Json.Obj("s" -> Json.Num(secs(t0, t3)), "fp" -> Json.Str(fp),
        "construct_s" -> Json.Num(secs(t0, t1)), "plan_s" -> Json.Num(secs(t1, t2)),
        "exec_s" -> Json.Num(secs(t2, t3)),
        "files_read" -> Json.Num(read.toDouble), "files_pruned" -> Json.Num(pruned.toDouble))
    } catch { case NonFatal(e) => failed(base, t0, e) }
  }

  /** Set-up builds the barriers the metric queries read (the queries'
    * fingerprints check them) and runs the warm-up queries; the timed
    * section runs rounds of the metric queries in a seed-permuted order. */
  private def semanticQueries(): Unit = {
    build("setup", SemanticRoots)
    permuted(a.warmup, a.seed, -1).foreach(query(_, -1))
    timed(r => permuted(a.ops, a.seed, r).foreach(query(_, r)))
  }

  // ---- stream_ingest --------------------------------------------------

  /** One op: a one-shot stream on a fresh scratch tag, forced through
    * the fingerprint; its micro-batch accounting is whatever
    * `Streams.lastAccounting` entries the op replaced. */
  private def stream(name: String, round: Int): Unit = {
    graft.streaming.Streams.scratchTag = s"r$round-$name"
    val before = graft.streaming.Streams.lastAccounting.asScala.toMap
    val base = Json.Obj("name" -> Json.Str(name), "round" -> Json.Num(round),
      "warmup" -> Json.Bool(round < 0))
    val t0 = now()
    try {
      val fp = fingerprintOf(fingerprintFrame(queries(name)(spark, a.data)).collect())
      val t1 = now()
      val acct = graft.streaming.Streams.lastAccounting.asScala.toSeq
        .filter { case (k, v) => !before.get(k).exists(_ eq v) }
        .map { case (k, v) => k -> Json.Raw(v) }
      rec.ops += base ++ Json.Obj("s" -> Json.Num(secs(t0, t1)), "fp" -> Json.Str(fp),
        "acct" -> Json.Obj(acct: _*))
    } catch { case NonFatal(e) => failed(base, t0, e) }
  }

  /** Set-up runs the warm-up streams; the timed section runs rounds of
    * the streams in a seed-permuted order. */
  private def streamIngest(): Unit = {
    a.warmup.foreach(stream(_, -1))
    timed(r => permuted(a.ops, a.seed, r).foreach(stream(_, r)))
  }
}

/** The machine-wide CPU counters of `/proc/stat` (zero where there is
  * none): busy ticks (user, nice, system, irq, softirq, steal) and the
  * steal ticks among them, which a virtual machine's host took away. */
final case class CpuTicks(busy: Long, steal: Long) {
  def stealShareSince(o: CpuTicks): Double =
    if (busy > o.busy) (steal - o.steal).toDouble / (busy - o.busy) else 0.0
}

object CpuTicks {
  def read(): CpuTicks = {
    val f = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.isReadable(f)) CpuTicks(0L, 0L)
    else {
      // cpu user nice system idle iowait irq softirq steal ...
      val v = java.nio.file.Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      CpuTicks(v(0) + v(1) + v(2) + v(5) + v(6) + v(7), v(7))
    }
  }
}
