package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, xxhash64, bit_xor}

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line of per-query seconds.
  *
  * Each query is forced through FULL materialization — xxhash64 over
  * every output column, then bit_xor-reduced (sum overflows ANSI longs) — so Catalyst cannot prune the
  * projection work the way a bare `.count()` would (VERDICT r1 #3:
  * count() reduced staging benches to parquet row-counts). The hash
  * agg itself is codegen'd and adds negligible time vs the query body.
  */
object Bench {

  /** Per-query min across N passes — the headline estimator (VERDICT
    * r6 #2: a one-pass headline lets a single contention/GC window own
    * the round's number; VERDICT r9 #5: two passes can't distinguish
    * noise from drift when min-of-2 swings 2× on unchanged code, so
    * r10 runs three). GUARDED (VERDICT r7 #7): every pass must cover
    * exactly the same full query set, name-aligned, else a pass that
    * died mid-run would silently shrink the min dict and masquerade as
    * a speedup. Throws on any drift; BenchSpec exercises both arms.
    */
  def minResults(passes: Seq[Seq[(String, Double)]],
                 expected: Int): Seq[(String, Double)] = {
    require(passes.nonEmpty, "minResults needs at least one pass")
    passes.foreach(p => require(p.size == expected,
      s"bench pass incomplete: got=${p.size} expected=$expected"))
    require(passes.forall(_.map(_._1) == passes.head.map(_._1)),
      "bench passes cover different query sets")
    passes.head.indices.map { i =>
      passes.head(i)._1 -> passes.map(_(i)._2).min
    }
  }

  /** The full-materialization frame: xxhash64 over every output
    * column, bit_xor-reduced to one row. */
  def fingerprint(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.map(col).toSeq: _*).as("h")).agg(bit_xor(col("h")))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Scan-split sizing was EXAMINED and deliberately left at the
    // defaults (r18): deriving maxPartitionBytes from input size ÷
    // cores looked like the guide-§2.2 move, but every testdata file
    // is ONE parquet row group, so smaller splits add only empty
    // tasks on raw scans — while multi-file mart reads (order_items:
    // ~80 month-partition files) fragmented into ~40 tasks and the
    // semantic metric queries measurably regressed (−0.1..−0.45 s
    // each). Measured, no mechanism to win at this layout, reverted;
    // see OPTIMIZATION_r18.md.
    val spark = GraftSession.local(cpus)
    // Measured shuffle bytes of an EXECUTED plan (final AQE plan, reused
    // exchanges counted once) — the per-query artifact that answers "is
    // there a shuffle here that becomes the bottleneck at scale" with a
    // measurement instead of a guess. Streaming one-shots and Mat-barrier
    // builds run their jobs outside the returned plan, so they report ~0
    // (their costs are in stream_progress / prebuild).
    def shuffleBytesOf(df: org.apache.spark.sql.DataFrame): Long =
      tools.PlanMetrics.shuffleBytesOf(df)
    val shuffleMb = scala.collection.mutable.Map[String, Double]()
    def run(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
            name: String = ""): Unit = {
      val agged = fingerprint(fn(spark, sfDir))
      agged.collect()
      if (name.nonEmpty)
        try shuffleMb(name) = shuffleBytesOf(agged) / 1e6
        catch {
          // NonFatal only (ADVICE r10): an OOM raised while walking the
          // plan must propagate, and a swallowed metric gap is logged
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] shuffle metrics for $name failed: ${e.getMessage}")
        }
    }
    // ---- session-drift instrumentation (VERDICT r7 #3): the r7 round
    // lost ~41 s to unchanged queries with no named cause. Per-phase
    // JVM GC time (collector MXBeans — cumulative ms, so phase deltas)
    // and block-manager storage land in the JSON, not just stderr, so
    // a drifting round names its suspect in the artifact itself.
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    def storage(): (Int, Double, Double) = {
      val infos = spark.sparkContext.getRDDStorageInfo
      (infos.length, infos.map(_.memSize).sum / 1e6, infos.map(_.diskSize).sum / 1e6)
    }
    val gc0 = gcMs()
    // Untimed warm-up: session/codegen/parquet-footer costs land here,
    // not on whichever query happens to sort first. prebuildMarts
    // materializes EVERY Mat table up front (independent subtrees in
    // parallel — dbt's thread pool), so per-query timings measure each
    // query's own marginal plan cost instead of charging whole mart
    // chains to their alphabetically-first consumer (VERDICT r2 #6).
    val tW0 = System.nanoTime()
    val prebuildFailed =
      try Models.prebuildMarts(spark, sfDir)
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] prebuild pass itself failed: ${e.getMessage}")
        Seq("__prebuild_pass__")
      }
    // touch the raw tables the mart DAG does NOT read (events/documents/
    // embeddings): their first consumer would otherwise pay the cold
    // page-cache read of the whole file inside its timed section.
    Seq("events", "documents", "embeddings").foreach { t =>
      try fingerprint(Tables.read(spark, sfDir, t)).collect()
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] raw-table warm read of $t failed: $e")
      }
    }
    val warmSec = (System.nanoTime() - tW0) / 1e9
    // Per-barrier build seconds (VERDICT r18 #1a): snapshot of
    // Mat.buildSeconds right after prebuild, so the untimed warmup is
    // attributable per artifact instead of one opaque number. Additive
    // JSON field; no existing entry changes meaning.
    val prebuildSec: Seq[(String, Double)] = {
      import scala.jdk.CollectionConverters._
      Mat.buildSeconds.asScala.toSeq.map { case (k, v) => k -> v.doubleValue }
        .sortBy(-_._2)
    }
    val failed = scala.collection.mutable.ListBuffer[String]()
    // Fixed-subset mode (VERDICT r12 #5): SPARK_GRAFT_BENCH_SUBSET
    // names a file with one query name per line (or a comma list);
    // only those registered queries run. Separates the documented
    // suite-growth smear (totals rise with suite size via JVM/GC
    // pressure) from real per-query drift: re-bench an OLD round's
    // exact query set on NEW code and compare at equal suite size.
    val subset: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_SUBSET").map { s =>
        val p = java.nio.file.Paths.get(s)
        val names =
          if (java.nio.file.Files.exists(p)) {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.readAllLines(p).asScala.toSeq
          } else s.split(",").toSeq
        names.map(_.trim).filter(_.nonEmpty).toSet
      }
    val benchQueries = {
      val all = SparkEntry.queries.toSeq.sortBy(_._1)
      subset.fold(all) { ss =>
        val known = all.filter(t => ss.contains(t._1))
        val unknown = ss -- known.map(_._1).toSet
        if (unknown.nonEmpty)
          System.err.println(s"[bench] subset names not registered " +
            s"(skipped): ${unknown.toSeq.sorted.mkString(", ")}")
        known
      }
    }
    // a DISTINCT stream-scratch tag per pass: every timed pass gets
    // fresh checkpoints and PROCESSES the one-shot streams for real
    // (VERDICT r10 #3 — min-of-3 was re-measuring idempotent no-op
    // replays of the checkpointed streams on passes 2–3)
    def timedPass(tag: String): Seq[(String, Double)] = {
      graft.streaming.Streams.scratchTag = tag
      benchQueries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try run(fn, name) catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          if (!failed.contains(name)) failed += name
        }
        name -> (System.nanoTime() - t0) / 1e9
      }
    }
    // THREE timed passes; the HEADLINE per-query number is the MIN of
    // a query's passes (VERDICT r6 #2, widened to 3 by r9 #5: with two
    // passes a single loaded window makes noise and drift
    // indistinguishable). All raw passes stay in the JSON (`cold`,
    // `warm`, `warm2`) so I/O-inclusive and steady-state numbers
    // remain visible.
    def storageLine(tag: String): (Int, Double, Double) = {
      val s = storage()
      System.err.println(s"[bench] rdd-storage $tag: n=${s._1} " +
        f"mem=${s._2}%.1fMB disk=${s._3}%.1fMB")
      s
    }
    val stPre = storageLine("post-prebuild")
    val gcWarm = gcMs() - gc0
    val gc1 = gcMs()
    val cold = timedPass("p1")
    val stCold = storageLine("post-cold")
    val gcCold = gcMs() - gc1
    val gc2 = gcMs()
    val warm = timedPass("p2")
    val stWarm = storageLine("post-warm")
    val gcWarmPass = gcMs() - gc2
    val gc3 = gcMs()
    val warm2 = timedPass("p3")
    val gcWarm2Pass = gcMs() - gc3
    val results = minResults(Seq(cold, warm, warm2), benchQueries.size)
    def qjson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val coldTotal = cold.map(_._2).sum
    val warmTotal = warm.map(_._2).sum
    val warm2Total = warm2.map(_._2).sum
    // failed queries are listed explicitly so a failing run can never
    // masquerade as a healthy one to a JSON consumer (ADVICE r2);
    // prebuild failures likewise (ADVICE r3 #5) — a query timed against
    // a missing mart barrier pays the whole chain build inline.
    def sjson(xs: Seq[String]): String = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Locale.ROOT, not the f-interpolator (ADVICE r10): under a
    // comma-decimal default locale f"%.2f" emits "12,34" and corrupts
    // the JSON artifact
    def fmt(v: Double, digits: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
    def stjson(s: (Int, Double, Double)): String =
      s"""{"n":${s._1},"mem_mb":${fmt(s._2, 1)},"disk_mb":${fmt(s._3, 1)}}"""
    // the one-shot streams' LAST-run micro-batch accounting (VERDICT
    // r7 #4): stderr lines fall outside the driver's stdout tail, so
    // the fixed-cost evidence rides in the artifact itself.
    val streamAcct = {
      import scala.jdk.CollectionConverters._
      graft.streaming.Streams.lastAccounting.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    }
    // bench_schema (ADVICE r7 #4): 1 = "value" was the warm-pass total
    // (r1-r6); 2 = "value" is the sum of per-query mins across passes
    // (r7+). Historical totals must not be compared 1:1 across schemas.
    val shuffleJson = shuffleMb.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v, 2) }.mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","bench_schema":2,"queries":${qjson(results)},"cold":${qjson(cold)},"warm":${qjson(warm)},"warm2":${qjson(warm2)},"cold_total_sec":$coldTotal,"warm_total_sec":$warmTotal,"warm2_total_sec":$warm2Total,"shuffle_mb":$shuffleJson,"failed":${sjson(failed.toSeq)},"prebuild_failed":${sjson(prebuildFailed)},"warmup_sec":$warmSec,"prebuild_sec":${qjson(prebuildSec)},"gc_ms":{"warmup":$gcWarm,"cold":$gcCold,"warm":$gcWarmPass,"warm2":$gcWarm2Pass},"rdd_storage":{"post_prebuild":${stjson(stPre)},"post_cold":${stjson(stCold)},"post_warm":${stjson(stWarm)}},"stream_progress":$streamAcct,"headline":"per-query min across 3 passes","subset":${subset.isDefined},"n_queries":${benchQueries.size},"sf":"$sfDir"}"""
    println(full)
    // The driver records only a ~4 KB TAIL of stdout; r4's artifact lost
    // the warm total and warm per-query dict to that truncation (VERDICT
    // r4 #1). Two defenses: (a) the LAST line is a short summary that
    // always fits in any tail window, (b) the full JSON is written to a
    // repo file the round-end commit preserves.
    try {
      val p = java.nio.file.Paths.get(
        System.getProperty("user.dir"),
        // a subset run must not clobber the full-suite artifact
        if (subset.isDefined) "BENCH_LOCAL_SUBSET.json" else "BENCH_LOCAL.json")
      java.nio.file.Files.write(p, (full + "\n").getBytes("UTF-8"))
    } catch { case NonFatal(e) => System.err.println(s"[bench] BENCH_LOCAL.json write failed: ${e.getMessage}") }
    val top10 = results.sortBy(-_._2).take(10)
    println(s"""{"min_total_sec":$total,"cold_total_sec":$coldTotal,"warm_total_sec":$warmTotal,"warm2_total_sec":$warm2Total,"n_queries":${results.size},"failed_n":${failed.size},"prebuild_failed_n":${prebuildFailed.size},"gc_ms":{"warmup":$gcWarm,"cold":$gcCold,"warm":$gcWarmPass,"warm2":$gcWarm2Pass},"min_top10":${qjson(top10)}}""")
    GraftSession.stop(spark)
  }
}
