package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probe (VERDICT r10 #5): MEASURE the 100 TB scaling claims
  * instead of arguing them from code. The dedup/ANN/graph/profile
  * family's design notes promise bounded buckets and no all-pairs —
  * i.e. ≲linear cost in corpus size — but until this probe they were
  * only ever timed at one size. The probe synthesizes factor-f
  * replicas of sf0.1's `documents`/`embeddings`/`events` (and of the
  * co-purchase edge table for the graph operators) into tmp, runs the
  * family at 1× and 8× through the bench's full-materialization
  * harness, and emits per-query wall-seconds + measured shuffle bytes
  * at both sizes, flagging anything whose time grows super-linearly
  * by more than 2× (ratio > 2·f).
  *
  * Replication is NOT naive row copying — naive copies would make
  * every doc an 8-way exact duplicate and every vector an 8-way
  * near-dup, which inflates candidate-pair output quadratically
  * inside each LSH bucket and measures a DIFFERENT workload, not a
  * bigger one. Each replica instead models independent new data with
  * the same statistics:
  *  - documents: ids shift by a disjoint stride; replica r>0 word-sorts
  *    each text by a replica-seeded hash order. Length, token counts,
  *    and language stats are preserved (same multiset of words), but
  *    shingle sets diverge across replicas, so no cross-replica
  *    near-dups. Within a replica all docs shuffle under the SAME
  *    word order, so planted near-dup pairs (docs differing in a few
  *    words) remain near-dups — per-replica dup structure, and hence
  *    pair counts, scale linearly by construction.
  *  - embeddings: ids shift; replica r>0 vectors are hash-derived
  *    uniform [-1,1) points — same dimensionality and spread, no
  *    cross-replica duplicates.
  *  - events: event and user ids shift by disjoint strides — user
  *    count scales with data, events-per-user and the time range stay
  *    constant (the "more traffic" model).
  *  - graph: the strong co-purchase edge table replicates as f
  *    disjoint components (node ids shift) — edge count scales f×,
  *    degree distribution unchanged.
  */
object Scale {

  val DocStride = 1000000L // divisible by 5: doc_id%5 partitions survive
  val VecStride = 1000000L
  val EventStride = 10000000L
  val UserStride = 1000000L
  val NodeStride = 10000000L
  val CustStride = 10000000L   // star-schema replicas (r18, semantic probes)
  val OrderStride = 100000000L

  /** Word-sort `text` by a replica-seeded hash of each word. The
    * comparator depends only on (word, seed) — NOT the doc — so two
    * near-identical docs in the same replica sort near-identically
    * and stay near-dups, while different seeds produce unrelated
    * shingle streams across replicas. */
  private def seededWordSort(text: org.apache.spark.sql.Column, seed: Int) =
    array_join(
      array_sort(split(text, " "), (l, r) =>
        when(xxhash64(l, lit(seed)) < xxhash64(r, lit(seed)), lit(-1))
          .when(xxhash64(l, lit(seed)) > xxhash64(r, lit(seed)), lit(1))
          .when(l < r, lit(-1)).when(l > r, lit(1)).otherwise(lit(0))),
      " ")

  def scaleDocuments(df: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { r =>
      if (r == 0) df
      else {
        val shuffled = seededWordSort(col("text"), r)
        df.select(
          (col("doc_id") + lit(r * DocStride)).as("doc_id"),
          shuffled.as("text"),
          col("lang"), col("source"),
          coalesce(length(shuffled).cast("long"), col("n_chars")).as("n_chars"))
      }
    }.reduce(_ unionByName _)

  def scaleEmbeddings(df: DataFrame, factor: Int, dim: Int): DataFrame =
    (0 until factor).map { r =>
      if (r == 0) df
      else df.select(
        (col("vec_id") + lit(r * VecStride)).as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), i =>
          (pmod(xxhash64(col("vec_id"), lit(r), i), lit(2000L)).cast("double")
            / 1000.0 - 1.0).cast("float")).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)

  /** Raw replication — `ts` keeps whatever physical type the source
    * file shipped (nanos-as-long or NTZ); [[Tables.events]] normalizes
    * at read time exactly as it does for the driver's files. */
  def scaleEvents(df: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { r =>
      if (r == 0) df
      else df
        .withColumn("event_id", col("event_id") + lit(r * EventStride))
        .withColumn("user_id", col("user_id") + lit(r * UserStride))
    }.reduce(_ unionByName _)

  /** Star-schema replication (r18, VERDICT r17 #7 — measure the
    * semantic layer's "one fact scan, one shuffle" claim instead of
    * asserting it): the traffic-growth model. Customers and orders
    * scale by disjoint id strides (more customers placing more
    * orders); lineitems follow their orders; the CATALOG dims (part,
    * supplier, nation, region) stay fixed — products don't multiply
    * because traffic did, which is exactly the bounded/fact-scaled
    * split the entity-join broadcast gate encodes. */
  def scaleCustomers(df: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { r =>
      if (r == 0) df
      else df.withColumn("c_custkey", col("c_custkey") + lit(r * CustStride))
    }.reduce(_ unionByName _)

  def scaleOrders(df: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { r =>
      if (r == 0) df
      else df
        .withColumn("o_orderkey", col("o_orderkey") + lit(r * OrderStride))
        .withColumn("o_custkey", col("o_custkey") + lit(r * CustStride))
    }.reduce(_ unionByName _)

  def scaleLineitem(df: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { r =>
      if (r == 0) df
      else df.withColumn("l_orderkey", col("l_orderkey") + lit(r * OrderStride))
    }.reduce(_ unionByName _)

  def scaleEdges(df: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { r =>
      if (r == 0) df
      else df
        .withColumn("src", col("src") + lit(r * NodeStride))
        .withColumn("dst", col("dst") + lit(r * NodeStride))
    }.reduce(_ unionByName _)

  /** The probed family: every registered query that reads ONLY the
    * scaled tables. Queries wired to the star schema (marts, staging)
    * are out of scope — their inputs don't scale here. */
  val probeQueryNames: Seq[String] = Seq(
    // dedup over documents
    "dedup_exact", "dedup_normalized", "minhash_signatures", "minhash_pairs",
    "dedup_clusters", "dedup_incremental_pairs", "edit_distance_pairs",
    "simhash_signatures",
    "simhash_pairs", "ngram_jaccard_pairs", "ngram_containment_pairs",
    "substring_dedup",
    "source_dup_matrix", "doc_shared_ngrams",
    // text analysis / relevance / tokenization
    "text_stats", "lang_confusion", "top_docs_per_lang", "bm25_scores",
    "tfidf_top_terms", "doc_surprisal", "heldout_surprisal",
    "bigram_surprisal", "vocab_coverage", "vocab_growth",
    "bpe_merges", "bpe_token_counts", "bpe_fertility", "doc_chunks",
    "doc_repetition",
    "pack_sequences", "length_bucketed_batches", "documents_profile",
    "corpus_curation", "curation_report", "training_corpus",
    "decontamination",
    "dataset_splits", "epoch_shuffle", "weighted_sample",
    "mixture_temperature",
    // retrieval + trained-classifier stack (r11; hybrid_recall r12 —
    // its exact arm is the one DELIBERATE full scan, the ground truth)
    "doc_embeddings", "hybrid_search", "hybrid_recall", "quality_weights",
    "quality_predictions", "quality_eval", "quality_calibration",
    // multimodal codec pipeline (CPU-bound decode spread)
    "media_features", "media_resized", "media_frames",
    // ANN over embeddings
    "ann_cosine_topk", "ann_filtered_topk", "ann_ivf_topk",
    "ann_ivf_kmeans_topk", "ann_lsh_buckets", "pq_codes", "ann_pq_topk",
    "ann_pq_adc_topk", "ann_pq_rerank_topk", "ann_ivfpq_topk",
    "ann_ivfpq_residual_topk", "ann_sq8_topk", "kmeans_centroids",
    "diversity_sample",
    "embedding_dedup_pairs", "embedding_dedup_clusters",
    "embedding_quantization",
    // events: sketches, sessions, as-of
    "hll_user_counts", "hll_merged_users", "hll_range_users",
    "hll_overlap_users", "cms_heavy_hitters", "sessionize",
    "session_window_agg", "event_funnel", "funnel_latency",
    "events_asof_purchase",
    "events_asof_next_purchase", "event_props_stats", "hist_quantiles",
    "value_percentiles", "value_band_stats", "stratified_sample",
    "zorder_keys", "zorder_zonemaps", "event_key_skew",
    // r12 second session: PSI drift (events) + the JSONL roundtrip
    // (documents; cost = serialize + parse + rollup, linear by design)
    "feature_drift_psi", "jsonl_ingest_audit",
    // r12 third session: rule filters / collocations / data selection
    // (documents), winnowing (documents), SemDeDup (embeddings), and
    // the clock-bounded LOCF grid (events)
    "gopher_quality_rules", "collocation_lift", "moore_lewis_selection",
    "dsir_weights", "winnow_fingerprints", "winnow_shared_docs",
    "semdedup_prune", "events_locf_hourly",
    // r12 fourth session: the winnowing recall harness + ingest
    // novelty (documents), MMR rerank (embeddings), UniMax +
    // boilerplate share (documents)
    "winnow_recall", "batch_novelty", "chunk_boilerplate", "mmr_rerank",
    "unimax_allocation",
    // r12 fifth session: index-served PRF + order-sensitive serving
    // metrics (documents; the metrics embed the deliberate exact
    // baseline), KN bigram model + quality skyline (documents),
    // dimension correlation (embeddings), aHash image dedup
    // (documents through the real PNG codec)
    "prf_search", "hybrid_rank_metrics", "kneser_ney_bigrams",
    "quality_pareto", "embedding_corr", "media_ahash", "media_ahash_pairs",
    // r13: index-fed MMR recall — its exact-fed arm is a deliberate
    // full-scan ground truth (the hybrid_recall precedent), so its
    // time is expected linear-in-corpus; the SERVED arm inside it is
    // the bounded probe (mmr_rerank above measures that shape alone)
    "mmr_recall",
    // r14: Hilbert layout family (events) — key derivation is
    // per-row, zonemaps/locality are exactBuckets + bounded joins;
    // readability (documents) is per-row regex counts; HRW sharding
    // (documents) is a K-way explode + keyed top-1
    "hilbert_keys", "hilbert_zonemaps", "layout_locality",
    "doc_readability", "shard_routing", "shard_stability",
    // r15: unigram trainer (documents — replicas keep the same word
    // vocabulary, so EM stays vocab-bounded while the corpus pass
    // scales), the BPE-vs-unigram shoot-out, and the Holt-Winters
    // states on daily event volume (calendar-bounded fold)
    "unigram_vocab", "unigram_segmentation", "tokenizer_fertility_compare",
    "event_volume_hw",
    // r16: the OPQ loop over embeddings — top-k PCA (one corpus pass
    // into the moment matrix, then matrix-table-only iterations) and
    // the rotation-fed PQ search at equal code budget; the event-type
    // lead/lag matrix (one events pass to types×days, bounded after)
    "embedding_pca_topk", "ann_opq_topk", "event_type_xcorr",
    // journey mining: greedy-earliest extensions are events×|types|^k
    // joins (linear for a bounded alphabet); the Markov chain is one
    // user-partitioned window pass + a |types|² aggregate
    "event_seq_support", "event_markov",
    // r18: the semantic layer measured, not asserted (VERDICT r17 #7) —
    // the star schema now replicates (facts stride, catalogs fixed).
    // Entity join through the FACT-SCALED customers model: with the
    // broadcast hint gated off (r18), the plan must flip to a shuffled
    // join as the dim side grows instead of OOMing a forced broadcast.
    // The probe's timed pass includes the Mat mart builds per alias —
    // the whole chain is the claim being priced.
    "metric_revenue_by_customer_type",
    // cumulative metric keyed by a categorical dimension: one fact
    // scan, one hash-agg shuffle, then a keyed window over
    // already-aggregated month rows — time should track the fact scan
    "metric_cumulative_revenue_by_promo")

  private def edgesOf(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/edges.parquet")

  /** Graph operators probed DIRECTLY on the replicated edge table:
    * the registered copurchase_* queries are wired to the staging
    * chain, whose inputs (orders/lineitem) this probe doesn't scale. */
  val graphProbes: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // r16: the raw-graph triangle story probes its REGISTERED
    // scale-safe paths (the closeness precedent). History: r15 probed
    // the exact wedge join here as `graph_triangles` and measured
    // 22.8× time at 8× edges (209.7 s at 9.6 M) — the O(E^1.5) exact-
    // counting bound plus aggregate/spill pressure (its clustering
    // twin below, the same wedge join + degrees, measured 8.59× —
    // linear — the same round, so the bound's constant is memory-
    // sensitive). The registered raw paths are now the hub-capped
    // exact-over-kept-subgraph and the budget-bounded DOULION
    // estimator (copurchase_triangles_capped/_approx, gated by
    // triangles_approx_error); the uncapped exact operator stays
    // registered on the weight-thresholded strong graph and its
    // scaling stays measured through graph_clustering.
    "graph_triangles_capped" -> ((s: SparkSession, d: String) =>
      operators.Graph.triangleCountsCapped(edgesOf(s, d).select("src", "dst"),
        Models.TriangleHubCap)),
    "graph_triangles_sampled" -> ((s: SparkSession, d: String) =>
      operators.Graph.triangleCountsSampledBudget(
        edgesOf(s, d).select("src", "dst"), Models.TriangleEdgeBudget)),
    "graph_clustering" -> ((s: SparkSession, d: String) =>
      operators.Graph.clusteringCoefficients(edgesOf(s, d).select("src", "dst"))),
    // r17: local clustering through the SAME two raw-graph scale paths
    // as the triangle story (projections over capped/DOULION counts —
    // registered as copurchase_clustering_capped/_approx)
    "graph_clustering_capped" -> ((s: SparkSession, d: String) =>
      operators.Graph.clusteringCoefficientsCapped(
        edgesOf(s, d).select("src", "dst"), Models.TriangleHubCap)),
    "graph_clustering_sampled" -> ((s: SparkSession, d: String) =>
      operators.Graph.clusteringCoefficientsSampledBudget(
        edgesOf(s, d).select("src", "dst"), Models.TriangleEdgeBudget)),
    "graph_pagerank" -> ((s: SparkSession, d: String) =>
      operators.Graph.pageRank(edgesOf(s, d).select("src", "dst"), 5)),
    "graph_pagerank_directed" -> ((s: SparkSession, d: String) =>
      operators.Graph.pageRankDirected(edgesOf(s, d).select("src", "dst"), 5)),
    "graph_communities" -> ((s: SparkSession, d: String) =>
      operators.Graph.labelPropagationWithSizes(
        edgesOf(s, d).select("src", "dst"), 4)),
    "graph_ppr" -> ((s: SparkSession, d: String) =>
      operators.Graph.personalizedPageRank(edgesOf(s, d).select("src", "dst"), 5)),
    // r15: BOTH former deliberate exclusions are now MEASURED on the
    // raw replica through their scale-safe paths, so the skip list is
    // empty again. History: the r14 probe RAN the exact
    // allPairsHopDistances here and the (root, node) frontier OOM'd at
    // 1× (~|V|² state on the dense giant component), and the raw-8×
    // linkPredictions wedge hash-aggregate (Σ deg(center)²) OOM'd a
    // 4 GiB heap — those measurements are why the registered exact
    // queries run on the weight-THRESHOLDED strong graph, and why the
    // raw-graph paths below exist.
    "graph_closeness_hyperball" -> ((s: SparkSession, d: String) =>
      // O(|V|·m) register state regardless of density — the HyperBall
      // answer to the r14 OOM; registered as copurchase_closeness_approx
      operators.Graph.hyperBall(edgesOf(s, d).select("src", "dst"), 4)),
    "graph_closeness_capped" -> ((s: SparkSession, d: String) =>
      // per-root budget: state AND per-round join output ≤ |V|·cap
      operators.Graph.allPairsHopDistancesCapped(
        edgesOf(s, d).select("src", "dst"), 4, perRootCap = 256L)),
    "graph_link_pred_capped" -> ((s: SparkSession, d: String) =>
      // hub-free wedge join: fan-out ≤ |kept-edges|·hubCap
      operators.Graph.linkPredictionsCapped(
        edgesOf(s, d).select("src", "dst"), 50, hubCap = 64L)))

  /** Write the factor-f replica dir (documents/embeddings/events +
    * the graph edge table). File count scales with the factor so read
    * parallelism mirrors real growth instead of funneling 8× data
    * through the 1× layout. */
  def writeScaledDir(spark: SparkSession, baseDir: String, outDir: String,
                     factor: Int, baseEdges: DataFrame): Unit = {
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val dim = 64
    val embs = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val evts = spark.read.parquet(s"$baseDir/events.parquet")
    scaleDocuments(docs, factor).repartition(2 * factor)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    scaleEmbeddings(embs, factor, dim).repartition(2 * factor)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    scaleEvents(evts, factor).repartition(4 * factor)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    scaleEdges(baseEdges, factor).repartition(2 * factor)
      .write.mode("overwrite").parquet(s"$outDir/edges.parquet")
    // star schema for the semantic probes: facts stride, catalogs copy
    scaleCustomers(spark.read.parquet(s"$baseDir/customer.parquet"), factor)
      .repartition(2 * factor)
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")
    scaleOrders(spark.read.parquet(s"$baseDir/orders.parquet"), factor)
      .repartition(2 * factor)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    scaleLineitem(spark.read.parquet(s"$baseDir/lineitem.parquet"), factor)
      .repartition(4 * factor)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    Seq("part", "supplier", "nation", "region").foreach { t =>
      spark.read.parquet(s"$baseDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,8")
      .split(",").map(_.trim.toInt).toSeq
    val passes = sys.env.getOrElse("SPARK_GRAFT_SCALE_PASSES", "2").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus)

    val root = s"${System.getProperty("java.io.tmpdir")}/graft-scale/" +
      spark.sparkContext.applicationId
    // base edge table once, from the REAL base dir's staging chain
    val baseEdges = Models.productCopurchaseEdges(spark, baseDir)
      .select("src", "dst").persist()
    val dirs = factors.map { f =>
      val d = s"$root/f${f}x"
      writeScaledDir(spark, baseDir, d, f, baseEdges)
      f -> d
    }
    baseEdges.unpersist()

    val registered = SparkEntry.queries
    probeQueryNames.foreach(n => require(registered.contains(n),
      s"scale probe names unregistered query: $n"))
    // optional comma-separated probe subset for isolated re-measures
    // (the BENCH_SUBSET convention); a subset run writes
    // SCALE_LOCAL_SUBSET.json so it cannot clobber the full artifact
    val subset: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_SCALE_SUBSET")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val allProbes: Seq[(String, (SparkSession, String) => DataFrame)] =
      (probeQueryNames.map(n => n -> registered(n)) ++ graphProbes)
        .filter { case (n, _) => subset.forall(_.contains(n)) }

    val skipped = scala.collection.mutable.LinkedHashMap[String, String]()
    // secs(name) and shuffle(name) indexed like `factors`
    val secs = scala.collection.mutable.LinkedHashMap[String, Array[Double]]()
    val shuf = scala.collection.mutable.LinkedHashMap[String, Array[Double]]()

    dirs.zipWithIndex.foreach { case ((f, dir), fi) =>
      // untimed warm-up pass per dir: parquet footers, codegen, Mat
      // barriers land here, not on whichever query runs first
      allProbes.foreach { case (name, fn) =>
        if (!skipped.contains(name))
          try { fn(spark, dir).limit(1).collect(); () }
          catch { case scala.util.control.NonFatal(e) =>
            skipped(name) = s"factor ${f}x: ${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").take(200)
          }
      }
      for (p <- 1 to passes) {
        // Fresh symlink alias per timed pass: Mat keys barriers by the
        // sfDir STRING, so a new alias forces every Mat build to run
        // inside the timed pass — the build cost is the thing whose
        // scaling this probe exists to measure. (With the plain dir,
        // barriers land in the untimed warm-up and the timed pass
        // measures only reading the materialized result.) A query
        // whose chain shares a barrier with an earlier probe pays it
        // in whichever probe runs first — order is deterministic and
        // identical across factors, so per-query RATIOS stay fair.
        val alias = s"$root/f${f}x_p$p"
        val ap = java.nio.file.Paths.get(alias)
        if (!java.nio.file.Files.exists(ap))
          java.nio.file.Files.createSymbolicLink(ap, java.nio.file.Paths.get(dir))
        allProbes.foreach { case (name, fn) =>
          if (!skipped.contains(name)) {
            val t0 = System.nanoTime()
            try {
              val agged = Bench.fingerprint(fn(spark, alias))
              agged.collect()
              val sec = (System.nanoTime() - t0) / 1e9
              val mb = tools.PlanMetrics.shuffleBytesOf(agged) / 1e6
              val sa = secs.getOrElseUpdate(name, Array.fill(factors.size)(Double.MaxValue))
              val ma = shuf.getOrElseUpdate(name, Array.fill(factors.size)(0.0))
              if (sec < sa(fi)) { sa(fi) = sec; ma(fi) = mb }
            } catch { case scala.util.control.NonFatal(e) =>
              skipped(name) = s"factor ${f}x timed pass: ${e.getClass.getSimpleName}: " +
                Option(e.getMessage).getOrElse("").take(200)
            }
          }
        }
      }
      // drain the ContextCleaner between arms: checkpoint blocks of
      // completed queries are weak-referenced once their frames go
      // unreachable, but cleaning is GC-driven — without a nudge the
      // 8x arm starts on top of the 1x arm's dead blocks and the heap
      // headroom halves (measured: an 8g heap OOM'd early in the 8x
      // warm-up before this + the bpe retained-checkpoint freeing)
      System.gc()
      Thread.sleep(2000)
      System.err.println(s"[scale] factor ${f}x done (${skipped.size} skipped so far)")
    }

    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val fMax = factors.max.toDouble / factors.min
    val rows = (probeQueryNames ++ graphProbes.map(_._1))
      .filterNot(skipped.contains).filter(secs.contains)
    val superlinear = rows.filter { n =>
      val s = secs(n)
      // sub-100ms baselines are pure noise at this granularity
      s.head >= 0.1 && s.last / s.head > 2.0 * fMax
    }
    // counts are best-effort: a late executor OOM can stop the context
    // after every probe already measured — the summary (the artifact
    // this main exists to produce) must still write
    val tableCounts = Seq("documents", "embeddings", "events", "edges").map { t =>
      val ns = dirs.map { case (f, d) =>
        val c = try spark.read.parquet(s"$d/$t.parquet").count()
        catch { case scala.util.control.NonFatal(_) => -1L }
        s""""${f}x":$c"""
      }.mkString(",")
      s""""$t":{$ns}"""
    }.mkString(",")
    val qjson = rows.map { n =>
      val s = secs(n); val m = shuf(n)
      s""""$n":{"sec":[${s.map(fmt).mkString(",")}],"shuffle_mb":[${m.map(fmt).mkString(",")}],"time_ratio":${fmt(s.last / math.max(s.head, 1e-9))},"shuffle_ratio":${fmt(if (m.head > 1e-9) m.last / m.head else 0.0)}}"""
    }.mkString("{", ",", "}")
    val skjson = skipped.map { case (k, v) =>
      s""""$k":"${v.replace("\\", "\\\\").replace("\"", "'").replace("\n", " ")}""""
    }.mkString("{", ",", "}")
    val out = s"""{"metric":"scale_probe","base_dir":"$baseDir","factors":[${factors.mkString(",")}],"passes":$passes,"tables":{$tableCounts},"n_probed":${rows.size},"n_skipped":${skipped.size},"superlinear":[${superlinear.map("\"" + _ + "\"").mkString(",")}],"skipped":$skjson,"queries":$qjson}"""
    println(out)
    try {
      val p = java.nio.file.Paths.get(System.getProperty("user.dir"),
        if (subset.isDefined) "SCALE_LOCAL_SUBSET.json" else "SCALE_LOCAL.json")
      java.nio.file.Files.write(p, (out + "\n").getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[scale] SCALE_LOCAL.json write failed: ${e.getMessage}") }
    GraftSession.stop(spark)
  }
}
