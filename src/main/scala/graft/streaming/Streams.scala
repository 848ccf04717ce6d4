package graft.streaming

import java.sql.Timestamp
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming over the `events` table shape (event_id, ts,
  * user_id, event_type, value, props). The reference is batch-only
  * (SURVEY §2.8), so this is the beyond-parity streaming surface the
  * brief asks for: readStream → watermark → windowed aggregation →
  * writeStream, plus custom session state via flatMapGroupsWithState.
  *
  * At scale: the windowed agg is keyed by (window, event_type) — state
  * store partitions by key; the watermark bounds state. Sessionization
  * state is per user_id, partitioned by the groupByKey shuffle, and
  * times out via ProcessingTimeTimeout, so state size tracks the
  * number of ACTIVE users, not history.
  */
object Streams {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  /** start/last are epoch MICROS: the events table carries sub-second
    * timestamps on every row, so gap tests and sort order must run at
    * full precision or they diverge from the (full-precision) SQL
    * oracle. */
  case class SessionState(start: Long, last: Long, n: Long, total: Double)
  case class Session(user_id: Long, started_at: Timestamp, ended_at: Timestamp,
                     n_events: Long, total_value: Double)

  val SessionGapMicros: Long = 30 * 60 * 1000000L

  /** Shuffle-partition CAP for the one-shot streaming runs. A
    * stateful streaming query creates one state-store instance (and
    * one task + store commit per micro-batch) PER shuffle partition —
    * fixed machinery cost independent of data volume. The Bench
    * session runs 32 partitions (sized for the batch queries' scans);
    * the one-shot streams carry bounded state (5 event types / active
    * users), so capping at 8 keeps the same results (partitioning
    * never changes aggregation output) while quartering the per-batch
    * tasks and store commits. A commit's cost is its checkpoint-file
    * writes, which [[graft.io.ForkFreeLocalFs]] keeps free of the
    * `chmod`/`readlink` processes Hadoop's local file system would
    * start for each file. A CAP, not a set: sessions already below it
    * (Verify/tests run 4) keep their smaller value — raising would be
    * the opposite of the point. A real deployment sizes this to state
    * volume, not scans. */
  val StreamShufflePartitions = 8

  /** Tighter cap for the stream-STREAM interval joins: they maintain
    * FOUR state-store families per shuffle partition (key store +
    * key-with-index store per side), each committing per micro-batch —
    * at 8 partitions × 2 batches that is 64 store commits for a
    * bounded one-shot whose per-user join state fits comfortably in a
    * handful of partitions. 4 halves the commit fan-out with results
    * unchanged (partitioning never changes join output). Each commit
    * writes its own checkpoint files, so the fan-out sets the files
    * written per batch; a real deployment sizes this to state volume. */
  val JoinShufflePartitions = 4
  private val streamConfLock = new Object

  /** Run a one-shot streaming body with shuffle partitions capped at
    * `cap` (default [[StreamShufflePartitions]]), restoring the
    * session conf after. The conf is read at `query.start()`, so the
    * override must span it; serialized so concurrent one-shots don't
    * interleave set/restore. Every one-shot passes here before its
    * `start()`, so this is also where the context's Hadoop conf gets
    * the fork-free local checkpoint file system
    * ([[graft.io.ForkFreeLocalFs]]). */
  private def withStreamPartitions[T](spark: SparkSession,
                                      cap: Int = StreamShufflePartitions)
                                     (body: => T): T =
    streamConfLock.synchronized {
      graft.io.ForkFreeLocalFs.install(spark.sparkContext.hadoopConfiguration)
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, math.min(prev.toInt, cap).toString)
      try body finally spark.conf.set(key, prev)
    }

  /** Micro-batch accounting for the one-shot runs (VERDICT r7 #3: the
    * four older one-shots regressed ~3× min-over-min with UNCHANGED
    * code — fixed micro-batch machinery cost, not data). One stderr
    * line per run — batch count, input rows, where triggerExecution
    * went (addBatch = plan execution, walCommit/commitOffsets = log
    * writes), and state-store commit totals — enough to tell "more
    * batches ran" from "each batch got slower"; the same numbers are
    * kept in [[lastAccounting]] as a JSON fragment so Bench embeds
    * the LAST run's accounting in its artifact (stderr lines fall
    * outside the driver's stdout tail). */
  val lastAccounting =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Per-run scratch disambiguator for the one-shot CHECKPOINTED
    * streams (ingestDedup, parquet sink, near-dup, merge sink).
    * Default empty: scratch is applicationId-scoped, so a same-session
    * re-run finds an up-to-date checkpoint and is an idempotent no-op
    * replay — the correctness contract. The bench sets a DISTINCT tag
    * per timed pass so every pass gets a fresh checkpoint and
    * PROCESSES for real (VERDICT r10 "What's wrong" #1: min-of-3 was
    * re-measuring no-op replays — `stream_neardup_pairs` recorded
    * batches:1, rows:0, trigger_ms:1 on passes 2–3). */
  @volatile var scratchTag: String = ""

  /** applicationId plus the bench's pass tag — the scratch/checkpoint
    * path segment for all one-shot checkpointed streams. */
  private def scratchId(spark: SparkSession): String =
    spark.sparkContext.applicationId +
      (if (scratchTag.isEmpty) "" else s"-$scratchTag")

  private def logProgress(name: String,
                          q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try {
      val ps = q.recentProgress
      def dur(k: String): Long =
        ps.map(p => Option(p.durationMs.get(k)).fold(0L)(_.longValue)).sum
      val stores = ps.flatMap(_.stateOperators)
      System.err.println(s"[stream] $name: batches=${ps.length} " +
        s"rows=${ps.map(_.numInputRows).sum} " +
        s"triggerMs=${dur("triggerExecution")} addBatchMs=${dur("addBatch")} " +
        s"walMs=${dur("walCommit") + dur("commitOffsets")} " +
        s"stateCommitMs=${stores.map(_.commitTimeMs).sum} " +
        s"stateStores=${stores.map(_.numStateStoreInstances).sum}")
      lastAccounting.put(name,
        s"""{"batches":${ps.length},"rows":${ps.map(_.numInputRows).sum},""" +
        s""""batch_rows":[${ps.map(_.numInputRows).mkString(",")}],""" +
        s""""trigger_ms":${dur("triggerExecution")},"add_batch_ms":${dur("addBatch")},""" +
        s""""wal_ms":${dur("walCommit") + dur("commitOffsets")},""" +
        s""""state_commit_ms":${stores.map(_.commitTimeMs).sum},""" +
        s""""state_stores":${stores.map(_.numStateStoreInstances).sum}}"""): Unit
    } catch {
      // drop the previous run's entry, or it passes for this run's
      case NonFatal(e) =>
        lastAccounting.remove(name)
        System.err.println(s"[stream] $name: progress accounting failed: $e")
    }

  /** File-based streaming source with the events schema (a production
    * deploy would point this at an object-store drop zone or Kafka). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("event_id long, ts timestamp, user_id long, event_type string, value double, props string")
      .parquet(dir)

  /** Adaptive events FILE-stream reader — the streaming twin of
    * [[graft.Tables.events]]. The driver's events.parquet has shipped
    * `ts` as TIMESTAMP(NANOS) (arrives as nanos longs under
    * spark.sql.legacy.parquet.nanosAsLong) and as plain timestamp[us]
    * (arrives as TimestampNTZ); a stream schema hard-coding one shape
    * silently misreads the other — r9 lost all 9 streaming oracles to
    * exactly that (micros divided by 1000 collapsed every timestamp
    * ~1000× toward epoch). So: batch-peek the footer's actual ts type,
    * declare the stream schema with THAT type (no reader-side
    * conversion to go wrong), and normalize in the plan to session-tz
    * TimestampType micros (sessions pin UTC → the NTZ cast is
    * value-preserving; the nanos division truncates, matching DuckDB).
    *
    * The file-stream source requires a DIRECTORY; the events table is
    * a single file inside the dataset dir, so callers streaming the
    * shared dir pass `globFilter=Some("events.parquet")`, while the
    * staged-ingest one-shots stream their scratch dir unfiltered. */
  def adaptiveEventsStream(spark: SparkSession, dir: String,
                           globFilter: Option[String] = Some("events.parquet"),
                           extraOptions: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val peek = {
      val r = spark.read
      globFilter.foreach(g => r.option("pathGlobFilter", g))
      r.parquet(dir)
    }
    val tsType = peek.schema("ts").dataType
    val tsDdl = tsType match {
      case LongType         => "long"
      case TimestampNTZType => "timestamp_ntz"
      case TimestampType    => "timestamp"
      case other => throw new IllegalStateException(
        s"events.ts arrived as unsupported type $other — extend adaptiveEventsStream")
    }
    val reader = spark.readStream
      .schema(s"event_id long, ts $tsDdl, user_id long, event_type string, value double, props string")
    globFilter.foreach(g => reader.option("pathGlobFilter", g))
    extraOptions.foreach { case (k, v) => reader.option(k, v) }
    val raw = reader.parquet(dir)
    tsType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }

  /** Watermarked tumbling-window counts per event type: late data past
    * 1 hour is dropped, bounding the state store. The value total sums
    * exact decimals (scale 6 — same rationale as Sessions.sessionize)
    * so the result is partition/merge-order independent and the DuckDB
    * oracle matches bit-for-bit. */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** One-shot driver-verifiable run (VERDICT r2 "What's missing" #3):
    * reads the events table as a FILE STREAM, pushes it through the
    * real streaming engine — watermark, windowed state store,
    * AvailableNow trigger (possibly several micro-batches) — into a
    * complete-mode in-memory sink, and returns the final sink table.
    * Over a bounded input this equals the batch groupBy twin, so the
    * same DuckDB oracle gates the whole readStream→writeStream path.
    * The ts physical type is adapted per-file by
    * [[adaptiveEventsStream]]. */
  def windowedEventCountsOnce(spark: SparkSession, sfDir: String): DataFrame = withStreamPartitions(spark) {
    val events = adaptiveEventsStream(spark, sfDir)
    val name = "stream_wec_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val q = windowedEventCounts(events).writeStream
      .format("memory").queryName(name)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logProgress("stream_windowed_counts", q)
    spark.table(name)
  }

  /** DuckDB oracle for the one-shot windowed counts (batch-equivalent
    * of the streaming aggregation over a bounded source). */
  val windowedCountsOracleSql: String =
    """select date_trunc('day', ts) as window_start, event_type,
      |  count(*) as n_events,
      |  cast(sum(cast(value as decimal(18,6))) as double) as total_value
      |from events group by 1, 2""".stripMargin

  /** Custom session state: emits a Session row whenever a user's gap
    * exceeds 30 minutes (or their state times out, when enabled).
    *
    * `withTimeout=true` closes idle sessions via ProcessingTimeTimeout
    * in a real deployment; tests use the default (no timeout) because
    * the timeout re-arms every micro-batch, which keeps an always-
    * pending batch alive and stalls `processAllAvailable`. */
  def sessionize(events: Dataset[Event], withTimeout: Boolean = false): Dataset[Session] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.catalyst.util.DateTimeUtils.{fromJavaTimestamp, toJavaTimestamp}
    val timeoutConf =
      if (withTimeout) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    def emit(userId: Long, s: SessionState): Session =
      Session(userId, toJavaTimestamp(s.start), toJavaTimestamp(s.last), s.n, s.total)
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), timeoutConf) {
        case (userId, batch, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(emit(userId, s))
          } else {
            val sorted = batch.toSeq.sortBy(e => (fromJavaTimestamp(e.ts), e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = fromJavaTimestamp(e.ts)
              cur match {
                case Some(s) if t - s.last <= SessionGapMicros =>
                  cur = Some(s.copy(last = t, n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  closed += emit(userId, s)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (withTimeout) state.setTimeoutDuration(SessionGapMicros / 1000L)
            }
            closed.result().iterator
          }
      }
  }

  /** One-shot driver-verifiable run of the STATEFUL path: the events
    * table as a file stream through flatMapGroupsWithState session
    * state (append mode, AvailableNow) into a memory sink. Over a
    * bounded input the emitted rows are exactly the CLOSED sessions —
    * every session of the batch twin except each user's last (which
    * stays open in state when the stream ends; only a timeout would
    * flush it) — so the oracle is the batch sessionization minus the
    * per-user max(session_seq) row. total_value is accumulated as a
    * sequential double fold in (ts, event_id) order; the oracle
    * mirrors the same left-to-right IEEE fold via an ordered
    * list_reduce rather than a decimal sum. */
  def sessionsOnce(spark: SparkSession, sfDir: String): DataFrame = withStreamPartitions(spark) {
    import spark.implicits._
    val events = adaptiveEventsStream(spark, sfDir).select(
      col("event_id"), col("ts"),
      col("user_id"), col("event_type"), col("value")).as[Event]
    val name = "stream_sessions_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val q = sessionize(events).writeStream
      .format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logProgress("stream_sessions", q)
    spark.table(name)
  }

  /** DuckDB oracle for the one-shot sessions: the batch sessionization
    * (same window recipe as operators/Sessions) with the per-user LAST
    * session removed (it never closes in the bounded stream) and the
    * value total as the same ordered sequential double fold the state
    * handler performs. */
  val sessionsOracleSql: String =
    """with ev as (
      |  select user_id, event_id, ts, value,
      |    case when lag(ts) over (partition by user_id order by ts, event_id) is null
      |           or ts > lag(ts) over (partition by user_id order by ts, event_id) + interval 30 minute
      |         then 1 else 0 end as is_new
      |  from events
      |),
      |ev2 as (
      |  select *, cast(sum(is_new) over (
      |    partition by user_id order by ts, event_id
      |    rows between unbounded preceding and current row) as bigint) as session_seq
      |  from ev
      |),
      |sess as (
      |  select user_id, session_seq, count(*) as n_events,
      |    min(ts) as started_at, max(ts) as ended_at,
      |    list_reduce(list(value order by ts, event_id), (a, x) -> a + x) as total_value
      |  from ev2 group by 1, 2
      |)
      |select user_id, started_at, ended_at, n_events, total_value
      |from sess s
      |where session_seq < (select max(session_seq) from sess m
      |                     where m.user_id = s.user_id)""".stripMargin

  /** Stream-static enrichment join — the standard streaming shape the
    * other two one-shots don't cover: a stream joined to a BATCH dim
    * table (no state, no watermark requirement on the join itself —
    * the static side is re-queried per micro-batch, so at 100 TB the
    * dim should be broadcastable or a fast lookup store), then a
    * watermarked windowed aggregation per enriched key. Unmatched
    * users keep their events under 'unknown' (left join + coalesce).
    */
  def segmentCounts(events: DataFrame, customers: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .join(customers.select(col("customer_id").as("user_id"), col("market_segment")),
        Seq("user_id"), "left")
      .groupBy(window(col("ts"), "1 day").as("w"),
        coalesce(col("market_segment"), lit("unknown")).as("market_segment"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("market_segment"), col("n_events"))

  /** One-shot driver-verifiable run of the stream-static join path;
    * same file-stream → AvailableNow → memory-sink harness as the
    * other one-shots, gated by the batch-equivalent oracle. */
  def segmentCountsOnce(spark: SparkSession, sfDir: String,
                        customers: DataFrame): DataFrame = withStreamPartitions(spark) {
    val events = adaptiveEventsStream(spark, sfDir)
    val name = "stream_segments_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val q = segmentCounts(events, customers).writeStream
      .format("memory").queryName(name)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logProgress("stream_segment_counts", q)
    spark.table(name)
  }

  /** DuckDB oracle for the one-shot segment counts: stg_customers is a
    * pure rename of the customer table, so the batch twin joins the
    * raw columns directly. */
  val segmentCountsOracleSql: String =
    """select date_trunc('day', e.ts) as window_start,
      |  coalesce(c.c_mktsegment, 'unknown') as market_segment,
      |  count(*) as n_events
      |from events e left join customer c on e.user_id = c.c_custkey
      |group by 1, 2""".stripMargin

  /** Streaming ingest dedup — the at-least-once-source guard every
    * production ingest runs first (VERDICT r4 "What's missing" #3): a
    * redelivered event must not double-count downstream, so the stream
    * is deduplicated on event_id BEFORE any aggregation.
    *
    * `dropDuplicatesWithinWatermark` keeps per-key state only until
    * the watermark passes the event's time + delay, so state is
    * bounded by the source's redelivery horizon (`dedupWithin`), not
    * by history — the property that makes this run forever at 100 TB.
    * A plain streaming `dropDuplicates` would grow key state without
    * bound. */
  def ingestDedup(events: DataFrame, dedupWithin: String): DataFrame =
    events
      .withWatermark("ts", dedupWithin)
      .dropDuplicatesWithinWatermark("event_id")

  /** One-shot driver-verifiable run of the ingest-dedup path: the
    * events file is staged TWICE into a scratch ingest directory (a
    * bounded simulation of an at-least-once source redelivering the
    * whole batch), streamed through the dedup, and appended to a
    * memory sink. The delay must cover the simulated redelivery
    * horizon — here the whole 30-day replay, so 31 days; a production
    * ingest tunes it to the source's actual redelivery window
    * (minutes) — otherwise an already-evicted key readmits its
    * duplicate. Every surviving row is the first delivery of its
    * event_id, so the oracle is the batch events table itself
    * (event_id is unique at the source). */
  def ingestDedupOnce(spark: SparkSession, sfDir: String): DataFrame = withStreamPartitions(spark) {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(sfDir, "events.parquet")
    // applicationId in the scratch path (the Mat convention): two
    // sessions over the same dataset must not share an ingest dir —
    // REPLACE_EXISTING truncates a file the other session's stream
    // could be mid-read of.
    val ingest = Paths.get(System.getProperty("java.io.tmpdir"),
      "graft-ingest", scratchId(spark),
      sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    Files.createDirectories(ingest)
    Seq("delivery1.parquet", "delivery2.parquet").foreach { f =>
      Files.copy(src, ingest.resolve(f), StandardCopyOption.REPLACE_EXISTING)
    }
    val events = adaptiveEventsStream(spark, ingest.toString, globFilter = None)
      .select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"), col("value"))
    val name = "stream_dedup_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val q = ingestDedup(events, "31 days").writeStream
      .format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logProgress("stream_dedup", q)
    spark.table(name)
  }

  /** DuckDB oracle for the one-shot ingest dedup: exactly one row per
    * event_id — the source table, since its event_ids are unique. */
  val ingestDedupOracleSql: String =
    """select event_id, ts, user_id, event_type, value from events""".stripMargin

  /** [[ingestDedupOnce]] with the redelivery arriving in a LATER
    * micro-batch — the at-least-once case production actually hits
    * (a source re-presents a whole delivery minutes later), vs the
    * single-trigger run where both copies meet inside one batch. The
    * two identical deliveries get ascending mtimes and
    * `maxFilesPerTrigger=1`: batch 1 admits every event into the
    * dedup state; batch 2 re-presents ALL of them against that state
    * across the trigger boundary. Every batch-2 row must be
    * suppressed by the surviving watermark-bounded key state (the
    * 31-day delay covers the replay horizon, so no key expires
    * mid-run) — lost state would double the sink, which the
    * batch-twin oracle catches. */
  def ingestDedupMultiBatchOnce(spark: SparkSession, sfDir: String): DataFrame = withStreamPartitions(spark) {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(sfDir, "events.parquet")
    val ingest = Paths.get(System.getProperty("java.io.tmpdir"),
      "graft-ingest-mb", scratchId(spark),
      sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    Files.createDirectories(ingest)
    Seq("delivery1.parquet", "delivery2.parquet").zipWithIndex.foreach {
      case (f, i) =>
        val dst = ingest.resolve(f)
        Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
        // ascending mtimes order the file source's listing — the
        // redelivery is strictly the SECOND trigger
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            1600000000000L + i * 30000L)): Unit
    }
    val events = adaptiveEventsStream(spark, ingest.toString,
        globFilter = None,
        extraOptions = Map("maxFilesPerTrigger" -> "1"))
      .select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"), col("value"))
    val name = "stream_dedup_mb_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val q = ingestDedup(events, "31 days").writeStream
      .format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logProgress("stream_dedup_multibatch", q)
    spark.table(name)
  }

  /** Stream-STREAM interval join — the last classic streaming shape
    * (windowed agg, stateful sessions, stream-static join, ingest
    * dedup are the other four): click-to-purchase attribution, each
    * click joined to the same user's purchases in the preceding
    * [[AttributionWindow]]. Both sides are watermarked and the join
    * condition time-bounds the purchase against the click from BOTH
    * directions, so each side's state store evicts rows once the
    * other side's watermark passes the bound — state is
    * O(users × window), never O(history). */
  val AttributionWindow = "6 hours"

  def clickAttribution(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "1 hour")
    c.join(p,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") - expr(s"interval $AttributionWindow") &&
          col("purchase_ts") <= col("click_ts"))
      .select("click_id", "user_id", "click_ts",
        "purchase_id", "purchase_ts", "purchase_value")
  }

  /** One-shot driver-verifiable run of the stream-stream join: both
    * sides are file streams over the events table (separate source
    * instances), AvailableNow into an append-mode memory sink; the
    * oracle is the batch interval self-join twin. */
  def clickAttributionOnce(spark: SparkSession, sfDir: String): DataFrame = {
    def side(eventType: String): DataFrame =
      adaptiveEventsStream(spark, sfDir)
        .filter(col("event_type") === eventType)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val name = "stream_attr_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    // a stream-stream join maintains FOUR state-store families per
    // shuffle partition (key/index per side), and every micro-batch
    // commits all of them — the [[JoinShufflePartitions]] cap cuts
    // that fan-out harder than the shared one-shot cap does.
    withStreamPartitions(spark, JoinShufflePartitions) {
      val q = clickAttribution(side("click"), side("purchase")).writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      logProgress("stream_attribution", q)
    }
    spark.table(name)
  }

  /** LEFT OUTER stream-stream interval join — the semantics the inner
    * join cannot give: every click is accounted for, null-padded when
    * no purchase follows within the window. The hard part is WHEN an
    * unmatched click may be emitted: only once the purchase-side
    * watermark has passed the click's last possible match time
    * (purchase_ts ≤ click_ts ⇒ that time is click_ts itself) — before
    * that, a matching purchase could still arrive, so the row sits in
    * the state store. Clicks newer than the final watermark therefore
    * never emit an unmatched row in a bounded run; the oracle models
    * exactly that boundary (the stream_sessions "never-closed last
    * sessions" convention). State stays O(users × window) in both
    * directions, as in the inner join. */
  def clickAttributionOuter(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "1 hour")
    c.join(p,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") - expr(s"interval $AttributionWindow") &&
          col("purchase_ts") <= col("click_ts"),
        "leftOuter")
      .select("click_id", "user_id", "click_ts",
        "purchase_id", "purchase_ts", "purchase_value")
  }

  /** One-shot driver-verifiable run of the left-outer variant. */
  def clickAttributionOuterOnce(spark: SparkSession, sfDir: String): DataFrame = {
    def side(eventType: String): DataFrame =
      adaptiveEventsStream(spark, sfDir)
        .filter(col("event_type") === eventType)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val name = "stream_attr_outer_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    withStreamPartitions(spark, JoinShufflePartitions) {
      val q = clickAttributionOuter(side("click"), side("purchase")).writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      logProgress("stream_attribution_outer", q)
    }
    spark.table(name)
  }

  /** Oracle for the left-outer one-shot: the inner rows, plus
    * null-padded clicks with no in-window purchase whose last possible
    * match time (click_ts) precedes the FINAL global watermark
    * (min of both sides' max event time, minus the 1-hour delay —
    * Spark's default `min` multiple-watermark policy). */
  val clickAttributionOuterOracleSql: String =
    s"""with wm as (
       |  select least(
       |    (select max(ts) from events where event_type = 'click'),
       |    (select max(ts) from events where event_type = 'purchase'))
       |    - interval '1 hour' as w
       |)
       |select c.event_id as click_id, c.user_id, c.ts as click_ts,
       |  p.event_id as purchase_id, p.ts as purchase_ts, p.value as purchase_value
       |from events c join events p
       |  on c.user_id = p.user_id
       | and c.event_type = 'click' and p.event_type = 'purchase'
       | and p.ts >= c.ts - interval '$AttributionWindow' and p.ts <= c.ts
       |union all
       |select c.event_id, c.user_id, c.ts,
       |  cast(null as bigint), cast(null as timestamp), cast(null as double)
       |from events c cross join wm
       |where c.event_type = 'click' and c.ts < wm.w
       |  and not exists (
       |    select 1 from events p
       |    where p.event_type = 'purchase' and p.user_id = c.user_id
       |      and p.ts >= c.ts - interval '$AttributionWindow' and p.ts <= c.ts)""".stripMargin

  /** DuckDB oracle for the one-shot attribution join (window derived
    * from the SAME constant as the Spark join — the oracle-layer
    * convention). */
  val clickAttributionOracleSql: String =
    s"""select c.event_id as click_id, c.user_id, c.ts as click_ts,
       |  p.event_id as purchase_id, p.ts as purchase_ts, p.value as purchase_value
       |from events c join events p
       |  on c.user_id = p.user_id
       | and c.event_type = 'click' and p.event_type = 'purchase'
       | and p.ts >= c.ts - interval '$AttributionWindow' and p.ts <= c.ts""".stripMargin

  /** Sink plumbing: append stream to a parquet directory with a
    * checkpoint — the write side of the readStream→writeStream loop. */
  def toParquetSink(df: DataFrame, outDir: String, checkpointDir: String) =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outDir)

  /** Exactly-once parquet sink via foreachBatch: each micro-batch
    * writes its own `batch=<id>` directory, and a REPLAYED batch id
    * (the at-least-once crash-recovery case — the checkpoint commits
    * the offset range only after the sink returns, so a crash between
    * write and commit re-delivers the same batch id with the same
    * data) overwrites the same directory instead of appending
    * duplicates. Idempotent-overwrite-by-batch-id is THE standard
    * recipe for exactly-once file output from Structured Streaming;
    * the plain parquet sink gets this from its own write-ahead
    * file-manifest log, foreachBatch sinks must do it themselves. */
  def exactlyOnceParquetSink(df: DataFrame, outDir: String,
                             checkpointDir: String) =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }

  /** One-shot driver-verifiable run of [[toParquetSink]] (VERDICT r6
    * #6 — the file-sink path was spec-only): a stateless purchase
    * projection streams through the REAL parquet sink — append mode,
    * checkpoint, the sink's write-ahead file-manifest log — into a
    * scratch directory, which is then read back as the query result.
    * The transform is deliberately trivial (the gated subject is the
    * SINK, not another aggregation); its batch twin is a WHERE clause.
    * Scratch + checkpoint are applicationId-scoped (the Mat
    * convention), so a re-run in the same session finds an
    * up-to-date checkpoint, appends nothing, and returns the same
    * directory — idempotent, as a manifest-logged file sink must be. */
  def parquetSinkOnce(spark: SparkSession, sfDir: String): DataFrame = withStreamPartitions(spark) {
    val scratch = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-psink",
      scratchId(spark),
      sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    val out = scratch.resolve("out").toString
    val purchases = adaptiveEventsStream(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val q = toParquetSink(purchases, out, scratch.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logProgress("stream_sink_parquet", q)
    // explicit schema on the read-back (ADVICE r7): a zero-purchase
    // source commits no data files, and a schema-inferring read of the
    // empty sink would fail instead of returning an empty result.
    spark.read.schema(purchases.schema).parquet(out)
  }

  /** DuckDB oracle for the one-shot parquet sink: the projection's
    * batch twin — every purchase row must appear in the sink exactly
    * once. */
  val parquetSinkOracleSql: String =
    """select event_id, ts, user_id, value from events
      |where event_type = 'purchase'""".stripMargin

  /** STREAMING ingest near-dup maintenance — the per-batch dedup job a
    * production corpus pipeline runs as documents ARRIVE: each
    * micro-batch of new docs is shingled and MinHash-signed fresh
    * (batch-local work only), then banded against the STORED LSH band
    * index of the standing corpus (`existingBands` — the Mat barrier a
    * real pipeline maintains) inside `foreachBatch`, and the candidate
    * pairs append to a parquet sink. The checkpoint makes each batch
    * id apply exactly once, so a same-session re-run processes nothing
    * and returns the identical sink (the parquetSinkOnce idempotence
    * convention). Over the bounded demo input ("new" docs = doc_id %
    * 5 == 0, one file → one batch) the sink equals the batch
    * incremental query, so the SAME DuckDB oracle gates the whole
    * readStream → foreachBatch-maintenance → sink path.
    *
    * At 100 TB: per-batch cost is new-batch hashing plus a band
    * semi-join touching only buckets a new doc lands in — the corpus
    * is never re-hashed. The batch's own band rows are APPENDED to
    * the standing index (batchId-keyed, see
    * [[incrementalDedupStream]]), so docs arriving in DIFFERENT
    * batches still find each other — the closed production loop. */
  def incrementalDedupStreamOnce(spark: SparkSession, sfDir: String,
                                 existingBands: DataFrame): DataFrame = {
    val scratch = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-sneardup",
      scratchId(spark),
      sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    val newDocs = spark.readStream
      .schema("doc_id long, text string, lang string, source string, n_chars long")
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .filter(col("doc_id") % 5 === 0)
    incrementalDedupStream(spark, newDocs, scratch.toString, existingBands,
      "stream_neardup_pairs")
  }

  /** MULTI-BATCH streaming near-dup maintenance — the CROSS-BATCH
    * semantics of the self-append loop under the DuckDB gate itself
    * (VERDICT r11 #2; previously spec-only): the same "new" docs as
    * [[incrementalDedupStreamOnce]] (doc_id % 5 == 0) are staged as
    * TWO single-file parquet deliveries (doc_id % 10 == 0 first, the
    * rest second, mtime-ordered — the file source orders its listing
    * by modification time) and processed as two micro-batches via
    * `maxFilesPerTrigger=1`. A batch-2 doc finds its batch-1 near-dups
    * only through the self-appended standing index, so the sink equals
    * the one-shot batch oracle (every pair touching a new doc) iff the
    * cross-batch loop is closed — which is exactly what the shared
    * oracle gates. Bucket caps bind identically as long as no (band,
    * bucket) occupancy straddles [[graft.llm.Dedup.MinhashBucketCap]]
    * across the split (prefix-consistent cap semantics, see
    * [[incrementalDedupStream]]). */
  def incrementalDedupMultiBatchOnce(spark: SparkSession, sfDir: String,
                                     existingBands: DataFrame): DataFrame = {
    val scratch = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-sneardupmb",
      scratchId(spark),
      sfDir.replaceAll("[^A-Za-z0-9]", "_")).toString
    val stream = stagedTwoBatchNewDocs(spark, sfDir, scratch)
    incrementalDedupStream(spark, stream, s"$scratch/run", existingBands,
      "stream_neardup_multibatch")
  }

  /** Stage the demo's "new" docs (doc_id % 5 == 0) as TWO single-file
    * parquet deliveries (doc_id % 10 == 0 first, the rest second)
    * with fixed ascending mtimes — the file source orders its listing
    * by modification time — and return a `maxFilesPerTrigger=1`
    * stream over them: a deterministic two-micro-batch ingest, shared
    * by the multi-batch near-dup and index-maintenance loops. */
  private def stagedTwoBatchNewDocs(spark: SparkSession, sfDir: String,
                                    scratch: String): DataFrame =
    stagedTwoBatch(spark, "graft-2batch-in", sfDir, scratch,
      "doc_id long, text string, lang string, source string, n_chars long") {
      val newDocs = graft.Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 5 === 0)
        .select("doc_id", "text", "lang", "source", "n_chars")
      Seq(newDocs.filter(col("doc_id") % 10 === 0),
        newDocs.filter(col("doc_id") % 10 =!= 0))
    }

  /** The FULL events table as TWO single-file deliveries (event_id
    * parity split) — puts CROSS-BATCH merge semantics of the
    * sketch-maintenance family under the DuckDB gate itself: the
    * registered query only matches the whole-table oracle if both
    * batches' counters merged. */
  private def stagedTwoBatchEvents(spark: SparkSession, sfDir: String,
                                   scratch: String): DataFrame =
    stagedTwoBatch(spark, "graft-2batch-ev", sfDir, scratch,
      "event_id long, ts timestamp, user_id long, event_type string, value double, props string") {
      val ev = graft.Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      Seq(ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 =!= 0))
    }

  /** The FULL events table as TWO single-file deliveries split AT
    * TIME [[IvmCutoff]] (early half first) — the delivery shape that
    * puts CROSS-BATCH STATE HANDOFF under the DuckDB gate for the
    * classic stateful families (VERDICT r12 #3): a session open at
    * the boundary must be continued (or closed and emitted) by batch
    * 2's rows, a batch-2 click must join batch-1 purchase state, and
    * a watermarked window must keep accepting batch-2 rows. A parity
    * split would NOT work for the time-semantic families: each batch
    * would span the full range, so batch 2's early rows would arrive
    * behind batch 1's advanced watermark (silently dropped) and
    * regress the session handlers' `last` fold (they consume in
    * arrival order). The time split keeps event time monotone ACROSS
    * batches, so every cross-batch effect is exercised and the
    * one-batch oracles carry over verbatim. */
  private def stagedTwoBatchEventsByTime(spark: SparkSession, sfDir: String,
                                         scratch: String): DataFrame =
    stagedTwoBatch(spark, "graft-2batch-evtime", sfDir, scratch,
      "event_id long, ts timestamp, user_id long, event_type string, value double, props string") {
      val ev = graft.Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val cut = lit(IvmCutoff).cast("timestamp")
      Seq(ev.filter(col("ts") < cut), ev.filter(col("ts") >= cut))
    }

  /** Scratch dir for the multi-batch one-shots: pass-scoped via
    * [[scratchId]] so each bench pass PROCESSES for real. */
  private def multiBatchScratch(spark: SparkSession, key: String,
                                sfDir: String): String =
    java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), key,
      scratchId(spark), sfDir.replaceAll("[^A-Za-z0-9]", "_")).toString

  // ---- multi-batch variants of the classic stateful one-shots ----
  // (VERDICT r12 #3). Same engines, same sinks, same oracles as the
  // one-batch runs; only the ingest differs — two time-split
  // deliveries via maxFilesPerTrigger=1, so state MUST survive the
  // trigger boundary for the batch-twin oracle to match: lost session
  // state would drop or double boundary sessions, lost join state
  // would lose batch-2 clicks' batch-1 purchases, lost rollup state
  // would reset n_events. stream_progress records batches=2.

  /** [[sessionsOnce]] over the two-delivery ingest: sessions straddling
    * [[IvmCutoff]] continue (gap ≤ 30 min) or close-and-emit (gap
    * exceeded) across the trigger boundary. */
  def sessionsMultiBatchOnce(spark: SparkSession, sfDir: String): DataFrame = withStreamPartitions(spark) {
    import spark.implicits._
    val scratch = multiBatchScratch(spark, "graft-ssmb", sfDir)
    val events = stagedTwoBatchEventsByTime(spark, sfDir, scratch).select(
      col("event_id"), col("ts"),
      col("user_id"), col("event_type"), col("value")).as[Event]
    val name = "stream_sessions_mb_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val q = sessionize(events).writeStream
      .format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logProgress("stream_sessions_multibatch", q)
    spark.table(name)
  }

  /** [[segmentCountsOnce]] over the two-delivery ingest: the windowed
    * aggregate's state (and the watermark advanced by batch 1) must
    * admit and merge batch 2's rows — the time split guarantees none
    * arrive behind the watermark, so a count short of the batch twin
    * can only mean dropped state. */
  def segmentCountsMultiBatchOnce(spark: SparkSession, sfDir: String,
                                  customers: DataFrame): DataFrame = withStreamPartitions(spark) {
    val scratch = multiBatchScratch(spark, "graft-sgmb", sfDir)
    val events = stagedTwoBatchEventsByTime(spark, sfDir, scratch)
    val name = "stream_segments_mb_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val q = segmentCounts(events, customers).writeStream
      .format("memory").queryName(name)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logProgress("stream_segment_counts_multibatch", q)
    spark.table(name)
  }

  /** [[clickAttributionOnce]] over the two-delivery ingest (both join
    * sides read the same staged dir as independent sources): a batch-2
    * click near the boundary finds its ≤6 h-earlier purchase only in
    * batch-1 JOIN STATE — the eviction bound (purchase dropped once
    * the click watermark passes purchase_ts + window) provably spares
    * every still-matchable purchase at this split, so a missing pair
    * means state was lost, not evicted. */
  def clickAttributionMultiBatchOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val scratch = multiBatchScratch(spark, "graft-attrmb", sfDir)
    def side(eventType: String): DataFrame =
      stagedTwoBatchEventsByTime(spark, sfDir, scratch)
        .filter(col("event_type") === eventType)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val name = "stream_attr_mb_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    withStreamPartitions(spark, JoinShufflePartitions) {
      val q = clickAttribution(side("click"), side("purchase")).writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      logProgress("stream_attribution_multibatch", q)
    }
    spark.table(name)
  }

  /** [[userRollupStateOnce]] over the two-delivery ingest: each key
    * touched in both batches emits one changelog row per batch, and
    * the upsert keeps the later (larger n_events) — a reset counter
    * (state not restored at batch 2) cannot reach the batch twin's
    * lifetime totals. */
  def userRollupMultiBatchOnce(spark: SparkSession, sfDir: String): DataFrame = withStreamPartitions(spark) {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val scratch = multiBatchScratch(spark, "graft-urmb", sfDir)
      val keyed = stagedTwoBatchEventsByTime(spark, sfDir, scratch)
        .select(col("event_id"),
          unix_micros(col("ts")).as("ts_micros"),
          col("user_id"), col("value")).as[KeyedEvent]
      val name = "stream_user_rollup_mb_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
      val q = userRollupState(keyed).toDF().writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Update())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      logProgress("stream_user_rollup_multibatch", q)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("n_events").desc)
      spark.table(name)
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("user_id"), col("n_events"), col("total_value"),
          timestamp_micros(col("last_ts_micros")).as("last_ts"),
          col("last_event_id"))
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  /** The FULL documents table as TWO single-file deliveries (doc_id
    * parity split) — the CMS maintenance twin of
    * [[stagedTwoBatchEvents]]. */
  private def stagedTwoBatchAllDocs(spark: SparkSession, sfDir: String,
                                    scratch: String): DataFrame =
    stagedTwoBatch(spark, "graft-2batch-doc", sfDir, scratch,
      "doc_id long, text string, lang string, source string, n_chars long") {
      val docs = graft.Tables.documents(spark, sfDir)
        .select("doc_id", "text", "lang", "source", "n_chars")
      Seq(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0))
    }

  /** Per-inDir staging serialization: concurrent first-runs sharing an
    * inKey (three event-stream queries do) must not interleave the
    * build-and-publish block (ADVICE r12 #5). */
  private val stageLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Stage `build`'s parts as single-file parquet deliveries with
    * fixed ascending mtimes — the file source orders its listing by
    * modification time — and return a `maxFilesPerTrigger=1` stream
    * over them: a deterministic N-micro-batch ingest. Input staging
    * is SESSION-scoped (applicationId, no bench pass tag): the
    * delivery files are identical for every pass, so re-staging them
    * per timed pass would bill setup I/O to the measurement;
    * checkpoints/sinks stay pass-scoped via `scratch` so every pass
    * still PROCESSES for real. */
  private[streaming] def stagedTwoBatch(spark: SparkSession, inKey: String,
                                        sfDir: String, scratch: String,
                                        schemaDdl: String)
                                       (build: => Seq[DataFrame]): DataFrame = {
    import org.apache.hadoop.fs.Path
    val inDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), inKey,
      spark.sparkContext.applicationId,
      sfDir.replaceAll("[^A-Za-z0-9]", "_")).toString
    val fs = new Path(inDir).getFileSystem(spark.sessionState.newHadoopConf())
    // Crash-safe publication (ADVICE r12 #5): every delivery file is
    // staged into a TEMP directory and the DIRECTORY is renamed into
    // place — directory presence IS the staged marker. The old shape
    // (per-file renames into inDir, then a trailing `_staged` marker)
    // left a partial inDir on a mid-staging failure, poisoning every
    // later pass's rename with an existing-destination require().
    // A leftover temp dir from a crash is invisible (unique suffix,
    // never listed) and a clean retry re-stages from scratch.
    stageLocks.computeIfAbsent(inDir, _ => new Object).synchronized {
      if (!fs.exists(new Path(inDir))) {
        val tmpDir = new Path(
          inDir + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
        // fixed past mtimes 30 s apart: the file source orders its
        // listing by modification time, so delivery order is
        // deterministic; setTimes happens inside the temp dir and the
        // rename preserves it
        val t0 = 1600000000000L
        build.zipWithIndex.foreach { case (df, i) =>
          val name = s"b$i.parquet"
          val stage = new Path(s"$scratch/stage_${inKey}_$name")
          df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
          val part = fs.listStatus(stage).map(_.getPath)
            .filter(_.getName.endsWith(".parquet")).head
          fs.mkdirs(tmpDir): Unit
          val dst = new Path(tmpDir, name)
          require(fs.rename(part, dst), s"staging rename failed for $name")
          fs.setTimes(dst, t0 + i * 30000L, -1)
          fs.delete(stage, true): Unit
        }
        if (!fs.rename(tmpDir, new Path(inDir))) {
          // a racing session published first — adopt theirs, drop ours
          require(fs.exists(new Path(inDir)),
            s"staging publish failed for $inDir")
          fs.delete(tmpDir, true): Unit
        }
      }
    }
    spark.readStream
      .schema(schemaDdl)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir)
  }

  /** STREAMING hybrid-index maintenance — the serving indexes behind
    * hybrid_search kept fresh as documents ARRIVE, then served from:
    * each micro-batch of new docs is tokenized and hashed BATCH-LOCALLY
    * into (a) its raw postings rows, (b) its dense hashed vectors, and
    * (c) its LSH band rows under the PINNED standing-corpus centering
    * stats (the FAISS train-once-add-forever convention: the quantizer
    * is frozen at index-build time; later vectors are assigned with it,
    * never re-trained mid-stream). All three append exactly-once to
    * batchId-keyed directories (the incrementalDedupStream sink shape).
    * After the stream drains, the query SERVES hybrid retrieval from
    * standing ∪ appended parts — with the BM25 impact scores recomputed
    * over the merged postings at CURRENT corpus stats, because df/avgdl
    * drift with every batch and impact scores are refreshable only at
    * version boundaries (why the impact mart is derived, not appended).
    * The DuckDB gate proves serving from the stream-maintained index
    * equals the batch-built index with the same pinned quantizer. */
  def hybridIndexMaintenanceOnce(spark: SparkSession, sfDir: String,
                                 standingPostings: DataFrame,
                                 standingVecs: DataFrame,
                                 standingBands: DataFrame,
                                 pinnedStats: DataFrame,
                                 topTerms: DataFrame,
                                 corpusStats: DataFrame): DataFrame = withStreamPartitions(spark) {
    import org.apache.hadoop.fs.Path
    import graft.llm.HashEmbed
    val scratch = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-hybridix",
      scratchId(spark),
      sfDir.replaceAll("[^A-Za-z0-9]", "_")).toString
    val newDocs = stagedTwoBatchNewDocs(spark, sfDir, scratch)
    val q = newDocs.writeStream
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        // batch-local derivations only — the standing corpus is never
        // re-tokenized; the batch caches so the three index writes
        // scan the delivery file once, and the vector table is
        // materialized into cache ONCE (count) because two writes read
        // it
        val batch = batch0.persist()
        val vecs = HashEmbed.vectors(HashEmbed.hashedEmbeddings(batch)).persist()
        try {
          vecs.count(): Unit
          // the three writes are INDEPENDENT jobs over cached inputs —
          // run them concurrently (VERDICT r12 #6): per-trigger cost on
          // a bounded batch is dominated by fixed per-job plan/schedule
          // overhead, so wall-clock drops to ~the slowest write instead
          // of the sum. The foreachBatch blocks on all three, so the
          // batch commits exactly-once semantics unchanged.
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.Duration
          import graft.Mat.ec
          val writes = Seq(
            Future(HashEmbed.postings(batch)
              .write.mode("overwrite").parquet(s"$scratch/postings/batch=$batchId")),
            Future(vecs
              .write.mode("overwrite").parquet(s"$scratch/vectors/batch=$batchId")),
            Future(HashEmbed.semBandTable(vecs, pinnedStats)
              .write.mode("overwrite").parquet(s"$scratch/bands/batch=$batchId")))
          writes.foreach(Await.result(_, Duration.Inf))
        } finally { vecs.unpersist(): Unit; batch.unpersist(): Unit }
        ()
      }
      .option("checkpointLocation", s"$scratch/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logProgress("stream_hybrid_index", q)
    val fs = new Path(scratch).getFileSystem(spark.sessionState.newHadoopConf())
    def parts(sub: String, schema: org.apache.spark.sql.types.StructType): DataFrame = {
      val p = new Path(s"$scratch/$sub")
      val dirs =
        if (!fs.exists(p)) Seq.empty
        else fs.listStatus(p).toSeq.map(_.getPath)
          .filter(d => d.getName.startsWith("batch=") &&
            fs.exists(new Path(d, "_SUCCESS"))).map(_.toString)
      if (dirs.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.parquet(dirs: _*)
    }
    val postingsAll = standingPostings.unionByName(
      parts("postings", org.apache.spark.sql.types.StructType.fromDDL(
        "term string, doc_id bigint, dl bigint, tf bigint")))
    val vecsAll = standingVecs.unionByName(
      parts("vectors", org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id bigint, vec array<bigint>, norm_sq bigint")))
    val bandsAll = standingBands.unionByName(
      parts("bands", org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id bigint, band int, bkt bigint")))
    HashEmbed.hybridSearch(topTerms,
      HashEmbed.impactPostings(postingsAll, corpusStats), vecsAll, bandsAll)
  }

  /** Core of the streaming near-dup maintenance loop, shared by the
    * registered query and the multi-batch spec. Per micro-batch:
    * shingle + MinHash-sign the batch, band it against the standing
    * index — the caller's materialized corpus bands UNION every
    * PRIOR batch's self-appended bands — then durably append this
    * batch's band rows to the index. Both writes are EXACTLY-ONCE by
    * construction (ADVICE r10): each goes to a `batch=<id>` keyed
    * subdirectory in overwrite mode, so a crash-replay of an
    * uncommitted batch rewrites identical content instead of
    * double-appending, and the standing-index read takes only
    * batches `< batchId` with a `_SUCCESS` marker — a replayed
    * batch recomputes against exactly the index it saw first.
    *
    * Cross-batch cap semantics are prefix-consistent: the per-bucket
    * occupancy cap ([[graft.llm.Dedup.MinhashBucketCap]]) is evaluated
    * against the index AS OF each batch, so a bucket that fills up
    * later stops producing pairs from then on while earlier emissions
    * stand — the only causal option in a stream (emitted pairs cannot
    * be retracted), and still never all-pairs. */
  def incrementalDedupStream(spark: SparkSession, newDocs: DataFrame,
                             scratchDir: String, existingBands: DataFrame,
                             progressName: String): DataFrame = withStreamPartitions(spark) {
    import org.apache.hadoop.fs.Path
    val out = s"$scratchDir/out"
    val bandsDir = s"$scratchDir/bands"
    def committedBatchDirs(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                           ltBatch: Long): Seq[String] = {
      val p = new Path(dir)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath).filter { d =>
        d.getName.startsWith("batch=") &&
          scala.util.Try(d.getName.stripPrefix("batch=").toLong).toOption
            .exists(_ < ltBatch) &&
          fs.exists(new Path(d, "_SUCCESS"))
      }.map(_.toString)
    }
    val q = newDocs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s2 = batch.sparkSession
        val fs = new Path(bandsDir).getFileSystem(s2.sessionState.newHadoopConf())
        // cached: the band table feeds BOTH sinks (pair join + index
        // self-append); without it each write re-runs the batch's
        // whole text→shingle→minhash pipeline
        val newBands = graft.llm.Dedup.bandTable(
          graft.llm.Dedup.minhashSignatures(
            graft.llm.Dedup.docShingles(batch))).persist()
        try {
          val prior = committedBatchDirs(fs, bandsDir, batchId)
          val standing =
            if (prior.isEmpty) existingBands
            else existingBands.unionByName(
              s2.read.parquet(prior: _*).select("doc_id", "band", "v"))
          graft.llm.Dedup.incrementalMinhashPairsFromBandRows(standing, newBands)
            .write.mode("overwrite").parquet(s"$out/batch=$batchId")
          // self-append AFTER the pairs write: a crash between the two
          // replays the batch, which overwrites both keyed dirs with
          // identical content (the index read above excludes this batch)
          newBands.write.mode("overwrite").parquet(s"$bandsDir/batch=$batchId")
        } finally newBands.unpersist(): Unit
        ()
      }
      .option("checkpointLocation", s"$scratchDir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logProgress(progressName, q)
    val fs = new Path(out).getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = committedBatchDirs(fs, out, Long.MaxValue)
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_a long, doc_b long, n_shared_bands long"))
    else spark.read.parquet(dirs: _*).select("doc_a", "doc_b", "n_shared_bands")
  }

  /** STREAMING model inference — scoring arriving documents with the
    * TRAINED quality classifier (the production deploy shape: train
    * once on the standing corpus, score forever as data lands): each
    * micro-batch of new docs is feature-hashed fresh (batch-local
    * explode + groupBy only) and scored against the caller's standing
    * weights mart — the [[graft.Mat]] barrier `quality_weights`
    * builds — via one broadcast of the Dim+1 weight rows inside
    * `foreachBatch`; (doc_id, margin, predicted) rows land in a
    * batchId-keyed parquet sink (overwrite per key = exactly-once
    * under crash-replay, the incrementalDedupStream convention).
    * Scoring is exact integer arithmetic end to end, so the DuckDB
    * oracle replays training AND scores the same slice — the whole
    * readStream → broadcast-scoring → sink path is hash-gated.
    *
    * At 100 TB: per-batch cost is batch tokenization plus a
    * broadcast hash join — no corpus re-read, no state store, and
    * the model rides one tiny broadcast per batch. */
  def qualityScoreStreamOnce(spark: SparkSession, sfDir: String,
                             weights: DataFrame): DataFrame = withStreamPartitions(spark) {
    import org.apache.hadoop.fs.Path
    val scratch = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-squality",
      scratchId(spark),
      sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    val out = scratch.resolve("out").toString
    val newDocs = spark.readStream
      .schema("doc_id long, text string, lang string, source string, n_chars long")
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .filter(col("doc_id") % 5 === 0)
    val q = newDocs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.llm.QualityModel.score(batch, weights)
          .write.mode("overwrite").parquet(s"$out/batch=$batchId")
        ()
      }
      .option("checkpointLocation", scratch.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logProgress("stream_quality_scores", q)
    val fs = new Path(out).getFileSystem(spark.sessionState.newHadoopConf())
    val p = new Path(out)
    val dirs =
      if (!fs.exists(p)) Seq.empty[String]
      else fs.listStatus(p).toSeq.map(_.getPath)
        .filter(d => d.getName.startsWith("batch=") &&
          fs.exists(new Path(d, "_SUCCESS")))
        .map(_.toString)
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id long, margin long, predicted int"))
    else spark.read.parquet(dirs: _*).select("doc_id", "margin", "predicted")
  }

  /** Streaming UPSERT into a versioned mart — the table-format
    * "streaming MERGE" pattern on plain parquet: each micro-batch is
    * applied through [[graft.operators.Merge.upsert]], so the mart
    * always serves a complete keyed snapshot (last write per key
    * wins), each applied batch publishes a new version (the last
    * [[graft.Mat.KeepVersions]] are retained — time travel and
    * [[graft.operators.ChangeFeed]] work within that window), and
    * in-flight readers keep their snapshot across applies.
    * Duplicate keys WITHIN one micro-batch are reduced to the
    * last-event-per-key first (Merge's multi-match guard rejects raw
    * duplicates, exactly like warehouse MERGE) — `orderCol` decides
    * "last", tiebroken deterministically by the remaining columns'
    * struct order.
    *
    * Restart semantics — scoped precisely: within one session, a
    * query restart replays the last uncommitted batch and
    * re-upserting the same rows is IDEMPOTENT (same keys, same
    * values), so foreachBatch's at-least-once is effectively
    * exactly-once. Across a JVM crash the same holds IF Mat runs in
    * durable mode (`spark.graft.mat.logRoot` set — the [[graft.MatLog]]
    * transaction log): the restarted process adopts the last committed
    * mart version while the durable checkpoint skips committed
    * batches, and upserting resumes where it left off
    * (MatDurableSpec's merge-restart subprocess test). With the
    * default in-memory registry a restarted process sees an empty
    * mart — recover by replaying the source from scratch (fresh
    * checkpoint) or set the log root. A replay can still publish two
    * versions for one logical batch (apply committed, checkpoint
    * not — the upsert is idempotent so the SNAPSHOT is right), so
    * versions do not map 1:1 to batches. */
  def mergeSink(df: DataFrame, sfDir: String, name: String,
                uniqueKey: String, orderCol: String,
                checkpointDir: String) =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val lastPerKey = batch
          .withColumn("__ms_rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col(uniqueKey))
              .orderBy(col(orderCol).desc,
                struct(batch.columns.map(col): _*).desc)))
          .filter(col("__ms_rn") === 1).drop("__ms_rn")
        if (graft.Mat.currentVersion(spark, sfDir, name) == 0)
          graft.Mat.table(spark, sfDir, name)(lastPerKey): Unit
        else
          graft.operators.Merge.upsert(spark, sfDir, name, uniqueKey, lastPerKey): Unit
      }

  /** One-shot driver-verifiable run of [[mergeSink]] (VERDICT r6 #6 —
    * the streaming-MERGE path was spec-only): the events file is
    * staged TWICE (the ingestDedup redelivery recipe) and streamed
    * with `maxFilesPerTrigger=1`, so the sink applies one real batch
    * and then a full REPLAY of it — the at-least-once delivery the
    * idempotent-upsert claim is about. The mart must end up holding
    * the last event per user, replay notwithstanding; the batch twin
    * is one row_number window.
    *
    * The within-batch tiebreak (ts desc, then the full-row struct
    * desc) reduces to `event_id desc` here: user_id is the partition
    * key (constant) and event_id — the struct's next field — is
    * globally unique, so later fields can never be compared. The
    * oracle encodes exactly that.
    *
    * The mart is scoped like the checkpoint: a run under a
    * [[scratchTag]] gets its own mart, so its first batch creates the
    * mart instead of upserting into the one an earlier tagged run left
    * behind. Untagged, the mart is `stream_user_latest`. */
  def mergeSinkOnce(spark: SparkSession, sfDir: String): DataFrame = withStreamPartitions(spark) {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val name = "stream_user_latest" +
      (if (scratchTag.isEmpty) "" else "_" + scratchTag.replaceAll("[^A-Za-z0-9]", "_"))
    val scratch = Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-msink",
      scratchId(spark),
      sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    val ingest = scratch.resolve("ingest")
    Files.createDirectories(ingest)
    val src = Paths.get(sfDir, "events.parquet")
    Seq("delivery1.parquet", "delivery2.parquet").foreach { f =>
      Files.copy(src, ingest.resolve(f), StandardCopyOption.REPLACE_EXISTING)
    }
    val keyed = adaptiveEventsStream(spark, ingest.toString, globFilter = None,
        extraOptions = Map("maxFilesPerTrigger" -> "1")) // force batch + replayed batch
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value"))
    val q = mergeSink(keyed, sfDir, name, "user_id", "ts",
        scratch.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logProgress("stream_sink_merge", q)
    spark.table(s"${graft.Mat.schemaFor(sfDir)}.$name")
  }

  /** DuckDB oracle for the one-shot merge sink: last event per user —
    * the keyed snapshot the upsert mart must converge to after the
    * replayed delivery. */
  val mergeSinkOracleSql: String =
    """select user_id, event_id, ts, event_type, value from events
      |qualify row_number() over
      |  (partition by user_id order by ts desc, event_id desc) = 1""".stripMargin

  // ---- transformWithState (the Spark 4 arbitrary-state API) ----

  /** Input row for the per-user rollup: ts kept as epoch MICROS (the
    * events parquet carries sub-second timestamps; see Event's note). */
  case class KeyedEvent(event_id: Long, ts_micros: Long, user_id: Long,
                        value: Double)
  /** ValueState payload: all-integer accumulators, so the fold is
    * exact and commutative — the emitted rollup cannot depend on
    * micro-batch boundaries or in-batch row order. */
  case class UserAgg(n: Long, total_micros: Long, last_ts_micros: Long,
                     last_event_id: Long)
  case class UserRollupRow(user_id: Long, n_events: Long,
                           total_value: Double, last_ts_micros: Long,
                           last_event_id: Long)

  /** Spark's `cast(double as decimal(18,6))` replicated exactly:
    * Decimal(BigDecimal(double)) goes through Double.toString
    * (`java.math.BigDecimal.valueOf`) and changePrecision rounds
    * HALF_UP — so the state fold accumulates the SAME micros the
    * engine's decimal cast (and the oracle's) produces, as a plain
    * long. */
  def valueMicros(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()

  /** Per-user running rollup on [[org.apache.spark.sql.streaming.StatefulProcessor]]
    * — the Spark 4 successor of flatMapGroupsWithState ([[sessionize]]
    * covers the legacy API): typed ValueState, explicit TTL config
    * (NONE here — the rollup is a lifetime aggregate; a real deploy
    * sets a retention TTL and the store evicts cold users), TimeMode
    * off. Each batch emits the UPDATED rollup per key touched
    * (OutputMode.Update) — the changelog a downstream upsert consumer
    * applies; state is one fixed-size row per user, partitioned by
    * the groupByKey shuffle, RocksDB-backed (the API requires it; at
    * 100 TB that is also the right store — state spills off-heap
    * instead of competing with execution memory). */
  class UserRollupProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, KeyedEvent, UserRollupRow] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimerValues}
    @transient private var st: org.apache.spark.sql.streaming.ValueState[UserAgg] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[UserAgg]("agg",
        org.apache.spark.sql.Encoders.product[UserAgg], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[KeyedEvent],
                                 tv: TimerValues): Iterator[UserRollupRow] = {
      var cur =
        if (st.exists()) st.get()
        else UserAgg(0L, 0L, Long.MinValue, Long.MinValue)
      rows.foreach { e =>
        val later = e.ts_micros > cur.last_ts_micros ||
          (e.ts_micros == cur.last_ts_micros && e.event_id > cur.last_event_id)
        cur = UserAgg(cur.n + 1L, cur.total_micros + valueMicros(e.value),
          if (later) e.ts_micros else cur.last_ts_micros,
          if (later) e.event_id else cur.last_event_id)
      }
      st.update(cur)
      // exact decimal→double presentation of the micros accumulator —
      // identical to cast(sum(decimal(18,6)) as double)
      Iterator.single(UserRollupRow(key, cur.n,
        java.math.BigDecimal.valueOf(cur.total_micros, 6).doubleValue(),
        cur.last_ts_micros, cur.last_event_id))
    }
  }

  def userRollupState(events: Dataset[KeyedEvent]): Dataset[UserRollupRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new UserRollupProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** One-shot driver-verifiable run: file stream → transformWithState
    * rollup → Update-mode memory sink, then the consumer's upsert —
    * keep each key's LATEST emission (n_events is strictly increasing
    * per emission, so max n_events IS the final state; ≤ one row per
    * key per micro-batch in the sink). RocksDB provider is set for
    * the run and restored after (transformWithState requires it). */
  def userRollupStateOnce(spark: SparkSession, sfDir: String): DataFrame = withStreamPartitions(spark) {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val keyed = adaptiveEventsStream(spark, sfDir)
        .select(col("event_id"),
          unix_micros(col("ts")).as("ts_micros"),
          col("user_id"), col("value")).as[KeyedEvent]
      val name = "stream_user_rollup_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
      val q = userRollupState(keyed).toDF().writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Update())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      logProgress("stream_user_rollup", q)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("n_events").desc)
      spark.table(name)
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("user_id"), col("n_events"), col("total_value"),
          timestamp_micros(col("last_ts_micros")).as("last_ts"),
          col("last_event_id"))
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  /** DuckDB oracle for the transformWithState rollup: the batch
    * lifetime aggregate per user plus the (ts, event_id)-latest event
    * — what the commutative integer fold must converge to over any
    * micro-batch split. */
  val userRollupOracleSql: String =
    """with agg as (
      |  select user_id, count(*) as n_events,
      |    cast(sum(cast(value as decimal(18,6))) as double) as total_value
      |  from events group by 1
      |),
      |last as (
      |  select user_id, ts as last_ts, event_id as last_event_id from events
      |  qualify row_number() over
      |    (partition by user_id order by ts desc, event_id desc) = 1
      |)
      |select a.user_id, a.n_events, a.total_value, l.last_ts, l.last_event_id
      |from agg a join last l on a.user_id = l.user_id""".stripMargin

  /** Committed `batch=<id>` subdirectories of `dir` with id < ltBatch
    * (a `_SUCCESS` marker = the write finished) — the exactly-once
    * keyed-sink read path shared by the stateful foreachBatch loops. */
  private def committedKeyedDirs(fs: org.apache.hadoop.fs.FileSystem,
                                 dir: String, ltBatch: Long): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath).filter { d =>
      d.getName.startsWith("batch=") &&
        scala.util.Try(d.getName.stripPrefix("batch=").toLong).toOption
          .exists(_ < ltBatch) &&
        fs.exists(new Path(d, "_SUCCESS"))
    }.map(_.toString)
  }

  /** Boundary between the batch-built base aggregate and the streamed
    * feed for the one-shot IVM run — mid-range of the events table's
    * January window, so both sides carry real mass. */
  val IvmCutoff = "2024-01-15 00:00:00"

  /** STREAMING INCREMENTAL VIEW MAINTENANCE — the materialized-view
    * half of the CDC story ([[graft.operators.Cdc.maintainAgg]]) run
    * as data ARRIVES (the Delta Live Tables / continuous-aggregate
    * shape): a standing grouped aggregate is maintained per
    * micro-batch by the delta rule, so each batch costs
    * O(|groups| + |batch|) — the base data is NEVER re-aggregated.
    *
    * State lives in an exactly-once keyed parquet sink: batch b reads
    * the latest committed `agg/batch=<id < b>` snapshot (falling
    * back to the caller's base aggregate), merges its own rows through
    * the delta rule (a feed carrying `_change_type` applies as a full
    * CDC stream — deletes and update pre-images retract; a bare feed
    * is all-inserts ingest), and overwrites `agg/batch=b` — a
    * crash-replayed batch reads exactly the state it saw first and
    * rewrites identical content (the [[incrementalDedupStream]]
    * convention). The maintained total is cast back to the base
    * aggregate's decimal type after each merge so the state schema is
    * stable across arbitrarily many batches.
    *
    * At 100 TB: the maintained aggregate is |groups|-sized (tiny next
    * to the fact stream), each batch's merge is one full-outer join of
    * two small tables, and the exact-decimal arithmetic makes
    * maintained == full-recompute BIT-IDENTICAL — which is exactly
    * what the registered query's oracle asserts (it re-aggregates
    * everything from scratch; the hash gate IS the IVM invariant). */
  def ivmAggStream(spark: SparkSession, inserts: DataFrame,
                   scratchDir: String, baseAgg: DataFrame,
                   groupKey: String, valueCol: String,
                   progressName: String): DataFrame = withStreamPartitions(spark) {
    import org.apache.hadoop.fs.Path
    val aggDir = s"$scratchDir/agg"
    val totType = baseAgg.schema("total").dataType
    def latestState(s2: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                    ltBatch: Long): DataFrame = {
      val prior = committedKeyedDirs(fs, aggDir, ltBatch)
      if (prior.isEmpty) baseAgg
      else s2.read.parquet(prior.maxBy(_.split("batch=").last.toLong))
    }
    val q = inserts.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s2 = batch.sparkSession
        val fs = new Path(aggDir).getFileSystem(s2.sessionState.newHadoopConf())
        // a feed already carrying _change_type is a full CDC stream
        // (inserts, deletes, update pre/post images — the Delta-CDF
        // apply case); a bare feed is treated as all-inserts ingest
        val cdc =
          if (batch.columns.contains("_change_type"))
            batch.select(col(groupKey), col(valueCol), col("_change_type"))
          else batch.select(col(groupKey), col(valueCol))
            .withColumn("_change_type", lit("insert"))
        graft.operators.Cdc.maintainAgg(latestState(s2, fs, batchId), cdc,
            groupKey, valueCol)
          .select(col(groupKey), col("n"), col("total").cast(totType).as("total"))
          .coalesce(1) // |groups| rows — one state file per version
          .write.mode("overwrite").parquet(s"$aggDir/batch=$batchId")
        ()
      }
      .option("checkpointLocation", s"$scratchDir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logProgress(progressName, q)
    val fs = new Path(aggDir).getFileSystem(spark.sessionState.newHadoopConf())
    latestState(spark, fs, Long.MaxValue)
  }

  /** One-shot driver-verifiable run of [[ivmAggStream]]: the
    * per-event-type (count, exact-decimal value total) aggregate of
    * the WHOLE events table, served as `base (ts < IvmCutoff, built
    * batch) ⊕ streamed feed (ts >= IvmCutoff)` — the oracle
    * re-aggregates everything, so the hash gate enforces
    * maintained == recomputed. */
  def ivmAggStreamOnce(spark: SparkSession, sfDir: String,
                       baseAgg: DataFrame): DataFrame = {
    val scratch = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-sivm",
      scratchId(spark),
      sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    val feed = adaptiveEventsStream(spark, sfDir)
      .filter(col("ts") >= lit(IvmCutoff).cast("timestamp"))
      .select(col("event_type"),
        col("value").cast(DecimalType(18, 6)).as("value"))
    ivmAggStream(spark, feed, scratch.toString, baseAgg,
        "event_type", "value", "stream_ivm_agg")
      .select(col("event_type"), col("n").as("n_events"),
        col("total").cast("double").as("total_value"))
  }

  /** DuckDB oracle for the streaming IVM aggregate: the full
    * re-aggregation the maintained view must equal bit-for-bit. */
  val ivmAggOracleSql: String =
    """select event_type, count(*) as n_events,
      |  cast(sum(cast(value as decimal(18,6))) as double) as total_value
      |from events group by 1""".stripMargin

  /** STREAMING SKETCH MAINTENANCE — per-day HLL distinct users kept
    * up to date as events ARRIVE: each micro-batch builds its own
    * (day, register, max-rho) table ([[graft.operators.Sketches.hllRegisters]] —
    * batch-local work, ≤ m rows per day touched) into a batchId-keyed
    * exactly-once sink, and the serving read merges every committed
    * batch's registers by per-register max before estimating. Because
    * the merge is associative and commutative, batches need NO
    * sequential state chaining (unlike [[ivmAggStream]]) — a replayed
    * batch just rewrites identical registers, and the merged sketch
    * equals the directly-built one bit-for-bit, which is exactly what
    * the oracle asserts (it builds each day's sketch straight from
    * the whole events table).
    *
    * At 100 TB this is THE streaming-uniques pattern: the state is
    * days × m longs regardless of traffic, raw values are never
    * revisited, and any date-range distinct is a register merge over
    * the stored per-batch sketches ([[graft.marts.EventMarts.hllRangeUsers]]
    * is the batch read path over the same store). */
  def hllSketchStreamOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val scratch = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-shll",
      scratchId(spark),
      sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    hllSketchStream(spark, stagedTwoBatchEvents(spark, sfDir, scratch.toString),
      scratch.toString, "stream_hll_users")
  }

  /** STREAMING Count-Min maintenance — the frequency twin of
    * [[hllSketchStream]], completing the mergeable-state streaming
    * trio (HLL merges by MAX, CMS by SUM, the IVM aggregate by the
    * delta rule): each micro-batch of arriving documents is tokenized
    * batch-locally and its d×w counter table lands in a batchId-keyed
    * exactly-once sink; the serving read SUMS every committed batch's
    * counters per (row, bucket) — addition is associative/commutative,
    * so the merged table equals the directly-built one EXACTLY, and
    * the heavy-hitter probe over it returns precisely the batch
    * query's rows. The SAME DuckDB oracle gates both
    * (`cms_heavy_hitters`' SQL, building the sketch from the whole
    * corpus at once).
    *
    * At 100 TB: per-batch cost is batch tokenization plus a d×w-row
    * write; the standing state is d×w longs regardless of traffic;
    * heavy-hitter serving never rescans history. */
  def cmsSketchStreamOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val scratch = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-scms",
      scratchId(spark),
      sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    cmsSketchStream(spark,
      stagedTwoBatchAllDocs(spark, sfDir, scratch.toString),
      graft.Tables.documents(spark, sfDir),
      scratch.toString, "stream_cms_heavy")
  }

  /** Core of the streaming CMS, shared by the registered query and the
    * multi-batch spec. `docs` is the streaming document feed;
    * `probeDocs` the batch-side corpus whose distinct terms are the
    * point queries (in the one-shot both cover the same rows, so the
    * result equals the batch heavy-hitters query exactly). */
  def cmsSketchStream(spark: SparkSession, docs: DataFrame,
                      probeDocs: DataFrame, scratchDir: String,
                      progressName: String): DataFrame = withStreamPartitions(spark) {
    import org.apache.hadoop.fs.Path
    import graft.operators.Sketches
    val ctrDir = s"$scratchDir/counters"
    def termsOf(d: DataFrame) =
      d.select(explode(graft.llm.Dedup.words(col("text"))).as("term"))
        .select(col("term").cast("string").as("term"))
    val q = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Sketches.cmsCounters(termsOf(batch), "term")
          .coalesce(1) // ≤ d×w rows — one state file per batch
          .write.mode("overwrite").parquet(s"$ctrDir/batch=$batchId")
        ()
      }
      .option("checkpointLocation", s"$scratchDir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logProgress(progressName, q)
    val fs = new Path(ctrDir).getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = committedKeyedDirs(fs, ctrDir, Long.MaxValue)
    val merged =
      if (dirs.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "r int, bkt long, cnt long"))
      else spark.read.parquet(dirs: _*)
        .groupBy(col("r"), col("bkt"))
        .agg(sum(col("cnt")).cast("long").as("cnt"))
    Sketches.cmsProbeHeavy(termsOf(probeDocs), merged, "term",
      Sketches.CmsHeavyThreshold)
  }

  /** STREAMING histogram-quantile maintenance — the quantile leg of
    * the mergeable-sketch streaming family (HLL merges by register
    * MAX, CMS by counter SUM, and the equi-width histogram by BIN-
    * COUNT SUM): per-group bin edges are PINNED from the standing
    * corpus (the stream_hybrid_index standing-quantizer convention)
    * and written once to the scratch as the physical quantizer
    * artifact; each micro-batch then bins its own rows against those
    * edges ([[graft.operators.Sketches.histBinCounts]] — batch-local,
    * ≤ groups×256 counter rows) into a batchId-keyed exactly-once
    * sink, and the serving read SUMS committed batches' counters
    * before interpolating quantiles. `n` is derived from the merged
    * counters, so a lost batch shifts every output row and the DuckDB
    * gate (the SAME `hist_quantiles` SQL, building the histogram from
    * the whole table at once) catches it.
    *
    * At 100 TB: per-batch cost is one bounded aggregation; standing
    * state is groups×256 longs regardless of traffic; quantile
    * serving never revisits raw values. A production deployment
    * re-pins edges on distribution drift (edge-bin clamping counts,
    * never drops, drifted tails — see histBinCounts). */
  def histSketchStreamOnce(spark: SparkSession, sfDir: String,
                           pinnedStats: DataFrame): DataFrame = {
    val scratch = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-shist",
      scratchId(spark),
      sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    histSketchStream(spark, stagedTwoBatchEvents(spark, sfDir, scratch.toString),
      pinnedStats, scratch.toString, "stream_quantile_hist")
  }

  /** Core of the streaming histogram maintenance, shared by the
    * registered query and the multi-batch spec. `events` is the
    * streaming feed; `statsSource` the standing batch table the bin
    * edges are pinned from (in the one-shot both cover the same rows,
    * so the result equals the batch `hist_quantiles` query exactly). */
  def histSketchStream(spark: SparkSession, events: DataFrame,
                       pinnedStats: DataFrame, scratchDir: String,
                       progressName: String): DataFrame = withStreamPartitions(spark) {
    import org.apache.hadoop.fs.Path
    import graft.operators.Sketches
    val binsDir = s"$scratchDir/bins"
    val fs = new Path(scratchDir).getFileSystem(spark.sessionState.newHadoopConf())
    // `pinnedStats` is the trained quantizer — the registered query
    // passes the hist_pinned_stats Mat barrier (r18: previously each
    // bench pass re-trained and re-wrote a pass-scoped parquet pin;
    // the Mat IS the pin, built once per session). Every batch bins
    // against the SAME edges, which keeps the counters mergeable.
    // CONTRACT (ADVICE r18): pinnedStats must be a MATERIALIZED or at
    // least deterministic frame — foreachBatch re-evaluates its plan
    // per micro-batch, so an unmaterialized stats frame re-trains the
    // quantizer every batch (correct only because deterministic; a
    // nondeterministic frame would silently break mergeability).
    val q = events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Sketches.histBinCounts(batch.filter(col("value").isNotNull),
            Seq("event_type"), col("value"), pinnedStats)
          .coalesce(1) // ≤ groups×256 rows — one state file per batch
          .write.mode("overwrite").parquet(s"$binsDir/batch=$batchId")
        ()
      }
      .option("checkpointLocation", s"$scratchDir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logProgress(progressName, q)
    val dirs = committedKeyedDirs(fs, binsDir, Long.MaxValue)
    val merged =
      if (dirs.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "event_type string, __bin long, __cnt long"))
      else spark.read.parquet(dirs: _*)
        .groupBy(col("event_type"), col("__bin"))
        .agg(sum(col("__cnt")).cast("long").as("__cnt"))
    Sketches.histQuantilesFromBins(merged, pinnedStats, Seq("event_type"))
  }

  /** STREAMING DRIFT MONITORING — the PSI of
    * [[graft.operators.Stats.featureDriftPsi]] maintained as events
    * ARRIVE, the shape a production model monitor actually runs: the
    * quantizer (per-type reference-month bin edges + the two month
    * bounds) is pinned once from the standing corpus — in production,
    * the training-time snapshot — and each micro-batch contributes a
    * (type, bin, ref-count, cur-count) counter table to a
    * batchId-keyed exactly-once sink; both counter columns merge by
    * ADDITION, so the serving read sums committed batches and runs
    * the same integer-exact PSI formula, equaling the batch query
    * bit-for-bit (the SAME DuckDB oracle gates both). A lost batch
    * shifts the counts and fails the gate.
    *
    * At 100 TB: per-batch cost is one bounded aggregation; standing
    * state is types×B×2 longs regardless of traffic; the drift read
    * never revisits raw events. */
  def psiMonitorStreamOnce(spark: SparkSession, sfDir: String,
                           pinnedStats: DataFrame): DataFrame = {
    val scratch = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-spsi",
      scratchId(spark),
      sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    psiMonitorStream(spark, stagedTwoBatchEvents(spark, sfDir, scratch.toString),
      pinnedStats, scratch.toString, "stream_psi_monitor")
  }

  /** Core of the streaming PSI monitor, shared by the registered
    * query and the multi-batch spec. `pinnedStats` is the trained
    * reference quantizer — the registered query passes the
    * psi_pinned_stats Mat barrier (r18: previously each bench pass
    * re-trained it and re-wrote a pass-scoped parquet pin; the Mat IS
    * the pin, built once per session like every trained artifact). */
  def psiMonitorStream(spark: SparkSession, events: DataFrame,
                       pinnedStats: DataFrame, scratchDir: String,
                       progressName: String): DataFrame = withStreamPartitions(spark) {
    import org.apache.hadoop.fs.Path
    import graft.operators.Stats
    val cntDir = s"$scratchDir/cnts"
    val fs = new Path(scratchDir).getFileSystem(spark.sessionState.newHadoopConf())
    val q = events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Stats.psiBinCounts(batch, pinnedStats)
          .coalesce(1) // ≤ types×B rows — one state file per batch
          .write.mode("overwrite").parquet(s"$cntDir/batch=$batchId")
        ()
      }
      .option("checkpointLocation", s"$scratchDir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logProgress(progressName, q)
    val dirs = committedKeyedDirs(fs, cntDir, Long.MaxValue)
    val merged =
      if (dirs.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "event_type string, __bin long, __cr long, __cc long"))
      else spark.read.parquet(dirs: _*)
        .groupBy(col("event_type"), col("__bin"))
        .agg(sum(col("__cr")).cast("long").as("__cr"),
          sum(col("__cc")).cast("long").as("__cc"))
    Stats.psiFromCounts(merged, pinnedStats)
  }

  /** STREAMING BENFORD MONITOR — the first-digit fraud screen of
    * [[graft.marts.StatsMarts.eventBenford]] maintained as events
    * arrive: per-digit counts are a MERGEABLE sketch (they add), so
    * each micro-batch writes its ≤9-row counter table to a
    * batchId-keyed exactly-once sink, the serving read sums committed
    * batches, and the same χ² projection runs over the merged counts
    * — equal to the batch audit bit-for-bit (the SAME DuckDB oracle
    * gates both; a lost batch shifts the counts and fails the hash).
    * The psi-monitor shape: per-batch cost one bounded aggregation,
    * standing state ≤9 longs per batch file regardless of traffic. */
  def benfordMonitorStreamOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val scratch = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-sben",
      scratchId(spark),
      sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    benfordMonitorStream(spark, stagedTwoBatchEvents(spark, sfDir, scratch.toString),
      scratch.toString, "stream_benford_monitor")
  }

  /** Core of the streaming Benford monitor. */
  def benfordMonitorStream(spark: SparkSession, events: DataFrame,
                           scratchDir: String,
                           progressName: String): DataFrame = withStreamPartitions(spark) {
    import org.apache.hadoop.fs.Path
    import graft.marts.StatsMarts
    val cntDir = s"$scratchDir/cnts"
    val q = events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        StatsMarts.benfordDigitCounts(
            batch.select(floor(col("value") * 100).cast("long").as("cents")))
          .coalesce(1) // ≤ 9 rows — one counter file per batch
          .write.mode("overwrite").parquet(s"$cntDir/batch=$batchId")
        ()
      }
      .option("checkpointLocation", s"$scratchDir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logProgress(progressName, q)
    val fs = new Path(cntDir).getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = committedKeyedDirs(fs, cntDir, Long.MaxValue)
    val merged =
      if (dirs.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "digit int, n_obs long"))
      else spark.read.parquet(dirs: _*)
        .groupBy(col("digit"))
        .agg(sum(col("n_obs")).cast("long").as("n_obs"))
    StatsMarts.benfordFromCounts(merged)
  }

  /** Core of the streaming sketch maintenance, shared by the
    * registered query and the multi-batch spec. `events` must carry
    * (ts, user_id). */
  def hllSketchStream(spark: SparkSession, events: DataFrame,
                      scratchDir: String,
                      progressName: String): DataFrame = withStreamPartitions(spark) {
    import org.apache.hadoop.fs.Path
    val regsDir = s"$scratchDir/regs"
    val q = events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Sketches.hllRegisters(batch,
            to_date(col("ts")), "day",
            concat(lit("hll|"), col("user_id").cast("string")))
          .write.mode("overwrite").parquet(s"$regsDir/batch=$batchId")
        ()
      }
      .option("checkpointLocation", s"$scratchDir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    logProgress(progressName, q)
    val fs = new Path(regsDir).getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = committedKeyedDirs(fs, regsDir, Long.MaxValue)
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "day date, hll_estimate double"))
    else {
      val merged = spark.read.parquet(dirs: _*)
        .groupBy(col("day"), col("__reg")).agg(max(col("__mj")).as("__mj"))
      graft.operators.Sketches.hllEstimateFromRegistersBy(merged, Seq("day"))
    }
  }
}
