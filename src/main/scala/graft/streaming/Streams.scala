package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming surface over the `events` table — pure growth beyond the
  * reference (it has no streaming at all, SURVEY.md §2.8; the driver's
  * events table is reserved for exactly this, TESTDATA.md).
  *
  * Every transformation here is written against a plain DataFrame, so the
  * SAME code runs in batch (for the DuckDB oracle) and under Structured
  * Streaming (readStream → writeStream) — Spark's unified model. Watermarks
  * are no-ops in batch. State size is bounded: windowed aggregations evict
  * by watermark; the stateful session counter times out idle keys.
  */
object Streams {

  /** events.parquet physical schema with `ts` declared as `tsType` — the
    * driver has shipped both TIMESTAMP(NANOS) (readable only as long via
    * nanosAsLong) and TIMESTAMP(MICROS); a file stream needs the schema
    * declared up front, so [[readEventsStream]] probes the footer first.
    */
  def rawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Open an events directory as an unbounded stream (file source — each
    * parquet file dropped into `eventsDir` becomes micro-batch input; the
    * source requires a DIRECTORY, not a single file). A one-time batch
    * footer probe (one schema-inference job) discovers the physical `ts`
    * type; the stream then normalizes it exactly like the batch path
    * ([[graft.Tables.normalizeEventTs]]), so stream≡batch comparisons hold
    * across generator versions.
    */
  def readEventsStream(spark: SparkSession, eventsDir: String): DataFrame = {
    // Probe-first so a MICROS directory never flips the session-global
    // nanosAsLong flag. Failure ladder on the one-time footer probe:
    //   plain read OK                  → MICROS/NTZ footer, flag untouched
    //   [PARQUET_TYPE_ILLEGAL]         → NANOS footer: set the flag (the
    //     stream's scans consult it at execution time too, so it stays
    //     set for the stream's lifetime) and re-probe
    //   other AnalysisException        → empty/missing dir at stream start
    //     (the canonical file-source pattern: open first, drop files
    //     later): default to the generator's long/nanos layout with the
    //     flag set so late-arriving NANOS files scan; the normalizer
    //     handles either physical type from there
    // A transient I/O or corrupt-footer error is NOT AnalysisException and
    // must surface at open time, not silently mis-type the stream.
    val tsType =
      try spark.read.parquet(eventsDir).schema("ts").dataType
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if graft.Tables.isNanosFooterRejection(e) =>
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          spark.read.parquet(eventsDir).schema("ts").dataType
        case _: org.apache.spark.sql.AnalysisException =>
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          org.apache.spark.sql.types.LongType
      }
    graft.Tables.normalizeEventTs(
      spark.readStream.schema(rawSchema(tsType)).parquet(eventsDir))
  }

  /** Tumbling-window counts/sums per event type. Exact cents for the value
    * sum (order-independent → identical in batch, streaming, and DuckDB).
    */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("value") * 100).cast("long")).cast("double") / 100).as("sum_value"))
      .select(col("window.start").cast("string").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding-window counts (2h window, 1h slide). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("string").as("win_start"), col("event_type"), col("n"))

  /** Windowed approximate distinct users — the sketch/streaming
    * intersection: HLL++ (`approx_count_distinct`) per tumbling window,
    * constant state per window regardless of user cardinality (the exact
    * distinct would hold every user id in state). HLL register merges are
    * max-operations — commutative and insertion-order-independent — so
    * the streaming result is IDENTICAL to the batch replay, not merely
    * close; accuracy vs the exact count is the spec's second gate.
    */
  def approxUserCounts(events: DataFrame, rsd: Double = 0.02): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("n_users_approx"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").cast("string").as("win_start"),
        col("n_users_approx"), col("n_events"))

  /** NATIVE session windows — `session_window(ts, gap)` with a watermark:
    * Spark's built-in dynamic-gap session operator (state evicts when the
    * watermark passes a session's close), vs [[sessionize]]'s
    * gaps-and-islands window formulation. The two disagree ONLY at an
    * exact-boundary gap: `session_window`'s interval `[t, t+gap)` does
    * not contain `t+gap`, so a pair of events exactly `gap` apart SPLITS
    * here (diff >= gap) but stays one session under [[sessionize]]
    * (diff > gap) — each operator is gated against its own
    * same-semantics DuckDB oracle (`>=` vs `>`), never against the
    * other on boundary-landing data.
    */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").cast("string").as("session_start"),
        col("n_events"))

  /** Stream-static enrichment join + windowed rollup: each event is joined
    * to a static dimension (here customer, keyed by `user_id + 1 =
    * c_custkey`) and aggregated per tumbling window × segment. The
    * dimension is explicitly `broadcast()` — in Structured Streaming the
    * static side is re-planned per micro-batch, and broadcasting it keeps
    * every micro-batch shuffle-free on the stream side (the only stateful
    * exchange is the window aggregation itself). This is THE standard
    * streaming-ETL shape: fact stream ⋈ slowly-changing dim → rollup.
    */
  def enrichedWindowCounts(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .join(broadcast(dim), col("user_id") + 1 === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("value") * 100).cast("long")).cast("double") / 100).as("sum_value"))
      .select(col("window.start").cast("string").as("win_start"),
        col("c_mktsegment"), col("n"), col("sum_value"))

  /** Gaps-and-islands sessionization (30-min inactivity gap) as plain
    * window functions — runs in batch and has a direct DuckDB oracle. The
    * streaming-native equivalent is [[runningCountsStateful]] /
    * `session_window`.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).cast("string").as("session_start"),
        max(col("ts")).cast("string").as("session_end"))
  }

  /** At-least-once delivery dedup: exactly-once semantics recovered by
    * dropping `event_id` duplicates within the watermark horizon
    * (`dropDuplicatesWithinWatermark`). Streaming state holds one entry per
    * event_id only until the watermark passes — bounded by arrival skew,
    * not stream length, which is what makes it safe on an unbounded
    * stream; plain `dropDuplicates` state would grow forever. Spark rejects
    * `dropDuplicatesWithinWatermark` on batch frames outright, so the batch
    * replay (where the whole input is visible and state is not a concern)
    * is the equivalent distinct-by-key.
    */
  def dedupEvents(events: DataFrame): DataFrame = {
    val wm = events.withWatermark("ts", "1 hour")
    if (events.isStreaming) wm.dropDuplicatesWithinWatermark("event_id")
    else wm.dropDuplicates("event_id")
  }

  /** File-stream source over a directory of documents parquet (same shape
    * as the testdata `documents` table; file streams need a declared
    * schema).
    */
  def readDocumentsStream(spark: SparkSession, docsDir: String): DataFrame =
    spark.readStream
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .parquet(docsDir)

  /** Near-duplicate STREAMING dedup: each document is fingerprinted with
    * the codegen'd [[graft.functions.SimHash64]] expression (the same
    * tokenization as `llm.Dedup.simHash`, so whitespace/token-order
    * variants collide) and only the first arrival per 64-bit fingerprint
    * inside the watermark survives — the online counterpart of the batch
    * SimHash dedup, with state bounded by arrival skew exactly as in
    * [[dedupEvents]]. Event time derives deterministically from `doc_id`,
    * so the batch replay (`dropDuplicates` on the fingerprint) processes
    * identical rows and the stream≡batch equivalence is testable. At
    * 100 TB-scale ingest this is the shape that keeps a dedup decision
    * O(state lookup) per arriving document instead of a periodic
    * all-corpus batch job.
    */
  def dedupNearDupDocs(docs: DataFrame): DataFrame = {
    val fp = docs
      .withColumn("simhash",
        graft.functions.SimHash64.simhash64(split(col("text"), " ")))
      .withColumn("ts", timestamp_seconds(lit(1767225600L) + col("doc_id")))
      .withWatermark("ts", "1 hour")
    if (fp.isStreaming) fp.dropDuplicatesWithinWatermark("simhash")
    else fp.dropDuplicates("simhash")
  }

  /** Merge per-language fertility counters (r14): partial counters from
    * disjoint corpus slices ([[graft.llm.TextAnalysis.tokenizerFertilityCounts]])
    * are plain sums, so merging = re-summing by language — associative
    * and commutative, which is what makes the incremental stream below
    * equal the one-shot batch aggregate bit-for-bit.
    */
  def fertilityMergeCounts(prev: Option[DataFrame], partial: DataFrame): DataFrame =
    prev.map(_.unionByName(partial)).getOrElse(partial)
      .groupBy(col("predicted_lang"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_tokens_bpe")).as("n_tokens_bpe"))

  /** Latest persisted counter version strictly below `below` (the merge
    * base for a batch id — a RETRIED batch re-merges from the same base,
    * making the sink exactly-once like the overwrite-by-batch-id parquet
    * pattern). Listed through Hadoop's FileSystem API so the state dir
    * can live wherever the job's checkpoints do (HDFS/object store), not
    * only on the driver's local disk.
    */
  private def latestFertilityState(spark: SparkSession, stateDir: String,
      below: Long = Long.MaxValue): Option[String] = {
    val path = new org.apache.hadoop.fs.Path(stateDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) None
    else fs.listStatus(path).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+"))
      .map(_.getPath.getName.drop(1).toLong).filter(_ < below)
      .sorted.lastOption.map(v => s"$stateDir/v$v")
  }

  /** INCREMENTAL tokenizer fertility over a documents stream (r14) — the
    * foreachBatch rollup topology for the fused langid+BPE scan: each
    * micro-batch reduces to its |languages|-row partial counters (the
    * micro-batch plan is the same zero-join one-scan shape the batch
    * operator pins in PlanCheck), which merge into a versioned
    * |languages|-row state table; [[tokenizerFertilityCurrent]] derives
    * the up-to-date report from the latest version. Versioning by batch
    * id keeps the sink exactly-once under micro-batch replay: a retried
    * batch re-merges from the version BELOW its id and overwrites its
    * own. At 100 TB-scale ingest the per-trigger cost is one scan of the
    * arriving slice plus a |languages|-row shuffle, and state is
    * |languages| rows regardless of stream length — corpus-wide token
    * budgeting that never re-reads landed data. Versions older than the
    * newest 2 are pruned after each successful write (r15), so the
    * version-dir count, the per-trigger listing, and the small-file
    * count all stay O(1) at any stream age.
    */
  def tokenizerFertilityIncremental(docsStream: DataFrame, stateDir: String,
      merges: Seq[(String, String)] = graft.llm.TextAnalysis.DefaultBpeMerges)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docsStream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val partial = graft.llm.TextAnalysis.tokenizerFertilityCounts(batch, merges)
        val prev = latestFertilityState(batch.sparkSession, stateDir, below = batchId)
          .map(batch.sparkSession.read.parquet(_))
        fertilityMergeCounts(prev, partial)
          .coalesce(1) // |languages| rows — one tiny state file per version
          .write.mode("overwrite").parquet(s"$stateDir/v$batchId")
        pruneFertilityState(batch.sparkSession, stateDir, keep = 2)
        ()
    }

  /** Retention for the versioned fertility state (r14 verdict item 5 —
    * one `v<batchId>` dir per micro-batch otherwise accumulates forever
    * and the per-trigger listing grows linearly at 1e5+ batch stream
    * ages): after a successful version write, every version older than
    * the newest `keep` is deleted. `keep = 2` suffices for exactly-once
    * replay — a RETRIED batch id b re-merges from the latest version
    * BELOW b, which is the second-newest dir (its own possibly-partial
    * v<b> is overwritten) — and bounds both the listing cost and the
    * small-file count at O(1) for any stream age.
    */
  private def pruneFertilityState(spark: SparkSession, stateDir: String,
      keep: Int): Unit = {
    val path = new org.apache.hadoop.fs.Path(stateDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) {
      fs.listStatus(path).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+"))
        .sortBy(_.getPath.getName.drop(1).toLong)
        .dropRight(keep)
        .foreach(st => fs.delete(st.getPath, true))
    }
  }

  /** The current fertility report from the incremental state — re-derived
    * from merged counters, so it equals the batch
    * [[graft.llm.TextAnalysis.tokenizerFertility]] over everything
    * ingested so far (StreamingSpec gate).
    */
  def tokenizerFertilityCurrent(spark: SparkSession, stateDir: String): DataFrame =
    graft.llm.TextAnalysis.tokenizerFertilityReport(
      spark.read.parquet(latestFertilityState(spark, stateDir).getOrElse(
        throw new IllegalStateException(s"no fertility state under $stateDir"))))

  /** Stream-stream interval join: each purchase joined to the SAME user's
    * view events in the preceding hour (attribution). In streaming both
    * sides carry watermarks and the join condition bounds event time on
    * both sides, so Spark can size the join state and evict it as the
    * watermark advances — the only way a stream-stream join is safe on
    * unbounded input. In batch the watermarks are no-ops and this is a
    * plain range join; the same code runs in both modes.
    */
  def purchaseAttribution(events: DataFrame): DataFrame =
    attributionJoin(events, "inner")

  /** The shared purchases/views construction and interval predicate for
    * the three attribution join types — ONE definition of the watermark
    * delays and the hour bound, so the inner/left/full trio cannot
    * silently diverge.
    */
  private def attributionJoin(events: DataFrame, joinType: String): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "2 hours")
    purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("p_ts"),
      joinType)
  }

  /** LEFT OUTER stream-stream interval join — [[purchaseAttribution]]'s
    * inner form misses the rows marketing actually asks about: purchases
    * with NO preceding view. In streaming, an unmatched left row can only
    * emit once BOTH watermarks have passed its join window (the engine
    * must prove no matching view can still arrive), so null-matched
    * output trails by the watermark delay — the StreamingSpec gate
    * asserts exactly that contract against the batch replay.
    */
  def purchaseAttributionOuter(events: DataFrame): DataFrame =
    attributionJoin(events, "left_outer")

  /** FULL OUTER stream-stream interval join — completes the join matrix
    * beyond [[purchaseAttributionOuter]]: matched (purchase, view) pairs,
    * purchases with NO preceding view, AND views never followed by a
    * purchase inside the hour (the "wasted impression" rows a marketing
    * funnel audits). In streaming, an unmatched row on EITHER side can
    * only emit once both watermarks have passed its join window — the
    * engine must prove no partner can still arrive — so null-padded
    * output on both sides trails the matched stream by the watermark
    * delay (gated against the batch replay in StreamingSpec). State
    * stays watermark-bounded exactly as in the inner/left forms: one
    * eviction horizon of both inputs, sharded by user.
    */
  def purchaseAttributionFull(events: DataFrame): DataFrame =
    attributionJoin(events, "full_outer")

  final case class EventRow(event_id: Long, user_id: Long, event_type: String, value: Double)
  final case class UserCount(user_id: Long, n: Long)
  final case class HourTopUser(hour_us: Long, rank: Long, user_id: Long, n: Long)

  /** Custom streaming state: running per-user event count via
    * `flatMapGroupsWithState` — the mapGroupsWithState shape for state
    * Spark's windowed operators can't express (SURVEY.md §7.2(8)).
    *
    * `evictIdleState=true` uses a processing-time timeout to drop idle
    * keys (the production setting — state must be bounded on an unbounded
    * key space); `false` keeps state forever, which is what finite
    * replay/backfill runs (and the spec's AvailableNow trigger, which
    * would otherwise idle waiting on timers) want.
    */
  def runningCountsStateful(spark: SparkSession, events: DataFrame,
      evictIdleState: Boolean = true): DataFrame = {
    import spark.implicits._
    val timeout =
      if (evictIdleState) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, timeout)(
        (userId: Long, rows: Iterator[EventRow], state: GroupState[Long]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val n = state.getOption.getOrElse(0L) + rows.size
            state.update(n)
            if (evictIdleState) state.setTimeoutDuration("1 hour")
            Iterator.single(UserCount(userId, n))
          }
        })
      .toDF()
  }

  final case class UserGap(user_id: Long, prev_ts: String, next_ts: String, gap_minutes: Long)
  final case class SilentUser(user_id: Long, last_ts: String)
  final case class CdcChange(key: Long, seq: Long, op: String, val_cents: Long)

  /** Batch gap analysis — every in-data silence longer than `gapMinutes`
    * per user, as (prev, next) event pairs: the lag-window form with a
    * direct SQL oracle. The streaming-native twin is
    * [[silenceDetectStateful]], which also surfaces the OPEN-ENDED case
    * (a user silent since their last event) that a lag over landed data
    * cannot see until the next event arrives.
    */
  def gapsBatch(events: DataFrame, gapMinutes: Int = 120): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("__prev", lag(col("ts"), 1).over(w))
      .filter(col("__prev").isNotNull &&
        unix_micros(col("ts")) - unix_micros(col("__prev")) >
          lit(gapMinutes * 60L * 1000000L))
      .select(col("user_id"),
        col("__prev").cast("string").as("prev_ts"),
        col("ts").cast("string").as("next_ts"),
        expr("(unix_micros(ts) - unix_micros(__prev)) div 60000000L")
          .as("gap_minutes"))
  }

  /** Streaming silence detection — the missed-heartbeat monitor:
    * `flatMapGroupsWithState` with an EVENT-TIME timeout per user. Each
    * user's state holds only their latest event time; the timeout is
    * re-armed `gapMinutes` past it, and when the WATERMARK (not wall
    * clock — replays behave identically) passes that deadline with no
    * new event, one `(user, last_ts)` row is emitted and the state is
    * dropped. This is the stateful-timeout pattern none of the windowed
    * operators can express: the trigger is the ABSENCE of data. State is
    * one timestamp per active user and every timed-out key is evicted,
    * so it is bounded by concurrently-active users, not stream history.
    * (Batch runs never time out by definition — batch gap analysis is
    * [[gapsBatch]].)
    */
  /** Epoch millis → `yyyy-MM-dd HH:mm:ss[.SSS]` at UTC — the session
    * timezone every entrypoint pins, so the emitted string matches
    * Spark's own timestamp casts (`gapsBatch` prev/next_ts) on ANY
    * machine. `java.sql.Timestamp.toString` would render in the JVM
    * default zone and diverge on non-UTC hosts.
    */
  private def utcTsString(ms: Long): String = {
    val base = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ms))
    val frac = ms % 1000
    if (frac == 0) base else f"$base.${frac}%03d"
  }

  def silenceDetectStateful(spark: SparkSession, events: DataFrame,
      gapMinutes: Int = 120): DataFrame = {
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[Long]) => {
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            Iterator.single(SilentUser(userId, utcTsString(last)))
          } else {
            val latest = (rows.map(_._2.getTime) ++ state.getOption.iterator).max
            val deadline = latest + gapMs
            // flatMapGroupsWithState does NOT pre-filter late rows: a
            // late event can land the deadline at or before the current
            // watermark, where setTimeoutTimestamp THROWS and kills the
            // whole query. The user is then already silent past the gap
            // — emit the silence row now and drop the state instead.
            if (deadline <= state.getCurrentWatermarkMs()) {
              state.remove()
              Iterator.single(SilentUser(userId, utcTsString(latest)))
            } else {
              state.update(latest)
              state.setTimeoutTimestamp(deadline)
              Iterator.empty
            }
          }
        })
      .toDF()
  }

  /** Streaming CDC materialization — the stream twin of
    * [[graft.ops.Relational.applyCdc]]: fold an I/U/D change stream into
    * the CURRENT row per key. State is the single latest change per key
    * (by `seq`; ties broken deterministically by (op, val_cents), though
    * the contract is a unique `seq` per key); each trigger emits the
    * key's current row in Update mode — INCLUDING 'D' tombstones, so a
    * downstream sink can delete rather than silently keep stale rows.
    * Because the fold is a pure max-by-seq, processing order across
    * micro-batches cannot change the fixed point: the stream's final
    * emission per key equals the batch run over the same changes
    * (StreamingSpec), which in turn is oracle-gated (`stream_cdc_apply`).
    *
    * At 100 TB: state is ONE row per live key (not per change), the
    * per-trigger work is a key-partitioned fold, and tombstoned keys
    * can be evicted by the sink — the standard table-materialization
    * topology for a CDC firehose.
    */
  def cdcLatestStateful(spark: SparkSession, changes: DataFrame): DataFrame = {
    import spark.implicits._
    changes
      .select(col("key"), col("seq"), col("op"), col("val_cents"))
      .as[CdcChange]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[CdcChange], state: GroupState[CdcChange]) => {
          val latest = (rows ++ state.getOption.iterator)
            .maxBy(c => (c.seq, c.op, c.val_cents))
          state.update(latest)
          Iterator.single(latest)
        })
      .toDF()
  }

  /** Streaming heavy hitters: per-hour top-`k` most active users via a
    * bounded Misra–Gries summary in `flatMapGroupsWithState`, keyed by
    * the hour bucket. Each update folds the batch's events into the
    * summary (at most `capacity` counters per hour — when full, every
    * counter decrements instead of admitting a new key, the MG
    * guarantee: any key with true count > N/capacity survives) and
    * emits the CURRENT top-k with a deterministic (count desc, user
    * asc) tie-break. State is O(capacity) per open hour AND hours
    * CLOSE: an event-time timeout armed at hour-end + 10 min grace
    * evicts each hour's summary once the watermark passes it, so total
    * state is bounded by concurrently-open hours, not stream lifetime
    * (with NoTimeout every hour ever seen would accumulate forever) —
    * the property that makes per-window top-k viable on an unbounded
    * stream, where an exact groupBy(user) would hold every user ever
    * seen.
    *
    * While no hour overflows its `capacity`, the summary holds exact
    * counts, so the final emission per hour equals the batch
    * `row_number() OVER (PARTITION BY hour ORDER BY n DESC, user)`
    * top-k — the driver's oracle; StreamingSpec replays the same data
    * through a real stream and asserts the last emission matches batch.
    */
  def topUsersStateful(spark: SparkSession, events: DataFrame,
      k: Int = 3, capacity: Int = 8192): DataFrame = {
    import spark.implicits._
    require(k > 0 && capacity >= k, "need k > 0 and capacity >= k")
    events
      .withWatermark("ts", "10 minutes")
      // the watermarked ts attribute must SURVIVE into the FMGWS input —
      // Spark's streaming checker rejects EventTimeTimeout when only
      // derived columns (hour_us) remain downstream of the watermark
      .select(col("ts"), unix_micros(date_trunc("hour", col("ts"))).as("hour_us"),
        col("user_id"))
      .as[(java.sql.Timestamp, Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        (hourUs: Long, rows: Iterator[(java.sql.Timestamp, Long, Long)],
         state: GroupState[Map[Long, Long]]) => {
          if (state.hasTimedOut) {
            // hour closed behind the watermark — its last Update-mode
            // emission already carried the final top-k; just evict
            state.remove()
            Iterator.empty
          } else {
            var m = state.getOption.getOrElse(Map.empty[Long, Long])
            rows.foreach { case (_, _, user) =>
              m.get(user) match {
                case Some(c) => m += user -> (c + 1)
                case None if m.size < capacity => m += user -> 1L
                case None =>
                  m = m.transform((_, c) => c - 1).filter(_._2 > 0)
              }
            }
            // hour-end + grace; batch runs have no watermark (Try → arm
            // unconditionally — timeouts never fire in batch anyway),
            // and a LATE hour whose deadline is already behind the
            // watermark must not arm (setTimeoutTimestamp would throw):
            // this emission is its final one, so evict now
            val deadline = hourUs / 1000L + 3600000L + 600000L
            val wm = scala.util.Try(state.getCurrentWatermarkMs()).getOrElse(Long.MinValue)
            if (deadline > wm) {
              state.update(m)
              state.setTimeoutTimestamp(deadline)
            } else state.remove()
            m.toSeq.sortBy { case (u, c) => (-c, u) }.take(k)
              .zipWithIndex.iterator
              .map { case ((u, c), i) => HourTopUser(hourUs, i + 1L, u, c) }
          }
        })
      .toDF()
  }
}
