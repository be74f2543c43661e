package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming keys (SURVEY §2.2 `stream_*`): each builds a
  * continuous plan (`readStream` → stateful operators → sink) and
  * drives it over the parquet fixture as a BOUNDED stream. In
  * production the source is a directory/Kafka feed and the trigger is
  * continuous; here every query goes through one runner with one
  * contract:
  *   - bounded: [[runBounded]] starts it under `Trigger.AvailableNow`
  *     and waits for it to drain its input;
  *   - metered: its progress lands in [[StreamMeter]] under its name,
  *     `<tag>_<n>` with the run counter stripped;
  *   - cleaned up: on success and on failure the query is stopped and
  *     a memory sink's view (registered under the query name) dropped,
  *     so a long-lived session accumulates no views or live queries.
  * [[drain]] is the memory-sink case: it returns the sink's contents as
  * a DataFrame that stays readable after its view is gone.
  */
object Events {

  private val n = new AtomicInteger(0)

  /** Runs `writer` (its sink already configured) to completion as
    * `<tag>_<n>` and hands the finished query to `readout` before the
    * cleanup above runs. A failed run rethrows the query's exception. */
  private[graft] def runBounded[T](writer: DataStreamWriter[Row], tag: String)(
      readout: StreamingQuery => T): T = {
    val q = writer.queryName(s"${tag}_${n.incrementAndGet()}")
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      StreamMeter.record(q)
      readout(q)
    } finally {
      q.stop()
      q.sparkSession.catalog.dropTempView(q.name)
    }
  }

  /** Runs `df` into a memory sink in output `mode` and returns the
    * sink's contents. The frame is resolved before the view is dropped,
    * so it keeps reading the sink's rows. */
  private[graft] def drain(df: DataFrame, mode: String, tag: String): DataFrame =
    runBounded(df.writeStream.outputMode(mode).format("memory"), tag) { q =>
      df.sparkSession.table(q.name)
    }

  /** Canonical event-time columns for a streamed events frame — the
    * streaming twin of [[graft.sources.Tables.events]]'s type guard.
    * The testdata's `ts` has shipped both as TIMESTAMP(NANOS) (read as
    * Long nanoseconds under `nanosAsLong`) and as plain timestamp[us]
    * (TIMESTAMP_NTZ), so no consumer may assume either: this maps both
    * to `ts` TimestampType (session-TZ UTC, value-preserving) plus
    * `ts_us`/`ts_s` Long epoch micros/floor-seconds — the only shapes
    * downstream streaming queries consume. `ts_s` matches the batch
    * `unix_timestamp(ts)` ⟷ DuckDB `CAST(floor(epoch(ts)) AS BIGINT)`
    * oracle convention. */
  private[graft] def withEventTs(raw: DataFrame): DataFrame = {
    val normalized =
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        // `div` not `/`: ns epochs (~1.7e18) exceed double's 2^53
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    normalized
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("ts_s", expr("ts_us div 1000000"))
  }

  /** Bounded-as-stream events source: schema from a batch read (file
    * stream sources need an explicit schema), glob path (the file
    * source wants a directory/glob, not a bare file), event time
    * normalized by [[withEventTs]]. */
  private def eventStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    withEventTs(spark.readStream.schema(schema).parquet(s"$sfDir/events.*"))
  }

  /** Every stateful operator commits one state store per shuffle
    * partition per micro-batch; at contract scale 32 stores' commit
    * files cost more than the data they hold. 8 keeps real parallelism
    * while quartering the per-batch commit fan-out — production sizes
    * this to the cluster (state-store partitioning is fixed by the
    * FIRST run's setting and baked into the checkpoint). Restores the
    * session value afterwards; queries in this process run
    * sequentially, so the temporary session-conf change is safe. */
  private def withStreamShuffle[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val ckKey = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.get(key)
    val prevCk = spark.conf.get(ckKey)
    val prevNd = spark.conf.get(ndKey)
    spark.conf.set(key, "8")
    // the one-sentinel watermark-flush layouts (abandoned carts, asof,
    // late-data audit…) rely on the automatic no-data micro-batch to
    // APPLY the last advance — pin the default ON so a session-level
    // override can't silently starve those flushes (r16 ADVICE)
    spark.conf.set(ndKey, "true")
    // Spark 4.1 defaults checkpoint FILE CHECKSUMS on: every offset /
    // commit / state-delta write gains a twin .checksum file, doubling
    // the small-file creation count on the state-store commit path —
    // the measured per-micro-batch floor these bounded streams pay 2-6
    // times per run (guide §6: small files hurt twice). Corruption
    // detection on a throwaway local checkpoint buys nothing; durable
    // production checkpoints can re-enable it per deployment.
    spark.conf.set(ckKey, "false")
    try body finally {
      spark.conf.set(key, prev)
      spark.conf.set(ckKey, prevCk)
      spark.conf.set(ndKey, prevNd)
    }
  }

  /** Streaming mergeable histogram: the fixed-grid 20-bin count frame
    * (the 100 TB quantile/distribution primitive — see the batch
    * `q_quantile_hist`) maintained as streaming state. Bin bounds are
    * compile-time constants, so the state is a bounded ≤(bins×types)
    * row map regardless of stream length, every micro-batch merges by
    * addition (partial-aggregable), and the converged table equals the
    * batch histogram — which is exactly what the oracle checks. */
  def streamHistogram(spark: SparkSession, sfDir: String): DataFrame =
    withStreamShuffle(spark) {
      val path = s"$sfDir/events.parquet"
      val schema = spark.read.parquet(path).schema
      val raw = spark.readStream.schema(schema).parquet(s"$sfDir/events.*")
      val agg = raw
        .withColumn("bin",
          least(floor(col("value") / 30.0), lit(19.0)).cast("long"))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"))
      drain(agg, "complete", "graft_stream_hist")
        .orderBy(col("event_type"), col("bin"))
    }

  /** Run the streaming window aggregation to completion and return the
    * result. Output: win_start_s (epoch seconds), event_type, n,
    * sum_value. */
  def streamWindow(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    val ev = eventStream(spark, sfDir)
    val agg = ev
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    drain(agg, "complete", "graft_stream_window")
      .select(unix_timestamp(col("window.start")).as("win_start_s"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("win_start_s"), col("event_type"))
  }

  /** Streaming sliding (hopping) windows: the 1 h / 30 min overlapping
    * aggregation running continuously — each event updates exactly 2
    * window states, so state is 2× the tumbling case, bounded by the
    * window span, and the emitted table equals the batch
    * `q_sliding_window` (the oracle). */
  def streamSlidingWindow(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    val ev = eventStream(spark, sfDir)
    val agg = ev
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    drain(agg, "complete", "graft_stream_sliding")
      .select(unix_timestamp(col("window.start")).as("win_start_s"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("win_start_s"), col("event_type"))
  }

  /** Streaming distinct-user census under BOUNDED state (the r14
    * verdict's order #2 — the last unbounded `dropDuplicates` shape in
    * the streaming family, replaced by the stream_dau_mau recipe):
    * the stream compacts the firehose to FIRST-SEEN
    * (user, event_type, day) rows via `dropDuplicatesWithinWatermark`
    * under a 2-day watermark over the chronological source — a key's
    * state row is EVICTED once the watermark passes its event time +
    * delay, so state is bounded by keys active in the trailing
    * ~2×2-day horizon, never by the stream's lifetime. Dedup stays
    * EXACT because every duplicate of a day-scoped key lies within
    * 1 day of the first sighting (< the 2×2d guarantee window) and the
    * chronological replay advances the watermark monotonically. The
    * lifetime COUNT(DISTINCT user) per event_type then folds the
    * compacted append log post-stream (the lambda-compaction shape: at
    * production scale that fold is an incremental batch agg over
    * ≤ users×types×days rows, not the raw stream) — equal to the batch
    * whole-corpus distinct, which stays the oracle. Mid-run eviction
    * is pinned by Round15Spec via [[StreamMeter.stateEvictions]]. */
  def streamDedup(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    val src = chronoEventsDir(spark, sfDir)
    val schema = spark.read.parquet(src).schema
    val firstSeen = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$src/*.parquet")
      .withWatermark("ts", "2 days")
      .select(col("user_id"), col("event_type"),
        to_date(col("ts")).as("day"), col("ts"))
      .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
    drain(firstSeen, "append", "graft_stream_dedup")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  }

  /** Watermark + append output + checkpoint recovery in one flow:
    * run 1 processes all events in a single AvailableNow batch (append
    * emits nothing — the watermark only advances between batches) and
    * checkpoints the window state; a sentinel event far in the future
    * is then appended and run 2 restarts from the checkpoint, where the
    * advanced watermark finalizes and emits EVERY original window.
    * Deterministic, so the batch window aggregation is the oracle (the
    * sentinel's own window stays open and is never emitted). */
  /** Writable source copies for streamWatermarkAppend, one per corpus
    * dir per process. Reused across calls: each call appends one more
    * (identical) sentinel file, but all sentinels share one timestamp,
    * so the sentinel window is the same always-open window and the
    * emitted output is invariant — while the measured runs skip the
    * table copy a per-call temp dir would pay. */
  private val wmSrcDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  def streamWatermarkAppend(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    val work = graft.util.Scratch.dir("graft_wm")
    val src = wmSrcDirs.computeIfAbsent(sfDir, _ => {
      val dir = graft.util.Scratch.dir("graft_wm_src").toString + "/in"
      // cast unifies to TimestampType (LTZ) whichever ts shape the
      // testdata ships (Long-ns arrives pre-converted from
      // Tables.events; timestamp[us] arrives NTZ) so the appended
      // sentinel file below shares the source schema exactly
      graft.sources.Tables.events(spark, sfDir)
        .select(col("event_id"),
          col("ts").cast(org.apache.spark.sql.types.TimestampType).as("ts"),
          col("event_type"), col("value"))
        .write.mode("overwrite").parquet(dir)
      dir
    })
    val ckpt = s"$work/ckpt"
    val schema = spark.read.parquet(src).schema

    val out = s"$work/out"
    // memory sink can't recover from a checkpoint; the parquet file
    // sink is the fault-tolerant one (exactly-once via _spark_metadata)
    def runOnce(): Unit = {
      val agg = spark.readStream.schema(schema).parquet(s"$src/*.parquet")
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      runBounded(agg.writeStream
        .outputMode("append").format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt), "graft_stream_wm")(_ => ())
    }
    runOnce() // emits nothing; checkpoints state + watermark
    // sentinel far beyond every real event pushes the watermark past
    // all original windows on the next run
    val sentinel = spark.range(1).select(
      lit(-1L).as("event_id"),
      lit(java.sql.Timestamp.valueOf("2025-06-01 00:00:00")).as("ts"),
      lit("sentinel").as("event_type"), lit(0.0).as("value"))
    sentinel.write.mode("append").parquet(src)
    runOnce() // recovery: emits every original window from state
    spark.read.parquet(out)
      .select(unix_timestamp(col("window.start")).as("win_start_s"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("win_start_s"), col("event_type"))
  }

  /** Stream-stream inner join: each click paired with the same user's
    * purchases in the following hour, counted per user. Bounded input +
    * inner join ⇒ the emitted matches equal the batch join (the
    * oracle); in production watermarks bound the join state. Times
    * compare at second granularity so the oracle is engine-neutral. */
  def streamJoin(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    def src = eventStream(spark, sfDir)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_s").as("c_ts"))
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_s").as("p_ts"))
    // stream-stream joins emit in Append mode only: the stream writes
    // matched pairs to the sink; the count per user is batch analytics
    // over the sink table (the standard two-tier pattern)
    val pairs = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") && col("p_ts") <= col("c_ts") + 3600L)
    drain(pairs, "append", "graft_stream_join")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("user_id"))
  }

  /** Stream-STATIC join — the enrichment shape most production
    * streams actually run (and the one join member stream-stream
    * variants can't express): every micro-batch joins the streamed
    * events against a static dimension snapshot (customer → tier),
    * broadcast at this size, co-partitioned at scale. No watermark and
    * NO join state — the static side is re-resolved per batch, so
    * state never grows and the converged aggregate equals the batch
    * join (the oracle). Left join: an event without a dimension row
    * keeps flowing with a null tier instead of silently dropping. */
  def streamStaticJoin(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    val ev = eventStream(spark, sfDir)
    val dim = graft.sources.Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("user_id"),
        concat(lit("t"), (col("c_custkey") % 4).cast("string")).as("tier"))
    val agg = ev.select(col("user_id"), col("value"))
      .join(broadcast(dim), Seq("user_id"), "left")
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
    drain(agg, "complete", "graft_stream_static").orderBy(col("tier"))
  }

  /** Stream-stream LEFT OUTER join with watermarks on both sides —
    * the enrichment shape inner joins can't express: every click
    * emits, matched rows immediately, unmatched ones with nulls once
    * the watermark proves no purchase can still arrive. State is
    * bounded by the watermark delay + join window on both sides.
    *
    * Determinism contract for the oracle: with AvailableNow the final
    * no-data micro-batch evicts with watermark `min(max click time,
    * max purchase time) − 10 min` (Spark's multiple-watermark policy
    * is min), so exactly the unmatched clicks whose 1-hour join window
    * closed strictly before that instant surface as null rows — a
    * cutoff the batch oracle replays. */
  def streamLeftOuter(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    def src = eventStream(spark, sfDir)
      .withColumn("etime", timestamp_seconds(col("ts_s")))
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id"), col("etime").as("c_time"),
        col("ts_s").as("c_ts"))
      .withWatermark("c_time", "10 minutes")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("etime").as("p_time"),
        col("ts_s").as("p_ts"))
      .withWatermark("p_time", "10 minutes")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_time") >= col("c_time") &&
        col("p_time") <= col("c_time") + expr("INTERVAL 1 HOUR"),
      "left_outer")
    drain(joined, "append", "graft_stream_louter")
      .groupBy(col("user_id"))
      .agg(count(col("p_ts")).as("n_matched"),
        (count(lit(1)) - count(col("p_ts"))).as("n_expired_unmatched"))
      .orderBy(col("user_id"))
  }

  /** Streaming data-quality gate with QUARANTINE split — the
    * ingestion-time DQ pattern (the batch rule engine is
    * `q_dq_rules`): every micro-batch is evaluated against a declared
    * rule set and split to two durable sinks — violating rows append
    * to a quarantine table, clean rows to the serving table — so bad
    * data never reaches consumers but is never dropped either. Counts
    * are additive across batches, so the final audit (per-rule
    * violations from the quarantine + clean/quarantined totals) is
    * micro-batch-split-invariant and equals the batch rule evaluation
    * (the oracle). Rules with zero violations stay in the report —
    * an empty count is evidence, not absence. */
  def streamDqQuarantine(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    val work = graft.util.Scratch.dir("graft_sdq")
    val raw = eventStream(spark, sfDir)
    // rules are written against the normalized (event_id, event_type,
    // value, ts_s) row shape, so the same predicates evaluate the
    // in-flight batch AND the quarantine table read back at the end
    val rules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "value_in_band" -> (col("value").isNull || col("value") < 0 ||
        col("value") > 400),
      "no_error_events" -> (col("event_type") === "error"),
      "known_event_type" -> !col("event_type")
        .isin("view", "click", "purchase", "signup", "error"),
      "ts_in_era" -> (col("ts_s") < 1704067200L ||
        col("ts_s") >= 1706745600L))
    val bad = coalesce(rules.map(_._2).reduce(_ || _), lit(true))
    val fold: (DataFrame, Long) => Unit = (batch, _) => {
      val b = batch.select(col("event_id"), col("event_type"),
        col("value"), col("ts_s"))
      b.filter(bad).write.mode("append")
        .parquet(s"$work/quarantine")
      b.filter(!bad).write.mode("append")
        .parquet(s"$work/clean")
    }
    runBounded(raw.writeStream.foreachBatch(fold), "graft_stream_dq")(_ => ())
    val quar = spark.read.parquet(s"$work/quarantine")
    val clean = spark.read.parquet(s"$work/clean")
    val total = quar.count() + clean.count()
    val perRule = rules.map { case (id, pred) =>
      quar.agg(sum(when(pred, 1L).otherwise(0L)).as("n"))
        .select(lit(id).as("rule_id"),
          coalesce(col("n"), lit(0L)).as("n_violations"),
          lit(total).as("n_checked"))
    }.reduce(_ unionByName _)
    perRule
      .unionByName(quar.agg(count(lit(1)).as("n"))
        .select(lit("_quarantined").as("rule_id"),
          col("n").as("n_violations"), lit(total).as("n_checked")))
      .unionByName(clean.agg(count(lit(1)).as("n"))
        .select(lit("_clean").as("rule_id"),
          col("n").as("n_violations"), lit(total).as("n_checked")))
      .orderBy(col("rule_id"))
  }

  /** NATIVE streaming session windows — Spark's merging-window state
    * store (`session_window`), the state shape where windows GROW and
    * MERGE as events arrive instead of being fixed buckets: each
    * user's open sessions extend/coalesce in state, and a session only
    * emits (append mode) once the watermark passes its end
    * (last event + 30 min gap), proving no future event can extend it.
    * Complements stream_sessionize, which builds the same sessions in
    * hand-rolled mapGroupsWithState — this exercises the engine's own
    * merging-session state machinery. Determinism contract: with
    * AvailableNow exactly the sessions whose (last event + gap) <
    * `max(ts) − 10 min` surface; the batch oracle replays sessionization
    * at full µs precision plus that cutoff. */
  def streamSessionNative(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    val ev = eventStream(spark, sfDir)
      .withWatermark("ts", "10 minutes")
    val agg = ev
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_timestamp(col("ts"))).as("start_s"),
        max(unix_timestamp(col("ts"))).as("end_s"))
    drain(agg, "append", "graft_stream_sessnat")
      .select(col("user_id"), col("n_events"), col("start_s"),
        col("end_s"))
      .orderBy(col("user_id"), col("start_s"))
  }

  /** CHAINED stateful aggregations — two event-time window aggregates
    * stacked in one streaming query (append mode), the multi-stage
    * state shape single-agg queries can't express: 5-minute tumbling
    * per-type counts feed an hourly rollup keyed on `window_time` of
    * the inner window. Each stage holds its own watermark-bounded
    * state; the inner emits a 5-min bucket only once the watermark
    * closes it, and the outer emits an hour only once every inner
    * bucket of that hour has arrived AND the watermark passes the hour
    * end — so with AvailableNow exactly the hours whose end ≤
    * `max(ts) − 10 min` surface, a cutoff the batch oracle replays
    * (the same determinism contract as the outer joins). */
  def streamChainedWindows(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    val ev = eventStream(spark, sfDir)
      .withWatermark("ts", "10 minutes")
    val inner = ev
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n5"), round(sum(col("value")), 2).as("v5"))
    val outer = inner
      .groupBy(window(window_time(col("window")), "1 hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("n5")).as("n_events"),
        round(sum(col("v5")), 2).as("sum_value"))
    drain(outer, "append", "graft_stream_chained")
      .select(unix_timestamp(col("window.start")).as("hour_start_s"),
        col("event_type"), col("n_buckets"), col("n_events"),
        col("sum_value"))
      .orderBy(col("hour_start_s"), col("event_type"))
  }

  /** Stream-stream FULL OUTER join with watermarks on both sides —
    * completes the join family: matched click/purchase pairs emit
    * immediately, unmatched CLICKS surface with nulls once their
    * 1-hour join window closes under the watermark (left eviction),
    * and unmatched PURCHASES surface with nulls once the watermark
    * proves no older click can still arrive to claim them (right
    * eviction). Exercises two-sided state cleanup: each side's state
    * is bounded by its own eviction predicate, not by the slower side.
    *
    * Determinism contract for the oracle (extends stream_left_outer's):
    * with AvailableNow the final no-data batch evicts with global
    * watermark `min(max click time, max purchase time) − 10 min`; a
    * click's null row emits iff `c_ts + 3600 < wm` (its window closed
    * strictly before the watermark), a purchase's null row iff
    * `p_ts < wm` (any later-arriving click has c_time ≥ wm > p_ts and
    * the join needs c_time ≤ p_time). The batch oracle replays both
    * cutoffs. */
  def streamFullOuter(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    def src = eventStream(spark, sfDir)
      .withColumn("etime", timestamp_seconds(col("ts_s")))
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id"), col("etime").as("c_time"),
        col("ts_s").as("c_ts"))
      .withWatermark("c_time", "10 minutes")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("etime").as("p_time"),
        col("ts_s").as("p_ts"))
      .withWatermark("p_time", "10 minutes")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_time") >= col("c_time") &&
        col("p_time") <= col("c_time") + expr("INTERVAL 1 HOUR"),
      "full_outer")
    drain(joined, "append", "graft_stream_fouter")
      .groupBy(coalesce(col("user_id"), col("p_user")).as("uid"))
      .agg(
        sum(when(col("c_ts").isNotNull && col("p_ts").isNotNull, 1L)
          .otherwise(0L)).as("n_matched"),
        sum(when(col("p_ts").isNull, 1L).otherwise(0L))
          .as("n_click_only"),
        sum(when(col("c_ts").isNull, 1L).otherwise(0L))
          .as("n_purchase_only"))
      .orderBy(col("uid"))
  }

  /** Streaming → warehouse ingestion: foreachBatch folds each
    * micro-batch's per-user counts into an Engine table via keyed
    * upsert (read-merge-swap compaction) — the standard pattern for
    * maintaining a serving table from a stream when the sink needs
    * MERGE semantics the file sink lacks. Counts accumulate across
    * batches (new = old + batch), so the final table equals the batch
    * group-by regardless of how the source splits micro-batches. */
  def streamUpsert(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    val work = graft.util.Scratch.dir("graft_supsert")
    val eng = new graft.Engine(spark, s"$work/wh")
    val seed = graft.sources.Tables.events(spark, sfDir)
      .select(col("user_id").as("rowNum")).distinct()
      .withColumn("n_events", lit(0L))
    eng.save(seed, "user_counts")
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val raw = spark.readStream.schema(schema).parquet(s"$sfDir/events.*")
    val fold: (DataFrame, Long) => Unit = (batch, _) => {
      val cur = eng.table("user_counts")
        .select(col("rowNum"), col("n_events").as("_old"))
      val upd = batch.groupBy(col("user_id").as("rowNum"))
        .agg(count(lit(1)).as("_new"))
        .join(cur, Seq("rowNum"), "left")
        .select(col("rowNum"),
          (coalesce(col("_old"), lit(0L)) + col("_new")).as("n_events"))
      eng.upsert("user_counts", upd)
    }
    runBounded(raw.writeStream.foreachBatch(fold),
      "graft_stream_upsert")(_ => ())
    eng.table("user_counts")
      .select(col("rowNum").as("user_id"), col("n_events"))
      .orderBy(col("user_id"))
  }

  /** Incremental CHECKPOINTED ingestion — the exactly-once
    * resume-from-offsets pattern that turns a streaming query into an
    * incremental batch pipeline: run 1 ingests the whole corpus and
    * checkpoints the file-source offsets; a delta file is then added
    * and run 2, restarted on the SAME checkpoint, processes ONLY the
    * delta (asserted from query progress — re-reading history would be
    * the scale bug this query exists to catch). Each micro-batch folds
    * additively (per-user partial counts appended, summed at read), so
    * the final table is split-invariant and equals the batch aggregate
    * over corpus+delta. The delta is the corpus's purchase rows, so
    * the oracle replays it with pure SQL: n = count(*) + purchases. */
  def streamIncrementalIngest(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    val work = graft.util.Scratch.dir("graft_incr")
    val src = s"$work/in"
    val slim = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    slim.write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val out = s"$work/out"
    val ckpt = s"$work/ckpt"
    val fold: (DataFrame, Long) => Unit = (batch, _) =>
      batch.groupBy(col("user_id"))
        .agg(count(lit(1)).as("_n"), sum(col("value")).as("_v"))
        .write.mode("append").parquet(out)
    def runOnce(): Long =
      runBounded(spark.readStream.schema(schema).parquet(s"$src/*.parquet")
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", ckpt), "graft_stream_incr") {
        _.recentProgress.map(_.numInputRows).sum
      }
    val n1 = runOnce()
    val delta = slim.filter(col("event_type") === "purchase")
    val nDelta = delta.count()
    delta.write.mode("append").parquet(src)
    val n2 = runOnce()
    require(n1 > n2 && n2 == nDelta,
      s"incremental resume must process ONLY the delta " +
        s"(run1=$n1 rows, run2=$n2, delta=$nDelta)")
    spark.read.parquet(out)
      .groupBy(col("user_id"))
      .agg(sum(col("_n")).as("n_events"),
        round(sum(col("_v")), 2).as("sum_value"))
      .orderBy(col("user_id"))
  }

  case class SessEvent(user_id: Long, ts_s: Long)
  case class OpenSession(start_s: Long, end_s: Long, n: Long, idx: Long)
  case class ClosedSession(user_id: Long, sess_id: Long, n_events: Long,
      start_s: Long, end_s: Long)

  /** Incremental per-user sessionization for one group's batch: a
    * sorted list of disjoint session intervals (start, end, count),
    * each event merged in place (possibly bridging two intervals).
    * Memory is O(#sessions) — bounded by timespan/gap — NOT O(#events):
    * a hot user with millions of events in one micro-batch costs a few
    * hundred interval records instead of a buffered array of the whole
    * batch. Consumes the (unsorted) group iterator one event at a time. */
  private[graft] def mergeIntervals(
      it: Iterator[Long], initial: Option[(Long, Long, Long)],
      gap: Long): scala.collection.mutable.ArrayBuffer[(Long, Long, Long)] = {
    val iv = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    initial.foreach(iv += _)
    it.foreach { t =>
      // first interval with start > t
      var lo = 0
      var hi = iv.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (iv(mid)._1 <= t) lo = mid + 1 else hi = mid
      }
      val mergePrev = lo > 0 && t - iv(lo - 1)._2 <= gap
      val mergeNext = lo < iv.length && iv(lo)._1 - t <= gap
      (mergePrev, mergeNext) match {
        case (true, true) => // event bridges two sessions
          val p = iv(lo - 1); val nx = iv(lo)
          iv(lo - 1) = (p._1, nx._2, p._3 + nx._3 + 1)
          iv.remove(lo)
        case (true, false) =>
          val p = iv(lo - 1)
          iv(lo - 1) = (p._1, math.max(p._2, t), p._3 + 1)
        case (false, true) =>
          val nx = iv(lo)
          iv(lo) = (t, nx._2, nx._3 + 1)
        case (false, false) =>
          iv.insert(lo, (t, t, 1L))
      }
    }
    iv
  }

  /** Custom stateful streaming via flatMapGroupsWithState: per-user
    * sessionization with a 30-minute gap. Emits CLOSED sessions only —
    * the open tail stays in the state store (exactly what a continuous
    * pipeline would do), so on bounded input the result is "all
    * sessions except each user's last", which a batch oracle can state
    * precisely. */
  def streamSessionize(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    import spark.implicits._
    val evs = eventStream(spark, sfDir)
      .select(col("user_id"), col("ts_s")).as[SessEvent]

    val fn = (uid: Long, it: Iterator[SessEvent],
        state: GroupState[OpenSession]) => {
      val baseIdx = state.getOption.map(_.idx).getOrElse(1L)
      val iv = mergeIntervals(it.map(_.ts_s),
        state.getOption.map(o => (o.start_s, o.end_s, o.n)), gap = 1800L)
      val closed = iv.dropRight(1).zipWithIndex.map { case ((s, e, n), i) =>
        ClosedSession(uid, baseIdx + i, n, s, e)
      }
      iv.lastOption.foreach { case (s, e, n) =>
        state.update(OpenSession(s, e, n, baseIdx + closed.length))
      }
      closed.iterator
    }
    val sessions = evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)

    drain(sessions.toDF(), "append", "graft_stream_sess")
      .orderBy(col("user_id"), col("sess_id"))
  }

  case class LatestRow(user_id: Long, event_id: Long, event_type: String,
      ts_us: Long, value: Double)

  /** Streaming CDC compaction: `mapGroupsWithState` keeps exactly one
    * row per key — the max-(ts, event_id) event — in the state store;
    * each micro-batch emits the keys it updated (update mode). State is
    * one row per key, so the store is bounded by |keys|, not by the
    * stream. The memory sink logs every update, so presentation re-picks
    * each key's newest emission; a real serving sink (foreachBatch →
    * Engine.upsert) would overwrite in place. Equals the batch
    * keep-latest query under any micro-batch split because max is
    * associative over the (ts, event_id) order. */
  def streamLatestPerKey(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    import spark.implicits._
    val evs = eventStream(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts_us"), col("value")).as[LatestRow]
    val fn = (uid: Long, it: Iterator[LatestRow],
        state: GroupState[LatestRow]) => {
      val cur = (state.getOption.iterator ++ it)
        .maxBy(r => (r.ts_us, r.event_id))
      state.update(cur)
      cur
    }
    val latest = evs.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(fn)
    drain(latest.toDF(), "update", "graft_stream_latest")
      .groupBy(col("user_id"))
      .agg(max_by(
        struct(col("event_id"), col("event_type"), col("ts_us"), col("value")),
        struct(col("ts_us"), col("event_id"))).as("_r"))
      .select(col("user_id"), col("_r.event_id").as("event_id"),
        col("_r.event_type").as("event_type"),
        expr("_r.ts_us div 1000000").as("ts_s"),
        round(col("_r.value"), 2).as("value"))
      .orderBy(col("user_id"))
  }

  case class TopKState(epoch: Long, ids: Seq[Long], values: Seq[Double])
  case class TopKRow(event_type: String, epoch: Long, rnk: Int,
      event_id: Long, value: Double)

  /** Streaming top-k maintenance: the 5 highest-value events per type,
    * held as O(k) state and re-emitted each micro-batch — the
    * leaderboard/heavy-hitter serving pattern. The merge (state ∪
    * batch → top-k by (value desc, event_id)) is associative and
    * commutative, so the converged answer is split-invariant — any
    * micro-batching of the input yields the batch top-k, which is
    * exactly what the oracle checks. Emissions carry an epoch; the
    * presentation keeps each type's LAST emission (a real serving sink
    * would overwrite in place). */
  def streamTopK(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    import spark.implicits._
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val raw = spark.readStream.schema(schema).parquet(s"$sfDir/events.*")
    val evs = raw.filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("value"))
      .as[(String, Long, Double)]
    val k = 5
    val fn = (key: String, it: Iterator[(String, Long, Double)],
        state: GroupState[TopKState]) => {
      val prev = state.getOption.getOrElse(TopKState(0L, Nil, Nil))
      val merged = (prev.ids.zip(prev.values).map(p => (p._2, p._1)) ++
          it.map(e => (e._3, e._2)))
        .sortBy { case (v, id) => (-v, id) }
        .take(k)
      state.update(TopKState(prev.epoch + 1,
        merged.map(_._2), merged.map(_._1)))
      merged.iterator.zipWithIndex.map { case ((v, id), i) =>
        TopKRow(key, prev.epoch + 1, i + 1, id, v)
      }
    }
    val tops = evs.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(fn)
    val all = drain(tops.toDF(), "update", "graft_stream_topk")
    val lastEpoch = all.groupBy(col("event_type").as("et"))
      .agg(max(col("epoch")).as("last_epoch"))
    all.join(lastEpoch, col("event_type") === col("et") &&
        col("epoch") === col("last_epoch"))
      .select(col("event_type"), col("rnk"), col("event_id"),
        round(col("value"), 2).as("value"))
      .orderBy(col("event_type"), col("rnk"))
  }

  case class AnomEvent(event_type: String, event_id: Long, ts_s: Long,
      value: Double)
  case class RunStats(n: Long, sum: Double, sumsq: Double)
  case class FlaggedEvent(event_type: String, event_id: Long,
      value: Double, zscore: Double)

  /** Streaming anomaly detection: per event type, each arriving value
    * is scored against the running mean/σ of every PRIOR event of that
    * type (warm-up 30 events, flag at |z| > 3) — the alerting loop a
    * monitoring pipeline runs on a live feed. State is three numbers
    * per key (count/sum/sumsq — Chan-mergeable at heart, sequential
    * here because the score itself is order-defined); flagged events
    * emit in append mode, so the sink only ever sees alerts, never the
    * stream. The group's batch iterator is sorted by (ts, event_id)
    * before folding — THAT is the determinism contract: the score
    * replays exactly in any engine that can express running window
    * sums, which is how the DuckDB oracle verifies it. In production
    * the per-key sort is the source's job (time-ordered partitions);
    * state stays O(1) per key either way. */
  def streamAnomaly(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    import spark.implicits._
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // The per-key fold sorts WITHIN each micro-batch, so the exact-replay
    // contract needs the whole input in ONE batch. The file stream source
    // only accepts a directory/glob (a bare file path fails with
    // "basePath must be a directory"), so the contract is enforced
    // explicitly: the single-batch `require` below fails loudly instead
    // of silently depending on file-source batching defaults.
    val raw = withEventTs(
      spark.readStream.schema(schema).parquet(s"$sfDir/events.*"))
    val evs = raw.filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("ts_s"), col("value"))
      .as[AnomEvent]
    val fn = (key: String, it: Iterator[AnomEvent],
        state: GroupState[RunStats]) => {
      var st = state.getOption.getOrElse(RunStats(0L, 0.0, 0.0))
      val out = scala.collection.mutable.ArrayBuffer.empty[FlaggedEvent]
      it.toArray.sortBy(e => (e.ts_s, e.event_id)).foreach { e =>
        if (st.n >= 30) {
          val mean = st.sum / st.n
          val sd = math.sqrt(
            math.max(st.sumsq / st.n - mean * mean, 0.0))
          if (sd > 0 && math.abs(e.value - mean) > 3 * sd) {
            // half-away-from-zero to 4 dp — matches SQL round()
            val z = (e.value - mean) / sd
            out += FlaggedEvent(key, e.event_id, e.value,
              math.signum(z) * math.floor(math.abs(z) * 1e4 + 0.5) / 1e4)
          }
        }
        st = RunStats(st.n + 1, st.sum + e.value,
          st.sumsq + e.value * e.value)
      }
      state.update(st)
      out.iterator
    }
    val flagged = evs.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
    runBounded(flagged.toDF().writeStream.outputMode("append")
        .format("memory"), "graft_stream_anom") { q =>
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches <= 1,
        s"streamAnomaly exact-replay contract needs a single micro-batch " +
          s"(got $dataBatches with rows) — set maxFilesPerTrigger/compact " +
          s"the source, or switch the fold to watermark-buffered ordering")
      spark.table(q.name)
    }.orderBy(col("event_type"), col("event_id"))
  }

  case class PatEvent(user_id: Long, event_id: Long, event_type: String,
      ts_s: Long)
  case class PatState(lastView: Long, bestClick: Long, nMatches: Long,
      firstMatch: Long, minDur: Long, maxDur: Long, epoch: Long)
  case class PatRow(user_id: Long, epoch: Long, n_matches: Long,
      first_match_ts: Long, min_dur_s: Long, max_dur_s: Long)

  /** Streaming sequence-pattern matching — the MATCH_RECOGNIZE shape
    * `PATTERN (view any* click any* purchase)` with ≤24 h stage gaps
    * (the batch [[graft.ops.Behavior.qEventPattern]]) maintained as
    * O(1) per-user state: the running last-view timestamp, the running
    * best qualifying click in the same gap-encoded BIGINT the batch
    * operator uses (`click_ts·2¹⁷ + gap`, exact integer arithmetic),
    * and the match census. Every event advances the automaton one
    * step, so a billion-user stream holds six longs per user — state
    * never grows with the timeline, unlike buffering approaches. The
    * fold is incremental across micro-batches as long as each user's
    * events arrive in (ts, event_id) order batch-over-batch (sorted
    * within each batch; the one-file AvailableNow source satisfies
    * this); each batch re-emits the census (update mode) and the
    * presentation keeps the newest epoch per user. */
  def streamEventPattern(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    import spark.implicits._
    val bound = 86400L
    val enc = 131072L
    val evs = eventStream(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts_s")).as[PatEvent]
    val fn = (uid: Long, it: Iterator[PatEvent],
        state: GroupState[PatState]) => {
      val st = state.getOption
        .getOrElse(PatState(-1L, -1L, 0L, -1L, -1L, -1L, 0L))
      var lv = st.lastView; var bc = st.bestClick; var nm = st.nMatches
      var fm = st.firstMatch; var mnd = st.minDur; var mxd = st.maxDur
      it.toArray.sortBy(e => (e.ts_s, e.event_id)).foreach { e =>
        e.event_type match {
          case "view" =>
            if (e.ts_s > lv) lv = e.ts_s
          case "click" =>
            if (lv >= 0 && e.ts_s >= lv && e.ts_s <= lv + bound) {
              val ce = e.ts_s * enc + (e.ts_s - lv)
              if (ce > bc) bc = ce
            }
          case "purchase" =>
            if (bc >= 0) {
              val clickTs = bc / enc
              val viewTs = clickTs - bc % enc
              if (e.ts_s >= clickTs && e.ts_s <= clickTs + bound) {
                val dur = e.ts_s - viewTs
                nm += 1
                if (fm < 0 || e.ts_s < fm) fm = e.ts_s
                if (mnd < 0 || dur < mnd) mnd = dur
                if (mxd < 0 || dur > mxd) mxd = dur
              }
            }
          case _ => ()
        }
      }
      val next = PatState(lv, bc, nm, fm, mnd, mxd, st.epoch + 1)
      state.update(next)
      PatRow(uid, next.epoch, nm, fm, mnd, mxd)
    }
    val out = evs.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(fn)
    drain(out.toDF(), "update", "graft_stream_pat")
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("n_matches"), col("first_match_ts"),
        col("min_dur_s"), col("max_dur_s")), col("epoch")).as("_r"))
      .filter(col("_r.n_matches") > 0)
      .select(col("user_id"), col("_r.n_matches").as("n_matches"),
        col("_r.first_match_ts").as("first_match_ts"),
        col("_r.min_dur_s").as("min_dur_s"),
        col("_r.max_dur_s").as("max_dur_s"))
      .orderBy(col("user_id"))
  }

  /** STREAMING MinHash dedup — [[graft.ops.PipelineQueries.dedupIncremental]]
    * as a continuous query: the incoming batch arrives as a file
    * stream, each document is banded in-flight (the stateless
    * [[graft.dedup.MinHashLSH.bandKeys]] projection composes straight
    * into the streaming plan), and the band keys probe the STATIC
    * corpus band index via a stream-static left join — so only the
    * buckets the batch touches are read, per micro-batch, with no join
    * state at all (the static side re-resolves each batch). Exact
    * verdicts come from a second stateless stream-static probe of an
    * md5→min-id index — the batch dedupIncremental's hash-join,
    * mirrored exactly, which also covers docs with <3 tokens. Those
    * empty-shingle docs MUST stay out of the band index (they share
    * every band key — a mega-bucket — and Jaccard degenerates to
    * 0/0 = NaN, which nan-safe ≥ treats as a match); the filter
    * mirrors [[graft.dedup.MinHashLSH.signatures]], and
    * `explode_outer` keeps the stream row alive with a null band so
    * its verdict still emits. Near verdicts verify TRUE shingle
    * Jaccard ≥ 0.5 inline. Complete-mode per-doc aggregation holds
    * ≤|batch| rows of state. Converges to the batch dedup_incremental
    * answer — the oracle. */
  def streamDedupMinhash(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    import graft.functions.exprs
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val old = docs.filter(col("doc_id") % 5 =!= 0)
    // Both static indexes are CACHED and materialized before the
    // stream starts: a stream-static join re-resolves (and would
    // re-shingle + re-minhash the whole corpus for) the static side
    // EVERY micro-batch — the fixed per-batch cost the r9 verdict
    // ordered cut. In production these are stored artifacts the
    // ingestion pipeline maintains; the cache stands in for that.
    // static exact index: md5 → smallest corpus id holding that text
    val exactIdx = old
      .groupBy(md5(col("text")).as("new_md5"))
      .agg(min(col("doc_id")).as("exact_id"))
      .cache()
    // static corpus band index: (band, bh) -> (old_id, old_sh).
    // Empty-shingle docs are excluded (nothing to compare).
    val oldIdx = graft.util.Par.widen(old)
      .select(col("doc_id").as("old_id"),
        exprs.shingles(col("text"), 3).as("old_sh"))
      .filter(size(col("old_sh")) > 0)
      .withColumn("_b", explode(graft.dedup.MinHashLSH.bandKeys(
        exprs.minhashSigs(col("old_sh"), 64))))
      .select(col("_b.band").as("band"), col("_b.bh").as("bh"),
        col("old_id"), col("old_sh"))
      .cache()
    exactIdx.count(); oldIdx.count() // materialize pre-stream
    // the incoming batch, fed as a real file stream
    val batch = docs.filter(col("doc_id") % 5 === 0)
    // memoized staging copy (r17: the fresh per-call write used to
    // land inside every timed run — the sketchSrcDirs rationale)
    val dir = stagedTwoFileDir("sdm", sfDir, batch)
    val st = spark.readStream.schema(batch.schema).parquet(dir)
      .select(col("doc_id"), md5(col("text")).as("new_md5"),
        exprs.shingles(col("text"), 3).as("_shn"))
      .join(exactIdx, Seq("new_md5"), "left_outer")
      .withColumn("_b", explode_outer(
        when(size(col("_shn")) > 0, graft.dedup.MinHashLSH.bandKeys(
          exprs.minhashSigs(col("_shn"), 64)))))
      .select(col("doc_id"), col("exact_id"), col("_shn"),
        col("_b.band").as("band"), col("_b.bh").as("bh"))
    val agg = st.join(oldIdx, Seq("band", "bh"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(
        min(col("exact_id")).as("exact_id"),
        min(when(
          size(array_intersect(col("_shn"), col("old_sh"))).cast("double") /
            size(array_union(col("_shn"), col("old_sh"))) >= 0.5,
          col("old_id"))).as("near_id"))
    val sink = drain(agg, "complete", "graft_stream_minhash")
    // the memory sink holds the results; the index caches are done
    exactIdx.unpersist(blocking = false)
    oldIdx.unpersist(blocking = false)
    sink
      .select(col("doc_id"),
        when(col("exact_id").isNotNull, "exact")
          .when(col("near_id").isNotNull, "near")
          .otherwise("unique").as("verdict"),
        coalesce(col("exact_id"), col("near_id"), lit(-1L)).as("match_id"))
      .orderBy(col("doc_id"))
  }

  /** Per-process source copies for the forced-multi-batch sketch
    * streams (CMS / KLL / theta / quota): the staging write is fixture
    * plumbing, not the computation under test, yet a fresh copy per
    * call used to land INSIDE every timed bench run. One copy per
    * (query, corpus dir) per process — the cartSrcDirs pattern. TWO
    * files, not 4: one cross-batch merge already proves the sketch
    * state is chop-invariant, and each extra file costs a state-store
    * commit round per run. */
  private val sketchSrcDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  private def stagedTwoFileDir(tag: String, sfDir: String,
      df: DataFrame): String =
    sketchSrcDirs.computeIfAbsent(s"$tag|$sfDir", _ => {
      val dir = graft.util.Scratch.dir(s"graft_$tag").toString + "/in"
      df.repartition(2).write.mode("overwrite").parquet(dir)
      dir
    })

  /** STREAMING count-min heavy hitters —
    * [[graft.ops.PipelineQueries.countMinTopK]] as a continuous query.
    * The CMS is a LINEAR sketch (elementwise-add merge), so the
    * streaming aggregation state is one fixed 8 kB counter grid that
    * absorbs each micro-batch's partial sketch, and the final grid is
    * BIT-IDENTICAL to the batch sketch no matter how the stream was
    * chopped into batches — proven here by forcing multiple
    * micro-batches (maxFilesPerTrigger=1 over a multi-file input) and
    * verifying against the batch oracle. This is the monitoring-loop
    * primitive at crawl scale: per-batch shuffle traffic is one 8 kB
    * blob per partition, state is O(depth·width) forever. */
  def streamCountMinTopk(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    import graft.functions.{exprs, CountMinSketch}
    val (dep, w) = (4, 256)
    val li = graft.sources.Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey"))
    val dir = stagedTwoFileDir("scms", sfDir, li)
    val st = spark.readStream.schema(li.schema)
      .option("maxFilesPerTrigger", "1") // force >1 micro-batch
      .parquet(dir)
    val agg = st.agg(CountMinSketch.sketch(col("l_suppkey"), dep, w)
      .as("sk"))
    val sketch = drain(agg, "complete", "graft_stream_cms")
    val top = li.groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("s_suppkey")).limit(10)
    val est = least((0 until dep).map { r =>
      element_at(col("sk"),
        (lit(r * w) + pmod(exprs.md5Lower64(
          concat(lit(s"$r|"), col("s_suppkey").cast("string")))
          .bitwiseAND(lit(Long.MaxValue)), lit(w.toLong))).cast("int") + 1)
    }: _*)
    top.crossJoin(broadcast(sketch))
      .select(col("s_suppkey"), col("n_exact"), est.as("est"),
        (est >= col("n_exact")).as("never_under"))
      .orderBy(col("n_exact").desc, col("s_suppkey"))
  }

  /** STREAMING KLL quantiles —
    * [[graft.ops.PipelineQueries.kllQuantileMerge]]'s sketch
    * maintained as a continuous query: the distribution monitor
    * (latency/length quantiles over a feed) without ever storing the
    * feed. Complete-mode agg state is ONE ~kB KLL sketch; each
    * micro-batch's partial sketch merges in associatively. KLL
    * compaction is randomized, so unlike [[streamCountMinTopk]]'s
    * linear grid the streamed sketch is not bit-replayable — the
    * contract is the same rank-bound one as the batch merge: the TRUE
    * rank of each estimate (one exact pass against the broadcast
    * estimates) within ±2% of target vs the ~0.6% guarantee at k=800.
    * Exact quantiles ride along for the oracle's value check. */
  def streamKllQuantiles(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    import graft.functions.Kll
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("n_chars").cast("double").as("v"))
    val dir = stagedTwoFileDir("skll", sfDir, docs)
    val st = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1") // force >1 micro-batch
      .parquet(dir)
    val agg = st.agg(Kll.sketch(col("v"), 800).as("sk"))
    val est = drain(agg, "complete", "graft_stream_kll").select(
      Kll.quantile(col("sk"), 0.25).as("e25"),
      Kll.quantile(col("sk"), 0.50).as("e50"),
      Kll.quantile(col("sk"), 0.90).as("e90"),
      Kll.quantile(col("sk"), 0.99).as("e99"))
    def rankOf(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sum(when(col("v") <= e, 1L).otherwise(0L)).cast("double") /
        count(lit(1))
    docs.crossJoin(broadcast(est))
      .agg(count(lit(1)).as("n_rows"),
        round(expr("percentile(v, 0.25)"), 4).as("exact_p25"),
        round(expr("percentile(v, 0.5)"), 4).as("exact_p50"),
        round(expr("percentile(v, 0.9)"), 4).as("exact_p90"),
        round(expr("percentile(v, 0.99)"), 4).as("exact_p99"),
        (abs(rankOf(col("e25")) - 0.25) <= 0.02).as("r25_within_2pct"),
        (abs(rankOf(col("e50")) - 0.50) <= 0.02).as("r50_within_2pct"),
        (abs(rankOf(col("e90")) - 0.90) <= 0.02).as("r90_within_2pct"),
        (abs(rankOf(col("e99")) - 0.99) <= 0.02).as("r99_within_2pct"))
  }

  /** STREAMING theta distinct counts — per-event-type distinct users
    * over a feed with O(2^lgK) keyed state: the capability exact
    * streaming countDistinct fundamentally lacks (its state grows
    * with |users|). A theta sketch is a pure set function (the k
    * smallest hashes), so unlike KLL the streamed sketch converges to
    * the batch sketch EXACTLY regardless of micro-batch boundaries,
    * and below 2^lgK distinct keys the estimate IS the exact count —
    * which is what lets the oracle verify the emitted counts
    * value-for-value at gate scales. The within-1% flag is the
    * contract that survives past exact mode at 100 TB (~0.8% rse at
    * lgK=14). Forced multi-batch like the other streaming sketches. */
  def streamThetaDistinct(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    import graft.functions.Theta
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"))
    val dir = stagedTwoFileDir("sth", sfDir, ev)
    val st = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val agg = st.groupBy(col("event_type"))
      .agg(Theta.sketch(col("user_id"), 14).as("sk"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    val est = Theta.estimate(col("sk"))
    drain(agg, "complete", "graft_stream_theta").join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_exact"),
        round(est).cast("long").as("est_users"),
        (abs(est - col("n_exact")) <=
          col("n_exact").cast("double") * 0.01 + 0.5).as("within_1pct"))
      .orderBy(col("event_type"))
  }

  case class Scd2State(epoch: Long, nVersions: Long, openType: String,
      openFrom: Long, openIdx: Long, openSet: Boolean)
  case class Scd2Ver(user_id: Long, epoch: Long, idx: Long,
      event_type: String, valid_from_s: Long, valid_to_s: Long,
      is_current: Boolean)

  /** STREAMING SCD2 maintenance — [[graft.ops.Analytics.qScd2Build]]
    * as a continuous query: per-user type-2 dimension history built
    * incrementally with `flatMapGroupsWithState`. State is O(1) per
    * user (the one still-open version + counters); each micro-batch
    * folds its events in (µs event time, event_id) order, closes the
    * carried open version if superseded, emits the batch's closed
    * versions finally and the new open version provisionally (update
    * mode). Presentation keeps each version's LAST emission (keyed by
    * the per-user version index — re-closing an earlier batch's open
    * version overwrites it exactly once), so the converged table
    * equals the batch SCD2 build — the shared oracle. */
  def streamScd2Build(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    import spark.implicits._
    val ev = eventStream(spark, sfDir)
      .filter(col("user_id") < 10)
      .select(col("user_id").cast("long").as("u"), col("event_type"),
        col("ts_us"), col("ts_s"), col("event_id").cast("long").as("eid"))
      .as[(Long, String, Long, Long, Long)]
    val fn = (user: Long, it: Iterator[(Long, String, Long, Long, Long)],
        state: GroupState[Scd2State]) => {
      // deterministic in-batch order = the batch window's order
      val sorted = it.toSeq.sortBy(r => (r._3, r._5))
      val prev = state.getOption
      val epoch = prev.map(_.epoch).getOrElse(0L) + 1L
      var nVer = prev.map(_.nVersions).getOrElse(0L)
      var open: Option[(String, Long, Long)] =
        prev.filter(_.openSet).map(s => (s.openType, s.openFrom, s.openIdx))
      val out = scala.collection.mutable.ArrayBuffer[Scd2Ver]()
      sorted.foreach { case (_, et, _, tsS, _) =>
        open.foreach { case (oT, oF, oI) =>
          out += Scd2Ver(user, epoch, oI, oT, oF, tsS, is_current = false)
        }
        nVer += 1
        open = Some((et, tsS, nVer))
      }
      open match {
        case Some((oT, oF, oI)) =>
          out += Scd2Ver(user, epoch, oI, oT, oF, 9999999999L,
            is_current = true)
          state.update(Scd2State(epoch, nVer, oT, oF, oI, openSet = true))
        case None =>
          prev.foreach(p => state.update(p.copy(epoch = epoch)))
      }
      out.iterator
    }
    val vers = ev.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(fn)
    val sink = drain(vers.toDF(), "update", "graft_stream_scd2")
    // The fold sorts WITHIN each micro-batch only, so convergence to
    // the batch SCD2 table needs per-user event-time order ACROSS
    // batches — which the file source does not promise. The guard is
    // the contract itself, observed POST-filter: `epoch` counts the
    // micro-batches that actually folded rows for a user, so max
    // epoch 1 means no tracked user was split across batches (a
    // second batch holding only filtered-out users is harmless and
    // passes — the r9 ADVICE hazard with source-level numInputRows).
    val maxEpoch = sink
      .agg(coalesce(max(col("epoch")), lit(0L))).head.getLong(0)
    require(maxEpoch <= 1,
      s"streamScd2Build in-batch ordering contract needs each user's " +
        s"events in a single micro-batch (a user folded over $maxEpoch " +
        s"batches) — compact the source or buffer late rows by " +
        s"watermark before folding")
    sink
      .groupBy(col("user_id"), col("idx"))
      .agg(max_by(struct(col("event_type"), col("valid_from_s"),
        col("valid_to_s"), col("is_current")), col("epoch")).as("_v"))
      .select(col("user_id"), col("_v.event_type").as("event_type"),
        col("_v.valid_from_s").as("valid_from_s"),
        col("_v.valid_to_s").as("valid_to_s"),
        col("_v.is_current").as("is_current"))
      .orderBy(col("user_id"), col("valid_from_s"))
  }

  case class AsofEvent(user_id: Long, event_id: Long, event_type: String,
      ts_us: Long, ts_s: Long)
  case class AsofState(epoch: Long, clickUs: Long, clickEid: Long,
      clickTsS: Long, hasClick: Boolean)
  case class AsofOut(user_id: Long, epoch: Long, event_id: Long,
      ts_s: Long, click_ts_s: Long, lag_s: Long)

  /** STREAMING as-of join — [[graft.ops.Analytics.qAsofJoin]]'s shape
    * as a continuous enrichment: every purchase is annotated with the
    * user's most recent STRICTLY-PRIOR click (order = (µs event time,
    * event_id), the engine's canonical tiebreak) the moment it
    * arrives. State is O(1) per user — the one latest click — so a
    * billion-user stream holds three longs each, where a stream-stream
    * interval join would buffer both sides by watermark. Emitted rows
    * are final (append mode): an as-of looks only backward, so later
    * events can never retract an earlier enrichment — the property
    * that makes the operator streamable at all. Cross-batch
    * convergence needs each user's events folded in one micro-batch
    * (the [[streamScd2Build]] contract); the same post-filter
    * max-epoch guard enforces it loudly. Converges to the batch
    * window formulation — the oracle. */
  def streamAsofJoin(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    import spark.implicits._
    val ev = eventStream(spark, sfDir)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        col("event_type"), col("ts_us"), col("ts_s"))
      .as[AsofEvent]
    val fn = (uid: Long, it: Iterator[AsofEvent],
        state: GroupState[AsofState]) => {
      val sorted = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
      val prev = state.getOption
      val epoch = prev.map(_.epoch).getOrElse(0L) + 1L
      var click: Option[(Long, Long, Long)] =
        prev.filter(_.hasClick).map(p => (p.clickUs, p.clickEid, p.clickTsS))
      val out = scala.collection.mutable.ArrayBuffer[AsofOut]()
      // sentinel row (event_id = -1): makes THIS fold's epoch visible
      // in the output even when the batch carries no purchases — the
      // r10 ADVICE hole where a click-only second batch left
      // require(maxEpoch <= 1) reading only batch-1 purchase rows and
      // passing silently on exactly the cross-batch disorder it
      // guards. One bounded row per (user, batch); stripped below.
      out += AsofOut(uid, epoch, -1L, -1L, -1L, -1L)
      sorted.foreach { e =>
        if (e.event_type == "purchase")
          out += AsofOut(uid, epoch, e.event_id, e.ts_s,
            click.map(_._3).getOrElse(-1L),
            click.map(c => e.ts_s - c._3).getOrElse(-1L))
        if (e.event_type == "click")
          click = Some((e.ts_us, e.event_id, e.ts_s))
      }
      click match {
        case Some((us, eid, tsS)) =>
          state.update(AsofState(epoch, us, eid, tsS, hasClick = true))
        case None =>
          state.update(prev.getOrElse(
            AsofState(epoch, 0L, 0L, 0L, hasClick = false))
            .copy(epoch = epoch))
      }
      out.iterator
    }
    val out = ev.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
    val sink = drain(out.toDF(), "append", "graft_stream_asof")
    // epoch read over ALL rows including sentinels: every fold emits
    // one, so a tracked user split across batches is visible even if
    // the later batch held only clicks (the r10 ADVICE hazard)
    val maxEpoch = sink
      .agg(coalesce(max(col("epoch")), lit(0L))).head.getLong(0)
    require(maxEpoch <= 1,
      s"streamAsofJoin ordering contract needs each user's events in " +
        s"a single micro-batch (a user folded over $maxEpoch batches) " +
        s"— compact the source or buffer late rows by watermark")
    sink
      .filter(col("event_id") >= 0) // drop the per-fold epoch sentinels
      .select(col("user_id"), col("event_id"), col("ts_s"),
        col("click_ts_s"), col("lag_s"))
      .orderBy(col("user_id"), col("event_id"))
  }

  private val asofIntSrcDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** Watermarked stream-stream AS-OF (bounded-staleness INTERVAL) join
    * on Spark's NATIVE join machinery — the join shape
    * [[streamAsofJoin]] hand-rolls in fMGWS, re-expressed so the
    * engine's symmetric state management does the work:
    * [[graft.ops.Analytics.qAsofTolerance]]'s "latest purchase within
    * 1 hour" is an event-time LEFT OUTER equi-join with a RANGE
    * condition (p ∈ [e − 1h, e]) between two watermarked streams.
    * Spark derives both state watermarks from the range condition, so
    * each side buffers AT MOST its watermark-delay + 1 hour of rows —
    * state bounded by the watermark, no per-group driver contract (the
    * fMGWS version must REQUIRE each user single-batch; this one
    * tolerates any micro-batch chopping within the delay). The
    * last-match pick (max (second, event_id) over the window's
    * matches, replicating the oracle's arg_max-per-second-then-ASOF
    * composition) is a post-sink rollup over |events| rows. Times
    * compare at floor-second granularity (date-trunc BEFORE the
    * watermark) per the oracle convention. Sides are pre-filtered at
    * source-copy time and sentinels flow through (a filter above
    * withWatermark would be pushed below it and the sentinel would
    * never advance the watermark); two far-future sentinel files per
    * side advance-then-apply the watermark that flushes the unmatched
    * left rows, and the delay exceeds the corpus span so file chopping
    * can never drop a late row ([[streamAbandonedCarts]]' rationale).
    * Converges to the SAME batch oracle as q_asof_tolerance — shared
    * verbatim; Round13Spec pins stream ≡ batch in-JVM. */
  def streamAsofInterval(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    // 4 state partitions, not the shared 8: a stream-stream join runs
    // FOUR versioned state stores per partition per batch, and at this
    // fixture the per-batch commit round — not data volume — is the
    // cost; halving partitions measurably cuts the floor (A/B'd r16)
    // while |events|/4 per partition stays far inside memory
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
    val root = asofIntSrcDirs.computeIfAbsent(sfDir, _ => {
      val r = graft.util.Scratch.dir("graft_asof_int").toString
      val base = graft.sources.Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"),
          col("ts").cast(org.apache.spark.sql.types.TimestampType).as("ts"),
          col("event_type"), col("value"))
      // ONE data file per side + ONE sentinel file per side: the r15
      // verdict ordered an attack on this key's ~7-8 s floor, and the
      // floor is micro-batch COUNT × state-store commit rounds, not
      // data volume — each extra file is a full stream-stream-join
      // state round (4 versioned stores per partition per batch).
      // Layout (maxFilesPerTrigger=2): batch 1 admits data + sentinel
      // on both sides (watermark is still at its batch-1-start value
      // of 0 DURING the batch, so nothing is late-dropped; it
      // ADVANCES past corpus+45d at batch end), batch 2 is the
      // automatic no-data micro-batch (noDataMicroBatches, on by
      // default) that APPLIES the advanced watermark and flushes the
      // unmatched left rows — the cross-batch state machinery the key
      // exists to exercise. 5 batches → 2 took the same-window
      // measurement 10.8 → 4.8 s (with 4 state partitions below);
      // advance-then-apply semantics are unchanged — the no-data
      // batch is the applier.
      base.repartition(1).write.mode("overwrite").parquet(s"$r/ev")
      base.filter(col("event_type") === "purchase")
        .repartition(1).write.mode("overwrite").parquet(s"$r/pu")
      // sentinels appended AFTER the data files sort after them in
      // modification order
      for ((dir, uid) <- Seq(("ev", -1L), ("pu", -2L)))
        spark.range(1).select(
            lit(-1L).as("event_id"), lit(uid).as("user_id"),
            lit(java.sql.Timestamp.valueOf("2025-06-01 00:00:00")).as("ts"),
            lit("sentinel").as("event_type"), lit(0.0).as("value"))
          .write.mode("append").parquet(s"$r/$dir")
      r
    })
    val evSchema = spark.read.parquet(s"$root/ev").schema
    def side(dir: String): DataFrame = spark.readStream.schema(evSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$root/$dir/*.parquet")
      .withColumn("ts", expr("timestamp_seconds(unix_micros(ts) div 1000000)"))
    val ev = side("ev")
      .select(col("event_id"), col("user_id"), col("ts").as("e_time"))
      .withWatermark("e_time", "45 days")
    val pu = side("pu")
      .select(col("user_id").as("p_user"), col("event_id").as("p_eid"),
        col("value").as("pval"), col("ts").as("p_time"))
      .withWatermark("p_time", "45 days")
    val joined = ev.join(pu,
      col("user_id") === col("p_user") &&
        col("p_time") >= col("e_time") - expr("INTERVAL 1 HOUR") &&
        col("p_time") <= col("e_time"),
      "left_outer")
    drain(joined, "append", "graft_stream_asof_int")
      .filter(col("event_id") >= 0) // drop the sentinel left rows
      .groupBy(col("event_id"))
      .agg(max_by(col("pval"),
        when(col("p_eid").isNotNull,
          struct(col("p_time"), col("p_eid")))).as("pv"))
      .select(col("event_id"), round(col("pv"), 2).as("purchase_1h"))
      .orderBy(col("event_id"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  /** STREAMING ANN serving —
    * [[graft.ops.PipelineQueries.annIvfPqTopK]] as a continuous
    * query: micro-batches of query vectors probe the PERSISTED IVF-PQ
    * index (the vector-store serving shape). The static side is the
    * stored index — [[graft.sim.IvfPq.encode]]'s (c_id, cell, recon)
    * frame, cached and materialized pre-stream exactly like
    * [[streamDedupMinhash]]'s band index. Each query row is a pure
    * stateless projection (cell probes via the codegen'd NearestCells
    * kernel) into a stream-STATIC equi-join on cell id — only the
    * probed cells are read per micro-batch, and the join holds ZERO
    * state (the static side re-resolves from cache each batch; no
    * symmetric-hash buffering, asserted from progress in
    * Round11Spec). The in-stream ADC shortlist is the bounded-heap
    * [[graft.functions.TopKByScore]] aggregate — ≤50-struct state per
    * query, merged associatively across batches — and the exact
    * re-rank pays float precision for |q|·50 rows post-sink, same as
    * the batch pipeline. Converges to annIvfPqTopK's answer — the
    * shared value-level oracle (both fitted models fold in as
    * literals). Multi-batch is FORCED (maxFilesPerTrigger=1 over a
    * 2-file input) so per-batch serving is what the gate verifies. */
  def streamAnnProbe(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    import org.apache.spark.sql.expressions.Window
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val ivf = graft.ops.PipelineQueries.ivfModelFor(spark, sfDir)
    val pq = graft.ops.PipelineQueries.pqModelFor(spark, sfDir)
    // the stored index: cells + PQ reconstructions, cached pre-stream
    // (in production a persisted artifact; re-resolved per batch)
    val coded = graft.sim.IvfPq.encode(emb, ivf, pq).cache()
    coded.count() // materialize before the stream starts
    val queries = emb.filter(col("vec_id") < 10)
    // memoized staging copy (r17 — the sketchSrcDirs rationale)
    val dir = stagedTwoFileDir("sap", sfDir, queries)
    val st = spark.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", "1") // force >1 micro-batch
      .parquet(dir)
      .select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("_qe"))
      .withColumn("cell", explode(
        graft.functions.exprs.nearestCells(col("_qe"), ivf.centroids, 4)))
    val adc = st.join(coded, Seq("cell")) // stream-static: no join state
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("adc",
        round(graft.sim.Ann.cosine(col("_qe"), col("_re")), 4))
    // bounded-heap ADC shortlist per query: TopKByScore's tie order
    // (score desc, id asc) is exactly the batch shortlist window's
    val short = adc.groupBy(col("q_id"))
      .agg(graft.functions.TopKByScore.topK(col("adc"), col("c_id"), 50)
        .as("short"))
    // post-sink exact re-rank of the shortlist — the identical
    // |q|·shortlist join the batch pipeline runs
    val cand = drain(short, "complete", "graft_stream_annprobe")
      .select(col("q_id"), explode(col("short")).as("_s"))
      .select(col("q_id"), col("_s.id").as("c_id"))
    coded.unpersist(blocking = false)
    val qv = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("_qe"))
    val cv = emb.select(col("vec_id").as("c_id"),
      col("embedding").cast("array<double>").as("_ce"))
    val exact = cand.join(broadcast(qv), Seq("q_id")).join(cv, Seq("c_id"))
      .withColumn("score",
        round(graft.sim.Ann.cosine(col("_qe"), col("_ce")), 4))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("c_id"))
    exact.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("q_id", "rnk", "c_id", "score")
      .orderBy(col("q_id"), col("rnk"))
  }

  /** STREAMING data-selection scoring —
    * [[graft.ops.PipelineQueries.dataImportanceResample]] as a
    * continuous query: micro-batches of raw-pool documents scored
    * against the FITTED 256-bucket DSIR model (the quality-filter
    * shape of an ingest pipeline: the model is a persisted artifact,
    * each arriving doc gets its importance weight at ingest time).
    * The static side is the 256-row model frame, cached and
    * materialized pre-stream; per batch the token explode is a
    * stateless narrow projection into a stream-STATIC broadcast join
    * (zero join state), and the only streaming state is the per-doc
    * (count, sum) pair — two Longs per key, merged associatively, so
    * a doc split across micro-batches still folds exactly (integer
    * micro-nat weights — no float merge order). Multi-batch is FORCED
    * (maxFilesPerTrigger=1 over a 2-file input). Converges to the
    * batch scorer's answer — shares data_importance_resample's oracle
    * verbatim. */
  def streamImportanceScore(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    import graft.ops.PipelineQueries
    val model = PipelineQueries.dsirModel(spark, sfDir).cache()
    model.count() // materialize before the stream starts
    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("source") =!= "src0")
    // memoized staging copy (r17 — the sketchSrcDirs rationale)
    val dir = stagedTwoFileDir("dsir", sfDir, raw)
    val st = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", "1") // force >1 micro-batch
      .parquet(dir)
    val scored = PipelineQueries.dsirTok(st)
      .join(broadcast(model), Seq("bucket")) // stream-static: no state
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tok"), sum(col("w_micro")).as("_sm"))
    val sink = drain(scored, "complete", "graft_stream_dsir")
    model.unpersist(blocking = false)
    sink
      .select(col("doc_id"), col("source"), col("n_tok"),
        round(col("_sm").cast("double") / 1e6, 6).as("dsir_score"))
      .orderBy(col("dsir_score").desc, col("doc_id"))
      .limit(100)
  }

  // `ts` itself must survive the projection into the typed stream: the
  // watermark rides as attribute metadata on that column, and
  // EventTimeTimeout refuses to run if it is projected away
  case class CartEvent(user_id: Long, is_click: Boolean, ts_us: Long,
      ts: java.sql.Timestamp)
  case class CartState(clicks: Seq[Long], purchases: Seq[Long])
  case class AbandonedCart(user_id: Long, click_ts_s: Long)

  /** Writable source copies for streamAbandonedCarts, one per corpus
    * dir per process (the streamWatermarkAppend reuse pattern). */
  private val cartSrcDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** Abandoned-cart detection — the EVENT-TIME-TIMEOUT state shape
    * (Flink's timer pattern) no other key exercises: a click opens a
    * pending cart; a purchase by the same user within 30 minutes of
    * the click resolves it; a cart whose deadline passes the WATERMARK
    * with no purchase is emitted as abandoned — by a timeout
    * invocation firing on a group that received NO new data, the
    * mechanism that makes "absence of an event" observable in a
    * continuous query. Run shape: ONE query, files forced one per
    * micro-batch in modification order (FileStreamSource's order) —
    * two data files, then ONE far-future sentinel file. The watermark
    * delay exceeds the corpus span, so no cart is judged before all
    * its evidence has arrived (file chopping cannot misjudge); the
    * sentinel's batch raises the seen event time (advancing the
    * watermark at batch end), and the AUTOMATIC no-data micro-batch
    * (`spark.sql.streaming.noDataMicroBatches.enabled`, on by default
    * and pinned on in [[withStreamShuffle]]) then STARTS with the
    * advanced watermark, flushing every pending cart through
    * `hasTimedOut` invocations on groups receiving nothing — a second
    * "apply" sentinel would only buy an extra state-store commit
    * round (the r16 diet). At production delay the state is bounded by the
    * 30-minute horizon (clicks resolve at deadline, purchases prune
    * below watermark − horizon); here the corpus is bounded so
    * nothing needs pruning. Converges to the batch NOT-EXISTS
    * anti-join, which is the oracle. */
  def streamAbandonedCarts(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    import spark.implicits._
    val horizonUs = 1800L * 1000000L
    val src = cartSrcDirs.computeIfAbsent(sfDir, _ => {
      val dir = graft.util.Scratch.dir("graft_cart_src").toString + "/in"
      graft.sources.Tables.events(spark, sfDir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"),
          col("ts").cast(org.apache.spark.sql.types.TimestampType).as("ts"),
          col("event_type"))
        .repartition(2) // force >1 data micro-batch
        .write.mode("overwrite").parquet(dir)
      // ONE sentinel written AFTER the data files sorts after them in
      // the source's modification-time order: its batch ADVANCES the
      // watermark past every pending deadline, and the automatic
      // no-data micro-batch AvailableNow appends then APPLIES it,
      // firing the event-time timeouts that flush every pending cart
      // (the r16 stream_asof_interval finding — a second "apply"
      // sentinel file only buys an extra state-store commit round)
      spark.range(1).select(
          lit(-1L).as("user_id"),
          lit(java.sql.Timestamp.valueOf("2025-06-01 00:00:00")).as("ts"),
          lit("sentinel").as("event_type"))
        .write.mode("append").parquet(dir)
      dir
    })
    val schema = spark.read.parquet(src).schema

    val fn = (uid: Long, it: Iterator[CartEvent],
        state: GroupState[CartState]) => {
      val ev = it.toSeq
      val st = state.getOption.getOrElse(CartState(Nil, Nil))
      val clicks = st.clicks ++ ev.filter(_.is_click).map(_.ts_us)
      val purchases = st.purchases ++ ev.filterNot(_.is_click).map(_.ts_us)
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val (due, pending) = clicks.partition(c => c + horizonUs < wmUs)
      val abandoned = due.filterNot(c =>
        purchases.exists(p => p > c && p <= c + horizonUs))
      state.update(CartState(pending, purchases))
      if (pending.nonEmpty)
        // next judgment moment: the earliest pending deadline (its ms
        // is >= the current watermark by the partition above)
        state.setTimeoutTimestamp(pending.min / 1000L + 1800L * 1000L + 1L)
      abandoned.sorted.iterator
        .map(c => AbandonedCart(uid, c / 1000000L))
    }

    val evs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // one file per micro-batch
      .parquet(s"$src/*.parquet")
      .withWatermark("ts", "40 days") // > corpus span: no early judgment
      // NO event_type filter here: Catalyst would push it through the
      // watermark node into the scan, and the filtered-out sentinel
      // would never advance the watermark (numInputRows 0, timeouts
      // never fire). The source dir is pre-filtered to
      // click/purchase; the sentinel flows through as a non-click of
      // user −1, whose group has no clicks and emits nothing.
      .select(col("user_id"), (col("event_type") === "click").as("is_click"),
        expr("unix_micros(ts)").as("ts_us"), col("ts"))
      .as[CartEvent]
    val carts = evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
    drain(carts.toDF(), "append", "graft_stream_cart")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_abandoned"),
        min(col("click_ts_s")).as("first_abandoned_s"),
        max(col("click_ts_s")).as("last_abandoned_s"))
      .orderBy(col("user_id"))
  }

  /** STREAMING time-zone census — q_timezone_funcs' zone/local-day
    * rollup as a continuous query: the cross-zone local-day projection
    * is STATELESS (convert_timezone of the event instant), the
    * per-(zone, day) counts and cent sums fold associatively in
    * complete mode, so the converged table equals the batch census
    * under any micro-batch chopping; the constant DST-probe frame
    * appends post-stream. Shares q_timezone_funcs' oracle verbatim —
    * the stream≡batch certificate. */
  def streamTimezone(spark: SparkSession, sfDir: String): DataFrame =
    withStreamShuffle(spark) {
      val ev = eventStream(spark, sfDir)
        .select(timestamp_seconds(col("ts_s")).as("uts"),
          round(col("value") * 100).cast("long").as("vc"))
      val agg = graft.ops.Analytics.tzCensus(ev)
      drain(agg, "complete", "graft_stream_tz")
        .unionByName(graft.ops.Analytics.tzProbes(spark))
        .orderBy(col("zone"), col("local_key"))
    }

  /** Time-ordered source copies for the watermarked-dedup streams
    * (streamSrm / streamDauMau): the events corpus split into 2
    * CHRONOLOGICAL single-file chunks written sequentially, so
    * FileStreamSource's modification-time order replays them
    * oldest-first under `maxFilesPerTrigger=1` and the watermark
    * advances monotonically batch over batch — the shape that lets
    * `dropDuplicatesWithinWatermark` actually EVICT dedup state
    * mid-run instead of holding every key for the query's lifetime.
    * TWO chunks, not more: one watermark advance across a data-batch
    * boundary already exercises mid-run eviction (the spec pins), the
    * final no-data micro-batch applies the last advance, and every
    * extra chunk costs a full state-store commit round per consumer —
    * the r16 stream_asof_interval diet applied to the whole
    * chrono-consumer family (4 chunks cost ~0.4-0.9 s/key more).
    * Dedup exactness is chunk-count independent (duplicates fall
    * within the watermark horizon; a coarser advance only delays
    * eviction, never hastens it).
    * One copy per corpus dir per process (the cartSrcDirs pattern);
    * production ingest is already time-partitioned — this seam only
    * recreates that arrival order from the static fixture. */
  private val chronoSrcDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  private def chronoEventsDir(spark: SparkSession, sfDir: String): String =
    chronoSrcDirs.computeIfAbsent(sfDir, _ => {
      val dir = graft.util.Scratch.dir("graft_chrono_src").toString + "/in"
      val ev = graft.sources.Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("ts"))
      val b = ev.agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi")).collect()(0) // 1 row
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      // r14 ADVICE #1: streamSrm's user_id dedup shares the
      // whole-corpus DISTINCT oracle, which is exact only while every
      // user's activity span fits its 45-day enrollment horizon. Fail
      // LOUDLY here if a testdata regeneration ever ships a longer
      // span, instead of silently flaking the gate.
      require(hi - lo <= 45L * 86400 * 1000000,
        s"events span ${(hi - lo) / 86400e6} days exceeds the 45-day " +
          "streaming dedup horizon (streamSrm oracle would diverge) — " +
          "widen the watermark delays or re-scope the contracts")
      for (i <- 0 until 2) {
        val cLo = lo + (hi - lo + 1) * i / 2
        val cHi = lo + (hi - lo + 1) * (i + 1) / 2
        ev.filter(unix_micros(col("ts")) >= cLo &&
            unix_micros(col("ts")) < cHi)
          .coalesce(1).write.mode("append").parquet(dir)
      }
      dir
    })

  /** STREAMING sufficient-statistics monitor — q_corr_matrix's full
    * moment set maintained live: the projection to integer lattices is
    * stateless, every moment (sums, squares, cross-products, count) is
    * a partial-aggregable fold, so the converged single state row
    * EQUALS the batch census and the 6-pair matrix unfolds post-stream
    * from it — shares q_corr_matrix's oracle verbatim (the
    * stream≡batch certificate). The live-correlation shape: a feature
    * store keeps exactly these folds so correlations are readable at
    * any moment without a corpus pass. */
  def streamCorrMatrix(spark: SparkSession, sfDir: String): DataFrame =
    withStreamShuffle(spark) {
      val cols = Seq("qty", "price", "disc", "tax")
      val pairsL = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield (cols(i), cols(j))
      val path = s"$sfDir/lineitem.parquet"
      val schema = spark.read.parquet(path).schema
      val base = spark.readStream.schema(schema)
        .parquet(s"$sfDir/lineitem.*")
        .select(
          round(col("l_quantity")).cast("long").as("qty"),
          round(col("l_extendedprice") * 100).cast("long").as("price"),
          round(col("l_discount") * 100).cast("long").as("disc"),
          round(col("l_tax") * 100).cast("long").as("tax"))
      val aggs = cols.flatMap(c => Seq(
          sum(col(c)).as(s"s_$c"),
          sum(expr(s"CAST($c AS DECIMAL(38,0)) * $c")).as(s"ss_$c"))) ++
        pairsL.map { case (a, b) =>
          sum(expr(s"CAST($a AS DECIMAL(38,0)) * $b"))
            .as(s"sp_${a}_$b") } :+
        count(lit(1)).as("n")
      val m = base.agg(aggs.head, aggs.tail: _*)
      val mm = drain(m, "complete", "graft_stream_corr").localCheckpoint(true)
      pairsL.map { case (a, b) =>
        mm.select(lit(a).as("x_col"), lit(b).as("y_col"), col("n"),
          (floor(
            expr(s"CAST(sp_${a}_$b * n - CAST(s_$a AS DECIMAL(38,0))" +
              s" * s_$b AS DOUBLE)") /
            (sqrt(expr(s"CAST(ss_$a * n - CAST(s_$a AS DECIMAL(38,0))" +
              s" * s_$a AS DOUBLE)")) *
             sqrt(expr(s"CAST(ss_$b * n - CAST(s_$b AS DECIMAL(38,0))" +
              s" * s_$b AS DOUBLE)"))) * 1e6 + 0.5) / 1e6).as("corr"))
      }.reduce(_ unionByName _)
        .orderBy(col("x_col"), col("y_col"))
    }

  /** STREAMING Atkinson inequality monitor —
    * [[graft.ops.Mining.qAtkinsonIndex]] maintained live on the
    * orders ingest: the per-customer spend fold (complete-mode
    * groupBy — state bounded by the CUSTOMER domain, the
    * stream_latest_per_key shape, never by stream length) converges
    * to the batch census, and the ln/reciprocal lattices + both
    * indexes unfold post-stream from that exact state — shares
    * q_atkinson_index's oracle verbatim (the stream≡batch
    * certificate). The live "is spend concentration drifting"
    * fairness/abuse monitor. */
  def streamAtkinson(spark: SparkSession, sfDir: String): DataFrame =
    withStreamShuffle(spark) {
      val path = s"$sfDir/orders.parquet"
      val schema = spark.read.parquet(path).schema
      val agg = spark.readStream.schema(schema)
        .parquet(s"$sfDir/orders.*")
        .groupBy(col("o_custkey").as("cust"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("cents"))
      drain(agg, "complete", "graft_stream_atkinson")
        .filter(col("cents") > 0)
        .select(col("cents"),
          expr("CAST(floor(ln(CAST(cents AS DOUBLE)) * 1e9 + 0.5)" +
            " AS BIGINT)").as("l9"),
          expr("1000000000000 div cents").as("inv12"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
          sum(col("l9")).as("sl"), sum(col("inv12")).as("si"))
        .select(col("n"),
          (floor(expr("CAST(sc AS DOUBLE) / n") / 100 * 100 + 0.5)
            / 100).as("mean_spend"),
          (floor((lit(1.0) -
            exp(expr("CAST(sl AS DOUBLE) / n / 1e9")) /
            expr("CAST(sc AS DOUBLE) / n")) * 1e6 + 0.5) / 1e6)
            .as("atkinson_e1"),
          (floor((lit(1.0) -
            expr("CAST(n AS DOUBLE) / (CAST(si AS DOUBLE) / 1e12)") /
            expr("CAST(sc AS DOUBLE) / n")) * 1e6 + 0.5) / 1e6)
            .as("atkinson_e2"))
    }

  /** STREAMING new-vs-returning census — [[graft.ops.Behavior
    * .qNewVsReturning]] maintained live under BOUNDED state: the
    * stream compacts to FIRST-SEEN (user, day) rows via
    * `dropDuplicatesWithinWatermark` under a 2-day watermark over the
    * chronological source (the stream_dau_mau recipe — state evicted
    * once the watermark passes each key, exactness because every
    * duplicate of a day-scoped key lies inside the guarantee window),
    * and the per-day new/returning split folds the compacted append
    * log post-stream (first_day = min day per user — the lifetime
    * fold a production pipeline runs incrementally over the compacted
    * log, never the raw stream). Shares q_new_vs_returning's oracle
    * verbatim. */
  def streamNewVsReturning(spark: SparkSession, sfDir: String): DataFrame =
    withStreamShuffle(spark) {
      val src = chronoEventsDir(spark, sfDir)
      val schema = spark.read.parquet(src).schema
      val firstSeen = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*.parquet")
        .withWatermark("ts", "2 days")
        .select(col("user_id"), to_date(col("ts")).as("day"), col("ts"))
        .dropDuplicatesWithinWatermark("user_id", "day")
      // localCheckpoint: the memory-sink view cannot self-join (its
      // watermark-tagged attributes fail conflicting-reference dedup)
      val daily = drain(firstSeen, "append", "graft_stream_nvr")
        .select(col("user_id"), col("day")).localCheckpoint(true)
      val first = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("first_day"))
      daily.join(broadcast(first), "user_id")
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("day") === col("first_day"), 1).otherwise(0))
            .as("n_new"))
        .select(col("day"), col("n_active"), col("n_new"),
          (col("n_active") - col("n_new")).as("n_returning"),
          round(col("n_new") / col("n_active"), 4).as("pct_new"))
        .orderBy(col("day"))
    }

  /** STREAMING daily VWAP — [[graft.ops.Series.qVwap]] maintained
    * live on the lineitem ingest: per-day Σqty/Σcents/count are all
    * partial-aggregable integer folds, so the converged complete-mode
    * state EQUALS the batch census and VWAP unfolds post-stream as
    * the same single division — shares q_vwap's oracle verbatim (the
    * stream≡batch certificate). The execution-quality monitor a
    * trading pipeline keeps current without a corpus pass. */
  def streamVwap(spark: SparkSession, sfDir: String): DataFrame =
    withStreamShuffle(spark) {
      val path = s"$sfDir/lineitem.parquet"
      val schema = spark.read.parquet(path).schema
      val agg = spark.readStream.schema(schema)
        .parquet(s"$sfDir/lineitem.*")
        .select(col("l_shipdate").cast("date").as("day"),
          round(col("l_quantity")).cast("long").as("q"),
          round(col("l_extendedprice") * 100).cast("long").as("c"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_trades"), sum(col("q")).as("qty_sum"),
          sum(col("c")).as("rev_cents"))
      drain(agg, "complete", "graft_stream_vwap")
        .select(col("day"), col("n_trades"), col("qty_sum"),
          col("rev_cents"),
          (floor(col("rev_cents").cast("double") / col("qty_sum") / 100
            * 1e4 + 0.5) / 1e4).as("vwap"))
        .orderBy(col("day"))
    }

  /** Streaming twin of [[graft.ops.Behavior.qParkinsonVol]]: the
    * per-day high/low trade-price bars maintain as streaming state
    * (one bounded row per calendar day — max/min are associative and
    * commutative, any micro-batch chopping converges), and the
    * monthly Parkinson fold (pico-lattice ln², the batch contract)
    * runs post-sink on the converged |days|-row frame. Shares the
    * batch oracle verbatim — stream ≡ batch is the gate. */
  def streamParkinson(spark: SparkSession, sfDir: String): DataFrame =
    withStreamShuffle(spark) {
      val path = s"$sfDir/lineitem.parquet"
      val schema = spark.read.parquet(path).schema
      val agg = spark.readStream.schema(schema)
        .parquet(s"$sfDir/lineitem.*")
        .select(col("l_shipdate").cast("date").as("day"),
          round(col("l_extendedprice") * 100).cast("long").as("c"))
        .groupBy(col("day"))
        .agg(max(col("c")).as("h"), min(col("c")).as("l"))
      drain(agg, "complete", "graft_stream_park")
        .withColumn("p12", floor(
          pow(log(col("h").cast("double") / col("l").cast("double")), 2)
            * lit(1e12)).cast("long"))
        .groupBy(date_format(col("day"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_days"), sum(col("p12")).as("_s12"))
        .select(col("month"), col("n_days"),
          (floor(sqrt(expr("CAST(_s12 AS DOUBLE) / 1e12" +
            " / (4 * ln(2) * n_days)")) * 1e6 + 0.5) / 1e6)
            .as("parkinson_vol"))
        .orderBy(col("month"))
    }

  /** Streaming twin of [[graft.ops.Stats.qHellingerBc]]: the 20-bin
    * click/purchase value histograms maintain as streaming state
    * (bounded ≤20 rows, purely additive merges), and the
    * Bhattacharyya/Hellinger fold runs post-sink on the converged
    * bins — the distribution-distance drift monitor beside
    * stream_drift_psi. Shares the batch oracle verbatim. */
  def streamHellinger(spark: SparkSession, sfDir: String): DataFrame =
    withStreamShuffle(spark) {
      val path = s"$sfDir/events.parquet"
      val schema = spark.read.parquet(path).schema
      val agg = spark.readStream.schema(schema)
        .parquet(s"$sfDir/events.*")
        .filter(col("event_type").isin("click", "purchase") &&
          col("value").isNotNull)
        .select(col("event_type"),
          least(lit(19L), expr(
            "CAST(round(value * 10000) AS BIGINT) div 300000"))
            .as("bin"))
        .groupBy(col("bin"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("c"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("p"))
      drain(agg, "complete", "graft_stream_hell")
        .agg(count(lit(1)).as("n_bins"),
          sum(col("c")).as("nc"), sum(col("p")).as("np"),
          sum(floor(sqrt((col("c") * col("p")).cast("double")) * 1e6)
            .cast("long")).as("t6"))
        .select(col("n_bins"), col("nc"), col("np"),
          (floor(expr("CAST(t6 AS DOUBLE) / 1e6" +
            " / sqrt(CAST(nc AS DOUBLE) * np)") * 1e6 + 0.5) / 1e6)
            .as("bhattacharyya"),
          (floor(sqrt(lit(1.0) - expr("CAST(t6 AS DOUBLE) / 1e6" +
            " / sqrt(CAST(nc AS DOUBLE) * np)")) * 1e6 + 0.5) / 1e6)
            .as("hellinger"))
    }

  /** Streaming twin of [[graft.ops.MlEval.qCalibrationBins]]: the
    * 10-bin (n, pos, Σv) sufficient statistics maintain as bounded
    * additive streaming state; the score-max bound is resolved
    * PRE-stream from the static corpus (a model constant, exactly
    * like streamAnnProbe's folded index), and the reliability /
    * ECE folds run post-sink on the converged bins. Shares the batch
    * oracle verbatim — stream ≡ batch is the gate. */
  def streamCalibration(spark: SparkSession, sfDir: String): DataFrame =
    withStreamShuffle(spark) {
      val path = s"$sfDir/lineitem.parquet"
      val schema = spark.read.parquet(path).schema
      val vmax = spark.read.parquet(path)
        .select((round(col("l_quantity")).cast("long") * 101 +
          round(col("l_discount") * 100).cast("long")).as("v"))
        .agg(max(col("v"))).head.getLong(0)
      val agg = spark.readStream.schema(schema)
        .parquet(s"$sfDir/lineitem.*")
        .select((round(col("l_quantity")).cast("long") * 101 +
            round(col("l_discount") * 100).cast("long")).as("v"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
        .withColumn("bin", least(lit(9L),
          expr(s"(v * 10) div (${vmax} + 1)")))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"),
          sum(col("v")).as("sv"))
      val bins = drain(agg, "complete", "graft_stream_cal")
        .withColumn("conf6", expr(
          s"(CAST(sv AS DECIMAL(38,0)) * 1000000) div" +
            s" (CAST(n AS DECIMAL(38,0)) * ${vmax})"))
        .withColumn("acc6", expr("(pos * 1000000) div n"))
        .localCheckpoint(true)
      val ece = bins
        .agg(sum(col("n")).as("nn"),
          sum(abs(col("acc6") - col("conf6")) * col("n")).as("e6"))
        .select((floor(expr("CAST(e6 AS DOUBLE) / nn / 1e6") * 1e6
          + 0.5) / 1e6).as("ece"))
      bins.crossJoin(broadcast(ece))
        .select(col("bin"), col("n"), col("pos"),
          (floor(expr("CAST(conf6 AS DOUBLE) / 1e6") * 1e6 + 0.5)
            / 1e6).as("mean_pred"),
          (floor(expr("CAST(acc6 AS DOUBLE) / 1e6") * 1e6 + 0.5)
            / 1e6).as("frac_pos"),
          col("ece"))
        .orderBy(col("bin"))
    }

  /** Out-of-order source copies for [[streamLateDataAudit]]: three
    * data files plus one empty heartbeat, written in mtime order
    * [c1, heartbeat, c0, c2+c3-merged] — the oldest quarter (c0)
    * arrives LATE, after the watermark (advanced by c1's max event
    * time, consumed by the zero-row heartbeat batch so the late-record
    * filter actually holds the advanced value) has moved days past
    * every c0 row; the two trailing on-time quarters share one file
    * (r16 floor diet — a fourth batch is a state-commit round with no
    * ordering semantics). One copy per corpus dir per process. */
  private val lateSrcDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  private def lateEventsDir(spark: SparkSession, sfDir: String): String =
    lateSrcDirs.computeIfAbsent(sfDir, _ => {
      val dir = graft.util.Scratch.dir("graft_late_src").toString + "/in"
      val ev = graft.sources.Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("ts"))
      val b = ev.agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi"),
        min(col("value")).as("vmin")).collect()(0) // 1 row
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      // r14 ADVICE #2: streamLateDataAudit folds update-mode emissions
      // with max(n)/max(vc), correct only while both run MONOTONE per
      // day — which needs non-negative values. Fail loudly on a regen
      // that ships negatives rather than letting max(vc) pick a stale
      // emission.
      require(b.getDouble(2) >= 0,
        s"events.value min ${b.getDouble(2)} < 0: the late-data audit's" +
          " max-fold of update-mode emissions assumes non-negative " +
          "values — switch the fold to last-emission semantics first")
      def bound(i: Int) = lo + (hi - lo + 1) * i / 4
      def writeChunk(i: Int, j: Int): Unit =
        ev.filter(unix_micros(col("ts")) >= bound(i) &&
            unix_micros(col("ts")) < bound(j))
          .coalesce(1).write.mode("append").parquet(dir)
      writeChunk(1, 2)
      // EMPTY heartbeat file between c1 and the late c0: since the
      // multi-stateful-operator rework, LATE-RECORD FILTERING uses the
      // PREVIOUS micro-batch's watermark (eviction uses the current
      // one) — a late chunk arriving in the first batch after the
      // advance would evade the filter entirely. The zero-row batch
      // consumes the advance, so c0 meets the Jan-13-class watermark
      // it deserves.
      ev.filter(lit(false)).coalesce(1).write.mode("append").parquet(dir)
      writeChunk(0, 1)
      // the two trailing on-time quarters share ONE file: they carry
      // no ordering semantics between them (both arrive after the
      // drop decision), and a fourth micro-batch only costs another
      // state-store commit round (r16 floor diet)
      writeChunk(2, 4)
      dir
    })

  /** Late-data audit: what EXACTLY does a watermark throw away? The
    * oldest quarter of the corpus arrives one micro-batch after the
    * second quarter, by which time the 2-day watermark (advanced by
    * the second quarter's max event time, ~5.5 days past every late
    * row) discards ALL of it before the daily aggregation — so the
    * converged result is the batch census of the ON-TIME three
    * quarters, and the dropped set is PREDICTABLE: the oracle replays
    * the same integer quartile-boundary arithmetic over epoch-micros
    * and aggregates only rows at or above the boundary. Equality
    * proves the watermark's drop rule end to end (not just that
    * "something" was dropped); Round14Spec additionally pins
    * numRowsDroppedByWatermark = |late quarter| via
    * [[StreamMeter.lateDrops]]. Update mode + monotone per-day counts
    * (values are non-negative), so the final row per day is the
    * max-fold of the sink's emissions. */
  def streamLateDataAudit(spark: SparkSession, sfDir: String): DataFrame =
    withStreamShuffle(spark) {
      val src = lateEventsDir(spark, sfDir)
      val schema = spark.read.parquet(src).schema
      // the grouping MUST be the event-time window, not a derived date
      // column: the late-row filter applies to keys carrying event-time
      // metadata — a to_date(ts) key silently keeps every late row
      val agg = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*.parquet")
        .withWatermark("ts", "2 days")
        .groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("vc"))
      drain(agg, "update", "graft_stream_late")
        .select(col("window.start").cast("date").as("day"),
          col("n"), col("vc"))
        .groupBy(col("day"))
        .agg(max(col("n")).as("n_events"),
          max(col("vc")).as("v_cents"))
        .orderBy(col("day"))
    }

  /** STREAMING sample-ratio-mismatch monitor —
    * [[graft.ops.Mining.qAbSrm]] as a continuous query: the
    * experiment-health alarm running ON the ingest stream instead of
    * at readout time. First-seen users via
    * `dropDuplicatesWithinWatermark("user_id")` under a 45-day
    * watermark — the ENROLLMENT-HORIZON contract: state is bounded by
    * users active within the trailing ~2×45 days (each key's row is
    * evicted once the watermark passes its event time + delay), and
    * dedup is EXACT for any experiment whose enrollment window fits
    * inside 2×horizon, because the watermark trails max-event-time by
    * the same delay — a first-seen row cannot be evicted before every
    * in-window duplicate has arrived. (The r13 form held plain
    * `dropDuplicates` state for the query's LIFETIME — correct on a
    * bounded corpus, unbounded on an unbounded stream.) The source
    * replays in chronological file order so the watermark advances
    * monotonically; arm projection and the chi-square fold the
    * first-seen emissions post-stream (they were always the readout).
    * Shares q_ab_srm's oracle verbatim. */
  def streamSrm(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    val src = chronoEventsDir(spark, sfDir)
    val schema = spark.read.parquet(src).schema
    val firstSeen = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$src/*.parquet")
      .withWatermark("ts", "45 days")
      .select(col("user_id"), col("ts"))
      .dropDuplicatesWithinWatermark("user_id")
    drain(firstSeen, "append", "graft_stream_srm")
      .select(pmod(graft.functions.exprs.md5Lower64(
        col("user_id").cast("string"))
        .bitwiseAND(lit(Long.MaxValue)), lit(2L)).as("arm"))
      .groupBy(col("arm")).agg(count(lit(1)).as("n"))
      .agg(sum(when(col("arm") === 0, col("n"))).as("n_a"),
        sum(when(col("arm") === 1, col("n"))).as("n_b"))
      .select(col("n_a"), col("n_b"),
        ((col("n_a") + col("n_b")).cast("double") / 2).as("_e"))
      .select(col("n_a"), col("n_b"),
        (floor(((col("n_a") - col("_e")) * (col("n_a") - col("_e"))
          / col("_e") + (col("n_b") - col("_e")) * (col("n_b") - col("_e"))
          / col("_e")) * 1e6 + 0.5) / 1e6).as("chi2"),
        (((col("n_a") - col("_e")) * (col("n_a") - col("_e")) / col("_e")
          + (col("n_b") - col("_e")) * (col("n_b") - col("_e"))
          / col("_e")) > 6.63).as("srm_detected"))
  }

  /** STREAMING OHLC time bars — [[graft.ops.Behavior.qOhlcBars]] as a
    * continuous query: hourly candlesticks (open/high/low/close,
    * count, volume) maintained in streaming state. Open/close are the
    * same partial-aggregable `min_by`/`max_by` argmins over the total
    * (ts, event_id) order, so micro-batch chopping cannot move them:
    * the merge of two partial argmins picks the same global winner
    * regardless of which batch carried it. State is one fixed-width
    * row per (bar, type) — bounded by the stream's time span, not its
    * row count. Converges to the batch bars and shares their oracle
    * verbatim. */
  def streamOhlcBars(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    val ev = eventStream(spark, sfDir)
    val agg = ev
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(min_by(col("value"), struct(col("ts"), col("event_id"))), 2)
          .as("open"),
        round(max(col("value")), 2).as("high"),
        round(min(col("value")), 2).as("low"),
        round(max_by(col("value"), struct(col("ts"), col("event_id"))), 2)
          .as("close"),
        round(sum(col("value")), 2).as("sum_value"))
    drain(agg, "complete", "graft_stream_ohlc")
      .select(unix_timestamp(col("window.start")).as("bar"),
        col("event_type"), col("n_events"), col("open"), col("high"),
        col("low"), col("close"), col("sum_value"))
      .orderBy(col("bar"), col("event_type"))
  }

  /** STREAMING distribution-drift monitoring —
    * [[graft.ops.Profiling.qPsiDrift]] as a continuous query: the
    * reference length histogram is a persisted artifact (built and
    * cached pre-stream from the src0–src9 slice), and the CANDIDATE
    * corpus arrives as document micro-batches whose bucket counts fold
    * incrementally in streaming state (one Long per fixed bucket —
    * constant state regardless of corpus size; counts merge
    * associatively, so a bucket split across micro-batches is exact).
    * Multi-batch is FORCED (maxFilesPerTrigger=1 over a 2-file
    * input). The post-stream PSI arithmetic runs on the final 10-row
    * histogram join, so the streamed counts land in the identical
    * nano-nat terms — converges to the batch monitor's answer and
    * shares q_psi_drift's oracle verbatim. The deploy shape: a crawl
    * ingest job alarming on drift against the frozen training-corpus
    * profile without ever re-scanning it. */
  def streamDriftPsi(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    val b = 10
    val bucketOf = least(lit(b.toLong - 1), expr("n_chars div 64"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val ref = docs.filter(length(col("source")) === 4)
      .groupBy(bucketOf.as("bucket"))
      .agg(count(lit(1)).as("n_ref")).cache()
    ref.count() // materialize the reference profile before the stream
    val tgt = docs.filter(length(col("source")) =!= 4)
    // memoized staging copy (r17 — the sketchSrcDirs rationale)
    val dir = stagedTwoFileDir("psi", sfDir, tgt)
    val st = spark.readStream.schema(tgt.schema)
      .option("maxFilesPerTrigger", "1") // force >1 micro-batch
      .parquet(dir)
    val counts = st.groupBy(bucketOf.as("bucket"))
      .agg(count(lit(1)).as("n_tgt"))
    val hist = drain(counts, "complete", "graft_stream_psi")
      .join(ref, Seq("bucket"), "full_outer")
      .select(col("bucket"), coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_tgt"), lit(0L)).as("n_tgt"))
    ref.unpersist(blocking = false)
    val tot = hist.agg(sum(col("n_ref")).as("_tr"),
      sum(col("n_tgt")).as("_tt"))
    val terms = hist.crossJoin(broadcast(tot))
      .withColumn("_pr",
        (col("n_ref") + 1).cast("double") / (col("_tr") + b))
      .withColumn("_pt",
        (col("n_tgt") + 1).cast("double") / (col("_tt") + b))
      .select(col("bucket"), col("n_ref"), col("n_tgt"),
        round((col("_pt") - col("_pr")) * log(col("_pt") / col("_pr"))
          * 1e9).cast("long").as("psi_nano"))
    terms.unionByName(
        terms.agg(sum(col("n_ref")).as("n_ref"),
          sum(col("n_tgt")).as("n_tgt"),
          sum(col("psi_nano")).as("psi_nano"))
          .select(lit(-1L).as("bucket"), col("n_ref"), col("n_tgt"),
            col("psi_nano")))
      .orderBy(col("bucket"))
  }

  case class FunnelEvent(user_id: Long, event_id: Long, event_type: String,
      ts_us: Long, ts_s: Long)
  case class FunnelState(epoch: Long, tView: Long, tClick: Long,
      tPurchase: Long)
  case class FunnelRow(user_id: Long, epoch: Long, has_view: Boolean,
      has_click: Boolean, has_purchase: Boolean)

  /** STREAMING funnel — [[graft.ops.Analytics.qFunnel]]'s strictly-
    * ordered view→click→purchase attrition maintained live: per-user
    * state is THREE longs (the first view, the first later click, the
    * first still-later purchase — −1 while unreached), each micro-batch
    * folds its events in canonical (µs, event_id) order, and every fold
    * emits the user's current stage flags (Update mode), so the
    * dashboard census is one tiny aggregate over latest-epoch rows.
    * Stage transitions only ever move FORWARD on in-order input, which
    * is what makes the funnel streamable with O(1) state where the
    * batch form needs three joins. Cross-batch convergence needs each
    * user folded in one micro-batch (the [[streamScd2Build]] contract);
    * every fold emits a row, so the max-epoch guard sees every user
    * regardless of stage. Converges to the batch funnel — the shared
    * oracle. */
  def streamFunnel(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    import spark.implicits._
    val ev = eventStream(spark, sfDir)
      .filter(col("ts_s") < 1704240000L)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        col("event_type"), col("ts_us"), col("ts_s"))
      .as[FunnelEvent]
    val fn = (uid: Long, it: Iterator[FunnelEvent],
        state: GroupState[FunnelState]) => {
      val sorted = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
      val prev = state.getOption
      val epoch = prev.map(_.epoch).getOrElse(0L) + 1L
      var tView = prev.map(_.tView).getOrElse(-1L)
      var tClick = prev.map(_.tClick).getOrElse(-1L)
      var tPurchase = prev.map(_.tPurchase).getOrElse(-1L)
      sorted.foreach { e =>
        e.event_type match {
          // events fold in nondecreasing ts_s, so the FIRST qualifying
          // event is the batch form's min() at each stage
          case "view" if tView < 0 => tView = e.ts_s
          case "click" if tClick < 0 && tView >= 0 && e.ts_s > tView =>
            tClick = e.ts_s
          case "purchase"
              if tPurchase < 0 && tClick >= 0 && e.ts_s > tClick =>
            tPurchase = e.ts_s
          case _ => ()
        }
      }
      state.update(FunnelState(epoch, tView, tClick, tPurchase))
      Iterator.single(
        FunnelRow(uid, epoch, tView >= 0, tClick >= 0, tPurchase >= 0))
    }
    val rows = ev.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(fn)
    val sink = drain(rows.toDF(), "update", "graft_stream_funnel")
    val maxEpoch = sink
      .agg(coalesce(max(col("epoch")), lit(0L))).head.getLong(0)
    require(maxEpoch <= 1,
      s"streamFunnel in-batch ordering contract needs each user's " +
        s"events in a single micro-batch (a user folded over $maxEpoch " +
        s"batches)")
    sink
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("has_view"), col("has_click"),
        col("has_purchase")), col("epoch")).as("_s"))
      .agg(sum(when(col("_s.has_view"), 1L).otherwise(0L)).as("n_view"),
        sum(when(col("_s.has_click"), 1L).otherwise(0L)).as("n_click"),
        sum(when(col("_s.has_purchase"), 1L).otherwise(0L))
          .as("n_purchase"))
  }

  case class GapEvent(user_id: Long, event_id: Long, ts_us: Long,
      ts_s: Long)
  case class GapState(epoch: Long, lastUs: Long, lastEid: Long,
      lastS: Long, nGaps: Long, nAlerts: Long, maxGap: Long)
  case class GapRow(user_id: Long, epoch: Long, n_gaps: Long,
      n_alerts: Long, max_gap_s: Long)

  /** STREAMING inter-arrival gap detector — the heartbeat/liveness
    * monitor: per-user state is the LAST event (three longs) plus the
    * running gap census, each fold walks its events in canonical (µs,
    * event_id) order diffing floor-second timestamps, and a gap longer
    * than 24 h counts as an alert. This is the state shape batch lag()
    * windows cannot stream (a window would buffer the whole user
    * history; the fold holds O(1)). Every fold emits the user's
    * running census (Update mode); the report keeps latest-epoch rows
    * for users with ≥1 alert. Cross-batch convergence needs the
    * [[streamScd2Build]] single-fold contract, guarded loudly.
    * Converges to the batch lag-window census — the oracle. */
  def streamGapDetect(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    import spark.implicits._
    val ev = eventStream(spark, sfDir)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        col("ts_us"), col("ts_s"))
      .as[GapEvent]
    val fn = (uid: Long, it: Iterator[GapEvent],
        state: GroupState[GapState]) => {
      val sorted = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
      val prev = state.getOption
      val epoch = prev.map(_.epoch).getOrElse(0L) + 1L
      var last: Option[(Long, Long, Long)] =
        prev.filter(_.lastUs >= 0).map(p => (p.lastUs, p.lastEid, p.lastS))
      var nGaps = prev.map(_.nGaps).getOrElse(0L)
      var nAlerts = prev.map(_.nAlerts).getOrElse(0L)
      var maxGap = prev.map(_.maxGap).getOrElse(Long.MinValue)
      sorted.foreach { e =>
        last.foreach { case (_, _, ls) =>
          val gap = e.ts_s - ls
          nGaps += 1
          if (gap > 86400L) nAlerts += 1
          if (gap > maxGap) maxGap = gap
        }
        last = Some((e.ts_us, e.event_id, e.ts_s))
      }
      val (lu, le, lsS) = last.getOrElse((-1L, -1L, -1L))
      state.update(GapState(epoch, lu, le, lsS, nGaps, nAlerts, maxGap))
      Iterator.single(GapRow(uid, epoch, nGaps, nAlerts, maxGap))
    }
    val rows = ev.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(fn)
    val sink = drain(rows.toDF(), "update", "graft_stream_gap")
    val maxEpoch = sink
      .agg(coalesce(max(col("epoch")), lit(0L))).head.getLong(0)
    require(maxEpoch <= 1,
      s"streamGapDetect in-batch ordering contract needs each user's " +
        s"events in a single micro-batch (a user folded over $maxEpoch " +
        s"batches)")
    sink
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("n_gaps"), col("n_alerts"),
        col("max_gap_s")), col("epoch")).as("_s"))
      .select(col("user_id"), col("_s.n_gaps").as("n_gaps"),
        col("_s.n_alerts").as("n_alerts"),
        col("_s.max_gap_s").as("max_gap_s"))
      .filter(col("n_alerts") >= 1L)
      .orderBy(col("user_id"))
  }

  case class CdcEvent(user_id: Long, event_id: Long, event_type: String,
      ts_us: Long, cents: Long)
  case class CdcState(epoch: Long, live: Boolean, vCents: Long,
      nApplied: Long)
  case class CdcRow(user_id: Long, epoch: Long, live: Boolean,
      v_cents: Long, n_applied: Long)

  /** STREAMING CDC apply — the keyed changelog fold with TOMBSTONES
    * that [[graft.ops.Warehouse.qCdcApply]] runs as a batch MERGE:
    * `signup` INSERTs (resets the row to the event's value), `click`
    * UPDATEs (accumulates cents while the row is live), `error` is the
    * DELETE tombstone (kills the row until the next insert). State is
    * O(1) per key — live flag + two longs — so a billion-key changelog
    * streams where the batch MERGE would re-read the base table every
    * cadence. Exact cent lattice throughout (floor(v·100+0.5), an
    * exactly-rounded IEEE pair both engines share). Every fold emits
    * the row's current image (Update mode); the serving view keeps
    * latest-epoch LIVE rows. Cross-batch convergence needs the
    * [[streamScd2Build]] single-fold contract, guarded loudly.
    * Converges to the last-signup replay — the oracle. */
  def streamCdcApply(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    import spark.implicits._
    val ev = eventStream(spark, sfDir)
      .filter(col("event_type").isin("signup", "click", "error"))
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        col("event_type"), col("ts_us"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .as[CdcEvent]
    val fn = (uid: Long, it: Iterator[CdcEvent],
        state: GroupState[CdcState]) => {
      val sorted = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
      val prev = state.getOption
      val epoch = prev.map(_.epoch).getOrElse(0L) + 1L
      var live = prev.exists(_.live)
      var v = prev.map(_.vCents).getOrElse(0L)
      var nApplied = prev.map(_.nApplied).getOrElse(0L)
      sorted.foreach { e =>
        e.event_type match {
          case "signup" => live = true; v = e.cents; nApplied = 0L
          case "click" if live => v += e.cents; nApplied += 1L
          case "error" => live = false; v = 0L; nApplied = 0L
          case _ => ()
        }
      }
      state.update(CdcState(epoch, live, v, nApplied))
      Iterator.single(CdcRow(uid, epoch, live, v, nApplied))
    }
    val rows = ev.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(fn)
    val sink = drain(rows.toDF(), "update", "graft_stream_cdc")
    val maxEpoch = sink
      .agg(coalesce(max(col("epoch")), lit(0L))).head.getLong(0)
    require(maxEpoch <= 1,
      s"streamCdcApply in-batch ordering contract needs each user's " +
        s"events in a single micro-batch (a user folded over $maxEpoch " +
        s"batches)")
    sink
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("live"), col("v_cents"), col("n_applied")),
        col("epoch")).as("_s"))
      .filter(col("_s.live"))
      .select(col("user_id"), col("_s.v_cents").as("v_cents"),
        col("_s.n_applied").as("n_applied"))
      .orderBy(col("user_id"))
  }

  case class QuotaDoc(source: String, doc_id: Long, h: Long)
  case class QuotaState(epoch: Long, picks: Seq[(Long, Long)])
  case class QuotaRow(source: String, epoch: Long, n_selected: Long,
      id_checksum: Long)

  /** STREAMING temperature-mixture sampler —
    * [[graft.ops.PipelineQueries.dataTemperatureMix]]'s quota fill
    * maintained live: per-source state is the quota-bounded set of
    * smallest (md5, doc_id) keys seen so far (a streaming bottom-k — the
    * bounded-state form of the batch ranked fill), merged across
    * micro-batches. Bottom-k by a portable hash is ORDER-INSENSITIVE,
    * so the final state equals the batch selection no matter how
    * arrival interleaves — the stream≡batch certificate is the shared
    * oracle, with NO single-micro-batch contract needed (unlike the
    * funnel/SCD2 fold family). Quotas come from the static census
    * (integer √n weights), a |sources|-sized driver map. */
  def streamQuotaMix(spark: SparkSession, sfDir: String): DataFrame = withStreamShuffle(spark) {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"))
    val wts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("weight_micro", expr(
        "CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT)"))
    val quotas = wts
      .crossJoin(broadcast(wts.agg(sum(col("weight_micro")).as("tw"))))
      .withColumn("quota", expr("(200 * weight_micro) div tw"))
      .select(col("source"), col("n_docs"), col("weight_micro"),
        col("quota"))
      .cache()
    val qmap = quotas.collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap // |sources| rows
    val dir = stagedTwoFileDir("quota", sfDir, docs)
    val st = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1") // force cross-batch merging
      .parquet(dir)
      .select(col("source"), col("doc_id"),
        (graft.functions.exprs.md5Lower64(col("doc_id").cast("string"))
          .bitwiseAND(lit((1L << 50) - 1))).as("h"))
      .as[QuotaDoc]
    val fn = (src: String, it: Iterator[QuotaDoc],
        state: GroupState[QuotaState]) => {
      val quota = qmap.getOrElse(src, 0L).toInt
      val prev = state.getOption
      val epoch = prev.map(_.epoch).getOrElse(0L) + 1L
      val merged = (prev.map(_.picks).getOrElse(Seq.empty) ++
        it.map(d => (d.h, d.doc_id))).sorted.take(quota)
      state.update(QuotaState(epoch, merged))
      Iterator.single(QuotaRow(src, epoch, merged.size.toLong,
        merged.map(_._2).sum))
    }
    val rows = st.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(fn)
    val out = drain(rows.toDF(), "update", "graft_stream_quota")
      .groupBy(col("source"))
      .agg(max_by(struct(col("n_selected"), col("id_checksum")),
        col("epoch")).as("_s"))
      .join(broadcast(quotas), "source")
      .filter(col("_s.n_selected") > 0)
      .select(col("source"), col("n_docs"), col("weight_micro"),
        col("quota"), col("_s.n_selected").as("n_selected"),
        col("_s.id_checksum").as("id_checksum"))
      .orderBy(col("source"))
    quotas.unpersist(blocking = false)
    out
  }

  /** STREAMING DAU/MAU stickiness: the q_dau_mau engagement ratio
    * maintained live on the ingest stream. ONE watermarked first-seen
    * stream over the chronological source — distinct (user, day) under
    * a 2-day watermark via `dropDuplicatesWithinWatermark`, so a key's
    * state row is EVICTED once the watermark passes its event time +
    * delay: state is bounded by users active in the trailing ~2×2-day
    * horizon, never by the stream's lifetime (the r13 unbounded-
    * `dropDuplicates` shape this replaces). Dedup stays EXACT because
    * every duplicate of a (user, day) key lies within 1 day of the
    * first sighting (< 2×2d) and the chronological replay advances the
    * watermark monotonically. The compacted first-seen log is
    * sufficient for BOTH readouts: DAU is the per-(month, day) count,
    * and MAU is the per-month distinct user census over the same rows
    * (month is a function of day, so no coverage is lost) — the
    * second, 20-day-watermark monthly stream the r14-r16 shape ran
    * paid a full extra micro-batch + state-commit round count to
    * derive that same projection (r17 diet). Counts fold post-stream
    * (existence census, order-insensitive) into the batch numbers —
    * shares q_dau_mau's oracle verbatim. Mid-run eviction is pinned by
    * Round14Spec via [[StreamMeter.stateEvictions]]. */
  def streamDauMau(spark: SparkSession, sfDir: String): DataFrame =
    withStreamShuffle(spark) {
      val src = chronoEventsDir(spark, sfDir)
      val schema = spark.read.parquet(src).schema
      // ONE first-seen stream, not two (r17 diet, r16 verdict order
      // #4): the compacted (user, day) first-seen log already carries
      // everything MAU needs — distinct users per month over it equals
      // the distinct-user census, because month is a function of day.
      // The second 20-day-watermark stream over the same source only
      // re-paid the full micro-batch + state-commit round count to
      // derive a coarser projection of the same information. Dedup
      // exactness is unchanged (every (user, day) duplicate lies
      // within 1 day of the first sighting, < the 2×2d guarantee);
      // mid-run eviction stays pinned by Round14Spec.
      val st = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*.parquet")
        .withWatermark("ts", "2 days")
        .select(col("user_id"),
          date_format(col("ts"), "yyyy-MM").as("month"),
          to_date(col("ts")).as("day"), col("ts"))
        .dropDuplicatesWithinWatermark("user_id", "day")
      val dFirst = drain(st, "append", "graft_stream_daumau_d")
        .localCheckpoint(true)
      val dm = dFirst
        .groupBy(col("month"), col("day")).agg(count(lit(1)).as("dau"))
        .groupBy(col("month"))
        .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("dau_sum"))
      val mau = dFirst.groupBy(col("month"))
        .agg(countDistinct(col("user_id")).as("mau"))
      dm.join(mau, "month")
        .select(col("month"), col("n_days"),
          (floor(expr("CAST(dau_sum AS DOUBLE) / n_days") * 1e4 + 0.5)
            / 1e4).as("avg_dau"),
          col("mau"),
          (floor(expr("CAST(dau_sum AS DOUBLE) / n_days / mau") * 1e6
            + 0.5) / 1e6).as("stickiness"))
        .orderBy(col("month"))
    }
}
