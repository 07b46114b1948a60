package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the `events` table (SURVEY §2.9:
  * pure extension — the reference is batch-only and even removed its
  * commit-log readers). Batch/stream parity: every transform here
  * accepts any DataFrame with the events schema, so the same code runs
  * `spark.read` (tests/oracle) and `spark.readStream` (production).
  *
  * Scale notes: windowed aggs carry watermarks so state is bounded and
  * evictable; sessionization keys state by user_id with an idle
  * timeout — no unbounded per-group buffers. */
object EventStreams {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_cents: Long)

  private final case class SessionState(start: Long, last: Long, n: Long, cents: Long)

  /** State-store partition sizing rule (VERDICT r13 #6 — the Part-68
    * insight as a first-class helper instead of a hardcoded constant):
    * a stateful streaming query commits EVERY state partition of
    * EVERY stateful operator on EVERY micro-batch — with the default
    * HDFS-backed store that is one delta file + CRC per partition per
    * batch, a fixed synchronous-write cost that dwarfs the data work
    * when state is small (r13 measured 60–70% of the streaming-gate
    * wall clock at 32 partitions for state that fit in 4). Partition
    * count is a PHYSICAL knob with no semantic face (results are
    * partition-count independent), so size it to the state, not to
    * the session's shuffle default:
    *
    *   partitions = clamp(ceil(expectedStateKeys / targetKeysPerPartition),
    *                      1, maxParallelism)
    *
    * `expectedStateKeys` is the operator's state cardinality within
    * the watermark horizon (distinct users for sessionization, live
    * join-window rows for a stream-stream join, distinct dedup keys
    * in the horizon — the caller knows its keys). The default
    * `targetKeysPerPartition` (64k) keeps per-partition state in the
    * tens-of-MB class for typical session/join rows; `maxParallelism`
    * caps at the executor-core budget a 100 TB deployment would set.
    *
    * IMPORTANT: the count is FROZEN into the checkpoint at first
    * start (`spark.sql.shuffle.partitions` at query birth) — size it
    * for the horizon's peak, not the first batch, and re-checkpoint
    * to change it. */
  def stateStorePartitions(expectedStateKeys: Long,
      targetKeysPerPartition: Long = 65536L,
      maxParallelism: Int = 200): Int = {
    require(expectedStateKeys >= 0, s"negative state keys: $expectedStateKeys")
    require(targetKeysPerPartition > 0 && maxParallelism > 0)
    val want = (expectedStateKeys + targetKeysPerPartition - 1) /
      targetKeysPerPartition
    math.max(1L, math.min(want, maxParallelism.toLong)).toInt
  }

  /** Run `body` (start + drive a stateful streaming query) with
    * `spark.sql.shuffle.partitions` — the knob Structured Streaming
    * freezes into the checkpoint as the state-partition count — set
    * per [[stateStorePartitions]]; the session's original setting is
    * restored afterwards. Batch queries on the same session are
    * unaffected outside `body`. */
  def withStateStorePartitions[T](spark: SparkSession, expectedStateKeys: Long,
      targetKeysPerPartition: Long = 65536L, maxParallelism: Int = 200)(
      body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, stateStorePartitions(expectedStateKeys,
      targetKeysPerPartition, maxParallelism).toString)
    try body finally spark.conf.set(key, old)
  }

  /** events.parquet as a bounded stream (on-disk `ts` encodings
    * handled the same way as [[graft.Tables.events]]: legacy ns-longs
    * truncate to µs, native µs TIMESTAMP_NTZ casts to the session-TZ
    * TimestampType). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // the file streaming source requires a directory: stream the parent
    // dir with a glob filter for the events table
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Tumbling-window counts/sums per event type with a watermark —
    * the canonical streaming agg (append-mode compatible). */
  def windowedTypeCounts(events: DataFrame, window_ : String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("cents"))

  /** Stream-static enrichment + daily revenue: join the event stream
    * to a small user→segment dimension (BROADCAST — the static side
    * of a stream-static join never shuffles the stream) and aggregate
    * exact cents per (1-day tumbling event-time window, segment).
    * The same plan runs on a batch frame (the st03 oracle face —
    * `window('1 day')` aligns with the oracle's UTC
    * `date_trunc('day')`) and on a readStream frame, where
    * `watermark` (non-null) makes the aggregate append-mode
    * compatible.
    *
    * 100 TB shape: map-side broadcast probe + ONE
    * partially-aggregated (window, segment)-keyed shuffle; streaming
    * state is O(open windows · segments). */
  def segmentRevenue(events: DataFrame, dim: DataFrame,
      watermark: Option[String] = None): DataFrame = {
    val e = watermark.fold(events)(events.withWatermark("ts", _))
    e.selectExpr("ts", "user_id", "cast(round(value * 100) as bigint) AS cents")
      .join(broadcast(dim), Seq("user_id"))
      .groupBy(window(col("ts"), "1 day"), col("segment"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"))
      .selectExpr("unix_millis(window.start) AS win_start_ms", "segment",
        "n_events", "cents")
  }

  /** Batch face of [[slidingActiveUsers]] with EXACT distincts: each
    * event lands in exactly two 10-minute windows sliding by 5 (epoch
    * aligned, Spark's `window()` semantics), counted with a real
    * `count(distinct)` the DuckDB oracle can pin cell-exactly — the
    * streaming face keeps the mergeable HLL sketch, this face is the
    * backfill/audit run of the same grid. One (window)-keyed
    * partial-agg shuffle; the window explode is a bounded 2×. */
  def slidingActiveUsersExact(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .selectExpr("unix_millis(window.start) AS win_start_ms",
        "n_users", "n_events")

  /** Sliding-window distinct-user approximation per type. */
  def slidingActiveUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("approx_users"), col("n"))

  /** Gap-based sessionization via flatMapGroupsWithState: a session
    * closes after `gapMinutes` of user inactivity (event-time driven
    * within the batch; processing-time timeout finalizes stragglers in
    * continuous mode). */
  def sessionize(events: Dataset[Event], gapMinutes: Long = 30): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60 * 1000

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], Session](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[List[SessionState]]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.getOrElse(Nil).map(s => finish(userId, s))
            state.remove()
            out.iterator
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var open = state.getOption.getOrElse(Nil).headOption
            val closed = List.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              val cents = math.round(e.value * 100)
              open match {
                case Some(s) if t - s.last <= gapMs =>
                  open = Some(SessionState(s.start, t, s.n + 1, s.cents + cents))
                case Some(s) =>
                  closed += finish(userId, s)
                  open = Some(SessionState(t, t, 1, cents))
                case None =>
                  open = Some(SessionState(t, t, 1, cents))
              }
            }
            state.update(open.toList)
            state.setTimeoutDuration(s"$gapMinutes minutes")
            closed.result().iterator
          }
      }
  }

  /** Flush any open sessions (bounded-input convenience used by tests
    * and batch mode — mirrors what the timeout path emits).
    *
    * Scale shape: `repartition(user_id)` + `sortWithinPartitions` puts
    * each user's events in time order via Spark's EXTERNAL (spillable)
    * shuffle sort, and the merge is a streaming iterator that holds one
    * open session — O(1) memory per group, so a hot user with millions
    * of events cannot blow an executor (the same sorted-run pattern as
    * [[graft.sstable.Compaction.merge]]; previously this did
    * `it.toSeq.sortBy` per group, materializing whole user histories). */
  def sessionizeBounded(events: Dataset[Event], gapMinutes: Long = 30): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60 * 1000
    events
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))
      .as[Event]
      .mapPartitions { it =>
        val b = it.buffered
        new Iterator[Session] {
          override def hasNext: Boolean = b.hasNext
          override def next(): Session = {
            val first = b.next()
            val uid = first.user_id
            val start = first.ts.getTime
            var last = start
            var n = 1L
            var cents = math.round(first.value * 100)
            var open = true
            while (open && b.hasNext && b.head.user_id == uid) {
              val t = b.head.ts.getTime
              if (t - last <= gapMs) {
                cents += math.round(b.head.value * 100)
                last = t
                n += 1
                b.next()
              } else open = false
            }
            finish(uid, SessionState(start, last, n, cents))
          }
        }
      }
  }

  /** Native Structured Streaming sessionization via `session_window`
    * (the Spark-first production path: merging session state is
    * handled by the engine, bounded by the watermark — no custom state
    * at all). Emits the same rows as [[sessionizeBounded]]: Spark's
    * session window end is last-event-time + gap, so subtracting the
    * gap restores the last-event semantics. Works identically over
    * batch and streaming frames. */
  def sessionizeWindows(events: DataFrame, gapMinutes: Long = 30,
      watermark: Option[String] = None): DataFrame = {
    val withWm = watermark.fold(events)(w => events.withWatermark("ts", w))
    withWm
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as long)")).as("total_cents"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        (col("session_window.end") - expr(s"INTERVAL $gapMinutes MINUTES")).as("session_end"),
        col("n_events"), col("total_cents"))
  }

  private def finish(userId: Long, s: SessionState): Session =
    Session(userId, new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.last), s.n, s.cents)

  /** Streaming exact dedup on event_id within the watermark horizon —
    * the streaming face of the dedup operator family. */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes").dropDuplicates("event_id")

  /** Watermarked stream-stream interval self-join — the streaming face
    * of q38's range join: every purchase landing within
    * `windowSeconds` after an error event, paired.
    *
    * Structured Streaming refuses a stream-stream join with no
    * equality predicate (state matching would be a full scan), so the
    * same bucket-expansion trick as [[graft.operators.Joins.rangeJoin]]
    * supplies one: each error replicates to the `windowSeconds`-wide
    * time buckets its window covers (<= 2), each purchase keys to its
    * single bucket, and the join becomes `bucket == bucket AND the
    * exact interval test`. State stays bounded twice over — the bucket
    * key hash-partitions the state store, and the event-time interval
    * in the join condition lets the engine evict buffered rows once
    * the opposing watermark passes them (state is O(watermark x rate),
    * not O(stream)). Works identically over batch frames —
    * batch/stream parity and agreement with the q38 plan are
    * spec-pinned. */
  def purchasesNearErrors(events: DataFrame, windowSeconds: Long = 60,
      watermark: String = "10 minutes"): DataFrame = {
    val (purchases, errors, cond) = intervalJoinSides(events, windowSeconds, watermark)
    errors.join(purchases, cond).drop("bucket_e", "bucket_p")
  }

  /** Shared preparation of the bucketed purchases/errors interval-join
    * matrix (ADVICE r11): watermark wrapper (streaming only — batch
    * frames pass through, preserving batch/stream parity), type
    * filters, the single-bucket purchase projection, the ≤2-bucket
    * exploded error projection, and the bucket-equality + interval
    * join condition. The five join-mode faces differ ONLY in the join
    * type string (and which side leads for output column order). */
  private def intervalJoinSides(events: DataFrame, windowSeconds: Long,
      watermark: String): (DataFrame, DataFrame, org.apache.spark.sql.Column) = {
    val w = windowSeconds * 1000000L // bucket width in micros
    val isStreaming = events.isStreaming
    def wm(df: DataFrame) =
      if (isStreaming) df.withWatermark("ts", watermark) else df
    val purchases = wm(events).filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"))
      .withColumn("bucket_p", expr(s"unix_micros(p_ts) div $w"))
    val errors = wm(events).filter(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("ts").as("e_ts"))
      .withColumn("bucket_e", explode(expr(
        s"sequence(unix_micros(e_ts) div $w, (unix_micros(e_ts) + ${w - 1}) div $w)")))
    val cond = col("bucket_p") === col("bucket_e") &&
      col("p_ts") >= col("e_ts") &&
      col("p_ts") < col("e_ts") + expr(s"INTERVAL $windowSeconds SECONDS")
    (purchases, errors, cond)
  }

  /** Stream-stream LEFT OUTER interval join — the state-EVICTION
    * semantic [[purchasesNearErrors]]'s inner join never exercises:
    * every purchase emits, paired with each error it trails within
    * `windowSeconds`, or ONCE with NULLs when the watermark proves no
    * matching error can still arrive. The left (purchase) side keys
    * to its single time bucket, so an unmatched purchase emits
    * exactly one NULL row (putting the exploded side on the left
    * would emit one NULL per bucket copy — the asymmetry is load-
    * bearing and spec-pinned).
    *
    * NULL rows are emitted by the engine only when the GLOBAL
    * watermark (min across both inputs) passes the purchase's match
    * horizon — a caller that stops the stream early keeps tail
    * purchases buffered, not dropped. Drive far-future sentinels OF
    * BOTH TYPES through the source to flush them (the st11 query
    * does): the watermark nodes are declared upstream of the type
    * filters, but Catalyst pushes the filters below them, so only an
    * event that survives a side's filter advances that side's
    * watermark — a third-type sentinel advances neither.
    * State stays O(watermark × rate) per side, hash-partitioned by
    * bucket. Works identically over batch frames (plain left join). */
  def purchasesWithErrorAttribution(events: DataFrame, windowSeconds: Long = 60,
      watermark: String = "10 minutes"): DataFrame = {
    val (purchases, errors, cond) = intervalJoinSides(events, windowSeconds, watermark)
    purchases.join(errors, cond, "left_outer").drop("bucket_p", "bucket_e")
  }

  /** RIGHT OUTER face of the bucketed interval join: matched
    * (purchase ← error) pairs within the window plus NULL rows for
    * errors no purchase followed — completing the engine join-mode
    * matrix (inner, left outer, full outer, left semi, right outer:
    * every mode Structured Streaming supports). The errors side is
    * the EXPLODED side here, so raw right-outer output is
    * over-complete exactly like the full outer's error half — each
    * unmatched error COPY emits a NULL row; pipe the sink through
    * [[reconcileFullOuter]] (the purchase-NULL branch is simply
    * empty for this mode). */
  def errorPurchaseRightOuter(events: DataFrame, windowSeconds: Long = 60,
      watermark: String = "10 minutes"): DataFrame = {
    val (purchases, errors, cond) = intervalJoinSides(events, windowSeconds, watermark)
    purchases.join(errors, cond, "right_outer").drop("bucket_p", "bucket_e")
  }

  /** LEFT SEMI face of the bucketed interval join: purchases that
    * had ANY error in the preceding `windowSeconds` — existence
    * only, each matched purchase exactly once, unmatched purchases
    * never emitted. Semi is the one join mode where the errors
    * side's ≤2-bucket explosion needs NO reconciliation at all:
    * existence over copies is existence, so the raw engine output
    * is already exact. Matches emit as soon as the partner arrives
    * (no watermark wait — nothing is emitted on timeout), while the
    * watermark still bounds both sides' join state. */
  def purchasesAfterErrors(events: DataFrame, windowSeconds: Long = 60,
      watermark: String = "10 minutes"): DataFrame = {
    val (purchases, errors, cond) = intervalJoinSides(events, windowSeconds, watermark)
    purchases.join(errors, cond, "left_semi").drop("bucket_p")
  }

  /** FULL OUTER face of [[purchasesWithErrorAttribution]]: matched
    * (purchase, error) pairs within the window, plus NULL rows for
    * purchases no error preceded AND for errors no purchase
    * followed. The errors side still explodes into ≤2 window
    * buckets (the join key that keeps state probes bucket-local at
    * scale), which makes RAW full-outer output over-complete: each
    * exploded error COPY that goes unmatched emits its own NULL row
    * — including copies of errors whose OTHER copy matched. Pipe the
    * sink through [[reconcileFullOuter]] to collapse that
    * multiplicity; the pair (bucketed engine join + reconciliation)
    * is the production pattern, and its end-to-end result equals
    * the plain batch full join. */
  def errorPurchaseFullOuter(events: DataFrame, windowSeconds: Long = 60,
      watermark: String = "10 minutes"): DataFrame = {
    val (purchases, errors, cond) = intervalJoinSides(events, windowSeconds, watermark)
    purchases.join(errors, cond, "full_outer").drop("bucket_p", "bucket_e")
  }

  /** Collapse the bucket-copy multiplicity of
    * [[errorPurchaseFullOuter]]'s raw output (columns p_id, e_id,
    * gap_us): matched pairs and purchase-side NULLs pass through
    * (the purchases side is single-bucket, so they are already
    * exact); error-side NULLs keep one row per error id that
    * matched in NO copy. Batch-side, O(matched + nulls). */
  def reconcileFullOuter(rawIn: DataFrame): DataFrame = {
    // project away incidental sink columns (e.g. a discovered batch=N
    // partition) so the NULL-side union lines up by name
    val raw = rawIn.select(col("p_id"), col("e_id"), col("gap_us"))
    val matched = raw.filter(col("p_id").isNotNull && col("e_id").isNotNull)
    val pNull = raw.filter(col("p_id").isNotNull && col("e_id").isNull)
    val eNull = raw.filter(col("p_id").isNull).select(col("e_id")).distinct()
      .join(matched.select(col("e_id")).distinct(), Seq("e_id"), "left_anti")
      .selectExpr("cast(null as long) AS p_id", "e_id",
        "cast(null as long) AS gap_us")
    matched.unionByName(pNull).unionByName(eNull)
  }
}
