package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Structured Streaming over the `events` table replayed as a file
  * stream (SURVEY §2.9).
  *
  * Mallard's "streaming" is RecordBatch *transport* (chunked
  * reader/writer loops, reference `flight_server.py:64-73`,
  * `demo.py:139-146`) with no event-time semantics; this module is the
  * Spark-native upgrade: file source → event-time watermark → windowed
  * aggregation → sink. The same aggregation exists as the batch query
  * `stream_window_hourly`, and the spec asserts stream/batch parity —
  * the Structured Streaming unification promise, demonstrated.
  *
  * At scale: the file source incrementally lists new files per
  * micro-batch; the windowed agg is a stateful hash aggregate keyed on
  * (window, event_type) with partial aggregation before the shuffle;
  * the watermark bounds state. Nothing here is driver-resident.
  *
  * Every run* drains through [[Streams]] on a [[Streams.session]]; the
  * verification harnesses land their (small, aggregated) results in
  * [[Streams.toMemory]], and `runFileSink` is the production egress
  * path ([[Streams.toParquet]]).
  */
object EventStream {

  /** The streaming source: events replayed from parquet, ts normalized
    * to a session-tz timestamp exactly as the batch loader does. The
    * file stream needs an explicit schema: it is the raw events schema
    * [[graft.Tables.rawEvents]] resolves once per process, so the
    * physical `ts` type (see [[graft.Tables.normalizeTs]]) comes from
    * the same footer read the batch loader uses.
    */
  def source(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.normalizeTs(
      spark.readStream
        .schema(graft.Tables.rawEvents(spark, sfDir).schema)
        .parquet(Streams.replayDir(spark, sfDir, "events", "stream_events")))

  /** Streaming gap-based sessions: the same session_window aggregation
    * the batch key `sessionize` uses, executed as a watermarked stream
    * (session_window is one of the few stateful operators whose batch
    * and streaming semantics are defined to coincide — StreamingSpec
    * asserts it).
    */
  def runSessions(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = Streams.session(parent)
    val sessions = source(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("first_seen"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("last_seen"))
    Streams.toMemory(sessions, "complete")
      .select(col("user_id"), col("n_events"), col("first_seen"), col("last_seen"))
      .orderBy(col("user_id"), col("first_seen"))
  }

  /** Streaming deduplication: `dropDuplicates` with a watermark keeps
    * per-key state and emits each key's FIRST arrival — the shape an
    * ingest pipeline uses to dedup continuously instead of re-scanning
    * the corpus. Which physical row wins is arrival-order-dependent,
    * so the surfaced result is the (deterministic) deduplicated key
    * set.
    *
    * State-sizing caveat (measured, SCALE.md round 5): with the
    * event-time column absent from the dedup key, `dropDuplicates`
    * state NEVER evicts regardless of watermark — full-corpus state at
    * every delay. A production pipeline whose key set grows unboundedly
    * should use `dropDuplicatesWithinWatermark(keys…)` instead, whose
    * state the watermark delay actually bounds (state ≈ arrival_rate ×
    * delay); here the key space is the bounded user set, so the
    * exact-`dropDuplicates` semantics are the point.
    */
  def runDedup(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = Streams.session(parent)
    val firsts = source(spark, sfDir)
      .withWatermark("ts", "30 days")
      .select(col("user_id"), col("ts"))
      .dropDuplicates("user_id")
    Streams.toMemory(firsts, "append")
      .select(col("user_id")).distinct().orderBy(col("user_id"))
  }

  /** Stream–stream inner join with watermarks: signup events joined to
    * the same user's purchase events within 7 days — the canonical
    * conversion-attribution shape. Both sides are watermarked and the
    * join condition carries the event-time range, so each side's
    * buffered state is bounded (rows older than watermark + range are
    * evicted); matches emit in append mode as they are found. At scale
    * the join shuffles both streams on user_id once per micro-batch —
    * the same partitioning a batch join would use, but with bounded
    * state instead of a full-history rescan.
    */
  def runPairJoin(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = Streams.session(parent)
    val signups = source(spark, sfDir)
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"),
        col("event_id").as("signup_event"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "30 days")
    val purchases = source(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_event"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 days")
    val pairs = signups.join(purchases,
        col("s_user") === col("p_user") &&
          col("p_ts") >= col("s_ts") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 7 DAYS"))
      .select(col("signup_event"), col("purchase_event"))
    Streams.toMemory(pairs, "append")
      .orderBy(col("signup_event"), col("purchase_event"))
  }

  /** Watermarked LEFT OUTER interval join — the DROP-OFF side of the
    * conversion funnel: signups that did NOT purchase within 7 days.
    * The missing-match rows are the interesting output, and they are
    * exactly what a stream-stream left outer join emits ONCE the
    * watermark passes the end of a signup's match interval (before
    * that, a match could still arrive, so the row is unemittable —
    * this is the semantic difference from the inner join, which can
    * emit eagerly). The watermark delay is deliberately small (1
    * hour): the emission frontier is `s_ts + 7 days < max(ts) − 1 h`,
    * and signups younger than that remain PENDING by definition — the
    * batch oracle carries the same closure predicate, so the
    * hash-match pins the stream's emission frontier, not just the
    * join. State per side ≈ rate × (interval + delay), evicted as the
    * watermark advances; unmatched rows emit exactly once
    * (StreamingSpec drives a two-batch scenario proving the
    * non-converter appears only after its interval expires).
    */
  def runFunnelDropoff(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = Streams.session(parent)
    Streams.toMemory(dropoffJoin(source(spark, sfDir)), "append")
      .orderBy(col("signup_event"))
  }

  /** The drop-off join itself over any (event_id, user_id, event_type,
    * ts) event stream — factored so StreamingSpec can drive the
    * operator's REAL join/watermark code over a hand-staged two-batch
    * stream and observe the emission frontier, not a re-implementation.
    */
  private[graft] def dropoffJoin(events: DataFrame): DataFrame = {
    val signups = events
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"),
        col("event_id").as("signup_event"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_event"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    signups.join(purchases,
        col("s_user") === col("p_user") &&
          col("p_ts") >= col("s_ts") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 7 DAYS"),
        "leftOuter")
      .filter(col("purchase_event").isNull)
      .select(col("signup_event"), col("s_user").as("user_id"))
  }

  /** Chained stream-stream interval joins — the 3-step LIVE funnel
    * (signup → view within 7 days → purchase within 7 more). Two
    * stateful joins back to back in ONE streaming query (Spark 4's
    * multiple-stateful-operator support): each leg carries its own
    * watermark, each join buffers only the interval the time bound
    * keeps live, so state ≈ rate × 7 days per leg regardless of
    * history length — the unbounded-retention regime a batch funnel
    * recomputation can't serve. Emitted triples are append-mode
    * (each exactly once when its interval can no longer match); the
    * oracle is the same 3-way interval join in batch SQL, so the
    * hash-match IS the stream/batch parity claim.
    */
  def runFunnel(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = Streams.session(parent)
    def leg(tpe: String, pfx: String): DataFrame = source(spark, sfDir)
      .filter(col("event_type") === tpe)
      .select(col("user_id").as(s"${pfx}_user"),
        col("event_id").as(s"${pfx}_event"), col("ts").as(s"${pfx}_ts"))
      .withWatermark(s"${pfx}_ts", "30 days")
    val sv = leg("signup", "s").join(leg("view", "v"),
      col("s_user") === col("v_user") &&
        col("v_ts") > col("s_ts") &&
        col("v_ts") <= col("s_ts") + expr("INTERVAL 7 DAYS"))
    val svp = sv.join(leg("purchase", "p"),
        col("v_user") === col("p_user") &&
          col("p_ts") > col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr("INTERVAL 7 DAYS"))
      .select(col("s_event"), col("v_event"), col("p_event"))
    Streams.toMemory(svp, "append")
      .orderBy(col("s_event"), col("v_event"), col("p_event"))
  }

  /** Checkpointed file sink — the production egress path (the memory
    * sink the other keys use is a test harness; real pipelines land
    * parquet). The checkpoint makes delivery exactly-once ACROSS
    * RESTARTS: a second run against the same `outDir` replays nothing
    * (the spec asserts it), which is the property that lets a
    * 100 TB/day ingest job crash and resume without dedup passes. The
    * caller reads `outDir` back with a batch scan.
    */
  def runFileSink(parent: SparkSession, sfDir: String, outDir: String): Unit = {
    val spark = Streams.session(parent)
    Streams.toParquet(source(spark, sfDir)
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("value")), outDir)
  }

  /** Event types → billing category: the static dimension for the
    * stream-static join (kept tiny and literal so the oracle can
    * replicate it as a VALUES list).
    */
  val typeCategories: Seq[(String, String)] = Seq(
    "click" -> "engagement", "view" -> "engagement",
    "signup" -> "growth", "purchase" -> "revenue", "error" -> "ops")

  /** Stream–static join: every micro-batch equi-joins the live stream
    * against a static dimension, then aggregates per enriched key —
    * the canonical production enrichment shape (fact stream ⋈ dim
    * table). The dim is broadcast, so the join adds no shuffle to any
    * micro-batch; at 100 TB/day the same plan holds as long as the dim
    * stays broadcast-sized, which dims do.
    */
  def runEnrich(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = Streams.session(parent)
    import spark.implicits._
    val dim = typeCategories.toDF("event_type", "category")
    val totals = source(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .join(broadcast(dim), Seq("event_type"))
      .groupBy(col("category"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_raw"))
    Streams.toMemory(totals, "complete")
      .select(col("category"), col("n"), round(col("total_raw"), 2).as("total"))
      .orderBy(col("category"))
  }

  /** Custom-state streaming: running per-user event counts kept in
    * explicit GroupState (`flatMapGroupsWithState`) — the escape hatch
    * for stateful logic the built-in windows can't express. Update
    * mode emits the running count every micro-batch; the final value
    * per user must equal the batch `GROUP BY` count, which is what the
    * `stream_state_counts` oracle checks.
    */
  def runStateCounts(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = Streams.session(parent)
    import spark.implicits._
    val counts = source(spark, sfDir)
      .select(col("user_id"))
      .as[Long]
      .groupByKey(identity)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout)(StateCounts.update _)
      .toDF("user_id", "n")
    // the running count is monotone, so max = final
    Streams.toMemory(counts, "update")
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n"))
      .orderBy(col("user_id"))
  }

  /** Executor-side state transition (object: nothing non-serializable
    * in the closure).
    */
  object StateCounts {
    def update(user: Long, events: Iterator[Long],
        state: org.apache.spark.sql.streaming.GroupState[Long]): Iterator[(Long, Long)] = {
      val next = state.getOption.getOrElse(0L) + events.size
      state.update(next)
      Iterator((user, next))
    }
  }

  /** Watermarked hourly tumbling-window aggregation (the streaming
    * twin of `Relational` key `stream_window_hourly`).
    */
  def hourlyAgg(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_raw"))

  /** Run the stream to completion over the available files (AvailableNow
    * ≈ bounded replay) into an in-memory sink, and return the final
    * result shaped exactly like the batch twin. Blocking; used by the
    * `stream_hourly_live` query key and the parity spec.
    */
  def runHourly(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = Streams.session(parent)
    Streams.toMemory(hourlyAgg(source(spark, sfDir)), "complete")
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"),
        round(col("total_raw"), 2).as("total"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** Streaming top-k: the complete-mode aggregation keeps per-user
    * counts as state and the stream itself maintains the sorted,
    * limited relation (sort + limit are legal in complete mode — the
    * result table is fully re-emitted per trigger, so each trigger's
    * memory-sink content IS the current top-k). k=10, ties broken by
    * user_id so the contract is deterministic.
    */
  def runTopK(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = Streams.session(parent)
    val top = source(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id"))
      .limit(10)
    Streams.toMemory(top, "complete").select(col("user_id"), col("n"))
      .orderBy(col("n").desc, col("user_id"))
  }
}
