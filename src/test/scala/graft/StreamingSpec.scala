package graft

import graft.streaming.EventStream

/** Structured Streaming ↔ batch parity: the streaming hourly window
  * over replayed events must produce exactly the batch twin's result
  * (`stream_window_hourly`).
  */
class StreamingSpec extends SparkSpec {

  test("streaming hourly window equals the batch aggregation") {
    val streamed = EventStream.runHourly(spark, sfDir)
    val batch = SparkEntry.queries("stream_window_hourly")(spark, sfDir)
    assert(streamed.schema.fieldNames.toSeq == batch.schema.fieldNames.toSeq)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("flatMapGroupsWithState running counts converge to the batch counts") {
    import org.apache.spark.sql.functions._
    val streamed = EventStream.runStateCounts(spark, sfDir)
    val batch = Tables.events(spark, sfDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .orderBy(col("user_id"))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming top-k: the stream's emitted relation is exactly the batch top-10") {
    import org.apache.spark.sql.functions._
    val streamed = EventStream.runTopK(spark, sfDir)
    assert(streamed.count() == 10, "complete-mode sort+limit must emit exactly k rows")
    val batch = Tables.events(spark, sfDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id")).limit(10)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming media dedup (dropDuplicatesWithinWatermark) emits exactly the distinct fingerprint set") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.MediaStream.runDedup(spark, sfDir)
    val batch = Tables.documents(spark, sfDir)
      .select(md5(hex(unhex(md5(col("text"))))).as("media_fp"))
      .distinct().orderBy(col("media_fp"))
    // every planted re-upload (+10000 shares its base payload) dropped:
    // the stream's key set is exactly the batch distinct set
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stream-static broadcast-dim join equals the batch enrichment") {
    import org.apache.spark.sql.functions._
    val streamed = EventStream.runEnrich(spark, sfDir)
    val dim = {
      import spark.implicits._
      EventStream.typeCategories.toDF("event_type", "category")
    }
    val batch = Tables.events(spark, sfDir)
      .join(broadcast(dim), Seq("event_type"))
      .groupBy(col("category"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy(col("category"))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stream-stream watermarked join equals the batch interval join") {
    import org.apache.spark.sql.functions._
    val streamed = EventStream.runPairJoin(spark, sfDir)
    val e = Tables.events(spark, sfDir)
    val s = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_event"), col("ts").as("s_ts"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_event"), col("ts").as("p_ts"))
    val batch = s.join(p,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("s_ts") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 7 DAYS"))
      .select(col("signup_event"), col("purchase_event"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("chained stream-stream funnel joins equal the batch 3-way interval join") {
    import org.apache.spark.sql.functions._
    val streamed = EventStream.runFunnel(spark, sfDir)
    val e = Tables.events(spark, sfDir)
    def leg(tpe: String, pfx: String) = e.filter(col("event_type") === tpe)
      .select(col("user_id").as(s"${pfx}_user"),
        col("event_id").as(s"${pfx}_event"), col("ts").as(s"${pfx}_ts"))
    val batch = leg("signup", "s").join(leg("view", "v"),
        col("s_user") === col("v_user") && col("v_ts") > col("s_ts") &&
          col("v_ts") <= col("s_ts") + expr("INTERVAL 7 DAYS"))
      .join(leg("purchase", "p"),
        col("v_user") === col("p_user") && col("p_ts") > col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr("INTERVAL 7 DAYS"))
      .select(col("s_event"), col("v_event"), col("p_event"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("multi-micro-batch replay (3 files, maxFilesPerTrigger=1) converges to the batch answer") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    // stage the events table as 3 separate files so the stream
    // genuinely processes multiple micro-batches with state carried
    // across them — the single-file replay the keys use is the
    // degenerate one-batch case
    val dir = graft.ops.purgeOnExit(
      s"${graft.ops.scratchRoot(spark)}/spec_multibatch_${ProcessHandle.current().pid()}")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = ss.read.parquet(s"$sfDir/events.parquet")
    raw.withColumn("part", pmod(col("event_id"), lit(3)))
      .write.mode("overwrite").partitionBy("part").parquet(dir)
    val schema = raw.schema
    val sink = s"graft_multibatch_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    val q = graft.Tables.normalizeTs(
        ss.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1") // force one staged file per micro-batch
          .parquet(s"$dir/part=*"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_raw"))
      .writeStream.format("memory").queryName(sink)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "expected multiple non-empty micro-batches")
    val streamed = ss.table(sink)
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), round(col("total_raw"), 2).as("total"))
    val batch = SparkEntry.queries("stream_window_hourly")(spark, sfDir)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stream_funnel_dropoff: a non-converter emits exactly once, only after its interval expires") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val root = graft.ops.purgeOnExit(
      s"${graft.ops.scratchRoot(spark)}/spec_dropoff_${ProcessHandle.current().pid()}") +
      s"/${java.util.UUID.randomUUID.toString.replace("-", "")}"
    val (inDir, chk, outDir) = (s"$root/in", s"$root/chk", s"$root/out")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType)))
    def write(rows: Seq[(Long, Long, String, String)]): Unit = {
      import ss.implicits._
      rows.toDF("event_id", "user_id", "event_type", "ts_s")
        .select(col("event_id"), col("user_id"), col("event_type"),
          to_timestamp(col("ts_s")).as("ts"))
        .coalesce(1).write.mode("append").parquet(inDir)
    }
    def runOnce(): Unit = {
      val q = EventStream.dropoffJoin(ss.readStream.schema(schema).parquet(inDir))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", chk).outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    def emitted(): Seq[(Long, Long)] =
      // only the EXPECTED empty case (sink committed no files yet →
      // schema inference fails) maps to Seq.empty; any other failure
      // must fail the test — a broad catch would make the "nothing
      // emits while the interval is open" assertion pass vacuously
      try ss.read.parquet(outDir).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA")
              || e.getMessage.contains("PATH_NOT_FOUND") => Seq.empty
      }
    // batch 1: u1 signs up (never converts), u2 signs up and converts
    // next day. No window has closed (watermark = Jan 1 23:00), so the
    // drop-off row for u1 must NOT appear yet — it is pending, and
    // emitting it now would be wrong twice over (it could still convert)
    write(Seq((1L, 1L, "signup", "2024-01-01 00:00:00"),
      (2L, 2L, "signup", "2024-01-01 00:00:00"),
      (3L, 2L, "purchase", "2024-01-02 00:00:00")))
    runOnce()
    assert(emitted().isEmpty, "no drop-off may emit while its interval is open")
    // batch 2: late traffic on BOTH legs advances the global watermark
    // past u1's interval end (Jan 8) → u1 emits; converted u2 never
    // does; the fresh Jan-12 signup is itself still pending
    write(Seq((4L, 98L, "signup", "2024-01-12 00:00:00"),
      (5L, 99L, "purchase", "2024-01-12 00:00:00")))
    runOnce()
    assert(emitted() == Seq((1L, 1L)),
      s"expected exactly u1's signup once, got ${emitted()}")
    // restart with no new data: still exactly once (no replay, no dupe)
    runOnce()
    assert(emitted() == Seq((1L, 1L)))
  }

  test("checkpointed file sink is exactly-once across restarts") {
    import org.apache.spark.sql.functions._
    val out = graft.ops.purgeOnExit(
      s"${graft.ops.scratchRoot(spark)}/spec_stream_sink_${ProcessHandle.current().pid()}") +
      s"/${java.util.UUID.randomUUID.toString.replace("-", "")}"
    EventStream.runFileSink(spark, sfDir, out)
    val n1 = spark.read.parquet(out).count()
    val expected = Tables.events(spark, sfDir)
      .filter(col("event_type") === "error").count()
    assert(n1 == expected)
    // restart against the same checkpoint: nothing replays, no dupes
    EventStream.runFileSink(spark, sfDir, out)
    assert(spark.read.parquet(out).count() == n1)
  }

  test("streaming session_window equals batch sessionization (built-in AND typed)") {
    val streamed = EventStream.runSessions(spark, sfDir)
    val batch = SparkEntry.queries("sessionize")(spark, sfDir)
    val typed = SparkEntry.queries("sessionize_typed")(spark, sfDir)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    assert(typed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(typed).count() == 0)
  }

  test("batch and stream incremental dedup agree: DedupStream admits exactly dedup_incremental's docs") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.{BatchLog, DedupStream}
    // the same old corpus (doc_id < 250) and the same planted new
    // batch, once through the stored index a stream appends to and
    // once through the batch key: the admitted ids must be equal
    val idx = graft.ops.scratchRunDir(spark, "spec_dedup_agree")
    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val old = base.filter(col("doc_id") < 250)
    DedupStream.seedIndex(spark, old, idx)
    val batch = graft.ops.Text.incrementalNewBatch(base, old)
    val n = DedupStream.ingestBatch(spark, batch, idx, BatchLog.contentKey(batch))
    val streamed = DedupStream.indexedTexts(spark, idx).filter(col("doc_id") >= 250)
      .collect().map(_.getLong(0)).sorted.toSeq
    val batched = SparkEntry.queries("dedup_incremental")(spark, sfDir)
      .collect().map(_.getLong(0)).toSeq
    assert(batched.nonEmpty && streamed == batched,
      s"stream admitted ${streamed.diff(batched)} extra, ${batched.diff(streamed)} missing")
    assert(n == batched.size)
  }

  test("streaming dedup vs stored band index: dupes drop, novel docs index and dedup the NEXT batch") {
    import org.apache.spark.sql.functions._
    import graft.streaming.DedupStream
    val root = graft.ops.purgeOnExit(
      s"${graft.ops.scratchRoot(spark)}/spec_dedup_stream_${ProcessHandle.current().pid()}") +
      s"/${java.util.UUID.randomUUID.toString.replace("-", "")}"
    val (idx, inDir, chk) = (s"$root/idx", s"$root/in", s"$root/chk")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))

    // seed the index with the first 250 docs
    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    DedupStream.seedIndex(spark, base.filter(col("doc_id") < 250), idx)
    val seeded = DedupStream.indexedTexts(spark, idx).count()

    def tokens = split(col("text"), " ")
    // batch 1: one exact copy of an indexed doc (+30000), one truncated
    // near-copy of an indexed doc (+40000), an in-batch duplicate pair
    // (+60000/+60001 share one text), and novel docs 250-299
    val b1 = base.filter(col("doc_id") >= 250 && col("doc_id") < 300)
      .unionByName(base.filter(col("doc_id") === 7)
        .select((col("doc_id") + 30000).as("doc_id"), col("text")))
      .unionByName(base.filter(col("doc_id") === 11)
        .select((col("doc_id") + 40000).as("doc_id"),
          array_join(slice(tokens, lit(1), size(tokens) - 1), " ").as("text")))
      .unionByName(base.filter(col("doc_id") === 260)
        .select(lit(60000L).as("doc_id"), concat(col("text"), lit(" zq")).as("text")))
      .unionByName(base.filter(col("doc_id") === 260)
        .select(lit(60001L).as("doc_id"), concat(col("text"), lit(" zq")).as("text")))
    // the file source lists files at inDir's top level — stage each
    // batch's part-file in as a single flat parquet file
    def stageIn(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$root/stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$inDir/$name.parquet"))
      ()
    }
    stageIn(b1, "batch1")
    val admitted1 = DedupStream.runIngest(spark, inDir, idx, chk)
    // 49 of the 50 new docs (the FIXTURE plants doc 263 as a near-copy
    // of indexed doc 229 — jaccard 0.96, it must drop) + the min-doc_id
    // winner of the in-batch pair; the exact and near plants drop
    assert(admitted1 == 50, s"batch1 admitted $admitted1")
    val afterB1 = DedupStream.indexedTexts(spark, idx)
    assert(afterB1.count() == seeded + 50)
    assert(afterB1.filter(col("doc_id").isin(263L, 30007L, 40011L, 60001L)).count() == 0)
    assert(afterB1.filter(col("doc_id") === 60000L).count() == 1)

    // batch 2: an exact copy (+70000) and a truncated near-copy
    // (+80000) of the doc admitted in batch 1 — both must now drop
    // against index entries batch 1 itself appended — plus one novel
    val b2 = base.filter(col("doc_id") === 260)
      .select(lit(70000L).as("doc_id"), concat(col("text"), lit(" zq")).as("text"))
      .unionByName(base.filter(col("doc_id") === 300)
        .select((col("doc_id") + 80000).as("doc_id"),
          array_join(slice(tokens, lit(1), size(tokens) - 1), " ").as("text")))
      .unionByName(base.filter(col("doc_id") === 300))
    // 300 and its truncation arrive in the SAME batch: near-dup within
    // a batch is the next run's job (300 gets indexed, +80000 is only
    // band-checked vs the index) — so feed 300 first, then the copies
    stageIn(b2.filter(col("doc_id") === 300), "batch2")
    assert(DedupStream.runIngest(spark, inDir, idx, chk) == 1)
    stageIn(b2.filter(col("doc_id") =!= 300), "batch3")
    val admitted3 = DedupStream.runIngest(spark, inDir, idx, chk)
    assert(admitted3 == 0, s"batch3 admitted $admitted3 (plants not dropped)")
    val finalTexts = DedupStream.indexedTexts(spark, idx)
    assert(finalTexts.filter(col("doc_id").isin(70000L, 80300L)).count() == 0)
    assert(finalTexts.filter(col("doc_id") === 300L).count() == 1)
    // index halves stay consistent: every text row has hs + 4 bands
    val nDocs = finalTexts.count()
    assert(spark.read.parquet(s"$idx/hs").count() == nDocs)
    assert(spark.read.parquet(s"$idx/bands").count() == nDocs * 4)
  }

  test("streaming shard_assign over micro-batch replay converges to the batch assignment") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import graft.ops.h32Seeded
    // Determinism is shard_assign's whole point: the per-doc (shard,
    // order-key) pair is a seeded hash — stateless, so a stream may
    // compute it per micro-batch in ANY arrival order/batching; the
    // in-shard rank is then a pure function of the accumulated set.
    // Replay documents as 3 files, one per micro-batch, shard-assign
    // map-side INSIDE the stream, finalize ranks over the accumulated
    // sink (what a training pipeline does when it closes an epoch's
    // order files) — the result must be byte-identical to the batch key.
    val dir = graft.ops.purgeOnExit(
      s"${graft.ops.scratchRoot(spark)}/spec_shardstream_${ProcessHandle.current().pid()}")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val raw = ss.read.parquet(s"$sfDir/documents.parquet").select(col("doc_id"))
    raw.withColumn("part", pmod(col("doc_id"), lit(3)))
      .write.mode("overwrite").partitionBy("part").parquet(dir)
    val sink = s"graft_shardstream_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    val q = ss.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/part=*")
      // the streaming half: assignment + order key, map-side, no state
      .select(col("doc_id"),
        (h32Seeded(lit("shard"), col("doc_id")) % 8).as("shard"),
        h32Seeded(lit("order"), col("doc_id")).as("ord"))
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "expected multiple non-empty micro-batches")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("ord"), col("doc_id"))
    val streamed = ss.table(sink)
      .select(col("doc_id"), col("shard"),
        row_number().over(w).cast("bigint").as("rank"))
    val batch = SparkEntry.queries("shard_assign")(spark, sfDir)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming cluster maintenance: batch parity, then late arrivals join existing clusters") {
    import org.apache.spark.sql.functions._
    import graft.streaming.ClusterStream
    val root = graft.ops.purgeOnExit(
      s"${graft.ops.scratchRoot(spark)}/spec_cc_stream_${ProcessHandle.current().pid()}") +
      s"/${java.util.UUID.randomUUID.toString.replace("-", "")}"
    val (idx, inDir, chk) = (s"$root/idx", s"$root/in", s"$root/chk")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    ClusterStream.seedIndex(spark, base.limit(0), idx)

    // phase 1: replay the corpus in two hash windows — duplicate pairs
    // split across arrival order must still land in one cluster
    Seq(0, 1).foreach { w =>
      ClusterStream.stageFile(
        base.filter(pmod(xxhash64(col("doc_id")), lit(2)) === w),
        s"$root/stage_$w", s"$inDir/w$w.parquet")
    }
    ClusterStream.runIngest(spark, inDir, idx, chk)
    def labelMap(): Map[Long, Long] = ClusterStream.labels(spark, idx)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val streamed = labelMap()
    val batch = graft.ops.Pipeline.componentLabels(base)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch, "streamed labels must equal the batch clustering")

    // phase 2: a LATE batch through the SAME checkpoint — an exact copy
    // of doc 7 must join doc 7's existing cluster, a novel doc labels
    // itself, and no pre-existing label moves
    val late = base.filter(col("doc_id") === 7)
      .select(lit(90007L).as("doc_id"), col("text"))
      .unionByName(spark.range(1).select(lit(91000L).as("doc_id"),
        lit("zzq unique singleton text never seen before qzz").as("text")))
    ClusterStream.stageFile(late, s"$root/stage_late", s"$inDir/late.parquet")
    ClusterStream.runIngest(spark, inDir, idx, chk)
    val after = labelMap()
    assert(after(90007L) == streamed(7L), "late exact copy joins the existing cluster")
    assert(after(91000L) == 91000L, "novel late doc is its own singleton")
    assert(streamed.forall { case (id, l) => after(id) == l },
      "late arrivals must not move existing labels")

    // phase 3: replay tolerance — a FRESH checkpoint replays every
    // file, and the content-addressed window keys (round 13) make the
    // ingest skip each one: the index must be unchanged. (The
    // byte-identical + overlapping-window legs live in ExactlyOnceSpec.)
    ClusterStream.runIngest(spark, inDir, idx, s"$root/chk_replay")
    val replayed = ClusterStream.labels(spark, idx)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(replayed.length == replayed.map(_._1).distinct.length,
      "replay must not duplicate label rows")
    assert(replayed.toMap == after, "full replay must not change any label")
  }

  test("edge-index compaction after every window: labels byte-equal, state bounded") {
    import org.apache.spark.sql.functions._
    import graft.streaming.ClusterStream
    val root = graft.ops.purgeOnExit(
      s"${graft.ops.scratchRoot(spark)}/spec_cc_compact_${ProcessHandle.current().pid()}") +
      s"/${java.util.UUID.randomUUID.toString.replace("-", "")}"
    val corpus = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))

    // two parallel ingest runs over the SAME 4 arrival windows: one
    // compacts after every window's labels() fixed point, one never does
    val (idxC, idxU) = (s"$root/c/idx", s"$root/u/idx")
    Seq("c", "u").foreach { v =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/$v/in"))
      ClusterStream.seedIndex(spark, corpus.limit(0), s"$root/$v/idx")
    }
    val nWindows = 4
    (0 until nWindows).foreach { w =>
      val win = corpus.filter(pmod(xxhash64(col("doc_id")), lit(nWindows)) === w)
      Seq("c", "u").foreach { v =>
        ClusterStream.stageFile(win, s"$root/$v/stage_$w", s"$root/$v/in/w$w.parquet")
        ClusterStream.runIngest(spark, s"$root/$v/in", s"$root/$v/idx", s"$root/$v/chk")
      }
      val (labC, rows) = ClusterStream.compactIndex(spark, idxC)
      val labU = ClusterStream.labels(spark, idxU)._1
      assert(labC.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
        labU.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
        s"window $w: compacted labels diverged from uncompacted")
      // bounded state: after compaction, one stored edge row per
      // non-root member — ≤ docs ingested so far, independent of how
      // many windows (and their repeated near/star/cross edges) passed
      val members = labU.filter(col("id") =!= col("lbl")).count()
      assert(rows == members,
        s"window $w: compacted edges ($rows) != non-root members ($members)")
    }
    // compaction must never shrink connectivity below the batch truth
    val batch = graft.ops.Pipeline.componentLabels(corpus)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fin = ClusterStream.labels(spark, idxC)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fin == batch, "final compacted labels must equal the batch clustering")
  }

  test("drain: a failed first micro-batch rethrows, leaves no active query, and the session runs on") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.StreamingQueryException
    import graft.streaming.Streams
    val dir = graft.ops.scratchRunDir(spark, "spec_drain_fail")
    spark.range(5).toDF("id").write.parquet(dir)
    val ss = Streams.session(spark)
    def rows = ss.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val fail: (DataFrame, Long) => Unit =
      (_, batchId) => throw new IllegalStateException(s"step failed in batch $batchId")
    val e = intercept[StreamingQueryException] {
      Streams.drain(rows.writeStream.foreachBatch(fail)
        .option("checkpointLocation", s"$dir-chk"))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("step failed in batch 0"))),
      e.getMessage)
    assert(ss.streams.active.isEmpty, "a failed drain left its query running")
    assert(spark.streams.active.isEmpty)
    assert(Streams.toMemory(rows, "append").count() == 5)
  }

  test("stageReplayCopy: build-once staleness survives stores that drop mtimes (marker fallback)") {
    val root = graft.ops.purgeOnExit(
      java.nio.file.Files.createTempDirectory("replaycopy").toString)
    val src = s"$root/src.parquet"
    spark.range(5).toDF("id").coalesce(1).write.parquet(s"$root/srcdir")
    val part = graft.ops.hfsList(spark, s"$root/srcdir").map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    graft.ops.hfsCopyFile(spark, part.toString, src)
    val dir = s"$root/replay"
    def dstStatus() = {
      val (fs, p) = graft.ops.hfs(spark, s"$dir/staged.parquet")
      fs.getFileStatus(p)
    }
    graft.ops.stageReplayCopy(spark, src, dir, "staged.parquet")
    val first = dstStatus()
    // fresh source + honored mtimes → the second call must NOT re-copy
    graft.ops.stageReplayCopy(spark, src, dir, "staged.parquet")
    assert(dstStatus().getModificationTime == first.getModificationTime)
    // SIMULATED OBJECT STORE (r18 advice): the store normalizes the
    // copy's mtime (setTimes no-op — S3A's base behavior), so the
    // mtime check alone would re-copy every call; the marker carries
    // the source (len, mtime) stamp and must keep the copy fresh
    val (fs, dp) = graft.ops.hfs(spark, s"$dir/staged.parquet")
    fs.setTimes(dp, System.currentTimeMillis() + 99999, -1)
    val (sfs, sp) = graft.ops.hfs(spark, src)
    val sst = sfs.getFileStatus(sp)
    val mp = new org.apache.hadoop.fs.Path(s"$dir/_staged.parquet.stamp")
    val outS = fs.create(mp, true)
    try outS.write(s"${sst.getLen}:${sst.getModificationTime}".getBytes("UTF-8"))
    finally outS.close()
    val drifted = dstStatus().getModificationTime
    graft.ops.stageReplayCopy(spark, src, dir, "staged.parquet")
    assert(dstStatus().getModificationTime == drifted,
      "marker said fresh but the copy was rewritten (copy-every-call regression)")
    // a STALE marker (source changed) must force the re-copy
    val outS2 = fs.create(mp, true)
    try outS2.write("0:0".getBytes("UTF-8")) finally outS2.close()
    graft.ops.stageReplayCopy(spark, src, dir, "staged.parquet")
    assert(dstStatus().getModificationTime != drifted,
      "stale marker did not trigger a re-copy")
  }

  test("hfsCopyFile overwrite=false fails loudly on an existing arrival file") {
    val root = graft.ops.purgeOnExit(
      java.nio.file.Files.createTempDirectory("writeonce").toString)
    spark.range(3).toDF("id").coalesce(1).write.parquet(s"$root/one")
    val part = graft.ops.hfsList(spark, s"$root/one").map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    graft.ops.hfsCopyFile(spark, part.toString, s"$root/w0.parquet",
      overwrite = false)
    intercept[java.nio.file.FileAlreadyExistsException] {
      graft.ops.hfsCopyFile(spark, part.toString, s"$root/w0.parquet",
        overwrite = false)
    }
  }
}
