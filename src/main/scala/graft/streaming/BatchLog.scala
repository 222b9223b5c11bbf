package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exactly-once appends for the streaming index directories
  * (VERDICT r10 task #7 / r11 task #4): the same bookkeeping Spark's
  * own file sink does via its `_spark_metadata` log, specialized to the
  * multi-half index layout [[DedupStream]] and [[ClusterStream]]
  * maintain.
  *
  * The problem: `foreachBatch` gives the SOURCE exactly-once semantics
  * (each input file is processed in exactly one micro-batch), but the
  * body's appends are at-least-once — a crash after some appends and
  * before the checkpoint commit makes the restart re-run the batch,
  * duplicating whatever was already written.
  *
  * The fix, per (index, batch):
  *  - every half's rows for one batch land in their own subdirectory,
  *    `<half>/batch=<key>/`, written with OVERWRITE — a retry replaces
  *    the partial files of the failed attempt instead of appending next
  *    to them;
  *  - after ALL halves are written, one zero-byte marker
  *    `<idx>/_commits/<key>` commits the batch atomically (a file
  *    create is the FS's atomic primitive);
  *  - reads only see committed batches: [[read]] lists the half's
  *    `batch=` subdirectories and keeps those whose key has a marker.
  *    Partial state from a crash is invisible, so the retry recomputes
  *    from exactly the pre-batch index and its overwrite is
  *    byte-identical to what the failed attempt would have produced;
  *  - a retry of a FULLY committed batch (crash between the marker and
  *    the checkpoint commit) is skipped up front via [[isCommitted]].
  *
  * Batch keys (round 13): the ingest path keys each window by its
  * CONTENT — md5 over its (doc_id, md5(text)) set ([[contentKey]]) —
  * so the skip is lineage-independent: a replay through a fresh
  * checkpoint over the same staged windows finds every key committed
  * and appends nothing (byte-identical index, ExactlyOnceSpec pins
  * it). Both index streams run the one ingest loop, [[ingest]].
  *
  * At 100 TB: one subdirectory and one marker per ingest window keeps
  * listing cost proportional to window count, and [[ClusterStream]]
  * compaction already rewrites the unbounded half (edges) to a bounded
  * star set — deleting the superseded batch directories as it goes, so
  * the directory count stays bounded too. All paths go through the
  * Hadoop FileSystem API (HDFS/object stores at scale, local FS here).
  */
object BatchLog {

  /** (doc_id, text): the arrival-file schema of both index streams. */
  private[streaming] val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  // Index halves are read with EXPLICIT schemas: the empty-seed
  // bootstrap writes zero part files (AQE coalesces an empty frame to
  // zero partitions), so schema inference on a fresh index would fail.
  private[streaming] val hsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("hs", ArrayType(LongType))))
  private[streaming] val bandSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("bkey", StringType),
    StructField("b", IntegerType)))

  /** Content-addressed window key: md5 over the window's sorted
    * (doc_id, md5(text)) pairs — ids AND payloads, so a re-staged
    * window with the same ids but corrected texts gets a NEW key and
    * re-ingests (review finding: an id-only key would silently skip
    * it). The same staged window hashes to the same key from ANY
    * checkpoint lineage, which makes the ingest skip (`isCommitted`)
    * cover fresh-checkpoint replays, not just same-lineage retries.
    * Addressed by DATA rather than by input-file paths because the
    * DataFrame a `foreachBatch` body receives is source-materialized —
    * `inputFiles` is empty there, and a path set would also break on
    * staged-elsewhere re-deliveries of identical windows. Cost: one
    * window-sized aggregate per batch (a window is bounded by the
    * trigger, never corpus-scale). The full 128-bit digest is kept —
    * the marker is a zero-byte file, and truncation would make
    * window-collision data loss a birthday problem at millions of
    * windows (review finding). The '-' keeps the key out of the
    * rewrite-generation namespaces (see [[nextGenKey]]).
    */
  def contentKey(batch: DataFrame): String = contentKeyAndCount(batch)._1

  /** [[contentKey]] AND the window's row count in ONE aggregate job —
    * the ingest path needs both per batch (the key for the
    * exactly-once skip, the count for the processed-docs tally), and
    * computing them separately paid two full passes over the arriving
    * window (r22, guide §1.2). The key expression is the single
    * definition [[contentKey]] delegates to, so the two entry points
    * cannot drift.
    */
  def contentKeyAndCount(batch: DataFrame): (String, Long) = {
    // per-row term null-guarded (ADVICE r13): a NULL doc_id or text
    // would null the whole concat, and collect_list DROPS nulls — two
    // windows differing only in NULL-bearing rows would then share a
    // key and the second would be skipped as already committed. The
    // "null" sentinel cannot collide: a real id renders as digits and
    // a real text term as 32-hex md5.
    val r = batch.agg(
      md5(concat_ws(",", sort_array(collect_list(
        concat(coalesce(col("doc_id").cast("string"), lit("null")), lit(":"),
          coalesce(md5(col("text")), lit("null")))))))
        .as("h"),
      count(lit(1)).as("n")).collect()(0)
    (s"w-${r.getString(0)}", r.getLong(1))
  }

  /** The arriving window, spread across the cluster and lazily
    * checkpointed — a staged window is ONE parquet part file = one
    * scan partition, which serialized the whole batch's md5/shingling
    * on a single core (r22 profile: two ~2 s single-task jobs per
    * micro-batch at sf0.1). Hash repartition on doc_id is
    * deterministic under retry; the first action over the frame
    * (the fused key+count aggregate, or a spec path's count)
    * materializes the checkpoint blocks in the same pass.
    */
  private[streaming] def spreadWindow(batch: DataFrame): DataFrame = {
    val par = batch.sparkSession.sparkContext.defaultParallelism
    batch.select(col("doc_id"), col("text"))
      .repartition(par, col("doc_id"))
      .localCheckpoint(false)
  }

  /** The one ingest loop of the index streams: drain every file under
    * `inDir` ([[Streams.drain]]) through the index at `idxDir`, on a
    * [[Streams.session]] of `partitions`, and return the sum of what
    * `step` returned. Per micro-batch: spread the window
    * ([[spreadWindow]]); take its key and row count in ONE aggregate
    * that also materializes the checkpoint (the key is partitioning-
    * independent); skip the window if the key is committed; else run
    * `step(session, window, rows, key)`, the stream's own append,
    * which commits the key last. `maxFilesPerTrigger` sets the window
    * boundaries (unset: every available file is one window).
    */
  private[streaming] def ingest(parent: SparkSession, inDir: String, idxDir: String,
      checkpoint: String, partitions: Int, maxFilesPerTrigger: Option[Int])(
      step: (SparkSession, DataFrame, Long, String) => Long): Long = {
    val spark = Streams.session(parent, partitions)
    val total = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = spark.readStream.schema(docSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toLong))
    Streams.drain(reader.parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val docs = spreadWindow(batch)
        val (key, rows) = contentKeyAndCount(docs)
        if (!isCommitted(spark, idxDir, key))
          total.addAndGet(step(spark, docs, rows, key))
        ()
      }
      .option("checkpointLocation", checkpoint))
    total.get()
  }

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  def isCommitted(spark: SparkSession, idxDir: String, key: String): Boolean =
    fs(spark, idxDir).exists(new Path(s"$idxDir/_commits/$key"))

  /** Commit `key`: called once after every half of the batch is
    * written. The marker is an empty file; its creation is the atomic
    * commit point.
    */
  def commit(spark: SparkSession, idxDir: String, key: String): Unit =
    commitSuperseding(spark, idxDir, key, Map.empty)

  /** Commit `key` AND mark earlier (half, key) pairs as superseded by
    * it — the atomic commit point of a consolidation or compaction:
    * the marker file's content lists `half key` lines, and [[read]]
    * excludes those pairs from that moment on. The superseded
    * directories can then be deleted as pure cleanup — a crash
    * mid-delete leaves directories that are already invisible, never
    * double-counted rows.
    */
  def commitSuperseding(spark: SparkSession, idxDir: String, key: String,
      superseded: Map[String, Set[String]]): Unit = {
    val f = fs(spark, idxDir)
    val p = new Path(s"$idxDir/_commits/$key")
    f.mkdirs(p.getParent)
    val out = f.create(p, true)
    val body = superseded.toSeq.sortBy(_._1)
      .flatMap { case (half, keys) => keys.toSeq.sorted.map(k => s"$half $k") }
      .mkString("\n")
    if (body.nonEmpty) out.write(body.getBytes("UTF-8"))
    out.close()
  }

  /** All committed batch keys of one index. */
  def committed(spark: SparkSession, idxDir: String): Set[String] = {
    val f = fs(spark, idxDir)
    val p = new Path(s"$idxDir/_commits")
    if (!f.exists(p)) Set.empty
    else f.listStatus(p).map(_.getPath.getName).toSet
  }

  /** Parse one non-empty marker's `half key` supersession lines. */
  private def parseMarker(f: FileSystem, st: org.apache.hadoop.fs.FileStatus)
      : Seq[(String, String)] =
    if (st.getLen == 0) Seq.empty
    else {
      val in = f.open(st.getPath)
      val bytes = new Array[Byte](st.getLen.toInt)
      try in.readFully(bytes) finally in.close()
      new String(bytes, "UTF-8").split("\n").toSeq
        .map(_.trim).filter(_.nonEmpty).flatMap { line =>
          line.split(" ", 2) match {
            case Array(half, key) => Some(half -> key)
            case _ => None
          }
        }
    }

  /** (half → superseded keys) across every committed marker. */
  private def superseded(spark: SparkSession, idxDir: String): Map[String, Set[String]] = {
    val f = fs(spark, idxDir)
    val p = new Path(s"$idxDir/_commits")
    if (!f.exists(p)) Map.empty
    else f.listStatus(p).flatMap(parseMarker(f, _))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
  }

  /** Write one half's rows for one batch: OVERWRITE into the batch's
    * own subdirectory, so a crash-retry replaces its partial files.
    * (Flat layout — no caller sub-partitions below the batch dir; the
    * bands half keeps `b` as an ordinary column.)
    */
  def write(df: DataFrame, halfDir: String, key: String): Unit =
    df.write.mode("overwrite").parquet(s"$halfDir/batch=$key")

  /** The live batch keys of one half: committed, minus pairs a later
    * consolidation/compaction marker superseded.
    */
  def liveKeys(spark: SparkSession, idxDir: String, half: String): Set[String] =
    committed(spark, idxDir) --
      superseded(spark, idxDir).getOrElse(half, Set.empty)

  /** The live batch directories of one half (uncommitted partials and
    * superseded generations pruned; deleted-but-still-committed keys
    * tolerated by existence).
    */
  def committedDirs(spark: SparkSession, idxDir: String, half: String): Seq[String] = {
    val halfDir = s"$idxDir/$half"
    val f = fs(spark, halfDir)
    if (!f.exists(new Path(halfDir))) Seq.empty
    else {
      val live = liveKeys(spark, idxDir, half)
      f.listStatus(new Path(halfDir)).filter(_.isDirectory).map(_.getPath)
        .filter(p => p.getName.startsWith("batch=") &&
          live(p.getName.stripPrefix("batch=")))
        .map(_.toString).toSeq.sorted
    }
  }

  /** Next free generation key (`<prefix>0`, `<prefix>1`, …): one past
    * the highest COMMITTED generation of that prefix, so a crash-retry
    * of an uncommitted operation reuses (and overwrites) the same name.
    *
    * Each rewriting operation MUST use its own prefix (compaction `g`,
    * consolidation `c` — review finding): generations are committed
    * globally, so if a consolidation crashed after writing
    * `hs/batch=g0` but before its marker, a compaction that also picks
    * `g0` for edges would commit the key and make the crashed
    * operation's PARTIAL hs directory visible as committed data.
    * Distinct prefixes make an uncommitted generation reachable only by
    * a retry of the SAME operation, which overwrites it. Ingest window
    * keys (`w-<32 hex>`, [[contentKey]]) always contain '-', so they
    * can never collide with either prefix.
    */
  def nextGenKey(spark: SparkSession, idxDir: String, prefix: String = "g"): String = {
    val n = committed(spark, idxDir)
      .collect { case k if k.startsWith(prefix) &&
          k.length > prefix.length && k.drop(prefix.length).forall(_.isDigit) =>
        k.drop(prefix.length).toLong }
      .foldLeft(-1L)(math.max) + 1
    s"$prefix$n"
  }

  /** Whether `key` names a rewrite generation (vs an ingest window). */
  private def isGenKey(key: String): Boolean =
    key.matches("[cg][0-9]+")

  /** Every half directory of the index (any subdirectory that is not
    * the commit log). */
  private def halvesOf(spark: SparkSession, idxDir: String): Seq[String] = {
    val f = fs(spark, idxDir)
    val root = new Path(idxDir)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(_ == "_commits").toSeq
  }

  /** Prune a SUPERSEDED generation's marker, first re-running that
    * generation's own cleanup (deleting every directory its body lists
    * — idempotent repair of a crashed cleanup, without which removing
    * the marker could resurrect leftover directories). Without pruning,
    * every read re-opens every historical consolidation/compaction
    * marker — O(rewrites) GETs per read on an object store (review
    * finding). Ingest window markers are NOT pruned: they are zero-byte
    * (reads list but never open them) and they back the ingest path's
    * re-delivery skip.
    *
    * The marker is a COMMIT: deleting it un-commits `key` for every
    * half at once. So it may only disappear when nothing it governs
    * remains on disk (advisor findings, round 13):
    *  - every directory its body lists must be confirmed gone —
    *    FileSystem.delete can fail by returning false without
    *    throwing, and removing the supersession record while a
    *    superseded directory survives would resurrect it as live data
    *    on the next read (double-counted rows);
    *  - no half may still hold this generation's OWN `batch=<key>`
    *    data — a consolidation invoked over a subset of halves
    *    supersedes only those, and dropping the marker would silently
    *    un-commit the generation's live directories under every other
    *    half.
    * When either check fails the marker stays for the next prune
    * attempt; reads are correct either way.
    */
  def pruneGenMarker(spark: SparkSession, idxDir: String, key: String): Unit =
    if (isGenKey(key)) {
      val f = fs(spark, idxDir)
      val p = new Path(s"$idxDir/_commits/$key")
      if (f.exists(p)) {
        val body = parseMarker(f, f.getFileStatus(p))
        body.foreach { case (half, k) => deleteBatchDir(spark, idxDir, half, k) }
        val bodyGone = body.forall { case (half, k) =>
          !batchDirExists(spark, idxDir, half, k) }
        val ownGone = halvesOf(spark, idxDir)
          .forall(h => !batchDirExists(spark, idxDir, h, key))
        if (bodyGone && ownGone) {
          f.delete(p, false)
          ()
        }
      }
    }

  /** Consolidate every live batch directory of the given halves into
    * ONE generation directory each, committed atomically by a single
    * superseding marker — the defense against the many-small-files
    * regime a long-running ingest otherwise accumulates (read cost
    * returns to one directory per half regardless of window count).
    * Must run with no concurrent ingest, like compaction. Crash-safe:
    * before the marker the half-written generation is invisible and
    * the retry overwrites it; after the marker the superseded
    * directories are already excluded from reads, so the cleanup
    * deletes are idempotent cosmetics.
    */
  def consolidate(spark: SparkSession, idxDir: String,
      halves: Seq[(String, StructType)]): Unit = {
    // only halves split across ≥2 live directories gain anything; a
    // single-directory half would just be copied
    val worth = halves.filter { case (half, _) =>
      liveKeys(spark, idxDir, half)
        .count(batchDirExists(spark, idxDir, half, _)) >= 2
    }
    if (worth.isEmpty) return
    val gen = nextGenKey(spark, idxDir, "c") // own namespace, see nextGenKey
    val old: Map[String, Set[String]] = worth.map { case (half, schema) =>
      val keys = liveKeys(spark, idxDir, half)
        .filter(batchDirExists(spark, idxDir, half, _))
      write(read(spark, idxDir, half, schema), s"$idxDir/$half", gen)
      half -> keys
    }.toMap
    commitSuperseding(spark, idxDir, gen, old)
    worth.foreach { case (half, _) =>
      old(half).foreach(deleteBatchDir(spark, idxDir, half, _))
    }
    // superseded rewrite generations: repair their cleanup, drop markers
    old.values.flatten.toSet[String].foreach(pruneGenMarker(spark, idxDir, _))
  }

  /** One half's committed rows. Each batch directory is passed as its
    * own root, so the `batch=` segment is part of the base path — never
    * inferred as a partition column. Empty-but-typed when nothing is
    * committed yet.
    */
  def read(spark: SparkSession, idxDir: String, half: String,
      schema: StructType): DataFrame = {
    val dirs = committedDirs(spark, idxDir, half)
    if (dirs.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    else spark.read.schema(schema).parquet(dirs: _*)
  }

  /** Whether `key`'s directory exists under `half` (a committed key may
    * have no directory for a half the batch never wrote, or one a
    * supersession cleanup already deleted).
    */
  def batchDirExists(spark: SparkSession, idxDir: String, half: String,
      key: String): Boolean =
    fs(spark, idxDir).exists(new Path(s"$idxDir/$half/batch=$key"))

  /** Delete one batch directory — post-supersession cleanup only (the
    * marker already excludes it from reads); idempotent.
    */
  def deleteBatchDir(spark: SparkSession, idxDir: String, half: String,
      key: String): Unit = {
    fs(spark, idxDir).delete(new Path(s"$idxDir/$half/batch=$key"), true)
    ()
  }
}
