package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import BatchLog.{bandSchema, docSchema, hsSchema}

/** Continuous-ingest dedup: a micro-batch stream of new documents is
  * deduplicated against the STORED MinHash band index, and survivors
  * are appended back into the index — so a novel document admitted in
  * batch N dedups its own copies from batch N+1 onward. This is the
  * end-to-end pipeline the reference's PUT-append semantics imply
  * (`flight_server.py:391-398`: every PUT appends to the live table a
  * later GET serves), composed from the pieces graft already proves
  * separately: the persisted band-index layout
  * (`Text.stagedBandIndex`) and the new×old-only incremental band join
  * (`dedup_incremental` — never old×old).
  *
  * Index layout on disk (all parquet, one committed `batch=<key>`
  * subdirectory per ingest window — see [[BatchLog]]):
  *  - `<idx>/texts`  (doc_id, text)      — exact-dup anti-join side
  *  - `<idx>/hs`     (doc_id, hs)        — Jaccard-verify side
  *  - `<idx>/bands`  (doc_id, b, bkey)   — LSH candidate generation
  *
  * Per micro-batch the work is O(batch): shingle + minhash the batch,
  * three hash joins whose index side is a parquet scan, and appends
  * sized to the survivors. At 100 TB the batch side is always small
  * (it is one ingest window), so every join broadcasts or
  * shuffle-hash-joins on bounded keys — the corpus is only ever
  * SCANNED, never re-hashed.
  *
  * Exactly-once: the checkpoint makes the SOURCE exactly-once (each
  * file is processed in exactly one micro-batch), and since r12 the
  * index appends are exactly-once too via [[BatchLog]] — each batch's
  * survivors land in committed per-batch subdirectories, reads prune
  * uncommitted partials, and a crash-retry overwrites its own partial
  * files byte-identically (spec-pinned). The dedup SEMANTICS would
  * tolerate even raw replay — re-appending the same survivors creates
  * exact duplicates the next batch's anti-join drops again — but the
  * stored index itself now stays duplicate-free.
  */
object DedupStream {

  /** The indexed corpus (committed rows only) — the accessor specs and
    * tools should use instead of raw paths.
    */
  def indexedTexts(spark: SparkSession, idxDir: String): DataFrame =
    BatchLog.read(spark, idxDir, "texts", docSchema)

  /** Initialize an index directory from a seed corpus (texts + hs +
    * bands) — the batch bootstrap a deployment runs once.
    */
  def seedIndex(spark: SparkSession, seed: DataFrame, idxDir: String): Unit = {
    val docs = seed.select(col("doc_id"), col("text"))
    BatchLog.write(docs, s"$idxDir/texts", "seed")
    BatchLog.write(graft.ops.Text.shingleHashes(docs), s"$idxDir/hs", "seed")
    BatchLog.write(
      graft.ops.Text.minhashBands(
        spark.read.schema(hsSchema).parquet(s"$idxDir/hs/batch=seed")),
      s"$idxDir/bands", "seed")
    BatchLog.commit(spark, idxDir, "seed")
  }

  /** Admitted (non-duplicate) rows of `batch` vs the index at `idxDir`,
    * including batch-internal exact dedup (min doc_id per text wins).
    */
  private def survivors(spark: SparkSession, batch: DataFrame, idxDir: String): DataFrame = {
    import graft.ops.Text.{minhashBands, shingleHashes}
    val newBatch = batch.select(col("doc_id"), col("text"))
    val newHs = shingleHashes(newBatch)
    val jac = size(array_intersect(col("nh.hs"), col("oh.hs"))).cast("double") /
      size(array_union(col("nh.hs"), col("oh.hs")))
    val nearDup = minhashBands(newHs).as("n")
      .join(BatchLog.read(spark, idxDir, "bands", bandSchema).as("o"),
        col("n.b") === col("o.b") && col("n.bkey") === col("o.bkey"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"))
      .distinct()
      .join(newHs.as("nh"), col("nh.doc_id") === col("new_id"))
      .join(BatchLog.read(spark, idxDir, "hs", hsSchema).as("oh"),
        col("oh.doc_id") === col("old_id"))
      .filter(jac >= 0.5)
      .select(col("new_id").as("doc_id"))
      .distinct()
    val batchKeep = newBatch.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
    newBatch
      .join(batchKeep.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .join(indexedTexts(spark, idxDir).select(col("text")),
        Seq("text"), "left_anti")
      .join(nearDup, Seq("doc_id"), "left_anti")
  }

  /** Run the continuous dedup over every file currently in `inDir`
    * through [[BatchLog.ingest]], appending admitted docs to the index.
    * Returns the number of docs admitted by this run. Re-running with
    * the same checkpoint processes only files that arrived since the
    * last run — the restart-safe ingest loop. Windows are small, so the
    * stream runs 8 shuffle partitions, and every file available at
    * start forms one window: the window boundaries decide which
    * in-window near-duplicates wait for the next run.
    */
  def runIngest(parent: SparkSession, inDir: String, idxDir: String,
      checkpoint: String): Long =
    BatchLog.ingest(parent, inDir, idxDir, checkpoint, 8, None) { (spark, docs, _, key) =>
      admit(spark, docs, idxDir, key)
    }

  /** Consolidate the index halves into one generation directory each —
    * the many-small-files defense for a long-running ingest; see
    * [[BatchLog.consolidate]]. Run between ingest runs only.
    */
  def consolidateIndex(spark: SparkSession, idxDir: String): Unit =
    BatchLog.consolidate(spark, idxDir, Seq(
      "texts" -> docSchema, "hs" -> hsSchema, "bands" -> bandSchema))

  /** One micro-batch's dedup-and-admit; package-private so the
    * crash-retry path can be spec-driven without a stream. Exactly-once
    * per `key`: committed batches skip, uncommitted retries recompute
    * against committed state only and overwrite their own partials.
    */
  private[graft] def ingestBatch(spark: SparkSession, batch: DataFrame,
      idxDir: String, key: String): Long =
    if (BatchLog.isCommitted(spark, idxDir, key)) 0L
    else admit(spark, batch, idxDir, key)

  /** [[ingestBatch]] past the skip: admit `batch`'s survivors under
    * `key` and commit it.
    */
  private def admit(spark: SparkSession, batch: DataFrame, idxDir: String,
      key: String): Long = {
    // checkpoint once: the three writes below must see the SAME
    // survivor set even though each triggers its own job. LAZY + count
    // (r21): the count materializes the blocks in one pass — the eager
    // variant spent a dedicated job on it, and every write still reads
    // the persisted blocks, never the lineage
    val keep = survivors(spark, batch, idxDir).localCheckpoint(false)
    val n = keep.count()
    if (n > 0) {
      BatchLog.write(keep, s"$idxDir/texts", key)
      // lazy: the hs write is the materializing action; the bands
      // write then reads the persisted shingle blocks
      val hs = graft.ops.Text.shingleHashes(keep).localCheckpoint(false)
      BatchLog.write(hs, s"$idxDir/hs", key)
      BatchLog.write(graft.ops.Text.minhashBands(hs), s"$idxDir/bands", key)
    }
    BatchLog.commit(spark, idxDir, key)
    n
  }
}
