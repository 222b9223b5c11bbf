package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Text
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
    BatchLog.write(Text.shingleHashes(docs), s"$idxDir/hs", "seed")
    BatchLog.write(
      Text.minhashBands(
        spark.read.schema(hsSchema).parquet(s"$idxDir/hs/batch=seed")),
      s"$idxDir/bands", "seed")
    BatchLog.commit(spark, idxDir, "seed")
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

  /** [[ingestBatch]] past the skip: admit `batch`'s survivors against
    * the committed index (`Text.incrementalSurvivors`, batch-internal
    * exact dedup included: min doc_id per text wins) under `key` and
    * commit it.
    */
  private def admit(spark: SparkSession, batch: DataFrame, idxDir: String,
      key: String): Long = {
    // checkpoint once: the three writes below must see the SAME
    // survivor set even though each triggers its own job. LAZY + count
    // (r21): the count materializes the blocks in one pass — the eager
    // variant spent a dedicated job on it, and every write still reads
    // the persisted blocks, never the lineage
    val newBatch = batch.select(col("doc_id"), col("text"))
    val keep = Text.incrementalSurvivors(newBatch, Text.shingleHashes(newBatch),
      indexedTexts(spark, idxDir), BatchLog.read(spark, idxDir, "hs", hsSchema),
      BatchLog.read(spark, idxDir, "bands", bandSchema)).localCheckpoint(false)
    val n = keep.count()
    if (n > 0) {
      BatchLog.write(keep, s"$idxDir/texts", key)
      // lazy: the hs write is the materializing action; the bands
      // write then reads the persisted shingle blocks
      val hs = Text.shingleHashes(keep).localCheckpoint(false)
      BatchLog.write(hs, s"$idxDir/hs", key)
      BatchLog.write(Text.minhashBands(hs), s"$idxDir/bands", key)
    }
    BatchLog.commit(spark, idxDir, key)
    n
  }
}
