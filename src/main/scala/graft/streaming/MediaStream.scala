package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming media-ingest dedup — the state-BOUNDED variant.
  *
  * `EventStream.runDedup` uses exact `dropDuplicates`, whose state
  * never evicts (right for a bounded key space like users; measured in
  * SCALE.md round 5). Media fingerprints are the opposite regime: the
  * key space grows with the crawl forever, so production ingest must
  * use `dropDuplicatesWithinWatermark` — per-key state is held only
  * for the watermark delay (state ≈ ingest_rate × delay), trading
  * cross-delay re-uploads for bounded memory. This runner is the
  * oracled exercise of that API: payload fingerprints replayed with
  * event times inside one delay window, so within-delay semantics are
  * exact and the result is deterministic.
  *
  * The surfaced contract is the deduplicated FINGERPRINT SET: which
  * physical doc_id survives is arrival-order-dependent (exactly as
  * `EventStream.runDedup` documents for user dedup).
  */
object MediaStream {

  /** (doc_id, media_fp, ts): the dedup_media corpus — base payloads
    * plus planted re-uploads (+10000) — with a deterministic synthetic
    * event time, all inside one watermark delay.
    */
  private def mediaFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val base = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(hex(unhex(md5(col("text"))))).as("media_fp"))
    base.unionByName(
        base.select((col("doc_id") + 10000).as("doc_id"), col("media_fp")))
      .withColumn("ts",
        timestamp_seconds(lit(1700000000L) + col("doc_id") % 3600))
  }

  def runDedup(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = Streams.session(parent)
    val dir = graft.ops.scratchRunDir(spark, "media_stream")
    val staged = mediaFrame(spark, sfDir)
    staged.write.mode("overwrite").parquet(dir)
    val firsts = spark.readStream.schema(staged.schema).parquet(dir)
      .withWatermark("ts", "2 hours") // all synthetic ts fall inside one delay
      .dropDuplicatesWithinWatermark("media_fp")
    Streams.toMemory(firsts, "append")
      .select(col("media_fp")).distinct().orderBy(col("media_fp"))
  }
}
