package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The one run-to-completion policy of every streaming query: a
  * stream-scoped session, an AvailableNow trigger (a bounded replay of
  * the files present at start), a blocking drain and a `stop()` in a
  * `finally` — the counterpart of Mallard's one chunked read/write loop
  * (`flight_server.py:64-73`). Callers keep what each query computes.
  */
object Streams {

  /** Streaming-scoped session: each stateful operator keeps ONE state
    * store per shuffle partition, checkpointed every micro-batch — so
    * with the batch default (32) a tiny stream pays 32 store commits
    * per batch for kilobytes of data. Streams run on a cloned session
    * pinned to `partitions` instead (correctness is partition-count
    * independent); the parent session's conf is untouched.
    */
  def session(parent: SparkSession, partitions: Int = 8): SparkSession = {
    val s = parent.newSession()
    s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    s
  }

  /** The directory a file stream over testdata table `table` replays:
    * the file source lists a directory and a testdata table is one
    * parquet file, so it is staged (once per source version,
    * [[graft.ops.stageReplayCopy]]) into `<scratchRoot>/<prefix>_<key>`,
    * keyed on the full sanitized source path so two sfDirs never share
    * a replay directory.
    */
  def replayDir(spark: SparkSession, sfDir: String, table: String, prefix: String): String = {
    val src = s"$sfDir/$table.parquet"
    graft.ops.stageReplayCopy(spark, src, s"${graft.ops.scratchRoot(spark)}/${prefix}_" +
      src.replaceAll("[^A-Za-z0-9.]", "_"), s"$table.parquet")
  }

  /** Start `writer` with the AvailableNow trigger and block until every
    * file available at start has been processed. The query is stopped
    * in a `finally`: a micro-batch that fails rethrows here (as a
    * `StreamingQueryException`) and leaves no active query behind in
    * its session (StreamingSpec pins both).
    */
  def drain(writer: DataStreamWriter[_]): Unit = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination()
    finally q.stop()
  }

  /** Drain `df` into a driver-memory sink under a unique name and
    * return the sink table — a verification harness for small,
    * aggregated results; a pipeline lands parquet via [[toParquet]].
    */
  def toMemory(df: DataFrame, mode: String): DataFrame = {
    val sink = s"graft_stream_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    drain(df.writeStream.format("memory").queryName(sink).outputMode(mode))
    df.sparkSession.table(sink)
  }

  /** Drain `df` in append mode into the parquet file sink at `path`,
    * checkpointed at `<path>-chk`, so a second run against the same
    * path replays nothing (exactly-once across restarts).
    */
  def toParquet(df: DataFrame, path: String, partitionBy: String*): Unit =
    drain(df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", s"$path-chk")
      .partitionBy(partitionBy: _*)
      .outputMode("append"))
}
