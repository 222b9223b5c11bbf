package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver testdata (TESTDATA.md / FIXTURES.md).
  *
  * All tables are plain parquet scans — Catalyst prunes columns and
  * pushes predicates down to the vectorized parquet reader, so callers
  * should select/filter on the returned DataFrame and let the optimizer
  * shrink the scan (verified via `.explain`: `PushedFilters`/`ReadSchema`).
  *
  * Each source's footer schema is resolved once per process (the
  * reference registers a table once and serves every later query from
  * that registration). Inferring it is a Spark job
  * (`ParquetUtils.inferSchema` → `mergeSchemasInParallel`); reading
  * with the known schema starts none. [[parquet]] keeps, per source
  * path, the `StructType` it inferred, keyed by
  *   - the path's leaf files (path, length, mtime) from a Hadoop FS
  *     listing (`listStatus`, recursive), and
  *   - the session's explicitly set `spark.sql.parquet.*` and
  *     `spark.sql.legacy.parquet.*` confs, which change what inference
  *     returns (`nanosAsLong` for `events`, `binaryAsString`, …).
  * A changed listing (a file rewritten, added or removed) re-infers and
  * replaces the path's entry with all its schemas. A conf set not seen
  * yet re-infers and adds one schema beside the others: loading
  * `events` sets `nanosAsLong` on its session, so sessions that have
  * loaded it and sessions that have not both read the other tables,
  * and one schema per path would make them evict each other. Only
  * schemas are kept: no rows, plans, file index or session, so the map
  * is bounded by the source paths times the conf sets in use, every
  * load still lists the files and every query still reads them. The
  * schemas are shared across sessions, including the `newSession()`
  * engines the verb keys build.
  *
  * At 100 TB these would be partitioned/bucketed tables; the loader is
  * the single seam where that layout knowledge would live.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** `events.ts` has shipped in two physical forms across testdata
    * generations: INT64 TIMESTAMP(NANOS) — which Spark's reader rejects
    * by default, so it is read as raw nanos (legacy conf) and truncated
    * to microseconds, matching DuckDB's ns→µs cast — and native
    * timestamp[us] with isAdjustedToUTC=false, which Spark reads as
    * TIMESTAMP_NTZ. Either way the column is normalized to a
    * first-class session-tz TimestampType: the session runs UTC, so the
    * NTZ→TZ cast keeps the wall clock, and the DuckDB oracle's
    * `ts::TIMESTAMP` is the same truncation/no-op on its side.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  /** Read one testdata table (see [[normalizeTs]] for `events`). */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = name match {
    case "events" => normalizeTs(rawEvents(spark, sfDir))
    case other => parquet(spark, s"$sfDir/$other.parquet")
  }

  /** `events` as stored, before [[normalizeTs]]: an INT64 nanos `ts`
    * reads as raw nanos under the legacy conf this sets on `spark`.
    * The batch loader and the event stream's source schema both come
    * from here, so the footer is resolved once per process for both.
    */
  private[graft] def rawEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    parquet(spark, s"$sfDir/events.parquet")
  }

  /** A resolved source: the file listing its schemas were inferred
    * from, and one schema per parquet-conf set seen with that listing.
    */
  private[graft] final case class Resolved(
      files: Seq[(String, Long, Long)], schemas: Map[Map[String, String], StructType])

  /** Qualified source path → its resolution (one entry per path). */
  private[graft] val resolved = new java.util.concurrent.ConcurrentHashMap[String, Resolved]()

  /** `spark.read.parquet(path)`, with the footer schema inferred only
    * when the path's files changed or the session's parquet confs were
    * not seen with them yet (see the object doc).
    */
  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // listed BEFORE the read: a file rewritten in between then keys
    // the new schema under the old listing, and the next load misses
    val files =
      try Some(leaves(fs, p).sorted)
      catch { case _: java.io.FileNotFoundException => None }
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }
    val key = fs.makeQualified(p).toString
    files match {
      case None => spark.read.parquet(path) // Spark reports the missing path
      case Some(listed) =>
        Option(resolved.get(key)).filter(_.files == listed).flatMap(_.schemas.get(confs)) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            // same files: add this conf set; new files: drop every older schema
            resolved.merge(key, Resolved(listed, Map(confs -> df.schema)), (old, neu) =>
              if (old.files == listed) old.copy(schemas = old.schemas ++ neu.schemas) else neu)
            df
        }
    }
  }

  /** (path, length, mtime) of every file under `p`. `listStatus`, not
    * `listFiles`: a `LocatedFileStatus` copies the permission fields,
    * which the local FS reads by running a shell command per file
    * (about 5 ms a file on a 4-vCPU Linux VM).
    */
  private def leaves(fs: FileSystem, p: Path): Seq[(String, Long, Long)] =
    fs.listStatus(p).toSeq.flatMap { s =>
      if (s.isDirectory) leaves(fs, s.getPath)
      else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
    }

  def region(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "lineitem")
  def events(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "events")
  def documents(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** Register the named testdata tables as temp views in `spark`'s
    * session-local catalog, so `spark.sql` (CTEs, multi-table SQL) can
    * name them exactly as the DuckDB oracle does.
    */
  def register(spark: SparkSession, sfDir: String, which: String*): Unit =
    which.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
