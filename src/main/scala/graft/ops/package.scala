package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Shared helpers for the operator modules.
  *
  * Determinism rules (SURVEY §5.2) enforced here:
  *  - money sums round to 2, averages/ratios to 6 — double summation
  *    order differs between Spark and the DuckDB oracle, so raw sums
  *    of binary-inexact decimals can differ in the last ulps;
  *  - every hash used in dedup/fingerprint operators derives from md5
  *    (identical lowercase-hex output in both engines), never from
  *    engine-native `hash`/`xxhash64` which DuckDB cannot replicate.
  */
package object ops {

  type Q = (SparkSession, String) => DataFrame

  def r2(c: Column): Column = round(c, 2)
  def r4(c: Column): Column = round(c, 4)
  def r6(c: Column): Column = round(c, 6)

  /** Portable rounding for PER-ROW continuous doubles: `round(x, n)`
    * diverges between engines when x·10ⁿ lands near a half (Spark
    * rounds the exact binary value via BigDecimal; DuckDB multiplies
    * then rounds the distorted product). floor(x·10ⁿ + 0.5)/10ⁿ is the
    * same double arithmetic on both sides → bit-identical output.
    * Aggregate outputs (sums/avgs over many rows) keep plain round():
    * their probability of an exact half is ~2⁻⁴⁰, and the SQL stays
    * readable.
    */
  def pr2(c: Column): Column = floor(c * 100 + 0.5) / 100
  def pr4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
  def pr6(c: Column): Column = floor(c * 1000000 + 0.5) / 1000000

  /** DuckDB twins of pr2/pr4/pr6 (inline SQL text). */
  def sqlPr(x: String, pow: Long): String = s"floor(($x) * $pow + 0.5) / $pow"

  /** First 32 bits of md5 as a non-negative long — portable hash.
    * DuckDB twin: `('0x' || substr(md5(x), 1, 8))::BIGINT`.
    */
  def h32(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast(LongType)

  /** Bits 33..64 of md5 as a non-negative long (second word). */
  def h32b(c: Column): Column =
    conv(substring(md5(c.cast("string")), 9, 8), 16, 10).cast(LongType)

  /** Seeded portable hash: md5 of "<seed>:<value>".
    * DuckDB twin: `('0x' || substr(md5(s::VARCHAR || ':' || x), 1, 8))::BIGINT`.
    */
  def h32Seeded(seed: Column, c: Column): Column =
    conv(substring(md5(concat(seed.cast("string"), lit(":"), c.cast("string"))), 1, 8), 16, 10)
      .cast(LongType)

  /** ⌈N/3⌉-rank tercile thresholds over one bounded-domain column —
    * the quantize-then-rank move shared by quality_buckets and
    * rfm_segments so the rank convention cannot drift between keys
    * (round-13 review): value histogram → cumulative window over the
    * BOUNDED histogram (never the row set) → the smallest values whose
    * cumulative count reaches ⌈N/3⌉ / ⌈2N/3⌉, returned as a 1-row
    * frame the caller broadcast-joins back. DuckDB twin:
    * [[tercileCutsSql]].
    */
  def tercileCuts(values: DataFrame, vcol: String, a1: String, a2: String): DataFrame = {
    val hist = values.groupBy(col(vcol).as("v")).agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum", sum(col("c")).over(Window.orderBy(col("v"))))
    val n = values.agg(count(lit(1)).as("nn"))
    cum.crossJoin(broadcast(n))
      .agg(min(when(col("cum") >= expr("(nn + 2) div 3"), col("v"))).as(a1),
        min(when(col("cum") >= expr("(2 * nn + 2) div 3"), col("v"))).as(a2))
  }

  /** DuckDB twin of [[tercileCuts]]: given a histogram CTE
    * `<hist>(v, c)` and a 1-row count CTE `n(nn)`, emits the
    * cumulative CTE `c<out>` and the 1-row threshold CTE `<out>(a1, a2)`.
    */
  def tercileCutsSql(hist: String, out: String, a1: String, a2: String): String =
    s"""c$out AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM $hist),
       |$out AS (SELECT min(CASE WHEN cum >= (nn + 2) // 3 THEN v END) AS $a1,
       |              min(CASE WHEN cum >= (2 * nn + 2) // 3 THEN v END) AS $a2
       |       FROM c$out, n)""".stripMargin

  /** Whitespace tokenization of `documents.text` (single-space-joined
    * tokens per FIXTURES.md). DuckDB twin: `string_split(text, ' ')`.
    */
  def toks(c: Column): Column = split(c, " ")

  /** Tokens of the `text` column — [[toks]] over `documents.text`. */
  def tokens: Column = toks(col("text"))

  /** `documents` spread across the cluster before per-row text work
    * (a tiny single-file scan would otherwise serialize all hashing on
    * one core — see [[spread]]).
    */
  def docs(s: SparkSession, d: String): DataFrame = spread(graft.Tables.documents(s, d))

  /** Session-derived scratch root for staged indexes, replay
    * directories and stream sinks: `spark.graft.scratchDir` when set,
    * else `<spark.sql.warehouse.dir>/_graft_scratch`. Never a
    * hardcoded repo path, so the engine works from any working
    * directory (VERDICT r10 #8). A bare local-warehouse `file:` scheme
    * is stripped so the string stays usable by harness-side java.nio
    * consumers; any OTHER scheme (`hdfs://`, `s3a://`) passes through
    * untouched — the artifact machinery itself routes every probe,
    * move, and delete through Hadoop [[hfs]] (r18), so a cluster
    * deployment points `spark.graft.scratchDir` at the shared store
    * the executors read the published lists from.
    */
  def scratchRoot(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.scratchDir")
      .getOrElse(spark.conf.get("spark.sql.warehouse.dir") + "/_graft_scratch")
      .stripPrefix("file:")

  // ---- Hadoop-FileSystem path machinery (VERDICT r17 #1) ----------------
  //
  // Every existence/type/listing probe and every artifact move the
  // serve paths rely on goes through `org.apache.hadoop.fs.FileSystem`,
  // NOT java.io.File: a java.io probe answers `false` for any
  // `hdfs://`/`s3a://` path, so on a cluster store readLists' shard
  // pruning would silently fall back to an O(cells) root listing (the
  // exact NameNode regression the r17 shard layer exists to prevent)
  // and stagedArtifact would rebuild every run. One helper call = one
  // driver-side RPC, the same cost class as the stat it replaces; the
  // FileSystem instance is cached per (scheme, authority) by Hadoop.

  /** FileSystem + parsed Path for `p` under the session's Hadoop conf
    * (which carries the cluster's credentials/defaultFS, unlike a
    * bare `new Configuration()`). Reads the SparkContext's LIVE conf
    * rather than `sessionState.newHadoopConf()` — the latter clones
    * ~1k properties per call, and serve paths that compose several
    * staged artifacts make dozens of probe calls per query (measured
    * as a few tenths of a second on the artifact-heavy serve keys).
    * The probes never mutate the conf.
    */
  private[graft] def hfs(spark: SparkSession, p: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val hp = new org.apache.hadoop.fs.Path(p)
    (hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
  }

  private[graft] def hfsExists(spark: SparkSession, p: String): Boolean = {
    val (fs, hp) = hfs(spark, p); fs.exists(hp)
  }

  private[graft] def hfsIsDir(spark: SparkSession, p: String): Boolean = {
    val (fs, hp) = hfs(spark, p)
    try fs.getFileStatus(hp).isDirectory
    catch { case _: java.io.FileNotFoundException => false }
  }

  private[graft] def hfsMkdirs(spark: SparkSession, p: String): Unit = {
    val (fs, hp) = hfs(spark, p); fs.mkdirs(hp); ()
  }

  private[graft] def hfsDelete(spark: SparkSession, p: String): Unit = {
    val (fs, hp) = hfs(spark, p); fs.delete(hp, true); ()
  }

  /** Child statuses of `p` (empty when `p` is absent) — the
    * `_spark_metadata` batch-log listing compactStreamedLists reads.
    */
  private[graft] def hfsList(spark: SparkSession, p: String)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val (fs, hp) = hfs(spark, p)
    if (fs.exists(hp)) fs.listStatus(hp).toIndexedSeq else Seq.empty
  }

  /** Full UTF-8 text of one SMALL control file (markers, commit
    * logs) — never data.
    */
  private[graft] def hfsReadText(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Copy ONE file `src` → `dst`, optionally stamping the copy with
    * the source's mtime so size+mtime staleness checks (see
    * [[stageReplayCopy]]) stay valid across copies — Hadoop's
    * FileUtil.copy does not preserve times the way java.nio
    * COPY_ATTRIBUTES did. `overwrite = false` restores java.nio
    * Files.copy's write-once failure mode for callers whose dst is an
    * arrival unit (a double-stage of the same stream window must fail
    * loudly, not silently replace the file — r18 advice).
    */
  private[graft] def hfsCopyFile(spark: SparkSession, src: String, dst: String,
      preserveMtime: Boolean = false, overwrite: Boolean = true): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sp = new org.apache.hadoop.fs.Path(src)
    val dp = new org.apache.hadoop.fs.Path(dst)
    val sfs = sp.getFileSystem(conf)
    val dfs = dp.getFileSystem(conf)
    if (!overwrite && dfs.exists(dp))
      throw new java.nio.file.FileAlreadyExistsException(dst)
    org.apache.hadoop.fs.FileUtil.copy(sfs, sp, dfs, dp, false, overwrite, conf)
    if (preserveMtime)
      dfs.setTimes(dp, sfs.getFileStatus(sp).getModificationTime, -1)
    ()
  }

  /** Stage ONE source parquet file into replay directory `dir` as
    * `name`, once per source version: re-copy only when the source's
    * size or mtime drifts from the staged copy's (two sfDirs never
    * share a replay dir — callers key `dir` on the full source path).
    * The file-stream sources list a DIRECTORY; testdata tables are
    * single files — this is the staging move of
    * [[graft.streaming.Streams.replayDir]].
    */
  private[graft] def stageReplayCopy(spark: SparkSession, src: String,
      dir: String, name: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sp = new org.apache.hadoop.fs.Path(src)
    val sfs = sp.getFileSystem(conf)
    val dp = new org.apache.hadoop.fs.Path(s"$dir/$name")
    val dfs = dp.getFileSystem(conf)
    val sst = sfs.getFileStatus(sp)
    val stamp = s"${sst.getLen}:${sst.getModificationTime}"
    // freshness: prefer the marker file when present — setTimes is a
    // NO-OP on object stores (the base FileSystem implementation,
    // e.g. S3A), so an mtime-only check re-copies the source on every
    // call exactly on the cluster stores this staging targets (r18
    // advice); the marker records the SOURCE's (len, mtime) the copy
    // was taken from, independent of what the dst store reports.
    // Underscore-prefixed: the replay dir is listed by file-stream
    // sources and plain parquet reads, both of which skip _-files.
    val mp = new org.apache.hadoop.fs.Path(s"$dir/_$name.stamp")
    val stale = !dfs.exists(dp) || {
      if (dfs.exists(mp)) hfsReadText(dfs, mp) != stamp
      else {
        val dst = dfs.getFileStatus(dp)
        dst.getLen != sst.getLen ||
          dst.getModificationTime != sst.getModificationTime
      }
    }
    if (stale) {
      dfs.mkdirs(new org.apache.hadoop.fs.Path(dir))
      org.apache.hadoop.fs.FileUtil.copy(sfs, sp, dfs, dp, false, true, conf)
      dfs.setTimes(dp, sst.getModificationTime, -1)
      if (dfs.getFileStatus(dp).getModificationTime != sst.getModificationTime) {
        // mtime stamp didn't take (object store): persist the source
        // stamp in the marker so the next call compares against it
        val out = dfs.create(mp, true)
        try out.write(stamp.getBytes("UTF-8")) finally out.close()
      } else if (dfs.exists(mp)) { dfs.delete(mp, false); () }
    }
    dir
  }

  /** Build-once staged publish for derived on-disk artifacts (MinHash
    * band indexes, IVF×PQ inverted lists), GENERATION-laid-out (r20,
    * VERDICT r19 #4): the artifact lives at
    * `<scratch>/<name>/g-<md5(stamp)>`. If that generation's `_built`
    * marker doesn't match `stamp`, run `build(stageDir)` against a
    * pid-unique staging directory and atomically rename it into
    * place — BESIDE any superseded generation, never over it (the
    * pre-r20 flat layout deleted the live dir BEFORE renaming the
    * replacement in: a crash or a concurrent reader in that window
    * found NO artifact at all). Only after the current generation is
    * live are superseded same-name generations deleted — new commits
    * before old retires, the BatchLog generation pattern — so a
    * rebuild under a new stamp leaves exactly one live dir and a
    * reader always resolves a complete artifact; an object-store
    * deployment would add a grace period before the retire, the way
    * table formats expire snapshots. A concurrent builder that loses
    * the rename race keeps the winner's copy and discards its own —
    * a lost race costs a duplicate build, never a torn index; racing
    * builders with DIFFERENT stamps are last-writer-wins, with ≥ 1
    * complete generation visible at every instant. Returns the
    * published generation directory. The freshness `stamp` is
    * typically [[sourceStamp]] of the parquet source the artifact
    * derives from, PLUS a build-format token when the build recipe
    * can evolve (see `Vectors.ivfIndexFormat`): source freshness
    * alone would serve an index built by an older code version —
    * silently wrong for every caller outside the oracle harness —
    * after any change to the encode logic, seeds, or layout.
    */
  def stagedArtifact(spark: SparkSession, name: String, stamp: String)(
      build: String => Unit): String = {
    import org.apache.hadoop.fs.Path
    val rootStr = s"${scratchRoot(spark)}/$name"
    // an artifact keyed on a source under a purge-registered run dir
    // (a per-run stream index, a staged fixture) can never be served
    // again once that source is gone: it leaves with it
    if (purgeRegistered.asScala.exists { p =>
        val k = p.replaceAll("[^A-Za-z0-9.]", "_")
        name.contains(k + "_") || name.endsWith(k)
      }) purgeOnExit(rootStr)
    val (fs, root) = hfs(spark, rootStr)
    val tag = "g-" + java.security.MessageDigest.getInstance("MD5")
      .digest(stamp.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val dir = new Path(root, tag)
    val marker = new Path(dir, "_built")
    val fresh = fs.exists(marker) && hfsReadText(fs, marker) == stamp
    if (!fresh) {
      val stage = new Path(s"$rootStr.build-${ProcessHandle.current().pid()}")
      build(stage.toString)
      val out = fs.create(new Path(stage, "_built"), true)
      try out.write(stamp.getBytes("UTF-8")) finally out.close()
      fs.mkdirs(root)
      // FileSystem.rename is mv-like: with `dir` absent this IS the
      // atomic publish. The two lost-race shapes both discard our
      // copy and keep the winner's: rename returns false (dest exists
      // as a file / src missing), or — when a concurrent winner
      // created `dir` between our check and rename — the rename lands
      // `stage` UNDER the winner's dir; detect and remove the nested
      // orphan. Either way: duplicate build, never a torn index.
      if (!fs.rename(stage, dir)) fs.delete(stage, true)
      else {
        val nested = new Path(dir, stage.getName)
        if (fs.exists(nested)) fs.delete(nested, true)
      }
      ()
      // RETIRE superseded generations — only now, with the current one
      // complete and visible, and ONLY on the path that just built
      // (r21, advisor finding): a pure READER must never delete — a
      // concurrent session still scanning the superseded generation
      // would otherwise lose its files mid-read every time any reader
      // arrived with a newer stamp. Builders are the natural retire
      // point (one per supersession instead of one per read), which
      // also keeps the fresh-path serve free of the O(children)
      // listing. Pre-r20 flat-layout leftovers reclaim through the
      // same sweep.
      hfsList(spark, rootStr)
        .filter(_.getPath.getName != tag)
        .foreach(st => fs.delete(st.getPath, true))
    }
    dir.toString
  }

  /** size+mtime stamp of a source file — the freshness key for
    * [[stagedArtifact]] builds derived from one parquet source.
    * Hadoop-stat'd (r18) so a `hdfs://`/`s3a://` source stamps
    * instead of throwing NoSuchFileException from java.nio.
    */
  def sourceStamp(spark: SparkSession, path: String): String = {
    val (fs, hp) = hfs(spark, path)
    val st = fs.getFileStatus(hp)
    s"${st.getLen}:${st.getModificationTime}"
  }

  private val purgeRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Register `path` for recursive deletion at JVM exit and return it
    * — for pid-scoped staging directories that would otherwise
    * accumulate one copy per run. A [[stagedArtifact]] built over a
    * source under `path` is purged with it.
    */
  def purgeOnExit(path: String): String = {
    // one hook per path: repeated calls from per-run operators (the
    // streaming index builds register their pid-scoped root on every
    // invocation) must not stack duplicate shutdown hooks
    if (purgeRegistered.add(path)) {
      // capture the Hadoop conf NOW (credentials/defaultFS live in the
      // active session's conf; at shutdown the session may be gone)
      val conf = org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sparkContext.hadoopConfiguration)
        .getOrElse(new org.apache.hadoop.conf.Configuration())
      sys.addShutdownHook {
        val hp = new org.apache.hadoop.fs.Path(path)
        // a NEW FileSystem instance: the shared cache may already be
        // closed by Spark's own shutdown hooks when this one runs
        val fs = org.apache.hadoop.fs.FileSystem.newInstance(hp.toUri, conf)
        try { fs.delete(hp, true); () } finally fs.close()
      }
    }
    path
  }

  /** `<scratchRoot>/<name>_<pid>`, purged at JVM exit; the first call
    * per root also runs [[sweepDeadRuns]].
    */
  def pidScopedDir(spark: SparkSession, name: String): String = {
    val root = scratchRoot(spark)
    sweepDeadRuns(spark, root)
    purgeOnExit(s"$root/${name}_${ProcessHandle.current().pid()}")
  }

  /** A fresh directory for one run of a staging or streaming operator:
    * `<scratchRoot>/<name>_<pid>/<uuid>`. The pid-scoped parent is
    * purged at JVM exit, and the uuid keeps concurrent and repeated
    * runs in one JVM apart.
    */
  def scratchRunDir(spark: SparkSession, name: String): String =
    pidScopedDir(spark, name) + s"/${java.util.UUID.randomUUID.toString.replace("-", "")}"

  private val sweptRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val PidScoped = """[^_].*_(\d{1,18})""".r

  /** Reclaim what dead JVMs left under a local scratch `root` (a
    * killed JVM runs no exit hook): each `<name>_<pid>` directory whose
    * pid has no live process — no `__` in the name, which every staged
    * artifact over an absolute path has — and each artifact keyed on a
    * source under one, present or not. Once per root and JVM; remote
    * stores are skipped, as a pid names a process on one host only.
    */
  private[graft] def sweepDeadRuns(spark: SparkSession, root: String): Unit =
    if (sweptRoots.add(root)) {
      val (fs, hp) = hfs(spark, root)
      if (fs.getUri.getScheme == "file") {
        // the first `_<digits>` after the root in an artifact's
        // embedded source path: the pid of the run dir it sits under
        val KeyedOn = (java.util.regex.Pattern.quote(root.replaceAll("[^A-Za-z0-9.]", "_")) +
          """_[A-Za-z0-9._]*?_(\d{1,18})(?:_|$)""").r.unanchored
        def dead(pid: String) = !ProcessHandle.of(pid.toLong).isPresent
        hfsList(spark, root).map(_.getPath.getName).filter {
          case n @ PidScoped(pid) if !n.contains("__") => dead(pid)
          case n @ KeyedOn(pid) if n.contains("__") => dead(pid)
          case _ => false
        }.foreach(n => fs.delete(new org.apache.hadoop.fs.Path(hp, n), true))
      }
    }

  /** Spread a small-file scan across the cluster before heavy per-row
    * compute. A sub-split-size parquet file arrives as ONE partition,
    * which would serialize hashing/shingling on one core; the shuffle
    * moves only the raw rows (cheap) and parallelizes everything
    * downstream.
    *
    * Guarded: a pre-split input (a 100 TB corpus already arrives in
    * thousands of partitions) passes through untouched — an
    * unconditional `repartition` there would move the entire corpus
    * once before any work. Only a scan narrower than half the cluster
    * gets the rebalancing shuffle.
    */
  def spread(df: DataFrame): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    // max(2, …): at parallelism 2-3 the halved threshold would round
    // down to 1 and never rebalance the single-partition scan this
    // helper exists for
    if (df.rdd.getNumPartitions < math.max(2, parallelism / 2))
      df.repartition(parallelism)
    else df
  }
}
