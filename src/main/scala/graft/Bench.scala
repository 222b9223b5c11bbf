package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-key timings of every `SparkEntry` key, printed as one
  * `{"metric":"total",…}` JSON line.
  *
  * Each run of a key is its own Spark job group, `<key>#<run>`. To
  * attribute the jobs, stages and bytes of a run to its key, turn on
  * Spark's event log with stock confs and read it with
  * `tools/evprof.py`:
  * {{{
  * mkdir -p /tmp/sparklogs
  * SPARK_GRAFT_KEYS=join_skewed sbt 'set javaOptions ++= Seq("-Dspark.eventLog.enabled=true","-Dspark.eventLog.dir=/tmp/sparklogs")' "runMain graft.Bench"
  * python3 tools/evprof.py /tmp/sparklogs/eventlog_v2_<app-id>
  * }}}
  * A streaming key's micro-batch jobs run under the query's own job
  * group; they carry the run in local property [[RunProperty]]
  * instead, which evprof groups by when it is present.
  */
object Bench {
  /** Local property naming the key run (`<key>#<run>`) a job belongs
    * to. Spark clones local properties into the threads a run starts,
    * so it also reaches the micro-batch jobs of a streaming key, whose
    * job group Spark sets to the query's runId.
    */
  val RunProperty = "graft.bench.run"

  /** One timed run of key `name`: build its DataFrame, `count()` it,
    * then drop the session's cached frames. Returns (succeeded,
    * seconds); failures must NOT feed the min — a run that throws
    * after 0.05s would otherwise beat the honest 3s run and be
    * published as an excellent timing with no error signal.
    *
    * Every job the run starts is in job group `<name>#<run>` and
    * carries it in [[RunProperty]]. Both are cleared in a `finally`, so
    * a key that throws cannot leak them into the next key's jobs.
    */
  private[graft] def once(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame, run: Int): (Boolean, Double) = {
    val t0 = System.nanoTime()
    val ok =
      try {
        spark.sparkContext.setJobGroup(s"$name#$run", s"$name run $run")
        spark.sparkContext.setLocalProperty(RunProperty, s"$name#$run")
        fn(spark, sfDir).count(); true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.setLocalProperty(RunProperty, null)
      }
    val secs = (System.nanoTime() - t0) / 1e9
    // each query's own cache fills inside its timing; dropping them
    // between queries keeps 100+ successive runs from evicting each
    // other (a long-lived server would scope caches the same way)
    try spark.catalog.clearCache() catch { case _: Throwable => () }
    (ok, secs)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // dev-loop only: comma-separated key filter (driver runs the full set)
    val only: Set[String] = sys.env.get("SPARK_GRAFT_KEYS")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm up once outside the timings: JIT, codegen cache, parquet
    // footer reads — so the first timed query isn't charged for JVM
    // startup the way a long-running cluster never would be.
    try {
      spark.sql("SELECT 1").count()
      SparkEntry.queries("count_star")(spark, sfDir).count()
    } catch { case _: Throwable => () }
    // run number per key, so every run lands in its own job group
    val runsOf = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    def timed(name: String, fn: (SparkSession, String) => DataFrame): (Boolean, Double) = {
      runsOf(name) += 1
      once(spark, sfDir, name, fn, runsOf(name))
    }
    // DERANGED (seeded-hash) key order, not alphabetical: round 14's
    // driver pass hit one ~30 s contention window that tainted BOTH
    // min-of-2 samples of every key in an alphabetically contiguous
    // stretch (join_skewed → pii_scrub, peak 58×). Hashing the name
    // decorrelates operator families from wall-clock windows; the
    // order is still deterministic run-to-run (md5, no RNG state).
    def h(name: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(("bench-order:" + name).getBytes("UTF-8"))
      d.map(b => f"$b%02x").mkString
    }
    // BOX-RATE CALIBRATION: a fixed CPU-bound fold (seeded hash over
    // spark.range — no I/O, no shuffle beyond the final 1-row
    // aggregate), timed at sweep start / middle / end. The driver box
    // and the idle-anchor box run the SAME constant work, so
    // driver-vs-anchor bench ratios are read AFTER dividing out the
    // calibration shift (BASELINE.md discipline): sustained background
    // load shows up here as uniformly slower calibration, separating
    // box rate from code regressions without a judge adjudicating.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      // max, not sum: xxhash64 spans the full Long range and an ANSI
      // sum overflows — max keeps the identical per-row hash work
      spark.range(0L, 50000000L, 1L, cpus.toInt)
        .selectExpr("max(xxhash64(id)) AS h").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // calibration only on FULL-SET runs: a filtered dev-loop run never
    // writes the driver artifact, so it must not pay ~200M hashed rows
    // for samples nobody reads
    val doCal = only.isEmpty
    if (doCal) calibrate() // untimed: JIT/codegen warm-up of the pipeline
    val calStart = if (doCal) calibrate() else 0.0
    val keys = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .sortBy { case (name, _) => h(name) }
    var calMid = 0.0
    val sweep = keys.zipWithIndex
      .map { case ((name, fn), i) =>
        if (doCal && keys.nonEmpty && i == keys.size / 2) calMid = calibrate()
        // min-of-2 (min-of-3 for sub-second keys): a single timing is
        // at the mercy of machine contention — round 3's driver bench
        // showed untouched keys "regressing" 4-7× from background load
        // alone. The minimum over SUCCESSFUL runs is the number that
        // reflects the code; all-failed keys report the max elapsed
        // (pessimistic, and the stderr line names the error).
        val two = Seq(timed(name, fn), timed(name, fn))
        val runs = if (two.exists(r => r._1 && r._2 < 1.0)) two :+ timed(name, fn) else two
        val good = runs.filter(_._1).map(_._2)
        name -> (good.nonEmpty, if (good.nonEmpty) good.min else runs.map(_._2).max)
      }
    // post-sweep outlier re-run: back-to-back samples share any
    // sustained contention window (min-of-N cannot see past it), so a
    // key whose min still reads > 4× its committed idle anchor gets
    // ONE more run after the whole sweep — minutes later in wall
    // clock, outside the window that inflated it. Anchor-less keys
    // (new this round) are left alone. Anchors and artifacts live in
    // `bench/` of the working directory — the checkout the run starts
    // from (sbt's forked run starts in the project base) — so a run
    // from another copy never touches this one's maps.
    val anchor: Map[String, Double] = {
      val dir = new java.io.File("bench")
      val f = Option(dir.listFiles()).toSeq.flatten
        .filter(_.getName.matches("BENCH_local_r\\d+_idle\\.json"))
        .sortBy(_.getName.replaceAll("\\D", "").toInt).lastOption
      f.map { file =>
        val txt = java.nio.file.Files.readString(file.toPath)
        "\"([A-Za-z0-9_]+)\":\\s*([0-9.Ee+-]+)".r.findAllMatchIn(
            txt.drop(txt.indexOf("\"queries\"")))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }.getOrElse(Map.empty)
    }
    val byName = SparkEntry.queries
    val results = sweep.map { case (name, (ok, secs)) =>
      val retry = ok && anchor.get(name).exists(a => secs > 4 * a)
      if (!retry) name -> secs
      else {
        val (rOk, rSecs) = timed(name, byName(name))
        System.err.println(f"[bench] outlier re-run $name: $secs%.2fs -> $rSecs%.2fs")
        name -> (if (rOk) math.min(secs, rSecs) else secs)
      }
    }.sortBy(_._1)
    val calEnd = if (doCal) calibrate() else 0.0
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // calibration sits BEFORE "queries": the anchor-parsing regex
    // reads everything after the "queries" token, and the cal keys
    // must not leak into the per-key anchor map
    val cal =
      if (doCal) f""","calibration":{"start":$calStart%.3f,"mid":$calMid%.3f,"end":$calEnd%.3f}"""
      else ""
    val json = s"""{"metric":"total","value":$total,"unit":"sec"$cal,"queries":$qs,"sf":"$sfDir"}"""
    println(json)
    // the driver's captured stdout tail truncates at 2000 chars, which
    // loses the per-key map — persist the full line so every round's
    // driver bench is diffable (tools/benchdiff.py) from the file
    // alone. FULL-SET runs only: a dev-loop single-key run
    // (SPARK_GRAFT_KEYS set) must never clobber a driver artifact
    // (round 14's 210.6 s map was overwritten during judging by
    // exactly such a run). The per-core-count copy keeps one map per
    // `local[cpus]` width, so an 8-core run no longer replaces the
    // 32-core one.
    if (only.isEmpty) try {
      val p = java.nio.file.Paths.get("bench", "BENCH_driver_latest.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, json + "\n")
      java.nio.file.Files.writeString(p.resolveSibling(s"BENCH_driver_latest_c$cpus.json"), json + "\n")
    } catch {
      case e: Throwable => System.err.println(s"[bench] artifact write failed: $e")
    }
    spark.stop()
  }
}
