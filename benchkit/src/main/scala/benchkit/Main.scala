package benchkit

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** What a workload hands back: per-kind latency samples (ms) of the
  * operations completed in its measured window — untraced and, in
  * traced runs, traced — the length of each window, and the failures
  * it saw.
  */
final class Outcome {
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
  val tracedSamples = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
  val failures = Vector.newBuilder[String]
  var attempted = 0L
  var failed = 0L
  var windowS = Double.NaN
  var tracedWindowS = Double.NaN
  var setups = Vector.empty[Double]
  /** Per-layer metrics (traced runs) and workload-specific detail. */
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val detail = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  def sample(cls: String, ms: Double, traced: Boolean = false): Unit = synchronized {
    val m = if (traced) tracedSamples else samples
    m(cls) = m.getOrElse(cls, Vector.empty) :+ ms
  }

  /** Count one checked operation; `err` marks it failed. */
  def check(what: => String, err: Option[String]): Unit = synchronized {
    attempted += 1
    err.foreach { e =>
      failed += 1
      if (failed <= 20) failures += s"$what: $e"
    }
  }
}

/** Workload-independent end-to-end metrics. */
object E2e {
  /** `ops_per_s`: checked operations completed in the measured window
    * ÷ the window's length. `op_ms_geo`: the geometric mean over
    * operation kinds of each kind's mean latency. A mean, not a median,
    * so a kind served in two modes (a cache hit or a miss) moves with
    * the share of each mode instead of flipping between them.
    */
  def of(samples: collection.Map[String, Vector[Double]], windowS: Double): Map[String, Double] =
    Map("ops_per_s" -> samples.values.map(_.size).sum / windowS,
      "op_ms_geo" -> Stats.geomean(samples.values.map(v => Stats.mean(v)).toSeq))

  /** Per-class mean, median and supported tail, for the record. */
  def classes(samples: collection.Map[String, Vector[Double]]): Map[String, Any] =
    samples.map { case (k, v) =>
      k -> Map("n" -> v.size, "mean_ms" -> Stats.mean(v), "p50_ms" -> Stats.median(v),
        "tail" -> Stats.tail(v).map { case (p, x) => Map("p" -> p, "ms" -> x) })
    }.toMap
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, sfDir: String, work: Path, out: Path)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("sf"), Paths.get(m("work")), Paths.get(m("out")))
  }

  val cpus = 4

  private val t0 = System.nanoTime()

  /** Progress line on stderr (the run's JVM log). */
  def log(msg: String): Unit =
    System.err.println(f"[benchkit ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")

  def session(work: Path, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("benchkit")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.graft.scratchDir", work.resolve("scratch").toString)
      // whole-table Arrow replies funnel through the driver
      .config("spark.driver.maxResultSize", "0")
      .config("spark.task.maxDirectResultSize", "100m")
      .config("spark.rpc.message.maxSize", "256")
    if (traced)
      b.config("spark.sql.queryExecutionListeners", classOf[Counters.QeListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) {
      spark.sparkContext.addSparkListener(new Counters.Listener)
      Trace.spark = Some(spark)
    }
    spark
  }

  /** Box-rate calibration: the fixed xxhash64 fold `graft.Bench` uses. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 50000000L, 1L, cpus).selectExpr("max(xxhash64(id)) AS h").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** `n` timed set-ups, whose median is `setup_s`. All but the last are
    * torn down; the last is the one the workload then measures.
    */
  def setups[T](n: Int, o: Outcome)(build: => T)(teardown: T => Unit): T = {
    var last: Option[T] = None
    val times = (1 to n).map { _ =>
      last.foreach(teardown)
      val t0 = System.nanoTime()
      val v = build
      last = Some(v)
      val s = (System.nanoTime() - t0) / 1e9
      log(f"setup $s%.3f s")
      s
    }
    o.setups = times.toVector
    last.get
  }

  def main(argv: Array[String]): Unit = {
    // a gate or listener thread left behind must not keep the JVM
    // alive, whether or not the run got as far as its result file
    val code = try { run(parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(args: Args): Unit = {
    Files.createDirectories(args.work)
    val spark = session(args.work, args.trace)
    val o = new Outcome
    val t0 = System.nanoTime()
    try args.workload match {
      case "gate_serve"    => GateServe.run(spark, args, o)
      case "operator_keys" => OperatorKeys.run(spark, args, o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        o.check("workload", Some(s"aborted: $e"))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cal = calibrate(spark)
    val e2e = Map("setup_s" -> Stats.median(o.setups)) ++ E2e.of(o.samples, o.windowS)
    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "cpus" -> cpus, "attempted" -> o.attempted, "failed" -> o.failed,
      "fail_ratio" -> (if (o.attempted == 0) 1.0 else o.failed.toDouble / o.attempted),
      "failures" -> o.failures.result(), "e2e" -> e2e,
      "setup_samples_s" -> o.setups, "classes" -> E2e.classes(o.samples),
      "window_s" -> o.windowS, "workload_wall_s" -> wall,
      "calibration_s" -> cal,
      "detail" -> o.detail)
    if (args.trace) {
      val traced = if (o.tracedSamples.nonEmpty) E2e.of(o.tracedSamples, o.tracedWindowS) else Map.empty[String, Double]
      // overhead: per operation kind timed both ways in this run, the
      // traced mean over the untraced one; their geometric mean
      val common = o.tracedSamples.keySet.intersect(o.samples.keySet).toSeq
      val overhead = Stats.geomean(common.map(c =>
        Stats.mean(o.tracedSamples(c)) / Stats.mean(o.samples(c))))
      o.layer("trace.overhead_ratio") = overhead
      val spans = Trace.all
      val spanFile = args.out.resolveSibling(args.out.getFileName.toString + ".spans.jsonl")
      Trace.write(spanFile)
      result ++= Seq("layer" -> o.layer, "traced_e2e" -> traced,
        "self_time_ms" -> Trace.selfTimes(spans).map { case (k, (n, tot, self)) =>
          k -> Map("n" -> n, "total_ms" -> tot, "self_ms" -> self) },
        "spans_file" -> spanFile.toString)
    }
    Files.writeString(args.out, Json(result))
    spark.stop()
  }
}
