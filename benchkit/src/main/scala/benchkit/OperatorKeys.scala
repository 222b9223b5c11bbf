package benchkit

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.{SparkEntry, Tables}

/** Operator keys from `SparkEntry.queries`, built and executed the way
  * `graft.Bench.once` does (build the DataFrame, `count()` it, clear
  * the cache). No gate here: source resolution (`Tables.load`),
  * Catalyst and Spark jobs/shuffle are what this workload prices.
  */
object OperatorKeys {
  /** The relational and verb keys. */
  val keys: Seq[String] = Seq("q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q9_product_profit", "q18_large_orders", "agg_rollup", "join_inner", "window_rank",
    "set_except", "scalar_json", "subquery_exists", "verb_update", "verb_merge")
  // pipeline_e2e is left out: its DuckDB oracle alone takes ~85 s on
  // sf0.1, more than a whole run may spend.

  def run(root: SparkSession, args: Main.Args, o: Outcome): Unit = {
    val rng = new scala.util.Random(args.seed)
    val fns = SparkEntry.queries
    // set-up: a fresh session resolving every source table (listing,
    // footer, schema) — the work a per-session source registry would
    // keep. The last one is the session the answers and passes use.
    // Set-ups keep getting faster for the first few (JIT), so the
    // median is taken over enough of them to sit past that.
    val spark = Main.setups(9, o) {
      val s = root.newSession()
      Tables.names.foreach(n => Tables.load(s, args.sfDir, n).schema)
      s
    }(_ => ())
    // untimed answers, in the layout tools/localcheck.py reads; the
    // oracle compare itself runs after this JVM exits
    val dir = args.work.resolve("keys")
    Files.createDirectories(dir)
    val answerS = collection.mutable.LinkedHashMap.empty[String, Double]
    val expected = keys.map { k =>
      val path = dir.resolve(k).toString
      val t0 = System.nanoTime()
      val n = try {
        fns(k)(spark, args.sfDir).write.mode("overwrite").parquet(path)
        spark.read.parquet(path).count()
      } catch { case e: Exception => o.check(s"$k answer", Some(e.toString)); -1L }
      spark.catalog.clearCache()
      answerS(k) = (System.nanoTime() - t0) / 1e9
      k -> n
    }.toMap
    o.detail("answer_s") = answerS
    Files.writeString(dir.resolve("oracle_sql.json"),
      Json(SparkEntry.oracleSql.filter(kv => keys.contains(kv._1))))
    Main.log("answers written")
    o.detail("keys_dir") = dir.toString
    o.detail("key_rows") = expected

    val windowNs = (args.seconds * 1e9).toLong
    val start = System.nanoTime()
    val before = if (args.trace) Counters.snap() else null
    val build = collection.mutable.Map.empty[String, Vector[Double]]
    val exec = collection.mutable.Map.empty[String, Vector[Double]]
    val windowNsBy = Array(0L, 0L) // untraced, traced
    var pass = 0
    var req = 0L
    val keyOf = collection.mutable.Map.empty[Long, String]
    // whole passes while the window is open, so every key runs equally
    // often and the throughput does not depend on which keys a partial
    // pass would reach; at least one pass (two in traced runs, which
    // alternate untraced and traced passes)
    def open = System.nanoTime() < start + windowNs || pass < (if (args.trace) 2 else 1)
    while (open) {
      val traced = args.trace && pass % 2 == 1
      val p0 = System.nanoTime()
      rng.shuffle(keys).foreach { k =>
        req += 1
        keyOf(req) = k
        Trace.on = traced
        val t0 = System.nanoTime()
        val res = try Trace.request(req) {
          Trace.span("op.key") {
            val df = Trace.span(s"keys.$k.build")(fns(k)(spark, args.sfDir))
            val t1 = System.nanoTime()
            val n = Trace.span(s"keys.$k.exec")(df.count())
            Right((t1, n))
          }
        } catch { case e: Exception => Left(e.toString) }
        val t2 = System.nanoTime()
        Trace.on = false
        spark.catalog.clearCache()
        val err = res.fold(Some(_), { case (_, n) =>
          if (n == expected(k)) None else Some(s"$n rows, expected ${expected(k)}") })
        o.check(k, err)
        res.foreach { case (t1, _) =>
          if (err.isEmpty) o.sample(k, (t2 - t0) / 1e6, traced)
          if (traced) {
            build(k) = build.getOrElse(k, Vector.empty) :+ (t1 - t0) / 1e6
            exec(k) = exec.getOrElse(k, Vector.empty) :+ (t2 - t1) / 1e6
          }
        }
      }
      windowNsBy(if (traced) 1 else 0) += System.nanoTime() - p0
      pass += 1
    }
    o.windowS = windowNsBy(0) / 1e9
    o.tracedWindowS = windowNsBy(1) / 1e9
    def keysSum(ks: Seq[String], m: collection.Map[String, Vector[Double]]) =
      ks.map(k => Stats.median(m.getOrElse(k, Vector.empty))).sum
    o.detail ++= Seq("passes" -> pass, "keys.total_s" -> keysSum(keys, o.samples) / 1000)
    if (args.trace) {
      val L = o.layer
      val window = Counters.snap() - before
      L ++= Counters.perOp(window, o.tracedSamples.values.map(_.size).sum)
      // keys.<k>.build + keys.<k>.exec over the traced keys' wall time
      val spans = Trace.all
      L("trace.accounted_ratio") = Trace.coveredMs(spans, spans.filter(_.name == "op.key")) /
        o.tracedSamples.values.flatten.sum
      // Spark jobs per key, attributed through the job groups set
      // around each traced key
      o.detail("jobs_per_key") = Counters.jobsByReq.asScala.toSeq
        .collect { case (r, n) if keyOf.contains(r) => keyOf(r) -> n.get }.toMap
      L("keys.build_ms") = keysSum(keys, build)
      L("keys.exec_ms") = keysSum(keys, exec)
      keys.foreach { k =>
        L(s"keys.$k.build_ms") = Stats.median(build.getOrElse(k, Vector.empty))
        L(s"keys.$k.exec_ms") = Stats.median(exec.getOrElse(k, Vector.empty))
      }
      L("keys.total_s") = keysSum(keys, o.tracedSamples) / 1000
    }
  }
}
