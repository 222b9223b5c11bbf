package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Per-job wall-clock attribution for one or more bench keys (guide
  * §1: measure first). Runs each key like Bench does (count action,
  * cache cleared between runs) with a listener that records every
  * Spark job's duration and its callsite, so a key's seconds decompose
  * into "which action at which line" — the evidence that picks the
  * optimization target. Dev-loop only; never part of the driver
  * contract.
  *
  * Usage: SPARK_GRAFT_KEYS=k1,k2 sbt "runMain graft.tools.Profile"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val keys = sys.env.getOrElse("SPARK_GRAFT_KEYS", "dedup_components")
      .split(",").map(_.trim).filter(_.nonEmpty)
    // event log as the RELIABLE attribution channel (r22): the shared
    // async listener queue can lag minutes behind under load, so the
    // in-process listener's per-key windows see stale events; the
    // EventLoggingListener runs on its own queue and the parsed log
    // carries job group = key attribution regardless of lag.
    val evDir = sys.env.getOrElse("SPARK_GRAFT_EVENTLOG", "/tmp/sparklogs")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(evDir))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.eventLog.enabled", "true")
      .config("spark.eventLog.dir", evDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class Job(id: Int, start: Long, var end: Long = -1L,
      site: String = "", var stages: Int = 0)
    val jobs = mutable.LinkedHashMap[Int, Job]()
    // noise-free structural counters (stage/task counts, shuffled
    // bytes, executor cpu) — the numbers steal storms cannot distort
    val agg = new java.util.concurrent.atomic.AtomicReferenceArray[Long](8)
    def bump(i: Int, v: Long): Unit = { var o = 0L; do { o = agg.get(i) } while (!agg.compareAndSet(i, o, o + v)) }
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        bump(0, 1); bump(1, e.stageInfo.numTasks.toLong)
        bump(2, m.shuffleWriteMetrics.bytesWritten)
        bump(3, m.shuffleReadMetrics.totalBytesRead)
        bump(4, m.executorCpuTime / 1000000L)
        bump(5, m.executorRunTime)
        bump(6, m.inputMetrics.bytesRead)
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
          .getOrElse("?")
        jobs(e.jobId) = Job(e.jobId, e.time, site = site,
          stages = e.stageInfos.size)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
    }

    // ONE long-lived listener (add/remove churn loses late events from
    // broadcast-future jobs); per-run attribution filters by job id
    spark.sparkContext.addSparkListener(listener)

    // warm-up, mirroring Bench
    try {
      spark.sql("SELECT 1").count()
      graft.SparkEntry.queries("count_star")(spark, sfDir).count()
    } catch { case _: Throwable => () }

    keys.foreach { key =>
      val fn = graft.SparkEntry.queries(key)
      // run 1 (cold: staged artifacts may build) — timed but not profiled
      spark.sparkContext.setJobGroup(s"$key#cold", s"$key cold")
      val c0 = System.nanoTime()
      fn(spark, sfDir).count()
      val cold = (System.nanoTime() - c0) / 1e9
      // cleared after each timed run: later driver work (cache drops,
      // the next key's staging) must not land in this key's group
      spark.sparkContext.clearJobGroup()
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      // run 2 (warm) — profiled
      Thread.sleep(1000) // drain events from the cold run
      jobs.synchronized(jobs.clear())
      (0 until 8).foreach(i => agg.set(i, 0L))
      spark.sparkContext.setJobGroup(s"$key#warm", s"$key warm")
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val warm = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      Thread.sleep(1000) // let the listener bus drain
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      val snap = jobs.synchronized(jobs.values.toSeq)
      val done = snap.filter(_.end > 0)
      // union of job intervals, not a sum: concurrent jobs (parallel
      // half-writes, broadcast builds) would otherwise count twice
      val busy = done.map(j => (j.start, j.end)).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
          (acc + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
        }._1 / 1e3
      println(f"\n=== $key cold=$cold%.2fs warm=$warm%.2fs jobs=${snap.size} jobTime=$busy%.2fs ===")
      println(f"  stages=${agg.get(0)} tasks=${agg.get(1)} shufW=${agg.get(2) / 1024}%dK shufR=${agg.get(3) / 1024}%dK cpu=${agg.get(4) / 1000.0}%.2fs run=${agg.get(5) / 1000.0}%.2fs input=${agg.get(6) / 1024}%dK")
      val bySite = done.groupBy(_.site).map { case (s, js) =>
        (s, js.size, js.map(j => j.end - j.start).sum / 1e3)
      }.toSeq.sortBy(-_._3)
      bySite.foreach { case (s, n, secs) =>
        println(f"  $secs%7.2fs  n=$n%-3d $s")
      }
      println("  -- individual jobs --")
      done.sortBy(_.id).foreach { j =>
        println(f"  job ${j.id}%4d ${(j.end - j.start) / 1e3}%7.2fs stages=${j.stages}%-3d ${j.site}")
      }
    }
    spark.stop()
  }
}
