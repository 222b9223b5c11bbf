package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge

/** `Bench.once` runs each key under its own job group, `<key>#<run>`,
  * tags every job with the run in local property `Bench.RunProperty`
  * (micro-batch jobs of a streaming key included), and leaves neither
  * behind on the caller's thread, also when the key throws.
  */
class BenchSpec extends SparkSpec {

  private val ScopeKey = "graft.spec.scope"

  /** One started job: its job group, its `Bench.RunProperty` and
    * whether it is a micro-batch of a streaming query.
    */
  private case class Job(group: String, run: String, microBatch: Boolean)

  /** The Spark jobs that `body` starts on this thread, or on threads
    * it starts, counted after the listener bus has drained. Jobs are
    * scoped by a local property of their own (inherited like the job
    * group), so work left running by other suites is not counted.
    */
  private def jobsOf[T](body: => T): (T, Seq[Job]) = {
    val scope = s"bench-spec-${java.util.UUID.randomUUID()}"
    val jobs = new ConcurrentLinkedQueue[Job]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty(ScopeKey) == scope).foreach { p =>
          jobs.add(Job(p.getProperty("spark.jobGroup.id", "(none)"),
            p.getProperty(Bench.RunProperty, "(none)"),
            p.getProperty("sql.streaming.queryId") != null)); ()
        }
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setLocalProperty(ScopeKey, scope)
    try {
      val r = body
      GraftBridge.drainListenerBus(spark)
      (r, jobs.asScala.toSeq)
    } finally {
      spark.sparkContext.setLocalProperty(ScopeKey, null)
      spark.sparkContext.removeSparkListener(l)
    }
  }

  private def groupsOf[T](body: => T): (T, Seq[String]) = {
    val (r, jobs) = jobsOf(body)
    (r, jobs.map(_.group))
  }

  private def callerGroup: Option[String] =
    Seq("spark.jobGroup.id", Bench.RunProperty)
      .flatMap(k => Option(spark.sparkContext.getLocalProperty(k))).headOption

  test("once runs every job of count_star under count_star#1 and clears the group") {
    val ((ok, secs), groups) =
      groupsOf(Bench.once(spark, sfDir, "count_star", SparkEntry.queries("count_star"), 1))
    assert(ok && secs > 0)
    assert(groups.nonEmpty, "count_star started no Spark job")
    assert(groups.forall(_ == "count_star#1"), s"jobs outside count_star#1: $groups")
    assert(callerGroup.isEmpty, s"group left set: $callerGroup")
  }

  test("a key that throws reports failure and leaves no job group behind") {
    val failing = (s: org.apache.spark.sql.SparkSession, _: String) =>
      s.range(100).filter("assert_true(id < 50) IS NULL").toDF()
    val ((ok, _), groups) = groupsOf(Bench.once(spark, sfDir, "failing", failing, 2))
    assert(!ok)
    assert(groups.nonEmpty && groups.forall(_ == "failing#2"), s"jobs: $groups")
    assert(callerGroup.isEmpty, s"group left set after a failed run: $callerGroup")
    // a builder that throws before any job starts clears it too
    val broken = (_: org.apache.spark.sql.SparkSession, _: String) =>
      throw new IllegalStateException("no frame")
    assert(!Bench.once(spark, sfDir, "broken", broken, 1)._1)
    assert(callerGroup.isEmpty, s"group left set after a throwing builder: $callerGroup")
  }

  test("a streaming key's micro-batch jobs carry its run property") {
    val ((ok, _), jobs) = jobsOf(Bench.once(spark, sfDir, "stream_state_counts",
      SparkEntry.queries("stream_state_counts"), 1))
    assert(ok)
    val batches = jobs.filter(_.microBatch)
    assert(batches.nonEmpty, s"no micro-batch job seen: $jobs")
    // Spark runs them under the query's own job group (its runId) ...
    assert(batches.forall(_.group != "stream_state_counts#1"), s"jobs: $batches")
    // ... and the run property still names the key run
    assert(jobs.forall(_.run == "stream_state_counts#1"), s"jobs outside the run: $jobs")
    assert(callerGroup.isEmpty, s"group left set: $callerGroup")
  }
}
