package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge

/** `Bench.once` runs each key under its own job group, `<key>#<run>`,
  * and leaves no group behind on the caller's thread, also when the key
  * throws.
  */
class BenchSpec extends SparkSpec {

  private val ScopeKey = "graft.spec.scope"

  /** Job groups of the Spark jobs that `body` starts on this thread,
    * counted after the listener bus has drained. Jobs are scoped by a
    * local property of their own (inherited like the job group), so
    * work left running by other suites is not counted.
    */
  private def groupsOf[T](body: => T): (T, Seq[String]) = {
    val scope = s"bench-spec-${java.util.UUID.randomUUID()}"
    val groups = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty(ScopeKey) == scope).foreach { p =>
          groups.add(Option(p.getProperty("spark.jobGroup.id")).getOrElse("(none)")); ()
        }
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setLocalProperty(ScopeKey, scope)
    try {
      val r = body
      GraftBridge.drainListenerBus(spark)
      (r, groups.asScala.toSeq)
    } finally {
      spark.sparkContext.setLocalProperty(ScopeKey, null)
      spark.sparkContext.removeSparkListener(l)
    }
  }

  private def callerGroup: Option[String] =
    Option(spark.sparkContext.getLocalProperty("spark.jobGroup.id"))

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
}
