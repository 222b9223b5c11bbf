package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions.{col, udf}

import graft.engine.{Engine, GateClient, TcpGate}

/** A client that goes away mid-reply must not leave its encode job
  * running: the pump cancels the job when the socket write fails, so
  * the remaining partitions stop piling up on the driver.
  */
class GateDisconnectSpec extends SparkSpec {

  private val ScopeKey = "graft.spec.scope"

  test("a client that drops after ##schema cancels its encode job; the next client is served") {
    val e = new Engine(spark.newSession())
    // 4 partitions of 500k rows (~8 MB raw Arrow each); every partition
    // but the first sleeps at its first row, so the job is still
    // running when the first partition's frames hit the closed socket
    val nap = udf { (x: Long) => if (x > 0 && x % 500000 == 0) Thread.sleep(2000); x }
    e.put("slow", e.spark.range(0, 2000000, 1, 4).toDF("x").withColumn("y", nap(col("x"))))
    val stmt = "##nocache SELECT * FROM slow"

    // the gate's threads inherit the scope from this thread, so its jobs
    // (and no other suite's) are the ones counted
    val scope = s"gate-disconnect-${java.util.UUID.randomUUID()}"
    val started = ConcurrentHashMap.newKeySet[Int]()
    val ends = new ConcurrentLinkedQueue[SparkListenerJobEnd]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(ScopeKey) == scope)) started.add(j.jobId)
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (started.contains(j.jobId)) ends.add(j)
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setLocalProperty(ScopeKey, scope)
    val gate = try new TcpGate(e) finally spark.sparkContext.setLocalProperty(ScopeKey, null)
    try {
      val dropped = new GateClient("127.0.0.1", gate.boundPort)
      dropped.format("arrow")
      dropped.send(stmt)
      assert(dropped.readLine().startsWith("##schema "))
      dropped.close()

      // the job ends well before the 2 s naps would let it succeed
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (ends.isEmpty && System.nanoTime() < deadline) {
        GraftBridge.drainListenerBus(spark)
        Thread.sleep(50)
      }
      val first = ends.asScala.toSeq
      assert(first.size == 1, s"expected one ended encode job, got $first (started $started)")
      assert(first.head.jobResult != JobSucceeded,
        "the dropped client's encode job ran to completion instead of being cancelled")

      val c = new GateClient("127.0.0.1", gate.boundPort)
      try {
        c.format("arrow")
        assert(c.sqlArrowRowCount(stmt) == 2000000)
        val (_, ipc) = c.sqlArrow("##nocache SELECT sum(y) AS t FROM slow")
        assert(GraftBridge.fromArrowIPC(spark, ipc).head().getLong(0) == 1999999L * 2000000L / 2)
      } finally c.close()
      GraftBridge.drainListenerBus(spark)
      assert(ends.asScala.drop(1).forall(_.jobResult == JobSucceeded),
        s"the next client's jobs failed: ${ends.asScala.drop(1)}")
    } finally {
      gate.close()
      spark.sparkContext.removeSparkListener(l)
    }
  }
}
