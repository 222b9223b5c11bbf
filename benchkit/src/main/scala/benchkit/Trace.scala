package benchkit

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: wall-clock nanos, the span that caused
  * it (-1 for a root) and the operation it belongs to.
  */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, req: Long, thread: String) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory tracer for traced runs. Spans are only recorded while
  * [[on]] is set; untraced runs never set it and register no listener,
  * so their timings carry none of this.
  */
object Trace {
  @volatile var on = false
  @volatile var spark: Option[SparkSession] = None

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val req = ThreadLocal.withInitial[Long](() => -1L)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Run `body` as operation `id`: spans opened inside carry it. */
  def request[T](id: Long)(body: => T): T = {
    val prev = req.get
    req.set(id)
    try body finally req.set(prev)
  }

  /** Time `body` as a span named `name`. Root spans made from the
    * caller's thread also get a Spark job group, set before and
    * cleared after the call, so the listener can attribute jobs.
    */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      val sc = spark.map(_.sparkContext)
      val root = parents.isEmpty
      if (root) sc.foreach(_.setJobGroup(s"bk-${req.get}", name, false))
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        if (root) sc.foreach(_.clearJobGroup())
        spans.add(Span(id, name, t0, t1, parents.headOption.getOrElse(-1L),
          req.get, Thread.currentThread.getName))
      }
    }

  /** Per span name: (count, total ms, self ms), where self time is the
    * span's duration minus the union of its direct children.
    */
  def selfTimes(ss: Seq[Span]): Map[String, (Int, Double, Double)] = {
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      val self = group.map { s =>
        val covered = Stats.unionLength(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)))
        (s.end - s.start - covered) / 1e6
      }
      name -> (group.size, group.map(_.ms).sum, self.sum)
    }
  }

  /** Time below the `roots` that their direct children cover (ms): the
    * sum of every descendant's self time. Over the roots' own time it
    * is the share of each operation its timed steps account for, and
    * it falls as soon as a step goes untimed.
    */
  def coveredMs(ss: Seq[Span], roots: Seq[Span]): Double = {
    val kids = ss.groupBy(_.parent)
    roots.map(r => Stats.unionLength(kids.getOrElse(r.id, Nil).map(k => (k.start, k.end)))).sum / 1e6
  }

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      w.write(Json(Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "parent" -> s.parent, "req" -> s.req, "thread" -> s.thread)))
      w.newLine()
    } finally w.close()
  }
}

/** Spark scheduler/executor counters, accumulated only while tracing. */
object Counters {
  private val names = Seq("jobs", "stages", "tasks", "sched_delay_ms", "task_ms",
    "task_cpu_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes",
    "analysis_ms", "optimization_ms", "planning_ms")
  private val c = names.map(_ -> new AtomicLong(0)).toMap
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val intervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private def add(name: String, v: Long): Unit = if (Trace.on) c(name).addAndGet(v)

  /** Counter values at one instant; windows are differences of two. */
  final case class Snap(v: Map[String, Long]) {
    def apply(name: String): Long = v(name)
    def -(o: Snap): Snap = Snap(v.map { case (k, x) => k -> (x - o.v(k)) })
  }

  /** Counters so far, after draining the listener bus. Job busy time is
    * the union of job intervals, never a sum of overlapping job durations.
    */
  def snap(): Snap = {
    Trace.spark.foreach(org.apache.spark.sql.GraftBridge.drainListenerBus)
    Snap(c.map { case (k, a) => k -> a.get } +
      ("job_busy_ms" -> Stats.unionLength(intervals.asScala.toSeq)))
  }

  /** Jobs whose group marks them as operation `req` — see [[Trace.span]]. */
  val jobsByReq = new java.util.concurrent.ConcurrentHashMap[Long, AtomicLong]()

  class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (Trace.on) {
      add("jobs", 1)
      jobStart.put(e.jobId, e.time)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("bk-")).foreach { g =>
          jobsByReq.computeIfAbsent(g.drop(3).toLong, _ => new AtomicLong()).incrementAndGet()
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s => intervals.add((s, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Trace.on) {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("sched_delay_ms", math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime))
        add("task_ms", m.executorRunTime)
        add("task_cpu_ms", m.executorCpuTime / 1000000L)
        add("gc_ms", m.jvmGCTime)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("input_bytes", m.inputMetrics.bytesRead)
      }
    }
  }

  /** Catalyst phase times of every action, from `QueryExecution.tracker`.
    * Registered through `spark.sql.queryExecutionListeners`, so every
    * session — engine sessions included — reports here.
    */
  class QeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def phases(qe: QueryExecution): Unit =
    Seq("analysis", "optimization", "planning").foreach { p =>
      add(s"${p}_ms", qe.tracker.phases.get(p).map(_.durationMs).getOrElse(0L))
    }

  /** Per-operation `spark.*` and `catalyst.*` metrics over a counter
    * window of `ops` operations.
    */
  def perOp(d: Snap, ops: Long): Map[String, Double] = d.v.map { case (k, x) =>
    val layer = if (k.startsWith("analysis") || k.startsWith("optimization") ||
      k.startsWith("planning")) "catalyst" else "spark"
    s"$layer.$k" -> x.toDouble / math.max(ops, 1L)
  }
}
