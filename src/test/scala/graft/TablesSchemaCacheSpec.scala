package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

/** `Tables.load` resolves each source's footer schema once per process:
  * same answers as a plain `spark.read.parquet`, no Spark job on a
  * repeat load, and a fresh inference when the files or the session's
  * parquet confs change.
  */
class TablesSchemaCacheSpec extends SparkSpec {

  private val sf001 = new java.io.File(sfDir).getParentFile.toPath.resolve("sf0.01").toString

  /** Spark jobs that `body` starts on this thread (job-group scoped, so
    * work left running by other suites is not counted).
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val group = s"tables-schema-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, group)
    try {
      val r = body
      GraftBridge.drainListenerBus(spark)
      (r, n.get)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  private def plain(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events") Tables.normalizeTs(df) else df
  }

  private def qualified(path: String): String = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  /** A scratch source dir, deleted afterwards along with its entries. */
  private def withTempDir(body: String => Unit): Unit = {
    val d = Files.createTempDirectory("tables-schema-")
    try body(d.toString)
    finally {
      val root = qualified(d.toString)
      Tables.resolved.keySet.removeIf(_.startsWith(root))
      org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
    }
  }

  test("every table at sf0.01 matches a plain parquet read, cold and cached") {
    // two fresh sessions: the first may infer, the second is served
    // from the resolved schema
    for (_ <- 1 to 2; name <- Tables.names) {
      val s = spark.newSession()
      val got = Tables.load(s, sf001, name)
      // after load: `events` sets its legacy conf on the session first
      val want = plain(s, sf001, name)
      assert(got.schema == want.schema, name)
      assert(got.count() == want.count(), name)
    }
  }

  test("a repeat load in another session starts no Spark job") { withTempDir { dir =>
    Files.copy(java.nio.file.Paths.get(sf001, "region.parquet"),
      java.nio.file.Paths.get(dir, "region.parquet"))
    val (first, cold) = jobsOf(Tables.load(spark.newSession(), dir, "region").schema)
    val (second, warm) = jobsOf(Tables.load(spark.newSession(), dir, "region").schema)
    assert(cold >= 1, "the first load infers the footer schema")
    assert(warm == 0, "the second load reuses the resolved schema")
    assert(second == first)
  } }

  test("rewriting a source at the same path re-infers and replaces its entry") { withTempDir { dir =>
    val path = s"$dir/region.parquet"
    Tables.region(spark, sf001).write.parquet(path)
    val before = Tables.load(spark.newSession(), dir, "region")
    assert(!before.columns.contains("r_extra"))
    Tables.region(spark, sf001).withColumn("r_extra", lit(1L))
      .write.mode("overwrite").parquet(path)
    val after = Tables.load(spark.newSession(), dir, "region")
    assert(after.columns.last == "r_extra")
    assert(after.schema == spark.read.parquet(path).schema)
    assert(after.count() == 5)
    assert(Tables.resolved.get(qualified(path)).schemas.values.toSeq == Seq(after.schema))
    assert(Tables.resolved.keySet.toArray.count(_.toString.startsWith(qualified(dir))) == 1)
  } }

  test("a new parquet conf set re-infers once, then each set is served") { withTempDir { dir =>
    // un-annotated BINARY, written without Spark's schema metadata (which
    // inference would prefer): binaryAsString decides if it is a string
    val schema = MessageTypeParser.parseMessageType(
      "message blobs { required int64 id; required binary b; }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/blobs.parquet"))
      .withType(schema).build()
    try (0 until 3).foreach { i =>
      w.write(new SimpleGroupFactory(schema).newGroup().append("id", i.toLong)
        .append("b", Binary.fromString(s"v$i")))
    } finally w.close()
    val (asBinary, _) = jobsOf(Tables.load(spark.newSession(), dir, "blobs").schema)
    assert(asBinary("b").dataType == BinaryType)
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.binaryAsString", "true")
    val (asString, jobs) = jobsOf(Tables.load(s, dir, "blobs").schema)
    assert(jobs >= 1, "a different parquet conf infers afresh")
    assert(asString("b").dataType == StringType)
    assert(asString == s.read.parquet(s"$dir/blobs.parquet").schema)
    // both conf sets stay resolved: neither evicts the other
    val (again, none) = jobsOf(Tables.load(spark.newSession(), dir, "blobs").schema)
    assert(again("b").dataType == BinaryType)
    assert(none == 0)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.parquet.binaryAsString", "true")
    val (again2, none2) = jobsOf(Tables.load(s2, dir, "blobs").schema)
    assert(again2("b").dataType == StringType)
    assert(none2 == 0)
  } }
}
