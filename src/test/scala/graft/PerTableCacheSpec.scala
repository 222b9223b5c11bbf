package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge

import graft.engine.{Engine, GateClient, TcpGate}

/** TcpGate keys each cached reply on the stamps of the catalog tables
  * the statement reads (`Engine.readStamp`): a write to one table
  * leaves the cached replies of the others live, a reply that reads the
  * written table is re-executed, and a statement whose inputs cannot be
  * named keys on the whole-catalog stamp. Stamps move only after a
  * write is visible, so a writer always reads its own write.
  */
class PerTableCacheSpec extends SparkSpec {

  /** Spark jobs started anywhere while `body` runs (gate threads
    * included), counted after the listener bus has drained.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    GraftBridge.drainListenerBus(spark)
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      GraftBridge.drainListenerBus(spark)
      (r, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** An engine holding a = {0..9} (x), b = {0..4} (y), c = {0, 1} (z),
    * with a gate and one Arrow-mode client.
    */
  private def withGate(body: (Engine, TcpGate, GateClient) => Unit): Unit = {
    val e = new Engine(spark.newSession())
    e.put("a", e.spark.range(10).toDF("x"))
    e.put("b", e.spark.range(5).toDF("y"))
    e.put("c", e.spark.range(2).toDF("z"))
    val gate = new TcpGate(e)
    try {
      val c = new GateClient("127.0.0.1", gate.boundPort)
      try { c.format("arrow"); body(e, gate, c) } finally c.close()
    } finally gate.close()
  }

  /** The first column of every row the gate returns, sorted. */
  private def longs(c: GateClient, stmt: String): Seq[Long] =
    GraftBridge.fromArrowIPC(spark, c.sqlArrow(stmt)._2).collect().map(_.getLong(0)).toSeq.sorted

  /** The gate's `##stats` counters. */
  private def statsOf(c: GateClient): Map[String, Long] = {
    val line = c.sql("##stats").head
    "\"(\\w+)\":(\\d+)".r.findAllMatchIn(line).map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  private def isWholeCatalog(stamp: Seq[Long]): Boolean = stamp.size == 3 && stamp(1) == -1L

  test("after a write to A, GETs of B start no Spark job and a GET of A is fresh") {
    withGate { (e, _, c) =>
      assert(c.sqlArrowRowCount("SELECT * FROM b") == 5)
      assert(c.sqlArrowRowCount("SELECT y FROM b WHERE y > 1") == 3)
      assert(longs(c, "SELECT * FROM a") == (0L until 10L))
      val stampB = e.readStamp("SELECT * FROM b")
      c.sqlArrowRowCount("INSERT INTO a VALUES (100)")
      c.sqlArrowRowCount("UPDATE a SET x = x + 1000 WHERE x = 0")
      assert(e.readStamp("SELECT * FROM b") == stampB, "a write to a moved b's stamp")
      val (rows, jobs) = jobsOf {
        c.sqlArrowRowCount("SELECT * FROM b") + c.sqlArrowRowCount("SELECT y FROM b WHERE y > 1")
      }
      assert(rows == 8)
      assert(jobs == 0, s"GETs of b after a write to a started $jobs Spark jobs")
      assert(longs(c, "SELECT * FROM a") == ((1L until 10L) :+ 100L :+ 1000L),
        "a GET of the written table served pre-write bytes")
    }
  }

  test("a join of A and B re-executes after a write to either, not after a write to C") {
    withGate { (_, _, c) =>
      val join = "SELECT a.x FROM a JOIN b ON a.x = b.y"
      assert(longs(c, join) == (0L until 5L))
      assert(jobsOf(longs(c, join))._2 == 0) // cached
      c.sqlArrowRowCount("INSERT INTO c VALUES (7)")
      assert(jobsOf(longs(c, join))._2 == 0, "a write to c retired a join of a and b")
      c.sqlArrowRowCount("DELETE FROM a WHERE x = 4")
      assert(longs(c, join) == (0L until 4L), "join served pre-write bytes after a write to a")
      c.sqlArrowRowCount("DELETE FROM b WHERE y = 0")
      assert(longs(c, join) == (1L until 4L), "join served pre-write bytes after a write to b")
    }
  }

  test("a raw-DDL view falls back to the whole-catalog stamp and stays fresh") {
    withGate { (e, _, c) =>
      c.sqlArrowRowCount("CREATE TEMP VIEW v AS SELECT x FROM a WHERE x < 3")
      assert(isWholeCatalog(e.readStamp("SELECT * FROM v")))
      assert(longs(c, "SELECT * FROM v") == Seq(0L, 1L, 2L))
      c.sqlArrowRowCount("INSERT INTO a VALUES (-1)")
      assert(longs(c, "SELECT * FROM v") == Seq(-1L, 0L, 1L, 2L), "view over a served stale bytes")
      // raw DDL that puts a view over a in place of catalog table b: b no
      // longer reads what its name says, so it falls back too
      assert(longs(c, "SELECT * FROM b") == (0L until 5L))
      c.sqlArrowRowCount("CREATE OR REPLACE TEMP VIEW b AS SELECT x AS y FROM a WHERE x < 0")
      assert(isWholeCatalog(e.readStamp("SELECT * FROM b")))
      assert(longs(c, "SELECT * FROM b") == Seq(-1L))
      c.sqlArrowRowCount("INSERT INTO a VALUES (-2)")
      assert(longs(c, "SELECT * FROM b") == Seq(-2L, -1L), "displaced view of b served stale bytes")
    }
  }

  test("a temporary SQL function whose body reads A falls back") {
    withGate { (e, _, c) =>
      c.sqlArrowRowCount(
        "CREATE TEMPORARY FUNCTION a_rows() RETURNS BIGINT RETURN (SELECT count(*) FROM a)")
      val stmt = "SELECT a_rows() AS n FROM b WHERE y = 0"
      assert(isWholeCatalog(e.readStamp(stmt)))
      assert(longs(c, stmt) == Seq(10L))
      c.sqlArrowRowCount("INSERT INTO a VALUES (10)")
      assert(longs(c, stmt) == Seq(11L), "a function reading a served stale bytes")
      // built-in functions keep the per-table stamp
      assert(!isWholeCatalog(e.readStamp("SELECT upper(cast(y AS STRING)), count(*) FROM b GROUP BY y")))
    }
  }

  test("a CTE named like a catalog table keys on that table when its body reads it") {
    withGate { (e, _, c) =>
      val stmt = "WITH a AS (SELECT x FROM a WHERE x >= 5) SELECT x FROM a"
      assert(e.readStamp(stmt).size == 2, "the CTE body reads catalog table a")
      assert(longs(c, stmt) == (5L until 10L))
      c.sqlArrowRowCount("INSERT INTO a VALUES (50)")
      assert(longs(c, stmt) == ((5L until 10L) :+ 50L), "CTE over a served stale bytes")
      // a CTE that only shadows b reads nothing of b: b's writes leave it
      val shadow = "WITH b AS (SELECT 1L AS k) SELECT k FROM b"
      val s0 = e.readStamp(shadow)
      c.sqlArrowRowCount("INSERT INTO b VALUES (9)")
      assert(e.readStamp(shadow) == s0)
      // names in subquery expressions are reads too
      val sub = "SELECT z FROM c WHERE z < (SELECT count(*) FROM b)"
      assert(e.readStamp(sub).size == 3)
      // qualified names, paths and table functions cannot be named
      assert(isWholeCatalog(e.readStamp("SELECT * FROM range(3)")))
      assert(isWholeCatalog(e.readStamp("SELECT * FROM default.a")))
      assert(isWholeCatalog(e.readStamp("SELECT * FROM parquet.`/nonexistent`")))
      assert(isWholeCatalog(e.readStamp("SELECT * FROM no_such_table")))
    }
  }

  test("drop + re-create and rename A→B→A never serve old bytes") {
    withGate { (e, _, c) =>
      assert(longs(c, "SELECT * FROM a") == (0L until 10L))
      e.catalog.drop("a")
      e.put("a", e.spark.range(3).toDF("x"))
      assert(longs(c, "SELECT * FROM a") == (0L until 3L), "re-created a served the dropped bytes")
      c.sqlArrowRowCount("ALTER TABLE a RENAME TO d")
      assert(longs(c, "SELECT * FROM d") == (0L until 3L))
      c.sqlArrowRowCount("INSERT INTO d VALUES (30)")
      assert(longs(c, "SELECT * FROM d") == Seq(0L, 1L, 2L, 30L))
      c.sqlArrowRowCount("ALTER TABLE d RENAME TO a")
      assert(longs(c, "SELECT * FROM a") == Seq(0L, 1L, 2L, 30L), "renamed-back a served stale bytes")
      assert(longs(c, "TABLE a") == Seq(0L, 1L, 2L, 30L))
    }
  }

  test("WITH … INSERT stays non-cacheable through the per-table key") {
    withGate { (e, _, c) =>
      val ins = "WITH add AS (SELECT 7 AS x) INSERT INTO a SELECT x FROM add"
      assert(!e.isCacheableQuery(ins))
      assert(c.sqlArrowRowCount("SELECT * FROM a") == 10)
      c.sqlArrowRowCount(ins)
      c.sqlArrowRowCount(ins)
      assert(longs(c, "SELECT * FROM a") == ((0L until 10L) :+ 7L :+ 7L).sorted)
    }
  }

  test("a writer always reads its own write while readers repeat the same GET") {
    withGate { (e, gate, w) =>
      val get = "SELECT * FROM c"
      @volatile var stop = false
      val readers = (1 to 2).map { _ =>
        val t = new Thread(() => {
          val r = new GateClient("127.0.0.1", gate.boundPort)
          try { r.format("arrow"); while (!stop) r.sqlArrowRowCount(get) } finally r.close()
        })
        t.start(); t
      }
      var missed = 0
      try {
        for (i <- 1 to 100) {
          w.sqlArrowRowCount(s"INSERT INTO c VALUES (${100 + i})")
          if (w.sqlArrowRowCount(get) != 2 + i) missed += 1
        }
      } finally { stop = true; readers.foreach(_.join(30000)) }
      assert(missed == 0, s"the writer missed its own write in $missed of 100 rounds")
    }
  }

  test("##stats reports hits, misses and installs as traffic moves them") {
    withGate { (_, _, c) =>
      assert(statsOf(c) == Map("hits" -> 0, "misses" -> 0, "installs" -> 0, "entries" -> 0, "bytes" -> 0))
      c.sqlArrowRowCount("SELECT * FROM a")
      val s1 = statsOf(c)
      assert(s1("misses") == 1 && s1("installs") == 1 && s1("entries") == 1 && s1("bytes") > 0)
      c.sqlArrowRowCount("TABLE a")
      c.sqlArrowRowCount("SELECT * FROM a")
      assert(statsOf(c)("hits") == 2)
      c.sqlArrowRowCount("##nocache SELECT * FROM a") // bypass: counted nowhere
      c.sqlArrowRowCount("INSERT INTO a VALUES (1)")   // not cacheable
      c.sqlArrowRowCount("SELECT * FROM a")            // stale entry: miss, re-install
      assert(statsOf(c) == Map("hits" -> 2, "misses" -> 2, "installs" -> 2, "entries" -> 1,
        "bytes" -> statsOf(c)("bytes")))
    }
  }

  test("one-off statements cannot grow the cache past its entry bound; a hot GET still hits") {
    withGate { (_, _, c) =>
      val hot = "SELECT * FROM b"
      c.sqlArrowRowCount(hot)
      val fresh = TcpGate.MaxCacheEntries + 16
      for (i <- 0 until fresh) {
        assert(c.sqlArrowRowCount(s"SELECT x FROM a WHERE x >= $i") == math.max(0, 10 - i))
        if (i % 8 == 7) c.sqlArrowRowCount(hot)
      }
      val s = statsOf(c)
      assert(s("installs") >= fresh, s"only ${s("installs")} of $fresh fresh replies installed")
      assert(s("entries") <= TcpGate.MaxCacheEntries,
        s"${s("entries")} entries held, bound ${TcpGate.MaxCacheEntries}")
      val (rows, jobs) = jobsOf(c.sqlArrowRowCount(hot))
      assert(rows == 5)
      assert(jobs == 0, s"the hot GET was evicted: it started $jobs Spark jobs")
      assert(statsOf(c)("hits") == s("hits") + 1)
    }
  }
}
