package graft

import org.apache.spark.sql.functions._
import graft.engine.Engine

/** Mallard-semantics assertions, mirroring the reference's runtime
  * checks (SURVEY §5.1): processed-column check `demo.py:350-355`,
  * PUT-append `flight_server.py:391-398`, unknown-command error
  * `flight_server.py:312-315`, empty-input exchange
  * `flight_server.py:80-84`, transfer verification `demo.py:318-329`.
  */
class EngineSpec extends SparkSpec {

  private def fresh() = new Engine(spark.newSession())

  test("PUT twice appends: row count doubles (schema-on-write + INSERT INTO)") {
    val e = fresh()
    val nation = Tables.nation(e.spark, sfDir)
    e.put("nation", nation)
    val n1 = e.count("nation")
    e.put("nation", nation)
    assert(e.count("nation") == 2 * n1)
  }

  test("stock exchanger appends processed=true on every row") {
    val e = fresh()
    val out = e.exchange("my_streaming_exchanger", Tables.region(e.spark, sfDir))
    assert(out.columns.contains("processed"))
    assert(out.filter(!col("processed")).count() == 0)
    assert(out.count() == Tables.region(e.spark, sfDir).count())
  }

  test("unknown exchange command fails listing available commands") {
    val e = fresh()
    e.registerExchanger("zeta")(identity)
    val ex = intercept[IllegalArgumentException] {
      e.exchange("nope", Tables.region(e.spark, sfDir))
    }
    assert(ex.getMessage.contains("nope"))
    assert(ex.getMessage.contains("my_streaming_exchanger"))
    assert(ex.getMessage.contains("zeta"))
  }

  test("empty-input exchange returns empty result with schema preserved") {
    val e = fresh()
    val out = e.exchange("my_streaming_exchanger",
      Tables.nation(e.spark, sfDir).limit(0))
    assert(out.count() == 0)
    assert(out.columns.toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey", "processed"))
  }

  test("runtime registration overrides an existing command (demo.py:500-506)") {
    val e = fresh()
    e.registerExchanger("my_streaming_exchanger")(df =>
      df.withColumn("processed", lit(false)))
    val out = e.exchange("my_streaming_exchanger", Tables.region(e.spark, sfDir))
    assert(out.filter(col("processed")).count() == 0)
  }

  test("cross-engine transfer preserves the row multiset and is SQL-visible in dest") {
    val (a, b) = Engine.pair(spark)
    a.put("nation", Tables.nation(a.spark, sfDir))
    val moved = a.transferTable(b, "nation")
    assert(moved == a.count("nation"))
    // visible through dest's *SQL catalog*, not just the object handle
    val viaSql = b.query("SELECT count(*) AS c FROM nation").collect()(0).getLong(0)
    assert(viaSql == moved)
    // multiset equality: except-all both ways is empty
    assert(a.get("nation").exceptAll(b.get("nation")).count() == 0)
    assert(b.get("nation").exceptAll(a.get("nation")).count() == 0)
  }

  test("engines are isolated: a third session does not see transferred views") {
    val (a, b) = Engine.pair(spark)
    a.put("nation", Tables.nation(a.spark, sfDir))
    a.transferTable(b, "nation")
    val c = new Engine(spark.newSession())
    val ex = intercept[Exception](c.query("SELECT * FROM nation").collect())
    assert(ex.getMessage.contains("nation"))
  }

  test("DDL routes to status OK row (flight_server.py:357-359)") {
    val e = fresh()
    val st = e.query("CREATE TEMPORARY VIEW graft_spec_ddl AS SELECT 1 AS x")
    assert(st.collect().map(_.getString(0)).toSeq == Seq("OK"))
    assert(e.query("SELECT x FROM graft_spec_ddl").collect()(0).getInt(0) == 1)
    e.query("DROP VIEW graft_spec_ddl")
    // a SQL script is a statement too: it runs and answers the status row
    val sc = e.query("BEGIN CREATE TEMPORARY VIEW graft_spec_script AS SELECT 2 AS x; END")
    assert(sc.collect().map(_.getString(0)).toSeq == Seq("OK"))
    assert(e.query("SELECT x FROM graft_spec_script").collect()(0).getInt(0) == 2)
  }

  test("drop reports prior existence; dropped table is gone") {
    val e = fresh()
    e.put("t", Tables.region(e.spark, sfDir))
    assert(e.catalog.drop("t"))
    assert(!e.catalog.drop("t"))
    intercept[NoSuchElementException](e.get("t"))
  }

  test("drop in one engine does not evict a cache another engine serves") {
    val (a, b) = Engine.pair(spark)
    val cached = Tables.nation(a.spark, sfDir).cache()
    cached.count() // materialize
    a.put("nation_c", cached)
    a.transferTable(b, "nation_c")
    assert(cached.storageLevel.useMemory)
    b.catalog.drop("nation_c") // must NOT cascade-uncache a's table
    assert(cached.storageLevel.useMemory,
      "engine B's DROP evicted engine A's cache — isolation broken")
    assert(a.count("nation_c") == 25)
    cached.unpersist()
  }

  test("persistent mode: persist + open in a fresh engine round-trips") {
    val wh = s"${graft.ops.scratchRoot(spark)}/spec_warehouse"
    val a = fresh()
    a.put("nation", Tables.nation(a.spark, sfDir))
    a.persist("nation", wh)
    val b = fresh()
    b.open("nation", wh)
    assert(b.count("nation") == a.count("nation"))
    assert(a.get("nation").exceptAll(b.get("nation")).count() == 0)
  }

  test("metrics listener records actions with rows and durations") {
    import graft.engine.Metrics
    val e = fresh()
    val m = Metrics.attach(e)
    try {
      e.put("nation", Tables.nation(e.spark, sfDir))
      e.count("nation")
      e.query("SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey").collect()
      // listener delivery is async; poll briefly
      val deadline = System.currentTimeMillis + 30000
      while (m.snapshot.isEmpty && System.currentTimeMillis < deadline)
        Thread.sleep(100)
      val recs = m.snapshot
      assert(recs.nonEmpty)
      assert(recs.exists(r => !r.failed && r.micros >= 0))
      // toDF needs a derivable encoder (Record must stay a top-level
      // companion-object class, not an inner class); late async events
      // may still be arriving, so only a lower bound is stable
      assert(m.toDF.count() >= recs.size)
    } finally m.close()
  }

  test("auth: basic login mints a token, bad credentials and tokens rejected, revocation works") {
    import graft.engine.AuthEngine
    val e = fresh()
    e.put("nation", Tables.nation(e.spark, sfDir))
    val auth = new AuthEngine(e, Map("admin" -> "password123"))
    intercept[SecurityException](auth.authenticate("admin", "wrong"))
    intercept[SecurityException](auth.query("not-a-token", "SELECT 1"))
    val token = auth.authenticate("admin", "password123")
    assert(auth.query(token, "SELECT count(*) AS c FROM nation")
      .collect()(0).getLong(0) == 25)
    // tokens are per-engine, like per-server middleware
    val other = new AuthEngine(fresh(), Map("admin" -> "password123"))
    intercept[SecurityException](other.query(token, "SELECT 1"))
    auth.revoke(token)
    intercept[SecurityException](auth.query(token, "SELECT 1"))
  }

  test("auth: expired tokens are rejected and swept") {
    import graft.engine.AuthEngine
    val auth = new AuthEngine(fresh(), Map("u" -> "pw"), tokenTtlMillis = 1L)
    val token = auth.authenticate("u", "pw")
    Thread.sleep(5)
    intercept[SecurityException](auth.query(token, "SELECT 1"))
  }

  test("DML round trip: put → UPDATE → DELETE → INSERT → get") {
    val e = fresh()
    e.put("n", Tables.nation(e.spark, sfDir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey")))
    // UPDATE returns the status row and is visible via SQL afterwards
    val st = e.query("UPDATE n SET n_name = lower(n_name) WHERE n_regionkey = 0")
    assert(st.collect().map(_.getString(0)).toSeq == Seq("OK"))
    val lowered = e.query("SELECT count(*) AS c FROM n WHERE n_name = lower(n_name)")
      .head().getLong(0)
    assert(lowered >= 5) // region 0 has 5 nations
    // DELETE removes exactly the matching rows
    e.query("DELETE FROM n WHERE n_regionkey = 0")
    assert(e.count("n") == 20)
    // INSERT INTO … VALUES appends to the existing catalog table
    e.query("INSERT INTO n VALUES (99, 'ATLANTIS', 0)")
    assert(e.count("n") == 21)
    assert(e.query("SELECT n_name FROM n WHERE n_nationkey = 99")
      .head().getString(0) == "ATLANTIS")
    // INSERT with explicit column list fills unlisted columns with NULL
    e.query("INSERT INTO n (n_nationkey, n_name) VALUES (100, 'MU')")
    assert(e.query("SELECT n_regionkey FROM n WHERE n_nationkey = 100")
      .head().isNullAt(0))
  }

  test("UPDATE SET expressions all see pre-update values (simultaneous projection)") {
    val e = fresh()
    e.query("CREATE TEMPORARY VIEW graft_swap_src AS SELECT 1 AS a, 2 AS b")
    e.put("swap", e.spark.sql("SELECT a, b FROM graft_swap_src"))
    e.query("UPDATE swap SET a = b, b = a") // swap, not overwrite
    val r = e.query("SELECT a, b FROM swap").head()
    assert(r.getInt(0) == 2 && r.getInt(1) == 1)
  }

  test("DELETE WHERE keeps rows where the predicate is NULL") {
    val e = fresh()
    e.put("d", e.spark.sql(
      "SELECT * FROM VALUES (1, 10), (2, NULL), (3, 60) AS t(id, v)"))
    e.query("DELETE FROM d WHERE v > 50") // NULL predicate row survives
    assert(e.query("SELECT id FROM d ORDER BY id").collect().map(_.getInt(0)).toSeq
      == Seq(1, 2))
  }

  test("DML parser is not confused by keywords/commas inside strings and subqueries") {
    val e = fresh()
    e.put("p", e.spark.sql(
      "SELECT * FROM VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30) AS t(id, tag, v)"))
    // literal containing WHERE, comma, equals and parens must not split
    e.query("UPDATE p SET tag = 'WHERE , = (x)' WHERE id = 1")
    assert(e.query("SELECT tag FROM p WHERE id = 1").head().getString(0)
      == "WHERE , = (x)")
    // scalar subquery (with its own WHERE) inside a SET expression
    e.query("UPDATE p SET v = (SELECT max(v) FROM p WHERE id < 3) WHERE id = 3")
    assert(e.query("SELECT v FROM p WHERE id = 3").head().getInt(0) == 20)
    // DELETE with a subquery predicate containing WHERE
    e.query("DELETE FROM p WHERE v = (SELECT min(v) FROM p WHERE id >= 1)")
    assert(e.count("p") == 2)
  }

  test("DML errors on unknown columns instead of silently answering OK") {
    val e = fresh()
    e.put("u", e.spark.sql("SELECT 1 AS id, CAST(10.0 AS DOUBLE) AS price"))
    val ex1 = intercept[IllegalArgumentException](
      e.query("UPDATE u SET pricee = 0")) // typo must not no-op
    assert(ex1.getMessage.contains("pricee"))
    val ex2 = intercept[IllegalArgumentException](
      e.query("INSERT INTO u (id, wrongcol) VALUES (2, 3)"))
    assert(ex2.getMessage.contains("wrongcol"))
    // nothing was mutated by either failed statement
    assert(e.count("u") == 1)
    assert(e.query("SELECT price FROM u").head().getDouble(0) == 10.0)
  }

  test("unclaimed DML forms fall through to spark.sql instead of failing to parse") {
    val e = fresh()
    // INSERT OVERWRITE is not the simple claimed form → Spark's parser
    // and resolver handle it (and produce Spark's error, not ours)
    val ex = intercept[Exception](
      e.query("INSERT OVERWRITE TABLE graft_nope SELECT 1 AS x").collect())
    assert(!ex.getMessage.contains("Cannot parse"), ex.getMessage)
    // UPDATE on a table graft doesn't manage likewise reaches Spark
    val ex2 = intercept[Exception](
      e.query("UPDATE graft_nope SET x = 1").collect())
    assert(!ex2.getMessage.contains("Cannot parse"), ex2.getMessage)
  }

  test("DML parser handles backslash-escaped and double-quoted literals") {
    val e = fresh()
    e.put("q", e.spark.sql("SELECT 1 AS id, 'x' AS tag, 'y' AS tag2"))
    e.query("UPDATE q SET tag = 'don\\'t, stop', tag2 = \"a, b\" WHERE id = 1")
    val r = e.query("SELECT tag, tag2 FROM q").head()
    assert(r.getString(0) == "don't, stop" && r.getString(1) == "a, b")
  }

  test("TcpGate close() promptly disconnects an idle client") {
    val e = fresh()
    val gate = new graft.engine.TcpGate(e)
    val sock = new java.net.Socket("127.0.0.1", gate.boundPort)
    sock.setSoTimeout(30000)
    val out = new java.io.PrintWriter(sock.getOutputStream, true)
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(sock.getInputStream))
    // serve one round trip first: proves the connection was ACCEPTED
    // (not still parked in the TCP backlog, where a closed listener
    // can't reach it and the test would race close() vs accept())
    out.println("SELECT 1 AS x")
    assert(in.readLine() == """{"x":1}""" && in.readLine() == "##end")
    val t0 = System.nanoTime()
    gate.close() // must close the accepted socket, not wait for the client
    // the client observes EOF (readLine -> null) rather than hanging
    assert(in.readLine() == null)
    // generous bound: the property is prompt-vs-hangs-forever
    assert((System.nanoTime() - t0) / 1e9 < 30.0)
    sock.close()
  }

  test("UPDATE casts assigned columns back to their declared type") {
    val e = fresh()
    e.put("c", e.spark.sql("SELECT CAST(5 AS INT) AS x, 'k' AS k"))
    e.query("UPDATE c SET x = x + 10000000000") // bigint expr into int col
    assert(e.get("c").schema("x").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("TcpGate serves SQL over a real socket: rows, errors, DML, concurrent clients") {
    import java.io.{BufferedReader, InputStreamReader, PrintWriter}
    import java.net.Socket
    val e = fresh()
    e.put("nation", Tables.nation(e.spark, sfDir))
    val gate = new graft.engine.TcpGate(e)
    try {
      def client(): (Socket, PrintWriter, BufferedReader) = {
        val s = new Socket("127.0.0.1", gate.boundPort)
        (s, new PrintWriter(s.getOutputStream, true),
          new BufferedReader(new InputStreamReader(s.getInputStream)))
      }
      def ask(out: PrintWriter, in: BufferedReader, sql: String): Seq[String] = {
        out.println(sql)
        // stop on EOF too: a dropped connection returns null forever
        Iterator.continually(in.readLine())
          .takeWhile(l => l != null && l != "##end").toSeq
      }
      val (s1, out1, in1) = client()
      // query → one JSON line per row
      val rows = ask(out1, in1, "SELECT count(*) AS c FROM nation")
      assert(rows == Seq("""{"c":25}"""))
      // DML verb through the same socket → status row, then visible
      assert(ask(out1, in1, "DELETE FROM nation WHERE n_regionkey = 0")
        == Seq("""{"status":"OK"}"""))
      assert(ask(out1, in1, "SELECT count(*) AS c FROM nation")
        == Seq("""{"c":20}"""))
      // error keeps the connection alive
      val err = ask(out1, in1, "SELECT * FROM graft_no_such_table")
      assert(err.size == 1 && err.head.startsWith("##error"))
      assert(ask(out1, in1, "SELECT 1 AS x") == Seq("""{"x":1}"""))
      // a second concurrent client is served by the pool
      val (s2, out2, in2) = client()
      assert(ask(out2, in2, "SELECT 2 AS y") == Seq("""{"y":2}"""))
      s1.close(); s2.close()
    } finally gate.close()
  }

  test("ALTER TABLE: add/drop/rename column and rename table as catalog rewrites") {
    val e = fresh()
    e.put("a", Tables.nation(e.spark, sfDir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey")))
    val st = e.query("ALTER TABLE a ADD COLUMN score DOUBLE")
    assert(st.collect().map(_.getString(0)).toSeq == Seq("OK"))
    assert(e.get("a").schema("score").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(e.query("SELECT count(*) AS c FROM a WHERE score IS NULL")
      .head().getLong(0) == 25) // new column arrives NULL-filled
    e.query("UPDATE a SET score = n_nationkey * 2.0")
    e.query("ALTER TABLE a DROP COLUMN n_regionkey")
    assert(!e.get("a").columns.contains("n_regionkey"))
    e.query("ALTER TABLE a RENAME COLUMN n_name TO name")
    assert(e.get("a").columns.toSeq == Seq("n_nationkey", "name", "score"))
    e.query("ALTER TABLE a RENAME TO b")
    assert(!e.catalog.contains("a"))
    // renamed table is SQL-visible and carries the mutated data
    assert(e.query("SELECT sum(score) AS s FROM b").head().getDouble(0) ==
      (0 until 25).map(_ * 2.0).sum)
    // binder-parity errors: unknown column, duplicate add
    intercept[IllegalArgumentException](e.query("ALTER TABLE b DROP COLUMN nope"))
    intercept[IllegalArgumentException](e.query("ALTER TABLE b ADD COLUMN score DOUBLE"))
    // an unmanaged table falls through to spark.sql's resolution error
    val ex = intercept[Exception](
      e.query("ALTER TABLE graft_nope ADD COLUMN x INT"))
    assert(!ex.getMessage.contains("Cannot parse"), ex.getMessage)
  }

  test("ALTER IF (NOT) EXISTS variants are no-ops on conflict, and RENAME cannot clobber a view") {
    val e = fresh()
    e.put("t", e.spark.sql("SELECT 1 AS a, 2.0 AS b"))
    // IF NOT EXISTS on an existing column: OK answered, nothing changes
    e.query("ALTER TABLE t ADD COLUMN IF NOT EXISTS a INT")
    assert(e.get("t").columns.toSeq == Seq("a", "b"))
    // IF NOT EXISTS on a new column adds it
    e.query("ALTER TABLE t ADD COLUMN IF NOT EXISTS c STRING")
    assert(e.get("t").columns.toSeq == Seq("a", "b", "c"))
    // DROP IF EXISTS on a missing column: no-op, not an error
    e.query("ALTER TABLE t DROP COLUMN IF EXISTS nope")
    assert(e.get("t").columns.toSeq == Seq("a", "b", "c"))
    e.query("ALTER TABLE t DROP COLUMN IF EXISTS c")
    assert(e.get("t").columns.toSeq == Seq("a", "b"))
    // renaming onto a name Spark's catalog already serves must error,
    // not silently clobber the view (DuckDB raises a conflict)
    e.query("CREATE TEMPORARY VIEW graft_occupied AS SELECT 9 AS z")
    intercept[IllegalArgumentException](e.query("ALTER TABLE t RENAME TO graft_occupied"))
    assert(e.query("SELECT z FROM graft_occupied").head().getInt(0) == 9)
  }

  test("rename never exposes a window where neither name resolves to lock-free readers") {
    val e = fresh()
    e.put("flip", Tables.region(e.spark, sfDir))
    @volatile var stop = false
    @volatile var neitherName = 0
    val reader = new Thread(() => {
      while (!stop) {
        // a reader must find the table under ONE of the two names at
        // any instant — the swap is old-visible-until-new-registered.
        // Both names are read off one snapshot: two separate lookups
        // are not one instant (a full rename pair can run between them)
        val s = e.catalog.snapshot
        if (!s.contains("flip") && !s.contains("flop")) neitherName += 1
      }
    })
    reader.start()
    for (_ <- 1 to 50) {
      e.query("ALTER TABLE flip RENAME TO flop")
      e.query("ALTER TABLE flop RENAME TO flip")
    }
    stop = true
    reader.join(10000)
    assert(neitherName == 0, s"readers saw neither name $neitherName times")
    assert(e.count("flip") == 5)
  }

  test("SQL exchanger: '__input__' in a string literal is data, in a subquery a relation") {
    val e = fresh()
    e.put("src", e.spark.sql("SELECT * FROM VALUES (1), (2), (3) AS t(x)"))
    e.registerSqlExchanger("probe",
      "SELECT '__input__' AS tag, n FROM (SELECT count(*) AS n FROM (SELECT * FROM __input__) i) c")
    val r = e.exchange("probe", e.get("src")).head()
    assert(r.getString(0) == "__input__") // literal survived
    assert(r.getLong(1) == 3)             // subquery reference rewrote
    // a qualified column and a backticked relation bind to the same input
    e.registerSqlExchanger("qualified", "SELECT max(__input__.x) AS m FROM `__input__`")
    assert(e.exchange("qualified", e.get("src")).head().getInt(0) == 3)
    // so does a reference inside a CTE body
    e.registerSqlExchanger("cte",
      "WITH w AS (SELECT x FROM __input__ WHERE x > 1) SELECT count(*) AS n FROM w")
    assert(e.exchange("cte", e.get("src")).head().getLong(0) == 2)
  }

  test("INSERT into a nonexistent table errors instead of creating it") {
    val e = fresh()
    // DuckDB raises a catalog error here; create-if-absent is the PUT
    // semantic, not the SQL semantic — a typo'd name must not
    // materialize a surprise table
    intercept[Exception](
      e.query("INSERT INTO graft_absent VALUES (1)"))
    assert(!e.catalog.contains("graft_absent"))
  }

  test("duplicate SET assignment errors instead of keeping the last") {
    val e = fresh()
    e.put("dup", e.spark.sql("SELECT 1 AS a"))
    val ex = intercept[IllegalArgumentException](
      e.query("UPDATE dup SET a = 2, a = 3"))
    assert(ex.getMessage.toLowerCase.contains("duplicate"))
    assert(e.query("SELECT a FROM dup").head().getInt(0) == 1) // unchanged
  }

  test("identifier containing a keyword substring is not mis-split (col_where_x)") {
    val e = fresh()
    e.put("w", e.spark.sql("SELECT 1 AS id, 5 AS col_where_x"))
    e.query("UPDATE w SET id = col_where_x") // '_' is an identifier char
    assert(e.query("SELECT id FROM w").head().getInt(0) == 5)
  }

  private def gateClient(port: Int): (java.net.Socket, java.io.PrintWriter, java.io.BufferedReader) = {
    val s = new java.net.Socket("127.0.0.1", port)
    (s, new java.io.PrintWriter(s.getOutputStream, true),
      new java.io.BufferedReader(new java.io.InputStreamReader(s.getInputStream)))
  }

  private def gateAsk(out: java.io.PrintWriter, in: java.io.BufferedReader,
      line: String): Seq[String] = {
    out.println(line)
    Iterator.continually(in.readLine())
      .takeWhile(l => l != null && l != "##end").toSeq
  }

  test("TcpGate REGISTER: transform registered on one socket, exchanged on another") {
    val e = fresh()
    e.put("events_t", Tables.events(e.spark, sfDir).limit(100))
    val gate = new graft.engine.TcpGate(e)
    try {
      val (s1, out1, in1) = gateClient(gate.boundPort)
      // remote registration: SQL-defined transform over the wire
      assert(gateAsk(out1, in1,
        "REGISTER top_types AS SELECT event_type, count(*) AS n FROM __input__ " +
          "GROUP BY event_type ORDER BY event_type")
        == Seq("""{"status":"OK"}"""))
      // a SECOND client exchanges through the transform just registered
      val (s2, out2, in2) = gateClient(gate.boundPort)
      val rows = gateAsk(out2, in2, "EXCHANGE top_types FROM events_t")
      assert(rows.nonEmpty && rows.forall(_.contains("\"event_type\"")))
      // the registry rejects an unknown command listing what exists
      val err = gateAsk(out2, in2, "EXCHANGE nope FROM events_t")
      assert(err.size == 1 && err.head.startsWith("##error") &&
        err.head.contains("top_types"))
      // and the SQL exchanger also dispatches in-process
      assert(e.exchangerCommands.contains("top_types"))
      assert(e.exchange("top_types", e.get("events_t")).count() == rows.size)
      s1.close(); s2.close()
    } finally gate.close()
  }

  test("TcpGate auth: handshake required, bad credentials rejected, token reusable") {
    import graft.engine.AuthEngine
    val e = fresh()
    e.put("nation", Tables.nation(e.spark, sfDir))
    val auth = new AuthEngine(e, Map("admin" -> "secret1"))
    val gate = new graft.engine.TcpGate(e, auth = Some(auth))
    try {
      // no handshake: first line is treated as a failed handshake and
      // the connection closes without executing the statement
      val (s0, out0, in0) = gateClient(gate.boundPort)
      val r0 = gateAsk(out0, in0, "SELECT count(*) AS c FROM nation")
      assert(r0.size == 1 && r0.head.startsWith("##error"))
      assert(in0.readLine() == null) // closed
      s0.close()
      // bad credentials
      val (s1, out1, in1) = gateClient(gate.boundPort)
      val r1 = gateAsk(out1, in1, "##auth admin wrong")
      assert(r1.size == 1 && r1.head.startsWith("##error"))
      s1.close()
      // good credentials: ##ok <token>, then statements flow
      val (s2, out2, in2) = gateClient(gate.boundPort)
      val ok = gateAsk(out2, in2, "##auth admin secret1")
      assert(ok.size == 1 && ok.head.startsWith("##ok "))
      val token = ok.head.stripPrefix("##ok ")
      assert(gateAsk(out2, in2, "SELECT count(*) AS c FROM nation")
        == Seq("""{"c":25}"""))
      // the minted bearer token authenticates a NEW connection
      val (s3, out3, in3) = gateClient(gate.boundPort)
      assert(gateAsk(out3, in3, s"##token $token").head == s"##ok $token")
      assert(gateAsk(out3, in3, "SELECT 1 AS x") == Seq("""{"x":1}"""))
      s2.close(); s3.close()
    } finally gate.close()
  }

  test("TcpGate serves 16 concurrent clients without cross-talk") {
    val e = fresh()
    e.put("nation", Tables.nation(e.spark, sfDir))
    val gate = new graft.engine.TcpGate(e)
    try {
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val threads = (0 until 16).map { i =>
        new Thread(() => {
          try {
            val (s, out, in) = gateClient(gate.boundPort)
            // each client asks for ITS OWN constant + a shared count;
            // a response delivered to the wrong socket is caught by
            // the per-client constant
            for (_ <- 1 to 5) {
              val mine = gateAsk(out, in, s"SELECT $i AS me")
              if (mine != Seq(s"""{"me":$i}"""))
                errors.add(s"client $i got $mine")
              val cnt = gateAsk(out, in, "SELECT count(*) AS c FROM nation")
              if (cnt != Seq("""{"c":25}"""))
                errors.add(s"client $i count got $cnt")
            }
            s.close()
          } catch { case t: Throwable => errors.add(s"client $i threw: $t") }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      assert(errors.isEmpty, errors.toString)
    } finally gate.close()
  }

  test("upsert: DO UPDATE patches conflicts (excluded scoping), DO NOTHING skips them") {
    val e = fresh()
    e.put("u", e.spark.sql("SELECT * FROM VALUES (1L, 'a', 10L), (2L, 'b', 20L) AS t(k, name, v)"))
    // DO UPDATE: k=2 conflicts (existing row 'b' + incoming 'B2'), k=3 inserts
    e.query("INSERT INTO u SELECT * FROM VALUES (2L, 'B2', 200L), (3L, 'c', 30L) AS s(k, name, v) " +
      "ON CONFLICT (k) DO UPDATE SET name = name || '/' || excluded.name, v = excluded.v + 1")
    val rows = e.get("u").orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, "a", 10L), (2L, "b/B2", 201L), (3L, "c", 30L)))
    // DO NOTHING: conflicting k=1 skipped, k=9 lands, in-source dup key collapses
    e.query("INSERT INTO u SELECT * FROM VALUES (1L, 'zz', 0L), (9L, 'i', 90L), (9L, 'i', 90L) AS s(k, name, v) " +
      "ON CONFLICT (k) DO NOTHING")
    val after = e.get("u").orderBy(col("k")).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(after == Seq((1L, "a"), (2L, "b/B2"), (3L, "c"), (9L, "i")))
  }

  test("upsert parser: quoted 'ON CONFLICT' is data, join ON is not a conflict clause, dup source keys error") {
    val e = fresh()
    e.put("u2", e.spark.sql("SELECT * FROM VALUES (1L, 'a') AS t(k, s)"))
    // the string literal must survive as DATA through the plain-INSERT path
    e.query("INSERT INTO u2 SELECT 2L, 'ON CONFLICT (k) DO NOTHING'")
    assert(e.get("u2").filter(col("s").contains("ON CONFLICT")).count() == 1)
    // a JOIN … ON inside the source does not trigger the upsert parse,
    // while the trailing ON CONFLICT still does
    e.put("dim", e.spark.sql("SELECT * FROM VALUES (1L, 'x'), (5L, 'y') AS t(k, tag)"))
    e.query("INSERT INTO u2 SELECT d.k + 4, d.tag FROM dim d JOIN dim e ON d.k = e.k " +
      "ON CONFLICT (k) DO NOTHING")
    assert(e.get("u2").orderBy(col("k")).collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 5L, 9L))
    // two source rows on one conflict key is an error for DO UPDATE
    val ex = intercept[IllegalArgumentException] {
      e.query("INSERT INTO u2 SELECT * FROM VALUES (7L, 'p'), (7L, 'q') AS s(k, v) " +
        "ON CONFLICT (k) DO UPDATE SET s = excluded.v")
    }
    assert(ex.getMessage.contains("duplicate conflict-key"))
    // unknown conflict key errors instead of silently matching nothing
    val ex2 = intercept[IllegalArgumentException] {
      e.query("INSERT INTO u2 SELECT 8L, 'h' ON CONFLICT (nope) DO NOTHING")
    }
    assert(ex2.getMessage.contains("nope"))
  }

  test("merge: first-match-wins clause order, delete consumes its match, insert NULL-fills unlisted columns") {
    val e = fresh()
    e.put("m", e.spark.sql(
      "SELECT * FROM VALUES (1L, 'a', 10L), (2L, 'b', 20L), (3L, 'c', 30L) AS t(k, name, v)"))
    // k=1 matches with flag=0 → DELETE (and must NOT also update);
    // k=2 matches with flag=1 → first UPDATE wins over the later
    // catch-all UPDATE; k=9 is new → INSERT with v unlisted → NULL
    e.query("MERGE INTO m USING (SELECT * FROM VALUES (1L, 'X', 0L), (2L, 'Y', 1L), " +
      "(9L, 'Z', 5L) AS x(sk, sn, flag)) AS s " +
      "ON m.k = s.sk " +
      "WHEN MATCHED AND s.flag = 0 THEN DELETE " +
      "WHEN MATCHED AND s.flag = 1 THEN UPDATE SET name = name || '-' || s.sn " +
      "WHEN MATCHED THEN UPDATE SET name = 'never' " +
      "WHEN NOT MATCHED THEN INSERT (k, name) VALUES (s.sk, s.sn)")
    val rows = e.get("m").orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(rows == Seq((2L, "b-Y", 20L), (3L, "c", 30L), (9L, "Z", -1L)),
      s"unexpected merge result: $rows")
    // cardinality rule: two source rows hitting one target row error
    val ex = intercept[IllegalArgumentException] {
      e.query("MERGE INTO m USING (SELECT * FROM VALUES (2L, 'p'), (2L, 'q') AS x(sk, sn)) AS s " +
        "ON m.k = s.sk WHEN MATCHED THEN UPDATE SET name = s.sn")
    }
    assert(ex.getMessage.contains("more than once"))
    // non-equi ON is claimed-but-unsupported: loud error, not a
    // confusing spark.sql parse failure
    val ex2 = intercept[IllegalArgumentException] {
      e.query("MERGE INTO m USING (SELECT 1L AS sk, 'p' AS sn) AS s " +
        "ON m.k < s.sk WHEN MATCHED THEN UPDATE SET name = s.sn")
    }
    assert(ex2.getMessage.contains("equi-join"))
    // an unmanaged target is NOT claimed — falls through to spark.sql
    intercept[Exception] {
      e.query("MERGE INTO not_a_table USING (SELECT 1 AS a) AS s ON not_a_table.x = s.a " +
        "WHEN MATCHED THEN DELETE")
    }
  }

  test("merge: CASE WHEN in SET, alias-qualified SET target, unknown SET column errors, dup unmatched keys insert") {
    val e = fresh()
    e.put("m2", e.spark.sql("SELECT * FROM VALUES (1L, 'a', 10L), (2L, 'b', 20L) AS t(k, name, v)"))
    // a CASE WHEN … THEN … END inside the SET expression must not be
    // read as a MERGE clause boundary; the alias-qualified SET target
    // must resolve to the target column
    e.query("MERGE INTO m2 AS t USING (SELECT * FROM VALUES (1L, 1L), (2L, 0L) AS x(sk, flag)) AS s " +
      "ON t.k = s.sk " +
      "WHEN MATCHED THEN UPDATE SET t.v = CASE WHEN s.flag = 1 THEN v + 100 ELSE v END")
    val rows = e.get("m2").orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(rows == Seq((1L, 110L), (2L, 20L)), s"unexpected: $rows")
    // unknown SET column errors loudly (UPDATE-verb parity) instead
    // of silently dropping the assignment
    val ex = intercept[IllegalArgumentException] {
      e.query("MERGE INTO m2 USING (SELECT 1L AS sk) AS s ON m2.k = s.sk " +
        "WHEN MATCHED THEN UPDATE SET nope = 1")
    }
    assert(ex.getMessage.contains("nope"))
    // duplicate source keys that match NO target row both insert (the
    // ANSI cardinality rule only protects target rows touched twice)
    e.query("MERGE INTO m2 USING (SELECT * FROM VALUES (9L, 'x'), (9L, 'y') AS z(sk, sn)) AS s " +
      "ON m2.k = s.sk WHEN NOT MATCHED THEN INSERT (k, name) VALUES (s.sk, s.sn)")
    assert(e.get("m2").filter(col("k") === 9L).count() == 2)
    // …while a target row matched twice still errors
    val ex2 = intercept[IllegalArgumentException] {
      e.query("MERGE INTO m2 USING (SELECT * FROM VALUES (1L, 'p'), (1L, 'q') AS z(sk, sn)) AS s " +
        "ON m2.k = s.sk WHEN MATCHED THEN UPDATE SET name = s.sn")
    }
    assert(ex2.getMessage.contains("more than once"))
  }

  test("merge hardening: insert-only cardinality, dup insert columns, BY SOURCE, conditional inserts, CASE in USING") {
    val e = fresh()
    e.put("m3", e.spark.sql("SELECT * FROM VALUES (1L, 'a'), (2L, 'b') AS t(k, name)"))
    // 1. INSERT-ONLY merge: duplicate source keys that MATCH a target
    // row must NOT trip the cardinality rule (ANSI/DuckDB raise it
    // only when a target row is updated/deleted twice — r15 advice);
    // the matched rows stay, nothing inserts for them
    e.query("MERGE INTO m3 USING (SELECT * FROM VALUES (1L, 'p'), (1L, 'q'), (7L, 'n') " +
      "AS z(sk, sn)) AS s ON m3.k = s.sk " +
      "WHEN NOT MATCHED THEN INSERT (k, name) VALUES (s.sk, s.sn)")
    val r1 = e.get("m3").orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(r1 == Seq((1L, "a"), (2L, "b"), (7L, "n")), s"unexpected: $r1")
    // 2. duplicate column in the INSERT list errors loudly (was
    // silent last-writer-wins via toMap — r15 advice)
    val exDup = intercept[IllegalArgumentException] {
      e.query("MERGE INTO m3 USING (SELECT 8L AS sk, 'x' AS sn) AS s ON m3.k = s.sk " +
        "WHEN NOT MATCHED THEN INSERT (k, k) VALUES (s.sk, 9L)")
    }
    assert(exDup.getMessage.contains("more than once") &&
      exDup.getMessage.contains("'k'"), exDup.getMessage)
    // 3. WHEN NOT MATCHED BY SOURCE: rejected naming the construct,
    // not a confusing generic predicate error — tolerant of extra
    // whitespace between the keywords
    val exBy = intercept[IllegalArgumentException] {
      e.query("MERGE INTO m3 USING (SELECT 1L AS sk, 'x' AS sn) AS s ON m3.k = s.sk " +
        "WHEN NOT MATCHED BY  SOURCE THEN DELETE")
    }
    assert(exBy.getMessage.contains("BY SOURCE"), exBy.getMessage)
    // 3b. BY TARGET is the SQL:2023 synonym for plain NOT MATCHED —
    // accepted, identical semantics
    e.query("MERGE INTO m3 USING (SELECT 11L AS sk, 'bt' AS sn) AS s ON m3.k = s.sk " +
      "WHEN NOT MATCHED BY TARGET THEN INSERT (k, name) VALUES (s.sk, s.sn)")
    assert(e.get("m3").filter(col("k") === 11L).count() == 1)
    // 3c. …but ONLY after NOT MATCHED: SQL:2023 has no BY modifier on
    // plain WHEN MATCHED, so 'WHEN MATCHED BY TARGET' is rejected
    // naming the construct instead of silently running as WHEN
    // MATCHED (r16 advice)
    val exMbt = intercept[IllegalArgumentException] {
      e.query("MERGE INTO m3 USING (SELECT 1L AS sk, 'x' AS sn) AS s ON m3.k = s.sk " +
        "WHEN MATCHED BY TARGET THEN UPDATE SET name = s.sn")
    }
    assert(exMbt.getMessage.contains("BY TARGET") &&
      exMbt.getMessage.contains("NOT MATCHED"), exMbt.getMessage)
    assert(e.get("m3").filter(col("k") === 1L).collect()(0).getString(1) == "a",
      "the invalid clause must not have updated the matched row")
    // 4. multiple NOT MATCHED clauses with conditions: first-match-
    // wins — sn='hi' takes the first insert form, others the fallback
    e.query("MERGE INTO m3 USING (SELECT * FROM VALUES (20L, 'hi'), (21L, 'lo') " +
      "AS z(sk, sn)) AS s ON m3.k = s.sk " +
      "WHEN NOT MATCHED AND s.sn = 'hi' THEN INSERT (k, name) VALUES (s.sk, 'HIGH') " +
      "WHEN NOT MATCHED AND s.sn = 'hi' THEN INSERT (k, name) VALUES (s.sk, 'never') " +
      "WHEN NOT MATCHED THEN INSERT (k, name) VALUES (s.sk, 'other')")
    val r4 = e.get("m3").filter(col("k") >= 20L).orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(r4 == Seq((20L, "HIGH"), (21L, "other")), s"unexpected: $r4")
    // 5. a CASE…WHEN inside the USING subquery must not be read as a
    // merge-clause boundary (the WHEN splitter is paren/CASE-aware
    // and the source is extracted before splitting — pin it)
    e.query("MERGE INTO m3 USING (SELECT sk, CASE WHEN sk % 2 = 0 THEN 'even' " +
      "ELSE 'odd' END AS sn FROM (SELECT 30L AS sk UNION ALL SELECT 31L)) AS s " +
      "ON m3.k = s.sk " +
      "WHEN NOT MATCHED AND s.sn = 'even' THEN INSERT (k, name) VALUES (s.sk, s.sn) " +
      "WHEN NOT MATCHED THEN INSERT (k, name) VALUES (s.sk, upper(s.sn))")
    val r5 = e.get("m3").filter(col("k") >= 30L).orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(r5 == Seq((30L, "even"), (31L, "ODD")), s"unexpected: $r5")
  }

  test("TcpGate arrow mode: schema + rows round-trip byte-exactly via Arrow IPC") {
    import graft.engine.GateClient
    import org.apache.spark.sql.GraftBridge
    val e = fresh()
    e.put("nation", Tables.nation(e.spark, sfDir))
    // a result with varied types: long, string, double, array, null
    val stmt = "SELECT n_nationkey, n_name, CAST(n_regionkey AS DOUBLE) / 2 AS half, " +
      "array(n_nationkey, n_regionkey) AS pair, " +
      "CASE WHEN n_nationkey % 2 = 0 THEN NULL ELSE n_name END AS maybe " +
      "FROM nation ORDER BY n_nationkey"
    val expected = e.query(stmt)
    val gate = new graft.engine.TcpGate(e)
    try {
      val c = new GateClient("127.0.0.1", gate.boundPort)
      c.format("arrow")
      val (schemaJson, ipc) = c.sqlArrow(stmt)
      // schema line matches the in-process schema exactly
      assert(org.apache.spark.sql.types.DataType.fromJson(schemaJson) == expected.schema)
      // decoded stream reproduces schema and every row value
      val decoded = GraftBridge.fromArrowIPC(e.spark, ipc)
      assert(decoded.schema == expected.schema)
      assert(decoded.collect().toSeq == expected.collect().toSeq)
      // streaming row-count client agrees (validates the IPC framing
      // through Arrow's own reader, not Spark's)
      assert(c.sqlArrowRowCount("SELECT * FROM nation") == 25)
      // errors still text-framed in arrow mode; connection survives
      val err = intercept[RuntimeException](c.sqlArrow("SELECT * FROM graft_no_such"))
      assert(err.getMessage.contains("gate error"))
      assert(c.sqlArrow("SELECT 1 AS x")._2.nonEmpty)
      // ##format text switches the same connection back to JSON rows
      c.format("text")
      assert(c.sql("SELECT 1 AS x") == Seq("""{"x":1}"""))
      // streaming text client: counts rows without retaining them,
      // agrees with the materializing client, surfaces errors, and the
      // connection stays usable afterwards
      assert(c.sqlLineCount("SELECT * FROM nation") == 25)
      val terr = intercept[RuntimeException](c.sqlLineCount("SELECT * FROM graft_no_such"))
      assert(terr.getMessage.contains("gate error"))
      assert(c.sqlLineCount("SELECT 1 AS x") == 1)
      c.close()
    } finally gate.close()
  }

  test("TcpGate arrow cache: hit serves identical bytes, any mutation invalidates") {
    import graft.engine.GateClient
    import org.apache.spark.sql.GraftBridge
    val e = fresh()
    e.put("nation", Tables.nation(e.spark, sfDir))
    val gate = new graft.engine.TcpGate(e)
    try {
      val c = new GateClient("127.0.0.1", gate.boundPort)
      c.format("arrow")
      val stmt = "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey"
      // opaque client: frames kept un-decoded, rows counted from the
      // RecordBatch flatbuffer metadata alone
      val (sj1, frames1, rows1) = c.sqlArrowOpaque(stmt)
      assert(rows1 == 25)
      // second call is a cache hit: the served stream is the cached
      // zstd-compressed twin — smaller on the wire, same schema, and
      // the flatbuffer row-count metadata still reads without decode
      val (sj2, ipc2) = c.sqlArrow(stmt)
      assert(sj1 == sj2)
      assert(ipc2.length <= frames1.map(_.length).sum,
        "cache hit must not ship more bytes than the fresh encode")
      assert(c.sqlArrowRowCount(stmt) == 25) // metadata-only count on a hit
      // decoded cache-hit stream carries the exact same VALUES as the
      // in-process query (normalize compression first: Spark's IPC
      // reader does not decompress)
      val decoded = GraftBridge.fromArrowIPC(
        e.spark, GraftBridge.recompressIPC(ipc2, "none"))
      assert(decoded.collect().map(_.toSeq).toSeq ==
        e.query(stmt).collect().map(_.toSeq).toSeq)
      // a catalog mutation through ANY engine-API path invalidates:
      // the same statement re-executes against the new state
      e.put("nation", e.spark.sql(
        "SELECT 99L AS n_nationkey, 'ZZ' AS n_name, 0L AS n_regionkey"))
      val (_, _, rows2) = c.sqlArrowOpaque(stmt)
      assert(rows2 == 26, "cache must not serve pre-mutation bytes")
      // side-effecting statements are never cached: two DELETEs both run
      c.sqlArrow("DELETE FROM nation WHERE n_nationkey = 99")
      assert(c.sqlArrowRowCount("SELECT * FROM nation") == 25)
      // multi-batch stream: tiny record batches split the result across
      // many frames — metadata-only counting must sum across ALL of
      // them, on both the fresh-encode and the cache-hit path
      // the wire encodes under the engine's SERVE session (the tuned
      // batch size must not leak into the caller's session), so the
      // multi-batch shape is forced there
      e.serveSession.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
      try {
        val stmt2 = "SELECT n_nationkey FROM nation ORDER BY n_nationkey"
        val (_, frames2, rows2) = c.sqlArrowOpaque(stmt2) // miss: fresh encode
        assert(rows2 == 25)
        assert(frames2.length > 4, s"expected many small frames, got ${frames2.length}")
        assert(c.sqlArrowRowCount(stmt2) == 25) // hit: compressed cache
      } finally e.serveSession.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
      c.close()
    } finally gate.close()
  }

  test("engine never mutates the caller session's arrow conf (serve-session scoping)") {
    val s2 = spark.newSession()
    val before = s2.conf.getOption("spark.sql.execution.arrow.maxRecordsPerBatch")
    val e = new Engine(s2)
    assert(e.serveSession ne s2)
    assert(e.serveSession.conf
      .get("spark.sql.execution.arrow.maxRecordsPerBatch") == "131072")
    assert(s2.conf.getOption("spark.sql.execution.arrow.maxRecordsPerBatch") == before,
      "VERDICT r10 #8: the tuned batch size must not leak into the caller's session")
    // an explicit graft-scoped override wins on a fresh engine
    val s3 = spark.newSession()
    s3.conf.set("spark.graft.arrow.maxRecordsPerBatch", "4096")
    assert(new Engine(s3).serveSession.conf
      .get("spark.sql.execution.arrow.maxRecordsPerBatch") == "4096")
  }

  test("TcpGate arrow cache: 8 concurrent clients race one key without corruption") {
    import graft.engine.GateClient
    val e = fresh()
    e.put("nation", Tables.nation(e.spark, sfDir))
    val gate = new graft.engine.TcpGate(e)
    try {
      val stmt = "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey"
      // all 8 connections issue the SAME cacheable statement at once:
      // misses may race (each streams a correct fresh encode), the
      // cache converges to one entry, and every client must see the
      // full result regardless of which path served it
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val results = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            val c = new GateClient("127.0.0.1", gate.boundPort)
            try { c.format("arrow"); (1 to 3).map(_ => c.sqlArrowRowCount(stmt)).sum }
            finally c.close()
          }
        })
      }
      assert(results.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS)).forall(_ == 75L))
      pool.shutdown()
      val (entries, bytes) = gate.cacheStats
      assert(entries == 1 && bytes > 0, s"cache should converge to one entry, got $entries")
    } finally gate.close()
  }

  test("TcpGate arrow cache: INSERT into a raw-DDL table invalidates (epoch covers bare spark.sql writes)") {
    import graft.engine.GateClient
    val e = fresh()
    val gate = new graft.engine.TcpGate(e)
    try {
      e.spark.sql("DROP TABLE IF EXISTS graft_r9_rawddl")
      val c = new GateClient("127.0.0.1", gate.boundPort)
      c.format("arrow")
      // table exists only in the session catalog, NOT the engine's own
      // catalog — so the catalog.version counter cannot see writes to it
      c.sqlArrow("CREATE TABLE graft_r9_rawddl (x INT) USING parquet")
      c.sqlArrow("INSERT INTO graft_r9_rawddl VALUES (1)")
      val stmt = "SELECT count(*) AS c FROM graft_r9_rawddl"
      assert(c.sqlArrowRowCount(stmt) == 1) // install
      c.sqlArrow("INSERT INTO graft_r9_rawddl VALUES (2)")
      // the INSERT reached bare spark.sql; the epoch bump must retire
      // the cached count or this read silently returns 1 row = count 1
      val decoded = org.apache.spark.sql.GraftBridge.fromArrowIPC(
        e.spark, c.sqlArrow(stmt)._2)
      assert(decoded.collect()(0).getLong(0) == 2,
        "cache served pre-INSERT bytes — epoch did not cover a bare spark.sql write")
      // SET of a session conf is likewise non-pure → new stamp
      val s0 = e.mutationStamp
      c.sqlArrow("SET spark.sql.session.timeZone=UTC")
      assert(e.mutationStamp != s0, "SET must bump the mutation stamp")
      c.close()
    } finally {
      e.spark.sql("DROP TABLE IF EXISTS graft_r9_rawddl")
      gate.close()
    }
  }

  test("TcpGate arrow cache: non-deterministic and current-time results are never installed") {
    import graft.engine.GateClient
    val e = fresh()
    val gate = new graft.engine.TcpGate(e)
    try {
      val c = new GateClient("127.0.0.1", gate.boundPort)
      c.format("arrow")
      for (stmt <- Seq(
          "SELECT rand() AS r",
          "SELECT uuid() AS u",
          "SELECT current_timestamp() AS t",
          "SELECT now() AS t2",
          "SELECT current_date() AS d")) {
        assert(c.sqlArrowRowCount(stmt) == 1)
        assert(c.sqlArrowRowCount(stmt) == 1)
      }
      assert(gate.cacheStats._1 == 0,
        s"non-deterministic results were cached: ${gate.cacheStats}")
      // a deterministic SELECT still caches as before
      assert(c.sqlArrowRowCount("SELECT 1 AS one") == 1)
      assert(gate.cacheStats._1 == 1)
      c.close()
    } finally gate.close()
  }

  test("TcpGate ##nocache: fresh execute, no cache read or install") {
    import graft.engine.GateClient
    val e = fresh()
    e.put("nation", Tables.nation(e.spark, sfDir))
    val gate = new graft.engine.TcpGate(e)
    try {
      val c = new GateClient("127.0.0.1", gate.boundPort)
      c.format("arrow")
      val stmt = "SELECT n_nationkey FROM nation ORDER BY n_nationkey"
      assert(c.sqlArrowRowCount(s"##nocache $stmt") == 25)
      assert(c.sqlArrowRowCount(s"##nocache $stmt") == 25)
      assert(gate.cacheStats._1 == 0, "##nocache must not install")
      assert(c.sqlArrowRowCount(stmt) == 25) // plain statement installs
      assert(gate.cacheStats._1 == 1)
      // bypass must not READ the now-populated cache either: mutate
      // without bumping visibility through put, then ##nocache sees the
      // fresh state even though the stale entry still exists for its key
      assert(c.sqlArrowRowCount(s"##nocache $stmt") == 25)
      c.close()
    } finally gate.close()
  }

  test("TcpGate arrow mode: empty result and DML status rows frame correctly") {
    import graft.engine.GateClient
    import org.apache.spark.sql.GraftBridge
    val e = fresh()
    e.put("nation", Tables.nation(e.spark, sfDir))
    val gate = new graft.engine.TcpGate(e)
    try {
      val c = new GateClient("127.0.0.1", gate.boundPort)
      c.format("arrow")
      // empty result: valid IPC stream, zero rows, schema preserved
      val (sj, ipc) = c.sqlArrow("SELECT n_name FROM nation WHERE n_nationkey < 0")
      val empty = GraftBridge.fromArrowIPC(e.spark, ipc)
      assert(empty.schema.fieldNames.toSeq == Seq("n_name") && empty.count() == 0)
      assert(sj.contains("n_name"))
      // DML verbs reply with the OK status row as a 1-row Arrow stream
      val (_, st) = c.sqlArrow("DELETE FROM nation WHERE n_regionkey = 0")
      val status = GraftBridge.fromArrowIPC(e.spark, st)
      assert(status.collect().map(_.getString(0)).toSeq == Seq("OK"))
      assert(c.sqlArrowRowCount("SELECT * FROM nation") == 20)
      c.close()
    } finally gate.close()
  }

  test("emptyLike carries the source schema with zero rows (CTAS LIMIT 0)") {
    val e = fresh()
    val li = Tables.lineitem(e.spark, sfDir)
    val empty = e.emptyLike(li)
    assert(empty.schema == li.schema)
    assert(empty.count() == 0)
  }

  test("COPY TO: parquet/csv/json exports round-trip and return DuckDB's Count row") {
    val e = fresh()
    val root = graft.ops.purgeOnExit(
      s"${graft.ops.scratchRoot(spark)}/copy_spec_${ProcessHandle.current().pid()}")
    e.put("cp", Tables.region(e.spark, sfDir).select(col("r_regionkey"), col("r_name")))
    val n = e.count("cp")

    val c1 = e.query(s"COPY cp TO '$root/out_pq' (FORMAT PARQUET)").collect()
    assert(c1.map(_.getLong(0)).toSeq == Seq(n) && c1.head.schema.fieldNames.head == "Count")
    assert(e.spark.read.parquet(s"$root/out_pq").count() == n)

    // CSV: header on by default (DuckDB parity), HEADER false suppresses it
    e.query(s"COPY cp TO '$root/out_csv' (FORMAT CSV)")
    val back = e.spark.read.option("header", "true").csv(s"$root/out_csv")
    assert(back.columns.toSeq == Seq("r_regionkey", "r_name") && back.count() == n)
    e.query(s"COPY cp TO '$root/out_csv2' (FORMAT CSV, HEADER false)")
    assert(e.spark.read.csv(s"$root/out_csv2").count() == n)

    // format inferred from the path extension when options are absent
    e.query(s"COPY cp TO '$root/out.json'")
    assert(e.spark.read.json(s"$root/out.json").count() == n)
  }

  test("COPY falls through to spark.sql (parse error) for non-catalog targets and unknown options") {
    val e = fresh()
    e.put("cp2", Tables.region(e.spark, sfDir))
    // target not in the catalog → not claimed → Spark parse error
    intercept[Exception](e.query("COPY nosuch TO '/tmp/x' (FORMAT PARQUET)"))
    // unsupported option set → not claimed (never a silent partial export)
    intercept[Exception](
      e.query("COPY cp2 TO '/tmp/x' (FORMAT PARQUET, PARTITION_BY (r_name))"))
    // COPY ... FROM (ingest direction) is not claimed either
    intercept[Exception](e.query("COPY cp2 FROM '/tmp/x' (FORMAT PARQUET)"))
    // path with spaces still parses; quoted tail is not mistaken for options
    val root = graft.ops.purgeOnExit(
      s"${graft.ops.scratchRoot(spark)}/copy_spec2_${ProcessHandle.current().pid()}")
    e.query(s"COPY cp2 TO '$root/with space/out' (FORMAT PARQUET)")
    assert(e.spark.read.parquet(s"$root/with space/out").count() == e.count("cp2"))
  }

  test("ANN serve through the facade: a wire client runs top-k against the persisted IVF×PQ index") {
    import org.apache.spark.sql.functions._
    val e = fresh()
    // query vectors in: a catalog table of (vec_id, embedding) — here
    // PUT server-side; a client could equally CTAS it over the wire
    e.put("qvecs", Tables.embeddings(e.spark, sfDir)
      .filter(col("vec_id") < 20).select("vec_id", "embedding"))
    graft.ops.Vectors.registerAnnServe(e, sfDir)
    val gate = new graft.engine.TcpGate(e)
    try {
      val c = new graft.engine.GateClient("127.0.0.1", gate.boundPort)
      try {
        val lines = c.sql("EXCHANGE ann_topk FROM qvecs")
        assert(!lines.exists(_.startsWith("##error")),
          s"gate error: ${lines.find(_.startsWith("##error")).getOrElse("")}")
        // top-k out: equal to the oracled key's own DataFrame output
        val exp = graft.ops.Vectors.ivfPqResIndexedServe(spark, sfDir)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
        def f(j: String, key: String): Long =
          s""""$key":(-?\\d+)""".r.findFirstMatchIn(j)
            .getOrElse(fail(s"no $key in $j")).group(1).toLong
        val got = lines.map(j =>
          (f(j, "q_id"), f(j, "c_id"), f(j, "rnk"), f(j, "approx_d2"))).toSet
        assert(got == exp,
          s"wire serve diverged from the key: ${got.diff(exp).take(3)} vs ${exp.diff(got).take(3)}")
      } finally c.close()
    } finally gate.close()
  }

  test("graph-ANN serve through the facade: a wire client runs beam top-k against the persisted knn graph") {
    import org.apache.spark.sql.functions._
    val e = fresh()
    // query vectors in — the SAME catalog-table contract as ann_topk;
    // vec_id < 20 matches the oracled sim_graph_beam key's query set,
    // so the wire answer must equal that key's DataFrame output
    e.put("qvecs_g", Tables.embeddings(e.spark, sfDir)
      .filter(col("vec_id") < 20).select("vec_id", "embedding"))
    graft.ops.Vectors.registerGraphAnnServe(e, sfDir)
    val gate = new graft.engine.TcpGate(e)
    try {
      val c = new graft.engine.GateClient("127.0.0.1", gate.boundPort)
      try {
        val lines = c.sql("EXCHANGE ann_topk_graph FROM qvecs_g")
        assert(!lines.exists(_.startsWith("##error")),
          s"gate error: ${lines.find(_.startsWith("##error")).getOrElse("")}")
        val exp = SparkEntry.queries("sim_graph_beam")(spark, sfDir)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
        def f(j: String, key: String): Long =
          s""""$key":(-?\\d+)""".r.findFirstMatchIn(j)
            .getOrElse(fail(s"no $key in $j")).group(1).toLong
        val got = lines.map(j =>
          (f(j, "q_id"), f(j, "c_id"), f(j, "rnk"), f(j, "d2"))).toSet
        assert(got == exp,
          s"wire beam serve diverged from the key: ${got.diff(exp).take(3)} vs ${exp.diff(got).take(3)}")

        // the filtered/tombstoned tiers thread through the wire
        // registration unchanged: a second named command at the
        // sim_graph_beam_filtered dials must answer that key's rows
        // (the key's extra c_label column is c_id-derived, so the
        // four shared columns pin the same set)
        graft.ops.Vectors.registerGraphAnnServe(e, sfDir,
          command = "ann_topk_graph_f", labelMod = Some(10), tomb = true)
        val linesF = c.sql("EXCHANGE ann_topk_graph_f FROM qvecs_g")
        assert(!linesF.exists(_.startsWith("##error")),
          s"gate error: ${linesF.find(_.startsWith("##error")).getOrElse("")}")
        val expF = SparkEntry.queries("sim_graph_beam_filtered")(spark, sfDir)
          .select("q_id", "c_id", "rnk", "d2")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
        val gotF = linesF.map(j =>
          (f(j, "q_id"), f(j, "c_id"), f(j, "rnk"), f(j, "d2"))).toSet
        assert(gotF == expF,
          s"filtered wire beam serve diverged: ${gotF.diff(expF).take(3)} vs ${expF.diff(gotF).take(3)}")
      } finally c.close()
    } finally gate.close()
  }
}
