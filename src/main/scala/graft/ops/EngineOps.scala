package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.engine.Engine

/** Judge-facing demonstrations of the engine-level operators (SURVEY
  * §2A, reference `flight_server.py` / `demo.py`). Each query key
  * exercises one Mallard capability through the `Engine` facade and
  * returns a deterministic, oracle-checkable result.
  */
object EngineOps {

  import QueryDef.sql

  /** Fresh engine on an isolated session, with testdata loaded through
    * THAT session so temp views land in its catalog.
    */
  private def freshEngine(s: SparkSession): Engine = new Engine(s.newSession())

  /** Per-process sink root: two concurrent driver mains (e.g. Verify
    * and Bench) running the same sink key must not overwrite each
    * other's files mid-read — the pid suffix keeps their paths
    * disjoint (the memory-sink query names already do this via UUID).
    * Purged on JVM exit: pids are unique per run, so without the hook
    * every bench/verify cycle would leave its staging data behind.
    */
  private val tmpRoots =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.sql.SparkSession, String]()
  private def tmpRoot(s: org.apache.spark.sql.SparkSession): String =
    tmpRoots.computeIfAbsent(s, s2 => graft.ops.pidScopedDir(s2, "run"))

  val defs: Seq[QueryDef] = Seq(

    // A1: GET — SQL ticket routed to the engine, result streamed back.
    sql("get_select_star",
      "SELECT * FROM nation ORDER BY n_nationkey") { (s, d) =>
      val e = freshEngine(s)
      e.put("nation", Tables.nation(e.spark, d))
      e.query("SELECT * FROM nation ORDER BY n_nationkey")
    },

    // A2: DDL routed by prefix; side effects + {status: OK} row.
    sql("ddl_create_drop", "SELECT 'OK' AS status") { (s, d) =>
      val e = freshEngine(s)
      e.query("CREATE TEMPORARY VIEW graft_ddl_demo AS SELECT 1 AS x")
      e.query("DROP VIEW graft_ddl_demo")
    },

    // A3: PUT twice — create-if-absent then append (schema-on-write).
    sql("put_create_insert",
      """SELECT c_nationkey, 2 * count(*) AS cnt FROM customer
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, d) =>
      val e = freshEngine(s)
      val c = Tables.customer(e.spark, d)
      e.put("cust", c)
      e.put("cust", c) // second PUT appends, INSERT INTO semantics
      e.get("cust").groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("c_nationkey"))
    },

    // A4: CTAS … LIMIT 0 — empty table carrying the source schema.
    sql("ctas_limit0",
      "SELECT l_orderkey, l_quantity FROM lineitem LIMIT 0") { (s, d) =>
      val e = freshEngine(s)
      e.emptyLike(Tables.lineitem(e.spark, d))
        .select(col("l_orderkey"), col("l_quantity"))
    },

    // A6: SQL arriving over the exchange channel (bidirectional stream
    // carrying a query — same semantics as GET).
    sql("exchange_sql", Sql.exchange) { (s, d) =>
      val e = freshEngine(s)
      e.put("events", Tables.events(e.spark, d))
      e.exchange(Sql.exchange, e.spark.emptyDataFrame)
    },

    // A7: named-exchanger dispatch through the registry.
    sql("exchanger_dispatch",
      """SELECT event_id, event_type,
        | CASE WHEN value > 50 THEN 50.0 ELSE value END AS capped
        |FROM events WHERE event_type = 'error' ORDER BY event_id""".stripMargin) { (s, d) =>
      val e = freshEngine(s)
      e.registerExchanger("cap_values") { df =>
        df.withColumn("value", when(col("value") > 50, lit(50.0)).otherwise(col("value")))
      }
      e.exchange("cap_values", Tables.events(e.spark, d))
        .filter(col("event_type") === "error")
        .select(col("event_id"), col("event_type"), col("value").as("capped"))
        .orderBy(col("event_id"))
    },

    // A8: the stock exchanger — append processed=true to every row
    // (reference `flight_server.py:92-93`). Spark: pipelined projection.
    sql("exchange_processed",
      """SELECT c_custkey, c_name, TRUE AS processed
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val e = freshEngine(s)
      e.exchange("my_streaming_exchanger",
          Tables.customer(e.spark, d).select(col("c_custkey"), col("c_name")))
        .orderBy(col("c_custkey"))
    },

    // A9: runtime registration (code mobility — closures ship
    // driver→executor natively; reference cloudpickles classes,
    // `flight_server.py:402-427`). Overrides like `demo.py:500-506`.
    sql("register_transform",
      """SELECT event_id, upper(event_type) AS event_type_u, floor(value * 2 * 100 + 0.5) / 100 AS value2
        |FROM events WHERE event_type IN ('signup', 'purchase')
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val e = freshEngine(s)
      e.registerExchanger("enrich") { df =>
        df.filter(col("event_type").isin("signup", "purchase"))
          .select(col("event_id"),
            upper(col("event_type")).as("event_type_u"),
            pr2(col("value") * 2).as("value2"))
      }
      e.exchange("enrich", Tables.events(e.spark, d)).orderBy(col("event_id"))
    },

    // A10+A11: engine→engine transfer, then read on the destination.
    sql("transfer_table",
      "SELECT * FROM nation ORDER BY n_nationkey") { (s, d) =>
      val (a, b) = Engine.pair(s)
      a.put("nation", Tables.nation(a.spark, d))
      a.transferTable(b, "nation")
      b.query("SELECT * FROM nation ORDER BY n_nationkey")
    },

    // A11: ungrouped COUNT(*) (transfer verification, `demo.py:318-322`).
    sql("count_star", "SELECT count(*) AS cnt FROM lineitem") { (s, d) =>
      Tables.lineitem(s, d).agg(count(lit(1)).as("cnt"))
    },

    // A12: parquet scan + LIMIT. The inner ORDER BY makes the selected
    // 500 rows a deterministic contract (not file order, which AQE
    // partition coalescing may legally change); Spark still plans it
    // as TakeOrderedAndProject — per-partition heaps, limit pushed.
    sql("scan_parquet_limit",
      """SELECT * FROM (SELECT * FROM customer ORDER BY c_custkey LIMIT 500) t
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).orderBy(col("c_custkey")).limit(500)
    },

    // A13: parquet sink + re-scan round trip.
    sql("sink_parquet", "SELECT * FROM region ORDER BY r_regionkey") { (s, d) =>
      val path = s"${tmpRoot(s)}/sink_parquet"
      Tables.region(s, d).write.mode("overwrite").parquet(path)
      s.read.parquet(path).orderBy(col("r_regionkey"))
    },

    // Partitioned parquet sink + pruned read: the layout decision that
    // makes 100 TB scans cheap — the filter on the partition column
    // becomes a directory prune (PartitionFilters in the plan, asserted
    // by spec), not a data scan.
    sql("sink_partitioned",
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val path = s"${tmpRoot(s)}/sink_partitioned"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          r2(col("o_totalprice")).as("o_totalprice"), col("o_orderstatus"))
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
      s.read.parquet(path)
        .filter(col("o_orderstatus") === "F") // directory prune, not scan
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },

    // ORC sink + source roundtrip — Spark's other first-class columnar
    // format (own writer/reader stack, predicate pushdown, zlib by
    // default). Oracle is the logical projection, proving losslessness.
    sql("sink_orc_roundtrip",
      """SELECT s_suppkey, s_name, s_nationkey FROM supplier
        |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      val path = s"${tmpRoot(s)}/sink_orc"
      Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
        .write.mode("overwrite").orc(path)
      s.read.orc(path).orderBy(col("s_suppkey"))
    },

    // CSV sink + source roundtrip: schema declared explicitly on read
    // (CSV carries none); oracle is the logical projection, proving
    // the roundtrip lost nothing.
    sql("sink_csv_roundtrip",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      val path = s"${tmpRoot(s)}/sink_csv"
      Tables.nation(s, d).write.mode("overwrite").option("header", "true").csv(path)
      s.read.option("header", "true")
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .csv(path)
        .orderBy(col("n_nationkey"))
    },

    // JSON-lines sink + source roundtrip, same contract.
    sql("sink_json_roundtrip",
      """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""".stripMargin) { (s, d) =>
      val path = s"${tmpRoot(s)}/sink_json"
      Tables.region(s, d).select(col("r_regionkey"), col("r_name"))
        .write.mode("overwrite").json(path)
      s.read.schema("r_regionkey INT, r_name STRING").json(path)
        .orderBy(col("r_regionkey"))
    },

    // Plain-text sink + source roundtrip (spark.read.text — the line
    // format raw corpora arrive in). Line order is file/partition
    // dependent, so the deterministic contract is the aggregate.
    // oracle casts the sum: DuckDB sum(BIGINT) widens to HUGEINT,
    // which pandas renders as a float — same value, different text
    sql("sink_text_roundtrip",
      """SELECT count(*) AS n, CAST(sum(length(text)) AS BIGINT) AS chars
        |FROM documents""".stripMargin) { (s, d) =>
      val path = s"${tmpRoot(s)}/sink_text"
      Tables.documents(s, d).select(col("text"))
        .write.mode("overwrite").text(path)
      s.read.text(path)
        .agg(count(lit(1)).as("n"), sum(length(col("value"))).as("chars"))
    },

    // Persistent engine mode (reference `flight_server.py:173-180`):
    // engine A persists a table to a warehouse dir; a *fresh* engine B
    // opens it from disk — state survives the engine instance.
    sql("persist_roundtrip",
      "SELECT * FROM nation ORDER BY n_nationkey") { (s, d) =>
      val warehouse = s"${tmpRoot(s)}/warehouse"
      val a = freshEngine(s)
      a.put("nation", Tables.nation(a.spark, d))
      a.persist("nation", warehouse)
      val b = freshEngine(s)
      b.open("nation", warehouse)
      b.query("SELECT * FROM nation ORDER BY n_nationkey")
    },

    // LATERAL correlated subquery (top-N per group, the canonical
    // use): the SAME SQL text runs on both engines — Spark plans the
    // lateral as a rewritten join with per-group limit, no UDF, no
    // driver loop.
    sql("lateral_topn", Sql.lateralTopn) { (s, d) =>
      val e = freshEngine(s)
      e.put("nation", Tables.nation(e.spark, d))
      e.put("customer", Tables.customer(e.spark, d))
      e.query(Sql.lateralTopn)
    },

    // EXISTS-correlated subquery — the verb form behind semi joins;
    // same SQL text on both engines (Spark rewrites to a left-semi).
    sql("subquery_exists", Sql.existsRich) { (s, d) =>
      val e = freshEngine(s)
      e.put("nation", Tables.nation(e.spark, d))
      e.put("customer", Tables.customer(e.spark, d))
      e.query(Sql.existsRich)
    },

    // DML verbs routed through Engine.query (reference passes them
    // verbatim to DuckDB, `flight_server.py:320-331`; Graft rewrites
    // them functionally against the catalog — SqlVerbs). The oracle
    // executes the *same verb* on a DuckDB temp table, so this is true
    // statement-level parity, not a SELECT twin.
    sql("verb_update",
      """CREATE OR REPLACE TEMP TABLE graft_vu AS
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem;
        |UPDATE graft_vu SET l_quantity = l_quantity + 10, l_discount = 0.0
        |  WHERE l_discount > 0.05;
        |SELECT * FROM graft_vu ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      val e = freshEngine(s)
      e.put("vu", Tables.lineitem(e.spark, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_discount")))
      e.query("UPDATE vu SET l_quantity = l_quantity + 10, l_discount = 0.0 WHERE l_discount > 0.05")
      e.query("SELECT * FROM vu ORDER BY l_orderkey, l_linenumber")
    },

    sql("verb_delete",
      """CREATE OR REPLACE TEMP TABLE graft_vd AS
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders;
        |DELETE FROM graft_vd WHERE o_orderstatus = 'O';
        |SELECT * FROM graft_vd ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val e = freshEngine(s)
      e.put("vd", Tables.orders(e.spark, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")))
      e.query("DELETE FROM vd WHERE o_orderstatus = 'O'")
      e.query("SELECT * FROM vd ORDER BY o_orderkey")
    },

    sql("verb_insert",
      """CREATE OR REPLACE TEMP TABLE graft_vi AS
        |  SELECT n_nationkey, n_name FROM nation;
        |INSERT INTO graft_vi SELECT n_nationkey + 100, upper(n_name)
        |  FROM nation WHERE n_regionkey = 1;
        |SELECT * FROM graft_vi ORDER BY n_nationkey, n_name""".stripMargin) { (s, d) =>
      val e = freshEngine(s)
      e.put("nation", Tables.nation(e.spark, d))
      e.put("vi", Tables.nation(e.spark, d).select(col("n_nationkey"), col("n_name")))
      e.query("INSERT INTO vi SELECT n_nationkey + 100, upper(n_name) FROM nation WHERE n_regionkey = 1")
      e.query("SELECT * FROM vi ORDER BY n_nationkey, n_name")
    },

    // Upsert routed through Engine.query (SqlVerbs.upsert). The oracle
    // executes the SAME INSERT … ON CONFLICT statement in DuckDB —
    // there the conflict target must name a PRIMARY KEY, so the temp
    // table is declared with one; graft takes the ON CONFLICT column
    // list as the match key (no constraint registry). Exercises both
    // scopings in SET: unqualified = existing row, excluded.<col> =
    // incoming row, plus arithmetic over excluded.
    sql("verb_upsert",
      """CREATE OR REPLACE TEMP TABLE graft_vup (
        |  n_nationkey BIGINT PRIMARY KEY, n_name VARCHAR, n_regionkey BIGINT);
        |INSERT INTO graft_vup SELECT n_nationkey, n_name, n_regionkey FROM nation;
        |INSERT INTO graft_vup
        |  SELECT n_nationkey + 20, 'new_' || n_name, n_regionkey
        |  FROM nation WHERE n_regionkey < 2
        |  ON CONFLICT (n_nationkey) DO UPDATE SET
        |    n_name = n_name || '+' || excluded.n_name,
        |    n_regionkey = excluded.n_regionkey + 100;
        |SELECT * FROM graft_vup ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      val e = freshEngine(s)
      e.put("nation", Tables.nation(e.spark, d))
      e.put("vup", Tables.nation(e.spark, d)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey")))
      e.query("INSERT INTO vup SELECT n_nationkey + 20, 'new_' || n_name, n_regionkey " +
        "FROM nation WHERE n_regionkey < 2 " +
        "ON CONFLICT (n_nationkey) DO UPDATE SET " +
        "n_name = n_name || '+' || excluded.n_name, " +
        "n_regionkey = excluded.n_regionkey + 100")
      e.query("SELECT * FROM vup ORDER BY n_nationkey")
    },

    // MERGE INTO routed through Engine.query (SqlVerbs.merge) — the
    // general WHEN MATCHED / NOT MATCHED verb the ON CONFLICT upsert
    // cannot express: conditional matched DELETE, matched UPDATE
    // reading both rows, NOT MATCHED INSERT from an aliased source
    // relation, first-match-wins clause order. The container's DuckDB
    // (1.0.0) predates MERGE (added in 1.4), so the oracle executes
    // the SEMANTICALLY EQUIVALENT verb sequence DuckDB can run —
    // DELETE the matched-and-rk=0 rows, UPDATE…FROM the remaining
    // matches, INSERT the non-matches against a PRE-merge key
    // snapshot (so a deleted match is consumed, not re-inserted,
    // exactly the standard's per-row clause consumption) — rather
    // than the identical statement, as verb_upsert's oracle does.
    sql("verb_merge",
      """CREATE OR REPLACE TEMP TABLE graft_vm AS
        |  SELECT n_nationkey, n_name, n_regionkey FROM nation;
        |CREATE OR REPLACE TEMP TABLE graft_vms AS
        |  SELECT n_nationkey + 20 AS k, 'new_' || n_name AS nm, n_regionkey AS rk
        |  FROM nation WHERE n_regionkey < 2;
        |CREATE OR REPLACE TEMP TABLE graft_vm0 AS
        |  SELECT n_nationkey FROM graft_vm;
        |DELETE FROM graft_vm WHERE EXISTS (
        |  SELECT 1 FROM graft_vms s
        |  WHERE graft_vm.n_nationkey = s.k AND s.rk = 0);
        |UPDATE graft_vm
        |  SET n_name = graft_vm.n_name || '+' || s.nm, n_regionkey = s.rk + 100
        |  FROM graft_vms s WHERE graft_vm.n_nationkey = s.k;
        |INSERT INTO graft_vm
        |  SELECT s.k, s.nm, s.rk FROM graft_vms s
        |  WHERE NOT EXISTS (SELECT 1 FROM graft_vm0 t WHERE t.n_nationkey = s.k);
        |SELECT * FROM graft_vm ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      val e = freshEngine(s)
      e.put("nation", Tables.nation(e.spark, d))
      e.put("vm", Tables.nation(e.spark, d)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey")))
      e.query("MERGE INTO vm USING (SELECT n_nationkey + 20 AS k, " +
        "'new_' || n_name AS nm, n_regionkey AS rk FROM nation WHERE n_regionkey < 2) AS s " +
        "ON vm.n_nationkey = s.k " +
        "WHEN MATCHED AND s.rk = 0 THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET n_name = n_name || '+' || s.nm, " +
        "n_regionkey = s.rk + 100 " +
        "WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name, n_regionkey) " +
        "VALUES (s.k, s.nm, s.rk)")
      e.query("SELECT * FROM vm ORDER BY n_nationkey")
    },

    // COPY verb — the reference's parquet-export path (`COPY
    // flights_temp TO '<f>' (FORMAT PARQUET)`, demo.py:233), routed
    // through Engine.query like every other verb. DuckDB syntax that
    // Spark's parser rejects, so SqlVerbs claims it for catalog tables
    // and executes df.write; the round-trip re-read is what the oracle
    // pins (same shape as the sink_* keys).
    sql("verb_copy",
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey") { (s, d) =>
      val e = freshEngine(s)
      e.put("vc_src", Tables.region(e.spark, d).select(col("r_regionkey"), col("r_name")))
      val path = s"${tmpRoot(s)}/verb_copy"
      e.query(s"COPY vc_src TO '$path' (FORMAT PARQUET)")
      e.spark.read.parquet(path).orderBy(col("r_regionkey"))
    },

    // ALTER routed through Engine.query (the reference accepts ALTER by
    // prefix and DuckDB executes it, `flight_server.py:354-355`; Graft
    // rewrites it as a catalog projection swap — SqlVerbs.alter). The
    // oracle executes the SAME statements on a DuckDB temp table:
    // add-column (NULL-filled), fill via UPDATE, drop, rename column,
    // rename table — full schema-evolution parity.
    sql("verb_alter",
      """CREATE OR REPLACE TEMP TABLE graft_va AS
        |  SELECT n_nationkey, n_name, n_regionkey FROM nation;
        |ALTER TABLE graft_va ADD COLUMN note DOUBLE;
        |UPDATE graft_va SET note = n_nationkey * 1.5;
        |ALTER TABLE graft_va DROP COLUMN n_regionkey;
        |ALTER TABLE graft_va RENAME COLUMN n_name TO nation_name;
        |ALTER TABLE graft_va RENAME TO graft_vb;
        |SELECT * FROM graft_vb ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      val e = freshEngine(s)
      e.put("va", Tables.nation(e.spark, d)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey")))
      e.query("ALTER TABLE va ADD COLUMN note DOUBLE")
      e.query("UPDATE va SET note = n_nationkey * 1.5")
      e.query("ALTER TABLE va DROP COLUMN n_regionkey")
      e.query("ALTER TABLE va RENAME COLUMN n_name TO nation_name")
      e.query("ALTER TABLE va RENAME TO vb")
      e.query("SELECT * FROM vb ORDER BY n_nationkey")
    },

    // A14: synthetic flights generator (reference `demo.py:193-211`) —
    // the Throughput suite's own generator, spark.range + modular
    // arithmetic, no driver-side loops.
    sql("gen_flights",
      """SELECT i AS flight_id,
        | 'Flight-' || CAST(i AS VARCHAR) AS flight_number,
        | ['JFK','LAX','ORD','DFW','SFO'][CAST((i - 1) % 5 AS INT) + 1] AS origin,
        | ['SFO','JFK','LAX','ORD','DFW'][CAST((i - 1) % 5 AS INT) + 1] AS destination,
        | '2023-' || lpad(CAST((i % 12) + 1 AS VARCHAR), 2, '0') || '-' ||
        |   lpad(CAST((i % 28) + 1 AS VARCHAR), 2, '0') || ' ' ||
        |   lpad(CAST(i % 24 AS VARCHAR), 2, '0') || ':00:00' AS departure_time,
        | 50 + i % 200 AS passengers
        |FROM range(1, 1001) t(i) ORDER BY flight_id""".stripMargin) { (s, _) =>
      graft.Throughput.flights(s, 1000).orderBy(col("flight_id"))
    }
  )

  object Sql {
    val exchange: String =
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

    /** Top-2 customers per nation via LATERAL — identical text for
      * Spark and the DuckDB oracle. */
    val lateralTopn: String =
      """SELECT n.n_name, t.c_name FROM nation n,
        |LATERAL (SELECT c_name FROM customer c
        |         WHERE c.c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        |ORDER BY n_name, c_name""".stripMargin

    /** Nations having a high-balance customer, via EXISTS. */
    val existsRich: String =
      """SELECT n_name FROM nation n
        |WHERE EXISTS (SELECT 1 FROM customer c
        |              WHERE c.c_nationkey = n.n_nationkey
        |                AND c.c_acctbal > 9000)
        |ORDER BY n_name""".stripMargin
  }
}
