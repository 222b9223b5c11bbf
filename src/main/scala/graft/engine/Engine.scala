package graft.engine

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan, ParsedStatement,
  Project, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.functions._

/** Spark-native re-expression of Mallard's Flight-server capability
  * surface (reference `flight_server.py` + client ops `demo.py`).
  *
  * One `Engine` ≈ one Mallard server: an independent catalog of named
  * tables plus a registry of named stream→stream transformations
  * ("exchangers"). Two engines over `spark.newSession()` share the
  * cluster but have disjoint session-local temp views — the idiomatic
  * Spark analog of Mallard's two DuckDB Flight servers
  * (`demo.py:565-568`).
  *
  * Transport (gRPC/Arrow Flight) is deliberately out of scope: Spark's
  * driver→executor scheduling and shuffle ARE the data plane. Every
  * operation below returns a lazy DataFrame so Catalyst optimizes the
  * whole composed pipeline, where Mallard materializes at each hop
  * (`fetch_arrow_table`, `flight_server.py:348`) — we intentionally do
  * not imitate that (SURVEY §4.1).
  */
final class Engine(val spark: SparkSession) {

  /** Session the Arrow wire ENCODES under — never the caller's.
    *
    * Spark's 10k-row record batches fragment a hot-table GET into
    * thousands of tiny frames — more flatbuffer overhead, worse
    * compression ratio, more pump iterations through the socket
    * funnel. 128k rows/batch is the measured sweet spot for the
    * 24M-row flights shape, but setting it on the ENGINE session would
    * leak the override to every other Arrow consumer sharing it
    * (toPandas, collectAsArrow …) — VERDICT r9 #3. So the tuned value
    * lives on an engine-owned `newSession()` that TcpGate rebinds
    * results into just for encode. Precedence: explicit
    * `spark.graft.arrow.maxRecordsPerBatch` > a non-default value the
    * caller already set session-wide > the tuned 131072.
    *
    * `newSession()` starts from builder-time conf, not the parent's
    * RUNTIME conf, so result-affecting runtime settings (timezone,
    * shuffle width, ANSI) are copied across explicitly.
    */
  private[graft] lazy val serveSession: SparkSession = {
    val s = spark.newSession()
    Seq("spark.sql.session.timeZone", "spark.sql.shuffle.partitions",
      "spark.sql.ansi.enabled").foreach { k =>
      spark.conf.getOption(k).foreach(s.conf.set(k, _))
    }
    val rows = spark.conf.getOption("spark.graft.arrow.maxRecordsPerBatch")
      .orElse(spark.conf.getOption("spark.sql.execution.arrow.maxRecordsPerBatch")
        .filter(_ != "10000"))
      .getOrElse("131072")
    s.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", rows)
    s
  }

  val catalog = new Catalog(spark)

  /** Exchanger registry, pre-seeded like `flight_server.py:255-261`.
    * The stock exchanger appends `processed = true` to every row
    * (`flight_server.py:92-93`) — in Spark a pipelined projection, not
    * a buffered copy.
    */
  private val exchangers = TrieMap[String, DataFrame => DataFrame](
    "my_streaming_exchanger" -> (df => df.withColumn("processed", lit(true))))

  /** Mutations NOT visible to the catalog counter: raw DDL routed to
    * `spark.sql` and exchanger (re-)registration. Together with
    * `catalog.version` this forms [[mutationStamp]].
    */
  private val epoch = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Changes whenever anything that could affect a query result through
    * this engine's API has mutated: catalog tables (PUT/DROP/RENAME/DML
    * verbs), raw DDL, exchanger registry. TcpGate keys its Arrow result
    * cache on this — coarse (any write invalidates everything) but
    * sound, and hot-table serving is read-heavy by construction.
    */
  def mutationStamp: (Long, Long) = (catalog.version.get, epoch.get)

  // ---- A1/A2: GET — SQL routed by Spark's parsed plan ------------------

  /** Commands that inspect state without mutating it, classified by
    * class-name prefix so new SHOW/DESCRIBE variants stay covered.
    */
  private def isReadOnlyCommand(name: String): Boolean =
    name.startsWith("Explain") || name.startsWith("Show") ||
      name.startsWith("Describe") || name.startsWith("Desc")

  /** Spark's parse of `sql`, or the parser's error. */
  private def parse(sql: String): Either[Throwable, LogicalPlan] =
    try Right(spark.sessionState.sqlParser.parsePlan(sql))
    catch { case NonFatal(t) => Left(t) }

  /** What a statement's PARSED plan says about it — not its leading
    * keyword. Keyword sniffing has a real hole: Spark's grammar allows
    * `WITH t AS (…) INSERT INTO …` — a DML statement whose first keyword
    * is `WITH`. Treating it as pure would (a) skip the epoch bump, so
    * TcpGate's Arrow cache keeps serving pre-mutation bytes (silent
    * stale read), and (b) let the statement itself be cached, replaying
    * the GET bytes WITHOUT re-executing the write. Parsing finds the
    * `InsertIntoStatement` under the CTE node.
    *
    *  - pure: no node in the tree is a mutating `Command` or DML
    *    `ParsedStatement`. SHOW/DESCRIBE/EXPLAIN are commands but
    *    read-only, so they stay pure (no epoch bump).
    *  - plainQuery: no command node AT ALL — the only statements
    *    TcpGate may install in its Arrow result cache. SHOW/DESCRIBE
    *    output is driver-formatted metadata; cheap, not worth caching.
    *  - scan: the table a bare full-table scan reads (`TABLE t`,
    *    `SELECT * FROM t`, any spelling, comments or backticks), as
    *    written — TcpGate's per-table cache key.
    *
    * Unparseable text (wire verbs, DuckDB-dialect COPY) is neither pure
    * nor plain — erring non-pure is always sound: the cost is a cold
    * cache, never a wrong result.
    */
  private case class Shape(pure: Boolean, plainQuery: Boolean, scan: Option[String])

  private def shape(parsed: Either[Throwable, LogicalPlan]): Shape = parsed match {
    case Left(_) => Shape(pure = false, plainQuery = false, scan = None)
    case Right(plan) =>
      val hasCommand = plan.exists {
        case _: Command | _: ParsedStatement => true
        case _                               => false
      }
      val mutating = plan.exists {
        case c if isReadOnlyCommand(c.getClass.getSimpleName) => false
        case _: Command | _: ParsedStatement                  => true
        case _                                                => false
      }
      val scan = plan match {
        case UnresolvedRelation(Seq(t), _, false) => Some(t)
        case Project(Seq(UnresolvedStar(None)), UnresolvedRelation(Seq(t), _, false)) => Some(t)
        case _ => None
      }
      Shape(!mutating, !hasCommand, scan)
  }

  /** [[shape]] per statement text, memoized because the gate asks for
    * cacheability, the scan key and the epoch decision per statement,
    * and serving workloads repeat statement texts heavily.
    */
  private val classifyMemo =
    new java.util.LinkedHashMap[String, Shape](128, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Shape]): Boolean =
        size > 4096
    }

  private def classify(sql: String): Shape = {
    val hit = classifyMemo.synchronized(classifyMemo.get(sql))
    if (hit != null) hit
    else {
      val r = shape(parse(sql))
      classifyMemo.synchronized(classifyMemo.put(sql, r))
      r
    }
  }

  /** True iff the statement cannot mutate engine-visible state. */
  def isPureQuery(sql: String): Boolean = classify(sql).pure

  /** True iff the statement parses to a plain query plan (no command
    * nodes) — the precondition for TcpGate's Arrow result cache.
    */
  def isCacheableQuery(sql: String): Boolean = classify(sql).plainQuery

  /** The single-part table a bare full-table scan reads, as written. */
  private[engine] def scannedTable(sql: String): Option[String] = classify(sql).scan

  /** Run any SQL. The statement is parsed once; DML/DDL verbs the
    * catalog can rewrite (`UPDATE`/`DELETE`/`INSERT`/`MERGE`/`ALTER` on
    * catalog tables, plus DuckDB's `COPY … TO` and `INSERT … ON
    * CONFLICT`, which Mallard's router passes verbatim to DuckDB,
    * `flight_server.py:320-331`, `:354-355`) execute as functional
    * catalog rewrites on that plan (see [[SqlVerbs]]) and return a
    * one-row `{status: "OK"}` frame (`flight_server.py:357-359`).
    * Everything else runs on the same parsed plan, as `spark.sql` would
    * run it: a statement whose plan is not pure (DDL, SET, CACHE, DML on
    * Spark-catalog tables, SQL scripts) runs for its side effects, bumps
    * the epoch and returns the same status row; a pure one returns the
    * lazy query result; unparseable text bumps the epoch and raises the
    * parser's error. Spark's
    * parser replaces Mallard's keyword sniffing (`_is_ddl_statement`),
    * but the routing contract (statement → side effect + status row,
    * query → stream) is preserved.
    */
  def query(sql: String): DataFrame = {
    val parsed = parse(sql)
    def run(): DataFrame = parsed.fold(throw _, GraftBridge.ofRows(spark, _))
    SqlVerbs.execute(this, sql, parsed).getOrElse {
      if (shape(parsed).pure) run()
      else {
        // any non-pure statement invalidates cached results, even
        // though the catalog counter can't see it. Commands execute
        // eagerly when their frame is built; the routing contract
        // returns the status row.
        epoch.incrementAndGet()
        run()
        statusOk
      }
    }
  }

  def statusOk: DataFrame = spark.range(1).select(lit("OK").as("status"))

  /** Readiness probe (`health_check` `flight_server.py:263-269`). */
  def healthCheck(): Boolean = spark.sql("SELECT 1").count() == 1

  // ---- A3-A5: PUT — ingest with schema-on-write + append ---------------

  def put(name: String, df: DataFrame): Unit = catalog.put(name, df)

  def get(name: String): DataFrame = catalog.get(name)

  /** `SELECT COUNT(*) FROM t` (`demo.py:318-322`). */
  def count(name: String): Long = catalog.get(name).count()

  /** Empty frame with `df`'s schema — `CTAS … LIMIT 0`
    * (`flight_server.py:392-395`).
    */
  def emptyLike(df: DataFrame): DataFrame = df.limit(0)

  // ---- A7-A9: EXCHANGE — named transforms + runtime registration -------

  /** Register a named transform. Mallard ships cloudpickled classes to
    * the server (`flight_server.py:402-427`); in Spark, closures already
    * serialize driver→executor, so registration is a registry insert.
    * Re-registering overwrites, matching the demo's override of the
    * default exchanger (`demo.py:500-506`).
    */
  def registerExchanger(command: String)(f: DataFrame => DataFrame): Unit = {
    epoch.incrementAndGet()
    exchangers.update(command, f)
  }

  /** Register a transform DEFINED IN SQL — the remote-registration
    * path (TcpGate `REGISTER <name> AS <sql>`). The reference ships
    * exchanger *code* to a running server (cloudpickle via `do_action`,
    * `flight_server.py:402-427`); a wire protocol can't ship JVM
    * closures, but it can ship SQL, which covers the overwhelming share
    * of real transforms. The SQL text sees the exchange input as the
    * relation `__input__`: each call parses the text afresh (plan nodes
    * are never shared across concurrent exchanges) and binds every
    * `__input__` relation reference — in subqueries and CTEs too, never
    * inside a string literal — to the input's plan.
    */
  def registerSqlExchanger(name: String, sqlText: String): Unit =
    registerExchanger(name) { df =>
      val input = SubqueryAlias("__input__", df.queryExecution.analyzed)
      def bind(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
        case UnresolvedRelation(Seq(n), _, _) if n.equalsIgnoreCase("__input__") => input
        case w: UnresolvedWith => w.copy(cteRelations =
          w.cteRelations.map { case (n, q, d) => (n, q.copy(child = bind(q.child)), d) })
      }
      GraftBridge.ofRows(spark, bind(spark.sessionState.sqlParser.parsePlan(sqlText)))
    }

  def exchangerCommands: Seq[String] = exchangers.keys.toSeq.sorted

  /** Dispatch: registry hit → apply transform; else SQL-looking command
    * → run it (`_handle_sql_exchange` `flight_server.py:333-340`); else
    * fail listing available commands (`flight_server.py:312-315`).
    */
  def exchange(command: String, df: DataFrame): DataFrame =
    exchangers.get(command) match {
      case Some(f) => f(df)
      case None if isSqlQuery(command) => query(command)
      case None =>
        throw new IllegalArgumentException(
          s"Unknown exchange command: '$command'. " +
            s"Available commands: ${exchangerCommands.mkString(", ")}")
    }

  private val sqlPrefixes =
    Seq("SELECT", "INSERT", "UPDATE", "DELETE", "CREATE", "DROP", "ALTER", "WITH")

  /** `_is_sql_query` (`flight_server.py:320-331`). */
  def isSqlQuery(s: String): Boolean = {
    val u = s.trim.toUpperCase
    sqlPrefixes.exists(u.startsWith)
  }

  // ---- A10: TRANSFER — engine→engine table copy ------------------------

  /** Copy a table to another engine (`transfer_table` `demo.py:127-151`):
    * GET from this catalog, PUT into `dest`'s. Returns rows copied. The
    * "stream pump" loop is subsumed by lazy plan handoff — both engines
    * share one SparkContext, so no data moves until `dest` runs an
    * action, and then it moves executor-side, never through the driver.
    */
  /** `verify = true` re-counts the destination after the PUT (the
    * reference's behavior, `demo.py:318-322`); pass false to keep the
    * transfer fully lazy — at scale the count is a full extra scan of
    * the destination table, so it should be a choice, not a tax.
    */
  def transferTable(dest: Engine, name: String, verify: Boolean = true): Long = {
    val df = catalog.get(name)
    dest.put(name, df)
    if (verify) dest.count(name) else -1L
  }

  // ---- persistent mode (file-backed engine) ----------------------------

  /** Persist a catalog table to the engine's warehouse directory —
    * Mallard's file-backed server mode (`flight_server.py:173-180`,
    * `README.md:62-66`); the reference keeps one DuckDB file per
    * server, we keep one parquet directory per table.
    */
  def persist(name: String, warehouse: String): Unit =
    catalog.get(name).write.mode("overwrite").parquet(s"$warehouse/$name")

  /** Open a persisted table into this engine's catalog. */
  def open(name: String, warehouse: String): Unit =
    catalog.putReplace(name, spark.read.parquet(s"$warehouse/$name"))
}

object Engine {
  /** Two-server topology: independent session catalogs, one cluster. */
  def pair(spark: SparkSession): (Engine, Engine) =
    (new Engine(spark.newSession()), new Engine(spark.newSession()))
}
