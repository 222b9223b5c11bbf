package graft.engine

import java.io.{BufferedInputStream, BufferedOutputStream, BufferedReader, ByteArrayOutputStream, DataInputStream, DataOutputStream, InputStreamReader, OutputStreamWriter, PrintWriter}
import java.net.{InetAddress, ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors

import org.apache.spark.sql.{DataFrame, GraftBridge}

/** Minimal network transport facade over an [[Engine]] — the analog of
  * Mallard's Flight server *listening on a port*
  * (`flight_server.py:271-284`, `serve()` loop `:433-487`), rebuilt
  * with zero dependencies because no Arrow Flight / gRPC jars exist in
  * this offline environment.
  *
  * Protocol (newline-delimited, UTF-8):
  *  - client sends ONE statement per line;
  *  - `REGISTER <name> AS <sql>` registers a SQL-defined exchanger in
  *    the engine registry (the SQL sees the exchange input as
  *    `__input__`) — the wire version of the reference's runtime code
  *    shipping (`flight_server.py:402-427`);
  *  - `EXCHANGE <name> FROM <table>` applies a registered exchanger to
  *    a catalog table and streams the result back;
  *  - anything else routes through `Engine.query` (SQL, DML, DDL);
  *  - server replies with one JSON object per result row (Spark's
  *    canonical `toJSON` encoding), then one `##end` terminator line;
  *  - on failure it replies `##error <message>` then `##end` — the
  *    connection survives, matching the reference server's
  *    error-as-response behavior (`flight_server.py:312-315`).
  *
  * Arrow mode (`##format arrow`, per connection; `##format text`
  * switches back): results ship as Arrow RecordBatch streams — the
  * reference's actual wire format (`flight_server.py:336-339`,
  * `demo.py:112-114`) — instead of JSON text rows. Reply framing per
  * statement:
  *  - one `##schema <StructType json>` text line;
  *  - length-prefixed binary chunks (4-byte big-endian length, then
  *    payload) that concatenate to ONE spec-valid Arrow IPC stream:
  *    schema header, one chunk per record batch, end-of-stream marker;
  *  - a zero-length chunk terminator, then the usual `##end` line.
  * Rows are encoded to record batches ON THE EXECUTORS
  * (`GraftBridge.arrowBatches` runs Spark's own `toArrowBatchRdd`);
  * the driver never materializes rows, it pumps one partition of
  * opaque byte payloads at a time. Errors before any binary byte are
  * plain `##error` lines; a failure mid-stream terminates the chunk
  * sequence (zero-length chunk) and then reports `##error` — the
  * client drops the partial stream. [[GateClient]] implements the
  * client half.
  *
  * Security: binds the loopback address by default — an unauthenticated
  * wildcard bind would expose DROP/DELETE to any host that can reach
  * the port. Passing an [[AuthEngine]] requires a handshake as the
  * FIRST line of every connection (the reference gates connections the
  * same way, basic→bearer middleware `flight_server.py:110-161`):
  *  - `##auth <user> <password>` validates credentials and replies
  *    `##ok <token>` (the token works on other connections too);
  *  - `##token <token>` presents an existing bearer token, `##ok`;
  *  - anything else (or invalid credentials) → `##error …` and the
  *    connection closes.
  *
  * Result rows stream through `toLocalIterator` — one partition in
  * driver memory at a time, never the whole result. A single socket is
  * inherently a driver-side funnel; that is exactly the reference's
  * transport model (every Mallard GET funnels through one gRPC
  * stream), so this facade is capability parity, not the recommended
  * data path. The engine's real data plane remains the cluster
  * (`Engine.transferTable` moves plans, not bytes). Scale guidance:
  * use the gate for control-plane SQL (DDL, DML verbs, small results)
  * and sinks (`sink_*` keys) for bulk egress.
  */
final class TcpGate(val engine: Engine, port: Int = 0,
    auth: Option[AuthEngine] = None,
    bindAddress: InetAddress = InetAddress.getLoopbackAddress)
  extends AutoCloseable {

  private val server = new ServerSocket(port, 50, bindAddress)
  private val pool = Executors.newCachedThreadPool()
  @volatile private var running = true

  /** Live client sockets — socket reads are not interruptible, so
    * close() must close these directly to unblock their readLine and
    * let the (non-daemon) pool threads exit.
    */
  private val clients =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()

  /** The actual bound port (pass 0 to let the OS pick). */
  def boundPort: Int = server.getLocalPort

  pool.submit(new Runnable {
    def run(): Unit =
      while (running)
        try {
          val sock = server.accept()
          clients.add(sock)
          // raced with close(): it may have swept `clients` before the
          // add above — close the straggler ourselves
          if (!running) { clients.remove(sock); sock.close() }
          else pool.submit(new Runnable { def run(): Unit = serve(sock) })
        } catch {
          case _: SocketException => () // closed during accept — shutdown
        }
  })

  // ---- Arrow result cache ----------------------------------------------
  //
  // The reference server GETs straight out of an in-memory *columnar*
  // store, so its per-GET Arrow export is near-memcpy; Spark stores
  // rows, and the row→Arrow encode dominates a hot-table GET (~1.2 s
  // for 24M rows vs ~0.25 s for the scan itself). The serving-layer
  // equivalent of "my table is already columnar" is to keep the
  // IPC-encoded result bytes of pure queries and stream them directly
  // on repeat — the first GET pays the encode, every subsequent GET is
  // a socket write. Soundness:
  //  - keys include [[Engine.mutationStamp]], so ANY mutation through
  //    the engine API (PUT/DROP/RENAME/DML verbs, raw DDL, exchanger
  //    registration) makes every cached entry unreachable;
  //  - only statements that parse to a plain query plan are cacheable
  //    — verbs with side effects (COPY, INSERT, REGISTER, DDL…) always
  //    execute (see [[cacheable]]);
  //  - results whose analyzed plan contains a non-deterministic or
  //    current-time expression (rand(), uuid(), now(), …) are streamed
  //    but never installed — see [[cacheSafe]];
  //  - `##nocache <sql>` is an unconditional bypass (fresh execute, no
  //    cache read, no install) — the per-request freshness escape
  //    hatch; `##flushcache` drops every entry (for mutations made
  //    out-of-band on engine.spark, which the stamp cannot see);
  //  - bare catalog-table scans on the DEFAULT path share one
  //    canonical per-table pre-encoded entry, the engine's columnar
  //    serving form (see [[tableScanKey]]);
  //  - total cached bytes are bounded (`spark.graft.gate.arrowCacheBytes`,
  //    default 2 GiB, 0 disables); results that exceed the bound are
  //    streamed but not retained; eviction is LRU.
  // Stale-stamp entries (unreachable — both stamp counters are
  // monotonic) are purged on every insert.

  private case class CachedResult(
    schemaJson: String, frames: Vector[Array[Byte]], bytes: Long)

  private val cacheMaxBytes: Long = engine.spark.conf
    .getOption("spark.graft.gate.arrowCacheBytes")
    .map(_.toLong).getOrElse(2L << 30)

  /** Codec the CACHE retains entries in ("zstd[:level]" | "lz4" |
    * "none", default zstd). Since r12 the first GET no longer pays
    * this inline: the reply ships (and installs) at [[wireCodec]]
    * speed, and [[recompress]] swaps the entry to this codec in the
    * background — compression cost is amortized over every later hit
    * and bounds cache memory (24M-row flights: 1.73 GB raw → 552 MB),
    * without sitting on the first GET's latency. The compressed stream
    * stays spec-valid self-describing Arrow IPC: pyarrow/Arrow-Java
    * clients decompress transparently; the opaque client never needs
    * to (RecordBatch row counts live in the uncompressed flatbuffer
    * metadata); `GraftBridge.fromArrowIPC` normalizes automatically.
    */
  private val cacheCodec: String = engine.spark.conf
    .getOption("spark.graft.gate.arrowCodec").getOrElse("zstd").toLowerCase

  /** Codec every FRESH reply ships with (`##nocache`, cold GETs,
    * non-deterministic results; text-mode sessions have no Arrow at
    * all). Default "none": on the loopback/LAN sockets the gate
    * serves, shipping raw batches is measured ~35% faster than paying
    * executor-side zstd inline (24M-row fresh GET: 1.62 s vs 2.47 s on
    * the r9 box). Set `spark.graft.gate.wireCodec=zstd` when clients
    * sit behind a thin pipe and per-reply bandwidth dominates — cache
    * installs then skip the background recompression (already at
    * [[cacheCodec]] when the codecs coincide).
    */
  private val wireCodec: String = engine.spark.conf
    .getOption("spark.graft.gate.wireCodec").getOrElse("none").toLowerCase

  /** Entries below this size skip background recompression (the extra
    * query execution costs more than the cache memory it reclaims).
    */
  private val recompressMinBytes: Long = engine.spark.conf
    .getOption("spark.graft.gate.recompressMinBytes")
    .map(_.toLong).getOrElse(8L << 20)

  /** The configured cache codec — exposed so benchmarks can report
    * which codec their numbers were measured under.
    */
  def codecName: String = cacheCodec

  private val arrowCache =
    new java.util.LinkedHashMap[(String, (Long, Long)), CachedResult](16, 0.75f, true)
  private var cachedBytes = 0L // guarded by arrowCache's monitor

  private def cacheGet(key: (String, (Long, Long))): Option[CachedResult] =
    arrowCache.synchronized(Option(arrowCache.get(key)))

  /** (entries, total cached bytes) — diagnostics. */
  def cacheStats: (Int, Long) =
    arrowCache.synchronized((arrowCache.size, cachedBytes))

  /** Drop every cached reply (the `##flushcache` verb): required after
    * mutations the engine's stamp cannot see (a host app writing
    * directly on `engine.spark`).
    */
  def flushCache(): Unit =
    arrowCache.synchronized { arrowCache.clear(); cachedBytes = 0L }

  // Background cache-entry builder (r12, VERDICT r11 stretch #8): the
  // serving path ships large fresh results at wire-codec (raw) speed
  // and retains nothing; this single-thread pass then re-executes the
  // plan, encodes with [[cacheCodec]] (executor-parallel zstd) and
  // installs the entry — the first GET pays only the ##nocache fresh
  // path (measured ~3 s vs ~6.5 s inline-zstd, with none of the
  // multi-GB raw-retention GC stalls), and later hits serve the small
  // compressed bytes. Guards: the install is skipped if the mutation
  // stamp moved (the re-executed plan could see newer data than the
  // stamp promises), and only cacheSafe (deterministic) results reach
  // here, so the re-execution is value-identical to what was served.
  private val recompressPool = java.util.concurrent.Executors.newSingleThreadExecutor(
    (r: Runnable) => { val t = new Thread(r, "graft-gate-recompress"); t.setDaemon(true); t })

  // Results whose encoded size exceeded cacheMaxBytes at their stamp:
  // they can never install, so cold GETs must not re-queue the doomed
  // re-execution per request (review finding — previously an
  // over-bound table triggered a full re-execute + encode on EVERY
  // GET forever). Pruned of dead stamps whenever a new key is added.
  private val recompressSkip =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, (Long, Long))]()

  /** Abort signal for an encode that crossed cacheMaxBytes mid-pass. */
  private final class RecompressOverBound extends RuntimeException

  private def recompress(key: (String, (Long, Long)), df: DataFrame,
      schemaJson: String): Unit = {
    if (recompressSkip.contains(key)) return
    recompressPool.submit(new Runnable {
      def run(): Unit = try {
        if (engine.mutationStamp != key._2) return // stale before we started
        if (cacheGet(key).isDefined) return // an earlier pass already installed it
        val spark = engine.serveSession
        val frames = Vector.newBuilder[Array[Byte]]
        var bytes = 0L
        // bound enforced INCREMENTALLY: an entry that cannot fit must
        // not accumulate multi-GB of frames in driver memory before a
        // final size check discards them
        def add(b: Array[Byte]): Unit = {
          frames += b; bytes += b.length
          if (bytes > cacheMaxBytes) throw new RecompressOverBound
        }
        add(GraftBridge.arrowStreamHeader(spark, df.schema))
        if (cacheCodec != "none")
          GraftBridge.arrowBatchesPipelinedCompressed(df, cacheCodec)(add)
        else
          GraftBridge.arrowBatchesPipelined(df)(add)
        add(GraftBridge.arrowStreamFooter(spark, df.schema))
        // swap only if still current — a mutation mid-encode means the
        // re-executed bytes may not match what stamp-keyed readers saw
        if (engine.mutationStamp == key._2 && bytes <= cacheMaxBytes)
          cachePut(key, CachedResult(schemaJson, frames.result(), bytes))
      } catch {
        case _: RecompressOverBound =>
          recompressSkip.removeIf(_._2 != key._2) // drop dead-stamp keys
          recompressSkip.add(key)
          ()
        case _: Exception => () // best-effort: raw serving stays valid
      }
    })
    ()
  }

  /** Block until every queued recompression pass has drained —
    * benchmarks and specs use this to separate first-GET latency from
    * the background work.
    */
  def awaitRecompress(): Unit =
    recompressPool.submit(new Runnable { def run(): Unit = () }).get()

  private def cachePut(key: (String, (Long, Long)), value: CachedResult): Unit =
    arrowCache.synchronized {
      if (value.bytes <= cacheMaxBytes) {
        Option(arrowCache.put(key, value)).foreach(p => cachedBytes -= p.bytes)
        cachedBytes += value.bytes
        val it = arrowCache.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          // purge unreachable stamps eagerly; evict LRU past the bound
          if (e.getKey != key &&
              (e.getKey._2 != key._2 || cachedBytes > cacheMaxBytes)) {
            cachedBytes -= e.getValue.bytes
            it.remove()
          }
        }
      }
    }

  /** Cache admission is decided from the PARSED plan (via the engine),
    * not the leading keyword: `WITH t AS (…) INSERT INTO …` starts with
    * a cache-looking keyword but is DML — replaying its cached bytes
    * would skip the write entirely. Wire verbs (REGISTER/EXCHANGE) and
    * engine-dialect statements don't parse ⇒ classified non-cacheable.
    */
  private def cacheable(stmt: String): Boolean = engine.isCacheableQuery(stmt)

  /** Canonical per-TABLE cache key for bare full-table scans of catalog
    * tables (`SELECT * FROM t` / `TABLE t`, any spelling, case, comment
    * or quoting — read off the parsed plan, memoized with the statement's
    * classification). Every spelling of the scan shares ONE cache entry,
    * so the entry behaves like the table's pre-encoded columnar serving
    * form, not a statement-text replay. The reference server re-executes
    * every GET, but against DuckDB's COLUMNAR memory — its fresh
    * `SELECT * FROM t` is a near-memcpy export. Spark stores rows, so the
    * honest equivalent of "my table is already columnar" is keeping each
    * catalog table's Arrow-encoded chunks keyed on
    * [[Engine.mutationStamp]]: a default-path GET still parses,
    * classifies and stamps, but ships pre-encoded bytes. Any mutation
    * through the engine moves the stamp and the next GET re-encodes;
    * out-of-band spark mutations require `##nocache` (per-request) or
    * `##flushcache` (connection-wide) to force freshness.
    */
  private def tableScanKey(stmt: String): Option[String] =
    // Spark resolves identifiers case-insensitively — canonicalize to
    // the catalog's spelling so `SELECT * FROM NATION` and
    // `TABLE nation` share ONE entry (ADVICE r11: a case-variant
    // spelling must not install a duplicate copy of the table bytes)
    engine.scannedTable(stmt)
      .flatMap(name => engine.catalog.list.find(_.equalsIgnoreCase(name)))
      .map(c => s"##table:$c")

  /** Current-time expressions are MARKED deterministic in Catalyst
    * (they fold to a literal at each query start), but two GETs at
    * different wall-clocks must not replay identical bytes — so they
    * are cache-unsafe alongside genuinely non-deterministic
    * expressions (rand(), uuid(), shuffle(), monotonically_increasing_id()).
    */
  private val currentTimeLike = Set(
    "CurrentTimestamp", "Now", "CurrentDate", "LocalTimestamp",
    "CurrentTimeZone", "CurrentUser")

  /** True iff every expression in the analyzed plan (subqueries
    * included) is deterministic and time-independent — only such
    * results may be installed in the Arrow cache. The reference server
    * re-executes every GET (`fetch_arrow_table`, `flight_server.py:348`),
    * so a cached rand()/now() replay would diverge from it observably.
    */
  private def cacheSafe(df: DataFrame): Boolean = {
    val root = df.queryExecution.analyzed
    (root +: root.subqueriesAll).forall { plan =>
      !plan.exists(_.expressions.exists(_.exists(e =>
        !e.deterministic || currentTimeLike(e.getClass.getSimpleName))))
    }
  }

  private val RegisterRe =
    "(?is)^REGISTER\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+AS\\s+(.+)$".r
  private val ExchangeRe =
    "(?is)^EXCHANGE\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+FROM\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r

  private def runLine(line: String): DataFrame = line match {
    case RegisterRe(name, sqlText) =>
      engine.registerSqlExchanger(name, sqlText); engine.statusOk
    case ExchangeRe(name, table) =>
      engine.exchange(name, engine.get(table))
    case sql => engine.query(sql)
  }

  private val AuthRe = "(?s)^##auth\\s+(\\S+)\\s+(.+)$".r
  private val TokenRe = "(?s)^##token\\s+(\\S+)\\s*$".r

  /** Returns true when the connection may proceed. Writes its own
    * protocol lines either way.
    */
  private def handshake(a: AuthEngine, in: BufferedReader, out: PrintWriter): Boolean = {
    val ok = try {
      in.readLine() match {
        case AuthRe(user, password) => Some(a.authenticate(user, password))
        case TokenRe(token)         => a.validate(token); Some(token)
        case _                      => None
      }
    } catch { case _: SecurityException => None }
    ok match {
      case Some(token) =>
        out.println(s"##ok $token"); out.println("##end"); out.flush(); true
      case None =>
        out.println("##error authentication required")
        out.println("##end"); out.flush(); false
    }
  }

  private val FormatRe = "(?i)^##format\\s+(arrow|text)\\s*$".r

  private def serve(sock: Socket): Unit = {
    // bulk server→client writes: disable Nagle and widen the send
    // window so a hot-table Arrow stream isn't throttled by the 64 KB
    // defaults (the cached-result path is pure socket throughput)
    try { sock.setTcpNoDelay(true); sock.setSendBufferSize(4 << 20) }
    catch { case _: SocketException => () }
    val in = new BufferedReader(
      new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
    // text and binary interleave on ONE buffered stream; the PrintWriter
    // is always flushed before binary bytes follow it, so ordering on
    // the socket is exactly write order
    val raw = new BufferedOutputStream(sock.getOutputStream, 1 << 20)
    val out = new PrintWriter(new OutputStreamWriter(raw, StandardCharsets.UTF_8), false)
    val bin = new DataOutputStream(raw)
    var arrowMode = false

    def sendError(e: Exception): Unit =
      out.println(s"##error ${Option(e.getMessage).getOrElse(e.toString).replaceAll("\\R", " ")}")

    def chunk(b: Array[Byte]): Unit =
      if (b.nonEmpty) { bin.writeInt(b.length); bin.write(b) }

    def sendCached(c: CachedResult): Unit = {
      out.println(s"##schema ${c.schemaJson}")
      out.flush()
      c.frames.foreach(chunk)
      bin.writeInt(0)
      bin.flush()
    }

    def sendArrow(df0: DataFrame, key: Option[(String, (Long, Long))]): Unit = {
      // encode under the engine's serve session: it carries the tuned
      // arrow.maxRecordsPerBatch without mutating the caller's session
      val spark = engine.serveSession
      val df = GraftBridge.rebind(spark, df0)
      val schema = df.schema
      // forcing the schema surfaces analysis errors as a clean ##error
      // line before any reply byte; runtime failures take the
      // mid-stream path below
      out.println(s"##schema ${schema.json}")
      out.flush()
      // Small results tee their framed bytes into a cache entry while
      // streaming (the retained arrays are the SAME objects written —
      // no copy). Large results are NOT retained inline: holding a
      // multi-GB raw stream on the heap while also pumping it caused
      // bimodal 10× GC stalls on the cold GET (r12, measured 3→30 s);
      // instead the background [[recompress]] pass re-executes the
      // (deterministic) plan and builds the compressed entry off the
      // serving path — the first GET runs at pure ##nocache speed and
      // the entry appears moments later.
      val cacheable = key.isDefined && cacheMaxBytes > 0
      val inlineLimit =
        if (cacheCodec != wireCodec) math.min(recompressMinBytes, cacheMaxBytes)
        else cacheMaxBytes
      var keep = cacheable
      var kept = Vector.newBuilder[Array[Byte]]
      var keptBytes = 0L
      def teed(b: Array[Byte]): Unit = {
        chunk(b)
        if (keep) {
          keptBytes += b.length
          if (keptBytes > inlineLimit) { keep = false; kept = null }
          else kept += b
        }
      }
      try {
        teed(GraftBridge.arrowStreamHeader(spark, schema))
        // one parallel encode job; batches stream through in partition
        // order as tasks finish — ALWAYS at wire-codec speed (r12: the
        // first GET of a table version used to pay executor-side zstd
        // inline, making COLD ~2.3× the raw encode; now the reply
        // ships raw and the cache entry is recompressed by a
        // background pass, so first-GET latency equals the ##nocache
        // fresh path). See [[recompress]].
        if (wireCodec != "none")
          GraftBridge.arrowBatchesPipelinedCompressed(df, wireCodec)(teed)
        else
          GraftBridge.arrowBatchesPipelined(df)(teed)
        teed(GraftBridge.arrowStreamFooter(spark, schema))
        bin.writeInt(0)
        bin.flush()
        if (keep)
          // sub-threshold entries install the raw frames they shipped;
          // re-executing the query for a few KB of cache memory would
          // cost more than it saves
          cachePut(key.get, CachedResult(schema.json, kept.result(), keptBytes))
        else if (cacheable && cacheCodec != wireCodec)
          // over-threshold: build the compressed entry off the serving
          // path (the pass checks the cache bound on its own bytes)
          recompress(key.get, df, schema.json)
      } catch {
        case e: Exception =>
          // mid-stream failure: close the chunk sequence so the client
          // regains line framing, then report — connection survives;
          // never cache a partial stream
          bin.writeInt(0); bin.flush()
          sendError(e)
      }
    }

    try {
      if (auth.forall(a => handshake(a, in, out))) {
        var line = in.readLine()
        while (line != null && running) {
          if (line.trim.nonEmpty) {
            line.trim match {
              case FormatRe(mode) =>
                arrowMode = mode.equalsIgnoreCase("arrow")
                out.println(s"##ok $mode")
              case "##flushcache" =>
                // escape hatch for OUT-OF-BAND mutations: the stamp
                // only sees mutations routed through the engine
                // API/gate, so a host app writing directly on
                // engine.spark must flush before clients GET again
                flushCache()
                out.println("##ok flushed")
              case stmt =>
                try {
                  // `##nocache <sql>` is an UNCONDITIONAL bypass: fresh
                  // execute, no cache read, no install — the per-request
                  // freshness escape hatch (ADVICE r11: a client must
                  // always be able to force fresh bytes, since the
                  // mutation stamp can't see out-of-band spark
                  // mutations). The chunk-cache perf win lives entirely
                  // on the default path below.
                  val bypass = stmt.toLowerCase.startsWith("##nocache ")
                  val body = if (bypass) stmt.drop("##nocache ".length).trim else stmt
                  if (arrowMode && !bypass && cacheable(body)) {
                    val key = (tableScanKey(body).getOrElse(body), engine.mutationStamp)
                    cacheGet(key) match {
                      case Some(c) => sendCached(c)
                      case None    =>
                        val df = runLine(body)
                        // non-deterministic / current-time results are
                        // streamed but never installed
                        sendArrow(df, if (cacheSafe(df)) Some(key) else None)
                    }
                  } else {
                    val df = runLine(body)
                    if (arrowMode) sendArrow(df, None)
                    else {
                      // one parallel encode job, partition-ordered
                      // emit — the Arrow path's pump, not a job per
                      // partition. Text and raw bytes share one
                      // buffered stream; flush the writer first so
                      // socket order is exactly write order.
                      out.flush()
                      GraftBridge.jsonLinesPipelined(df)(raw.write)
                      raw.flush()
                    }
                  }
                } catch { case e: Exception => sendError(e) }
            }
            out.println("##end")
            out.flush()
          }
          line = in.readLine()
        }
      }
    } catch {
      case _: SocketException => () // client went away or gate closed
    } finally {
      clients.remove(sock)
      sock.close()
    }
  }

  override def close(): Unit = {
    running = false
    server.close()
    // unblock every serve thread parked in readLine — interrupt alone
    // cannot (socket I/O ignores it)
    clients.forEach(s => try s.close() catch { case _: Exception => () })
    recompressPool.shutdownNow()
    pool.shutdownNow()
    // second sweep: a connection accepted concurrently with the first
    // sweep may have been added after it ran (the accept loop also
    // self-closes on the same race — belt and braces)
    clients.forEach(s => try s.close() catch { case _: Exception => () })
    ()
  }
}

/** Client half of the gate protocol — the analog of the reference's
  * `FlightClient` wrapper (`demo.py:95-125`). One socket, blocking,
  * text and Arrow modes. Line reads go through the SAME buffered
  * stream as binary reads (a separate `BufferedReader` would read
  * ahead and swallow binary bytes).
  */
final class GateClient(host: String, port: Int) extends AutoCloseable {
  private val sock = new Socket()
  sock.setTcpNoDelay(true)
  // widen the receive window BEFORE connect (window scaling is
  // negotiated at SYN time): the Arrow GET path is bulk server→client
  sock.setReceiveBufferSize(4 << 20)
  sock.connect(new java.net.InetSocketAddress(host, port))
  private val in = new DataInputStream(
    new BufferedInputStream(sock.getInputStream, 1 << 20))
  private val out = new PrintWriter(new OutputStreamWriter(
    new BufferedOutputStream(sock.getOutputStream, 1 << 16),
    StandardCharsets.UTF_8), false)

  private var scratch = new Array[Byte](1 << 20)

  def send(line: String): Unit = { out.println(line); out.flush() }

  /** One protocol line (UTF-8, LF-terminated); null on EOF. */
  def readLine(): String = {
    val buf = new ByteArrayOutputStream(128)
    var b = in.read()
    if (b < 0) return null
    while (b >= 0 && b != '\n') { buf.write(b); b = in.read() }
    val s = new String(buf.toByteArray, StandardCharsets.UTF_8)
    if (s.endsWith("\r")) s.dropRight(1) else s
  }

  private def linesUntilEnd(): Seq[String] =
    Iterator.continually(readLine())
      .takeWhile(l => l != null && l != "##end").toSeq

  /** Text-mode statement: reply lines (JSON rows or `##error …`). */
  def sql(stmt: String): Seq[String] = { send(stmt); linesUntilEnd() }

  /** Text-mode statement, rows COUNTED not retained — the text twin of
    * [[sqlArrowRowCount]]: chunk-reads the socket and scans for line
    * breaks, decoding only protocol lines (`##…`), so a multi-million-
    * row JSON reply costs no per-row String allocation on the client.
    * Throws on a server `##error`.
    */
  def sqlLineCount(stmt: String): Long = {
    send(stmt)
    val chunk = new Array[Byte](1 << 16)
    val meta = new java.lang.StringBuilder(64)
    var rows = 0L
    var atLineStart = true
    var metaLine = false
    var err: String = null
    var done = false
    while (!done) {
      val n = in.read(chunk)
      if (n < 0) throw new java.io.EOFException("gate closed mid-reply")
      var i = 0
      while (i < n && !done) {
        val b = chunk(i)
        if (atLineStart) {
          metaLine = b == '#'
          if (metaLine) meta.setLength(0)
          atLineStart = false
        }
        if (b == '\n') {
          if (metaLine) {
            val line = meta.toString
            if (line.startsWith("##end")) done = true
            else if (line.startsWith("##error")) err = line
          } else rows += 1
          atLineStart = true
        } else if (metaLine && b != '\r') meta.append(b.toChar)
        i += 1
      }
      // the server sends nothing after ##end until our next request,
      // so a chunk never carries bytes past the reply boundary
    }
    if (err != null) throw new RuntimeException(s"gate error: $err")
    rows
  }

  /** `##auth`/`##token` handshake; returns the reply lines. */
  def handshake(line: String): Seq[String] = sql(line)

  /** Switch the connection's result format (`arrow` | `text`). */
  def format(mode: String): Unit = { send(s"##format $mode"); linesUntilEnd(); () }

  /** Read the length-prefixed chunk sequence of one Arrow reply into
    * `sink`; stops after the zero-length terminator.
    */
  private def readChunks(sink: Array[Byte] => Unit): Unit = {
    var len = in.readInt()
    while (len > 0) {
      val b = new Array[Byte](len)
      in.readFully(b)
      sink(b)
      len = in.readInt()
    }
  }

  /** Arrow-mode statement: (schema json, complete Arrow IPC stream).
    * Throws on a server-side error (before or mid-stream).
    */
  def sqlArrow(stmt: String): (String, Array[Byte]) = {
    send(stmt)
    val first = readLine()
    if (first == null || !first.startsWith("##schema "))
      { linesUntilEnd(); throw new RuntimeException(s"gate error: $first") }
    val ipc = new ByteArrayOutputStream(1 << 16)
    readChunks(b => ipc.write(b, 0, b.length))
    val tail = linesUntilEnd()
    tail.find(_.startsWith("##error"))
      .foreach(e => throw new RuntimeException(s"gate error mid-stream: $e"))
    (first.stripPrefix("##schema "), ipc.toByteArray)
  }

  /** Row count of one IPC message frame, parsed from its flatbuffer
    * metadata alone — `frame` is a complete encapsulated message
    * (continuation marker, little-endian metadata length, metadata,
    * body). The body is never decoded: this is the JVM twin of
    * pyarrow's zero-copy receive, where buffers stay opaque until a
    * consumer asks for values.
    */
  private def frameRows(frame: Array[Byte], len: Int = -1): Long = {
    val bb = java.nio.ByteBuffer
      .wrap(frame, 0, if (len < 0) frame.length else len)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val first = bb.getInt()
    val metaLen = if (first == -1) bb.getInt() else first
    if (metaLen <= 0) return 0L
    val msg = org.apache.arrow.flatbuf.Message.getRootAsMessage(bb.slice().limit(metaLen)
      .asInstanceOf[java.nio.ByteBuffer].order(java.nio.ByteOrder.LITTLE_ENDIAN))
    if (msg.headerType() == org.apache.arrow.flatbuf.MessageHeader.RecordBatch)
      msg.header(new org.apache.arrow.flatbuf.RecordBatch())
        .asInstanceOf[org.apache.arrow.flatbuf.RecordBatch].length()
    else 0L
  }

  /** Arrow-mode statement, batches kept OPAQUE: each returned frame is
    * one complete IPC message (schema header, record batches,
    * end-of-stream) exactly as received; row counts come from the
    * flatbuffer metadata, the bodies are never decoded. Concatenating
    * the frames yields the same spec-valid IPC stream `sqlArrow`
    * returns — decode lazily with `GraftBridge.fromArrowIPC` only when
    * rows are actually consumed.
    */
  def sqlArrowOpaque(stmt: String): (String, Vector[Array[Byte]], Long) = {
    send(stmt)
    val first = readLine()
    if (first == null || !first.startsWith("##schema "))
      { linesUntilEnd(); throw new RuntimeException(s"gate error: $first") }
    val frames = Vector.newBuilder[Array[Byte]]
    var rows = 0L
    readChunks { b => frames += b; rows += frameRows(b) }
    val tail = linesUntilEnd()
    tail.find(_.startsWith("##error"))
      .foreach(e => throw new RuntimeException(s"gate error mid-stream: $e"))
    (first.stripPrefix("##schema "), frames.result(), rows)
  }

  /** Arrow-mode statement, streaming metadata decode: reads every
    * frame off the wire, counts rows from each record batch's
    * flatbuffer metadata, and DISCARDS bodies after receipt (a real
    * client hands them to its consumer incrementally) — the client
    * side of a bulk GET (`demo.py:112-114` `read_all()` equivalent;
    * pyarrow likewise never copies received buffers into row values).
    */
  def sqlArrowRowCount(stmt: String): Long = {
    send(stmt)
    val first = readLine()
    if (first == null || !first.startsWith("##schema "))
      { linesUntilEnd(); throw new RuntimeException(s"gate error: $first") }
    var rows = 0L
    // one reusable scratch buffer: the hot GET path must not allocate
    // the whole result as garbage (1.7 GB of dead arrays at 24M rows)
    var len = in.readInt()
    while (len > 0) {
      if (scratch.length < len) scratch = new Array[Byte](len)
      in.readFully(scratch, 0, len)
      rows += frameRows(scratch, len)
      len = in.readInt()
    }
    val tail = linesUntilEnd()
    tail.find(_.startsWith("##error"))
      .foreach(e => throw new RuntimeException(s"gate error mid-stream: $e"))
    rows
  }

  override def close(): Unit = sock.close()
}
