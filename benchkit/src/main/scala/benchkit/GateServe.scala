package benchkit

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import graft.engine.{Engine, GateClient, TcpGate}

/** Closed-loop serving mix over the TCP gate: three Arrow-mode
  * `GateClient` connections, each sending its next request only after
  * the previous reply has arrived and been checked.
  */
object GateServe {
  val flightRows = 250000L
  /** 50k rows ≈ 3.5 MB of Arrow: below the gate's 8 MiB inline-install
    * threshold, so hot GETs are served from the result cache.
    */
  val hotRows = 50000L
  val clients = 3
  val initialBookings = 20
  val warmupNs = 6000000000L

  final case class Env(engine: Engine, gate: TcpGate, conns: IndexedSeq[GateClient],
      cached: Seq[DataFrame])

  /** Everything the checks know, derived from the seed alone. */
  final case class Model(seed: Long) {
    private val rng = new java.util.Random(seed)
    val flights: Flights = Flights.draw(rng)
    val hot: Flights = Flights.draw(rng)
    val airports: Seq[(String, String, Int)] = Flights.airports(rng)
    val bookings: IndexedSeq[Seq[(Long, Long, Int)]] = (0 until clients).map { _ =>
      (1 to initialBookings).map(b =>
        (b.toLong, 1 + rng.nextInt(flightRows.toInt).toLong, 1 + rng.nextInt(4)))
    }
    private val city = airports.map(a => a._1 -> a._2).toMap

    /** Expected reply rows of a read request. */
    def expected(r: Req): Seq[Seq[Any]] = r match {
      case HotGet("airports") => airports.map(a => Seq(a._1, a._2, a._3))
      case Point(id)          => Seq(flights.row(id))
      case RangeAgg(lo, hi)   =>
        Seq(Seq(hi - lo + 1, (lo to hi).iterator.map(flights.passengers(_).toLong).sum))
      case JoinAgg(lo, hi)    =>
        (lo to hi).groupBy(id => city(flights.origin(id))).toSeq.map { case (c, ids) =>
          Seq(c, ids.size.toLong, ids.iterator.map(flights.passengers(_).toLong).sum) }
      case Exchange           => airports.map(a => Seq(a._1, a._2, a._3 * 3))
      case _                  => Seq(Seq("OK"))
    }
  }

  def build(spark: SparkSession, m: Model): Env = {
    val e = new Engine(spark.newSession())
    val fl = m.flights.frame(e.spark, 1, flightRows, Main.cpus).cache()
    val hot = m.hot.frame(e.spark, 1, hotRows, Main.cpus).cache()
    fl.count(); hot.count()
    e.put("flights", fl)
    e.put("flights_hot", hot)
    e.put("airports", e.spark.createDataFrame(m.airports).toDF("code", "city", "weight"))
    m.bookings.zipWithIndex.foreach { case (rows, k) =>
      e.put(s"bookings_c$k", e.spark.createDataFrame(rows).toDF("booking_id", "flight_id", "seats"))
    }
    val gate = new TcpGate(e)
    val conns = (0 until clients).map { _ =>
      val c = new GateClient("127.0.0.1", gate.boundPort); c.format("arrow"); c
    }
    conns(0).sqlArrowOpaque(Deck.exchangerSql)
    Env(e, gate, conns, Seq(fl, hot))
  }

  def teardown(env: Env): Unit = {
    env.conns.foreach(_.close())
    env.gate.close()
    env.cached.foreach(_.unpersist())
  }

  /** Checks one reply; hot-table replies already seen byte-for-byte are
    * not decoded again.
    */
  final class Checker(m: Model) {
    private val good = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def apply(r: Req, frames: Seq[Array[Byte]]): Option[String] = r match {
      case HotGet("flights_hot") =>
        val d = Check.digest(frames)
        if (good.contains(d)) None
        else {
          val err = Check.flightsTable(frames, m.hot, 1, hotRows)
          if (err.isEmpty) good.add(d)
          err
        }
      case _ => Check.sameRows(m.expected(r), Check.rows(frames))
    }
  }

  def run(spark: SparkSession, args: Main.Args, o: Outcome): Unit = {
    val m = Model(args.seed)
    // the first set-up is cold and the next few are still warming up,
    // so the median needs several set-ups past them
    val env = Main.setups(7, o)(build(spark, m))(teardown)
    val check = new Checker(m)
    val cache = new HitModel(env.engine)
    // seats per booking id, per client: the read-your-writes model
    val state = m.bookings.map(rows => collection.mutable.Map(rows.map(r => r._1 -> r._3): _*))
    val windowNs = (args.seconds * 1e9).toLong
    // the mix runs untimed for a warm-up before the window opens; the
    // window counts the operations that complete inside it
    val start = System.nanoTime() + warmupNs
    val deadline = start + windowNs
    // traced runs alternate untraced and traced quarters of the window
    def tracedAt(t: Long): Boolean = args.trace && t >= start && ((t - start) * 4 / windowNs) % 2 == 1
    o.windowS = if (args.trace) args.seconds / 2 else args.seconds
    o.tracedWindowS = args.seconds / 2
    val threads = (0 until clients).map { k =>
      new Thread(() => {
        val deck = new Deck(args.seed, k, flightRows, initialBookings)
        val conn = env.conns(k)
        var now = System.nanoTime()
        while (now < deadline) {
          val r = deck.next()
          val traced = tracedAt(now)
          if (args.trace) Trace.on = traced
          val stamp = cache.before(r)
          val t0 = System.nanoTime()
          val reply = try Right(Trace.span(s"op.${r.cls}")(conn.sqlArrowOpaque(r.sql)._2))
            catch { case e: Exception => Left(e.toString) }
          val t1 = System.nanoTime()
          val inWindow = t1 >= start && t1 < deadline
          val mode = cache.after(r, stamp, reply.isRight)
          val ms = (t1 - t0) / 1e6
          val err = reply.fold(Some(_), f => Trace.span("check")(check(r, f)))
          if (err.isEmpty && inWindow) {
            o.sample(r.kind, ms, traced)
            mode.foreach(md => cache.sample(s"${r.kind}.$md", ms, traced))
          }
          o.check(s"c$k ${r.sql}", err)
          r match {
            case Insert(_, b, _, s) if err.isEmpty => state(k)(b) = s
            case Update(_, b) if err.isEmpty => state(k).get(b).foreach(s => state(k)(b) = s + 1)
            case _ => ()
          }
          now = System.nanoTime()
        }
      }, s"client-$k")
    }
    val before = if (args.trace) Counters.snap() else null
    threads.foreach(_.start()); threads.foreach(_.join())
    Trace.on = false
    val windowCounters = if (args.trace) Counters.snap() - before else null
    // read-your-writes: each client's bookings as its own writes left them
    env.conns.zipWithIndex.foreach { case (c, k) =>
      val exp = Seq(Seq(state(k).size.toLong, state(k).values.map(_.toLong).sum))
      val err = try Check.sameRows(exp, Check.rows(c.sqlArrowOpaque(
        s"SELECT count(*) AS n, sum(seats) AS s FROM bookings_c$k")._2))
        catch { case e: Exception => Some(e.toString) }
      o.check(s"read-your-writes bookings_c$k", err)
    }
    // the stock exchanger over the wire: every row kept, processed = true
    val exch = try Check.flightsTable(env.conns(0).sqlArrowOpaque(
        "EXCHANGE my_streaming_exchanger FROM flights_hot")._2, m.hot, 1, hotRows,
        rest => if (rest == Seq(true)) None else Some(s"processed column $rest"))
      catch { case e: Exception => Some(e.toString) }
    o.check("stock exchanger", exch)
    o.detail ++= Seq("flight_rows" -> flightRows, "hot_rows" -> hotRows, "clients" -> clients,
      "classes" -> E2e.classes(byClass(o.samples)),
      "hot_get_modes" -> E2e.classes(cache.samples),
      "cache_codec" -> env.gate.codecName,
      "inserts_per_client" -> state.map(_.size - initialBookings))
    if (args.trace) traced(m, env, o, windowCounters, check)
    teardown(env)
  }

  /** Per-layer pass: one connection, requests strictly one after
    * another, so every Spark job between send and reply belongs to
    * that request.
    */
  private def traced(m: Model, env: Env, o: Outcome,
      window: Counters.Snap, check: Checker): Unit = {
    val L = o.layer
    val tracedOps = o.tracedSamples.values.map(_.size).sum
    L ++= Counters.perOp(window, tracedOps)
    Trace.on = true
    val probe = new WireProbe(env.gate.boundPort)
    val rows = collection.mutable.ArrayBuffer.empty[(String, Double, Double, Long, Long)]
    val roots0 = Trace.all.size
    try new Deck(m.seed + 104729, 0, flightRows, 10000).take(120).foreach { r =>
      val before = Counters.snap()
      // one request as its blocking steps: gate.front and gate.stream
      // (in the probe), then the client's own decode and check; probe
      // writes start above the deck's ids, so only reads are checked
      val (front, stream, frames, err) = Trace.span(s"probe.${r.cls}") {
        val (f, st, fr) = probe.run(r.sql)
        (f, st, fr, if (r.cls == "write") None else Trace.span("check")(check(r, fr)))
      }
      val jobs = (Counters.snap() - before)("jobs")
      if (r.cls != "write") o.check(s"probe ${r.sql}", err)
      rows += ((r.cls, front / 1e6, stream / 1e6, jobs, frames.map(_.length.toLong).sum))
    } finally probe.close()
    val probeSpans = Trace.all.drop(roots0)
    val probeRoots = probeSpans.filter(_.name.startsWith("probe."))
    L("trace.accounted_ratio") = Trace.coveredMs(probeSpans, probeRoots) / probeRoots.map(_.ms).sum
    def of(cls: String) = rows.filter(_._1 == cls)
    Seq("hot_get", "query", "write").foreach { c =>
      L(s"gate.front_ms.$c") = Stats.median(of(c).map(_._2).toSeq)
    }
    Seq("hot_get", "query").foreach { c =>
      L(s"gate.stream_ms.$c") = Stats.median(of(c).map(_._3).toSeq)
      L(s"gate.cache_hit_ratio.$c") = of(c).count(_._4 == 0).toDouble / of(c).size
    }
    Seq("query", "write").foreach { c =>
      L(s"gate.jobs_per_request.$c") = of(c).map(_._4).sum.toDouble / of(c).size
    }
    L("gate.reply_bytes.hot_get") = Stats.median(of("hot_get").map(_._5.toDouble).toSeq)
    val (entries, bytes) = env.gate.cacheStats
    L("gate.cache_entries") = entries
    L("gate.cache_bytes") = bytes
    L("gate.recompress_wait_ms") = timeMs(env.gate.awaitRecompress())
    val hot = env.engine.get("flights_hot")
    val enc = (1 to 5).map(_ => timeMs(Trace.span("bridge.encode")(
      GraftBridge.arrowBatchesPipelined(hot)(_ => ()))))
    var encBytes = 0L
    GraftBridge.arrowBatchesPipelined(hot)(b => encBytes += b.length)
    L("bridge.encode_ms") = Stats.median(enc)
    L("bridge.encode_bytes") = encBytes
    L("catalog.get_ms") = Stats.median((1 to 20).map(_ => timeMs(Trace.span("catalog.get")(
      env.engine.get("flights")))))
    putRound(m, env, o)
    // TRANSFER: the cached flights table into a fresh engine, re-counted
    L("catalog.transfer_ms") = Stats.median((1 to 3).map { _ =>
      val dest = new Engine(env.engine.spark.newSession())
      var n = 0L
      val ms = timeMs {
        n = Trace.span("catalog.transfer")(env.engine.transferTable(dest, "flights", verify = true))
      }
      o.check("transfer", if (n == flightRows) None else Some(s"transferred $n rows"))
      dest.catalog.drop("flights")
      ms
    })
    // the socket's share of a fresh hot-table GET: wire time minus the
    // encode of the same table without a socket
    val wire = new WireProbe(env.gate.boundPort)
    val fresh = try (1 to 5).map { _ =>
      val (f, st, frames) = wire.run("##nocache SELECT * FROM flights_hot")
      o.check("fresh hot GET", check(HotGet("flights_hot"), frames))
      (f + st) / 1e6
    } finally wire.close()
    L("gate.socket_ms") = Stats.median(fresh) - L("bridge.encode_ms")
    // Catalyst phases of the query shapes the gate serves, run through
    // the same Engine.query routing the gate uses
    val cat0 = Counters.snap()
    val qs = new Deck(m.seed + 15485863, 0, flightRows, initialBookings)
      .filter(r => r.cls == "query" && r != Exchange).take(12).toSeq
    qs.foreach { r =>
      val qe = env.engine.query(r.sql).queryExecution
      qe.executedPlan
      Counters.phases(qe)
    }
    val cat = Counters.snap() - cat0
    Seq("analysis", "optimization", "planning").foreach { p =>
      L(s"catalyst.${p}_ms") = cat(s"${p}_ms").toDouble / qs.size
    }
    Trace.on = false
    val ts = o.tracedSamples
    def p(c: String, q: Double) = Stats.quantile(byClass(ts).getOrElse(c, Vector.empty), q)
    L ++= Seq("serve.ops_per_s" -> E2e.of(ts, o.tracedWindowS)("ops_per_s"),
      "serve.hot_get_ms_p50" -> p("hot_get", 0.5), "serve.query_ms_p50" -> p("query", 0.5),
      "serve.query_ms_p90" -> p("query", 0.9), "serve.write_ms_p50" -> p("write", 0.5))
  }

  /** PUT the way the reference's bulk clients do: the first 12,288
    * `flights_hot` rows as 96 Arrow IPC chunks through
    * `GraftBridge.fromArrowIPC` → `Engine.put` into a fresh engine (63
    * appends, one 64-part compaction, 32 more appends), then
    * materialize. Per round: decode and append time. Each append
    * re-analyzes every earlier part with its in-plan rows, so the
    * chunks are kept small: 128 rows per chunk already takes seconds.
    */
  private def putRound(m: Model, env: Env, o: Outcome): Unit = {
    val chunks = 96
    val rows = chunks * 128L
    val cs = env.engine.spark.newSession()
    cs.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1000000")
    val sliced = m.hot.frame(cs, 1, rows, chunks)
    val header = GraftBridge.arrowStreamHeader(cs, sliced.schema)
    val footer = GraftBridge.arrowStreamFooter(cs, sliced.schema)
    val ipc = Vector.newBuilder[Array[Byte]]
    GraftBridge.arrowBatchesPipelined(sliced)(b => ipc += header ++ b ++ footer)
    val e = new Engine(env.engine.spark.newSession())
    var decode = 0.0
    var append = 0.0
    val total = timeMs {
      ipc.result().foreach { c =>
        var df: org.apache.spark.sql.DataFrame = null
        decode += timeMs { df = Trace.span("bridge.decode")(GraftBridge.fromArrowIPC(e.spark, c)) }
        append += timeMs(Trace.span("catalog.put")(e.put("flights_hot", df)))
      }
      e.get("flights_hot").write.format("noop").mode("overwrite").save()
    }
    val r = e.query("SELECT count(*), sum(flight_id), sum(passengers) FROM flights_hot").collect()(0)
    val got = Flights.Totals(r.getLong(0), r.getLong(1), r.getLong(2))
    val want = Flights.totals(m.hot, rows)
    o.check("put round", if (got == want) None else Some(s"put totals $got, expected $want"))
    e.catalog.drop("flights_hot")
    o.layer ++= Seq("bridge.decode_ms" -> decode, "catalog.put_ms" -> append)
    o.detail("put_round_ms") = total
  }

  /** Whether a hot GET was a result-cache hit, judged from
    * [[Engine.mutationStamp]] read around the request: the gate keys
    * its cache by that stamp and installs a small reply before it ends
    * it, so a GET hits when the stamp did not move during it and an
    * earlier GET of the same table completed at that stamp. A GET
    * during which a write landed is `raced`. The stamp is read in the
    * client and starts no Spark job.
    */
  final class HitModel(engine: Engine) {
    private val served = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    /** Latency samples per `<kind>.<hit|miss|raced>`. */
    val samples = collection.mutable.LinkedHashMap.empty[String, Vector[Double]]

    def before(r: Req): (Long, Long) = engine.mutationStamp

    def after(r: Req, s0: (Long, Long), ok: Boolean): Option[String] = r match {
      case HotGet(t) =>
        val s1 = engine.mutationStamp
        if (s0 != s1) Some("raced")
        else {
          val hit = served.get(t) == s0
          if (ok) served.merge(t, s0, (a, b) => if (Ordering[(Long, Long)].gt(b, a)) b else a)
          Some(if (hit) "hit" else "miss")
        }
      case _ => None
    }

    /** Untraced window samples only. */
    def sample(mode: String, ms: Double, traced: Boolean): Unit =
      if (!traced) synchronized { samples(mode) = samples.getOrElse(mode, Vector.empty) :+ ms }
  }

  /** Samples pooled per operation class (hot_get, query, write). */
  def byClass(s: collection.Map[String, Vector[Double]]): Map[String, Vector[Double]] =
    s.toSeq.groupBy(_._1.takeWhile(_ != '.')).map { case (c, kv) => c -> kv.flatMap(_._2).toVector }

  def timeMs(body: => Any): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }
}
