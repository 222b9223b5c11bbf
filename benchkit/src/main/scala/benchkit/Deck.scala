package benchkit

/** One gate request of the serving mix: its operation class (hot_get,
  * query, write) and, within it, its kind — kinds are homogeneous in
  * cost, classes are not.
  */
sealed trait Req extends Product {
  def cls: String
  def sql: String
  def kind: String = cls + "." + productPrefix.toLowerCase
}
final case class HotGet(table: String) extends Req {
  val cls = "hot_get"
  override def kind = s"hot_get.$table"
  val sql = if (table == "airports") "TABLE airports" else s"SELECT * FROM $table"
}
final case class Point(id: Long) extends Req {
  val cls = "query"; val sql = s"SELECT * FROM flights WHERE flight_id = $id"
}
final case class RangeAgg(lo: Long, hi: Long) extends Req {
  val cls = "query"
  val sql = s"SELECT count(*) AS n, sum(passengers) AS s FROM flights WHERE flight_id BETWEEN $lo AND $hi"
}
final case class JoinAgg(lo: Long, hi: Long) extends Req {
  val cls = "query"
  val sql = "SELECT a.city AS city, count(*) AS n, sum(f.passengers) AS s FROM flights f " +
    s"JOIN airports a ON f.origin = a.code WHERE f.flight_id BETWEEN $lo AND $hi GROUP BY a.city"
}
case object Exchange extends Req {
  val cls = "query"; val sql = s"EXCHANGE ${Deck.exchanger} FROM airports"
}
final case class Insert(table: String, bid: Long, flight: Long, seats: Int) extends Req {
  val cls = "write"; val sql = s"INSERT INTO $table VALUES ($bid, $flight, $seats)"
}
final case class Update(table: String, bid: Long) extends Req {
  val cls = "write"; val sql = s"UPDATE $table SET seats = seats + 1 WHERE booking_id = $bid"
}

/** Seeded request deck of one client: every block of 40 requests holds
  * exactly the counts of [[Deck.kinds]] — 14 hot GETs (7 per hot
  * table), 18 queries (5 point, 5 range, 4 join, 4 exchange) and 8
  * writes (4 inserts, 4 updates) — in shuffled order, so the mix never
  * drifts with the seed. Query literals are drawn uniformly from the
  * whole id domain, so the gate's result cache almost never serves
  * them; writes go to the client's own bookings table.
  */
final class Deck(seed: Long, client: Int, flightRows: Long, initialBookings: Int)
    extends Iterator[Req] {
  private val rng = new java.util.Random(seed * 1000003L + client)
  private val table = s"bookings_c$client"
  private var nextBid = initialBookings + 1L
  private var block = List.empty[Req]

  def hasNext = true

  def next(): Req = {
    if (block.isEmpty) {
      val slots = Deck.kinds.flatMap(k => Seq.fill(k.perBlock)(k))
      block = new scala.util.Random(rng).shuffle(slots).map(_.draw(this)).toList
    }
    val r = block.head
    block = block.tail
    r
  }

  private[benchkit] def id(): Long = 1 + (rng.nextDouble() * flightRows).toLong.min(flightRows - 1)

  /** An id range of 100 to 20,099 rows. */
  private[benchkit] def range[R](f: (Long, Long) => R): R = {
    val lo = id(); f(lo, math.min(flightRows, lo + 100 + rng.nextInt(20000)))
  }

  private[benchkit] def update(): Req = Update(table, 1 + rng.nextInt((nextBid - 1).toInt).toLong)

  private[benchkit] def insert(): Req = {
    val b = nextBid; nextBid += 1; Insert(table, b, id(), 1 + rng.nextInt(4))
  }
}

object Deck {
  val exchanger = "hub_weights"
  val exchangerSql = s"REGISTER $exchanger AS SELECT code, city, weight * 3 AS w3 FROM __input__"

  /** One request kind of the mix: its name (as [[Req.kind]] reports
    * it), how many of every block of 40 it fills, and how a client's
    * deck draws one.
    */
  final case class Kind(name: String, perBlock: Int, draw: Deck => Req)

  val kinds: Seq[Kind] = Seq(
    Kind("hot_get.flights_hot", 7, _ => HotGet("flights_hot")),
    Kind("hot_get.airports", 7, _ => HotGet("airports")),
    Kind("query.point", 5, d => Point(d.id())),
    Kind("query.rangeagg", 5, _.range(RangeAgg)),
    Kind("query.joinagg", 4, _.range(JoinAgg)),
    Kind("query.exchange", 4, _ => Exchange),
    Kind("write.update", 4, _.update()),
    Kind("write.insert", 4, _.insert()))
}

/** Raw client of the gate's Arrow wire, used only by the traced pass:
  * unlike `GateClient` it reports when the `##schema` line arrived,
  * which splits a request into front end (classify, route, plan) and
  * result stream (encode, socket).
  */
final class WireProbe(port: Int) extends AutoCloseable {
  private val sock = new java.net.Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new java.io.DataInputStream(new java.io.BufferedInputStream(sock.getInputStream, 1 << 20))
  private val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"), false)

  private def line(): String = {
    val b = new java.io.ByteArrayOutputStream()
    var c = in.read()
    while (c >= 0 && c != '\n') { b.write(c); c = in.read() }
    if (c < 0 && b.size == 0) null else b.toString("UTF-8")
  }

  send("##format arrow"); while (Option(line()).exists(_ != "##end")) ()

  private def send(s: String): Unit = { out.println(s); out.flush() }

  /** (front ns, stream ns, frames) of one statement; throws on error.
    * The two steps are also the spans `gate.front` and `gate.stream`.
    */
  def run(stmt: String): (Long, Long, Vector[Array[Byte]]) = {
    val t0 = System.nanoTime()
    val first = Trace.span("gate.front") { send(stmt); line() }
    val t1 = System.nanoTime()
    if (first == null || !first.startsWith("##schema ")) {
      while (Option(line()).exists(_ != "##end")) ()
      throw new RuntimeException(s"gate error: $first")
    }
    val (frames, err) = Trace.span("gate.stream") {
      val frames = Vector.newBuilder[Array[Byte]]
      var len = in.readInt()
      while (len > 0) { val b = new Array[Byte](len); in.readFully(b); frames += b; len = in.readInt() }
      var l = line(); var err: String = null
      while (l != null && l != "##end") { if (l.startsWith("##error")) err = l; l = line() }
      (frames.result(), err)
    }
    val t2 = System.nanoTime()
    if (err != null) throw new RuntimeException(s"gate error mid-stream: $err")
    (t1 - t0, t2 - t1, frames)
  }

  override def close(): Unit = sock.close()
}
