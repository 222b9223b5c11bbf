package benchkit

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchkitSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** A DataFrame's Arrow IPC stream as gate-style frames. */
  private def frames(df: org.apache.spark.sql.DataFrame): Vector[Array[Byte]] = {
    val b = Vector.newBuilder[Array[Byte]]
    b += GraftBridge.arrowStreamHeader(spark, df.schema)
    GraftBridge.arrowBatchesPipelined(df)(b += _)
    b += GraftBridge.arrowStreamFooter(spark, df.schema)
    b.result()
  }

  test("sameRows flags a planted wrong value and a missing row, not reordering") {
    val exp = Seq(Seq("JFK", 3L, 10L), Seq("LAX", 1L, 7L), Seq("ORD", 2L, 9L))
    assert(Check.sameRows(exp, exp.reverse).isEmpty)
    assert(Check.sameRows(exp, Seq(Seq("JFK", 3L, 10L), Seq("LAX", 1L, 8L), Seq("ORD", 2L, 9L))).isDefined)
    assert(Check.sameRows(exp, exp.take(2)).isDefined)
    assert(Check.sameRows(exp, exp.take(2) :+ exp.head).isDefined)
    // Int and Long cells of the same value are the same answer
    assert(Check.sameRows(Seq(Seq(1, "a")), Seq(Seq(1L, "a"))).isEmpty)
  }

  test("flightsTable accepts a shuffled table and catches wrong values and missing rows") {
    val gen = Flights.draw(new java.util.Random(5))
    val shuffled = frames(gen.frame(spark, 1, 3000, 3).orderBy(org.apache.spark.sql.functions.rand(1)))
    assert(Check.flightsTable(shuffled, gen, 1, 3000).isEmpty)
    assert(Check.flightsTable(shuffled, Flights.draw(new java.util.Random(6)), 1, 3000).isDefined)
    assert(Check.flightsTable(shuffled, gen, 1, 3001).exists(_.contains("row count")))
    val wrong = frames(gen.frame(spark, 1, 3000, 3)
      .withColumn("passengers", org.apache.spark.sql.functions.expr(
        "CASE WHEN flight_id = 1234 THEN passengers + 1 ELSE passengers END")))
    assert(Check.flightsTable(wrong, gen, 1, 3000).exists(_.contains("1234")))
  }

  test("closed-form gate expectations equal Spark aggregates over the generated data") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val m = GateServe.Model(seed)
      val n = 20000L
      val ev = new graft.engine.Engine(spark.newSession())
      ev.put("flights", m.flights.frame(ev.spark, 1, n, 2))
      ev.put("airports", ev.spark.createDataFrame(m.airports).toDF("code", "city", "weight"))
      val rng = new java.util.Random(seed)
      val reqs = Seq(Point(1 + rng.nextInt(n.toInt)), RangeAgg(100, 100 + rng.nextInt(15000)),
        JoinAgg(7, 7 + rng.nextInt(15000)), HotGet("airports"))
      reqs.foreach { r =>
        val got = ev.query(r.sql).collect().toSeq.map(_.toSeq)
        assert(Check.sameRows(m.expected(r), got).isEmpty, s"seed $seed: ${r.sql}")
      }
      val t = Flights.totals(m.flights, n)
      val row = ev.query("SELECT count(*), sum(flight_id), sum(passengers) FROM flights").collect()(0)
      assert(Flights.Totals(row.getLong(0), row.getLong(1), row.getLong(2)) == t)
    }
  }

  test("decks are deterministic per seed and keep the 35/45/20 mix in every block of 40") {
    def deck(seed: Long, k: Int) = new Deck(seed, k, 1000000L, 20).take(400).toVector
    assert(deck(9, 0) == deck(9, 0))
    assert(deck(9, 0) != deck(10, 0))
    assert(deck(9, 0) != deck(9, 1))
    deck(9, 2).grouped(40).foreach { b =>
      assert(b.groupBy(_.cls).view.mapValues(_.size).toMap ==
        Map("hot_get" -> 14, "query" -> 18, "write" -> 8))
      assert(b.count(_.kind == "query.point") == 5 && b.count(_.kind == "write.update") == 4)
    }
    // one table defines the mix: every kind draws requests of its own name
    val d = new Deck(9, 0, 1000000L, 20)
    Deck.kinds.foreach(k => assert(k.draw(d).kind == k.name))
    assert(deck(9, 0).map(_.kind).toSet == Deck.kinds.map(_.name).toSet)
  }

  test("hot GETs are judged hits only at a stamp an earlier GET completed at") {
    val e = new graft.engine.Engine(spark.newSession())
    e.put("t", e.spark.range(3).toDF("id"))
    val h = new GateServe.HitModel(e)
    def get(): Option[String] = { val s = h.before(HotGet("t")); h.after(HotGet("t"), s, ok = true) }
    assert(get().contains("miss"))
    assert(get().contains("hit"))
    e.put("u", e.spark.range(1).toDF("id")) // any mutation moves the stamp
    assert(get().contains("miss"))
    val s = h.before(HotGet("t"))
    e.put("u", e.spark.range(2).toDF("id"))
    assert(h.after(HotGet("t"), s, ok = true).contains("raced"))
    assert(h.after(Point(1), h.before(Point(1)), ok = true).isEmpty)
  }

  test("covered time is the children's union under each root, not their sum") {
    val spans = Seq(Span(1, "op", 0, 100, -1, 1, "t"), Span(2, "a", 10, 50, 1, 1, "t"),
      Span(3, "b", 40, 60, 1, 1, "t"), Span(4, "c", 45, 55, 3, 1, "t"),
      Span(5, "op", 200, 300, -1, 2, "t"))
    assert(math.abs(Trace.coveredMs(spans, spans.filter(_.name == "op")) - 50 / 1e6) < 1e-12)
  }

  test("the percentile helper picks the highest percentile with ten samples beyond it") {
    assert(Stats.supportedPercentile(19).isEmpty)
    assert(Stats.supportedPercentile(20).contains(50.0))
    assert(Stats.supportedPercentile(99).contains(75.0))
    assert(Stats.supportedPercentile(100).contains(90.0))
    assert(Stats.supportedPercentile(1000).contains(99.0))
    assert(Stats.supportedPercentile(10000).contains(99.9))
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs).map(_._1).contains(90.0))
    assert(math.abs(Stats.median(xs) - 50.5) < 1e-9)
  }

  test("busy time is the union of intervals, not the sum of overlapping ones") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Stats.unionLength(Nil) == 0L)
  }
}
