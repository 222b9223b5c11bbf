package benchkit

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded flights-shaped tables (the reference's flights schema) whose
  * every value is a closed-form function of the row id, so replies can
  * be checked by arithmetic instead of by a second engine.
  *
  * Row `id`: h = (id*a + b) mod 1000003 picks origin and destination,
  * g = (id*c + d) mod 999983 picks passengers and departure time. All
  * products stay far below 2^63 for ids up to 10^9.
  */
final case class Flights(a: Long, b: Long, c: Long, d: Long) {
  import Flights._

  def h(id: Long): Long = Math.floorMod(id * a + b, 1000003L)
  def g(id: Long): Long = Math.floorMod(id * c + d, 999983L)
  def origin(id: Long): String = codes((h(id) % 5).toInt)
  def destination(id: Long): String = codes(((h(id) / 5) % 5).toInt)
  def passengers(id: Long): Int = (50 + g(id) % 251).toInt
  def departure(id: Long): String = {
    val x = g(id)
    def two(v: Long) = if (v < 10) "0" + v else v.toString
    "2023-" + two(x % 12 + 1) + "-" + two(x % 28 + 1) + " " + two(x % 24) + ":00:00"
  }
  def flightNumber(id: Long): String = s"Flight-$id"

  /** The full row, in [[columns]] order. */
  def row(id: Long): Seq[Any] =
    Seq(id, flightNumber(id), origin(id), destination(id), departure(id), passengers(id))

  /** Rows `lo..hi` (inclusive) as a Spark DataFrame, generated on the
    * executors in `parts` contiguous id slices.
    */
  def frame(spark: SparkSession, lo: Long, hi: Long, parts: Int): DataFrame = {
    val arr = array(codes.map(lit): _*)
    val hx = pmod(col("id") * a + b, lit(1000003L))
    val gx = pmod(col("id") * c + d, lit(999983L))
    def pad(e: org.apache.spark.sql.Column) = lpad(e.cast("string"), 2, "0")
    spark.range(lo, hi + 1, 1, parts).select(
      col("id").as("flight_id"),
      concat(lit("Flight-"), col("id")).as("flight_number"),
      element_at(arr, (pmod(hx, lit(5L)) + 1).cast("int")).as("origin"),
      element_at(arr, (pmod(hx.divide(5).cast("long"), lit(5L)) + 1).cast("int")).as("destination"),
      concat(lit("2023-"), pad(pmod(gx, lit(12L)) + 1), lit("-"),
        pad(pmod(gx, lit(28L)) + 1), lit(" "), pad(pmod(gx, lit(24L))),
        lit(":00:00")).as("departure_time"),
      (lit(50L) + pmod(gx, lit(251L))).cast("int").as("passengers"))
  }
}

object Flights {
  val codes: Seq[String] = Seq("JFK", "LAX", "ORD", "DFW", "SFO")
  val cities: Seq[String] = Seq("New York", "Los Angeles", "Chicago", "Dallas", "San Francisco")
  val columns: Seq[String] =
    Seq("flight_id", "flight_number", "origin", "destination", "departure_time", "passengers")

  /** Generator parameters drawn from `rng`; `a` and `c` are odd. */
  def draw(rng: java.util.Random): Flights =
    Flights(1 + 2L * rng.nextInt(400000), rng.nextInt(1000000).toLong,
      1 + 2L * rng.nextInt(400000), rng.nextInt(1000000).toLong)

  final case class Totals(n: Long, ids: Long, passengers: Long)

  /** Closed-form (count, sum of ids, sum of passengers) of rows 1..n. */
  def totals(gen: Flights, n: Long): Totals =
    Totals(n, n * (n + 1) / 2, (1L to n).iterator.map(gen.passengers(_).toLong).sum)

  /** The `airports` dimension: (code, city, weight) with seeded weights. */
  def airports(rng: java.util.Random): Seq[(String, String, Int)] =
    codes.zip(cities).map { case (c, n) => (c, n, 1 + rng.nextInt(9)) }
}
