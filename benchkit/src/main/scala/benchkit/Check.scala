package benchkit

import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{FieldVector, VectorSchemaRoot}
import org.apache.arrow.vector.ipc.ArrowStreamReader

/** Reply checks. Gate replies are decoded here, in the client, with
  * Arrow Java's own stream reader — never with Spark — so a check
  * starts no job on the server being measured.
  */
object Check {

  /** Arrow's Java value of one cell, as a plain Scala value. */
  private def cell(v: FieldVector, i: Int): Any = v.getObject(i) match {
    case null                              => null
    case t: org.apache.arrow.vector.util.Text => t.toString
    case b: java.lang.Boolean              => b.booleanValue
    case n: java.lang.Integer              => n.intValue
    case n: java.lang.Long                 => n.longValue
    case n: java.lang.Double               => n.doubleValue
    case o                                 => o
  }

  /** Visit every row of an Arrow IPC stream (given as its wire frames,
    * possibly zstd/lz4 compressed) as (column names, values).
    */
  private def names(root: VectorSchemaRoot): Seq[String] =
    (0 until root.getFieldVectors.size).map(root.getVector(_).getName)

  /** Feed each decoded record batch to `f` until it returns false. */
  private def withReader(frames: Seq[Array[Byte]])(f: VectorSchemaRoot => Boolean): Unit = {
    val it = frames.iterator
    val in = new java.io.SequenceInputStream(new java.util.Enumeration[java.io.InputStream] {
      def hasMoreElements: Boolean = it.hasNext
      def nextElement(): java.io.InputStream = new java.io.ByteArrayInputStream(it.next())
    })
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(in, alloc, CommonsCompressionFactory.INSTANCE)
    try {
      val root = reader.getVectorSchemaRoot
      var go = true
      while (go && reader.loadNextBatch()) go = f(root)
    } finally { reader.close(); alloc.close() }
  }

  /** All rows of a small reply. */
  def rows(frames: Seq[Array[Byte]]): Vector[Seq[Any]] = {
    val b = Vector.newBuilder[Seq[Any]]
    withReader(frames) { root =>
      val vs = (0 until root.getFieldVectors.size).map(root.getVector)
      (0 until root.getRowCount).foreach(i => b += vs.map(cell(_, i)))
      true
    }
    b.result()
  }

  /** Normalized cell text: integral numbers compare across Int/Long. */
  private def norm(v: Any): String = v match {
    case null      => "∅"
    case n: Int    => n.toString
    case n: Long   => n.toString
    case d: Double => java.lang.Double.toString(d)
    case other     => other.toString
  }

  /** None when `actual` holds exactly the rows of `expected` as a
    * multiset (row order is free — Spark gives no order without ORDER
    * BY); otherwise a description of the first difference.
    */
  def sameRows(expected: Seq[Seq[Any]], actual: Seq[Seq[Any]]): Option[String] = {
    def key(r: Seq[Any]) = r.map(norm).mkString("\u0001")
    val e = expected.map(key).groupBy(identity).view.mapValues(_.size).toMap
    val a = actual.map(key).groupBy(identity).view.mapValues(_.size).toMap
    def show(k: String) = k.split("\u0001", -1).mkString("(", ", ", ")")
    if (expected.size != actual.size)
      Some(s"row count: expected ${expected.size}, got ${actual.size}")
    else
      e.collectFirst { case (k, c) if a.getOrElse(k, 0) != c =>
        s"expected row ${show(k)} x$c, got x${a.getOrElse(k, 0)}" }
        .orElse(a.collectFirst { case (k, _) if !e.contains(k) =>
          s"unexpected row ${show(k)}" })
  }

  /** Full-table check of a flights-shaped reply without materializing
    * it: every row must equal the generator's row for its id, and the
    * ids must be exactly lo..hi. `extra` checks the trailing columns.
    */
  def flightsTable(frames: Seq[Array[Byte]], gen: Flights, lo: Long, hi: Long,
      extra: IndexedSeq[Any] => Option[String] = _ => None): Option[String] = {
    import org.apache.arrow.vector.{BigIntVector, IntVector, VarCharVector}
    val n = hi - lo + 1
    val seen = new java.util.BitSet(n.toInt)
    var err: Option[String] = None
    var got = 0L
    def str(v: VarCharVector, i: Int) = new String(v.get(i), java.nio.charset.StandardCharsets.UTF_8)
    withReader(frames) { root =>
      if (names(root).take(6) != Flights.columns) err = Some(s"columns ${names(root).mkString(",")}")
      else {
        val id = root.getVector(0).asInstanceOf[BigIntVector]
        val num = root.getVector(1).asInstanceOf[VarCharVector]
        val org = root.getVector(2).asInstanceOf[VarCharVector]
        val dst = root.getVector(3).asInstanceOf[VarCharVector]
        val dep = root.getVector(4).asInstanceOf[VarCharVector]
        val pas = root.getVector(5).asInstanceOf[IntVector]
        val rest = (6 until root.getFieldVectors.size).map(root.getVector)
        var i = 0
        while (i < root.getRowCount && err.isEmpty) {
          val k = id.get(i)
          if (k < lo || k > hi) err = Some(s"id $k outside $lo..$hi")
          else if (seen.get((k - lo).toInt)) err = Some(s"duplicate id $k")
          else {
            seen.set((k - lo).toInt)
            if (str(num, i) != gen.flightNumber(k) || str(org, i) != gen.origin(k) ||
                str(dst, i) != gen.destination(k) || str(dep, i) != gen.departure(k) ||
                pas.get(i) != gen.passengers(k))
              err = Some(s"row $k: expected ${gen.row(k).mkString(",")}, got " +
                (0 until 6).map(c => root.getVector(c).getObject(i)).mkString(","))
            else err = extra(rest.map(cell(_, i)))
          }
          i += 1; got += 1
        }
      }
      err.isEmpty
    }
    err.orElse(if (got != n) Some(s"row count: expected $n, got $got") else None)
  }

  /** Cheap fingerprint of a reply's bytes: replies whose bytes were
    * already fully checked need not be decoded again.
    */
  def digest(frames: Seq[Array[Byte]]): Long = {
    val c = new java.util.zip.CRC32C()
    var len = 0L
    frames.foreach { f => c.update(f); len += f.length }
    c.getValue ^ (len << 32)
  }
}
